"""Builds the program and the benchmark from source.

The program's main sources (src/main/scala) and the benchmark's own
sources (perfbench/src) are compiled together by the Scala compiler that
ships with Spark, against Spark's jars. The classes land in the build
directory under a name derived from the sources' content, so a changed
source tree is always rebuilt and an unchanged one is reused.

    python3 perfbench/build.py          # prints the class path
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def source_key(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> str:
    """Compiles if needed; returns the class path for `java -cp`."""
    files = sources()
    jars = spark_jars()
    if not any(jars.glob("spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars at {jars}")
    out = build_dir() / f"classes-{source_key(files)}"
    if not (out / ".complete").exists():
        for old in build_dir().glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        out.mkdir(parents=True, exist_ok=True)
        argfile = out / "sources.txt"
        argfile.write_text("\n".join(f'"{f}"' for f in files))
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
               "-d", str(out), "-cp", f"{jars}/*", f"@{argfile}"]
        print(f"perfbench: compiling {len(files)} sources into {out}", file=sys.stderr)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
        (out / ".complete").write_text("ok\n")
    return os.pathsep.join([str(out), str(PROGRAM_RES), f"{jars}/*"])


if __name__ == "__main__":
    print(build())
