"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload raster_map --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), runs the
workload in one JVM (perfbench/src), makes the correctness checks, and
prints as its last line one JSON object: correct, attempted, failed and
metrics. Untraced runs report the end-to-end metrics of BENCHMARK.json,
traced runs its per-layer metrics. The full result, with the failures,
checks and host-load stamps, is kept under <build dir>/results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import build  # noqa: E402

WORKLOADS = ("raster_map", "registry_mix", "stream_sessions")
HEAP = "3g"
DEADLINE_S = 170
DATA = "/root/testdata/sf0.1"  # the read-only test tables registry_mix reads
# what spark-submit would pass to a JDK 17 driver (build.sbt carries the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spec() -> dict:
    path = build.ROOT / "BENCHMARK.json"
    if not path.exists():
        raise SystemExit(f"perfbench: {path} is missing")
    return json.loads(path.read_text())


def run_jvm(cp: str, args, tmp: Path, deadline: float) -> Path:
    out = tmp / "result.json"
    sys_tmp = tmp / "sys"
    sys_tmp.mkdir(parents=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={sys_tmp}", "-Dspark.ui.enabled=false",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(len(os.sched_getaffinity(0))),
           "--tmp", str(tmp), "--out", str(out), "--data", args.data, "--home", str(HERE),
           "--host-stamp", str(args.host_stamp)]
    log = tmp / "jvm.log"
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"perfbench: {args.workload} JVM ended with {code}")
    return out


def main() -> int:
    start = time.monotonic()
    ap = argparse.ArgumentParser(description="Runs one workload of the graft benchmark.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA,
                    help="test tables that registry_mix reads (read only)")
    ap.add_argument("--host-stamp", type=int, choices=(0, 1), default=0,
                    help="time a reference loop before and after the run")
    args = ap.parse_args()
    bench = spec()
    cp = build.build()
    deadline = time.monotonic() + DEADLINE_S

    runs = build.build_dir() / "runs"
    tmp = runs / f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    results = build.build_dir() / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    try:
        out = run_jvm(cp, args, tmp, deadline)
        result = json.loads(out.read_text())
        spans = Path(f"{out}.spans.json")
        if spans.exists():
            shutil.move(spans, results / f"{name}.spans.json")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    correct = bool(result["checks"]) and all(c["ok"] for c in result["checks"])
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    have = result["per_layer"] if args.trace else result["end_to_end"]
    metrics = {}
    for m in wanted:
        # a layer this workload never calls did no work in it
        v = have.get(m["name"], {"value": 0.0})["value"]
        if not args.trace and m["name"] not in have:
            raise SystemExit(f"perfbench: {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    result["wall_s"] = time.monotonic() - start

    (results / f"{name}.json").write_text(json.dumps(result, indent=1))

    print(f"perfbench: {args.workload} attempted={result['attempted']} failed={result['failed']}")
    for f in result["failures"]:
        print(f"perfbench: failed op={f['op']} exception={f['exception']} message={f['message']}")
    for c in result["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed {c['name']}: {c['detail']}")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
