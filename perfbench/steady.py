"""Steadiness command: runs each workload many times, each with its own
seed, and prints every metric's median and quartiles.

    python3 perfbench/steady.py --runs 10 --seed0 100 [--workloads raster_map,...]
                                [--traced 3] [--out steady.json]

Every run stamps the host load: a fixed reference loop timed before and
after the run, on one core and on all cores at once. For each end-to-end
metric the spread is the distance between the first and third quartiles
(statistics.quantiles, n=4) as a share of the median; the bounds in
BENCHMARK.json are set from these spreads. With --traced N it also makes
N traced runs per workload and reports how far tracing moves each
end-to-end median (the tracing overhead).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory

import build  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--host-stamp", "1"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        raise SystemExit(f"steady: {workload} seed {seed} failed ({p.returncode})")
    line = json.loads(last)
    full = json.loads((build.build_dir() / "results" / f"{workload}-s{seed}-t{trace}.json").read_text())
    return {"seed": seed, "line": line, "full": full}


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=str(build.build_dir() / "steady.json"))
    args = ap.parse_args()
    seconds = spec["run_seconds"]
    report = {"run_seconds": seconds, "workloads": {}}
    for w in args.workloads.split(","):
        runs = [one_run(w, args.seed0 + i, seconds, 0) for i in range(args.runs)]
        rep = {"runs": [{"seed": r["seed"], "correct": r["line"]["correct"],
                         "attempted": r["line"]["attempted"], "failed": r["line"]["failed"],
                         "wall_s": r["full"]["wall_s"], "host_stamp": r["full"]["host_stamp"],
                         "metrics": {k: v["value"] for k, v in r["line"]["metrics"].items()}}
                        for r in runs]}
        rep["failed_share"] = sorted({r["line"]["failed"] / r["line"]["attempted"] for r in runs})
        rep["metrics"] = {}
        print(f"{w}: {args.runs} runs, correct={all(r['line']['correct'] for r in runs)}, "
              f"failed shares={rep['failed_share']}, wall median "
              f"{statistics.median(r['full']['wall_s'] for r in runs):.1f} s")
        for m in spec["end_to_end"]:
            q = quartiles([r["line"]["metrics"][m["name"]]["value"] for r in runs])
            q["bound"] = m["bound"]
            rep["metrics"][m["name"]] = q
            print(f"  {m['name']:14s} median {q['median']:.6g} {m['unit']:8s} q1 {q['q1']:.6g} "
                  f"q3 {q['q3']:.6g} spread {q['spread']:.3f} (bound {m['bound']})")
        for side in ("before", "after"):
            for core in ("one_core_s", "all_cores_s"):
                q = quartiles([r["full"]["host_stamp"][side][core] for r in runs])
                print(f"  host {side} {core:12s} median {q['median']:.4f} s spread {q['spread']:.3f}")
        if args.traced:
            traced = [one_run(w, args.seed0 + i, seconds, 1) for i in range(args.traced)]
            rep["tracing_overhead"] = {}
            for m in spec["end_to_end"]:
                t = statistics.median(r["full"]["end_to_end"][m["name"]]["value"] for r in traced)
                share = t / rep["metrics"][m["name"]]["median"] - 1
                rep["tracing_overhead"][m["name"]] = share
                print(f"  traced {m['name']:14s} median {t:.6g} ({share:+.1%} against untraced)")
        report["workloads"][w] = rep
    Path(args.out).write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
