"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads serve live --seeds 1-10 \
        --out .perfbench/spread.json

Runs are sequential. For every workload and metric it prints the median,
the first and third quartiles (``statistics.quantiles(values, n=4)``) and
the spread, (q3 - q1) / median; the JSON output keeps every run's values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=["serve", "live"])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    if a.seconds is None:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            a.seconds = json.load(f)["run_seconds"]
    runs: dict[str, list[dict]] = {}
    for w in a.workloads:
        for s in seeds(a.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w, "--seed", str(s), "--seconds", str(a.seconds),
                 "--trace", str(a.trace)],
                cwd=root, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            rec = json.loads(lines[-1])
            rec.update(seed=s, wall_s=wall)
            runs.setdefault(w, []).append(rec)
            print(f"{w} seed {s}: {wall:.1f} s, failed {rec['failed']}",
                  flush=True)
    report = {}
    for w, recs in runs.items():
        report[w] = {}
        for name in recs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in recs]
            report[w][name] = summary(vals) if len(vals) > 1 else {}
            st = report[w][name]
            if st:
                print(f"{w:6s} {name:28s} median {st['median']:12.6g} "
                      f"q1 {st['q1']:12.6g} q3 {st['q3']:12.6g} "
                      f"spread {st['spread']:.4f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": a.seconds, "trace": a.trace,
                       "summary": report, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
