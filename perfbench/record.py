"""Make a baseline record: run every workload on several seeds, untraced,
then once traced, and write medians, quartile spreads, the per-layer
metrics and the tracing overhead to one JSON file.

    python3 perfbench/record.py --seeds 1-10 --out perfbench/baseline.json

A metric's spread is the distance between the first and third quartiles of
its per-seed values (``statistics.quantiles(values, n=4)``) as a share of
their median; a metric is steady when its spread is below a third of its
bound, and within bound when it is at most the bound. The tracing overhead
is the traced run's end-to-end value against the untraced median, as a
share of the median.

A second set of seeds checks that two sets of runs of the same code agree:

    python3 perfbench/record.py --seeds 11-20 --out perfbench/repeat.json \
        --against perfbench/baseline.json

adds, per metric, how much worse its median is than the other record's
(a share of that median, positive when worse) and whether that stays
within the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = time.perf_counter() - t0
    return result


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out", required=True)
    ap.add_argument("--against", help="an earlier record to compare with")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    against = (json.loads(Path(args.against).read_text())
               if args.against else None)
    record = {"machine": {"cpus": len(os.sched_getaffinity(0)),
                          "python": platform.python_version()},
              "run_seconds": spec["run_seconds"], "seeds": args.seeds,
              "against": args.against,
              "workloads": {}}
    for w in args.workloads:
        runs = [run_once(w, s, spec["run_seconds"], 0) for s in args.seeds]
        e2e = {name: summarize([r["metrics"][name]["value"] for r in runs])
               for name in bounds}
        for name, s in e2e.items():
            s["steady"] = s["spread"] < bounds[name] / 3
            s["within_bound"] = s["spread"] <= bounds[name]
            if against:
                other = against["workloads"][w]["end_to_end"][name]["median"]
                sign = -1 if better[name] == "higher" else 1
                s["worse_than_against"] = sign * (s["median"] - other) / other
                s["agrees"] = s["worse_than_against"] <= bounds[name]
        traced = run_once(w, args.seeds[0], spec["run_seconds"], 1)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        overhead = {name: (layers["traced." + name] - e2e[name]["median"])
                    / e2e[name]["median"] for name in bounds}
        record["workloads"][w] = {
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "end_to_end": e2e,
            "traced_seed": args.seeds[0],
            "per_layer": layers,
            "tracing_overhead": overhead,
        }
        print(w, {k: (round(v["median"], 3), round(v["spread"], 4))
                  for k, v in e2e.items()}, file=sys.stderr)
    Path(args.out).write_text(json.dumps(record, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
