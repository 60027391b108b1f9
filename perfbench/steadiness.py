"""Steadiness record: two sets of ten untraced runs of every workload,
each run on its own seed, summarised into ``perfbench/STEADINESS.json``.

    python3 perfbench/steadiness.py

Run it from the root of a checkout; it takes about 40 minutes on four
cores. Per workload the record holds the input sizes, the loop type,
each run's wall time and, per end-to-end metric and set, the median and
quartiles (``statistics.quantiles(values, n=4)``) with the spread
(q3 - q1) / median. It also gives the shift of the second set's median
from the first's, in the metric's worse direction, as a share of the
first. BENCHMARK.json's bound for a metric must exceed both the spread
(``setup_s`` excepted) and that shift.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RECORD = os.path.join(HERE, "STEADINESS.json")
SETS = {"set1": range(101, 111), "set2": range(201, 211)}
LOOP = "closed loop, one client"


def run(bench: dict, workload: str, seed: int) -> tuple[dict, dict, float]:
    t0 = time.monotonic()
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if proc.returncode or not result.get("correct"):
        sys.exit(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    inputs = next(json.loads(x[len("inputs="):]) for x in lines if x.startswith("inputs="))
    return result, inputs, wall


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    record = {}
    for label, seeds in SETS.items():
        for w in bench["workloads"]:
            values: dict[str, list[float]] = {}
            walls = []
            for seed in seeds:
                result, inputs, wall = run(bench, w["name"], seed)
                walls.append(round(wall, 1))
                for k, v in result["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            stats = {}
            for k, vals in values.items():
                q1, med, q3 = statistics.quantiles(vals, n=4)
                stats[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
                print(f"{label} {w['name']} {k}: median {med:.4g}"
                      f" spread {stats[k]['spread']:.3f} (bound {metrics[k]['bound']})",
                      flush=True)
            rec = record.setdefault(w["name"], {"why": w["why"], "loop": LOOP,
                                                "inputs": inputs})
            rec[label] = {"seeds": [seeds[0], seeds[-1]], "run_wall_s": walls,
                          "metrics": stats}
    for rec in record.values():
        for k, m in metrics.items():
            a, b = rec["set1"]["metrics"][k]["median"], rec["set2"]["metrics"][k]["median"]
            shift = (b - a) / a if m["better"] == "lower" else (a - b) / a
            rec.setdefault("set2_worse_by", {})[k] = shift
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
