"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/baseline.py --workloads skew stream --seeds 1-10 \
        [--trace 0] [--seconds 10] [--out runs.jsonl]

Runs ``run.py`` once per workload and seed, one after another. Each
run's result and ``info`` lines are appended to ``--out`` as one JSON
record. For each workload and metric, it prints the median and the
spread: the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median. These
are the numbers the bounds in ``BENCHMARK.json`` are checked against.
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
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", nargs="+", default=["skew", "stream"])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out", default=None)
    a = p.parse_args(argv)

    runs: dict[str, list[dict]] = {w: [] for w in a.workloads}
    for w in a.workloads:
        for s in seeds(a.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(s),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=600, check=True,
            )
            lines = proc.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "trace": a.trace,
                   "run_s": time.perf_counter() - t0,
                   "result": json.loads(lines[-1]),
                   "info": json.loads(lines[-2])["info"]}
            runs[w].append(rec)
            if a.out:
                with open(a.out, "a", encoding="utf-8") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {s}: {rec['run_s']:.1f} s, correct="
                  f"{rec['result']['correct']}", file=sys.stderr)

    for w, recs in runs.items():
        print(f"## {w}: {len(recs)} runs, run wall median "
              f"{statistics.median(r['run_s'] for r in recs):.1f} s")
        for name in recs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in recs]
            med, sp = spread(vals)
            unit = recs[0]["result"]["metrics"][name]["unit"]
            print(f"{name:28s} median {med:12.4f} {unit:8s} spread {sp:.4f}")
        cal = [c for r in recs for c in r["info"]["host_calibration_s"]]
        print(f"host_calibration_s           min {min(cal):.3f} "
              f"median {statistics.median(cal):.3f} max {max(cal):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
