"""Interleaved A/B of the repository benchmark between two code states.

    python3 BENCH/ab.py --base <rev> --head <rev> --workload <w> \
        --seeds 1-10 [--seconds 10] [--out runs.jsonl]

Each side is a clean export of its git revision (``git archive``) in a
temporary directory. Both sides must be exports: a side run from the
checkout itself read several seconds slower in ``setup_s`` than an export
of the same code. To measure uncommitted edits, pass
``--head "$(git stash create)"``; a stash commit holds the tracked files
only, so ``git add`` new files first. For every seed, each side runs
``perfbench/run.py --workload <w> --seed <s>`` in a fresh process from
its own tree, so the driver import, the Spark Python workers and the
run's files all come from that tree. Pairs alternate which side runs
first, so a monotone drift of the host biases neither side.

Prints one row per pair with each side's end-to-end metrics, then per
metric each side's median and quartiles, and how many pairs the change
won in the metric's ``better`` direction (from ``BENCHMARK.json``).
A gain counts when the change wins at least 9 of 10 pairs and the
median moves by more than the base's inter-quartile distance.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def export(rev: str, dest: str) -> str:
    """A clean tree of ``rev`` under ``dest``."""
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "archive", rev], cwd=REPO, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_leg(tree: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds)],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or len(lines) < 2:
        return {"failed": True, "metrics": {}}
    result = json.loads(lines[-1])
    return {
        "failed": not result["correct"],
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "info": json.loads(lines[-2])["info"],
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="git revision of the base")
    p.add_argument("--head", required=True,
                   help="git revision of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--out", default=None, help="append each pair as JSONL")
    a = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {
            "base": export(a.base, os.path.join(tmp, "base")),
            "head": export(a.head, os.path.join(tmp, "head")),
        }
        pairs = []
        print("| seed | first | " + " | ".join(
            f"{k} base | {k} head" for k in better) + " |")
        print("|---|---|" + "---|---|" * len(better), flush=True)
        for i, seed in enumerate(seeds(a.seeds)):
            order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_leg(trees[side], a.workload, seed, a.seconds)
            pairs.append(pair)
            if a.out:
                with open(a.out, "a", encoding="utf-8") as f:
                    f.write(json.dumps(pair) + "\n")
            print(f"| {seed} | {order[0]} | " + " | ".join(
                f"{pair[side]['metrics'].get(k, float('nan')):.4g}"
                for k in better for side in ("base", "head")
            ) + " |", flush=True)

    ok = [q for q in pairs if not q["base"]["failed"] and not q["head"]["failed"]]
    print(f"\n{a.workload}: {len(ok)} of {len(pairs)} pairs completed on "
          f"both sides (failed legs: base "
          f"{sum(q['base']['failed'] for q in pairs)}, head "
          f"{sum(q['head']['failed'] for q in pairs)})")
    print("| metric | base q1 / median / q3 | head q1 / median / q3 "
          "| change wins |")
    print("|---|---|---|---|")
    for k, direction in better.items() if ok else ():
        b = [q["base"]["metrics"][k] for q in ok]
        h = [q["head"]["metrics"][k] for q in ok]
        sign = 1 if direction == "higher" else -1
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, h))
        fmt = " / ".join
        print(f"| {k} | {fmt(f'{v:.4g}' for v in quartiles(b))} "
              f"| {fmt(f'{v:.4g}' for v in quartiles(h))} "
              f"| {wins} of {len(ok)} |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
