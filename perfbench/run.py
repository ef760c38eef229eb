"""The repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {batch,skew,stream} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The pipeline runs at ``local[nproc]`` in
this single driver process, with every file it writes under
``.bench_run/`` in the checkout. A run sets up once (Spark session, seeded
inputs, the workload's bootstrap), then times operations for ``S``
seconds, at least one, and more while hypervisor steal spoiled every one
so far (see ``STEAL_LIMIT``). The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, each
metric ``{"value", "unit"}``. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` makes one untraced and then one traced operation,
and reports the per-layer metrics of the traced one, with the tracing
overhead as the difference of the two walls. The line before the result
is an ``info`` object with the raw set-up and operation times and host
drift readings: a fixed pure-Python loop timed before the set-up and
after each timed region, and the share of host CPU time stolen by the
hypervisor during each operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from spans import LAYER_FIELDS, LAYERS, Tracer, descendants, tree_cpu_s
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "convs_per_s": "convs/s",
    "cluster_f1": "ratio",
}

# An untraced run times one more operation, while it has timed for less
# than RETRY_BEFORE_S, as long as every operation so far ran while the
# hypervisor stole more than STEAL_LIMIT of the host's CPU time; the
# throughput is the median over the operations under the limit. On the
# 4-vCPU baseline VM, steal came in episodes of a few minutes, and an
# operation under a steal share s took about 1 + 3s times as long.
STEAL_LIMIT = 0.05
RETRY_BEFORE_S = 40.0


def per_layer_units() -> dict[str, str]:
    units = {f"{ly}.{k}": u for ly in LAYERS for k, u in LAYER_FIELDS.items()}
    units.update({
        "blocking.pairs_out": "pairs",
        "blocking.hot_key_rows": "rows",
        "blocking.pair_cap_rows": "rows",
        "scoring.pairs_in": "pairs",
        "scoring.pairs_matched": "pairs",
        "scoring.match_ratio": "ratio",
        "scoring.pairs_per_s": "pairs/s",
        "cluster.edges_in": "edges",
        "cluster.iterations": "count",
        "cluster.distributed": "flag",
        "incremental.new_convs": "convs",
        "streaming.batches": "count",
        "streaming.microbatch_s": "s",
        "streaming.retract_s": "s",
        "trace.overhead_s": "s",
        "failed_share": "ratio",
        # repeats only within about 15% run to run, too loose to gate
        "driver_peak_rss_mb": "MB",
    })
    return units


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The host's aggregate /proc/stat cpu counters (user ... steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor took between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def jvm_peak_rss_mb() -> float:
    """VmHWM of the JVM this process launched (the Spark driver)."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" not in f.read():
                    continue
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except FileNotFoundError:
            continue
    raise RuntimeError("driver JVM not found among child processes")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes")
    return p.parse_args(argv)


def session_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run directory, and turn the event log on for traced runs."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        log = os.path.join(run_dir, "eventlog")
        os.makedirs(log)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            "spark.ui.retainedJobs=100000",
            "spark.ui.retainedStages=100000",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {c}" for c in confs
    ) + " pyspark-shell"


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark worker processes still running")
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    a = parse_args(argv)
    sys.path.insert(0, ROOT)
    from pipeline.session import get_spark  # fails outside a checkout

    trace = bool(a.trace)
    scale = "tiny" if a.tiny else "full"
    run_dir = os.path.join(ROOT, ".bench_run",
                           a.workload + ("-tiny" if a.tiny else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    session_env(run_dir, trace)
    cores = len(os.sched_getaffinity(0))
    cal = [calibrate()]

    # Set-up: the Spark session (JVM launch included), the seeded inputs,
    # and the workload's bootstrap: an untimed warm-up pass, or stream's
    # committed base.
    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark = get_spark(app_name=f"perfbench-{a.workload}",
                      master=f"local[{cores}]",
                      shuffle_partitions=max(cores, 8))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        launch_s = time.perf_counter() - t0
        tracer = Tracer(spark, f"{a.workload}-{a.seed}", enabled=False)
        w = WORKLOADS[a.workload](spark, tracer, run_dir, a.seed, scale)
        w.prepare()
        w.bootstrap()
        setup_s = time.perf_counter() - t0
        setup_cpu_s = tree_cpu_s() - c0
        cal.append(calibrate())

        # Timed operations. A traced run makes two: one untraced, whose
        # wall the traced one is compared against, then one traced.
        attempted = failed = 0
        ops: list[dict] = []
        t_measure = time.perf_counter()

        def more() -> bool:
            if w.max_ops is not None and attempted >= w.max_ops:
                return False
            if trace:
                return attempted < 2
            elapsed = time.perf_counter() - t_measure
            calm = any(r["steal"] <= STEAL_LIMIT for r in ops)
            return attempted == 0 or elapsed < a.seconds or (
                not calm and elapsed < RETRY_BEFORE_S
            )

        while more():
            tracer.enabled = trace and attempted == 1
            attempted += 1
            ticks = cpu_ticks()
            try:
                r = w.op(attempted - 1)
                r["steal"] = steal_share(ticks, cpu_ticks())
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            finally:
                cal.append(calibrate())
            r["traced"] = tracer.enabled
            bad = [c for c in r["checks"] if not c[1]]
            for name, _ok, why in bad:
                print(f"check failed: {name}: {why}", file=sys.stderr)
            if bad:
                failed += 1
            else:
                ops.append(r)
        rss_mb = jvm_peak_rss_mb()
        app_id = spark.sparkContext.applicationId
        if trace:
            tracer.status_counts()
    finally:
        stop_jvm(spark)  # also flushes and closes the event log
    if not ops:
        print("no operation completed", file=sys.stderr)
        return 1

    plain = [r for r in ops if not r["traced"]]
    if trace:
        traced = [r for r in ops if r["traced"]]
        if not traced or not plain:
            print("traced run lacks a traced or an untraced operation",
                  file=sys.stderr)
            return 1
        tracer.fold_event_log(os.path.join(run_dir, "eventlog", app_id))
        tracer.dump(os.path.join(run_dir, "spans.json"))
        values = tracer.layer_totals(len(traced))
        values.update({k: v / len(traced) for k, v in w.counts.items()})
        pairs_in = values.get("scoring.pairs_in", 0)
        values["scoring.match_ratio"] = (
            values.get("scoring.pairs_matched", 0) / pairs_in if pairs_in else 0
        )
        values["scoring.pairs_per_s"] = (
            pairs_in / values["scoring.self_s"] if values["scoring.self_s"]
            else 0
        )
        values["trace.overhead_s"] = (
            statistics.median(sum(r["walls"]) for r in traced)
            - statistics.median(sum(r["walls"]) for r in plain)
        )
        values["failed_share"] = failed / attempted
        values["driver_peak_rss_mb"] = rss_mb
        units = per_layer_units()
        metrics = {k: {"value": float(values.get(k, 0)), "unit": u}
                   for k, u in units.items()}
    else:
        calm = [r for r in ops if r["steal"] <= STEAL_LIMIT] or ops
        values = {
            "setup_s": setup_s,
            "convs_per_s": statistics.median(
                r["convs"] / sum(r["walls"]) for r in calm
            ),
            # the first operation's, so that it depends on the seed alone
            "cluster_f1": ops[0]["f1"],
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}

    info = {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "setup_s": setup_s, "launch_s": launch_s, "setup_cpu_s": setup_cpu_s,
        "op_walls_s": [r["walls"] for r in ops],
        "op_cpu_s": [r["cpu_s"] for r in ops],
        "convs_per_cpu_s": statistics.median(
            r["convs"] / r["cpu_s"] for r in ops
        ),
        "driver_peak_rss_mb": rss_mb,
        "host_calibration_s": cal,
        "op_steal_share": [r["steal"] for r in ops],
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
