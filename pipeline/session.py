"""SparkSession factory with the pipeline's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime re-plan + skew-join),
Arrow enabled for pandas-UDF transport, shuffle partitions sized to cores
locally (on a real cluster: ~2-3x total cores, or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transcript-linkage",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # sized for the numpy batch scoring kernels (kernels_batch): numpy
        # op dispatch amortizes at ~10k pairs/batch; 10k rows x ~1.2KB of
        # paired canonical text ~ 12MB Arrow batches — well within worker
        # memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Spark renders the FULL plan string for every action's
        # SQLExecutionStart event even with the UI disabled; on deeply
        # composed plans (lazily-chained incremental state, the
        # contracted pipeline) the default ~2GB cap let a single
        # explainString OOM an 8g driver (observed: StringConcat
        # allocation in Dataset.localCheckpoint). 1MB keeps every
        # diagnostic readable and bounds the cost at any plan depth.
        .config("spark.sql.maxPlanStringLength", "1048576")
        # the SQLExecutionStart description is rendered per ACTION (and
        # AQE re-posts plan updates per stage) even with the UI off;
        # 'formatted' (the default) walks the tree twice and stringifies
        # every operator's detail. 'simple' is the cheapest mode that
        # still names the physical operators. Diagnostics that want rich
        # plans call .explain(mode) directly, which ignores this conf.
        .config("spark.sql.ui.explainMode", "simple")
        # UI off by default (bench hygiene); diagnostics (BENCH/exec8_diag)
        # flip it on via env to read executor GC/task metrics over REST
        # normalized: Spark's boolean conf parser throws on anything but
        # true/false, so SPARK_GRAFT_UI=1 crashed session creation
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "false").strip().lower()
            in ("1", "true", "yes", "on")
            else "false",
        )
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, data, schema):
    """Small driver-side rows -> a DataFrame that plans as a JVM
    ``LocalTableScan``.

    ``data`` is a list of tuples or a pyarrow Table; ``schema`` a DDL
    string or StructType. ``spark.createDataFrame(list)`` plans a
    ``Scan ExistingRDD`` over a PythonRDD, which every action that reads
    the frame re-runs as a Python-worker stage; a pandas frame only
    avoids that when non-empty (pyspark routes empty ones back through
    the row path). An Arrow table always enters the JVM as a local
    relation, empty or not. List columns are cast to the schema's types,
    so integer ids become their decimal strings under a string column,
    as the row path's conversion makes them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(data, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        cols = list(zip(*data)) if data else [()] * len(arrow_schema)
        data = pa.Table.from_arrays(
            [pa.array(c).cast(f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(data, schema)


# -- scoped cache registry ---------------------------------------------------
# Operators that persist intermediates (blocking key table, dedup shingle
# tables) register them here; long-lived sessions (looped bench, notebook,
# driver contract harness) call release_caches() between jobs so cached
# RDDs don't accumulate (round-1 VERDICT 'what's wrong' #5).
_TRACKED_CACHES: list = []


def track_cache(df):
    """persist() + register for a later release_caches()."""
    df.persist()
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released.
    Safe to call at any time — Spark recomputes lazily if a plan is
    re-executed afterwards."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
