"""Extra benchmarks: per-phase isolation of the expensive bench.py lines
(guide §1.4 noop-sink isolation; bench.py itself is FROZEN for driver
measurement, so auxiliary numbers live here).

Usage: python bench_extra.py <probe> [...probe]
Probes: q6_phases q11_phases gramstats q10_kernel
Per-layer numbers of the incremental step come from the production code's
own spans: ``python3 perfbench/run.py --workload stream --trace 1`` (the
``incremental.*`` rows).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
Prints one JSON object per probe.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _spark():
    from pipeline.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name=f"bench-extra-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, out: dict, name: str, fn):
    spark.sparkContext.setJobDescription(name)
    t0 = time.time()
    r = fn()
    out[name] = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    return r


def _warm(spark, cpus: int):
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    def _warm_fn(s):
        from pipeline.oracle import component_scores  # noqa: F401

        return s

    w = F.pandas_udf(_warm_fn, returnType="long")
    spark.range(cpus * 6).repartition(cpus * 3).select(w("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def q6_phases(spark, sf_dir: str) -> dict:
    """minhash_lsh_pairs (md5 + xxhash64 legs) split at its seams:
    minhash aggregation / banding+cap+pair gen / verify Jaccard."""
    from pyspark.sql import functions as F

    from pipeline.extras.dedup import (
        _bucket_pair_cap,
        _hashed_grams,
        _shingle_minhash,
        minhash_lsh_pairs,
    )
    from pipeline.normalize import norm_text_col
    from pipeline.session import release_caches, track_cache

    out: dict = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for impl in ("md5", "xxhash64"):
        normed = track_cache(
            docs.select(
                F.col("doc_id"), norm_text_col("text").alias("_norm")
            ).repartition(spark.sparkContext.defaultParallelism * 2)
        )
        normed.count()
        mh = _shingle_minhash(normed, 5, 12, impl)
        _timed(spark, out, f"{impl}_1_shingle_minhash_agg", lambda: _noop(mh))
        _timed(
            spark, out, f"{impl}_1b_shingle_minhash_again", lambda: _noop(mh)
        )
        grams_all = normed.select("doc_id", _hashed_grams(5, impl))
        _timed(spark, out, f"{impl}_2_verify_grams_all", lambda: _noop(grams_all))
        release_caches()
        _timed(
            spark,
            out,
            f"{impl}_3_full_operator",
            lambda: _noop(
                minhash_lsh_pairs(docs, jaccard_threshold=0.3, hash_impl=impl)
            ),
        )
        release_caches()
    return out


def gramstats(spark, sf_dir: str) -> dict:
    """Duplication factor of 5-gram shingles (distinct-vs-total) — sizes
    the win of hashing distinct grams once."""
    from pyspark.sql import functions as F

    from pipeline.normalize import norm_text_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    normed = docs.select(norm_text_col("text").alias("_norm"))
    sh = normed.select(
        F.explode(
            F.expr(
                "array_distinct(transform("
                "sequence(1, greatest(length(_norm)-4,1)),"
                " i -> substring(_norm, i, 5)))"
            )
        ).alias("g")
    )
    row = sh.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct("g").alias("distinct"),
    ).collect()[0]
    return {
        "gram_rows_total": int(row["total"]),
        "gram_distinct": int(row["distinct"]),
        "dup_factor": round(row["total"] / max(row["distinct"], 1), 2),
    }


def q11_phases(spark, sf_dir: str) -> dict:
    """Batch linkage over the documents corpus, stage-isolated."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from pipeline.config import PRODUCTION_CONFIG
    from pipeline.linkage import build_plan, cluster_edges
    from pipeline.scoring import score_pairs
    from pipeline.session import release_caches

    out: dict = {}
    doc_turns = em._turns_from_documents(spark, sf_dir)
    plan = build_plan(doc_turns, PRODUCTION_CONFIG)
    feats = plan["features"]
    _timed(spark, out, "1_featurize", lambda: _noop(feats))
    pairs = plan["pairs"]
    _timed(spark, out, "2_blocking_pairs", lambda: _noop(pairs))
    out["n_pairs"] = pairs.count()
    scored = score_pairs(feats, pairs, PRODUCTION_CONFIG)
    _timed(spark, out, "3_scoring", lambda: _noop(scored))
    edges = scored.where("is_match").select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )

    def _cc():
        clusters, _ = cluster_edges(edges, feats)
        _noop(clusters)

    _timed(spark, out, "4_cc_and_clusters", _cc)
    release_caches()

    def _full():
        p = build_plan(doc_turns, PRODUCTION_CONFIG)
        clusters, _ = cluster_edges(p["edges"], p["features"])
        _noop(clusters)

    _timed(spark, out, "5_full_e2e", _full)
    release_caches()
    return out


def q10_kernel(spark, sf_dir: str) -> dict:
    """Pure-Python kernel throughput on ring pairs (no Spark in the timed
    region): isolates kernel CPU from Spark scheduling."""
    from pyspark.sql import functions as F

    from pipeline.kernels_batch import batch_component_scores
    from pipeline.normalize import norm_text_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = (
        docs.select(
            F.col("doc_id").cast("long").alias("i"),
            norm_text_col("text").alias("norm_text"),
        )
        .orderBy("i")
        .collect()
    )
    texts = [r["norm_text"] for r in rows]
    n = len(texts)
    roles = ["ua", "uaua", "uauaua", "au"]
    a_list, b_list, ra_list, rb_list = [], [], [], []
    for i in range(n):
        for k in (1, 2):
            j = (i + k) % n
            a_list.append(texts[i])
            b_list.append(texts[j])
            ra_list.append(roles[i % 4])
            rb_list.append(roles[j % 4])
    # warm the per-doc kernel caches once (as production scoring does)
    batch_component_scores(a_list[:10000], b_list[:10000], ra_list[:10000],
                           rb_list[:10000])
    t0 = time.time()
    B = 10000
    for s in range(0, len(a_list), B):
        batch_component_scores(
            a_list[s : s + B], b_list[s : s + B],
            ra_list[s : s + B], rb_list[s : s + B],
        )
    dt = time.time() - t0
    return {
        "pairs": len(a_list),
        "wall_s": round(dt, 3),
        "pairs_per_sec_single_core": round(len(a_list) / dt, 1),
    }


PROBES = {
    "q6_phases": q6_phases,
    "q11_phases": q11_phases,
    "gramstats": gramstats,
    "q10_kernel": q10_kernel,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark()
    _warm(spark, cpus)
    for name in sys.argv[1:]:
        fn = PROBES[name]
        result = fn(spark, sf_dir)
        print(json.dumps({"probe": name, "sf": sf_dir, **result}))


if __name__ == "__main__":
    main()
