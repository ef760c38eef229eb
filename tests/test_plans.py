"""Physical-plan property tests: the optimizations SURVEY.md §4 promises
must actually appear in the plan (and stay there). Plan-only — nothing
executes."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_column_pruning_reaches_scan(spark):
    """doc_stats projects 2 of 5 document columns — the parquet scan must
    read only those (Catalyst column pruning)."""
    import __spark_entry__ as em

    plan = _formatted_plan(em.q_doc_stats(spark, SF_DIR))
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    cols = {c.split(":")[0] for c in read_schema.split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_filter_pushdown_reaches_scan(spark):
    """The shipdate predicate must be pushed into the parquet scan."""
    import __spark_entry__ as em

    plan = _formatted_plan(em.q_pricing_summary(spark, SF_DIR))
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan), (
        plan[:2000]
    )


def test_scoring_has_single_arrow_stage(spark, turns_df):
    """All six similarity channels ride ONE ArrowEvalPython stage — no
    per-channel Python round trips."""
    from pipeline.linkage import build_plan

    plan_df = build_plan(turns_df)["scored"]
    plan = _formatted_plan(plan_df)
    # each node appears once in the tree and once in the details section;
    # count unique node ids
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n_arrow == 1, n_arrow
    # no row-at-a-time Python UDF anywhere
    assert "BatchEvalPython" not in plan


def test_hot_key_list_is_broadcast(spark, turns_df):
    """The hot-key frequency table joins back via broadcast, not a
    shuffled join (it is tiny by construction)."""
    from pipeline.blocking import candidate_pairs
    from pipeline.canonicalize import canonicalize
    from pipeline.features import featurize

    pairs, _ = candidate_pairs(featurize(canonicalize(turns_df)))
    plan = _formatted_plan(pairs)
    assert "BroadcastHashJoin" in plan


def test_no_cartesian_products(spark, turns_df):
    """Candidate generation is equi-join-only — a cartesian in the plan
    means a blocking key disappeared."""
    from pipeline.linkage import build_plan

    plan = _formatted_plan(build_plan(turns_df)["scored"])
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_avoids_shuffle(spark, turns_df, tmp_path):
    """Docs stored bucketed by conv_id join WITHOUT an Exchange on either
    side — the storage-partitioned join the production Iceberg layout
    (bucket(N, conv_id)) gives the scoring stage."""
    from pipeline.canonicalize import canonicalize
    from pipeline.io import write_bucketed

    import shutil

    docs = canonicalize(turns_df).select("conv_id", "n_turns")
    # warehouse dir is static config — uses ./spark-warehouse (gitignored).
    # the in-memory metastore forgets tables between sessions while files
    # persist, so clear any stale location first
    spark.sql("drop table if exists docs_bucketed")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, "docs_bucketed"), ignore_errors=True)
    write_bucketed(docs, "docs_bucketed", n_buckets=8)
    try:
        t = spark.table("docs_bucketed")
        joined = t.alias("a").join(t.alias("b"), "conv_id")
        # disable broadcast so the bucketed path is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _formatted_plan(joined)
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange == 0, (
            f"bucketed self-join still shuffles:\n{plan[:1500]}"
        )
        assert "SortMergeJoin" in plan
    finally:
        spark.sql("drop table if exists docs_bucketed")


def test_decision_layer_adds_no_exchange_or_python(spark, turns_df):
    """The round-2 decision layer (gates, exact predicate, quality,
    warnings, unit flags) is pure Column arithmetic: the scored plan has
    exactly the shuffles the joins need and exactly one Python stage —
    adding the new columns must not introduce either."""
    from pipeline.linkage import build_plan

    plan = _formatted_plan(build_plan(turns_df)["scored"])
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "BatchEvalPython" not in plan
    # quality/warnings/gates ride the UDF's Project — no window, no agg
    assert "Window" not in plan.split("ArrowEvalPython")[0].split("\n")[0]


def test_lsh_pair_cap_single_shuffle_per_bucket_family(spark):
    """minhash candidate capping uses ONE hash-partitioned window per
    band-bucket keyset (WindowGroupLimit pushes the rank filter down),
    and no cartesian appears anywhere in the dedup plan."""
    import __spark_entry__ as em

    plan = _formatted_plan(em.q_minhash_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the star-preserving pair cap compiles to a rank-limited window
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_knn_broadcasts_queries(spark):
    """Brute-force kNN broadcasts the bounded query set, streams the
    corpus side."""
    import __spark_entry__ as em

    plan = _formatted_plan(em.q_knn_cosine(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_winnow_selection_never_shuffles_grams(spark):
    """The winnowing sampler's sliding-window selection must find its
    per-doc clustering already satisfied: in the selection stage the
    ONLY Exchange is the REPARTITION_BY_COL of the narrow doc rows,
    placed UNDER the gram explode — the stride-1 gram table (len(text)
    rows per doc) is generated in place and sorted within partitions,
    never shuffled."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipeline.extras.dedup import _H

    k, w = 40, 8
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": range(8), "text": ["some longer text for spans " * 4] * 8}
        )
    )
    H = _H("md5")
    doc_rows = (
        docs.where(F.length("text") >= k)
        .select("doc_id", F.col("text").alias("_t"))
        .repartition("doc_id")
    )
    grams = doc_rows.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("_t") - F.lit(k))).alias("pos"),
        "_t",
    ).select(
        "doc_id", "pos",
        H(F.lit("ss"), F.expr(f"substring(_t, pos + 1, {k})")).alias("h"),
    )
    ws = Window.partitionBy("doc_id").orderBy("pos")
    sel = (
        grams.withColumn(
            "_wm", F.min("h").over(ws.rowsBetween(Window.currentRow, w - 1))
        )
        .withColumn(
            "_mx", F.max("_wm").over(ws.rowsBetween(-(w - 1), Window.currentRow))
        )
        .where("_mx = h")
    )
    plan = sel._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    exchanges = [l for l in lines if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, exchanges
    assert "REPARTITION_BY_COL" in exchanges[0], exchanges[0]
    gen_idx = next(i for i, l in enumerate(lines) if "Generate explode" in l)
    ex_idx = next(
        i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l
    )
    assert ex_idx > gen_idx, "doc-row exchange must sit under the explode"
    # exactly one Sort serves BOTH windows (same spec)
    assert sum("Sort [doc_id" in l for l in lines) == 1


def test_minhash_single_pass_equals_per_hash(spark):
    """featurize's single-pass minhash aggregate (round-6 optimization:
    one array traversal with an n_hashes-slot accumulator instead of
    n_hashes interpreted transform+array_min passes) must produce
    bit-identical minhashes to the per-hash form, for BOTH hash impls
    (md5 drives the DuckDB-checked contract queries)."""
    from pipeline.features import _minhash_array, _shingles, hash_fn
    from pipeline.config import MatchConfig

    docs = spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the lazy dog"),
            ("d2", "aaaa"),  # fewer chars than several shingle spans
            ("d3", ""),  # empty text -> single empty shingle
            ("d4", "abcabcabcabc"),  # heavy intra-doc shingle repeats
        ],
        "conv_id string, norm_text string",
    )
    for impl in ("md5", "xxhash64"):
        cfg = MatchConfig(hash_impl=impl)
        H = hash_fn(cfg)
        sh = docs.withColumn(
            "_shingles", _shingles("norm_text", cfg.shingle_size)
        )
        n = cfg.minhash_hashes
        single = sh.withColumn(
            "_mh", _minhash_array(F.col("_shingles"), n, H)
        ).select(
            "conv_id",
            *[
                F.coalesce(
                    F.element_at("_mh", i + 1), F.lit(0).cast("long")
                ).alias(f"h{i}")
                for i in range(n)
            ],
        )
        # NB: single-arg lambda — a two-arg lambda would receive the
        # ARRAY INDEX as its second argument (pyspark transform arity
        # dispatch), not the loop variable. pyspark evaluates the lambda
        # eagerly while building the expression, so capturing the loop
        # variable here is safe.
        per_hash = sh.select(
            "conv_id",
            *[
                F.coalesce(
                    F.array_min(
                        F.transform(
                            F.col("_shingles"), lambda t: H(F.lit(i), t)
                        )
                    ),
                    F.lit(0).cast("long"),
                ).alias(f"h{i}")
                for i in range(n)
            ],
        )
        a = {r["conv_id"]: tuple(r[1:]) for r in single.collect()}
        b = {r["conv_id"]: tuple(r[1:]) for r in per_hash.collect()}
        assert a == b, (impl, a, b)


def _turns(spark, rows):
    """One single-turn conversation per ``(conv_id, text)`` row."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": [0] * len(rows),
                "role": ["user"] * len(rows),
                "text": [r[1] for r in rows],
                "tool": [None] * len(rows),
                "ts": pd.to_datetime(["2024-01-01"] * len(rows)),
            }
        )
    )


def test_plain_mode_builds_no_contraction(spark):
    """Plain mode is the identity contraction: the plans of plain
    ``build_plan`` and plain ``incremental_link`` carry no exact-signature
    hash (``xsig1``) and no rep/member join (``rep_id``) — the
    contraction machinery is skipped in Python, so plain runs pay
    nothing for it. The contracted plans of the same inputs carry both,
    so the check cannot pass vacuously."""
    from dataclasses import replace

    from pipeline.config import DEFAULT_CONFIG
    from pipeline.incremental import incremental_link
    from pipeline.linkage import build_plan
    from pipeline.session import release_caches

    # anchors and the hot-key star off: smaller composed plans, and a
    # pin=False step renders its plan in every action it runs
    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1, hot_key_star=False)

    def _plan(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    A = "alpha beta gamma delta kappa lambda"
    B = "epsilon zeta eta theta sigma omega"
    # no duplicates in the base: its plain features ARE its contracted
    # rep rows, so both modes step from the same committed state
    base = _turns(spark, [("a1", A), ("b1", B)])
    inc = _turns(spark, [("c1", A), ("d1", B + " tail")])
    clusters = spark.createDataFrame(
        [("a1", "a1"), ("b1", "b1")], "conv_id string, entity_id string"
    )
    # composed lazy plans render large: lift the session's 1 MB cap so
    # the search sees the whole string
    spark.conf.set("spark.sql.maxPlanStringLength", str(256 * 1024 * 1024))
    try:
        plain_batch = build_plan(base, cfg)
        feats = plain_batch["features"].localCheckpoint(eager=True)
        step = incremental_link(feats, clusters, inc, cfg, pin=False)
        plain = [_plan(plain_batch[k]) for k in ("scored", "edges")] + [
            _plan(step[k])
            for k in ("features", "new_features", "keys", "scored", "clusters")
        ]
        contracted = [
            _plan(build_plan(base, cfg, contract_dups=True)["edges"]),
            _plan(
                incremental_link(
                    feats, clusters, inc, cfg, contract_dups=True
                )["dup_assign"]
            ),
        ]
    finally:
        spark.conf.set("spark.sql.maxPlanStringLength", "1048576")
        release_caches()
    for text in plain:
        assert "xsig1" not in text
        assert "rep_id" not in text
    for text in contracted:
        assert "xsig1" in text
        assert "rep_id" in text


def _local_only(df) -> str:
    """The frame's plan, asserting it reads no Python-sourced RDD: a
    ``Scan ExistingRDD`` leaf re-runs its Python-worker stage in every
    action that reads the frame."""
    plan = _formatted_plan(df)
    assert "ExistingRDD" not in plan, plan[:2000]
    return plan


def test_retract_request_ids_plan_as_local_relation(
    spark, tmp_path, monkeypatch
):
    """``retract_from_state`` resolves the request on the driver and
    hands ``retract`` the matched ids as a JVM local relation."""
    from dataclasses import replace

    import pipeline.incremental as incremental_mod
    from pipeline.config import DEFAULT_CONFIG
    from pipeline.streaming import _link_batch, retract_from_state

    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1)
    state = str(tmp_path / "state")
    _link_batch(
        spark,
        _turns(spark, [
            ("a1", "alpha beta gamma delta kappa lambda"),
            ("a2", "alpha beta gamma delta kappa lambda"),
            ("b1", "epsilon zeta eta theta sigma omega"),
        ]),
        0, state, cfg,
    )

    class _Captured(Exception):
        pass

    seen = {}

    def capture(existing_feats, existing_clusters, remove_ids, *a, **kw):
        seen["ids"] = remove_ids
        raise _Captured

    monkeypatch.setattr(incremental_mod, "retract", capture)
    with pytest.raises(_Captured):
        retract_from_state(spark, state, ["a2", "never_ingested"], cfg=cfg)
    _local_only(seen["ids"])
    assert [r["conv_id"] for r in seen["ids"].collect()] == ["a2"]


def test_hot_key_leaves_plan_as_local_relations(spark, monkeypatch):
    """With a non-empty hot list, the hot-key and hub tables
    ``incremental_candidate_pairs`` pulls to the driver re-enter Spark as
    JVM local relations."""
    from dataclasses import replace

    import pipeline.blocking as blocking_mod
    import pipeline.incremental as incremental_mod
    from pipeline.blocking import key_table_with_counts
    from pipeline.canonicalize import canonicalize
    from pipeline.config import DEFAULT_CONFIG
    from pipeline.features import featurize
    from pipeline.session import release_caches

    cfg = replace(
        DEFAULT_CONFIG, block_key_cap=4, anchor_max_df=1, hot_key_star=True
    )
    boiler = "please reset my password for the billing portal"
    rows = [(f"m{i:02d}", boiler) for i in range(12)]
    rows += [(f"o{i:02d}", f"unrelated text number {i} x{i}y") for i in range(4)]
    feats = featurize(canonicalize(_turns(spark, rows)), cfg)
    is_new = F.col("conv_id").isin([f"m{i:02d}" for i in range(6)])
    existing_keys, existing_counts = key_table_with_counts(
        feats.where(~is_new), cfg
    )
    seen = {}
    cap_members = incremental_mod._cap_members
    star_pairs = blocking_mod.hot_star_pairs

    def cap_spy(*a, hubs=None, **kw):
        seen.setdefault("hubs", hubs)
        return cap_members(*a, hubs=hubs, **kw)

    def star_spy(*a, hot=None, **kw):
        seen["hot"] = hot
        return star_pairs(*a, hot=hot, **kw)

    monkeypatch.setattr(incremental_mod, "_cap_members", cap_spy)
    monkeypatch.setattr(blocking_mod, "hot_star_pairs", star_spy)
    try:
        incremental_mod.incremental_candidate_pairs(
            feats.where(is_new), existing_keys, existing_counts, cfg
        )
    finally:
        release_caches()
    assert seen.get("hubs") is not None and seen.get("hot") is not None, (
        "the increment's hot list came out empty; the check would be vacuous"
    )
    _local_only(seen["hot"])
    _local_only(seen["hubs"])
