"""Incremental linkage: base + increment must equal the full batch run
(cap-free — the audits make the condition observable), entity merges via
a bridging new doc must relabel committed clusters, the committed key
state must rebuild the union's, and the restricted key join must
broadcast the increment side (no corpus self-join)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline.incremental import incremental_candidate_pairs, incremental_link
from pipeline.linkage import build_plan, cluster_edges


def _clusters_pd(df) -> pd.DataFrame:
    return (
        df.select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


def _turns(spark, rows):
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


def test_incremental_equals_batch(spark, turns_df):
    """Split the synth corpus by conv_id hash parity (duplicate partners
    land on both sides — the interesting case) and check the incremental
    labeling is IDENTICAL to one batch run over the union.

    Population-independent config on BOTH runs: a binding pair cap keeps
    a population-dependent subset by design (the batch run ranks a key's
    full pair list, the incremental run only the new-touching subset),
    and the anchor family's df-range shifts as the corpus grows (a
    rare-token pair anchored in the base corpus can exceed max_df in the
    union — observed on this very fixture: base found edge d-e that the
    full-corpus run never blocked). Exact equality is a theorem over the
    doc-local families 0-3 with caps unbound; with default config this
    fixture diverges on ~1% of labels, which is the behavior the module
    docstring documents."""
    from dataclasses import replace

    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(
        DEFAULT_CONFIG, pairs_per_key_cap=1_000_000, anchor_max_df=1
    )
    parity = F.crc32(F.col("conv_id").cast("binary")) % 2
    base_turns = turns_df.where(parity == 0)
    inc_turns = turns_df.where(parity == 1)
    # both sides must be non-trivial or the fixture proves nothing
    assert base_turns.select("conv_id").distinct().count() > 20
    assert inc_turns.select("conv_id").distinct().count() > 20

    full_plan = build_plan(turns_df, cfg)
    full_clusters, _ = cluster_edges(
        full_plan["edges"], full_plan["features"]
    )

    base_plan = build_plan(base_turns, cfg)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )
    out = incremental_link(
        base_plan["features"], base_clusters, inc_turns, cfg
    )

    # equivalence needs cap-free; hot_key_audit + cap_risk_audit are the
    # sufficient observable (the restricted pair_cap_audit alone is NOT —
    # a batch ranking can cap where the new-touching subset does not)
    assert out["hot_key_audit"].count() == 0
    assert out["cap_risk_audit"].count() == 0

    pd.testing.assert_frame_equal(
        _clusters_pd(full_clusters), _clusters_pd(out["clusters"])
    )


def test_chained_increments_match_batch(spark, turns_df):
    """Daily cadence: two successive increments, each consuming the
    PREVIOUS step's returned committed state (features + keys +
    key_counts — the corpus is never re-derived), must equal one batch
    run over everything."""
    from dataclasses import replace

    from pipeline.blocking import key_table_with_counts
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(
        DEFAULT_CONFIG,
        pairs_per_key_cap=1_000_000,
        block_key_cap=1_000_000,
        anchor_max_df=1,
    )
    slot = F.crc32(F.col("conv_id").cast("binary")) % 3
    t0, t1, t2 = (turns_df.where(slot == i) for i in range(3))

    full_plan = build_plan(turns_df, cfg)
    full_clusters, _ = cluster_edges(
        full_plan["edges"], full_plan["features"]
    )

    base_plan = build_plan(t0, cfg)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )
    k0, c0 = key_table_with_counts(base_plan["features"], cfg)
    step1 = incremental_link(
        base_plan["features"], base_clusters, t1, cfg,
        existing_keys=k0, existing_key_counts=c0,
    )
    step2 = incremental_link(
        step1["features"], step1["clusters"], t2, cfg,
        existing_keys=step1["keys"], existing_key_counts=step1["key_counts"],
    )
    assert step2["hot_key_audit"].count() == 0
    assert step2["cap_risk_audit"].count() == 0
    pd.testing.assert_frame_equal(
        _clusters_pd(full_clusters), _clusters_pd(step2["clusters"])
    )


def test_frozen_df_extends_theorem_to_anchors(spark, turns_df):
    """With anchors PINNED to a committed (token, df) snapshot, the
    incremental == batch equality covers all five key families — the
    anchor family becomes doc-local given the snapshot. Same split as
    test_incremental_equals_batch, but anchors ENABLED and both runs fed
    the base corpus's token_df snapshot."""
    from dataclasses import replace

    from pipeline.blocking import token_df
    from pipeline.canonicalize import canonicalize
    from pipeline.config import DEFAULT_CONFIG
    from pipeline.features import featurize
    from pipeline.session import track_cache

    cfg = replace(DEFAULT_CONFIG, pairs_per_key_cap=1_000_000)  # anchors ON
    parity = F.crc32(F.col("conv_id").cast("binary")) % 2
    base_turns = turns_df.where(parity == 0)
    inc_turns = turns_df.where(parity == 1)

    snapshot = track_cache(
        token_df(featurize(canonicalize(base_turns), cfg), cfg)
    )

    full_plan = build_plan(turns_df, cfg, anchor_df=snapshot)
    full_clusters, _ = cluster_edges(
        full_plan["edges"], full_plan["features"]
    )

    base_plan = build_plan(base_turns, cfg, anchor_df=snapshot)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )
    out = incremental_link(
        base_plan["features"], base_clusters, inc_turns, cfg,
        anchor_df=snapshot,
    )
    assert out["hot_key_audit"].count() == 0
    assert out["cap_risk_audit"].count() == 0

    # anchors must actually contribute keys under the snapshot, or this
    # test silently degenerates to the families-0-3 case
    from pipeline.blocking import ANCHOR_FAMILY, anchor_key_table

    n_anchor_keys = anchor_key_table(
        full_plan["features"], cfg, snapshot
    ).count()
    assert n_anchor_keys > 0, "snapshot produced no anchor keys"

    pd.testing.assert_frame_equal(
        _clusters_pd(full_clusters), _clusters_pd(out["clusters"])
    )


def test_incremental_merges_committed_entities(spark):
    """a1 and b1 share no key family (disjoint vocab) -> two committed
    entities; the increment's c1 = a1-text + b1-text matches BOTH
    (verified: conf 60/fuzzy/s_text ~66 each) -> one merged entity
    labeled by the global min conv_id, exactly as a batch run labels it."""
    A = "alpha beta gamma delta kappa lambda"
    B = "epsilon zeta eta theta sigma omega"
    base = _turns(spark, [("a1", A), ("b1", B)])
    inc = _turns(spark, [("c1", A + " " + B)])

    base_plan = build_plan(base)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )
    assert _clusters_pd(base_clusters)["entity_id"].tolist() == ["a1", "b1"]

    # pin=False: this test asserts on the returned frames' EXECUTED
    # PLANS below — the default lineage pins would turn them into
    # checkpoint leaves and hide the join strategy
    out = incremental_link(
        base_plan["features"], base_clusters, inc, pin=False
    )
    got = _clusters_pd(out["clusters"])
    assert got["conv_id"].tolist() == ["a1", "b1", "c1"]
    assert got["entity_id"].tolist() == ["a1", "a1", "a1"]

    # batch over the union agrees
    full_plan = build_plan(base.unionByName(inc))
    full_clusters, _ = cluster_edges(
        full_plan["edges"], full_plan["features"]
    )
    pd.testing.assert_frame_equal(got, _clusters_pd(full_clusters))

    # the scoring stage prunes the corpus to pair-touched ids via a
    # BROADCAST semi-join (map-side; the step never shuffles the corpus
    # features into scoring). The session caps maxPlanStringLength at
    # 1 MB (composed lazy plans OOM'd an 8g driver rendering event
    # strings) and this composed plan is ~50 MB rendered, so raise the
    # cap just for this render — the assertion needs the full string.
    spark.conf.set("spark.sql.maxPlanStringLength", str(256 * 1024 * 1024))
    try:
        plan = out["scored"]._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxPlanStringLength", "1048576")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan[:2000]


def test_redelivered_ids_are_dropped_not_duplicated(spark):
    """At-least-once upstream delivery: the increment re-delivers a1
    (already committed) alongside a genuinely new c1. The re-delivered
    rows must be DROPPED (anti-join, round-3 ADVICE) — the result equals
    delivering only c1: no duplicate feature rows, no double-counted key
    members, identical clusters."""
    A = "alpha beta gamma delta kappa lambda"
    B = "epsilon zeta eta theta sigma omega"
    base = _turns(spark, [("a1", A), ("b1", B)])
    base_plan = build_plan(base)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )

    inc_clean = _turns(spark, [("c1", A + " extra tail")])
    inc_redeliver = inc_clean.unionByName(_turns(spark, [("a1", A)]))

    out_clean = incremental_link(
        base_plan["features"], base_clusters, inc_clean
    )
    out_re = incremental_link(
        base_plan["features"], base_clusters, inc_redeliver
    )
    # features stay duplicate-free and identical
    fr = out_re["features"].groupBy("conv_id").count()
    assert fr.where("count > 1").count() == 0
    assert out_re["features"].count() == out_clean["features"].count()
    # key-member counts did not double-count a1
    kc_re = out_re["key_counts"].agg(F.sum("members")).collect()[0][0]
    kc_clean = out_clean["key_counts"].agg(F.sum("members")).collect()[0][0]
    assert kc_re == kc_clean
    pd.testing.assert_frame_equal(
        _clusters_pd(out_re["clusters"]), _clusters_pd(out_clean["clusters"])
    )


def _norm(df) -> pd.DataFrame:
    pdf = df.toPandas()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            # array columns (the pair list's key arrays) aren't sortable
            pdf[c] = pdf[c].map(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _split_feats(turns, cfg):
    """(base, increment) feature frames of a corpus split by conv_id
    hash parity."""
    from pipeline.canonicalize import canonicalize
    from pipeline.features import featurize

    parity = F.crc32(F.col("conv_id").cast("binary")) % 2
    return (
        featurize(canonicalize(turns.where(parity == 0)), cfg),
        featurize(canonicalize(turns.where(parity == 1)), cfg),
    )


def test_committed_key_state_matches_union(spark, hot_corpus):
    """incremental_candidate_pairs over committed base keys+counts and
    the increment must rebuild EXACTLY the union's blocking state, and
    its member cap must agree with capped_key_table(union) — including
    when hot-key caps BIND (the hot_corpus fixture plants 90 hot-key
    convs): the coin depends only on (conv_id, key) and merged counts
    equal union counts. Anchors disabled: live-df anchors are the one
    non-doc-local family (covered by the frozen-df theorem test)."""
    from dataclasses import replace

    from pipeline.blocking import (
        _cap_members,
        capped_key_table,
        key_table_with_counts,
    )
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1)
    turns = spark.createDataFrame(hot_corpus.turns)
    base_feats, new_feats = _split_feats(turns, cfg)
    feats_all = base_feats.unionByName(new_feats)

    kept_u, audit_u = capped_key_table(feats_all, cfg)
    keys_u, counts_u = key_table_with_counts(feats_all, cfg)
    ek, ec = key_table_with_counts(base_feats, cfg)
    _, audit_s, _, _, keys_s, counts_s, _ = incremental_candidate_pairs(
        new_feats, ek, ec, cfg
    )

    a_u, a_s = _norm(audit_u), _norm(audit_s)
    assert len(a_u) > 0, "fixture produced no hot keys — caps never bound"
    pd.testing.assert_frame_equal(a_u, a_s)
    pd.testing.assert_frame_equal(_norm(keys_u), _norm(keys_s))
    pd.testing.assert_frame_equal(_norm(counts_u), _norm(counts_s))
    pd.testing.assert_frame_equal(
        _norm(kept_u), _norm(_cap_members(keys_s, counts_s, cfg)[0])
    )


def test_derived_key_state_equals_explicit(spark, hot_corpus):
    """incremental_link without committed keys derives them from the
    committed features, with anchors pinned to token_df over existing ∪
    increment; the result must equal a step given exactly that state
    explicitly — hot caps binding, anchors and the hot-key star on."""
    from dataclasses import replace

    from pipeline.blocking import key_table_with_counts, token_df
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(DEFAULT_CONFIG, hot_key_star=True)
    assert cfg.anchor_max_df >= 2
    turns = spark.createDataFrame(hot_corpus.turns)
    parity = F.crc32(F.col("conv_id").cast("binary")) % 2
    base_plan = build_plan(turns.where(parity == 0), cfg)
    base_clusters, _ = cluster_edges(
        base_plan["edges"], base_plan["features"]
    )
    base_feats = base_plan["features"].localCheckpoint(eager=True)
    base_clusters = base_clusters.localCheckpoint(eager=True)
    _, inc_feats = _split_feats(turns, cfg)
    inc_turns = turns.where(parity == 1)
    snapshot = token_df(base_feats.unionByName(inc_feats), cfg)
    ek, ec = key_table_with_counts(base_feats, cfg, snapshot)

    derived = incremental_link(base_feats, base_clusters, inc_turns, cfg)
    explicit = incremental_link(
        base_feats, base_clusters, inc_turns, cfg, anchor_df=snapshot,
        existing_keys=ek, existing_key_counts=ec,
    )
    assert derived["hot_key_audit"].count() > 0, "caps never bound"
    for k in ("clusters", "keys", "key_counts"):
        pd.testing.assert_frame_equal(
            _norm(derived[k]), _norm(explicit[k]), obj=k
        )


def test_hot_list_over_driver_limit_matches_pinned(
    spark, hot_corpus, monkeypatch
):
    """Past ``_DRIVER_HOT_LIMIT`` scoped hot keys (a backfill-sized
    increment) the hub and star plans stay distributed instead of being
    pulled to the driver; pairs and every audit must equal the
    driver-pinned branch, and their plans must stay as short: the hub
    and star tables are leaves there too, not cached lineages that every
    action re-renders (those rendered ~4x longer on this fixture)."""
    from dataclasses import replace

    import pipeline.incremental as incremental_mod
    from pipeline.blocking import key_table_with_counts
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1, hot_key_star=True)
    turns = spark.createDataFrame(hot_corpus.turns)
    base_feats, new_feats = _split_feats(turns, cfg)
    ek, ec = key_table_with_counts(base_feats, cfg)

    pulls = []
    real_local_frame = incremental_mod.local_frame

    def _count_driver_pull(*a, **kw):
        pulls.append(1)
        return real_local_frame(*a, **kw)

    monkeypatch.setattr(incremental_mod, "local_frame", _count_driver_pull)
    pinned = incremental_candidate_pairs(new_feats, ek, ec, cfg)[:4]
    assert pulls, "the increment's scoped hot list came out empty"

    def _no_driver_pull(*a, **kw):
        raise AssertionError("over the limit the hot list stays distributed")

    monkeypatch.setattr(incremental_mod, "_DRIVER_HOT_LIMIT", 0)
    monkeypatch.setattr(incremental_mod, "local_frame", _no_driver_pull)
    distributed = incremental_candidate_pairs(new_feats, ek, ec, cfg)[:4]
    names = ("pairs", "hot_key_audit", "pair_cap_audit", "cap_risk_audit")
    for name, got, want in zip(names, distributed, pinned):
        pd.testing.assert_frame_equal(_norm(got), _norm(want), obj=name)

    # the session caps plan strings at 1 MB; lift it so lengths are exact
    spark.conf.set("spark.sql.maxPlanStringLength", str(256 * 1024 * 1024))
    try:
        for name, got, want in zip(names, distributed, pinned):
            got_len, want_len = (
                len(df._jdf.queryExecution().executedPlan().toString())
                for df in (got, want)
            )
            assert got_len <= 1.25 * want_len, (name, got_len, want_len)
    finally:
        spark.conf.set("spark.sql.maxPlanStringLength", "1048576")


def test_incremental_key_join_broadcasts_new_side(spark, turns_df):
    """The restricted candidate join must broadcast the (small) new-key
    side — the corpus key table streams map-side, no corpus self-join
    and no shuffle of the big side."""
    from dataclasses import replace

    from pipeline.blocking import key_table_with_counts
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1)
    base_feats, new_feats = _split_feats(turns_df, cfg)
    ek, ec = key_table_with_counts(base_feats, cfg)
    pairs = incremental_candidate_pairs(new_feats, ek, ec, cfg)[0]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_committed_state_mode_requires_pinned_anchors(spark, turns_df):
    """Committed-state mode with anchors ENABLED and no anchor_df must
    fail loudly: increment-local document frequencies would mint bogus
    'rare' anchors for corpus-common tokens and merge_key_state would
    fold those keys into the committed counts permanently (round-5
    review finding)."""
    from dataclasses import replace

    from pipeline.blocking import key_table_with_counts, token_df
    from pipeline.config import DEFAULT_CONFIG

    cfg = DEFAULT_CONFIG  # anchors ON (anchor_max_df >= 2)
    base_feats, inc_feats = _split_feats(turns_df, cfg)
    snapshot = token_df(base_feats, cfg).localCheckpoint(eager=True)
    ek, ec = key_table_with_counts(base_feats, cfg, snapshot)

    with pytest.raises(ValueError, match="anchor"):
        incremental_candidate_pairs(inc_feats, ek, ec, cfg)
    # pinned or disabled: both fine
    incremental_candidate_pairs(inc_feats, ek, ec, cfg, anchor_df=snapshot)
    cfg_off = replace(cfg, anchor_max_df=1)
    ek2, ec2 = key_table_with_counts(base_feats, cfg_off)
    incremental_candidate_pairs(inc_feats, ek2, ec2, cfg_off)


def test_cap_risk_audit_survives_mega_member_counts(spark, turns_df):
    """C(members, 2) for a key with >3e9 members overflows 64-bit long
    arithmetic (wrapping negative in non-ANSI mode) — which would drop
    exactly the most degenerate key from the conservative cap-risk audit.
    Inject a committed count of 4e9 members and assert the key still
    surfaces with a positive potential_pairs."""
    from dataclasses import replace

    from pipeline.blocking import key_table_with_counts
    from pipeline.config import DEFAULT_CONFIG

    cfg = replace(DEFAULT_CONFIG, anchor_max_df=1)  # anchors off
    base_feats, inc_feats = _split_feats(turns_df, cfg)
    ek, ec = key_table_with_counts(base_feats, cfg)
    # synthetic committed mega-key: a key value no real doc hashes to
    mega = spark.createDataFrame(
        [(1, -987654321098765432, 4_000_000_000)],
        "family int, key long, members long",
    )
    ec = ec.unionByName(mega)

    out = incremental_candidate_pairs(inc_feats, ek, ec, cfg)
    cap_risk = out[3].where(F.col("key") == -987654321098765432).collect()
    assert len(cap_risk) == 1, "mega-key missing from cap_risk_audit"
    row = cap_risk[0]
    assert row["potential_pairs"] > 0
    # 4e9 * (4e9 - 1) / 2 ~= 8e18 — double precision, then long cast
    assert abs(row["potential_pairs"] - 7.999999998e18) < 1e13
