"""Decremental ER over CONTRACTED state
(``pipeline.incremental.retract_contracted``): deleting docs from
rep-only committed state must equal one plain batch run over the
remaining corpus — including REPRESENTATIVE PROMOTION (the removed doc
was a class rep with surviving signature twins: the class's feature/key
rows re-issue under the new class minimum and its committed edges
endpoint-rewrite, with ZERO re-scoring), whole-class removals that split
a bridged entity, and composition with ``incremental_link_contracted``.
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline.config import DEFAULT_CONFIG
from pipeline.incremental import incremental_link_contracted, retract_contracted
from pipeline.linkage import build_contracted_plan, build_plan, cluster_edges
from pipeline.session import release_caches

NOCAP = replace(
    DEFAULT_CONFIG,
    pairs_per_key_cap=1_000_000,
    block_key_cap=1_000_000,
    anchor_max_df=1,
)


@pytest.fixture(autouse=True)
def _release_caches_after_each_test():
    yield
    release_caches()


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


def _ids(spark, ids):
    return spark.createDataFrame(pd.DataFrame({"conv_id": list(ids)}))


def _batch_clusters(spark, turns, cfg):
    plan = build_plan(turns, cfg)
    full, _ = cluster_edges(plan["edges"], plan["features"])
    return _clusters_pd(full)


def _committed_contracted(spark, turns, cfg):
    """Contracted batch plan -> the committed-state tuple
    ``retract_contracted`` consumes (rep feats, clusters over ALL docs,
    dup_map, match edges, keys, counts)."""
    from pipeline.blocking import key_table_with_counts

    plan = build_contracted_plan(turns, cfg)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])
    keys, counts = key_table_with_counts(plan["rep_features"], cfg)
    return plan, clusters, keys, counts


# The retract-suite chain entity a1—a2—a3 (a2 the only bridge), with a2
# given an exact signature TWIN a2b — so a2 is the rep of class
# {a2, a2b} and the entity is {a1, a2, a2b, a3}.
_CHAIN_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_CHAIN_MID = _CHAIN_BASE + " lambda mu nu xi omicron"
_CHAIN_FAR = (
    _CHAIN_MID
    + " one two three four five six seven eight nine ten eleven"
    + " twelve thirteen fourteen fifteen sixteen seventeen"
)
CHAIN_ROWS = [
    ("a1", _CHAIN_BASE),
    ("a2", _CHAIN_MID),
    ("a2b", _CHAIN_MID),
    ("a3", _CHAIN_FAR),
    ("b1", "the quick brown fox jumps over the lazy dog today"),
    ("b2", "the quick brown fox jumps over the lazy dog toady"),
    ("s1", "completely unrelated singleton conversation text here"),
]


def test_member_removal_is_leaf_drop(spark):
    """Removing a collapsed MEMBER never splits or relabels anything
    else: members are star leaves."""
    turns = _turns(spark, CHAIN_ROWS)
    plan, clusters, keys, counts = _committed_contracted(spark, turns, NOCAP)
    pdc = _clusters_pd(clusters).set_index("conv_id")["entity_id"]
    assert pdc["a1"] == pdc["a2"] == pdc["a2b"] == pdc["a3"] == "a1", (
        "fixture must start as one chained entity with the twin inside"
    )

    out = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"],
        _ids(spark, ["a2b"]), NOCAP, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    want = _batch_clusters(
        spark, turns.where(F.col("conv_id") != "a2b"), NOCAP
    )
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))
    assert out["promotions"].count() == 0
    assert out["dup_map"].count() == 0
    # rep state untouched: the class rep a2 still carries the signature
    assert out["rep_features"].where("conv_id = 'a2'").count() == 1


def test_rep_removal_promotes_and_preserves_bridge(spark):
    """Removing the BRIDGE REP a2 while its twin a2b survives must
    PROMOTE a2b — feature/key rows re-issued under a2b, committed edges
    endpoint-rewritten — and the entity must NOT split (the promoted
    twin inherits the bridge role, exactly as a fresh batch over the
    survivors would score it)."""
    turns = _turns(spark, CHAIN_ROWS)
    plan, clusters, keys, counts = _committed_contracted(spark, turns, NOCAP)

    out = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"],
        _ids(spark, ["a2"]), NOCAP, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    want = _batch_clusters(spark, turns.where(F.col("conv_id") != "a2"), NOCAP)
    got = _clusters_pd(out["clusters"])
    pd.testing.assert_frame_equal(want, got)
    labels = got.set_index("conv_id")["entity_id"]
    assert labels["a1"] == labels["a2b"] == labels["a3"] == "a1", (
        "promotion must preserve the bridge: no split"
    )

    promos = out["promotions"].toPandas()
    assert promos.to_dict("records") == [{"old": "a2", "new_rep": "a2b"}]
    # the promoted feature row carries the class signature under a2b
    prom = out["promoted_features"].toPandas()
    assert list(prom["conv_id"]) == ["a2b"]
    rep_ids = {
        r["conv_id"] for r in out["rep_features"].select("conv_id").collect()
    }
    assert "a2" not in rep_ids and "a2b" in rep_ids
    # promotion is count-neutral: same keys, one rep out, one in
    got_counts = (
        out["key_counts"].toPandas()
        .sort_values(["family", "key"]).reset_index(drop=True)
    )
    want_counts = (
        counts.toPandas()
        .sort_values(["family", "key"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_counts, want_counts)
    # the rewritten star has no self-loop and no a2 endpoint
    edges = out["match_edges"].toPandas()
    assert not ((edges["src"] == "a2") | (edges["dst"] == "a2")).any()
    assert not (edges["src"] == edges["dst"]).any()


def test_whole_class_removal_splits_bridged_entity(spark):
    """Removing the ENTIRE bridge class {a2, a2b} must split a1 | a3 —
    the hard decremental case, now through the contracted path."""
    turns = _turns(spark, CHAIN_ROWS)
    plan, clusters, keys, counts = _committed_contracted(spark, turns, NOCAP)

    out = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"],
        _ids(spark, ["a2", "a2b"]), NOCAP, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    want = _batch_clusters(
        spark, turns.where(~F.col("conv_id").isin("a2", "a2b")), NOCAP
    )
    got = _clusters_pd(out["clusters"])
    pd.testing.assert_frame_equal(want, got)
    labels = got.set_index("conv_id")["entity_id"]
    assert labels["a1"] == "a1" and labels["a3"] == "a3", "must split"
    assert out["promotions"].count() == 0
    # the fully-removed class's keys decrement out of the counts
    fresh_keys_count = out["keys"].count()
    assert fresh_keys_count == keys.where("conv_id <> 'a2'").count()


def test_min_label_handoff_through_promotion(spark):
    """The removed rep carried the entity LABEL (class min == entity
    min): survivors must relabel to the new minimum."""
    rows = [
        ("a1", "omega psi chi phi upsilon tau sigma"),
        ("a2", "omega psi chi phi upsilon tau sigma"),
        ("a3", "omega psi chi phi upsilon tau sigmaXX"),
    ]
    turns = _turns(spark, rows)
    plan, clusters, keys, counts = _committed_contracted(spark, turns, NOCAP)
    out = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"],
        _ids(spark, ["a1"]), NOCAP, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    got = _clusters_pd(out["clusters"]).set_index("conv_id")["entity_id"]
    assert got["a2"] == got["a3"] == "a2"
    assert "a1" not in got.index


def test_retract_contracted_equals_batch_synth(spark, turns_df):
    """Synth-corpus equality: retracting a deterministic ~20% slice from
    contracted state == plain batch over the remainder, and the patched
    rep/key state == a fresh CONTRACTED rebuild over the survivors
    (same reps — promotion picks the same class minima — same keys;
    features equal up to the documented ``first_ts`` inheritance)."""
    from pipeline.blocking import key_table_with_counts

    cfg = NOCAP
    plan, clusters, keys, counts = _committed_contracted(spark, turns_df, cfg)

    doomed = F.crc32(F.col("conv_id").cast("binary")) % 5 == 0
    remove = turns_df.where(doomed).select("conv_id").distinct()
    out = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"], remove, cfg,
        match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    want = _batch_clusters(spark, turns_df.where(~doomed), cfg)
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))

    fresh_plan = build_contracted_plan(turns_df.where(~doomed), cfg)
    fresh_keys, fresh_counts = key_table_with_counts(
        fresh_plan["rep_features"], cfg
    )

    def _sorted(df, cols):
        pdf = df.select(cols).toPandas()
        for c in pdf.columns:
            if pdf[c].dtype == object:
                # array columns (tokens) aren't sortable as-is
                pdf[c] = pdf[c].map(str)
        return pdf.sort_values(cols).reset_index(drop=True)

    key_cols = ["family", "key", "conv_id"]
    pd.testing.assert_frame_equal(
        _sorted(out["keys"], key_cols), _sorted(fresh_keys, key_cols)
    )
    cnt_cols = ["family", "key", "members"]
    pd.testing.assert_frame_equal(
        _sorted(out["key_counts"], cnt_cols), _sorted(fresh_counts, cnt_cols)
    )
    feat_cols = sorted(
        c for c in fresh_plan["rep_features"].columns if c != "first_ts"
    )
    pd.testing.assert_frame_equal(
        _sorted(out["rep_features"], feat_cols),
        _sorted(fresh_plan["rep_features"], feat_cols),
    )
    dup_cols = ["conv_id", "rep_id"]
    pd.testing.assert_frame_equal(
        _sorted(out["dup_map"], dup_cols),
        _sorted(fresh_plan["dup_map"], dup_cols),
    )


def test_retract_contracted_then_increment_equals_batch(spark, turns_df):
    """Compose: retract a slice from contracted state, then run
    ``incremental_link_contracted`` with a NEW batch on the patched
    state — labels must equal one batch over (survivors ∪ new). This is
    the proof the promoted state is a coherent drop-in committed state:
    the promoted rep's signature must keep short-circuiting twins."""
    cfg = NOCAP
    slot = F.crc32(F.col("conv_id").cast("binary")) % 4
    committed_turns = turns_df.where(slot != 3)
    new_turns = turns_df.where(slot == 3)

    plan, clusters, keys, counts = _committed_contracted(
        spark, committed_turns, cfg
    )
    doomed = slot == 0
    remove = committed_turns.where(doomed).select("conv_id").distinct()
    rout = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"], remove, cfg,
        match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )

    out = incremental_link_contracted(
        rout["rep_features"], rout["clusters"], new_turns, cfg,
        existing_keys=rout["keys"], existing_key_counts=rout["key_counts"],
    )
    want = _batch_clusters(
        spark, turns_df.where((slot == 3) | ((slot != 3) & ~doomed)), cfg
    )
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))


def test_twin_of_promoted_signature_short_circuits(spark):
    """After promotion, an arriving twin of the promoted signature must
    still take the exact-dup short-circuit — against the NEW rep."""
    turns = _turns(spark, CHAIN_ROWS)
    plan, clusters, keys, counts = _committed_contracted(spark, turns, NOCAP)
    rout = retract_contracted(
        plan["rep_features"], clusters, plan["dup_map"],
        _ids(spark, ["a2"]), NOCAP, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    new_turns = _turns(spark, [("z9", _CHAIN_MID)])
    out = incremental_link_contracted(
        rout["rep_features"], rout["clusters"], new_turns, NOCAP,
        existing_keys=rout["keys"], existing_key_counts=rout["key_counts"],
    )
    dup = out["dup_assign"].toPandas()
    assert dup.to_dict("records") == [
        {"conv_id": "z9", "rep_id": "a2b", "hit": True}
    ], "the twin must hit the PROMOTED rep, not re-enter blocking"
    got = _clusters_pd(out["clusters"]).set_index("conv_id")["entity_id"]
    assert got["z9"] == got["a2b"] == got["a1"]
