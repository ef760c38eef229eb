"""Decremental ER (``pipeline.incremental.retract``): deleting docs from
committed state must equal one plain batch run over the remaining corpus
— including entity SPLITS (removed bridge doc) and min-id label handoffs
(removed label-carrier) — repaired from the committed match edges, and
compose with incremental_link.
"""

from __future__ import annotations

from dataclasses import replace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline.config import DEFAULT_CONFIG
from pipeline.incremental import incremental_link, retract
from pipeline.linkage import build_plan, cluster_edges
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


# A chain entity a1—a2—a3 where a2 is the ONLY bridge: twin-verified
# sim(a1,a2)=80 partial MATCH, sim(a2,a3)=59.9 fuzzy MATCH,
# sim(a1,a3)=46.1 ultra_fuzzy NON-match. Plus an untouched pair (b1, b2)
# and a singleton.
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
    ("a3", _CHAIN_FAR),
    ("b1", "the quick brown fox jumps over the lazy dog today"),
    ("b2", "the quick brown fox jumps over the lazy dog toady"),
    ("s1", "completely unrelated singleton conversation text here"),
]


def _committed(spark, rows, cfg):
    turns = _turns(spark, rows)
    plan = build_plan(turns, cfg)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])
    return turns, plan, clusters


def test_bridge_removal_splits_entity(spark):
    """Removing the bridge doc must SPLIT its entity — the hard
    decremental case local repairs get wrong."""
    turns, plan, clusters = _committed(spark, CHAIN_ROWS, NOCAP)
    pdc = _clusters_pd(clusters).set_index("conv_id")["entity_id"]
    assert pdc["a1"] == pdc["a2"] == pdc["a3"] == "a1", (
        "fixture must start as one chained entity"
    )

    want = _batch_clusters(
        spark, turns.where(F.col("conv_id") != "a2"), NOCAP
    )
    assert (
        want.set_index("conv_id")["entity_id"]["a3"] == "a3"
    ), "batch reference must show the split"

    out = retract(
        plan["features"], clusters, _ids(spark, ["a2"]), NOCAP,
        match_edges=plan["edges"],
    )
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))
    assert out["features"].where("conv_id = 'a2'").count() == 0


def test_min_label_handoff(spark):
    """Removing the min-id member re-labels the surviving entity to the
    NEW min (a1 carried the label; a2/a3 must re-label to a2)."""
    rows = [
        ("a1", "omega psi chi phi upsilon tau sigma"),
        ("a2", "omega psi chi phi upsilon tau sigma"),
        ("a3", "omega psi chi phi upsilon tau sigmaXX"),
    ]
    turns, plan, clusters = _committed(spark, rows, NOCAP)
    out = retract(
        plan["features"], clusters, _ids(spark, ["a1"]), NOCAP,
        match_edges=plan["edges"],
    )
    got = _clusters_pd(out["clusters"]).set_index("conv_id")["entity_id"]
    assert got["a2"] == got["a3"] == "a2"
    assert "a1" not in got.index


def test_retract_unknown_id_is_noop_on_labels(spark):
    turns, plan, clusters = _committed(spark, CHAIN_ROWS, NOCAP)
    out = retract(
        plan["features"], clusters, _ids(spark, ["nope"]), NOCAP,
        match_edges=plan["edges"],
    )
    pd.testing.assert_frame_equal(
        _clusters_pd(clusters), _clusters_pd(out["clusters"])
    )


def test_retract_equals_batch_synth(spark, turns_df):
    """Synth-corpus equality: retracting a deterministic ~20% slice ==
    plain batch over the remainder; keys/key_counts state stays
    consistent with a fresh rebuild over the survivors."""
    from pipeline.blocking import key_table_with_counts

    cfg = NOCAP
    plan = build_plan(turns_df, cfg)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])
    keys, counts = key_table_with_counts(plan["features"], cfg)

    doomed = F.crc32(F.col("conv_id").cast("binary")) % 5 == 0
    remove = turns_df.where(doomed).select("conv_id").distinct()
    want = _batch_clusters(spark, turns_df.where(~doomed), cfg)

    out = retract(
        plan["features"], clusters, remove, cfg, match_edges=plan["edges"],
        existing_keys=keys, existing_key_counts=counts,
    )
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))

    # key state after retraction == key state rebuilt from survivors
    fresh_keys, fresh_counts = key_table_with_counts(
        plan["features"].join(remove, "conv_id", "left_anti"), cfg
    )
    got_counts = (
        out["key_counts"].toPandas()
        .sort_values(["family", "key"]).reset_index(drop=True)
    )
    want_counts = (
        fresh_counts.toPandas()
        .sort_values(["family", "key"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_counts, want_counts)
    assert out["keys"].count() == fresh_keys.count()


def test_retract_then_increment_equals_batch(spark, turns_df):
    """Compose: retract a slice, then incrementally link a NEW batch on
    the retracted state — labels must equal one batch run over
    (remaining ∪ new). The returned state dict is drop-in committed
    state for ``incremental_link``."""
    cfg = NOCAP
    slot = F.crc32(F.col("conv_id").cast("binary")) % 4
    committed_turns = turns_df.where(slot != 3)
    new_turns = turns_df.where(slot == 3)

    plan = build_plan(committed_turns, cfg)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])

    doomed = slot == 0
    remove = committed_turns.where(doomed).select("conv_id").distinct()
    rout = retract(
        plan["features"], clusters, remove, cfg, match_edges=plan["edges"]
    )

    out = incremental_link(
        rout["features"], rout["clusters"], new_turns, cfg
    )
    want = _batch_clusters(
        spark, turns_df.where((slot == 3) | ((slot != 3) & ~doomed)), cfg
    )
    pd.testing.assert_frame_equal(want, _clusters_pd(out["clusters"]))

