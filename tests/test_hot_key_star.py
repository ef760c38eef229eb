"""Star-preserving MEMBER cap (round-5): a mega-duplicate group under a
binding hot-key cap must still resolve to ONE entity.

The plain coin cap keeps ~block_key_cap members per hot key and silently
disconnects every other member (no kept pair touches them) — a true
20k-member boilerplate group shatters into singletons. ``hot_key_star``
force-keeps each hot key's minimum member (hub) and emits one
(hub, dropped-member) star edge per dropped member: pair volume stays
linear, connectivity stays one hop. These tests pin both behaviors, the
pandas-twin parity of the new rule, and the incremental path.
"""

from __future__ import annotations

import random
import string
from dataclasses import replace
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline.blocking import candidate_pairs
from pipeline.canonicalize import canonicalize
from pipeline.config import DEFAULT_CONFIG
from pipeline.features import featurize
from pipeline.linkage import build_plan, cluster_edges

N_MEGA = 150
CFG_STAR = replace(
    DEFAULT_CONFIG, block_key_cap=16, pairs_per_key_cap=10, hot_key_star=True
)
CFG_PLAIN = replace(CFG_STAR, hot_key_star=False)


def _mega_turns() -> pd.DataFrame:
    """150 byte-identical boilerplate convs (one true entity) + 40
    unrelated convs with distinct random-token texts."""
    rows = []
    ts0 = datetime(2025, 1, 1)
    boiler = [
        "please reset my password for the billing portal",
        "sure i can help with that let me look it up",
        "thanks that worked perfectly goodbye",
    ]
    for i in range(N_MEGA):
        cid = f"meg{i:05d}"
        for t, txt in enumerate(boiler):
            rows.append(
                (cid, t, ["user", "assistant"][t % 2], txt, None,
                 ts0 + timedelta(minutes=i, seconds=t))
            )
    rng = random.Random(5)
    for i in range(40):
        cid = f"oth{i:05d}"
        for t in range(3):
            txt = " ".join(
                "".join(rng.choice(string.ascii_lowercase) for _ in range(7))
                for _ in range(9)
            )
            rows.append(
                (cid, t, ["user", "assistant"][t % 2], txt, None,
                 ts0 + timedelta(minutes=1000 + i, seconds=t))
            )
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


@pytest.fixture(scope="module")
def mega_feats(spark):
    turns = spark.createDataFrame(_mega_turns())
    return featurize(canonicalize(turns)).localCheckpoint(eager=True)


def _n_entities(clusters, prefix: str) -> int:
    return (
        clusters.where(F.col("conv_id").startswith(prefix))
        .select("entity_id")
        .distinct()
        .count()
    )


def test_plain_member_cap_shatters_mega_group(spark, mega_feats):
    """Documents the failure mode the star rule fixes: with the plain
    coin cap, most of the 150 members lose every key and become
    singletons."""
    pairs, audit = candidate_pairs(mega_feats, CFG_PLAIN)
    assert audit.count() > 0  # caps bind
    from pipeline.scoring import score_pairs

    scored = score_pairs(mega_feats, pairs, CFG_PLAIN)
    edges = scored.where("is_match").select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    clusters, _ = cluster_edges(edges, mega_feats)
    # each key family keeps an independent ~16-member coin subset, so
    # family-union connectivity merges some fragments — but the group
    # still shatters into dozens of entities instead of ONE
    assert _n_entities(clusters, "meg") > 25


def test_star_cap_keeps_mega_group_one_entity(spark, mega_feats):
    """With hot_key_star: same binding caps, but the 150-member group
    resolves to ONE entity, pair volume stays linear, and both audits
    are non-empty."""
    pairs, audit, pair_audit = candidate_pairs(
        mega_feats, CFG_STAR, return_pair_audit=True
    )
    audit_pd = audit.toPandas()
    assert (audit_pd["members"] >= N_MEGA).any()
    assert pair_audit.count() > 0
    mega_pairs = pairs.where(
        F.col("conv_id_a").startswith("meg")
        & F.col("conv_id_b").startswith("meg")
    ).count()
    # linear in members (hub star + capped clique), FAR below the
    # uncapped 150*149/2 = 11175
    assert N_MEGA - 1 <= mega_pairs <= 4 * N_MEGA

    from pipeline.scoring import score_pairs

    scored = score_pairs(mega_feats, pairs, CFG_STAR)
    edges = scored.where("is_match").select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    clusters, _ = cluster_edges(edges, mega_feats)
    assert _n_entities(clusters, "meg") == 1
    # unrelated convs stay out of the mega entity
    mega_entity = (
        clusters.where(F.col("conv_id") == "meg00000")
        .select("entity_id")
        .first()[0]
    )
    others = clusters.where(
        F.col("conv_id").startswith("oth")
        & (F.col("entity_id") == mega_entity)
    ).count()
    assert others == 0

    # a bucket holding a null id_a row: nulls sort FIRST, and the star
    # must still hang off the bucket's minimum non-null member instead
    # of degrading to a bare cap
    from pipeline.blocking import star_pair_flag

    raw = spark.createDataFrame(
        [("k", None, "x"), ("k", "a", "b"), ("k", "a", "c"),
         ("k", "a", "d"), ("k", "b", "c")],
        "key string, id_a string, id_b string",
    )
    kept = star_pair_flag(raw, ["key"], "id_a", "id_b", 1).where("_keep")
    assert {(r["id_a"], r["id_b"]) for r in kept.collect()} == {
        (None, "x"), ("a", "b"), ("a", "c"), ("a", "d"),
    }


def test_star_blocking_matches_pandas_twin(spark, mega_feats):
    """The star rule must not drift between engines: Spark
    candidate_pairs == the pandas twin (pair set AND family sets) on a
    corpus where the member cap binds."""
    from pipeline.twin import blocking_pairs_pd

    docs_pd = mega_feats.select(
        "conv_id", "norm_text", "roles_sig"
    ).toPandas()
    want = blocking_pairs_pd(docs_pd, CFG_STAR)
    got = (
        candidate_pairs(mega_feats, CFG_STAR)[0]
        .select("conv_id_a", "conv_id_b", "families")
        .toPandas()
        .sort_values(["conv_id_a", "conv_id_b"])
        .reset_index(drop=True)
    )
    want = want.sort_values(["conv_id_a", "conv_id_b"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    assert (got["conv_id_a"] == want["conv_id_a"]).all()
    assert (got["conv_id_b"] == want["conv_id_b"]).all()
    assert all(
        list(a) == list(b) for a, b in zip(got["families"], want["families"])
    )


def test_star_cap_incremental_keeps_group_connected(spark):
    """Incremental path: new members of an already-hot key are coin-
    dropped but still reach the committed entity through restricted star
    edges."""
    from pipeline.blocking import key_table_with_counts, token_df
    from pipeline.incremental import incremental_link

    t = _mega_turns()
    base_ids = {f"meg{i:05d}" for i in range(100)} | {
        f"oth{i:05d}" for i in range(40)
    }
    base = t[t["conv_id"].isin(base_ids)]
    inc = t[~t["conv_id"].isin(base_ids)]

    base_turns = spark.createDataFrame(base)
    plan = build_plan(base_turns, CFG_STAR)
    clusters0, _ = cluster_edges(plan["edges"], plan["features"])
    # committed-state mode requires pinned anchors (CFG_STAR inherits the
    # default anchor_max_df) — freeze df over the base, feed it to both
    # the committed key build and the increment
    snapshot = token_df(plan["features"], CFG_STAR).localCheckpoint(
        eager=True
    )
    keys, counts = key_table_with_counts(plan["features"], CFG_STAR, snapshot)
    feats0 = plan["features"].localCheckpoint(eager=True)
    clusters0 = clusters0.localCheckpoint(eager=True)
    keys = keys.localCheckpoint(eager=True)
    counts = counts.localCheckpoint(eager=True)
    assert _n_entities(clusters0, "meg") == 1

    out = incremental_link(
        feats0,
        clusters0,
        spark.createDataFrame(inc),
        CFG_STAR,
        anchor_df=snapshot,
        existing_keys=keys,
        existing_key_counts=counts,
    )
    assert _n_entities(out["clusters"], "meg") == 1
    assert out["clusters"].select("conv_id").distinct().count() == 190


def test_minhash_star_keeps_mega_bucket_connected(spark):
    """Dedup-family twin of the member-cap star rule: 200 boilerplate
    near-dup docs vs bucket_cap=16 — with hot_bucket_star the verified
    pair graph keeps the group in ONE connected component, volume stays
    linear, audit non-empty."""
    from pipeline.extras.dedup import minhash_lsh_pairs

    rng = random.Random(9)
    boiler = "subscribe to our newsletter for weekly updates and offers today"
    rows = []
    for i in range(200):
        t = boiler if i % 2 else boiler + " " + rng.choice("xyz")
        rows.append((i, t))
    for i in range(30):
        rows.append(
            (1000 + i, " ".join(
                "".join(rng.choice(string.ascii_lowercase) for _ in range(6))
                for _ in range(10)
            ))
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    pairs, audit = minhash_lsh_pairs(
        df, jaccard_threshold=0.5, bucket_cap=16,
        return_audit=True, hot_bucket_star=True,
    )
    assert audit.count() > 0
    got = pairs.toPandas()
    boiler_pairs = got[(got["doc_id_a"] < 1000) & (got["doc_id_b"] < 1000)]
    # linear, far below C(200, 2) = 19900
    assert len(boiler_pairs) <= 4 * 200, len(boiler_pairs)

    # union-find: the 200 boiler docs form ONE component
    parent = {i: i for i in range(200)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(boiler_pairs["doc_id_a"], boiler_pairs["doc_id_b"]):
        parent[find(int(b))] = find(int(a))
    assert len({find(i) for i in range(200)}) == 1
    # unrelated docs never pair with boiler
    cross = got[(got["doc_id_a"] < 1000) != (got["doc_id_b"] < 1000)]
    assert len(cross) == 0


def test_simhash_star_keeps_mega_bucket_connected(spark):
    from pipeline.extras.dedup import simhash_dedup_pairs

    words = "alpha bravo charlie delta echo foxtrot golf hotel india".split()
    rows = [(i, " ".join(words * 3)) for i in range(150)]
    rng = random.Random(3)
    for i in range(30):
        rows.append(
            (1000 + i, " ".join(
                "".join(rng.choice(string.ascii_uppercase) for _ in range(8))
                for _ in range(12)
            ))
        )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    pairs, audit = simhash_dedup_pairs(
        df, max_hamming=8, bucket_cap=16,
        return_audit=True, hot_bucket_star=True,
    )
    assert audit.count() > 0
    got = pairs.toPandas()
    bp = got[(got["doc_id_a"] < 1000) & (got["doc_id_b"] < 1000)]
    assert len(bp) <= 5 * 150

    parent = {i: i for i in range(150)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(bp["doc_id_a"], bp["doc_id_b"]):
        parent[find(int(b))] = find(int(a))
    assert len({find(i) for i in range(150)}) == 1


def _embedding_corpus() -> pd.DataFrame:
    """200 identical unit embeddings (one true semantic-dup group — an
    exact dup lands in the SAME bucket in EVERY table, the worst case for
    a member cap) + 30 random unit vectors."""
    import math

    rng = random.Random(17)
    dim = 16
    boiler = [1.0 if d == 0 else 0.0 for d in range(dim)]
    rows = [(i, boiler) for i in range(200)]
    for i in range(30):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        rows.append((1000 + i, [x / n for x in v]))
    return pd.DataFrame(rows, columns=["vec_id", "embedding"])


def _components(pairs_pd, ids) -> int:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs_pd["doc_id_a"], pairs_pd["doc_id_b"]):
        if int(a) in parent and int(b) in parent:
            parent[find(int(b))] = find(int(a))
    return len({find(i) for i in ids})


def test_embedding_star_keeps_mega_bucket_connected(spark):
    """Embedding-leg twin of the member-cap star rule (round-5): 200
    identical embeddings vs bucket_cap=16 — with hot_bucket_star the
    cosine-verified pair graph keeps the group in ONE component with
    linear volume; the plain coin cap shatters it."""
    from pipeline.extras.similarity import embedding_near_dup_pairs

    df = spark.createDataFrame(_embedding_corpus())

    pairs, audit = embedding_near_dup_pairs(
        df, n_dims=16, cosine_threshold=0.95, bucket_cap=16,
        id_col="vec_id", return_audit=True, hot_bucket_star=True,
    )
    assert audit.count() > 0
    got = pairs.toPandas()
    bp = got[(got["doc_id_a"] < 1000) & (got["doc_id_b"] < 1000)]
    # linear, far below C(200, 2) = 19900
    assert len(bp) <= 5 * 200, len(bp)
    assert _components(bp, range(200)) == 1
    # random vectors never cosine-verify against the boiler vector
    cross = got[(got["doc_id_a"] < 1000) != (got["doc_id_b"] < 1000)]
    assert len(cross) == 0

    # WITHOUT the star rule the same corpus shatters: members coin-capped
    # out of every table's hot bucket keep no edges at all
    plain = embedding_near_dup_pairs(
        df, n_dims=16, cosine_threshold=0.95, bucket_cap=16,
        id_col="vec_id", hot_bucket_star=False,
    ).toPandas()
    bp_plain = plain[(plain["doc_id_a"] < 1000) & (plain["doc_id_b"] < 1000)]
    assert _components(bp_plain, range(200)) > 1


def test_semantic_dedup_star_one_group(spark):
    """End-to-end: semantic_dedup_groups with hot_bucket_star resolves
    the 200-member identical-embedding group to ONE group_id."""
    from pipeline.extras.similarity import semantic_dedup_groups

    df = spark.createDataFrame(_embedding_corpus())
    out = semantic_dedup_groups(
        df, n_dims=16, cosine_threshold=0.95, bucket_cap=16,
        hot_bucket_star=True,
    ).toPandas()
    boiler = out[out["vec_id"] < 1000]
    assert boiler["group_id"].nunique() == 1
    assert int(boiler["is_keeper"].sum()) == 1
    # singletons keep themselves
    others = out[out["vec_id"] >= 1000]
    assert (others["group_id"] == others["vec_id"]).all()
    assert others["is_keeper"].all()
