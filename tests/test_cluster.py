"""Connected-components property tests (SURVEY.md §5.2 item 4):
valid partition, transitivity, permutation invariance, agreement with a
single-node union-find."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pipeline.cluster import connected_components


def _union_find(edges: list[tuple[str, str]], nodes: set[str]) -> dict[str, str]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min member id per component
    comp: dict[str, list[str]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        root = min(members)
        for m in members:
            out[m] = root
    return out


CASES = [
    # chains, triangles, stars, singletons
    ([("a", "b"), ("b", "c"), ("c", "d")], {"a", "b", "c", "d", "z"}),
    ([("a", "b"), ("c", "d"), ("b", "c")], {"a", "b", "c", "d"}),
    ([("n1", "n2"), ("n3", "n4"), ("n5", "n6"), ("n2", "n5")],
     {f"n{i}" for i in range(1, 8)}),
    ([], {"x", "y"}),
    ([("p", "q"), ("q", "p"), ("p", "p")], {"p", "q", "r"}),
]


# run every case through BOTH execution paths: the driver union-find
# fast path (default for small graphs) and the distributed alternating-
# star loop (driver_threshold=0 disables the fast path)
THRESHOLDS = [200_000, 0]


def _n_canonical(edges: list[tuple[str, str]]) -> int:
    return len({(max(a, b), min(a, b)) for a, b in edges if a != b})


# ... and at the driver pull's boundary: a threshold of exactly the
# case's distinct-edge count stays on the driver, one less overflows the
# pull into the loop (a threshold that comes out 0 disables the pull)
@pytest.mark.parametrize("thr", THRESHOLDS + ["at_count", "below_count"])
@pytest.mark.parametrize("edges,nodes", CASES)
def test_cc_matches_union_find(spark, edges, nodes, thr):
    n_edges = _n_canonical(edges)
    if thr == "at_count":
        thr = n_edges
    elif thr == "below_count":
        thr = max(n_edges - 1, 0)
    e = spark.createDataFrame(
        pd.DataFrame(edges or [("_", "_")], columns=["src", "dst"])
    )
    if not edges:
        e = e.where(F.lit(False))
    n = spark.createDataFrame(pd.DataFrame({"conv_id": sorted(nodes)}))
    clusters, metrics = connected_components(e, all_nodes=n, driver_threshold=thr)
    got = {
        r["conv_id"]: r["entity_id"] for r in clusters.collect()
    }
    assert got == _union_find(edges, nodes)
    took_fast = any(m.get("mode") == "driver_union_find" for m in metrics)
    assert took_fast == (0 < thr and n_edges <= thr), metrics


def test_cc_driver_checksum_equals_distributed_checksum(spark):
    """The driver path's ``(edges, checksum)`` metric, computed from the
    pulled per-edge hashes, equals ``_checksum`` of the same canonical
    edges — count, modular sum and xor alike."""
    import random

    from pipeline.cluster import _canonical_edges, _checksum, _pulled_checksum

    rng = random.Random(23)
    names = [f"h{i:05d}" for i in range(20_000)]
    edges = [(rng.choice(names), rng.choice(names)) for _ in range(20_000)]
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    canon = _canonical_edges(e)
    want = _checksum(canon)
    assert want[0] == _n_canonical(edges)
    hashes = canon.select(F.xxhash64("u", "v").alias("h")).toPandas()["h"]
    assert _pulled_checksum(hashes.to_numpy()) == want
    _, metrics = connected_components(e)
    assert metrics[0]["mode"] == "driver_union_find"
    assert (metrics[0]["edges"], metrics[0]["checksum"]) == want[:2]


@pytest.mark.parametrize("thr", THRESHOLDS)
def test_cc_long_chain(spark, thr):
    """Chain of 40 nodes — exercises O(log n) convergence + checkpoints."""
    names = [f"c{i:03d}" for i in range(40)]
    edges = list(zip(names, names[1:]))
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    clusters, metrics = connected_components(e, driver_threshold=thr)
    got = clusters.toPandas()
    assert set(got["entity_id"]) == {"c000"}
    assert len(got) == 40
    assert len(metrics) <= 10  # log-ish, not linear


@pytest.mark.parametrize("thr", THRESHOLDS)
def test_cc_permutation_invariance(spark, thr):
    import random

    rng = random.Random(5)
    names = [f"v{i:02d}" for i in range(30)]
    edges = [(rng.choice(names), rng.choice(names)) for _ in range(25)]
    base = None
    for seed in [1, 2]:
        shuffled = edges[:]
        random.Random(seed).shuffle(shuffled)
        shuffled = [(b, a) if seed == 2 else (a, b) for a, b in shuffled]
        e = spark.createDataFrame(pd.DataFrame(shuffled, columns=["src", "dst"]))
        n = spark.createDataFrame(pd.DataFrame({"conv_id": names}))
        clusters, _ = connected_components(
            e, all_nodes=n, driver_threshold=thr
        )
        got = sorted(map(tuple, clusters.collect()))
        if base is None:
            base = got
        else:
            assert got == base


def test_cc_both_paths_identical_on_random_graph(spark):
    """The driver fast path and the distributed loop must agree label-
    for-label on a random graph with chains, cliques and singletons."""
    import random

    rng = random.Random(17)
    names = [f"g{i:03d}" for i in range(200)]
    edges = [(rng.choice(names), rng.choice(names)) for _ in range(150)]
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    n = spark.createDataFrame(pd.DataFrame({"conv_id": names}))
    fast, fm = connected_components(e, all_nodes=n)
    slow, sm = connected_components(e, all_nodes=n, driver_threshold=0)
    assert any(m.get("mode") == "driver_union_find" for m in fm)
    assert not any(m.get("mode") == "driver_union_find" for m in sm)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


def test_cluster_agreement_vs_ground_truth(spark, turns_df, corpus):
    """End-to-end cluster quality vs generator ground truth (pairwise
    co-cluster F1) — the cluster-level analogue of the pairwise gate."""
    from pipeline.evaluate import cluster_agreement
    from pipeline.linkage import build_plan, cluster_edges

    plan = build_plan(turns_df)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])
    expected = spark.createDataFrame(corpus.expected_clusters)
    m = cluster_agreement(clusters, expected)
    assert m["f1"] >= 0.93, m


def test_cluster_partition_validity(spark, turns_df, corpus):
    """Full-pipeline clusters: every conv exactly once; transitivity via
    union-find agreement on the matched edges."""
    from pipeline.linkage import build_plan, cluster_edges

    plan = build_plan(turns_df)
    clusters, _ = cluster_edges(plan["edges"], plan["features"])
    got = clusters.toPandas()
    n_docs = corpus.turns["conv_id"].nunique()
    assert len(got) == n_docs
    assert got["conv_id"].is_unique

    edges = [
        (r["src"], r["dst"]) for r in plan["edges"].collect()
    ]
    want = _union_find(edges, set(corpus.conv_meta["conv_id"]))
    assert dict(zip(got["conv_id"], got["entity_id"])) == want


def test_cc_non_convergence_raises_not_silent(spark):
    """An exhausted iteration budget must raise, never return: the star
    extraction is only valid at a fixpoint, and reading it early silently
    splits components (round-5 review finding). A 40-node chain cannot
    converge-and-confirm within one round."""
    names = [f"c{i:03d}" for i in range(40)]
    edges = list(zip(names, names[1:]))
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, driver_threshold=0, max_iterations=1)


def test_cc_non_convergence_message_shows_movement(spark):
    """The non-convergence diagnostic must show two DIFFERENT checksums
    (round-5 review: the loop's prev_sig = sig handoff used to make the
    message print 'X -> X', hiding the movement it claims to report)."""
    import re

    names = [f"m{i:03d}" for i in range(40)]
    edges = list(zip(names, names[1:]))
    e = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    with pytest.raises(RuntimeError, match="still moving") as ei:
        connected_components(e, driver_threshold=0, max_iterations=2)
    pair = re.search(r"\((\d+), (\d+)\) -> \((\d+), (\d+)\)", str(ei.value))
    assert pair is not None, str(ei.value)
    assert pair.group(1, 2) != pair.group(3, 4), (
        "message must show the checksum actually moving"
    )


def test_cc_zero_iteration_budget_raises_cleanly(spark):
    """max_iterations=0 must raise the RuntimeError, not NameError on the
    unbound loop variable (round-5 review)."""
    e = spark.createDataFrame(
        pd.DataFrame([("a", "b")], columns=["src", "dst"])
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, driver_threshold=0, max_iterations=0)
