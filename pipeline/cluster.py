"""Stage 5 — transitive clustering: connected components on matched pairs.

The reference emits a best single match per query
(``optimized.py:798-801``); the north rule additionally requires entity
CLUSTERS — the transitive closure of the match relation. We use the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — pure DataFrame
groupBy+join rounds, converges in O(log n) iterations:

  large-star: for each node u, attach every neighbor v > u to
              m = min(N(u) ∪ {u})
  small-star: orient edges to (u, v<u); attach v and u to m = min(N(u) ∪ {u})

Each iteration is ``localCheckpoint``-ed (eager) to cut lineage — without
it the iterated plan grows exponentially (SURVEY.md §4.2). Convergence =
edge multiset stable (count + modular-sum + 64-bit-xor signature, all
computed in one action — see ``_checksum`` for the collision budget).
Works directly on string conv_ids (min = lexicographic).

Output: clusters(conv_id, entity_id) where entity_id = min conv_id of the
component — matching FIXTURES.md §3. Singletons keep themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pipeline.session import local_frame


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (u > v) orientation, self-loops out."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """edges oriented (u>v) -> large-star step, returns (u>v) edges."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """edges oriented (u>v) -> small-star step, returns (u>v) edges."""
    m = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbr_edges = (
        edges.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = m.select("u", F.col("m").alias("v"))
    return (
        nbr_edges.union(self_edges)
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int, int]:
    # Order-insensitive content signature: (count, modular SUM, full-width
    # XOR) of per-edge hashes, ONE aggregation. Convergence is declared on
    # signature equality between rounds, so signature width is a
    # correctness parameter, not hygiene: a collision between two
    # DIFFERENT consecutive edge sets would exit the loop before the
    # fixpoint and silently split components. Count+sum alone leave
    # ~2^-30 of independent state; the xor adds an independent 64-bit
    # channel (sum tracks multiset content mod p, xor tracks parity
    # structure), pushing a simultaneous collision past 2^-90 — smaller
    # than a cosmic-ray bitflip, without the extra exceptAll shuffle an
    # exact set-equality round would cost. pmod keeps the ANSI-mode sum
    # far from long overflow (< 2^63 even at ~9e9 edges); xor cannot
    # overflow by construction.
    h = F.xxhash64("u", "v")
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(h, F.lit(1_000_000_007))), F.lit(0)).alias(
            "s"
        ),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["s"]), int(row["x"])


def _driver_union_find(rows: list) -> list[tuple[str, str]]:
    """Union-find with path compression over collected (u, v) edge
    pairs; returns (conv_id, entity_id = min member of its component)
    for every node that appears in an edge. min() on Python strings ==
    Spark's string ordering for the ASCII ids this pipeline produces.
    ``rows`` is any iterable of (u, v) 2-sequences (plain tuples from
    the Arrow transfer in ``connected_components``)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union toward the smaller id: the root IS the min member
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def _pulled_checksum(h) -> tuple[int, int, int]:
    """``_checksum`` recomputed on the driver from the pulled per-edge
    ``xxhash64(u, v)`` values: the same count, the same int64 sum of
    ``pmod(h, 1e9+7)`` (numpy's ``mod`` takes the divisor's sign, as
    ``pmod`` does) and the same 64-bit xor, so the metric is bit-equal
    to the distributed loop's."""
    import numpy as np

    h = np.asarray(h, dtype=np.int64)
    s = int(np.mod(h, np.int64(1_000_000_007)).sum(dtype=np.int64))
    return len(h), s, int(np.bitwise_xor.reduce(h))


def _driver_clusters(
    spark, pulled, all_nodes: DataFrame | None
) -> tuple[DataFrame, list[dict]]:
    """The driver fast path over a pulled Arrow table of canonical
    ``(u, v, h)`` edges: union-find labels as a local relation, plus the
    singletons of ``all_nodes``, and the one-entry metrics list."""
    n, s, _ = _pulled_checksum(pulled.column("h").to_numpy())
    metrics = [
        {"iteration": 0, "edges": n, "checksum": s,
         "mode": "driver_union_find"}
    ]
    mapping = _driver_union_find(
        zip(pulled.column("u").to_pylist(), pulled.column("v").to_pylist())
    )
    # a plain local-list createDataFrame pickles and converts row-by-row
    # on the driver (~0.3-1.1s at a few thousand rows, measured round 6)
    # and plans a Python-worker scan; the Arrow table enters the JVM as a
    # local relation
    clusters = local_frame(spark, mapping, "conv_id string, entity_id string")
    if all_nodes is not None:
        # broadcast the mapping side explicitly: it is bounded by
        # 2x driver_threshold rows (it came off the driver), and
        # without the hint the anti-join plans a shuffle of
        # all_nodes — the corpus side — on its first AQE pass
        singletons = (
            all_nodes.select("conv_id")
            .join(
                F.broadcast(clusters.select("conv_id")), "conv_id", "left_anti"
            )
            .withColumn("entity_id", F.col("conv_id"))
        )
        clusters = clusters.union(singletons)
    return clusters, metrics


def connected_components(
    edges: DataFrame,
    all_nodes: DataFrame | None = None,
    max_iterations: int = 25,
    driver_threshold: int = 200_000,
) -> tuple[DataFrame, list[dict]]:
    """edges(src, dst) -> (clusters(conv_id, entity_id), iteration metrics).

    ``all_nodes`` (single column ``conv_id``) adds singleton nodes that
    appear in no edge.

    Small graphs take a DRIVER union-find fast path in ONE Spark action:
    one Arrow pull of ``(u, v, xxhash64(u, v))`` over at most
    ``driver_threshold + 1`` canonical edges. If the pull fits (200k
    edges ~ a few MB), union-find solves it in microseconds and the
    ``(edges, checksum)`` metric comes from the pulled hashes
    (``_pulled_checksum``), skipping the iterative loop whose per-round
    job overhead dominates small graphs (measured: an incremental step's
    contracted graph of a few thousand edges cost 4-8s in star-round
    scheduling alone — round-4 profiling). The INCREMENTAL path's
    contracted graph is increment-bounded, so production increments live
    under the threshold by construction; a 100-TB batch run's edge list
    overflows the pull and takes the distributed alternating-star loop.
    Both paths produce the IDENTICAL labeling (entity_id = min member;
    pinned by tests/test_cluster.py running every case through both).
    ``driver_threshold=0`` disables the fast path (no pull is made).
    """
    canon = _canonical_edges(edges)
    if driver_threshold > 0:
        # Arrow transfer (guide: toPandas/toArrow is orders of magnitude
        # faster than the row path): a plain collect() pickles up to
        # driver_threshold Row objects one by one — seconds at the
        # 200k-edge limit. The limit bounds the pull even when the graph
        # is corpus-sized; one edge over means "take the loop". The pull
        # caches the canonical edges, so an overflowing graph does not
        # evaluate the edge lineage a second time for the loop.
        canon = canon.persist()
        pulled = (
            canon.select("u", "v", F.xxhash64("u", "v").alias("h"))
            .limit(driver_threshold + 1)
            .toArrow()
        )
        fits = pulled.num_rows <= driver_threshold
        cur = None if fits else canon.localCheckpoint(eager=True)
        canon.unpersist()
        if fits:
            return _driver_clusters(edges.sparkSession, pulled, all_nodes)
    else:
        cur = canon.localCheckpoint(eager=True)
    metrics: list[dict] = []
    prev_sig = _checksum(cur)
    converged = False
    for it in range(max_iterations):
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        sig = _checksum(nxt)
        metrics.append(
            {"iteration": it, "edges": sig[0], "checksum": sig[1]}
        )
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # The star extraction below is only valid at a fixpoint — reading
        # it from a non-converged edge set would silently split components
        # (nodes would take a non-root neighbor as their label). Fail
        # loudly; the caller retries with a higher budget. The SoCC'14
        # worst case is O(log^2 n) rounds, so pathological chain-shaped
        # graphs at extreme scale can legitimately need more than the
        # default 25.
        # metrics holds one (edges, checksum) per executed round —
        # prev_sig == sig here (the loop's last statement was the
        # prev_sig = sig handoff), so read the movement from metrics;
        # with max_iterations < 1 no round ran and there is no movement
        # to show (and `sig` would be unbound).
        tail = ""
        if len(metrics) >= 2:
            a, b = metrics[-2], metrics[-1]
            tail = (
                f" (last edge checksum still moving: "
                f"({a['edges']}, {a['checksum']}) -> "
                f"({b['edges']}, {b['checksum']}))"
            )
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iterations} alternating-star rounds{tail}; re-run "
            f"with a larger max_iterations"
        )

    # At the fixpoint every component is a star centered at its min node:
    # membership = the edge list itself (u -> root v) plus the roots.
    members = cur.select(
        F.col("u").alias("conv_id"), F.col("v").alias("entity_id")
    )
    roots = cur.select(F.col("v").alias("conv_id")).distinct().withColumn(
        "entity_id", F.col("conv_id")
    )
    clusters = members.union(roots)

    if all_nodes is not None:
        singletons = (
            all_nodes.select("conv_id")
            .join(clusters.select("conv_id"), "conv_id", "left_anti")
            .withColumn("entity_id", F.col("conv_id"))
        )
        clusters = clusters.union(singletons)
    return clusters, metrics
