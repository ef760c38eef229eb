"""Incremental linkage — link a NEW batch against committed cluster state.

Production entity resolution at 100 TB is incremental: a daily increment
of new conversations must be linked against billions of already-clustered
docs without rescoring the corpus. The reference works one query at a
time against a committed index (README.md:7-13 single/batch lookup;
SURVEY.md §2.1 S1/S2); the set-oriented recast restricts candidate
generation to pairs touching >= 1 NEW doc and contracts existing
components to their entity label before clustering.

Algorithm (all lazy DataFrame composition):

1. featurize the new turns; union with the committed features table.
2. capped key table over the UNION (same member caps as batch), built
   from the committed key table + member counts and the increment's own
   keys — the corpus is never re-exploded; candidate pairs = NEW-side
   keys equi-joined against the full key table. The big key table is
   streamed ONCE against the broadcast new-key table,
   so join cost scales with the increment, not corpus²: no corpus
   self-join anywhere. Pair dedup + the same star-preserving per-key pair
   cap as the batch path (``blocking.star_capped_pairs``).
3. score ONLY those pairs — via the ``match_only`` fast path (a cluster
   update needs edges, not audit histograms).
4. contract: each existing endpoint -> its entity_id, each new endpoint
   -> itself; connected components on the contracted graph (tiny: only
   affected components + new docs); broadcast-relabel touched entities,
   assign new docs, leave untouched entity rows alone (they never enter
   a shuffle or a kernel).

Equivalence: when no member/pair cap binds (both audits empty), the
result is IDENTICAL to a full batch run over the union corpus —
``entity_id`` is the min conv_id of a component, an existing entity
label is already the min of its old component, and the contracted CC
takes mins over merged components, so the global min falls out.  Pinned
by ``tests/test_incremental.py`` (base + increment == full batch on a
synth corpus) and the ``incremental_linkage`` contract query, whose
DuckDB oracle recomputes full-batch clusters from the twin's scored
edges with a recursive CTE.  When caps DO bind, batch and incremental
may keep different capped pair subsets (the member-cap coin depends on
the key's population size, and a batch run ranks each key's FULL pair
list while this run ranks only the new-touching subset); both stay
star-connected per key, but exact label equality is only guaranteed
cap-free. That condition is observable through the returned
``hot_key_audit`` and ``cap_risk_audit`` (conservative: flags every key
whose full pair population could cap in any of the three rankings —
the restricted ``pair_cap_audit`` alone is NOT sufficient evidence).

The same caveat applies to the ANCHOR key family (family 4) under LIVE
statistics: its df-range membership and rarest-token selection are
computed against the current population, so a rare-token pair anchored
in the base corpus can exceed ``anchor_max_df`` in the union and vice
versa. Cap-free, the equality theorem covers the doc-local families 0-3
(exact, token-set, prefix, minhash) unconditionally, and family 4 as
well WHEN anchors are pinned to a committed (token, df) snapshot: pass
``blocking.token_df``'s output as ``anchor_df`` to both the batch and
incremental runs (the production pattern — df stats are a committed
stage refreshed on a rebuild cadence, not per increment).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def increment_tuning(spark):
    """Session tuning for the span of ONE increment-sized step (the
    ``incremental_link`` call plus the actions that consume its output).

    AQE materializes every exchange as its own job; an increment's plans
    move kilobytes-to-megabytes through dozens of exchanges, so per-job
    scheduling overhead dominates and runtime re-planning buys nothing
    (interleaved A/B at a 70k-conv corpus / 2.6k-conv increment: AQE off
    is ~17% faster end-to-step; round-5 profiling showed the step wall
    was ~60 sub-second stages). Batch-scale runs KEEP AQE (skew-join +
    coalesce matter there) — this is a caller-owned step-cadence knob,
    restored on exit.

    Shuffle partitions (round-6): with AQE off, every one of the
    step's ~15 exchanges (key-count groupBys, pair-cap windows, distinct,
    label joins) materializes at the session's static
    ``spark.sql.shuffle.partitions`` — corpus-sized defaults for
    increment-sized data, so an increment step launches hundreds of
    near-empty tasks and the wall is pure scheduling. The step's one
    CPU-bound stage (Arrow scoring) is unaffected — it is explicitly
    repartitioned from the counted pair volume (``_score_increment_pairs``).
    They are set to ``max(8, defaultParallelism // 4)`` — enough
    partitions that a skewed exchange still spreads, a quarter of the
    session's task slots so scheduling stops dominating; interleaved A/B
    at sf0.1/32 cores: 8 partitions 8.3-11.5s vs 32 partitions
    11.6-18.8s per step. Restored on exit like the AQE flag.

    Which session it governs: only ``spark``, the one passed in. On the
    streaming path ``_link_batch`` passes the outer session, but the
    plans built from the micro-batch's ``batch_df`` run on the streaming
    query's cloned session (``batch_df.sparkSession``), so they keep
    that session's AQE and shuffle partitions — they plan as
    ``AdaptiveSparkPlan`` — while ``retract_from_state``'s plans, built
    on ``spark`` itself, do not. This is known and left as it is: one
    traced ``stream`` benchmark run (4-core VM) with the tuning applied
    to ``batch_df.sparkSession`` instead raised the micro-batch from
    446 to 710 tasks and its wall from 9.4 s to 12.9 s."""
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    shuffle_partitions = max(8, spark.sparkContext.defaultParallelism // 4)
    prev = spark.conf.get(key, "true")
    sprev = spark.conf.get(skey)
    spark.conf.set(key, "false")
    spark.conf.set(skey, str(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(skey, sprev)

def _pin(df: DataFrame) -> DataFrame:
    """Eagerly truncate an INCREMENT-sized frame's lineage
    (``localCheckpoint``) at the step's multiplicative choke points.

    An increment step stacks ~6 plan layers (featurize → sig lookup →
    key table → capped pairs → scoring → contracted CC), and several
    layers reference the previous frame MORE THAN ONCE (both sides of
    the pair join, both sides of the scoring text joins, three label
    joins). Spark renders the physical plan as a TREE — shared subplans
    are re-rendered per reference (``InMemoryRelation`` re-renders its
    cached plan as ``innerChildren`` too, so ``.cache()`` does NOT
    bound it) — and every action pays that render in the
    SQLExecutionStart event. Composed over lazy in-memory base state
    (tests; the contract queries) the expansion is multiplicative per
    layer: a single contracted step over a 120-doc corpus spent >2 min
    of driver CPU in ``generateTreeString`` before any task ran.
    Checkpointing the increment-sized frames makes each layer's plan a
    LEAF for every consumer, bounding any later render to O(one
    layer). Corpus-sized frames are never pinned (a 100-TB input
    cannot be materialized); in production those are parquet/Iceberg
    scans — already leaves. The pinned frames are exactly the ones the
    step must materialize anyway (the pair list is counted to size the
    Arrow stage; scored edges feed the CC checksum action), so the
    extra cost is storage of increment-sized data, not extra compute.
    """
    return df.localCheckpoint(eager=True)


def materialize_state(out: dict, keys: tuple = (
    "features", "rep_features", "clusters", "keys", "key_counts",
)) -> dict:
    """Truncate the lineage of a step's returned committed-state frames
    (eager ``localCheckpoint``) before chaining the next increment over
    them IN MEMORY.

    Production chains over COMMITTED state — each step's features/keys/
    counts/clusters are written to parquet (``pipeline/streaming.py``)
    and the next step reads fresh scans, so plans stay shallow. Chaining
    over the raw lazy frames instead compounds the logical plan
    multiplicatively per step (each returned frame references the prior
    step's frames several times, and Spark renders the plan DESCRIPTION
    for every action — the SQLExecutionStart event, re-rendered by AQE
    per stage — whose tree traversal is O(expanded tree) even when
    ``spark.sql.maxPlanStringLength`` caps the stored string). Two lazy
    contracted steps over a 120-doc corpus already push driver-side plan
    rendering into the minutes. This helper is the in-memory analogue of
    the parquet commit: call it on each step's output before feeding the
    next step. Returns a shallow copy with the state frames checkpointed.
    """
    out = dict(out)
    for k in keys:
        df = out.get(k)
        if df is not None:
            out[k] = df.localCheckpoint(eager=True)
    return out


from pipeline.blocking import (
    _cap_members,
    _hot_hubs,
    key_table_with_counts,
    merge_key_state,
    star_capped_pairs,
    token_df,
)
from pipeline.canonicalize import canonicalize
from pipeline.cluster import connected_components
from pipeline.config import DEFAULT_CONFIG, MatchConfig
from pipeline.features import featurize
from pipeline.scoring import score_pairs
from pipeline.session import local_frame, track_cache

# Ceiling on scoped hot-key rows pulled to the driver for the
# literal-broadcast-leaf star plan (a few MB of narrow rows at this
# size; same order as the CC driver fast path's edge threshold). Past
# it the star plans stay distributed — see incremental_candidate_pairs.
_DRIVER_HOT_LIMIT = 200_000


def incremental_candidate_pairs(
    new_feats: DataFrame,
    existing_keys: DataFrame,
    existing_counts: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    anchor_df: DataFrame | None = None,
):
    """Candidate pairs restricted to those touching >= 1 new doc.

    ``new_feats``: the increment's feature rows. ``existing_keys`` /
    ``existing_counts``: the committed blocking state
    (``blocking.key_table_with_counts`` over the committed features) —
    the union key table is committed-state ∪ increment-keys and member
    counts are merged narrow aggregates, so the corpus is never
    re-exploded or re-counted, and member caps still see the union
    population exactly as a batch run does. ``anchor_df``: the
    committed (token, df) snapshot (``blocking.token_df``) that pins the
    anchor family — see ``incremental_link``. Returns (pairs,
    hot_key_audit, pair_cap_audit, cap_risk_audit, union_keys,
    union_counts, new_keys_uncapped) — union_keys/union_counts are the
    NEXT run's committed blocking state, produced at zero extra compute;
    new_keys_uncapped is the increment's own pre-cap key table (what an
    append-only state commit writes per batch).

    ``cap_risk_audit``: keys whose FULL pair population C(members, 2)
    exceeds ``pairs_per_key_cap``. The restricted ``pair_cap_audit`` can
    be empty while a batch ranking of the same key WOULD cap (the batch
    ranks the full pair list, this run only the new-touching subset), so
    cross-run equivalence must be gated on this conservative audit: when
    it is empty, no per-key pair cap can bind in the batch, base OR
    incremental ranking (members only grow base -> union).

    Scale shape: keys(new) ⋈ keys(all) — the increment side broadcasts
    and the corpus key table streams through map-side, no shuffle of the
    big side and never a corpus self-join. A new-new pair appears from
    both sides of the join; the least/greatest normalization + the
    group-by inside ``star_capped_pairs`` dedups it.
    """
    # Without the committed (token, df) snapshot, the anchor family's df
    # would be computed over the INCREMENT alone — a corpus-common token
    # appearing 2..anchor_max_df times in a small increment would mint a
    # bogus "rare" anchor, and merge_key_state would fold those keys
    # into the committed counts permanently. Fail loudly.
    if cfg.anchor_max_df >= 2 and anchor_df is None:
        raise ValueError(
            "committed-state mode with anchors enabled (anchor_max_df >= 2) "
            "requires the committed (token, df) snapshot as anchor_df "
            "(blocking.token_df); pass the snapshot the committed keys "
            "were built with, or disable the family (anchor_max_df < 2)"
        )
    nk, nc = key_table_with_counts(new_feats, cfg, anchor_df)
    union_keys, union_counts = merge_key_state(
        existing_keys, existing_counts, nk, nc
    )
    # Star machinery, increment-scoped and DRIVER-PINNED (round-5
    # profiling: the lazy hub/star subtrees re-executed as AQE broadcast
    # jobs in every consuming action — 131 sub-1.5s jobs, the step wall
    # was pure scheduling; and unscoped they scanned the full key
    # table). Only keys CARRIED BY THE INCREMENT can produce a
    # new-touching star pair, so: (1) collect the scoped hot list once
    # (bounded by the increment's key count — driver-safe); (2) if it
    # is empty (every nocap config; most increments), skip the star
    # plan entirely; (3) otherwise materialize the scoped hub table
    # once and feed it to both the member cap and the star edges as a
    # literal broadcast leaf.
    star_hot = star_hubs = None
    eff_cfg = cfg
    if cfg.hot_key_star:
        scope = nk.select("family", "key").distinct()
        # increment-proportional: union members for the increment's
        # keys = committed count + increment count, via ONE narrow
        # semi-scan of the committed counts — never the full union
        # merge shuffle (that merge still happens lazily for the
        # returned committed state, but not inside this eager collect)
        scoped_counts = (
            existing_counts.join(
                F.broadcast(scope), ["family", "key"], "semi"
            )
            .unionByName(nc)  # nc is increment-only: already scoped
            .groupBy("family", "key")
            .agg(F.sum("members").alias("members"))
        )
        hot_scoped = scoped_counts.filter(
            F.col("members") > cfg.block_key_cap
        ).select("family", "key", "members")
        # bounded collect: the literal-leaf optimization assumes a
        # daily-increment-sized hot list. A giant backfill increment
        # (millions of boilerplate docs -> millions of scoped keys over
        # cap) must not be pulled into the driver unguarded (round-5
        # review) — past the limit, keep the hub/star plans DISTRIBUTED
        # (a few extra broadcast jobs instead of a driver OOM), pinned as
        # leaves: a cached lazy frame re-renders its whole lineage in
        # every consuming action's plan string (megabytes per action).
        # Both pulls are Arrow tables and re-enter Spark as JVM local
        # relations (``local_frame``): a row-list createDataFrame would
        # plan a Python-worker scan that every consuming action re-runs.
        hot_rows = hot_scoped.limit(_DRIVER_HOT_LIMIT + 1).toArrow()
        if hot_rows.num_rows > _DRIVER_HOT_LIMIT:
            star_hot = F.broadcast(_pin(hot_scoped))
            star_hubs = F.broadcast(_pin(_hot_hubs(union_keys, star_hot)))
        elif hot_rows.num_rows:
            spark = union_keys.sparkSession
            star_hot = F.broadcast(
                local_frame(spark, hot_rows, hot_scoped.schema)
            )
            hub_plan = _hot_hubs(union_keys, star_hot)
            star_hubs = F.broadcast(
                local_frame(spark, hub_plan.toArrow(), hub_plan.schema)
            )
        else:
            from dataclasses import replace as _replace

            eff_cfg = _replace(cfg, hot_key_star=False)
    kept, hot_audit = _cap_members(
        union_keys, union_counts, eff_cfg, hubs=star_hubs
    )
    # Do NOT cache `kept`: it is CORPUS-sized (at 100 TB it cannot be
    # cached, and in-sandbox profiling showed the per-step cache fill
    # dominating). It is a cheap map-side coin filter over the committed
    # key table, streamed once as the join's b-side; the INCREMENT-sized
    # new_keys is what gets cached.

    # conservative cross-run pair-cap risk (see docstring): derived from
    # the counts table — a filter on an already-aggregated narrow frame,
    # no extra shuffle
    # double arithmetic BEFORE the multiply: members*(members-1) in long
    # wraps past ~3.04e9 members (negative in non-ANSI mode), which would
    # silently drop exactly the most degenerate keys from this audit
    _pot = (
        F.col("members").cast("double")
        * (F.col("members") - 1).cast("double")
        / 2
    )
    cap_risk = (
        union_counts.where(_pot > F.lit(float(cfg.pairs_per_key_cap)))
        .withColumn("potential_pairs", _pot.cast("long"))
    )

    # the cap rule is per-row (coin(conv_id, key) vs the UNION member
    # count), so capping the increment's own key table ``nk`` against
    # the union counts is EXACTLY kept ∩ new_ids — without streaming the
    # committed key table a second time per step
    new_kept, _ = _cap_members(nk, union_counts, eff_cfg, hubs=star_hubs)
    new_keys = F.broadcast(track_cache(new_kept))
    raw = (
        new_keys.alias("a")
        .join(kept.alias("b"), ["family", "key"])
        .where(F.col("a.conv_id") != F.col("b.conv_id"))
        .select(
            "family",
            "key",
            F.least("a.conv_id", "b.conv_id").alias("conv_id_a"),
            F.greatest("a.conv_id", "b.conv_id").alias("conv_id_b"),
        )
        .distinct()
    )
    if star_hot is not None:
        # member-cap star edges (blocking.hot_star_pairs) over the
        # driver-pinned scoped hot/hub tables, restricted to edges
        # touching a new doc; a new global-minimum member becomes the
        # hub and IS a new doc, so its edges qualify. Committed edges
        # from an older hub stay in the edge set — extra connectivity
        # only, same transitive closure for true-dup keys (the
        # batch==incremental equality theorem already excludes the
        # binding-cap regime).
        from pipeline.blocking import hot_star_pairs

        star = hot_star_pairs(
            union_keys, union_counts, cfg, hot=star_hot, hubs=star_hubs
        )
        nid = F.broadcast(
            new_feats.select(F.col("conv_id").alias("_nid"))
        )
        star = star.join(
            nid,
            (F.col("conv_id_a") == F.col("_nid"))
            | (F.col("conv_id_b") == F.col("_nid")),
            "semi",
        )
        raw = raw.unionByName(star)
    pairs, pair_audit = star_capped_pairs(raw, cfg, return_audit=True)
    return (
        pairs, hot_audit, pair_audit, cap_risk, union_keys, union_counts,
        nk,
    )


def _edges_to_entities(
    scored: DataFrame, existing_clusters: DataFrame
) -> DataFrame:
    """Contract each scored match edge's existing endpoints to their
    entity label (new docs map to themselves). The label join is against
    the full clusters table — an equi-join on conv_id; on bucketed
    committed state it is shuffle-free, and only MATCH edges flow
    through it."""
    lab = existing_clusters.select(
        F.col("conv_id").alias("_cid"), F.col("entity_id").alias("_ent")
    )
    return (
        scored.select("conv_id_a", "conv_id_b")
        .join(lab.withColumnRenamed("_cid", "conv_id_a"), "conv_id_a", "left")
        .withColumnRenamed("_ent", "_ent_a")
        .join(lab.withColumnRenamed("_cid", "conv_id_b"), "conv_id_b", "left")
        .withColumnRenamed("_ent", "_ent_b")
        .select(
            F.coalesce("_ent_a", "conv_id_a").alias("src"),
            F.coalesce("_ent_b", "conv_id_b").alias("dst"),
        )
    )


def _merge_labels(
    existing_clusters: DataFrame, edges: DataFrame, new_ids: DataFrame
) -> tuple[DataFrame, list[dict]]:
    """CC over the contracted edge graph (nodes = entity labels + new
    ids), then relabel: touched existing entities get their merged min-id
    label via a broadcast merge map; new ids get their component label;
    untouched committed rows pass through unchanged."""
    comp, cc_metrics = connected_components(edges, all_nodes=new_ids)

    # Touched existing entities that must be relabeled (tiny; broadcast).
    # Every comp node is a new id or a committed entity LABEL by
    # construction (_edges_to_entities coalesces committed endpoints to
    # labels; hit/intra edges target labels/new ids), so "is an entity"
    # = "is not a new id" — an increment-sized broadcast anti-join. The
    # previous membership join ran distinct() over the ENTIRE committed
    # clusters table per increment: a corpus-wide shuffle against the
    # module's O(increment) contract (round-5 review).
    merge_map = (
        comp.join(F.broadcast(new_ids), "conv_id", "left_anti")
        .where(F.col("entity_id") != F.col("conv_id"))
        .select(
            F.col("conv_id").alias("_old_ent"),
            F.col("entity_id").alias("_new_ent"),
        )
    )
    existing_updated = (
        existing_clusters.join(
            F.broadcast(merge_map),
            existing_clusters["entity_id"] == merge_map["_old_ent"],
            "left",
        )
        .select(
            "conv_id",
            F.coalesce("_new_ent", "entity_id").alias("entity_id"),
        )
    )
    new_assign = comp.join(new_ids, "conv_id").select("conv_id", "entity_id")
    return existing_updated.unionByName(new_assign), cc_metrics


def _score_increment_pairs(
    feats_all: DataFrame, pairs: DataFrame, cfg: MatchConfig, pin: bool
) -> DataFrame:
    """Score an increment's candidate pairs (match-only), with the Arrow
    stage sized from the counted pair volume."""
    _p = _pin if pin else track_cache
    pairs = _p(pairs)
    # Scoring only needs features for docs that actually appear in a
    # candidate pair (bounded by 2x the restricted pair count — tiny for
    # a small increment). The broadcast semi-join prunes the corpus
    # map-side BEFORE score_pairs' text joins, so the step's scoring
    # stage shuffles pair-touched rows, never the corpus.
    touched = (
        pairs.select(F.col("conv_id_a").alias("conv_id"))
        .union(pairs.select(F.col("conv_id_b").alias("conv_id")))
        .distinct()
    )
    # cache the pair-touched feature slice: it is INCREMENT-sized and
    # feeds BOTH sides of score_pairs' text joins — uncached, the corpus
    # semi-join stream runs twice per consuming action (round-4 profiling)
    feats_scoring = track_cache(
        feats_all.join(F.broadcast(touched), "conv_id", "semi")
    )
    # right-size the Arrow scoring stage from the (cached) pair count:
    # one kernel batch is ~10k pairs (session arrow maxRecordsPerBatch),
    # so an increment's few-thousand pairs need a handful of partitions,
    # not 3x cores of near-empty Python workers — the count doubles as
    # the cache-fill action (round-5 profiling: per-partition overhead
    # was a visible slice of the step's fixed cost). Cap at the
    # saturated default so a BIG increment still spreads over all cores.
    n_pairs = pairs.count()
    cores = pairs.sparkSession.sparkContext.defaultParallelism
    n_score_parts = max(1, min(cores * 3, -(-n_pairs // 2000)))
    scored = score_pairs(
        feats_scoring, pairs, cfg, match_only=True,
        n_partitions=n_score_parts,
    )
    if pin:
        scored = _pin(scored)
    return scored


def incremental_link(
    existing_feats: DataFrame,
    existing_clusters: DataFrame,
    new_turns: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    anchor_df: DataFrame | None = None,
    existing_keys: DataFrame | None = None,
    existing_key_counts: DataFrame | None = None,
    assume_disjoint_ids: bool = False,
    pin: bool = True,
    contract_dups: bool = False,
) -> dict[str, DataFrame]:
    """Link ``new_turns`` against committed (features, clusters) state.

    ``existing_clusters`` must cover ALL committed docs — it is both the
    re-delivery filter and the label base (in contraction mode it also
    covers the collapsed members, which have no feature rows).

    ``pin=True`` (default) eagerly truncates the lineage of the
    increment-sized intermediates (``_pin``) so no downstream action
    renders the multiplicatively-expanded composed plan; ``pin=False``
    keeps the fully-lazy composition (plan-inspection tests that need
    to see the scoring stage's join strategy in the returned frames).

    ``existing_keys`` / ``existing_key_counts``: the committed blocking
    state (``blocking.key_table_with_counts`` from the base run) — the
    step never re-explodes or re-counts the corpus key table. Anchors
    must be pinned via ``anchor_df`` or disabled — enforced: a step
    given committed keys raises when anchors are enabled with no
    snapshot, because increment-local document frequencies would mint
    bogus rare anchors and corrupt the committed counts. Without them
    the step derives the committed state once from ``existing_feats``
    (``key_table_with_counts``), and an absent ``anchor_df`` defaults to
    ``token_df`` over existing ∪ increment — the live-population
    statistics a batch run over the union blocks against.

    ``anchor_df``: the committed (token, df) snapshot
    (``blocking.token_df``) — with it, the anchor family is computed
    against FROZEN statistics, making family 4 population-independent
    and extending the incremental == batch theorem to all five key
    families (pass the SAME snapshot to the batch run being compared;
    ``tests/test_incremental.py::test_frozen_df_extends_theorem_to_anchors``).
    Without it, anchors float with the live population (documented
    caveat above).

    ``assume_disjoint_ids``: increment conv_ids already present in the
    committed corpus are dropped by an ids-only anti-join before any
    state merge (re-delivery safety); set True to skip that pass when
    the ingest path already guarantees exactly-once ids.

    ``contract_dups``: the committed state is CONTRACTED
    (``existing_feats`` holds ``linkage.contract_exact_dups``' rep rows
    + gate-rejected rows) and the step runs the exact-duplicate
    short-circuit: an increment doc whose ``(norm_text, roles_sig)``
    signature (``linkage.exact_sigs``) already exists in the committed
    rep set never enters blocking or scoring at all — it is an
    exact-tier match of its committed twin by construction, so its
    entity label is the twin's, delivered through one
    ``(entity(rep), member)`` edge. At 100 TB this is the dominant
    increment shape: most incoming boilerplate is byte- or
    normalization-identical to something already seen, and its marginal
    cost here is one broadcast hash join, zero candidate pairs.
    Intra-increment duplicate classes contract too: one rep enters
    blocking, members ride a (rep, member) edge. Plain mode is the
    identity contraction (every class a singleton) and skips the
    signature lookup entirely.

    Short-circuit correctness: scoring is a pure function of each side's
    signature and every blocking key is a function of ``norm_text``, so
    a signature twin is behaviorally interchangeable with its rep (the
    ``contract_exact_dups`` argument). A dup hit's edge set in the full
    batch graph is its rep's edge set plus the (rep, hit) exact edge —
    already one component — so attaching the hit to the rep's CURRENT
    entity preserves the batch transitive closure; if this step also
    merges the rep's entity with another, the hit follows through the
    same CC (its edge targets the entity NODE). Min-id labels survive
    because the CC runs over entity labels ∪ all new ids: a hit with a
    smaller id than its component's committed label wins the min and the
    broadcast merge map relabels the committed rows. Equality with the
    plain batch run is pinned by ``tests/test_incremental_contracted.py``
    (single step + chained), under the same population-independence
    conditions as the plain theorem (caps unbound, anchors off or frozen
    — pass the contracted run's ``weighted_df`` snapshot as
    ``anchor_df`` to pin anchors at full-population document
    frequencies).

    Returns dict with the NEXT committed state — ``features`` (union;
    rep rows in contraction mode), ``new_features`` (just the
    increment's post-anti-join feature rows — its reps when contracting:
    what an append-only commit writes), ``keys`` / ``key_counts`` (union
    blocking state, so a daily-cadence caller chains increments without
    ever re-deriving the corpus) — plus ``scored`` (match pairs touching
    the increment), ``clusters`` (updated full labeling), ``cc_metrics``,
    and three audits: ``hot_key_audit``, ``pair_cap_audit`` (drops
    within THIS run) and ``cap_risk_audit`` (keys whose full pair
    population could cap in ANY ranking — batch, base or incremental).
    Batch-equivalence is guaranteed when ``hot_key_audit`` and
    ``cap_risk_audit`` are both empty AND anchors are pinned/disabled:
    hot members and C(members, 2) only grow from base to union, so empty
    union-side audits cover the base run's caps as well. Contraction
    mode adds ``dup_assign`` ``(conv_id, rep_id, hit)``: this step's
    collapsed members (hit = matched a COMMITTED signature vs an
    intra-increment one), the audit trail for docs that skipped the
    pair pipeline.
    """
    _p = _pin if pin else track_cache
    new_feats = featurize(canonicalize(new_turns), cfg)
    # A RE-DELIVERED conv_id (at-least-once upstream delivery) would
    # silently duplicate feature rows and double-count key members in
    # merge_key_state, corrupting member caps with no audit signal
    # (round-3 ADVICE) — drop increment rows whose id is already
    # committed. Ids-only anti-join against the clusters, which cover
    # every committed doc (collapsed members included — the rep-only
    # feature table would miss them); callers that guarantee disjoint
    # ids (e.g. a dedup'd ingest log) skip the pass via
    # assume_disjoint_ids.
    if not assume_disjoint_ids:
        new_feats = new_feats.join(
            existing_clusters.select("conv_id"), "conv_id", "left_anti"
        )
    new_feats = _p(new_feats)
    new_ids = new_feats.select("conv_id")
    rep_feats, dup_assign = new_feats, None

    if contract_dups:
        from pipeline.linkage import exact_sigs

        # --- the short-circuit: committed-signature lookup -------------
        # increment side is small -> broadcast it; the committed rep-sig
        # stream is a narrow projection of the rep feature table, map-side.
        new_sigs = track_cache(exact_sigs(new_feats, cfg))
        rep_sigs = exact_sigs(existing_feats, cfg).select(
            F.col("conv_id").alias("rep_id"), "_s1", "_s2"
        )
        hits = _p(
            F.broadcast(new_sigs).join(rep_sigs, ["_s1", "_s2"])
            .select("conv_id", "rep_id")
        )
        # misses contract among THEMSELVES (an increment can carry its
        # own duplicate classes); gate-rejected rows stay singleton reps
        miss_sigs = new_sigs.join(
            hits.select("conv_id"), "conv_id", "left_anti"
        )
        miss_groups = miss_sigs.groupBy("_s1", "_s2").agg(
            F.min("conv_id").alias("rep_id")
        )
        intra_map = (
            miss_sigs.join(miss_groups, ["_s1", "_s2"])
            .where(F.col("conv_id") != F.col("rep_id"))
            .select("conv_id", "rep_id")
        )
        keep_ids = miss_groups.select(
            F.col("rep_id").alias("conv_id")
        ).unionByName(
            new_ids.join(new_sigs.select("conv_id"), "conv_id", "left_anti")
        )
        rep_feats = _p(
            new_feats.join(F.broadcast(keep_ids), "conv_id", "semi")
        )
        dup_assign = hits.withColumn("hit", F.lit(True)).unionByName(
            intra_map.withColumn("hit", F.lit(False))
        )

    # --- standard incremental machinery over (rep) state --------------
    feats_all = existing_feats.unionByName(rep_feats)
    if (existing_keys is None) != (existing_key_counts is None):
        raise ValueError(
            "pass existing_keys and existing_key_counts together"
        )
    if existing_keys is None:
        if anchor_df is None:
            anchor_df = token_df(feats_all, cfg)
        existing_keys, existing_key_counts = key_table_with_counts(
            existing_feats, cfg, anchor_df
        )
    pairs, hot_audit, pair_audit, cap_risk, union_keys, union_counts, nk = (
        incremental_candidate_pairs(
            rep_feats, existing_keys, existing_key_counts, cfg, anchor_df
        )
    )
    scored = _score_increment_pairs(feats_all, pairs, cfg, pin)

    matches = scored.select("conv_id_a", "conv_id_b")
    if dup_assign is not None:
        # each collapsed member rides one (rep, member) exact edge: a
        # committed twin's rep contracts to its CURRENT entity label like
        # any committed endpoint, an intra-increment rep stays itself
        matches = matches.unionByName(
            dup_assign.select(
                F.col("rep_id").alias("conv_id_a"),
                F.col("conv_id").alias("conv_id_b"),
            )
        )
    edges = _edges_to_entities(matches, existing_clusters)
    clusters, cc_metrics = _merge_labels(existing_clusters, edges, new_ids)

    out = {
        "features": feats_all,
        "new_features": rep_feats,
        # the increment's own pre-cap (rep) key rows — what an
        # append-only state commit writes per batch without re-exploding
        # the increment or re-joining the anchor snapshot
        "new_keys": nk,
        "keys": union_keys,
        "key_counts": union_counts,
        "scored": scored,
        "clusters": clusters,
        "hot_key_audit": hot_audit,
        "pair_cap_audit": pair_audit,
        "cap_risk_audit": cap_risk,
        "cc_metrics": cc_metrics,
    }
    if dup_assign is not None:
        out["dup_assign"] = dup_assign
    return out


def incremental_link_contracted(
    existing_rep_feats: DataFrame, existing_clusters: DataFrame,
    new_turns: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG, **kw,
) -> dict[str, DataFrame]:
    """``incremental_link`` in contraction mode, under the rep-state key
    names (``rep_features`` / ``new_rep_features``)."""
    out = incremental_link(
        existing_rep_feats, existing_clusters, new_turns, cfg,
        contract_dups=True, **kw,
    )
    out["rep_features"] = out.pop("features")
    out["new_rep_features"] = out.pop("new_features")
    return out


def _reissue(df: DataFrame, promotions: DataFrame) -> DataFrame:
    """``df``'s rows of promoted old reps, re-keyed to their new rep —
    legal for every signature-determined table (features, keys)."""
    return (
        df.join(promotions, df["conv_id"] == promotions["old"])
        .drop("conv_id", "old")
        .withColumnRenamed("new_rep", "conv_id")
        .select(df.columns)
    )


def retract(
    existing_feats: DataFrame,
    existing_clusters: DataFrame,
    remove_ids: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    *,
    match_edges: DataFrame,
    existing_keys: DataFrame | None = None,
    existing_key_counts: DataFrame | None = None,
    dup_map: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """DECREMENTAL entity resolution: delete conversations from committed
    state and repair the labeling — the right-to-be-forgotten / takedown
    counterpart of ``incremental_link``. The reference has no deletion
    story at all (its OpenSearch index is rebuilt offline); at 100 TB a
    rebuild per deletion request is not a plan, so retraction must cost
    O(affected entities), not O(corpus).

    Deleting a doc can SPLIT an entity (the doc was the only bridge
    between two sub-groups) and can CHANGE a label (the doc was the
    min-id member). Decremental connectivity is the classically hard
    direction — edge deletions can't be repaired locally the way
    insertions can — but entity resolution gives a bound global CC
    doesn't have: every match edge lives INSIDE one committed entity, so
    deletion effects cannot propagate past the entities the removed docs
    belong to. The repair therefore recomputes connectivity ONLY inside
    affected entities:

    1. affected entities = committed labels of the removed ids
       (broadcast semi-join; deletion requests are small by nature).
    2. members of those entities; survivors = members minus removed.
    3. the surviving match subgraph inside affected entities:
       ``match_edges`` (the committed ``(src, dst)`` edge table a
       production deployment appends per step — match pairs only, a tiny
       fraction of pair volume) filtered to edges with both endpoints
       surviving. ZERO re-scoring and no re-blocking, so no anchor
       statistics are needed.
    4. connected components over that subgraph (+ survivor singletons) —
       affected components are entity-bounded, so the driver union-find
       fast path almost always takes it; relabel = union of untouched
       committed rows (anti-join on affected entities — they never enter
       a kernel or a wide shuffle) and the fresh affected labels.

    Equality theorem (same scope as ``incremental_link``'s): with caps
    unbound (or unbinding) and anchors frozen, ``retract`` ==
    ``build_plan`` + ``cluster_edges`` over the remaining corpus. Keys
    are doc-local functions of ``norm_text``, so the remaining corpus's
    candidate set is the full set restricted to remaining docs; scoring
    is pairwise; hence the remaining batch match graph is the committed
    graph minus removed endpoints, and its components inside affected
    entities are exactly what step 3-4 recomputes (a survivor's match
    edge can only target a member of its old entity — a cross-entity
    match would have merged the entities). Min-id labels fall out of CC
    over survivors. Pinned by ``tests/test_retract.py`` (bridge split,
    min-label handoff, synth equality, chain with ``incremental_link``).

    ``dup_map`` given: the state is CONTRACTED (rep-only features; one
    feature/key row per exact-duplicate signature class,
    ``linkage.contract_exact_dups``: rep = class-min conv_id, every
    collapsed member attached through one ``dup_map`` row and one
    (rep, member) star edge) and deletion runs REPRESENTATIVE
    PROMOTION. Deleting a doc from that state has three shapes:

    * a collapsed MEMBER: drop its cluster row, dup row and star edge —
      members are star leaves, so nothing can split;
    * a REP whose class has survivors: the class's signature is still in
      the corpus, so a fresh contracted build over the survivors would
      elect ``new_rep = min(surviving members)``. The repair PROMOTES
      that member: the rep's feature and key rows are re-issued under
      ``new_rep`` (legal because scoring and every blocking key are pure
      functions of the shared ``(norm_text, roles_sig)`` signature — the
      ``contract_exact_dups`` interchangeability argument), every
      committed match edge touching the old rep is endpoint-rewritten to
      ``new_rep``, and the class's surviving dup rows re-point at it.
      Connectivity is preserved exactly: the rewritten edge set equals
      what re-scoring the promoted rep against the same candidates would
      produce, with ZERO re-scoring;
    * a REP whose whole class is removed: its edges disappear with it —
      the entity-bounded CC repair resolves any split it bridged.

    Contracted equality theorem (same cap/anchor scope): the patched
    graph restricted to survivors IS the fresh contracted-batch match
    graph over the remaining corpus — scored rep-rep edges survive
    endpoint rewriting unchanged in truth value, and each class's star
    re-centers on the new class minimum — so repaired labels equal
    ``build_plan(contract_dups=True)`` + CC over the remaining turns
    (pinned by ``tests/test_retract_contracted.py``). One documented
    approximation: a promoted feature row inherits the retracted rep's
    non-signature provenance columns (``n_turns`` is
    signature-determined, ``first_ts`` is not) — the class's first-seen
    timestamp, not the promoted member's own. No
    blocking key, score channel, signature hash or cluster label reads
    that column, so linkage behavior is bit-identical; a fresh rebuild
    from raw turns would carry the member's own timestamp.

    Returns dict: ``features`` / ``keys`` / ``key_counts`` (committed
    state minus removed — narrow anti-joins / count decrements, plus the
    promoted rows; on parquet state a caller rewrites, on table-format
    state these are the tombstone semantics
    ``pipeline.streaming.retract_from_state`` implements), ``clusters``
    (repaired labels over remaining docs), ``match_edges`` (surviving,
    endpoint-patched committed edges), ``removed`` (the resolved removal
    set), ``unmatched``, ``cc_metrics``.
    With ``dup_map`` also: ``promoted_features`` / ``promoted_keys`` /
    ``promoted_edges`` / ``promoted_dups`` — the promotion DELTAS alone
    (what an append-only + tombstone state layout commits); ``dup_map``
    — the patched member->rep table (extra columns, e.g. the streaming
    layout's ``hit`` flag, pass through); ``promotions`` — (old,
    new_rep) promotion pairs.
    """
    # RESOLVE the request against committed membership: clusters cover
    # every committed doc, so ids never ingested drop out of ``removed``.
    # Without this, an unknown id (takedown racing ahead of ingestion, or
    # a typo) would be tombstoned verbatim and the streaming surface's
    # tombstone-permanence filter (``_link_batch``) would silently
    # blackhole its future FIRST-EVER arrival. The ``unmatched``
    # remainder is returned for auditing, never tombstoned.
    committed_ids = existing_clusters.select("conv_id")
    requested = F.broadcast(remove_ids.select("conv_id").distinct())
    removed = F.broadcast(requested.join(committed_ids, "conv_id", "semi"))
    unmatched = requested.join(committed_ids, "conv_id", "left_anti")
    # the entity-bounded repair scope: deletion effects cannot propagate
    # past the removed docs' entities (every match edge is
    # entity-internal), so this is the complete recompute scope
    affected_ents = F.broadcast(
        existing_clusters.join(removed, "conv_id", "semi")
        .select("entity_id")
        .distinct()
    )
    members = existing_clusters.join(affected_ents, "entity_id", "semi")
    survivor_ids = members.join(removed, "conv_id", "left_anti").select(
        "conv_id"
    )
    out: dict[str, DataFrame] = {"removed": removed, "unmatched": unmatched}
    features = existing_feats.join(removed, "conv_id", "left_anti")
    promotions = None

    if dup_map is not None:
        # --- representative promotion -----------------------------------
        # surviving members only; a removed member can never be promoted
        dup_clean = dup_map.join(removed, "conv_id", "left_anti")
        promotions = F.broadcast(
            dup_clean.join(
                removed.select(F.col("conv_id").alias("rep_id")),
                "rep_id",
                "semi",
            )
            .groupBy("rep_id")
            .agg(F.min("conv_id").alias("new_rep"))
            .select(F.col("rep_id").alias("old"), "new_rep")
        )
        promoted_feats = _reissue(existing_feats, promotions)
        features = features.unionByName(promoted_feats)
        # class survivors re-point at the promoted rep; the promoted
        # member's own row disappears (it IS the rep now). Extra columns
        # (streaming's ``hit``) ride along untouched.
        dup_patched = (
            dup_clean.join(
                promotions, dup_clean["rep_id"] == promotions["old"], "left"
            )
            .withColumn("rep_id", F.coalesce("new_rep", "rep_id"))
            .drop("old", "new_rep")
            .where(F.col("conv_id") != F.col("rep_id"))
        )
        out.update(
            promotions=promotions,
            promoted_features=promoted_feats,
            promoted_dups=dup_patched.join(
                promotions.select(F.col("new_rep").alias("rep_id")),
                "rep_id",
                "semi",
            ).select(dup_clean.columns),
            dup_map=dup_patched.select(dup_clean.columns),
        )
        # edge patch: endpoint-rewrite; the (old_rep, new_rep) star edge
        # rewrites to a self-loop and is dropped (the promoted rep needs
        # no edge to itself)
        match_edges = (
            match_edges.join(
                promotions.select(
                    F.col("old").alias("src"), F.col("new_rep").alias("_nsrc")
                ),
                "src",
                "left",
            )
            .join(
                promotions.select(
                    F.col("old").alias("dst"), F.col("new_rep").alias("_ndst")
                ),
                "dst",
                "left",
            )
            .select(
                F.coalesce("_nsrc", "src").alias("src"),
                F.coalesce("_ndst", "dst").alias("dst"),
                (F.col("_nsrc").isNotNull() | F.col("_ndst").isNotNull())
                .alias("_patched"),
            )
            .where(F.col("src") != F.col("dst"))
        )

    # rewritten endpoints are survivors by construction, so the
    # both-endpoint anti-joins only ever drop edges touching
    # removed-and-not-promoted ids
    kept_edges = match_edges.join(
        removed.select(F.col("conv_id").alias("src")), "src", "left_anti"
    ).join(
        removed.select(F.col("conv_id").alias("dst")), "dst", "left_anti"
    )
    if promotions is not None:
        out["promoted_edges"] = kept_edges.where("_patched").select(
            "src", "dst"
        )
        kept_edges = kept_edges.select("src", "dst")
    out["match_edges"] = kept_edges
    # committed edges are entity-internal (and promotion stays inside
    # the entity: new_rep was a member of old_rep's entity), so a
    # src-side semi-join selects exactly the affected subgraph
    sub_edges = kept_edges.join(
        members.select(F.col("conv_id").alias("src")), "src", "semi"
    )

    repaired, cc_metrics = connected_components(
        sub_edges, all_nodes=survivor_ids
    )
    out["clusters"] = existing_clusters.join(
        affected_ents, "entity_id", "left_anti"
    ).unionByName(repaired.select("conv_id", "entity_id"))
    out["cc_metrics"] = cc_metrics
    out["features"] = features
    if existing_keys is not None:
        keys = existing_keys.join(removed, "conv_id", "left_anti")
        gone_keys = existing_keys.join(removed, "conv_id", "semi")
        if promotions is not None:
            promoted_keys = _reissue(existing_keys, promotions)
            out["promoted_keys"] = promoted_keys
            keys = keys.unionByName(promoted_keys)
            # a promoted class's keys are identical under old and new rep
            # (keys are functions of norm_text), so promotion is
            # count-neutral; only keys of FULLY-removed classes decrement
            gone_keys = gone_keys.join(
                promotions.select(F.col("old").alias("conv_id")),
                "conv_id",
                "left_anti",
            )
        out["keys"] = keys
        if existing_key_counts is not None:
            # decrement by the gone key rows (removal-request-sized -> the
            # per-key decrement table broadcasts); keys whose membership
            # reaches zero drop out
            gone = gone_keys.groupBy("family", "key").agg(
                F.count(F.lit(1)).alias("_gone")
            )
            out["key_counts"] = (
                existing_key_counts.join(
                    F.broadcast(gone), ["family", "key"], "left"
                )
                .select(
                    "family",
                    "key",
                    (F.col("members") - F.coalesce("_gone", F.lit(0))).alias(
                        "members"
                    ),
                )
                .where(F.col("members") > 0)
            )
    return out


def retract_contracted(
    existing_rep_feats: DataFrame, existing_clusters: DataFrame,
    dup_map: DataFrame, remove_ids: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG, *, match_edges: DataFrame, **kw,
) -> dict[str, DataFrame]:
    """``retract`` in contraction mode, under the rep-state key name."""
    out = retract(existing_rep_feats, existing_clusters, remove_ids, cfg,
                  match_edges=match_edges, dup_map=dup_map, **kw)
    out["rep_features"] = out.pop("features")
    return out
