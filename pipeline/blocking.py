"""Stage 3 — blocking: key families -> salted/capped self-joins -> pairs.

Replaces the reference's ES retrieval (``optimized.py:541-615``,
``ultimate_address_matcher.py:1354-1459``) with equi-self-joins on the
blocking key columns from ``pipeline.features``.

Skew strategy (SURVEY.md §4.2 — the dominant 10^12-scale risk):

1. **Hot-key cap, fully parallel.** A degenerate key (boilerplate
   conversations) can hold millions of members -> quadratic pair blowup.
   We pre-aggregate key frequencies (map-side partial agg, tiny result),
   broadcast-join them back, and for keys over ``cfg.block_key_cap``
   keep each member with probability cap/count via a DETERMINISTIC hash
   coin (xxhash64(conv_id, key)) — no single-partition window, no sort, no
   skewed shuffle. Expected kept ≈ cap. The reference silently truncates at
   ES ``size`` (optimized.py:603); we cap visibly: ``hot_key_audit``
   returns what was dropped.

2. **Per-key pair cap** (per-level top-k analogue,
   ultimate_address_matcher.py:276-364): after the join, keep the first
   ``cfg.pairs_per_key_cap`` pairs per (family,key) ordered by
   (conv_id_a, conv_id_b). Ordering makes the cap deterministic AND
   connectivity-preserving: the first members form a star around the
   smallest conv_id, so transitive clustering still unites the group.

3. **AQE skew-join** stays on for residual imbalance (session config).

The join itself is a plain equi-join — Catalyst picks shuffled-hash/SMJ and
AQE re-splits skewed partitions at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipeline.config import DEFAULT_CONFIG, MatchConfig
from pipeline.features import hash_fn, key_columns
from pipeline.hashing import coin_col


ANCHOR_FAMILY = 4


def token_df(feats: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG) -> DataFrame:
    """(token, df) document-frequency snapshot over the gated corpus —
    the statistic ``anchor_key_table`` anchors on. Committing this next
    to the features stage and passing it back as ``anchor_df`` PINS the
    anchor family across runs: each doc's anchors then depend only on
    (its own tokens, the snapshot), which makes family 4 population-
    independent and extends the incremental == batch theorem to it
    (``tests/test_incremental.py``)."""
    gated = feats.where(required_feature_gate(cfg))
    return (
        gated.select(
            "conv_id", F.explode(F.array_distinct("tokens")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def anchor_key_table(
    feats: DataFrame, cfg: MatchConfig, df_table: DataFrame | None = None
) -> DataFrame:
    """Rare-token anchor keys (family 4) — keyword-tier analogue
    (UAM:740-758 extracts rare keywords; desperate/keyword cascade levels
    probe them, UAM:894-905).

    A token with document frequency df in [2, anchor_max_df] is an anchor
    candidate; each doc keeps its ``anchor_tokens`` rarest (ties broken by
    token). Guarantees: every key has <= anchor_max_df members (cold by
    construction — no skew), and a heavily-edited duplicate still shares
    its surviving rare tokens with its source (df >= 2 precisely because
    both docs contain them).

    ``df_table``: an externally-pinned (token, df) snapshot
    (``token_df``) — anchors are then computed against FROZEN statistics
    instead of the live corpus (the incremental-linkage production
    pattern). None = compute df from ``feats`` (batch default).

    Cost at scale: one explode + word-count aggregation (classic map-side
    partial agg) + one shuffle join back on token — the same shape as a
    TF-IDF document-frequency pass; with a snapshot the aggregation is
    skipped entirely.
    """
    if cfg.anchor_max_df < 2:
        # the df-range [2, anchor_max_df] is empty — the family is
        # DISABLED by config (how the population-independent contract
        # configs turn anchors off). Return a schema-correct empty frame
        # instead of exploding every token into a join with an empty df
        # table (Catalyst folds WHERE false to an empty relation).
        return feats.select(
            F.lit(ANCHOR_FAMILY).alias("family"),
            hash_fn(cfg)(F.lit("")).alias("key"),
            "conv_id",
        ).where(F.lit(False))
    doc_tokens = feats.select(
        "conv_id", F.explode(F.array_distinct("tokens")).alias("token")
    )
    if df_table is None:
        df_table = doc_tokens.groupBy("token").agg(
            F.count(F.lit(1)).alias("df")
        )
    df_table = df_table.where(
        (F.col("df") >= 2) & (F.col("df") <= cfg.anchor_max_df)
    )

    ranked = (
        doc_tokens.join(df_table, "token")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("conv_id").orderBy("df", "token")
            ),
        )
        .where(F.col("_rn") <= cfg.anchor_tokens)
    )
    return ranked.select(
        F.lit(ANCHOR_FAMILY).alias("family"),
        hash_fn(cfg)("token").alias("key"),
        "conv_id",
    )


def required_feature_gate(cfg: MatchConfig):
    """P2 gate predicate (optimized.py:130-131, :784-793): True = the doc
    is ELIGIBLE as a match query. Docs failing the gate generate no
    blocking keys (the reference returns the empty MatchResult before the
    retrieval query runs)."""
    ok = F.lit(True)
    if cfg.require_text:
        ok = ok & (F.length(F.coalesce(F.col("norm_text"), F.lit(""))) > 0)
    if cfg.require_roles:
        ok = ok & (F.length(F.coalesce(F.col("roles_sig"), F.lit(""))) > 0)
    return ok


def rejected_docs(feats: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG) -> DataFrame:
    """Audit of docs excluded by the required-feature gate (the A5
    error-detail analogue for this failure class)."""
    return feats.where(~required_feature_gate(cfg)).select(
        "conv_id",
        F.lit("empty_critical_feature").alias("reason"),
    )


def _key_table(
    feats: DataFrame, cfg: MatchConfig, anchor_df: DataFrame | None = None
) -> DataFrame:
    """Long table (family, key, conv_id) over all key families.
    Gated docs (empty critical features) are excluded up front."""
    feats = feats.where(required_feature_gate(cfg))
    pairs_expr = F.array(
        *[
            F.struct(F.lit(fam).alias("family"), F.col(col).alias("key"))
            for fam, col in key_columns(cfg)
        ]
    )
    per_row = feats.select(
        "conv_id", F.explode(pairs_expr).alias("fk")
    ).select(
        F.col("fk.family").alias("family"), F.col("fk.key").alias("key"), "conv_id"
    )
    return per_row.unionByName(anchor_key_table(feats, cfg, anchor_df))


def _cap_members(
    keys: DataFrame,
    counts: DataFrame,
    cfg: MatchConfig,
    hubs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The ONE member-cap rule: down-sample keys whose member count
    exceeds ``block_key_cap`` with the deterministic engine-neutral coin,
    audit the hot keys. Shared by the batch path (``capped_key_table``)
    and the committed-state path
    (``incremental.incremental_candidate_pairs``) so the cap rule cannot
    drift between them."""
    from pipeline.session import track_cache

    # cache the (tiny — over-cap keys only) hot list: it feeds BOTH the
    # audit and the broadcast cap join, and uncached each consumer
    # re-runs the full count aggregation that produced `counts` (in the
    # non-star batch path that was one extra corpus explode + shuffle
    # per staged run just to materialize hot_key_audit; round-5 review)
    hot = track_cache(counts.filter(F.col("members") > cfg.block_key_cap))
    audit = hot.withColumn(
        "est_kept", F.lit(cfg.block_key_cap).cast("long")
    )

    # Broadcast the (tiny) hot-key list; non-hot keys pass untouched.
    joined = keys.join(
        F.broadcast(hot.select("family", "key", "members")),
        ["family", "key"],
        "left",
    )
    # deterministic hash coin in [0, 1): keep with prob cap/members.
    # Engine-neutral (hash_fn) so the pandas blocking twin and the DuckDB
    # oracle reproduce the SAME capped membership.
    coin = coin_col(hash_fn(cfg), "coin", "conv_id", "key")
    keep = F.col("members").isNull() | (
        coin < F.lit(float(cfg.block_key_cap)) / F.col("members")
    )
    if cfg.hot_key_star:
        # star mode: the hub (minimum member over the FULL membership)
        # is force-kept so the self-join emits (hub, kept-member) pairs;
        # hot_star_pairs adds (hub, dropped-member) edges — together
        # every member of a hot key stays one scored hop from the hub.
        # ``hubs``: a PRE-BUILT (family, key, hub) table — the batch
        # path shares one with hot_star_pairs; the incremental path
        # computes a scoped one ONCE and driver-pins it, because every
        # lazy reference to the hub-agg subtree otherwise re-executes
        # as AQE broadcast jobs per consuming action (round-5
        # profiling: 131 sub-1.5s jobs, the step wall was pure
        # scheduling).
        if hubs is None:
            hubs = _hot_hubs(keys, hot)
        joined = joined.join(
            F.broadcast(hubs), ["family", "key"], "left"
        )
        keep = keep | (F.col("conv_id") == F.col("hub"))
    kept = joined.filter(keep).select("family", "key", "conv_id")
    return kept, audit


def _hot_hubs(keys: DataFrame, hot: DataFrame) -> DataFrame:
    """(family, key, hub) — the minimum conv_id over each hot key's FULL
    (pre-cap) membership. One narrow agg over the hot subset of the key
    table (map-side semi-join against the broadcast hot list)."""
    members = keys.join(
        F.broadcast(hot.select("family", "key")), ["family", "key"], "semi"
    )
    return members.groupBy("family", "key").agg(
        F.min("conv_id").alias("hub")
    )


def hot_star_pairs(
    keys: DataFrame,
    counts: DataFrame,
    cfg: MatchConfig,
    hot: DataFrame | None = None,
    hubs: DataFrame | None = None,
) -> DataFrame:
    """Star edges (family, key, conv_id_a=hub, conv_id_b=member) for
    every member of a hot key DROPPED by the member-cap coin.

    This is the member-cap half of star preservation (the pair cap's
    ``a == bucket-min`` rule is the other half): the plain coin cap
    disconnects ~(members − cap) docs per hot key from every kept pair,
    which shatters true mega-duplicate groups into singletons. One hub
    edge per dropped member keeps pair volume LINEAR in hot-key
    membership (never quadratic) and leaves every member one scored hop
    from the hub — for a true-dup group all hub edges match, so the
    group still resolves to one entity; for an accidental hot key (a
    shared prefix across unrelated docs) the hub edges score below the
    threshold and connect nothing. conv_id_a < conv_id_b holds by
    construction (the hub is the membership minimum).

    ``hot``: optional pre-restricted hot-key list (family, key, members)
    — the incremental path passes hot keys CARRIED BY THE INCREMENT so
    the membership scans stay increment-proportional."""
    if hot is None:
        hot = counts.filter(F.col("members") > cfg.block_key_cap).select(
            "family", "key", "members"
        )
    members = keys.join(F.broadcast(hot), ["family", "key"])
    coin = coin_col(hash_fn(cfg), "coin", "conv_id", "key")
    dropped = members.filter(
        ~(coin < F.lit(float(cfg.block_key_cap)) / F.col("members"))
    )
    if hubs is None:
        hubs = _hot_hubs(keys, hot)
    return (
        dropped.join(
            F.broadcast(hubs), ["family", "key"]
        )
        .where(F.col("conv_id") != F.col("hub"))
        .select(
            "family",
            "key",
            F.col("hub").alias("conv_id_a"),
            F.col("conv_id").alias("conv_id_b"),
        )
    )


def capped_key_table(
    feats: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    anchor_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (kept_keys, hot_key_audit).

    kept_keys: (family, key, conv_id) with hot keys down-sampled.
    hot_key_audit: (family, key, members, est_kept) for keys over the cap.
    ``anchor_df``: optional frozen (token, df) snapshot for the anchor
    family (see ``token_df``).
    """
    keys, counts = key_table_with_counts(feats, cfg, anchor_df)
    return _cap_members(keys, counts, cfg)


def key_table_with_counts(
    feats: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    anchor_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The committable blocking state for incremental runs: the exploded
    key table (family, key, conv_id) and its per-key member counts
    (family, key, members). A batch run commits both next to the
    features stage (bucketed by key — the count merge below is then
    co-partitioned); ``incremental.incremental_candidate_pairs``
    consumes them so an increment never re-explodes or re-counts the
    corpus."""
    keys = _key_table(feats, cfg, anchor_df)
    counts = keys.groupBy("family", "key").agg(
        F.count(F.lit(1)).alias("members")
    )
    return keys, counts


def merge_key_state(
    existing_keys: DataFrame,
    existing_counts: DataFrame,
    new_keys: DataFrame,
    new_counts: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(committed keys+counts) ∪ (increment keys+counts) -> the NEXT
    committed state. Key families are doc-local (anchors must be pinned
    via a frozen df snapshot), so per-key member counts simply add.

    Cost note (round-4 profiling): the union+groupBy re-aggregates the
    committed counts each increment — ONE narrow (family, key, members)
    shuffle, bounded by key-table cardinality, co-partitioned (no
    Exchange) when the committed counts are stored bucketed by key. A
    broadcast-join two-stream variant that avoids the shuffle entirely
    was tried and rejected: it references the committed counts twice, so
    LAZILY-chained state (state passed between increments without
    materialization) doubles the plan per step — the single-reference
    groupBy keeps chained plans linear. Production cadence materializes
    state between increments anyway (main bench does too), where the
    groupBy costs one narrow co-partitioned pass.
    """
    keys = existing_keys.unionByName(new_keys)
    counts = (
        existing_counts.unionByName(new_counts)
        .groupBy("family", "key")
        .agg(F.sum("members").alias("members"))
    )
    return keys, counts


def cap_hot_buckets(
    keyed: DataFrame,
    key_cols: list[str],
    id_col: str,
    cap: int,
    hash_impl: str = "md5",
    return_star_pairs: bool = False,
):
    """Generic hot-bucket protection for LSH-style bucket tables (the
    capped_key_table machinery, reusable by the dedup/ANN extras —
    round-1 VERDICT 'what's wrong' #4: one boilerplate-heavy bucket is
    quadratic at scale without this).

    keyed: one row per (bucket key(s), member id). Buckets over ``cap``
    members are down-sampled with a deterministic engine-neutral hash
    coin (expected kept ~= cap); the drop is AUDITED, never silent.
    Returns (kept, audit) where audit = (key_cols..., members, est_kept).

    With ``return_star_pairs`` (the member-cap star rule, round-5 —
    same motivation as ``hot_star_pairs``): the bucket's minimum member
    (hub) is force-kept, and a third DataFrame (key_cols...,
    {id}_a=hub, {id}_b=member) carries one edge per coin-DROPPED member,
    so a mega-duplicate bucket stays connected through its hub with
    LINEAR pair volume. Downstream verify steps (Jaccard / Hamming /
    cosine) still dispose of false hub pairs, so accidental hot buckets
    connect nothing.

    ``keyed`` is tracked-cached here: the frequency pass AND the
    filter join both read it (without the cache the whole upstream
    bucketing DAG runs twice). Callers release via
    ``pipeline.session.release_caches``.
    """
    from pipeline.hashing import h60_col
    from pipeline.session import track_cache

    H = F.xxhash64 if hash_impl == "xxhash64" else h60_col
    keyed = track_cache(keyed)
    # the narrow (key, members) agg feeds 2-3 broadcast consumers (audit,
    # cap join, hub semi-join) — cache it so each broadcast doesn't
    # re-aggregate the cached bucket table. The post-cap output is NOT
    # cached here or by callers: with the pre-cap table pinned it is one
    # broadcast-join + filter per read, and a second bucket-table-sized
    # persist (vectors x n_tables in the embedding leg) doubles peak
    # memory for nothing (round-5 review — same fix as blocking's star
    # mode).
    counts = track_cache(
        keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("members"))
    )
    hot = counts.filter(F.col("members") > cap)
    audit = hot.withColumn("est_kept", F.lit(cap).cast("long"))
    joined = keyed.join(F.broadcast(hot), key_cols, "left")
    coin = coin_col(H, "coin", id_col, *key_cols)
    coin_keep = coin < F.lit(float(cap)) / F.col("members")
    if not return_star_pairs:
        kept = joined.filter(
            F.col("members").isNull() | coin_keep
        ).drop("members")
        return kept, audit
    hubs = (
        keyed.join(F.broadcast(hot.select(*key_cols)), key_cols, "semi")
        .groupBy(*key_cols)
        .agg(F.min(id_col).alias("_hub"))
    )
    joined = joined.join(F.broadcast(hubs), key_cols, "left")
    kept = joined.filter(
        F.col("members").isNull()
        | coin_keep
        | (F.col(id_col) == F.col("_hub"))
    ).drop("members", "_hub")
    star = (
        joined.filter(
            F.col("members").isNotNull()
            & ~coin_keep
            & (F.col(id_col) != F.col("_hub"))
        )
        .select(
            *key_cols,
            F.col("_hub").alias(f"{id_col}_a"),
            F.col(id_col).alias(f"{id_col}_b"),
        )
    )
    return kept, audit, star


def candidate_pairs(
    feats: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    return_pair_audit: bool = False,
    anchor_df: DataFrame | None = None,
):
    """feats -> (pairs, hot_key_audit[, pair_cap_audit]).

    pairs: (conv_id_a, conv_id_b, block_key, families ARRAY<INT>) with
    conv_id_a < conv_id_b, deduplicated across families.

    With ``return_pair_audit``, also returns (family, key, pairs_total,
    pairs_kept) for keys where the star+cap pair rule dropped anything —
    the per-key twin of the dedup layer's ``_bucket_pair_cap`` audit
    (pairs_total counts post-member-cap pairs, i.e. C(kept_members, 2)).
    ``anchor_df``: frozen (token, df) snapshot for family 4 (``token_df``).
    """
    from pipeline.session import track_cache

    if cfg.hot_key_star:
        # star mode reads the exploded key table four times (counts,
        # cap filter, hubs, star edges) — cache the explode once, and
        # cache the narrow (family, key, members) agg so each broadcast
        # consumer (cap filter, hub semi-join, star-edge join) doesn't
        # re-run the count shuffle over the cached keys
        keys, counts = key_table_with_counts(feats, cfg, anchor_df)
        keys = track_cache(keys)
        counts = track_cache(counts)
        # ONE hot list + ONE hub aggregation shared by the cap filter
        # and the star edges: identical subplans let ReuseExchange
        # dedupe the semi-join + groupBy over the cached key table
        # (previously each side re-derived its own — two hub scans per
        # batch run)
        star_hot = counts.filter(
            F.col("members") > cfg.block_key_cap
        ).select("family", "key", "members")
        star_hubs = _hot_hubs(keys, star_hot)
        kept, audit = _cap_members(keys, counts, cfg, hubs=star_hubs)
        # do NOT also persist kept: with keys pinned it is one narrow
        # broadcast-join + filter over the cache, and a second
        # corpus-sized persist would double peak blocking memory
        # (round-5 review) — the self-join sides re-derive it from the
        # cached explode instead
    else:
        # non-star: kept is the only reader-shared frame — cache it so
        # both self-join sides + (upstream) the frequency pass get the
        # explode/cap work once; tracked for session.release_caches
        # (no persist leaks in long-lived sessions)
        kept, audit = capped_key_table(feats, cfg, anchor_df)
        kept = track_cache(kept)

    a = kept.alias("a")
    b = kept.alias("b")
    raw = (
        a.join(b, ["family", "key"])
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            "family",
            "key",
            F.col("a.conv_id").alias("conv_id_a"),
            F.col("b.conv_id").alias("conv_id_b"),
        )
    )
    if cfg.hot_key_star:
        raw = raw.unionByName(
            hot_star_pairs(keys, counts, cfg, hot=star_hot, hubs=star_hubs)
        )

    if not return_pair_audit:
        return star_capped_pairs(raw, cfg), audit
    pairs, pair_audit = star_capped_pairs(raw, cfg, return_audit=True)
    return pairs, audit, pair_audit


def star_pair_flag(
    raw: DataFrame,
    key_cols: list[str],
    id_a: str,
    id_b: str,
    cap: int,
) -> DataFrame:
    """THE star-preserving pair-cap rule, annotated not filtered: per
    bucket (``key_cols``), keep the first ``cap`` pairs in (a, b) order
    PLUS every pair whose left side is the bucket's minimum member, so
    all members stay reachable from the minimum (one definition shared
    by the blocking layer and the dedup/ANN bucket layer — round-5
    review: two hand-maintained twins of this rule had already drifted
    on caching). Adds ``_rn`` / ``_min_a`` / ``_keep``; callers filter
    on ``_keep`` and may audit via ``star_pair_audit``."""
    w = Window.partitionBy(*key_cols).orderBy(id_a, id_b)
    # _min_a == the bucket's minimum non-null id_a: under this ordering a
    # RUNNING min() reaches it at the bucket's first non-null row and
    # shares ONE Window operator (same partitioning + ordering) with the
    # row_number instead of a second unordered full-partition Window
    # pass over the entire pair table (round-6; plan shows 1 Window
    # node, was 2). Not first(): nulls sort first, so a null id_a would
    # make first() null for the whole bucket and silently turn the star
    # cap into a bare cap.
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .withColumn("_min_a", F.min(id_a).over(wr))
        .withColumn(
            "_keep",
            (F.col("_rn") <= cap) | (F.col(id_a) == F.col("_min_a")),
        )
    )


def star_pair_audit(flagged: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key_cols..., pairs_total, pairs_kept) for buckets where the
    star+cap rule dropped anything — the never-silent contract."""
    return (
        flagged.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("pairs_total"),
            F.sum(F.col("_keep").cast("long")).alias("pairs_kept"),
        )
        .where(F.col("pairs_kept") < F.col("pairs_total"))
    )


def star_capped_pairs(
    raw: DataFrame, cfg: MatchConfig, return_audit: bool = False
):
    """(family, key, conv_id_a, conv_id_b) -> deduplicated capped pairs.

    Per-(family,key) pair cap — deterministic AND star-preserving (see
    ``star_pair_flag``). Shared by the batch self-join
    (``candidate_pairs``) and the incremental restricted join
    (``pipeline.incremental``)."""
    from pipeline.session import track_cache

    flagged = star_pair_flag(
        raw, ["family", "key"], "conv_id_a", "conv_id_b",
        cfg.pairs_per_key_cap,
    )
    if return_audit:
        # the audit AND the pairs table both derive from flagged; without
        # this cache a staged run pays the heaviest blocking shuffle (the
        # self-join + two window passes) TWICE — once per materialized
        # stage. MEMORY_AND_DISK persist, bounded by the member cap
        # (<= C(block_key_cap, 2) rows/key), released with the other
        # blocking caches via session.release_caches.
        flagged = track_cache(flagged)
    capped = flagged.where("_keep")

    pairs = capped.groupBy("conv_id_a", "conv_id_b").agg(
        F.min("key").alias("block_key"),
        F.array_sort(F.collect_set("family")).alias("families"),
    )
    if not return_audit:
        return pairs
    return pairs, star_pair_audit(flagged, ["family", "key"])
