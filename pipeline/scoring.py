"""Stage 4 — pairwise scoring: vectorized kernels + JVM tier cascade.

Two layers, split exactly as SURVEY.md §2.11 prescribes:

* **Channel scores** (token-sort/street, digit-sig/house, partial/city,
  Jaccard/zip, Jaro-Winkler/state, role-structure/unit + the unweighted
  overall similarity) — an Arrow-batched pandas UDF calling the
  SAME kernel code as the pandas oracle (``pipeline.oracle
  .component_scores``), so pipeline and oracle cannot diverge. This is the
  only Python on the pair path; every kernel early-exits on equal strings,
  so exact/norm_eq pairs cost ~nothing.

* **Weighted confidence + tier cascade + quality/reliability** — pure JVM
  Column expressions reproducing ``optimized.py:686-737`` (caps, presence
  weights, post-hoc guards) and the 10-level cascade recast as a one-pass
  max-tier assignment (SURVEY.md §2.9 C1: thresholds are monotone, so
  "first level that hits" == "highest tier whose threshold the pair
  meets"). Floating-point op ORDER matches the oracle's accumulation
  order, so JVM doubles equal Python doubles bit-for-bit.

Scale: the scoring stage is a narrow map over the pairs table — no
shuffle. Arrow batch size is capped in the session config because paired
canonical texts are wide rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline.config import (
    DEFAULT_CONFIG,
    MatchConfig,
    RELIABILITY_BANDS,
    TIERS,
    TIER_ADJUSTMENT,
)

# score-column order = the oracle's component dict order; the six weighted
# channels first, then the unweighted overall similarity (s_text)
CHANNELS = ["token_sort", "num", "partial", "jaccard", "jaro", "struct", "text"]

_SCORE_SCHEMA = T.StructType(
    [T.StructField(f"s_{c}", T.DoubleType()) for c in CHANNELS]
)


def make_score_udf(cfg: MatchConfig = DEFAULT_CONFIG):
    """Series->DataFrame pandas UDF computing the six channel scores.

    Uses the numpy batch kernels (``pipeline.kernels_batch``) — SIMD
    across the Arrow batch, bit-equal to the per-pair oracle kernels by
    construction (same integer LCS/Jaro counts, same float op order;
    pinned by tests/test_kernels_batch.py and the oracle-parity contract
    queries). ~2.5-3x the per-pair kernel throughput per core.
    """

    def _score_batch(
        norm_a: pd.Series, norm_b: pd.Series, roles_a: pd.Series, roles_b: pd.Series
    ) -> pd.DataFrame:
        # import inside the UDF so executors resolve it after --py-files
        from pipeline.kernels_batch import batch_component_scores

        scores = batch_component_scores(
            norm_a.tolist(), norm_b.tolist(), roles_a.tolist(), roles_b.tolist(), cfg
        )
        return pd.DataFrame({f"s_{c}": scores[c] for c in CHANNELS})

    return F.pandas_udf(_score_batch, returnType=_SCORE_SCHEMA)


def confidence_col(cfg: MatchConfig = DEFAULT_CONFIG) -> Column:
    """Weighted confidence over s_* columns — oracle.weighted_confidence
    as a Column expression, FP-op-order identical. Channel-for-channel
    with the reference: street -> s_token_sort, house -> s_num."""
    s = {c: F.col(f"s_{c}") for c in CHANNELS}
    w = cfg.weights()

    # absent house channel -> weight 0 (reference omits missing components)
    w_num = F.when(s["num"] == 0.0, F.lit(0.0)).otherwise(F.lit(w["num"]))
    w_partial = F.when(s["partial"] == 0.0, F.lit(0.0)).otherwise(
        F.lit(w["partial"])
    )
    jacc_kept = s["jaccard"] >= 50.0
    jacc_score_term = F.when(jacc_kept, s["jaccard"] * F.lit(w["jaccard"])).otherwise(
        F.lit(0.0)
    )
    jacc_weight_term = F.when(jacc_kept, F.lit(w["jaccard"])).otherwise(F.lit(0.0))

    total_score = (
        s["token_sort"] * F.lit(w["token_sort"])
        + s["num"] * w_num
        + s["partial"] * w_partial
        + jacc_score_term
        + s["jaro"] * F.lit(w["jaro"])
        + s["struct"] * F.lit(w["struct"])
    )
    total_weight = (
        F.lit(w["token_sort"])
        + w_num
        + w_partial
        + jacc_weight_term
        + F.lit(w["jaro"])
        + F.lit(w["struct"])
    )
    ws = F.when(total_weight == 0.0, F.lit(0.0)).otherwise(
        total_score / total_weight
    )

    # post-hoc high-confidence guards (optimized.py:728-735): house (if
    # present) must be very good, street must be very close
    ws_a = F.when(
        (s["num"] > 0.0) & (s["num"] < 90.0), F.least(ws, F.lit(75.0))
    ).otherwise(ws)
    ws_b = F.when(s["token_sort"] < 85.0, F.least(ws_a, F.lit(80.0))).otherwise(ws_a)
    guarded = F.when(ws > 85.0, ws_b).otherwise(ws)

    # street cap early return (optimized.py:708-710)
    guarded = F.when(
        s["token_sort"] < 70.0, F.least(s["token_sort"], F.lit(60.0))
    ).otherwise(guarded)

    # house cap early return (optimized.py:703-706) — checked FIRST in the
    # reference, so it wins over the street cap
    return F.when(
        (s["num"] > 0.0) & (s["num"] < 80.0),
        F.least(s["num"], F.lit(70.0)),
    ).otherwise(guarded)


def tier_col(conf: Column) -> Column:
    """One-pass max-tier assignment (cascade recast, SURVEY.md §2.9 C1)."""
    expr = F.lit("none")
    for name, threshold, _k in reversed(TIERS):
        expr = F.when(conf >= F.lit(threshold), F.lit(name)).otherwise(expr)
    return expr


def adjustment_col(tier: Column) -> Column:
    # default -80 for unknown levels = the reference's
    # level_adjustments.get(match_level, -80) (UAM:836, :925)
    expr = F.lit(-80.0)
    for name, adj in TIER_ADJUSTMENT.items():
        expr = F.when(tier == name, F.lit(adj)).otherwise(expr)
    return expr


def reliability_col(quality: Column) -> Column:
    expr = F.lit("speculative")
    for threshold, band in reversed(RELIABILITY_BANDS):
        expr = F.when(quality >= F.lit(threshold), F.lit(band)).otherwise(expr)
    return expr


def with_decisions(
    scored: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Add confidence / tier / adjusted / is_exact / unit_exact / quality /
    reliability / warnings / is_match over a DataFrame that has the s_*
    channel columns plus the pair context columns ``_norm_a, _norm_b,
    _roles_a, _roles_b`` (and optionally ``families``).

    Every expression is the Column twin of the pandas oracle
    (``pipeline.oracle``): same FP-op order, same clamp order — including
    the POST-clamp unit bonus quirk (UAM:910-921, SURVEY §7.5 risk 4).
    """
    needed = {"_norm_a", "_norm_b", "_roles_a", "_roles_b"}
    missing = needed - set(scored.columns)
    if missing:
        raise ValueError(
            f"with_decisions needs pair context columns {sorted(missing)}"
        )
    na = F.coalesce(F.col("_norm_a"), F.lit(""))
    nb = F.coalesce(F.col("_norm_b"), F.lit(""))
    ra = F.coalesce(F.col("_roles_a"), F.lit(""))
    rb = F.coalesce(F.col("_roles_b"), F.lit(""))
    n_families = (
        F.size("families").cast("double")
        if "families" in scored.columns
        else F.lit(1.0)
    )

    # P2 required-feature gate (optimized.py:784-793): gated pairs get the
    # empty MatchResult — zero channel scores, confidence 0, tier none
    gate = F.lit(False)
    if cfg.require_text:
        gate = gate | (F.length(na) == 0) | (F.length(nb) == 0)
    if cfg.require_roles:
        gate = gate | (F.length(ra) == 0) | (F.length(rb) == 0)

    g = F.col("_gated")
    zero = F.lit(0.0)
    # One projection per dependency level (``withColumns``): each
    # ``withColumn`` re-analyzes the whole plan, and this layer used to
    # chain ~20 of them per score_pairs call. Level 1 reads the UNGATED
    # s_* for confidence: where ``gate`` holds the result is 0.0 either
    # way, and elsewhere the gated s_* ARE the ungated ones.
    out = scored.withColumns(
        {"_gated": gate}
        | {
            f"s_{c}": F.when(gate, zero).otherwise(F.col(f"s_{c}"))
            for c in CHANNELS
        }
        | {"confidence": F.when(gate, zero).otherwise(confidence_col(cfg))}
    )
    out = out.withColumn(
        "tier",
        F.when(g, F.lit("none")).otherwise(tier_col(F.col("confidence"))),
    )
    adj = adjustment_col(F.col("tier"))

    s = {c: F.col(f"s_{c}") for c in CHANNELS}
    # F16 quality (UAM:760-838): presence bonuses + es/similarity bonuses
    # + level adjustment + preprocessing-issue penalties, clamped [0,100]
    es = F.lit(10.0) * n_families
    base = (
        F.col("confidence")
        + F.when(F.length(nb) > 0, F.lit(20.0)).otherwise(zero)
        + F.when(nb.rlike("[0-9]"), F.lit(15.0)).otherwise(zero)
        + F.when(F.length(rb) > 0, F.lit(30.0))
        .when(s["struct"] > 0.0, F.lit(25.0))
        .otherwise(zero)
        + F.when(s["partial"] > 0.0, F.lit(10.0)).otherwise(zero)
        + F.when(s["jaro"] > 0.0, F.lit(5.0)).otherwise(zero)
        + F.when(s["jaccard"] >= 50.0, F.lit(5.0)).otherwise(zero)
        + F.when(es > 0.0, F.least(es / 10.0, F.lit(20.0))).otherwise(zero)
        + F.when(s["text"] > 0.0, F.least(s["text"] / 5.0, F.lit(15.0))).otherwise(zero)
        + adj
        - F.when(F.length(na) == 0, F.lit(50.0))
        .when(F.length(na) < 10, F.lit(30.0))
        .when(na.rlike("^[0-9 ]+$") & na.rlike("[0-9]"), F.lit(20.0))
        .otherwise(zero)
    )
    clamped = F.greatest(zero, F.least(F.lit(100.0), base))
    # POST-clamp unit bonus (UAM:910-921) — quality may exceed 100
    unit_bonus = F.when(
        (F.length(ra) > 0) & (F.length(rb) > 0),
        F.when(ra == rb, F.lit(50.0)).otherwise(F.lit(-20.0)),
    ).otherwise(zero)
    out = out.withColumns(
        {
            "confidence_adjusted": F.greatest(
                F.lit(0.0), F.col("confidence") + adj
            ),
            # P5 multi-component exact predicate (optimized.py:191-218)
            "is_exact": (s["text"] >= F.lit(cfg.exact_similarity_min))
            & (F.col("confidence") >= F.lit(95.0))
            & ~((s["num"] > 0.0) & (s["num"] < F.lit(cfg.exact_house_min)))
            & (s["token_sort"] >= F.lit(cfg.exact_street_min))
            & ~(
                (s["jaccard"] > 0.0)
                & (s["jaccard"] < F.lit(cfg.exact_zip_min))
            ),
            "unit_exact": (F.length(ra) > 0) & (ra == rb),
            "quality": F.when(g, zero).otherwise(clamped + unit_bonus),
        }
    )
    out = out.withColumns(
        {
            "reliability": F.when(g, F.lit("speculative")).otherwise(
                reliability_col(F.col("quality"))
            ),
            # F17 warnings array (UAM:855-864)
            "warnings": F.when(
                g, F.array(F.lit("empty_critical_feature"))
            ).otherwise(
                F.array_compact(
                    F.array(
                        F.when(
                            F.col("tier").isin(
                                "phonetic", "keyword", "desperate"
                            ),
                            F.lit("low_confidence_level"),
                        ),
                        F.when(s["text"] < 50.0, F.lit("low_similarity")),
                        # STRUCTURALLY UNREACHABLE in this recast, kept
                        # for F17 parity: the reference's retrieval score
                        # is the ES rank (UAM:855-864 — can be < 5 for a
                        # weak index hit), ours is 10 * n_families and a
                        # pair exists only because >= 1 blocking family
                        # proposed it, so es >= 10 always. The oracle
                        # twin replicates the same condition, so both
                        # engines agree on the empty set; a consumer
                        # filtering on this warning gets the same (zero)
                        # rows the recast semantics imply.
                        F.when(es < 5.0, F.lit("low_retrieval_score")),
                    )
                )
            ),
            "is_match": ~g
            & (F.col("confidence") >= F.lit(cfg.match_tier_threshold))
            & (s["text"] >= F.lit(cfg.match_text_floor)),
        }
    )
    return out.drop("_gated")


def match_text_keep_col(cfg: MatchConfig = DEFAULT_CONFIG) -> Column:
    """JVM-provable keep-condition for the match-only fast path.

    ``is_match`` requires ``s_text >= cfg.match_text_floor``, and s_text
    is the InDel ratio ``200 * LCS(a', b') / (la' + lb')`` where a', b'
    are the KERNEL-TRUNCATED texts (``cfg.score_text_max_chars``, the
    documented cost guard applied by both the batch and oracle kernels)
    — so the bound must use the truncated lengths:

        s_text  <=  200 * min(la', lb') / (la' + lb'),
        lx' = min(lx, score_text_max_chars)

    An upper bound computable from the two lengths alone, whole-stage
    codegen'd, no kernel work.  A pair whose bound is already below the
    floor provably cannot be a match, so pruning it cannot change the
    match set (equal texts score 100 and are kept explicitly; when both
    sides exceed the truncation cap the clamped bound is 100, so pairs
    that only become equal AFTER truncation are always kept; the
    inequality is >= on the keep side, so boundary pairs are scored).
    Written multiplicatively to avoid la + lb = 0 division."""
    cap = F.lit(int(cfg.score_text_max_chars))
    la = F.least(F.length(F.coalesce(F.col("_norm_a"), F.lit(""))), cap)
    lb = F.least(F.length(F.coalesce(F.col("_norm_b"), F.lit(""))), cap)
    return F.col("_norm_a").eqNullSafe(F.col("_norm_b")) | (
        F.lit(200.0) * F.least(la, lb).cast("double")
        >= F.lit(float(cfg.match_text_floor)) * (la + lb).cast("double")
    )


def score_pairs(
    feats: DataFrame,
    pairs: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    match_only: bool = False,
    n_partitions: int | None = None,
) -> DataFrame:
    """pairs + features -> scored pairs with decisions.

    Two equi-joins pull each side's (norm_text, roles_sig); then one
    narrow UDF stage + column arithmetic. On a bucketed production table
    both joins are shuffle-free (storage-partitioned on conv_id).

    ``match_only=True`` is the 100-TB edge-generation fast path: when the
    caller only consumes MATCH pairs (cluster edge lists — not the audit
    histograms, which need every pair), a codegen'd length-ratio bound
    (``match_text_keep_col``) prunes pairs that provably cannot clear the
    s_text match floor BEFORE the Arrow stage, so the Python kernels
    never see them, and the output is filtered to ``is_match``.  Result
    set is IDENTICAL to ``score_pairs(...).where("is_match")`` — the
    bound is an upper bound on s_text, never an estimate (pinned by
    ``tests/test_decisions.py`` and the ``linkage_match_pairs`` contract
    query vs the full-scoring DuckDB oracle).  The win is
    corpus-dependent — it prunes exactly the cross-LENGTH candidate
    collisions: measured 3.3% of blocked pairs on the sf0.1 documents
    corpus and 0% on the length-homogeneous events transcripts; corpora
    with headers/boilerplate stubs blocked against full documents prune
    far more.  The filter itself is ~free (two LENGTH columns), so it is
    never a regression."""
    fa = feats.select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("norm_text").alias("_norm_a"),
        F.col("roles_sig").alias("_roles_a"),
    )
    fb = feats.select(
        F.col("conv_id").alias("conv_id_b"),
        F.col("norm_text").alias("_norm_b"),
        F.col("roles_sig").alias("_roles_b"),
    )
    # The kernel UDF is CPU-bound Python: AQE sizes partitions by BYTES, so
    # a small-but-expensive pair table gets coalesced into 1-2 tasks (and a
    # broadcast join keeps it in the upstream stage) — measured 0.17 scaling
    # efficiency without this. Hash-repartition on the pair key to
    # 3x cores so every core scores. Round 6 A/B'd 1x/1.5x/2x cores
    # (bigger partitions hold a full 10k-row Arrow batch, better numpy
    # amortization) and REJECTED them: with partitions near the core
    # count the last task wave is fractional (48 parts on 32 cores = a
    # 16-task second wave leaving half the cores idle), and the 8-rep
    # interleaved ring A/B puts 3x cores FIRST (min/med 6.21/6.57s vs
    # 64 parts 6.49/6.77 and 48 parts 6.45/7.28) — wave packing beats
    # batch amortization. Repartition BEFORE the text joins:
    # the pre-join rows are ids-only (~60x narrower than with both
    # canonical texts attached), so the forced shuffle moves megabytes,
    # not the full pair-text volume; a broadcast text join preserves the
    # partitioning into the UDF stage.
    # ``n_partitions`` override: a caller that KNOWS the pair count
    # (the incremental step — its pair table is cached and counted)
    # right-sizes the Arrow stage instead; dozens of near-empty
    # Python-worker partitions for an 11k-pair increment is pure
    # per-partition overhead (round-5 profiling).
    n_parts = (
        n_partitions
        if n_partitions is not None
        else pairs.sparkSession.sparkContext.defaultParallelism * 3
    )
    joined = (
        pairs.repartition(n_parts, "conv_id_a", "conv_id_b")
        .join(fa, "conv_id_a")
        .join(fb, "conv_id_b")
    )
    if match_only:
        joined = joined.where(match_text_keep_col(cfg))

    udf = make_score_udf(cfg)
    scored = joined.withColumn(
        "_s", udf("_norm_a", "_norm_b", "_roles_a", "_roles_b")
    )
    scored = scored.select(
        "conv_id_a", "conv_id_b", "block_key", "families",
        "_norm_a", "_norm_b", "_roles_a", "_roles_b", "_s.*",
    )
    out = with_decisions(scored, cfg).drop(
        "_norm_a", "_norm_b", "_roles_a", "_roles_b"
    )
    if match_only:
        out = out.where("is_match")
    return out
