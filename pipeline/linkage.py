"""End-to-end linkage composition (lazy) + staged resumable runner.

``build_plan`` composes the whole pipeline lazily — a single Catalyst plan
per output, suitable for tests and the driver contract. ``run_staged``
materializes each stage with commit manifests (resume semantics, SURVEY.md
§3.4):

  turns -> docs -> features -> candidate pairs (+hot-key audit)
        -> scored pairs -> clusters -> audit
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipeline import audit as audit_mod
from pipeline.blocking import candidate_pairs
from pipeline.canonicalize import canonicalize
from pipeline.cluster import connected_components
from pipeline.config import DEFAULT_CONFIG, MatchConfig
from pipeline.features import featurize
from pipeline.io import StageRunner
from pipeline.scoring import score_pairs


def build_plan(
    turns: DataFrame,
    cfg: MatchConfig = DEFAULT_CONFIG,
    anchor_df: DataFrame | None = None,
    contract_dups: bool = False,
) -> dict[str, DataFrame]:
    """Lazy end-to-end plan. Clustering needs actions (iterative), so the
    returned ``edges`` is the match edge list; call
    ``cluster_edges`` to materialize clusters.

    ``features`` is persisted (memory+disk): it feeds blocking key
    exploding, the key-frequency pass, BOTH sides of the pair self-join
    and BOTH sides of the scoring join — without persistence Catalyst
    re-derives the canonicalize aggregation + MinHash for every branch
    (measured 12 scans of the turns table). run_staged gets the same
    effect from stage materialization.

    ``contract_dups`` runs the exact-dup contraction pre-pass
    (``contract_exact_dups``): only class representatives are blocked
    and scored, and ``edges`` adds one (rep, member) edge per collapsed
    member. Plain mode is the identity contraction — every class is a
    singleton, ``rep_features`` IS ``features``, ``dup_map`` is None —
    and builds no signature join at all.

    Equivalence (tested, ``tests/test_contraction.py``): when no member /
    pair cap binds, the contracted ``clusters`` equal the plain run's
    EXACTLY — (i) keys are functions of norm_text and anchor df is pinned
    to full-population statistics via ``weighted_df``, so the rep pair
    set is the full candidate set restricted to reps; (ii) scoring
    depends only on the signature, so rep decisions equal member
    decisions; (iii) each class is internally exact-matched in the full
    run and uniformly connected externally, so components correspond
    1:1 under the blow-up, and min-id labels agree because the rep IS
    its class minimum. When caps DO bind, contraction is the STRONGER
    path: the mega-group never becomes a hot key at all (one rep), so
    no lossy coin-capping is needed for exact-duplicate skew — the skew
    bench asserts label equality there empirically. Contracted
    ``scored`` / audit tables describe REP pairs (one row per class
    pair, not per member pair) — like ``audit_sample_rate``, pair-level
    statistics are estimates of the full pair population; entity labels
    are not.

    ``anchor_df`` in the result is the (token, df) snapshot the pairing
    used (the full-population ``weighted_df`` when contracting, else the
    one passed in) — commit it next to the state so increments and
    retractions pin anchors to the SAME statistics.
    """
    from pipeline.session import track_cache

    docs = canonicalize(turns)
    feats = track_cache(featurize(docs, cfg))
    rep_feats, dup_map, anchor_df = _blocking_input(
        feats, cfg, contract_dups, anchor_df
    )
    if dup_map is not None:
        rep_feats = track_cache(rep_feats)
    pairs, hot_audit = candidate_pairs(rep_feats, cfg, anchor_df=anchor_df)
    pairs = track_cache(pairs)
    scored = score_pairs(rep_feats, pairs, cfg)
    return {
        "docs": docs,
        "features": feats,
        "rep_features": rep_feats,
        "dup_map": dup_map,
        "pairs": pairs,
        "hot_key_audit": hot_audit,
        "scored": scored,
        "edges": match_edge_list(scored, dup_map),
        "anchor_df": anchor_df,
    }


def _blocking_input(
    feats: DataFrame,
    cfg: MatchConfig,
    contract_dups: bool,
    anchor_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None, DataFrame | None]:
    """``(block_feats, dup_map, anchor_df)`` for the pair stage:
    ``contract_exact_dups`` when contracting, else the identity
    ``(feats, None, anchor_df)``."""
    if contract_dups:
        return contract_exact_dups(feats, cfg)
    return feats, None, anchor_df


def match_edge_list(
    scored: DataFrame, dup_map: DataFrame | None = None
) -> DataFrame:
    """``(src, dst)`` match edges: the scored matches plus, in contraction
    mode, one (rep, member) edge per collapsed member — exact-tier
    matches by construction, so they are part of the full match graph."""
    edges = scored.where("is_match").select(
        F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
    )
    if dup_map is None:
        return edges
    return edges.unionByName(
        dup_map.select(
            F.col("rep_id").alias("src"), F.col("conv_id").alias("dst")
        )
    )


def cluster_edges(
    edges: DataFrame, feats: DataFrame
) -> tuple[DataFrame, list[dict]]:
    return connected_components(edges, all_nodes=feats.select("conv_id"))


def exact_sigs(feats: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG) -> DataFrame:
    """``(conv_id, _s1, _s2)`` exact-duplicate signature for every
    gate-ELIGIBLE feature row — two independent salted 60-bit hashes of
    ``(norm_text, roles_sig)``, the full behavioral identity of a doc
    (every blocking key and every score channel is a function of those
    two columns). Shared by ``contract_exact_dups`` and the incremental
    short-circuit (``incremental.incremental_link``'s contraction mode),
    which must agree bit-for-bit on class identity across runs. Narrow:
    one projection, no shuffle."""
    from pipeline.blocking import required_feature_gate
    from pipeline.features import hash_fn

    H = hash_fn(cfg)
    sig_cols = (F.col("norm_text"), F.coalesce("roles_sig", F.lit("")))
    return feats.where(required_feature_gate(cfg)).select(
        "conv_id",
        H(F.lit("xsig1"), *sig_cols).alias("_s1"),
        H(F.lit("xsig2"), *sig_cols).alias("_s2"),
    )


def contract_exact_dups(
    feats: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact-duplicate contraction pre-pass: collapse behaviorally
    identical conversations to one representative before blocking.

    Scoring is a pure function of each side's ``(norm_text, roles_sig)``
    (``scoring.score_pairs`` joins exactly those two columns per side)
    and every blocking key is a function of ``norm_text`` — so two
    gate-eligible docs with identical ``(norm_text, roles_sig)`` are
    fully interchangeable: they generate the same keys, score identically
    against every third doc, and their own pair is an exact-tier match.
    Contracting each equivalence class to its minimum conv_id therefore
    preserves entity labels EXACTLY (when no lossy cap binds; see
    ``build_plan``) while removing the quadratic pair blowup
    a mega-duplicate group causes — the exact-dup pre-pass the skew-scale
    run's caveat calls for (BENCH/skew_scale.md: hub fan-in is linear but
    still one edge per dropped member; contraction removes those members
    from blocking entirely).

    Returns ``(rep_feats, dup_map, weighted_df)``:

    * ``rep_feats`` — feature rows for class representatives plus all
      gate-REJECTED rows (rejected docs pair with nothing in the full
      run — not even their own byte-twins — so they must stay singleton
      rows, never collapse).
    * ``dup_map`` — ``(conv_id, rep_id)`` for eligible non-representative
      members only (empty when the corpus has no exact dups).
    * ``weighted_df`` — ``(token, df)`` equal to ``blocking.token_df``
      over the FULL corpus (each rep counts with its class size), so the
      anchor family sees full-population document frequencies and family
      4 keys are unchanged by contraction. Pass it as ``anchor_df``.

    Scale shape: documents never shuffle by signature — one narrow
    ``(conv_id, 2x60-bit sig)`` aggregation builds the classes, the
    map-back join is co-partitioned with it, and the rep join keys on
    conv_id (features are already hash-partitioned by conv_id from the
    canonicalize groupBy). Class identity uses TWO independent salted
    hashes of the signature (the ``exact_dedup`` double-hash rule:
    collision probability ~2^-120 — never full-text equality shuffles).
    """
    from pipeline.blocking import required_feature_gate

    eligible = feats.where(required_feature_gate(cfg))
    rejected = feats.where(~required_feature_gate(cfg))

    sig = exact_sigs(feats, cfg)
    groups = sig.groupBy("_s1", "_s2").agg(
        F.min("conv_id").alias("rep_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    dup_map = (
        sig.join(groups, ["_s1", "_s2"])
        .where(F.col("conv_id") != F.col("rep_id"))
        .select("conv_id", "rep_id")
    )
    rep_feats = eligible.join(
        groups.select(F.col("rep_id").alias("conv_id"), "group_size"),
        "conv_id",
    )
    # df weighted by class multiplicity == token_df(full corpus): dup
    # members have identical token sets, so each class contributes its
    # size to every one of its distinct tokens.
    weighted_df = (
        rep_feats.select(
            "group_size",
            F.explode(F.array_distinct("tokens")).alias("token"),
        )
        .groupBy("token")
        .agg(F.sum("group_size").alias("df"))
    )
    rep_feats = rep_feats.drop("group_size").unionByName(rejected)
    return rep_feats, dup_map, weighted_df


def build_contracted_plan(
    turns: DataFrame, cfg: MatchConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """``build_plan`` in contraction mode."""
    return build_plan(turns, cfg, contract_dups=True)


def best_matches(scored: DataFrame) -> DataFrame:
    """W1-W4 best-candidate selection with the C3 unit-exact tie-break.

    The reference ranks exact matches first (``_rank_results``,
    optimized.py:739-776) and RETURNS EARLY on a unit-exact hit even at a
    lower cascade level (UAM:910-943) — a unit-exact candidate outranks a
    same-confidence candidate whose unit differs. Recast as a total
    ordering: is_exact desc, unit_exact desc, confidence desc, partner id
    asc (deterministic).
    """
    from pyspark.sql import Window

    cols = ["confidence", "tier", "is_exact", "unit_exact"]
    sym = scored.select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("partner_id"),
        *cols,
    ).unionByName(
        scored.select(
            F.col("conv_id_b").alias("conv_id"),
            F.col("conv_id_a").alias("partner_id"),
            *cols,
        )
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("is_exact"),
        F.desc("unit_exact"),
        F.desc("confidence"),
        F.asc("partner_id"),
    )
    return (
        sym.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("conv_id", "partner_id", *cols)
    )


def run_staged(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    cfg: MatchConfig = DEFAULT_CONFIG,
    audit_sample_rate: float | None = None,
    contract_dups: bool = False,
    review_band: tuple[float, float, float, int] | None = None,
    resume: bool = True,
    input_token: str | None = None,
) -> dict[str, DataFrame]:
    """Materialize every stage with commit manifests (resumable).

    ``audit_sample_rate`` (round-3 VERDICT task 6, opt-in): by default
    every pair is scored FULLY because the audit histograms need every
    pair's decision columns. With a rate in (0, 1], the scored stage
    takes the ``match_only`` fast path (cluster edges only — provably
    the identical match set, so CLUSTERS ARE IDENTICAL; pinned by
    ``tests/test_resume.py::test_audit_sample_seam``), and the full
    decision columns are computed on a DETERMINISTIC sample of pairs
    (the shared hash coin on the pair key) for the audit tables, which
    carry ``sample_rate`` so consumers read them as estimates.

    ``contract_dups`` (round-5, opt-in): run the exact-dup contraction
    pre-pass (``contract_exact_dups``) — gate-eligible docs with an
    identical (norm_text, roles_sig) signature collapse to one
    representative before blocking, and entity labels expand back
    through (rep, member) exact edges. CLUSTERS ARE IDENTICAL to the
    uncontracted run when no cap binds (45th contract query), and the
    mega-dup skew case never becomes a hot key at all. Pair-level
    stages (``pairs``/``scored`` and the audit histograms) then
    describe REP pairs — one row per signature-class pair, not per
    member pair — so read them like the sampled audits: estimates of
    the pair population, with labels exact.

    ``review_band`` (round-5, opt-in): ``(lo, hi, boundary, top_n)`` —
    materialize a clerical-review queue
    (``pipeline.evaluate.review_queue``) of scored pairs in the
    confidence band [lo, hi), ranked by distance to ``boundary``. Under
    ``audit_sample_rate`` the queue is built from the SAME deterministic
    pair sample as the audit histograms (labeled ``sample_rate``) — at
    100 TB reviewers adjudicate a sample of the band by construction.
    """
    # deterministic ACROSS PROCESSES: hash() of a dataclass with str
    # fields is salted per interpreter (PYTHONHASHSEED), which would
    # silently defeat resume; repr() of a frozen dataclass is stable.
    # ``input_token`` folds INPUT IDENTITY into the fingerprint: without
    # it, re-running the same out_dir against different data silently
    # serves the previous input's committed stages (round-5 review —
    # main.py derives it from the input path + file sizes/mtimes or the
    # synthetic generator parameters). Library callers passing raw
    # DataFrames can't be fingerprinted here; pass an input_token (e.g.
    # a snapshot id / ingest watermark) or leave None and own the
    # same-input assumption.
    import hashlib

    fingerprint = "cfg:" + hashlib.md5(
        (
            repr(cfg)
            + f":audit={audit_sample_rate}"
            + (":contract=1" if contract_dups else "")
            + (f":review={review_band}" if review_band else "")
            + (f":input={input_token}" if input_token else "")
        ).encode("utf-8")
    ).hexdigest()
    runner = StageRunner(
        spark, out_dir, fingerprint=fingerprint, resume=resume
    )

    docs = runner.run("docs", lambda: canonicalize(turns))
    feats = runner.run("features", lambda: featurize(docs, cfg))

    block_feats, dup_map, anchor_df = _blocking_input(feats, cfg, contract_dups)
    if contract_dups:
        block_feats, dup_map, anchor_df = (
            runner.run(name, lambda df=df: df)
            for name, df in zip(
                ("rep_features", "dup_map", "anchor_df"),
                (block_feats, dup_map, anchor_df),
            )
        )

    def _pairs() -> DataFrame:
        p, hot, pair_cap = candidate_pairs(
            block_feats, cfg, return_pair_audit=True, anchor_df=anchor_df
        )
        runner.run("hot_key_audit", lambda: hot)
        runner.run("pair_cap_audit", lambda: pair_cap)
        return p

    pairs = runner.run("pairs", _pairs)
    scored = runner.run(
        "scored",
        lambda: score_pairs(
            block_feats, pairs, cfg, match_only=audit_sample_rate is not None
        ),
    )

    def _clusters() -> DataFrame:
        clusters, cc_metrics = connected_components(
            match_edge_list(scored, dup_map),
            all_nodes=feats.select("conv_id"),
        )
        runner.metrics.extend(
            {"stage": "cc", **m} for m in cc_metrics
        )
        return clusters

    clusters = runner.run("clusters", _clusters)
    if audit_sample_rate is None:
        audit_scored = scored
    else:
        from pipeline.features import hash_fn
        from pipeline.hashing import coin_col

        coin = coin_col(hash_fn(cfg), "audit", "conv_id_a", "conv_id_b")
        audit_scored = runner.run(
            "scored_audit_sample",
            lambda: score_pairs(
                block_feats,
                pairs.where(coin < F.lit(float(audit_sample_rate))),
                cfg,
            ),
        )

    def _label(df: DataFrame) -> DataFrame:
        if audit_sample_rate is None:
            return df
        return df.withColumn(
            "sample_rate", F.lit(float(audit_sample_rate))
        )

    tiers = runner.run(
        "tier_histogram",
        lambda: _label(audit_mod.tier_histogram(audit_scored)),
    )
    summary = runner.run(
        "match_summary", lambda: _label(audit_mod.match_summary(audit_scored))
    )
    review = None
    if review_band is not None:
        from pipeline.evaluate import review_queue as _review_queue

        _lo, _hi, _boundary, _top_n = review_band
        review = runner.run(
            "review_queue",
            lambda: _label(
                _review_queue(
                    audit_scored,
                    lo=_lo,
                    hi=_hi,
                    boundary=_boundary,
                    top_n=_top_n,
                )
            ),
        )
    # per-partition lineage of the scored table (north_rule: resumable
    # with per-partition lineage + metrics) — one row per partition
    lineage = runner.run(
        "partition_lineage", lambda: audit_mod.partition_lineage(scored)
    )

    # persist the run's stage metrics as an audit table (Iceberg append in
    # production; parquet here) — one row per stage/CC-iteration event
    import json as _json

    metrics_df = spark.createDataFrame(
        [(m.get("stage", "?"), _json.dumps(m, default=str)) for m in runner.metrics],
        "stage string, payload string",
    )
    from pipeline.io import write_table

    write_table(metrics_df, runner.stage_dir("audit_metrics"))

    # every stage is materialized to its table by now — release any
    # tracked caches so a long-lived session doesn't accumulate storage
    from pipeline.session import release_caches

    release_caches()

    return {
        "docs": docs,
        "features": feats,
        "pairs": pairs,
        "scored": scored,
        "clusters": clusters,
        "tier_histogram": tiers,
        "match_summary": summary,
        "partition_lineage": lineage,
        **({"review_queue": review} if review is not None else {}),
        "_runner": runner,
    }
