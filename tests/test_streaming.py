"""Streaming ingestion: exactly-once file-source ingest (checkpoint
resume skips committed files) + watermarked windowed arrival stats."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pipeline import synth
from pipeline.streaming import arrival_stats_stream, ingest_turns_stream


def _await_done(q, timeout=900):
    """Block until an ``availableNow`` query terminates; fail LOUDLY on a
    deadline miss instead of letting the test read partial state.

    The old bare ``q.awaitTermination(N)`` pattern returned False on a
    deadline miss and the test marched on: the assertion then compared
    against a half-written state dir (confusing shape mismatches) and the
    still-running query leaked into every later test's timing — observed
    as a suite-wide failure storm on a drift-degraded VM window
    (BENCH/vm_health.md). Stop the query before failing so nothing leaks."""
    done = q.awaitTermination(timeout)
    if not done:
        try:
            q.stop()
        finally:
            pytest.fail(
                f"streaming query still running after {timeout}s "
                "(VM drift? see BENCH/vm_health.md) — failing loudly "
                "instead of asserting on partial state"
            )


def _write_turn_files(corpus, d, n_files=3):
    os.makedirs(d, exist_ok=True)
    t = corpus.turns
    t = t.assign(ts=t["ts"].astype("datetime64[us]"))
    chunks = [t.iloc[i::n_files] for i in range(n_files)]
    for i, c in enumerate(chunks):
        c.to_parquet(os.path.join(d, f"part{i}.parquet"), index=False)
    return len(t)


def test_exactly_once_ingest_with_resume(spark, tmp_path):
    corpus = synth.generate(n_base=20, seed=13)
    src = str(tmp_path / "src")
    bronze = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    n = _write_turn_files(corpus, src)

    q = ingest_turns_stream(spark, src, bronze, ckpt)
    _await_done(q)
    assert spark.read.parquet(bronze).count() == n

    # restart with NO new files: checkpoint makes it a no-op
    q2 = ingest_turns_stream(spark, src, bronze, ckpt)
    _await_done(q2)
    assert spark.read.parquet(bronze).count() == n

    # new file arrives -> only the delta is ingested
    extra = synth.generate(n_base=5, seed=99)
    m = _write_turn_files(extra, src, n_files=1)
    # rename so the file name is new
    os.replace(
        os.path.join(src, "part0.parquet"), os.path.join(src, "extra.parquet")
    )
    q3 = ingest_turns_stream(spark, src, bronze, ckpt)
    _await_done(q3)
    assert spark.read.parquet(bronze).count() == n + m


def test_stream_exact_dedup(spark, tmp_path):
    """Duplicate turns across micro-batches are dropped exactly-once by
    the watermarked state store."""
    from pipeline.streaming import stream_exact_dedup

    corpus = synth.generate(n_base=10, seed=31)
    src = str(tmp_path / "src")
    os.makedirs(src)
    t = corpus.turns.assign(ts=corpus.turns["ts"].astype("datetime64[us]"))
    # write the SAME rows twice as separate files -> second copy must drop
    t.to_parquet(os.path.join(src, "a.parquet"), index=False)
    t.to_parquet(os.path.join(src, "b.parquet"), index=False)

    q = stream_exact_dedup(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ck")
    )
    _await_done(q)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == len(t)
    assert out.select("conv_id", "turn_idx").distinct().count() == len(t)


def test_streaming_canonicalize_stateful(spark, tmp_path):
    """applyInPandasWithState canonicalization, single-batch flow: 3
    files under the default maxFilesPerTrigger land in ONE micro-batch,
    per-conv state accumulates within it, the idle timeout emits the
    canonical doc — identical text to the batch canonicalizer. (The
    cross-batch state-merge branch is covered separately by
    test_streaming_canonicalize_merges_state_across_batches.)

    Processing-time timeouts only fire while batches run, so after the
    data pass a sentinel conversation is appended and a second
    availableNow pass flushes the expired state."""
    import time

    from pipeline.streaming import streaming_canonicalize

    corpus = synth.generate(n_base=12, seed=17)
    src = str(tmp_path / "src")
    _write_turn_files(corpus, src, n_files=3)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming_canonicalize(spark, src, out, ck, idle_timeout_ms=1)
    _await_done(q)
    time.sleep(0.2)  # let the 1ms processing-time timeouts expire

    sentinel = pd.DataFrame(
        {
            "conv_id": pd.Series(["zz_sentinel"], dtype="string"),
            "turn_idx": pd.Series([0], dtype="int32"),
            "role": pd.Series(["user"], dtype="string"),
            "text": pd.Series(["flush"], dtype="string"),
            "tool": pd.Series([None], dtype="string"),
            "ts": corpus.turns["ts"].iloc[:1].astype("datetime64[us]").values,
        }
    )
    sentinel.to_parquet(os.path.join(src, "sentinel.parquet"), index=False)
    q2 = streaming_canonicalize(spark, src, out, ck, idle_timeout_ms=1)
    _await_done(q2)

    got = spark.read.parquet(out).toPandas().set_index("conv_id")
    from pipeline.oracle import canonicalize_pd

    want = canonicalize_pd(corpus.turns).set_index("conv_id")
    assert set(want.index) <= set(got.index)
    for cid in want.index:
        assert got.loc[cid, "canonical_text"] == want.loc[cid, "canonical_text"]
        assert got.loc[cid, "roles_sig"] == want.loc[cid, "roles_sig"]


def test_streaming_canonicalize_continuous_flushes_idle_source(
    spark, tmp_path
):
    """continuous=True (processing-time trigger, no-data micro-batches
    left ENABLED): after the only data the source will ever see is
    ingested, the idle-timeout timers must still fire — on empty
    micro-batches — and emit every conversation WITHOUT a sentinel file
    or a second pass. This is the round-5 review's latent bug made a
    contract: baking noDataMicroBatches=false into the continuous query
    would withhold the final documents of a quiet stream forever."""
    import glob
    import time

    from pipeline.streaming import streaming_canonicalize

    corpus = synth.generate(n_base=8, seed=29)
    src = str(tmp_path / "src")
    _write_turn_files(corpus, src, n_files=2)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming_canonicalize(
        spark, src, out, ck,
        idle_timeout_ms=1,
        continuous=True,
        trigger_interval="1 second",
    )
    try:
        from pipeline.oracle import canonicalize_pd
        from pipeline.streaming import CANON_OUT_SCHEMA

        want = canonicalize_pd(corpus.turns).set_index("conv_id")
        deadline = time.time() + 300
        got = None
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if glob.glob(os.path.join(out, "*.parquet")):
                # explicit schema: the sink's first committed files can
                # be zero-row, which breaks parquet schema inference
                got = (
                    spark.read.schema(CANON_OUT_SCHEMA)
                    .parquet(out)
                    .toPandas()
                )
                if set(want.index) <= set(got["conv_id"]):
                    break
            time.sleep(1.0)
        assert got is not None and set(want.index) <= set(got["conv_id"]), (
            "idle-source flush never happened: continuous mode is not "
            "running no-data micro-batches"
        )
        got = got.set_index("conv_id")
        for cid in want.index:
            assert (
                got.loc[cid, "canonical_text"]
                == want.loc[cid, "canonical_text"]
            )
    finally:
        q.stop()
        q.awaitTermination(60)


def test_arrival_stats_windowed(spark, tmp_path):
    corpus = synth.generate(n_base=15, seed=21)
    src = str(tmp_path / "src")
    out = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt2")
    _write_turn_files(corpus, src)

    q = arrival_stats_stream(spark, src, out, ckpt)
    _await_done(q)
    stats = spark.read.parquet(out).toPandas()
    assert len(stats) > 0
    assert set(stats["role"]).issubset({"user", "assistant", "system", "tool"})
    # append mode only emits windows finalized by the watermark (the last
    # ~2 minutes stay open at stream end — correct semantics); every
    # EMITTED window must match a batch recomputation exactly
    batch = (
        corpus.turns.assign(
            window_start=corpus.turns["ts"].dt.floor("1min")
        )
        .groupby(["window_start", "role"])
        .size()
        .rename("n_batch")
        .reset_index()
    )
    stats["window_start"] = stats["window_start"].astype("datetime64[ns]")
    m = stats.merge(batch, on=["window_start", "role"], how="left")
    assert (m["n_turns"] == m["n_batch"]).all()
    assert stats["n_turns"].sum() <= len(corpus.turns)


def test_streaming_incremental_link_matches_batch(spark, tmp_path):
    """Continuous entity resolution: three conversation-complete file
    drops become bootstrap + two incremental_link micro-batches through
    committed parquet state; the final labeling equals one BATCH linkage
    run over all turns (population-independent config), and restarting
    the stream with no new files changes nothing (exactly-once)."""
    import json
    from dataclasses import replace

    from pyspark.sql import functions as F

    from pipeline.config import DEFAULT_CONFIG
    from pipeline.linkage import build_plan, cluster_edges
    from pipeline.streaming import streaming_incremental_link

    cfg = replace(
        DEFAULT_CONFIG,
        pairs_per_key_cap=1_000_000,
        block_key_cap=1_000_000,
        anchor_max_df=1,
    )
    corpus = synth.generate(n_base=60, seed=23)
    t = corpus.turns.assign(ts=corpus.turns["ts"].astype("datetime64[us]"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    # split by CONV so no conversation straddles micro-batches (the
    # documented precondition)
    import zlib

    slot = t["conv_id"].map(lambda c: zlib.crc32(c.encode()) % 3)
    for i in range(3):
        t[slot == i].to_parquet(
            os.path.join(src, f"drop{i}.parquet"), index=False
        )

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)

    with open(os.path.join(state, "_LATEST.json")) as f:
        latest = json.load(f)
    assert latest["batch_id"] == 2, latest
    got = (
        spark.read.parquet(latest["clusters"])
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )

    turns_df = spark.createDataFrame(t)
    plan = build_plan(turns_df, cfg)
    full, _ = cluster_edges(plan["edges"], plan["features"])
    want = (
        full.select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["conv_id", "entity_id"]], want)

    # committed feature/key state is append-only and complete
    feats = spark.read.parquet(*latest["feature_dirs"])
    assert feats.count() == turns_df.select("conv_id").distinct().count()
    assert feats.groupBy("conv_id").count().where("count > 1").count() == 0

    # restart with no new files: checkpoint makes it a no-op
    q2 = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q2)
    with open(os.path.join(state, "_LATEST.json")) as f:
        assert json.load(f) == latest


def _conv_complete_drops(corpus, src, n_drops=3):
    """Write n_drops parquet files split by conv (no conv straddles)."""
    import zlib

    t = corpus.turns.assign(ts=corpus.turns["ts"].astype("datetime64[us]"))
    os.makedirs(src, exist_ok=True)
    slot = t["conv_id"].map(lambda c: zlib.crc32(c.encode()) % n_drops)
    for i in range(n_drops):
        t[slot == i].to_parquet(
            os.path.join(src, f"drop{i}.parquet"), index=False
        )
    return t


def _nocap_cfg():
    from dataclasses import replace

    from pipeline.config import DEFAULT_CONFIG

    return replace(
        DEFAULT_CONFIG,
        pairs_per_key_cap=1_000_000,
        block_key_cap=1_000_000,
        anchor_max_df=1,
    )


def _batch_reference(spark, t, cfg, anchor_df=None):
    from pipeline.linkage import build_plan, cluster_edges

    plan = build_plan(spark.createDataFrame(t), cfg, anchor_df=anchor_df)
    full, _ = cluster_edges(plan["edges"], plan["features"])
    return (
        full.select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("contracted", [False, True])
def test_streaming_link_anchors_on_matches_frozen_batch(
    spark, tmp_path, contracted
):
    """Anchors ENABLED (the production default family): batch 0 freezes
    its (token, df) snapshot into the committed state (``anchors_b0``,
    class-weighted in contracted mode == token_df over the full base
    corpus), and every increment and retraction blocks against THOSE
    population statistics — not df recomputed over its own tiny slice,
    which silently diverges from the committed pairing (round-5 review
    findings: retract_from_state ran anchorless; the contracted first
    batch committed keys built with unweighted rep-df). The equality
    theorem needs frozen anchors on BOTH sides, so the batch reference
    consumes the committed snapshot."""
    import json
    from dataclasses import replace

    from pipeline.config import DEFAULT_CONFIG
    from pipeline.streaming import retract_from_state, streaming_incremental_link

    cfg = replace(
        DEFAULT_CONFIG,
        pairs_per_key_cap=1_000_000,
        block_key_cap=1_000_000,
        # anchors ON: DEFAULT anchor_max_df (8) binds on this corpus
    )
    corpus = synth.generate(n_base=60, seed=37)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=3)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=contracted
    )
    _await_done(q)

    with open(os.path.join(state, "_LATEST.json")) as f:
        latest = json.load(f)
    assert latest["batch_id"] == 2 and latest.get("anchors"), latest
    adf = spark.read.parquet(latest["anchors"])
    assert adf.count() > 0, "anchors must actually bind in this fixture"

    got = (
        spark.read.parquet(latest["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    want = _batch_reference(spark, t, cfg, anchor_df=adf)
    pd.testing.assert_frame_equal(got, want)

    # retraction repairs from the committed match edges in BOTH modes
    # (contracted states route through representative promotion), so its
    # labels keep the frozen snapshot's blocking — nothing is re-blocked
    # with df recomputed over survivors
    import zlib

    doomed = sorted(
        c for c in t["conv_id"].unique()
        if zlib.crc32(c.encode()) % 7 == 0
    )
    assert doomed
    ptr = retract_from_state(spark, state, doomed, cfg=cfg)
    assert ptr.get("anchors") == latest["anchors"]
    remaining = t[~t["conv_id"].isin(doomed)]
    got2 = (
        spark.read.parquet(ptr["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    want2 = _batch_reference(spark, remaining, cfg, anchor_df=adf)
    pd.testing.assert_frame_equal(got2, want2)


def test_pointer_io_roundtrip_hadoop_fs(spark, tmp_path):
    """The _LATEST.json pointer goes through the Hadoop FS API (same
    filesystem as the parquet state — round-4 ADVICE low) and the
    OVERWRITE rename replaces an existing pointer atomically."""
    from pipeline.streaming import _pointer_commit, _pointer_read

    p = str(tmp_path / "state" / "_LATEST.json")
    assert _pointer_read(spark, p) is None
    _pointer_commit(spark, p, {"batch_id": 0, "x": ["a"]})
    assert _pointer_read(spark, p) == {"batch_id": 0, "x": ["a"]}
    _pointer_commit(spark, p, {"batch_id": 1, "x": ["a", "b"]})
    assert _pointer_read(spark, p) == {"batch_id": 1, "x": ["a", "b"]}
    # no stray tmp file left behind
    assert not os.path.exists(p + ".tmp")


def test_crash_replay_after_pointer_commit_is_noop(spark, tmp_path):
    """Crash window 2 (round-4 ADVICE high): the batch's state was
    committed (_LATEST renamed) but the crash hit before the streaming
    checkpoint commit. Inject it for real: delete the checkpoint's
    commits/<last> marker and restart — Spark replays the batch with the
    same batch_id. The replay must short-circuit: without the guard, the
    re-delivery anti-join empties new_features and the replay overwrites
    its own committed features_b{n}/keys_b{n} with EMPTY parquet."""
    import json

    from pipeline.streaming import streaming_incremental_link

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=50, seed=41)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=3)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)
    with open(os.path.join(state, "_LATEST.json")) as f:
        latest = json.load(f)
    assert latest["batch_id"] == 2, latest
    n_feat_b2 = spark.read.parquet(latest["feature_dirs"][-1]).count()
    assert n_feat_b2 > 0

    # CRASH INJECTION: checkpoint never committed batch 2 (drop the
    # Hadoop checksum sidecar too, or the re-commit rename fails)
    os.remove(os.path.join(ckpt, "commits", "2"))
    crc = os.path.join(ckpt, "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q2)

    with open(os.path.join(state, "_LATEST.json")) as f:
        latest2 = json.load(f)
    # pointer unchanged: batch 2 was already committed; replay skipped
    assert latest2 == latest
    # the committed per-batch state survived (the bug overwrote it empty)
    assert (
        spark.read.parquet(latest["feature_dirs"][-1]).count() == n_feat_b2
    )
    feats = spark.read.parquet(*latest["feature_dirs"])
    assert feats.count() == t["conv_id"].nunique()
    assert feats.groupBy("conv_id").count().where("count > 1").count() == 0
    # labels still equal the batch reference
    got = (
        spark.read.parquet(latest["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _batch_reference(spark, t, cfg))


def test_crash_replay_before_pointer_commit_recomputes(spark, tmp_path):
    """Crash window 1: state dirs (features_b1, keys_b1) were written but
    the pointer rename never happened. The replayed batch must recompute
    against the OLD pointer and overwrite the unreferenced partial dirs —
    no loss, no double-link."""
    import json
    import zlib

    from pipeline.streaming import _link_batch

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=50, seed=47)
    t = corpus.turns.assign(ts=corpus.turns["ts"].astype("datetime64[us]"))
    slot = t["conv_id"].map(lambda c: zlib.crc32(c.encode()) % 2)
    t0, t1 = t[slot == 0], t[slot == 1]
    state = str(tmp_path / "state")

    _link_batch(spark, spark.createDataFrame(t0), 0, state, cfg)
    with open(os.path.join(state, "_LATEST.json")) as f:
        latest0 = json.load(f)
    assert latest0["batch_id"] == 0

    # CRASH INJECTION: batch 1's attempt died mid-write — partial
    # features_b1 (wrong content: only 3 of the increment's convs made
    # it) and an empty keys_b1 exist; pointer still at batch 0
    df1 = spark.createDataFrame(t1)
    some = df1.select("conv_id").distinct().limit(3)
    df1.join(some, "conv_id", "semi").write.mode("overwrite").parquet(
        os.path.join(state, "features_b1")
    )
    df1.limit(0).write.mode("overwrite").parquet(
        os.path.join(state, "keys_b1")
    )
    with open(os.path.join(state, "_LATEST.json")) as f:
        assert json.load(f) == latest0  # pointer untouched by the crash

    # restart: the replayed batch recomputes and overwrites the garbage
    _link_batch(spark, df1, 1, state, cfg)
    with open(os.path.join(state, "_LATEST.json")) as f:
        latest1 = json.load(f)
    assert latest1["batch_id"] == 1
    feats = spark.read.parquet(*latest1["feature_dirs"])
    assert feats.count() == t["conv_id"].nunique()
    assert feats.groupBy("conv_id").count().where("count > 1").count() == 0
    got = (
        spark.read.parquet(latest1["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _batch_reference(spark, t, cfg))


def test_streaming_incremental_link_contracted_matches_batch(spark, tmp_path):
    """Contracted continuous ER: committed feature/key state holds only
    exact-dup class reps, yet the final labeling equals one plain batch
    run over all turns — and an arriving cross-batch signature twin
    never enters the pair pipeline (the short-circuit engages through
    the streaming seam, not just the library call)."""
    import json

    from pipeline.streaming import streaming_incremental_link

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=60, seed=23)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=3)

    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=True
    )
    _await_done(q)

    with open(os.path.join(state, "_LATEST.json")) as f:
        latest = json.load(f)
    assert latest["batch_id"] == 2, latest
    got = (
        spark.read.parquet(latest["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _batch_reference(spark, t, cfg))

    # clusters cover every conv; committed feature state is rep-only
    # (strictly fewer rows than convs: seed 23 carries exact/norm_eq
    # twins) and signature-unique across all batches
    n_convs = t["conv_id"].nunique()
    assert len(got) == n_convs
    feats = spark.read.parquet(*latest["feature_dirs"])
    n_reps = feats.count()
    assert n_reps < n_convs
    from pipeline.linkage import exact_sigs

    sigs = exact_sigs(feats, cfg)
    assert sigs.groupBy("_s1", "_s2").count().where("count > 1").count() == 0

    # restart with no new files: checkpoint makes it a no-op
    q2 = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=True
    )
    _await_done(q2)
    with open(os.path.join(state, "_LATEST.json")) as f:
        assert json.load(f) == latest


def test_retract_compact_vacuum_state(spark, tmp_path, monkeypatch):
    """State-maintenance lifecycle on a committed 3-batch state:
    retraction repairs labels to the batch reference over the remaining
    corpus (tombstones applied at load, features/keys untouched on
    disk); a follow-up increment consumes the retracted state; a
    compaction that crashes before its pointer rename leaves the
    committed state as it was and its dirs to vacuum; compaction folds
    the dir lists and physically drops tombstoned rows; vacuum deletes
    only unreferenced dirs. Labels identical at every step."""
    import json

    import pipeline.streaming as streaming_mod
    from pipeline.streaming import (
        _state_loader,
        compact_state,
        retract_from_state,
        streaming_incremental_link,
        vacuum_state,
    )

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=60, seed=11)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=3)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)

    # retract every conv whose crc32 % 7 == 0 (deterministic, non-empty)
    import zlib

    doomed = sorted(
        c for c in t["conv_id"].unique()
        if zlib.crc32(c.encode()) % 7 == 0
    )
    assert doomed, "fixture must provide a non-empty removal set"
    ptr = retract_from_state(spark, state, doomed, cfg=cfg)
    assert ptr["tombstones"] and ptr["rev"] == 1
    # re-running it over the now-tombstoned state is a no-op on labels
    ptr = retract_from_state(spark, state, doomed, cfg=cfg)
    assert ptr["rev"] == 2

    remaining = t[~t["conv_id"].isin(doomed)]
    want = _batch_reference(spark, remaining, cfg)
    got = (
        spark.read.parquet(ptr["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # logical deletion: loaded state excludes the tombstoned ids
    feats, keys = map(
        _state_loader(spark, ptr), ("features", "keys")
    )
    assert feats.where(F.col("conv_id").isin(doomed)).count() == 0
    assert keys.where(F.col("conv_id").isin(doomed)).count() == 0

    # an increment lands cleanly on the retracted state
    extra = synth.generate(n_base=12, seed=99).turns.assign(
        ts=lambda d: d["ts"].astype("datetime64[us]")
    )
    extra["conv_id"] = "x_" + extra["conv_id"]
    extra.to_parquet(os.path.join(src, "drop_extra.parquet"), index=False)
    q2 = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q2)
    with open(os.path.join(state, "_LATEST.json")) as f:
        ptr2 = json.load(f)
    assert ptr2["batch_id"] == 3 and ptr2.get("tombstones"), ptr2
    union = pd.concat([remaining, extra], ignore_index=True)
    want2 = _batch_reference(spark, union, cfg)
    got2 = (
        spark.read.parquet(ptr2["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, want2)

    # compaction crash window: every compacted dir written, the pointer
    # rename never runs. The committed pointer is byte-identical; the
    # crashed run's dirs are orphans that vacuum reclaims, and the
    # committed state still loads the same labels afterwards.
    latest = os.path.join(state, "_LATEST.json")
    with open(latest, "rb") as f:
        before = f.read()
    dirs_before = set(os.listdir(state))

    def _boom(spark_, path, payload):
        raise RuntimeError("injected crash before pointer rename")

    monkeypatch.setattr(streaming_mod, "_pointer_commit", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_state(spark, state)
    monkeypatch.undo()
    with open(latest, "rb") as f:
        assert f.read() == before
    orphans = set(os.listdir(state)) - dirs_before
    assert orphans, "the crashed compaction must have written its dirs"
    assert orphans <= set(vacuum_state(spark, state))
    got_crash = (
        spark.read.parquet(ptr2["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_crash, want2)
    feats = _state_loader(spark, ptr2)("features")
    assert feats.where(F.col("conv_id").isin(doomed)).count() == 0

    # compaction: one dir each, tombstoned rows physically gone,
    # labels untouched
    ptr3 = compact_state(spark, state)
    assert len(ptr3["feature_dirs"]) == 1 and len(ptr3["key_dirs"]) == 1
    assert not ptr3.get("tombstones")
    raw = spark.read.parquet(ptr3["feature_dirs"][0])
    assert raw.where(F.col("conv_id").isin(doomed)).count() == 0
    assert ptr3["clusters"] == ptr2["clusters"]

    # vacuum: unreferenced dirs deleted, referenced ones intact, and the
    # state still loads to the same labels
    deleted = vacuum_state(spark, state)
    assert deleted, "superseded dirs must be reclaimed"
    # the pointer now goes through the Hadoop FS API (so it lands on the
    # same filesystem as the parquet state); on local FS that is
    # ChecksumFs, which keeps a ._LATEST.json.crc sidecar next to the
    # pointer — FS plumbing for _LATEST.json itself, not state, and
    # vacuum (dirs-only) correctly leaves both alone
    left = {
        d for d in os.listdir(state)
        if d not in ("_LATEST.json", "._LATEST.json.crc")
    }
    assert left == {
        os.path.basename(p)
        for p in ptr3["feature_dirs"] + ptr3["key_dirs"]
        + ptr3.get("edge_dirs", []) + ptr3.get("dup_dirs", [])
        + [ptr3["counts"], ptr3["clusters"]]
        + ([ptr3["anchors"]] if ptr3.get("anchors") else [])
    }
    # compaction folded the committed match edges too (one dir), and the
    # physically-compacted edge table carries no tombstoned endpoint
    assert len(ptr3.get("edge_dirs", [])) == 1
    eraw = spark.read.parquet(ptr3["edge_dirs"][0])
    assert eraw.where(F.col("src").isin(doomed)).count() == 0
    assert eraw.where(F.col("dst").isin(doomed)).count() == 0
    got3 = (
        spark.read.parquet(ptr3["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got3, want2)


def test_streaming_canonicalize_null_and_duplicate_turn_idx(spark, tmp_path):
    """The stateful canonicalizer must match the batch twin on the two
    adversarial shapes the round-5 review flagged: a NULL turn_idx (which
    reaches pandas as NaN and previously crashed int(), wedging the
    stream permanently) and duplicate turn_idx values (previously
    arrival-order ties — the batch twin orders by the full
    (turn_idx, role, text) struct)."""
    import time

    from pipeline.canonicalize import canonicalize
    from pipeline.streaming import streaming_canonicalize

    ts = pd.Series(pd.to_datetime(["2024-01-01"] * 5)).astype(
        "datetime64[us]"
    )
    # deliberately ANTI-sorted arrival order, split across two files so
    # the rows straddle micro-batches
    rows = pd.DataFrame(
        {
            "conv_id": pd.Series(["dup"] * 5, dtype="string"),
            "turn_idx": pd.Series([1, 0, 0, None, 0], dtype="Int32"),
            "role": pd.Series(
                ["user", "user", "assistant", "user", None], dtype="string"
            ),
            "text": pd.Series(["z", "a", "b", "nullidx", "nullrole"],
                              dtype="string"),
            "tool": pd.Series([None] * 5, dtype="string"),
            "ts": ts,
        }
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    rows.iloc[:2].to_parquet(os.path.join(src, "f0.parquet"), index=False)
    rows.iloc[2:].to_parquet(os.path.join(src, "f1.parquet"), index=False)

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming_canonicalize(spark, src, out, ck, idle_timeout_ms=1)
    _await_done(q)
    time.sleep(0.2)
    # keep the Int32 dtype: a bare `turn_idx=0` assign upcasts to int64
    # and the restarted stream's pinned int32 schema can't read the file
    sentinel = rows.iloc[:1].assign(
        conv_id="zz_flush", turn_idx=pd.Series([0], dtype="Int32")
    )
    sentinel.to_parquet(os.path.join(src, "sentinel.parquet"), index=False)
    q2 = streaming_canonicalize(spark, src, out, ck, idle_timeout_ms=1)
    _await_done(q2)

    got = (
        spark.read.parquet(out)
        .where(F.col("conv_id") == "dup")
        .collect()
    )
    assert len(got) == 1, got
    want = (
        canonicalize(
            spark.createDataFrame(rows).withColumn(
                "turn_idx", F.col("turn_idx").cast("int")
            )
        )
        .where(F.col("conv_id") == "dup")
        .collect()[0]
    )
    assert got[0]["canonical_text"] == want["canonical_text"]
    assert got[0]["roles_sig"] == want["roles_sig"]
    assert got[0]["n_turns"] == want["n_turns"]


def test_retract_from_contracted_state_lifecycle(spark, tmp_path):
    """Retraction over CONTRACTED committed state — representative
    promotion through the streaming layout: remove a class REP whose
    signature twins survive (plus a plain member and the rep's class-mate
    from another angle), assert labels == plain batch over the survivors,
    then (a) a follow-up streaming increment carrying a twin of the
    PROMOTED signature still short-circuits — against the NEW rep — and
    a re-delivery of the removed id stays dead (tombstone permanence),
    (b) compact + vacuum preserve labels and physically drop the
    superseded old-rep rows."""
    from pipeline.streaming import (
        _pointer_read,
        _state_loader,
        compact_state,
        retract_from_state,
        streaming_incremental_link,
        vacuum_state,
    )

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=40, seed=23)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=True
    )
    _await_done(q)

    latest = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    dups0 = _state_loader(spark, latest)("dups").toPandas()
    assert len(dups0) > 0, "seed 23 must carry collapsed twins"
    # a rep with >= 1 collapsed member (promotable) and a member of some
    # class (leaf removal); deterministic picks
    by_rep = dups0.groupby("rep_id")["conv_id"].apply(list).sort_index()
    promote_rep = by_rep.index[0]
    member_victim = sorted(by_rep.iloc[-1])[-1]
    remove = sorted({promote_rep, member_victim})
    class_survivors = [c for c in by_rep.iloc[0] if c not in remove]
    assert class_survivors, "fixture must leave a promotable survivor"
    expected_new_rep = min(class_survivors)

    payload = retract_from_state(spark, state, remove, cfg=cfg)
    assert payload["contracted"] is True
    surv = t[~t["conv_id"].isin(remove)]
    got = (
        spark.read.parquet(payload["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, _batch_reference(spark, surv, cfg))

    # the promotion is visible in committed state: old rep filtered out
    # at load, new rep carries the signature, dup rows re-pointed
    state2 = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    feats2, keys2 = map(
        _state_loader(spark, state2), ("features", "keys")
    )
    rep_ids = {r["conv_id"] for r in feats2.select("conv_id").collect()}
    assert promote_rep not in rep_ids and expected_new_rep in rep_ids
    dups2 = _state_loader(spark, state2)("dups").toPandas()
    assert promote_rep not in set(dups2["rep_id"]) | set(dups2["conv_id"])
    assert expected_new_rep not in set(dups2["conv_id"])

    # follow-up increment: a twin of the promoted signature (new id,
    # must short-circuit against the NEW rep) + a verbatim re-delivery
    # of the removed rep (must stay dead)
    twin_rows = t[t["conv_id"] == expected_new_rep].copy()
    twin_rows["conv_id"] = "zz_twin"
    redelivery = t[t["conv_id"] == promote_rep].copy()
    inc = pd.concat([twin_rows, redelivery], ignore_index=True)
    # a two-conv slice can carry an all-null tool column whose parquet
    # type pyarrow would infer as non-string — pin the turn schema
    import pyarrow as pa
    import pyarrow.parquet as pq

    inc_schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us")),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(
            inc[[f.name for f in inc_schema]], schema=inc_schema,
            preserve_index=False,
        ),
        os.path.join(src, "part-retract-inc.parquet"),
    )
    q2 = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=True
    )
    _await_done(q2)

    state3 = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    surv_plus = pd.concat([surv, twin_rows], ignore_index=True)
    got3 = (
        spark.read.parquet(state3["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got3, _batch_reference(spark, surv_plus, cfg))
    assert promote_rep not in set(got3["conv_id"]), "tombstone permanence"
    dups3 = _state_loader(spark, state3)("dups").toPandas()
    hit = dups3[dups3["conv_id"] == "zz_twin"]
    assert hit.to_dict("records") == [
        {"conv_id": "zz_twin", "rep_id": expected_new_rep, "hit": True}
    ], "the twin must hit the PROMOTED rep"

    # compact + vacuum: labels unchanged, superseded rows physically gone
    compact_state(spark, state)
    vacuum_state(spark, state)
    state4 = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    assert not state4.get("tombstones")
    got4 = (
        spark.read.parquet(state4["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got4, got3)
    feats4 = spark.read.parquet(*state4["feature_dirs"]).toPandas()
    assert promote_rep not in set(feats4["conv_id"])
    edges4 = spark.read.parquet(*state4["edge_dirs"]).toPandas()
    assert promote_rep not in set(edges4["src"]) | set(edges4["dst"])


def test_retract_contracted_state_crash_and_idempotent_rerun(
    spark, tmp_path, monkeypatch
):
    """Contracted retraction's crash contract: a crash AFTER the
    promotion-delta dirs are written but BEFORE the pointer rename
    leaves the previous committed state fully readable (the rev-suffixed
    dirs are unreferenced garbage), and simply re-running the retraction
    completes it — then a THIRD run with the same ids is an idempotent
    no-op on labels (ids already tombstoned, nothing promotes)."""
    import pipeline.streaming as streaming_mod
    from pipeline.streaming import (
        _pointer_read,
        _state_loader,
        retract_from_state,
        streaming_incremental_link,
    )

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=40, seed=23)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    q = streaming_incremental_link(
        spark, src, state, str(tmp_path / "ckpt"), cfg=cfg, contracted=True
    )
    _await_done(q)
    latest0 = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    dups0 = _state_loader(spark, latest0)("dups").toPandas()
    promote_rep = sorted(dups0["rep_id"].unique())[0]
    remove = [promote_rep]

    # CRASH INJECTION: every state dir written, pointer rename never runs
    real_commit = streaming_mod._pointer_commit

    def _boom(spark_, path, payload):
        raise RuntimeError("injected crash before pointer rename")

    monkeypatch.setattr(streaming_mod, "_pointer_commit", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        retract_from_state(spark, state, remove, cfg=cfg)
    monkeypatch.setattr(streaming_mod, "_pointer_commit", real_commit)

    # previous committed state is untouched and fully readable
    latest_after_crash = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    assert latest_after_crash == latest0
    got_crash = (
        spark.read.parquet(latest0["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_crash, _batch_reference(spark, t, cfg))

    # re-run completes the retraction (same rev, wholesale overwrite)
    payload1 = retract_from_state(spark, state, remove, cfg=cfg)
    surv = t[~t["conv_id"].isin(remove)]
    want = _batch_reference(spark, surv, cfg)
    got1 = (
        spark.read.parquet(payload1["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got1, want)

    # idempotent re-run: already-tombstoned ids promote nothing and
    # commit an identical labeling under a new revision
    payload2 = retract_from_state(spark, state, remove, cfg=cfg)
    assert payload2["rev"] == payload1["rev"] + 1
    got2 = (
        spark.read.parquet(payload2["clusters"])
        .select("conv_id", "entity_id")
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got2, got1)
    assert (
        spark.read.parquet(
            payload2["feature_dirs"][-1]
        ).count() == 0
    ), "nothing promotes on the idempotent re-run"


def test_streaming_mode_flip_mid_stream_raises(spark, tmp_path):
    """A populated state_dir is bound to its contracted mode: continuing
    the same stream with the flag flipped must fail loudly instead of
    silently mixing rep-only and full feature state."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from pipeline.streaming import streaming_incremental_link

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=30, seed=29)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=True
    )
    _await_done(q)

    # new drop arrives; the SAME checkpoint continues batch numbering,
    # but the caller flips the mode
    extra = synth.generate(n_base=6, seed=77)
    _write_turn_files(extra, src, n_files=1)
    os.replace(
        os.path.join(src, "part0.parquet"), os.path.join(src, "late.parquet")
    )
    q2 = streaming_incremental_link(
        spark, src, state, ckpt, cfg=cfg, contracted=False
    )
    with pytest.raises(
        (StreamingQueryException, Py4JJavaError), match="contracted"
    ):
        q2.awaitTermination(300)
        raise AssertionError("mode flip did not fail the stream")


def test_streaming_canonicalize_merges_state_across_batches(spark, tmp_path):
    """One conversation's turns split ACROSS micro-batches must merge
    through the keyed state (the state.exists branch) into ONE canonical
    doc equal to the batch canonicalizer's — the cross-batch path no
    prior test executed (round-5 review: 3 files under the default
    maxFilesPerTrigger=8 was a single micro-batch). maxFilesPerTrigger=1
    forces one batch per file; the idle timeout is sized well above the
    inter-batch gap so no partial doc can be emitted mid-stream, then a
    sleep past the timeout + a sentinel pass flushes everything."""
    import time

    from pipeline.oracle import canonicalize_pd
    from pipeline.streaming import streaming_canonicalize

    corpus = synth.generate(n_base=10, seed=41)
    src = str(tmp_path / "src")
    _write_turn_files(corpus, src, n_files=4)  # row-interleaved split

    # premise check: the interleave really scatters conversations across
    # files (otherwise this test silently degrades to the 1-batch one)
    t = corpus.turns.reset_index(drop=True)
    spans = t.groupby("conv_id").apply(
        lambda g: (g.index % 4).nunique(), include_groups=False
    )
    assert (spans > 1).mean() > 0.8, "fixture must straddle micro-batches"

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = streaming_canonicalize(
        spark, src, out, ck, idle_timeout_ms=20_000, max_files_per_trigger=1
    )
    _await_done(q)
    time.sleep(21)  # let every conversation's idle timeout expire

    sentinel = pd.DataFrame(
        {
            "conv_id": pd.Series(["zz_sentinel"], dtype="string"),
            "turn_idx": pd.Series([0], dtype="int32"),
            "role": pd.Series(["user"], dtype="string"),
            "text": pd.Series(["flush"], dtype="string"),
            "tool": pd.Series([None], dtype="string"),
            "ts": corpus.turns["ts"].iloc[:1].astype("datetime64[us]").values,
        }
    )
    sentinel.to_parquet(os.path.join(src, "sentinel.parquet"), index=False)
    q2 = streaming_canonicalize(
        spark, src, out, ck, idle_timeout_ms=20_000, max_files_per_trigger=1
    )
    _await_done(q2)

    got = spark.read.parquet(out).toPandas()
    # ONE row per conversation: a premature timeout between micro-batches
    # would show up here as two partial docs for the same conv_id
    assert not got["conv_id"].duplicated().any(), got[
        got["conv_id"].duplicated(keep=False)
    ]
    got = got.set_index("conv_id")
    want = canonicalize_pd(corpus.turns).set_index("conv_id")
    assert set(want.index) <= set(got.index)
    for cid in want.index:
        assert got.loc[cid, "canonical_text"] == want.loc[cid, "canonical_text"]
        assert int(got.loc[cid, "n_turns"]) == int(want.loc[cid, "n_turns"])
        assert got.loc[cid, "roles_sig"] == want.loc[cid, "roles_sig"]


def test_tombstoned_id_never_resurrects(spark, tmp_path):
    """A retracted conversation re-delivered by an upstream replay must
    stay deleted (round-5 review: the re-delivery anti-join saw only
    tombstone-FILTERED features, so the replayed id re-entered clusters
    while its features/keys stayed invisible to every state load — a
    half-resurrection that corrupts later retractions). New convs in the
    same micro-batch still link normally."""
    import json

    from pipeline.streaming import (
        _state_loader,
        retract_from_state,
        streaming_incremental_link,
    )

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=40, seed=53)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)

    victim = sorted(t["conv_id"].unique())[0]
    retract_from_state(spark, state, [victim], cfg=cfg)

    # upstream replay: the victim's original turns arrive again,
    # alongside one genuinely new conversation
    fresh = synth.generate(n_base=6, seed=77).turns.assign(
        ts=lambda d: d["ts"].astype("datetime64[us]")
    )
    fresh["conv_id"] = "fresh_" + fresh["conv_id"]
    replay = pd.concat(
        [t[t["conv_id"] == victim], fresh], ignore_index=True
    )
    replay.to_parquet(os.path.join(src, "replay.parquet"), index=False)
    q2 = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q2)

    with open(os.path.join(state, "_LATEST.json")) as f:
        ptr = json.load(f)
    clusters = spark.read.parquet(ptr["clusters"])
    # deleted means deleted: no label, no feature/key rows, anywhere
    assert clusters.where(F.col("conv_id") == victim).count() == 0
    feats, keys = map(
        _state_loader(spark, ptr), ("features", "keys")
    )
    assert feats.where(F.col("conv_id") == victim).count() == 0
    assert keys.where(F.col("conv_id") == victim).count() == 0
    # the tombstone survives the increment commit
    tomb = spark.read.parquet(ptr["tombstones"]).toPandas()
    assert victim in set(tomb["conv_id"])
    # and the new conversations in the same batch linked normally
    n_fresh = fresh["conv_id"].nunique()
    assert (
        clusters.where(F.col("conv_id").startswith("fresh_")).count()
        == n_fresh
    )


def test_retract_from_state_repairs_from_committed_edges(spark, tmp_path):
    """A retraction repairs labels by filtering the committed match graph
    (nothing is re-blocked or re-scored) to the same labels as a batch
    run over the remaining corpus, and the edge dirs stay in the
    committed layout."""
    import zlib

    from pipeline.streaming import retract_from_state, streaming_incremental_link

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=40, seed=59)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)

    doomed = sorted(
        c for c in t["conv_id"].unique()
        if zlib.crc32(c.encode()) % 5 == 0
    )
    assert doomed
    want = _batch_reference(spark, t[~t["conv_id"].isin(doomed)], cfg)
    ptr = retract_from_state(spark, state, doomed, cfg=cfg)
    got = (
        spark.read.parquet(ptr["clusters"])
        .select("conv_id", "entity_id")
        .toPandas().sort_values("conv_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert ptr.get("edge_dirs"), "edge dirs must survive the retraction"


@pytest.mark.parametrize(
    "contracted, field",
    [(False, "edge_dirs"), (False, "anchors"), (True, "dup_dirs")],
)
def test_incomplete_state_layout_is_rejected(
    spark, tmp_path, contracted, field
):
    """A committed pointer missing a field of the state layout (the
    match-edge dirs, the anchor snapshot, or a contracted state's dup
    dirs) must stop both the next micro-batch and a retraction with a
    rebuild error before either writes anything: the pointer stays
    byte-identical and no new batch or revision dir appears."""
    from pipeline.streaming import (
        _link_batch,
        _pointer_commit,
        _pointer_read,
        retract_from_state,
    )

    cfg = _nocap_cfg()
    turns = synth.generate(n_base=8, seed=71).turns
    state = str(tmp_path / "state")
    _link_batch(
        spark, spark.createDataFrame(turns), 0, state, cfg,
        contracted=contracted,
    )
    latest = os.path.join(state, "_LATEST.json")
    ptr = _pointer_read(spark, latest)
    assert ptr.get(field), f"bootstrap must commit {field}"
    ptr.pop(field)
    _pointer_commit(spark, latest, ptr)
    with open(latest, "rb") as f:
        before = f.read()
    dirs_before = sorted(os.listdir(state))

    fresh = synth.generate(n_base=3, seed=72).turns
    fresh["conv_id"] = "fresh_" + fresh["conv_id"]
    with pytest.raises(ValueError, match="rebuild the state"):
        _link_batch(
            spark, spark.createDataFrame(fresh), 1, state, cfg,
            contracted=contracted,
        )
    with pytest.raises(ValueError, match="rebuild the state"):
        retract_from_state(
            spark, state, [sorted(turns["conv_id"])[0]], cfg=cfg
        )
    with open(latest, "rb") as f:
        assert f.read() == before
    assert sorted(os.listdir(state)) == dirs_before


def test_retract_unknown_id_is_not_tombstoned(spark, tmp_path):
    """A takedown request naming an id that was never ingested (racing
    ahead of ingestion, or a typo) must be a RECORDED no-op, not a
    tombstone: tombstones are permanent in _link_batch, so tombstoning
    the unknown id would silently blackhole its future first-ever
    arrival (round-5 review). The unmatched id is counted into the
    committed pointer and the conversation still links when its turns
    eventually arrive."""
    from pipeline.streaming import (
        _pointer_read,
        retract_from_state,
        streaming_incremental_link,
    )

    cfg = _nocap_cfg()
    corpus = synth.generate(n_base=25, seed=67)
    src = str(tmp_path / "src")
    t = _conv_complete_drops(corpus, src, n_drops=2)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q)

    victim = sorted(t["conv_id"].unique())[0]
    # the ghost's turns exist upstream but have NOT been ingested yet
    ghost = synth.generate(n_base=4, seed=68).turns.assign(
        ts=lambda d: d["ts"].astype("datetime64[us]")
    )
    ghost["conv_id"] = "ghost_" + ghost["conv_id"]
    ghost_ids = sorted(ghost["conv_id"].unique())

    ptr = retract_from_state(
        spark, state, [victim, ghost_ids[0]], cfg=cfg
    )
    tomb = set(
        spark.read.parquet(ptr["tombstones"]).toPandas()["conv_id"]
    )
    assert victim in tomb, "the committed id must be tombstoned"
    assert ghost_ids[0] not in tomb, (
        "an id never ingested must NOT be tombstoned"
    )
    assert ptr.get("unmatched_removed") == 1, ptr.get("unmatched_removed")

    # the ghost's turns now arrive for the FIRST time: they must link
    ghost.to_parquet(os.path.join(src, "ghost.parquet"), index=False)
    q2 = streaming_incremental_link(spark, src, state, ckpt, cfg=cfg)
    _await_done(q2)
    ptr2 = _pointer_read(spark, os.path.join(state, "_LATEST.json"))
    clusters = spark.read.parquet(ptr2["clusters"])
    assert (
        clusters.where(F.col("conv_id").startswith("ghost_")).count()
        == len(ghost_ids)
    ), "first-ever arrival of a previously-unmatched id was blackholed"
    # the victim stays deleted
    assert clusters.where(F.col("conv_id") == victim).count() == 0
