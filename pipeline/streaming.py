"""Structured Streaming ingestion for the linkage pipeline.

The reference is strictly batch/request-response and the north rule asks
for a *resumable batch* job (SURVEY.md §2.10) — so the matching stages
stay batch. What streaming adds here is the INGESTION edge a production
deployment needs: transcript turns arriving continuously land in the
bronze turns table exactly-once (file-source + checkpoint), and a
watermarked windowed aggregation feeds the audit table with arrival
stats. The batch linkage job then runs over the bronze table on its own
cadence, resuming via stage manifests.

Both entry points use ``trigger(availableNow=True)`` in tests — the same
code runs continuously in production with a processing-time trigger.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def ingest_turns_stream(
    spark: SparkSession,
    input_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source stream -> bronze turns table, exactly-once.

    The checkpoint directory makes re-runs skip already-committed source
    files — the streaming twin of the batch stage manifests.
    Returns the StreamingQuery (caller awaits/stops it).
    """
    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.format("parquet")
        .option("path", bronze_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Stateful streaming exact-dedup: drop turns whose (conv_id,
    turn_idx, text-hash) was already seen, across micro-batches, state
    bounded by the event-time watermark — built-in
    ``dropDuplicatesWithinWatermark`` state store (no custom state code
    needed; the keyed state is the applyInPandasWithState analogue for
    this op)."""
    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    # Dedup key = (conv_id, turn_idx, hash(text)), NOT the bare 64-bit
    # hash of the triple: with only the hash in the key, a birthday
    # collision (~2^32 rows at 100-TB scale) silently drops a distinct,
    # never-seen turn. Keeping the natural keys alongside the text hash
    # means a loss additionally requires identical conv_id AND turn_idx;
    # state stays small (two narrow keys + 8 bytes vs the full text).
    deduped = (
        stream.withColumn("text_hash", F.xxhash64("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx", "text_hash"])
        .drop("text_hash")
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


CANON_STATE_SCHEMA = "turns ARRAY<STRUCT<turn_idx: INT, role: STRING, text: STRING>>"
CANON_OUT_SCHEMA = (
    "conv_id STRING, canonical_text STRING, n_turns INT, roles_sig STRING"
)


def streaming_canonicalize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    idle_timeout_ms: int = 300_000,
    max_files_per_trigger: int = 8,
    continuous: bool = False,
    trigger_interval: str = "10 seconds",
):
    """Custom stateful streaming canonicalization via
    ``applyInPandasWithState``: turns arrive in any order across
    micro-batches; per-conv_id state accumulates (turn_idx, role, text);
    when the conversation goes idle for ``idle_timeout_ms`` of
    processing time the canonical document is emitted — same semantics
    as the batch canonicalizer (sort by turn_idx, \\x1e join),
    incrementally.

    ``idle_timeout_ms`` is the operator's ONE correctness knob: it must
    exceed the longest gap between a conversation's turn arrivals. A
    conversation that goes idle past the timeout and then resumes emits
    TWO partial documents (ProcessingTimeTimeout has no retraction), so
    size it to the ingestion SLA, not to zero — the default is 5
    minutes; tests pass small values deliberately. Two further
    consequences of the timeout contract: (a) a timeout only fires
    while batches run, so an ``availableNow`` pass leaves end-of-stream
    state unsent until a later pass (continuous deployments always have
    a next trigger; one-shot runs need a follow-up pass — see
    ``tests/test_streaming.py``); (b) turns of one conversation split
    ACROSS micro-batches merge through the keyed state
    (``state.exists`` below) as long as the gap between those batches
    stays under the timeout.

    Two deployment modes, because the no-data-micro-batch conf cuts BOTH
    ways (round-5 review):

    - ``continuous=False`` (default, the test/drain shape): one-shot
      ``availableNow`` pass with no-data micro-batches DISABLED for this
      query. Spark's ``FlatMapGroupsWithStateExec.shouldRunAnotherBatch``
      is unconditionally true under ProcessingTimeTimeout, so with
      no-data batches enabled an ``availableNow`` run never reaches
      termination — it spins empty micro-batches forever after the data
      is drained (observed as hundreds of checkpoint versions and a
      leaked CPU-burning query per test). Disabled, the drain terminates
      after the data batches; expired timers fire on the NEXT pass's
      batches (the sentinel-pass tests).
    - ``continuous=True`` (the production tail-the-bronze-stream shape):
      processing-time trigger every ``trigger_interval`` with no-data
      micro-batches LEFT ENABLED — an idle source still runs empty
      micro-batches, so ``idle_timeout_ms`` timers flush the last
      conversations without waiting for more data. Disabling the conf
      here would withhold the final documents of a quiet stream
      indefinitely; termination is not wanted in this mode, so the
      spin that breaks availableNow is exactly the behavior that makes
      the timeout contract hold.

    This is the streaming twin of ``pipeline.canonicalize.canonicalize``;
    the batch path stays authoritative (north rule: resumable batch), but
    a deployment that wants fresh canonical docs within minutes of
    arrival runs this against the bronze stream with ``continuous=True``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _sort_key(t):
        # Match batch canonicalize's array_sort over struct(turn_idx,
        # role, text) EXACTLY: ascending, per-field NULLS FIRST (verified
        # against Spark), full-struct comparison so duplicate turn_idx
        # values order deterministically instead of by arrival /
        # micro-batch split (which would silently diverge the canonical
        # text and exact-dup signature from the batch twin's).
        i, r, x = t
        return (
            i is not None, i if i is not None else 0,
            r is not None, r if r is not None else "",
            x is not None, x if x is not None else "",
        )

    def _opt(v):
        # nullable columns reach pandas as NaN (ints become float64) —
        # preserve SQL NULL instead of crashing int() on NaN (a single
        # null turn_idx row would otherwise wedge the stream permanently:
        # every replay of the poison micro-batch fails identically)
        return None if v is None or pd.isna(v) else v

    def _update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            (turns,) = state.get
            state.remove()
            ordered = sorted(turns, key=_sort_key)
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "canonical_text": [
                        "\x1e".join(
                            (t[2] or "").replace("\x1e", " ")
                            for t in ordered
                        )
                    ],
                    "n_turns": [len(ordered)],
                    # match batch canonicalize: array_join silently drops
                    # null entries and substring('',1,1)='' — null/empty
                    # roles contribute nothing to the signature
                    "roles_sig": ["".join(t[1][0] for t in ordered if t[1])],
                }
            )
            return
        rows = []
        for pdf in pdfs:
            rows.extend(
                (
                    None if _opt(i) is None else int(i),
                    _opt(r),
                    _opt(x),
                )
                for i, r, x in zip(pdf["turn_idx"], pdf["role"], pdf["text"])
            )
        if state.exists:
            (prev,) = state.get
            rows = list(prev) + rows
        state.update((rows,))
        state.setTimeoutDuration(max(idle_timeout_ms, 1))
        return
        yield  # generator function with no batch output

    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    out = stream.groupBy("conv_id").applyInPandasWithState(
        _update,
        outputStructType=CANON_OUT_SCHEMA,
        stateStructType=CANON_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if continuous:
        # no-data micro-batches stay at the session default (enabled):
        # they are what fires idle-timeout flushes on a quiet source
        return writer.trigger(processingTime=trigger_interval).start()
    # One-shot drain: set/restore around start(). StreamingQueryManager
    # clones the session synchronously inside start(), so the cloned
    # stream session keeps noDataMicroBatches=false for its whole life
    # while the caller's session is restored before this function
    # returns — scoped to THIS mode only (see docstring).
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    try:
        prev = spark.conf.get(conf_key)
    except Exception:
        prev = None
    spark.conf.set(conf_key, "false")
    try:
        return writer.trigger(availableNow=True).start()
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


def _pointer_fs(spark: SparkSession, path_str: str):
    """(jvm, conf, fs, qualified Path) for the Hadoop FS owning ``path_str``.

    The state pointer must live on the SAME filesystem as the parquet
    state it references — driver-local ``open()`` silently diverges from
    the data on HDFS/S3 deployments (round-4 ADVICE)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(conf)
    return jvm, conf, fs, fs.makeQualified(hpath)


def _pointer_read(spark: SparkSession, path_str: str):
    jvm, conf, fs, hpath = _pointer_fs(spark, path_str)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytes(stream.readAllBytes())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _pointer_commit(spark: SparkSession, path_str: str, payload: dict) -> None:
    """Write-then-atomic-rename through Hadoop ``FileContext`` (the
    ``Options.Rename.OVERWRITE`` API — atomic on HDFS and local FS;
    on S3A rename is copy+delete, so production object-store deployments
    should keep state in a table format with atomic commits, e.g. the
    Iceberg seam in ``pipeline.io``)."""
    jvm, conf, fs, hpath = _pointer_fs(spark, path_str)
    parent = hpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    tmp = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(path_str + ".tmp"))
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(payload).encode("utf-8"))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        hpath.toUri(), conf
    )
    opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, hpath, opts)


def _committed_pointer(spark: SparkSession, state_dir: str):
    """The committed pointer under ``state_dir`` (None before the first
    commit), checked against the one state layout every writer here
    produces: ``edge_dirs`` (the committed match graph retraction
    repairs from) and ``anchors`` (the frozen (token, df) snapshot every
    increment blocks against), plus ``dup_dirs`` in a contracted state
    (the class table representative promotion and the exact-dup
    short-circuit read). A pointer missing one cannot be stepped or
    retracted without silently wrong labels, so it fails here — before
    any state dir is written."""
    state = _pointer_read(spark, os.path.join(state_dir, "_LATEST.json"))
    if state is None:
        return None
    required = ["edge_dirs", "anchors"]
    if state.get("contracted"):
        required.append("dup_dirs")
    missing = [k for k in required if not state.get(k)]
    if missing:
        raise ValueError(
            f"state at {state_dir} has no {', '.join(missing)} in its "
            "committed pointer; rebuild the state (a fresh bootstrap "
            "commits the complete layout)"
        )
    return state


# The committed state layout, described once: table -> (pointer field, id
# columns a tombstone hides rows by). A table with id columns is
# APPEND-ONLY: its field lists one dir per commit, and deletion is logical
# (an ids anti-join at load) until ``compact_state`` rewrites it. A table
# without is ONE dir, replaced whole by the commit that writes it. Every
# dir is named ``{table}_{tag}``: ``b{n}`` for micro-batch n, ``rev{n}``
# for maintenance revision n.
_STATE_TABLES = {
    # increment feature rows (rep rows only in a contracted state)
    "features": ("feature_dirs", ("conv_id",)),
    "keys": ("key_dirs", ("conv_id",)),  # increment blocking keys
    # MATCH edges (src, dst): the committed match graph retraction
    # repairs labels from
    "edges": ("edge_dirs", ("src", "dst")),
    # (contracted only) (conv_id, rep_id, hit): which collapsed member
    # rode which rep. The rep_id filter makes representative promotion
    # read-consistent: a promoted class's superseded rows point at the
    # tombstoned old rep and vanish at load, leaving only the re-pointed
    # rows the promotion appended
    "dups": ("dup_dirs", ("conv_id", "rep_id")),
    "counts": ("counts", ()),  # FULL merged key member counts (narrow)
    "clusters": ("clusters", ()),  # FULL labeling (narrow)
    # frozen (token, df) anchor snapshot of the BASE corpus: every
    # increment and retraction blocks against these population
    # statistics (the incremental_link anchor_df contract); refresh by
    # rebuilding the base, never per increment
    "anchors": ("anchors", ()),
    "tombstones": ("tombstones", ()),  # ids retracted since compaction
}


def _table_dirs(state: dict, table: str) -> list[str]:
    """The dirs the pointer ``state`` commits for ``table``, if any."""
    field, ids = _STATE_TABLES[table]
    dirs = state.get(field)
    if not dirs:
        return []
    return list(dirs) if ids else [dirs]


def _state_loader(spark: SparkSession, state: dict):
    """Committed pointer dict -> ``load(table)``: the table's DataFrame
    with tombstones applied to every id column, or None when the pointer
    has no such table. ``load("tombstones")`` is the retracted ids as a
    broadcast ``conv_id`` frame.

    The tombstone table is read ONCE per loader, i.e. once per operation.
    It is bounded by retraction volume since the last compaction
    (deletion requests, not corpus-scale), hence the broadcast."""

    def read(table):
        dirs = _table_dirs(state, table)
        return spark.read.parquet(*dirs) if dirs else None

    tomb = read("tombstones")
    if tomb is not None:
        tomb = F.broadcast(tomb.select("conv_id"))

    def load(table: str):
        if table == "tombstones":
            return tomb
        df = read(table)
        if df is None or tomb is None:
            return df
        for col in _STATE_TABLES[table][1]:
            df = df.join(
                tomb.withColumnRenamed("conv_id", col), col, "left_anti"
            )
        return df

    return load


def _write(state_dir: str, table: str, tag: str, df: DataFrame) -> str:
    """Write ``df`` as ``table``'s dir for commit ``tag``; returns it."""
    path = os.path.join(state_dir, f"{table}_{tag}")
    df.write.mode("overwrite").parquet(path)
    return path


def _commit(
    spark: SparkSession, state_dir: str, base: dict, tag: str,
    tables: dict, **fields,
) -> dict:
    """The one state writer: writes each frame of ``tables`` to
    ``{table}_{tag}`` (a str value is a dir this commit already wrote),
    appends it to its table's dir list in ``base`` or replaces the dir,
    sets ``fields``, releases the step caches and renames the pointer.
    ``base``'s ``unmatched_removed`` (one retraction's own count) is not
    carried. Returns the committed pointer dict."""
    from pipeline.session import release_caches

    payload = {k: v for k, v in base.items() if k != "unmatched_removed"}
    payload.update(fields)
    for table, df in tables.items():
        path = df if isinstance(df, str) else _write(state_dir, table, tag, df)
        field, ids = _STATE_TABLES[table]
        payload[field] = payload.get(field, []) + [path] if ids else path
    release_caches()
    _pointer_commit(spark, os.path.join(state_dir, "_LATEST.json"), payload)
    return payload


def _link_batch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int,
    state_dir: str, cfg, contracted: bool = False,
) -> None:
    """One ``foreachBatch`` step of ``streaming_incremental_link``.

    Crash-safety contract (each window has a test in
    ``tests/test_streaming.py``):

    - crash BEFORE the pointer commit: the ``*_b{n}`` dirs written so far
      are unreferenced garbage; the replayed batch recomputes against the
      OLD pointer and overwrites them wholesale (every dir it writes
      carries this batch's id, so no committed dir is ever a write
      target);
    - crash AFTER the pointer commit but before the streaming checkpoint
      commit: the replayed batch sees ``state['batch_id'] >= batch_id``
      and returns immediately — committed state is never rewritten (a
      replay that re-ran would anti-join away its own convs and clobber
      its committed features/keys with empty tables).
    """
    from pipeline.incremental import incremental_link
    from pipeline.linkage import build_plan, cluster_edges, match_edge_list

    if batch_df.isEmpty():
        return
    state = _committed_pointer(spark, state_dir)
    if state is not None and int(state["batch_id"]) >= batch_id:
        # replay of an already-committed batch (crash landed between the
        # pointer rename and the checkpoint commit): nothing to do
        return
    if state is not None and bool(state.get("contracted", False)) != contracted:
        # rep-only vs full feature state are different contracts — a
        # flipped flag would silently corrupt the committed state (e.g.
        # an uncontracted step would treat the rep table as the full
        # corpus and re-add collapsed members as new docs)
        raise ValueError(
            f"state at {state_dir} was committed with contracted="
            f"{bool(state.get('contracted', False))}; don't flip the "
            f"mode mid-stream"
        )
    load = None if state is None else _state_loader(spark, state)
    tomb_ids = None if load is None else load("tombstones")
    if tomb_ids is not None:
        # A tombstoned conversation is DELETED, not merely hidden: an
        # at-least-once upstream replaying the very data a takedown
        # removed must not resurrect it. Without this filter the
        # re-delivery anti-join (which sees only the committed clusters,
        # from which the retraction removed the id) would admit the id
        # as new — labeled in clusters but invisible in every state load,
        # since the tombstone anti-joins ALL dirs including
        # post-retraction ones: a half-resurrected id that can never
        # match again and silently splits to a singleton on the next
        # retraction touching its entity (round-5 review). Legitimate
        # re-admission is an explicit maintenance sequence: compact_state
        # (clears the tombstones) first, then ingest.
        batch_df = batch_df.join(tomb_ids, "conv_id", "left_anti")
        if batch_df.isEmpty():
            return
    tag = f"b{batch_id}"
    if state is None:
        from pipeline.blocking import key_table_with_counts, token_df

        plan = build_plan(batch_df, cfg, contract_dups=contracted)
        # committed feature state holds REP rows only when contracting;
        # the labeling covers every doc (collapsed members ride dup_map
        # edges)
        stored_feats = plan["rep_features"]
        # the (token, df) snapshot the pairing used — the class-
        # multiplicity-weighted one when contracting (== token_df over
        # the FULL base corpus); plain runs derive it internally, so the
        # same stats are computed here — frozen so every increment (and
        # retraction) blocks against base-population anchors instead of
        # recomputing df over its own tiny slice
        anchor_snapshot = plan["anchor_df"]
        if anchor_snapshot is None:
            anchor_snapshot = token_df(plan["features"], cfg)
        # the batch's MATCH-EDGE contribution (src, dst) — append-only
        # like features/keys. retract_from_state repairs labels by
        # filtering these committed edges, never by re-blocking +
        # re-scoring survivors — match edges are a small fraction of
        # pair volume. plan["edges"] already includes any (rep, member)
        # expansions.
        # Written FIRST and read back so the iterative CC below consumes
        # the parquet leaf instead of re-running the scoring subtree.
        edges = _write(state_dir, "edges", tag, plan["edges"])
        clusters, _ = cluster_edges(
            spark.read.parquet(edges), plan["features"]
        )
        anchors = _write(state_dir, "anchors", tag, anchor_snapshot)
        # the committed keys MUST be built with the same anchor stats as
        # the pairing: unweighted token_df over rep rows only would
        # commit an anchor-key table inconsistent with the clusters
        keys, counts = key_table_with_counts(
            stored_feats, cfg, spark.read.parquet(anchors)
        )
        tables = {
            "edges": edges, "anchors": anchors, "features": stored_feats,
            "keys": keys, "counts": counts, "clusters": clusters,
        }
        if plan["dup_map"] is not None:
            # (conv_id, rep_id, hit) per collapsed member — the audit
            # trail for docs that skipped the pair pipeline, and the
            # class enumeration a contracted-state takedown needs
            tables["dups"] = plan["dup_map"].withColumn("hit", F.lit(False))
        # the state's mode is part of its contract: rep-only feature/key
        # state (contracted) must never be consumed by an uncontracted
        # step, and retraction routes by it (representative promotion
        # only in contracted states)
        _commit(
            spark, state_dir, {}, tag, tables,
            batch_id=batch_id, contracted=contracted,
        )
        return
    from pipeline.incremental import increment_tuning

    feats, keys, counts, clusters0, adf = map(
        load, ("features", "keys", "counts", "clusters", "anchors")
    )
    # tunes ``spark`` only; the plans built from ``batch_df`` run on
    # the query's cloned session (see increment_tuning's docstring)
    with increment_tuning(spark):
        out = incremental_link(
            feats, clusters0, batch_df, cfg, anchor_df=adf,
            existing_keys=keys, existing_key_counts=counts,
            contract_dups=contracted,
        )
        # append-only commits for the corpus-sized state; full rewrites
        # only for the two narrow tables. The increment's key rows are
        # the exact pre-cap ``nk`` the step already built inside
        # incremental_candidate_pairs, so the commit neither re-explodes
        # the increment nor re-joins the anchor snapshot, and never
        # semi-joins the FULL committed key table.
        tables = {
            "features": out["new_features"], "keys": out["new_keys"],
            "counts": out["key_counts"], "clusters": out["clusters"],
        }
        dup_assign = out.get("dup_assign")
        if dup_assign is not None:
            tables["dups"] = dup_assign
        # this batch's match-edge contribution: scored matches plus any
        # (rep, member) expansions — build_plan's edge semantics
        tables["edges"] = match_edge_list(out["scored"], dup_assign)
        # the base pointer carries maintenance metadata (retraction
        # tombstones, revision counter) forward
        _commit(spark, state_dir, state, tag, tables, batch_id=batch_id)


def streaming_incremental_link(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    cfg=None,
    max_files_per_trigger: int = 1,
    contracted: bool = False,
):
    """CONTINUOUS entity resolution: ``foreachBatch`` turns every
    micro-batch of arriving conversations into an increment against the
    committed linkage state under ``state_dir`` — the streaming
    composition of ``pipeline.incremental.incremental_link`` (the
    daily-cadence batch step becomes a minutes-cadence one; SURVEY.md
    §2.10 extension).

    Committed state layout (all parquet; Iceberg snapshots in
    production): the tables of ``_STATE_TABLES``, which says for each one
    its pointer field, whether commits append to it or replace it, and
    which id columns tombstones filter. Dirs are ``{table}_b{n}`` per
    micro-batch n and ``{table}_rev{n}`` per retraction or compaction
    revision n. ``_LATEST.json`` is the atomic pointer: those fields,
    ``batch_id`` and ``contracted``, plus, once a retraction or
    compaction has run, ``rev`` and ``unmatched_removed`` (a
    retraction's own pointer, when its request named unknown ids). It is
    rename-committed through the Hadoop FS API by ``_commit``, so it
    lives on the SAME filesystem as the parquet state (atomic on
    HDFS/local; on S3A use an atomic table format instead). A pointer
    without edge_dirs, anchors or (contracted) dup_dirs is rejected
    before any write: rebuild such a state.

    Exactly-once: the streaming checkpoint prevents re-processing on
    restart, and a REPLAYED batch (crash after the pointer rename but
    before the checkpoint commit) is detected by ``batch_id <=
    committed batch_id`` and skipped — committed state is never
    overwritten. A crash BEFORE the pointer rename leaves only
    unreferenced ``*_b{n}`` dirs, which the replay overwrites wholesale.
    See ``_link_batch`` for the per-window argument; both windows are
    crash-injected in ``tests/test_streaming.py``.

    Caveat: ``state_dir`` is bound to the streaming checkpoint's batch
    numbering — reusing a populated ``state_dir`` with a FRESH
    checkpoint restarts batch ids at 0 and the replay guard would skip
    them; always wipe or version the two together.

    Precondition: each micro-batch must carry WHOLE conversations (turns
    of one conv_id must not straddle batches — a later fragment would be
    dropped as a re-delivery). Feed this from a conversation-complete
    upstream, e.g. ``streaming_canonicalize``'s idle-timeout output or a
    sessionized bronze table.

    ``contracted=True`` (round-5): committed feature/key state holds only
    exact-dup class REPRESENTATIVES (``linkage.contract_exact_dups``) and
    every micro-batch runs ``incremental_link`` in contraction mode — an
    arriving conversation whose ``(norm_text, roles_sig)`` signature is already
    committed never enters blocking or scoring, it rides one broadcast
    hash join into its twin's entity. At 100 TB this is the dominant
    arrival shape (boilerplate re-sends), so the steady-state cost per
    duplicate arrival drops from a full pair-pipeline pass to one narrow
    lookup; committed state stays contracted forever (state size tracks
    DISTINCT signatures, not arrivals). Labels remain equal to the plain
    batch run — same theorem as the batch contraction, pinned by
    ``tests/test_streaming.py``. A populated ``state_dir`` is bound to
    its mode: don't flip ``contracted`` mid-stream (rep-only vs full
    feature state are different contracts).

    Returns the StreamingQuery.
    """
    from pipeline.config import DEFAULT_CONFIG

    cfg = cfg or DEFAULT_CONFIG

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        _link_batch(
            spark, batch_df, batch_id, state_dir, cfg, contracted=contracted
        )

    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def arrival_stats_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
):
    """Watermarked windowed arrival stats (audit feed): turns per
    (event-time window, role); late data beyond the watermark dropped."""
    stream = (
        spark.readStream.schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# -- committed-state maintenance: retraction, compaction, vacuum -------------
# The continuous-ER state machine is: increments APPEND (features/keys),
# retractions TOMBSTONE (logical delete + label repair), compactions
# REWRITE (fold the dir list and drop tombstoned rows). All three commit
# through the same atomic pointer rename as the stream itself, so a crash
# at any point leaves the previous committed state fully readable.


def retract_from_state(
    spark: SparkSession, state_dir: str, remove_ids, cfg=None
) -> dict:
    """Delete conversations from a committed ``streaming_incremental_link``
    state and repair the labeling — the operational form of
    ``pipeline.incremental.retract`` (right-to-be-forgotten / takedown
    requests against the continuously-maintained entity state). Both
    state modes run through it: CONTRACTED states pass their committed
    dup table, so ``retract`` runs representative promotion.

    Run with the stream STOPPED (maintenance window): the pointer rename
    is atomic, but a concurrently-running increment would commit a
    pointer that resurrects the retracted ids' features.

    Deletion is LOGICAL for the corpus-sized tables: the removed ids are
    appended to the tombstone table and every subsequent state load
    anti-joins them out of features/keys/edges; only the two NARROW
    tables (clusters — repaired entity-bounded, see ``retract`` — and
    key counts) are rewritten. A tombstoned id is DELETED for good:
    ``_link_batch`` drops it from every later increment, so an upstream
    replay cannot resurrect it (re-admit via ``compact_state`` first).
    Connectivity is repaired by FILTERING the committed match edges
    (``retract`` re-blocks and re-scores nothing). In contracted states
    the tombstones also hide every
    superseded row of a promoted class — old-rep feature/key rows,
    old-rep-endpoint edges, old-rep dup rows — at load time
    (``_state_loader``), and the
    promotion DELTAS (the class's rows re-issued under the new rep) are
    appended as one fresh revision-suffixed dir per table, keeping the
    corpus-sized tables append-only. Physical reclamation is
    ``compact_state``. Crash-safe: all dirs are written under a fresh
    revision suffix, the pointer renames last; idempotent — re-running
    the same removal finds no affected entities (and promotes nothing)
    and commits an identical labeling under a new revision.

    ``remove_ids``: DataFrame with a ``conv_id`` column, or an iterable
    of id strings. Returns the committed pointer dict.
    """
    from pipeline.config import DEFAULT_CONFIG
    from pipeline.incremental import increment_tuning, retract
    from pipeline.session import local_frame

    cfg = cfg or DEFAULT_CONFIG
    state = _committed_pointer(spark, state_dir)
    if state is None:
        raise ValueError(f"no committed state at {state_dir}")
    load = _state_loader(spark, state)
    # dups is None outside a contracted state
    feats, keys, counts, clusters, match_edges, dups, tomb = map(load, (
        "features", "keys", "counts", "clusters", "edges", "dups", "tombstones"
    ))
    with increment_tuning(spark):
        # Resolve the request against the committed ids ONCE, in one
        # collect bounded by the request size (the committed ids it names
        # plus the request itself). The resolved ids re-enter Spark as a
        # JVM local relation, so the actions below that read the removal
        # set run no Python-worker stage, and the never-ingested
        # remainder is counted here instead of by one more action.
        if isinstance(remove_ids, DataFrame):
            requested = remove_ids.select("conv_id").distinct()
        else:
            requested = local_frame(
                spark, [(str(i),) for i in set(remove_ids)], "conv_id string"
            )
        rows = (
            clusters.join(F.broadcast(requested), "conv_id", "semi")
            .select("conv_id", F.lit(True).alias("hit"))
            .unionByName(requested.select("conv_id", F.lit(False).alias("hit")))
            .collect()
        )
        matched = {r["conv_id"] for r in rows if r["hit"]}
        unmatched = {r["conv_id"] for r in rows} - matched
        remove_ids = local_frame(
            spark, [(i,) for i in sorted(matched)], "conv_id string"
        )
        out = retract(
            feats, clusters, remove_ids, cfg, match_edges=match_edges,
            existing_keys=keys, existing_key_counts=counts, dup_map=dups,
        )
        # Tombstones accumulate (union with the committed table) until
        # compaction; clusters/key counts are narrow full rewrites — the
        # same cadence the stream itself pays. The resolved ids ARE
        # retract's removal set; the local frame skips re-resolving them
        # against the committed clusters.
        if tomb is not None:
            remove_ids = remove_ids.unionByName(tomb).distinct()
        tables = {
            "tombstones": remove_ids, "clusters": out["clusters"],
            "counts": out["key_counts"],
        }
        # promotion deltas (contracted mode only) append to their tables
        tables.update(
            (t, out[f"promoted_{t}"]) for t in _STATE_TABLES
            if f"promoted_{t}" in out
        )
        # never-silent: requested ids that matched no committed doc are
        # NOT tombstoned (they would blackhole a future first ingestion)
        # — they are counted into the committed pointer so the no-op is
        # auditable
        extra = {"unmatched_removed": len(unmatched)} if unmatched else {}
        rev = int(state.get("rev", 0)) + 1
        return _commit(
            spark, state_dir, state, f"rev{rev}", tables, rev=rev, **extra
        )


def compact_state(spark: SparkSession, state_dir: str) -> dict:
    """Fold a committed state's per-batch feature/key dir lists into one
    dir each, physically dropping tombstoned rows, and clear the
    tombstone table. Labels and logical content are unchanged — this is
    pure layout hygiene: a long-running stream accumulates one dir per
    micro-batch (small-file pressure + O(batches) listing per load) and
    every retraction leaves logically-deleted rows on disk until here.

    Run with the stream STOPPED. Crash-safe via the same
    write-new-revision-then-rename-pointer protocol; after the pointer
    commit the superseded dirs are unreferenced garbage for
    ``vacuum_state``. Returns the committed pointer dict.
    """
    state = _committed_pointer(spark, state_dir)
    if state is None:
        raise ValueError(f"no committed state at {state_dir}")
    load = _state_loader(spark, state)
    # Every append-only table is rewritten THROUGH the load-time
    # tombstone filter, and the base drops the tombstones only in the
    # same commit: folding the raw dirs instead would resurrect every
    # retracted row (edges touching a removed endpoint, a promoted
    # class's superseded old-rep dup rows).
    base, tables = dict(state), {}
    base.pop("tombstones", None)
    for table, (field, ids) in _STATE_TABLES.items():
        if ids and base.pop(field, None):
            tables[table] = load(table)
    rev = int(state.get("rev", 0)) + 1
    return _commit(spark, state_dir, base, f"rev{rev}", tables, rev=rev)


def vacuum_state(spark: SparkSession, state_dir: str) -> list[str]:
    """Delete state subdirectories no longer referenced by the committed
    pointer (superseded by compaction / retraction revisions or orphaned
    by a crash before a pointer commit). Run ONLY with the stream
    stopped — an in-flight micro-batch writes its dirs BEFORE the
    pointer references them, and vacuum would eat them. Idempotent.
    Returns the deleted paths."""
    state = _committed_pointer(spark, state_dir)
    if state is None:
        raise ValueError(f"no committed state at {state_dir}")
    keep = {
        os.path.basename(p)
        for table in _STATE_TABLES for p in _table_dirs(state, table)
    }
    jvm, conf, fs, root = _pointer_fs(spark, state_dir)
    deleted: list[str] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name not in keep:
            fs.delete(st.getPath(), True)
            deleted.append(name)
    return deleted
