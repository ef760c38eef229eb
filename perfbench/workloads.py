"""The benchmark's three workloads, driven through ``pipeline``'s public
entry points with ``PRODUCTION_CONFIG``.

Each workload builds its inputs from the seed (``prepare``), does its
one-off set-up work (``bootstrap``), then runs timed operations (``op``).
Correctness is checked after every operation, outside the timed region; a
raised error or a failed check counts the operation as failed.

  batch   one staged batch linkage, ``run_staged(resume=False)``: the path
          ``main.py`` runs. Scoring is the largest layer; clustering takes
          the driver union-find path.
  skew    the production-at-scale layer calls on a power-law corpus whose
          member cap, pair cap and hot-key star all bind, with
          ``connected_components(driver_threshold=0)`` forcing the
          distributed large-star/small-star loop.
  stream  the continuous cadence on committed state: one conversation-
          complete increment file through ``streaming_incremental_link``,
          then one ``retract_from_state`` takedown, per operation.

``batch`` and ``skew`` bootstrap with one untimed operation, so the timed
ones run in a warm JVM (codegen, JIT and Python workers done). ``stream``
bootstraps by committing its base as the stream's first micro-batch. That
warms the JVM but not the increment-against-state and retraction paths,
which the first timed operation runs for the first time.
"""

from __future__ import annotations

import json
import os
import random
import time
import zlib
from contextlib import contextmanager, nullcontext

from spans import tree_cpu_s

# Sizes: the per-pass cost at local[4] is dominated by fixed per-job cost,
# so larger inputs buy little steadiness for a lot of run time. "tiny"
# is the smoke test's size.
SIZES = {
    "batch": {"full": {"n_base": 300}, "tiny": {"n_base": 30}},
    "skew": {
        "full": {"n_base": 100, "boiler_members": 1000, "hotkey_convs": 200},
        "tiny": {"n_base": 20, "boiler_members": 100, "hotkey_convs": 70},
    },
    "stream": {
        "full": {"n_base": 200, "increment": 24, "retract": 8},
        "tiny": {"n_base": 30, "increment": 3, "retract": 2},
    },
}

# Ground-truth floors for cluster_f1. Measured F1 sits well above them;
# a change that merely reorders work leaves F1 bit-identical.
F1_FLOOR = {"batch": 0.8, "skew": 0.9, "stream": 0.8}

BATCH_STAGE_LAYER = {
    "docs": "canonicalize",
    "features": "features",
    "pairs": "blocking",
    "scored": "scoring",
    "clusters": "cluster",
}


@contextmanager
def wrapped(owner, attr: str, make):
    """Replace ``owner.attr`` by ``make(original)`` for the block."""
    orig = getattr(owner, attr)
    setattr(owner, attr, make(orig))
    try:
        yield
    finally:
        setattr(owner, attr, orig)


class Stopwatch:
    """Wall time of each timed region, and their total process-tree CPU."""

    def __init__(self):
        self.walls: list[float] = []
        self.cpu_s = 0.0

    @contextmanager
    def timed(self):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        try:
            yield
        finally:
            self.walls.append(time.perf_counter() - t0)
            self.cpu_s += tree_cpu_s() - c0


def labelled_once(clusters, want_ids: set[str]) -> tuple[bool, str]:
    """Every wanted id carries exactly one label, and nothing else does."""
    ids = [r["conv_id"] for r in clusters.select("conv_id").collect()]
    if len(ids) != len(set(ids)):
        return False, "an id carries two labels"
    got = set(ids)
    if got != want_ids:
        return False, (
            f"{len(want_ids - got)} ids unlabelled, "
            f"{len(got - want_ids)} unexpected ids labelled"
        )
    return True, ""


class Workload:
    name = ""
    max_ops: int | None = None  # operations its inputs allow per run

    def __init__(self, spark, tracer, run_dir: str, seed: int, scale: str):
        from pipeline.config import PRODUCTION_CONFIG

        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.size = SIZES[self.name][scale]
        self.cfg = PRODUCTION_CONFIG
        self.counts: dict[str, float] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def bootstrap(self) -> None:
        """One untimed operation before the timed ones: the JVM's cold
        first pass (codegen, JIT, Python workers) is set-up work."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            r = self.op(-1)
        finally:
            self.tracer.enabled = enabled
        bad = [c for c in r["checks"] if not c[1]]
        if bad:
            raise RuntimeError(f"warm-up pass failed its checks: {bad}")

    def op(self, i: int) -> dict:
        """Run operation ``i``; return the ``walls`` (s) and ``cpu_s`` of its
        timed regions, the ``convs`` it linked, its cluster ``f1`` and the
        ``checks`` (name, passed, detail) run on its output."""
        raise NotImplementedError

    def _record_counts(self, pairs, matched, hot, cap, cc) -> None:
        """Add one linkage pass's blocking, scoring and cluster counts;
        ``cc`` is the metrics list ``connected_components`` returned."""
        c = self.counts
        distributed = not any(m.get("mode") == "driver_union_find" for m in cc)
        for k, v in {
            "blocking.pairs_out": pairs,
            "blocking.hot_key_rows": hot,
            "blocking.pair_cap_rows": cap,
            "scoring.pairs_in": pairs,
            "scoring.pairs_matched": matched,
            "cluster.edges_in": matched,
            "cluster.iterations": len(cc) if distributed else 0,
            "cluster.distributed": int(distributed),
        }.items():
            c[k] = c.get(k, 0) + v

    def f1(self, clusters, expected_pdf) -> float:
        from pipeline.evaluate import cluster_agreement

        return cluster_agreement(
            clusters, self.spark.createDataFrame(expected_pdf)
        )["f1"]


class Batch(Workload):
    name = "batch"

    def prepare(self) -> None:
        from pipeline import synth

        self.corpus = synth.generate(n_base=self.size["n_base"], seed=self.seed)
        self.turns = self.spark.createDataFrame(self.corpus.turns)
        self.n_convs = self.corpus.turns["conv_id"].nunique()

    def op(self, i: int) -> dict:
        from pipeline.io import StageRunner
        from pipeline.linkage import run_staged

        tr = self.tracer
        outputs: dict[int, object] = {}

        def make(orig):
            def run(runner, name, fn):
                with tr.span(name, BATCH_STAGE_LAYER.get(name, "io")) as sp:
                    df = orig(runner, name, fn)
                outputs[sp.id] = df
                return df
            return run

        out_dir = os.path.join(self.run_dir, f"out{i}")
        sw = Stopwatch()
        with wrapped(StageRunner, "run", make) if tr.enabled \
                else nullcontext():
            with sw.timed(), tr.span("run_staged"):
                out = run_staged(
                    self.spark, self.turns, out_dir, self.cfg, resume=False
                )

        clusters = out["clusters"]
        ok, why = labelled_once(clusters, set(self.corpus.turns["conv_id"]))
        f1 = self.f1(clusters, self.corpus.expected_clusters)
        checks = [("labelled_once", ok, why),
                  ("cluster_f1", f1 >= F1_FLOOR[self.name], f"f1={f1}")]
        if tr.enabled:
            for sid, df in outputs.items():
                tr.spans[sid].attrs["rows_out"] = df.count()
            cc = [m for m in out["_runner"].metrics if m.get("stage") == "cc"]

            def stage_rows(stage: str) -> int:
                return sum(tr.spans[s].attrs["rows_out"] for s in outputs
                           if tr.spans[s].name == stage)

            self._record_counts(
                pairs=stage_rows("pairs"),
                matched=out["scored"].where("is_match").count(),
                hot=stage_rows("hot_key_audit"),
                cap=stage_rows("pair_cap_audit"),
                cc=cc,
            )
        return {"walls": sw.walls, "cpu_s": sw.cpu_s, "convs": self.n_convs,
                "f1": f1, "checks": checks}

class Skew(Workload):
    name = "skew"

    def prepare(self) -> None:
        from pipeline import synth

        self.corpus = synth.generate_skew(seed=self.seed, **self.size)
        self.turns = self.spark.createDataFrame(self.corpus.turns)
        self.n_convs = self.corpus.turns["conv_id"].nunique()

    def op(self, i: int) -> dict:
        from pyspark.sql import functions as F

        from pipeline.blocking import candidate_pairs
        from pipeline.canonicalize import canonicalize
        from pipeline.cluster import connected_components
        from pipeline.features import featurize
        from pipeline.io import write_table
        from pipeline.scoring import score_pairs

        tr, cfg = self.tracer, self.cfg
        rows: dict[str, object] = {}

        def done(sp, key, df):
            rows[key] = (sp, df)
            return df

        sw = Stopwatch()
        with sw.timed(), tr.span("skew_pass"):
            with tr.span("canonicalize", "canonicalize") as sp:
                docs = done(sp, "docs", canonicalize(self.turns)
                            .localCheckpoint(eager=True))
            with tr.span("featurize", "features") as sp:
                feats = done(sp, "feats", featurize(docs, cfg)
                             .localCheckpoint(eager=True))
            with tr.span("candidate_pairs", "blocking") as sp:
                p, hot, cap = candidate_pairs(
                    feats, cfg, return_pair_audit=True
                )
                pairs = done(sp, "pairs", p.localCheckpoint(eager=True))
                hot = hot.localCheckpoint(eager=True)
                cap = cap.localCheckpoint(eager=True)
            with tr.span("score_pairs", "scoring") as sp:
                scored = done(sp, "scored", score_pairs(
                    feats, pairs, cfg, match_only=True
                ).localCheckpoint(eager=True))
            with tr.span("connected_components", "cluster") as sp:
                edges = scored.select(
                    F.col("conv_id_a").alias("src"),
                    F.col("conv_id_b").alias("dst"),
                )
                clusters, cc = connected_components(
                    edges, all_nodes=feats.select("conv_id"),
                    driver_threshold=0,
                )
                clusters = done(sp, "clusters",
                                clusters.localCheckpoint(eager=True))
            with tr.span("commit", "io") as io_span:
                base = os.path.join(self.run_dir, f"out{i}")
                for name, df in (("clusters", clusters),
                                 ("hot_key_audit", hot),
                                 ("pair_cap_audit", cap)):
                    write_table(df, os.path.join(base, name))

        ok, why = labelled_once(clusters, set(self.corpus.turns["conv_id"]))
        hubs = (
            clusters.where(F.col("conv_id").startswith("boil"))
            .select("entity_id").distinct().count()
        )
        f1 = self.f1(clusters, self.corpus.expected_clusters)
        checks = [("labelled_once", ok, why),
                  ("mega_group_one_entity", hubs == 1, f"{hubs} entities"),
                  ("cluster_f1", f1 >= F1_FLOOR[self.name], f"f1={f1}")]
        if tr.enabled:
            for sp, df in rows.values():
                sp.attrs["rows_out"] = df.count()
            n_hot, n_cap = hot.count(), cap.count()
            io_span.attrs["rows_out"] = (
                rows["clusters"][0].attrs["rows_out"] + n_hot + n_cap
            )
            self._record_counts(
                pairs=rows["pairs"][0].attrs["rows_out"],
                matched=rows["scored"][0].attrs["rows_out"],
                hot=n_hot, cap=n_cap, cc=cc,
            )
        return {"walls": sw.walls, "cpu_s": sw.cpu_s, "convs": self.n_convs,
                "f1": f1, "checks": checks}


class Stream(Workload):
    """Set-up commits 80% of a corpus as the stream's first micro-batch.
    Each operation: one increment file of held-out whole conversations
    becomes one micro-batch, then ``retract`` live ids are taken down.

    The corpus comes from ``BASE_SEED``; the seed draws the increments
    from the held-out 20% and picks the retracted ids. With the corpus
    itself drawn from the seed, cluster F1 at this size ranged from 0.90
    to 0.97 over five seeds, which would hide an output change of that
    size in the gate."""

    name = "stream"
    max_ops = 4
    BASE_SEED = 0

    def prepare(self) -> None:
        from pipeline import synth

        self.corpus = synth.generate(
            n_base=self.size["n_base"], seed=self.BASE_SEED
        )
        self.turns = self.corpus.turns
        convs = sorted(
            self.turns["conv_id"].unique(),
            key=lambda c: zlib.crc32(c.encode()),
        )
        cut = len(convs) * 4 // 5
        self.base_ids = convs[:cut]
        held_out = convs[cut:]
        random.Random(self.seed).shuffle(held_out)
        k = self.size["increment"]
        self.increments = [
            held_out[j * k: (j + 1) * k] for j in range(self.max_ops)
        ]

    def _paths(self) -> tuple[str, str, str]:
        return (os.path.join(self.run_dir, "src"),
                os.path.join(self.run_dir, "state"),
                os.path.join(self.run_dir, "ckpt"))

    def _drop(self, i: int, ids) -> None:
        src = self._paths()[0]
        os.makedirs(src, exist_ok=True)
        import pyarrow as pa
        import pyarrow.parquet as pq

        part = self.turns[self.turns["conv_id"].isin(set(ids))]
        # an explicit schema: a slice whose tool column is all null would
        # otherwise be written with a null type the stream's schema rejects
        schema = pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us")),
        ])
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(src, f"d{i:05d}.parquet"),
        )

    def _micro_batch(self):
        from pipeline.streaming import streaming_incremental_link

        src, state, ckpt = self._paths()
        return streaming_incremental_link(
            self.spark, src, state, ckpt, self.cfg
        )

    def _await(self, q) -> int:
        if not q.awaitTermination(150):
            q.stop()
            raise RuntimeError("micro-batch still running after 150 s")
        if q.exception() is not None:
            raise RuntimeError(f"micro-batch failed: {q.exception()}")
        return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    def _clusters(self):
        state = self._paths()[1]
        with open(os.path.join(state, "_LATEST.json"), encoding="utf-8") as f:
            latest = json.load(f)
        return self.spark.read.parquet(latest["clusters"])

    def bootstrap(self) -> None:
        """Commit the base as the stream's first micro-batch, in fresh
        source, state and checkpoint directories: the empty-state path
        of the increment linkage."""
        import shutil

        for part in self._paths():
            shutil.rmtree(part, ignore_errors=True)
        self._drop(0, self.base_ids)
        self._await(self._micro_batch())
        self.live = set(self.base_ids)
        self.rng = random.Random(self.seed)

    def op(self, i: int) -> dict:
        import pipeline.incremental as incremental_mod
        from pipeline.streaming import retract_from_state

        tr = self.tracer
        inc = self.increments[i]
        self._drop(i + 1, inc)

        def make(orig):
            @contextmanager
            def tuned(spark, *a, **kw):
                with tr.span("increment_tuning", "incremental"):
                    with orig(spark, *a, **kw):
                        yield
            return tuned

        sw, checks = Stopwatch(), []
        with wrapped(incremental_mod, "increment_tuning", make) \
                if tr.enabled else nullcontext():
            with sw.timed(), tr.span("micro_batch", "streaming") as mb_span:
                q = self._micro_batch()
                if mb_span is not None:
                    # foreachBatch jobs run under the query's own group
                    mb_span.groups.append(str(q.runId))
                batches = self._await(q)
            self.live |= set(inc)
            ok, why = labelled_once(self._clusters(), self.live)
            checks.append(("increment_labelled", ok, why))

            victims = self.rng.sample(sorted(self.live), self.size["retract"])
            with sw.timed(), \
                    tr.span("retract_from_state", "streaming") as rt_span:
                retract_from_state(self.spark, self._paths()[1], victims,
                                   self.cfg)
        self.live -= set(victims)
        clusters = self._clusters()
        ok, why = labelled_once(clusters, self.live)
        checks.append(("retracted_gone_survivors_labelled", ok, why))
        exp = self.corpus.expected_clusters
        f1 = self.f1(clusters, exp[exp["conv_id"].isin(self.live)])
        checks.append(("cluster_f1", f1 >= F1_FLOOR[self.name], f"f1={f1}"))
        if tr.enabled:
            # rows out = conversations labelled in the committed state
            mb_span.attrs["rows_out"] = len(self.live) + len(victims)
            rt_span.attrs["rows_out"] = len(self.live)
            self.counts["incremental.new_convs"] = (
                self.counts.get("incremental.new_convs", 0) + len(inc)
            )
            self.counts["streaming.batches"] = (
                self.counts.get("streaming.batches", 0) + batches
            )
            for key, w in (("streaming.microbatch_s", sw.walls[0]),
                           ("streaming.retract_s", sw.walls[1])):
                self.counts[key] = self.counts.get(key, 0) + w
        return {"walls": sw.walls, "cpu_s": sw.cpu_s, "convs": len(inc),
                "f1": f1, "checks": checks}


WORKLOADS = {w.name: w for w in (Batch, Skew, Stream)}
