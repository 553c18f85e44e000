"""The benchmark workloads and the parts they are made of.

Each workload names its ops, builds its seeded inputs (and the expected
outputs, cached beside them), resets its state before each set-up, runs
one iteration (the op sequence) through the runner's ``run_op`` and
checks that iteration's outputs against DuckDB afterwards. Calls into the engine go through module attributes
(``pipeline.process_parquet_files``, ``txlog.merge_into``, ...) so a
traced run can time them by rebinding those attributes.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq

from parquet_combiner_spark import functions as pipeline_fns
from parquet_combiner_spark import pipeline
from parquet_combiner_spark.functions import dedup_text
from parquet_combiner_spark.schemas import DATA_A_SCHEMA
from parquet_combiner_spark.sources import io
from parquet_combiner_spark.streaming import cdf, txlog_sink
from parquet_combiner_spark.streaming.metrics import StreamMetricsCollector
from parquet_combiner_spark.tools import txlog

from perfbench import inputs, oracle
from perfbench.trace import file_state, written_since

TOP_X = 5


def _expected(root: str, compute) -> dict:
    """Expected (count, digest) per output, cached in the input's
    directory."""
    got = inputs.cached_json(os.path.join(root, "expected.json"), compute)
    return {k: tuple(v) for k, v in got.items()}


class Workload:
    """Shared shape; subclasses fill in the ops."""

    name = ""
    ops: tuple[str, ...] = ()
    # spans counted as lazy DataFrame building (plan.build_s)
    plan_spans: tuple[str, ...] = ()
    # ops after which the runner keeps persisted blocks for the next op
    keep_after: frozenset[str] = frozenset()

    def __init__(self, seed: int, work: str, run: str):
        self.seed = seed
        self.work = work
        self.run = run
        self.layer: dict[str, float] = {}

    # input rows / bytes one iteration consumes, for rows_per_s and
    # write_amp
    rows_per_iter = 0
    bytes_per_iter = 0

    def write_dirs(self) -> list[str]:
        return []

    def spark_inputs_missing(self) -> bool:
        """Whether inputs that need a Spark session to build are not
        cached yet."""
        return False

    def build_spark_inputs(self, spark) -> None:
        """Build the inputs that need a Spark session (in a process of
        their own, so no measured session runs the generator)."""

    def build_inputs(self) -> None:
        """Build (if not cached) and load the inputs and the expected
        outputs, without Spark."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Reset state before a set-up's first iteration."""

    def iteration(self, spark, run_op) -> None:
        raise NotImplementedError

    def check(self) -> dict[str, bool]:
        """Per-op verdicts for the last iteration."""
        return {}

    def finish(self, spark) -> dict[str, bool]:
        """End-of-pass checks (e.g. the final table snapshot)."""
        return {}

    def trace_hooks(self, tracer) -> None:
        """Wrap this workload's engine entry points in spans."""

    def trace_counters(self, spark, tracing: bool) -> None:
        """Start (``tracing=True``) or stop the traced pass's
        workload-specific counters, accumulating into ``self.layer``."""

    def traced_op_done(self, spark, op: str, jobs: int) -> None:
        """Per-op counters of the traced pass, taken after ``op`` ran
        ``jobs`` Spark jobs."""


class DetectionsTopX(Workload):
    """The paper's job: dedup detections, per-location top-X with a
    broadcast dimension join, Parquet out."""

    name = "detections_topx"
    ops = ("top_items", "all_aggs")
    plan_spans = ("plan.top_items", "plan.all_aggregations")

    def spark_inputs_missing(self) -> bool:
        return not os.path.isdir(inputs.detections_dir(self.work, self.seed))

    def build_spark_inputs(self, spark) -> None:
        inputs.detections(spark, self.work, self.seed)

    def build_inputs(self) -> None:
        self.inp = inputs.detections(None, self.work, self.seed)
        self.rows_per_iter = self.inp["rows"] * len(self.ops)
        self.bytes_per_iter = (
            inputs.dir_bytes(self.inp["dataA"])
            + inputs.dir_bytes(self.inp["dataB"])
        ) * len(self.ops)
        self.expected = _expected(
            self.inp["dir"], lambda: oracle.detection_expected(
                self.inp["dataA"], self.inp["dataB"], TOP_X
            ),
        )

    def write_dirs(self) -> list[str]:
        return [self.out]

    def prepare(self, spark) -> None:
        self.out = os.path.join(self.run, "out")
        shutil.rmtree(self.out, ignore_errors=True)
        self.iters = 0

    def iteration(self, spark, run_op) -> None:
        # each iteration writes its own directories, so every byte it
        # writes is still on disk when write_amp counts them
        self.iter_out = os.path.join(self.out, f"i{self.iters:04d}")
        self.iters += 1
        a, b = self.inp["dataA"], self.inp["dataB"]
        run_op("top_items", lambda: pipeline.process_parquet_files(
            spark, a, b, os.path.join(self.iter_out, "top_items"),
            top_x=TOP_X,
        ))
        run_op("all_aggs", lambda: self._all_aggs(spark, a, b))

    def _all_aggs(self, spark, a: str, b: str) -> None:
        res = pipeline.all_aggregations(
            io.read_data_a(spark, a), io.read_data_b(spark, b), TOP_X
        )
        try:
            for name in ("top_items", "item_count", "location_stats"):
                io.write_parquet(
                    res[name], os.path.join(self.iter_out, "all_aggs", name)
                )
        finally:
            res["_deduped"].unpersist()

    def check(self) -> dict[str, bool]:
        con = oracle.connect()
        ok = {
            "top_items": oracle.parquet_digest(
                con, os.path.join(self.iter_out, "top_items")
            ) == self.expected["top_items"],
            "all_aggs": all(
                oracle.parquet_digest(
                    con, os.path.join(self.iter_out, "all_aggs", name)
                ) == self.expected[name]
                for name in ("top_items", "item_count", "location_stats")
            ),
        }
        con.close()
        return ok

    def trace_hooks(self, tracer) -> None:
        for mod in (pipeline, io):
            tracer.wrap(mod, "read_data_a", "io.read_data_a")
            tracer.wrap(mod, "read_data_b", "io.read_data_b")
            tracer.wrap(mod, "write_parquet", "io.write_parquet")
        tracer.wrap(pipeline, "top_items", "plan.top_items")
        tracer.wrap(pipeline, "all_aggregations", "plan.all_aggregations")


class _FeedCounter:
    """``apply_fn`` for the change-feed drain: counts the change rows
    (keys added, removed or changed) of each per-version batch."""

    def __init__(self):
        self.rows = 0
        self.batches = 0
        self.batch_s = 0.0

    def __call__(self, batch, version: int) -> None:
        t0 = time.perf_counter()
        self.rows += batch.where("change <> 'unchanged'").count()
        self.batches += 1
        self.batch_s += time.perf_counter() - t0


class _TimedStreamCollector(StreamMetricsCollector):
    """The engine's stream metrics collector, also keeping each
    micro-batch's trigger duration."""

    def __init__(self):
        super().__init__()
        self.durations_s: list[float] = []

    def onQueryProgress(self, event) -> None:  # noqa: D102
        super().onQueryProgress(event)
        p = json.loads(event.progress.json)
        self.durations_s.append(
            (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        )


class _CountingArbiter(txlog.FilesystemArbiter):
    """Default filesystem commit arbitration, counting lost races (each
    one is a retry of the verb's optimistic loop)."""

    def __init__(self):
        self.conflicts = 0

    def publish(self, path: str, payload: str) -> None:
        try:
            super().publish(path, payload)
        except txlog.CommitConflict:
            self.conflicts += 1
            raise


class TxTableCDC(Workload):
    """A detections table under change: streaming ingest, CDC merge,
    narrow deletion-vector delete, pruned reads and a change-feed drain,
    one cycle per iteration."""

    name = "txtable_cdc"
    ops = ("ingest", "merge", "delete", "read", "feed")
    plan_spans = ("plan.read_table_where",)
    stats_cols = ["detection_oid", "video_camera_oid", "timestamp_detected"]

    def build_inputs(self) -> None:
        self.base = inputs.tx_base(self.work, self.seed)
        self.root = os.path.join(self.run, "tx")
        self.table = os.path.join(self.root, "table")
        self.src = os.path.join(self.root, "ingest")
        self.rows_per_iter = (
            inputs.TX_INGEST_FILES * inputs.TX_INGEST_ROWS
            + inputs.TX_MERGE_ROWS
        )
        self.replay = None

    def write_dirs(self) -> list[str]:
        return [self.table]

    def prepare(self, spark) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.src)
        os.makedirs(os.path.join(self.root, "merge"))
        txlog.commit(
            spark.read.parquet(self.base), self.table,
            stats_cols=self.stats_cols,
        )
        self.cursor = txlog.current_version(self.table)
        self.cycle = 0
        if self.replay is not None:
            self.replay.close()
        self.replay = oracle.TxReplay(self.base)
        self.user_bytes = 0
        self.iters = 0

    def iteration(self, spark, run_op) -> None:
        c = inputs.cdc_cycle(self.seed, self.cycle)
        self.current = c
        for j, t in enumerate(c["ingest"]):
            path = os.path.join(self.src, f"c{self.cycle:05d}-{j}.parquet")
            pq.write_table(t, path)
            self.user_bytes += os.path.getsize(path)
        mfile = os.path.join(self.root, "merge", f"c{self.cycle:05d}.parquet")
        pq.write_table(c["merge"], mfile)
        self.user_bytes += os.path.getsize(mfile)
        self.iters += 1
        self.bytes_per_iter = self.user_bytes / self.iters
        cams = ", ".join(str(x) for x in c["delete_cameras"])
        point = f"detection_oid = {c['point_oid']}"
        rng = (
            f"timestamp_detected BETWEEN {c['range_lo']} AND {c['range_hi']}"
        )
        self.predicates = (point, rng)
        feed = _FeedCounter()
        self.feed = feed

        run_op("ingest", lambda: txlog_sink.stream_to_txlog_available_now(
            spark, self.src, self.table, DATA_A_SCHEMA,
            max_files_per_trigger=1,
        ))
        run_op("merge", lambda: txlog.merge_into(
            spark, self.table, spark.read.parquet(mfile),
            keys=["detection_oid"], version_cols=["timestamp_detected"],
            op_col="op", stats_cols=self.stats_cols, cdf=True,
        ))
        run_op("delete", lambda: txlog.delete_where_expr(
            spark, self.table, f"video_camera_oid IN ({cams})", mode="dv",
        ))
        self.read_frames = []

        def read():
            out = []
            for p in self.predicates:
                df = txlog.read_table_where(spark, self.table, p)
                self.read_frames.append(df)
                out.append((df.columns, [tuple(r) for r in df.collect()]))
            return out

        self.read_out = run_op("read", read)

        def drain():
            self.cursor = cdf.drain_table_changes(
                spark, self.table, feed, keys=["detection_oid"],
                from_version=self.cursor,
            )
            return feed.rows

        run_op("feed", drain)
        self.cycle += 1

    def check(self) -> dict[str, bool]:
        c, r = self.current, self.replay
        before = r.changes
        for t in c["ingest"]:
            r.ingest(t)
        r.merge(c["merge"])
        r.delete_cameras(c["delete_cameras"])
        reads_ok = self.read_out is not None and all(
            oracle.digest(cols, rows) == r.where_digest(p)
            for (cols, rows), p in zip(self.read_out, self.predicates)
        )
        return {"read": reads_ok, "feed": self.feed.rows == r.changes - before}

    def finish(self, spark) -> dict[str, bool]:
        snap = txlog.read_table(spark, self.table).toArrow()
        return {"snapshot": self.replay.snapshot_mismatch(snap) == 0}

    def trace_hooks(self, tracer) -> None:
        tracer.wrap(txlog, "read_table_where", "plan.read_table_where")

    def trace_counters(self, spark, tracing: bool) -> None:
        log_dir = os.path.join(self.table, "_txlog")
        if tracing:
            self._t = {
                "phase": txlog.phase_clock_seconds(),
                "version": txlog.current_version(self.table),
                "log_state": file_state([log_dir]),
                "arbiter": _CountingArbiter(),
                "streams": _TimedStreamCollector().attach(spark),
                "feed_rows": 0, "feed_batches": 0, "feed_s": 0.0,
                "verb_jobs": 0, "verbs": 0, "files_read": 0,
                "snapshot_files": 0,
            }
            self._t["prev_arbiter"] = txlog.set_arbiter(self._t["arbiter"])
            return
        t = self._t
        time.sleep(1.0)  # let queued listener events reach the collector
        t["streams"].detach(spark)
        txlog.set_arbiter(t["prev_arbiter"])
        version = txlog.current_version(self.table)
        added = removed = 0
        for v in range(t["version"] + 1, version + 1):
            with open(os.path.join(log_dir, f"{v:020d}.json")) as f:
                rec = json.load(f)
            added += len(rec.get("add", []))
            removed += len(rec.get("remove", []))
        _, log_bytes = written_since(t["log_state"], [log_dir])
        s = t["streams"]
        self.layer.update({
            "txlog.build_s": txlog.phase_clock_seconds() - t["phase"],
            "txlog.versions_added": version - t["version"],
            "txlog.files_added": added,
            "txlog.files_removed": removed,
            "txlog.log_bytes": log_bytes,
            "txlog.retries": t["arbiter"].conflicts,
            "txlog.jobs_per_verb": t["verb_jobs"] / max(t["verbs"], 1),
            "txlog.files_read": t["files_read"],
            "txlog.prune_ratio": t["files_read"] / max(t["snapshot_files"], 1),
            "stream.batches": len(s.batches),
            "stream.batch_s": sum(s.durations_s) / max(len(s.durations_s), 1),
            "stream.rows_per_batch": (
                sum(b.num_input_rows for b in s.batches)
                / max(len(s.batches), 1)
            ),
            "feed.rows": t["feed_rows"],
            "feed.batch_s": t["feed_s"] / max(t["feed_batches"], 1),
        })
        del self._t

    def traced_op_done(self, spark, op: str, jobs: int) -> None:
        """Per-op counters of the traced pass, taken after the op."""
        t = self._t
        if op in ("merge", "delete"):
            t["verb_jobs"] += jobs
            t["verbs"] += 1
        elif op == "read":
            snapshot = len(txlog.read_table(spark, self.table).inputFiles())
            for df in self.read_frames:
                t["files_read"] += len(df.inputFiles())
                t["snapshot_files"] += snapshot
        elif op == "feed":
            t["feed_rows"] += self.feed.rows
            t["feed_batches"] += self.feed.batches
            t["feed_s"] += self.feed.batch_s


class CorpusNearDup(Workload):
    """The LLM-corpus path: exact n-gram Jaccard pairs, connected
    near-duplicate clusters over the cached pairs, BM25 + cosine
    reciprocal-rank fusion."""

    name = "corpus_near_dup"
    ops = ("pairs", "clusters", "rrf")
    plan_spans = ("plan.ngram_jaccard_pairs", "plan.hybrid_rrf_topk")
    # clusters reads the pair cache the pairs op fills
    keep_after = frozenset({"pairs"})

    def build_inputs(self) -> None:
        self.inp = inputs.corpus(self.work, self.seed)
        self.rows_per_iter = self.inp["docs"] * len(self.ops)
        self.bytes_per_iter = sum(
            os.path.getsize(os.path.join(self.inp["dir"], f"{t}.parquet"))
            for t in ("documents", "embeddings")
        )
        self.expected = _expected(
            self.inp["dir"], lambda: oracle.corpus_expected(self.inp["dir"])
        )

    def prepare(self, spark) -> None:
        pipeline_fns.clear_ngram_pair_cache()

    def iteration(self, spark, run_op) -> None:
        d = self.inp["dir"]

        def collect(df):
            return df.columns, [tuple(r) for r in df.collect()]

        pipeline_fns.clear_ngram_pair_cache()
        self.out = {
            "pairs": run_op("pairs", lambda: collect(
                pipeline_fns.q_ngram_jaccard_pairs(spark, d))),
            "clusters": run_op("clusters", lambda: collect(
                pipeline_fns.q_near_dup_clusters(spark, d))),
            "rrf": run_op("rrf", lambda: collect(
                pipeline_fns.q_hybrid_rrf_topk(spark, d))),
        }

    def check(self) -> dict[str, bool]:
        keys = dict(zip(self.ops, oracle.CORPUS_KEYS))
        return {
            op: out is not None and oracle.digest(*out) == self.expected[keys[op]]
            for op, out in self.out.items()
        }

    def trace_hooks(self, tracer) -> None:
        tracer.wrap(dedup_text, "ngram_jaccard_pairs", "plan.ngram_jaccard_pairs")
        tracer.wrap(pipeline_fns, "q_hybrid_rrf_topk", "plan.hybrid_rrf_topk")


class BatchAnalytics(Workload):
    """The read-mostly batch jobs in one session: the paper's job
    (``DetectionsTopX``), then the LLM-corpus path (``CorpusNearDup``),
    one after the other in every iteration. They share a workload
    because each run pays a JVM start and a cold iteration, and the run
    budget does not cover that three times; together they still bypass
    the table log and streaming that ``txtable_cdc`` exercises."""

    name = "batch_analytics"
    ops = DetectionsTopX.ops + CorpusNearDup.ops
    plan_spans = DetectionsTopX.plan_spans + CorpusNearDup.plan_spans
    keep_after = CorpusNearDup.keep_after

    def __init__(self, seed: int, work: str, run: str):
        super().__init__(seed, work, run)
        self.parts = (
            DetectionsTopX(seed, work, run), CorpusNearDup(seed, work, run)
        )

    def spark_inputs_missing(self) -> bool:
        return any(p.spark_inputs_missing() for p in self.parts)

    def build_spark_inputs(self, spark) -> None:
        for p in self.parts:
            p.build_spark_inputs(spark)

    def build_inputs(self) -> None:
        for p in self.parts:
            p.build_inputs()
        self.rows_per_iter = sum(p.rows_per_iter for p in self.parts)
        self.bytes_per_iter = sum(p.bytes_per_iter for p in self.parts)

    def write_dirs(self) -> list[str]:
        return [d for p in self.parts for d in p.write_dirs()]

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def iteration(self, spark, run_op) -> None:
        for p in self.parts:
            p.iteration(spark, run_op)

    def check(self) -> dict[str, bool]:
        return {op: ok for p in self.parts for op, ok in p.check().items()}

    def trace_hooks(self, tracer) -> None:
        for p in self.parts:
            p.trace_hooks(tracer)


WORKLOADS = {w.name: w for w in (BatchAnalytics, TxTableCDC)}
