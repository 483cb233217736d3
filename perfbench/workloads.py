"""The two workloads.

Each workload class has:

* ``setup()`` — input generation, template compile and a small engine
  warm-up; the runner times it five times (``setup_s`` is the median);
* ``warm()`` — untimed work that pays one-off costs the measured figures
  should not carry;
* ``measure()`` — the timed work (about ``--seconds``);
* ``results()`` — the end-to-end figures ``work_s``, ``typical_ms``, ``tail_ms``;
* ``check()`` — output checks, outside every timed region →
  (operations attempted, operations failed);
* ``layers()`` / ``log_layers()`` — per-layer figures of the traced pass,
  while Spark is up and after its event log is closed.

The program is driven only through public calls.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

import datagen
import measure
from session import CPUS

# batch query → the package module that does its main work, for all 40
# queries of ``__spark_entry__.queries()``
QUERY_MODULE = {
    "deid_transcripts": "operators.deidentify",
    "deid_cards": "operators.deidentify",
    "crypto_roundtrip": "operators.deidentify",
    "crypto_roundtrip_siv": "operators.deidentify",
    "fpe_roundtrip": "operators.deidentify",
    "deid_dates": "operators.deidentify",
    "deid_conditional": "operators.deidentify",
    "deid_text_inline": "operators.deidentify",
    "text_tokenize_roundtrip": "operators.deidentify",
    "inspect_findings": "operators.inspect",
    "inspect_dictionary": "operators.inspect",
    "inspect_limits": "operators.inspect",
    "inspect_offsets": "operators.inspect",
    "inspect_rules": "operators.inspect",
    "dlp_batches": "operators.inspect",
    "pii_density": "operators.inspect",
    "sessionize": "operators.sessionize",
    "agent_tool_join": "operators.sessionize",
    "session_windows": "operators.sessionize",
    "conv_sessions": "operators.sessionize",
    "windowed_infotype_hits": "streaming.windows",
    "sliding_infotype_hits": "streaming.windows",
    "tool_call_hourly": "streaming.windows",
    "exact_dedup": "operators.dedup",
    "ngram_jaccard": "operators.dedup",
    "minhash_dedup": "operators.dedup",
    "dedup_clusters": "operators.dedup",
    "simhash_dedup": "operators.dedup",
    "cosine_topk": "operators.similarity",
    "cosine_topk_arrow": "operators.similarity",
    "ann_lsh_topk": "operators.similarity",
    "ivf_topk": "operators.similarity",
    "ivf_topk_indexed": "operators.similarity",
    "embedding_dedup": "operators.similarity",
    "k_anonymity": "operators.risk",
    "l_diversity": "operators.risk",
    "numerical_stats": "operators.risk",
    "text_metrics": "operators.corpus",
    "corpus_curate": "operators.corpus",
    "chatlog_roundtrip": "sources",
}
# the queries one batch_queries run times: one per module. All 40 take
# ~60 s on a fresh 4-core session, far over a run's budget; dedup_clusters
# (~8 s cold, the slowest) and ivf_topk_indexed (~12 s cold) are left out,
# and the IVF calls are timed as spans in the traced pass instead.
QUERY_SET = [
    "deid_transcripts", "inspect_findings", "sessionize", "windowed_infotype_hits",
    "minhash_dedup", "cosine_topk_arrow", "k_anonymity",
]
MODULES = sorted({QUERY_MODULE[q] for q in QUERY_SET})
SF = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

TEMPLATE = "configs/deid_transcripts.json"
GAP_MS = 600_000
N_CONVERSATIONS = 250
NULL_RATE = 0.002
N_BUCKETS = 256
DRAIN_TIMEOUT_S = 120
STREAM_PHASES = ("batches", "query_planning_ms", "trigger_execution_ms", "wal_commit_ms", "idle_ms", "phase_coverage")


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, root, work, seed, seconds, tracer, spark=None):
        self.root, self.work, self.seed, self.seconds = root, work, seed, seconds
        self.tracer, self.spark = tracer, spark
        self.info: dict = {}  # figures printed before the result line

    def fresh(self, name: str) -> str:
        """An empty path under the work dir (not created)."""
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d


def engine_warmup(spark) -> None:
    """A tiny scan + aggregate: loads the JVM classes every query needs."""
    spark.range(0, 10_000, 1, 4).selectExpr("sum(id % 7)").collect()


def compile_template(ctx):
    import dlp_dataflow_deidentification_spark as dds

    with ctx.tracer.span("plans.compile"):
        return dds.DeidTemplate.from_file(os.path.join(ctx.root, TEMPLATE))


# ---- streaming helpers ------------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every progress event as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressLog()


def _iso_s(ts: str) -> float:
    """Spark progress timestamp (``2026-01-01T00:00:00.123Z``) → epoch s."""
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def progress_layers(events: list[dict], run_id: str, wall_s: float) -> dict[str, float]:
    """Per-layer figures of one streaming query from its progress events:
    phase totals (ms), idle time between triggers, the share of the query's
    wall time the phases cover, and state-store figures."""
    evs = [e for e in events if e.get("runId") == run_id]

    def dur(k):
        return sum(e["durationMs"].get(k, 0) for e in evs)

    spans = sorted(
        (_iso_s(e["timestamp"]), _iso_s(e["timestamp"]) + e["durationMs"].get("triggerExecution", 0) / 1000)
        for e in evs
    )
    idle = sum(max(0.0, b[0] - a[1]) for a, b in zip(spans, spans[1:]))
    ops = [op for e in evs for op in e.get("stateOperators", [])]
    last_ops = evs[-1].get("stateOperators", []) if evs else []
    return {
        "batches": sum(e.get("numInputRows", 0) > 0 for e in evs),
        "latest_offset_ms": dur("latestOffset"),
        "get_batch_ms": dur("getBatch"),
        "query_planning_ms": dur("queryPlanning"),
        "trigger_execution_ms": dur("triggerExecution"),
        "wal_commit_ms": dur("walCommit") + dur("commitOffsets"),
        "idle_ms": idle * 1000,
        "phase_coverage": sum(dur(k) for k in PHASES) / 1000 / wall_s if wall_s else 0.0,
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state_memory_mb": max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / 2**20,
        "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "state_update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
    }


def job_class(tracer):
    """``StreamingDeidJob``, or with tracing on a subclass whose sinks record
    spans around ``IdempotentBatchSink.__call__`` and ``CommitLog.commit``
    and count replayed (already committed) batches."""
    from dlp_dataflow_deidentification_spark.streaming import jobs
    from dlp_dataflow_deidentification_spark.streaming.commitlog import LocalFSCommitLog
    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    if not tracer.enabled:
        return jobs.StreamingDeidJob

    class TracedLog(LocalFSCommitLog):
        def commit(self, batch_id, entry):
            with tracer.span("streaming.commitlog.commit"):
                super().commit(batch_id, entry)

    class TracedSink(IdempotentBatchSink):
        def __call__(self, batch_df, batch_id):
            if self.is_committed(batch_id):
                tracer.count("streaming.sink.replayed_batches")
            with tracer.span("streaming.sink.call"):
                super().__call__(batch_df, batch_id)

    def traced(out_dir, **kw):
        s = TracedSink(out_dir, **kw)
        s.commit_log = TracedLog(s.ledger_dir)
        return s

    class TracedJob(jobs.StreamingDeidJob):
        def sink(self):
            return traced(self.output_dir, partition_col=self.partition_output_by)

        def error_sink(self):
            return traced(self.error_output_dir) if self.error_output_dir else None

    return TracedJob


def ledger_rows(out_dir: str) -> int:
    """Rows recorded in an ``IdempotentBatchSink`` ledger."""
    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    return sum(e["metrics"]["n_rows"] for e in IdempotentBatchSink(out_dir).lineage())


def ledger_commit_times(out_dir: str) -> dict[int, float]:
    """Batch id → commit time: the mtime of the ledger entry, which the
    sink renames into place as its atomic commit point."""
    d = os.path.join(out_dir, "_ledger")
    if not os.path.isdir(d):
        return {}
    return {
        int(f[:-5]): os.stat(os.path.join(d, f)).st_mtime
        for f in os.listdir(d)
        if f.endswith(".json") and not f.startswith(".")
    }


def checkpoint_batches(ckpt: str) -> dict[int, tuple[float, float]]:
    """Batch id → (start, end) of each finished micro-batch of a streaming
    query: the offset-log entry is written when the batch is planned, the
    commit-log entry when it has finished."""
    out = {}
    for name in os.listdir(os.path.join(ckpt, "commits")):
        if name.isdigit():
            out[int(name)] = (
                os.stat(os.path.join(ckpt, "offsets", name)).st_mtime,
                os.stat(os.path.join(ckpt, "commits", name)).st_mtime,
            )
    return out


def df_digest(df) -> tuple[int, str]:
    """Order-insensitive digest of a DataFrame computed by Spark itself:
    row count and the sum of per-row xxhash64 over the columns in name
    order. For comparing two Spark results; results compared with DuckDB
    go through ``measure.rows_digest``."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row.n), str(row.h)


def await_query(q, timeout_s: float) -> bool:
    finished = bool(q.awaitTermination(timeout_s))
    if q.isActive:
        q.stop()
    return finished


def static_transcripts(spark, path):
    from dlp_dataflow_deidentification_spark.streaming import jobs

    return spark.read.schema(jobs.TRANSCRIPT_SCHEMA).parquet(path)


def deid_reference(spark, template, input_dir) -> tuple[int, str]:
    """Digest of batch ``deidentify()`` over the non-null rows of the input:
    what the deid leg's exactly-once sink must hold."""
    import dlp_dataflow_deidentification_spark as dds
    from pyspark.sql import functions as F

    return df_digest(dds.deidentify(static_transcripts(spark, input_dir).filter(F.col("text").isNotNull()), template))


def committed_digest(spark, out_dir) -> tuple[int, str]:
    from dlp_dataflow_deidentification_spark.streaming.sink import IdempotentBatchSink

    return df_digest(IdempotentBatchSink(out_dir).read_committed(spark).drop("batch_id"))


def clear_job_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


# ---- stream: backlog phase + trickle phase ----------------------------------


class BacklogPhase:
    """Closed-loop drains (availableNow) of a pre-generated backlog: the deid
    leg (``StreamingDeidJob`` into the exactly-once sink, with the
    dead-letter sink on) DRAINS times, each a fresh query with its own
    checkpoint and sinks. The first drain also pays the job's one-off costs
    (class loading, code generation), so the median of the four is in
    effect the mean of the two middle ones of the other three. With tracing
    on, also the sessions leg
    (``deid_sessions_stream`` on RocksDB, ``n_buckets=256``, to a parquet
    sink) after a small warm-up drain of it."""

    N_TURNS = 16_000
    N_FILES = 16
    FILES_PER_TRIGGER = 25  # the whole backlog in one micro-batch
    DRAINS = 4

    def __init__(self, ctx: Ctx, template):
        self.ctx, self.template = ctx, template
        self.sessions = ctx.tracer.enabled
        self.legs: list[dict] = []

    def setup(self, rng):
        self.input = self.ctx.fresh("backlog")
        t0 = time.time() - 3600
        _, self.nulls = datagen.write_transcript_files(
            self.input, rng, 0, self.N_TURNS, self.N_FILES, N_CONVERSATIONS, NULL_RATE, mtime0=t0
        )
        datagen.write_flush_file(self.input, mtime=t0 + self.N_FILES + 1)

    def warm(self, rng):
        """The sessions leg over one small file: loads the stateful operator,
        RocksDB and the Python workers."""
        if not self.sessions:
            return
        warm = self.ctx.fresh("backlog_warm")
        datagen.write_transcript_files(warm, rng, 0, 200, 1, 50, NULL_RATE, mtime0=time.time() - 60)
        self._sessions_leg(warm, "warm", n_buckets=8)
        self.legs.clear()

    def _deid_leg(self, input_dir, tag):
        c = self.ctx
        out, err, ckpt = (c.fresh(f"{k}_{tag}") for k in ("deid_out", "deid_err", "deid_ckpt"))
        job = job_class(c.tracer)(
            c.spark, self.template, input_dir, out, ckpt,
            max_files_per_trigger=self.FILES_PER_TRIGGER, error_output_dir=err,
        )
        t0 = time.time()
        with c.tracer.span("streaming.deid_leg"):
            q = job.start()
            finished = await_query(q, DRAIN_TIMEOUT_S)
        self.legs.append({"leg": "deid", "t0": t0, "wall": time.time() - t0, "finished": finished,
                          "out": out, "err": err, "ckpt": ckpt, "run_id": str(q.runId)})

    def _sessions_leg(self, input_dir, tag, n_buckets=N_BUCKETS):
        from dlp_dataflow_deidentification_spark.streaming import jobs

        c = self.ctx
        out, ckpt = c.fresh(f"sess_out_{tag}"), c.fresh(f"sess_ckpt_{tag}")
        t0 = time.time()
        with c.tracer.span("streaming.sessions_leg"):
            df = jobs.deid_sessions_stream(
                c.spark, self.template, input_dir, gap_ms=GAP_MS, watermark="1 minute",
                max_files_per_trigger=self.FILES_PER_TRIGGER, n_buckets=n_buckets,
            )
            q = (
                df.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).outputMode("append")
                .trigger(availableNow=True).start()
            )
            finished = await_query(q, DRAIN_TIMEOUT_S)
        self.legs.append({"leg": "sessions", "t0": t0, "wall": time.time() - t0, "finished": finished,
                          "out": out, "ckpt": ckpt, "run_id": str(q.runId)})

    def measure(self):
        for i in range(self.DRAINS):
            self._deid_leg(self.input, str(i))
        if self.sessions:
            self._sessions_leg(self.input, "0")

    def _deid_legs(self) -> list[dict]:
        return [g for g in self.legs if g["leg"] == "deid"]

    def _median_leg(self) -> dict:
        legs = sorted(self._deid_legs(), key=lambda g: g["wall"])
        return legs[len(legs) // 2]

    def _sessions(self) -> dict:
        return next(g for g in self.legs if g["leg"] == "sessions")

    def work_s(self) -> float:
        """Median wall of the deid drains."""
        turns = self.N_TURNS + 1
        walls = [g["wall"] for g in self._deid_legs()]
        wall = statistics.median(walls)
        self.ctx.info.update(
            deid_turns_per_s=turns / wall, deid_drains_s=[round(w, 3) for w in walls],
            backlog_turns=turns, backlog_files=self.N_FILES + 1, planted_nulls=self.nulls,
        )
        if self.sessions:
            self.ctx.info["sessions_turns_per_s"] = turns / self._sessions()["wall"]
        return wall

    def check(self) -> tuple[int, int]:
        """One operation per drain (and for the sessions leg). A deid drain's
        committed rows must equal batch ``deidentify()`` over the non-null
        input rows (order-insensitive digest), its ledger must sum to that
        row count and its dead-letter ledger to the planted nulls; the
        sessions leg's output must equal batch
        ``conversation_assembler(deidentify(df))``."""
        import dlp_dataflow_deidentification_spark as dds
        from dlp_dataflow_deidentification_spark.streaming import stateful
        from pyspark.sql import functions as F

        c = self.ctx
        want = deid_reference(c.spark, self.template, self.input)
        legs = self._deid_legs()
        failed = sum(
            not (
                g["finished"]
                and ledger_rows(g["out"]) == want[0]
                and ledger_rows(g["err"]) == self.nulls
                and committed_digest(c.spark, g["out"]) == want
            )
            for g in legs
        )
        if not self.sessions:
            return len(legs), failed
        sess = self._sessions()
        flush = F.col("conv_id") != datagen.FLUSH_CONV
        want = df_digest(
            stateful.conversation_assembler(
                dds.deidentify(static_transcripts(c.spark, self.input), self.template), gap_ms=GAP_MS
            ).filter(flush)
        )
        sess_ok = sess["finished"] and df_digest(c.spark.read.parquet(sess["out"]).filter(flush)) == want
        c.info["sessions"] = want[0]
        return len(legs) + 1, failed + (not sess_ok)

    def layers(self, events) -> dict[str, float]:
        import dlp_dataflow_deidentification_spark as dds

        c = self.ctx
        deid, sess = self._median_leg(), self._sessions()
        p = progress_layers(events, sess["run_id"], sess["wall"])
        out = {f"streaming.stateful.{k}": p[k] for k in
               ("batches", "state_rows", "state_memory_mb", "state_commit_ms", "state_update_ms", "phase_coverage")}
        out["streaming.stateful.turns_per_s"] = (self.N_TURNS + 1) / sess["wall"]
        out["streaming.sink.call_ms"] = c.tracer.totals("streaming.sink.call", deid["t0"], deid["t0"] + deid["wall"]) * 1000
        out["streaming.sink.committed_rows"] = ledger_rows(deid["out"])
        out["streaming.sink.dead_letter_rows"] = ledger_rows(deid["err"])
        # deidentify() alone over the same backlog, as a static DataFrame
        c.spark.sparkContext.setJobGroup("layer.deidentify", "deidentify over the backlog")
        t0 = time.time()
        with c.tracer.span("operators.deidentify.batch"):
            dds.deidentify(static_transcripts(c.spark, self.input), self.template).write.format("noop").mode(
                "overwrite").save()
        out["operators.deidentify.batch_s"] = time.time() - t0
        clear_job_group(c.spark)
        return out

    def log_layers(self, log: measure.EventLog) -> dict[str, float]:
        return {
            "streaming.stateful.python_exec_ms": log.group_totals(self._sessions()["run_id"])["py_run_ms"],
            "operators.deidentify.exec_cpu_s": log.group_totals("layer.deidentify")["cpu_s"],
        }


class TricklePhase:
    """Open loop: small pre-generated files are renamed into the watched
    directory on a fixed schedule (RATE files/s) that does not slow when the
    engine does; ``StreamingDeidJob`` runs with a ``processingTime: 0``
    trigger. Each file's latency runs from its due time to the commit of the
    batch that read it."""

    FILE_TURNS = 40
    RATE = 16.0  # files per second
    MIN_FILES = 110  # ≥10 samples beyond p90
    LATENCY_LIMIT_S = 10.0

    def __init__(self, ctx: Ctx, template):
        self.ctx, self.template = ctx, template
        self.n_files = max(self.MIN_FILES, int(ctx.seconds * self.RATE))

    def setup(self, rng):
        self.files, self.nulls = datagen.write_transcript_files(
            self.ctx.fresh("stage"), rng, 0, self.n_files * self.FILE_TURNS, self.n_files, N_CONVERSATIONS, NULL_RATE
        )

    def _file_batches(self) -> dict[str, int]:
        return measure.read_file_source_log(os.path.join(self.ckpt, "sources", "0"))

    def _all_committed(self) -> bool:
        """Every file read, and its batch committed by both sinks."""
        if not os.path.isdir(os.path.join(self.ckpt, "sources", "0")):
            return False
        fb = self._file_batches()
        done = ledger_commit_times(self.out).keys() & ledger_commit_times(self.err).keys()
        return len(fb) == self.n_files and all(b in done for b in fb.values())

    def measure(self):
        c = self.ctx
        self.watch, self.out, self.err, self.ckpt = (c.fresh(k) for k in ("watch", "out", "err", "ckpt"))
        os.makedirs(self.watch)
        job = job_class(c.tracer)(c.spark, self.template, self.watch, self.out, self.ckpt, error_output_dir=self.err)
        self.t_start = time.time()
        q = job.start({"processingTime": "0 seconds"})
        self.run_id = str(q.runId)
        time.sleep(0.5)  # let the query run its first, empty trigger
        self.due, late = {}, []
        t0 = time.time()
        with c.tracer.span("bench.generator"):
            for i, path in enumerate(self.files):
                due = t0 + i / self.RATE
                time.sleep(max(0.0, due - time.time()))
                name = os.path.basename(path)
                os.rename(path, os.path.join(self.watch, name))
                late.append(time.time() - due)
                self.due[name] = due
        self.late_max_ms = max(late) * 1000
        deadline = time.time() + self.LATENCY_LIMIT_S
        while time.time() < deadline and not self._all_committed():
            time.sleep(0.05)
        q.stop()
        self.wall = time.time() - self.t_start

    def latencies(self) -> dict[str, float]:
        return measure.file_latencies_ms(self.due, self._file_batches(), ledger_commit_times(self.out))

    def percentiles(self) -> tuple[float, float]:
        vals = list(self.latencies().values())
        self.ctx.info.update(
            files=self.n_files, file_turns=self.FILE_TURNS, rate_files_per_s=self.RATE,
            generator_late_max_ms=self.late_max_ms,
            samples_beyond_p90=measure.samples_beyond(vals, 90),
        )
        if len(vals) < self.MIN_FILES:  # files lost: check() fails them
            vals += [self.LATENCY_LIMIT_S * 1000] * (self.MIN_FILES - len(vals))
        return measure.percentile(vals, 50), measure.supported_percentile(vals, 90)

    def check(self) -> tuple[int, int]:
        """One operation per file: failed if never committed or committed
        later than LATENCY_LIMIT_S after its due time. All files fail if the
        committed rows differ from batch ``deidentify()`` over the same files
        or the dead-letter rows differ from the planted nulls."""
        c = self.ctx
        lat = self.latencies()
        late = sum(v > self.LATENCY_LIMIT_S * 1000 for v in lat.values()) + self.n_files - len(lat)
        want = deid_reference(c.spark, self.template, self.watch)
        same = committed_digest(c.spark, self.out) == want and ledger_rows(self.err) == self.nulls
        return self.n_files, late if same else self.n_files

    def layers(self, events) -> dict[str, float]:
        p = progress_layers(events, self.run_id, self.wall)
        out = {f"streaming.jobs.{k}": p[k] for k in STREAM_PHASES}
        out["sources.latest_offset_ms"] = p["latest_offset_ms"]
        out["sources.get_batch_ms"] = p["get_batch_ms"]
        out["sources.files_per_batch"] = self.n_files / max(1, p["batches"])
        # read lag: file due → start of the batch that read it
        starts = {b: s for b, (s, _) in checkpoint_batches(self.ckpt).items()}
        lags = [(starts[b] - self.due[f]) * 1000 for f, b in self._file_batches().items() if b in starts]
        out["sources.read_lag_ms"] = statistics.median(lags) if lags else 0.0
        out["streaming.commitlog.commit_ms"] = self.ctx.tracer.totals(
            "streaming.commitlog.commit", self.t_start, self.t_start + self.wall) * 1000
        out["bench.generator_late_max_ms"] = self.late_max_ms
        return out


class Stream:
    """The streaming workload: the backlog phase (capacity) and then the
    trickle phase (latency under a fixed offered load), in one session with
    one compiled template. ``work_s`` is the backlog's median drain wall;
    ``typical_ms``/``tail_ms`` are the p50/p90 of the trickle's file
    latencies."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self):
        from dlp_dataflow_deidentification_spark.streaming import jobs

        c = self.ctx
        self.rng = np.random.default_rng(c.seed)
        template = compile_template(c)
        self.backlog, self.trickle = BacklogPhase(c, template), TricklePhase(c, template)
        self.backlog.setup(self.rng)
        self.trickle.setup(self.rng)
        jobs.use_rocksdb_state_store(c.spark)
        engine_warmup(c.spark)

    def warm(self):
        self.backlog.warm(self.rng)

    def measure(self):
        t = time.time()
        self.backlog.measure()
        t1 = time.time()
        self.trickle.measure()
        self.ctx.info.update(measure_backlog_s=round(t1 - t, 3), measure_trickle_s=round(time.time() - t1, 3))

    def results(self) -> dict:
        p50, p90 = self.trickle.percentiles()
        return {"work_s": self.backlog.work_s(), "typical_ms": p50, "tail_ms": p90}

    def check(self) -> tuple[int, int]:
        t = time.time()
        a1, f1 = self.backlog.check()
        t1 = time.time()
        a2, f2 = self.trickle.check()
        self.ctx.info.update(backlog_failed=f1, trickle_failed=f2, check_backlog_s=round(t1 - t, 3),
                             check_trickle_s=round(time.time() - t1, 3))
        return a1 + a2, f1 + f2

    def layers(self, events) -> dict[str, float]:
        return {**self.backlog.layers(events), **self.trickle.layers(events)}

    def log_layers(self, log: measure.EventLog) -> dict[str, float]:
        return self.backlog.log_layers(log)


# ---- batch_queries ----------------------------------------------------------


class BatchQueries:
    """QUERY_SET of ``__spark_entry__.queries()`` at sf0.01, one pass in a
    seed-permuted order; each query's rows are collected to the driver
    (timed) and compared with DuckDB ``oracle_sql()`` afterwards."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.walls: dict[str, float] = {}  # query → its wall
        self.rows: dict[str, tuple] = {}

    def setup(self):
        c = self.ctx
        self.tables = c.fresh("tables")
        self.sizes = datagen.write_tables(self.tables, SF)
        engine_warmup(c.spark)

    def warm(self):
        """Pays the one-off costs every query shares, so that whatever the
        seed's order they land on no timed query: the Python workers (with
        the package imported), the parquet scan, join and shuffle paths, and
        the driver-side imports and analysis of every query's plan (each
        query is built once, not run)."""

        def import_package(batches):  # nested, so it is pickled by value
            import dlp_dataflow_deidentification_spark  # noqa: F401

            yield from batches

        import __spark_entry__ as entry

        c = self.ctx
        c.spark.range(0, CPUS, 1, CPUS).mapInArrow(import_package, "id long").collect()
        li = c.spark.read.parquet(f"{self.tables}/lineitem.parquet")
        o = c.spark.read.parquet(f"{self.tables}/orders.parquet")
        li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count().collect()
        qs = entry.queries()
        for name in QUERY_SET:
            qs[name](c.spark, self.tables)

    def measure(self):
        """Each query once, in a seed-permuted order. It is the query's first
        run in the session, so its time includes its own code generation."""
        import __spark_entry__ as entry

        c = self.ctx
        self.order = [str(n) for n in np.random.default_rng(c.seed).permutation(QUERY_SET)]
        qs = entry.queries()
        sc = c.spark.sparkContext
        for name in self.order:
            sc.setJobGroup(f"q.{name}", name)
            t0 = time.time()
            with c.tracer.span(f"q.{name}"):
                df = qs[name](c.spark, self.tables)
                rows = df.collect()
            self.walls[name] = time.time() - t0
            self.rows[name] = (df.columns, rows)
            c.spark.catalog.clearCache()
        clear_job_group(c.spark)

    def results(self) -> dict:
        w = list(self.walls.values())
        self.ctx.info.update(
            walls={n: round(v, 2) for n, v in self.walls.items()},
            queries=len(w), queries_total_s=sum(w), queries_geomean_s=measure.geomean(w),
            sf=SF, table_rows=self.sizes, order=self.order,
        )
        return {
            "work_s": sum(w),
            "typical_ms": measure.geomean(w) * 1000,
            "tail_ms": max(w) * 1000,
        }

    def check(self) -> tuple[int, int]:
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        oracle = entry.oracle_sql()
        bad = []
        for name, (cols, rows) in self.rows.items():
            t0 = time.time()
            r = con.execute(oracle[name])
            want_cols = [d[0] for d in r.description]
            if sorted(cols) != sorted(want_cols) or measure.rows_digest(cols, rows) != measure.rows_digest(
                want_cols, r.fetchall()
            ):
                bad.append(name)
            self.ctx.info.setdefault("check_walls", {})[name] = round(time.time() - t0, 2)
        con.close()
        self.ctx.info["oracle_mismatch"] = bad
        return len(self.rows), len(bad)

    def layers(self, events) -> dict[str, float]:
        from dlp_dataflow_deidentification_spark.operators import similarity
        from pyspark.sql import functions as F

        c = self.ctx
        out = {f"q.{n}.wall_s": w for n, w in self.walls.items()}
        for m in MODULES:
            out[f"{m}.wall_s"] = sum(w for n, w in self.walls.items() if QUERY_MODULE[n] == m)
        # the two public IVF calls, on the generated embeddings
        emb = c.spark.read.parquet(f"{self.tables}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
        idx = c.fresh("ivf_index")
        t0 = time.time()
        with c.tracer.span("operators.similarity.ivf_build"):
            similarity.ivf_index_write(emb, idx, n_cells=8, iters=2, train_fraction=0.25)
        t1 = time.time()
        with c.tracer.span("operators.similarity.ivf_probe"):
            qs = emb.filter(F.col("vec_id") % 100 == 0).withColumnRenamed("vec_id", "query_id")
            similarity.ivf_topk_indexed(c.spark, idx, qs, k=10, nprobe=3).collect()
        out["operators.similarity.ivf_build_s"] = t1 - t0
        out["operators.similarity.ivf_probe_s"] = time.time() - t1
        return out

    def log_layers(self, log: measure.EventLog) -> dict[str, float]:
        out: dict[str, float] = {}
        for m in MODULES:
            names = [n for n in self.walls if QUERY_MODULE[n] == m]
            tots = [log.group_totals(f"q.{n}") for n in names]
            out[f"{m}.cpu_s"] = sum(t["cpu_s"] for t in tots)
            out[f"{m}.shuffle_write_mb"] = sum(t["shuffle_write_mb"] for t in tots)
            out[f"{m}.python_exec_ms"] = sum(t["py_run_ms"] for t in tots)
            out[f"{m}.jobs"] = sum(t["jobs"] for t in tots)
            out[f"{m}.driver_gap_s"] = sum(self.walls[n] - t["job_union_s"] for n, t in zip(names, tots))
        return out


WORKLOADS = {"stream": Stream, "batch_queries": BatchQueries}
