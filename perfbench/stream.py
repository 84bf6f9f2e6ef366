"""The reference streaming topology under load: message files ->
``read_message_stream("json-files")`` -> ``parse_messages`` ->
``classify_stream_model`` -> ``idempotent_batch_writer`` via foreachBatch.

Two phases share one query:

* drain: a closed loop that drops one message file, waits until the
  query has processed and committed it, then drops the next, so every
  micro-batch carries exactly one file. ``pass_s`` is the time to drain
  one backlog of files; a run makes ``DRAIN_PASSES`` untraced passes.
* open loop, for ``OPEN_SHARE`` of the run's seconds: a generator
  thread drops a file every ``TICK_S`` seconds on a fixed schedule,
  whatever the query is doing. Each message carries its due time as
  ``event_ts``; its latency runs from that due time to the end of the
  sink write of the batch that delivered it.

After the query stops, the sink is checked for exactly-once delivery and
its per-category digest against the batch path over the same files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import sys
import threading
import time

from gen import MessageFeed, write_message_file
from probe import SparkProbe, cpu_s, jvm_pid, p50_p90

#: Backlog files per drain pass and messages per file at sf 0.1.
DRAIN_FILES = 3
MSGS_PER_FILE_SF01 = 500
#: Untimed files drained first: batch times and CPU keep falling while
#: the JIT compiles the per-batch path (6-file drain passes of 3.5, 3.2,
#: 2.9 s and 7.0, 5.9, 5.1 CPU-s after twelve warm-up files); more
#: warm-up does not fit the run's time budget when the machine runs slow.
WARMUP_FILES = 12
#: Untraced drain passes per run; ``pass_s`` is their median, so up to
#: two passes slowed by a GC pause or a burst of CPU steal do not move it.
DRAIN_PASSES = 5
#: Open-loop schedule: one file per tick at a fixed message rate, kept
#: at about a quarter of the drain throughput (750-1500 messages/s on
#: 4 vCPUs) so the backlog does not grow when the machine runs slow.
TICK_S = 0.1
OPEN_RATE_SF01 = 200  # messages per second at sf 0.1
#: Share of the run's seconds the open loop lasts: about ten micro-batches
#: at 10 s, while the whole run stays near a minute.
OPEN_SHARE = 0.6

#: ``durationMs`` phases of a micro-batch in execution order, with the
#: per-layer name each is reported under.
PHASES = [
    ("latestOffset", "stream.latest_offset_ms"),
    ("walCommit", "stream.wal_commit_ms"),
    ("getBatch", "stream.get_batch_ms"),
    ("queryPlanning", "stream.query_planning_ms"),
    ("addBatch", "stream.add_batch_ms"),
    ("commitOffsets", "stream.commit_offsets_ms"),
]


def _utc(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")


def _progress_time(p) -> float:
    return dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


class StreamRun:
    def __init__(self, spark, work_dir: str, seed: int, sf: float, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.src, self.stage = os.path.join(work_dir, "src"), os.path.join(work_dir, "stage")
        self.out, self.ckpt = os.path.join(work_dir, "out"), os.path.join(work_dir, "ckpt")
        self.feed = MessageFeed(seed)
        self.per_file = max(5, int(MSGS_PER_FILE_SF01 * sf / 0.1))
        self.open_per_tick = max(4, int(OPEN_RATE_SF01 * sf / 0.1 * TICK_S))
        self.files = 0
        self.sink_end: dict[int, float] = {}
        self.sink_ms: dict[int, float] = {}
        self.sink_span: dict[int, tuple[float, float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.query = None
        self.session = None  # the stream's own session, known from its first batch

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)
        print(f"[perfbench] FAIL stream: {why}", file=sys.stderr, flush=True)

    def _drop(self, n: int, event_ts: list[str]) -> None:
        write_message_file(self.stage, self.src, f"part-{self.files:05d}.json", self.feed.lines(n, event_ts))
        self.files += 1

    def start(self) -> float:
        """Build the topology and start the query on one seed file;
        returns the seconds until ``start()`` returned."""
        from news_categorization_big_data_spark.streaming.topology import (
            classify_stream_model,
            idempotent_batch_writer,
            parse_messages,
            read_message_stream,
        )

        for d in (self.src, self.out, self.ckpt, self.stage):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.src)
        writer = idempotent_batch_writer(self.out)

        def sink(batch_df, batch_id):
            self.session = batch_df.sparkSession
            t0 = time.time()
            writer(batch_df, batch_id)
            t1 = time.time()
            self.sink_end[batch_id] = t1
            self.sink_ms[batch_id] = (t1 - t0) * 1e3
            self.sink_span[batch_id] = (t0, t1)

        # a first file, so the file source can start from a non-empty dir
        self._drop(self.per_file, [_utc(1.7e9)] * self.per_file)
        t0 = time.perf_counter()
        stream = classify_stream_model(parse_messages(read_message_stream(self.spark, "json-files", path=self.src)))
        self.query = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        started = time.perf_counter() - t0
        self.query.processAllAvailable()
        return started

    def drain(self, files: int) -> float:
        """Closed loop over ``files`` new files; returns the drain time."""
        t0 = time.perf_counter()
        for _ in range(files):
            self._drop(self.per_file, [_utc(1.7e9 + self.files)] * self.per_file)
            self.query.processAllAvailable()
        return time.perf_counter() - t0

    def open_loop(self, seconds: float) -> tuple[float, list[float]]:
        """Fixed-rate feed for ``seconds``; returns (start, generator lags in ms)."""
        lags: list[float] = []
        ticks = max(2, int(seconds / TICK_S))
        start = time.time() + TICK_S

        def feed():
            for k in range(ticks):
                due = start + k * TICK_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self._drop(self.open_per_tick, [_utc(due)] * self.open_per_tick)
                lags.append(max(0.0, time.time() - due) * 1e3)

        gen = threading.Thread(target=feed, name="open-loop-feed")
        gen.start()
        gen.join()
        self.query.processAllAvailable()
        return start, lags

    def progress(self) -> list:
        return [p for p in self.query.recentProgress if p.numInputRows > 0]

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def check(self) -> None:
        """Exactly-once and stream == batch digest (untimed)."""
        from pyspark.sql import functions as F

        from news_categorization_big_data_spark.streaming.topology import (
            classify_stream_model,
            parse_messages,
        )

        def digest(df):
            return sorted(
                tuple(r)
                for r in df.groupBy("category")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.pmod(F.xxhash64("content", "event_ts"), F.lit(2147483647))).alias("h"),
                    F.sum(F.round(F.col("confidence") * 1e6).cast("long")).alias("conf"),
                )
                .collect()
            )

        sink = self.spark.read.parquet(self.out).drop("batch_id").cache()
        self.attempted += 2
        token = F.regexp_extract("content", r"m\d+x\d+$", 0)
        tag = F.when(token != "", token)
        n, n_tagged, n_distinct = sink.select(F.count("*"), F.count(tag), F.count_distinct(tag)).first()
        if (n, n_tagged, n_distinct) != (self.feed.sent, self.feed.tagged, self.feed.tagged):
            self._fail(
                f"sink rows/tagged/distinct {n}/{n_tagged}/{n_distinct}, "
                f"sent/tagged {self.feed.sent}/{self.feed.tagged}"
            )
        batch = classify_stream_model(parse_messages(self.spark.read.schema("value string").json(self.src)))
        if digest(sink) != digest(batch):
            self._fail("sink digest differs from the batch path over the same files")
        sink.unpersist()

    def latencies_ms(self, start: float) -> list[float]:
        """Per-message latency of the open-loop phase, read from the sink."""
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(self.out)
            .where(F.col("event_ts") >= F.lit(_utc(start)).cast("timestamp"))
            .select("batch_id", F.unix_micros("event_ts").alias("us"))
            .collect()
        )
        return [(self.sink_end[r.batch_id] - r.us / 1e6) * 1e3 for r in rows]

    def trace_batches(self, progress, parent: int) -> None:
        """Spans per micro-batch: its phases laid out in execution order,
        and the measured sink write."""
        tr = self.tracer
        for p in progress:
            d = p.durationMs
            t0 = _progress_time(p)
            b = tr.add("stream.batch", t0, t0 + d["triggerExecution"] / 1e3, parent=parent, batch_id=p.batchId)
            cur = t0
            for key, _ in PHASES:
                dur = d.get(key, 0) / 1e3
                tr.add(f"stream.{key}", cur, cur + dur, parent=b["id"])
                cur += dur
            if p.batchId in self.sink_span:
                s0, s1 = self.sink_span[p.batchId]
                tr.add("sink.write", s0, s1, parent=b["id"])

    @staticmethod
    def phase_medians(progress, sink_ms: dict[int, float]) -> dict[str, float]:
        out = {}
        for key, name in PHASES:
            out[name] = statistics.median(p.durationMs.get(key, 0) for p in progress)
        trig = [p.durationMs["triggerExecution"] for p in progress]
        out["stream.trigger_p50_ms"], out["stream.trigger_p90_ms"] = p50_p90(trig)
        out["sink.write_ms"] = statistics.median(sink_ms[p.batchId] for p in progress if p.batchId in sink_ms)
        return out


def measure(spark, work_dir: str, seed: int, sf: float, tracer, seconds: float) -> dict:
    """Warm-up drain, timed drain passes, the open loop, then the sink
    checks."""

    run = StreamRun(spark, work_dir, seed, sf, tracer)
    try:
        with tracer.span("topology_start"):
            start_s = run.start()
        with tracer.span("warmup"):
            run.drain(WARMUP_FILES)
        # micro-batches run in a session cloned at start: listen there
        probe = SparkProbe(run.session) if tracer.enabled else None
        group = str(run.query.runId)
        jvm = jvm_pid(spark)
        untraced, untraced_cpu, traced, layer_passes = [], [], [], []
        i = 0
        while len(untraced) < DRAIN_PASSES:
            trace_this = tracer.enabled and i % 2 == 1
            first_batch = len(run.sink_end)
            if trace_this:
                probe.attach()
                jobs_before = set(probe.group_jobs(group))
            cpu0 = cpu_s(jvm)
            with tracer.span("pass", index=i, traced=trace_this) as pass_span:
                t = run.drain(DRAIN_FILES)
            run.attempted += DRAIN_FILES
            if trace_this:
                qes = probe.drain()
                probe.detach()
                traced.append(t)
                batches = [p for p in run.progress() if p.batchId >= first_batch]
                run.trace_batches(batches, pass_span["id"])
                m = probe.job_metrics(sorted(set(probe.group_jobs(group)) - jobs_before))
                m.update(probe.query_layers(qes))
                catalyst_s = m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
                m["exec.s"] = sum(run.sink_ms[p.batchId] for p in batches) / 1e3 - catalyst_s
                m.update(StreamRun.phase_medians(batches, run.sink_ms))
                layer_passes.append(m)
            else:
                untraced.append(t)
                untraced_cpu.append(cpu_s(jvm) - cpu0)
            i += 1
        with tracer.span("open_loop"):
            o_start, lags = run.open_loop(seconds * OPEN_SHARE)
        run.attempted += len(lags)
    finally:
        run.stop()
    run.check()
    lat_p50, lat_p90 = p50_p90(run.latencies_ms(o_start))
    layers = {}
    if tracer.enabled:
        layers = {k: statistics.median(p[k] for p in layer_passes) for k in layer_passes[0]}
        layers.update(
            {
                "plans.build_s": start_s,
                "plans.eager_jobs": 0.0,
                "cachepin.pins": 0.0,
                "cachepin.mb": 0.0,
                "stream.generator_lag_ms": max(lags),
                "trace.overhead_s": statistics.median(traced) - statistics.median(untraced),
            }
        )
    return {
        "end_to_end": {
            "pass_s": statistics.median(untraced),
            "pass_cpu_s": statistics.median(untraced_cpu),
            "latency_p50_ms": lat_p50,
            "latency_p90_ms": lat_p90,
        },
        "layers": layers,
        "detail": {
            "passes_s": untraced,
            "passes_cpu_s": untraced_cpu,
            "messages": run.feed.sent,
            "per_file": run.per_file,
            "open_rate_per_s": run.open_per_tick / TICK_S,
            "errors": run.errors,
        },
        "attempted": run.attempted,
        "failed": run.failed,
    }
