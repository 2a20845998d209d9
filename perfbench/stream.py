"""Streaming workload: a Kafka Streams DSL windowed count on RocksDB state.

Topology: ``StreamsBuilder.stream(events).with_watermark(...)
.group_by("user_id").windowed_by(TimeWindows.of_size(...)).count()``.

Two timed phases, each a fresh query with its own checkpoint:

- drain (closed loop): the deterministic ``rate-micro-batch`` source, whose
  rows and timestamps depend only on the batch id, triggered back to back
  into a memory sink. Throughput is rows over summed trigger time. Its
  output is then compared with a batch replay of the same topology over
  the same rows.
- open loop: the ``rate`` source at a fixed rate. Rows become due on a
  wall-clock schedule that does not slow when the engine does, and each
  row's timestamp is its scheduled creation time, so a micro-batch's
  latency is its end minus the creation time of its oldest row.

Both sources' ``value`` is mapped onto the ``events`` schema; ``user_id``
is a hash of the value seeded by the workload seed.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import observe

N_USERS = 1_500
WINDOW = "10 seconds"
WATERMARK = "5 seconds"
ROWS_PER_BATCH = 20_000
OPEN_LOOP_ROWS_PER_S = 20_000
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the events table's epoch
DRAIN_SHARE = 0.4  # of --seconds; the rest is the open-loop phase
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DURATION_PHASES = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)


def _ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def to_events(rows, seed: int):
    """Map ``(value, timestamp)`` rows onto the events schema."""
    user = F.pmod(F.xxhash64(F.col("value"), F.lit(seed)), F.lit(N_USERS))
    kind = F.pmod(F.xxhash64(F.col("value"), F.lit(seed + 1)), F.lit(len(EVENT_TYPES)))
    return rows.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        user.alias("user_id"),
        F.element_at(F.array(*map(F.lit, EVENT_TYPES)), (kind + 1).cast("int")).alias("event_type"),
        (F.pmod(F.col("value") * 7919, F.lit(50_000)) / 100.0).alias("value"),
        F.format_string('{"k": %d}', F.pmod(F.col("value"), F.lit(100))).alias("props"),
    )


def windowed_count(spark, events):
    from highload_kafka_streams_spark.streaming import topology as topo

    return (
        topo.StreamsBuilder(spark)
        .stream(events)
        .with_watermark("ts", WATERMARK)
        .group_by("user_id")
        .windowed_by(topo.TimeWindows.of_size(WINDOW))
        .count()
        .df
    )


class _Progress(StreamingQueryListener):
    """Collects every progress event the engine reports, by query name."""

    def __init__(self):
        self.by_query: dict[str, list] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.by_query.setdefault(p.name, []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamWorkload:
    def __init__(self, work_dir: str, tracer: observe.Tracer, seed: int):
        self.work_dir = work_dir
        self.tracer = tracer
        self.seed = seed
        self.ops = observe.Ops()
        self.listener: _Progress | None = None
        self._drain = None
        self._n = 0

    # -- plumbing ------------------------------------------------------------

    def _checkpoint(self) -> str:
        self._n += 1
        path = os.path.join(self.work_dir, f"ckpt{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _drain_source(self, spark):
        return (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", ROWS_PER_BATCH)
            .option("startTimestamp", START_MS)
            .option("advanceMillisPerBatch", 1000)
            .load()
        )

    def _build(self, spark, rows):
        with self.tracer.span("plans.build"), observe.counting_py4j(spark, self.tracer):
            return windowed_count(spark, to_events(rows, self.seed))

    def _start(self, df, name: str, sink: str):
        return (
            df.writeStream.format(sink)
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", self._checkpoint())
            .start()
        )

    def _batches(self, name: str) -> list:
        """Progress reports of the named query's non-empty batches."""
        return [p for p in self.listener.by_query.get(name, []) if p.numInputRows > 0]

    def _wait(self, query, name: str, n: int, until: float = 0.0) -> None:
        """Wait for ``n`` non-empty batches and for the clock to pass
        ``until``; give up a minute past either."""
        limit = max(until, time.monotonic()) + 60
        while query.isActive and time.monotonic() < limit and (
            time.monotonic() < until or len(self._batches(name)) < n
        ):
            time.sleep(0.05)

    def _measure(self, spark, query, name: str, seconds: float, min_batches: int) -> list:
        """Run ``query`` ``seconds`` more (and ``min_batches`` more batches),
        stop it, and return the batches completed in that window."""
        first = len(self._batches(name))
        self._wait(query, name, first + min_batches, time.monotonic() + seconds)
        failure = query.exception()
        query.stop()
        # the listener bus may still hold the last batch's event
        observe.flush_listener_bus(spark)
        if failure is not None:
            self.ops.fail(f"{name}: {failure}")
        window = self._batches(name)[first:]
        self.ops.attempted += len(window)
        if len(window) < min_batches:
            raise RuntimeError(f"{name}: {len(window)} batches completed, {min_batches} needed")
        return window

    def _start_warm(self, spark, rows, name: str, sink: str, warm_batches: int):
        """Start the topology on a fresh checkpoint and wait until its first
        batches, which also create every state store instance, are done."""
        query = self._start(self._build(spark, rows), name, sink)
        self._wait(query, name, warm_batches)
        if len(self._batches(name)) < warm_batches:
            failure = query.exception()
            query.stop()
            raise RuntimeError(f"{name} did not start: {failure}")
        return query

    # -- phases --------------------------------------------------------------

    def warmup(self, spark, queries) -> None:
        """Start the drain query and let two batches run; the drain phase
        goes on with the same query."""
        self.attach(spark)
        self._drain = self._start_warm(spark, self._drain_source(spark), "pb_drain", "memory", 2)

    def attach(self, spark) -> None:
        self.listener = _Progress()
        spark.streams.addListener(self.listener)

    def drain(self, spark, seconds: float, query=None, name: str = "pb_drain") -> tuple[list, dict]:
        """Closed loop: batches back to back; the window's rows over its
        summed trigger time."""
        query = query or self._drain
        window = self._measure(spark, query, name, seconds, min_batches=3)
        rows = sum(p.numInputRows for p in window)
        trigger_s = sum(p.durationMs["triggerExecution"] for p in window) / 1e3
        return window, {"events_per_s": rows / trigger_s, "batches": len(window)}

    def drain_fresh(self, spark, seconds: float, name: str) -> dict:
        """The drain on a new session: its own warm-up, then the window."""
        self.attach(spark)
        query = self._start_warm(spark, self._drain_source(spark), name, "noop", 1)
        return self.drain(spark, seconds, query, name)[1]

    def open_loop(self, spark, seconds: float) -> tuple[list, dict]:
        """Open loop at a fixed rate; the window starts after the query's
        first non-empty batch."""
        rows = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", OPEN_LOOP_ROWS_PER_S)
            .load()
        )
        name = "pb_open"
        query = self._start_warm(spark, rows, name, "noop", 1)
        window = self._measure(spark, query, name, seconds, min_batches=4)
        lat_ms, backlog_s = [], []
        for p in window:
            start_ms = _ms(p.timestamp)
            end_ms = start_ms + p.durationMs["triggerExecution"]
            lat_ms.append(end_ms - _ms(p.eventTime["min"]))
            backlog_s.append((start_ms - _ms(p.eventTime["max"])) / 1e3)
        return window, {
            "latency_p50_ms": observe.percentile(lat_ms, 50),
            "latency_p90_ms": observe.percentile(lat_ms, 90),
            "samples": len(lat_ms),
            "sources.backlog_s": observe.median(backlog_s),
        }

    def check(self, spark) -> bool:
        """Drain output == batch replay of the same topology on the same rows.

        ``stop()`` may land after the sink took a batch whose progress was
        not yet reported, so the sink holds either the reported batches or
        one more; the replay is compared against both cut-offs."""
        self.ops.attempted += 1
        try:
            got = {
                tuple(r)
                for r in spark.table("pb_drain")
                .groupBy("w_start", "w_end", "user_id")
                .agg(F.max("n").alias("n"))
                .collect()
            }
            n_batches = max(p.batchId for p in self._batches("pb_drain")) + 1
            for batches in (n_batches, n_batches + 1):
                ids = spark.range(batches * ROWS_PER_BATCH)
                rows = ids.select(
                    F.col("id").alias("value"),
                    F.timestamp_millis(
                        F.lit(START_MS) + F.floor(F.col("id") / ROWS_PER_BATCH) * 1000
                    ).alias("timestamp"),
                )
                want = windowed_count(spark, to_events(rows, self.seed))
                if got == {tuple(r) for r in want.collect()}:
                    return True
            self.ops.fail("drain output differs from the batch replay")
        except Exception as e:
            self.ops.fail(f"check: {type(e).__name__}: {e}")
        return False

    # -- trace ---------------------------------------------------------------

    def record_spans(self, progress: list, phase: str) -> None:
        """One span per listener-reported micro-batch, its ``durationMs``
        phases laid end to end as children (engine order). Listener times
        are wall-clock; they are shifted onto the tracer's clock."""
        tr = self.tracer
        shift = time.perf_counter() - time.time()
        for p in progress:
            start = _ms(p.timestamp) / 1e3 + shift
            total = p.durationMs["triggerExecution"] / 1e3
            root = tr.add_span("streaming.batch", start, start + total, phase=phase, batch=p.batchId)
            t = start
            for key in DURATION_PHASES:
                d = p.durationMs.get(key, 0) / 1e3
                tr.add_span(f"streaming.{key}", t, t + d, parent=root)
                t += d


def stream_layers(progress: list) -> dict[str, float]:
    """Per-batch medians of the listener's phase and state-store figures,
    and the share of trigger time the phases cover."""
    def med(f):
        return observe.median([f(p) for p in progress]) if progress else 0.0

    def state(p, attr):
        return sum(getattr(s, attr) for s in p.stateOperators)

    def custom(p, key):
        return sum(s.customMetrics.get(key, 0) for s in p.stateOperators)

    trigger_ms = sum(p.durationMs["triggerExecution"] for p in progress)
    phases_ms = sum(p.durationMs.get(k, 0) for p in progress for k in DURATION_PHASES)
    return {
        # the share of trigger time the reported phases explain
        "trace.span_coverage": phases_ms / trigger_ms if trigger_ms else 0.0,
        "streaming.batches": len(progress),
        "streaming.trigger_ms": med(lambda p: p.durationMs["triggerExecution"]),
        "streaming.latest_offset_ms": med(lambda p: p.durationMs.get("latestOffset", 0)),
        "streaming.query_planning_ms": med(lambda p: p.durationMs.get("queryPlanning", 0)),
        "streaming.add_batch_ms": med(lambda p: p.durationMs.get("addBatch", 0)),
        "streaming.wal_commit_ms": med(lambda p: p.durationMs.get("walCommit", 0)),
        "streaming.commit_offsets_ms": med(lambda p: p.durationMs.get("commitOffsets", 0)),
        "state.instances": med(lambda p: state(p, "numStateStoreInstances")),
        "state.commit_ms": med(lambda p: state(p, "commitTimeMs")),
        "state.rocksdb_sync_ms": med(lambda p: custom(p, "rocksdbCommitFileSyncLatencyMs")),
        "state.rows_total": med(lambda p: state(p, "numRowsTotal")),
        "state.rows_updated": med(lambda p: state(p, "numRowsUpdated")),
        "state.memory_bytes": med(lambda p: state(p, "memoryUsedBytes")),
        "state.rows_dropped_by_watermark": sum(
            state(p, "numRowsDroppedByWatermark") for p in progress
        ),
    }
