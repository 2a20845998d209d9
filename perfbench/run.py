#!/usr/bin/env python3
"""Benchmark of the engine: one workload per run, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch-pykernels --seed 1 --seconds 24 --trace 0

Workloads (see ``perfbench/README.md`` for why each was chosen):

- ``batch-pykernels``: the ten registered queries whose plans run Python
  workers, closed loop, one query at a time, checked against DuckDB.
- ``stream-window``: a Kafka Streams DSL windowed count on RocksDB state,
  a closed-loop drain then an open loop at a fixed rate, checked against
  a batch replay of the same topology.

The session comes from ``session.get_spark`` with every engine conf; the
benchmark sets only the CPU count (``local[nproc]``) and the RocksDB
state-store provider. ``--trace 0`` prints the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` prints its per-layer metrics and writes
the run's spans to ``.perfbench/traces/``. Every file the run writes stays
under ``.perfbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
STATE_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
FIXTURE_SF = 0.1
WORKLOAD_NAMES = ("batch-pykernels", "stream-window")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(state_dir: str) -> str:
    """Keep every file the run (and the JVM it starts) writes under the
    checkout; returns the run's private temp dir."""
    tmp = os.path.join(state_dir, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return tmp


def _import_engine(tracer):
    """Import the engine; under tracing, wrap ``io.load_table`` before any
    query module imports it by name."""
    sys.path.insert(0, ROOT)
    from highload_kafka_streams_spark import io, registry, session

    if tracer.enabled:
        load_table = io.load_table

        def traced_load_table(spark, sf_dir, name):
            tracer.count("io.load_table_calls")
            with tracer.span("io.load_table", table=name):
                return load_table(spark, sf_dir, name)

        io.load_table = traced_load_table
    from highload_kafka_streams_spark.plans import oracle

    return types.SimpleNamespace(io=io, oracle=oracle, registry=registry, session=session)


def _stop_spark() -> None:
    """Stop the session, the JVM and every process it started; wait for all."""
    import observe
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := observe.descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in left:
        while os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)


def _setup(engine, workload, tracer):
    """Set-up: session start, the registry, and the workload's warm-up."""
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = engine.session.get_spark(app_name="perfbench")
        spark.conf.set(STATE_PROVIDER_KEY, STATE_PROVIDER)
    with tracer.span("registry.get_queries"):
        queries = engine.registry.get_queries()
    with tracer.span("setup.warmup"):
        workload.warmup(spark, queries)
    return spark, queries, time.perf_counter() - t0


def main(argv=None) -> int:
    args = _parse(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import fixture
    import observe

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = observe.Tracer(bool(args.trace))
    try:
        engine = _import_engine(tracer)
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    state_dir = os.path.join(ROOT, ".perfbench")
    tmp = _isolate(state_dir)
    nproc = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    sf_dir = fixture.ensure(os.path.join(state_dir, "fixture"), FIXTURE_SF)
    probe_before = observe.host_probe(tmp)
    ticks0 = observe.cpu_ticks()
    traced: dict[str, float] = {}
    try:
        with observe.RssSampler() as rss:
            if args.workload == "batch-pykernels":
                from batch import BatchWorkload

                workload = BatchWorkload(engine, sf_dir, tracer)
            else:
                from stream import StreamWorkload

                workload = StreamWorkload(tmp, tracer, args.seed)
            spark, queries, setup_s = _setup(engine, workload, tracer)
            info = {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "nproc": nproc,
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "state_store_provider": spark.conf.get(STATE_PROVIDER_KEY),
                "pyspark": spark.version,
                "fixture": os.path.relpath(sf_dir, ROOT),
            }
            if args.workload == "batch-pykernels":
                if args.trace:
                    traced = workload.trace_layers(spark, queries, args.seed)
                    e2e = {}
                else:
                    e2e = workload.measure(spark, queries, args.seconds, args.seed)
                rss.stop()
                correct = workload.check()
            else:
                e2e, traced, correct = _run_stream(
                    engine, workload, spark, args, tracer, rss
                )
        info["samples"] = e2e.pop("samples", None)
        info["query_median_ms"] = e2e.pop("query_median_ms", None)
        info["peak_rss_mb"] = rss.peak_mb
        info["peak_rss_mb_by_command"] = rss.peak_by_command
    finally:
        _stop_spark()
    info["host_steal_share"] = observe.steal_share(ticks0, observe.cpu_ticks())
    info["host_probe"] = {"before": probe_before, "after": observe.host_probe(tmp)}
    ops = workload.ops
    info["failed_ratio"] = ops.failed / max(ops.attempted, 1)
    info["errors"] = ops.errors

    if args.trace:
        values = {
            **traced,
            "session.start_s": tracer.total("session.start"),
            "registry.get_queries_s": tracer.total("registry.get_queries"),
            "process.peak_rss_mb": rss.peak_mb,
            "io.memo_build_s": sum(v["sec"] for v in engine.io.memo_stats()["builds"].values()),
        }
        wanted = spec["per_layer"]
        _write_trace(state_dir, args, tracer, info)
    else:
        values = {**e2e, "setup_s": setup_s}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"info": info}, default=str))
    print(
        json.dumps(
            {
                "correct": bool(correct) and ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _run_stream(engine, workload, spark, args, tracer, rss):
    """Drain, open loop and check; under tracing also the per-layer figures
    and a single-thread drain of the same job."""
    import observe
    from stream import DRAIN_SHARE, stream_layers

    observe.flush_listener_bus(spark)
    stage0 = observe.next_stage_id(spark)
    exec0 = observe.last_execution_id(spark) + 1
    jobs0 = observe.jobs_submitted(spark)
    build0 = len(tracer.spans)
    tracer.counters.clear()

    drain_s = args.seconds * DRAIN_SHARE
    drained, drain = workload.drain(spark, drain_s)
    opened, open_ = workload.open_loop(spark, args.seconds - drain_s)
    rss.stop()
    e2e = {
        "throughput_per_s": drain["events_per_s"],
        "latency_p50_ms": open_["latency_p50_ms"],
        "latency_p90_ms": open_["latency_p90_ms"],
        "samples": {"drain_batches": drain["batches"], "open_loop_batches": open_["samples"]},
    }
    traced: dict[str, float] = {}
    if tracer.enabled:
        observe.flush_listener_bus(spark)
        traced.update(observe.stage_totals(spark, stage0)[0])
        traced.update(observe.pyworker_totals(spark, exec0))
        traced["spark.jobs"] = observe.jobs_submitted(spark) - jobs0
        builds = [s for s in tracer.spans[build0:] if s["name"] == "plans.build"]
        traced["plans.build_s"] = sum(s["end"] - s["start"] for s in builds)
        traced["plans.py4j_calls"] = tracer.counters.get("plans.py4j_calls", 0)
        first = len(tracer.spans)
        workload.record_spans(drained, "drain")
        workload.record_spans(opened, "open_loop")
        selftimes = tracer.self_times({s["trace"] for s in tracer.spans[first:]})
        traced["selftime.streaming.batch_s"] = selftimes.get("streaming.batch", 0.0)
        traced.update(stream_layers(drained + opened))
        traced["sources.backlog_s"] = open_["sources.backlog_s"]
        # Tracing adds nothing to a trigger: the listener runs untraced too,
        # py4j is counted only inside builder calls, and spans and status
        # store totals are read after the timed phases. The overhead does
        # not apply, so it reads 0.
        traced["trace.overhead_s"] = 0.0
    correct = workload.check(spark)
    if tracer.enabled:
        traced["streaming.local1_events_per_s"] = _single_thread_drain(
            engine, workload, spark, drain_s
        )
    return e2e, traced, correct


def _single_thread_drain(engine, workload, spark, seconds: float) -> float:
    """The same drain on ``local[1]``: the one-thread baseline a parallelism
    change is judged against."""
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = engine.session.get_spark(app_name="perfbench-local1")
    spark.conf.set(STATE_PROVIDER_KEY, STATE_PROVIDER)
    return workload.drain_fresh(spark, seconds, "pb_drain_local1")["events_per_s"]


def _write_trace(state_dir: str, args, tracer, info: dict) -> None:
    out = os.path.join(state_dir, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"info": info, "counters": tracer.counters, "spans": tracer.spans}, f)


if __name__ == "__main__":
    sys.exit(main())
