"""Batch workload: registered queries run one at a time by one client.

Each query is a builder call (``registry.get_queries()[name](spark,
sf_dir)``) followed by a ``noop`` write that forces the whole plan without
collecting rows. The warm-up pass collects every query's rows instead;
the timed phase is a closed loop over seeded permutations of the workload's
queries; after it, each query's warm-up rows are compared once with its
DuckDB twin from ``registry.get_oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import duckdb

import observe

# Queries whose plans run Python workers: MapInArrow, MapInPandas, grouped
# pandas, Arrow UDFs and UDTFs. They exercise functions.udfs, llm and io's
# memo reads. The stateful replay queries are left out: one of them alone
# would take most of a pass.
PYKERNEL_QUERIES = (
    "q_text_heavy_hitters",
    "q_multimodal_features_checked",
    "q_ts_dtw_distance",
    "q_embed_semantic_clusters",
    "q_alloc_stable_matching",
    "q_similarity_neardup_pairs",
    "q_udf_pandas_scalar",
    "q_udtf",
    "q_ts_matrix_profile",
    "q_eval_rouge_overlap",
)


class BatchWorkload:
    def __init__(self, engine, sf_dir: str, tracer: observe.Tracer):
        self.engine = engine
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.names = PYKERNEL_QUERIES
        self.ops = observe.Ops()
        self.got: dict[str, dict] = {}  # query -> digest of its warm-up rows

    # -- one query -----------------------------------------------------------

    def run_query(self, spark, queries, name: str) -> float | None:
        """Builder call + noop write. Returns wall seconds, None on failure."""
        tr = self.tracer
        self.ops.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("query", query=name):
                jobs0 = observe.jobs_submitted(spark) if tr.enabled else 0
                with tr.span("plans.build"), observe.counting_py4j(spark, tr):
                    df = queries[name](spark, self.sf_dir)
                if tr.enabled:
                    tr.count("plans.eager_jobs", observe.jobs_submitted(spark) - jobs0)
                with tr.span("spark.write"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is a measured outcome
            self.ops.fail(f"{name}: {type(e).__name__}: {e}")
            return None
        return time.perf_counter() - t0

    def run_pass(self, spark, queries, order) -> list[float]:
        times = []
        for name in order:
            dt = self.run_query(spark, queries, name)
            if dt is not None:
                times.append(dt)
        return times

    # -- phases --------------------------------------------------------------

    def warmup(self, spark, queries) -> None:
        """One pass of every query, each collected to the driver instead of
        written to ``noop``: the same plans run and warm the same caches,
        and the rows' canonical digests are kept for the output check after
        timing, which so needs no pass of its own."""
        oracle = self.engine.oracle
        for name in self.names:
            self.ops.attempted += 1
            try:
                sdf = queries[name](spark, self.sf_dir)
                oracle._reject_container_cols(name, sdf)
                self.got[name] = _digest(oracle._canon(sdf.toPandas()))
            except Exception as e:
                self.ops.fail(f"warm-up {name}: {type(e).__name__}: {e}")

    def measure(self, spark, queries, seconds: float, seed: int) -> dict:
        """Closed loop over seeded permutations of the queries, in whole
        passes, until ``seconds`` have passed; the last pass may overrun.
        Whole passes give every run the same mix of queries, so percentiles
        do not depend on which queries a cut-off happened to drop."""
        rng = random.Random(seed)
        times: list[float] = []
        by_query: dict[str, list[float]] = {}
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:
                dt = self.run_query(spark, queries, name)
                if dt is not None:
                    times.append(dt)
                    by_query.setdefault(name, []).append(dt)
            if not times:
                raise RuntimeError("no query completed in the timed phase")
        wall = time.perf_counter() - start
        return {
            "throughput_per_s": len(times) / wall,
            "latency_p50_ms": observe.percentile(times, 50) * 1e3,
            "latency_p90_ms": observe.percentile(times, 90) * 1e3,
            "samples": len(times),
            "query_median_ms": {n: observe.median(v) * 1e3 for n, v in sorted(by_query.items())},
        }

    def trace_layers(self, spark, queries, seed: int) -> dict:
        """A traced pass between two untraced passes, all in one seeded
        order, then a planning-only pass. Per-layer totals are per pass of
        all queries; the untraced passes on both sides cancel drift from
        the tracing overhead."""
        tr = self.tracer
        io_mod = self.engine.io
        order = list(self.names)
        random.Random(seed).shuffle(order)

        tr.enabled = False
        untraced = self.run_pass(spark, queries, order)
        tr.enabled = True

        observe.flush_listener_bus(spark)
        stage0 = observe.next_stage_id(spark)
        exec0 = observe.last_execution_id(spark) + 1
        jobs0 = observe.jobs_submitted(spark)
        memo0 = io_mod.memo_stats()
        first_span = len(tr.spans)
        tr.counters.clear()
        traced = self.run_pass(spark, queries, order)
        observe.flush_listener_bus(spark)
        memo1 = io_mod.memo_stats()
        jobs1 = observe.jobs_submitted(spark)
        stages, _ = observe.stage_totals(spark, stage0)
        pyworker = observe.pyworker_totals(spark, exec0)

        tr.enabled = False
        untraced += self.run_pass(spark, queries, order)
        tr.enabled = True
        untraced_pass_s = sum(untraced) / 2

        out: dict[str, float] = {**stages, **pyworker}
        out["spark.jobs"] = jobs1 - jobs0
        out["plans.py4j_calls"] = tr.counters.get("plans.py4j_calls", 0)
        out["plans.eager_jobs"] = tr.counters.get("plans.eager_jobs", 0)
        out["io.load_table_calls"] = tr.counters.get("io.load_table_calls", 0)
        pass_spans = tr.spans[first_span:]
        out["plans.build_s"] = sum(s["end"] - s["start"] for s in pass_spans if s["name"] == "plans.build")
        out["io.load_table_s"] = sum(s["end"] - s["start"] for s in pass_spans if s["name"] == "io.load_table")
        out["io.memo_hits"] = sum(memo1["hits"].values()) - sum(memo0["hits"].values())
        out["io.memo_builds"] = sum(v["count"] for v in memo1["builds"].values()) - sum(
            v["count"] for v in memo0["builds"].values()
        )
        traces = {s["trace"] for s in pass_spans}
        selftimes = tr.self_times(traces)
        for name in ("query", "plans.build", "io.load_table", "spark.write"):
            out[f"selftime.{name}_s"] = selftimes.get(name, 0.0)
        out["trace.overhead_s"] = sum(traced) - untraced_pass_s
        out["trace.span_coverage"] = sum(selftimes.values()) / untraced_pass_s

        phases = {"spark.analysis_ms": 0.0, "spark.optimization_ms": 0.0, "spark.planning_ms": 0.0}
        for name in order:
            self.ops.attempted += 1
            try:
                for k, v in observe.planning_phases(queries[name](spark, self.sf_dir)).items():
                    phases[k] += v
            except Exception as e:
                self.ops.fail(f"plan {name}: {type(e).__name__}: {e}")
        out.update(phases)
        return out

    # -- output check --------------------------------------------------------

    def check(self) -> bool:
        """Compare each query's warm-up rows with its DuckDB twin the way
        ``plans.oracle.compare_one`` does: the container-column gate (in
        the warm-up), then columns, row count and a digest of the canonical
        rows.

        ``compare_one`` itself is not called: it re-reads the registry twice
        per query (about 3 s a call), and DuckDB takes about 31 s for the
        ten twins (24 s of it ``q_embed_semantic_clusters``), measured on 4
        cores. Together they would push a run past its time budget. So
        DuckDB's digest is computed once per checkout and kept in the
        fixture's directory, keyed by everything it depends on: the SQL
        text, the source of ``plans/oracle.py`` (its canonical form) and the
        DuckDB version. The fixture directory carries the fixture's version."""
        oracle = self.engine.oracle
        oracle_sql = self.engine.registry.get_oracle_sql()
        with open(oracle.__file__, "rb") as f:
            oracle_src = f.read()
        con = None
        ok = len(self.got) == len(self.names)
        for name, got in self.got.items():
            self.ops.attempted += 1
            try:
                sql = oracle_sql[name]
                key = hashlib.sha256(
                    sql.encode() + oracle_src + duckdb.__version__.encode()
                ).hexdigest()[:20]
                path = os.path.join(self.sf_dir, f"oracle_{name}_{key}.json")
                if os.path.isfile(path):
                    with open(path) as f:
                        want = json.load(f)
                else:
                    if con is None:
                        con = oracle.duck_connect(self.sf_dir)
                    want = _digest(oracle._canon(con.execute(sql).df()))
                    with open(path + ".tmp", "w") as f:
                        json.dump(want, f)
                    os.replace(path + ".tmp", path)
                if got != want:
                    ok = False
                    self.ops.fail(
                        f"{name}: result differs from DuckDB "
                        f"({got['rows']} vs {want['rows']} rows)"
                    )
            except Exception as e:
                ok = False
                self.ops.fail(f"check {name}: {type(e).__name__}: {e}")
        if con is not None:
            con.close()
        return ok


def _digest(canon: tuple[list[str], list[str]]) -> dict:
    """Columns, row count and sha256 of the canonical rows: the three
    things ``compare_one`` compares."""
    cols, rows = canon
    return {
        "cols": cols,
        "rows": len(rows),
        "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }
