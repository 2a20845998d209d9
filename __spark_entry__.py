"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
/ ``oracle_sql()`` expose the full registry — one entry per implemented
SURVEY.md §2 operator plus the LLM-pipeline extensions; the exact
counts are ``len(queries())`` / ``len(oracle_sql())`` (the registry is
the single source of truth — this docstring intentionally carries no
hardcoded number after round 3 shipped a stale one).
Ordering is driver-facing and SELF-MAINTAINING (registry._ordered_names
reads the driver's own CORRECTNESS_r*.json files): oracle-backed
queries with no driver-green row yet lead the checked prefix in age
order, then already-green queries oldest-evidence-first, then
rows-only queries last. A green row counts only if the committed
QUERY_HASHES.json ledger records the query with ``since_round`` no later
than that row's round — the ledger decides, no source is hashed here;
``qhash.drift()`` (enforced by the tests and the oracle preflight) keeps
the ledger in sync with the code.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# repo root on sys.path so the engine package resolves regardless of cwd
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from highload_kafka_streams_spark import registry  # noqa: E402
from highload_kafka_streams_spark.session import configure_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary agg over lineitem) on sf0.001."""
    configure_session(spark)
    queries = registry.get_queries()
    return queries["q_pricing_summary"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    raw = registry.get_queries()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure_session(spark)  # nanosAsLong etc. on driver sessions
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in raw.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each batch-expressible query."""
    return registry.get_oracle_sql()
