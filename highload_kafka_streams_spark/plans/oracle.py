"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs each registered query twice — PySpark via ``registry.QUERIES`` and
DuckDB via ``registry.ORACLE`` on the same parquet files — and compares
row count, column names, and an order-insensitive value multiset. This
mirrors ``__spark_entry__``'s documented check (row-count + schema +
order-insensitive value-hash) so the real t2 run holds no surprises.

Run as a module for a pre-flight report::

    python -m highload_kafka_streams_spark.plans.oracle [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from dataclasses import dataclass

import duckdb
import pandas as pd

from highload_kafka_streams_spark import qhash, registry
from highload_kafka_streams_spark.io import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with every fixture table registered as a view."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm_cell(v) -> str:
    """Engine-neutral canonical string for one value."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # bit-exact doubles are the design goal (compat.py); repr keeps
        # full precision so any drift is visible
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray, memoryview)):
        # DuckDB fetches BLOBs as bytearray, Spark as bytes — one form
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


class ContainerOutputError(TypeError):
    """An oracle-backed query emitted a top-level array/map column.

    The DRIVER's canonicalizer cannot hash these (``TypeError: unhashable
    type: 'numpy.ndarray'`` — the exact failure that shipped in rounds 1
    AND 2 for q_agg_collect / q_fn_array / q_fn_map / q_fn_regexp), so the
    local gate must reject them loudly instead of passing where the driver
    errs. Fix the query: ``F.array_join(col, ',')`` ↔ DuckDB
    ``array_to_string(col, ',')`` (or ``to_json``), keeping the container
    expression inside the query and stringifying only the output.
    """


def _reject_container_cols(name: str, sdf) -> None:
    """Raise if a Spark result schema has top-level array/map columns."""
    from pyspark.sql.types import ArrayType, MapType

    bad = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    if bad:
        raise ContainerOutputError(
            f"{name}: oracle-backed query returns top-level container "
            f"column(s) {bad} — the driver canonicalizer cannot hash these; "
            f"stringify with array_join/to_json (↔ array_to_string in the "
            f"oracle SQL)"
        )


def _canon(df: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted canonical row strings)."""
    cols = sorted(df.columns)
    out = df[cols]
    rows = []
    for tup in out.itertuples(index=False, name=None):
        rows.append("|".join(_norm_cell(v) for v in tup))
    rows.sort()
    return cols, rows


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str
    spark_rows: int = -1
    oracle_rows: int = -1


def compare_one(spark, con, sf_dir: str, name: str) -> CompareResult:
    queries = registry.get_queries()
    oracle = registry.get_oracle_sql()
    fn = queries[name]
    sdf = fn(spark, sf_dir)
    if name in oracle:
        # driver-compat gate: hashed outputs must be container-free
        _reject_container_cols(name, sdf)
    spd = sdf.toPandas()
    if name not in oracle:
        ok = len(spd) >= 0  # rows-only check: it ran and returned a frame
        return CompareResult(name, ok, f"rows-only ({len(spd)} rows)", len(spd), -1)
    opd = con.execute(oracle[name]).df()
    scols, srows = _canon(spd)
    ocols, orows = _canon(opd)
    if scols != ocols:
        return CompareResult(
            name, False, f"schema mismatch: spark={scols} oracle={ocols}",
            len(spd), len(opd),
        )
    if len(srows) != len(orows):
        return CompareResult(
            name, False, f"row count: spark={len(srows)} oracle={len(orows)}",
            len(spd), len(opd),
        )
    sh = hashlib.sha256("\n".join(srows).encode()).hexdigest()
    oh = hashlib.sha256("\n".join(orows).encode()).hexdigest()
    if sh != oh:
        diffs = [
            f"  spark: {a}\n  duck : {b}"
            for a, b in zip(srows, orows)
            if a != b
        ][:3]
        return CompareResult(
            name, False, "value mismatch; first diffs:\n" + "\n".join(diffs),
            len(spd), len(opd),
        )
    return CompareResult(name, True, f"match ({len(srows)} rows)", len(spd), len(opd))


def run_all(spark, sf_dir: str, names: list[str] | None = None) -> list[CompareResult]:
    con = duck_connect(sf_dir)
    queries = registry.get_queries()
    todo = names or sorted(queries)
    results = []
    for name in todo:
        try:
            results.append(compare_one(spark, con, sf_dir, name))
        except Exception as e:  # keep going; report the failure
            results.append(CompareResult(name, False, f"EXCEPTION: {e}"))
    return results


def main() -> int:
    from highload_kafka_streams_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or None
    if names is None:
        # FULL preflight doubles as the round-end gate: refuse to certify
        # a tree whose hash ledger is stale (run `qhash update --round N`
        # first) — the registry trusts the ledger's since_round, so a
        # stale ledger would keep counting evidence for changed code.
        # Targeted runs (explicit names) skip this so mid-build
        # iteration stays cheap.
        drifted = qhash.drift()
        if drifted:
            print(
                "LEDGER DRIFT — QUERY_HASHES.json is stale for "
                f"{len(drifted)} query(ies): {', '.join(drifted[:10])}"
                f"{' …' if len(drifted) > 10 else ''}\n"
                "Run `python -m highload_kafka_streams_spark.qhash update "
                "--round N` and retry."
            )
            return 2
    spark = get_spark()
    results = run_all(spark, sf_dir, names)
    n_ok = sum(r.ok for r in results)
    for r in results:
        print(f"{'PASS' if r.ok else 'FAIL':4} {r.name}: {r.detail}")
    print(f"\n{n_ok}/{len(results)} queries match @ {sf_dir}")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
