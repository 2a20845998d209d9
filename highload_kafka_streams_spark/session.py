"""SparkSession factory + session configuration.

The driver may hand us an already-built SparkSession (``__spark_entry__``
contract), so everything the engine *needs* must be settable on a live
session. ``configure_session`` applies those runtime confs; ``get_spark``
builds a session for tests/bench with the same settings plus
builder-only ones.

Scale posture (SURVEY.md §4): AQE on (skew joins, partition coalescing),
shuffle partitions equal to the session's cores (``defaultParallelism``),
UTC timezone for deterministic timestamp semantics, Arrow enabled for the
pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are session-settable at runtime (SQLConf). Applied both at
# build time and defensively on driver-provided sessions.
_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark cannot
    # map to TimestampType; read as long and convert in io.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # the µs fixture generation writes isAdjustedToUTC=false timestamps;
    # read them as plain TimestampType (UTC instants) IN THE SCAN rather
    # than as TIMESTAMP_NTZ + a cast projection — a cast above the scan
    # blocks parquet filter pushdown on every timestamp predicate
    # (measured 2×+ on lineitem-heavy queries at sf0.1)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # cover the fixture dims (region 5, nation 25, supplier 1k, part 20k,
    # customer 15k rows at sf0.1) so star joins broadcast instead of shuffle
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    # totalBytes/minPartitionNum)). Test-SF tables are single-digit MB, so
    # the default 4 MB open cost pins EVERY scan to one split — one core
    # does all the per-row work (measured: the minhash signature stage ran
    # 1/32 cores). 16 KB keeps openCost below bytesPerCore for every
    # test table, so each scan splits to exactly minPartitionNum
    # (= defaultParallelism) tasks; at real scale
    # totalBytes/minPartitionNum >> openCost, maxPartitionBytes (128 MB)
    # governs, and this setting is inert.
    "spark.sql.files.openCostInBytes": "16384",
}


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make the engine package importable inside Python WORKER processes.

    cloudpickle serializes module-level functions (our applyInPandas /
    pandas_udf kernels) by reference, so workers must import
    ``highload_kafka_streams_spark`` themselves. On a driver-provided
    session launched from an arbitrary cwd, the repo root is on the
    DRIVER's sys.path only (``__spark_entry__`` inserts it) — workers
    would die with ModuleNotFoundError (reproduced by running the entry
    contract from /tmp). ``addPyFile`` of a package zip fixes this for
    any session, local or cluster — the same mechanism you'd use to ship
    the engine to a 1000-executor cluster."""
    import tempfile
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_hks_pkg_shipped", False):
        return
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "highload_kafka_streams_spark")
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="hks_pkg_"), "highload_kafka_streams_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._hks_pkg_shipped = True


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent).

    ``spark.sql.shuffle.partitions`` is set to the session's own
    ``defaultParallelism``: one shuffle partition per core, on any host.
    """
    confs = dict(_RUNTIME_CONFS)
    try:
        # Each stateful streaming operator runs, and commits on every
        # micro-batch, one state store per shuffle partition, so a count
        # above the core count only multiplies commits (32 RocksDB stores
        # per trigger on a 4-core host ran a windowed count at under a
        # third of the rate of 4). Vanilla sessions default to 200. AQE
        # still coalesces batch shuffles, and a stateful query restarted
        # from a checkpoint keeps the count recorded there.
        confs["spark.sql.shuffle.partitions"] = str(
            spark.sparkContext.defaultParallelism
        )
    except AttributeError:
        # Connect-style sessions expose no sparkContext; keep their count
        pass
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be non-settable on some builds; engine code paths
            # that depend on one (io.load_table) re-check and fail loudly.
            pass
    try:
        _ship_package_to_workers(spark)
    except Exception:
        # best-effort: on Connect-style sessions without a sparkContext
        # the normal PYTHONPATH path still applies
        pass
    return spark


def get_spark(
    app_name: str = "highload-kafka-streams-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. Shuffle partitions follow the session's cores (see
    ``configure_session``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)
