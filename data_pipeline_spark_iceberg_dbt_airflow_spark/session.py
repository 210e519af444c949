"""SparkSession factory.

Mirrors the reference's session builder
(`/root/reference/Iceberg-dbt-project/scripts/extract_bitcoin_prices.py:13-37`)
minus the container endpoints: the reference wires an Iceberg REST catalog +
S3A/MinIO; here tables are plain Parquet, and the Iceberg capabilities the
reference uses (append, overwrite, snapshots, time travel) come from
``snapshots.py``, so the session needs no catalog or runtime jar.

Scale notes (100 TB target):
- AQE is on: runtime partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion all apply without plan changes.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster set it ~2-3x total executor cores (or rely on
  AQE coalescing from a higher initial value).
- Session timezone is pinned to UTC: the reference stamps batches with
  UTC instants (extract_bitcoin_prices.py:151) and the DuckDB oracle
  compares naive-UTC timestamps.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data-pipeline-spark-engine"


def default_parallelism() -> int:
    """Core count the driver harness asks us to use (SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark_session(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Session-wide contract: ``spark.sql.legacy.parquet.nanosAsLong=true`` is
    set HERE, deliberately and globally -- parquet TIMESTAMP(NANOS) columns
    (events.ts, lineitem.l_shipdate) arrive as raw INT64 nanos everywhere in
    the session. ``io.read_table`` converts them to microsecond timestamps;
    anything that needs a pushed-down time predicate filters on the raw longs
    first (``io.scan_time_range``). This replaces round-1's sticky per-read
    conf flip with an explicit session invariant.

    ``driver_memory`` only takes effect for the FIRST session in the process
    (the JVM is already up on ``getOrCreate`` reuse); a mismatch warns.

    DataFrame debugging (``spark.python.sql.dataFrameDebugging.enabled``)
    is off: with it on, every ``F.*`` or Column call captures the Python
    stack and pays about five more py4j round trips, which doubled the
    py4j calls of an hourly ELT cycle. PySpark reads the flag once per
    process, on the first Column call, so it is set in the builder. The
    cost: Spark error messages lose the Python call-site fragment
    (nothing in this package reads it).

    Generated code is compiled once per process, not once per request.
    Spark caches each compiled class keyed by its generated source, in an
    LRU of ``spark.sql.codegen.cache.maxEntries`` classes (default 100).
    One round of the 11-family analyst mix needs about 190-220 classes
    and the whole 50-entry registry about 800-1000 (the count depends on
    the two settings here), so at 100 the cache cycles and every round
    recompiles its working set (217 compiles a round of the mix, 4-48 a
    request; 971 a warm round of the registry). It is sized to 1024, the
    next power of two above the registry. A full cache holds roughly
    10-30 MB (mean generated source 7 KB, mean bytecode 2.7 KB). The size
    is a static conf read once per JVM, when ``CodeGenerator`` loads, so
    the first session of the process decides it: a process whose first
    session is built outside this factory (a plain
    ``SparkSession.builder``) keeps Spark's 100 classes.

    ``spark.sql.codegen.useIdInClassName`` is off for the same cache.
    With it on, each generated class name carries its whole-stage id,
    and AQE numbers stages in the order it plans them at runtime, so a
    warm re-run of the same query can emit byte-identical code under a
    different id and miss the cache (``subq_predicate_family`` recompiled
    4 classes on some warm runs and 0 on others). The cost: a generated
    class in a stack trace loses its stage suffix; ``explain``'s ``*(N)``
    markers are unchanged.
    """
    cpus = default_parallelism()
    active = SparkSession.getActiveSession()
    if active is not None and driver_memory is not None:
        current = active.conf.get("spark.driver.memory", "")
        if current and current != driver_memory:
            warnings.warn(
                f"driver_memory={driver_memory!r} ignored: session already "
                f"running with {current!r} (JVM memory is first-session-only)",
                stacklevel=2,
            )
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Scan-split sizing: maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/parallelism)). The 4 MiB default
        # openCost caps a 10 MiB fact table at ~3 scan tasks on 32 cores;
        # 512 KiB lets small-SF inputs fan out. Harmless at scale: once
        # totalBytes/parallelism exceeds 512 KiB the formula ignores it,
        # so 100 TB inputs still split at maxPartitionBytes (128 MiB).
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.ui.enabled", "false")
        # keep stderr artifacts (bench evidence lines) un-mangled
        .config("spark.ui.showConsoleProgress", "false")
        # Right-sized, not maximal: an oversized heap measurably slows GC
        # on local[32] (empirically ~1.5-2s per heavy query at 24g+ vs 8g
        # for sf0.1 workloads). Override via SPARK_GRAFT_DRIVER_MEM or the
        # parameter when a workload genuinely needs more.
        .config(
            "spark.driver.memory",
            driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

