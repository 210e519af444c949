"""Table IO: readers over the test data tables, file sources, and catalog DDL.

The reference stores everything as Iceberg-over-Parquet
(`/root/reference/Iceberg-dbt-project/scripts/extract_bitcoin_prices.py:131-145,193`).
Here tables are plain Parquet (the test data format, TESTDATA.md).
The reference's append (S6) and CTAS (S8) sinks and its snapshot scan
(S11) are ``snapshots.snapshot_append``, ``snapshot_overwrite`` and
``snapshot_versions``/``snapshot_read``; this module holds the
catalog-side DDL (S9, S10) and the console sink (S12).

Scale notes: `spark.read.parquet` is a DataSource-V2 scan -- predicate
pushdown, column pruning, and partition pruning are free as long as callers
express filters/projections declaratively (verified in tests via
`explain()` containing PushedFilters/ReadSchema).

Per-session state (``SESSION_STATE``, read through ``session_cache``):
scans here, probe verdicts and persisted frames in ``queries.dedup`` and
``queries.similarity``. It is keyed on the live ``SparkSession`` wrapper
itself, because that is what a session is: ``spark.newSession()`` shares
the SparkContext but has its own conf and temp views, so it gets its own
scans and probes and is never served a frame bound to another session.
Lifetime: a session's entries live as long as its wrapper does (the weak
key drops them with it), so no finalizer is needed. A cached frame holds
its wrapper (``df.sparkSession``), so a session that has read a table
through ``read_table`` keeps its wrapper, and with it its entries, until
the process exits. ``release_shingle_index`` and ``release_normed_corpus``
unpersist and drop the large persisted frames through ``release_frame``,
which leaves a plan persisted while another live session still pins it;
the scans they leave are plans, not data. A session that only cached
probe verdicts is let go with its wrapper.
"""

from __future__ import annotations

import datetime as dt
import os
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: All tables the driver generates (TESTDATA.md / FIXTURES.md §B).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@dataclass(frozen=True)
class Footer:
    """What a table's parquet footers say, read without a Spark job.

    ``nanos_cols``: columns stored as TIMESTAMP(NANOS) (Spark 4 rejects
    them raw), from the first part's schema -- one table, one schema; a
    writer that mixed ns and us units across parts would fail Spark's
    own schema merge first. ``row_groups``: row groups of a single-file
    table (None for a directory). Row groups, not file SPLITS, are
    parquet's parallelism quantum: a split containing no row-group
    midpoint yields an EMPTY Spark partition, so a big single file with
    default 128MB row groups scans as ~size/128MB busy tasks no matter
    how many splits the scheduler cuts. ``rows``: the sum over the part
    footers (None when they could not be read)."""

    nanos_cols: tuple[str, ...] = ()
    row_groups: int | None = None
    rows: int | None = None


#: (table path) -> its Footer; testdata tables are immutable, so each
#: table is listed and each part footer read once per process.
_FOOTERS: dict[str, Footer] = {}


def _footer(path: str) -> Footer:
    """The memoized :class:`Footer` of the table at ``path`` (one file or
    a directory of part files).

    A table whose footers cannot be read (missing, empty directory,
    corrupt part) reports no nanos columns and no counts rather than
    raising: these are best-effort hints, and a genuinely broken table
    then fails in the Spark scan with the real error instead of a
    pyarrow footer traceback. That verdict is NOT cached: a transient
    probe error (table still being written, flaky NFS) would otherwise
    poison the process-lifetime cache and skip the ns->us widen forever
    after the fault clears (r11 review)."""
    footer = _FOOTERS.get(path)
    if footer is None:
        import pyarrow.parquet as pq

        try:
            single = not os.path.isdir(path)
            parts = [path] if single else [
                os.path.join(path, f)
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]
            metas = [pq.read_metadata(p) for p in parts]
            schema = metas[0].schema.to_arrow_schema()
        except Exception:
            return Footer()
        footer = _FOOTERS[path] = Footer(
            nanos_cols=tuple(
                f.name for f in schema if str(f.type) == "timestamp[ns]"
            ),
            row_groups=metas[0].num_row_groups if single else None,
            rows=sum(m.num_rows for m in metas),
        )
    return footer


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Footer-only row count of a testdata table (None when the path is
    neither one readable parquet file nor a directory of them). The
    cheap corpus-size probe for plan-shape decisions that must not pay
    a Spark job (e.g. the span-dedup kernel switch): reads ~1KB of
    footer per file. Multi-file tables (a directory of part files --
    the shape every REAL corpus arrives in) sum per-file footers; before
    round 10 they returned None, which silently parked exactly the
    at-scale corpora the size-gated plans exist for on their small-N
    path (round-9 ADVICE). On a catalog table the same number comes from
    table statistics; callers for whom None is load-bearing use
    :func:`table_rows`."""
    return _footer(table_path(sf_dir, name)).rows


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a testdata table: the footer count, else ONE count
    job over :func:`read_table`, pinned so every later probe of the same
    table (this one or :func:`table_row_count`) is a dict hit. A silent
    default would park an unprobeable corpus on the small-N plan at
    exactly the scale the size gates exist for (round-9 ADVICE);
    ``count(*)`` over parquet is a column-pruned metadata scan. The pin
    records what the count's scan saw: no nanos columns and no row
    groups."""
    path = table_path(sf_dir, name)
    rows = _footer(path).rows
    if rows is None:
        rows = read_table(spark, sf_dir, name).count()
        _FOOTERS[path] = Footer(rows=rows)
    return rows


def _ensure_nanos_conf(spark: SparkSession) -> None:
    # Normally set at session build (session.py); safety net for sessions
    # built elsewhere. Session-wide by design -- see get_spark_session doc.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _convert_ns(df: DataFrame, ns_cols: tuple[str, ...]) -> DataFrame:
    """Floor-convert raw INT64 nano columns to microsecond TimestampType.

    `x DIV 1000` keeps full integer precision; DuckDB 1.0's parquet reader
    truncates ns->us identically, so both engines see the same instants
    (pinned-version assumption -- oracle SQL additionally CASTs raw-ts
    selections to microsecond TIMESTAMP so a DuckDB upgrade to native
    TIMESTAMP_NS reads stays comparable).
    """
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to session-TZ TimestampType.

    Ordinary microsecond parquet timestamps (isAdjustedToUTC=false -- what
    most real-world writers produce) surface as TIMESTAMP_NTZ in Spark 4,
    while the ns-normalized testdata columns surface as TimestampType.
    With the session pinned to UTC the cast is value-preserving.

    Applied by ``scan_time_range`` AFTER its pushed predicates (so the
    time-filtered scan has one uniform output type), deliberately NOT by
    ``read_table``: a cast at the scan would sit under every later
    timestamp predicate and defeat parquet row-group pruning -- the wrong
    trade. Operators that need instant semantics on an arbitrary scan
    (``unix_micros``) cast at the point of use instead, where the cast is
    a projection, not a filter obstacle. (Divergence caught by the
    empty-input differential sweep, whose schema-preserving fixtures
    round-trip through a µs writer.)
    """
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


#: Per-session state: the live SparkSession wrapper -> {cache name -> dict}
#: (see the module docstring for why the key is the wrapper and how long
#: the entries live). Read and written only through :func:`session_cache`;
#: the ``release_*`` functions iterate it to reach every live session.
SESSION_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_cache(spark: SparkSession, name: str) -> dict:
    """The dict ``name`` of ``spark``'s state, created empty on first use."""
    return SESSION_STATE.setdefault(spark, {}).setdefault(name, {})


def release_frame(spark: SparkSession, name: str, key) -> None:
    """Drop ``key`` from the cache ``name`` of ``spark`` and unpersist its
    frame, unless another live session still pins the same plan.

    Spark's CacheManager is shared by every session of a SparkContext, so
    unpersisting a plan also drops any other session's pin of it. A frame
    is therefore left persisted while another live session holds a frame
    of the same plan under the same key; the last session to release it
    unpersists it.
    """
    df = session_cache(spark, name).pop(key, None)
    if df is not None:
        _unpersist_unless_pinned(spark, name, key, df)


def release_frames(spark: SparkSession | None, name: str) -> None:
    """:func:`release_frame` every entry of the cache ``name`` of ``spark``
    (of every live session when None: all entries are dropped before any
    is unpersisted, so every frame is unpersisted)."""
    popped = []
    for s in list(SESSION_STATE) if spark is None else [spark]:
        cache = session_cache(s, name)
        popped += [(s, key, cache.pop(key)) for key in list(cache)]
    for s, key, df in popped:
        _unpersist_unless_pinned(s, name, key, df)


def _unpersist_unless_pinned(
    spark: SparkSession, name: str, key, df: DataFrame
) -> None:
    for other, state in list(SESSION_STATE.items()):
        held = state.get(name, {}).get(key)
        if other is not spark and held is not None and held.sameSemantics(df):
            return
    try:
        df.unpersist()
    except Exception:
        # a table-backed frame (dedup.materialize_shingle_index) has
        # nothing to unpersist; dropping the entry is the whole release
        pass


#: The session's "scan" cache holds three shapes per testdata table:
#: ``path`` (the converted scan), ``(path, "raw")`` and ``(path, "widen")``.
#: The testdata tables are immutable, so re-running file listing + footer
#: schema resolution on every ``read_table`` call (~0.1-0.25 s of pure
#: driver work per query) buys nothing; a DataFrame is an immutable plan,
#: safe to share within its session. This is the local-mode analog of what
#: a real deployment gets from catalog tables: the metastore caches
#: file-level metadata so repeated scans of an unchanged table never
#: re-list the object store. Writers in this module write to OTHER paths
#: (never into a testdata dir), so entries can't go stale.
def _raw_scan(spark: SparkSession, path: str) -> DataFrame:
    scans = session_cache(spark, "scan")
    key = (path, "raw")
    cached = scans.get(key)
    if cached is None:
        cached = scans[key] = spark.read.parquet(path)
    return cached


def read_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Scan one testdata table (S7: table scan).

    Parquet TIMESTAMP(NANOS) columns (events.ts, lineitem.l_shipdate) are
    illegal for Spark 4's vectorized reader; with the session-wide
    ``nanosAsLong`` conf they arrive as raw INT64 nanos and are converted
    JVM-side. The conversion is a cheap projection inside whole-stage
    codegen; pushdown on other columns is unaffected. Predicates on the
    TIME column itself would land on a derived expression the reader can't
    prune -- for those use :func:`scan_time_range`, which pushes raw-INT64
    bounds into the scan before converting.

    ``widen=True`` round-robin repartitions the scan up to the session's
    parallelism when the table's FOOTER says it would keep fewer tasks
    busy: the row-group count (not the split count) bounds how many
    tasks a parquet scan can keep busy, and Spark happily cuts 32 splits
    of a single 450MB file whose ~4 row groups leave 28 of them empty
    (measured round 8: a 1M-doc single-file corpus ran every CPU-heavy
    per-row stage on ~4 of 32 cores -- text_profile 450s where the same
    work from a well-spread frame costs ~tens of seconds). At real scale
    inputs arrive as many files and many row groups, so the widen stays
    a no-op there.
    """
    path = table_path(sf_dir, name)
    # A MISSING table is the caller's loud FileNotFoundError, exactly as
    # the pyarrow footer probe used to raise it before the probe learned
    # to swallow read errors (r11 ADVICE fix: an unreadable-but-present
    # table is a best-effort-probe miss that Spark's scan reports
    # properly; an absent one would otherwise surface as a much later
    # AnalysisException from whichever action first analyzes the plan).
    if not os.path.exists(path):
        raise FileNotFoundError(f"table {name!r} not found at {path}")
    scans = session_cache(spark, "scan")
    df = scans.get(path)
    if df is None:
        ns_cols = _footer(path).nanos_cols
        if ns_cols:
            _ensure_nanos_conf(spark)
        df = scans[path] = _convert_ns(_raw_scan(spark, path), ns_cols)
    if widen:
        # Memoized per (session, path): the probe's df.rdd.getNumPartitions()
        # is a plan->RDD py4j round trip, and the answer cannot change for an
        # immutable testdata table within a session (round-8 ADVICE: five hot
        # call sites were paying it per invocation). The widened DataFrame is
        # an immutable plan, safe to share like the scan itself.
        wkey = (path, "widen")
        wdf = scans.get(wkey)
        if wdf is None:
            par = spark.sparkContext.defaultParallelism
            rg = _footer(path).row_groups
            eff = df.rdd.getNumPartitions()
            if rg is not None:
                eff = min(eff, rg)
            wdf = df.repartition(par) if eff < par else df
            scans[wkey] = wdf
        return wdf
    return df


#: UTC epoch for ns-bound arithmetic (integer, no float roundtrip).
_EPOCH = dt.datetime(1970, 1, 1)


def _iso_to_ns(iso: str) -> int:
    """ISO-8601 (naive = UTC) -> integer nanoseconds since epoch."""
    d = dt.datetime.fromisoformat(iso)
    if d.tzinfo is not None:
        d = d.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ((d - _EPOCH) // dt.timedelta(microseconds=1)) * 1000


def scan_time_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lo_iso: str | None = None,
    hi_iso: str | None = None,
) -> DataFrame:
    """Table scan with a PUSHED-DOWN time-range predicate (S7 + P5).

    This is the engine's rendering of the reference's partition-pruning
    story -- Iceberg hidden `days(extracted_at)` partitioning
    (extract_bitcoin_prices.py:144) lets time predicates prune files. Here
    the time column is stored as TIMESTAMP(NANOS): filtering after the
    ns->us conversion would defeat parquet row-group pruning (the predicate
    lands on a derived expression), so we compare the RAW INT64 nanos
    against integer bounds first -- the comparison reaches the reader as a
    plain long filter (visible as PushedFilters in the plan, asserted in
    tests) -- and convert to TimestampType afterwards. [lo, hi) semantics.

    At 100 TB this is the difference between scanning every row-group and
    skipping everything outside the window via parquet min/max stats.
    """
    path = table_path(sf_dir, name)
    ns_cols = _footer(path).nanos_cols
    if ns_cols:
        _ensure_nanos_conf(spark)
    df = _raw_scan(spark, path)
    if ts_col in ns_cols:
        if lo_iso is not None:
            df = df.filter(F.col(ts_col) >= F.lit(_iso_to_ns(lo_iso)))
        if hi_iso is not None:
            df = df.filter(F.col(ts_col) < F.lit(_iso_to_ns(hi_iso)))
        df = _convert_ns(df, ns_cols)
    else:
        df = _convert_ns(df, ns_cols)
        if lo_iso is not None:
            df = df.filter(F.col(ts_col) >= F.lit(lo_iso).cast("timestamp"))
        if hi_iso is not None:
            df = df.filter(F.col(ts_col) < F.lit(hi_iso).cast("timestamp"))
    return _normalize_ntz(df)


def read_evolving(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas -- the append-only table that gained columns over time (the
    lakehouse norm; Iceberg handles it in metadata, plain parquet needs
    the reader's help).

    ``mergeSchema`` unions every file's footer schema (additive
    evolution: rows from files predating a column read NULL there).
    Passing ``schema`` instead pins the CURRENT contract schema without
    the footer-listing cost -- the right call at 100 TB, where
    mergeSchema's schema inference reads every footer up front; extra
    historical columns are then simply not read (column pruning), and
    missing ones surface as NULL the same way.
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


#: Column capturing unparseable input lines in read_jsonl/read_csv.
CORRUPT_COL = "_corrupt_record"


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines batch source with an EXPLICIT schema and a quarantine
    column (the reference's upstream data is REST JSON, README.md:139-166;
    this is the batch-file equivalent of that shape).

    Scale posture:
    - Schema inference is banned: inferring would add a FULL extra pass
      over the input before the real read -- at 100 TB that doubles scan
      cost. Callers pass the contract schema (a StructType or DDL
      string), and drift shows up as quarantined rows, not silent
      re-typing.
    - PERMISSIVE + ``_corrupt_record``: a malformed line lands as one row
      with every data column NULL and the raw line preserved -- the
      filter-and-quarantine pattern (count them, route them to a dead
      letter table, never abort a day-long job at line 3 billion).
      FAILFAST is what you want in CI, not in a bulk backfill.
    - multiLine stays off: line-delimited JSON splits by newline, so a
      100 TB input parallelizes per-block; a multiLine document must be
      parsed whole-file.

    Spark caveat: a query referencing ONLY ``_corrupt_record`` from a
    raw file scan raises QUERY_ONLY_CORRUPT_RECORD_COLUMN -- cache the
    frame (or select data columns alongside) before filtering on it.
    """
    full = _with_corrupt_col(spark, schema)
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV batch source: explicit schema + quarantine column, same
    posture as :func:`read_jsonl` (no inference pass, PERMISSIVE parse
    errors into ``_corrupt_record``)."""
    full = _with_corrupt_col(spark, schema)
    return (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def _with_corrupt_col(spark: SparkSession, schema):
    """Append the corrupt-record column to a StructType or DDL schema."""
    from pyspark.sql.types import StringType, StructField, StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register temp views so SQL-form queries can run (entry point C,
    SURVEY.md §3.3)."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_training_shards(
    df: DataFrame,
    target: str,
    *,
    order_col: str = "shuffle_pos",
    shards: int = 8,
    records_per_file: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Emit the final training shards: contiguous slices of the
    deterministic global order (the last mile after
    ``train_global_shuffle``).

    - ``repartitionByRange(shards, order_col)`` makes shard k a
      CONTIGUOUS slice of the shuffled order -- a trainer streaming
      shard files in filename order replays the global permutation
      without any further sort. A round-robin repartition would balance
      sizes but interleave positions, forcing consumers to re-shuffle.
    - ``sortWithinPartitions(order_col)`` orders rows INSIDE each shard
      file; combined with range partitioning this is a full distributed
      sort, but the expensive exchange is priced once at write time, not
      per training epoch.
    - ``maxRecordsPerFile`` bounds file row counts, so one fat shard
      cannot produce a multi-GB file that breaks downstream loaders --
      the writer splits it into numbered parts (still
      position-contiguous, since rows arrive sorted).
    - ``partition_by`` (e.g. ``["split"]``) lays train/val/test out as
      separate directory trees so a trainer's scan prunes to its split.

    Scale: shard count should track total rows / target shard size, not
    executor count; range boundaries come from Spark's sampling, and
    skew is impossible by construction (the order column is a dense
    deterministic rank).
    """
    w = (
        df.repartitionByRange(shards, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
    )
    if records_per_file:
        w = w.option("maxRecordsPerFile", records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def ensure_namespace(spark: SparkSession, name: str) -> None:
    """S9: idempotent namespace DDL (``CREATE NAMESPACE IF NOT EXISTS``,
    extract_bitcoin_prices.py:128), against the session catalog."""
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {name}")


def create_table_like(
    spark: SparkSession,
    name: str,
    ddl_columns: str,
    *,
    partition_by: str | None = None,
) -> None:
    """S10: idempotent partitioned-table DDL, the engine's rendering of
    the reference's ``CREATE TABLE IF NOT EXISTS ... USING iceberg
    PARTITIONED BY (days(extracted_at))`` (extract_bitcoin_prices.py:
    131-145). The table is parquet, so it partitions on an explicit
    derived column (e.g. ``extraction_date``) instead of a ``days(...)``
    transform (hidden partitioning is an Iceberg-only feature)."""
    part = f" PARTITIONED BY ({partition_by})" if partition_by else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl_columns}) USING parquet{part}"
    )


def show_verification(df: DataFrame, n: int = 5) -> None:
    """S12: console verification sink (``df.show(truncate=False)``,
    extract_bitcoin_prices.py:199,203). Driver-side display of a bounded
    prefix -- never used on unbounded results in pipelines."""
    df.show(n, truncate=False)


def corpus_diff(
    spark: SparkSession,
    old_path: str,
    new_path: str,
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Snapshot diff between two corpus versions: which documents were
    ADDED, REMOVED, or CHANGED (same id, different content digest) --
    the audit a training run wants before retraining on a refreshed
    corpus, and the input to incremental re-processing (only 'added' +
    'changed' need re-scoring/re-chunking).

    One full-outer join on the id with both sides pruned to
    (id, digest): content bytes never load, so the diff costs two
    digest-column scans + one join however wide the rows are. Returns
    (id, status, old_digest, new_digest) for every non-identical row;
    unchanged documents are omitted (the overwhelming mass of a refresh
    -- emitting them would make the diff corpus-sized).
    """
    # NULL ids are excluded on both sides: a null join key would
    # misclassify the same row as both added and removed.
    # Row EXISTENCE is probed via explicit markers, not digest nullity:
    # a legitimately-NULL digest (e.g. md5 of NULL text) must not make a
    # removed row look added or a changed row vanish.
    old = (
        spark.read.parquet(old_path)
        .where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(digest_col).alias("old_digest"),
            F.lit(1).alias("in_old"),
        )
    )
    new = (
        spark.read.parquet(new_path)
        .where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(digest_col).alias("new_digest"),
            F.lit(1).alias("in_new"),
        )
    )
    joined = old.join(new, "id", "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), "added")
        .when(F.col("in_new").isNull(), "removed")
        .when(
            ~F.col("old_digest").eqNullSafe(F.col("new_digest")), "changed"
        )
    )
    return (
        joined.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(F.col("id").alias(id_col), "status", "old_digest", "new_digest")
    )
