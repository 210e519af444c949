"""Structured Streaming jobs (SURVEY.md §2.9 T3-T4, [ext]).

The reference emulates streaming with hourly batch appends
(/root/reference/Iceberg-dbt-project/dags/bitcoin_pipeline_dag.py:19,
scripts/extract_bitcoin_prices.py:193); the upgrade path the survey maps
(§1.4) is Structured Streaming with the same sinks. This module provides
that path: file-source readStream -> event-time windowed aggregation with
a WATERMARK (bounded state, late-data drop) -> sink, plus a custom
stateful operator through ``applyInPandasWithState``.

Batch/stream parity: ``windowed_counts`` composes the SAME window
aggregation the batch registry query uses, so pytest can run the stream
to completion (trigger availableNow) and hash its output against the
batch result -- the micro-batch model guarantees they agree.

Scale notes: watermark delay bounds state size (state store keeps only
windows newer than max_event_time - delay); without it an event-time agg
on an unbounded stream retains every window forever. State lives in the
executor state store partitioned by group key -- the same skew rules as
any keyed shuffle apply.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import AtomicType, StructType


def read_events_stream(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """File-source stream over a directory of parquet micro-batches --
    the streaming rendering of the reference's append-only raw table
    (each hourly append = one new file = one micro-batch).

    TIMESTAMP_NTZ columns are cast to session-TZ TimestampType: ordinary
    isAdjustedToUTC=false parquet timestamps surface as NTZ in Spark 4
    (io._normalize_ntz), and ``withWatermark`` rejects NTZ event time
    outright ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). With the session
    pinned to UTC the cast is value-preserving.
    """
    from pyspark.sql.types import TimestampNTZType

    stream = spark.readStream.schema(schema).parquet(path)
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            stream = stream.withColumn(
                f.name, F.col(f.name).cast("timestamp")
            )
    return stream


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """T3: event-time tumbling counts with a watermark.

    The watermark declares "accept events up to ``watermark`` late";
    windows older than the watermark are finalized and their state
    dropped -- the knob that keeps state bounded on an infinite stream.
    Works identically on a batch DataFrame (watermark is a no-op there),
    which is how tests prove parity.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "events",
        )
    )


#: Output schema of the stateful running-count operator.
RUNNING_COUNT_SCHEMA = "user_id bigint, total_events bigint"
_STATE_SCHEMA = "n bigint"


def _running_count(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterable[pd.DataFrame]:
    """Per-user running event count across micro-batches.

    State = one bigint per user, updated per micro-batch -- the minimal
    custom stateful operator (the ``mapGroupsWithState`` analog the
    survey names, §2.9). Arrow-batched: each micro-batch's rows for this
    key arrive as pandas DataFrames, counted vectorized.
    """
    seen = sum(len(b) for b in batches)
    total = (state.get[0] if state.exists else 0) + seen
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})


def running_counts(events: DataFrame) -> DataFrame:
    """T4: custom stateful aggregation via applyInPandasWithState.

    Emits each user's cumulative event count after every micro-batch.
    Update-mode output; state never times out (NoTimeout) because the
    count is cumulative over the stream's lifetime.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _running_count,
        outputStructType=RUNNING_COUNT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with BOUNDED state: emit the first row per key,
    drop any duplicate that arrives within ``watermark`` of it.

    This is the streaming half of the dedup family (the ingest-time
    filter an LLM data pipeline runs before documents ever land): exact
    batch dedup re-reads the corpus, while this keeps only
    watermark-recent first-seen keys in the state store --
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the
    watermark passes its event time, so state is O(keys per watermark
    window), not O(all keys ever). A duplicate arriving later than the
    watermark delay can re-emit (the documented at-least-once trade;
    batch dedup downstream is the backstop, the standard lambda split).
    Plain ``dropDuplicates`` on a stream would retain every key forever.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch left-joins the
    static dimension (re-resolved per batch, so a dim refresh is picked
    up). The dim is broadcast -- no shuffle of the stream, no state: the
    standard fact-stream x dimension pattern."""
    return stream.join(F.broadcast(dim), on, "left")


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "user_id",
    horizon: str = "INTERVAL 1 HOUR",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: right-side events that
    follow a left-side event for the same ``key`` within ``horizon``
    (click->purchase attribution shape).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, which is what lets Spark EVICT buffered rows:
    a left row older than watermark + horizon can never match a future
    right row, so join state stays bounded on an infinite stream. An
    unbounded-condition stream-stream join would buffer both streams
    forever. Inner-join emission is match-driven, so the emitted set
    equals the batch join of the full inputs (proved in pytest).
    """
    lw = left.withWatermark("ts", watermark).alias("l")
    rw = right.withWatermark("ts", watermark).alias("r")
    return lw.join(
        rw,
        F.expr(
            f"l.{key} = r.{key} AND r.ts >= l.ts"
            f" AND r.ts <= l.ts + {horizon}"
            " AND l.event_id <> r.event_id"
        ),
    ).select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("left_event_id"),
        F.col("r.event_id").alias("right_event_id"),
        F.col("l.ts").alias("left_ts"),
        F.col("r.ts").alias("right_ts"),
    )


def run_to_memory_sink(
    stream_df: DataFrame,
    *,
    table_name: str,
    output_mode: str = "append",
) -> None:
    """Drain a bounded stream into an in-memory sink (trigger
    availableNow: process everything available, then stop) -- the test
    harness for streaming jobs; production swaps the sink for parquet/
    Iceberg with the same trigger for incremental batch."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_stream_dedup(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    order_col: str,
) -> None:
    """Streaming corpus ingest with cross-batch exact dedup: each
    micro-batch runs ``plans.incremental.incremental_dedup_append``
    via foreachBatch -- keep-first within the batch, bloom-screened
    against every previously ingested digest, then committed as one
    append snapshot, so ``target_path`` is a snapshot table (read it
    with ``snapshots.snapshot_read``) and every micro-batch boundary
    is atomic and time-travelable.

    This is the streaming face of the incremental ingest path: the
    file-source checkpoint gives at-least-once micro-batches, and the
    dedup screen makes the append idempotent under replay (a re-run
    batch contributes nothing), which together yield exactly-once
    CONTENT in the target -- the property a training corpus needs,
    stronger than exactly-once rows. Trigger availableNow drains what
    exists and stops (incremental batch); a live deployment uses the
    same query with a processing-time trigger.
    """
    from ..plans.incremental import incremental_dedup_append

    def _sink(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        incremental_dedup_append(
            batch.sparkSession,
            batch,
            target_path,
            key_col=key_col,
            order_col=order_col,
        )

    _run_foreach_batch(stream_df, checkpoint_dir, _sink)


def _run_foreach_batch(stream_df: DataFrame, checkpoint_dir: str, sink) -> None:
    """One place for the module's batch-sink policy: file-source
    checkpointing + availableNow (drain everything durable, then stop)
    -- every foreachBatch job in this module (ingest_stream_dedup,
    ingest_stream_snapshots, apply_cdc_stream) runs through it so
    trigger/checkpoint changes cannot drift between them."""
    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ingest_stream_snapshots(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> list[int]:
    """Streaming ingest into the SNAPSHOT layer: every micro-batch is
    one atomic append commit (snapshots.snapshot_append), so readers
    see batch boundaries, never half-written files -- the property raw
    directory appends cannot give -- and any past batch boundary stays
    time-travelable (reprocess "as of before batch N" after a bad
    deploy). Returns the committed versions.

    Exactly-once note: the pairing is file-source checkpoint
    (at-least-once micro-batches) + idempotence at the CONTENT level if
    composed with the dedup screen; a REPLAYED batch here commits a new
    version with duplicate rows -- by design, because the snapshot log
    is exactly the audit trail that makes the replay visible and
    revertible (snapshot_rollback). For content-level exactly-once
    use ``ingest_stream_dedup``, which runs the dedup screen inside the
    foreachBatch and commits through this same snapshot layer; use
    this where the replay itself must stay in the table.
    """
    from ..snapshots import snapshot_append

    versions: list[int] = []

    def _sink(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        versions.append(snapshot_append(batch, table_dir))

    _run_foreach_batch(stream_df, checkpoint_dir, _sink)
    return versions


def apply_cdc_stream(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str,
    seq_col: str,
    delete_col: str | None = None,
    retain_tombstones: bool = False,
) -> list[int]:
    """Apply a CHANGE stream (upserts + deletes) to a snapshot table:
    each micro-batch collapses to its LATEST change per key, drops
    changes STALER than what the table already holds, and lands as ONE
    ``snapshot_merge`` commit. This is the foreachBatch-MERGE idiom
    Delta/Iceberg document for CDC apply, expressed over the
    engine-native snapshot layer; together with ``io.corpus_diff``
    (change capture) it closes the CDC loop.

    Ordering: ``seq_col`` (the CDC sequence/LSN) is PERSISTED in the
    table, so ordering is enforced ACROSS batches, not just within one
    -- a late-arriving file carrying an older change for a key joins
    against the table's current seq and is discarded instead of
    silently regressing the row (the ``source.seq > target.seq`` MERGE
    guard, rendered as one pre-merge left join). Within a batch the
    collapse orders by seq desc, then delete-flag desc (a same-seq
    insert+delete pair converges on "gone"), then a hash of the whole
    row as a deterministic final tiebreak -- replays pick the same
    winner. Tombstone trade-off (standard for CDC mirrors): with
    ``retain_tombstones=False`` a delete removes the row AND its seq,
    so a staler-than-the-delete update arriving later reinserts the
    key. Where that matters, pass ``retain_tombstones=True`` (requires
    ``delete_col``): deletes then PERSIST as flagged tombstone rows
    carrying their seq, the cross-batch guard applies to them like any
    row (the stale update loses against the tombstone's seq and the
    key stays gone), and reads go through :func:`read_cdc_table`,
    which filters tombstones out. The cost is the standard one:
    deleted keys occupy a row until a compaction drops tombstones
    older than the maximum expected change lateness
    (:func:`compact_tombstones`).

    The first batch against an empty table bootstraps it -- detected
    by PUBLISHED MANIFESTS (snapshot_exists), not the _snapshots
    directory, which _commit creates before the slow data write and
    which therefore survives a mid-first-commit crash. NULL-key
    changes are dropped (not mergeable, not replay-idempotent, as in
    ``plans.incremental``). Single-writer assumption: the streaming
    query is the table's one writer, so SnapshotConflictError is a
    real error (someone else committed), not a retry signal. NULL-seq
    changes are dropped with NULL keys: an unordered change can
    neither win nor lose the cross-batch guard coherently (kept for an
    absent key, it would permanently disable ordering for that key).

    Per batch the collapsed frame is persisted: it feeds an emptiness
    probe, the merge's validation aggregate, and the merge join --
    without the persist each action would re-run the source read and
    the collapse window.

    Returns the committed versions (one per effective batch).
    """
    from pyspark.sql import Window

    from ..snapshots import (
        snapshot_exists,
        snapshot_merge,
        snapshot_overwrite,
        snapshot_read,
    )

    if retain_tombstones and delete_col is None:
        raise ValueError(
            "retain_tombstones requires delete_col: a tombstone IS the "
            "persisted delete flag"
        )

    versions: list[int] = []

    def _sink(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        if retain_tombstones:
            # tombstone merges bypass snapshot_merge's delete_col
            # validation (deletes are plain upserts there), so mirror
            # its boolean check: a lossy cast would corrupt the flag
            dtype = batch.schema[delete_col].dataType.simpleString()
            if dtype != "boolean":
                raise TypeError(
                    f"delete_col {delete_col} must be boolean, got {dtype}"
                )
        order = [F.desc(seq_col)]
        if delete_col is not None:
            order.append(F.desc(delete_col))
        # deterministic final tiebreak for equal-seq duplicates; maps
        # are not hashable in Spark (HASH_MAP_TYPE), so the hash rides
        # the atomic columns only -- still deterministic, and a feed
        # whose atomic columns tie entirely is carrying actual
        # duplicate changes
        hashable = [
            f.name
            for f in batch.schema.fields
            if isinstance(f.dataType, AtomicType)
        ]
        if hashable:
            order.append(F.desc(F.xxhash64(*hashable)))
        latest = (
            batch.where(F.col(key_col).isNotNull() & F.col(seq_col).isNotNull())
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(*order)
                ),
            )
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        bootstrapped = snapshot_exists(table_dir)
        if bootstrapped:
            # cross-batch ordering guard: discard changes at or below
            # the seq the table already holds for that key
            cur_df = snapshot_read(batch.sparkSession, table_dir)
            if seq_col not in cur_df.columns:
                raise ValueError(
                    f"table at {table_dir} has no '{seq_col}' column: it "
                    "was not built by apply_cdc_stream (the persisted "
                    "sequence is what enforces cross-batch ordering). "
                    "Bootstrap a fresh table or backfill the column."
                )
            cur = cur_df.select(
                key_col, F.col(seq_col).alias("__cur_seq")
            )
            latest = (
                latest.join(cur, key_col, "left")
                .where(
                    F.col("__cur_seq").isNull()
                    | (F.col(seq_col) > F.col("__cur_seq"))
                )
                .drop("__cur_seq")
            )
        latest = latest.persist()
        try:
            if latest.isEmpty():
                return
            if not bootstrapped:
                first = latest
                if delete_col is not None and not retain_tombstones:
                    first = latest.where(
                        ~F.coalesce(F.col(delete_col), F.lit(False))
                    ).drop(delete_col)
                if not first.isEmpty():
                    versions.append(snapshot_overwrite(first, table_dir))
                return
            versions.append(
                snapshot_merge(
                    latest,
                    table_dir,
                    key_col,
                    # tombstone mode: a delete is an ordinary upsert of
                    # the flagged row -- it keeps its seq, so the
                    # cross-batch guard covers deletes too
                    delete_col=None if retain_tombstones else delete_col,
                )
            )
        finally:
            latest.unpersist()

    _run_foreach_batch(stream_df, checkpoint_dir, _sink)
    return versions


def compact_tombstones(
    spark: SparkSession,
    table_dir: str,
    seq_col: str,
    delete_col: str,
    older_than_seq,
) -> int | None:
    """Drop aged tombstones from a ``retain_tombstones=True`` CDC
    mirror: commits ONE new snapshot without the rows where
    ``delete_col`` is true AND ``seq_col`` < ``older_than_seq``.
    Returns the committed version, or None when no tombstone qualified
    (no empty commit -- the table is untouched).

    This is the compaction the tombstone trade documents: deleted keys
    occupy a row until their tombstone outlives the maximum expected
    change lateness. The CONTRACT BOUNDARY moves with it -- a stale
    update for a compacted key arriving later has no persisted seq to
    lose against, so it reinserts the key (exactly the hard-delete
    mode's behavior). Size ``older_than_seq`` = current stream seq
    minus the worst-case lateness you must absorb; tombstones at or
    above the bound are KEPT and keep guarding.

    History stays intact: compaction is an ordinary ``overwrite``
    commit on the snapshot log, so pre-compaction versions remain
    time-travelable until ``snapshot_vacuum`` expires them, and the
    read surface (``read_cdc_table``, which filters tombstones anyway)
    is bit-identical before and after. Single-writer assumption as in
    ``apply_cdc_stream``: run compaction from the table's one writer
    (between batches), not as a concurrent second committer."""
    from ..snapshots import snapshot_overwrite, snapshot_read

    cur = snapshot_read(spark, table_dir)
    for col, why in ((seq_col, "sequence"), (delete_col, "tombstone flag")):
        if col not in cur.columns:
            raise ValueError(
                f"table at {table_dir} has no '{col}' column ({why}): "
                "compact_tombstones only applies to tables built with "
                "apply_cdc_stream(..., retain_tombstones=True)"
            )
    dtype = cur.schema[delete_col].dataType.simpleString()
    if dtype != "boolean":
        raise TypeError(
            f"delete_col {delete_col} must be boolean, got {dtype}"
        )
    aged = F.coalesce(F.col(delete_col), F.lit(False)) & (
        F.col(seq_col) < F.lit(older_than_seq)
    )
    cur = cur.persist()
    try:
        if cur.where(aged).isEmpty():
            return None
        return snapshot_overwrite(cur.where(~aged), table_dir)
    finally:
        cur.unpersist()


def read_cdc_table(
    spark: SparkSession, table_dir: str, delete_col: str | None = None
) -> DataFrame:
    """Read a CDC-mirrored snapshot table. For a table maintained with
    ``apply_cdc_stream(..., retain_tombstones=True)``, pass the same
    ``delete_col``: tombstone rows (flag true) are filtered out, so the
    read surface equals the hard-delete mode's while the persisted seq
    keeps late stale updates from resurrecting deleted keys. Raises if
    the column is absent -- silently skipping the filter would leak
    tombstones into downstream counts."""
    from ..snapshots import snapshot_read

    df = snapshot_read(spark, table_dir)
    if delete_col is not None:
        if delete_col not in df.columns:
            raise ValueError(
                f"table at {table_dir} has no '{delete_col}' column: it "
                "was not built with retain_tombstones=True"
            )
        df = df.where(~F.coalesce(F.col(delete_col), F.lit(False)))
    return df
