"""Incremental materialization -- process only what's new.

The reference's whole pipeline is incremental in shape: an hourly append
of ~3 rows into the raw table (Iceberg-dbt-project
dags/bitcoin_pipeline_dag.py:19, scripts/extract_bitcoin_prices.py:193)
followed by full-refresh dbt models. dbt's own scale answer for the
model layer is the INCREMENTAL materialization (is_incremental() + a
high-watermark predicate); this module provides that materialization
for the runner: at 100 TB you do not rebuild a fact table per run, you
transform the rows that arrived since the last run and append.

The target is a snapshot table (``snapshots.py``), the same
log-structured format as the raw and fct tables: every run commits its
delta as ONE append snapshot, so a run is atomic (a crash before the
manifest publish leaves an orphan directory no reader sees, swept by
``snapshot_vacuum``) and every run boundary stays time-travelable
(``snapshot_read(version=k)`` is the target as of run k). First run vs
later run is ``snapshot_exists`` -- a manifest-name check, no Spark job;
the first run is an append to an empty log. There is no overwrite path,
so no read fault on an existing target can turn into a rebuild: an
unreadable log (a torn manifest) raises.

Semantics (mirroring dbt's defaults):
- First run = full build of the target.
- Later runs filter the source to ``watermark_col > max(watermark_col in
  target)`` and append the transformed delta. The high-watermark comes
  from the target's manifest summary (``snapshots.snapshot_summary``),
  as Iceberg plans it from manifest column bounds: no Spark job. A
  watermark column must therefore be an integer, floating-point, date
  or timestamp column (``snapshots.STAT_TYPES``); any other type
  raises ``TypeError``. A warm run costs one Spark job, the delta's
  write. A run with no new rows still commits (an empty append), so
  the log holds one version per run.
- Rows at-or-before the watermark that arrive LATE are dropped, dbt's
  documented incremental caveat; ``lookback`` re-opens a margin of
  ``watermark_col > hw - lookback`` for them, paired with ``unique_key``
  dedup so reprocessed rows don't double-append (the standard
  late-arrival recipe). The anti-join touches only the reprocessed
  window's keys against the target's keys -- at scale, restrict the
  target-side scan to recent partitions.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..snapshots import (
    snapshot_append,
    snapshot_exists,
    snapshot_read,
    snapshot_summary,
)


def incremental_append(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    *,
    watermark_col: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    lookback: Column | Any | None = None,
    unique_key: str | None = None,
) -> DataFrame:
    """Materialize ``transform(source)`` into the snapshot table at
    ``target_path`` incrementally.

    Returns the post-commit target DataFrame. ``transform`` must be
    row-local with respect to ``watermark_col`` windows (a projection /
    filter / per-row derivation) -- the same restriction dbt's incremental
    models live with: aggregates over all history need a full-refresh
    model instead.
    """
    delta = source
    if snapshot_exists(target_path):
        summary = snapshot_summary(target_path)
        if watermark_col not in summary["stats"]:
            raise TypeError(
                f"watermark column {watermark_col!r} of {target_path} has "
                "no recorded max: it must be an integer, floating-point, "
                "date or timestamp column"
            )
        hw = summary["stats"][watermark_col][1]
        if hw is not None:
            floor = F.lit(hw) if lookback is None else F.lit(hw) - lookback
            delta = source.where(F.col(watermark_col) > floor)
            if lookback is not None and unique_key is not None:
                target = snapshot_read(
                    spark, target_path, version=summary["version"]
                )
                seen = target.where(F.col(watermark_col) > floor).select(
                    unique_key
                )
                delta = delta.join(seen, unique_key, "left_anti")
    out = transform(delta) if transform is not None else delta
    snapshot_append(out, target_path)
    return snapshot_read(spark, target_path)


def incremental_dedup_append(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    *,
    key_col: str,
    order_col: str,
    bits_per_key: int = 10,
) -> DataFrame:
    """Append a new ingest batch, keeping only content never seen before
    -- the incremental face of exact dedup at corpus scale.

    A 100 TB corpus is not deduplicated in one shot; it accretes batch
    by batch, and each batch must be screened against EVERYTHING already
    ingested. The screen here is the bloom blocklist gate
    (``operators/bloom.blocklist_screen``) built over the target's
    digest column: the prior-corpus read is column-pruned to the 16-byte
    key, the filter build's shuffle is filter-sized, and the new batch
    never shuffles except for its ~1% bloom-maybe slice, which pays the
    exact anti-join that removes true duplicates and restores false
    positives. Replaying an already-ingested batch appends nothing
    (idempotent ingest).

    Within the batch itself, keep-first-by-``order_col`` resolves
    intra-batch duplicates before the cross-corpus screen (same
    semantics as ``dedup_exact_keep_first``). NULL-key rows are DROPPED
    at ingest: a NULL content digest is not ingestable content, and
    keeping it would break idempotency -- the bloom gate passes NULL
    keys through as unlistable and ``left_anti`` never matches NULL, so
    every at-least-once replay would re-append the NULL-key row. The
    streaming path (``streaming.jobs.ingest_stream_dedup``) relies on
    this for its exactly-once-content claim. Each call is one atomic
    append commit to the snapshot table at ``target_path`` (an empty one
    on a replay). Returns the post-append target.
    """
    from ..operators.bloom import blocklist_screen

    batch = batch.where(F.col(key_col).isNotNull())
    w = Window.partitionBy(key_col).orderBy(F.asc_nulls_last(order_col))
    in_batch = (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    fresh = in_batch
    if snapshot_exists(target_path):
        prior_keys = snapshot_read(spark, target_path).select(key_col)
        fresh = blocklist_screen(
            in_batch, prior_keys, key_col, bits_per_key=bits_per_key
        )
    snapshot_append(fresh, target_path)
    return snapshot_read(spark, target_path)
