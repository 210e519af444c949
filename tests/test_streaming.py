"""Streaming runtime tests (T3 watermark, T4 stateful state store).

Strategy: write the events fixture as two parquet "micro-batch" files,
run the stream to completion with trigger(availableNow), and check the
streaming output against the same aggregation computed in plain batch --
the parity the micro-batch execution model guarantees.
"""

from __future__ import annotations

import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
    read_events_stream,
    run_to_memory_sink,
    running_counts,
    windowed_counts,
)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Events split into two micro-batch files by event half."""
    base = tmp_path_factory.mktemp("stream_events")
    ev = read_table(spark, sf_dir, "events")
    mid = ev.selectExpr("percentile_approx(event_id, 0.5)").collect()[0][0]
    ev.where(f"event_id <= {mid}").coalesce(1).write.parquet(
        str(base / "batch=0")
    )
    ev.where(f"event_id > {mid}").coalesce(1).write.parquet(
        str(base / "batch=1")
    )
    return str(base)


def _stream_schema(spark, stream_dir):
    return spark.read.parquet(f"{stream_dir}/batch=0").schema


def test_watermarked_window_counts_match_batch(spark, sf_dir, stream_dir):
    import datetime as dt

    schema = _stream_schema(spark, stream_dir)
    stream = read_events_stream(spark, f"{stream_dir}/batch=*", schema)
    run_to_memory_sink(
        windowed_counts(stream), table_name="t3_out", output_mode="append"
    )
    got = {
        (r.win_start, r.event_type): r.events
        for r in spark.table("t3_out").collect()
    }
    events = read_table(spark, sf_dir, "events")
    batch = windowed_counts(events)
    want = {(r.win_start, r.event_type): r.events for r in batch.collect()}
    # Watermark semantics: append mode emits a window only once the
    # watermark (max event time - 1 h) passes its END; the stream's final
    # windows stay open. Emitted windows must match batch exactly, and the
    # withheld set must be exactly the windows the watermark hadn't passed.
    max_ts = events.agg({"ts": "max"}).collect()[0][0]
    wm = max_ts - dt.timedelta(hours=1)
    want_final = {k: v for k, v in want.items() if k[0] + dt.timedelta(days=1) <= wm}
    assert got == want_final and len(got) > 0
    withheld = set(want) - set(got)
    assert withheld and all(
        k[0] + dt.timedelta(days=1) > wm for k in withheld
    )


def test_stateful_running_counts_accumulate_across_batches(
    spark, sf_dir, stream_dir
):
    schema = _stream_schema(spark, stream_dir)
    # maxFilesPerTrigger=1 forces two micro-batches so state genuinely
    # carries across batch boundaries.
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/batch=*")
        .select("user_id", "event_id")
    )
    run_to_memory_sink(
        running_counts(stream), table_name="t4_out", output_mode="update"
    )
    # update mode emits one row per (user, micro-batch it appeared in);
    # the LAST emission per user is the final cumulative count.
    rows = spark.table("t4_out").collect()
    final: dict[int, int] = {}
    for r in rows:  # memory sink preserves batch order
        final[r.user_id] = r.total_events
    want = {
        r.user_id: r.cnt
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert final == want
    # at least one user must have been updated twice (state carried over)
    from collections import Counter

    per_user_emissions = Counter(r.user_id for r in rows)
    assert max(per_user_emissions.values()) == 2


def test_stream_dedup_bounded_state_matches_batch_distinct(
    spark, sf_dir, stream_dir
):
    """dropDuplicatesWithinWatermark with a watermark longer than the
    fixture's time span dedups exactly: one emitted row per key, equal to
    the batch distinct-key count (shorter watermarks trade exactness for
    state -- the documented at-least-once behavior)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
        dedup_stream,
    )

    schema = _stream_schema(spark, stream_dir)
    stream = read_events_stream(spark, f"{stream_dir}/batch=*", schema)
    run_to_memory_sink(
        dedup_stream(stream, watermark="365 days"),
        table_name="dedup_out",
        output_mode="append",
    )
    got = spark.table("dedup_out")
    ev = read_table(spark, sf_dir, "events")
    want = ev.select("user_id", "event_type").distinct().count()
    assert got.count() == want
    assert got.select("user_id", "event_type").distinct().count() == want


def test_stream_static_enrichment_matches_batch_join(
    spark, sf_dir, stream_dir
):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
        enrich_stream,
    )

    schema = _stream_schema(spark, stream_dir)
    dim = (
        read_table(spark, sf_dir, "customer")
        .selectExpr("c_custkey AS user_id", "c_mktsegment")
    )
    stream = read_events_stream(spark, f"{stream_dir}/batch=*", schema)
    run_to_memory_sink(
        enrich_stream(stream, dim, "user_id"),
        table_name="enrich_out",
        output_mode="append",
    )
    got = spark.table("enrich_out")
    ev = read_table(spark, sf_dir, "events")
    want = ev.join(dim, "user_id", "left")
    assert got.count() == want.count()
    assert (
        got.where("c_mktsegment IS NOT NULL").count()
        == want.where("c_mktsegment IS NOT NULL").count()
    ) and got.where("c_mktsegment IS NOT NULL").count() > 0


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, stream_dir):
    """Inner watermarked stream-stream join emits exactly the batch join
    of the full inputs (match-driven emission); the time-bound condition
    is what makes join state evictable on an unbounded stream."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
        correlate_streams,
    )

    schema = _stream_schema(spark, stream_dir)
    mk = lambda: read_events_stream(spark, f"{stream_dir}/batch=*", schema)
    run_to_memory_sink(
        correlate_streams(mk(), mk()),
        table_name="corr_out",
        output_mode="append",
    )
    got = {
        (r.left_event_id, r.right_event_id)
        for r in spark.table("corr_out").collect()
    }
    ev = read_table(spark, sf_dir, "events")
    l, r = ev.alias("l"), ev.alias("r")
    import pyspark.sql.functions as F

    want = {
        (row.a, row.b)
        for row in l.join(
            r,
            F.expr(
                "l.user_id = r.user_id AND r.ts >= l.ts"
                " AND r.ts <= l.ts + INTERVAL 1 HOUR"
                " AND l.event_id <> r.event_id"
            ),
        )
        .select(F.col("l.event_id").alias("a"), F.col("r.event_id").alias("b"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_hourly_rollup_serves_daily(spark, sf_dir, stream_dir):
    """The continuous-aggregate loop, end to end with a REAL stream: a
    Structured Streaming job materializes HOURLY windowed counts (what a
    deployment keeps in its hourly table); a batch rollup over that
    materialized output -- day bucket = window of the hourly win_start,
    counts summed -- must equal the direct daily aggregate over the raw
    events. Only finalized hourly windows (watermark passed) can roll
    up, mirroring production where the daily table trails the watermark.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    schema = _stream_schema(spark, stream_dir)
    stream = read_events_stream(spark, f"{stream_dir}/batch=*", schema)
    run_to_memory_sink(
        windowed_counts(stream, window="1 hour"),
        table_name="rollup_hourly",
        output_mode="append",
    )
    hourly = spark.table("rollup_hourly")
    assert hourly.count() > 0
    got = {
        (r.day_start, r.event_type): r.events
        for r in hourly.groupBy(
            F.window("win_start", "1 day").alias("day"), "event_type"
        )
        .agg(F.sum("events").alias("events"))
        .select(
            F.col("day.start").alias("day_start"), "event_type", "events"
        )
        .collect()
    }
    events = read_table(spark, sf_dir, "events")
    direct = {
        (r.day_start, r.event_type): r.events
        for r in events.where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("events"))
        .select(
            F.col("day.start").alias("day_start"), "event_type", "events"
        )
        .collect()
    }
    # Days fully covered by finalized hourly windows must match exactly;
    # the trailing day(s) the watermark hasn't closed may be partial.
    max_ts = events.agg({"ts": "max"}).collect()[0][0]
    wm = max_ts - dt.timedelta(hours=1)
    full_days = {
        k: v
        for k, v in direct.items()
        if k[0] + dt.timedelta(days=1) <= wm.replace(
            minute=0, second=0, microsecond=0
        )
    }
    assert len(full_days) > 0
    for k, v in full_days.items():
        assert got.get(k) == v, (k, got.get(k), v)
    # and nothing the rollup emitted for those days disagrees
    partial = {k for k in got if k not in direct}
    assert not partial, f"rollup produced unknown day keys: {partial}"


def test_stream_ingest_dedup_exactly_once_content(spark, tmp_path):
    """foreachBatch ingest with the cross-batch dedup screen: duplicated
    content across (and within) micro-batches lands exactly once, and
    draining the same source again via a fresh stream adds nothing."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_read,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
        ingest_stream_dedup,
    )

    src = tmp_path / "src"
    target = str(tmp_path / "corpus")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / name))

    write_batch("b0", [(1, "alpha"), (2, "beta"), (3, "alpha")])
    write_batch("b1", [(4, "beta"), (5, "gamma")])

    schema = spark.read.parquet(str(src / "b0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(str(src) + "/*")
        .select("doc_id", "text", F.md5("text").alias("digest"))
    )
    ingest_stream_dedup(
        stream,
        target,
        str(tmp_path / "ckpt1"),
        key_col="digest",
        order_col="doc_id",
    )
    got = snapshot_read(spark, target)
    assert got.groupBy("digest").count().where("count > 1").count() == 0
    assert {r["text"] for r in got.collect()} == {"alpha", "beta", "gamma"}

    # replay: a fresh query (new checkpoint) over the same files
    ingest_stream_dedup(
        stream,
        target,
        str(tmp_path / "ckpt2"),
        key_col="digest",
        order_col="doc_id",
    )
    assert snapshot_read(spark, target).count() == 3


def test_stream_ingest_checkpoint_restart_processes_only_new_files(
    spark, tmp_path
):
    """Restarting the SAME checkpoint must not reprocess consumed files
    -- and must pick up files that arrived while the query was down.
    Combined with the dedup screen this is the crash-recovery story:
    source progress from the checkpoint, content idempotence from the
    screen."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_read,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming import (
        ingest_stream_dedup,
    )

    src = tmp_path / "src"
    target = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / name))

    def stream():
        schema = spark.read.parquet(str(src / "b0")).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
            .select("doc_id", "text", F.md5("text").alias("digest"))
        )

    write_batch("b0", [(1, "alpha"), (2, "beta")])
    ingest_stream_dedup(
        stream(), target, ckpt, key_col="digest", order_col="doc_id"
    )
    assert snapshot_read(spark, target).count() == 2

    # downtime: a new file lands; restart on the SAME checkpoint
    write_batch("b1", [(3, "gamma"), (4, "alpha")])
    ingest_stream_dedup(
        stream(), target, ckpt, key_col="digest", order_col="doc_id"
    )
    got = {(r["doc_id"], r["text"]) for r in snapshot_read(spark, target).collect()}
    assert got == {(1, "alpha"), (2, "beta"), (3, "gamma")}

    # idle restart: nothing new => nothing appended
    ingest_stream_dedup(
        stream(), target, ckpt, key_col="digest", order_col="doc_id"
    )
    assert snapshot_read(spark, target).count() == 3
