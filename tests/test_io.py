"""The testdata reader's footer probe (``io._footer``): nanosecond
timestamps read as microsecond TimestampType with raw-INT64 time bounds
pushed into the scan, and one footer read per part file however many
readers ask."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from data_pipeline_spark_iceberg_dbt_airflow_spark import io

#: 2024-01-01T00:00:00 UTC in nanoseconds since the epoch.
_BASE_NS = 1_704_067_200 * 10**9
_HOUR_NS = 3600 * 10**9


def test_nanos_timestamps_read_floored_and_time_range_pushed(spark, tmp_path):
    # hourly rows; odd hours carry a sub-microsecond remainder (1999 ns
    # floors to 1 µs), and id 6 sits 1 ns before 02:00
    ns = [_BASE_NS + h * _HOUR_NS + (1999 if h % 2 else 0) for h in range(6)]
    ns.append(_BASE_NS + 2 * _HOUR_NS - 1)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(range(len(ns)), pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "ticks.parquet"),
    )
    sf = str(tmp_path)
    assert io._footer(io.table_path(sf, "ticks")).nanos_cols == ("ts",)

    df = io.read_table(spark, sf, "ticks")
    assert df.schema["ts"].dataType == TimestampType()
    got = {
        r["id"]: r["us"]
        for r in df.select("id", F.unix_micros("ts").alias("us")).collect()
    }
    assert got == {i: v // 1000 for i, v in enumerate(ns)}

    rng = io.scan_time_range(
        spark, sf, "ticks", "ts", "2024-01-01T02:00:00", "2024-01-01T04:00:00"
    )
    assert sorted(r["id"] for r in rng.select("id").collect()) == [2, 3]
    plan = rng._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert str(_BASE_NS + 2 * _HOUR_NS) in pushed, pushed
    assert str(_BASE_NS + 4 * _HOUR_NS) in pushed, pushed


def test_one_footer_read_per_part(spark, tmp_path, monkeypatch):
    table = tmp_path / "docs.parquet"
    table.mkdir()
    rows = pa.table({"doc_id": pa.array(range(10), pa.int64())})
    parts = [str(table / "part-00000.parquet"), str(table / "part-00001.parquet")]
    pq.write_table(rows.slice(0, 4), parts[0])
    pq.write_table(rows.slice(4), parts[1])

    reads: Counter = Counter()
    for fn in ("ParquetFile", "read_schema", "read_metadata"):

        def spy(where, *a, _real=getattr(pq, fn), **k):
            reads[str(where)] += 1
            return _real(where, *a, **k)

        monkeypatch.setattr(pq, fn, spy)

    sf = str(tmp_path)
    io.read_table(spark, sf, "docs")
    io.read_table(spark, sf, "docs", widen=True)
    assert io.table_row_count(sf, "docs") == 10
    assert io.table_rows(spark, sf, "docs") == 10
    assert reads == Counter(parts)
