"""Reference-surface queries (SURVEY.md §2.1-§2.2, §2.6-§2.7) mapped onto the
driver's ``events`` table.

FIXTURES.md maps the stream-shaped ``events`` table onto the reference's raw
table: ``ts / event_type / value`` ≅ ``extracted_at / source / price_usd``.
Each query here is a cited reference behavior re-expressed in PySpark; the
paired oracle is the same ANSI SQL DuckDB runs on the identical parquet.

Registry budget note (round 3): 5 consolidated entries (was 8). The two
verification read-backs (O1 top-k, O2 limit) merged into one two-branch
query; the two pushdown scans (time-range pruning, filter pushdown) merged
into one scan carrying both predicate kinds. P4 identity/`SELECT *` is a
strict subset of ref_staging_projection's scan (and is asserted directly in
tests/test_operators.py), so it no longer spends a registry slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import det
from ..io import read_table, scan_time_range
from ..plans.models import fct_daily
from .registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


@register(
    "ref_staging_projection",
    oracle="""
        SELECT event_id,
               event_type AS data_source,
               COALESCE(value, 0) AS value_usd,
               CAST(ts AS DATE) AS extraction_date
        FROM events
    """,
    doc="stg_bitcoin_prices model shape (P1 rename, P2 coalesce, P3 derive; "
    "README.md:368-384) applied to events. P4 identity/star is a strict "
    "subset of this scan (asserted in tests/test_operators.py).",
    tags=("reference", "projection"),
)
def ref_staging_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        F.col("event_id"),
        F.col("event_type").alias("data_source"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_usd"),
        F.to_date("ts").alias("extraction_date"),
    )


@register(
    "ref_fct_daily",
    oracle=f"""
        SELECT CAST(ts AS DATE) AS extraction_date,
               event_type AS data_source,
               MIN(value) AS min_price_usd,
               MAX(value) AS max_price_usd,
               {det.oracle_davg("value")} AS avg_price_usd,
               COUNT(*) AS records
        FROM (SELECT ts, event_type, COALESCE(value, 0) AS value FROM events)
        GROUP BY 1, 2
    """,
    doc="FLAGSHIP: fct_bitcoin_daily (A1 grouped MIN/MAX/AVG/COUNT; "
    "README.md:386-400) over the staged events. AVG uses the engine's "
    "deterministic exact-decimal accumulation (functions/det.py).",
    bench=True,
    tags=("reference", "aggregate"),
)
def ref_fct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    stg = ev.select(
        F.to_date("ts").alias("extraction_date"),
        F.col("event_type").alias("data_source"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("price_usd"),
    )
    return fct_daily(stg, group_keys=("extraction_date", "data_source"))


@register(
    "ref_verification_reads",
    oracle="""
        SELECT 'latest' AS kind, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM (SELECT * FROM events ORDER BY ts DESC, event_id DESC LIMIT 5)
        UNION ALL
        SELECT 'head' AS kind, event_id, CAST(ts AS TIMESTAMP) AS ts,
               event_type, value
        FROM (SELECT * FROM events ORDER BY event_id LIMIT 10)
    """,
    doc="O1 + O2 verification read-backs, consolidated (was ref_topk_latest "
    "+ ref_limit_scan): kind='latest' is the reference's ORDER BY ts DESC "
    "LIMIT 5 spot-check (extract_bitcoin_prices.py:203; event_id tiebreak "
    "for determinism), kind='head' its LIMIT 10 browse (README.md:297) "
    "made deterministic by ordering on the key. Both branches plan as "
    "TakeOrderedAndProject -- per-partition top-k heaps merged at the "
    "driver, no global sort at any scale.",
    tags=("reference", "topk"),
)
def ref_verification_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    cols = ["event_id", "ts", "event_type", "value"]
    latest = (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(5)
        .select(F.lit("latest").alias("kind"), *cols)
    )
    head = (
        ev.orderBy("event_id")
        .limit(10)
        .select(F.lit("head").alias("kind"), *cols)
    )
    return latest.unionByName(head)


@register(
    "ref_union_sources",
    oracle="""
        SELECT event_id, 'feed_a' AS source, value AS price_usd FROM events
        WHERE event_type = 'click'
        UNION ALL
        SELECT event_id, 'feed_b' AS source,
               CAST(CAST(value * 0.85 AS DECIMAL(27,6)) AS DOUBLE) AS price_usd
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT event_id, 'feed_c' AS source, CAST(NULL AS DOUBLE) AS price_usd
        FROM events WHERE event_type = 'error'
    """,
    doc="§2.7 multi-source batch assembly: the extractor's 3-way list append "
    "(extract_bitcoin_prices.py:150-172) incl. S2's fixed-FX derivation "
    "(*0.85, :84) and S3's NULL padding (:109-111). The branches are disjoint "
    "filters over ONE table, so the Spark plan multiplexes a SINGLE scan with "
    "CASE projections instead of the literal 3-scan UNION ALL (at 100 TB a "
    "triple scan of the same source is pure waste); the oracle keeps the "
    "UNION ALL form -- identical rows, different physical strategy.",
    tags=("reference", "setop"),
)
def ref_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    et = F.col("event_type")
    return ev.filter(et.isin("click", "view", "error")).select(
        "event_id",
        F.when(et == "click", F.lit("feed_a"))
        .when(et == "view", F.lit("feed_b"))
        .otherwise(F.lit("feed_c"))
        .alias("source"),
        F.when(et == "click", F.col("value"))
        .when(
            et == "view",
            # decimal-cast instead of ROUND: identical half-boundary behavior
            # in Spark and DuckDB (functions/det.py rationale)
            (F.col("value") * F.lit(0.85)).cast("decimal(27,6)").cast("double"),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("price_usd"),
    )


@register(
    "ref_pruned_filter_scan",
    oracle="""
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts <  TIMESTAMP '2024-01-20 00:00:00'
          AND event_type = 'purchase' AND value > 50
    """,
    doc="P5 + S7 pushdown scan, consolidated (was ref_time_range_pruned + "
    "ref_filter_pushdown): one scan carrying BOTH predicate kinds pushed "
    "into the parquet reader. The time range is the engine analog of the "
    "reference's hidden day-partition pruning (days(extracted_at), "
    "extract_bitcoin_prices.py:144): the ns timestamp is compared as raw "
    "INT64 bounds BEFORE conversion so row-group min/max stats skip "
    "everything outside the window; the equality/value predicates and the "
    "4-column projection push alongside (PushedFilters/ReadSchema "
    "plan-asserted in tests) -- the 100 TB make-or-break for time-series "
    "scans.",
    tags=("reference", "filter", "pruning"),
)
def ref_pruned_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = scan_time_range(
        spark, sf_dir, "events", "ts", "2024-01-10T00:00:00", "2024-01-20T00:00:00"
    )
    return df.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 50)
    ).select("event_id", "user_id", "ts", "value")
