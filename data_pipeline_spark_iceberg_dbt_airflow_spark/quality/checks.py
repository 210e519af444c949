"""Data-quality checks -- the dbt-test stage as DataFrame assertions.

The reference runs ``dbt test`` as a first-class DAG stage gating every
hourly pipeline run (/root/reference/Iceberg-dbt-project/dags/
bitcoin_pipeline_dag.py:38-41), but ships no schema.yml, so its declared
suite is empty (SURVEY.md §5 caveat). This module implements the four
canonical dbt checks its models imply -- not_null, unique,
accepted_values, relationships -- natively over DataFrames.

Each check returns a failing-row count and never collects rows. At
this scale a check costs Spark jobs, not bytes, so each is compiled to
the fewest jobs its shape allows:

- ``not_null`` on the unmodified frame ``snapshots.snapshot_read``
  returned: 0 jobs, the manifest's NULL counts answer it
  (``snapshots.read_null_counts``), as Iceberg and Delta answer counts
  from their manifests. On any other frame it is a row-local count.
- Row-local counts (``not_null`` on a scan, ``accepted_values``,
  ``expression``): 1 job with no exchange, the RDD count of the filtered
  plan. ``DataFrame.count`` would add a final aggregate whose exchange
  is a second job under AQE.
- ``unique``: 2 jobs, the grouped frame's exchange and one pass over the
  groups, whose excess an ``observe`` sums into a ``noop`` write.
- ``relationships``: an anti-join counted like a row-local count, so 2
  jobs when the parent broadcasts (its collect, then the probe).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..snapshots import read_null_counts


@dataclass(frozen=True)
class CheckResult:
    check: str
    column: str
    passed: bool
    failing_rows: int

    def __str__(self) -> str:  # dbt-style one-liner
        status = "PASS" if self.passed else f"FAIL ({self.failing_rows})"
        return f"{self.check}({self.column}): {status}"


def _count(df: DataFrame) -> int:
    """Rows of ``df``: the RDD count of its physical plan, projected to no
    column. One Spark job per query stage of the plan, so one for a plan
    with no exchange, where ``DataFrame.count`` adds a final aggregate
    whose exchange is a second job."""
    return df.select()._jdf.queryExecution().toRdd().count()


def not_null(df: DataFrame, column: str) -> CheckResult:
    """dbt ``not_null``: no NULLs in ``column``."""
    nulls = read_null_counts(df) or {}
    # Spark parses a dotted or quoted name as a path, not as the
    # top-level column of that name the counts are keyed by
    if column in nulls and "." not in column and "`" not in column:
        n = nulls[column]
    else:
        n = _count(df.where(F.col(column).isNull()))
    return CheckResult("not_null", column, n == 0, n)


def unique(df: DataFrame, column: str) -> CheckResult:
    """dbt ``unique``: no value occurs twice (NULLs ignored, as dbt does).

    Counted as sum of (occurrences - 1) over the values: one
    map-side-combinable groupBy on the column, no full-row shuffle, and
    the sum is observed on the groups as they stream into a ``noop``
    sink rather than reduced by a second exchange.
    """
    obs = Observation()
    (
        df.where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("c"))
        .observe(obs, F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("extra"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    dup = obs.get["extra"]
    return CheckResult("unique", column, dup == 0, int(dup))


def accepted_values(
    df: DataFrame, column: str, values: Sequence[str]
) -> CheckResult:
    """dbt ``accepted_values``: every non-NULL value is in ``values``.

    The canonical instance here: data_source in {coingecko, coincap,
    blockchain_info} (extract_bitcoin_prices.py:56,81,104).
    """
    n = _count(
        df.where(F.col(column).isNotNull()).where(~F.col(column).isin(*values))
    )
    return CheckResult("accepted_values", column, n == 0, n)


def relationships(
    df: DataFrame, column: str, ref_df: DataFrame, ref_column: str
) -> CheckResult:
    """dbt ``relationships``: every non-NULL value exists in the parent
    table -- a LEFT ANTI join (probe side never shuffles when the parent
    key set broadcasts). The parent is not made distinct first: dbt's
    test SQL does not, and duplicate keys change no anti-join result."""
    parent = ref_df.select(F.col(ref_column).alias(column))
    n = _count(
        df.where(F.col(column).isNotNull())
        .select(column)
        .join(parent, column, "left_anti")
    )
    return CheckResult("relationships", column, n == 0, n)


def expression(df: DataFrame, expr: str) -> CheckResult:
    """dbt-utils ``expression_is_true``: every row satisfies a SQL
    predicate (e.g. ``"o_totalprice >= 0"``). NULL predicates count as
    failures -- a constraint a row cannot prove is a constraint it
    fails, matching dbt's generated ``WHERE NOT (expr)`` plus explicit
    NULL handling. A row-local count, like ``accepted_values``."""
    n = _count(df.where(~F.coalesce(F.expr(expr), F.lit(False))))
    return CheckResult("expression", expr, n == 0, n)


def run_checks(results: Sequence[CheckResult]) -> bool:
    """dbt-test gate semantics: True iff every check passed (the DAG edge
    that blocks downstream tasks, bitcoin_pipeline_dag.py:44)."""
    return all(r.passed for r in results)
