"""D3 quality checks (quality/checks.py) against plain formulations, and
the Spark jobs each check costs.

The checks answer ``not_null`` on an unmodified ``snapshot_read`` frame
from the manifest's NULL counts and count everything else from the
fewest jobs; both paths must give exactly what a plain
``where(...).count()`` gives, through every kind of commit."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from data_pipeline_spark_iceberg_dbt_airflow_spark.quality import (
    accepted_values,
    expression,
    not_null,
    relationships,
    unique,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
    read_null_counts,
    snapshot_append,
    snapshot_merge,
    snapshot_overwrite,
    snapshot_read,
    snapshot_rollback,
    snapshot_summary,
)

from .test_snapshots import _jobs

SCHEMA = "id long, src string, amt double, ref long"
VALUES = ("a", "b")
PREDICATE = "amt >= 0"


def _rows(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _expected(df, parent):
    """Each check's failing rows, formulated as plain filters and counts."""
    present = df.where(F.col("id").isNotNull())
    orphans = (
        df.where(F.col("ref").isNotNull())
        .alias("c")
        .join(parent.alias("p"), F.col("c.ref") == F.col("p.pid"), "left_anti")
    )
    return {
        "not_null": {
            c: df.where(F.col(c).isNull()).count() for c in ("id", "src", "amt")
        },
        "unique": present.count() - present.select("id").distinct().count(),
        "accepted_values": df.where(
            F.col("src").isNotNull() & ~F.col("src").isin(*VALUES)
        ).count(),
        "relationships": orphans.count(),
        "expression": df.where(
            f"NOT ({PREDICATE}) OR ({PREDICATE}) IS NULL"
        ).count(),
    }


def _got(df, parent):
    return {
        "not_null": {
            c: not_null(df, c).failing_rows for c in ("id", "src", "amt")
        },
        "unique": unique(df, "id").failing_rows,
        "accepted_values": accepted_values(df, "src", VALUES).failing_rows,
        "relationships": relationships(df, "ref", parent, "pid").failing_rows,
        "expression": expression(df, PREDICATE).failing_rows,
    }


def test_checks_match_plain_counts_through_every_commit(spark, tmp_path):
    """Planted NULLs, duplicate keys, values outside the accepted set,
    orphan references and NULL or false predicates. On each state the
    checks over the bare snapshot read (the manifest path when the
    snapshot has one live schema) and over a derived frame (the scan
    path) equal the plain counts, and the manifest's NULL counts equal a
    scan's. An evolved schema and a manifest without NULL counts fall
    back to the scan."""
    table, ptable = str(tmp_path / "t"), str(tmp_path / "p")
    snapshot_append(_rows(spark, [(1,), (2,), (None,)], "pid long"), ptable)
    parent = snapshot_read(spark, ptable)

    def check(version=None, metadata=True, merge_schema=False):
        bare = snapshot_read(
            spark, table, version=version, merge_schema=merge_schema
        )
        assert (read_null_counts(bare) is not None) == metadata, version
        derived = bare.where(F.lit(True))
        assert read_null_counts(derived) is None
        want = _expected(bare, parent)
        assert _got(bare, parent) == want, (version, want)
        assert _got(derived, parent) == want, (version, want)
        if metadata:
            nulls = snapshot_summary(table, version=version)["nulls"]
            assert {c: nulls[c] for c in want["not_null"]} == want["not_null"]
        return want

    snapshot_append(
        _rows(
            spark,
            [
                (1, "a", 1.0, 1),
                (1, "b", -1.0, 2),  # duplicate id, false predicate
                (2, None, None, 3),  # NULL src, NULL predicate, orphan
                (None, "zzz", 0.0, None),  # NULL id, bad value
            ],
        ),
        table,
    )  # v0
    snapshot_append(
        _rows(spark, [(3, None, 2.0, 9), (3, "a", None, 1)]), table
    )  # v1
    snapshot_append(_rows(spark, []), table)  # v2: empty append
    want = check()
    assert want["not_null"] == {"id": 1, "src": 2, "amt": 2}
    assert want["unique"] == 2 and want["relationships"] == 2
    assert want["accepted_values"] == 1 and want["expression"] == 3

    evolved = _rows(
        spark, [(None, "c", -5.0, 2, 0.5)], SCHEMA + ", score double"
    )
    snapshot_append(evolved, table)  # v3: two live schemas
    check(metadata=False)
    check(metadata=False, merge_schema=True)
    assert check(version=2) == want  # an old version keeps its counts

    snapshot_rollback(table, 2)  # v4: the target's counts
    assert check() == want

    snapshot_overwrite(
        _rows(spark, [(7, None, None, None), (7, "q", 1.0, 5)]), table
    )  # v5
    check()

    snapshot_merge(
        _rows(spark, [(7, "a", None, 1), (8, None, -1.0, 4)]), table, "id"
    )  # v6
    want = check()
    assert want["not_null"] == {"id": 0, "src": 1, "amt": 1}

    # a manifest written before NULL counts existed: scan instead
    mpath = os.path.join(table, "_snapshots", "v00000006.json")
    with open(mpath) as f:
        m = json.load(f)
    del m["nulls"]
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert snapshot_summary(table)["nulls"] is None
    assert check(metadata=False) == want
    snapshot_append(_rows(spark, [(9, None, 1.0, 1)]), table)  # v7
    assert snapshot_summary(table)["nulls"] is None  # unknown stays unknown
    check(metadata=False)


def test_check_job_counts(spark, tmp_path):
    """``not_null`` on a bare snapshot read runs no Spark job; the
    row-local checks on a derived frame run one; ``unique`` and
    ``relationships`` against a broadcast parent run at most two."""
    table, ptable = str(tmp_path / "t"), str(tmp_path / "p")
    rows = [(i % 50, VALUES[i % 2], float(i), i % 7) for i in range(400)]
    snapshot_append(_rows(spark, rows), table)
    snapshot_append(_rows(spark, rows[:10]), table)
    snapshot_append(_rows(spark, [(i,) for i in range(5)], "pid long"), ptable)
    bare = snapshot_read(spark, table)
    derived = bare.where("id >= 0")
    parent = snapshot_read(spark, ptable)

    result, jobs = _jobs(spark, lambda: not_null(bare, "src"))
    assert jobs == 0 and result.passed
    for check in (
        lambda: not_null(derived, "src"),
        lambda: accepted_values(derived, "src", VALUES),
        lambda: expression(derived, PREDICATE),
    ):
        result, jobs = _jobs(spark, check)
        assert jobs == 1 and result.passed, (result, jobs)
    result, jobs = _jobs(spark, lambda: unique(derived, "id"))
    assert jobs <= 2 and result.failing_rows == 360, (result, jobs)
    result, jobs = _jobs(
        spark, lambda: relationships(derived, "ref", parent, "pid")
    )
    assert jobs <= 2 and result.failing_rows == 116, (result, jobs)
