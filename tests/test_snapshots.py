"""Engine-native snapshots/time-travel (snapshots.py): the S11 contract
without the Iceberg runtime jar -- append/overwrite lineage, metadata
scan, version and timestamp reads, and optimistic-commit conflicts."""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
    snapshot_append,
    snapshot_overwrite,
    snapshot_read,
    snapshot_versions,
)


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, v string")


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_append_overwrite_lineage_and_time_travel(spark, table):
    v0 = snapshot_append(_df(spark, [1, 2]), table)
    v1 = snapshot_append(_df(spark, [3]), table)
    v2 = snapshot_overwrite(_df(spark, [9]), table)
    v3 = snapshot_append(_df(spark, [10]), table)
    assert (v0, v1, v2, v3) == (0, 1, 2, 3)

    def ids(df):
        return sorted(r["id"] for r in df.collect())

    # latest
    assert ids(snapshot_read(spark, table)) == [9, 10]
    # every historical version reproduces exactly
    assert ids(snapshot_read(spark, table, version=0)) == [1, 2]
    assert ids(snapshot_read(spark, table, version=1)) == [1, 2, 3]
    assert ids(snapshot_read(spark, table, version=2)) == [9]

    meta = {r["version"]: r for r in snapshot_versions(spark, table).collect()}
    assert meta[0]["parent"] is None and meta[0]["operation"] == "append"
    assert meta[2]["parent"] == 1 and meta[2]["operation"] == "overwrite"
    assert meta[1]["n_dirs"] == 2 and meta[2]["n_dirs"] == 1
    # commit timestamps strictly ordered (time_ns resolution)
    ts = [meta[v]["committed_at_ns"] for v in range(4)]
    assert ts == sorted(ts) and len(set(ts)) == 4

    # time travel by timestamp: at v1's instant, read v1's content
    assert ids(
        snapshot_read(spark, table, as_of_ns=meta[1]["committed_at_ns"])
    ) == [1, 2, 3]
    # just before the first commit: no snapshot
    with pytest.raises(ValueError):
        snapshot_read(spark, table, as_of_ns=ts[0] - 1)


def test_commit_conflict_retries(spark, table, monkeypatch):
    """Optimistic concurrency, with the race genuinely exercised: the
    loser reads STALE state (the winner's commit hidden on first load),
    targets the same version, hits the exclusive-create conflict, and
    retries -- landing at N+1 computed against the winner's state (the
    append keeps the winner's rows)."""
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap

    snapshot_append(_df(spark, [1]), table)
    mdir = os.path.join(table, "_snapshots")
    # racing winner publishes v1 (same data dirs, for simplicity)
    with open(os.path.join(mdir, "v00000000.json")) as f:
        winner = json.load(f)
    winner.update(version=1, parent=0)
    with open(os.path.join(mdir, "v00000001.json"), "x") as f:
        json.dump(winner, f)

    real = snap._versions
    calls = {"n": 0}

    def stale_once(table_dir):
        calls["n"] += 1
        vs = real(table_dir)
        return vs[:-1] if calls["n"] == 1 else vs  # hide the winner once

    monkeypatch.setattr(snap, "_versions", stale_once)
    v = snapshot_append(_df(spark, [2]), table)
    assert v == 2
    assert calls["n"] >= 2  # the retry actually ran
    got = sorted(r["id"] for r in snapshot_read(spark, table).collect())
    assert got == [1, 2]  # winner's state + the new row


def test_read_errors(spark, table):
    with pytest.raises(ValueError):
        snapshot_read(spark, table)  # no snapshots yet
    snapshot_append(_df(spark, [1]), table)
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=7)
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=0, as_of_ns=1)


def test_rollback_is_a_new_commit(spark, table):
    """Rollback republishes an old snapshot's state as a NEW version --
    history stays intact and inspectable, and the rollback itself is
    time-travelable (Iceberg semantics)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_rollback,
    )

    snapshot_append(_df(spark, [1]), table)  # v0
    snapshot_overwrite(_df(spark, [9]), table)  # v1: the bad commit
    v = snapshot_rollback(table, 0)
    assert v == 2
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == [1]
    # the bad snapshot is still there for inspection
    assert sorted(
        r["id"] for r in snapshot_read(spark, table, version=1).collect()
    ) == [9]
    meta = {r["version"]: r for r in snapshot_versions(spark, table).collect()}
    assert meta[2]["operation"] == "rollback" and meta[2]["parent"] == 1
    with pytest.raises(ValueError):
        snapshot_rollback(table, 44)


def _jobs(spark, fn):
    """``fn()`` and the Spark jobs it ran, counted by job group as
    ``perfbench/harness.JobAccount`` counts them."""
    import uuid

    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _live_dirs(table):
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap

    return snap._live_paths(table, snap._latest(table))


def _same_as_inferred(got, inferred):
    assert got.schema == inferred.schema
    key = lambda r: str(r)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(inferred.collect(), key=key)


def test_read_plans_from_the_manifest_without_jobs(spark, table):
    """A read passes the schema its manifest recorded: planning runs no
    Spark job, and columns, types (nested nullability and field
    metadata included) and rows equal what footer inference gives."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DecimalType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    def schema(strict):
        nullable = not strict
        return StructType(
            [
                StructField("id", LongType(), nullable, {"comment": "key"}),
                StructField("d", DateType()),
                StructField("ntz", TimestampNTZType()),
                StructField("amt", DecimalType(12, 3)),
                StructField("tags", ArrayType(StringType(), nullable)),
                StructField(
                    "attrs", MapType(StringType(), IntegerType(), nullable)
                ),
                StructField(
                    "pt",
                    StructType([StructField("x", IntegerType(), nullable)]),
                    nullable,
                ),
            ]
        )

    # commits alternate NOT NULL and nullable spellings of one schema:
    # Parquet stores both as nullable, so the log holds one schema
    for i in range(3):
        snapshot_append(
            spark.createDataFrame(
                [
                    (
                        i,
                        dt.date(2024, 1, 1 + i),
                        dt.datetime(2024, 1, 1, i),
                        Decimal("1.250"),
                        ["a", "b"],
                        {"k": i},
                        (i,),
                    )
                ],
                schema(strict=i % 2 == 0),
            ),
            table,
        )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_summary,
    )

    assert len(snapshot_summary(table)["schemas"]) == 1
    assert set(snapshot_summary(table)["stats"]) == {"id", "d", "ntz"}
    dirs = _live_dirs(table)
    got, jobs = _jobs(spark, lambda: snapshot_read(spark, table))
    assert jobs == 0
    _same_as_inferred(got, spark.read.parquet(*dirs))
    got, jobs = _jobs(
        spark, lambda: snapshot_read(spark, table, merge_schema=True)
    )
    assert jobs == 0
    _same_as_inferred(got, spark.read.option("mergeSchema", "true").parquet(*dirs))


def test_schema_evolution_across_appends(spark, table):
    """Appends may add columns; merge_schema=True reads the union with
    NULLs for pre-evolution directories, and historical versions still
    read with their own schema. Both reads plan from the manifest with
    no Spark job. The union equals Spark's ``mergeSchema`` inference;
    the plain read takes the oldest live schema, where inference would
    take the schema of whichever uuid-named directory sorts first."""
    snapshot_append(_df(spark, [1]), table)
    evolved = spark.createDataFrame([(2, "r2", 7.5)], "id long, v string, score double")
    snapshot_append(evolved, table)
    out, jobs = _jobs(
        spark, lambda: snapshot_read(spark, table, merge_schema=True)
    )
    assert jobs == 0
    assert set(out.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert rows == {1: None, 2: 7.5}
    dirs = _live_dirs(table)
    _same_as_inferred(out, spark.read.option("mergeSchema", "true").parquet(*dirs))
    plain, jobs = _jobs(spark, lambda: snapshot_read(spark, table))
    assert jobs == 0
    assert plain.columns == ["id", "v"]
    assert sorted(plain.collect()) == [(1, "r1"), (2, "r2")]
    assert set(snapshot_read(spark, table, version=0).columns) == {"id", "v"}
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_summary,
    )

    stats = snapshot_summary(table)["stats"]
    assert stats == {"id": (1, 2), "score": (7.5, 7.5)}


def test_manifest_summary_matches_aggregates(spark, table):
    """Every version's manifest summary equals what Spark aggregates over
    that version's read: row count, and min and max (so the incremental
    high-watermark) of every integer, floating-point, date and
    timestamp column -- through empty commits (NULL stats), appends, a
    NaN (Spark ranks it above every double), overwrite, rollback and
    merge. String columns record no stats."""
    import datetime as dt
    import math

    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_merge,
        snapshot_rollback,
        snapshot_summary,
    )

    t0 = dt.datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            rows, "id long, ts timestamp, d date, x double, n int, v string"
        )

    def row(i, x):
        return (
            i,
            t0 + dt.timedelta(hours=i, microseconds=i),
            (t0 + dt.timedelta(days=i)).date(),
            x,
            i % 3,
            f"r{i}",
        )

    snapshot_append(mk([]), table)  # v0: empty, NULL stats
    snapshot_append(mk([row(1, 1.5), row(2, -2.0)]), table)  # v1
    snapshot_append(mk([row(5, 0.0)]).where("id > 9"), table)  # v2: empty
    snapshot_append(mk([row(3, float("nan"))]), table)  # v3
    snapshot_overwrite(mk([row(7, 0.25)]), table)  # v4
    snapshot_rollback(table, 3)  # v5
    snapshot_merge(mk([row(2, 9.0), row(8, None)]), table, "id")  # v6

    def same(a, b):
        return a == b or (
            isinstance(a, float) and isinstance(b, float)
            and math.isnan(a) and math.isnan(b)
        )

    cols = ["id", "ts", "d", "x", "n"]
    for v in range(7):
        summary = snapshot_summary(table, version=v)
        agg = snapshot_read(spark, table, version=v).agg(
            F.count(F.lit(1)),
            *[f(c) for c in cols for f in (F.min, F.max)],
        ).first()
        assert summary["rows"] == agg[0], v
        assert list(summary["stats"]) == cols, v
        for i, c in enumerate(cols):
            lo, hi = summary["stats"][c]
            assert same(lo, agg[1 + 2 * i]) and same(hi, agg[2 + 2 * i]), (
                v, c, summary["stats"][c], agg,
            )
    assert snapshot_summary(table, version=0)["stats"]["ts"] == (None, None)
    assert math.isnan(snapshot_summary(table, version=3)["stats"]["x"][1])


def test_vacuum_sweeps_orphans_and_expired_history(spark, table):
    """Vacuum deletes only what no surviving manifest references: a
    planted lost-race orphan goes immediately; expiring history with
    keep_versions frees dirs held only by expired snapshots; every
    surviving version still reads exactly."""
    import os

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1]), table)  # v0
    snapshot_overwrite(_df(spark, [2]), table)  # v1 (v0's dir now held only by v0)
    snapshot_append(_df(spark, [3]), table)  # v2
    # plant a lost-race orphan dir
    orphan = os.path.join(table, "data", "99999999-deadbeef")
    _df(spark, [7]).write.mode("overwrite").parquet(orphan)

    removed = snapshot_vacuum(table)
    assert removed == [orphan]
    # nothing referenced was touched
    assert sorted(r["id"] for r in snapshot_read(spark, table, version=0).collect()) == [1]

    # expire v0: its exclusive dir becomes an orphan and is swept
    removed = snapshot_vacuum(table, keep_versions=2)
    assert len(removed) == 1
    vs = sorted(r["version"] for r in snapshot_versions(spark, table).collect())
    assert vs == [1, 2]
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=0)
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == [2, 3]


def test_vacuum_immune_to_table_dir_spelling(spark, table):
    """Liveness is compared on manifest-stored BASENAMES: vacuuming
    through a differently-spelled path to the same table must delete
    nothing live (a raw path string-compare would delete everything)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1]), table)
    spelled = os.path.join(os.path.dirname(table), ".", os.path.basename(table))
    assert snapshot_vacuum(spelled) == []
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == [1]


def test_vacuum_rejects_keep_versions_zero(spark, table):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1]), table)
    with pytest.raises(ValueError):
        snapshot_vacuum(table, keep_versions=0)
    assert snapshot_read(spark, table).count() == 1


def test_table_survives_a_move(spark, table, tmp_path):
    """Manifests store relative names, so a moved/renamed table keeps
    its whole history readable from the new location."""
    import shutil

    snapshot_append(_df(spark, [1]), table)
    snapshot_append(_df(spark, [2]), table)
    moved = str(tmp_path / "relocated")
    shutil.move(table, moved)
    assert sorted(r["id"] for r in snapshot_read(spark, moved).collect()) == [1, 2]
    assert snapshot_read(spark, moved, version=0).count() == 1


def test_merge_upserts_deletes_and_preserves_history(spark, table):
    """MERGE semantics over the snapshot layer: matched keys replaced,
    new keys inserted, delete-flagged keys removed -- one commit, with
    the pre-merge snapshot still time-travelable; NULL-key updates are
    rejected (replay idempotency)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_merge,
    )

    snapshot_append(_df(spark, [1, 2, 3]), table)  # v0
    updates = spark.createDataFrame(
        [
            (2, "r2-new", False),  # update
            (4, "r4", False),  # insert
            (3, "whatever", True),  # delete
        ],
        "id long, v string, is_delete boolean",
    )
    v = snapshot_merge(updates, table, "id", delete_col="is_delete")
    assert v == 1
    got = {r["id"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {1: "r1", 2: "r2-new", 4: "r4"}
    # pre-merge state intact
    assert sorted(
        r["id"] for r in snapshot_read(spark, table, version=0).collect()
    ) == [1, 2, 3]
    meta = {r["version"]: r for r in snapshot_versions(spark, table).collect()}
    assert meta[1]["operation"] == "merge"

    bad = spark.createDataFrame([(None, "x")], "id long, v string")
    with pytest.raises(ValueError):
        snapshot_merge(bad, table, "id")


def test_streaming_ingest_commits_snapshots(spark, tmp_path):
    """Each micro-batch lands as one atomic append commit: versions
    accumulate, the latest read unions all batches, and any batch
    boundary is time-travelable."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming.jobs import (
        ingest_stream_snapshots,
    )

    src = tmp_path / "src"
    src.mkdir()
    schema = StructType(
        [StructField("id", LongType()), StructField("v", StringType())]
    )
    _df(spark, [1, 2]).write.parquet(str(src / "b0"))
    _df(spark, [3]).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    table = str(tmp_path / "tbl")
    versions = ingest_stream_snapshots(
        stream, table, str(tmp_path / "ckpt")
    )
    assert len(versions) >= 1
    got = sorted(r["id"] for r in snapshot_read(spark, table).collect())
    assert got == [1, 2, 3]
    # the first committed version is a strict prefix of the data
    first = snapshot_read(spark, table, version=versions[0]).count()
    assert first <= 3


def test_merge_preserves_evolved_schema(spark, table):
    """MERGE against a schema-evolved table must not drop the later-
    added column: the base is read with mergeSchema and the union is
    by name with NULL fill, so 'score' survives the rewrite."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_merge,
    )

    snapshot_append(_df(spark, [1, 2]), table)  # v0: (id, v)
    snapshot_append(
        spark.createDataFrame(
            [(3, "r3", 0.9)], "id long, v string, score double"
        ),
        table,
    )  # v1 adds score
    updates = spark.createDataFrame(
        [(2, "r2-new", 0.5)], "id long, v string, score double"
    )
    snapshot_merge(updates, table, "id")
    got = {
        r["id"]: (r["v"], r["score"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {
        1: ("r1", None),
        2: ("r2-new", 0.5),
        3: ("r3", 0.9),
    }


def test_merge_conflict_raises_not_lost_update(spark, table, monkeypatch):
    """A concurrent append landing between merge's read and publish
    must raise SnapshotConflictError -- NOT silently commit content
    derived from the stale base (which would erase the append)."""
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap

    snapshot_append(_df(spark, [1, 2]), table)  # v0
    real_publish = snap._publish
    fired = {"done": False}

    def racing_publish(table_dir, version, manifest):
        if not fired["done"] and manifest["operation"] == "merge":
            fired["done"] = True
            monkeypatch.undo()
            snapshot_append(_df(spark, [9]), table)  # concurrent v1
        return real_publish(table_dir, version, manifest)

    monkeypatch.setattr(snap, "_publish", racing_publish)
    updates = spark.createDataFrame([(2, "r2-new")], "id long, v string")
    with pytest.raises(snap.SnapshotConflictError):
        snap.snapshot_merge(updates, table, "id")
    # the concurrent append's row is intact at latest
    assert sorted(
        r["id"] for r in snapshot_read(spark, table).collect()
    ) == [1, 2, 9]


def test_merge_rejects_duplicate_and_badly_typed_updates(spark, table):
    """Two source rows for one key is the ambiguous-MERGE error every
    lakehouse raises; a non-boolean delete_col is a TypeError (a lossy
    cast would silently turn updates into deletes)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_merge,
    )

    snapshot_append(_df(spark, [1, 2]), table)
    dup = spark.createDataFrame(
        [(2, "a"), (2, "b")], "id long, v string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        snapshot_merge(dup, table, "id")
    stringy = spark.createDataFrame(
        [(2, "a", "yes")], "id long, v string, is_delete string"
    )
    with pytest.raises(TypeError, match="boolean"):
        snapshot_merge(stringy, table, "id", delete_col="is_delete")
    # nothing committed by the rejected merges
    assert sorted(
        r["id"] for r in snapshot_read(spark, table).collect()
    ) == [1, 2]


def test_legacy_full_path_manifests_read_and_vacuum_safely(spark, table):
    """Manifests written by the pre-basename format stored full dir
    paths; the loader normalizes them so reads resolve and vacuum can
    never mistake a live dir for an orphan and delete the table."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1, 2]), table)
    mpath = os.path.join(table, "_snapshots", "v00000000.json")
    with open(mpath) as f:
        m = json.load(f)
    m["dirs"] = [os.path.join(table, "data", d) + "/" for d in m["dirs"]]
    with open(mpath, "w") as f:
        json.dump(m, f)
    assert snapshot_vacuum(table) == []  # live dir NOT treated as orphan
    assert sorted(
        r["id"] for r in snapshot_read(spark, table).collect()
    ) == [1, 2]


def test_vacuum_sweeps_leaked_tmp_manifests(spark, table):
    """A writer killed between the temp write and the hard link leaks
    .tmp-<uuid> in _snapshots/; vacuum reclaims it -- but only past the
    age gate, so a FRESH temp file (an in-flight _publish) survives."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1]), table)
    leak = os.path.join(table, "_snapshots", ".tmp-deadbeef")
    with open(leak, "w") as f:
        f.write('{"version": 99')  # truncated, as a crash would leave
    assert snapshot_vacuum(table) == []  # fresh: inside the grace window
    assert os.path.exists(leak)
    removed = snapshot_vacuum(table, tmp_grace_s=0.0)
    assert leak in removed and not os.path.exists(leak)
    assert sorted(
        r["id"] for r in snapshot_read(spark, table).collect()
    ) == [1]


def test_publish_retries_when_vacuum_sweeps_tmp(spark, table, monkeypatch):
    """A vacuum racing an in-flight _publish (outside the documented
    contract) sweeps the temp manifest between write and link; the
    commit must retry under a fresh uuid rather than crash."""
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap

    real_link = os.link
    swept = {"n": 0}

    def racing_link(src, dst):
        if swept["n"] == 0:
            swept["n"] += 1
            os.remove(src)  # the racing vacuum wins once
        return real_link(src, dst)

    monkeypatch.setattr(snap.os, "link", racing_link)
    snapshot_append(_df(spark, [1]), table)
    assert swept["n"] == 1
    assert sorted(
        r["id"] for r in snapshot_read(spark, table).collect()
    ) == [1]


def test_real_concurrent_appends_all_land(spark, table):
    """Six genuinely concurrent appends (threads, no monkeypatch): the
    optimistic-commit loop must give every writer its own version,
    versions come out contiguous, and the final snapshot unions all
    six batches -- no lost update, no duplicate version, no orphan
    referenced."""
    import threading

    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [0]), table)  # v0
    results, errors = [], []

    def writer(i):
        try:
            results.append(
                snapshot_append(_df(spark, [10 * i, 10 * i + 1]), table)
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results) == [1, 2, 3, 4, 5, 6]  # contiguous, unique
    got = sorted(r["id"] for r in snapshot_read(spark, table).collect())
    assert got == sorted([0] + [10 * i + d for i in range(1, 7) for d in (0, 1)])
    # every data dir is referenced: nothing for vacuum to sweep
    assert snapshot_vacuum(table) == []


# --- one manifest per operation --------------------------------------------


def test_each_operation_parses_one_manifest(spark, table, monkeypatch):
    """Every manifest is a full state, so on a 13-commit table a latest
    read, a ``version=`` read, ``snapshot_summary`` and an append commit
    each parse exactly one manifest, and an ``as_of_ns`` read bisects
    over commit times in at most 5 parses -- and each returns what the
    whole log says."""
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_summary,
    )

    for i in range(13):  # versions 0..12
        snapshot_append(_df(spark, [i]), table)
    ts = {
        r["version"]: r["committed_at_ns"]
        for r in snapshot_versions(spark, table).collect()
    }
    real_load = json.load
    calls = {"n": 0}

    def counting_load(f):
        calls["n"] += 1
        return real_load(f)

    def parses(fn):
        monkeypatch.setattr(snap.json, "load", counting_load)
        calls["n"] = 0
        try:
            out = fn()
        finally:
            monkeypatch.setattr(snap.json, "load", real_load)
        return out, calls["n"]

    def ids(df):
        return sorted(r["id"] for r in df.collect())

    latest, n = parses(lambda: snapshot_read(spark, table))
    assert n == 1 and ids(latest) == list(range(13))
    v4, n = parses(lambda: snapshot_read(spark, table, version=4))
    assert n == 1 and ids(v4) == [0, 1, 2, 3, 4]
    summary, n = parses(lambda: snapshot_summary(table))
    assert n == 1 and summary["version"] == 12 and summary["rows"] == 13
    for k in range(13):
        at_k, n = parses(lambda: snapshot_read(spark, table, as_of_ns=ts[k]))
        assert n <= 5 and ids(at_k) == list(range(k + 1)), (k, n)
    version, n = parses(lambda: snapshot_append(_df(spark, [13]), table))
    assert n == 1 and version == 13
    assert ids(snapshot_read(spark, table)) == list(range(14))


def test_vacuum_expiry_keeps_survivors_travelable(spark, table):
    """Expiring history removes the expired versions from the metadata
    scan, every survivor still time-travels to its own content, and an
    expired version raises."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    for i in range(9):  # versions 0..8
        snapshot_append(_df(spark, [i]), table)
    snapshot_overwrite(_df(spark, list(range(10))), table)  # v9
    for i in (10, 11):  # v10, v11
        snapshot_append(_df(spark, [i]), table)
    removed = snapshot_vacuum(table, keep_versions=3)
    assert removed  # the overwrite orphaned the expired appends' dirs
    vs = sorted(r["version"] for r in snapshot_versions(spark, table).collect())
    assert vs == [9, 10, 11]
    assert sorted(
        r["id"] for r in snapshot_read(spark, table, version=9).collect()
    ) == list(range(10))
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == list(
        range(12)
    )
    with pytest.raises(ValueError):
        snapshot_read(spark, table, version=4)


def _data_dirs(table):
    return sorted(os.listdir(os.path.join(table, "data")))


def test_vacuum_raises_on_an_unreadable_survivor(spark, table):
    """Liveness comes from every surviving manifest: when one cannot be
    parsed, vacuum raises before it deletes anything -- no orphan is
    swept and no manifest is expired."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    snapshot_append(_df(spark, [1]), table)  # v0
    snapshot_overwrite(_df(spark, [2]), table)  # v1
    snapshot_append(_df(spark, [3]), table)  # v2
    orphan = os.path.join(table, "data", "99999999-deadbeef")
    _df(spark, [7]).write.mode("overwrite").parquet(orphan)
    mdir = os.path.join(table, "_snapshots")
    with open(os.path.join(mdir, "v00000001.json"), "w") as f:
        f.write('{"version": 1, "dir')  # torn by an outside writer
    manifests = sorted(os.listdir(mdir))
    dirs = _data_dirs(table)
    for keep in (None, 2):
        with pytest.raises(ValueError):
            snapshot_vacuum(table, keep_versions=keep)
        assert sorted(os.listdir(mdir)) == manifests
        assert _data_dirs(table) == dirs
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == [2, 3]


def test_vacuum_interrupted_expiry_leaves_a_readable_tail(
    spark, table, monkeypatch
):
    """An expiry whose manifest removes start failing part way raises
    with a contiguous tail of versions left, each reading its own
    content, and sweeps no data; a re-run finishes the expiry."""
    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_vacuum,
    )

    content = {0: [0], 1: [0, 1], 2: [2], 3: [2, 3], 4: [2, 3, 4], 5: [2, 3, 4, 5]}
    for v in range(6):
        commit = snapshot_overwrite if v == 2 else snapshot_append
        commit(_df(spark, [v]), table)
    orphan = os.path.join(table, "data", "99999999-deadbeef")
    _df(spark, [7]).write.mode("overwrite").parquet(orphan)
    dirs = _data_dirs(table)
    real_remove = os.remove
    done = {"n": 0}

    def failing_remove(path):
        if done["n"] == 2:
            raise PermissionError(f"store refused to delete {path}")
        done["n"] += 1
        real_remove(path)

    monkeypatch.setattr(snap.os, "remove", failing_remove)
    with pytest.raises(PermissionError):
        snapshot_vacuum(table, keep_versions=2)  # expires v0..v3
    monkeypatch.setattr(snap.os, "remove", real_remove)

    def versions():
        return sorted(
            r["version"] for r in snapshot_versions(spark, table).collect()
        )

    assert versions() == [2, 3, 4, 5]
    assert _data_dirs(table) == dirs
    for v in versions():
        got = snapshot_read(spark, table, version=v).collect()
        assert sorted(r["id"] for r in got) == content[v], v
    removed = snapshot_vacuum(table, keep_versions=2)
    assert orphan in removed and versions() == [4, 5]
    assert sorted(r["id"] for r in snapshot_read(spark, table).collect()) == content[5]


# --- model-based property: op sequences vs a pure-Python model -------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
        st.tuples(st.just("overwrite"), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
        st.tuples(st.just("rollback"), st.integers(0, 5)),
        st.tuples(st.just("vacuum_keep"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=7,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops)
def test_snapshot_sequences_match_model(spark, tmp_path_factory, ops):
    """Any sequence of append/overwrite/rollback/vacuum must leave the
    table readable at the latest version with exactly the content a
    trivial in-memory model predicts -- and every version that
    survives vacuum must time-travel to its modeled historical
    content. Rollback targets are taken modulo the existing history;
    vacuum(keep) must never change the LATEST content."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_rollback,
        snapshot_vacuum,
    )

    table = str(tmp_path_factory.mktemp("prop") / "tbl")
    history: list[list[int]] = []  # version -> content (multiset as sorted list)
    live_versions: list[int] = []
    for op, arg in ops:
        if op == "append":
            prev = history[-1] if history else []
            snapshot_append(_df(spark, arg), table)
            history.append(sorted(prev + arg))
            live_versions.append(len(history) - 1)
        elif op == "overwrite":
            snapshot_overwrite(_df(spark, arg), table)
            history.append(sorted(arg))
            live_versions.append(len(history) - 1)
        elif op == "rollback":
            if not history:
                continue
            target = live_versions[arg % len(live_versions)]
            snapshot_rollback(table, target)
            history.append(history[target])
            live_versions.append(len(history) - 1)
        elif op == "vacuum_keep":
            if not history:
                continue
            keep = min(arg, len(live_versions))
            snapshot_vacuum(table, keep_versions=keep)
            live_versions = live_versions[-keep:]
    if not history:
        return
    got = sorted(r["id"] for r in snapshot_read(spark, table).collect())
    assert got == history[-1]
    meta = {
        r["version"]: r["rows"]
        for r in snapshot_versions(spark, table).collect()
    }
    assert set(meta) == set(live_versions)
    for v in live_versions:
        got_v = sorted(
            r["id"] for r in snapshot_read(spark, table, version=v).collect()
        )
        assert got_v == history[v], (v, ops)
        # the manifest's row count (no data read) matches the content
        assert meta[v] == len(history[v]), (v, ops)


def test_cdc_stream_applies_upserts_and_deletes(spark, tmp_path):
    """CDC apply: change files stream in, each micro-batch collapses to
    the latest change per key and lands as one MERGE commit. Verifies
    bootstrap, upsert, delete, within-batch collapse (insert then
    delete at higher seq => key never appears), NULL-key drop, and
    replay idempotency (fresh checkpoint over the same files leaves
    the CONTENT unchanged while the version history shows the replay)."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming.jobs import (
        apply_cdc_stream,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("seq", LongType()),
            StructField("is_delete", BooleanType()),
        ]
    )

    def chg(rows, path):
        # one file per change set => one micro-batch per change set
        # under maxFilesPerTrigger=1
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    src = tmp_path / "src"
    src.mkdir()
    chg(
        [(1, "a1", 1, False), (2, "b1", 1, False), (3, "c1", 1, False),
         (None, "null-key", 1, False)],
        str(src / "b0"),
    )
    chg(
        [(2, "b2", 2, False),        # upsert
         (3, None, 2, True),         # delete
         (4, "d1", 2, False),        # insert
         (5, "e1", 5, False), (5, None, 6, True)],  # collapse to delete
        str(src / "b1"),
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        return apply_cdc_stream(
            stream, table_dir, ckpt, "id", "seq", delete_col="is_delete"
        )

    table_dir = str(tmp_path / "tbl")
    versions = run(str(tmp_path / "ckpt"))
    assert len(versions) == 2  # bootstrap + one merge
    got = {r["id"]: r["v"] for r in snapshot_read(spark, table_dir).collect()}
    assert got == {1: "a1", 2: "b2", 4: "d1"}
    # a LATE file: stale change for key 2 (seq 1 < the applied seq 2)
    # plus a genuinely new change for key 1 -- the persisted-seq guard
    # must drop the stale row and apply the fresh one
    chg([(2, "stale", 1, False), (1, "a2", 3, False)], str(src / "b2"))
    versions_late = run(str(tmp_path / "ckpt"))  # same checkpoint: only b2
    assert len(versions_late) == 1
    got_late = {
        r["id"]: r["v"] for r in snapshot_read(spark, table_dir).collect()
    }
    assert got_late == {1: "a2", 2: "b2", 4: "d1"}
    # replay everything with a FRESH checkpoint: content unchanged,
    # history longer (the audit trail shows the replay)
    versions2 = run(str(tmp_path / "ckpt2"))
    assert versions2 and min(versions2) > max(versions_late)
    got2 = {r["id"]: r["v"] for r in snapshot_read(spark, table_dir).collect()}
    assert got2 == got_late


def test_cdc_tombstone_retention_blocks_stale_resurrection(spark, tmp_path):
    """The documented hard-delete caveat, closed by retain_tombstones:
    a delete persists as a flagged row carrying its seq, so an update
    STALER than the delete that arrives in a later batch loses the
    cross-batch guard and the key stays gone -- while in hard-delete
    mode the same sequence resurrects it. read_cdc_table hides the
    tombstones; a fresher-than-the-delete update still wins."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming.jobs import (
        apply_cdc_stream,
        read_cdc_table,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("seq", LongType()),
            StructField("is_delete", BooleanType()),
        ]
    )

    def chg(rows, path):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    def run(src, table_dir, ckpt, retain):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        return apply_cdc_stream(
            stream,
            table_dir,
            ckpt,
            "id",
            "seq",
            delete_col="is_delete",
            retain_tombstones=retain,
        )

    for mode, want in (("hard", {1: "a1", 2: "stale"}), ("tomb", {1: "a1"})):
        src = tmp_path / f"src_{mode}"
        src.mkdir()
        chg([(1, "a1", 1, False), (2, "b1", 2, False)], str(src / "b0"))
        chg([(2, None, 5, True)], str(src / "b1"))  # delete at seq 5
        chg([(2, "stale", 3, False)], str(src / "b2"))  # staler than it
        table_dir = str(tmp_path / f"tbl_{mode}")
        run(src, table_dir, str(tmp_path / f"ckpt_{mode}"), mode == "tomb")
        if mode == "hard":
            got = {
                r["id"]: r["v"]
                for r in snapshot_read(spark, table_dir).collect()
            }
        else:
            got = {
                r["id"]: r["v"]
                for r in read_cdc_table(
                    spark, table_dir, delete_col="is_delete"
                ).collect()
            }
            # the tombstone row itself is persisted with its seq
            raw = {
                r["id"]: (r["seq"], r["is_delete"])
                for r in snapshot_read(spark, table_dir).collect()
            }
            assert raw[2] == (5, True)
        assert got == want, (mode, got)
    # a FRESHER update does resurrect the key in tombstone mode
    src = tmp_path / "src_tomb"
    chg([(2, "fresh", 7, False)], str(src / "b3"))
    run(src, str(tmp_path / "tbl_tomb"), str(tmp_path / "ckpt_tomb"), True)
    got = {
        r["id"]: r["v"]
        for r in read_cdc_table(
            spark, str(tmp_path / "tbl_tomb"), delete_col="is_delete"
        ).collect()
    }
    assert got == {1: "a1", 2: "fresh"}
    # misuse guards
    with pytest.raises(ValueError, match="retain_tombstones requires"):
        apply_cdc_stream(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            str(tmp_path / "t2"),
            str(tmp_path / "c2"),
            "id",
            "seq",
            retain_tombstones=True,
        )
    with pytest.raises(ValueError, match="has no 'is_delete'"):
        read_cdc_table(
            spark, str(tmp_path / "tbl_hard"), delete_col="is_delete"
        )


def test_cdc_rejects_tables_without_the_seq_column(spark, tmp_path):
    """Pointing the CDC apply at a table that was not built by it (no
    persisted seq) must fail with a clear error, not silently regress
    ordering."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming.jobs import (
        apply_cdc_stream,
    )

    table_dir = str(tmp_path / "tbl")
    snapshot_append(_df(spark, [1]), table_dir)  # (id, v): no seq
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, "x", 2)], "id long, v string, seq long"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("id long, v string, seq long")
        .parquet(str(src) + "/*")
    )
    with pytest.raises(Exception, match="has no 'seq' column"):
        apply_cdc_stream(
            stream, table_dir, str(tmp_path / "ckpt"), "id", "seq"
        )


def test_compact_tombstones_drops_aged_keeps_guarding(spark, tmp_path):
    """compact_tombstones: aged tombstones go, the read surface is
    unchanged, history stays time-travelable, kept tombstones still
    block stale updates -- and the documented boundary is pinned: a
    stale update for a COMPACTED key resurrects it."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_pipeline_spark_iceberg_dbt_airflow_spark.streaming.jobs import (
        apply_cdc_stream,
        compact_tombstones,
        read_cdc_table,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField("seq", LongType()),
            StructField("is_delete", BooleanType()),
        ]
    )

    def chg(rows, path):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    def run(src, table_dir, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        return apply_cdc_stream(
            stream,
            table_dir,
            ckpt,
            "id",
            "seq",
            delete_col="is_delete",
            retain_tombstones=True,
        )

    src = tmp_path / "src"
    src.mkdir()
    chg(
        [(1, "a1", 1, False), (2, "b1", 2, False), (3, "c1", 3, False)],
        str(src / "b0"),
    )
    # two deletes: key 2 at seq 4 (will age out), key 3 at seq 9 (kept)
    chg([(2, None, 4, True), (3, None, 9, True)], str(src / "b1"))
    table_dir = str(tmp_path / "tbl")
    run(src, table_dir, str(tmp_path / "ckpt"))

    def surface():
        return {
            r["id"]: r["v"]
            for r in read_cdc_table(
                spark, table_dir, delete_col="is_delete"
            ).collect()
        }

    before = surface()
    assert before == {1: "a1"}

    def versions():
        return [
            r["version"]
            for r in snapshot_versions(spark, table_dir).collect()
        ]

    pre_versions = versions()

    # no tombstone below the bound -> no commit, table untouched
    assert (
        compact_tombstones(spark, table_dir, "seq", "is_delete", 4) is None
    )
    assert versions() == pre_versions

    # bound 8: drops key 2's tombstone (seq 4), keeps key 3's (seq 9)
    v = compact_tombstones(spark, table_dir, "seq", "is_delete", 8)
    assert v is not None and v > max(pre_versions)
    assert surface() == before  # read surface identical
    raw = {
        r["id"]: (r["seq"], r["is_delete"])
        for r in snapshot_read(spark, table_dir).collect()
    }
    assert 2 not in raw  # aged tombstone gone
    assert raw[3] == (9, True)  # fresh tombstone kept
    # history intact: the pre-compaction snapshot still reads in full
    old = {
        r["id"]: r["is_delete"]
        for r in snapshot_read(
            spark, table_dir, version=max(pre_versions)
        ).collect()
    }
    assert old.get(2) is True and old.get(3) is True

    # kept tombstone still guards: stale update for key 3 (seq 6 < 9)
    # is discarded; compacted key 2 has nothing to lose against, so an
    # even staler update (seq 3 < the dropped seq 4) RESURRECTS it --
    # the documented contract boundary of compaction
    chg([(3, "stale3", 6, False), (2, "stale2", 3, False)], str(src / "b2"))
    run(src, table_dir, str(tmp_path / "ckpt"))
    assert surface() == {1: "a1", 2: "stale2"}

    # misuse guards
    with pytest.raises(ValueError, match="has no 'nope'"):
        compact_tombstones(spark, table_dir, "seq", "nope", 1)
    with pytest.raises(ValueError, match="has no 'missing_seq'"):
        compact_tombstones(spark, table_dir, "missing_seq", "is_delete", 1)
