"""Ingestion (S1-S5), pipeline runner (D2/D5), quality checks (D3), and
partitioned-table DDL (S10) tests over the bitcoin-shaped fixture. The
append (S6), replace (S8) and snapshot (S11) sinks are ``snapshots.py``'s,
tested in tests/test_snapshots.py.

This is SURVEY.md §5's "Pipeline test": the reference's whole DAG --
extract -> transform -> test -- run in-process on injected fake fetchers,
with the fct output hash-checked against a DuckDB oracle computing the
identical SQL.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.functions import det
from data_pipeline_spark_iceberg_dbt_airflow_spark.io import create_table_like
from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.models import (
    fct_daily,
    stg_from_raw,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import (
    Model,
    PipelineRunner,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.quality import (
    accepted_values,
    not_null,
    relationships,
    run_checks,
    unique,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
    snapshot_overwrite,
    snapshot_read,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.sources import (
    BITCOIN_SCHEMA,
    extract_batch,
    standard_sources,
)

from .oracle import compare

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)

GECKO_OK = {
    "bitcoin": {
        "usd": 61000.5,
        "eur": 56500.25,
        "brl": 305002.5,
        "usd_market_cap": 1.2e12,
        "usd_24h_vol": 3.1e10,
        "usd_24h_change": -1.25,
    }
}
COINCAP_OK = {
    "data": {
        "priceUsd": "61010.75",
        "marketCapUsd": "1.21e12",
        "volumeUsd24Hr": "3.05e10",
        "changePercent24Hr": "-1.31",
    }
}
BLOCKCHAIN_OK = {
    "USD": {"last": 60990.0},
    "EUR": {"last": 56420.0},
    "BRL": {"last": 304800.0},
}


def _fetchers(gecko=GECKO_OK, coincap=COINCAP_OK, chain=BLOCKCHAIN_OK):
    def make(payload):
        def fetch():
            if isinstance(payload, Exception):
                raise payload
            return payload

        return fetch

    return {
        "coingecko": make(gecko),
        "coincap": make(coincap),
        "blockchain_info": make(chain),
    }


# --- S1-S5 ingestion semantics ---------------------------------------------


def test_batch_all_sources(spark):
    df = extract_batch(spark, standard_sources(_fetchers()), now=T0)
    rows = {r.source: r for r in df.collect()}
    assert df.schema == BITCOIN_SCHEMA
    assert set(rows) == {"coingecko", "coincap", "blockchain_info"}
    # one timestamp per batch, shared by every row (:151)
    assert {r.extracted_at for r in rows.values()} == {T0}
    # S2 fixed-FX derivation (:84-85)
    cc = rows["coincap"]
    assert cc.price_eur == pytest.approx(61010.75 * 0.85)
    assert cc.price_brl == pytest.approx(61010.75 * 5.50)
    # S3 NULL padding (:109-111)
    bc = rows["blockchain_info"]
    assert bc.market_cap_usd is None
    assert bc.volume_24h_usd is None
    assert bc.change_24h_pct is None


def test_batch_isolates_transport_failure(spark):
    f = _fetchers(gecko=RuntimeError("HTTP 429"))
    df = extract_batch(spark, standard_sources(f), now=T0)
    assert {r.source for r in df.collect()} == {"coincap", "blockchain_info"}


def test_batch_isolates_parse_failure(spark):
    # well-formed transport, malformed payload -> KeyError inside parse
    f = _fetchers(chain={"USD": {}})
    df = extract_batch(spark, standard_sources(f), now=T0)
    assert {r.source for r in df.collect()} == {"coingecko", "coincap"}


def test_batch_all_fail_aborts(spark):
    f = _fetchers(
        gecko=RuntimeError("x"), coincap=RuntimeError("y"), chain=RuntimeError("z")
    )
    assert extract_batch(spark, standard_sources(f), now=T0) is None


def _row_lift(spark, sources, now):
    """The row-tuple lift, ``createDataFrame(rows, BITCOIN_SCHEMA)``:
    the differential reference for ``extract_batch``'s Arrow lift."""
    rows = []
    for s in sources:
        try:
            rec = s.parse(s.fetch())
        except Exception:
            continue
        rec["extracted_at"] = now
        rows.append(tuple(rec.get(f.name) for f in BITCOIN_SCHEMA.fields))
    return spark.createDataFrame(rows, BITCOIN_SCHEMA)


@pytest.mark.parametrize(
    "now",
    [T0, dt.datetime(2024, 3, 1, 12, 0, 0, 250, tzinfo=dt.timezone.utc)],
    ids=["naive", "aware_utc"],
)
def test_arrow_lift_matches_row_lift(spark, now):
    """The Arrow lift gives the row path's rows -- ``extracted_at`` the
    same instant for naive and aware ``now``, blockchain_info NULL
    padded -- in one partition."""
    from pyspark.sql.types import TimestampType

    sources = standard_sources(_fetchers()) * 4 + standard_sources(
        _fetchers(coincap=RuntimeError("down"))
    )
    old = _row_lift(spark, sources, now)
    new = extract_batch(spark, sources, now=now)
    assert new.schema == old.schema == BITCOIN_SCHEMA
    assert new.rdd.getNumPartitions() == 1

    def canon(df):
        return sorted(
            (
                (tuple(r)[:-1], TimestampType().toInternal(r.extracted_at))
                for r in df.collect()
            ),
            key=repr,
        )

    got = canon(new)
    assert got == canon(old)
    assert len(got) == 14
    assert {us for _, us in got} == {TimestampType().toInternal(now)}
    padded = [r for r, _ in got if r[0] == "blockchain_info"]
    assert len(padded) == 5
    assert all(r[5:8] == (None, None, None) for r in padded)


@pytest.mark.parametrize("usd", ["61000.5", 61000], ids=["str", "int"])
def test_arrow_lift_rejects_what_the_row_lift_rejects(spark, usd):
    """A value the StructType path rejects in a double field raises on
    the Arrow path too, never silently coerced."""
    gecko = {"bitcoin": dict(GECKO_OK["bitcoin"], usd=usd)}
    sources = standard_sources(_fetchers(gecko=gecko))
    with pytest.raises(TypeError):
        _row_lift(spark, sources, T0)
    with pytest.raises(TypeError, match="price_usd"):
        extract_batch(spark, sources, now=T0)


# --- D2/D5 runner + end-to-end oracle --------------------------------------


def _raw_fixture(spark):
    """Three hourly batches, middle one degraded to two sources."""
    batches = [
        extract_batch(spark, standard_sources(_fetchers()), now=T0),
        extract_batch(
            spark,
            standard_sources(_fetchers(coincap=RuntimeError("down"))),
            now=T0 + dt.timedelta(hours=1),
        ),
        extract_batch(spark, standard_sources(_fetchers()), now=T0 + dt.timedelta(days=1)),
    ]
    out = batches[0]
    for b in batches[1:]:
        out = out.unionByName(b)
    return out


def test_runner_executes_in_ref_order(spark):
    runner = PipelineRunner()
    runner.add(Model("stg_bitcoin_prices", stg_from_raw, refs=("raw_bitcoin_prices",)))
    runner.add(Model("fct_bitcoin_daily", fct_daily, refs=("stg_bitcoin_prices",)))
    out = runner.run(seeds={"raw_bitcoin_prices": _raw_fixture(spark)})
    fct = out["fct_bitcoin_daily"]
    assert set(fct.columns) == {
        "extraction_date",
        "data_source",
        "crypto_symbol",
        "min_price_usd",
        "max_price_usd",
        "avg_price_usd",
        "records",
    }
    # 2 dates x 3 sources = 6 groups (batch 2's missing coincap doesn't
    # drop the group -- batch 1 covers that (date, source))
    assert fct.count() == 6


def test_runner_staging_target_is_time_travelable(spark, tmp_path):
    """An hourly cycle -- raw snapshot append, then the runner builds
    staging through ``incremental_append`` -- leaves one append version
    per cycle in the staging log, and time travel to version k returns
    exactly the rows staged through cycle k."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_append,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_append,
        snapshot_read,
        snapshot_versions,
    )

    raw, stg = str(tmp_path / "raw"), str(tmp_path / "stg")
    runner = PipelineRunner()
    runner.add(Model("raw", lambda: snapshot_read(spark, raw)))
    runner.add(
        Model(
            "stg",
            lambda r: incremental_append(
                spark, r, stg, watermark_col="extracted_at",
                transform=stg_from_raw,
            ),
            refs=("raw",),
        )
    )
    degraded = _fetchers(coincap=RuntimeError("down"))
    staged = []
    for hour, fetchers in enumerate([_fetchers(), degraded, _fetchers()]):
        batch = extract_batch(
            spark, standard_sources(fetchers),
            now=T0 + dt.timedelta(hours=hour),
        )
        snapshot_append(batch, raw)
        runner.run()
        staged.append(sorted(stg_from_raw(snapshot_read(spark, raw)).collect()))

    versions = snapshot_versions(spark, stg).orderBy("version").collect()
    assert [(v["version"], v["operation"]) for v in versions] == [
        (0, "append"), (1, "append"), (2, "append")
    ]
    for k, want in enumerate(staged):
        assert sorted(snapshot_read(spark, stg, version=k).collect()) == want
    assert [len(rows) for rows in staged] == [3, 5, 8]


def test_runner_rejects_unknown_ref(spark):
    runner = PipelineRunner()
    runner.add(Model("fct", fct_daily, refs=("missing",)))
    with pytest.raises(KeyError):
        runner.run()


def test_pipeline_matches_duckdb_oracle(spark, tmp_path):
    """raw -> stg -> fct hash-matches DuckDB running the reference's model
    SQL (README.md:368-400) with the engine's det.davg formula."""
    raw_path = str(tmp_path / "raw_bitcoin_prices")
    snapshot_overwrite(_raw_fixture(spark), raw_path)
    fct = fct_daily(stg_from_raw(snapshot_read(spark, raw_path)))
    oracle_sql = f"""
        WITH stg AS (
            SELECT source AS data_source,
                   symbol AS crypto_symbol,
                   COALESCE(price_usd, 0) AS price_usd,
                   CAST(extracted_at AS DATE) AS extraction_date
            FROM read_parquet('{raw_path}/data/*/*.parquet'))
        SELECT extraction_date, data_source, crypto_symbol,
               MIN(price_usd) AS min_price_usd,
               MAX(price_usd) AS max_price_usd,
               {det.oracle_davg("price_usd")} AS avg_price_usd,
               COUNT(*) AS records
        FROM stg GROUP BY 1, 2, 3
    """
    con = duckdb.connect()
    try:
        compare(fct, con.sql(oracle_sql).df())
    finally:
        con.close()


def test_stg_coalesces_nulls_to_zero(spark):
    """The staging model's NULL->0 canonicalization (README.md:375-380)
    applied to blockchain_info's padded NULLs."""
    stg = stg_from_raw(_raw_fixture(spark))
    bc = stg.where("data_source = 'blockchain_info'").collect()
    assert bc and all(r.market_cap_usd == 0.0 for r in bc)
    assert all(r.volume_24h_usd == 0.0 for r in bc)


# --- D3 quality checks ------------------------------------------------------


def test_quality_checks_pass_on_fixture(spark):
    stg = stg_from_raw(_raw_fixture(spark))
    sources = spark.createDataFrame(
        [("coingecko",), ("coincap",), ("blockchain_info",)], "name string"
    )
    results = [
        not_null(stg, "data_source"),
        not_null(stg, "extraction_date"),
        accepted_values(
            stg, "data_source", ["coingecko", "coincap", "blockchain_info"]
        ),
        relationships(stg, "data_source", sources, "name"),
    ]
    assert run_checks(results), [str(r) for r in results]


def test_quality_checks_fail_on_violations(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), ("zzz", 3)],
        "data_source string, k int",
    )
    parent = spark.createDataFrame([("a",)], "name string")
    r = not_null(df, "data_source")
    assert not r.passed and r.failing_rows == 1
    r = unique(df, "k")
    assert not r.passed and r.failing_rows == 1  # one extra '3'
    r = accepted_values(df, "data_source", ["a"])
    assert not r.passed and r.failing_rows == 1  # 'zzz'
    r = relationships(df, "data_source", parent, "name")
    assert not r.passed and r.failing_rows == 1  # 'zzz' orphan
    r = unique(df.where("k < 3"), "k")
    assert r.passed

    from data_pipeline_spark_iceberg_dbt_airflow_spark.quality import (
        expression,
    )

    r = expression(df, "k >= 1")
    assert r.passed
    r = expression(df, "k >= 2")
    assert not r.passed and r.failing_rows == 1
    # NULL predicate rows count as failures (unprovable constraint)
    r = expression(df, "data_source = 'a'")
    assert not r.passed and r.failing_rows == 2  # NULL + 'zzz'


# --- S10 partitioned table DDL ----------------------------------------------


def test_write_partitioned_layout(spark):
    """The engine's rendering of Iceberg's hidden day partitioning (S10,
    extract_bitcoin_prices.py:131-145): ``create_table_like`` partitioned
    on the derived ``extraction_date``, filled with the staged fixture,
    holds one partition per date."""
    import uuid

    name = f"s10_part_{uuid.uuid4().hex[:12]}"
    stg = stg_from_raw(_raw_fixture(spark))
    cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in stg.schema)
    try:
        create_table_like(spark, name, cols, partition_by="extraction_date")
        stg.write.insertInto(name)
        assert spark.sql(f"SHOW PARTITIONS {name}").count() == 2  # two dates
        back = spark.table(name)
        assert back.count() == stg.count()
        one = back.where("extraction_date = DATE'2024-03-01'")
        assert one.count() == 5  # batch1 (3 sources) + degraded batch2 (2)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# --- D4 retry policy + P6 model selection -----------------------------------


def test_runner_retry_policy(spark):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import RunConfig

    calls = {"n": 0}

    def flaky(raw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return raw

    raw = _raw_fixture(spark)
    # reference default: retries=0 -> fail fast (bitcoin_pipeline_dag.py:8)
    r0 = PipelineRunner()
    r0.add(Model("m", flaky, refs=("raw",)))
    with pytest.raises(RuntimeError, match="failed after 1 attempts"):
        r0.run(seeds={"raw": raw})
    # with one retry the transient failure is absorbed
    calls["n"] = 0
    r1 = PipelineRunner(RunConfig(retries=1))
    r1.add(Model("m", flaky, refs=("raw",)))
    out = r1.run(seeds={"raw": raw})
    assert calls["n"] == 2 and out["m"] is raw


def test_runner_retry_covers_materialization(spark, tmp_path):
    """One attempt is the model's build AND its materialization: a frame
    that raises once while it executes (a UDF failing on the first pass,
    keyed on a flag file) is absorbed by ``retries=1`` and fails the run
    with the runner's error under ``retries=0``."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import RunConfig

    def runner(retries, flag):
        @F.udf("long")
        def fail_once(x):
            import os

            if not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("transient executor fault")
            return x

        r = PipelineRunner(RunConfig(retries=retries))
        r.add(Model("m", lambda src: src.select(fail_once("id")), ("src",)))
        return r

    seeds = {"src": spark.range(4)}
    with pytest.raises(RuntimeError, match="'m' failed after 1 attempts"):
        runner(0, str(tmp_path / "flag0")).run(seeds=seeds, materialize=True)
    out = runner(1, str(tmp_path / "flag1")).run(seeds=seeds, materialize=True)
    assert sorted(r[0] for r in out["m"].collect()) == [0, 1, 2, 3]


def test_runner_target_selection(spark):
    """P6: the dbt ``--select`` analog -- running one target executes only
    its upstream closure."""
    ran = []

    def track(name, fn):
        def wrapped(*a):
            ran.append(name)
            return fn(*a)

        return wrapped

    runner = PipelineRunner()
    runner.add(Model("stg", track("stg", stg_from_raw), refs=("raw",)))
    runner.add(Model("fct", track("fct", fct_daily), refs=("stg",)))
    runner.add(Model("other", track("other", lambda raw: raw), refs=("raw",)))
    out = runner.run(targets=["fct"], seeds={"raw": _raw_fixture(spark)})
    assert ran == ["stg", "fct"]  # 'other' not selected, deps in order
    assert "other" not in out


# --- file source formats (JSONL / CSV) --------------------------------------

_DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def test_jsonl_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """Documents written as JSON-lines and read back through read_jsonl
    (explicit schema, no inference pass) must reproduce the parquet rows
    exactly, with nothing quarantined."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        CORRUPT_COL,
        read_jsonl,
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_jsonl")
    docs.write.json(out)
    back = read_jsonl(spark, out, _DOCS_DDL).cache()
    assert back.where(back[CORRUPT_COL].isNotNull()).count() == 0
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.drop(CORRUPT_COL).collect()))
    assert a == b
    back.unpersist()


def test_csv_roundtrip_matches_parquet(spark, sf_dir, tmp_path):
    """Same contract for CSV (header on, default quoting)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        CORRUPT_COL,
        read_csv,
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_csv")
    docs.write.option("header", "true").csv(out)
    back = read_csv(spark, out, _DOCS_DDL).cache()
    assert back.where(back[CORRUPT_COL].isNotNull()).count() == 0
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.drop(CORRUPT_COL).collect()))
    assert a == b
    back.unpersist()


def test_jsonl_malformed_lines_are_quarantined(spark, tmp_path):
    """A malformed line must become one quarantine row (data columns
    NULL, raw line preserved in _corrupt_record) without aborting the
    read -- the dead-letter pattern for dirty bulk inputs."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        CORRUPT_COL,
        read_jsonl,
    )

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "fine", "lang": "en", "source": "s", "n_chars": 4}\n'
    )
    back = read_jsonl(spark, str(p), _DOCS_DDL).cache()
    good = back.where(back[CORRUPT_COL].isNull())
    bad = back.where(back[CORRUPT_COL].isNotNull())
    assert sorted(r["doc_id"] for r in good.collect()) == [1, 2]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert bad_rows[0][CORRUPT_COL] == "this is not json at all"
    assert bad_rows[0]["doc_id"] is None
    back.unpersist()


def test_csv_type_mismatch_is_quarantined(spark, tmp_path):
    """A CSV row whose column fails the declared type lands in
    quarantine instead of silently nulling just that cell."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        CORRUPT_COL,
        read_csv,
    )

    p = tmp_path / "dirty.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,ok,en,s,2\n"
        "not_a_number,broken,en,s,5\n"
    )
    back = read_csv(spark, str(p), _DOCS_DDL).cache()
    assert [r["doc_id"] for r in back.where(back[CORRUPT_COL].isNull()).collect()] == [1]
    bad = back.where(back[CORRUPT_COL].isNotNull()).collect()
    assert len(bad) == 1 and bad[0]["doc_id"] is None
    back.unpersist()


def test_training_shards_replay_global_order(spark, sf_dir, tmp_path):
    """write_training_shards must produce parquet files that (a) hold
    the exact input rows, (b) are position-contiguous (file min/max
    ranges never overlap, so filename-order streaming replays the
    global shuffle), and (c) respect the records-per-file bound."""
    import glob
    import os

    import pyarrow.parquet as pq

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        write_training_shards,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        train_global_shuffle,
    )

    shuffled = train_global_shuffle(spark, sf_dir)
    n = shuffled.count()
    out = str(tmp_path / "shards")
    write_training_shards(
        shuffled, out, shards=4, records_per_file=max(1, n // 10)
    )
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) >= 4
    ranges = []
    total = 0
    for f in files:
        t = pq.read_table(f, columns=["shuffle_pos"]).to_pydict()[
            "shuffle_pos"
        ]
        assert len(t) <= max(1, n // 10)
        assert t == sorted(t), "rows inside a shard file are not ordered"
        ranges.append((min(t), max(t)))
        total += len(t)
    assert total == n
    # contiguity: sorted by min, each file's range ends before the next
    # begins, and together they tile 1..n exactly
    ranges.sort()
    assert ranges[0][0] == 1
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, "shard position ranges overlap"
    assert ranges[-1][1] == n


def test_read_evolving_schema_union_and_contract(spark, tmp_path):
    """A table that gained a column mid-history: mergeSchema unions the
    footers (old rows NULL in the new column), and pinning the contract
    schema yields the same frame without footer listing; a retired
    column is simply not read under the contract."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_evolving

    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, name string"
    ).write.parquet(base + "/epoch=0")
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.7)], "id long, name string, score double"
    ).write.parquet(base + "/epoch=1")

    merged = read_evolving(spark, base + "/*")
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == 0.5 and rows[4] == 0.7

    contract = StructType(
        [StructField("id", LongType()), StructField("score", DoubleType())]
    )
    pinned = read_evolving(spark, base + "/*", schema=contract)
    assert set(pinned.columns) == {"id", "score"}  # name: pruned out
    got = {r["id"]: r["score"] for r in pinned.collect()}
    assert got == rows


def test_corpus_diff_classifies_added_removed_changed(spark, tmp_path):
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import corpus_diff

    def snap(path, rows):
        spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", "text", F.md5("text").alias("digest")
        ).write.parquet(path)

    old, new = str(tmp_path / "v1"), str(tmp_path / "v2")
    snap(old, [(1, "same"), (2, "will change"), (3, "will vanish")])
    snap(new, [(1, "same"), (2, "changed!"), (4, "brand new")])

    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(spark, old, new).collect()
    }
    assert got == {2: "changed", 3: "removed", 4: "added"}  # 1 omitted
