"""Tests for the UDF tiers (X1/X2), multimodal operators, and the
catalog/DDL helpers (S9-S12)."""

from __future__ import annotations

import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
    create_table_like,
    ensure_namespace,
    read_table,
    show_verification,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.operators import (
    FEATURE_DIM,
    decode_media,
    doc_bands,
    doc_bands_mapinpandas,
    extract_features,
    resize_meta,
    sample_frames,
    synth_media,
)


# --- X1/X2 UDF tiers --------------------------------------------------------


def test_udf_tiers_agree(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    want = {r.doc_id: r.band for r in doc_bands(docs, "builtin").collect()}
    for impl in ("udf", "pandas"):
        got = {r.doc_id: r.band for r in doc_bands(docs, impl).collect()}
        assert got == want, impl
    got = {r.doc_id: r.band for r in doc_bands_mapinpandas(docs).collect()}
    assert got == want


def test_row_udf_plan_shows_python_eval(spark, sf_dir):
    """The row UDF must be visibly the slow path (BatchEvalPython node);
    the built-in rendering must not leave the JVM."""
    docs = read_table(spark, sf_dir, "documents")
    assert "BatchEvalPython" in doc_bands(docs, "udf")._jdf.queryExecution().toString()
    assert (
        "Python" not in doc_bands(docs, "builtin")._jdf.queryExecution().toString()
    )


# --- multimodal -------------------------------------------------------------


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return synth_media(spark, read_table(spark, sf_dir, "documents"))


def test_decode_stub_is_deterministic_and_gated(media):
    a = decode_media(b"abc", "fake")
    b = decode_media(b"abc", "fake")
    assert (a == b).all() and len(a) == 32 and 0 <= a.min() <= a.max() <= 1
    with pytest.raises(NotImplementedError):
        decode_media(b"abc", "jpeg", fake=False)


def test_extract_features_shape(media):
    feats = extract_features(media).collect()
    assert len(feats) == media.count()
    assert all(len(r.feature) == FEATURE_DIM for r in feats)
    # payload must not flow downstream
    assert "payload" not in extract_features(media).columns
    # deterministic: same media_id -> same feature on rerun
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in feats)


def test_resize_clamps_aspect(media):
    out = resize_meta(media, 32, 32).collect()
    for r in out:
        assert r.meta.width <= 32 and r.meta.height <= 32


def test_sample_frames_counts(media):
    rows = sample_frames(media, every_ms=1000).collect()
    vids = {
        r.media_id: r.meta.duration_ms
        for r in media.where("kind = 'video'").collect()
    }
    assert {r.media_id for r in rows} == set(vids)
    from collections import Counter

    per = Counter(r.media_id for r in rows)
    for mid, dur in vids.items():
        want = max((dur - 1) // 1000, 0) + 1
        assert per[mid] == want, (mid, dur)
    assert all(r.frame_ms == r.frame_no * 1000 for r in rows)


# --- S9-S12 helpers ---------------------------------------------------------


def test_namespace_ddl_idempotent(spark):
    ensure_namespace(spark, "raw_test_ns")
    ensure_namespace(spark, "raw_test_ns")  # IF NOT EXISTS: no error
    assert spark.catalog.databaseExists("raw_test_ns")


def test_create_table_idempotent(spark):
    create_table_like(
        spark,
        "raw_test_ns.prices",
        "source STRING, price_usd DOUBLE, extracted_at TIMESTAMP",
    )
    create_table_like(
        spark,
        "raw_test_ns.prices",
        "source STRING, price_usd DOUBLE, extracted_at TIMESTAMP",
    )
    assert spark.catalog.tableExists("raw_test_ns.prices")


def test_console_sink_smoke(spark, sf_dir, capsys):
    show_verification(read_table(spark, sf_dir, "events").limit(3), n=3)
    assert "event_id" in capsys.readouterr().out


# --- A3: DataFrame rollup/cube APIs vs the registered GROUPING SETS SQL -----


def test_rollup_cube_api_parity(spark, sf_dir):
    """agg_cube_grouping runs A3 through shared SQL text; the DataFrame
    ``.cube`` and ``.rollup`` APIs must compile to the same Expand
    machinery and produce consistent results: .cube == the SQL CUBE rows
    (ignoring the GROUPING marker columns), and .rollup == the subset of
    cube rows whose grouping sets ROLLUP generates."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.functions import det
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries

    sql_rows = {
        (r.o_orderstatus, r.o_orderpriority, float(r.total_price), r.order_cnt)
        for r in all_queries()["agg_cube_grouping"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    orders = read_table(spark, sf_dir, "orders")
    agg_cols = [
        F.count(F.lit(1)).alias("order_cnt"),
        det.dsum("o_totalprice", 2).alias("total_price"),
    ]
    cube_rows = {
        (r.o_orderstatus, r.o_orderpriority, float(r.total_price), r.order_cnt)
        for r in orders.cube("o_orderstatus", "o_orderpriority")
        .agg(*agg_cols)
        .collect()
    }
    assert cube_rows == sql_rows
    rollup_rows = {
        (r.o_orderstatus, r.o_orderpriority, float(r.total_price), r.order_cnt)
        for r in orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(*agg_cols)
        .collect()
    }
    # ROLLUP's 3 grouping sets are a strict subset of CUBE's 4: everything
    # rollup emits appears in cube, and cube adds the priority-only slices.
    assert rollup_rows < cube_rows


def test_read_table_memoizes_scan_per_session(spark, sf_dir):
    """read_table returns the SAME DataFrame object for repeated reads of
    an immutable testdata table (file listing + footer schema resolution
    happen once per session), and the plan it memoizes stays correct."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table

    a = read_table(spark, sf_dir, "orders")
    b = read_table(spark, sf_dir, "orders")
    assert a is b
    assert a.count() == b.count() > 0
    # Different tables and different sf_dirs get distinct entries.
    c = read_table(spark, sf_dir, "nation")
    assert c is not a and "n_nationkey" in c.columns


def test_new_session_gets_its_own_scans_and_views(spark, sf_dir):
    """``spark.newSession()`` shares the SparkContext but has its own conf
    and temp views (one session per Thrift-server connection), so the
    per-session caches must not hand it the parent's frames: a frame
    bound to the parent would register its views in the parent."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        read_table,
        register_views,
    )

    warm = read_table(spark, sf_dir, "events")
    s2 = spark.newSession()
    ev2 = read_table(s2, sf_dir, "events")
    assert ev2.sparkSession is s2
    assert read_table(s2, sf_dir, "events") is ev2
    assert read_table(s2, sf_dir, "events", widen=True).sparkSession is s2
    register_views(s2, sf_dir, ("events",))
    n = s2.sql("SELECT COUNT(*) AS n FROM events").head()["n"]
    assert n == warm.count() > 0
    # the parent's warm scan is untouched
    assert read_table(spark, sf_dir, "events") is warm


# --- round 4: UDAF / grouped-map / cogrouped-map / UDTF tiers ---------------


def test_grouped_agg_udaf_matches_builtin_avg(spark, sf_dir):
    """The grouped-agg pandas_udf (UDAF tier) must agree with F.avg per
    language to 1e-9 (pandas mean is float64 pairwise; not bit-exact)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.udfs import (
        mean_chars_grouped_agg,
    )

    docs = read_table(spark, sf_dir, "documents")
    got = {
        r["lang"]: r["m"]
        for r in docs.groupBy("lang")
        .agg(mean_chars_grouped_agg().alias("m"))
        .collect()
    }
    want = {
        r["lang"]: r["m"]
        for r in docs.groupBy("lang").agg(F.avg("n_chars").alias("m")).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        if want[k] is None:
            assert got[k] is None
        else:
            assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_applyinpandas_grouped_map_matches_window(spark, sf_dir):
    """The grouped-map tier's per-lang rank must equal the declarative
    row_number window, and its bands the builtin CASE."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.udfs import (
        band_builtin,
        bands_ranked_applyinpandas,
    )

    docs = read_table(spark, sf_dir, "documents")
    got = {
        (r["lang"], r["doc_id"]): (r["band"], r["chars_rank"])
        for r in bands_ranked_applyinpandas(docs).collect()
    }
    w = Window.partitionBy("lang").orderBy(
        F.desc_nulls_last("n_chars"), F.asc("doc_id")
    )
    want = {
        (r["lang"], r["doc_id"]): (r["band"], r["chars_rank"])
        for r in docs.select(
            "lang",
            "doc_id",
            band_builtin().alias("band"),
            F.row_number().over(w).alias("chars_rank"),
        ).collect()
    }
    assert got == want


def test_cogrouped_asof_matches_windowed_join(spark, sf_dir):
    """The cogroup+merge_asof rendering must reproduce the windowed J6
    as-of join row-for-row, NULL event times included."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.udfs import (
        asof_cogrouped,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        all_queries,
    )

    events = read_table(spark, sf_dir, "events")
    got = {
        r["event_id"]: (r["ts"], r["last_click_ts"])
        for r in asof_cogrouped(events).collect()
    }
    want = {
        r["event_id"]: (r["ts"], r["last_click_ts"])
        for r in all_queries()["join_asof_last_click"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_udtf_chunker_matches_declarative_chunker(spark, sf_dir):
    """The Python UDTF (lateral table function) must emit exactly the
    declarative sequence+posexplode chunker's rows."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.udfs import (
        make_chunk_udtf,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        all_queries,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    spark.udtf.register("chunk_doc", make_chunk_udtf())
    read_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_docs"
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in spark.sql(
            f"""
            SELECT d.doc_id, c.chunk_idx, c.chunk
            FROM udtf_docs d,
                 LATERAL chunk_doc(d.text, {CHUNK_SIZE}, {CHUNK_STRIDE}) c
            WHERE d.n_chars > 0
            """
        ).collect()
    }
    want = {
        (r["doc_id"], r["chunk_idx"]): r["chunk"]
        for r in all_queries()["train_chunk_documents"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_pii_detect_and_redact_handcrafted(spark):
    """The PII regex dialect on handcrafted spans: counts per type,
    tag substitution, NULL propagation, and shape disjointness (a
    phone never counts as an SSN and vice versa)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.pii import (
        PII_PATTERNS,
        pii_count,
        redact_pii,
    )

    rows = [
        (0, "write bob.smith+x@mail.example.org or ann@ex.io today"),
        (1, "call 555-123-4567 or 555-000-1111 now"),
        (2, "host 10.0.255.3 and 192.168.1.100"),
        (3, "ssn 123-45-6789 on file"),
        (4, "mixed a@b.co 555-123-4567 10.1.2.3 111-22-3333"),
        (5, "none here: 1234-567-8901 is too long, a@b misses a tld"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[
                pii_count(F.col("text"), n).alias(n)
                for n, _, _ in PII_PATTERNS
            ],
            redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (got[0]["email"], got[0]["phone"], got[0]["ip"], got[0]["ssn"]) == (
        2, 0, 0, 0,
    )
    assert got[1]["phone"] == 2 and got[1]["ssn"] == 0
    assert got[2]["ip"] == 2
    assert got[3]["ssn"] == 1 and got[3]["phone"] == 0
    assert got[4]["red"] == "mixed [EMAIL] [PHONE] [IP] [SSN]"
    # 1234-567-8901: \b requires the match to start at a word edge, and
    # a leading digit run of 4 can't -- no partial phone match.
    assert got[5]["phone"] == 0 and got[5]["email"] == 0
    assert got[5]["red"] == rows[5][1]
    assert got[6]["email"] is None and got[6]["red"] is None


def test_frame_features_explode_inside_kernel(spark, media):
    """Per-frame decode emits exactly sample_frames' index set (same
    ceil arithmetic), one feature vector per frame, deterministically --
    with the payload crossing into Python exactly once (no join in the
    plan)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators import (
        extract_frame_features,
        sample_frames,
    )

    every = 1000
    got = extract_frame_features(media, every_ms=every).collect()
    want = {
        (r["media_id"], r["frame_no"], r["frame_ms"])
        for r in sample_frames(media, every_ms=every).collect()
    }
    assert {(r["media_id"], r["frame_no"], r["frame_ms"]) for r in got} == want
    assert all(len(r["feature"]) == 8 for r in got)
    # frame features differ frame-to-frame (the per-frame salt is live)
    by_media = {}
    for r in got:
        by_media.setdefault(r["media_id"], []).append(tuple(r["feature"]))
    multi = [v for v in by_media.values() if len(v) > 1]
    assert multi and all(len(set(v)) > 1 for v in multi)
    # determinism
    again = extract_frame_features(media, every_ms=every).collect()
    assert sorted(map(str, got)) == sorted(map(str, again))
    plan = (
        extract_frame_features(media, every_ms=every)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
