"""Equivalence pins for the round-9 lexical_components scale rewrite.

VERDICT r8's one `weak` was the superlinear candidate band in
``lexical_components`` (inverted-index self-join pair emission grows
~df^2 on duplicate cliques; 11.4x wall for 5x docs at 1M). The fix is
two-layered -- digest-collapse exact-duplicate cliques before the pair
join (semantics-EXACT at any size, argued in ``_digest_rep_map``), and
switch candidate generation to banded MinHash + explicit verification
above ``LEXICAL_LSH_BOUND`` docs (the standard LSH recall trade). These
tests pin both layers against the direct uncollapsed computation on a
corpus engineered with every edge case the equivalence argument turns
on: multi-size exact cliques, NORMALIZED-equal-but-raw-different dups,
near-dup bridges BETWEEN cliques (component expansion), short docs with
no shingles, and an oversized clique whose only shingles are df-capped
away (must stay singletons -- the collapse is restricted to
shingle-bearing docs precisely for this case).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.graph import (
    connected_components,
)
from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import dedup
from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
    _pair_jaccard,
    lexical_components,
    release_shingle_index,
    shingled_docs,
)


def _mk_corpus(spark, tmp_path_factory, n_filler: int):
    """Clique-heavy corpus; returns its sf_dir."""
    import random

    rng = random.Random(9)
    vocab = [f"w{chr(97 + i)}{chr(97 + j)}" for i in range(20) for j in range(20)]

    def sent(k, seed):
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(k))

    rows = []
    nid = 0

    def add(text):
        nonlocal nid
        rows.append((nid, text, "en", "synth", len(text)))
        nid += 1

    base_a = sent(40, 1)
    ta = base_a.split()
    # clique B base: ONE middle token changed => jaccard vs base_a
    # ~35/41 = 0.85, an edge BETWEEN the cliques (and high enough that
    # 8x2 minhash banding finds it essentially surely: miss = (1-j^2)^8
    # ~ 0.002%)
    tb = list(ta)
    tb[20] = "zz"
    base_b = " ".join(tb)
    # clique A: 5 exact copies, two of them raw-different but
    # NORMALIZED-equal (case + whitespace variants)
    for _ in range(3):
        add(base_a)
    add(base_a.upper())
    add("  " + base_a.replace(" ", "   ") + " ")
    # clique B: 4 exact copies
    for _ in range(4):
        add(base_b)
    # a lone near-dup hanging off clique B (tests rep-expansion of an
    # edge whose other endpoint is a singleton)
    tc = list(tb)
    tc[10] = "qq"
    add(" ".join(tc))
    # short docs (no shingles): 1- and 2-token, incl. exact dups
    add("hi")
    add("hi")
    add("two tokens")
    # capped-away clique: DF_CAP+10 docs that are EXACTLY the same 3
    # tokens -- their single shingle's df exceeds the cap, so they have
    # no surviving shingles and must all stay singletons
    for _ in range(dedup.DF_CAP + 10):
        add("aaa bbb ccc")
    # filler uniques
    for i in range(n_filler):
        add(sent(40, 100 + i))
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("lexscale")
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }
        ),
        str(sf / "documents.parquet"),
    )
    return str(sf)


def _direct_reference(spark, sf_dir):
    """The pre-round-9 uncollapsed computation: CC over the full
    _pair_jaccard graph, singletons labeled by one left join."""
    sh = shingled_docs(spark, sf_dir)
    labels = connected_components(_pair_jaccard(sh).select("doc_a", "doc_b"))
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    sf = _mk_corpus(spark, tmp_path_factory, n_filler=60)
    yield sf
    release_shingle_index(spark)


def _mapping(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_collapsed_equals_direct(spark, corpus):
    got = _mapping(
        lexical_components(spark, corpus).select("doc_id", "cluster_id")
    )
    want = _mapping(_direct_reference(spark, corpus))
    assert got == want
    # sanity on the engineered structure, so a silently-degenerate
    # corpus can't green this test: cliques A+B+the lone near-dup are
    # ONE component labeled 0; capped-away clique is all singletons
    assert {k for k, v in want.items() if v == 0} == set(range(10))
    capped_ids = range(13, 13 + dedup.DF_CAP + 10)
    assert all(want[k] == k for k in capped_ids)


def test_lsh_path_equals_direct_on_planted_corpus(spark, corpus, monkeypatch):
    # force the over-bound branch; every true pair in this corpus has
    # jaccard ~0.75+ so 8x2 banding finds them all (deterministic
    # coefficients -- this is a pin, not a probabilistic hope)
    monkeypatch.setattr(dedup, "LEXICAL_LSH_BOUND", 1)
    got = _mapping(
        lexical_components(spark, corpus).select("doc_id", "cluster_id")
    )
    want = _mapping(_direct_reference(spark, corpus))
    assert got == want


@pytest.fixture(scope="module")
def multifile_corpus(spark, corpus, tmp_path_factory):
    """The same corpus re-laid-out as a DIRECTORY of two part files --
    the shape every real at-scale table arrives in, and exactly the
    shape whose row count used to probe as None (round-9 ADVICE)."""
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("lexscale_multi")
    tbl = pq.read_table(corpus + "/documents.parquet")
    d = sf / "documents.parquet"
    d.mkdir()
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(d / "part-00000.parquet"))
    pq.write_table(tbl.slice(half), str(d / "part-00001.parquet"))
    yield str(sf)
    release_shingle_index(spark)


def test_multifile_table_row_count_sums_footers(multifile_corpus, corpus):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        table_row_count,
    )

    n_single = table_row_count(corpus, "documents")
    n_multi = table_row_count(multifile_corpus, "documents")
    assert n_single is not None and n_multi == n_single


def test_unprobeable_count_falls_back_to_count_job_not_direct_join(
    spark, multifile_corpus, monkeypatch
):
    """When the footer probe cannot resolve a row count, the candidate
    generator must pay ONE count job and still take the size-gated LSH
    path -- not silently fall back to the superlinear self-join
    (round-9 ADVICE). _pair_jaccard is boobytrapped: reaching it means
    the direct path was chosen."""
    monkeypatch.setattr(dedup, "LEXICAL_LSH_BOUND", 1)
    monkeypatch.setattr(dedup, "table_row_count", lambda *a: None)

    def boom(*a, **k):
        raise AssertionError("direct self-join taken despite size > bound")

    monkeypatch.setattr(dedup, "_pair_jaccard", boom)
    got = _mapping(
        lexical_components(spark, multifile_corpus).select(
            "doc_id", "cluster_id"
        )
    )
    want = _mapping(_direct_reference(spark, multifile_corpus))
    assert got == want


def test_verify_candidates_matches_pair_jaccard(spark, corpus):
    # _verify_candidates on the FULL candidate superset (all verified
    # pairs) must reproduce _pair_jaccard exactly, values included
    sh = shingled_docs(spark, corpus)
    direct = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _pair_jaccard(sh).collect()
    }
    cand = spark.createDataFrame(
        [(a, b) for (a, b) in direct], "doc_a long, doc_b long"
    )
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup._verify_candidates(sh, cand).collect()
    }
    assert verified == direct


def _shingle_set(df):
    return {(r["doc_id"], r["sid"]) for r in df.collect()}


def test_shingle_kernel_bit_equal_expr_on_real_corpus(spark, sf_dir):
    # The Arrow kernel (default build path) must emit the EXACT
    # (doc_id, sid) set the Catalyst expression rendering does -- same
    # md5-prefix integers, not just the same dedup verdicts.
    docs = read_table(spark, sf_dir, "documents")
    got = _shingle_set(dedup._shingle_rows_kernel(docs))
    want = _shingle_set(dedup._shingle_rows_expr(docs))
    assert got and got == want


def test_shingle_kernel_bit_equal_expr_adversarial(spark):
    # Every tokenization edge the Java-vs-Python semantics argument
    # turns on: the ASCII \s class (U+00A0 must NOT split -- Python's
    # \s would), all five Java whitespace chars, space-only trim,
    # case folding incl. 1:M special casing (U+0130), NULL / empty /
    # sub-shingle-length docs, and leading/trailing/run whitespace.
    rows = [
        (1, "plain four token doc"),
        (2, "nbsp joined token stays one token here"),
        (3, "a\tb\nc\x0bd\x0ce\rf g"),
        (4, "MiXeD CaSe ÉCOLE Straße İstanbul tokens"),
        (5, None),
        (6, ""),
        (7, "two tokens"),
        (8, "   lead   and  trail   spaces   everywhere   "),
        (9, "   only nbsp   and spaces  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = _shingle_set(dedup._shingle_rows_kernel(docs))
    want = _shingle_set(dedup._shingle_rows_expr(docs))
    assert got == want
    # the nbsp doc must shingle as 6 tokens (nbsp joined is ONE),
    # i.e. 4 distinct shingles -- guards against a Python-\s rewrite
    # that would silently split it into 7
    assert len([s for d, s in got if d == 2]) == 4


def test_nanos_probe_unreadable_dir_reports_no_columns(tmp_path):
    # ADVICE r10: an empty directory table (or unreadable first part)
    # must degrade to "no nanos columns" -- the real failure then
    # surfaces in the Spark scan, not as a pyarrow footer traceback
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        _nanos_columns,
    )

    empty = tmp_path / "empty_table.parquet"
    empty.mkdir()
    assert _nanos_columns(str(empty)) == []
    corrupt = tmp_path / "corrupt_table.parquet"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet")
    assert _nanos_columns(str(corrupt)) == []


def test_df_cap_scales_with_corpus_size():
    # r11: the stop-shingle cap is a RATIO with an absolute floor --
    # a fixed cap removes an ever-growing instance share as df grows
    # linearly with N (measured 5.1% at 1M -> 69.4% at 4M, SCALING.md)
    assert dedup.df_cap_for(None) == dedup.DF_CAP
    assert dedup.df_cap_for(1_000) == 100
    assert dedup.df_cap_for(1_000_000) == 100   # floor == ratio point
    assert dedup.df_cap_for(4_000_000) == 400
    assert dedup.df_cap_for(100_000_000) == 10_000


def test_ratio_cap_keeps_hot_shingle_small_corpus_drops_it(
    spark, tmp_path_factory, monkeypatch
):
    # one hot 3-token doc repeated 30x: df=30. With the floor forced to
    # 5 the absolute cap drops it (all singletons in the direct path's
    # index); with a ratio that puts the effective cap at 60 the clique
    # keeps its shingle and collapses to one component.
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("ratiocap")
    n = 30
    rows = [(i, "aaa bbb ccc", "en", "t", 11) for i in range(n)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array([r[3] for r in rows], pa.string()),
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        str(sf / "documents.parquet"),
    )
    monkeypatch.setattr(dedup, "DF_CAP", 5)
    monkeypatch.setattr(dedup, "DF_CAP_RATIO", 0.0)
    try:
        capped = _mapping(lexical_components(spark, str(sf)))
        assert all(v == k for k, v in capped.items())  # all singletons
        release_shingle_index(spark)
        monkeypatch.setattr(dedup, "DF_CAP_RATIO", 2.0)  # cap = 60 > 30
        kept = _mapping(lexical_components(spark, str(sf)))
        assert set(kept.values()) == {0}  # one exact-dup component
    finally:
        release_shingle_index(spark)


def _shingle_rows_sorted(df):
    return sorted(
        ((r["doc_id"] is None, r["doc_id"] or 0, r["sid"]) for r in df.collect())
    )


def test_shingle_kernel_null_and_big_doc_ids(spark):
    # r11 review: the mapInPandas rendering crashed on a NULL doc_id
    # (Arrow->pandas floats the bigint column) and silently rounded
    # ids above 2**53 sharing the batch; mapInArrow keeps both exact.
    big = (1 << 60) + 7  # not representable in float64
    rows = [
        (None, "aaa bbb ccc ddd"),
        (big, "aaa bbb ccc ddd"),
        (1, "eee fff ggg"),
        (None, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = _shingle_rows_sorted(dedup._shingle_rows_kernel(docs))
    want = _shingle_rows_sorted(dedup._shingle_rows_expr(docs))
    assert got == want
    assert any(d == big for _, d, _s in got)   # exact, not rounded
    assert any(isnull for isnull, _, _s in got)  # NULL id flows through


def test_oracle_cap_crosses_regime_with_engine(
    spark, tmp_path_factory, monkeypatch
):
    # r12 (ADVICE): the oracle CTE computes the stop-shingle cap FROM
    # THE DATA -- GREATEST(floor, trunc(ratio * N)) -- instead of
    # baking the literal floor, so the engine/oracle differential is
    # enforced ABOVE the ratio crossover too. Cross the regime on a
    # 30-doc corpus by inflating the ratio: floor=5, ratio=2.0 puts
    # the effective cap at 60 (shingle df=30 survives BOTH engines);
    # ratio=0.1 puts it back at the floor (df=30 dropped by BOTH).
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("oraclecap")
    n = 30
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(range(n)), pa.int64()),
                "text": pa.array(["aaa bbb ccc"] * n, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["t"] * n, pa.string()),
                "n_chars": pa.array([11] * n, pa.int64()),
            }
        ),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    monkeypatch.setattr(dedup, "DF_CAP", 5)
    for ratio, expect_rows in ((2.0, n), (0.1, 0)):
        monkeypatch.setattr(dedup, "DF_CAP_RATIO", ratio)
        try:
            eng = sorted(
                (r["doc_id"], r["sid"])
                for r in shingled_docs(spark, str(sf))
                .select("doc_id", "sid")
                .collect()
            )
        finally:
            release_shingle_index(spark)
        ora = sorted(
            con.execute(
                f"WITH {dedup.oracle_shingle_ctes(5, ratio)} "
                "SELECT doc_id, sid FROM capped"
            ).fetchall()
        )
        assert eng == ora
        assert len(eng) == expect_rows


def test_shingle_kernel_locale_guard(spark, tmp_path_factory, monkeypatch):
    """r12 (VERDICT r11 item 2): the kernel's lower() bit-equality is
    locale-conditional; the guard must route a non-root/en JVM locale
    (or an unprobeable one) to the expression path at engage time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("localeguard")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(["aaa bbb ccc ddd", "bbb ccc ddd eee"]),
                "lang": pa.array(["en", "en"]),
                "source": pa.array(["t", "t"]),
                "n_chars": pa.array([15, 15], pa.int64()),
            }
        ),
        str(sf / "documents.parquet"),
    )

    def boom(docs):
        raise AssertionError("kernel must not engage under this locale")

    # simulated Turkish deployment: kernel path must not be touched
    monkeypatch.setattr(dedup, "_kernel_locale_ok", lambda s: False)
    monkeypatch.setattr(dedup, "_shingle_rows_kernel", boom)
    try:
        assert shingled_docs(spark, str(sf)).count() > 0
    finally:
        release_shingle_index(spark)
    monkeypatch.undo()
    # this environment IS root/en: the kernel engages (expression path
    # untouched), and the real probe says ok
    assert dedup._kernel_locale_ok(spark)

    def boom_expr(docs):
        raise AssertionError("expression path must not run on en locale")

    monkeypatch.setattr(dedup, "_shingle_rows_expr", boom_expr)
    try:
        assert shingled_docs(spark, str(sf)).count() > 0
    finally:
        release_shingle_index(spark)


def test_locale_probe_is_behavioral(spark, monkeypatch):
    """r13 (ADVICE r12): the guard now evaluates Catalyst's lower() on
    an executor and compares it against Python's str.lower(), instead
    of reading the DRIVER JVM's locale name. Pins: (a) the verdict is
    cached per session token, (b) a lowercase divergence on the probe
    string is detected, (c) an unprobeable session falls back to
    False (expression path)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        session_token,
    )

    tok = session_token(spark)
    # (a) probe once, verdict lands in the cache; a poisoned cache
    # entry is believed (proving the tiny job runs once per session)
    dedup._LOCALE_PROBE_CACHE.pop(tok, None)
    assert dedup._kernel_locale_ok(spark) is True
    assert dedup._LOCALE_PROBE_CACHE[tok] is True
    dedup._LOCALE_PROBE_CACHE[tok] = False
    assert dedup._kernel_locale_ok(spark) is False
    dedup._LOCALE_PROBE_CACHE.pop(tok, None)

    # (b) a probe string whose Python lower() disagrees with what the
    # executor JVM computes must fail the guard -- this exercises the
    # real comparison branch (Catalyst genuinely lowercases the probe;
    # the str subclass stands in for a divergent-locale executor)
    class _DivergentLower(str):
        def lower(self):
            return "￿-not-what-the-jvm-says"

    monkeypatch.setattr(
        dedup, "_LOCALE_PROBE", _DivergentLower(dedup._LOCALE_PROBE)
    )
    assert dedup._kernel_locale_ok(spark) is False
    monkeypatch.undo()
    dedup._LOCALE_PROBE_CACHE.pop(tok, None)

    # (c) unprobeable session (job submission raises) -> False
    monkeypatch.setattr(
        spark,
        "range",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("no jvm")),
        raising=False,
    )
    assert dedup._kernel_locale_ok(spark) is False
    monkeypatch.undo()
    dedup._LOCALE_PROBE_CACHE.pop(tok, None)
    assert dedup._kernel_locale_ok(spark) is True


def test_materialize_shingle_index_table_backed(spark, sf_dir):
    """r13 (VERDICT r12 #1): the cross-stage shingle index can be
    swapped for a bucketed-table scan -- identical rows, cache entry
    re-pointed (so BOTH consumers read the table), idempotent, and the
    minhash-shaped groupBy(doc_id) over it is exchange-free under the
    bucketed reader (the layout property the in-memory window gave)."""
    import pyspark.sql.functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.layout import (
        bucketed_sorted_reader,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        contaminated_docs,
        materialize_shingle_index,
        shingled_docs,
    )

    tbl = "t_shidx_mat"
    release_shingle_index(spark)
    try:
        mem_rows = sorted(
            (r["doc_id"], r["sid"], r["n_sh"])
            for r in shingled_docs(spark, sf_dir).collect()
        )
        mem_contam = sorted(
            tuple(r)
            for r in contaminated_docs(
                shingled_docs(spark, sf_dir)
            ).collect()
        )
        out = materialize_shingle_index(spark, sf_dir, tbl, 4)
        # cache re-pointed: the plain accessor now reads the table
        again = shingled_docs(spark, sf_dir)
        plan = again._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, plan
        assert tbl in plan.lower(), plan
        assert (
            sorted(
                (r["doc_id"], r["sid"], r["n_sh"]) for r in out.collect()
            )
            == mem_rows
        )
        # downstream consumer unchanged through the swap
        assert (
            sorted(
                tuple(r)
                for r in contaminated_docs(
                    shingled_docs(spark, sf_dir)
                ).collect()
            )
            == mem_contam
        )
        # idempotent: a second call returns the table scan, no rebuild
        assert (
            materialize_shingle_index(spark, sf_dir, tbl, 4)
            is shingled_docs(spark, sf_dir)
        )
        # bucketed layout serves the doc_id aggregation with no
        # exchange (what the persisted window's partitioning provided)
        with bucketed_sorted_reader(spark):
            agg = (
                spark.table(tbl)
                .groupBy("doc_id")
                .agg(F.min("sid").alias("m"))
            )
            pl = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in pl, pl
    finally:
        release_shingle_index(spark)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_materialize_shingle_index_cache_keys_on_args(spark, sf_dir):
    """ADVICE r13: the table-backed cache entry must be keyed on the
    requested (table, bucket_count), not just (session, corpus) -- a
    second call with a different table name rebuilds (writing the new
    table) instead of silently returning the old scan; and a backing
    table dropped externally triggers a rebuild instead of surfacing
    later as an AnalysisException at read time."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        materialize_shingle_index,
        shingled_docs,
    )

    t1, t2 = "t_shidx_args_a", "t_shidx_args_b"
    release_shingle_index(spark)
    try:
        first = materialize_shingle_index(spark, sf_dir, t1, 4)
        rows = sorted(
            (r["doc_id"], r["sid"], r["n_sh"]) for r in first.collect()
        )
        # different table name: a NEW table is written and served
        second = materialize_shingle_index(spark, sf_dir, t2, 8)
        assert spark.catalog.tableExists(t2)
        plan = second._jdf.queryExecution().optimizedPlan().toString()
        assert t2 in plan.lower(), plan
        assert (
            sorted(
                (r["doc_id"], r["sid"], r["n_sh"])
                for r in second.collect()
            )
            == rows
        )
        # same args again: idempotent (no third table, same frame)
        assert materialize_shingle_index(spark, sf_dir, t2, 8) is second
        # drop the backing table behind the cache: the next call must
        # REBUILD (from the raw corpus) rather than raise at read time
        spark.sql(f"DROP TABLE {t2}")
        rebuilt = materialize_shingle_index(spark, sf_dir, t2, 8)
        assert spark.catalog.tableExists(t2)
        assert (
            sorted(
                (r["doc_id"], r["sid"], r["n_sh"])
                for r in rebuilt.collect()
            )
            == rows
        )
        # and the plain accessor serves the rebuilt table
        assert shingled_docs(spark, sf_dir) is rebuilt
    finally:
        release_shingle_index(spark)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_materialize_shingle_index_same_table_new_buckets(spark, sf_dir):
    """ADVICE r14: the SAME table at a DIFFERENT bucket_count must
    rebuild cold from the raw corpus -- the warm branch previously used
    the cached scan of that very table as the source for an overwrite
    of itself, raising UNSUPPORTED_OVERWRITE.TABLE."""
    import glob
    import os

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        materialize_shingle_index,
        shingled_docs,
    )

    tbl = "t_shidx_rebucket"
    release_shingle_index(spark)
    try:
        first = materialize_shingle_index(spark, sf_dir, tbl, 4)
        rows = sorted(
            (r["doc_id"], r["sid"], r["n_sh"]) for r in first.collect()
        )
        # same table, different bucket count: rebuilds (no
        # AnalysisException), rows identical, layout re-bucketed
        rebucketed = materialize_shingle_index(spark, sf_dir, tbl, 8)
        assert (
            sorted(
                (r["doc_id"], r["sid"], r["n_sh"])
                for r in rebucketed.collect()
            )
            == rows
        )
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        files = [
            f
            for f in glob.glob(os.path.join(wh, tbl, "*"))
            if not f.endswith("_SUCCESS") and ".crc" not in f
        ]
        assert len(files) == 8, files
        # and the accessor serves the re-bucketed frame
        assert shingled_docs(spark, sf_dir) is rebucketed
    finally:
        release_shingle_index(spark)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_materialize_shingle_index_cold_fast_path(spark, sf_dir):
    """r14 (VERDICT r13 #1): a COLD materialize builds the uncached
    lineage pre-partitioned and writes it directly -- no index-cache
    populate, ONE doc_id shuffle -- and must produce exactly the rows
    the in-memory build produces, with the one-file-per-bucket layout
    the sorted-reader contract needs (this is the one caller of
    write_bucketed(pre_partitioned=True))."""
    import glob
    import os

    import pyarrow.parquet as pq

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.layout import (
        bucketed_sorted_reader,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        materialize_shingle_index,
        shingled_docs,
    )

    tbl = "t_shidx_cold"
    release_shingle_index(spark)
    try:
        mem_rows = sorted(
            (r["doc_id"], r["sid"], r["n_sh"])
            for r in shingled_docs(spark, sf_dir).collect()
        )
        release_shingle_index(spark)  # force the cold path
        out = materialize_shingle_index(spark, sf_dir, tbl, 4)
        assert (
            sorted(
                (r["doc_id"], r["sid"], r["n_sh"]) for r in out.collect()
            )
            == mem_rows
        )
        # pre-partitioned write kept one file per bucket (the layout
        # guarantee the legacy outputOrdering reader depends on), and
        # each file is internally key-sorted
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        files = sorted(
            f
            for f in glob.glob(os.path.join(wh, tbl, "*"))
            if not f.endswith("_SUCCESS") and ".crc" not in f
        )
        assert len(files) == 4, files
        ids = pq.read_table(files[0], columns=["doc_id"]).to_pandas()[
            "doc_id"
        ]
        assert (ids.sort_values().values == ids.values).all()
        # and the bucketed layout still serves the doc_id aggregation
        # with no exchange
        import pyspark.sql.functions as F

        with bucketed_sorted_reader(spark):
            pl = (
                spark.table(tbl)
                .groupBy("doc_id")
                .agg(F.min("sid").alias("m"))
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        assert "Exchange" not in pl, pl
    finally:
        release_shingle_index(spark)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_raw_persist_level_gate():
    """r15 (VERDICT r14 #5): the pre-cap shingle explode persists in
    memory only while its estimated cache fits the heap budget; above
    it the pin degrades to DISK_ONLY (one serialized pass, zero
    execution-memory theft) instead of spilling beside the heap."""
    from pyspark import StorageLevel

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        RAW_PERSIST_HEAP_FRACTION,
        RAW_ROW_CACHE_BYTES,
        RAW_SHINGLES_PER_DOC_EST,
        _raw_persist_level,
    )

    heap_64g = 64 * 2**30
    # 4M docs beside a 64g heap: the r14 regime, stays in memory
    assert (
        _raw_persist_level(4_000_000, heap_64g)
        == StorageLevel.MEMORY_AND_DISK_DESER
    )
    # 8M docs beside the same heap: the measured spill regime -> disk
    assert _raw_persist_level(8_000_000, heap_64g) == StorageLevel.DISK_ONLY
    # unknown size keeps the memory tier (small corpora are the point)
    assert (
        _raw_persist_level(None, heap_64g)
        == StorageLevel.MEMORY_AND_DISK_DESER
    )
    # the bound is exactly est_bytes > heap * fraction
    budget = heap_64g * RAW_PERSIST_HEAP_FRACTION
    boundary = int(
        budget // (RAW_SHINGLES_PER_DOC_EST * RAW_ROW_CACHE_BYTES)
    )
    assert (
        _raw_persist_level(boundary, heap_64g)
        == StorageLevel.MEMORY_AND_DISK_DESER
    )
    assert (
        _raw_persist_level(boundary + 1, heap_64g)
        == StorageLevel.DISK_ONLY
    )


def test_heap_bytes_parses_conf(spark):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        _heap_bytes,
    )

    got = _heap_bytes(spark)
    # the test session runs with driver_memory='8g'
    assert got == 8 * 2**30


def test_heap_bytes_matches_spark_byte_string_grammar():
    """r16 (ADVICE r15): Spark's JavaUtils accepts one- OR two-letter
    suffixes ('8g' == '8gb') and reads a UNITLESS *.memory value as
    MiB (byteStringAsMb) -- the parser must match, or memory-rich
    sessions fall through to the 1 GiB default and the raw-persist
    gate goes DISK_ONLY for no reason."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        _heap_bytes,
    )

    class _Conf:
        def __init__(self, val):
            self._val = val

        def get(self, key, default=None):
            return self._val if key == "spark.executor.memory" else default

    class _Spark:
        def __init__(self, val):
            self.conf = _Conf(val)

    assert _heap_bytes(_Spark("8gb")) == 8 * 2**30
    assert _heap_bytes(_Spark("8g")) == 8 * 2**30
    assert _heap_bytes(_Spark("512MB")) == 512 * 2**20
    assert _heap_bytes(_Spark("1T")) == 2**40
    assert _heap_bytes(_Spark("8b")) == 8  # a bare 'b' is bytes
    # unitless == MiB, Spark's byteStringAsMb semantics
    assert _heap_bytes(_Spark("4096")) == 4096 * 2**20
    # unparseable falls through to the 1 GiB default, never raises
    assert _heap_bytes(_Spark("lots")) == 2**30


def test_packed_band_key_candidates_equal_string_rendering(spark, sf_dir):
    """r15: the BIGINT-packed LSH band key (m0 << 31 | m1) must yield
    EXACTLY the candidate set of the comma-joined string rendering the
    oracle uses -- injectivity in practice, pinned on the real corpus."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        MH_P,
        NUM_PERM,
        ROWS_PER_BAND,
        _mh_coeffs,
        _minhash_candidates,
    )

    assert ROWS_PER_BAND == 2  # the packed branch's precondition
    release_shingle_index(spark)
    try:
        sh = shingled_docs(spark, sf_dir)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in _minhash_candidates(sh).collect()
        }
        # string-key reference (the pre-r15 rendering)
        hashed = sh.withColumn("h0", F.shiftright("sid", 32))
        minh = hashed.groupBy("doc_id").agg(
            *[
                F.min(
                    (F.lit(a) * F.col("h0") + F.lit(b)) % F.lit(MH_P)
                ).alias(f"m{s}")
                for s, (a, b) in ((s, _mh_coeffs(s)) for s in range(NUM_PERM))
            ]
        )
        band_structs = [
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"m{s}")
                        for s in range(
                            b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND
                        )
                    ],
                ).alias("band_key"),
            )
            for b in range(NUM_PERM // ROWS_PER_BAND)
        ]
        bands = minh.select(
            "doc_id", F.explode(F.array(*band_structs)).alias("bk")
        ).select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
        a, b = bands.alias("a"), bands.alias("b")
        want = {
            (r["doc_a"], r["doc_b"])
            for r in a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect()
        }
        assert got == want and len(got) > 0
    finally:
        release_shingle_index(spark)
