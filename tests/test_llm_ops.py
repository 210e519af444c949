"""Tests for the LLM-data operator set (dedup / text / similarity).

Beyond the differential-oracle gate (test_queries_oracle.py covers every
registered query automatically), these assert the properties an oracle
can't see: physical plan shape, LSH recall vs the exhaustive pair set, and
the pandas_udf kernel agreeing with the JVM fold.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _run(spark, sf_dir, name: str):
    return all_queries()[name].spark_fn(spark, sf_dir)


# --- plan shape -------------------------------------------------------------


def test_exact_dedup_is_hash_aggregate_no_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_exact_keep_first")
    assert "HashAggregate" in plan, plan
    assert "Sort" not in plan, plan


def test_neardup_has_no_cartesian(spark, sf_dir):
    """Both candidate generators must be equi-joins (inverted index /
    band keys), never an all-pairs product of the corpus."""
    plan = _plan(spark, sf_dir, "dedup_neardup_verified")
    assert "CartesianProduct" not in plan, plan


def test_neardup_materializes_shared_index_once(spark, sf_dir):
    """The shingle index is persisted and serves BOTH branches: the plan
    reuses the InMemoryRelation instead of re-shingling per branch."""
    plan = _plan(spark, sf_dir, "dedup_neardup_verified")
    assert "InMemoryTableScan" in plan, plan


def test_ann_cell_join_is_broadcast_hash(spark, sf_dir):
    """The IVF/LSH bucket restrictions are equi-joins with a broadcast
    query batch: the corpus side must not shuffle."""
    plan = _plan(spark, sf_dir, "sim_ann_family")
    assert "BroadcastHashJoin" in plan, plan


def test_bruteforce_query_batch_is_broadcast(spark, sf_dir):
    """Non-equi (self-exclusion) join against a bounded broadcast query
    batch -> BroadcastNestedLoopJoin, with the CORPUS as streamed side."""
    plan = _plan(spark, sf_dir, "sim_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_text_profile_has_no_key_shuffle(spark, sf_dir):
    """The per-row text profile must not shuffle on any key (no hash/range
    exchange). The only allowed exchange is the guarded round-robin widen
    that spreads an under-split scan across cores -- a no-op on inputs
    that already arrive well-partitioned."""
    plan = _plan(spark, sf_dir, "text_profile")
    low = plan.lower()
    assert "hashpartitioning" not in low, plan
    assert "rangepartitioning" not in low, plan


# --- semantics beyond the oracle -------------------------------------------


def test_minhash_recall_vs_exhaustive(spark, sf_dir):
    """LSH candidates, after verification, must recover every pair the
    exhaustive shingle-join finds at the same Jaccard threshold (with
    8 permutations and j >= 0.5 planted dups, expected recall is ~1.0;
    assert exact equality on this corpus)."""
    rows = _run(spark, sf_dir, "dedup_neardup_verified").collect()
    lsh = {(r.doc_a, r.doc_b) for r in rows if r.method == "minhash"}
    exact = {(r.doc_a, r.doc_b) for r in rows if r.method == "ngram"}
    assert lsh == exact, f"LSH missed {exact - lsh}, extra {lsh - exact}"


def test_pandas_cosine_matches_jvm_fold(spark, sf_dir):
    """The Arrow/NumPy kernel accumulates in the JVM fold's exact add
    order (round 8), so values must be BIT-EQUAL, not merely close --
    that equality is what lets the driver hash-pin sim_topk_pandas
    against the same DuckDB oracle as the brute-force rendering."""
    jvm = _run(spark, sf_dir, "sim_topk_bruteforce").collect()
    pnd = _run(spark, sf_dir, "sim_topk_pandas").collect()
    jvm_map = {(r.id_a, r.id_b): r.cosine for r in jvm}
    pnd_map = {(r.id_a, r.id_b): r.cosine for r in pnd}
    assert jvm_map.keys() == pnd_map.keys()
    for k, v in jvm_map.items():
        assert v == pnd_map[k], (k, v, pnd_map[k])


def test_simhash_fingerprints_cover_tokenful_docs(spark, sf_dir):
    """Every doc with at least one token gets a 16-bit fingerprint."""
    rows = _run(spark, sf_dir, "dedup_simhash").collect()
    assert all(0 <= r.simhash < (1 << 16) for r in rows)
    n_docs = (
        _run(spark, sf_dir, "text_profile").where("token_cnt > 0").count()
    )
    assert len(rows) == n_docs


def test_token_budget_rollup_over_profile(spark, sf_dir):
    """The per-source token-budget rollup (text_token_bpe's old shape) is
    an ordinary groupBy over text_profile's bpe_tokens column."""
    rollup = (
        _run(spark, sf_dir, "text_profile")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_cnt"),
            F.sum("bpe_tokens").alias("total_tokens"),
        )
        .collect()
    )
    assert rollup and all(r.total_tokens > 0 for r in rollup)


def test_cluster_components_is_equivalence_closure(spark, sf_dir):
    """Every verified near-dup pair must land in one cluster (so A~B, B~C
    transitively collapse even when A~C was never scored), and each
    cluster's id must be the minimum member doc_id -- the fixpoint the
    iterative propagation claims to reach."""
    pairs = (
        _run(spark, sf_dir, "dedup_neardup_verified")
        .where(F.col("method") == "ngram")
        .select("doc_a", "doc_b")
    )
    # lexical branch only: the registry entry also unions semantic rows
    # keyed by embeddings.vec_id, a DIFFERENT id space whose cluster ids
    # interleave with the ngram ones (see lexical_components docstring)
    lab = (
        _run(spark, sf_dir, "dedup_cluster_components")
        .where(F.col("method") == "ngram")
        .select("doc_id", "cluster_id")
    )
    ca = lab.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca")
    )
    cb = lab.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb")
    )
    split = (
        pairs.join(ca, "doc_a").join(cb, "doc_b")
        .where(F.col("ca") != F.col("cb"))
        .count()
    )
    assert split == 0, "a verified pair spans two clusters"
    not_min = (
        lab.groupBy("cluster_id")
        .agg(F.min("doc_id").alias("mn"))
        .where(F.col("cluster_id") != F.col("mn"))
        .count()
    )
    assert not_min == 0, "cluster_id is not the minimum member"


def test_ann_pair_mining_is_blocked_equi_join(spark, sf_dir):
    """The within-cell pair miner must stay a plain equi-join on the
    (cell, block_i, block_j) keys -- the hot-cell-salting layout -- and
    never degrade to a cartesian product."""
    plan = _plan(spark, sf_dir, "sim_ann_family")
    assert "CartesianProduct" not in plan, plan
    assert "i_b" in plan and "j_b" in plan, "block-pair keys left the join"


def test_contaminated_docs_flags_planted_overlap(spark, sf_dir):
    """Decontamination semantics on a planted index: a training doc
    sharing >= CONTAM_MIN_OVERLAP shingles with a benchmark doc is
    flagged with the exact overlap count; one sharing fewer is not, and
    benchmark docs are never flagged against themselves."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        CONTAM_MIN_OVERLAP,
        contaminated_docs,
    )

    k = CONTAM_MIN_OVERLAP
    rows = []
    # benchmark doc 0 (0 % 97 == 0) holds sids 0..k+4
    rows += [(0, s, k + 5) for s in range(k + 5)]
    # train doc 1 shares exactly k sids -> flagged with overlap == k
    rows += [(1, s, k) for s in range(k)]
    # train doc 2 shares k-1 sids -> below threshold, not flagged
    rows += [(2, s, k - 1) for s in range(k - 1)]
    # benchmark doc 97 shares everything with doc 0 but is bench-side
    rows += [(97, s, k + 5) for s in range(k + 5)]
    sh = spark.createDataFrame(rows, "doc_id long, sid long, n_sh long")
    got = {
        (r["doc_id"], r["bench_doc"]): r["overlap"]
        for r in contaminated_docs(sh).collect()
    }
    assert got == {(1, 0): k, (1, 97): k}, got


def test_contamination_bench_side_is_broadcast(spark, sf_dir):
    """The eval-set posting list must broadcast; the corpus side must
    stream through a BroadcastHashJoin, never shuffle for the join."""
    plan = _plan(spark, sf_dir, "quality_referential_summary")
    assert "BroadcastHashJoin" in plan, plan


def test_quantized_rerank_recovers_exact_topk(spark, sf_dir):
    """int8 retrieve + exact rerank recall vs the exact brute-force
    top-k on the fixed corpus: with RERANK_N > TOP_K headroom the
    two-stage result should recover the exact answer set here (recall
    is the quantization-error knob; a miss would mean the int8 stage
    dropped a true winner below rank RERANK_N)."""
    bf = {
        (r["id_a"], r["id_b"])
        for r in _run(spark, sf_dir, "sim_topk_bruteforce").collect()
    }
    fam = _run(spark, sf_dir, "sim_ann_family")
    q8 = {
        (r["id_a"], r["id_b"])
        for r in fam.where(F.col("method") == "q8").collect()
    }
    assert bf == q8, f"missed: {bf - q8}, extra: {q8 - bf}"


def test_ann_pq_branch_matches_operator(spark, sf_dir):
    """The family's method='pq' rows are exactly operators/pq.pq_topk
    over the seed-only codebooks (max_iterations=0) -- the registry
    branch is a rendering of the operator, not a second implementation."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.pq import (
        pq_fit,
        pq_topk,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        QUERY_N,
        TOP_K,
    )

    fam = {
        (r["id_a"], r["id_b"], r["cosine"], r["rank"])
        for r in _run(spark, sf_dir, "sim_ann_family")
        .where(F.col("method") == "pq")
        .collect()
    }
    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=PQ_M, k=PQ_K, max_iterations=0)
    want = {
        (r["id_a"], r["id_b"], r["cosine"], r["rank"])
        for r in pq_topk(emb, books, QUERY_N, TOP_K).collect()
    }
    assert fam == want and fam


def test_quantized_codes_are_int8_range(spark, sf_dir):
    """Symmetric quantization must land every code in [-127, 127]."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        _normed,
        quantized_rerank_topk,  # noqa: F401  (import sanity)
    )
    from pyspark.sql import functions as FF

    emb = read_table(spark, sf_dir, "embeddings")
    mx = FF.array_max(
        FF.transform(FF.col("embedding"), lambda x: FF.abs(x.cast("double")))
    )
    scl = FF.when(mx > 0, FF.lit(127.0) / mx).otherwise(FF.lit(0.0))
    bad = (
        emb.select(
            FF.transform(
                FF.col("embedding"),
                lambda x: FF.floor(x.cast("double") * scl + FF.lit(0.5)).cast(
                    "bigint"
                ),
            ).alias("qv")
        )
        .where(
            FF.exists(
                FF.col("qv"), lambda q: (q > 127) | (q < -127) | q.isNull()
            )
        )
        .count()
    )
    assert bad == 0


def test_contamination_respects_stop_shingle_cap(spark, sf_dir):
    """Boilerplate is not contamination: a shingle shared by more than
    DF_CAP documents is dropped by the index cap, so it creates no
    (train, benchmark) pairs -- only RARE shared shingles count toward
    the overlap threshold. This is the same skew guard that keeps the
    inverted-index join linear: one viral template line cannot fan out
    into docs x benchmark candidate pairs."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        CONTAM_MIN_OVERLAP,
        DF_CAP,
        contaminated_docs,
    )

    k = CONTAM_MIN_OVERLAP
    rows = []
    # one "viral" shingle (sid=999) in DF_CAP+2 docs, incl. benchmark 0
    viral_docs = [0] + list(range(1, DF_CAP + 2))
    rows += [(d, 999, 1) for d in viral_docs]
    # doc 1 ALSO shares k rare shingles with benchmark doc 0
    rows += [(0, s, k + 1) for s in range(k)]
    rows += [(1, s, k + 1) for s in range(k)]
    sh_all = spark.createDataFrame(rows, "doc_id long, sid long, n_sh long")
    # apply the DF_CAP exactly as shingled_docs does (these fixtures
    # bypass the builder, so cap here)
    from pyspark.sql import functions as FF

    drop = (
        sh_all.groupBy("sid")
        .agg(FF.count(FF.lit(1)).alias("df"))
        .where(FF.col("df") > DF_CAP)
        .select("sid")
    )
    sh = sh_all.join(FF.broadcast(drop), "sid", "left_anti")
    got = {
        (r["doc_id"], r["bench_doc"]): r["overlap"]
        for r in contaminated_docs(sh).collect()
    }
    # doc 1 flagged via the k rare shingles alone; the viral shingle
    # contributed nothing (no other doc reaches the threshold)
    assert got == {(1, 0): k}, got


def test_semantic_clusters_over_embedding_pairs(spark, sf_dir):
    """Semantic dedup composes from existing operators: embedding-cosine
    near-dup pairs (blocked_cell_pairs) feed the same connected-components
    operator the n-gram path uses (operators/graph.py). Invariants: every
    edge endpoint gets a label, both endpoints of every pair share a
    label, and each label is the minimum member id of its component."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        _normed,
        blocked_cell_pairs,
    )

    pairs = blocked_cell_pairs(_normed(spark, sf_dir)).select(
        "id_a", "id_b"
    )
    n_pairs = pairs.count()
    assert n_pairs > 0, "fixture corpus produced no cosine pairs"
    labels = connected_components(pairs)
    lab_a = labels.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "label", "la"
    )
    lab_b = labels.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "label", "lb"
    )
    joined = pairs.join(lab_a, "id_a").join(lab_b, "id_b")
    assert joined.count() == n_pairs, "an edge endpoint is unlabeled"
    assert joined.where(F.col("la") != F.col("lb")).count() == 0
    bad_min = (
        labels.groupBy("label")
        .agg(F.min("doc_id").alias("mn"))
        .where(F.col("label") != F.col("mn"))
        .count()
    )
    assert bad_min == 0, "label is not the component's minimum id"


def test_custom_minhash_agrees_with_spark_ml_lsh(spark, sf_dir):
    """Cross-validate the hand-built near-dup path against stock
    pyspark.ml MinHashLSH (the alternative SURVEY.md §2.10 named): ML's
    approxSimilarityJoin at Jaccard distance 0.5 over HashingTF shingle
    vectors must recover EVERY pair our inverted-index + exact-Jaccard
    verification emits (recall 1.0 -- ml computes exact distance on its
    candidates, so misses could only come from its 8-table OR-bucketing,
    vanishingly unlikely at J >= 0.5), and must not flood (precision
    bound vs hash-bucket collisions). The custom path stays primary
    because its md5 shingles are DuckDB-reproducible (hash-oracle
    parity) and its banded BIGINT signatures HashAggregate; this test
    documents that the stock operator would compute the same thing.
    Measured at sf0.001 and sf0.01: identical pair sets (28=28, 25=25).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _pair_jaccard,
        _tokens_col,
        shingled_docs,
    )

    docs = read_table(spark, sf_dir, "documents")
    sh_arr = (
        docs.select("doc_id", _tokens_col().alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(0, size(t)-3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2])))"
            ).alias("shingles"),
        )
    )
    feat = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    ).transform(sh_arr).where(F.expr("size(shingles) > 0"))
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feat)
    cand = model.approxSimilarityJoin(
        feat, feat, 1.0 - JACCARD_THRESHOLD, distCol="dist"
    )
    ml_pairs = (
        cand.select(
            F.col("datasetA.doc_id").alias("a"),
            F.col("datasetB.doc_id").alias("b"),
        )
        .where("a < b")
        .distinct()
    )
    ours = _pair_jaccard(shingled_docs(spark, sf_dir)).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    n_ours = ours.count()
    n_ml = ml_pairs.count()
    inter = ours.join(ml_pairs, ["a", "b"]).count()
    assert n_ours > 0
    assert inter == n_ours, f"ml missed {n_ours - inter} verified pairs"
    assert n_ml <= max(n_ours + 2, int(n_ours * 1.1)), (
        f"ml flooded: {n_ml} vs {n_ours}"
    )


def test_vocab_builder_deterministic_and_ranked(spark, sf_dir):
    """build_vocab: specials hold ids 0..3, real tokens get dense
    contiguous ids from 4 ranked by (count desc, token asc), counts are
    the true corpus frequencies, and the map is identical under a
    different input partitioning (determinism -- a drifting vocab would
    silently re-label every shard)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        SPECIAL_TOKENS,
        build_vocab,
    )

    docs = read_table(spark, sf_dir, "documents")
    v = build_vocab(docs, size=50).collect()
    by_id = {r["token_id"]: (r["token"], r["count"]) for r in v}
    assert len(by_id) == len(v), "duplicate token_id"
    for i, tok in enumerate(SPECIAL_TOKENS):
        assert by_id[i][0] == tok
    real = sorted(
        (r for r in v if r["token_id"] >= len(SPECIAL_TOKENS)),
        key=lambda r: r["token_id"],
    )
    assert [r["token_id"] for r in real] == list(
        range(len(SPECIAL_TOKENS), len(SPECIAL_TOKENS) + len(real))
    )
    keys = [(-r["count"], r["token"]) for r in real]
    assert keys == sorted(keys), "ids do not follow (count desc, token asc)"
    # true frequency spot-check on the top token
    top = real[0]
    from pyspark.sql import functions as F

    true_cnt = (
        docs.select(F.explode(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).alias("t"))
        .where(F.col("t") == top["token"])
        .count()
    )
    assert top["count"] == true_cnt
    # partitioning-independence
    v2 = build_vocab(docs.repartition(13), size=50).collect()
    assert {(r["token"], r["token_id"]) for r in v} == {
        (r["token"], r["token_id"]) for r in v2
    }


def test_encode_docs_matches_python_reference(spark, sf_dir):
    """encode_docs must reproduce a driver-side reference encoding
    exactly: same token order, OOV -> <unk>, tokenless docs -> empty
    arrays -- under a skewed repartitioning (position reassembly must
    not depend on which partition delivered which token)."""
    import re

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        UNK_ID,
        build_vocab,
        encode_docs,
    )

    docs = read_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, size=10)
    vmap = {r["token"]: r["token_id"] for r in vocab.collect()}
    got = {
        r["doc_id"]: list(r["token_ids"])
        for r in encode_docs(docs.repartition(17), vocab).collect()
    }
    want = {}
    for r in docs.select("doc_id", "text").collect():
        toks = re.findall(r"\S+", r["text"]) if r["text"] is not None else []
        want[r["doc_id"]] = [vmap.get(t, UNK_ID) for t in toks]
    assert got == want
    assert any(UNK_ID in ids for ids in want.values()), (
        "fixture corpus produced no OOV tokens; vocab too large for test"
    )


# --- weighted sampling ------------------------------------------------------


def test_weighted_sample_matches_reference_draw(spark, sf_dir):
    """The selected set equals an independent Python recomputation of
    the A-ES keys (same md5 channel, same ln(u)/w ordering)."""
    import hashlib
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        weighted_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("double").alias("w")
    )
    got = {
        r["doc_id"]
        for r in weighted_sample(docs, 25, "w", id_col="doc_id").collect()
    }

    keys = []
    for r in docs.collect():
        h = hashlib.md5(f"ws1{r['doc_id']}".encode()).hexdigest()[:13]
        u = (int(h, 16) + 1.0) / float(16**13 + 1)
        keys.append((math.log(u) / r["w"], -r["doc_id"]))
    want = {-i for _, i in sorted(keys, reverse=True)[:25]}
    assert got == want


def test_weighted_sample_deterministic_under_repartition(spark, sf_dir):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        weighted_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("double").alias("w")
    )
    a = {r["doc_id"] for r in weighted_sample(docs, 25, "w").collect()}
    b = {
        r["doc_id"]
        for r in weighted_sample(docs.repartition(13), 25, "w").collect()
    }
    assert a == b


def test_weighted_sample_weight_semantics(spark):
    """Zero/NULL weights are never drawn; an overwhelming weight is
    always drawn; k >= n returns every eligible row; stratified mode
    caps per stratum."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        weighted_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", 1.0) for i in range(20)]
    rows += [(100, "a", 1e12), (101, "b", 0.0), (102, "b", None)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")

    picked = {r["doc_id"] for r in weighted_sample(df, 5, "w").collect()}
    assert 100 in picked and 101 not in picked and 102 not in picked

    everything = {r["doc_id"] for r in weighted_sample(df, 1000, "w").collect()}
    assert everything == set(range(20)) | {100}

    per_src = weighted_sample(df, 3, "w", stratum_col="src").groupBy("src").count()
    assert {(r["src"], r["count"]) for r in per_src.collect()} == {("a", 3), ("b", 3)}


def test_weighted_sample_global_cut_is_take_ordered(spark, sf_dir):
    """The global top-k must be TakeOrderedAndProject (per-partition
    heap), never a full global Sort."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        weighted_sample,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).cast("double").alias("w")
    )
    plan = (
        weighted_sample(docs, 10, "w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


# --- n-gram LM perplexity scoring -------------------------------------------


def test_lm_score_matches_hand_computation(spark):
    """Tiny corpus, hand-computed interpolated probabilities."""
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs,
        train_bigram_lm,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    uni, bi, n, v = train_bigram_lm(docs)
    # tokens: a=3 b=3 x=1 -> N=7, V=3; bigrams: (a,b)=3 (b,a)=1
    assert (n, v) == (7, 3)
    out = {
        r["doc_id"]: r
        for r in lm_score_docs(docs, uni, bi, n, v).collect()
    }

    def p(c12, c1, c2):
        return 0.75 * (c12 / c1 if c1 else 0.0) + 0.25 * (c2 + 1.0) / (7 + 3.0)

    # doc 1: bigrams (a,b) (b,a) (a,b)
    h1 = -(2 * math.log(p(3, 3, 3)) + math.log(p(1, 3, 3))) / 3
    assert abs(out[1]["cross_entropy"] - h1) < 1e-9
    assert abs(out[1]["perplexity"] - math.exp(h1)) < 1e-9
    assert out[1]["n_bigrams"] == 3
    # doc 3 has a single token: no bigrams, NULL score
    assert out[3]["n_bigrams"] == 0 and out[3]["cross_entropy"] is None


def test_lm_separates_natural_from_scrambled(spark, sf_dir):
    """The signal works: corpus-trained scores rank real documents
    below (= more predictable than) token-scrambled ones on average."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs,
        train_bigram_lm,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # deterministic scramble: sort each doc's tokens by md5(token||doc_id),
    # breaking bigram structure while keeping the unigram distribution
    scrambled = docs.select(
        "doc_id",
        F.expr(
            "array_join(transform(array_sort(transform("
            "regexp_extract_all(text, '\\\\S+', 0),"
            " t -> struct(md5(concat(t, CAST(doc_id AS STRING))) AS k, t AS t))),"
            " x -> x.t), ' ')"
        ).alias("text"),
    )
    uni, bi, n, v = train_bigram_lm(docs)
    real = lm_score_docs(docs, uni, bi, n, v).agg(
        F.avg("cross_entropy")
    ).collect()[0][0]
    scram = lm_score_docs(scrambled, uni, bi, n, v).agg(
        F.avg("cross_entropy")
    ).collect()[0][0]
    assert real < scram, (real, scram)


def test_lm_deterministic_under_repartition(spark, sf_dir):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs,
        train_bigram_lm,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    uni, bi, n, v = train_bigram_lm(docs)
    a = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_score_docs(docs, uni, bi, n, v).collect()
    }
    b = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_score_docs(
            docs.repartition(13), uni, bi, n, v
        ).collect()
    }
    assert a == b  # exact: decimal-accumulated log sums


def test_lm_plan_has_no_product(spark, sf_dir):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs,
        train_bigram_lm,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    uni, bi, n, v = train_bigram_lm(docs)
    plan = (
        lm_score_docs(docs, uni, bi, n, v)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


# --- feature-hashing document vectors ---------------------------------------


def test_hash_embed_shape_and_norm(spark, sf_dir):
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = hash_embed(docs, dim=64).collect()
    assert len(vecs) == docs.count()
    for r in vecs:
        assert len(r["embedding"]) == 64
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert n == 0.0 or abs(n - 1.0) < 1e-9


def test_hash_embed_deterministic_and_content_keyed(spark):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["embedding"] for r in hash_embed(docs).collect()}
    again = {
        r["doc_id"]: r["embedding"]
        for r in hash_embed(docs.repartition(5)).collect()
    }
    assert out == again  # repartition-stable
    assert out[1] == out[2]  # same text => identical vector
    assert all(x == 0.0 for x in out[3])  # empty doc => zero vector


def test_hash_embed_cosine_separates_neardups(spark):
    """The lexical signal survives hashing: a one-word edit stays close,
    an unrelated document stays far -- the property that lets hashed
    vectors drive the embedding near-dup operators."""
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("dog", "cat")),
            (3, "completely different words about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    v = {r["doc_id"]: r["embedding"] for r in hash_embed(docs).collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert cos(v[1], v[2]) > 0.8
    assert cos(v[1], v[3]) < 0.5
    assert abs(cos(v[1], v[1]) - 1.0) < 1e-9


def test_model_free_semantic_dedup_via_hash_embed(spark):
    """The no-model path end to end: hash_embed vectors -> cosine
    threshold pairs -> connected components. Planted paraphrase pairs
    (one-word edits) must cluster; unrelated docs must stay singletons
    outside the label set."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.graph import (
        connected_components,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        cosine,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        hash_embed,
    )

    base = "spark folds the shuffle into one combinable aggregate pass"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("one", "a")),
            (3, base.replace("pass", "stage")),
            (10, "entirely unrelated text about parquet footer statistics"),
            (11, "another standalone document with its own vocabulary"),
        ],
        "doc_id long, text string",
    )
    v = hash_embed(docs, dim=64)
    a = v.select(F.col("doc_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = v.select(F.col("doc_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(cosine(F.col("ea"), F.col("eb")) >= 0.8)
        .select("id_a", "id_b")
    )
    labels = {
        r["doc_id"]: r["label"]
        for r in connected_components(pairs).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert 10 not in labels and 11 not in labels  # singletons never enter


# --- boilerplate stripping --------------------------------------------------


def test_strip_boilerplate_removes_shared_lines(spark):
    """A 10-token boilerplate header shared by several docs is removed
    everywhere; unique content survives in order; an all-boilerplate doc
    empties; NULL text stays NULL."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        strip_boilerplate,
    )

    header = "terms of service apply to all content on this site"  # 10 toks
    uniq = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "one two three four five six seven eight nine ten",
    }
    docs = spark.createDataFrame(
        [
            (1, f"{header} {uniq[1]}"),
            (2, f"{header} {uniq[2]}"),
            (3, header),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in strip_boilerplate(docs).collect()}
    assert out[1] == uniq[1]
    assert out[2] == uniq[2]
    assert out[3] == ""
    assert out[4] is None

    # the partitioned-join fallback (broadcast_frequent=False, for
    # blocklist-scale frequent tables) is semantics-identical
    out_part = {
        r["doc_id"]: r["text"]
        for r in strip_boilerplate(docs, broadcast_frequent=False).collect()
    }
    assert out_part == out


def test_strip_boilerplate_never_shuffles_text(spark, sf_dir):
    """The rewrite's scale contract, measured: every shuffled record is
    digest-or-id width -- document text crosses no exchange."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        measure,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        strip_boilerplate,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows, m = measure(strip_boilerplate(docs))
    assert len(rows) == docs.count()
    assert m.shuffle_records > 0
    assert m.shuffle_bytes / m.shuffle_records < 128, m


def test_ann_recall_report(spark, sf_dir):
    """Accuracy half of the ANN trade, measured: q8 recovers the exact
    top-k (recall 1.0); ivf/lsh sit at the ~1/cells floor on this
    deliberately unstructured fixture (see recall_report docstring) --
    the report is how a deployment picks its branch."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        recall_report,
    )

    rep = recall_report(spark, sf_dir)
    assert set(rep) == {"ivf", "lsh", "pq", "q8"}
    assert rep["q8"] == 1.0, rep
    assert all(0.0 <= v <= 1.0 for v in rep.values())
    assert rep["ivf"] < rep["q8"] and rep["lsh"] < rep["q8"], rep
    # PQ sits at the same floor on THIS fixture: unstructured random
    # vectors differ by margins below 8-byte-code resolution, so the
    # quantized ranking is noise (measured 1/24, like ivf/lsh) and must
    # stay strictly under the exact-ranking q8 branch -- if pq ever
    # matched q8 here, codes would not actually be driving the scores.
    # On data with real cluster structure it retrieves the true cluster
    # (tests/test_pq.py), which is the honest statement of when PQ
    # applies, exactly as the ivf/lsh caveat above.
    assert rep["pq"] < rep["q8"], rep


def test_ann_recall_report_empty_corpus(spark, tmp_path):
    """An empty embeddings corpus yields an empty report, not a
    ZeroDivisionError -- the CLI recall subcommand must degrade
    gracefully."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.similarity import (
        recall_report,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf_empty"
    sf.mkdir()
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pq.write_table(
        schema.empty_table(), str(sf / "embeddings.parquet")
    )
    assert recall_report(spark, str(sf)) == {}


def test_grouped_lm_equals_per_language_global(spark, sf_dir):
    """Stratified training is exactly 'one global LM per language':
    grouped scores reproduce, bit for bit, the global scorer run on
    each language's slice alone."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs,
        lm_score_docs_grouped,
        train_bigram_lm,
        train_bigram_lm_grouped,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    uni, bi, tot = train_bigram_lm_grouped(docs)
    grouped = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_score_docs_grouped(docs, uni, bi, tot).collect()
    }
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    assert len(langs) >= 2  # the stratification is meaningful
    for lang in langs:
        sub = docs.where(F.col("lang") == lang).select("doc_id", "text")
        u, b, n, v = train_bigram_lm(sub)
        for r in lm_score_docs(sub, u, b, n, v).collect():
            assert grouped[r["doc_id"]] == r["cross_entropy"], (
                lang,
                r["doc_id"],
            )


# --- content-defined chunking -----------------------------------------------


def _cdc_chunks(spark, rows, **kw):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        chunk_cdc,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in chunk_cdc(df, **kw).collect():
        out.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    return {k: [c for _, c in sorted(v)] for k, v in out.items()}


def test_cdc_chunks_reassemble_and_respect_bounds(spark, sf_dir):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        CDC_MAX_CHUNK,
        CDC_MIN_CHUNK,
        chunk_cdc,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in docs.collect() if r["text"]}
    got = {}
    for r in chunk_cdc(docs).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    assert set(got) == set(texts)
    for did, pieces in got.items():
        chunks = [c for _, c in sorted(pieces)]
        assert "".join(chunks) == texts[did]
        for i, c in enumerate(chunks):
            assert len(c) <= CDC_MAX_CHUNK, (did, len(c))
            # sub-min chunks exist only as the doc tail or the short
            # remainder right after a forced max-length split
            if len(c) < CDC_MIN_CHUNK and i != len(chunks) - 1:
                assert len(chunks[i - 1]) == CDC_MAX_CHUNK, (did, i, len(c))


def test_cdc_boundaries_survive_a_prefix_edit(spark):
    """THE content-defined property: prepending a header re-synchronizes
    within a window, so most chunks keep their identity -- where fixed
    strides shift every chunk after the edit."""
    import hashlib

    base = " ".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(60)
    )  # ~2k chars of stable pseudo-text
    out = _cdc_chunks(
        spark, [(1, base), (2, "EDITED HEADER >>> " + base)]
    )
    shared = set(out[1]) & set(out[2])
    assert len(shared) / len(out[1]) > 0.6, (len(shared), len(out[1]))

    # fixed-stride contrast: the same edit shifts every window
    stride = 64
    fixed1 = {base[i : i + stride] for i in range(0, len(base), stride)}
    edited = "EDITED HEADER >>> " + base
    fixed2 = {edited[i : i + stride] for i in range(0, len(edited), stride)}
    assert len(fixed1 & fixed2) / len(fixed1) < 0.1


def test_cdc_edge_shapes(spark):
    out = _cdc_chunks(
        spark,
        [(1, "short"), (2, None), (3, "")],
    )
    assert out.get(1) == ["short"]  # sub-window doc = one chunk
    assert 2 not in out and 3 not in out  # NULL/empty emit nothing


def test_epoch_shuffle_independent_reproducible_permutations(spark, sf_dir):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        epoch_shuffle,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    perms = {}
    for ep in (0, 1, 2):
        out = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(docs, ep).collect()}
        assert sorted(out.values()) == list(range(1, n + 1))  # a bijection
        perms[ep] = out
    # epochs differ from each other...
    assert perms[0] != perms[1] != perms[2]
    # ...substantially (not a near-identity drift)
    moved = sum(1 for d in perms[0] if perms[0][d] != perms[1][d])
    assert moved > n * 0.9
    # and every epoch reproduces exactly
    again = {r["doc_id"]: r["shuffle_pos"] for r in epoch_shuffle(docs.repartition(7), 1).collect()}
    assert again == perms[1]


def test_plan_mixture_water_fills_and_repeats():
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.training import (
        plan_mixture,
    )

    have = {"A": 100, "B": 1000, "C": 10000}
    weights = {"A": 0.5, "B": 0.25, "C": 0.25}

    plan = plan_mixture(have, weights, budget_tokens=2000)
    # A can't fill its 1000-token target: caps at rate 1, the 900-token
    # deficit water-fills equally onto B and C
    assert plan["A"]["rate"] == 1.0 and plan["A"]["sampled_tokens"] == 100
    assert plan["B"]["sampled_tokens"] == plan["C"]["sampled_tokens"] == 950
    assert abs(plan["B"]["rate"] - 0.95) < 1e-12
    assert sum(e["sampled_tokens"] for e in plan.values()) == 2000

    rep = plan_mixture(have, weights, budget_tokens=2000, allow_repetition=True)
    assert rep["A"]["rate"] == 10.0  # 10 epochs over the small source
    assert rep["B"]["rate"] == 0.5 and rep["C"]["rate"] == 0.05
    assert sum(e["sampled_tokens"] for e in rep.values()) == 2000

    # an empty source contributes nothing and breaks nothing
    plan2 = plan_mixture({"A": 0, "B": 1000}, {"A": 0.5, "B": 0.5}, 500)
    assert plan2["A"]["rate"] == 0.0
    assert plan2["B"]["sampled_tokens"] == 500


def test_split_leakage_finds_cross_split_neardups(spark, sf_dir):
    """Every leaked eval doc reported by the screen must (a) really be
    in val/test, (b) near-dup a genuine train doc, and (c) the screen
    must find EVERY cross-boundary verified pair's eval side."""
    import hashlib

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        split_leakage,
    )

    rows = split_leakage(spark, sf_dir).collect()
    assert rows, "fixture corpus has planted near-dups; some must cross splits"

    def split_of(doc_id):
        p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
        return "train" if p < "cc" else ("val" if p < "e6" else "test")

    pairs = all_queries()["dedup_neardup_verified"].spark_fn(spark, sf_dir)
    crossing = {
        (r["doc_a"], r["doc_b"])
        for r in pairs.where("method = 'ngram'").collect()
        if (split_of(r["doc_a"]) == "train") != (split_of(r["doc_b"]) == "train")
    }
    leaked_expected = {
        (b if split_of(a) == "train" else a) for a, b in crossing
    }
    got = {r["eval_doc"] for r in rows}
    assert got == leaked_expected
    for r in rows:
        assert split_of(r["eval_doc"]) == r["eval_split"] != "train"
        assert split_of(r["train_doc"]) == "train"
        assert r["jaccard"] >= 0.5  # the near-dup verification threshold


def test_corpus_report_card(spark, sf_dir):
    """One row per source; volumes cover the corpus exactly; dup and
    contamination counts agree with the underlying operators."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.quality.report import (
        corpus_report,
    )

    docs = read_table(spark, sf_dir, "documents")
    rep = corpus_report(spark, sf_dir).collect()
    assert len(rep) == docs.select("source").distinct().count()
    assert sum(r["n_docs"] for r in rep) == docs.count()
    assert all(0.0 <= r["mean_quality"] <= 1.0 for r in rep)
    assert all(
        r["ppl_p50_ce"] <= r["ppl_p95_ce"]
        for r in rep
        if r["ppl_p50_ce"] is not None
    )
    total_dup = sum(r["n_neardup"] for r in rep)
    pairs = all_queries()["dedup_neardup_verified"].spark_fn(spark, sf_dir)
    expected_dup = (
        pairs.where("method = 'ngram'")
        .selectExpr("explode(array(doc_a, doc_b)) AS d")
        .distinct()
        .count()
    )
    assert total_dup == expected_dup


def test_strip_boilerplate_preserves_case(spark):
    """The rewrite must NOT launder the corpus through the lowercased
    dedup channel: original case survives, and boilerplate matching
    still works case-insensitively (the mining channel is lowercased)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        strip_boilerplate,
    )

    header = "Terms Of Service Apply To All Content On This Site"  # 10 toks
    body = "NASA Launched Artemis And The Mission Succeeded Again Today"
    docs = spark.createDataFrame(
        [
            (1, f"{header} {body}"),
            (2, f"{header.lower()} other unique words fill this line now ok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in strip_boilerplate(docs).collect()}
    # mixed-case and lowercased headers share a digest -> both stripped;
    # surviving text keeps its original capitalization
    assert out[1] == body
    assert out[2] == "other unique words fill this line now ok"


# --- mask_repeated_spans: substring-level dedup ----------------------------


def _mask_oracle(rows, window, min_dup, keep_first):
    """Independent pure-Python recomputation of mask_repeated_spans:
    sliding windows over lowercased tokens, corpus-wide occurrence
    counts, optional first-occurrence survivor, per-doc interval union."""
    toks = {
        d: (t.split() if t is not None and t.strip() else ([] if t is not None else None))
        for d, t in rows
    }
    occs = {}
    for d in sorted(toks):
        wt = toks[d]
        if not wt:
            continue
        for i in range(len(wt) - window + 1):
            key = " ".join(w.lower() for w in wt[i : i + window])
            occs.setdefault(key, []).append((d, i))
    covered = {d: set() for d in toks}
    for key, lst in occs.items():
        if len(lst) < min_dup:
            continue
        first = min(lst)
        for d, i in lst:
            if keep_first and (d, i) == first:
                continue
            covered[d].update(range(i, i + window))
    out = {}
    for d, wt in toks.items():
        if wt is None:
            out[d] = (None, 0)
        else:
            kept = [w for i, w in enumerate(wt) if i not in covered[d]]
            out[d] = (" ".join(kept), len(covered[d]))
    return out


def test_mask_repeated_spans_semantics(spark):
    """Keep-first passage dedup at arbitrary alignments, case-insensitive
    matching with case-PRESERVING output, self-repeats masked, short and
    NULL docs untouched."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        mask_repeated_spans,
    )

    passage = "The QUICK Brown fox Jumps OVER the lazy Sleeping dog"  # 10 toks
    uniq1 = "Alpha beta GAMMA delta epsilon"
    uniq2 = "one TWO three four five six"
    rows = [
        (1, f"{passage} {uniq1}"),  # first occurrence: survives intact
        (2, f"{uniq2} {passage.lower()}"),  # shifted + different case: masked
        (3, f"{uniq1} {passage} {passage}"),  # both masked (doc 1 was first)
        (4, "Too short"),  # < window tokens: no spans
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["text"], r["masked_tokens"])
        for r in mask_repeated_spans(docs, window=10, min_dup=2).collect()
    }
    assert out[1] == (f"{passage} {uniq1}", 0)  # case preserved, untouched
    assert out[2] == (uniq2, 10)
    assert out[3] == (uniq1, 20)  # both copies masked, interval-merged
    assert out[4] == ("Too short", 0)
    assert out[5] == (None, 0)

    # keep_first=False strips every occurrence, including the first
    out_all = {
        r["doc_id"]: (r["text"], r["masked_tokens"])
        for r in mask_repeated_spans(
            docs, window=10, min_dup=2, keep_first=False
        ).collect()
    }
    assert out_all[1] == (uniq1, 10)
    assert out_all[2] == (uniq2, 10)
    assert out_all[3] == (uniq1, 20)

    assert out == {
        d: v for d, v in _mask_oracle(rows, 10, 2, True).items()
    }
    assert out_all == {
        d: v for d, v in _mask_oracle(rows, 10, 2, False).items()
    }


def test_mask_repeated_spans_matches_oracle_randomized(spark):
    """Differential check on a seeded random corpus with planted repeats:
    the distributed plan reproduces the pure-Python recomputation row for
    row (both keep_first modes), including overlap merging and the
    partitioned-join fallback."""
    import random

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        mask_repeated_spans,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(40)] + ["Mixed", "CASE", "Tok"]
    passages = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 14)))
        for _ in range(4)
    ]
    rows = []
    for d in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        if rng.random() < 0.6:
            p = rng.choice(passages)
            cut = rng.randint(0, len(words))
            words = words[:cut] + p.split() + words[cut:]
        if rng.random() < 0.2 and words:
            words = words + words  # self-repeat
        rows.append((d, " ".join(words) if words else ""))
    rows.append((98, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for keep_first in (True, False):
        want = _mask_oracle(rows, 6, 2, keep_first)
        got = {
            r["doc_id"]: (r["text"], r["masked_tokens"])
            for r in mask_repeated_spans(
                docs,
                window=6,
                min_dup=2,
                keep_first=keep_first,
                broadcast_frequent=keep_first,  # exercise both join paths
            ).collect()
        }
        assert got == want, {
            d: (got[d], want[d]) for d in got if got[d] != want[d]
        }


# --- containment_pairs: doc-in-doc detection -------------------------------


def test_containment_finds_what_jaccard_misses(spark, tmp_path):
    """A doc embedded verbatim in a 3x-longer doc: containment 1.0 but
    Jaccard ~1/3 (below the near-dup gate) -- containment_pairs flags
    it, and the values match a pure-Python shingle-set recomputation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _pair_jaccard,
        containment_pairs,
        shingled_docs,
    )

    rng_words = [f"w{i}" for i in range(60)]
    small = " ".join(rng_words[:12])  # doc 1: 12 tokens
    big = " ".join(rng_words[:40])  # doc 2: small is its prefix
    other = " ".join(rng_words[30:55])  # doc 3: overlaps big, not small
    sf = tmp_path / "sf_contain"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": [small, big, other],
                "lang": ["en"] * 3,
                "source": ["t"] * 3,
                "n_chars": pa.array(
                    [len(small), len(big), len(other)], pa.int64()
                ),
            }
        ),
        str(sf / "documents.parquet"),
    )
    sh = shingled_docs(spark, str(sf))
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_pairs(sh, threshold=0.9).collect()
    }

    # python recomputation over true shingle sets
    def shset(text):
        t = text.lower().split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    s1, s2 = shset(small), shset(big)
    want_cont = len(s1 & s2) / min(len(s1), len(s2))
    want_jac = len(s1 & s2) / len(s1 | s2)
    assert want_cont == 1.0 and want_jac < JACCARD_THRESHOLD
    got = out[(1, 2)]
    assert abs(got["containment"] - want_cont) < 1e-12
    assert abs(got["jaccard"] - want_jac) < 1e-12
    assert got["contained_doc"] == 1
    assert (1, 3) not in out and (2, 3) not in out
    # and the symmetric near-dup gate indeed misses the pair
    assert _pair_jaccard(sh).where("doc_a = 1 AND doc_b = 2").count() == 0


def test_containment_min_shingle_floor(spark):
    """Docs below the min_shingles floor never pair -- the
    every-tiny-doc-is-contained guard."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        containment_pairs,
    )

    # doc 1 has 3 shingles, all shared with doc 2 (floor is 5)
    sh = spark.createDataFrame(
        [(1, s, 3) for s in (10, 11, 12)]
        + [(2, s, 20) for s in list(range(10, 13)) + list(range(100, 117))],
        "doc_id long, sid long, n_sh long",
    )
    assert containment_pairs(sh, threshold=0.5, min_shingles=5).count() == 0
    assert (
        containment_pairs(sh, threshold=0.5, min_shingles=3).count() == 1
    )


def test_containment_on_fixture_corpus(spark, sf_dir):
    """On the shared index: output sane (bounds, ordering, determinism),
    and every emitted pair's numbers agree with direct per-pair
    recomputation from the index itself."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        containment_pairs,
        shingled_docs,
    )

    sh = shingled_docs(spark, sf_dir)
    rows = containment_pairs(sh).collect()
    idx = {}
    for r in sh.collect():
        idx.setdefault(r["doc_id"], set()).add(r["sid"])
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        sa, sb = idx[r["doc_a"]], idx[r["doc_b"]]
        cont = len(sa & sb) / min(len(sa), len(sb))
        assert abs(r["containment"] - cont) < 1e-12
        assert r["containment"] >= 0.9
        assert r["contained_doc"] in (r["doc_a"], r["doc_b"])


def test_normed_cache_releases_live_entries(spark, sf_dir):
    """release_normed_corpus clears (and unpersists) a live session's
    normed-corpus pin, and a later build pins a fresh one; called with
    no session it releases every live session's pins."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import session_cache
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        similarity as sim,
    )

    # live-session path: populate, then release explicitly
    df = sim._normed(spark, sf_dir)
    assert df.is_cached and sf_dir in session_cache(spark, "normed")
    sim.release_normed_corpus(spark)
    assert not session_cache(spark, "normed")
    assert not df.is_cached
    fresh = sim._normed(spark, sf_dir)
    assert fresh is not df and fresh is sim._normed(spark, sf_dir)

    s2 = spark.newSession()
    other = sim._normed(s2, sf_dir)
    assert other is not fresh and other.is_cached
    sim.release_normed_corpus()
    for sess, pin in ((spark, fresh), (s2, other)):
        assert not session_cache(sess, "normed")
        assert not pin.is_cached


def _cache_manager_holds(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def test_release_keeps_other_sessions_pin(spark, sf_dir):
    """Spark's CacheManager is shared by every session of a SparkContext,
    so two sessions' persisted normed corpora (and shingle indexes) of
    one sf_dir are one cache entry. Releasing one session leaves the
    other's plan cached; the last release unpersists it."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        dedup,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        similarity as sim,
    )

    s2 = spark.newSession()
    for build, release in (
        (sim._normed, sim.release_normed_corpus),
        (dedup.shingled_docs, dedup.release_shingle_index),
    ):
        mine, other = build(spark, sf_dir), build(s2, sf_dir)
        assert mine is not other
        assert _cache_manager_holds(spark, other)
        release(spark)
        assert _cache_manager_holds(s2, other), release.__name__
        release(s2)
        assert not _cache_manager_holds(s2, other), release.__name__
        assert not _cache_manager_holds(spark, mine), release.__name__


def test_grouped_lm_zero_count_c1_does_not_raise(spark):
    """ADVICE r10: the grouped scorer precomputes tier-1 log-probs over
    EVERY bi-model row, so an inconsistent caller-supplied model with a
    ZERO-count unigram (c1 = 0, present, not NULL) heading a bigram
    must not raise ANSI DIVIDE_BY_ZERO for documents that never hit
    the pair -- and a document that DOES hit it scores under the
    0.0-smoothed tier (the documented divergence from the per-row
    form, which raised on hit)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs_grouped,
    )

    docs = spark.createDataFrame(
        [(1, "en", "aa bb"), (2, "en", "zz bb")],
        "doc_id long, lang string, text string",
    )
    uni = spark.createDataFrame(
        [("en", "aa", 1), ("en", "bb", 2), ("en", "zz", 0)],
        "g string, w string, c long",
    )
    bi = spark.createDataFrame(
        # (zz, bb): c1 = 0 -- unguarded c12/c1 raises at precompute
        [("en", "aa", "bb", 1), ("en", "zz", "bb", 1)],
        "g string, w1 string, w2 string, c12 long",
    )
    totals = spark.createDataFrame(
        [("en", 3, 3)], "g string, n long, v long"
    )
    got = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_score_docs_grouped(docs, uni, bi, totals).collect()
    }
    assert set(got) == {1, 2}
    # doc 2's (zz, bb) hit takes the 0.0-smoothed p_bi branch: its
    # entropy is exactly the unseen-pair tier for w2=bb
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        LM_ALPHA,
        LM_LAMBDA,
    )

    p_uni_bb = (2 + LM_ALPHA) / (3 + LM_ALPHA * 3)
    want = -math.log(LM_LAMBDA * 0.0 + (1 - LM_LAMBDA) * p_uni_bb)
    assert math.isclose(got[2], want, rel_tol=1e-12)


def _profile_canon(df):
    # repr key: rows can carry a NULL doc_id (None < int is a TypeError)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_profile_kernel_bit_equals_expression(spark, sf_dir):
    """r12: text_profile's Arrow kernel must be BIT-EQUAL to the
    Catalyst expression rendering -- real corpus plus the adversarial
    classes the mirror depends on (NULL / empty / whitespace-only /
    single-token docs, non-ASCII + NBSP, Unicode-case text, digits,
    punctuation-only, PII spans). The short-doc fixtures also pin the
    expression path's r12 emptiness guards: unguarded
    sequence(0, n<0) DESCENDS and ANSI-crashed the scan on any doc
    with <4 (fingerprint) / <2 (2-gram) normalized tokens."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.pii import (
        synth_pii,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        text as T,
    )

    docs = synth_pii(read_table(spark, sf_dir, "documents", widen=True))
    assert _profile_canon(T._profile_rows_kernel(docs)) == _profile_canon(
        T._profile_rows_expr(docs)
    )
    rows = [
        (1, None, "en"),
        (2, "", "en"),
        (3, "   \t\n  ", "en"),
        (4, "the quick brown fox the quick brown fox", "en"),
        (5, "café   naïve 中文 test", "zh"),
        (6, "a", "en"),
        (7, "x y", "en"),
        (12, "x y z", "en"),
        (8, "mail a@b.co or 555-123-4567 ip 10.1.2.3 ssn 123-45-6789", "en"),
        (9, "İstanbul Iı ßẞ", "tr"),
        (10, "1 2 3 4 5 6 7 8 9", "en"),
        (11, "!!! ??? ,,,", "en"),
        (13, "word joined nbsp here", "en"),
        (33, "the the the the the of of of", "en"),
        (None, "null id doc with several tokens here", "en"),
    ]
    fix = synth_pii(
        spark.createDataFrame(rows, "doc_id long, text string, lang string")
    )
    assert _profile_canon(T._profile_rows_kernel(fix)) == _profile_canon(
        T._profile_rows_expr(fix)
    )


def test_profile_kernel_locale_fallback(spark, sf_dir, monkeypatch):
    """r12: like the shingle kernel, text_profile falls back to the
    expression rendering when the JVM default locale is not root/en."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        dedup as D,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        text as T,
    )

    def boom(docs):
        raise AssertionError("kernel must not engage under this locale")

    monkeypatch.setattr(D, "_kernel_locale_ok", lambda s: False)
    monkeypatch.setattr(T, "_profile_rows_kernel", boom)
    assert T.text_profile(spark, sf_dir).count() > 0


def test_lm_scoring_kernel_bit_equals_expression(spark, sf_dir):
    """r13 (VERDICT r12 task 4): lm_score_docs_grouped's Arrow scoring
    kernel (dict lookups of the JVM-computed tier log-probs) must be
    BIT-EQUAL to the pure-expression rendering -- over the real corpus
    AND an adversarial fixture covering every divergence channel:
    NULL text, NULL lang, empty/1-token docs, NBSP inside tokens
    (Java \\s is ASCII -- a Python \\s tokenizer would split there),
    unseen pairs, unseen w2, a group with its own distribution, and
    repeated bigrams within one doc."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.text import (
        lm_score_docs_grouped,
        train_bigram_lm_grouped,
    )

    fixtures = spark.createDataFrame(
        [
            (1, "en", "aa bb aa bb cc"),
            (2, "en", "aa\u00a0bb aa\u00a0bb zz"),  # NBSP inside tokens
            (3, "en", None),
            (4, None, "aa bb cc"),
            (5, "en", ""),
            (6, "en", "solo"),
            (7, "fr", "xx yy xx yy"),
            (8, "en", "never seen tokens here"),
            (9, "fr", "xx zz-unseen"),
            (10, "en", "aa aa aa aa"),
        ],
        "doc_id long, lang string, text string",
    )
    corpus = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .limit(2000)
        .localCheckpoint(eager=True)
    )
    for docs in (fixtures, corpus):
        uni, bi, tot = train_bigram_lm_grouped(docs)
        ker = {
            r["doc_id"]: tuple(r)
            for r in lm_score_docs_grouped(
                docs, uni, bi, tot, kernel=True
            ).collect()
        }
        exp = {
            r["doc_id"]: tuple(r)
            for r in lm_score_docs_grouped(
                docs, uni, bi, tot, kernel=False
            ).collect()
        }
        assert ker == exp
        assert len(ker) == docs.count()


def test_lm_kernel_falls_back_on_oversized_model_and_nonlong_ids(
    spark, monkeypatch
):
    """The kernel collects the pair tier to per-worker dicts; above
    LM_KERNEL_MODEL_BOUND rows (or for a non-long doc_id, whose Arrow
    schema the kernel pins) it must fall back to the JVM-broadcast
    expression path with identical results."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        text as T,
    )

    docs = spark.createDataFrame(
        [(1, "en", "aa bb cc"), (2, "en", "bb cc dd")],
        "doc_id long, lang string, text string",
    )
    uni, bi, tot = T.train_bigram_lm_grouped(docs)
    want = sorted(
        tuple(r)
        for r in T.lm_score_docs_grouped(
            docs, uni, bi, tot, kernel=False
        ).collect()
    )
    monkeypatch.setattr(T, "LM_KERNEL_MODEL_BOUND", 1)

    def boom(*a, **k):
        raise AssertionError("kernel engaged above the model bound")

    monkeypatch.setattr(T, "_lm_stream_kernel", boom)
    got = sorted(
        tuple(r)
        for r in T.lm_score_docs_grouped(docs, uni, bi, tot).collect()
    )
    assert got == want
    monkeypatch.undo()
    # non-long ids: expression path, same rows
    idocs = spark.createDataFrame(
        [(1, "en", "aa bb cc"), (2, "en", "bb cc dd")],
        "doc_id int, lang string, text string",
    )
    iu, ib, it = T.train_bigram_lm_grouped(idocs)
    monkeypatch.setattr(T, "_lm_stream_kernel", boom)
    rows = sorted(
        tuple(r)
        for r in T.lm_score_docs_grouped(idocs, iu, ib, it).collect()
    )
    assert [r[0] for r in rows] == [1, 2]


def test_lm_kernel_corpus_floor_gate(spark, monkeypatch):
    """The kernel's fixed broadcast cost must not engage below
    LM_KERNEL_MIN_DOCS when the caller supplies corpus_rows; an
    unknown size (None) defaults to the kernel (the 100 TB-first
    choice); an explicit kernel= overrides the gate either way."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        text as T,
    )

    docs = spark.createDataFrame(
        [(1, "en", "aa bb cc"), (2, "en", "bb cc dd")],
        "doc_id long, lang string, text string",
    )
    uni, bi, tot = T.train_bigram_lm_grouped(docs)

    calls = {"n": 0}
    real = T._lm_stream_kernel

    def counting(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(T, "_lm_stream_kernel", counting)
    # below the floor: expression path
    T.lm_score_docs_grouped(docs, uni, bi, tot, corpus_rows=10).collect()
    assert calls["n"] == 0
    # at/above the floor and unknown size: kernel
    T.lm_score_docs_grouped(
        docs, uni, bi, tot, corpus_rows=T.LM_KERNEL_MIN_DOCS
    ).collect()
    assert calls["n"] == 1
    T.lm_score_docs_grouped(docs, uni, bi, tot).collect()
    assert calls["n"] == 2
    # explicit override wins over the gate
    T.lm_score_docs_grouped(
        docs, uni, bi, tot, corpus_rows=10, kernel=True
    ).collect()
    assert calls["n"] == 3


def test_lm_kernel_bounds_unigram_tier_too(spark, monkeypatch):
    """ADVICE r13: the model bound must cover the UNIGRAM tier as well
    as the pair tier. A short-doc corpus has few bigram types but can
    carry a huge vocabulary, so with pairs inside the bound but
    pairs + unigrams above it the kernel must yield to the expression
    path (identical scores) instead of collecting the oversized w2
    tier to the driver."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
        text as T,
    )

    # 2 bigram types, 4 unigram types: bound 4 admits the pairs
    # (2 <= 4) but leaves a w2 budget of 2 < 4 unigrams
    docs = spark.createDataFrame(
        [(1, "en", "aa bb"), (2, "en", "cc dd")],
        "doc_id long, lang string, text string",
    )
    uni, bi, tot = T.train_bigram_lm_grouped(docs)
    want = sorted(
        tuple(r)
        for r in T.lm_score_docs_grouped(
            docs, uni, bi, tot, kernel=False
        ).collect()
    )
    monkeypatch.setattr(T, "LM_KERNEL_MODEL_BOUND", 4)

    def boom(*a, **k):
        raise AssertionError(
            "kernel engaged with pair+unigram tiers above the bound"
        )

    monkeypatch.setattr(T, "_lm_stream_kernel", boom)
    got = sorted(
        tuple(r)
        for r in T.lm_score_docs_grouped(docs, uni, bi, tot).collect()
    )
    assert got == want
    # the combined bound still admits a model that fits: 2 pairs + 4
    # unigrams = 6 <= 7
    monkeypatch.setattr(T, "LM_KERNEL_MODEL_BOUND", 7)
    monkeypatch.setattr(T, "_lm_stream_kernel", boom)
    with pytest.raises(AssertionError, match="kernel engaged"):
        T.lm_score_docs_grouped(docs, uni, bi, tot).collect()


def test_strip_boilerplate_binary_digests_match_hex_rendering(spark, sf_dir):
    """r16: the internal line digests moved to 16-byte BINARY
    (unhex(md5) is a bijection, so frequent-digest equality classes
    cannot change) -- pinned by recomputing the OLD hex rendering
    inline and requiring identical rewritten rows on the real corpus."""
    from pyspark.sql import functions as F

    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (
        LINE_MIN_DUP,
        LINE_TOKENS,
        strip_boilerplate,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    now = {
        r["doc_id"]: r["text"] for r in strip_boilerplate(docs).collect()
    }

    # the pre-r16 hex-string rendering, verbatim
    segs = F.expr(
        f"transform(sequence(0, size(wt) - 1, {LINE_TOKENS}),"
        f" i -> concat_ws(' ', slice(wt, i + 1, {LINE_TOKENS})))"
    )
    case_tokens = F.split(
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "
    )
    with_segs = docs.withColumn("wt", case_tokens).withColumn("segs", segs)
    digests = with_segs.select(
        "doc_id",
        F.explode(
            F.expr("transform(segs, s -> md5(encode(lower(s), 'UTF-8')))")
        ).alias("h"),
    )
    frequent = (
        digests.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= LINE_MIN_DUP)
        .select("h")
    )
    doc_freq = (
        digests.join(F.broadcast(frequent), "h")
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("freq_h"))
    )
    old = {
        r["doc_id"]: r["text"]
        for r in (
            with_segs.join(doc_freq, "doc_id", "left")
            .withColumn(
                "freq_h",
                F.coalesce(
                    "freq_h", F.expr("CAST(array() AS ARRAY<STRING>)")
                ),
            )
            .select(
                "doc_id",
                F.when(F.col("wt").isNull(), F.lit(None).cast("string"))
                .otherwise(
                    F.array_join(
                        F.expr(
                            "filter(segs, s -> NOT array_contains("
                            "freq_h, md5(encode(lower(s), 'UTF-8'))))"
                        ),
                        " ",
                    )
                )
                .alias("text"),
            )
            .collect()
        )
    }
    assert now == old
    assert any(v for v in now.values())
