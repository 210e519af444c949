"""Differential pinning of the sim_ann_family Arrow kernels (r16).

Each kernel (`_bucket_assign_kernel`, `_pair_cosine`, PQ encode and
ADC) must be BIT-EQUAL to its Catalyst expression rendering
-- the oracle-mirroring path -- on the real corpus and on the
adversarial shapes the two runtimes could disagree about (NULL rows,
NULL elements, width mismatches, NaN/Inf, -0.0, subnormals). Same
discipline as the shingle/span kernel differentials; the size gate
(`ANN_KERNEL_BOUND`) keeps every oracle/bench scale on the expression
path, so these tests are what makes flipping the gate safe.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import (
    similarity as S,
)

EMB_SCHEMA = "vec_id bigint, label int, embedding array<float>"


def _emb_n(df):
    return df.select(
        "vec_id", "label", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )


def _same(x, y):
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or (
            x == y and math.copysign(1, x) == math.copysign(1, y)
        )
    if isinstance(x, list) and isinstance(y, list):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    return x == y


ADVERSARIAL = [
    (1, 0, [float(d) - 31.5 for d in range(64)]),
    (2, 1, [0.0] * 64),  # all-zero: bucket = all planes >= 0
    (3, 2, [-0.0] * 64),  # -0.0 sums: >= 0 both ways
    (4, 0, [1e-38] * 64),  # subnormal-ish float32
    (5, 1, [float("nan")] + [1.0] * 63),  # NaN plane sums rank >= 0
    (6, 2, [float("inf")] + [1.0] * 63),
    (7, 0, [-float("inf")] + [1.0] * 63),
    (8, 1, None),  # NULL embedding
    (9, 2, [1.0] * 10),  # short: every plane fold NULL
    (10, 0, [1.0] * 70),  # long: zip_with pads, plane fold NULL
    (11, 1, [1.0, None] + [2.0] * 62),  # NULL element nulls the fold
    (12, 2, []),  # empty array
    (13, 0, [(-1.0) ** d * (d + 1) * 0.125 for d in range(64)]),
]


def _adversarial(spark):
    return spark.createDataFrame(ADVERSARIAL, EMB_SCHEMA)


def _real(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )


@pytest.mark.parametrize("source", ["real", "adversarial"])
def test_bucket_kernel_matches_expr(spark, sf_dir, source):
    base = _real(spark, sf_dir) if source == "real" else _adversarial(spark)
    emb_n = _emb_n(base)
    expr = {
        r["vec_id"]: r["bucket"]
        for r in emb_n.withColumn("bucket", S._bucket_col()).collect()
    }
    kern = {
        r["vec_id"]: r["bucket"]
        for r in S._bucket_assign_kernel(emb_n).collect()
    }
    assert kern == expr
    # the kernel passes every input column through unchanged
    assert S._bucket_assign_kernel(emb_n).columns == emb_n.columns + [
        "bucket"
    ]


def test_pair_cosine_kernel_matches_expr(spark, sf_dir):
    """The ivf/lsh scored-join cosine with precomputed norms: kernel
    column beside the expression column over the real candidate pairs,
    exact equality (NaN-aware)."""
    emb_n = _emb_n(_real(spark, sf_dir))
    q = emb_n.where(F.col("vec_id") < S.QUERY_N).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    joined = emb_n.join(F.broadcast(q), F.col("vec_id") != F.col("id_a"))
    expr = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in joined.select(
            "id_a",
            F.col("vec_id").alias("id_b"),
            (
                S.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        ).collect()
    }
    kern = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S._pair_cosine_map(
            joined.select(
                "id_a", F.col("vec_id").alias("id_b"),
                "q_emb", "embedding", "q_nrm", "nrm",
            )
        ).collect()
    }
    assert expr and set(expr) == set(kern)
    for k in expr:
        assert _same(expr[k], kern[k]), (k, expr[k], kern[k])


def test_pair_cosine_map_adversarial(spark):
    """NULL vs NaN fidelity through the Arrow boundary: NULL vectors,
    width mismatches and NULL elements must yield NULL cosine (as the
    JVM fold does) while NaN/Inf arithmetic stays NaN -- the two rank
    differently in the family window, so conflating them moves rows."""
    adv = _emb_n(_adversarial(spark)).where(
        F.col("nrm").isNull() | (F.col("nrm") != 0)
    )
    q = adv.where(F.col("vec_id") <= 1).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    joined = adv.join(F.broadcast(q), F.col("vec_id") != F.col("id_a"))
    expr = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in joined.select(
            "id_a",
            F.col("vec_id").alias("id_b"),
            (
                S.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        ).collect()
    }
    kern = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S._pair_cosine_map(
            joined.select(
                "id_a", F.col("vec_id").alias("id_b"),
                "q_emb", "embedding", "q_nrm", "nrm",
            )
        ).collect()
    }
    assert set(expr) == set(kern)
    for k in expr:
        assert _same(expr[k], kern[k]), (k, expr[k], kern[k])
    # the adversarial frame exercises both value classes
    vals = list(expr.values())
    assert any(v is None for v in vals)
    assert any(isinstance(v, float) and math.isnan(v) for v in vals)


def _family_rows(spark, sf_dir):
    return sorted(
        (
            r["method"],
            r["id_a"],
            r["id_b"],
            None if r["cosine"] is None else r["cosine"],
            r["rank"],
        )
        for r in S.sim_ann_family(spark, sf_dir).collect()
    )


def test_sim_ann_family_identical_under_kernel_gate(
    spark, sf_dir, monkeypatch
):
    """The full family (all six branches, shared window, unions) must
    produce identical rows whichever side of ANN_KERNEL_BOUND the
    corpus lands on -- the guarantee that the size gate can never move
    the sim_ann_family oracle hash."""
    expr_rows = _family_rows(spark, sf_dir)  # sf under the bound: expr path
    monkeypatch.setattr(S, "ANN_KERNEL_BOUND", -1)  # force the kernels
    kern_rows = _family_rows(spark, sf_dir)
    assert kern_rows == expr_rows
    assert len(expr_rows) > 0


def test_ann_kernels_gate_respects_probe(spark, sf_dir, monkeypatch):
    """A failed runtime equality probe must route the family through
    the expression path (no Python eval nodes in the plan) even when
    the size gate asks for kernels."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        session_token,
    )

    monkeypatch.setattr(S, "ANN_KERNEL_BOUND", -1)
    tok = session_token(spark)
    prior = S._ANN_PROBE_CACHE.get(tok)
    try:
        S._ANN_PROBE_CACHE[tok] = False
        plan = (
            S.sim_ann_family(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for node in ("MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas"):
            assert node not in plan, node
    finally:
        if prior is None:
            S._ANN_PROBE_CACHE.pop(tok, None)
        else:
            S._ANN_PROBE_CACHE[tok] = prior
    # and with a passing probe the kernels appear at forced-kernel scale
    if S._ann_kernels_ok(spark):
        plan = (
            S.sim_ann_family(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # engaged kernels: bucket/cosine/pq (MapInArrow) and the
        # blocked-pairs kernel (FlatMapGroupsInPandas); the q8 branch
        # deliberately keeps its expression rendering (measured loss)
        assert "MapInArrow" in plan, plan
        assert "FlatMapGroupsInPandas" in plan, plan


def test_ann_probe_passes_here(spark):
    """The runtime FP equality probe must pass on this platform (it is
    the belt to the differential tests' braces)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import (
        session_token,
    )

    S._ANN_PROBE_CACHE.pop(session_token(spark), None)
    assert S._ann_kernels_ok(spark) is True


def test_pair_cosine_map_divide_by_zero_parity(spark):
    """A zero-norm pair raises DIVIDE_BY_ZERO on the JVM under ANSI;
    the kernel raises the same class of error instead of silently
    emitting inf/NaN."""
    import pytest as _pt

    adv = _emb_n(_adversarial(spark))
    q = adv.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("q_nrm"),
    ) if False else adv.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    zero = adv.where(F.col("vec_id") == 2)  # the all-zero vector
    joined = zero.join(F.broadcast(q), F.col("vec_id") != F.col("id_a"))
    with _pt.raises(Exception, match="DIVIDE_BY_ZERO"):
        joined.select(
            (
                S.dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine")
        ).collect()
    with _pt.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._pair_cosine_map(
            joined.select(
                "id_a", F.col("vec_id").alias("id_b"),
                "q_emb", "embedding", "q_nrm", "nrm",
            )
        ).collect()


def _pq_books(spark, sf_dir):
    emb_n = _emb_n(_real(spark, sf_dir))
    nanfree = emb_n.where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == S.EMB_DIM)
        & ~F.exists(F.col("embedding"), lambda x: F.isnan(x.cast("double")))
    )
    seed_rows = sorted(
        nanfree.select(
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            "vec_id",
            "embedding",
        )
        .orderBy("h", "vec_id")
        .limit(S.PQ_K)
        .collect(),
        key=lambda r: (r["h"], r["vec_id"]),
    )
    books = {
        s: {
            c: [
                float(x)
                for x in row["embedding"][s * S.PQ_DSUB : (s + 1) * S.PQ_DSUB]
            ]
            for c, row in enumerate(seed_rows)
        }
        for s in range(S.PQ_M)
    }
    return nanfree, books


def test_pq_encode_kernel_matches_expr(spark, sf_dir):
    """The per-row encode argmin: Arrow kernel vs the codegen
    expression over the real corpus's nanfree domain -- identical codes
    for every vector."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.pq import (
        pq_encode,
        pq_encode_kernel,
    )

    nanfree, books = _pq_books(spark, sf_dir)
    expr = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(nanfree, books)
        .select("vec_id", "codes")
        .collect()
    }
    kern = {
        r["vec_id"]: r["codes"]
        for r in pq_encode_kernel(nanfree, books).collect()
    }
    assert kern == expr
    assert all(v is not None for v in expr.values())


def test_adc_scored_kernel_matches_expr(spark, sf_dir):
    """The per-pair ADC score: table-lookup kernel (queries collected,
    codes streamed, no join) vs the expression rendering -- identical
    (id_a, id_b) -> cosine map, NaN/NULL-aware."""
    import math

    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.pq import (
        adc_scored,
        adc_scored_kernel,
        pq_encode,
    )

    nanfree, books = _pq_books(spark, sf_dir)
    coded = (
        pq_encode(nanfree, books)
        .where(F.col("codes").isNotNull())
        .select(F.col("vec_id").alias("id_b"), "codes")
    )
    expr = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in adc_scored(
            coded,
            nanfree.where(F.col("vec_id") < S.QUERY_N).select(
                F.col("vec_id").alias("id_a"),
                F.col("embedding").alias("q_emb"),
                F.col("nrm").alias("q_nrm"),
            ),
            books,
            F.col("id_b") != F.col("id_a"),
        ).collect()
    }
    qrows = []
    for r in sorted(
        nanfree.where(F.col("vec_id") < S.QUERY_N).collect(),
        key=lambda r: r["vec_id"],
    ):
        acc = 0.0
        for v in r["embedding"]:
            fv = float(v)
            acc += fv * fv
        qrows.append((r["vec_id"], list(r["embedding"]), math.sqrt(acc)))
    kern = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in adc_scored_kernel(coded, qrows, books).collect()
    }
    assert expr and set(expr) == set(kern)
    for k in expr:
        assert _same(expr[k], kern[k]), (k, expr[k], kern[k])
    # no queries: an empty frame of the same schema, not a crash
    empty = adc_scored_kernel(coded, [], books)
    assert empty.collect() == []
    assert empty.columns == ["id_a", "id_b", "cosine"]
