"""Differential pinning of the span-digest Arrow kernel (r15).

The kernel (`dedup._span_occ_kernel`) must be BIT-EQUAL to the Catalyst
expression rendering (`dedup._span_occ_expr`) -- the oracle-mirroring
path -- on the real corpus and on every adversarial shape the two
runtimes could disagree about (Unicode whitespace, locale-sensitive
lowercase inputs, NULLs, short docs, empty tokens). Same discipline as
the shingle kernel's differential (tests/test_lexical_scale.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from data_pipeline_spark_iceberg_dbt_airflow_spark.io import read_table
from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import dedup

WINDOW = dedup.LINE_TOKENS


def _with_toks(docs):
    return docs.withColumn(
        "wt",
        F.split(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")), " "),
    )


def _rows(df):
    return sorted(
        ((r["doc_id"], r["pos"], r["h"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1], t[2]),
    )


def _assert_equal(docs):
    expr = dedup._span_occ_expr(_with_toks(docs), WINDOW)
    kern = dedup._span_occ_kernel(docs, WINDOW)
    # names and types must match exactly; the kernel's pos is nullable
    # where posexplode's is not -- a safe superset, not a divergence
    assert [(f.name, f.dataType) for f in kern.schema] == [
        (f.name, f.dataType) for f in expr.schema
    ]
    assert _rows(kern) == _rows(expr)


def test_span_kernel_matches_expr_on_real_corpus(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    _assert_equal(docs)


ADVERSARIAL = [
    (1, "one two three four five six seven eight nine ten eleven"),
    (2, "exactly ten tokens here one two three four five six"),
    (3, "too short for any span"),
    (4, ""),
    (5, None),
    (6, "  leading and   trailing runs\t\ntabs\x0bvt\fff\rcr collapse "
        "one two three four five six"),
    (7, "nbsp stays inside one token two three four five six "
        "seven eight nine"),  # Python \s would eat U+00A0; Java must not
    (8, "ΑΣ ΒΣ ΓΣ final sigma cases one two three four five six"),
    (9, "İstanbul Iı MIXED Case Tokens one two three four five six"),
    (10, "ideographic　space is one token two three four five six "
         "seven eight"),
    (None, "null doc id still emits span rows one two three four five"),
    (12, "repeat repeat repeat repeat repeat repeat repeat repeat "
         "repeat repeat repeat repeat"),
]


def test_span_kernel_matches_expr_on_adversarial_rows(spark):
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    docs = spark.createDataFrame(ADVERSARIAL, schema)
    _assert_equal(docs)


def test_mask_repeated_spans_identical_under_kernel_flag(spark, sf_dir):
    """The full operator (frequent table, keep-first exemption,
    interval merge, rewrite) must produce identical rows whichever occ
    path feeds it -- the guarantee that the size gate's ``kernel``
    choice can never move the dedup_span_mask oracle hash."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def run(kernel):
        return sorted(
            (r["doc_id"], r["text"], r["masked_tokens"], r["n_spans"])
            for r in dedup.mask_repeated_spans(docs, kernel=kernel).collect()
        )

    expr_rows = run(False)
    kern_rows = run(True)
    assert kern_rows == expr_rows
    assert any(r[2] > 0 for r in expr_rows)  # the corpus has repeats


def test_span_kernel_engages_only_with_locale_ok(spark, sf_dir):
    """A failed locale probe must route mask_repeated_spans through the
    expression path (plan carries Generate/posexplode, no MapInArrow)."""
    from data_pipeline_spark_iceberg_dbt_airflow_spark.io import session_cache

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    probes = session_cache(spark, "probes")
    prior = probes.get("locale")
    try:
        probes["locale"] = False
        plan = (
            dedup.mask_repeated_spans(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "MapInArrow" not in plan, plan
    finally:
        if prior is None:
            probes.pop("locale", None)
        else:
            probes["locale"] = prior
    plan = (
        dedup.mask_repeated_spans(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    if dedup._kernel_locale_ok(spark):
        assert "MapInArrow" in plan, plan


@pytest.mark.parametrize("window", [2, 3, 10])
def test_window_offsets_slices_equal_joins(window):
    toks = ["alpha", "b", "", "Γάμμα", "δ", "ΑΣ", "x y".split(" ")[0], "z"]
    joined = " ".join(toks)
    n = len(toks) - window + 1
    got = list(dedup._window_offsets(toks, window))
    assert len(got) == max(n, 0)
    for i, (s, e) in enumerate(got):
        assert joined[s:e] == " ".join(toks[i : i + window])


def test_span_kernel_non_bigint_doc_id(spark):
    """r16 (ADVICE r15): the kernel replicates the INPUT doc_id Arrow
    column (take()) and derives its output schema from the frame, so a
    non-bigint doc_id -- which the expression path always handled --
    must flow through bit-equal rather than crash an Arrow cast."""
    from pyspark.sql.types import IntegerType

    base = [(i, t) for i, t in enumerate(
        ["one two three four five six seven eight nine ten eleven",
         "short doc", None,
         "alpha beta gamma delta epsilon zeta eta theta iota kappa lam"])]
    for cast_type, label in ((IntegerType(), "int"), (None, "string")):
        schema = StructType([
            StructField(
                "doc_id", cast_type if cast_type else StringType(), True
            ),
            StructField("text", StringType(), True),
        ])
        rows = [
            ((str(i) if cast_type is None else i), t) for i, t in base
        ]
        docs = spark.createDataFrame(rows, schema)
        expr = dedup._span_occ_expr(_with_toks(docs), WINDOW)
        kern = dedup._span_occ_kernel(docs, WINDOW)
        assert [(f.name, f.dataType) for f in kern.schema] == [
            (f.name, f.dataType) for f in expr.schema
        ], label
        assert _rows(kern) == _rows(expr), label
