"""UDF surface (SURVEY.md §2.10, [ext]): row UDF (X1) and the vectorized
paths (X2).

The reference registers no UDFs -- its Python fetchers run driver-side
before Spark (extract_bitcoin_prices.py:40-115). The capability envelope
still includes the full UDF surface; this module provides both tiers with
the cost model stated plainly:

- X1 row UDF (``F.udf``): one Python call PER ROW through pickle --
  10-100x slower than built-ins or pandas_udf. Exists for interop
  completeness (third-party row-wise libraries); NEVER the hot path.
  The plan shows ``BatchEvalPython`` -- if that node sits under a big
  scan, the query is wrong.
- X2 vectorized (``F.pandas_udf`` / ``mapInPandas``): Arrow-batched,
  NumPy-speed kernels. The production Python path (see also
  queries/similarity.py and operators/multimodal.py).

Both implement the same quality-band function so tests can assert the
tiers agree row-for-row, and a built-in-expression rendering exists for
the oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: char-count band edges: [0, SHORT) -> short, [SHORT, LONG) -> medium
SHORT, LONG = 200, 400


def band_of(n_chars: int | None) -> str | None:
    """The scalar function all three renderings share. NULL in -> NULL
    out (SQL propagation; a bare ELSE would misfile NULL as 'long')."""
    if n_chars is None:
        return None
    if n_chars < SHORT:
        return "short"
    if n_chars < LONG:
        return "medium"
    return "long"


def band_udf() -> Column:
    """X1: row UDF. Built per-call (PySpark 4 resolves types eagerly).
    ``useArrow=False`` pins the pickled row eval type (``BatchEvalPython``
    in the plan): left unset, PySpark tries to infer an eval type from
    ``band_of``'s ``int | None`` hints, cannot, and warns."""
    return F.udf(band_of, "string", useArrow=False)(F.col("n_chars"))


def band_pandas_udf() -> Column:
    """X2: vectorized pandas_udf over the same function."""

    def kernel(n: pd.Series) -> pd.Series:
        out = pd.cut(
            n,
            bins=[-1, SHORT - 1, LONG - 1, float("inf")],
            labels=["short", "medium", "long"],
        ).astype(object)
        out[n.isna()] = None  # pd.cut leaves NaN; astype(str) would stringify
        return out

    return F.pandas_udf(kernel, "string")(F.col("n_chars"))


def band_builtin() -> Column:
    """The built-in-expression rendering (what the hot path should use,
    and what the DuckDB oracle mirrors)."""
    return (
        F.when(F.col("n_chars").isNull(), F.lit(None).cast("string"))
        .when(F.col("n_chars") < SHORT, "short")
        .when(F.col("n_chars") < LONG, "medium")
        .otherwise("long")
    )


def doc_bands(docs: DataFrame, impl: str = "builtin") -> DataFrame:
    """documents + a ``band`` column via the chosen implementation tier."""
    col = {"udf": band_udf, "pandas": band_pandas_udf, "builtin": band_builtin}[
        impl
    ]()
    return docs.select("doc_id", "n_chars", col.alias("band"))


def doc_bands_mapinpandas(docs: DataFrame) -> DataFrame:
    """X2 via mapInPandas: whole-partition Arrow batches in, batches out.

    Same result as ``doc_bands``; the shape to use when the kernel needs
    row-set context (model inference with shared weights, batch encoders)
    rather than a per-column function.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = b[["doc_id", "n_chars"]].copy()
            band = pd.cut(
                b["n_chars"],
                bins=[-1, SHORT - 1, LONG - 1, float("inf")],
                labels=["short", "medium", "long"],
            ).astype(object)
            band[b["n_chars"].isna()] = None
            out["band"] = band
            yield out

    return docs.mapInPandas(fn, "doc_id bigint, n_chars bigint, band string")


# --- round 4: the remaining Python API tiers --------------------------------
# SURVEY §2.10 names the full surface: UDF / UDAF / UDTF. Above covers the
# scalar tiers; below are the aggregate (grouped-agg pandas_udf), the
# grouped-map (applyInPandas), the cogrouped-map (cogroup + applyInPandas),
# and the table function (Python UDTF). Each has a declarative twin in the
# engine, and tests assert tier agreement -- the point is a complete,
# honestly-priced API surface, not new semantics.


def mean_chars_grouped_agg() -> Column:
    """UDAF tier: grouped-agg pandas_udf (Series -> scalar per group).

    The Arrow path for custom aggregates a SQL expression can't host
    (weighted model scores, streaming sketches). Cost model: the WHOLE
    group's column ships to Python as one Arrow batch -- unlike built-in
    aggregates there is NO partial/map-side combine, so a hot group
    concentrates on one worker. Prefer built-ins or det.* whenever the
    math decomposes; tests assert this tier agrees with F.avg to 1e-9.
    """

    def kernel(n: pd.Series) -> float:
        return float(n.mean())

    return F.pandas_udf(kernel, "double")(F.col("n_chars"))


def bands_ranked_applyinpandas(docs: DataFrame) -> DataFrame:
    """Grouped-map tier: groupBy(lang).applyInPandas.

    Each language's documents arrive as ONE pandas frame; the kernel
    bands them and ranks by (n_chars desc, doc_id) within the group --
    the shape for per-group logic needing the whole group resident
    (normalization, per-group model fits). Same skew warning as the
    UDAF tier: group = unit of parallelism AND of memory. The
    declarative twin is a row_number window; tests assert agreement.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf[["doc_id", "lang", "n_chars"]].copy()
        band = pd.cut(
            out["n_chars"],
            bins=[-1, SHORT - 1, LONG - 1, float("inf")],
            labels=["short", "medium", "long"],
        ).astype(object)
        band[out["n_chars"].isna()] = None
        out["band"] = band
        out = out.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        out["chars_rank"] = out.index + 1
        return out

    return docs.groupBy("lang").applyInPandas(
        fn, "doc_id long, lang string, n_chars long, band string, chars_rank long"
    )


def asof_cogrouped(events: DataFrame) -> DataFrame:
    """Cogrouped-map tier: purchases ⋈asof clicks via
    ``groupBy(user).cogroup(...).applyInPandas`` + ``pd.merge_asof``.

    The alternate rendering of the J6 as-of join (queries/joins.py
    join_asof_last_click): each user's purchases AND clicks land in one
    kernel call, and merge_asof picks the latest click at-or-before
    each purchase (backward direction, exact matches allowed = the <=
    semantics). NULL event times never match (dropped from both sides,
    purchases re-emitted with a NULL as-of point), mirroring the
    windowed version's guard. Use when per-key pair logic outgrows
    window expressions (e.g. tolerance bands, nearest-by-value); the
    windowed form remains the hot path -- no Python, no whole-group
    residency.
    """

    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.where(
        (F.col("event_type") == "click") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("click_ts"))

    def fn(p: pd.DataFrame, c: pd.DataFrame) -> pd.DataFrame:
        if p.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "ts", "last_click_ts"]
            )
        good = p[p["ts"].notna()].sort_values("ts")
        c = c.sort_values("click_ts")
        if good.empty or c.empty:
            out = p[["event_id", "user_id", "ts"]].copy()
            out["last_click_ts"] = pd.NaT
            return out
        merged = pd.merge_asof(
            good,
            c[["click_ts"]],
            left_on="ts",
            right_on="click_ts",
            direction="backward",
            allow_exact_matches=True,
        )
        merged = merged.rename(columns={"click_ts": "last_click_ts"})[
            ["event_id", "user_id", "ts", "last_click_ts"]
        ]
        null_p = p[p["ts"].isna()][["event_id", "user_id", "ts"]].copy()
        null_p["last_click_ts"] = pd.NaT
        return pd.concat([merged, null_p], ignore_index=True)

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            fn,
            "event_id long, user_id long, ts timestamp,"
            " last_click_ts timestamp",
        )
    )


def make_chunk_udtf():
    """UDTF tier: a Python table function emitting (chunk_idx, chunk)
    rows per document -- the lateral-join rendering of
    train_chunk_documents' sequence+posexplode fan-out. Built per call
    (the decorator resolves the return schema eagerly). Register with
    ``spark.udtf.register("chunk_doc", make_chunk_udtf())`` and use
    ``... FROM docs, LATERAL chunk_doc(text, size, stride)``. Tests
    assert row-for-row agreement with the declarative chunker, which
    stays the hot path (codegen fan-out, no Python)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk string")
    class ChunkDoc:
        def eval(self, text: str, size: int, stride: int):
            if text is None or size is None or stride is None or stride <= 0:
                return
            n = len(text)
            i = 0
            idx = 0
            while i < n:
                yield idx, text[i : i + size]
                idx += 1
                i += stride

    return ChunkDoc
