"""Similarity search over the ``embeddings`` table (64-dim float vectors).

North-star extension set: brute-force cosine top-k as the exact baseline,
IVF- and LSH-bucketed top-k as the scale paths, threshold pair mining
(embedding-cosine near-dup), and an Arrow-vectorized pandas_udf variant
(the UDF surface, SURVEY.md §2.10 X2).

Registry budget note: the bucketed ANN shapes share one output schema
and merge under a ``method`` marker in a single driver entry -- five
branches as of round 4 (ivf, lsh, q8 retrieve-rerank, in-cell pairs,
kseed assignment); each branch keeps its own genuine plan.

Numeric determinism: both engines cast float32 elements to double and fold
the product sum strictly left-to-right (Spark ``aggregate`` over
``zip_with``; DuckDB ``list_sum`` over ``list_transform``), so cosines are
bit-identical and ORDER BY cosine ranks identically -- ties additionally
broken by vec_id.

Scale design (100 TB):
- Brute-force is exact k-NN done right: the QUERY BATCH is broadcast
  (bounded, here 8 vectors) and the candidate set streams through one
  scan -- cost O(N x Q), no shuffle of the big side, never an N x N
  crossJoin.
- IVF restricts candidates to the query's coarse cell: an equi-join on
  the cell id turns O(N) probes per query into O(N / cells), the
  standard inverted-file ANN trade. The oracle-checked entry uses the
  testdata's ``label`` column as the cell so both engines see the same
  assignment; a corpus WITHOUT precomputed cells trains its own with
  ``operators/kmeans.py`` (Lloyd's with literal-inlined centroids --
  assignment is a zero-shuffle codegen pass; invariant-tested in
  tests/test_kmeans.py).
- LSH hashes every vector to one of 64 buckets via 6 sign random
  projections whose +/-1 matrix is derived once from md5 and inlined as
  literals in BOTH engines -- bucket assignment is pure codegen
  arithmetic on the scan, no shuffle to assign buckets.
- Pair mining stays inside cells AND splits each cell into PAIR_BLOCKS
  sub-blocks joined on (cell, block_i, block_j) -- the blocked all-pairs
  layout: a hot cell's quadratic work lands on block-pair tasks of
  bounded size instead of one straggler, at the cost of replicating each
  vector ~PAIR_BLOCKS/2 times into the shuffle (vectors are 64 floats;
  replication is map-side explode, no extra scan). Same output set:
  every unordered pair meets on exactly one (i <= j) block-pair key.
- The pandas_udf path moves vectors through Arrow once per batch and does
  the arithmetic in NumPy -- the pattern for when the kernel outgrows SQL
  expressions (quantization, PQ codes, re-ranking).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.lits import array_lit
from ..io import (
    read_table,
    register_cache_purger,
    session_token,
    table_row_count,
)
from .registry import register

#: Query batch: the first QUERY_N vectors by vec_id.
QUERY_N = 8
TOP_K = 3
PAIR_THRESHOLD = 0.4

#: Sub-blocks per cell for blocked all-pairs mining. Pair tasks per cell =
#: PAIR_BLOCKS*(PAIR_BLOCKS+1)/2; shuffle replication ~PAIR_BLOCKS/2 + 1
#: copies per vector. Sized for block ~ cell_size/PAIR_BLOCKS vectors to
#: fit one task comfortably; at 100 TB this scales with observed cell
#: sizes (the knob trades replication for straggler elimination).
PAIR_BLOCKS = 4

#: int8 retrieve-and-rerank: candidates kept per query by the quantized
#: score before the exact rerank. Recall knob -- raise it and the exact
#: stage sees more candidates.
QUANT_RERANK_N = 8

#: kseed branch: coarse cells = the KSEED_K md5-ranked seed vectors (the
#: deterministic k-means seeding of operators/kmeans.py), embedding
#: dimension pinned for the valid-row filter.
KSEED_K = 4
EMB_DIM = 64

#: pq branch geometry (round 6): M subspaces x K codes over the 64-dim
#: embeddings. The driver-contract branch trains SEED-ONLY codebooks
#: (pq_fit max_iterations=0 -- the md5-ranked first PQ_K valid vectors,
#: sliced per subspace), which a SQL oracle can reproduce exactly; the
#: Lloyd-trained path stays pytest + recall_report (iterative fits have
#: no SQL rendering).
PQ_M = 8
PQ_K = 8
PQ_DSUB = EMB_DIM // PQ_M


def dot(a: Column, b: Column) -> Column:
    """Strict left-to-right double-precision dot product of two arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _o_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )


def _o_norm(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def _o_sqdist(a: str, b: str) -> str:
    """Squared L2 distance, same strict fold idiom as _o_dot (the diff
    is spelled twice because the transform lambda has no local bind)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )


def _o_cosine(a: str, b: str) -> str:
    return f"({_o_dot(a, b)} / ({_o_norm(a)} * {_o_norm(b)}))"


#: One persisted normed corpus per (JVM session, sf_dir) -- the
#: similarity family's analog of dedup's shared shingle index. Six
#: family branches (ivf/lsh/pairs/q8/kseed/pq) each stream the corpus;
#: without the pin every branch re-scans and re-widens it (measured
#: round 6: ~0.6s of redundant stages per sim_ann_family run at sf0.1,
#: and at 100 TB it is the difference between one corpus pass and six).
#: Keyed on io.session_token, released via release_normed_corpus.
_NORMED_CACHE: dict[tuple[str, str], DataFrame] = {}


def _normed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with the per-VECTOR norm precomputed (pre-join projection):
    cuts the fold work per pair from 3 to 1; a vector's norm is
    pair-independent so oracle parity is unaffected.

    The scan is widened to the session's parallelism first: the corpus is
    the STREAMED side of every broadcast join here, so its partition count
    IS the parallelism of the cosine folds -- a single-split parquet file
    would run all pair arithmetic on one core (at 100 TB the scan arrives
    as thousands of splits and the widen is a guarded no-op). Persisted
    once per (session, sf_dir) and shared across the family's branches."""
    key = (session_token(spark), sf_dir)
    if key in _NORMED_CACHE:
        return _NORMED_CACHE[key]
    emb = read_table(spark, sf_dir, "embeddings", widen=True)
    out = emb.select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("nrm")
    ).persist()
    _NORMED_CACHE[key] = out
    return out


def release_normed_corpus(spark: SparkSession | None = None) -> None:
    """Unpersist cached normed corpora (all, or one session's)."""
    tok = None if spark is None else session_token(spark)
    for key in list(_NORMED_CACHE):
        if tok is None or key[0] == tok:
            _NORMED_CACHE.pop(key).unpersist()


def _purge_normed(tok: str) -> None:
    """Finalizer-driven eviction (registered with io's purger list):
    when a session wrapper is garbage-collected its normed-corpus pins
    are dropped, so a long-lived process cycling sessions cannot
    accumulate dead-session DataFrames. unpersist is attempted (frees
    executor storage if the JVM session is still live) but swallowed if
    the context is already stopped -- the drop is the contract."""
    for key in [k for k in _NORMED_CACHE if k[0] == tok]:
        df = _NORMED_CACHE.pop(key)
        try:
            df.unpersist()
        except Exception:
            pass


register_cache_purger(_purge_normed)


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("id_a", "id_b", "cosine", "rank")
    )


#: Exact brute-force top-k oracle, shared by BOTH engine renderings of
#: the same math: the JVM-fold sim_topk_bruteforce and the Arrow-kernel
#: sim_topk_pandas (whose left-fold accumulation is bit-equal to the
#: JVM fold -- see _cosine_pandas_kernel).
_BRUTE_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS id_a, embedding AS q_emb
               FROM embeddings WHERE vec_id < {QUERY_N}),
    s AS (SELECT q.id_a, e.vec_id AS id_b,
                 {_o_cosine("q.q_emb", "e.embedding")} AS cosine
          FROM q CROSS JOIN embeddings e
          WHERE e.vec_id <> q.id_a)
    SELECT id_a, id_b, cosine, rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rank
          FROM s)
    WHERE rank <= {TOP_K}
"""


@register(
    "sim_topk_bruteforce",
    oracle=_BRUTE_TOPK_ORACLE,
    doc="Exact cosine top-k, the ANN recall baseline: broadcast the "
    "(bounded) query batch against one streaming scan of the corpus, "
    "rank per query. The corpus side never shuffles for the join; the "
    "only shuffle is the final per-query ranking on the query id -- "
    "Q x N rows of (id, id, double), not vectors.",
    bench=True,
    tags=("similarity", "llm-data"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_n = _normed(spark, sf_dir)
    q = emb_n.where(F.col("vec_id") < QUERY_N).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb_n.join(F.broadcast(q), F.col("vec_id") != F.col("id_a")).select(
        "id_a",
        F.col("vec_id").alias("id_b"),
        (
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cosine"),
    )
    return _topk(scored)


# --- LSH planes (sign random projections) ----------------------------------

#: Hyperplane count: 2^LSH_PLANES buckets. Derived ONCE from md5 so both
#: engines share the identical +/-1 matrix as literals -- no cross-engine
#: hash dependency at query time.
LSH_PLANES = 6


def _lsh_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{p}|{d}".encode()).digest()[0] % 2 else -1
            for d in range(64)
        ]
        for p in range(LSH_PLANES)
    ]


def _bucket_sql(one_based: bool) -> str:
    """The bucket id as a SQL expression over ``embedding`` (engine array
    indexing differs: Spark subscripts 0-based, DuckDB 1-based)."""
    parts = []
    for p, row in enumerate(_lsh_signs()):
        terms = " + ".join(
            f"{'' if s == 1 else '-'}CAST(embedding[{d + (1 if one_based else 0)}]"
            " AS DOUBLE)"
            for d, s in enumerate(row)
        )
        parts.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(parts)


def _bucket_col() -> Column:
    """The bucket id as a COMPACT Spark column (round-4 rewrite).

    The oracle keeps the expanded 384-term chained sum (``_bucket_sql``);
    the Spark side folds each plane's signed sum over a constant array
    literal instead: ConstantFolding collapses the 64 sign literals per
    plane into one ArrayData object, so the expression tree is ~6 small
    higher-order folds rather than ~2300 nodes of subscripts/negations/
    adds. Measured (fresh session, sf0.1): first execution 3.42s -> 2.40s,
    warm 0.81s -> 0.76s -- the expanded form's Janino cost is pure
    overhead at every cold start and on every executor at real scale.

    Bit-exactness vs the oracle's chained sum: ``zip_with`` pairs sign[d]
    with embedding[d] in index order and the fold adds strictly left to
    right, the same order as SQL's left-associative ``+`` chain;
    ``(-1.0) * CAST(e)`` and ``-CAST(e)`` differ only in sign-bit
    mechanics (IEEE multiply by -1.0 flips the bit exactly), and the
    fold's 0.0 seed can only flip a -0.0 sum to +0.0, which ``>= 0``
    treats identically. NULL/short embeddings yield a NULL plane sum in
    both forms (NULL subscript vs NULL zip_with pad), and CASE/when both
    route NULL conditions to the ELSE 0 branch -- bucket 0 either way.
    """
    cols = []
    for p, row in enumerate(_lsh_signs()):
        row_lit = array_lit(row)  # one py4j round trip per plane
        plane = F.aggregate(
            F.zip_with(row_lit, F.col("embedding"), lambda s, e: s * e.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.when(plane >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


#: Vector count (embeddings footer) above which ``sim_ann_family``
#: routes its corpus-sized interpreted HOF folds through Arrow kernels
#: (r16, VERDICT r15 #4): the LSH bucket assignment (6 folds/row) and
#: the ivf/lsh pair cosine (1 fold per candidate pair) are
#: CodegenFallback expressions -- interpreted per element -- and
#: together with PQ encode/ADC they are the family's corpus-sized cost
#: at scale. Below the bound the expression renderings win on fixed
#: per-task Python/Arrow overhead and stay the oracle-mirroring path
#: (every verified bench/oracle scale is far below it); above it each
#: kernel is pinned bit-equal by tests/test_ann_kernels.py AND by the
#: session's one-time runtime equality probe (_ann_kernels_ok), the
#: same belt-and-braces posture as the span/shingle kernels' locale
#: probe. Both sides of the bound compute identical rows by those
#: pins, so the gate is purely a cost choice.
ANN_KERNEL_BOUND = 250_000

_ANN_PROBE_CACHE: dict[str, bool] = {}


def _list_f64(col, width: int):
    """Decode a pyarrow ListArray of floats into the kernel fast path:
    ``(ok, X)`` where ``ok`` marks rows that are non-null, exactly
    ``width`` long, with no NULL elements, and ``X`` is their float64
    matrix (row order = ok order). Rows failing ``ok`` are exactly the
    rows whose JVM fold would be NULL (zip_with pads width mismatches
    with NULL; a NULL element nulls the product; a NULL array nulls the
    fold) -- callers give them the expression path's NULL-fold result.
    NaN/Inf ELEMENTS are not nulls and stay in ``X``."""
    import numpy as np
    import pyarrow.compute as pc

    n = len(col)
    lens_raw = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    lens_f = lens_raw.astype("float64")
    row_null = np.isnan(lens_f)
    lens = np.where(row_null, 0, lens_raw).astype("int64")
    ok = (~row_null) & (lens == width)
    vals = col.flatten()
    if vals.null_count:
        starts_all = np.concatenate(([0], np.cumsum(lens)))
        null_pos = np.flatnonzero(np.asarray(vals.is_null()))
        bad_rows = np.searchsorted(starts_all, null_pos, side="right") - 1
        ok[np.unique(bad_rows)] = False
    if not ok.any():
        return ok, np.empty((0, width), dtype="float64")
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    idx = starts[ok][:, None] + np.arange(width)[None, :]
    vals_np = vals.to_numpy(zero_copy_only=False)
    return ok, vals_np[idx].astype("float64")


def _bucket_assign_kernel(emb_n: DataFrame) -> DataFrame:
    """``emb_n`` plus the LSH ``bucket`` column via one ``mapInArrow``
    pass -- bit-equal to ``withColumn("bucket", _bucket_col())``:

    - each plane sum accumulates sign[d] * (double)emb[d] from 0.0 in
      index order, the exact IEEE add sequence of the JVM fold;
    - ``plane >= 0`` counts NaN as set (Spark orders NaN greatest), so
      the kernel tests ``(plane >= 0) | isnan(plane)``;
    - a NULL / wrong-width / NULL-element embedding nulls every plane
      fold, and when(NULL >= 0) routes to the ELSE 0 branch -- bucket 0,
      which is what non-``ok`` rows get here.
    """
    import pyarrow as pa

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in emb_n.schema
    )

    def gen(batches):
        import numpy as np

        signs = np.asarray(_lsh_signs(), dtype="float64")

        for batch in batches:
            ok, x = _list_f64(batch.column("embedding"), EMB_DIM)
            bucket = np.zeros(len(ok), dtype="int32")
            if x.shape[0]:
                bk = np.zeros(x.shape[0], dtype="int32")
                for p in range(signs.shape[0]):
                    acc = np.zeros(x.shape[0], dtype="float64")
                    sp = signs[p]
                    for d in range(EMB_DIM):
                        acc += sp[d] * x[:, d]
                    bk += np.where(
                        (acc >= 0) | np.isnan(acc), 1 << p, 0
                    ).astype("int32")
                bucket[ok] = bk
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(bucket, type=pa.int32())],
                [*batch.schema.names, "bucket"],
            )

    return emb_n.mapInArrow(gen, schema=f"{schema}, bucket int")


def _pair_cosine_map(joined: DataFrame) -> DataFrame:
    """Replace the scored join's interpreted cosine fold with a
    ``mapInArrow`` pass: input carries ``q_emb, embedding, q_nrm, nrm``
    plus any passthrough key columns; output is the passthrough columns
    plus ``cosine`` = dot(q_emb, embedding) / (q_nrm * nrm).

    mapInArrow (not a pandas_udf) because the boundary must carry the
    JVM fold's FULL value domain: pandas->Arrow renders NaN as NULL,
    while pyarrow float64 arrays keep NaN and NULL distinct -- and the
    family window ranks them differently (Spark orders NaN greatest,
    NULL last), so conflating them would move rows. Bit-equality with
    the expression rendering, term by term:

    - the dot accumulates (double)q_d * (double)b_d from 0.0 in index
      order -- the JVM fold's exact IEEE add sequence (never numpy's
      pairwise sum/BLAS);
    - the denominator is fl(q_nrm * nrm) from the PRE-COMPUTED norm
      columns, then one divide;
    - a NULL vector, NULL norm, width mismatch (zip_with pads with
      NULL) or NULL ELEMENT (visible to pyarrow, unlike pandas) nulls
      the numerator -> NULL cosine, short-circuiting BEFORE the
      zero-denominator check exactly like Spark's DivModLike;
    - a zero denominator under a non-NULL numerator raises the same
      DIVIDE_BY_ZERO the JVM throws under ANSI (blocked-kernel parity);
    - NaN/Inf elements flow through as IEEE arithmetic -> NaN cosine
      stays NaN.

    Rows off the EMB_DIM fast path (equal but non-standard widths) take
    a per-row Python-float path computing the identical doubles.
    """
    import pyarrow as pa

    passthrough = [
        f for f in joined.schema
        if f.name not in ("q_emb", "embedding", "q_nrm", "nrm")
    ]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in passthrough
    )
    names = [f.name for f in passthrough]

    def gen(batches):
        import numpy as np

        for batch in batches:
            n = batch.num_rows
            ok_q, xq = _list_f64(batch.column("q_emb"), EMB_DIM)
            ok_b, xb = _list_f64(batch.column("embedding"), EMB_DIM)
            qn = batch.column("q_nrm").to_numpy(zero_copy_only=False)
            bn = batch.column("nrm").to_numpy(zero_copy_only=False)
            qn_ok = ~np.asarray(batch.column("q_nrm").is_null())
            bn_ok = ~np.asarray(batch.column("nrm").is_null())
            ok = ok_q & ok_b & qn_ok & bn_ok
            out = np.full(n, np.nan, dtype="float64")
            out_null = ~ok
            if ok.any():
                # xq/xb are compacted to their own ok rows; re-expand
                pos_q = np.cumsum(ok_q) - 1
                pos_b = np.cumsum(ok_b) - 1
                sel = np.flatnonzero(ok)
                a = xq[pos_q[sel]]
                b = xb[pos_b[sel]]
                num = np.zeros(len(sel), dtype="float64")
                for d in range(EMB_DIM):
                    num += a[:, d] * b[:, d]
                den = qn[sel] * bn[sel]
                if (den == 0).any():
                    raise ArithmeticError(
                        "DIVIDE_BY_ZERO: zero-norm pair in sim_ann "
                        "scored join (ANSI parity)"
                    )
                out[sel] = num / den
            # equal-but-nonstandard widths: the JVM fold is defined
            # there too -- per-row exact Python floats
            slow = np.flatnonzero(
                ~ok_q & ~np.asarray(batch.column("q_emb").is_null())
            )
            if len(slow):
                qe_rows = batch.column("q_emb").to_pylist()
                be_rows = batch.column("embedding").to_pylist()
                for i in slow:
                    if not (qn_ok[i] and bn_ok[i]):
                        continue
                    qe, be = qe_rows[i], be_rows[i]
                    if (
                        qe is None or be is None or len(qe) != len(be)
                        or any(v is None for v in qe)
                        or any(v is None for v in be)
                    ):
                        continue
                    acc = 0.0
                    for xv, yv in zip(qe, be):
                        acc += float(xv) * float(yv)
                    den_i = float(qn[i]) * float(bn[i])
                    if den_i == 0:
                        raise ArithmeticError(
                            "DIVIDE_BY_ZERO: zero-norm pair in sim_ann "
                            "scored join (ANSI parity)"
                        )
                    out[i] = acc / den_i
                    out_null[i] = False
            yield pa.RecordBatch.from_arrays(
                [
                    *[batch.column(nm) for nm in names],
                    pa.array(out, type=pa.float64(), mask=out_null),
                ],
                [*names, "cosine"],
            )

    return joined.mapInArrow(gen, schema=f"{schema}, cosine double")


def _ann_kernels_ok(spark: SparkSession) -> bool:
    """One-time-per-session runtime equality probe for the ANN kernels
    (the FP analog of the shingle/span kernels' locale probe): run the
    bucket and pair-fold kernels beside their expression
    renderings on a fixed adversarial micro-frame and require exact
    equality. Any mismatch disables the kernels for the session (the
    expression path is always correct); the cost is a handful of
    ~20-row jobs, paid only when the size gate would engage."""
    tok = session_token(spark)
    if tok in _ANN_PROBE_CACHE:
        return _ANN_PROBE_CACHE[tok]
    ok = True
    try:
        import math

        rows = []
        for i in range(12):
            vec = [
                float(((i * 64 + d) * 2654435761 % 1000003) - 500000)
                / 65536.0
                for d in range(EMB_DIM)
            ]
            rows.append((i, i % 3, vec))
        rows.append((12, 0, [0.5] * EMB_DIM))
        rows.append((13, 1, [-1e-30] * EMB_DIM))
        rows.append((14, 2, [float("nan")] + [1.0] * (EMB_DIM - 1)))
        rows.append((15, 0, [math.inf] + [1.0] * (EMB_DIM - 1)))
        rows.append((16, 1, None))
        rows.append((17, 2, [1.0] * 10))
        base = spark.createDataFrame(
            rows, "vec_id bigint, label int, embedding array<float>"
        )
        emb_n = base.select(
            "vec_id", "label", "embedding",
            norm(F.col("embedding")).alias("nrm"),
        )

        def key(r):
            return r["vec_id"]

        def same(x, y):
            if isinstance(x, float) and isinstance(y, float):
                return (math.isnan(x) and math.isnan(y)) or x == y
            if isinstance(x, list) and isinstance(y, list):
                return len(x) == len(y) and all(
                    same(a_, b_) for a_, b_ in zip(x, y)
                )
            return x == y

        expr_b = {
            key(r): r["bucket"]
            for r in emb_n.withColumn("bucket", _bucket_col()).collect()
        }
        kern_b = {
            key(r): r["bucket"] for r in _bucket_assign_kernel(emb_n).collect()
        }
        ok = ok and expr_b == kern_b

        clean = emb_n.where(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == EMB_DIM)
        )
        q = clean.where(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
        joined = clean.join(
            F.broadcast(q), F.col("vec_id") != F.col("id_a")
        )
        expr_c = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in joined.select(
                "id_a",
                F.col("vec_id").alias("id_b"),
                (
                    dot(F.col("q_emb"), F.col("embedding"))
                    / (F.col("q_nrm") * F.col("nrm"))
                ).alias("cosine"),
            ).collect()
        }
        kern_c = {
            (r["id_a"], r["id_b"]): r["cosine"]
            for r in _pair_cosine_map(
                joined.select(
                    "id_a", F.col("vec_id").alias("id_b"),
                    "q_emb", "embedding", "q_nrm", "nrm",
                )
            ).collect()
        }
        ok = ok and len(expr_c) > 0 and set(expr_c) == set(kern_c) and all(
            same(expr_c[k], kern_c[k]) for k in expr_c
        )
    except Exception:
        ok = False
    if not ok:
        import warnings

        warnings.warn(
            "ANN Arrow kernels disabled: the runtime equality probe "
            "found a kernel/expression divergence on this platform; "
            "using the Catalyst expression renderings"
        )
    _ANN_PROBE_CACHE[tok] = ok
    return ok


@register(
    "sim_ann_family",
    oracle=f"""
        WITH ivf_q AS (SELECT vec_id AS id_a, label AS q_label,
                              embedding AS q_emb
                       FROM embeddings WHERE vec_id < {QUERY_N}),
        ivf_s AS (SELECT q.id_a, e.vec_id AS id_b,
                         {_o_cosine("q.q_emb", "e.embedding")} AS cosine
                  FROM ivf_q q JOIN embeddings e
                    ON e.label = q.q_label AND e.vec_id <> q.id_a),
        ivf AS (SELECT id_a, id_b, cosine, rank
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rank
                      FROM ivf_s)
                WHERE rank <= {TOP_K}),
        b AS (SELECT vec_id, embedding,
                     {_bucket_sql(one_based=True)} AS bucket
              FROM embeddings),
        lsh_q AS (SELECT vec_id AS id_a, bucket AS q_bucket, embedding AS q_emb
                  FROM b WHERE vec_id < {QUERY_N}),
        lsh_s AS (SELECT q.id_a, e.vec_id AS id_b,
                         {_o_cosine("q.q_emb", "e.embedding")} AS cosine
                  FROM lsh_q q JOIN b e
                    ON e.bucket = q.q_bucket AND e.vec_id <> q.id_a),
        lsh AS (SELECT id_a, id_b, cosine, rank
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rank
                      FROM lsh_s)
                WHERE rank <= {TOP_K}),
        pairs AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
                         {_o_cosine("a.embedding", "bb.embedding")} AS cosine
                  FROM embeddings a
                  JOIN embeddings bb ON a.label = bb.label
                                    AND a.vec_id < bb.vec_id
                  WHERE {_o_cosine("a.embedding", "bb.embedding")}
                        >= {PAIR_THRESHOLD}),
        qz0 AS (SELECT vec_id, embedding,
                       list_max(list_transform(embedding,
                                x -> abs(CAST(x AS DOUBLE)))) AS mx
                FROM embeddings),
        qz1 AS (SELECT vec_id, embedding,
                       CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scl,
                       CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS inv
                FROM qz0),
        qz AS (SELECT vec_id, embedding, inv,
                      list_transform(embedding,
                          x -> CAST(FLOOR(CAST(x AS DOUBLE) * scl + 0.5)
                                    AS BIGINT)) AS qv
               FROM qz1),
        q8q AS (SELECT vec_id AS id_a, qv AS q_qv, inv AS q_inv
                FROM qz WHERE vec_id < {QUERY_N}),
        q8s AS (SELECT q.id_a, e.vec_id AS id_b,
                       CASE WHEN q.q_qv IS NULL OR e.qv IS NULL THEN NULL
                            ELSE CAST(COALESCE(list_sum(list_transform(
                                     list_zip(q.q_qv, e.qv),
                                     x -> x[1] * x[2])), 0) AS DOUBLE)
                                 * q.q_inv * e.inv END AS score_q
                FROM q8q q JOIN qz e ON e.vec_id <> q.id_a),
        q8c AS (SELECT id_a, id_b
                FROM (SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY id_a
                          ORDER BY score_q DESC, id_b) AS rq
                      FROM q8s)
                WHERE rq <= {QUANT_RERANK_N}),
        q8x AS (SELECT c.id_a, c.id_b,
                       {_o_cosine("qe.embedding", "be.embedding")} AS cosine
                FROM q8c c
                JOIN embeddings qe ON qe.vec_id = c.id_a
                JOIN embeddings be ON be.vec_id = c.id_b),
        q8 AS (SELECT id_a, id_b, cosine, rank
               FROM (SELECT *, ROW_NUMBER() OVER (
                         PARTITION BY id_a
                         ORDER BY cosine DESC, id_b) AS rank
                     FROM q8x)
               WHERE rank <= {TOP_K}),
        kvalid AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                     AND len(embedding) = {EMB_DIM}),
        kseeds AS (SELECT cid, cent FROM (
                     SELECT ROW_NUMBER() OVER (
                                ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                         vec_id) - 1 AS cid,
                            embedding AS cent
                     FROM kvalid)
                   WHERE cid < {KSEED_K}),
        kdist AS (SELECT e.vec_id AS id_a, s.cid,
                         {_o_sqdist("e.embedding", "s.cent")} AS d
                  FROM kvalid e CROSS JOIN kseeds s),
        kassign AS (SELECT id_a, cid, d FROM (
                      SELECT *, ROW_NUMBER() OVER (
                          PARTITION BY id_a ORDER BY d, cid) AS rn
                      FROM kdist)
                    WHERE rn = 1),
        pqvalid AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                      AND len(embedding) = {EMB_DIM}
                      AND len(list_filter(embedding,
                              x -> isnan(CAST(x AS DOUBLE)))) = 0),
        pqseeds AS (SELECT cid, cent FROM (
                      SELECT ROW_NUMBER() OVER (
                                 ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                          vec_id) - 1 AS cid,
                             embedding AS cent
                      FROM pqvalid)
                    WHERE cid < {PQ_K}),
        pqcodes AS (SELECT vec_id, s, cid FROM (
                      SELECT e.vec_id, s.s, d.cid,
                             ROW_NUMBER() OVER (
                                 PARTITION BY e.vec_id, s.s
                                 ORDER BY {_o_sqdist(
                                     f"list_slice(e.embedding, s.s*{PQ_DSUB}+1, s.s*{PQ_DSUB}+{PQ_DSUB})",
                                     f"list_slice(d.cent, s.s*{PQ_DSUB}+1, s.s*{PQ_DSUB}+{PQ_DSUB})",
                                 )}, d.cid) AS rn
                      FROM pqvalid e,
                           (SELECT range AS s FROM range(0, {PQ_M})) s,
                           pqseeds d)
                    WHERE rn = 1),
        pqcent AS (SELECT c.vec_id, c.s,
                          list_slice(d.cent, c.s*{PQ_DSUB}+1,
                                     c.s*{PQ_DSUB}+{PQ_DSUB}) AS cs
                   FROM pqcodes c JOIN pqseeds d ON d.cid = c.cid),
        pqrn AS (SELECT vec_id AS id_b,
                        sqrt(list_sum(list(sub_nrm2 ORDER BY s))) AS r_nrm
                 FROM (SELECT vec_id, s,
                              list_sum(list_transform(cs,
                                  x -> CAST(x AS DOUBLE)
                                       * CAST(x AS DOUBLE))) AS sub_nrm2
                       FROM pqcent)
                 GROUP BY vec_id),
        pqq AS (SELECT vec_id AS id_a, embedding AS q_emb,
                       {_o_norm("embedding")} AS q_nrm
                FROM pqvalid WHERE vec_id < {QUERY_N}),
        pqdot AS (SELECT q.id_a, ct.vec_id AS id_b, q.q_nrm,
                         list_sum(list({_o_dot(
                             f"list_slice(q.q_emb, ct.s*{PQ_DSUB}+1, ct.s*{PQ_DSUB}+{PQ_DSUB})",
                             "ct.cs",
                         )} ORDER BY ct.s)) AS num
                  FROM pqq q JOIN pqcent ct ON ct.vec_id <> q.id_a
                  GROUP BY q.id_a, ct.vec_id, q.q_nrm),
        pqx AS (SELECT d.id_a, d.id_b,
                       CASE WHEN d.q_nrm > 0 AND r.r_nrm > 0
                            THEN d.num / (d.q_nrm * r.r_nrm) END AS cosine
                FROM pqdot d JOIN pqrn r ON r.id_b = d.id_b),
        pq AS (SELECT id_a, id_b, cosine, rank FROM (
                 SELECT *, ROW_NUMBER() OVER (
                     PARTITION BY id_a
                     ORDER BY cosine DESC, id_b) AS rank
                 FROM pqx WHERE cosine IS NOT NULL)
               WHERE rank <= {TOP_K})
        SELECT 'ivf' AS method, id_a, id_b, cosine, rank FROM ivf
        UNION ALL
        SELECT 'lsh' AS method, id_a, id_b, cosine, rank FROM lsh
        UNION ALL
        SELECT 'q8' AS method, id_a, id_b, cosine, rank FROM q8
        UNION ALL
        SELECT 'pairs' AS method, id_a, id_b, cosine,
               CAST(NULL AS BIGINT) AS rank
        FROM pairs
        UNION ALL
        SELECT 'kseed' AS method, id_a, CAST(cid AS BIGINT) AS id_b,
               d AS cosine, CAST(NULL AS BIGINT) AS rank
        FROM kassign
        UNION ALL
        SELECT 'pq' AS method, id_a, id_b, cosine, rank FROM pq
        WHERE (SELECT count(*) FROM pqseeds) = {PQ_K}
    """,
    doc="Bucketed ANN family, consolidated (was sim_topk_ivf + sim_topk_lsh "
    "+ sim_cell_pairs): method='ivf' restricts top-k candidates to the "
    "query's coarse cell (label = precomputed k-means assignment -- the "
    "inverted-file trade of recall for a cells-fold cost cut); "
    "method='lsh' restricts to the query's sign-random-projection bucket "
    "(6 hyperplanes -> 64 buckets; the +/-1 plane matrix is md5-derived "
    "once and inlined as literals in BOTH engines, so bucket assignment "
    "is engine-exact pure codegen arithmetic); method='pairs' mines all "
    "within-cell pairs above cosine 0.4 -- the embedding-cosine near-dup "
    "operator (blocked all-pairs: the equi-join on the cell id keeps the "
    "pair space at cells x (N/cells)^2, never N^2; a hot cell gets "
    "salted at real scale). Every branch is a broadcast-hash equi-join "
    "on its bucket id -- the corpus side never shuffles. The ivf and lsh "
    "branches are MULTIPLEXED through one (method, key) exploded join + "
    "one window, so the corpus is scanned and bucketed once for both. "
    "method='q8' (round 4) is int8 scalar quantization with two-stage "
    "retrieve-and-rerank: per-vector symmetric quantization (127/max_abs "
    "scale), EXACT integer dot products rank candidates (bit-portable "
    "across engines, unlike float approximations), the top "
    f"{QUANT_RERANK_N} per query join back to fetch full vectors, and "
    "the exact-cosine rerank keeps the final top-k -- the memory-bound "
    "ANN pattern (4x less scan bandwidth; candidate fetch is a tiny "
    "broadcast join, vectors never ride through the ranking shuffle). "
    "method='kseed' (round 4) is the k-means ASSIGNMENT operator under "
    "the driver contract: every vector labeled with its nearest of the "
    f"{KSEED_K} md5-ranked seed vectors (operators/kmeans.py seeding), "
    "id_b = cell, cosine column = squared distance -- the zero-shuffle "
    "literal-inlined argmin, hash-checked against the oracle's "
    "strict-fold recomputation. method='pq' (round 6) is product "
    "quantization's ADC scoring path (operators/pq.py) under the "
    f"driver contract: {PQ_M} seed-only codebooks ({PQ_K} md5-ranked "
    "seed vectors sliced per subspace -- pq_fit with max_iterations=0, "
    "the SQL-expressible deterministic fit, same trick as kseed), "
    "codegen argmin ENCODE to 8-byte codes, and asymmetric-distance "
    "top-k where every corpus row is scored from its codes alone: "
    "score = sum_s dot(q_s, CB[s][code_s]) / (|q| * |recon|) with both "
    "folds strict left-to-right in both engines, so the hash covers "
    "the encode argmin, the ADC dot, and the reconstruction norms "
    "bit-for-bit. The corpus side of the broadcast join carries codes, "
    "never vectors -- the 32x-compression scan path at 100 TB.",
    bench=True,
    tags=("similarity", "llm-data", "lsh", "dedup"),
)
def sim_ann_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-4 restructure: the IVF and LSH branches previously ran as two
    # separate broadcast joins + two window shuffles over the same corpus.
    # They are now MULTIPLEXED through one join: each vector (and each
    # query) explodes map-side to its two (method, key) rows -- ('ivf',
    # label) and ('lsh', bucket) -- and a single broadcast equi-join on
    # (method, key) + ONE window partitioned by (method, id_a) ranks both
    # families. Same output set, half the jobs/shuffles; the explode is
    # 2x on (id, key) rows, not on payload scans, and at 100 TB it keeps
    # the corpus to one pass instead of two.
    emb_n = _normed(spark, sf_dir)
    # r16 size gate (VERDICT r15 #4): above ANN_KERNEL_BOUND vectors
    # (footer count, no Spark job) the family's corpus-sized
    # interpreted folds run as Arrow kernels -- bucket assignment,
    # the ivf/lsh pair cosine, PQ encode + ADC, and the pairs
    # branch's blocked kernel -- each pinned bit-equal by
    # tests/test_ann_kernels.py and the session's runtime equality
    # probe. Every oracle/bench scale stays on the expression path.
    n_vecs = table_row_count(sf_dir, "embeddings")
    use_kernel = (
        n_vecs is not None
        and n_vecs > ANN_KERNEL_BOUND
        and _ann_kernels_ok(spark)
    )
    b = (
        _bucket_assign_kernel(emb_n)
        if use_kernel
        else emb_n.withColumn("bucket", _bucket_col())
    )
    cand = b.select(
        "vec_id",
        "embedding",
        "nrm",
        F.explode(
            F.array(
                F.struct(
                    F.lit("ivf").alias("method"),
                    F.col("label").cast("long").alias("key"),
                ),
                F.struct(
                    F.lit("lsh").alias("method"),
                    F.col("bucket").cast("long").alias("key"),
                ),
            )
        ).alias("mk"),
    ).select("vec_id", "embedding", "nrm", "mk.method", "mk.key")
    q = cand.where(F.col("vec_id") < QUERY_N).select(
        F.col("method").alias("q_method"),
        F.col("key").alias("q_key"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    joined = cand.join(
        F.broadcast(q),
        (F.col("method") == F.col("q_method"))
        & (F.col("key") == F.col("q_key"))
        & (F.col("vec_id") != F.col("id_a")),
    )
    if use_kernel:
        scored = _pair_cosine_map(
            joined.select(
                "method", "id_a", F.col("vec_id").alias("id_b"),
                "q_emb", "embedding", "q_nrm", "nrm",
            )
        )
    else:
        scored = joined.select(
            "method",
            "id_a",
            F.col("vec_id").alias("id_b"),
            (
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cosine"),
        )
    # The q8 branch's final exact-cosine rerank rides the SAME shared
    # window: its scored candidate pairs union in under method='q8'
    # before the row_number, saving the branch its own ranking shuffle
    # (identical output -- same partition key, same ordering, same
    # TOP_K cut).
    # The q8 branch is expression-only at every scale: an Arrow kernel
    # pair (quantize + int-dot pandas_udf) measured SLOWER at 1M vectors
    # (quantize 0.68s -> 0.76s, q8 branch 3.62s -> 4.79s;
    # f47a063:tools/ann_attrib.py) -- the retrieve ships
    # BOTH int64 arrays per pair through Arrow while the JVM integer
    # fold reads the query side from the broadcast relation.
    q8_scored = _quantized_rerank_scored(emb_n).select(
        F.lit("q8").alias("method"), "id_a", "id_b", "cosine"
    )
    ranked = scored.unionByName(q8_scored)

    # method='pq' (round 6): operators/pq.py's ADC path under the
    # driver contract. Seed-only codebooks (the md5-ranked first PQ_K
    # NaN-free valid vectors, sliced per subspace -- what pq_fit with
    # max_iterations=0 computes, built here from ONE collect with no
    # dim-probe job) keep the fit deterministic AND SQL-expressible:
    # the oracle re-derives the same seeds, re-encodes every vector
    # with the same argmin, and re-folds the same ADC dot/norm
    # arithmetic, so the value hash pins encode + scoring end to end.
    # The scored pairs ride the SHARED family window (method='pq'
    # partition), saving the branch its own ranking shuffle; NULL
    # cosines (zero-norm query/reconstruction) are excluded AFTER the
    # shared window (see the re-inline rationale at the topk filter
    # below -- a pre-union filter on the derived cosine re-inlined the
    # ADC producer into the join condition), with ranks unchanged
    # because DESC puts NULLS LAST. The Lloyd-trained codebook path (the
    # production fit) is exercised by tests/test_pq.py and
    # recall_report(method='pq').
    valid = emb_n.where(
        F.col("vec_id").isNotNull()
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == EMB_DIM)
    )
    nanfree = valid.where(
        ~F.exists(F.col("embedding"), lambda x: F.isnan(x.cast("double")))
    )
    from ..operators.pq import adc_scored, pq_encode

    # ONE seed-collect job for the pq AND kseed branches (r15): the two
    # md5-ranked TakeOrdered prefixes (PQ_K over the NaN-free rows,
    # KSEED_K over all valid rows) union under a src marker and collect
    # together -- the same model-sized driver read, but one job and one
    # pass over the pinned corpus instead of two. Rows re-sort
    # driver-side by the same (md5, vec_id) rank, so neither branch
    # depends on union output order.
    def _ranked(df: DataFrame, src: str, k: int) -> DataFrame:
        return (
            df.select(
                F.md5(F.col("vec_id").cast("string")).alias("h"),
                "vec_id",
                "embedding",
            )
            .orderBy("h", "vec_id")
            .limit(k)
            .select(F.lit(src).alias("src"), "h", "vec_id", "embedding")
        )

    seeds_frame = _ranked(nanfree, "pq", PQ_K).unionByName(
        _ranked(valid, "kseed", KSEED_K)
    )
    if use_kernel:
        # the pq branch's ADC kernel needs the (model-sized) query
        # rows driver-side; they ride the SAME collect job under a
        # third src marker, so kernel scale pays no extra job
        seeds_frame = seeds_frame.unionByName(
            nanfree.where(F.col("vec_id") < QUERY_N).select(
                F.lit("pqq").alias("src"),
                F.md5(F.col("vec_id").cast("string")).alias("h"),
                "vec_id",
                "embedding",
            )
        )
    seed_collect = seeds_frame.collect()
    pq_seed_rows = sorted(
        (r for r in seed_collect if r["src"] == "pq"),
        key=lambda r: (r["h"], r["vec_id"]),
    )
    if len(pq_seed_rows) == PQ_K:
        books = {
            s: {
                c: [
                    float(x)
                    for x in row["embedding"][
                        s * PQ_DSUB : (s + 1) * PQ_DSUB
                    ]
                ]
                for c, row in enumerate(pq_seed_rows)
            }
            for s in range(PQ_M)
        }
        if use_kernel:
            # r16 (VERDICT r15 #4): the branch's two corpus-sized
            # interpreted folds -- the per-row encode argmin and the
            # per-pair ADC dot/norm folds (12.7s + 13.2s of the 1M
            # family, f47a063:tools/ann_attrib.py) -- run as Arrow
            # kernels.
            # The ADC kernel folds the collected queries into the PQ
            # paper's lookup tables driver-side (exact IEEE doubles,
            # same add order) and streams CODES only: m bytes per
            # corpus row cross Arrow once, no broadcast join at all.
            import math

            from ..operators.pq import adc_scored_kernel, pq_encode_kernel

            qrows = []
            for r in sorted(
                (r for r in seed_collect if r["src"] == "pqq"),
                key=lambda r: r["vec_id"],
            ):
                acc = 0.0
                for v in r["embedding"]:
                    fv = float(v)
                    acc += fv * fv
                qrows.append(
                    (r["vec_id"], list(r["embedding"]), math.sqrt(acc))
                )
            pq_scored = adc_scored_kernel(
                pq_encode_kernel(nanfree, books).withColumnRenamed(
                    "vec_id", "id_b"
                ),
                qrows,
                books,
            )
        else:
            coded = pq_encode(nanfree, books).where(
                F.col("codes").isNotNull()
            )
            pq_scored = adc_scored(
                coded.select(F.col("vec_id").alias("id_b"), "codes"),
                nanfree.where(F.col("vec_id") < QUERY_N).select(
                    F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("q_emb"),
                    F.col("nrm").alias("q_nrm"),
                ),
                books,
                F.col("id_b") != F.col("id_a"),
            )
        ranked = ranked.unionByName(
            pq_scored.select(
                F.lit("pq").alias("method"), "id_a", "id_b", "cosine"
            )
        )

    w = Window.partitionBy("method", "id_a").orderBy(
        F.desc("cosine"), F.asc("id_b")
    )
    # The pq branch's NULL cosines (zero-norm query/reconstruction) are
    # excluded AFTER the shared window, not before the union: a filter
    # on the derived cosine directly over adc_scored let predicate
    # pushdown substitute the whole ADC dot/norm producer into the JOIN
    # CONDITION -- the score then evaluated twice per pair (the r8/r10
    # trap, caught live by the r12 registry-wide re-inline sweep). DESC
    # ranks NULLS LAST, so every non-null pq pair keeps the exact rank
    # the pre-union filter gave it, and Catalyst cannot push a
    # non-partition-column predicate back through the window. Other
    # branches keep their documented null semantics (q8 ranks nulls
    # last and retains them, matching its oracle CASE).
    topk = (
        ranked.withColumn("rank", F.row_number().over(w))
        .where(
            (F.col("rank") <= TOP_K)
            & ((F.col("method") != "pq") | F.col("cosine").isNotNull())
        )
        .select("method", "id_a", "id_b", "cosine", "rank")
    )
    pairs = blocked_cell_pairs(emb_n, kernel=use_kernel).select(
        F.lit("pairs").alias("method"),
        "id_a",
        "id_b",
        "cosine",
        F.lit(None).cast("bigint").alias("rank"),
    )
    out = topk.unionByName(pairs)

    # method='kseed' (round 4): the k-means ASSIGNMENT operator under
    # the driver contract -- every vector labeled with its nearest of
    # the KSEED_K md5-ranked seed vectors (operators/kmeans.py seeding),
    # id_b = cell id, cosine column = the squared distance (strict
    # left-fold double, engine-exact like the cosines). Assignment is
    # the zero-shuffle literal-inlined argmin; collecting the seeds is
    # a model-sized (k x dim) driver read, the same class as the LSH
    # plane literals.
    from ..operators.kmeans import _dist2

    seed_rows = sorted(
        (r for r in seed_collect if r["src"] == "kseed"),
        key=lambda r: (r["h"], r["vec_id"]),
    )
    if seed_rows:
        choices = F.array(
            *[
                F.struct(
                    _dist2(
                        F.col("embedding"), [float(x) for x in r["embedding"]]
                    ).alias("d"),
                    F.lit(i).alias("cid"),
                )
                for i, r in enumerate(seed_rows)
            ]
        )
        best = F.array_min(choices)
        kseed = valid.select(
            F.lit("kseed").alias("method"),
            F.col("vec_id").alias("id_a"),
            best["cid"].cast("bigint").alias("id_b"),
            best["d"].alias("cosine"),
            F.lit(None).cast("bigint").alias("rank"),
        )
        out = out.unionByName(kseed)
    return out


def _quantized_rerank_scored(
    emb_n: DataFrame,
    rerank_n: int = QUANT_RERANK_N,
) -> DataFrame:
    """int8-quantized retrieve + exact-cosine rerank (two-stage ANN).

    Stage 1 (retrieve) scores every (query, candidate) pair with an
    EXACT BIGINT dot product over per-vector symmetrically-quantized
    int8 codes (q_i = floor(e_i * 127/max_abs + 0.5)), dequantized by
    the two scale factors -- integer arithmetic is bit-portable, so the
    candidate ranking is engine-exact by construction, where a float32
    approximate score would need tolerance handling. Vectors are
    DROPPED before the ranking window: the shuffle carries (id, id,
    double) rows only.

    Stage 2 (rerank) joins the ~QUERY_N x rerank_n winning ids BACK to
    the corpus -- a tiny broadcast equi-join -- and ranks them by exact
    float cosine.

    Scale shape: at 100 TB the quantized corpus is the thing that
    streams (4x less bandwidth than float32; int8 SIMD on real
    hardware), the candidate id set broadcasts, and full vectors are
    touched only for the rerank fetch. NULL embeddings quantize to NULL
    codes and score NULL (ranked last), matching the oracle's CASE.

    Measured scale-law (local[32], round 4, synthetic 64-dim corpora):
    2k vectors 0.90s vs 20k vectors 1.39s -- 10x the corpus for 1.5x
    the time, i.e. the plan is fixed-overhead-bound locally and the
    O(N x Q) retrieve term stays sub-linear in wall-clock until N is
    millions; the rerank stage is corpus-size-independent by
    construction (QUERY_N x rerank_n rows).
    """
    mx = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scl = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    inv = F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(0.0))
    # The scale rides INTO the element loop as an array_repeat + zip_with,
    # never as a free reference inside the transform lambda: a lambda
    # referencing scl re-evaluates its array_max(transform(abs)) producer
    # PER ELEMENT -- the O(dim^2)-per-row r8 shape, caught live here by
    # the r12 registry-wide re-inline sweep (metrics.derived_reinline).
    # array_repeat evaluates scl ONCE per row and fills; x * s + 0.5 is
    # the same doubles in the same order, so codes (and the oracle
    # differential) are bit-identical to the old rendering.
    qz = emb_n.select(
        "vec_id",
        F.zip_with(
            F.col("embedding"),
            F.array_repeat(scl, F.size(F.col("embedding"))),
            lambda x, s: F.floor(x.cast("double") * s + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qv"),
        inv.alias("inv"),
    )
    q8q = qz.where(F.col("vec_id") < QUERY_N).select(
        F.col("vec_id").alias("id_a"),
        F.col("qv").alias("q_qv"),
        F.col("inv").alias("q_inv"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("q_qv"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    approx = qz.join(F.broadcast(q8q), F.col("vec_id") != F.col("id_a")).select(
        "id_a",
        F.col("vec_id").alias("id_b"),
        (idot.cast("double") * F.col("q_inv") * F.col("inv")).alias("score_q"),
    )
    wq = Window.partitionBy("id_a").orderBy(F.desc("score_q"), F.asc("id_b"))
    cand = (
        approx.withColumn("rq", F.row_number().over(wq))
        .where(F.col("rq") <= rerank_n)
        .select("id_a", "id_b")
    )
    bside = emb_n.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    qside = emb_n.where(F.col("vec_id") < QUERY_N).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    return (
        bside.join(F.broadcast(cand), "id_b")
        .join(F.broadcast(qside), "id_a")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("q_emb"), F.col("b_emb"))
                / (F.col("q_nrm") * F.col("b_nrm"))
            ).alias("cosine"),
        )
    )


def quantized_rerank_topk(
    emb_n: DataFrame, rerank_n: int = QUANT_RERANK_N
) -> DataFrame:
    """Standalone rendering of the q8 branch: scored rerank candidates
    cut to the exact-cosine top-k. Inside ``sim_ann_family`` the scored
    set instead joins the shared (method, id_a) window -- same result,
    one less shuffle."""
    scored = _quantized_rerank_scored(emb_n, rerank_n)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("id_a", "id_b", "cosine", "rank")
    )


#: The block-pair replication keys, shared verbatim by the join path
#: and the Arrow kernel so the two task decompositions can never
#: drift: a vector in block blk is the LEFT of keys (blk, j) for
#: j >= blk and the RIGHT of keys (i, blk) for i <= blk -- every
#: unordered pair meets on exactly one key.
_BP_LEFT_KEYS = (
    "transform(sequence(blk, {last}), j -> struct(blk AS i, j AS j))"
)
_BP_RIGHT_KEYS = "transform(sequence(0, blk), i -> struct(i AS i, blk AS j))"


def _blocked_pairs_kernel(
    blocked: DataFrame, blocks: int, threshold: float
) -> DataFrame:
    """Arrow kernel rendering of the blocked pair search: the SAME
    block-pair task decomposition as the join path (each vector
    replicated to its block-pair keys, one task per (label, i, j), so
    the per-task candidate bound (cell/blocks)^2 is identical), but
    each task computes its block x block cosine matrix in numpy
    instead of emitting one row per candidate pair through the
    interpreted HOF dot -- vectors cross the shuffle ~(blocks+1)
    times, never per-pair, and the fold runs at vectorized speed.

    BIT-EQUAL output by the fold rule: the dot accumulates
    per-dimension in index order from 0.0 (similarity.dot's exact add
    order), the denominator is the same fl(nrm_a * nrm_b) from the
    PRE-COMPUTED nrm column, and one divide. Join-path oddities are
    reproduced deliberately: pairs whose cosine is NaN survive the
    threshold (Spark evaluates NaN >= t as TRUE -- callers exclude
    NaN vectors upstream exactly because of that weld); pairs with
    mismatched vector widths vanish (zip_with pads with NULL, the
    fold nulls out, NULL >= t filters); NULL vectors or norms pair
    with nothing.
    """
    id_type = blocked.schema["vec_id"].dataType
    # a NULL ELEMENT nulls the JVM fold (pair dropped) while a NaN
    # element welds (NaN >= t is TRUE); post-Arrow both read as NaN,
    # so the drop must happen here, ONCE per vector before replication.
    # NULL labels never equi-join on the join path, so they pair with
    # nothing there -- drop them here too (groupBy would pool them).
    blocked = blocked.where(
        F.col("label").isNotNull()
        & F.col("embedding").isNotNull()
        & F.col("nrm").isNotNull()
        & ~F.exists(F.col("embedding"), lambda x: x.isNull())
    )
    rep_a = blocked.select(
        F.col("vec_id").alias("vid"),
        "label",
        F.col("embedding").alias("emb"),
        F.col("nrm").alias("nv"),
        F.lit(0).alias("role"),
        F.explode(F.expr(_BP_LEFT_KEYS.format(last=blocks - 1))).alias(
            "bp"
        ),
    )
    rep_b = blocked.select(
        F.col("vec_id").alias("vid"),
        "label",
        F.col("embedding").alias("emb"),
        F.col("nrm").alias("nv"),
        F.lit(1).alias("role"),
        F.explode(F.expr(_BP_RIGHT_KEYS)).alias("bp"),
    )
    rep = (
        rep_a.unionByName(rep_b)
        .select(
            "vid", "label", "emb", "nv", "role",
            F.col("bp.i").alias("i"), F.col("bp.j").alias("j"),
        )
    )

    def fn(pdf):
        import numpy as np
        import pandas as pd

        i_key = int(pdf["i"].iloc[0])
        j_key = int(pdf["j"].iloc[0])
        diag = i_key == j_key
        av = pdf[pdf["role"] == 0]
        bv = pdf[pdf["role"] == 1]
        out_a, out_b, out_c = [], [], []
        if len(av) and len(bv):
            # equal-width pairs only: a width mismatch nulls the JVM
            # fold and the NULL cosine is filtered, so pair within
            # each width class. Zero-norm parity lives INSIDE the
            # width loop (the (den == 0) & elig check): Spark's
            # DivModLike short-circuits a NULL numerator BEFORE the
            # divide-by-zero throw, so a zero-norm row whose only
            # partners are width-mismatched is silently dropped by
            # the join path (NULL dot / 0.0 is NULL, verified on
            # Spark 4.1 ANSI) -- raising on ANY shared-cell partner
            # here would kill jobs the join path completes (round-9
            # ADVICE). The raise fires exactly when the join path's:
            # a same-width partner in an evaluated orientation.
            aw = {}
            for vid, emb, nrm in zip(av["vid"], av["emb"], av["nv"]):
                aw.setdefault(len(emb), []).append((vid, emb, nrm))
            bw = {}
            for vid, emb, nrm in zip(bv["vid"], bv["emb"], bv["nv"]):
                bw.setdefault(len(emb), []).append((vid, emb, nrm))
            for width, arows in aw.items():
                brows = bw.get(width)
                if not brows:
                    continue
                ida = np.asarray([r[0] for r in arows], dtype=np.int64)
                idb = np.asarray([r[0] for r in brows], dtype=np.int64)
                xa = np.vstack(
                    [np.asarray(r[1], dtype=np.float64) for r in arows]
                )
                xb = np.vstack(
                    [np.asarray(r[1], dtype=np.float64) for r in brows]
                )
                na = np.asarray([r[2] for r in arows], dtype=np.float64)
                nb = np.asarray([r[2] for r in brows], dtype=np.float64)
                num = np.zeros((len(arows), len(brows)))
                for d in range(width):
                    num += xa[:, d, None] * xb[None, :, d]
                den = na[:, None] * nb[None, :]
                elig = (
                    ida[:, None] < idb[None, :]
                    if diag
                    else np.ones_like(den, dtype=bool)
                )
                if ((den == 0) & elig).any():
                    # underflow of two tiny nonzero norms on an
                    # evaluated orientation: the join path's
                    # fl(nrm_a*nrm_b) hits the same zero and raises
                    raise ArithmeticError(
                        "DIVIDE_BY_ZERO: zero-norm pair in "
                        "blocked_cell_pairs (ANSI parity)"
                    )
                cos = num / den
                keep = ((cos >= threshold) | np.isnan(cos)) & elig
                ra, rb = np.nonzero(keep)
                if len(ra):
                    pa, pb = ida[ra], idb[rb]
                    out_a.append(np.minimum(pa, pb))
                    out_b.append(np.maximum(pa, pb))
                    out_c.append(cos[ra, rb])
        if not out_a:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a),
             "id_b": np.concatenate(out_b),
             "cosine": np.concatenate(out_c)}
        )

    out = rep.groupBy("label", "i", "j").applyInPandas(
        fn, "id_a long, id_b long, cosine double"
    )
    # Arrow renders a NaN in a pandas float64 column as NULL; the join
    # path's weld pairs carry literal NaN. No legitimately-NULL cosine
    # can exist here (the join path's WHERE filters NULL), so coalesce
    # restores the NaN bit-for-bit and the two paths stay identical.
    # Ids travel as int64 through numpy; cast back to the input id
    # type so both paths return the same schema.
    return out.select(
        F.col("id_a").cast(id_type).alias("id_a"),
        F.col("id_b").cast(id_type).alias("id_b"),
        F.coalesce(F.col("cosine"), F.lit(float("nan"))).alias("cosine"),
    )


def blocked_cell_pairs(
    emb_n: DataFrame,
    blocks: int = PAIR_BLOCKS,
    threshold: float = PAIR_THRESHOLD,
    kernel: bool = False,
) -> DataFrame:
    """Within-cell threshold pair mining, BLOCKED against hot cells.

    Each vector sits in sub-block blk = vec_id % blocks of its cell and
    is replicated map-side to every block-pair key it participates in:
    as the LEFT of (blk, j) for j >= blk, as the RIGHT of (i, blk) for
    i <= blk. The join is then a plain equi-join on (label, i, j), so a
    hot cell's quadratic pair space executes as blocks*(blocks+1)/2
    independent tasks, never one straggler. An unordered pair meets on
    exactly one key (i < j: once by construction; i == j: the vec_id
    filter keeps one orientation), and cosine is orientation-independent
    bit-exactly (per-index products commute; addition order is by index
    either way) -- output identical to the naive cell join, which is
    what the oracle states.

    Measured hot-cell stress (local[32], round 4; ONE cell of 6000
    vectors = 18M candidate cosines): blocked 8.4s vs naive single-key
    join 11.5s with identical output. The modest local ratio is AQE
    honesty: OptimizeSkewedJoin already sub-splits the hot sort-merge
    partition on this box, so the naive shape is partially rescued at
    runtime. The blocked layout's value is the STRUCTURAL bound -- max
    per-task candidates = (cell/blocks)^2 by construction, independent
    of join strategy (AQE's skew split does not apply to broadcast-hash
    plans, cannot cross its 256MB partition threshold granularity, and
    is a runtime heuristic, not a guarantee). Equality-under-skew and
    the block-pair task count are asserted in
    tests/test_scale_patterns.py. Input expects the ``_normed``
    projection (vec_id, label, embedding, nrm).
    """
    blocked = emb_n.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int")
    )
    if kernel:
        # Arrow rendering of the same task decomposition (see
        # _blocked_pairs_kernel): bit-equal output, vectors cross the
        # shuffle per BLOCK-PAIR instead of one row per candidate
        # pair through the interpreted HOF fold. The join path stays
        # the default -- it is what the driver oracle can express and
        # is fine below ~10^7 candidates.
        return _blocked_pairs_kernel(blocked, blocks, threshold)
    a = blocked.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        F.explode(F.expr(_BP_LEFT_KEYS.format(last=blocks - 1))).alias(
            "bp"
        ),
    ).select("id_a", "label", "emb_a", "nrm_a", "bp.i", "bp.j")
    bb = blocked.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        F.explode(F.expr(_BP_RIGHT_KEYS)).alias("bp"),
    ).select(
        "id_b",
        "label_b",
        "emb_b",
        "nrm_b",
        F.col("bp.i").alias("i_b"),
        F.col("bp.j").alias("j_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(
            bb,
            (F.col("label") == F.col("label_b"))
            & (F.col("i") == F.col("i_b"))
            & (F.col("j") == F.col("j_b")),
        )
        .where((F.col("i") < F.col("j")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def _cosine_pandas_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine kernel: NumPy over stacked vector batches.

    Each invocation receives a few thousand (query, candidate) vector
    pairs as Arrow arrays; the arithmetic is one vectorized pass
    instead of per-row Python -- the 10-100x rule from the UDF
    guidance. The accumulation is a strict LEFT FOLD dimension by
    dimension (``acc += a_j*b_j``), the exact add order and IEEE
    doubles of the JVM ``dot``/``norm`` expressions -- NOT numpy's
    pairwise ``sum``/``linalg.norm``, whose different rounding left the
    values ~1e-12 off the JVM fold and forced this query's rows-only
    registration for seven rounds. Bit-equal values mean the DuckDB
    oracle that hash-pins sim_topk_bruteforce pins this path too (the
    same kernel-equals-expression discipline as
    ``operators/kmeans._assign_vectorized``).
    """
    import numpy as np

    # NULL-aware: a missing vector yields a NULL cosine (matching the
    # JVM fold, where dot(NULL, x) is NULL) instead of crashing np.stack
    # -- caught by the null-injection differential sweep.
    valid = a.notna() & b.notna()
    out: list[float | None] = [None] * len(a)
    if valid.any():
        av = np.stack(a[valid].to_numpy()).astype(np.float64)
        bv = np.stack(b[valid].to_numpy()).astype(np.float64)
        num = np.zeros(av.shape[0])
        na = np.zeros(av.shape[0])
        nb = np.zeros(av.shape[0])
        for j in range(av.shape[1]):
            x, y = av[:, j], bv[:, j]
            num += x * y
            na += x * x
            nb += y * y
        cos = num / (np.sqrt(na) * np.sqrt(nb))
        for pos, val in zip(np.flatnonzero(valid.to_numpy()), cos):
            out[pos] = float(val)
    return pd.Series(out, dtype=object)


def _cosine_pandas():
    # pandas_udf needs an active SparkSession (PySpark 4 resolves the DDL
    # return type eagerly), so construct it per-call, not at import.
    return F.pandas_udf(_cosine_pandas_kernel, "double")


@register(
    "sim_topk_pandas",
    # the kernel's left-fold accumulation is bit-equal to the JVM fold
    # (round 8), so the exact brute-force oracle hash-pins this path too
    oracle=_BRUTE_TOPK_ORACLE,
    doc="Brute-force cosine top-k through the vectorized-UDF path (X2): "
    "same broadcast-query / streaming-candidate shape as "
    "sim_topk_bruteforce, but the kernel is an Arrow-batched pandas_udf "
    "doing NumPy batch arithmetic -- the template for kernels SQL "
    "expressions cannot host (PQ decode, re-ranking models). Ranking "
    "stays JVM-side.",
    bench=True,
    tags=("similarity", "llm-data", "pandas-udf"),
)
def sim_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT widened: the Arrow path amortizes over batch size, so fewer,
    # larger batches beat 32 small ones until there are ~10k+ pairs per
    # core -- measured 0.6s (1 split) vs 5.0s (32 splits) at sf0.1. At
    # real scale the scan arrives multi-split and batches stay large.
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < QUERY_N).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("q_emb")
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("id_a")).select(
        "id_a",
        F.col("vec_id").alias("id_b"),
        _cosine_pandas()(F.col("q_emb"), F.col("embedding")).alias("cosine"),
    )
    return _topk(scored)


def recall_report(
    spark: SparkSession, sf_dir: str, include_ivfpq: bool = False
) -> dict[str, float]:
    """recall@TOP_K of each ANN branch against the exact brute-force
    top-k -- the accuracy half of the speed/recall trade each method
    makes (cells for IVF, sign buckets for LSH, int8 retrieve for q8).

    Driver-side set arithmetic over QUERY_N x TOP_K rows (model-sized).
    Measured on the driver fixtures (round 4, sf0.001 AND sf0.01): q8 =
    1.0 -- the int8 retrieve with rerank margin recovers the exact
    top-k; ivf = lsh = 1/24 -- the fixture's vectors are UNSTRUCTURED
    (labels and sign buckets do not align with cosine structure), so
    cell restriction keeps ~1/cells of the true neighbors, which is
    precisely the documented trade: bucketed ANN presumes clustered
    data, and on a corpus without that structure the q8 path (or
    kmeans-trained cells, operators/kmeans.py) is the right branch.
    """
    truth = {
        (r["id_a"], r["id_b"])
        for r in sim_topk_bruteforce(spark, sf_dir).collect()
    }
    if not truth:  # empty / all-NULL corpus: no ground truth to recall
        return {}
    got: dict[str, set] = {}
    for r in sim_ann_family(spark, sf_dir).collect():
        if r["rank"] is not None:
            got.setdefault(r["method"], set()).add((r["id_a"], r["id_b"]))
    # The PQ branch (operators/pq.py) trains on the corpus, so it runs
    # here rather than inside the deterministic sim_ann_family entry;
    # a corpus too small to train (< K vectors) simply omits the row.
    try:
        from ..operators.kmeans import CorpusTooSmallError
        from ..operators.pq import pq_fit, pq_topk

        emb = read_table(spark, sf_dir, "embeddings")
        books = pq_fit(emb)
        got["pq"] = {
            (r["id_a"], r["id_b"])
            for r in pq_topk(emb, books, QUERY_N, TOP_K).collect()
        }
        if include_ivfpq:
            # the composed index (cells prune, codes price): trains a
            # coarse quantizer too, so it is opt-in -- the per-method
            # rows above already attribute each approximation alone
            from ..operators.kmeans import kmeans_fit
            from ..operators.pq import ivfpq_topk

            cents = kmeans_fit(emb, k=8)
            got["ivfpq"] = {
                (r["id_a"], r["id_b"])
                for r in ivfpq_topk(
                    emb, cents, books, QUERY_N, TOP_K
                ).collect()
            }
    except CorpusTooSmallError:
        # ONLY the too-small-corpus case is skippable (a dedicated type
        # raised by the seed guards); any other ValueError (indivisible
        # dim, internal bug) propagates rather than silently dropping
        # the pq row from the report.
        pass
    return {
        method: len(pairs & truth) / len(truth)
        for method, pairs in sorted(got.items())
    }
