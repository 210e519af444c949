"""Product quantization (PQ) for billion-scale ANN.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search", TPAMI): split each D-dim vector into M disjoint sub-vectors,
vector-quantize each subspace independently with its own K-centroid
codebook, and store each vector as M small codes. At K=16, M=8 a
64-dim float32 vector (256 bytes) compresses to 8 codes -- 4
information bits each, 8 bytes stored byte-aligned (4 packed): the
corpus that streams through an ANN scan shrinks ~32-64x,
which is the difference between "fits in cluster page cache" and "does
not" at 100 TB. Queries stay full-precision and score candidates with
ASYMMETRIC distance computation (ADC): per query, precompute the M x K
table of sub-dot-products against every codebook entry, then score a
candidate by summing M table lookups -- no float vector is ever
touched for corpus rows. This is the scale path the brief's "IVF or
LSH-bucketed variant" points at; FAISS's IVF-PQ is exactly (coarse
cells from `operators/kmeans.py`) + (this module inside each cell).

The reference has no vector surface at all (its corpus is numeric
price batches); this is north-star extension surface, inventoried in
SURVEY.md 2.12 alongside the IVF/LSH/q8 branches it completes.

Spark-first rendering (the same discipline as `operators/kmeans.py`,
which documents the shared patterns in depth):

- **Training** runs ONE joint Lloyd loop for all M subspaces: the
  corpus explodes once into (id, sub, subvec) rows and every round is
  one map-side assignment pass (codebooks inlined as a nested literal,
  no join, no broadcast exchange) + one map-side-combinable
  groupBy(sub, code, dim) decimal-sum update whose output is K x D
  rows -- bounded by MODEL size, not corpus size. Centroid sums use
  DECIMAL(38,12) so centroids are bit-identical under any partitioning
  (addition-order independence; see kmeans.py).
- **Encoding** is one codegen expression per vector -- an M-wide
  transform whose inner argmin scans the sub's K centroids -- zero
  shuffle, zero Python.
- **ADC top-k** mirrors `sim_topk_bruteforce`'s shape: the (tiny)
  query set broadcasts, the CODES table streams (M bytes a row instead
  of D floats), scores are one fold over M lookups into the inlined
  codebook, and one (query-partitioned) window takes top-k. The
  reconstruction norm |r| needed for cosine is itself a pure function
  of the codes (subspaces are disjoint coordinates, so |r|^2 = sum_s
  |c_s|^2), computed in the same expression.

Measured scale-law (local[32], round 5, synthetic 64-dim clustered
corpora, M=8, K=16, single runs -- direction, not decimals): 2k
vectors fit=14.4s encode=1.1s topk=3.3s; 20k vectors fit=19.3s
encode=0.7s topk=2.5s. 10x the corpus moved training ~1.3x (per-round
job latency dominates locally; the update shuffle and collect are
model-sized by construction) and left encode/topk flat -- the per-row
terms stay invisible until N is millions, as with kmeans/q8.

Determinism: seeds are the K smallest-md5(id) vectors (same rule as
kmeans.py), arithmetic is decimal-exact in training and
fixed-fold-order in scoring, so the same input => identical codebooks, codes,
and rankings on every run and partitioning. NULL, wrong-dimension,
or NaN-carrying vectors get NULL codes and never enter training or
rankings (a NaN would silently bias its centroid -- cast to decimal
it becomes NULL while the member count still includes the row -- and
would rank as garbage rather than be excluded at query time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kmeans import (
    MAX_KMEANS_ITERATIONS,
    _SUM_TYPE,
    CorpusTooSmallError,
    _dist2,
)

#: Default PQ geometry: M=8 subspaces x K=16 codes (4 bits each) over
#: the testdata's 64-dim embeddings -- 8-byte codes, 32x compression.
DEFAULT_M = 8
DEFAULT_K = 16

Codebooks = dict[int, dict[int, list[float]]]  # sub -> code -> centroid


def _codebook_lit(codebooks: Codebooks) -> Column:
    """The full model as ONE nested literal array CB[sub][code][dim]
    (1-based element_at indexing at use sites). K*D doubles total --
    model-sized, the same literal-inlining posture as the kmeans
    assignment and the LSH plane matrix. Built through
    ``functions.lits.array_lit`` -- one py4j round trip for the whole
    model; the per-element spelling cost ~M*K*D driver round trips per
    reference, which (measured, round 6) dominated sim_ann_family's
    build phase."""
    from ..functions.lits import array_lit

    return array_lit(
        [
            [codebooks[s][c] for c in sorted(codebooks[s])]
            for s in sorted(codebooks)
        ]
    )


def _nearest_code(sv: Column, sub: Column, cb: Column, k: int) -> Column:
    """argmin_code dist2(sv, CB[sub][code]): an array_min over K
    (dist, code) structs -- ties break to the smaller code id via
    struct ordering, exactly as assign_clusters."""
    choices = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda c: F.struct(
            _dist2(sv, F.element_at(F.element_at(cb, sub + 1), c + 1)).alias(
                "d"
            ),
            c.alias("cid"),
        ),
    )
    return F.array_min(choices)["cid"]


def pq_fit(
    vectors: DataFrame,
    m: int = DEFAULT_M,
    k: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int = MAX_KMEANS_ITERATIONS,
) -> Codebooks:
    """Train M codebooks of K centroids each; returns
    {sub: {code: centroid}}. Requires dim % m == 0 (PQ's standard
    constraint) and at least k valid vectors.

    One joint Lloyd loop: all subspaces assign and update in the same
    two jobs per round, so wall-clock is that of ONE k-means fit, not
    M of them. Stops at the decimal fixpoint or ``max_iterations``.
    """
    first = (
        vectors.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("i"), F.size(vec_col).alias("d"))
        .orderBy("i")
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("pq_fit on an empty vector column")
    dim = first[0]["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # NaN components are excluded like NULLs: cast(NaN as decimal) is
    # NULL, so a NaN row would silently bias its centroid toward 0 in
    # the update sum while still being counted (the same "NaN welds to
    # everything" gotcha semdedup.py documents for cosine).
    clean = vectors.where(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
        & ~F.exists(F.col(vec_col), lambda x: F.isnan(x.cast("double")))
    ).select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    # Seeds: the k smallest-md5(id) vectors, sliced per subspace -- one
    # TakeOrdered job supplies every codebook (deterministic spread; no
    # sequential kmeans++ dependence).
    seeds = (
        clean.select(
            F.md5(F.col("__id").cast("string")).alias("h"), "__id", "__v"
        )
        .orderBy("h", "__id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise CorpusTooSmallError(
            f"need at least k={k} valid vectors, found {len(seeds)}"
        )
    codebooks: Codebooks = {
        s: {
            c: [float(x) for x in row["__v"][s * dsub : (s + 1) * dsub]]
            for c, row in enumerate(seeds)
        }
        for s in range(m)
    }

    # (id, sub, subvec): ONE explode reused every round -- M rows per
    # vector, dsub floats each (same total bytes as the corpus).
    subs = clean.select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("__v"), s * dsub + 1, dsub),
            )
        ).alias("sub", "sv"),
    )

    for _ in range(max_iterations):
        cb = _codebook_lit(codebooks)
        assigned = subs.withColumn(
            "code", _nearest_code(F.col("sv"), F.col("sub"), cb, k)
        )
        sums = (
            assigned.select("sub", "code", F.posexplode("sv").alias("dim", "val"))
            .groupBy("sub", "code", "dim")
            .agg(
                F.sum(F.col("val").cast(_SUM_TYPE)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()  # K x D rows: model-sized, not corpus-sized
        )
        new_cb: Codebooks = {
            s: {c: list(v) for c, v in cs.items()} for s, cs in codebooks.items()
        }
        for row in sums:
            # exact decimal sum / int count, floated once at the end
            new_cb[row["sub"]][row["code"]][row["dim"]] = float(
                row["s"] / row["n"]
            )
        if new_cb == codebooks:
            break
        codebooks = new_cb
    return codebooks


def pq_encode(
    vectors: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Add ``out_col`` = array<int> of M codes (NULL for NULL or
    wrong-dimension vectors). One codegen expression -- an M-wide
    transform whose inner argmin scans K centroids -- zero shuffle."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cb = _codebook_lit(codebooks)
    v = F.col(vec_col)
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _nearest_code(F.slice(v, s * dsub + 1, dsub), s, cb, k),
    )
    return vectors.withColumn(
        out_col,
        F.when(
            v.isNull()
            | (F.size(v) != dim)
            | F.exists(v, lambda x: F.isnan(x.cast("double"))),
            F.lit(None).cast("array<int>"),
        ).otherwise(codes),
    )


def pq_decode(
    coded: DataFrame,
    codebooks: Codebooks,
    codes_col: str = "codes",
    out_col: str = "approx",
) -> DataFrame:
    """Reconstruct the quantized vector (concatenated codebook
    entries) -- the test/debug inverse of pq_encode."""
    cb = _codebook_lit(codebooks)
    m = len(codebooks)
    c = F.col(codes_col)
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.element_at(
                F.element_at(cb, s + 1), F.element_at(c, s + 1) + 1
            ),
        )
    )
    return coded.withColumn(
        out_col,
        F.when(c.isNull(), F.lit(None).cast("array<double>")).otherwise(recon),
    )


def adc_scored(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    join_cond,
) -> DataFrame:
    """The un-ranked ADC scoring stage shared by pq_topk / ivfpq_topk
    (and by sim_ann_family's 'pq' branch, which feeds these rows into
    its multiplexed family window instead of paying a private one).

    ``codes`` carries (id_b, codes [, cell]); ``queries`` carries
    (id_a, q_emb, q_nrm [, q_cell]); ``join_cond`` decides which pairs
    meet (everything, or only in-cell). Score = sum_s dot(q_s,
    CB[s][code_s]) / (|q| * |r|), with the reconstruction norm |r|
    folded from the same code lookups (disjoint coordinates => norms
    add across subspaces). The corpus side of the broadcast join
    carries codes -- never the vector: at 100 TB the scan streams
    M-byte rows against the inlined model; a zero-norm query or
    reconstruction yields NULL cosine (callers exclude, not rank)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cb = _codebook_lit(codebooks)

    def cent(s):
        return F.element_at(
            F.element_at(cb, s + 1), F.element_at(F.col("codes"), s + 1) + 1
        )

    def sub_dot(s):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("q_emb"), s * dsub + 1, dsub),
                cent(s),
                lambda q, c: q.cast("double") * c,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    def sub_nrm2(s):
        return F.aggregate(
            F.transform(cent(s), lambda c: c * c),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    dot = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda a, s: a + sub_dot(s),
    )
    r_nrm = F.sqrt(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda a, s: a + sub_nrm2(s),
        )
    )
    return codes.join(F.broadcast(queries), join_cond).select(
        "id_a",
        "id_b",
        F.when(
            (F.col("q_nrm") > 0) & (r_nrm > 0), dot / (F.col("q_nrm") * r_nrm)
        ).alias("cosine"),
    )


def pq_encode_kernel(
    vectors: DataFrame,
    codebooks: Codebooks,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes) via ``mapInArrow`` -- the Arrow rendering of
    :func:`pq_encode` restricted to the CLEAN domain the sim_ann
    family feeds it (``nanfree``: non-NULL, exactly dim-wide, NaN-free,
    no NULL elements -- the same conditions as pq_encode's NULL-codes
    guard, so on this domain codes are never NULL). Bit-equality per
    subspace: dist2 accumulates (x_d - c_d)^2 from 0.0 in index order
    (the JVM fold's exact add sequence) and the argmin ties break to
    the smaller code id (np.argmin returns the first minimum).
    Differential-pinned by tests/test_ann_kernels.py."""
    import pyarrow as pa

    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    dim = m * dsub
    cents = [
        [[float(x) for x in codebooks[s][c]] for c in sorted(codebooks[s])]
        for s in sorted(codebooks)
    ]
    id_type = vectors.schema["vec_id"].dataType.simpleString()

    def gen(batches):
        import numpy as np

        cb = np.asarray(cents, dtype="float64")  # (m, k, dsub)

        for batch in batches:
            from ..queries.similarity import _list_f64

            ok, x = _list_f64(batch.column(vec_col), dim)
            if not ok.all():
                raise ValueError(
                    "pq_encode_kernel expects the nanfree domain "
                    "(non-NULL, dim-wide, no NULL elements)"
                )
            n = x.shape[0]
            codes = np.empty((n, m), dtype="int32")
            for s in range(m):
                xs = x[:, s * dsub : (s + 1) * dsub]
                d = np.zeros((n, k), dtype="float64")
                for di in range(dsub):
                    diff = xs[:, di, None] - cb[s, None, :, di]
                    d += diff * diff
                codes[:, s] = np.argmin(d, axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(codes.reshape(-1), type=pa.int32()), m
                    ).cast(pa.list_(pa.int32())),
                ],
                ["vec_id", "codes"],
            )

    return vectors.select("vec_id", vec_col).mapInArrow(
        gen, schema=f"vec_id {id_type}, codes array<int>"
    )


def adc_scored_kernel(
    codes: DataFrame,
    query_rows: list[tuple],
    codebooks: Codebooks,
) -> DataFrame:
    """ADC scoring as ONE ``mapInArrow`` pass over the CODES stream --
    no join: the model-sized query set arrives as ``(id_a, q_emb,
    q_nrm)`` tuples (collected alongside the family's seed job) and is
    folded into the classic ADC lookup tables driver-side:

    - ``DOT[q][s][c]`` = sub_dot's exact fold (q_slice . CB[s][c],
      accumulated per dimension from 0.0 -- Python floats ARE IEEE
      doubles, so the table entries are bit-identical to the JVM's
      per-pair fold results);
    - ``NRM2[s][c]`` = sub_nrm2's fold, so r_nrm = sqrt(sum_s lookup)
      with the same outer add order (s ascending from 0.0).

    Per pair the kernel does m table lookups + m adds -- the PQ paper's
    scoring shape -- and the corpus side ships m bytes of codes through
    Arrow once, instead of one interpreted fold per pair over a
    broadcast join. Pairs with id_b == id_a are skipped (the join
    condition); a non-positive q_nrm or r_nrm yields NULL cosine
    (Spark's NaN-greatest comparison mirrored for the NaN case).
    Bit-equality pinned by tests/test_ann_kernels.py."""
    import math

    import pyarrow as pa

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    k = len(codebooks[0])
    cents = [
        [[float(x) for x in codebooks[s][c]] for c in sorted(codebooks[s])]
        for s in sorted(codebooks)
    ]
    qids = [r[0] for r in query_rows]
    dot_tab = []
    qn_list = []
    for qid, q_emb, q_nrm in query_rows:
        per_s = []
        for s in range(m):
            qs = [float(v) for v in q_emb[s * dsub : (s + 1) * dsub]]
            row = []
            for c in range(k):
                acc = 0.0
                for qv, cv in zip(qs, cents[s][c]):
                    acc += qv * cv
                row.append(acc)
            per_s.append(row)
        dot_tab.append(per_s)
        qn_list.append(float(q_nrm))
    nrm2_tab = []
    for s in range(m):
        row = []
        for c in range(k):
            acc = 0.0
            for cv in cents[s][c]:
                acc += cv * cv
            row.append(acc)
        nrm2_tab.append(row)
    id_type = codes.schema["id_b"].dataType.simpleString()
    if id_type != "bigint":
        raise ValueError(
            "adc_scored_kernel requires bigint ids (the embeddings "
            f"contract); got {id_type}"
        )
    schema = "id_a bigint, id_b bigint, cosine double"
    if not query_rows:
        # no queries, no pairs (the per-batch concatenate needs >= 1)
        return codes.sparkSession.createDataFrame([], schema)

    def gen(batches):
        import numpy as np

        dt = np.asarray(dot_tab, dtype="float64")  # (Q, m, k)
        nt = np.asarray(nrm2_tab, dtype="float64")  # (m, k)

        for batch in batches:
            ids = batch.column("id_b").to_numpy(zero_copy_only=False)
            cvals = batch.column("codes").flatten().to_numpy(
                zero_copy_only=False
            )
            cmat = cvals.reshape(-1, m).astype("int64")
            n = cmat.shape[0]
            # r_nrm: fold s ascending from 0.0 -- same order as the JVM
            nrm2 = np.zeros(n, dtype="float64")
            for s in range(m):
                nrm2 += nt[s][cmat[:, s]]
            rn = np.sqrt(nrm2)
            rn_ok = (rn > 0) | np.isnan(rn)  # Spark orders NaN greatest
            out_a, out_b, out_c, out_nul = [], [], [], []
            for qi in range(len(qids)):
                keep = ids != qids[qi]
                dot = np.zeros(n, dtype="float64")
                for s in range(m):
                    dot += dt[qi, s][cmat[:, s]]
                qn_i = qn_list[qi]
                cond = rn_ok & ((qn_i > 0) or math.isnan(qn_i))
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dot / (qn_i * rn)
                out_a.append(np.full(int(keep.sum()), qids[qi], dtype="int64"))
                out_b.append(ids[keep])
                out_c.append(cos[keep])
                out_nul.append(~cond[keep])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_a), type=pa.int64()),
                    pa.array(np.concatenate(out_b), type=pa.int64()),
                    pa.array(
                        np.concatenate(out_c),
                        type=pa.float64(),
                        mask=np.concatenate(out_nul),
                    ),
                ],
                ["id_a", "id_b", "cosine"],
            )

    return codes.select("id_b", "codes").mapInArrow(gen, schema=schema)


def _adc_rank(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: Codebooks,
    top_k: int,
    join_cond,
) -> DataFrame:
    """ADC scoring + per-query top-k ranking: the only shuffle is the
    query-partitioned window over narrow (id, id, double) rows."""
    from pyspark.sql import Window

    scored = adc_scored(codes, queries, codebooks, join_cond)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        # a zero-norm query or reconstruction has no defined cosine;
        # those pairs are EXCLUDED, not ranked by id tiebreak. The null
        # filter runs AFTER the window, not before it: a filter on the
        # derived cosine below the window let predicate pushdown
        # substitute the whole ADC score into the predicate -- the
        # producer then evaluated twice per row (the r8/r10 trap,
        # caught live by the r12 registry-wide re-inline sweep). DESC
        # ranks NULLS LAST, so every non-null pair keeps the exact rank
        # the pre-filter plan gave it and the post-window filter (which
        # Catalyst cannot push through a window on a non-partition
        # column) drops the same rows -- output identical, score
        # evaluated once.
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("cosine").isNotNull() & (F.col("rank") <= top_k))
        .select("id_a", "id_b", "cosine", "rank")
    )


def _vec_norm(col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def pq_topk(
    vectors: DataFrame,
    codebooks: Codebooks,
    query_n: int,
    top_k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC cosine top-k over the WHOLE corpus: queries (id <
    ``query_n``) keep full vectors; every corpus row is scored from
    its codes alone (see ``_adc_rank``). Output (id_a, id_b, cosine,
    rank) -- the same shape as the sim_ann_family branches, so recall
    against `sim_topk_bruteforce` is a set intersection."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    coded = pq_encode(vectors, codebooks, vec_col=vec_col).where(
        F.col("codes").isNotNull()
    )
    codes = coded.select(F.col(id_col).alias("id_b"), "codes")
    queries = vectors.where(
        (F.col(id_col) < query_n)
        & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == m * dsub)
        & ~F.exists(F.col(vec_col), lambda x: F.isnan(x.cast("double")))
    ).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("q_emb"),
        _vec_norm(F.col(vec_col)).alias("q_nrm"),
    )
    return _adc_rank(
        codes, queries, codebooks, top_k, F.col("id_b") != F.col("id_a")
    )


def ivfpq_topk(
    vectors: DataFrame,
    centroids: dict[int, list[float]],
    codebooks: Codebooks,
    query_n: int,
    top_k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: coarse cells (``operators/kmeans.py``) restrict WHICH
    codes are scored; PQ codes decide HOW -- literally FAISS's index
    structure, assembled from this repo's two operators. Output
    (id_a, id_b, cosine, rank), same shape as pq_topk / sim_ann_family.

    Plan shape: both sides carry their cell id from the same codegen
    assignment expression (no join to a centroid table), so the
    candidate restriction is ONE extra equi-term on the broadcast join
    -- a query only ever meets its own cell's codes. At 100 TB that is
    the difference between scoring N codes per query (pq_topk) and
    N/cells. Recall inherits BOTH approximations (cell restriction +
    code resolution); `queries.similarity.recall_report` measures them
    separately (methods 'ivf', 'pq') so a deployment can attribute its
    loss."""
    from .kmeans import assign_clusters

    coded = assign_clusters(
        pq_encode(vectors, codebooks, vec_col=vec_col),
        centroids,
        vec_col=vec_col,
        out_col="cell",
    ).where(F.col("codes").isNotNull() & F.col("cell").isNotNull())
    codes = coded.select(F.col(id_col).alias("id_b"), "codes", "cell")
    queries = coded.where(F.col(id_col) < query_n).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("q_emb"),
        _vec_norm(F.col(vec_col)).alias("q_nrm"),
        F.col("cell").alias("q_cell"),
    )
    return _adc_rank(
        codes,
        queries,
        codebooks,
        top_k,
        (F.col("cell") == F.col("q_cell")) & (F.col("id_b") != F.col("id_a")),
    )
