"""SemDeDup: semantic deduplication over the embedding column.

Exact and near dedup (queries/dedup.py) catch LEXICAL copies; SemDeDup
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540) removes documents
that SAY the same thing in different words -- pairs whose embeddings sit
within ``eps`` cosine of each other. The reference has no embedding
surface at all (numeric price micro-batches,
/root/reference/Iceberg-dbt-project/scripts/extract_bitcoin_prices.py);
this is north-star extension surface (SURVEY 2.12), and it is a pure
COMPOSITION of machinery this repo already ships:

1. k-means clusters the corpus (operators/kmeans.py -- driver-held
   model, literal-inlined assignment, zero shuffle), so the quadratic
   pair search never crosses cluster boundaries: the paper's core
   scaling trick, pair space = k * (N/k)^2, never N^2.
2. Within each cluster, candidate pairs with cosine >= 1 - eps come
   from the BLOCKED all-pairs operator
   (queries/similarity.blocked_cell_pairs): the equi-join on
   (cluster, block_i, block_j) bounds every task at
   (cluster_size / PAIR_BLOCKS)^2 candidates, so a hot cluster cannot
   produce a straggler.
3. Near-duplicate pairs form a graph; connected components
   (operators/graph.py) groups them (a paper deviation, documented
   below), and ONE representative per component survives: following
   the paper, the member with the LOWEST cosine to its cluster
   centroid -- keeping the outlier preserves diversity, which is the
   whole point of semantic dedup as a data-efficiency step.

Deviation from the paper, on purpose: the paper greedily keeps "one
point per epsilon-ball" without defining what happens when balls chain
(a~b, b~c, a!~c); connected components makes that closure explicit and
deterministic -- every chained group collapses to exactly one survivor.
At small eps chains are short, so the two readings agree on real
corpora; ours is order-independent, which the greedy scan is not.

Scale shape (100 TB): the k-means model is k x dim floats at the
driver (a broadcast visible to Catalyst as literals); assignment and
centroid-cosine are one codegen expression each, no shuffle; the pair
join shuffles (id, cluster, vector) rows replicated ~PAIR_BLOCKS/2
times, never the corpus against itself; components run min-label
propagation over the (tiny) near-dup edge set with
localCheckpoint-bounded lineage; survivor choice is one map-side
combinable groupBy over component members. NULL, wrong-dimension, and
NaN-containing embeddings cannot be compared semantically and pass
through with keep = true, component = NULL (NaN needs its own guard:
Spark evaluates NaN >= threshold as TRUE, so an unguarded NaN vector
would pair with its entire cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lits import array_lit
from ..operators import kmeans as _kmeans
from ..operators.kmeans import assign_clusters, kmeans_fit
from .similarity import blocked_cell_pairs, dot, norm


def _cos_centroid_vectorized(items, dim):
    """Arrow kernel for the centroid-cosine scoring scan, used above
    ``_kmeans._VECTORIZED_CELLS`` distance terms exactly like the
    assignment kernel: the HOF dot/norm folds are CodegenFallback
    (~128 interpreted lambda steps per row) and at k=4000 the literal
    element_at rides a 2MB nested literal per partition evaluation.

    BIT-EQUAL to the expression path by the fold rule: dot and norm
    accumulate per-dimension in index order from 0.0 (the exact add
    order of similarity.dot's aggregate), the denominator is one
    multiply and the result one divide in the same IEEE doubles, and
    the centroid norms are the SAME driver-side python floats the
    literal path inlines (zero norms replaced by 1.0 identically).
    Invalid rows (NULL/wrong-width/NaN-element vectors, NULL cluster)
    return NULL through the nullable Float64 mask. A zero-norm valid
    vector raises (ANSI DIVIDE_BY_ZERO parity -- as a PythonException
    rather than SparkArithmeticException; callers prefilter zero
    vectors)."""
    import math

    import numpy as np
    import pandas as pd

    mat_np = np.asarray([c for _, c in items], dtype=np.float64)
    ids_np = np.asarray([cid for cid, _ in items], dtype=np.int64)
    cn_np = np.asarray(
        [math.sqrt(sum(x * x for x in c)) or 1.0 for _, c in items]
    )

    @F.pandas_udf("double")
    def coscent(emb, clu):
        n = len(emb)
        out = np.zeros(n)
        ok = np.zeros(n, dtype=bool)
        cl = clu.to_numpy(dtype="float64", na_value=np.nan)
        xs, cids, pos = [], [], []
        for i, v in enumerate(emb):
            if v is None or len(v) != dim or np.isnan(cl[i]):
                continue
            r = np.asarray(v, dtype=np.float64)
            if np.isnan(r).any():
                continue
            xs.append(r)
            cids.append(int(cl[i]))
            pos.append(i)
        if xs:
            x = np.vstack(xs)
            ci = np.searchsorted(ids_np, np.asarray(cids, dtype=np.int64))
            c = mat_np[ci]
            accd = np.zeros(x.shape[0])
            accn = np.zeros(x.shape[0])
            for j in range(dim):
                accd += x[:, j] * c[:, j]
                accn += x[:, j] * x[:, j]
            den = np.sqrt(accn) * cn_np[ci]
            if (den == 0).any():
                raise ArithmeticError(
                    "DIVIDE_BY_ZERO: zero-norm vector in cos_centroid"
                )
            out[np.asarray(pos)] = accd / den
            ok[np.asarray(pos)] = True
        return pd.Series(out, dtype="Float64").mask(~ok)

    return coscent

#: Default epsilon: pairs with cosine >= 1 - EPS are semantic duplicates.
#: The paper sweeps eps per-corpus; 0.03 is its "conservative dedup"
#: regime (near-identical meaning), the right default for a training
#: corpus where false merges destroy real data.
DEFAULT_EPS = 0.03

#: Default cluster count for the pair-search partition. The paper uses
#: k ~ sqrt(N); callers should size k so N/k vectors fit a task's
#: (cluster/PAIR_BLOCKS)^2 pair budget.
DEFAULT_K = 8

#: Expected within-cell candidate cosines above which the blocked pair
#: search defaults to the Arrow kernel. Total candidates across cells
#: ~ k * (N/k)^2 / 2 = N^2/(2k) -- the TRUE pair-cost driver, which is
#: ANTI-correlated with k (more cells = smaller cells = fewer pairs).
#: 5e6 interpreted HOF cosines (~3e8 lambda steps at dim=64) is the
#: measured seconds-scale crossover; everything the round-9 k-sweep
#: ran (N=1M, k=500..4000: 1.2e8..1e9 candidates) sits far above it.
PAIR_KERNEL_CANDIDATES = 5_000_000


def pair_kernel_default(n_rows: int, k: int) -> bool:
    """Whether :func:`semdedup` should take the Arrow block-pair kernel,
    decided on the measured cost proxy: expected candidate pairs
    N^2/(2k) (see PAIR_KERNEL_CANDIDATES). The older k*dim gate rode
    the assignment kernel's switch, whose direction is BACKWARDS for
    pair cost -- a small-k fit over a large corpus (huge cells, the
    interpreted join path's worst case) read as 'small model, stay on
    the join path' (round-9 ADVICE). Exposed so measurement tools
    (f47a063:tools/sem_attrib.py) spell the same rule as the operator."""
    return n_rows * n_rows / (2 * max(k, 1)) > PAIR_KERNEL_CANDIDATES


def semdedup(
    emb: DataFrame,
    *,
    k: int = DEFAULT_K,
    eps: float = DEFAULT_EPS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iterations: int | None = None,
    dim: int | None = None,
    fit_sample: int | None = None,
    pair_kernel: bool | None = None,
    corpus_rows: int | None = None,
    two_level: bool = False,
) -> DataFrame:
    """Label every vector with its semantic-duplicate component and a
    keep/drop verdict; ``where(keep)`` is the deduplicated corpus.

    Output: (``id_col``, cluster, cos_centroid, component, keep) --
    ``component`` is NULL for vectors with no semantic duplicate (all
    kept); within a component exactly one row has ``keep`` = true: the
    member with the LOWEST cosine to its cluster centroid (ties break
    to the smallest id, making the survivor a deterministic function of
    the input set).

    ``max_iterations`` forwards to ``kmeans_fit``; ``max_iterations=0``
    is the seed-only fit (cells = the k md5-ranked seed vectors) --
    every downstream step is then deterministic SQL-expressible
    arithmetic, which is what lets the driver oracle hash-pin this
    operator (same trick as the kseed and PQ renderings). Lloyd
    refinement (the default) tightens the cells but is iterative, so
    that path is pinned by pytest instead.

    ``fit_sample`` forwards to ``kmeans_fit``: Lloyd rounds run over
    the md5-ranked head of that size instead of the whole corpus --
    cells only BLOCK the pair search here, so a representative fit is
    enough and the assignment term stops scaling with N*k (the
    sizing-rule asymptote; SCALING.md). Every vector is still
    assigned, compared and deduplicated; only the centroid refinement
    reads the sample.

    ``dim`` pins the expected vector width; when given, rows whose id is
    NULL or whose vector is not exactly ``dim`` wide are excluded from
    the FIT (seed ranking and Lloyd sums), not merely from comparison.
    Without it the fit tolerates a mixed-width corpus and derives the
    width from the seed set -- fine for exploration, but a corpus with a
    NULL id would rank md5(NULL) first among seeds and a wrong-width
    seed would poison the derived dimension, so callers with a declared
    schema width (the driver oracle's svalid gate) should pass it.

    ``corpus_rows`` is a plan-shape hint (approximate is fine): with it,
    the blocked pair search picks its rendering on the true cost proxy
    N^2/(2k) (:func:`pair_kernel_default`); without it the k*dim
    fallback applies. ``pair_kernel`` overrides both.

    ``two_level`` swaps the flat quantizer for the hierarchical one
    (``operators/hier_kmeans``): fit ~ S*2*sqrt(k) instead of S*k and
    bulk assignment ~ N*2*sqrt(k) instead of N*k, which is what makes
    the pair-budget sizing k ~ N/500 affordable above the 1M-doc
    crossover (the flat N*k terms are why k could previously grow no
    faster than ~sqrt(N), pinning the pair term at N^1.5 --
    SCALING.md r12). Assignment becomes nearest-in-probed-cell rather
    than global-nearest: a blocking approximation in the same class as
    ``fit_sample`` and the Lloyd cap (cells only block the pair
    search; every candidate pair is still cosine-verified), measured
    for drop deltas, never a correctness change. Oracle-checked
    small-k renderings keep ``two_level=False``.
    """
    # NaN components are the third invalid class next to NULL and
    # wrong-dim: they would crash the decimal k-means sums and -- via
    # Spark's NaN comparison semantics (NaN >= t is TRUE) -- pass every
    # cosine gate and weld their whole cluster into one component.
    # NULL ELEMENTS inside a correct-width vector are the fourth:
    # F.isnan(NULL) is NULL (falsy), so an isnan-only gate lets
    # [null, 1.0, ...] into the fit, where the Arrow kernel's
    # np.asarray turns the None into NaN and argmins over NaN
    # distances while the Catalyst expression propagates NULL -- a
    # silent bit-equality break (round-8 ADVICE). Same predicate
    # classifier.py uses. Exclude all four from fitting and
    # comparison; they pass through with cluster/component NULL and
    # keep = true.
    has_nan = F.exists(F.col(vec_col), lambda x: x.isNull() | F.isnan(x))
    fit_filter = F.col(vec_col).isNotNull() & ~has_nan
    if dim is not None:
        fit_filter = (
            fit_filter
            & F.col(id_col).isNotNull()
            & (F.size(F.col(vec_col)) == dim)
        )
    fit_input = emb.where(fit_filter)
    fit_kwargs: dict = (
        {} if max_iterations is None else {"max_iterations": max_iterations}
    )
    if fit_sample is not None:
        fit_kwargs["fit_sample"] = fit_sample
    if two_level:
        from ..operators.hier_kmeans import (
            assign_clusters_hier,
            hier_kmeans_fit,
        )

        model = hier_kmeans_fit(
            fit_input, k, id_col=id_col, vec_col=vec_col, **fit_kwargs
        )
        centroids = model.fine
    else:
        centroids = kmeans_fit(
            fit_input, k, id_col=id_col, vec_col=vec_col, **fit_kwargs
        )
    if dim is None:
        dim = len(next(iter(centroids.values())))
    v = F.col(vec_col)
    pre_valid = v.isNotNull() & (F.size(v) == dim) & ~has_nan
    raw_assigned = (
        assign_clusters_hier(emb, model, vec_col=vec_col)
        if two_level
        else assign_clusters(emb, centroids, vec_col=vec_col)
    )
    assigned = raw_assigned.select(
        F.col(id_col).alias("vec_id"),
        v.alias("embedding"),
        # NaN rows get whatever argmin the NaN comparisons produced;
        # null their cluster so every invalid class reads the same
        F.when(pre_valid, F.col("cluster")).alias("cluster"),
    )
    # downstream of the rename the vector column is ALWAYS 'embedding'
    # (the user's vec_col no longer exists here)
    e = F.col("embedding")
    valid = (
        e.isNotNull()
        & (F.size(e) == dim)
        & ~F.exists(e, lambda x: x.isNull() | F.isnan(x))
    )
    # cosine to the assigned centroid, literal-inlined like the
    # assignment itself: the k x dim centroid matrix (and the k
    # precomputed centroid norms) travel as ONE nested-array literal
    # indexed by the row's cluster, NOT as a chained CASE over k
    # branches -- the chain cost k array_lit parses + k when() py4j
    # hops to BUILD (9.4s of pure driver time at k=200, round 8) for
    # the same arithmetic: dot and norm folds, centroid norms computed
    # driver-side in python floats, identical per-branch expressions,
    # so cos_centroid is bit-equal to the chained form.
    import math

    items = sorted(centroids.items())
    if len(items) * dim > _kmeans._VECTORIZED_CELLS:
        # same switch rule as assign_clusters: above this many
        # distance terms the interpreted HOF folds lose ~10x to the
        # Arrow kernel; below it, oracle-checked small-k renderings
        # keep zero Python in their plans
        scored = assigned.withColumn(
            "cos_centroid",
            _cos_centroid_vectorized(items, dim)(
                F.col("embedding"), F.col("cluster")
            ),
        )
    else:
        mat = array_lit([c for _, c in items])
        cnorms = array_lit(
            [math.sqrt(sum(x * x for x in c)) or 1.0 for _, c in items]
        )
        if [cid for cid, _ in items] == list(range(len(items))):
            # kmeans_fit always enumerates centroid ids 0..k-1, so
            # the 1-based literal-array position is just cluster + 1
            # -- the array_position fallback below is an O(k)
            # interpreted scan PER ROW for the same integer. Same
            # index, same arithmetic: bit-equal.
            idx = (F.col("cluster") + F.lit(1)).cast("int")
        else:
            idx = (
                F.array_position(
                    F.expr(
                        "array("
                        + ",".join(str(int(cid)) for cid, _ in items)
                        + ")"
                    ),
                    F.col("cluster"),
                )
            ).cast("int")
        cos_cent = F.when(
            F.col("cluster").isNotNull(),
            dot(F.col("embedding"), F.element_at(mat, idx))
            / (norm(F.col("embedding")) * F.element_at(cnorms, idx)),
        )
        scored = assigned.withColumn(
            "cos_centroid", F.when(valid, cos_cent)
        )
    # near-dup pairs: blocked all-pairs inside each cluster at the
    # SemDeDup threshold (blocked_cell_pairs expects the _normed
    # projection: vec_id, label, embedding, nrm)
    proj = scored.where(valid & F.col("cluster").isNotNull()).select(
        "vec_id",
        F.col("cluster").alias("label"),
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    if two_level:
        # multi-probe recall recovery (r12): the probed-cell assignment
        # splits true near-dup pairs that straddle a COARSE boundary --
        # measured as the ENTIRE two-level drop deficit at 4M (the
        # k-doubling alone was +0.06%, SCALING.md r12). Boundary-shell
        # vectors emit a SECOND pair-search row under the runner-up
        # coarse cell's nearest fine cell (primary assignment, scoring
        # and survivor choice untouched); a pair meeting under either
        # label is a candidate, exactly like an extra LSH band, and a
        # pair meeting under BOTH yields a duplicate edge that
        # connected components absorbs.
        from ..operators.hier_kmeans import with_probe_label

        probed = with_probe_label(
            scored.where(valid), model, vec_col="embedding"
        )
        proj = proj.unionByName(
            probed.where(F.col("probe_label").isNotNull()).select(
                "vec_id",
                F.col("probe_label").alias("label"),
                "embedding",
                norm(F.col("embedding")).alias("nrm"),
            )
        )
    if pair_kernel is None:
        if corpus_rows is not None:
            # the real cost proxy: expected candidate pairs N^2/(2k),
            # computable at plan time from the caller's footer row
            # count (the same probe the lexical LSH gate uses) -- this
            # is the round-9 ADVICE fix for the k*dim gate's
            # anti-correlation trap (small k over a large corpus =
            # huge cells = the interpreted join's worst case, which
            # k*dim read as 'stay on the join path')
            pair_kernel = pair_kernel_default(corpus_rows, len(items))
        else:
            # no size hint: fall back to the assignment/scoring switch
            # (k*dim), which keeps the small-k driver-oracle renderings
            # on the pure-join plan and is correct whenever callers
            # couple k to the corpus
            pair_kernel = len(items) * dim > _kmeans._VECTORIZED_CELLS
    edges = blocked_cell_pairs(
        proj, threshold=1.0 - eps, kernel=pair_kernel
    ).select("id_a", "id_b")
    from ..operators.graph import connected_components

    comp = connected_components(edges).withColumnRenamed(
        "label", "component"
    )
    labeled = scored.join(
        comp.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
    )
    # survivor per component: argmin (cos_centroid, vec_id), one
    # combinable min-over-struct groupBy over component MEMBERS only
    # (duplicate rows -- small). The join back rides a NULL-FREE key:
    # unique vectors (component IS NULL) get a per-row sentinel key, so
    # they spread uniformly instead of piling into one NULL-key
    # partition -- a window partitioned by the raw component would send
    # every unique vector to a single task at corpus scale. The key is
    # a (is_unique, label) STRUCT, collision-proof by construction:
    # unique rows live in the is_unique=true namespace, components in
    # is_unique=false, so no vec_id value (negative included) can ever
    # alias a component label.
    reps = (
        labeled.where(F.col("component").isNotNull())
        .groupBy("component")
        .agg(
            F.min(F.struct("cos_centroid", "vec_id"))["vec_id"].alias(
                "rep"
            )
        )
    )
    join_key = F.struct(
        F.col("component").isNull().alias("u"),
        F.coalesce("component", F.col("vec_id")).alias("k"),
    )
    reps_key = F.struct(
        F.lit(False).alias("u"), F.col("component").alias("k")
    )
    return (
        labeled.withColumn("__k", join_key)
        .join(
            reps.withColumn("__k", reps_key).drop("component"),
            "__k",
            "left",
        )
        .select(
            F.col("vec_id").alias(id_col),
            "cluster",
            "cos_centroid",
            "component",
            F.when(F.col("component").isNull(), F.lit(True))
            .otherwise(F.col("rep") == F.col("vec_id"))
            .alias("keep"),
        )
    )
