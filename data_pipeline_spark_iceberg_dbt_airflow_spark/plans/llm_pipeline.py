"""End-to-end LLM training-data curation pipeline, composed on the runner.

The reference's orchestration story is a 3-task DAG over one fact chain
(/root/reference/Iceberg-dbt-project/dags/bitcoin_pipeline_dag.py:26-44);
this module is the same control plane driving the engine's LLM-data
operator families as ONE dependency-ordered pipeline -- the shape a
training-data build actually has:

    raw documents
      ├── doc_clusters   (near-dup connected components, queries/dedup)
      ├── doc_quality    (text stats / quality score, queries/text)
      ├── doc_lm         (corpus-trained bigram perplexity, queries/text)
      ├── contaminated   (benchmark-overlap screen, queries/dedup)
      └── curated        = canonical ∩ quality gate ∩ perplexity gate
                          ∖ contaminated
            ├── assigned = deterministic hash split train/val/test
            └── cleaned  = curated text minus corpus-frequent
                           boilerplate lines (strip_boilerplate)
                  └── span_deduped = cleaned minus repeated token spans,
                           first occurrence kept (mask_repeated_spans)
                        └── sem_deduped = span_deduped minus semantic
                                 duplicates: model-free hash_embed
                                 vectors through semdedup, one survivor
                                 per semantic component
                              ├── chunks = overlapping context windows
                              └── packed = chunks binned into char
                                           budgets per lang

Every stage is the registry operator (or its formula) -- this module adds
no new semantics, only the dbt-style composition: each model is a
``refs -> DataFrame`` function; the runner topologically orders them,
memoizes results, and applies the retry policy. At 100 TB each model
boundary is where a real pipeline materializes a table (swap the
in-memory handoff for ``incremental_append`` targets, snapshot tables
that commit each run atomically); the stage DAG and
the operator plans are unchanged by that swap, which is the point of
keeping orchestration and semantics separate.

Scale notes: curated is built with LEFT SEMI / inner joins on doc_id
(16-byte keys, never text); chunking is the map-side sequence+posexplode
fan-out; packing windows stay per-(lang) shard. The quality gate and
canonical filter run BEFORE chunking, so the expensive fan-out touches
only surviving documents -- filter early, explode late.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import read_table, table_row_count
from ..queries.dedup import (
    contaminated_docs,
    lexical_components,
    materialize_shingle_index,
    shingled_docs,
)
from ..queries.text import (
    lm_score_docs_grouped,
    text_profile,
    train_bigram_lm_grouped,
)
from ..queries.training import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    PACK_BUDGET,
    split_col,
)
from .runner import Model, PipelineRunner, RunConfig

#: Quality gate: drop the bottom of the quality-score distribution.
MIN_QUALITY = 0.35

#: The crossover corpus size where the semantic stage's two sizing
#: regimes meet: N/250 = 2*sqrt(N) at N = 250k. Below it the
#: dup-maximizing N/250 rule is the cheaper term; above it the sizing
#: must fall back to O(sqrt(N)) because the Lloyd fit's sample is
#: itself sized proportional to k (SEM_FIT_PER_CELL * k), so an N/250
#: rule's fit term costs ~ sample*k ~ k^2 ~ N^2 -- the DAG's one
#: remaining construction-level superlinearity before round 10 (the
#: block-pair kernel made the in-cell pair term flat in k: composed
#: semdedup at 1M was 84.5s at k=1000 vs 241.8s at k=4000 with
#: identical component structure within 1.4% of drops). Round 11
#: replaced the r10 branch (N/250 below, 1*sqrt(N) above -- k HALVED
#: crossing the bound, 1000 -> 500) with the continuous
#: min(N/250, 2*sqrt(N)): identical below 62.5k docs, measured at the
#: old discontinuity (250,001 docs) the continuous rule's k=1000
#: finds +356 verified semantic dups (+1.0%) over the halved k=500,
#: and at 1M (k=2000 vs 1000) walls and drops are within noise
#: (-0.18% drops, SCALING.md r11 sweep). The constant is now
#: documentation of the crossover, not a branch point; the
#: driver-oracle corpora sit far below it and the oracle's seed-only
#: rendering uses SEM_ORACLE_K regardless.
SEM_K_BOUND = 250_000

#: Above this many documents ``run_llm_curation`` materializes model
#: boundaries as bucketed+sorted doc_id tables by default (bucket_key
#: "auto"): the boundary write was being paid anyway to materialize,
#: and bucketing it removes the corpus re-hash at every downstream
#: doc_id join -- measured at 200k: -18% total shuffle bytes, -11%
#: wall, identical survivors (SCALING.md,
#: f47a063:tools/bucketed_delta.py).
#: Below the bound the table-write overhead outweighs the join savings
#: (test-scale corpora), so plain localCheckpoint stays.
BUCKETED_DAG_BOUND = 100_000


#: Above this many documents the sem stage (a) sizes k by the
#: PAIR-BUDGET rule N/SEM_PAIR_BUDGET (expected in-cell candidates
#: N^2/2k = N*SEM_PAIR_BUDGET/2 -- LINEAR in N by construction) and
#: (b) switches to the two-level quantizer that makes that k
#: affordable (flat fit/assignment are ~k^2/~N*k; hierarchical are
#: ~S*2*sqrt(k)/~N*2*sqrt(k) -- operators/hier_kmeans). 1M is the
#: point where N/500 meets the flat-optimal 2*sqrt(N) (2*sqrt(1e6) =
#: 1e6/500 = 2000), so k is CONTINUOUS at the crossover and every
#: <=1M measurement, test and oracle corpus is byte-identical to the
#: r10/r11 behavior. Below the bound the flat N*k terms are cheap and
#: exact global-nearest blocking is strictly better; above it the
#: flat structure pins the pair term at N^1.5 for ANY k (the r11
#: VERDICT "weak": blocked pairs 12.8s -> 89.3s for 1M -> 4M at
#: k = 2*sqrt(N)) -- see hier_kmeans's module doc for the floor
#: argument and measured constants.
SEM_TWO_LEVEL_BOUND = 1_000_000

#: Expected verified-candidate budget per document above the
#: crossover: k = N/SEM_PAIR_BUDGET keeps in-cell candidates at
#: ~SEM_PAIR_BUDGET/2 = 250 per doc -- the same density the measured
#: 1M optimum (k=2000) produces, held N-invariant.
SEM_PAIR_BUDGET = 500


def default_sem_k(n_docs: int) -> int:
    """The semantic stage's default cell count for an ``n_docs`` corpus:
    min(N/250, max(2*sqrt(N), N/500)) -- three regimes, continuous at
    both crossovers by construction:

    - N <= 250k: the dup-maximizing N/250 rule (N/250 <= 2*sqrt(N)
      exactly while sqrt(N) <= 500);
    - 250k < N <= 1M: 2*sqrt(N), the FLAT-quantizer optimum (it
      balances the flat N*k assignment against N^2/2k pairs -- the
      measured constants put k* at 2.2*sqrt(N), SCALING.md r9/r12);
    - N > 1M: the pair-budget rule N/500 (r12, third regime), which
      pins expected in-cell candidates at 250 per doc -- the pair term
      becomes linear in N, and the two-level quantizer
      (SEM_TWO_LEVEL_BOUND) keeps fit/assignment affordable at that k
      where the flat structure could not grow k past ~sqrt(N).
    """
    import math

    return max(
        8,
        min(
            n_docs // 250,
            max(2 * math.isqrt(n_docs), n_docs // SEM_PAIR_BUDGET),
        ),
    )

#: Lloyd-refinement sample size per semantic cell: the sem stage fits
#: its coarse quantizer on an md5-ranked sample of this many vectors
#: per cell (kmeans_fit's fit_sample), keeping the fit's assignment
#: term sample-sized while k scales with the corpus (N/250 rule).
#: ~50/cell is plenty for cells whose only job is to BLOCK the pair
#: search; the sample is a deterministic function of the id set.
SEM_FIT_PER_CELL = 50

#: Lloyd iteration cap for the sem stage's coarse quantizer (forwarded
#: to kmeans_fit via semdedup; the public operator keeps its own
#: default). At 1M/k=1000 the fit does NOT reach its fixpoint within
#: 10 rounds, so the r10 uncapped-to-10 default both paid ~2x the fit
#: wall and left the stage wall hostage to round-count drift on
#: slightly-different survivor sets. Measured at 1M (SCALING.md r11):
#: cap 5 vs 10 halves the fit wall (32.4s vs 60.8s) and changes
#: verified semantic drops by -363 of 138,930 (-0.26%) -- cells only
#: block the pair search, they do not decide verdicts (every candidate
#: pair is still cosine-verified), so a coarser quantizer costs only
#: the pairs that land across a cell boundary. Models remain
#: bit-deterministic at identical inputs under any cap.
SEM_FIT_MAX_ITER = 5

#: Perplexity gate: drop the most-perplexing tail of the corpus under
#: its own PER-LANGUAGE bigram LM (garbled / boilerplate text). Both
#: the model and the cutoff stratify by language: a global LM would
#: systematically over-score every document outside the dominant
#: language, and a global cutoff would then gate languages against
#: each other's distributions.
LM_TAIL_QUANTILE = 0.95


def lm_tail_cutoffs(doc_lm: DataFrame) -> DataFrame:
    """(group, cutoff): the per-group cross-entropy at LM_TAIL_QUANTILE.
    Exact percentile is fine at test scale; a 100 TB run swaps in
    approx_percentile (the gate is a distribution cut, not an
    exact-identity contract)."""
    return (
        doc_lm.where(F.col("cross_entropy").isNotNull())
        .groupBy("group")
        .agg(
            F.percentile("cross_entropy", LM_TAIL_QUANTILE).alias("cutoff")
        )
    )


def build_llm_curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    config: RunConfig | None = None,
    sem_k: int | None = None,
    sem_eps: float | None = None,
    quality_seed: DataFrame | None = None,
    quality_threshold: float | None = None,
    sem_two_level: bool | None = None,
    corpus_rows: int | None = None,
) -> PipelineRunner:
    """``corpus_rows`` threads an already-resolved documents row count
    (``run_llm_curation`` probes the footer once per run); ``None``
    falls back to the cached footer probe per stage.

    ``sem_k``/``sem_eps`` tune the semantic-dedup stage. ``sem_k``
    defaults to :func:`default_sem_k` over the corpus's footer row
    count -- N/250 below ``SEM_K_BOUND``, 2*sqrt(N) above it, and the
    pair-budget N/500 above ``SEM_TWO_LEVEL_BOUND`` (see each bound's
    doc). Too few cells at a large N is the one way the PAIR term can
    go quadratic; too MANY cells is how the FIT term does.

    ``sem_two_level`` forces the hierarchical quantizer on/off; the
    default (None) engages it above ``SEM_TWO_LEVEL_BOUND`` documents,
    the same crossover where the pair-budget sizing makes the flat
    quantizer's N*k terms unaffordable (operators/hier_kmeans).

    ``quality_seed`` ((doc_id, label) with 1 = keep-worthy) swaps the
    heuristic quality gate for the CCNet-style LEARNED gate
    (quality/learned.py): a logistic classifier over hash_embed
    features, trained on the seed, scores every document; curated
    keeps score >= ``quality_threshold`` (default 0.5). The heuristic
    ``doc_quality`` stage still materializes either way -- it is the
    profiling surface -- but stops gating. A seed that cannot train
    (empty / single-class) raises SeedSetError at build-run time
    rather than silently passing everything.
    """
    runner = PipelineRunner(config or RunConfig(retries=1, schedule=None))
    use_learned = quality_seed is not None

    def _corpus_rows() -> int | None:
        # one resolved count per build (threaded from run_llm_curation
        # when available; table_row_count is itself dict-cached per
        # path, so the fallback re-probe is a lookup, not a re-scan)
        return (
            corpus_rows
            if corpus_rows is not None
            else table_row_count(sf_dir, "documents")
        )

    runner.add(
        Model("raw_documents", lambda: read_table(spark, sf_dir, "documents"))
    )
    # LEXICAL components only: the registry's dedup_cluster_components
    # unions a method='semantic' branch keyed by embeddings.vec_id,
    # whose id space overlaps doc_id -- the canonical keep filter below
    # would resurrect ngram duplicates through colliding vec_ids. The
    # DAG's own semantic rung is sem_deduped, downstream.
    runner.add(
        Model("doc_clusters", lambda: lexical_components(spark, sf_dir))
    )
    # contaminated registers IMMEDIATELY after doc_clusters (r14,
    # VERDICT r13 #1): the two are the shingle index's only consumers,
    # and execution order follows registration order for independent
    # models -- adjacent, the second consumer's index re-read runs
    # against a still-warm OS page cache (and any scoped pin of the
    # boundary covers both without outliving either into doc_lm's
    # memory-hungry bigram explode, the r12/r13 eviction trap).
    runner.add(
        Model(
            "contaminated",
            lambda: contaminated_docs(shingled_docs(spark, sf_dir)),
        )
    )
    runner.add(Model("doc_quality", lambda: text_profile(spark, sf_dir)))
    if use_learned:
        from ..quality.learned import learned_quality_scores

        runner.add(
            Model(
                "doc_quality_learned",
                lambda: learned_quality_scores(
                    # widen for the same reason as doc_lm below: the
                    # featurize pass is per-row CPU work
                    read_table(spark, sf_dir, "documents", widen=True)
                    .select("doc_id", "text"),
                    quality_seed,
                ),
            )
        )

    def doc_lm() -> DataFrame:
        # widen=True: the tokenize + bigram explode is exactly the
        # CPU-heavy per-row shape the footer-based widen exists for --
        # a single-file corpus scans as ~4 row-group partitions and
        # this stage would run on 4 of 32 cores (the round-8 trap;
        # text_profile got the fix in round 8, this stage shows the
        # same signature at 1M). Counts and the decimal score sums are
        # partitioning-independent by design, so the widen is free of
        # semantics.
        # r13: pin the 3-column corpus frame ONCE for the whole stage.
        # The stage makes several corpus passes (unigram counts, bigram
        # counts, the scoring stream), and each pass from the raw scan
        # repays the scan's worst property: a single-file corpus with
        # few row groups reads as that few TASKS, so the widen
        # exchange's upstream is nearly serial -- measured ~20s PER
        # PASS at 1M (uni count 22.6s from the scan vs 2.7s from
        # memory). One checkpoint pays it once; every pass then runs
        # at full parallelism from storage (MEMORY_AND_DISK -- spills,
        # never recomputes). At cluster scale this is the standard
        # pin-the-hot-input pattern; the frame is released with the
        # stage (the returned lineage drops it once the boundary
        # materializes).
        docs = (
            read_table(spark, sf_dir, "documents", widen=True)
            .select("doc_id", "lang", "text")
            .localCheckpoint(eager=True)
        )
        uni, bi, totals = train_bigram_lm_grouped(docs)
        # pin the corpus-SUBLINEAR unigram table and re-derive the
        # groups-sized totals from the PIN (the caller-passed totals'
        # own lineage would otherwise re-run the unigram corpus pass a
        # second time inside lm_score's internal checkpoint)
        uni = uni.localCheckpoint(eager=True)
        totals = uni.groupBy("g").agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
        )
        # footer row count (no Spark job) gates the scoring kernel's
        # fixed broadcast cost to corpora big enough to amortize it
        # (text.LM_KERNEL_MIN_DOCS)
        return lm_score_docs_grouped(
            docs,
            uni,
            bi,
            totals,
            corpus_rows=_corpus_rows(),
        )

    runner.add(Model("doc_lm", doc_lm))

    def curated(
        raw: DataFrame,
        clusters: DataFrame,
        quality: DataFrame,
        lm: DataFrame,
        contam: DataFrame,
    ) -> DataFrame:
        keep = clusters.where(F.col("is_canonical") == 1).select("doc_id")
        if use_learned:
            from ..quality.learned import DEFAULT_KEEP_THRESHOLD

            cut = (
                DEFAULT_KEEP_THRESHOLD
                if quality_threshold is None
                else quality_threshold
            )
            good = quality.where(F.col("score") >= cut).select("doc_id")
        else:
            good = quality.where(
                F.col("quality_score") >= MIN_QUALITY
            ).select("doc_id")
        # Perplexity gate: drop the top (1 - LM_TAIL_QUANTILE) of
        # cross-entropy WITHIN each language; unscorable docs (<2
        # tokens or NULL lang) pass -- length is the quality gate's
        # job, not the LM's. Cutoffs are a groups-sized broadcast.
        fluent = (
            lm.join(F.broadcast(lm_tail_cutoffs(lm)), "group", "left")
            .where(
                F.col("cross_entropy").isNull()
                | (F.col("cross_entropy") <= F.col("cutoff"))
            )
            .select("doc_id")
        )
        # Decontamination is a LEFT ANTI on doc_id: flagged docs (and
        # nothing else) leave the corpus before the chunk fan-out.
        return (
            raw.join(keep, "doc_id", "left_semi")
            .join(good, "doc_id", "left_semi")
            .join(fluent, "doc_id", "left_semi")
            .join(contam.select("doc_id"), "doc_id", "left_anti")
        )

    runner.add(
        Model(
            "curated",
            curated,
            refs=(
                "raw_documents",
                "doc_clusters",
                "doc_quality_learned" if use_learned else "doc_quality",
                "doc_lm",
                "contaminated",
            ),
        )
    )

    def assigned(cur: DataFrame) -> DataFrame:
        return cur.select("doc_id", "lang", split_col().alias("split"))

    runner.add(Model("assigned", assigned, refs=("curated",)))

    def cleaned(cur: DataFrame) -> DataFrame:
        # Strip corpus-frequent boilerplate lines BEFORE the chunk
        # fan-out (the frequency statistics come from the curated set
        # itself); n_chars is recomputed since the rewrite shortens
        # text. Lang rides along for the packer.
        from ..queries.dedup import strip_boilerplate

        stripped = strip_boilerplate(cur.select("doc_id", "text"))
        return (
            cur.select("doc_id", "lang")
            .join(stripped, "doc_id")
            .select(
                "doc_id",
                "lang",
                "text",
                F.coalesce(F.length("text"), F.lit(0)).alias("n_chars"),
            )
        )

    runner.add(Model("cleaned", cleaned, refs=("curated",)))

    def span_deduped(cl: DataFrame) -> DataFrame:
        # Passage-level dedup AFTER line-level boilerplate strip and
        # BEFORE the chunk fan-out: repeated token spans survive exactly
        # once (keep_first), so near-identical passages cannot enter the
        # training stream from several hosts. Same filter-early-
        # explode-late placement rationale as `cleaned`.
        from ..queries.dedup import SPAN_KERNEL_BOUND, mask_repeated_spans

        # size-gated occ kernel (r15): the corpus footer count stands
        # in for the cleaned-stage count (cleaned <= corpus; both sides
        # of the bound are bit-equal, so this is purely a cost choice)
        n = _corpus_rows()
        masked = mask_repeated_spans(
            cl.select("doc_id", "text"),
            kernel=n is not None and n > SPAN_KERNEL_BOUND,
        )
        return (
            cl.select("doc_id", "lang")
            .join(masked.select("doc_id", "text"), "doc_id")
            .select(
                "doc_id",
                "lang",
                "text",
                F.coalesce(F.length("text"), F.lit(0)).alias("n_chars"),
            )
        )

    runner.add(Model("span_deduped", span_deduped, refs=("cleaned",)))

    def sem_deduped(sd: DataFrame) -> DataFrame:
        # The dedup ladder's last rung: exact (canonical clusters) ->
        # line (boilerplate) -> span (keep-first mask) -> SEMANTIC.
        # Model-free rendering: hash_embed lexical vectors feed
        # semdedup (k-means cells x blocked in-cell pairs, one survivor
        # per component). Docs the embedding cannot place -- empty
        # after the upstream rewrites, or the rare sign-cancelled
        # zero vector (a zero norm makes cosine 0/0 = NaN, and Spark's
        # NaN >= t is TRUE: one such vector would weld to everything)
        # -- pass through kept; chunking drops empties anyway. A corpus
        # smaller than the k-means cell count has nothing to dedup at
        # this granularity and passes through unchanged.
        from ..operators.kmeans import CorpusTooSmallError
        from ..queries.semdedup import DEFAULT_EPS, semdedup
        from ..queries.text import hash_embed_checkpointed

        # the corpus-size probe feeds BOTH sizing decisions: the default
        # cell count (N/250 vs sqrt(N), see default_sem_k) and the
        # blocked-pair path switch (expected candidates ~ N^2/2k --
        # semdedup's no-hint fallback keys on k*dim, which is
        # anti-correlated with pair cost; round-9 ADVICE)
        n_docs = _corpus_rows()
        if n_docs is None:
            from ..io import record_row_count

            n_docs = read_table(spark, sf_dir, "documents").count()
            record_row_count(sf_dir, "documents", n_docs)
        k = default_sem_k(n_docs) if sem_k is None else sem_k
        eps = DEFAULT_EPS if sem_eps is None else sem_eps

        # hash_embed_checkpointed TRUNCATES lineage at the stage
        # boundary (semdedup's Lloyd fit runs ~2 actions per round;
        # without the checkpoint each would re-execute the whole
        # upstream DAG -- span dedup, boilerplate strip, quality, LM)
        # and drops zero vectors AFTER materialization: the safe order
        # is enforced at the producer since the derived-filter trap
        # bit this exact frame in round 10 (see its docstring).
        emb = hash_embed_checkpointed(
            sd.where(F.coalesce(F.length("text"), F.lit(0)) > 0).select(
                "doc_id", "text"
            )
        )
        try:
            # Lloyd refinement reads an md5-ranked sample of ~50
            # vectors per cell, not the corpus: cells only BLOCK the
            # in-cell pair search here, and with the N/250 sizing rule
            # (k ~ N) a full fit's per-round assignment term would be
            # N*k ~ N^2 -- the one superlinear stage left in this DAG.
            # Every doc is still assigned/compared/deduplicated.
            # Measured at 200k, k=800: fit 98.2s -> 25.6s, end drops
            # within noise (SCALING.md).
            verdicts = semdedup(
                emb,
                k=k,
                eps=eps,
                fit_sample=SEM_FIT_PER_CELL * k,
                corpus_rows=n_docs,
                max_iterations=SEM_FIT_MAX_ITER,
                # the two-level quantizer engages with the pair-budget
                # sizing regime (same crossover, see SEM_TWO_LEVEL_BOUND)
                # unless the caller forced it either way
                two_level=(
                    n_docs > SEM_TWO_LEVEL_BOUND
                    if sem_two_level is None
                    else sem_two_level
                ),
            )
        except CorpusTooSmallError:
            return sd
        # ONE pass over the input: anti-join against the dropped ids
        # (embedded docs with keep=false); not-embedded docs are absent
        # from the drop set and pass through kept by construction
        drops = verdicts.where(~F.col("keep")).select(
            F.col("vec_id").alias("doc_id")
        )
        return sd.join(drops, "doc_id", "left_anti")

    runner.add(Model("sem_deduped", sem_deduped, refs=("span_deduped",)))

    def chunks(cur: DataFrame) -> DataFrame:
        # chunk-index array via ONE n_chars reference: ceil(n/stride)
        # equals floor((n-1)/stride)+1 for n > 0 and is 0 for empty
        # docs, whose empty array then vanishes in the (non-outer)
        # posexplode. The old `.where(n_chars > 0)` guard is gone ON
        # PURPOSE: in the lazy (materialize=False) composition,
        # predicate pushdown substituted span_deduped's derived text
        # producer -- the whole interpreted mask-rebuild -- into the
        # filter and re-ran it per row (the r8/r10 trap; caught by
        # metrics.derived_reinline_findings on this exact plan).
        # array_repeat instead of sequence: sequence(1, 0) counts DOWN.
        idx = F.expr(
            "transform(array_repeat(0, cast(ceil(n_chars /"
            f" {CHUNK_STRIDE}) as int)), (x, i) -> i)"
        )
        return (
            cur.select(
                "doc_id",
                "lang",
                F.posexplode(idx).alias("chunk_idx", "_i"),
                F.col("text"),
            )
            .select(
                "doc_id",
                "lang",
                "chunk_idx",
                F.substring(
                    "text", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_SIZE
                ).alias("chunk"),
            )
        )

    runner.add(Model("chunks", chunks, refs=("sem_deduped",)))

    def packed(ch: DataFrame) -> DataFrame:
        sized = ch.select(
            "doc_id", "lang", "chunk_idx", F.length("chunk").alias("chars")
        )
        w = Window.partitionBy("lang").orderBy("doc_id", "chunk_idx")
        cum = F.sum("chars").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return sized.select(
            "doc_id",
            "lang",
            "chunk_idx",
            "chars",
            F.floor((cum - F.col("chars")) / PACK_BUDGET)
            .cast("bigint")
            .alias("bin_id"),
        )

    runner.add(Model("packed", packed, refs=("chunks",)))
    return runner


def run_llm_curation(
    spark: SparkSession,
    sf_dir: str,
    targets: list[str] | None = None,
    materialize: bool = False,
    sem_k: int | None = None,
    sem_eps: float | None = None,
    quality_seed: DataFrame | None = None,
    quality_threshold: float | None = None,
    bucket_key: str | None = "auto",
    bucket_count: int | None = None,
    sem_two_level: bool | None = None,
) -> dict[str, DataFrame]:
    """Build and execute the curation DAG; returns every stage by name.
    ``materialize=True`` checkpoints each stage (see PipelineRunner.run)
    -- recommended when reading several stages' outputs, since stages
    downstream of the iterative sem_deduped otherwise re-run it per
    action.

    ``bucket_key`` defaults to ``"auto"``: above ``BUCKETED_DAG_BOUND``
    documents (footer row count -- no Spark job) every doc_id-bearing
    model boundary materializes as a bucketed+sorted table, so the
    DAG's recurring doc_id joins stop re-shuffling the corpus (measured
    -18% shuffle bytes / -11% wall at 200k with identical survivors;
    see the bound's doc). Pass ``None`` to force plain checkpoints, or
    a column name to force bucketing at any size. When the probe cannot
    resolve a count, auto stays plain -- bucketing is a constant-factor
    layout choice, never a semantics or asymptote question.

    ``bucket_count`` defaults to ``None`` = corpus-scaled: ONE count per
    run from the documents footer row count
    (``operators.layout.bucket_count_for`` -- floor 32, so every corpus
    at or below ~4M keeps the historical layout; power-of-two growth
    above it keeps writes and co-located joins at corpus-proportional
    parallelism instead of funneling through a constant). Pass an int
    to pin it.

    Bucketed boundaries are catalog tables named per CORPUS
    (``dag_<md5(sf_dir) prefix>_<model>``), so two curation runs over
    different corpora in one session can never overwrite each other's
    returned results -- a second run over the SAME corpus dir does
    replace the first's tables (same inputs, same rows, unless the dir
    itself was mutated, which the immutable-testdata contract forbids).
    A bucketed run implies materialization; ``materialize`` adds
    nothing on that path."""
    n_docs = table_row_count(sf_dir, "documents")
    if bucket_key == "auto":
        bucket_key = (
            "doc_id"
            if n_docs is not None and n_docs > BUCKETED_DAG_BOUND
            else None
        )
    if bucket_count is None:
        # ONE corpus-scaled count for every table this run writes (r15,
        # VERDICT r14 #1): write parallelism and join-task sizing grow
        # with the corpus instead of funneling through a constant 32;
        # sharing the count keeps stage-to-stage joins exchange-free.
        from ..operators.layout import bucket_count_for

        bucket_count = bucket_count_for(n_docs)
    runner = build_llm_curation_pipeline(
        spark,
        sf_dir,
        sem_k=sem_k,
        sem_eps=sem_eps,
        quality_seed=quality_seed,
        quality_threshold=quality_threshold,
        sem_two_level=sem_two_level,
        corpus_rows=n_docs,
    )
    if bucket_key is not None:
        import hashlib

        tag = hashlib.md5(
            os.path.abspath(sf_dir).encode("utf-8")
        ).hexdigest()[:8]
        # The shingle index crosses two stages (doc_clusters,
        # contaminated) but is not itself a model boundary; above the
        # bucketed bound it gets the same bucketed-table treatment as
        # every model boundary so the SECOND consumer reads a columnar
        # scan instead of a cache tier that 4M-scale execution memory
        # evicts (contaminated 66.1s -> pinned-index 14.5s, SCALING.md
        # r12; see materialize_shingle_index's doc). Only when the run
        # actually reaches an index consumer: a target-limited run
        # (e.g. doc_quality alone) must not pay the shingle build.
        needed = set(targets) if targets is not None else set(runner._models)
        frontier = list(needed)
        while frontier:
            m = runner._models.get(frontier.pop())
            for r in m.refs if m else ():
                if r not in needed:
                    needed.add(r)
                    frontier.append(r)
        if needed & {"doc_clusters", "contaminated"}:
            materialize_shingle_index(
                spark, sf_dir, f"dag_{tag}_shingle_index", bucket_count
            )
        return runner.run(
            targets,
            bucket_key=bucket_key,
            bucket_count=bucket_count,
            table_prefix=f"dag_{tag}",
        )
    return runner.run(targets, materialize=materialize)
