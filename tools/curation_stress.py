"""End-to-end curation DAG stress run: 50k dup-heavy synthetic docs.

Generates a deterministic corpus engineered to exercise every dedup
rung at once -- exact copies (canonical clusters), a corpus-hot ~30
token passage repeated across ~10% of docs (span dedup), one-word-off
near-copies (shingle near-dup AND semantic dup), two languages (the
per-lang LM gate) -- then drives ``build_llm_curation_pipeline`` stage
by stage, materializing each output (the dbt table boundary) and
printing per-stage wall-clock + row count. The numbers land in
SCALING.md ("Measured: end-to-end curation at 50k docs").

Usage: python tools/curation_stress.py [n_docs] [corpus_dir]
           [--learned | --junk] [--bucketed]

``corpus_dir`` (plain runs only) reuses/creates a persistent corpus via
``ensure_corpus`` so repeated measurements at one size skip
the generation cost; junk runs keep their own tempdir (the junk plant
is a different corpus). ``--bucketed`` materializes each stage exactly
as ``run_llm_curation``'s above-``BUCKETED_DAG_BOUND`` auto default
does -- ``write_bucketed`` doc_id tables inside ``bucketed_sorted_
reader``, localCheckpoint for keyless models -- so the per-stage walls
are the composed-defaults walls (the r11 1M-vs-4M exponent table),
not the plain-checkpoint counterfactual.

``--learned`` plants a 10% junk class (vowel-free pseudo-words with
the same stopword cadence and length, so the HEURISTIC gate scores
them exactly like good docs and the per-language LM tail can absorb
at most half of them) and swaps in the CCNet-style learned gate
(``quality_seed``) trained on 400+400 labeled ids; the run reports
how many junk docs survive into ``curated``. ``--junk`` plants the
same junk class but keeps the heuristic gate -- the counterfactual
that shows what the heuristic+LM rungs pass on their own. The numbers
land in SCALING.md ("Measured: learned gate inside the curation DAG").
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = sys.argv[1:]
if "--repeats" in _args:
    # drop the flag's VALUE from the positional scan
    _ri = _args.index("--repeats")
    _args = _args[:_ri] + _args[_ri + 2 :]
_nums = [a for a in _args if not a.startswith("--")]
N_DOCS = int(_nums[0]) if _nums else 50_000
CORPUS_DIR = _nums[1] if len(_nums) > 1 else None
LEARNED = "--learned" in sys.argv
#: plant the junk class WITHOUT the learned gate (the counterfactual:
#: how much junk the heuristic+LM rungs pass on their own)
JUNK = LEARNED or "--junk" in sys.argv
#: materialize stages as the runner's bucketed auto-default would
BUCKETED = "--bucketed" in sys.argv
#: r14 (VERDICT r13 #4): same-day 1M composed walls on identical code
#: spanned 1.39x -- single-run exponent readings can't confirm <=30%
#: effects. --repeats N re-runs the whole staged loop N times in one
#: process (index cache + stage tables torn down between reps) and
#: reports per-stage min + median; the MIN is the low-ambient reading
#: the scaling tables should cite.
def _int_flag(flag: str, default: int) -> int:
    """Value of ``<flag> N``; exits with usage if N is missing or
    non-numeric (ADVICE r14: the bare index lookup raised IndexError
    when the flag was the last argument)."""
    if flag not in sys.argv:
        return default
    i = sys.argv.index(flag)
    if i + 1 >= len(sys.argv) or not sys.argv[i + 1].lstrip("-").isdigit():
        raise SystemExit(f"usage: {flag} <N> -- missing or non-numeric value")
    return int(sys.argv[i + 1])


REPEATS = _int_flag("--repeats", 1)
#: r14 (VERDICT r13 #1b): persist the materialized shingle-index scan
#: MEMORY_AND_DISK for exactly its two consumers (doc_clusters,
#: contaminated -- adjacent since r14) and unpersist before doc_lm.
#: The r13 unscoped variant regressed BOTH consumers' downstream
#: stages; this measures whether scoping rescues the idea or buries it.
PIN_INDEX = "--pin-index" in sys.argv
if CORPUS_DIR is not None and JUNK:
    raise SystemExit(
        "--junk/--learned generate a planted corpus: a reusable "
        "corpus_dir would mislabel it -- drop one or the other"
    )
# the DAG's own default sizing (min(N/250, 2*sqrt(N)) since r11);
# resolved at import so the header can print it before Spark starts
from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (  # noqa: E402
    default_sem_k,
)

SEM_K = default_sem_k(N_DOCS)


STOPS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def iter_corpus(n: int, with_junk: bool = False):
    """Row generator behind :func:`make_corpus` -- yields
    (doc_id, text, lang, source, n_chars) in the IDENTICAL sequence
    (same RNG draws, same dup plants). Exists so 16M+ corpora can
    stream to parquet in chunks instead of holding ~8 GB of Python
    tuples (r13: the 16M scale point); the bounded history deque
    replays make_corpus's rows[-1]/rows[-5] references exactly (one
    append per i, so len(rows) == i)."""
    from collections import deque

    rng = random.Random(20260814)
    vocab = [
        "".join(
            rng.choice("bcdfghjklmnpqrstvwz") + rng.choice("aeiou")
            for _ in range(3)
        )
        for _ in range(300)
    ]

    def words(k):
        return [
            STOPS[j % len(STOPS)] if j % 4 == 3 else rng.choice(vocab)
            for j in range(k)
        ]

    junk_vocab = [
        "".join(rng.choice("qxzwvkjhmn") for _ in range(6))
        for _ in range(300)
    ]

    hot = " ".join(words(30))
    hist: deque = deque(maxlen=5)  # last 5 texts
    last_plain: list | None = None
    for i in range(n):
        if with_junk and i % 10 == 9:
            text = " ".join(
                STOPS[j % len(STOPS)] if j % 4 == 3
                else rng.choice(junk_vocab)
                for j in range(60)
            )
            is_junk = True
        else:
            is_junk = False
            if i % 10 == 1 and i > 0:
                toks = hist[-1].split()
                toks[len(toks) // 2] = rng.choice(vocab)
                text = " ".join(toks)
            elif i % 50 == 7 and i > 5:
                text = hist[-5]
            elif i % 20 == 5 and last_plain:
                chunks = [
                    last_plain[j : j + 4]
                    for j in range(0, len(last_plain), 4)
                ]
                rng.shuffle(chunks)
                text = " ".join(t for c in chunks for t in c)
            else:
                body = words(60)
                if i % 10 == 3:
                    body[20:20] = hot.split()
                else:
                    last_plain = body
                text = " ".join(body)
        hist.append(text)
        lang = "en" if i % 5 else "de"
        yield (i, text, lang, "synth", len(text)), is_junk


def make_corpus(n: int, with_junk: bool = False):
    # Text must CLEAR the curation quality gate (llm_pipeline.MIN_QUALITY
    # = 0.35 over stop_ratio*0.3 + alpha_ratio*0.4 + length_credit*0.3),
    # or the dedup rungs under stress would only ever see the survivors:
    # all-alpha pseudo-words with every 4th token a stopword scores
    # ~0.55 at 60 tokens. Digit-bearing vocab (w001...) scores ~0.30
    # and gated 90% of the corpus out in the first dry run.
    # (r13: the row sequence lives in iter_corpus so huge corpora can
    # stream to parquet; this wrapper materializes the same rows.)
    rows, junk_ids = [], []
    for row, is_junk in iter_corpus(n, with_junk):
        rows.append(row)
        if is_junk:
            junk_ids.append(row[0])
    return rows, junk_ids


def ensure_corpus(spark, sf_dir: str, n_docs: int) -> None:
    """Reuse the plain corpus at ``sf_dir/documents.parquet`` or write it
    once."""
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(path):
        # a reused corpus dir must actually hold n_docs, or the
        # per-stage figures silently mislabel the measurement
        import pyarrow.parquet as pq

        found = pq.ParquetFile(path).metadata.num_rows
        if found != n_docs:
            raise SystemExit(
                f"corpus dir {sf_dir} holds {found} docs, not the "
                f"requested {n_docs}: point each size at its own dir"
            )
        return
    os.makedirs(sf_dir, exist_ok=True)
    if n_docs > 2_000_000:
        # r13 (the 16M scale point): materializing the corpus as Python
        # tuples costs ~0.5 KB/doc of driver memory and a monolithic
        # createDataFrame pickle -- stream the IDENTICAL row sequence
        # (iter_corpus, same RNG) straight into one
        # parquet file in 500k-row groups instead. Same rows, no Spark
        # job, bounded memory.
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = path + ".tmp"
        cols: dict = {
            "doc_id": [],
            "text": [],
            "lang": [],
            "source": [],
            "n_chars": [],
        }
        writer = None

        def flush():
            nonlocal writer
            if not cols["doc_id"]:
                return
            t = pa.table(
                {
                    "doc_id": pa.array(cols["doc_id"], pa.int64()),
                    "text": pa.array(cols["text"], pa.string()),
                    "lang": pa.array(cols["lang"], pa.string()),
                    "source": pa.array(cols["source"], pa.string()),
                    "n_chars": pa.array(cols["n_chars"], pa.int64()),
                }
            )
            if writer is None:
                writer = pq.ParquetWriter(tmp, t.schema)
            writer.write_table(t)
            for v in cols.values():
                v.clear()

        for (doc_id, text, lang, source, n_chars), _ in iter_corpus(
            n_docs
        ):
            cols["doc_id"].append(doc_id)
            cols["text"].append(text)
            cols["lang"].append(lang)
            cols["source"].append(source)
            cols["n_chars"].append(n_chars)
            if len(cols["doc_id"]) >= 500_000:
                flush()
        flush()
        if writer is not None:
            writer.close()
        os.rename(tmp, path)
        return
    corpus, _ = make_corpus(n_docs)
    stage = os.path.join(sf_dir, "_stage")
    spark.createDataFrame(
        corpus,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(n for n in os.listdir(stage) if n.endswith(".parquet"))
    os.rename(
        os.path.join(stage, part), os.path.join(sf_dir, "documents.parquet")
    )


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        # Single-JVM local mode: every localCheckpointed model boundary
        # lives in THIS heap. 16g fits the 50k-200k sweeps; the 1M run
        # measurably tips into storage eviction + GC there (SCALING.md),
        # so size it via the env for big sweeps.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.llm_pipeline import (
        build_llm_curation_pipeline,
    )

    own_tmp = None
    if CORPUS_DIR is None:
        own_tmp = tempfile.TemporaryDirectory()
        sf_dir = own_tmp.name
    else:
        sf_dir = CORPUS_DIR
    try:
        t0 = time.time()
        junk_ids: list[int] = []
        if CORPUS_DIR is not None:
            # plain corpus, persistent dir: reuse (row-count-validated)
            # or build once
            ensure_corpus(spark, sf_dir, N_DOCS)
        else:
            corpus, junk_ids = make_corpus(N_DOCS, with_junk=JUNK)
            # io.read_table probes the footer with pyarrow, so the table
            # must be ONE file named documents.parquet (as the driver
            # testdata ships): write a single part and rename it.
            stage = os.path.join(sf_dir, "_stage")
            spark.createDataFrame(
                corpus,
                "doc_id long, text string, lang string, source string, n_chars long",
            ).coalesce(1).write.parquet(stage)
            part = next(
                n for n in os.listdir(stage) if n.endswith(".parquet")
            )
            os.rename(
                os.path.join(stage, part),
                os.path.join(sf_dir, "documents.parquet"),
            )
        print(
            f"# corpus: {N_DOCS} docs ({len(junk_ids)} junk) "
            f"ready in {time.time() - t0:.1f}s"
        )
        quality_seed = None
        if LEARNED:
            junk_set = set(junk_ids)
            good = [i for i in range(N_DOCS) if i not in junk_set][:400]
            quality_seed = spark.createDataFrame(
                [(i, 1) for i in good]
                + [(i, 0) for i in junk_ids[:400]],
                "doc_id long, label int",
            )
        runner = build_llm_curation_pipeline(
            spark, sf_dir, sem_k=SEM_K, quality_seed=quality_seed
        )
        if BUCKETED:
            import contextlib
            import hashlib

            from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.layout import (  # noqa: E501
                bucket_count_for,
                bucketed_sorted_reader,
                write_bucketed,
            )

            tag = hashlib.md5(
                os.path.abspath(sf_dir).encode("utf-8")
            ).hexdigest()[:8]
            # mirror run_llm_curation's r15 default: one corpus-scaled
            # bucket count shared by every boundary table of the run
            n_buckets = bucket_count_for(N_DOCS)
            reader_ctx = lambda: bucketed_sorted_reader(spark)
        else:
            import contextlib

            reader_ctx = contextlib.nullcontext
        if PIN_INDEX and not BUCKETED:
            raise SystemExit("--pin-index requires --bucketed")
        stage_times: dict[str, list[float]] = {}
        results = {}
        for rep in range(REPEATS):
            rep_tag = f"[rep {rep + 1}/{REPEATS}] " if REPEATS > 1 else ""
            if rep:
                # tear the previous rep's state down so every rep
                # measures the same COLD-boundary work: index cache
                # released, stage tables dropped (their next write
                # recreates them), checkpointed frames unpersisted
                from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (  # noqa: E501
                    release_shingle_index,
                )

                release_shingle_index(spark)
                for t in spark.catalog.listTables():
                    if t.name.startswith("stress_"):
                        spark.sql(f"DROP TABLE IF EXISTS {t.name}")
                for df in results.values():
                    try:
                        df.unpersist()
                    except Exception:
                        pass
                results = {}
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
            total = 0.0
            pinned_idx = None
            if BUCKETED:
                # mirror run_llm_curation's r13 default: the cross-stage
                # shingle index materializes as its own bucketed boundary
                # table BEFORE the stage loop, so doc_clusters and
                # contaminated both read a columnar scan (the r12 4M
                # contaminated wall was cache-eviction recompute). Printed
                # as its own line so the exponent table carries it.
                from data_pipeline_spark_iceberg_dbt_airflow_spark.queries.dedup import (  # noqa: E501
                    materialize_shingle_index,
                )

                t0 = time.time()
                idx = materialize_shingle_index(
                    spark, sf_dir, f"stress_{tag}_shingle_index", n_buckets
                )
                dt = time.time() - t0
                total += dt
                stage_times.setdefault("shingle_index", []).append(dt)
                print(
                    f"{rep_tag}{'shingle_index':16s} {dt:7.2f}s  "
                    "(bucketed boundary)"
                )
                if PIN_INDEX:
                    from pyspark import StorageLevel

                    pinned_idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
                # free the index build's dead shuffle generations BEFORE
                # doc_clusters adds its own (the 16M ENOSPC: ~55GB of
                # already-dead build shuffle lingered into the next stage)
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
            # a generator-backed context manager is single-use:
            # build a FRESH one per rep (the --repeats crash)
            with reader_ctx():
                for name in runner._toposort(
                    list(runner._models), satisfied=set()
                ):
                    m = runner._models[name]
                    t0 = time.time()
                    out = m.fn(*[results[r] for r in m.refs])
                    # mirror runner.run's bucketed branch exactly: doc_id
                    # models land as bucketed+sorted tables (the write IS
                    # the materialization), keyless ones localCheckpoint
                    if BUCKETED and "doc_id" in out.columns:
                        tbl = f"stress_{tag}_{name}"
                        write_bucketed(
                            out, tbl, "doc_id", n_buckets, sort=True
                        )
                        out = spark.table(tbl)
                    else:
                        out = out.localCheckpoint(eager=True)
                    dt = time.time() - t0
                    results[name] = out
                    total += dt
                    stage_times.setdefault(name, []).append(dt)
                    print(f"{rep_tag}{name:16s} {dt:7.2f}s  rows={out.count()}")
                    if pinned_idx is not None and name == "contaminated":
                        # the scoped pin dies with its LAST consumer --
                        # doc_lm's bigram explode never sees the
                        # storage blocks (the r13 unscoped trap)
                        pinned_idx.unpersist()
                        pinned_idx = None
                    # r13: at 16M a stage's dead shuffle files (tens of GB)
                    # free only when the JVM GCs their ShuffleDependency
                    # objects -- the 64g heap can outlive the DISK (the 16M
                    # run bottomed at 2.2GB free before ContextCleaner
                    # fired). Nudge the cleaner at every stage boundary so
                    # scratch usage tracks the LIVE stage, not GC luck.
                    try:
                        spark.sparkContext._jvm.System.gc()
                    except Exception:
                        pass
            stage_times.setdefault("TOTAL", []).append(total)
            print(
                f"{rep_tag}{'TOTAL':16s} {total:7.2f}s  (sem_k={SEM_K}, "
                f"boundaries={'bucketed' if BUCKETED else 'plain'}"
                f"{', pin-index' if PIN_INDEX else ''})"
            )
        if REPEATS > 1:
            import statistics

            print(f"# per-stage over {REPEATS} reps (min / median):")
            for name, ts in stage_times.items():
                print(
                    f"# {name:16s} min={min(ts):7.2f}s  "
                    f"median={statistics.median(ts):7.2f}s  "
                    f"all={[round(t, 1) for t in ts]}"
                )
        if JUNK:
            from pyspark.sql import functions as F

            # junk survivors: any token with letters but no vowel
            # (impossible in the CVCVCV good vocabulary)
            is_junk = F.exists(
                F.split(F.col("text"), " "),
                lambda t: t.rlike("^[qxzwvkjhmn]{6}$"),
            )
            survivors = results["curated"].where(is_junk).count()
            print(
                f"# learned gate: {survivors} junk docs survived into "
                f"curated (of {len(junk_ids)} planted; the dup branches "
                f"never copy a junk id, so planted = distinct junk docs)"
            )
    finally:
        if own_tmp is not None:
            own_tmp.cleanup()
            if BUCKETED and "tag" in locals():
                # a tempdir corpus gets a fresh md5 tag every run, so
                # its stage tables would accumulate in the shared
                # warehouse forever (r11 review); persistent-corpus
                # runs keep theirs (stable tag, overwritten next run,
                # and useful for post-run diagnosis)
                for t in spark.catalog.listTables():
                    if t.name.startswith(f"stress_{tag}_"):
                        spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    spark.stop()


if __name__ == "__main__":
    main()
