"""Command-line surface: ``python -m data_pipeline_spark_iceberg_dbt_airflow_spark``.

The reference is driven from the command line / an Airflow DAG (its
ingestion script runs under ``spark-submit``, the models under ``dbt run``
and ``dbt test`` -- /root/reference/Iceberg-dbt-project/dags/
bitcoin_pipeline_dag.py:26-44). This module is the engine's equivalent
operational surface, one subcommand per stage:

    query <name> --sf DIR [--limit N] [--explain]   run a registry query
    list                                            list registry entries
    pipeline --sf DIR [--out DIR]                   run the curation DAG
    check --sf DIR                                  run the dbt-style DQ gate

Everything routes through the same library code the tests and the driver
contract exercise; the CLI adds argument parsing and exit codes only
(0 = success; ``check`` exits 1 when a quality check fails, which is the
Airflow task-failure contract of the reference's test stage).
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF = "/root/testdata/sf0.01"


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m data_pipeline_spark_iceberg_dbt_airflow_spark",
        description="PySpark analytics engine CLI",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf", default=DEFAULT_SF)
    q.add_argument("--limit", type=int, default=20)
    q.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows",
    )

    sub.add_parser("list", help="list registered queries")

    pl = sub.add_parser("pipeline", help="run the LLM curation pipeline")
    pl.add_argument("--sf", default=DEFAULT_SF)
    pl.add_argument(
        "--out",
        default=None,
        help="write the packed output (and shard files) under this dir",
    )

    c = sub.add_parser("check", help="run the data-quality gate")
    c.add_argument("--sf", default=DEFAULT_SF)

    d = sub.add_parser("docs", help="print the curation DAG manifest")
    d.add_argument("--sf", default=DEFAULT_SF)

    # table-maintenance analog of Iceberg's sort-order rewrite / Delta's
    # OPTIMIZE ZORDER BY, for plain-Parquet deployments
    z = sub.add_parser("layout", help="rewrite a table Z-ordered")
    z.add_argument("table")
    z.add_argument("--cols", required=True, help="comma-separated dimensions")
    z.add_argument("--out", required=True)
    z.add_argument("--sf", default=DEFAULT_SF)
    z.add_argument("--files", type=int, default=32)

    cp = sub.add_parser("compact", help="rewrite a parquet dir into fewer files")
    cp.add_argument("src")
    cp.add_argument("--out", required=True)
    cp.add_argument("--files", type=int, default=32)
    cp.add_argument("--sort", default=None, help="establish this sort order")

    df_ = sub.add_parser("diff", help="diff two corpus snapshots by digest")
    df_.add_argument("old")
    df_.add_argument("new")
    df_.add_argument("--id", default="doc_id")
    df_.add_argument("--digest", default="digest")

    pm = sub.add_parser("plan", help="token-budget mixture plan per source")
    pm.add_argument("--sf", default=DEFAULT_SF)
    pm.add_argument("--budget", type=int, required=True, help="token budget")
    pm.add_argument(
        "--weights",
        default=None,
        help="src=weight,src=weight (default: uniform over sources)",
    )
    pm.add_argument("--repeat", action="store_true", help="allow repetition")

    rc = sub.add_parser("recall", help="ANN recall@k per branch vs exact")
    rc.add_argument("--sf", default=DEFAULT_SF)
    rc.add_argument(
        "--ivfpq",
        action="store_true",
        help="also train coarse cells and measure the composed IVF-PQ",
    )

    lk = sub.add_parser("leakage", help="val/test docs near-duplicating train")
    lk.add_argument("--sf", default=DEFAULT_SF)

    rp = sub.add_parser("report", help="per-source corpus report card")
    rp.add_argument("--sf", default=DEFAULT_SF)

    sd = sub.add_parser("semdedup", help="semantic dedup over embeddings")
    sd.add_argument("--sf", default=DEFAULT_SF)
    sd.add_argument("--k", type=int, default=8, help="k-means clusters")
    sd.add_argument(
        "--eps", type=float, default=0.03, help="1 - cosine duplicate gate"
    )
    sd.add_argument(
        "--fit-sample",
        type=int,
        default=None,
        help="Lloyd rounds read only the n smallest-md5(id) vectors "
        "(deterministic; kills the N*k fit term when k scales with N)",
    )

    ct = sub.add_parser("contain", help="doc-in-doc containment pairs")
    ct.add_argument("--sf", default=DEFAULT_SF)
    ct.add_argument("--threshold", type=float, default=0.9)

    bp = sub.add_parser("bpe", help="train BPE merges on documents")
    bp.add_argument("--sf", default=DEFAULT_SF)
    bp.add_argument("--merges", type=int, default=50)

    gt = sub.add_parser(
        "gate", help="learned quality gate: train on labels, score docs"
    )
    gt.add_argument("--sf", default=DEFAULT_SF)
    gt.add_argument(
        "--labels",
        required=True,
        help="parquet or headered CSV with (doc_id, label) rows; "
        "label 1 = keep-worthy",
    )
    gt.add_argument("--threshold", type=float, default=None)
    gt.add_argument("--limit", type=int, default=20)

    sn = sub.add_parser("snapshots", help="list a snapshot table's versions")
    sn.add_argument("table_dir")

    cd = sub.add_parser(
        "cdc", help="apply a change-file directory to a snapshot table"
    )
    cd.add_argument("changes_dir", help="parquet change files (streamed)")
    cd.add_argument("table_dir")
    cd.add_argument("checkpoint_dir")
    cd.add_argument("--key", required=True)
    cd.add_argument("--seq", required=True)
    cd.add_argument("--delete-col", default=None)
    cd.add_argument(
        "--retain-tombstones",
        action="store_true",
        help="persist deletes as flagged rows so stale late updates "
        "cannot resurrect deleted keys (requires --delete-col; read "
        "through streaming.jobs.read_cdc_table)",
    )
    return p


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark`` is injectable for tests; when omitted a
    session is created and stopped here."""
    args = _build_parser().parse_args(argv)
    from .session import get_spark_session

    own_session = spark is None
    if own_session:
        spark = get_spark_session("cli")
    try:
        return _dispatch(args, spark)
    finally:
        if own_session:
            spark.stop()


def _dispatch(args: argparse.Namespace, spark) -> int:
    from .queries import all_queries

    if args.cmd == "list":
        for name, spec in sorted(all_queries().items()):
            tags = ",".join(spec.tags)
            print(f"{name}\t[{tags}]")
        return 0

    if args.cmd == "query":
        specs = all_queries()
        if args.name not in specs:
            print(f"unknown query: {args.name}", file=sys.stderr)
            return 2
        df = specs[args.name].spark_fn(spark, args.sf)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "pipeline":
        from .io import write_training_shards
        from .plans.llm_pipeline import run_llm_curation

        out = run_llm_curation(spark, args.sf)
        counts = {name: df.count() for name, df in out.items()}
        for name, n in counts.items():
            print(f"{name}\t{n}")
        if args.out:
            from pyspark.sql import functions as F
            from pyspark.sql.window import Window

            packed = out["packed"]
            # CLI convenience at interactive scale: a single global rank
            # renders the pack order as one shard key. A 100 TB run uses
            # train_global_shuffle's 2-phase rank instead of this
            # single-partition window -- see queries/training.py.
            ordered = packed.withColumn(
                "shuffle_pos",
                F.row_number().over(
                    Window.orderBy("lang", "bin_id", "doc_id", "chunk_id")
                ),
            )
            write_training_shards(ordered, args.out, shards=4)
            print(f"shards written to {args.out}")
        return 0

    if args.cmd == "docs":
        import json

        from .plans.llm_pipeline import build_llm_curation_pipeline

        runner = build_llm_curation_pipeline(spark, args.sf)
        print(json.dumps(runner.manifest(), indent=2))
        return 0

    if args.cmd == "layout":
        from .io import read_table
        from .operators.layout import write_zordered

        df = read_table(spark, args.sf, args.table)
        cols = [c.strip() for c in args.cols.split(",") if c.strip()]
        write_zordered(df, args.out, cols, args.files)
        print(f"{args.table} z-ordered by {cols} -> {args.out}")
        return 0

    if args.cmd == "compact":
        from .operators.layout import compact_parquet

        before, after = compact_parquet(
            spark, args.src, args.out, args.files, sort_col=args.sort
        )
        print(f"compacted {args.src}: {before} -> {after} files at {args.out}")
        return 0

    if args.cmd == "diff":
        from .io import corpus_diff

        out = corpus_diff(
            spark, args.old, args.new, id_col=args.id, digest_col=args.digest
        )
        counts = {
            r["status"]: r["count"]
            for r in out.groupBy("status").count().collect()
        }
        for status in ("added", "removed", "changed"):
            print(f"{status}\t{counts.get(status, 0)}")
        return 0

    if args.cmd == "plan":
        from pyspark.sql import functions as F

        from .io import read_table
        from .queries.text import text_profile
        from .queries.training import plan_mixture

        tokens = {
            r["source"]: r["n"]
            for r in read_table(spark, args.sf, "documents")
            .join(
                text_profile(spark, args.sf).select("doc_id", "bpe_tokens"),
                "doc_id",
            )
            .groupBy("source")
            .agg(F.sum("bpe_tokens").alias("n"))
            .collect()
        }
        if args.weights:
            weights = {
                k: float(v)
                for k, v in (kv.split("=") for kv in args.weights.split(","))
            }
        else:
            weights = {s: 1.0 for s in tokens}
        plan = plan_mixture(
            tokens, weights, args.budget, allow_repetition=args.repeat
        )
        for src in sorted(plan):
            e = plan[src]
            print(
                f"{src}\thave={tokens[src]}\ttarget={e['target_tokens']:.0f}"
                f"\trate={e['rate']:.4f}\tsampled={e['sampled_tokens']:.0f}"
            )
        return 0

    if args.cmd == "recall":
        from .queries.similarity import recall_report

        rep = recall_report(spark, args.sf, include_ivfpq=args.ivfpq)
        for method, r in rep.items():
            print(f"{method}\t{r:.4f}")
        return 0

    if args.cmd == "leakage":
        from .queries.dedup import split_leakage

        rows = split_leakage(spark, args.sf).collect()
        for r in rows:
            print(
                f"{r['eval_doc']}\t{r['eval_split']}\t"
                f"train={r['train_doc']}\tjaccard={r['jaccard']:.3f}"
            )
        print(f"# {len(rows)} leaked eval docs", file=sys.stderr)
        return 0

    if args.cmd == "report":
        from .quality.report import corpus_report

        corpus_report(spark, args.sf).show(100, truncate=False)
        return 0

    if args.cmd == "semdedup":
        from pyspark.sql import functions as F

        from .io import read_table
        from .queries.semdedup import semdedup

        out = semdedup(
            read_table(spark, args.sf, "embeddings"),
            k=args.k,
            eps=args.eps,
            fit_sample=args.fit_sample,
        )
        agg = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("int")).alias("kept"),
            F.countDistinct("component").alias("groups"),
        ).collect()[0]
        print(
            f"vectors={agg['n']}\tkept={agg['kept']}\t"
            f"dropped={agg['n'] - agg['kept']}\tdup_groups={agg['groups']}"
        )
        return 0

    if args.cmd == "contain":
        from .queries.dedup import containment_pairs, shingled_docs

        rows = containment_pairs(
            shingled_docs(spark, args.sf), threshold=args.threshold
        ).collect()
        for r in sorted(rows, key=lambda r: (-r["containment"], r["doc_a"])):
            print(
                f"{r['doc_a']}\t{r['doc_b']}\tcontained={r['contained_doc']}"
                f"\tcontainment={r['containment']:.3f}"
                f"\tjaccard={r['jaccard']:.3f}"
            )
        print(f"# {len(rows)} containment pairs", file=sys.stderr)
        return 0

    if args.cmd == "bpe":
        from .io import read_table
        from .queries.bpe import train_bpe

        docs = read_table(spark, args.sf, "documents")
        for i, (a, b) in enumerate(train_bpe(docs, args.merges)):
            print(f"{i}\t{a}\t{b}")
        return 0

    if args.cmd == "gate":
        from pyspark.sql import functions as F

        from .io import read_table
        from .quality.learned import (
            DEFAULT_KEEP_THRESHOLD,
            learned_quality_scores,
        )

        if args.labels.endswith(".csv"):
            seed = spark.read.csv(
                args.labels, header=True, inferSchema=True
            )
        else:
            seed = spark.read.parquet(args.labels)
        docs = read_table(spark, args.sf, "documents").select(
            "doc_id", "text"
        )
        cut = (
            DEFAULT_KEEP_THRESHOLD
            if args.threshold is None
            else args.threshold
        )
        scores = learned_quality_scores(docs, seed).localCheckpoint()
        kept = scores.where(F.col("score") >= cut).count()
        n = scores.count()
        for r in scores.orderBy(F.col("score").desc()).take(args.limit):
            print(f"{r['doc_id']}\t{r['score']:.4f}")
        print(
            f"# {kept}/{n} docs at or above threshold {cut}",
            file=sys.stderr,
        )
        return 0

    if args.cmd == "cdc":
        from .streaming.jobs import apply_cdc_stream

        schema = spark.read.parquet(args.changes_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(args.changes_dir)
        )
        versions = apply_cdc_stream(
            stream,
            args.table_dir,
            args.checkpoint_dir,
            args.key,
            args.seq,
            delete_col=args.delete_col,
            retain_tombstones=args.retain_tombstones,
        )
        print(f"committed versions: {versions}")
        return 0

    if args.cmd == "snapshots":
        from .snapshots import snapshot_versions

        for r in snapshot_versions(spark, args.table_dir).collect():
            print(
                f"v{r['version']}\tparent={r['parent']}\t{r['operation']}"
                f"\tdirs={r['n_dirs']}\trows={r['rows']}"
                f"\tat={r['committed_at_ns']}"
            )
        return 0

    if args.cmd == "check":
        from .io import read_table
        from .quality.checks import (
            not_null,
            relationships,
            run_checks,
            unique,
        )

        orders = read_table(spark, args.sf, "orders")
        customer = read_table(spark, args.sf, "customer")
        results = [
            not_null(orders, "o_orderkey"),
            unique(orders, "o_orderkey"),
            relationships(orders, "o_custkey", customer, "c_custkey"),
        ]
        for r in results:
            print(r)
        return 0 if run_checks(results) else 1

    raise AssertionError(f"unhandled command {args.cmd}")


if __name__ == "__main__":
    sys.exit(main())
