"""``analyst_mix``: the analysts' read path.

One closed-loop client sends a seeded sequence of registry queries (one
per SQL-surface family) over a seeded star schema. Each request is the
query's ``spark_fn`` call plus an action that folds every output column
into a one-row digest; the digest must equal the golden one made in the
warm pass, which is itself checked against DuckDB with the registry's
oracle SQL before the clock starts.
"""

from __future__ import annotations

import os
import random
import time

import datagen
from harness import TracePlan, digest, fold, order_ops, scan_totals

#: One query per SQL-surface family of the registry. Families tagged
#: llm-data / udf / multimodal belong to other workloads.
MIX = (
    "ref_fct_daily",  # reference
    "agg_pricing_summary",  # aggregate
    "analytics_local_supplier_volume",  # multi-way join + broadcast
    "join_inner_customer_orders",  # join
    "window_daily_trend",  # window
    "subq_predicate_family",  # subquery
    "sort_global_orders",  # sort
    "setop_family",  # setop
    "scalar_row_functions",  # scalar
    "reshape_pivot_unpivot",  # reshape
    "stream_time_windows",  # batch-stream
)
EXCLUDED_TAGS = {"llm-data", "udf", "multimodal"}
#: Seconds one round of the mix takes on a quiet 4-core host. A run times
#: a fixed number of whole rounds, ``seconds / ROUND_S`` (three at 15 s),
#: not as many as fit in ``seconds``: requests keep getting faster over a
#: run's first rounds, so a host that is slower for a minute, and fits one
#: round fewer, would otherwise read slower still.
ROUND_S = 5.0


def prepare(ctx) -> None:
    ctx.data = os.path.join(ctx.work, "data")
    datagen.write_star_schema(ctx.data, ctx.seed)


def _canon(pdf) -> list[tuple]:
    """Order-insensitive canonical rows: columns by name, numbers rounded
    to 6 decimals, temporal values as ISO text."""
    import datetime as dt
    import decimal
    import math

    import numpy as np
    import pandas as pd

    def value(v):
        if isinstance(v, np.ndarray):
            v = v.tolist()
        if isinstance(v, (list, tuple)):
            return tuple(value(x) for x in v)
        if v is None:
            return None
        if isinstance(v, (bool, np.bool_)):
            return bool(v)
        if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
            f = float(v)
            return None if math.isnan(f) else round(f, 6) + 0.0
        if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
            return None if pd.isna(v) else pd.Timestamp(v).isoformat()
        return v

    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(value(v) for v in r) for r in pdf.itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


def _check_folds(spark, specs, data, out) -> None:
    """A timed request must run every sort, top-k and range exchange of
    the query's own plan: the fold around it may not let the optimizer
    drop them."""
    for s in specs:
        df = s.spark_fn(spark, data)
        mine, folded = order_ops(df), order_ops(fold(df))
        if any(folded[k] < n for k, n in mine.items()):
            out.setup_ok = False
            out.notes.append(f"{s.name}: the fold drops ordering {mine} -> {folded}")


def _check_goldens(spark, specs, data, golden, out) -> None:
    """Every golden must match the DuckDB oracle of its query. Untimed:
    the Spark side runs on a thread pool while DuckDB answers."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from harness import cpu_count

    checked = [s for s in specs if s.oracle is not None]
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data)):
            name = f.removesuffix(".parquet")
            path = os.path.join(data, f)
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        with ThreadPoolExecutor(cpu_count()) as pool:
            futures = [
                pool.submit(lambda s: _canon(s.spark_fn(spark, data).toPandas()), s)
                for s in checked
            ]
            oracle = [_canon(con.sql(s.oracle).df()) for s in checked]
            mine = [f.result() for f in futures]
    finally:
        con.close()
    for spec, m, o in zip(checked, mine, oracle):
        if m != o or len(m) != golden[spec.name][0]:
            out.setup_ok = False
            out.notes.append(f"{spec.name}: golden differs from the oracle")


def run(ctx, spark, out) -> None:
    from data_pipeline_spark_iceberg_dbt_airflow_spark.operators.metrics import (
        measure,
    )
    from data_pipeline_spark_iceberg_dbt_airflow_spark.queries import all_queries

    registry = all_queries()
    specs = [registry[n] for n in MIX]
    for spec in specs:
        if EXCLUDED_TAGS & set(spec.tags):
            raise ValueError(f"{spec.name} is outside the analyst mix")

    t0 = time.perf_counter()
    golden = {
        s.name: digest(fold(s.spark_fn(spark, ctx.data)).collect()[0])
        for s in specs
    }
    out.setup_s = ctx.session_s + time.perf_counter() - t0
    t0 = time.perf_counter()
    _check_folds(spark, specs, ctx.data, out)
    _check_goldens(spark, specs, ctx.data, golden, out)
    out.extra["golden_check_s"] = (time.perf_counter() - t0, "s")

    tracer, jobs = ctx.tracer, ctx.jobs
    rng = random.Random(ctx.seed)
    rounds = max(1, round(ctx.seconds / ROUND_S))
    # whole rounds only: every query of the mix runs equally often
    order = [s for _ in range(rounds) for s in rng.sample(specs, len(specs))]
    traced: list[dict] = []
    plan = TracePlan(ctx.trace, ctx.seed)
    ctx.begin_timed()
    i = 0
    while order or plan.mid_pair:
        # traced runs repeat each request, once traced and once not
        on, new = plan.next()
        if new:
            spec = order.pop()
        tracer.active = jobs.enabled = on
        tracer.request = f"q{i}:{spec.name}"
        i += 1
        groups: list[str] = []
        out.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("bench.request"):
                with tracer.span("queries.plan"):
                    df = spec.spark_fn(spark, ctx.data)
                with tracer.span("queries.exec"), jobs.group("q", groups):
                    action = fold(df)
                    row = action.collect()[0]
        except Exception as e:  # noqa: BLE001 - a failed request is counted
            out.fail(f"{spec.name}: {type(e).__name__}: {e}"[:300])
            continue
        lat = time.perf_counter() - t
        if digest(row) != golden[spec.name]:
            out.fail(f"{spec.name}: result digest differs from the golden")
        plan.record(on, lat, out)
        if not on:
            out.latencies.append((spec.name, lat))
            continue
        _, m = measure(action, action=lambda d: None)
        scans = scan_totals(action)
        traced.append({"groups": groups, "rows": row["n"], "m": m, "scans": scans})
    tracer.active = jobs.enabled = False
    ctx.end_timed(out)
    if ctx.trace and traced:
        _layers(ctx, traced, out)


def _layers(ctx, traced, out) -> None:
    n = len(traced)
    ctx.jobs.drain()
    jobs = tasks = 0
    for t in traced:
        j, k = ctx.jobs.jobs_tasks(t["groups"])
        jobs, tasks = jobs + j, tasks + k
    plan = ctx.tracer.durations("queries.plan")
    exe = ctx.tracer.durations("queries.exec")
    result_rows = sum(max(t["rows"], 1) for t in traced)
    out.layers.update({
        "queries.plan_s": sum(plan) / n,
        "queries.exec_s": sum(exe) / n,
        "queries.jobs": jobs / n,
        "queries.tasks": tasks / n,
        "io.scan_files": sum(t["scans"]["files"] for t in traced) / n,
        "io.scan_bytes": sum(t["scans"]["bytes"] for t in traced) / n,
        "io.scan_rows_per_result_row": (
            sum(t["scans"]["rows"] for t in traced) / result_rows
        ),
        "operators.shuffle_bytes": sum(t["m"].shuffle_bytes for t in traced) / n,
        "operators.shuffle_records": (
            sum(t["m"].shuffle_records for t in traced) / n
        ),
        "operators.broadcast_bytes": (
            sum(t["m"].broadcast_bytes for t in traced) / n
        ),
        "operators.spill_bytes": sum(t["m"].spill_bytes for t in traced) / n,
    })
