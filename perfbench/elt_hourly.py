"""``elt_hourly``: the paper's hourly ELT DAG, repeated.

Each cycle is one hour of the reference pipeline:

1. ``sources.ingest.extract_batch`` over many injected sources of the three
   reference parsers, a seeded share of whose fetches fail;
2. ``snapshots.snapshot_append`` of the batch to the raw table;
3. ``plans.runner.PipelineRunner`` builds staging through
   ``plans.incremental.incremental_append`` and then ``fct_daily``
   through ``snapshots.snapshot_overwrite``;
4. the four dbt-style checks of ``quality.checks``;
5. verification reads: latest raw, time travel to the previous raw
   version, and the top-k fct rows.

The raw table starts with seeded history committed the same way, so the
timed cycles run against an aged log (manifests, a checkpoint fold, small
files piling up under staging). One latency sample is one whole cycle.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import datagen
from harness import TracePlan

N_SOURCES = 150
FAIL_SHARE = 0.1
#: raw commits made before the session is warmed: with the warm cycles
#: they put the raw log a few commits short of its next checkpoint fold
#: (``snapshots.CHECKPOINT_EVERY``), so a timed cycle crosses it
HISTORY = 17
WARM_CYCLES = 2
#: Seconds one cycle takes on a quiet 4-core host. A run times a fixed
#: number of cycles, ``seconds / CYCLE_S`` (four at 15 s), not as many as
#: fit in ``seconds``: cycles keep getting faster over a run, so a host
#: that is slower for a minute, and fits fewer cycles, would otherwise
#: read slower still.
CYCLE_S = 3.75
START = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
SOURCES = tuple(datagen.SOURCE_KINDS)


def _timed_cycles(seconds: float) -> int:
    return max(1, round(seconds / CYCLE_S))


def prepare(ctx) -> None:
    # one hour more than the run times: a traced run may finish a pair
    hours = HISTORY + WARM_CYCLES + _timed_cycles(ctx.seconds) + 1
    ctx.payloads = datagen.hourly_payloads(ctx.seed, N_SOURCES, hours, FAIL_SHARE)


def _sources(payloads):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.sources import ingest

    parsers = {
        "coingecko": ingest.parse_coingecko,
        "coincap": ingest.parse_coincap,
        "blockchain_info": ingest.parse_blockchain_info,
    }

    def fetcher(p):
        def fetch():
            if p is None:
                raise datagen.FetchError("planted transport failure")
            return p

        return fetch

    return [
        ingest.BatchSource(
            name=SOURCES[i % 3], fetch=fetcher(p), parse=parsers[SOURCES[i % 3]]
        )
        for i, p in enumerate(payloads)
    ]


def _files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


class Pipeline:
    """The tables and models of one run."""

    def __init__(self, ctx, spark) -> None:
        from pyspark.sql import functions as F

        from data_pipeline_spark_iceberg_dbt_airflow_spark import snapshots
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.incremental import (
            incremental_append,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.models import (
            fct_daily,
            stg_from_raw,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.plans.runner import (
            Model,
            PipelineRunner,
        )
        from data_pipeline_spark_iceberg_dbt_airflow_spark.quality import checks

        self.F, self.snap, self.checks = F, snapshots, checks
        self.ctx, self.spark = ctx, spark
        self.tables = os.path.join(ctx.work, "tables")
        self.raw = os.path.join(self.tables, "raw")
        self.stg = os.path.join(self.tables, "stg")
        self.fct = os.path.join(self.tables, "fct")
        self.hour = 0
        self.expected_rows = 0  # records that survived extraction so far
        self.expected_max = float("-inf")  # highest price_usd ingested
        self.groups: dict[str, list[str]] = {}
        tr, jobs = ctx.tracer, ctx.jobs

        def g(layer):
            return jobs.group(layer, self.groups.setdefault(layer, []))

        def raw_model():
            with tr.span("plans.model.raw"), tr.span("snapshots.read"), g("snapshots"):
                return snapshots.snapshot_read(spark, self.raw)

        def stg_model(raw):
            with tr.span("plans.model.stg"):
                return incremental_append(
                    spark, raw, self.stg,
                    watermark_col="extracted_at", transform=stg_from_raw,
                )

        def fct_model(stg):
            with tr.span("plans.model.fct"):
                with tr.span("snapshots.commit"), g("snapshots"):
                    snapshots.snapshot_overwrite(fct_daily(stg), self.fct)
                with tr.span("snapshots.read"), g("snapshots"):
                    return snapshots.snapshot_read(spark, self.fct)

        self.runner = PipelineRunner()
        self.runner.add(Model("raw", raw_model))
        self.runner.add(Model("stg", stg_model, refs=("raw",)))
        self.runner.add(Model("fct", fct_model, refs=("stg",)))
        self.g = g

    def ingest(self, payloads) -> tuple[object, int]:
        """Extract and append one hour; returns (raw version, records)."""
        from data_pipeline_spark_iceberg_dbt_airflow_spark.sources.ingest import (
            extract_batch,
        )

        tr = self.ctx.tracer
        now = START + dt.timedelta(hours=self.hour)
        self.hour += 1
        with tr.span("sources.extract"):
            batch = extract_batch(self.spark, _sources(payloads), now=now)
        with tr.span("snapshots.commit"), self.g("snapshots"):
            version = self.snap.snapshot_append(batch, self.raw)
        good = [p for p in payloads if p is not None]
        self.expected_rows += len(good)
        self.expected_max = max(
            [self.expected_max] + [datagen.payload_usd(p) for p in good]
        )
        return version, len(good)

    def cycle(self, payloads) -> dict:
        """One hour end to end; returns what went wrong (``why``) and what
        the traced run records."""
        F, tr, snap = self.F, self.ctx.tracer, self.snap
        version, records = self.ingest(payloads)
        with tr.span("plans.run"):
            res = self.runner.run()
        stg, fct = res["stg"], res["fct"]
        grain = F.concat_ws(
            "|", "extraction_date", "data_source", "crypto_symbol"
        ).alias("grain")
        with tr.span("quality.checks"), self.g("quality"):
            results = [
                self.checks.not_null(stg, "data_source"),
                self.checks.unique(fct.select(grain), "grain"),
                self.checks.accepted_values(stg, "data_source", SOURCES),
                self.checks.relationships(fct, "data_source", stg, "data_source"),
            ]
        with tr.span("bench.verify"):
            with tr.span("snapshots.read"), self.g("snapshots"):
                latest = snap.snapshot_read(self.spark, self.raw)
                previous = snap.snapshot_read(self.spark, self.raw, version=version - 1)
            n_latest, n_prev = latest.count(), previous.count()
            top = fct.orderBy(F.desc("max_price_usd")).limit(3).collect()
            n_stg = stg.count()
            fct_records = fct.agg(F.sum("records")).collect()[0][0]
        why = []
        if not self.checks.run_checks(results):
            why.append("checks: " + ", ".join(str(r) for r in results if not r.passed))
        if n_latest != self.expected_rows:
            why.append(f"raw rows {n_latest} != {self.expected_rows} extracted")
        if n_prev != self.expected_rows - records:
            why.append(f"time travel read {n_prev} rows, expected {self.expected_rows - records}")
        if n_stg != n_latest or fct_records != n_stg:
            why.append(f"stg {n_stg} / fct records {fct_records} / raw {n_latest} differ")
        if not top or top[0]["max_price_usd"] != self.expected_max:
            why.append("top-k max price differs from the inputs")
        # what the program appended, for the sources layer's figures; the
        # planted count above is only the expectation
        return {"why": why, "appended": n_latest - n_prev, "checks": results,
                "stg": stg}


def run(ctx, spark, out) -> None:
    tr, jobs = ctx.tracer, ctx.jobs
    p = Pipeline(ctx, spark)
    payloads = iter(ctx.payloads)
    for _ in range(HISTORY):
        p.ingest(next(payloads))

    t0 = time.perf_counter()
    for _ in range(WARM_CYCLES):
        for why in p.cycle(next(payloads))["why"]:
            out.setup_ok = False
            out.notes.append(f"warm hour {p.hour - 1}: {why}")
    out.setup_s = ctx.session_s + time.perf_counter() - t0

    traced = []
    files_before = _files(p.raw) + _files(p.fct)
    plan = TracePlan(ctx.trace, ctx.seed)
    cycles = _timed_cycles(ctx.seconds)
    ctx.begin_timed()
    i = 0
    while i < cycles or plan.mid_pair:
        on, _ = plan.next()
        tr.active = jobs.enabled = on
        tr.request = f"hour{p.hour}"
        i += 1
        out.attempted += 1
        t = time.perf_counter()
        try:
            with tr.span("bench.cycle"):
                rec = p.cycle(next(payloads))
        except Exception as e:  # noqa: BLE001 - a failed cycle is counted
            out.fail(f"hour {p.hour - 1}: {type(e).__name__}: {e}"[:300])
            continue
        lat = time.perf_counter() - t
        if rec["why"]:
            out.fail(f"hour {p.hour - 1}: " + "; ".join(rec["why"]))
        plan.record(on, lat, out)
        if not on:
            out.latencies.append(("cycle", lat))
            files_before = _files(p.raw) + _files(p.fct)
            continue
        files_now = _files(p.raw) + _files(p.fct)
        versions = p.snap.snapshot_versions(spark, p.raw).collect()
        rec.update(
            files_written=files_now - files_before,
            live_dirs=versions[-1]["n_dirs"],
            stg_files=len(rec["stg"].inputFiles()),
        )
        files_before = files_now
        traced.append(rec)
    tr.active = jobs.enabled = False
    ctx.end_timed(out)

    stored = _bytes(p.raw) + _bytes(p.stg) + _bytes(p.fct)
    out.extra["stored_bytes_per_row"] = (stored / p.expected_rows, "B/row")
    out.extra["raw_commits"] = (float(p.hour), "count")
    if ctx.trace and traced:
        _layers(ctx, p.groups, traced, out)
    out.layers["snapshots.stored_bytes_per_row"] = stored / p.expected_rows


def _layers(ctx, groups, traced, out) -> None:
    n = len(traced)
    tr = ctx.tracer
    ctx.jobs.drain()

    def jobs(layer):
        return ctx.jobs.jobs_tasks(groups.get(layer, []))[0] / n

    records = sum(t["appended"] for t in traced)
    out.layers.update({
        "sources.extract_s": sum(tr.durations("sources.extract")) / n,
        "sources.records": records / n,
        "sources.failed": N_SOURCES - records / n,
        "sources.yield": records / (N_SOURCES * n),
        "snapshots.commit_s": sum(tr.durations("snapshots.commit")) / n,
        "snapshots.read_plan_s": sum(tr.durations("snapshots.read")) / n,
        "snapshots.live_dirs": sum(t["live_dirs"] for t in traced) / n,
        "snapshots.files_written": sum(t["files_written"] for t in traced) / n,
        "plans.model_s.raw": sum(tr.durations("plans.model.raw")) / n,
        "plans.model_s.stg": sum(tr.durations("plans.model.stg")) / n,
        "plans.model_s.fct": sum(tr.durations("plans.model.fct")) / n,
        "plans.stg_files_read": sum(t["stg_files"] for t in traced) / n,
        "quality.check_s": sum(tr.durations("quality.checks")) / n,
        "quality.checks": sum(len(t["checks"]) for t in traced) / n,
        "quality.failing_rows": (
            sum(r.failing_rows for t in traced for r in t["checks"]) / n
        ),
    })
    out.layers["snapshots.jobs"] = jobs("snapshots")
    out.layers["quality.jobs"] = jobs("quality")
