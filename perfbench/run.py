"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload, one table

Run from the root of a checkout. Each run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, starts the engine's
own Spark session on ``local[nproc]``, warms up, measures for about
``--seconds`` (default: ``run_seconds`` of BENCHMARK.json; each workload
times a fixed amount of work sized by it), checks every output, removes
its inputs and stops every process it started. A readable
report goes to stderr; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
``end_to_end`` list of BENCHMARK.json (``--trace 0``) or its
``per_layer`` list (``--trace 1``). Traced runs also write their spans
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_spark_iceberg_dbt_airflow_spark"

#: workload -> (module, name of one latency sample in the readable report)
WORKLOADS = {
    "analyst_mix": ("analyst_mix", "query"),
    "elt_hourly": ("elt_hourly", "cycle"),
}


class Context:
    """What a workload gets from the harness."""

    def __init__(self, args, work: str) -> None:
        from harness import Tracer

        self.seed: int = args.seed
        self.seconds: float = float(args.seconds)
        self.trace: bool = bool(args.trace)
        self.work = work
        self.tracer = Tracer()
        self.jobs = None  # harness.JobAccount, once the session is up
        self.session_s = 0.0
        self.pids: list[int] = []

    def begin_timed(self) -> None:
        from harness import reset_peak_rss

        reset_peak_rss(self.pids)

    def end_timed(self, out) -> None:
        from harness import peak_rss_mb

        out.peak_rss_mb = peak_rss_mb(self.pids)


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work``; give Python workers
    the package on their import path."""
    from harness import cpu_count

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM of spark-submit: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _run_workload(args, work: str):
    from harness import JobAccount, Outcome, jvm_pid, start_session, stop_session

    module, unit = WORKLOADS[args.workload]
    mod = importlib.import_module(module)
    ctx = Context(args, work)
    mod.prepare(ctx)
    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}", work)
    ctx.session_s = time.perf_counter() - t0
    try:
        ctx.jobs = JobAccount(spark)
        ctx.pids = [os.getpid(), jvm_pid(spark)]
        out = Outcome(unit=unit)
        mod.run(ctx, spark, out)
    finally:
        stop_session(spark)
    return ctx, out


def _per_layer(ctx, out) -> dict[str, float]:
    vals = dict(out.layers)
    vals["session.start_s"] = ctx.session_s
    units = len(out.trace_pairs)
    vals["trace.units"] = units
    if units:
        for layer, s in ctx.tracer.self_times().items():
            vals[f"self_s.{layer}"] = s / units
        over = statistics.median(t - u for u, t in out.trace_pairs)
        vals["trace.overhead_s"] = over
        vals["trace.overhead_share"] = over / statistics.median(
            u for u, _ in out.trace_pairs
        )
    return vals


def _end_to_end(out) -> dict[str, float]:
    """Latency is over request types: each type's median first, so a run
    weighs every query of the mix alike however often the seeded order
    drew it."""
    medians = out.type_medians()
    return {
        "setup_s": out.setup_s,
        "latency_mean_s": statistics.fmean(medians) if medians else 0.0,
        "peak_rss_mb": out.peak_rss_mb,
    }


def _report(args, out, e2e) -> None:
    from harness import tail

    unit = out.unit
    lines = [f"perfbench {args.workload} seed={args.seed} "
             f"seconds={args.seconds} trace={args.trace}"]
    every = [sec for _, sec in out.latencies]
    rows = [
        ("setup_s", out.setup_s, "s", ""),
        ("peak_rss_mb", out.peak_rss_mb, "MB", ""),
        ("error_rate", out.failed / max(out.attempted, 1), "ratio",
         f"{out.failed} of {out.attempted}"),
    ]
    if every:
        value, pct, n = tail(every)
        medians = out.type_medians()
        rows += [
            (f"{unit}_p50_s", statistics.median(medians), "s",
             f"median of {len(medians)} type medians, {n} samples"),
            (f"{unit}_mean_s", e2e["latency_mean_s"], "s",
             f"mean of {len(medians)} type medians"),
            (f"{unit}_tail_s", value, "s", f"p{pct:.0f} of {n} samples"),
        ]
    rows += [(k, v, u, "") for k, (v, u) in out.extra.items()]
    for name, value, u, note in rows:
        lines.append(f"{name:24s} = {value:12.4f} {u:6s} {note}")
    if not out.setup_ok:
        lines.append("golden check FAILED")
    lines += [f"note: {n}" for n in out.notes]
    print("\n".join("# " + ln for ln in lines), file=sys.stderr)


def _main_one(args, spec) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    # a termination request unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    try:
        _isolate(work)
        ctx, out = _run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out.extra["run_wall_s"] = (time.perf_counter() - t0, "s")

    e2e = _end_to_end(out)
    _report(args, out, e2e)
    if args.trace:
        values = _per_layer(ctx, out)
        wanted = spec["per_layer"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl")
        )
    else:
        values, wanted = e2e, spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    # a failed golden check, or a run that attempted nothing, is a failure
    attempted = max(out.attempted, 1)
    failed = out.failed + (not out.setup_ok) + (out.attempted == 0)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _main_all(args) -> int:
    """Run every workload in its own process; print one table."""
    rows = []
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        if p.returncode != 0:
            print(f"{w}: exit {p.returncode}", file=sys.stderr)
            return p.returncode
        res = json.loads(p.stdout.strip().splitlines()[-1])
        for name, m in res["metrics"].items():
            rows.append((w, name, m["value"], m["unit"]))
        rows.append((w, "error_rate", res["failed"] / res["attempted"], "ratio"))
        rows.append((w, "correct", float(res["correct"]), "bool"))
    for w, name, value, unit in rows:
        print(f"{w:14s} {name:32s} {value:14.4f} {unit}")
    return 0


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return _main_all(args)
    return _main_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
