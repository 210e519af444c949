"""Topological pipeline runner -- the engine's rendering of the reference's
orchestration layer.

The reference's top-level dataflow is a 3-node Airflow DAG
(`/root/reference/Iceberg-dbt-project/dags/bitcoin_pipeline_dag.py:26-44`:
extract >> dbt run >> dbt test) where dbt itself resolves ``{{ ref(...) }}``
edges between models (README.md:398). Here both layers collapse into one
in-process registry: a ``Model`` is a named transform with declared refs; the
runner topologically orders them and executes each exactly once, memoizing
outputs -- dbt's DAG semantics without Thrift or containers (SURVEY.md §3.4:
the control-plane boundaries are not query semantics).

``threads=1`` dbt behavior (profiles.yml:10) corresponds to this serial
executor; Spark-level parallelism is inside each model's job, which is where
it belongs at cluster scale.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Model:
    """A dbt-model analog: name + transform(refs...) -> DataFrame."""

    name: str
    fn: Callable[..., DataFrame]  # positional args = resolved refs, in order
    refs: tuple[str, ...] = field(default_factory=tuple)


@dataclass(frozen=True)
class RunConfig:
    """D4: the DAG-level policy knobs, mirroring the reference's
    ``default_args``/schedule (bitcoin_pipeline_dag.py:5-22): ``retries=0``,
    ``schedule='@hourly'``, ``catchup=False``, owner tag.

    ``schedule``/``catchup`` are carried as metadata for an external
    scheduler (cadence is driver-side in tests, SURVEY.md §2.11 D4);
    ``retries`` is enforced by the runner: a model's execution is
    re-attempted up to ``retries`` extra times before the run fails --
    the reference's zero-retry default means fail-fast.
    """

    retries: int = 0
    schedule: str | None = "@hourly"
    catchup: bool = False
    owner: str = "engine"


class PipelineRunner:
    """Resolve ref-edges, run models in dependency order (D2/D5)."""

    def __init__(self, config: RunConfig | None = None) -> None:
        self._models: dict[str, Model] = {}
        self.config = config or RunConfig()

    def add(self, model: Model) -> None:
        if model.name in self._models:
            raise ValueError(f"duplicate model: {model.name}")
        self._models[model.name] = model

    def model(self, name: str, refs: tuple[str, ...] = ()):
        """Decorator form: ``@runner.model('stg', refs=('raw',))``."""

        def deco(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
            self.add(Model(name=name, fn=fn, refs=refs))
            return fn

        return deco

    def _toposort(self, targets: list[str], satisfied: set[str]) -> list[str]:
        order: list[str] = []
        state: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(n: str) -> None:
            if n in satisfied or state.get(n) == 1:
                return
            if state.get(n) == 0:
                raise ValueError(f"cycle through model {n!r}")
            if n not in self._models:
                raise KeyError(f"unknown ref {n!r}")
            state[n] = 0
            for r in self._models[n].refs:
                visit(r)
            state[n] = 1
            order.append(n)

        for t in targets:
            visit(t)
        return order

    def run(
        self,
        targets: list[str] | None = None,
        seeds: dict[str, DataFrame] | None = None,
        materialize: bool = False,
        bucket_key: str | None = None,
        bucket_count: int = 32,
        table_prefix: str = "dag",
    ) -> dict[str, DataFrame]:
        """Execute ``targets`` (default: all) and their upstream refs.

        ``seeds`` pre-populates source models (the ingestion output), the
        analog of the extract task feeding dbt (bitcoin_pipeline_dag.py:44).
        Returns every materialized model by name.

        ``materialize=True`` is dbt's TABLE materialization analog:
        each model's output is eagerly localCheckpoint-ed, so every
        stage computes exactly once however many downstream models (or
        caller actions) read it. Without it models hand lazy lineage
        downstream (dbt's ephemeral/view analog) -- the right default
        for single-consumer chains, but a DAG whose stages are read
        repeatedly (or contain iterative operators) re-executes its
        whole upstream per action. At cluster scale swap the
        checkpoint for real table writes (``incremental_append``
        targets: snapshot tables, one atomic append commit per run) --
        same boundary, durable and time-travelable storage.

        ``bucket_key`` (implies materialization) is that cluster-scale
        swap with the JOIN LAYOUT priced into the write: every model
        whose output carries the key column is written ONCE as a
        bucketed+sorted managed table ``<table_prefix>_<model>``
        (operators/layout.write_bucketed, ``bucket_count`` buckets,
        mode='overwrite'), and downstream models receive the bucketed
        SCAN -- so every stage-to-stage equi-join on the key
        (curation's recurring doc_id joins: curated's 4-way gate
        intersection, cleaned's text re-join, ...) runs with ZERO
        shuffle Exchange and, because the writer guarantees one file
        per bucket, zero Sort under SortMergeJoin. At 100 TB the DAG's
        dominant repeated cost is re-shuffling the corpus by doc_id at
        every boundary; bucketing pays that hash-partition once per
        boundary WRITE (which was happening anyway to materialize) and
        every downstream join reads the layout for free. Models
        without the key column (corpus-wide statistics, packers) fall
        back to localCheckpoint. The whole run executes inside
        ``bucketed_sorted_reader`` -- the session-scoped legacy
        outputOrdering flag is live while downstream plans build, as
        its contract requires (single-threaded runs only; see the
        reader's doc)."""
        results: dict[str, DataFrame] = dict(seeds or {})
        names = targets if targets is not None else list(self._models)
        todo = [t for t in names if t not in results]
        order = self._toposort(todo, satisfied=set(results))
        if bucket_key is None:
            for n in order:
                if n in results:
                    continue
                m = self._models[n]
                out = self._attempt(m, [results[r] for r in m.refs])
                if materialize:
                    out = out.localCheckpoint(eager=True)
                results[n] = out
            return results

        from pyspark.sql import SparkSession

        from ..operators.layout import bucketed_sorted_reader, write_bucketed

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError("bucket_key requires an active SparkSession")
        with bucketed_sorted_reader(spark):
            for n in order:
                if n in results:
                    continue
                m = self._models[n]
                out = self._attempt(m, [results[r] for r in m.refs])
                if bucket_key in out.columns:
                    tbl = f"{table_prefix}_{n}"
                    write_bucketed(
                        out, tbl, bucket_key, bucket_count, sort=True
                    )
                    results[n] = spark.table(tbl)
                else:
                    results[n] = out.localCheckpoint(eager=True)
        return results

    def manifest(
        self, results: dict[str, DataFrame] | None = None
    ) -> dict:
        """The ``dbt docs generate`` analog: a JSON-able description of
        the DAG -- every model with its upstream refs and downstream
        dependents, the topological execution order, undefined refs
        surfaced as sources, and (when ``results`` from a run are
        passed) each model's output schema. Metadata only: building the
        manifest executes nothing.
        """
        sources = sorted(
            {
                r
                for m in self._models.values()
                for r in m.refs
                if r not in self._models
            }
        )
        downstream: dict[str, list[str]] = {n: [] for n in self._models}
        for m in self._models.values():
            for r in m.refs:
                if r in downstream:
                    downstream[r].append(m.name)
        models = {}
        for n, m in sorted(self._models.items()):
            entry: dict = {
                "depends_on": list(m.refs),
                "referenced_by": sorted(downstream[n]),
            }
            if results is not None and n in results:
                entry["columns"] = {
                    f.name: f.dataType.simpleString()
                    for f in results[n].schema.fields
                }
            models[n] = entry
        return {
            "config": {
                "schedule": self.config.schedule,
                "retries": self.config.retries,
                "catchup": self.config.catchup,
                "owner": self.config.owner,
            },
            "sources": sources,
            "models": models,
            "execution_order": self._toposort(
                list(self._models), satisfied=set(sources)
            ),
        }

    def _attempt(self, m: Model, inputs: list[DataFrame]) -> DataFrame:
        """Execute one model with the configured retry policy (D4)."""
        last: Exception | None = None
        for _ in range(self.config.retries + 1):
            try:
                return m.fn(*inputs)
            except Exception as e:  # noqa: BLE001 - policy boundary
                last = e
        raise RuntimeError(
            f"model {m.name!r} failed after {self.config.retries + 1} attempts"
        ) from last
