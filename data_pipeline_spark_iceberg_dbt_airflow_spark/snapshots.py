"""Engine-native table snapshots: append/overwrite commits, snapshot
listing, and time travel over plain parquet.

The reference's S11 capability is Iceberg snapshot metadata + time
travel (`SELECT * FROM t.snapshots`, rollback by snapshot id --
the reference's README.md:301,712). The engine runs without the
iceberg-spark-runtime jar (SCALING.md), so THIS module provides the
same contract engine-natively and is its only table writer: the
reference's append (S6) and CTAS (S8) sinks are ``snapshot_append``
and ``snapshot_overwrite``, its ``.snapshots`` scan (S11) is
``snapshot_versions`` and ``snapshot_read``. It uses the standard
log-structured table format design (the mechanism Iceberg/Delta
themselves use):

- Every commit writes its data files ONCE under an immutable,
  uuid-named directory ``<table>/data/<uuid>/`` -- files are never
  mutated or deleted by writers, so readers need no locks, and a lost
  commit race retries only the manifest publish, never the data write.
- A commit then publishes ONE manifest ``<table>/_snapshots/v<N>.json``
  naming the data-directory BASENAMES live at that snapshot (append =
  parent's list + the new dir; overwrite = just the new dir); names
  resolve against the caller's table_dir at read time, so tables can
  move and no path-spelling mismatch can fool the vacuum liveness
  check. The manifest is written complete to a temp file (fsync'd) and
  hard-LINKED to its final name: link() is an atomic exclusive create,
  so two racing writers cannot both publish version N (the loser
  retries at N+1 against the winner's state -- optimistic concurrency
  exactly as Delta's transaction log does it) and no reader can ever
  observe a partial manifest. On an object store, swap the link for a
  conditional PUT (if-none-match). Commit timestamps are clamped
  monotone over the parent so as-of-timestamp reads stay consistent
  under wall-clock steps.
- Every manifest also carries a snapshot SUMMARY, the metadata an
  Iceberg manifest list keeps: ``schemas`` (the distinct live schemas,
  oldest first), ``rows`` (the snapshot's total row count), ``stats``
  (column -> [min, max] of every integer, floating-point, date and
  timestamp column, in Spark's internal form) and ``nulls`` (top-level
  column -> NULL count, Iceberg's ``null_value_counts``). The data
  write carries a ``df.observe`` of those aggregates, so the summary
  costs no extra Spark job. Append merges the new commit's summary
  into the parent's (``nulls`` summed over the columns both hold);
  overwrite and merge take the new commit's; rollback copies the
  target's. The summary stays O(1) per manifest: it never lists
  per-directory facts. The frame ``snapshot_read`` returns carries its
  snapshot's ``nulls`` (``read_null_counts``) while the snapshot has one
  live schema, so a NULL count of that unmodified frame runs no job.
- Reading snapshot N = ``spark.read.schema(recorded).parquet(
  *live_dirs)``: plans, pushdown, and pruning are ordinary parquet
  scans, and passing the recorded schema spares the footer-inference
  Spark job a schema-less read (and ``mergeSchema``'s all-footer job)
  would run. The read roots stay the live DIRECTORIES, not file lists:
  more than 32 root paths
  (``spark.sql.sources.parallelPartitionDiscovery.threshold``) launch
  Spark's parallel-listing job (on a 4-core host: 33 or 40 paths 1 job
  and about 0.26 s, 32 paths 0 jobs and 0.05 s). Each append adds a
  live directory and ``snapshot_vacuum`` never merges them, so an
  hourly table crosses that cliff after 32 appends; a
  ``snapshot_compact`` that rewrites the live directories into one is
  open work (ROADMAP direction 1). Time travel by timestamp picks the
  newest manifest committed at or before the requested instant.
- Every manifest is a FULL state: it names every live directory and
  carries the whole snapshot summary, never a delta against its
  parent. One manifest therefore defines its snapshot alone, and each
  operation parses only the manifest it needs (Iceberg's reader loads
  only the current metadata file for the same reason): a latest read
  or a commit parses the newest ``v<N>.json``, ``version=k`` parses
  ``v<k>.json``, and ``as_of_ns`` bisects over the versions, which is
  sound because ``_next_ts`` keeps commit times monotone in version.
  No log replay and so no checkpoint fold (Delta needs one because
  its commits record incremental actions). Only the ``.snapshots``
  metadata scan and vacuum parse every surviving manifest, and
  ``snapshot_vacuum(keep_versions=)`` is what bounds the log.

Scale shape: manifests are driver-side metadata (KBs; one tiny JSON
per commit -- the same driver-coordinated commit every table format
performs); data moves only through executor parquet writes. Not
provided (use the real Iceberg runtime in production): file-level
delete vectors, hidden partition transforms, and multi-table
transactions.
"""

from __future__ import annotations

import bisect
import json
import os
import time
import uuid
import weakref
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


#: Column types whose min and max every commit records: fixed-width and
#: orderable, so the internal form (``DataType.toInternal``) of a value
#: is one JSON number.
STAT_TYPES = (
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    FloatType,
    DoubleType,
    DateType,
    TimestampType,
    TimestampNTZType,
)


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_snapshots")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_dir), f"v{version:08d}.json")


def _versions(table_dir: str) -> list[int]:
    """The published versions, ascending, from one listing of the log."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".json") and n[1:-5].isdigit()
    )


def _manifest(table_dir: str, version: int) -> dict:
    """Parse one manifest; a torn or corrupt file raises ``ValueError``."""
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def _latest(table_dir: str) -> dict | None:
    """The newest manifest, or None before the first commit."""
    versions = _versions(table_dir)
    return _manifest(table_dir, versions[-1]) if versions else None


def _live_paths(table_dir: str, manifest: dict) -> list[str]:
    """Manifests record data-directory BASENAMES (never absolute
    paths): resolved against the caller's table_dir at use time, so a
    table can be moved/renamed, and equivalent-but-different spellings
    of table_dir ('tbl' vs './tbl' vs an absolute path) can never make
    a liveness comparison miss -- a string-compare miss in vacuum would
    delete live data."""
    root = os.path.join(table_dir, "data")
    return [os.path.join(root, d) for d in manifest["dirs"]]


def _publish(table_dir: str, version: int, manifest: dict) -> bool:
    """Atomically publish a manifest: write the full JSON to a hidden
    temp name, fsync, then hard-link to the final name -- link() is an
    atomic exclusive create, so readers can never observe an empty or
    truncated v<N>.json (open('x') + dump would expose one between the
    create and the write, and a writer dying mid-dump would brick every
    subsequent load). Returns False if another writer won the version.

    A ``snapshot_vacuum`` racing outside its documented no-commit-in-
    flight contract can sweep the temp file between the write and the
    link; rather than crash the commit, the FileNotFoundError retries
    the temp write under a fresh uuid (the sweep is also age-gated, so
    a single retry suffices in practice -- the loop is belt-and-braces)."""
    for _ in range(3):
        tmp = os.path.join(
            _manifest_dir(table_dir), f".tmp-{uuid.uuid4().hex}"
        )
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, _manifest_path(table_dir, version))
            return True
        except FileExistsError:
            return False
        except FileNotFoundError:
            continue  # a racing vacuum swept tmp: rewrite and relink
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass
    raise OSError(
        f"could not publish manifest v{version}: temp manifests kept "
        "disappearing (a vacuum is racing this commit)"
    )


def _next_ts(parent: dict | None) -> int:
    """Commit timestamp, clamped MONOTONE over the parent's: a wall
    clock stepped backwards (NTP) must not let as-of-timestamp reads
    pick a snapshot whose content postdates the requested instant --
    the same invariant Delta/Iceberg enforce."""
    now = time.time_ns()
    return max(now, parent["committed_at_ns"] + 1) if parent else now


class SnapshotConflictError(RuntimeError):
    """A read-modify-write commit (merge) found the table advanced past
    the snapshot it was derived from -- retrying the manifest alone
    would silently erase the concurrent commit's rows, so the whole
    operation must be re-run against the new state (Delta raises
    ConcurrentAppendException for the same situation)."""


def _as_nullable(dtype: DataType) -> DataType:
    """The type as Parquet stores it: every field, element and map value
    nullable (Spark's ``asNullable``), which is what a read infers."""
    if isinstance(dtype, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(_as_nullable(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(
            _as_nullable(dtype.keyType), _as_nullable(dtype.valueType), True
        )
    return dtype


def _col(name: str) -> Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _observed(df: DataFrame) -> tuple[DataFrame, Observation, list]:
    """``df`` with an observation of its row count, the non-NULL count of
    every top-level column and the min and max of every ``STAT_TYPES``
    column. The metrics ride the data write's own job: no extra Spark
    job."""
    obs = Observation()
    fields = [f for f in df.schema.fields if isinstance(f.dataType, STAT_TYPES)]
    exprs = [F.count(F.lit(1)).alias("rows")]
    for i, f in enumerate(fields):
        col = _col(f.name)
        exprs += [F.min(col).alias(f"min{i}"), F.max(col).alias(f"max{i}")]
    exprs += [F.count(_col(n)).alias(f"n{j}") for j, n in enumerate(df.columns)]
    return df.observe(obs, *exprs), obs, fields


def _summary(df: DataFrame, obs: Observation, fields: list) -> dict:
    """One commit's snapshot summary from its written frame and metrics:
    ``schemas`` (its schema as stored), ``rows``, ``stats`` (column ->
    [min, max] in Spark's internal form; [None, None] when the column
    holds no value) and ``nulls`` (column -> NULL count)."""
    got = obs.get
    return {
        "schemas": [_as_nullable(df.schema).jsonValue()],
        "rows": got["rows"],
        "stats": {
            f.name: [
                f.dataType.toInternal(got[f"min{i}"]),
                f.dataType.toInternal(got[f"max{i}"]),
            ]
            for i, f in enumerate(fields)
        },
        "nulls": {n: got["rows"] - got[f"n{j}"] for j, n in enumerate(df.columns)},
    }


def _summary_of(m: dict) -> dict:
    """A manifest's summary; ``nulls`` only when the manifest has it (a
    manifest written before it existed does not)."""
    keys = ("schemas", "rows", "stats") + (("nulls",) if "nulls" in m else ())
    return {k: m[k] for k in keys}


def _field_types(schemas: list[dict]) -> dict[str, DataType]:
    """Column -> type over a summary's schemas; the first schema holding a
    column decides (an append only merges stats of a column whose types
    agree, so every schema that holds a column with stats agrees)."""
    out: dict[str, DataType] = {}
    for s in schemas:
        for f in StructType.fromJson(s).fields:
            out.setdefault(f.name, f.dataType)
    return out


def _spark_order(v):
    # Spark orders NaN above every other double, +inf included
    return (v != v, v)


def _append_summary(parent: dict, new: dict) -> dict:
    """The summary of parent + new as one snapshot. A column keeps stats
    only while every side holding it has them with one type: a side with
    the column but no stats (another type) makes its range unknown. A
    column keeps its NULL count only while both sides hold it, and the
    summary keeps ``nulls`` only while both sides have them."""
    ptypes = _field_types(parent["schemas"])
    ntypes = _field_types(new["schemas"])
    stats = {}
    for name in dict.fromkeys([*parent["stats"], *new["stats"]]):
        pt, nt = ptypes.get(name), ntypes.get(name)
        if pt is not None and nt is not None and pt != nt:
            continue
        sides = [
            side["stats"].get(name)
            for side, t in ((parent, pt), (new, nt))
            if t is not None
        ]
        if None in sides:
            continue
        los = [lo for lo, _ in sides if lo is not None]
        his = [hi for _, hi in sides if hi is not None]
        stats[name] = [
            min(los, key=_spark_order) if los else None,
            max(his, key=_spark_order) if his else None,
        ]
    out = {
        "schemas": parent["schemas"]
        + [s for s in new["schemas"] if s not in parent["schemas"]],
        "rows": parent["rows"] + new["rows"],
        "stats": stats,
    }
    if "nulls" in parent and "nulls" in new:
        pn = parent["nulls"]
        out["nulls"] = {c: pn[c] + n for c, n in new["nulls"].items() if c in pn}
    return out


def _commit(
    table_dir: str,
    df: DataFrame,
    operation: str,
    expected_parent: int | None = None,
) -> int:
    """Write data ONCE, then publish the next manifest with optimistic
    concurrency. Only the (tiny) manifest publish retries on a lost
    race -- re-running the parquet write per conflict would pay the
    dominant cost N times and orphan N directories; the data dir's name
    is a bare uuid precisely so it is version-independent.

    ``expected_parent`` guards read-modify-write commits: when set, the
    publish only proceeds while the latest version still equals it --
    content derived from snapshot N must not land on top of an unseen
    N+1 (lost update). Blind appends/overwrites pass None: their
    content is base-independent, so retrying at N+1 is always sound.
    On conflict the just-written data dir is left as an orphan for
    ``snapshot_vacuum`` -- never half-referenced."""
    data_root = os.path.join(table_dir, "data")
    os.makedirs(data_root, exist_ok=True)
    os.makedirs(_manifest_dir(table_dir), exist_ok=True)
    new_name = uuid.uuid4().hex
    observed, obs, fields = _observed(df)
    observed.write.mode("overwrite").parquet(os.path.join(data_root, new_name))
    summary = _summary(df, obs, fields)
    while True:
        parent = _latest(table_dir)
        version = parent["version"] + 1 if parent else 0
        if expected_parent is not None and version != expected_parent + 1:
            raise SnapshotConflictError(
                f"table at {table_dir} advanced to v{version - 1} while "
                f"a {operation} was computed against v{expected_parent}; "
                "re-run the operation against the current snapshot"
            )
        if operation == "append" and parent:
            dirs = parent["dirs"] + [new_name]
            live = _append_summary(_summary_of(parent), summary)
        else:
            dirs = [new_name]
            live = summary
        manifest = {
            "version": version,
            "parent": parent["version"] if parent else None,
            "operation": operation,
            "committed_at_ns": _next_ts(parent),
            "dirs": dirs,
            **live,
        }
        if _publish(table_dir, version, manifest):
            return version
        # another writer won version N; retry the manifest only


def snapshot_append(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as an APPEND snapshot; returns the new version.
    (No session parameter: commits are the frame's own write plus
    driver-side manifest metadata -- ``df`` carries its session.)"""
    return _commit(table_dir, df, "append")


def snapshot_overwrite(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as a full-replace snapshot; returns the version."""
    return _commit(table_dir, df, "overwrite")


def snapshot_rollback(table_dir: str, version: int) -> int:
    """Roll the table back to ``version`` AS A NEW COMMIT (Iceberg's
    rollback semantics): history is never rewritten -- a manifest with
    operation='rollback' republishes the old snapshot's directory list,
    so the bad snapshots stay inspectable and the rollback itself is
    time-travelable."""
    target = _pick(table_dir, version, None)
    while True:
        parent = _latest(table_dir)
        new_version = parent["version"] + 1
        manifest = {
            "version": new_version,
            "parent": parent["version"],
            "operation": "rollback",
            "committed_at_ns": _next_ts(parent),
            "dirs": target["dirs"],
            **_summary_of(target),
        }
        if _publish(table_dir, new_version, manifest):
            return new_version


def snapshot_vacuum(
    table_dir: str,
    keep_versions: int | None = None,
    tmp_grace_s: float = 3600.0,
) -> list[str]:
    """Delete data directories no manifest references (orphans from
    lost commit races) and, when ``keep_versions`` is given, expire all
    but the newest N manifests first (their exclusively-held dirs
    become orphans and are swept in the same pass). Returns the deleted
    directory paths.

    The maintenance counterpart of optimistic commits: losers leave
    unreferenced data dirs behind by design (see ``_commit``); readers
    never see them, so the sweep is safe whenever no commit is
    IN FLIGHT -- run it from the single maintenance owner, exactly like
    Iceberg's expire_snapshots/remove_orphan_files pair. History that
    survives ``keep_versions`` remains fully time-travelable, and
    expiry is what bounds the manifest listing of a long-lived table.

    Liveness comes from every SURVIVING manifest, parsed before
    anything is deleted: one that cannot be parsed raises and nothing
    is swept. Expiry removes the oldest manifests first, so an expiry
    interrupted by a failed remove raises with a contiguous tail of
    versions left, every one a full state and readable; re-run vacuum
    to finish it.
    """
    import shutil

    if keep_versions is not None and keep_versions < 1:
        # keep_versions=0 would expire EVERY manifest (current snapshot
        # included) and the sweep would then delete the whole table
        raise ValueError("keep_versions must be >= 1")
    versions = _versions(table_dir)
    expired = versions[:-keep_versions] if keep_versions is not None else []
    survivors = [_manifest(table_dir, v) for v in versions[len(expired) :]]
    for v in expired:
        os.remove(_manifest_path(table_dir, v))
    # liveness compares BASENAMES (what manifests store), immune to
    # table_dir spelling differences; a path stored by the pre-basename
    # format compares by its basename too, so it can never make vacuum
    # delete the live directory it names
    live = {os.path.basename(d.rstrip("/")) for m in survivors for d in m["dirs"]}
    data_root = os.path.join(table_dir, "data")
    removed = []
    if os.path.isdir(data_root):
        for name in sorted(os.listdir(data_root)):
            if name not in live:
                path = os.path.join(data_root, name)
                shutil.rmtree(path)
                removed.append(path)
    # A writer killed between the temp write and os.link leaks a
    # .tmp-<uuid> manifest forever (its finally never ran); no live
    # commit ever references a temp name, so sweeping them is safe.
    # The sweep is AGE-GATED (mtime older than tmp_grace_s): a vacuum
    # run outside the documented no-commit-in-flight contract must not
    # yank the temp file out from under an in-flight _publish (which
    # would also retry, but the gate keeps the common case race-free --
    # no live commit holds a temp file for an hour).
    mdir = _manifest_dir(table_dir)
    if os.path.isdir(mdir):
        cutoff = time.time() - tmp_grace_s
        for name in sorted(os.listdir(mdir)):
            if name.startswith(".tmp-"):
                path = os.path.join(mdir, name)
                try:
                    if os.path.getmtime(path) <= cutoff:
                        os.remove(path)
                        removed.append(path)
                except FileNotFoundError:
                    pass  # the owning writer's finally beat us to it
    return removed


def snapshot_exists(table_dir: str) -> bool:
    """True when at least one manifest is PUBLISHED. Callers must use
    this -- not the existence of the ``_snapshots`` directory -- to
    decide bootstrap-vs-merge: ``_commit`` creates the directory before
    the (slow) data write, so a writer crashing mid-first-commit leaves
    the directory present with zero manifests. A name check only (no
    JSON parse): per-micro-batch callers must not pay O(commits) log
    parsing for a bool."""
    return bool(_versions(table_dir))


def snapshot_versions(spark: SparkSession, table_dir: str) -> DataFrame:
    """The `.snapshots` metadata scan: one row per committed snapshot
    (version, parent, operation, committed_at, n_dirs, rows). ``rows``
    is the snapshot's total row count from its manifest summary
    (Iceberg's ``total-records``): no data file is read."""
    manifests = [_manifest(table_dir, v) for v in _versions(table_dir)]
    rows = [
        (
            m["version"],
            m["parent"],
            m["operation"],
            m["committed_at_ns"],
            len(m["dirs"]),
            m["rows"],
        )
        for m in manifests
    ]
    return spark.createDataFrame(
        rows,
        "version int, parent int, operation string, "
        "committed_at_ns long, n_dirs int, rows long",
    )


def _pick(
    table_dir: str, version: int | None, as_of_ns: int | None
) -> dict:
    """The manifest of the latest snapshot, an explicit ``version``, or
    the newest one committed at or before ``as_of_ns``. Parses that one
    manifest; ``as_of_ns`` bisects on commit times, which ``_next_ts``
    keeps monotone in version, so it parses O(log versions)."""
    if version is not None and as_of_ns is not None:
        raise ValueError("pass version OR as_of_ns, not both")
    if version is not None:
        try:
            return _manifest(table_dir, version)
        except FileNotFoundError:
            raise ValueError(
                f"no snapshot version {version} at {table_dir}"
            ) from None
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    if as_of_ns is None:
        return _manifest(table_dir, versions[-1])
    parsed: dict[int, dict] = {}

    def committed_at(v: int) -> int:
        parsed[v] = _manifest(table_dir, v)
        return parsed[v]["committed_at_ns"]

    i = bisect.bisect_right(versions, as_of_ns, key=committed_at)
    if i == 0:
        raise ValueError(f"no snapshot at or before {as_of_ns} at {table_dir}")
    return parsed.get(versions[i - 1]) or _manifest(table_dir, versions[i - 1])


def snapshot_summary(
    table_dir: str, version: int | None = None, as_of_ns: int | None = None
) -> dict:
    """What the manifest knows about a snapshot (picked as in
    ``snapshot_read``), decoded, with no Spark job: ``version``,
    ``rows``, ``schemas`` (the distinct live schemas, oldest first),
    ``stats``, column -> (min, max) as ``collect()`` returns them, for
    every ``STAT_TYPES`` column ((None, None) when the column holds no
    value), and ``nulls``, top-level column -> NULL count for every
    column each live commit holds (None when the manifest predates
    NULL counts)."""
    m = _pick(table_dir, version, as_of_ns)
    types = _field_types(m["schemas"])
    return {
        "version": m["version"],
        "rows": m["rows"],
        "schemas": [StructType.fromJson(s) for s in m["schemas"]],
        "stats": {
            name: tuple(types[name].fromInternal(v) for v in bounds)
            for name, bounds in m["stats"].items()
        },
        "nulls": m.get("nulls"),
    }


def _merge_schemas(a: StructType, b: StructType) -> StructType:
    """Parquet ``mergeSchema``'s union: ``a``'s fields in order (nested
    structs merged the same way), then ``b``'s new fields in order."""
    theirs = {f.name: f for f in b.fields}
    fields = []
    for f in a.fields:
        g = theirs.get(f.name)
        if g is None or g.dataType == f.dataType:
            fields.append(f)
        elif isinstance(f.dataType, StructType) and isinstance(
            g.dataType, StructType
        ):
            merged = _merge_schemas(f.dataType, g.dataType)
            fields.append(StructField(f.name, merged, True, f.metadata))
        else:
            raise ValueError(
                f"column {f.name} is {f.dataType.simpleString()} in one "
                f"commit and {g.dataType.simpleString()} in another"
            )
    ours = set(a.fieldNames())
    return StructType(fields + [g for g in b.fields if g.name not in ours])


#: frame -> NULL counts of the snapshot it reads, for the frames
#: ``snapshot_read`` returned; a derived frame is another object
_READ_NULLS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of_ns: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the table at a snapshot: latest by default, an explicit
    ``version``, or time travel to the newest snapshot committed at or
    before ``as_of_ns``. Plain parquet scans of the live directories --
    pushdown/pruning behave exactly as any other read -- under the
    schema the manifest recorded, so planning reads no footer and runs
    no Spark job. That schema is the oldest live one; footer inference
    would take the schema of the file whose path sorts first, which
    for uuid-named directories is any of them once appends evolved the
    schema. Pass ``merge_schema=True`` when they did: the read schema
    is then the union of the live schemas, merged as Parquet
    ``mergeSchema`` merges them but oldest first rather than in path
    order, so columns added later read as NULL for older directories
    (the same union-by-name posture as ``io.read_evolving``). While the
    snapshot has one live schema, the returned frame carries the
    manifest's NULL counts (``read_null_counts``)."""
    picked = _pick(table_dir, version, as_of_ns)
    schemas = [StructType.fromJson(s) for s in picked["schemas"]]
    schema = reduce(_merge_schemas, schemas) if merge_schema else schemas[0]
    df = spark.read.schema(schema).parquet(*_live_paths(table_dir, picked))
    if len(schemas) == 1 and "nulls" in picked:
        _READ_NULLS[df] = picked["nulls"]
    return df


def read_null_counts(df: DataFrame) -> dict[str, int] | None:
    """Top-level column -> NULL count of ``df`` when it is a frame
    ``snapshot_read`` returned, unmodified, over a snapshot with one live
    schema whose manifest records NULL counts; otherwise None. With one
    schema every live commit holds every column, so the manifest's sums
    are exactly what a scan of the frame would count."""
    return _READ_NULLS.get(df)


def snapshot_merge(
    updates: DataFrame,
    table_dir: str,
    key_col: str,
    delete_col: str | None = None,
) -> int:
    """MERGE INTO over the snapshot layer: upsert ``updates`` by
    ``key_col`` -- matched target rows are replaced, unmatched update
    rows are inserted, and (when ``delete_col`` names a boolean column)
    update rows flagged true DELETE their target match instead. One
    commit; the pre-merge state stays time-travelable, which is the
    lakehouse MERGE contract (Iceberg/Delta) this layer mirrors.

    Plan shape: the target's live files are read once, survivors come
    from one ``left_anti`` join against the (pruned) update keys --
    16-byte-key shuffle, never a row-by-row lookup -- and the union
    with the inserts lands as an overwrite commit. NULL-key and
    duplicate-key update rows are rejected in ONE aggregate pass: a
    NULL never matches in the anti-join so each replay would re-insert
    it (the same idempotency rule as
    ``plans.incremental.incremental_dedup_append``), and two source
    rows for one key would both insert -- the "multiple source rows
    matched" error every lakehouse MERGE raises. The target is read
    at the base version with ``merge_schema=True`` (the union of its
    live schemas, taken from the manifest: no footer job) so columns
    added by later appends survive the rewrite (the union is by name
    with missing columns NULL-filled on either side). Merge is
    read-modify-write: the commit pins the base version and raises ``SnapshotConflictError`` if the table advanced
    underneath -- silently republishing would erase the concurrent
    commit's rows. At real scale the rewrite cost is the whole table;
    partition the table (one snapshot table per partition) or use real
    Iceberg merge-on-read where update/table ratios are tiny.
    """
    spark = updates.sparkSession
    key_stats = updates.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(key_col).alias("n_nonnull"),
        F.countDistinct(key_col).alias("n_keys"),
    ).first()
    if key_stats["n"] != key_stats["n_nonnull"]:
        raise ValueError(f"NULL {key_col} in updates: not mergeable")
    if key_stats["n_keys"] != key_stats["n_nonnull"]:
        raise ValueError(
            f"duplicate {key_col} in updates: multiple source rows "
            "would match one target row (ambiguous MERGE)"
        )
    if delete_col is not None:
        dtype = updates.schema[delete_col].dataType.simpleString()
        if dtype != "boolean":
            # A lossy cast ('yes' -> NULL) would silently turn an
            # intended update into a delete: the row drops out of
            # incoming while its key still anti-joins the target away.
            raise TypeError(
                f"delete_col {delete_col} must be boolean, got {dtype}"
            )
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    base_version = versions[-1]
    current = snapshot_read(
        spark, table_dir, version=base_version, merge_schema=True
    )
    survivors = current.join(
        updates.select(key_col).distinct(), key_col, "left_anti"
    )
    incoming = updates
    if delete_col is not None:
        incoming = updates.where(
            F.coalesce(~F.col(delete_col), F.lit(True))
        ).drop(delete_col)
    merged = survivors.unionByName(incoming, allowMissingColumns=True)
    return _commit(table_dir, merged, "merge", expected_parent=base_version)

