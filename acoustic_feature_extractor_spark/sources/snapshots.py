"""Snapshot-log table format over parquet: versioned commits, time travel,
rollback, expiry.

The north_rule asks for runs "resumable from Iceberg-snapshot checkpoints".
No Iceberg runtime ships in this sandbox (and the engine must not depend on
one being installed), so this module implements the load-bearing subset of
the snapshot model directly over parquet, the same way Iceberg's spec does
it — an append-only metadata log where each snapshot lists the data
directories that make up the table at that version:

- a COMMIT writes its data files under ``data/snap-<id>/`` first, then
  publishes by replacing ``metadata/snapshots.json`` via write-temp +
  ``os.replace`` (atomic on POSIX — readers see the old or the new log,
  never a torn one). A crashed commit leaves an orphan data dir and NO log
  entry: invisible to readers, reclaimed by :func:`expire`.
- ``append`` snapshots reference the parent's directory list plus their
  own; ``overwrite`` starts a fresh list. Data files are NEVER rewritten
  or moved by metadata operations.
- a READ resolves a snapshot id (default: current) to its directory list
  and loads exactly those parquet dirs — time travel is just reading an
  older entry.
- ROLLBACK appends a new snapshot that re-points at an old snapshot's
  file set (metadata-only, like Iceberg's rollback — history is preserved,
  nothing is deleted).
- EXPIRE drops old log entries and deletes data dirs no surviving
  snapshot references.
- MERGE (:func:`merge_upsert`) is merge-on-read, after Iceberg v2's
  equality deletes: it writes only the updated rows into a new dir and
  records that dir's key columns in the snapshot's ``delete_keys``. A
  read drops every row of an OLDER dir whose key the merge dir holds
  (:func:`_scan`); no old byte is read or rewritten by the merge. The
  same write checks that the keys are unique and non-NULL, and a refused
  merge removes its dir before the log is touched.
- COMPACT (:func:`compact`) rewrites the current dir set into one
  right-sized dir, folding the merges' deletes into the data,
  metadata-published like any commit; history intact.

Each snapshot records row count (via ``Observation`` on the write itself —
no re-read), the table schema, wall-clock, parent id, and a caller lineage
dict — the per-partition lineage + metrics contract jobs build on.

The schema is logged in Spark's JSON form (``StructType.jsonValue()``, as
Iceberg writes its schemas into table metadata as JSON) and parsed back
with ``StructType.fromJson``: pure Python, exact for every column name and
type. So every data read (:func:`read`, :func:`read_where`,
:func:`read_changes`, :func:`compact`) is one :func:`_scan` at the logged
schema, and no read infers a schema from parquet footers.

**Writer concurrency contract**: one writer per table at a time. Every
log mutation (commit / merge / compact / rollback / expire) takes an
``O_CREAT|O_EXCL`` lock file for its whole duration — a second writer
fails fast with :class:`ConcurrentWriterError` instead of silently
discarding the first writer's snapshot (the read-modify-write race) or
clobbering its same-numbered ``snap-<id>`` data dir. The lock is
same-host scope (this module is a local-FS log, like the tests and jobs
that use it); a crashed writer's stale lock is reclaimed when its pid is
gone or the lock is older than an hour. Readers never lock — the
``os.replace`` publish keeps reads torn-free.
"""

from __future__ import annotations

import decimal
import json
import os
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from acoustic_feature_extractor_spark.plans.hints import maybe_broadcast

_LOG = "metadata/snapshots.json"
_LOCK = "metadata/commit.lock"
_STALE_LOCK_S = 3600.0  # a lock older than this is a crashed writer's


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted a log mutation while one was in flight."""


def _pid_alive(pid: int) -> bool:
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


@contextmanager
def _writer_lock(table_path: str):
    """Single-writer enforcement: O_EXCL lock held for the whole mutation
    (sid choice → data write → log publish), so concurrent writers can
    neither lose a snapshot to the read-modify-write race nor overwrite
    each other's same-sid data dir. Stale locks (dead pid, or older than
    ``_STALE_LOCK_S``) are reclaimed once."""
    path = os.path.join(table_path, _LOCK)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd = None
    for attempt in (0, 1):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            holder: dict = {}
            try:
                with open(path) as f:
                    holder = json.load(f)
            except (OSError, ValueError):
                holder = {}
            alive = _pid_alive(int(holder.get("pid", -1)))
            stale = time.time() - float(holder.get("ts", 0.0)) > _STALE_LOCK_S
            if attempt == 0 and (not alive or stale):
                try:
                    os.unlink(path)  # reclaim and retry once
                except FileNotFoundError:
                    pass
                continue
            raise ConcurrentWriterError(
                f"another writer holds {path} "
                f"(pid={holder.get('pid')}, since ts={holder.get('ts')}); "
                "snapshot tables are single-writer — serialize the jobs"
            ) from None
    try:
        os.write(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # append | overwrite | rollback | merge | compact
    dirs: list[str]
    rows: int
    schema: dict  # StructType.jsonValue() of the table at this snapshot
    wall_ts: float
    lineage: dict = field(default_factory=dict)
    # per-FILE column min/max for the dirs THIS snapshot wrote (Iceberg's
    # manifest column stats): {file_rel: {col: [min, max, nulls, rows]}}.
    # Harvested from parquet FOOTERS at commit time (no data scan) so a
    # pruned read never opens footers — at 100 TB the stats live in the
    # log, not in a million S3 footer round-trips per query.
    stats: dict = field(default_factory=dict)
    # merge-on-read deletes: {merge_dir: key columns} for each live dir a
    # merge_upsert wrote. The dir's keys delete the rows with equal keys
    # from every dir listed before it in ``dirs`` (list position plays
    # the role of Iceberg's sequence number). Appends and merges extend
    # ``dirs`` and so carry the mapping whole, a rollback copies its
    # target's, an overwrite or compaction starts empty.
    delete_keys: dict = field(default_factory=dict)


def _enc_stat(v):
    """JSON-encodable, ORDER-PRESERVING encoding of a parquet stat value.
    Naive timestamps map through a fixed UTC offset (monotonic — a local
    DST-aware conversion would not be); decimals keep their exact digits
    as ``{"dec": str}``; bytes/unencodable → None (column dropped, file
    kept conservatively)."""
    import datetime as _dt

    if isinstance(v, bool) or isinstance(v, (int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return {"dec": str(v)}
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return {"ts": v.timestamp()}
    if isinstance(v, _dt.date):
        return {"ts": _dt.datetime(v.year, v.month, v.day, tzinfo=_dt.timezone.utc).timestamp()}
    return None


def _stat_key(v):
    """Comparable form of an ENCODED stat value (dict = timestamp or
    decimal)."""
    if isinstance(v, dict):
        return decimal.Decimal(v["dec"]) if "dec" in v else v["ts"]
    return v


def _collect_file_stats(table_path: str, rel_dir: str) -> dict:
    """Per-file [min, max, null_count, num_rows] for every top-level
    primitive column of every parquet file in ``rel_dir`` — read from the
    footers only (pyarrow metadata; zero data pages touched). A column
    missing min/max in ANY row group of a file is dropped for that file
    (pruning then keeps the file: conservative in the safe direction)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out: dict = {}
    d = os.path.join(table_path, rel_dir)
    for name in sorted(os.listdir(d)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(d, name)).metadata
        rows = md.num_rows
        # per column: [min, max, nulls, every_rg_covered] — a row group
        # COVERS the column iff it has min/max or is provably all-null in
        # it; one uncovered row group disqualifies the file's column
        acc: dict = {}
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                path = c.path_in_schema
                if "." in path:  # nested leaves (arrays/structs): skip
                    continue
                st = c.statistics
                a = acc.setdefault(path, [None, None, 0, True])
                nulls = (
                    st.null_count
                    if (st is not None and st.null_count is not None)
                    else None
                )
                if nulls is None:
                    a[2] = -(10**18)  # unknown nulls: poison the all-null test
                elif a[2] >= 0:
                    a[2] += nulls
                if st is not None and st.has_min_max:
                    try:
                        mn, mx = _enc_stat(st.min), _enc_stat(st.max)
                    except pa.ArrowNotImplementedError:
                        # pyarrow hands out INT32/INT64-backed decimals
                        # only as unscaled ints: apply the column's scale
                        lt = json.loads(st.logical_type.to_json())
                        mn = mx = None
                        if lt.get("Type") == "Decimal":
                            mn, mx = (
                                _enc_stat(decimal.Decimal(r).scaleb(-lt["scale"]))
                                for r in (st.min_raw, st.max_raw)
                            )
                    if mn is None or mx is None:  # unencodable type
                        a[3] = False
                        continue
                    if a[0] is None or _stat_key(mn) < _stat_key(a[0]):
                        a[0] = mn
                    if a[1] is None or _stat_key(mx) > _stat_key(a[1]):
                        a[1] = mx
                elif nulls is None or nulls != rg.num_rows:
                    a[3] = False  # values exist (or might), bounds unknown
        cols: dict = {}
        if rows == 0:
            # EMPTY file (possible after merges/repartitions): record every
            # top-level primitive column as 0-row so pruning can skip the
            # file outright and table_profile keeps full coverage — an
            # absent entry would read as "stats unknown" instead
            sch = pq.ParquetFile(os.path.join(d, name)).schema_arrow
            for f in sch:
                if not (
                    str(f.type).startswith("list")
                    or str(f.type).startswith("struct")
                    or str(f.type).startswith("map")
                ):
                    cols[f.name] = [None, None, 0, 0]
        for path, (mn, mx, nulls, covered) in acc.items():
            if not covered:
                continue
            if 0 <= nulls == rows:
                # all-null column: no min/max exists, but the file is
                # provably dead to any range predicate
                cols[path] = [None, None, rows, rows]
            elif mn is not None:
                cols[path] = [mn, mx, max(nulls, 0), rows]
        # ALWAYS record an entry — even an empty cols dict. The planner
        # rebuilds each dir's file list from these keys (zero LIST calls);
        # a file omitted because no column yielded coverable stats (all
        # bytes/nested columns, writer without min/max) would be silently
        # EXCLUDED from every pruned read instead of conservatively kept.
        out[f"{rel_dir}/{name}"] = cols
    return out


def _log_path(table_path: str) -> str:
    return os.path.join(table_path, _LOG)


def _load_log(table_path: str) -> list[Snapshot]:
    p = _log_path(table_path)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [Snapshot(**e) for e in json.load(f)]


def _publish_log(table_path: str, snaps: list[Snapshot]) -> None:
    p = _log_path(table_path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump([vars(s) for s in snaps], f, indent=1)
    os.replace(tmp, p)  # atomic publish: readers never see a torn log


def current_snapshot_id(table_path: str) -> int | None:
    snaps = _load_log(table_path)
    return snaps[-1].snapshot_id if snaps else None


def history(table_path: str) -> list[Snapshot]:
    return _load_log(table_path)


def _is_additive_evolution(old: StructType, new: StructType) -> bool:
    """True iff ``new`` only ADDS columns to ``old`` (every old column
    present with an identical type, nullability aside) — the Iceberg
    add-column rule: safe because old files read the new columns as NULL,
    and no existing value reinterprets its type."""
    new_types = {f.name: f.dataType.simpleString() for f in new.fields}
    return all(new_types.get(f.name) == f.dataType.simpleString() for f in old.fields)


def commit(
    df: DataFrame,
    table_path: str,
    operation: str = "append",
    lineage: dict | Callable[[], dict] | None = None,
    evolve: bool = False,
) -> Snapshot:
    """Write ``df`` as a new snapshot and publish it. Returns the entry.

    Data lands under ``data/snap-<id>/`` BEFORE the log is replaced, so a
    failure at any point leaves the table readable at its previous
    snapshot.

    ``lineage`` is a dict, or a zero-argument callable that returns one.
    As in :func:`merge_upsert`, the callable runs after the write and
    before the publish, so it can read an ``Observation`` the caller put
    on ``df``; if it raises, the new dir is removed and the log is left as
    it was.

    ``evolve=True`` permits ADDITIVE schema evolution on append (new
    columns; every existing column must keep its exact type — the
    Iceberg add-column rule): historical files simply read the new
    columns as NULL (every read passes the logged schema, :func:`_scan`),
    no rewrite of any old byte. Renames/drops/type changes stay rejected —
    they reinterpret existing data and need an explicit overwrite.
    """
    if operation not in ("append", "overwrite"):
        raise ValueError(f"operation must be append|overwrite, got {operation}")
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        parent = snaps[-1] if snaps else None
        if operation == "append" and parent is not None:
            old = StructType.fromJson(parent.schema)
            if old.simpleString() != df.schema.simpleString() and not (
                evolve and _is_additive_evolution(old, df.schema)
            ):
                raise ValueError(
                    f"append schema mismatch: table has {old.simpleString()}, "
                    f"commit has {df.schema.simpleString()} — pass evolve=True "
                    "for additive column adds, or overwrite to restate"
                )
        sid = (parent.snapshot_id + 1) if parent else 1
        rel = f"data/snap-{sid}"
        out = os.path.join(table_path, rel)
        obs = Observation(f"snap_rows_{sid}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(out)
        lineage = _resolve_lineage(lineage, out)
        extends = operation == "append" and parent is not None
        dirs = [*parent.dirs, rel] if extends else [rel]
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent.snapshot_id if parent else None,
            operation=operation,
            dirs=dirs,
            rows=int(obs.get["rows"]),
            schema=df.schema.jsonValue(),
            wall_ts=round(time.time(), 3),
            lineage=lineage or {},
            stats=_collect_file_stats(table_path, rel),
            delete_keys=dict(parent.delete_keys) if extends else {},
        )
        _publish_log(table_path, snaps + [snap])
    return snap


def _resolve_lineage(lineage: dict | Callable[[], dict] | None, out: str) -> dict | None:
    """``lineage``, called when it is a callable; if the call raises, the
    new snapshot dir ``out`` is removed before the exception propagates."""
    if not callable(lineage):
        return lineage
    try:
        return lineage()
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise


def _snapshot(snaps: list[Snapshot], snapshot_id: int | None) -> Snapshot:
    """The log entry ``snapshot_id`` (default: current) of ``snaps``."""
    if snapshot_id is None:
        return snaps[-1]
    for s in snaps:
        if s.snapshot_id == snapshot_id:
            return s
    raise KeyError(
        f"snapshot {snapshot_id} not in log "
        f"(have {sorted(s.snapshot_id for s in snaps)}) — expired?"
    )


def _union(a: DataFrame | None, b: DataFrame) -> DataFrame:
    return b if a is None else a.unionByName(b)


def _files(
    spark: SparkSession, table_path: str, schema: dict, rels: list[str]
) -> DataFrame:
    """``rels`` (data dirs or files, relative to the table) as stored, at
    the logged ``schema``: no delete applied."""
    return spark.read.schema(StructType.fromJson(schema)).parquet(
        *[os.path.join(table_path, p) for p in rels]
    )


def _scan(
    spark: SparkSession, table_path: str, snap: Snapshot, paths: list[str]
) -> DataFrame:
    """The one way this module reads data: the live rows of ``paths``
    (dirs of ``snap``, or files in them, relative to the table) at the
    snapshot's logged schema.

    The schema comes from the log, so no job infers it from parquet
    footers. Every dir's writer schema is the logged one or an additive
    ancestor of it (:func:`commit`'s evolution rule), so files written
    before an ``evolve=True`` append surface its new columns as NULL —
    also in a compaction or pruned read that opens only such files.

    Merge-on-read: each dir in ``snap.delete_keys`` deletes the rows with
    an equal key from the dirs listed before it. The read is one
    left-deep chain: the paths older than a merge dir are anti-joined
    with that dir's key columns (read key-columns-only, also when
    ``paths`` holds none of its files; a size-gated broadcast), then
    unioned with the next group of paths. With no ``delete_keys`` this is
    one plain scan, and building any read launches no job."""
    live, by_dir = set(snap.dirs), {}
    for p in paths:
        d = p if p in live else p.rsplit("/", 1)[0]
        if d not in live:
            raise ValueError(f"{p} is not in snapshot {snap.snapshot_id}")
        by_dir.setdefault(d, []).append(p)
    out, group = None, []
    for d in [*snap.dirs, None]:
        keys = snap.delete_keys.get(d)
        if group and (keys or d is None):
            out, group = _union(out, _files(spark, table_path, snap.schema, group)), []
        if keys and out is not None:
            deleted = _files(spark, table_path, snap.schema, [d]).select(*keys)
            out = out.join(maybe_broadcast(deleted), keys, "left_anti")
        group += by_dir.get(d, [])
    return _files(spark, table_path, snap.schema, []) if out is None else out


def read(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    dirs: list[str] | None = None,
) -> DataFrame:
    """Read the table at ``snapshot_id`` (default: current). Time travel is
    resolving an older log entry to its directory list. ``dirs`` (relative
    data dirs) narrows the read to the live rows of those dirs at the
    snapshot's schema — e.g. the dirs an increment appended, found by
    diffing two snapshots' lists."""
    snaps = _load_log(table_path)
    if not snaps:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    snap = _snapshot(snaps, snapshot_id)
    return _scan(spark, table_path, snap, snap.dirs if dirs is None else dirs)


# planner index cache: {table_path: ((log_mtime_ns, log_size), index)}.
# The index is derived read-only metadata (stats fold, per-dir file lists,
# per-dir per-column envelopes); the key changes whenever the log is
# republished (os.replace bumps mtime), so a stale hit is impossible.
# Bounds repeated planning at O(dirs + kept files) instead of re-parsing
# and re-folding the whole log per query — the manifest-list cache every
# table format keeps on the driver.
_PLAN_CACHE: dict[str, tuple[tuple[int, int], dict]] = {}


def _planner_index(table_path: str) -> dict:
    """Load-once planning metadata for the CURRENT log version:

    - ``snaps``: the parsed log (private copies — never handed out),
    - ``stats``: {file_rel: {col: [min,max,nulls,rows]}} folded newest-wins,
    - ``by_dir``: {dir_rel: sorted file_rels} from the stats keys,
    - ``env``: {dir_rel: {col: (mn, mx, live_rows, covered)}} — the dir's
      column envelope (min of file mins / max of file maxes over files
      with matchable rows; ``covered`` False when any file lacks the
      column's stats, which disables dir-level skipping for it).
    """
    p = _log_path(table_path)
    try:
        st = os.stat(p)
    except FileNotFoundError:
        raise FileNotFoundError(f"no snapshots at {table_path}") from None
    key = (st.st_mtime_ns, st.st_size)
    hit = _PLAN_CACHE.get(table_path)
    if hit is not None and hit[0] == key:
        return hit[1]
    snaps = _load_log(table_path)
    if not snaps:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    stats: dict = {}
    for s in snaps:
        stats.update(s.stats or {})
    by_dir: dict[str, list[str]] = {}
    for rel in stats:
        by_dir.setdefault(rel.rsplit("/", 1)[0], []).append(rel)
    env: dict[str, dict] = {}
    for d, rels in by_dir.items():
        rels.sort()
        cols = set()
        for rel in rels:
            cols.update(stats[rel])
        denv = env[d] = {}
        for c in cols:
            mn = mx = None
            live_rows = 0
            covered = True
            for rel in rels:
                cs = stats[rel].get(c)
                if cs is None:
                    covered = False
                    break
                fmn, fmx, nulls, rows = cs
                if rows == 0 or (nulls >= 0 and nulls == rows):
                    continue  # contributes no matchable rows
                live_rows += rows
                if fmn is not None and (mn is None or _stat_key(fmn) < _stat_key(mn)):
                    mn = fmn
                if fmx is not None and (mx is None or _stat_key(fmx) > _stat_key(mx)):
                    mx = fmx
            denv[c] = (mn, mx, live_rows, covered)
    idx = {"snaps": snaps, "stats": stats, "by_dir": by_dir, "env": env}
    _PLAN_CACHE[table_path] = (key, idx)
    return idx


def plan_scan(table_path: str, preds: dict) -> tuple[list[str], int]:
    """File-level min/max pruning plan for the conjunctive ranges ``preds``
    (column name → ``(lo, hi)``, ``lo <= col <= hi``; either bound may be
    None, not both): the kept file list (relative paths) and the total
    file count at the current snapshot. Driver-side metadata only — no job, no
    footer reads (stats come from the log; each data dir is written by
    exactly one snapshot, whose entry carries its files' stats).

    Conservative by construction: a file is skipped only when some
    predicate's recorded [min, max] provably cannot intersect its range,
    or when that column is all-null in it (a range predicate never matches
    NULL). Files or columns without stats are kept. The residual filter
    must still be applied to kept files (:func:`read_where` does). With a
    multi-dimensional clustering
    (:func:`~acoustic_feature_extractor_spark.sources.layout.zorder_layout`)
    every predicate contributes skipping, which no single-column range
    layout can offer.

    Planning is PURE LOG METADATA, two levels deep — Iceberg's
    manifest-list → manifest hierarchy in miniature:

    1. **dir level**: each dir's column envelope (min of file mins / max
       of file maxes, folded lazily from the log) is tested first; a dir
       whose envelope cannot intersect the predicate is skipped with its
       files COUNTED FROM THE LOG — the filesystem is never touched;
    2. **file level**: surviving dirs test per-file stats, again from the
       log.

    ``os.listdir`` runs only for a dir the log has no file entries for
    (pre-stats snapshots) — on object storage that is the difference
    between zero LIST calls per query and one per directory."""
    if not preds:
        raise ValueError("plan_scan needs at least one predicate")
    for c, (lo, hi) in preds.items():
        if lo is None and hi is None:
            raise ValueError(f"predicate on {c!r} needs at least one bound")
    idx = _planner_index(table_path)
    target = idx["snaps"][-1]
    stats = idx["stats"]
    keys = {
        c: (
            _stat_key(_enc_stat(lo)) if lo is not None else None,
            _stat_key(_enc_stat(hi)) if hi is not None else None,
        )
        for c, (lo, hi) in preds.items()
    }
    by_dir = idx["by_dir"]

    kept: list[str] = []
    total = 0
    for d in target.dirs:
        rels = by_dir.get(d, [])
        if not rels:
            # pre-stats dir: the one case that still needs a LIST call
            abs_d = os.path.join(table_path, d)
            rels = [
                f"{d}/{n}"
                for n in sorted(os.listdir(abs_d))
                if n.endswith(".parquet")
            ]
            for rel in rels:
                total += 1
                kept.append(rel)  # no stats: conservative keep
            continue
        total += len(rels)
        # dir-level envelope test (precomputed in the planner index): skip
        # the whole dir when any predicate misses its column envelope
        denv = idx["env"][d]
        dir_skip = False
        for c, (klo, khi) in keys.items():
            e = denv.get(c)
            if e is None or not e[3]:
                continue  # column unknown/uncovered in this dir: no skip
            env_mn, env_mx, live_rows, _ = e
            if live_rows == 0:
                dir_skip = True
                break
            if khi is not None and env_mn is not None and _stat_key(env_mn) > khi:
                dir_skip = True
                break
            if klo is not None and env_mx is not None and _stat_key(env_mx) < klo:
                dir_skip = True
                break
        if dir_skip:
            continue
        for rel in rels:
            fstats = stats.get(rel, {})
            skip = False
            for c, (klo, khi) in keys.items():
                cs = fstats.get(c)
                if cs is None:
                    continue  # unknown column: this predicate can't prune
                mn, mx, nulls, rows = cs
                if rows == 0 or (nulls >= 0 and nulls == rows):
                    skip = True  # empty or all-null: range can't match
                    break
                if khi is not None and _stat_key(mn) > khi:
                    skip = True
                    break
                if klo is not None and _stat_key(mx) < klo:
                    skip = True
                    break
            if not skip:
                kept.append(rel)
    return kept, total


def read_where(
    spark: SparkSession,
    table_path: str,
    preds: dict,
) -> DataFrame:
    """Conjunctive-range read with file-level data skipping: open ONLY the
    files :func:`plan_scan` keeps for ``preds``, then apply every residual
    filter (pruning is file-granular; kept files still carry out-of-range
    rows). With a range-clustered layout (``df.repartitionByRange(n,
    col)`` before commit) a narrow range reads a constant number of files
    regardless of table size — the Iceberg metadata-pruning property this
    format exists to reproduce; pair with
    :func:`~acoustic_feature_extractor_spark.sources.layout.zorder_layout`
    so that every predicate column prunes. The kept files are read at the
    snapshot's logged schema, with every merge's deletes applied (a merge
    dir whose files were pruned still deletes, :func:`_scan`); an empty
    keep-set returns an empty frame with that schema."""
    kept, _ = plan_scan(table_path, preds)
    tgt = _planner_index(table_path)["snaps"][-1]
    df = _scan(spark, table_path, tgt, kept or tgt.dirs)
    if not kept:
        df = df.limit(0)
    for col, (lo, hi) in preds.items():
        c = F.col(col)
        if lo is not None:
            df = df.where(c >= F.lit(lo))
        if hi is not None:
            df = df.where(c <= F.lit(hi))
    return df


def table_profile(table_path: str) -> dict:
    """Current table-level column profile — ``{col: [min, max, n_nulls, n_rows]}``
    — aggregated ENTIRELY from the snapshot log's per-file stats: zero
    data scan, zero footer reads, O(files) driver work. The
    warehouse-monitoring primitive (schema-drift checks, freshness/nullity
    alarms, CBO inputs) priced at metadata.

    A column appears only when EVERY live file carries its stats (a
    partial aggregate would silently lie); all-null files contribute
    nulls/rows but no bounds. Timestamp bounds come back as the log's
    order-preserving encoding (`{"ts": epoch_seconds}` dicts).

    File enumeration comes from the log via the cached planner index —
    ``os.listdir`` runs only for a pre-stats dir the log has no entries
    for, the same zero-LIST contract as :func:`plan_scan`.

    A snapshot with merge-on-read deletes gets ``{}``, as one with
    pre-stats files does: the per-file stats still count the rows a merge
    deleted, and only a scan could tell which. :func:`compact` folds the
    deletes and restores an exact profile."""
    idx = _planner_index(table_path)
    target = idx["snaps"][-1]
    if target.delete_keys:
        return {}
    stats = idx["stats"]
    by_dir = idx["by_dir"]
    acc: dict = {}
    n_files = 0
    for d in target.dirs:
        rels = by_dir.get(d)
        if rels is None:
            # pre-stats dir: files exist but the log never recorded them
            abs_d = os.path.join(table_path, d)
            if any(n.endswith(".parquet") for n in os.listdir(abs_d)):
                return {}  # files without stats: no trustworthy profile
            continue
        for rel in rels:
            n_files += 1
            fstats = stats[rel]
            for c, (mn, mx, nulls, rows) in fstats.items():
                a = acc.setdefault(c, [None, None, 0, 0, 0])
                a[2] += max(int(nulls), 0)
                a[3] += int(rows)
                a[4] += 1  # files covering this column
                if mn is not None and (
                    a[0] is None or _stat_key(mn) < _stat_key(a[0])
                ):
                    a[0] = mn
                if mx is not None and (
                    a[1] is None or _stat_key(mx) > _stat_key(a[1])
                ):
                    a[1] = mx
    return {
        c: [mn, mx, nulls, rows]
        for c, (mn, mx, nulls, rows, cover) in acc.items()
        if cover == n_files
    }


def rollback(table_path: str, snapshot_id: int) -> Snapshot:
    """Metadata-only rollback: append a new snapshot re-pointing at an old
    file set. History (and the rolled-back data dirs) stay intact."""
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        by_id = {s.snapshot_id: s for s in snaps}
        if snapshot_id not in by_id:
            raise KeyError(f"snapshot {snapshot_id} not in log")
        src, head = by_id[snapshot_id], snaps[-1]
        snap = Snapshot(
            snapshot_id=head.snapshot_id + 1,
            parent_id=head.snapshot_id,
            operation="rollback",
            dirs=list(src.dirs),
            rows=src.rows,
            schema=src.schema,
            wall_ts=round(time.time(), 3),
            lineage={"rolled_back_to": snapshot_id},
            delete_keys=dict(src.delete_keys),
        )
        _publish_log(table_path, snaps + [snap])
    return snap


def _fold_dropped_stats(snaps: list[Snapshot], kept: list[Snapshot]) -> None:
    """When log entries are dropped (:func:`expire` / :func:`compact_log`),
    the survivors must inherit the per-file stats of every still-referenced
    dir — the dropped entries are what carried them, and losing them
    silently degrades pruned reads to listdir + keep-everything. They fold
    onto the OLDEST survivor (newest-wins order is preserved: later
    survivors' own stats re-apply identical values)."""
    live = {d for s in kept for d in s.dirs}
    kept[0].stats = {
        rel: st_
        for s in snaps
        for rel, st_ in (s.stats or {}).items()
        if rel.rsplit("/", 1)[0] in live
    }


def compact_log(table_path: str, keep_last: int = 1) -> int:
    """METADATA-ONLY log compaction — Iceberg's snapshot expiry applied to
    the manifest list without touching a data byte: keep the last
    ``keep_last`` entries and fold the dropped entries' per-file stats
    for still-referenced dirs into the oldest survivor. Bounds the log size (hence every ``_load_log`` parse and the
    planner-index build) at O(live files + keep_last) no matter how many
    commits the table has seen — without it a long-lived table's planning
    cost grows with its HISTORY, not its size. Time travel narrows to the
    kept window; data dirs are NOT deleted (:func:`expire` does that).
    Returns the number of entries dropped."""
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        if not snaps:
            return 0
        kept = snaps[-max(keep_last, 1):]
        dropped = len(snaps) - len(kept)
        if dropped == 0:
            return 0  # nothing to fold — skip the republish
        _fold_dropped_stats(snaps, kept)
        _publish_log(table_path, kept)
    return dropped


def expire(table_path: str, keep_last: int = 1) -> list[str]:
    """Drop all but the last ``keep_last`` snapshots from the log and
    delete data dirs no surviving snapshot references (including orphan
    dirs from crashed commits). Surviving entries inherit the dropped
    entries' file stats for dirs still alive
    (:func:`_fold_dropped_stats`). Returns the deleted dirs."""
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        if not snaps:
            return []
        kept = snaps[-max(keep_last, 1):]
        live = {d for s in kept for d in s.dirs}
        _fold_dropped_stats(snaps, kept)
        _publish_log(table_path, kept)
        deleted = []
        data_root = os.path.join(table_path, "data")
        for name in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            rel = f"data/{name}"
            if rel not in live:
                shutil.rmtree(os.path.join(table_path, rel), ignore_errors=True)
                deleted.append(rel)
    return deleted


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    table_path: str,
    key: str | list[str],
    lineage: dict | Callable[[], dict] | None = None,
) -> Snapshot:
    """Merge-on-read MERGE: upsert ``updates`` by key, writing ONLY the
    updates (Iceberg v2's equality deletes, with the update dir as its own
    delete file).

    The updates land in one new dir appended to the head's dir list, and
    ``delete_keys`` maps that dir to ``key``: every read (:func:`_scan`)
    anti-joins the older dirs with its keys, so an updated key's old row
    drops out and a new key is an insert. The merge reads no old data dir
    and rewrites none (``rewritten_dirs`` is always empty), so its IO is
    O(updates) however large the table; :func:`compact` folds the deletes
    into the data. One write stores the updates, and the write checks
    their keys: it refuses NULL or duplicate keys before publishing.
    Publishes atomically like every other commit; time travel to the
    pre-merge snapshot still works.

    ``lineage`` is a dict, or a zero-argument callable that returns one.
    The callable runs after the write and its key check and before the
    log is published, so it can read an ``Observation`` the caller put on
    ``updates`` (the metrics of the one execution that wrote them) and
    veto the merge: if it raises, the new dir is removed, the log is left
    as it was, and the exception propagates.
    """
    key_cols = [key] if isinstance(key, str) else list(key)
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        if not snaps:
            raise FileNotFoundError(f"no snapshots at {table_path}")
        head = snaps[-1]
        head_simple = StructType.fromJson(head.schema).simpleString()
        if head_simple != updates.schema.simpleString():
            raise ValueError(
                f"merge schema mismatch: table has {head_simple}, "
                f"updates have {updates.schema.simpleString()}"
            )
        sid = head.snapshot_id + 1
        rel = f"data/snap-{sid}"
        out = os.path.join(table_path, rel)
        # NULL keys never match an equi-join: the old row would survive
        # AND the update would insert — a silent duplicate. Duplicate keys
        # make the upsert ambiguous. The write checks both: a per-key row
        # count window feeds the write's Observation, so the check sees
        # exactly the rows written (one execution of ``updates``, no cache)
        # and costs no exchange when ``updates`` is already clustered by a
        # prefix of the key, as ``turn_features`` output is. A refused
        # merge deletes its dir before anything is published.
        null_key = F.lit(False)
        for k in key_cols:
            null_key = null_key | F.col(k).isNull()
        obs = Observation(f"snap_rows_{sid}")
        updates.withColumn(
            "_kc", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
        ).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.max("_kc").alias("max_kc"),
            F.max(null_key).alias("has_null"),
        ).drop("_kc").write.mode("overwrite").parquet(out)
        m = obs.get
        if m["has_null"] or (m["max_kc"] or 0) > 1:
            shutil.rmtree(out, ignore_errors=True)
            if m["has_null"]:
                raise ValueError(
                    "updates carry NULL key values — upsert cannot match them"
                )
            raise ValueError("updates carry duplicate keys — upsert is ambiguous")
        lineage = _resolve_lineage(lineage, out)
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=head.snapshot_id,
            operation="merge",
            dirs=[*head.dirs, rel],
            # rows = rows THIS snapshot wrote (commit()'s convention; total
            # table size is a read-side question, not snapshot metadata)
            rows=int(m["rows"]),
            schema=head.schema,
            wall_ts=round(time.time(), 3),
            lineage={**(lineage or {}), "rewritten_dirs": []},
            stats=_collect_file_stats(table_path, rel),
            delete_keys={**head.delete_keys, rel: key_cols},
        )
        _publish_log(table_path, snaps + [snap])
    return snap


def compact(spark: SparkSession, table_path: str) -> Snapshot:
    """Small-file compaction: rewrite the CURRENT snapshot's live rows
    into one dir and publish a ``compact`` snapshot (row-for-row identical
    — verified by observation — so readers see no data change, just fewer,
    right-sized files). The merges' deletes fold into the rewrite, so the
    compacted snapshot has no ``delete_keys``. Old dirs stay until
    :func:`expire`, so time travel across the compaction keeps working.

    Sizing needs no shuffle: the merged-scan partitioning already targets
    ``spark.sql.files.maxPartitionBytes`` per split, so writing it straight
    back emits files of about that size.
    """
    with _writer_lock(table_path):
        snaps = _load_log(table_path)
        if not snaps:
            raise FileNotFoundError(f"no snapshots at {table_path}")
        head = snaps[-1]
        if len(head.dirs) <= 1:
            return head  # one dir: nothing to merge
        sid = head.snapshot_id + 1
        rel = f"data/snap-{sid}"
        # the live rows at the logged schema: merges' deletes apply, and
        # dirs written before an evolve=True append surface its columns as
        # NULL instead of an arbitrary footer's schema dropping them
        old = _scan(spark, table_path, head, head.dirs)
        obs = Observation(f"snap_rows_{sid}")
        old.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(os.path.join(table_path, rel))
        rows = int(obs.get["rows"])
        # an independent count of the live rows: footers only for a
        # table without deletes, the key columns' anti-joins otherwise
        before = old.count()
        if rows != before:
            raise RuntimeError(
                f"compaction row drift: table has {before}, rewrite has {rows}"
            )
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=head.snapshot_id,
            operation="compact",
            dirs=[rel],
            rows=rows,
            schema=head.schema,
            wall_ts=round(time.time(), 3),
            lineage={"compacted_dirs": list(head.dirs)},
            stats=_collect_file_stats(table_path, rel),
        )
        _publish_log(table_path, snaps + [snap])
    return snap


def commit_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    table_path: str,
    lineage: dict | None = None,
) -> Snapshot | None:
    """Idempotent micro-batch commit for ``foreachBatch``: if the table's
    log already holds this (checkpoint-scoped) epoch, the replay is a
    no-op — Structured Streaming guarantees a replayed epoch carries the
    SAME data, so skipping it turns at-least-once batch delivery into
    exactly-once snapshots (the standard transactional-sink contract of
    ``foreachBatch``).
    """
    for s in _load_log(table_path):
        if s.lineage.get("epoch") == epoch_id:
            return None
    return commit(
        batch_df, table_path, lineage={**(lineage or {}), "epoch": epoch_id}
    )


def snapshot_sink(
    df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    query_name: str = "snapshot_sink",
    available_now: bool = True,
):
    """Stream into a snapshot table with exactly-once semantics: each
    micro-batch becomes one append snapshot (idempotent on epoch replay),
    so downstream batch readers time-travel over a consistent, versioned
    view of the stream — and a crashed stream resumes from its checkpoint
    with no duplicate or missing snapshot. Returns the started query.

    NOTE: epoch ids are scoped to ``checkpoint_dir`` — a fresh checkpoint
    restarts epoch numbering, so reuse the table only with its checkpoint.
    """

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        commit_epoch(batch_df, epoch_id, table_path, lineage={"query": query_name})

    writer = (
        df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Incremental (CDC) scan: the NET row-level changes between two
    snapshots, tagged ``_change_type`` ∈ {insert, delete} — Iceberg's
    changelog-scan shape. An updated row appears as its old version
    (delete) plus its new version (insert); a rollback across a merge
    shows the reverse.

    Plan: diff the two snapshots' DIRECTORY lists first. A dir only one
    snapshot lists contributes its live rows in that snapshot. A dir both
    list holds the same bytes in both; its rows can only be live in one
    view and not the other where a merge dir that just one snapshot has
    deletes them. So a shared dir contributes only its live rows whose
    key such a merge dir holds, and is never read when there is none
    (the incremental-backfill property: IO scales with touched data, not
    table size). Each side is its own snapshot's live view; the two net
    out via multiset difference (``exceptAll`` both ways), so a
    compaction or rollback-and-forward that only reshuffles bytes yields
    ZERO changes.

    Both sides are read at the target snapshot's schema, so an
    evolve=True append between the two compares column for column. Empty
    result keeps the table schema plus ``_change_type``.
    """
    snaps = _load_log(table_path)
    frm, to = _snapshot(snaps, from_snapshot), _snapshot(snaps, to_snapshot)
    shared = [d for d in to.dirs if d in frm.dirs]
    # key columns → the keys of the merge dirs only one snapshot has
    touched: dict[tuple, DataFrame] = {}
    if shared:
        for s in (frm, to):
            for d, k in s.delete_keys.items():
                if (d in frm.delete_keys) != (d in to.delete_keys):
                    keys = _files(spark, table_path, s.schema, [d]).select(*k)
                    touched[tuple(k)] = _union(touched.get(tuple(k)), keys)

    def _side(s: Snapshot, other: Snapshot) -> DataFrame | None:
        s = replace(s, schema=to.schema)
        own = [d for d in s.dirs if d not in other.dirs]
        rows = _scan(spark, table_path, s, own) if own else None
        if touched:
            live = _scan(spark, table_path, s, shared)
            for cols, keys in touched.items():
                # one part per key-column set, each row in at most one
                keys = maybe_broadcast(keys)
                rows = _union(rows, live.join(keys, list(cols), "left_semi"))
                live = live.join(keys, list(cols), "left_anti")
        return rows

    old, new = _side(frm, to), _side(to, frm)
    ins = new.exceptAll(old) if (new is not None and old is not None) else new
    dels = old.exceptAll(new) if (new is not None and old is not None) else old
    parts = []
    if ins is not None:
        parts.append(ins.withColumn("_change_type", F.lit("insert")))
    if dels is not None:
        parts.append(dels.withColumn("_change_type", F.lit("delete")))
    if not parts:
        # same dirs and deletes: an empty frame at the table schema
        anchor = _files(spark, table_path, to.schema, to.dirs).limit(0)
        return anchor.withColumn("_change_type", F.lit(""))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
