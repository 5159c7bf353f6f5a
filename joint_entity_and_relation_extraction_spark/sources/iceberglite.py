"""IcebergLite — a thin Iceberg-semantics table layer over parquet.

BASELINE.json mandates Iceberg tables; no iceberg-spark-runtime jar exists
in this sandbox (SURVEY.md §0.4), so this module reproduces the *logical*
semantics that the pipeline depends on — snapshot isolation via atomic
metadata swap, append / dynamic-partition-overwrite, snapshot pinning
(time travel), and manifest-side partition pruning — over plain parquet
files. The physical design mirrors Iceberg's: data files are written first
(never visible), then a single atomic ``os.replace`` of ``manifest.json``
commits the snapshot. On a real cluster every call site swaps to
``spark.read/writeTo .format("iceberg")`` — all reads/writes go through
this one module (SURVEY.md §0.4 implication 1).

Layout::

    <root>/manifest.json            # atomic commit point
    <root>/data/snap-<id>/<col=val>/...parquet

A snapshot records the *complete* list of leaf partition-directory units
composing the table at that version, so reads never list the filesystem.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _manifest_path(root: str) -> str:
    return os.path.join(root, "manifest.json")


def _load(root: str) -> dict:
    p = _manifest_path(root)
    if not os.path.exists(p):
        return {"partition_by": [], "current_snapshot": None, "snapshots": []}
    with open(p) as f:
        return json.load(f)


def _commit(root: str, manifest: dict) -> None:
    """Atomic manifest swap: temp file + os.replace (SURVEY.md §7 hard
    part 5). Callers hold _meta_lock so the read-merge-replace is not
    last-write-wins."""
    tmp = _manifest_path(root) + f".tmp-{os.getpid()}-{time.time_ns()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(root))


@contextlib.contextmanager
def _meta_lock(root: str, timeout: float = 60.0, stale_after: float = 60.0):
    """Exclusive metadata-merge lock (O_CREAT|O_EXCL lock file).

    Iceberg proper does optimistic CAS against a catalog; on a plain
    filesystem os.replace alone is last-write-wins, so two concurrent
    writers (e.g. a streaming append and a lineage append on one table)
    could silently drop each other's snapshot. Every writer re-loads the
    manifest UNDER this lock and merges against the then-current parent,
    which restores the lost-update guarantee. On a real cluster this whole
    module is swapped for iceberg-spark-runtime (module docstring)."""
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, "manifest.lock")
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{os.getpid()} {time.time()}\n".encode())
            break
        except FileExistsError:
            # stale-lock recovery (ADVICE r02): a writer killed between
            # os.open and os.unlink would orphan the lock forever. The
            # holder's pid+wall-time are in the file; break the lock once
            # it outlives stale_after — a bound independent of THIS
            # caller's acquisition timeout, so an impatient caller never
            # steals from a healthy holder (live writers hold the lock
            # only for a manifest read-merge-replace, i.e. millis).
            try:
                with open(lock) as f:
                    _pid, t0 = f.read().split()
                stale = time.time() - float(t0) > stale_after
            except ValueError:
                # unparseable content — a writer died between os.open and
                # os.write. Without a fallback, stale stays False forever
                # and every later writer times out (ADVICE r03): judge
                # staleness by the lock FILE's mtime instead.
                try:
                    stale = time.time() - os.stat(lock).st_mtime > stale_after
                except OSError:
                    stale = False  # already gone — retry acquisition
            except OSError:
                stale = False  # already gone — retry acquisition
            if stale:
                # Claim the break ATOMICALLY (ADVICE r03): with
                # unlink+recreate, two waiters can both judge the same
                # lock stale in one poll round, waiter B's unlink then
                # deletes waiter A's FRESH lock and both enter the
                # manifest read-merge-replace critical section (lost
                # snapshot). os.rename of the lock to a breaker-unique
                # name succeeds for exactly one waiter; losers get
                # FileNotFoundError and re-loop against the winner's new
                # lock.
                claim = f"{lock}.break-{os.getpid()}-{time.time_ns()}"
                try:
                    os.rename(lock, claim)
                except FileNotFoundError:
                    continue  # another waiter won the break race
                os.unlink(claim)
                continue
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"could not acquire {lock} in {timeout}s (holder: "
                    f"{open(lock).read().strip() if os.path.exists(lock) else 'gone'};"
                    " delete the file manually if that process is dead)")
            time.sleep(0.05)
    try:
        yield
    finally:
        os.close(fd)
        os.unlink(lock)


def _leaf_units(snap_dir: str) -> list[str]:
    """Leaf partition directories (relative to table root) that directly
    contain parquet files; the snap dir itself for unpartitioned tables."""
    units = []
    for dirpath, _dirnames, filenames in os.walk(snap_dir):
        if any(f.endswith(".parquet") for f in filenames):
            units.append(dirpath)
    root = os.path.dirname(os.path.dirname(snap_dir))  # <root>/data/snap-N
    return sorted(os.path.relpath(u, root) for u in units)


def _partition_values(unit: str) -> dict[str, str]:
    """Parse ``col=value`` components out of a unit's relative path."""
    vals: dict[str, str] = {}
    for comp in unit.split(os.sep):
        if "=" in comp:
            k, _, v = comp.partition("=")
            vals[k] = v
    return vals


#: the characters Spark's partition-path writer percent-escapes
#: (ExternalCatalogUtils.escapePathName): HTTP control chars plus the
#: path/metadata-significant set
_HIVE_ESCAPE_CHARS = (set('"#%\'*/:=?\\{[]^') | {chr(0x7F)}
                      | {chr(c) for c in range(1, 0x20)})
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _hive_escape_value(v: object) -> str:
    """Encode a partition VALUE exactly the way Spark's writer encodes it
    into the ``col=value`` path component, so every manifest-side
    comparison (read's ``where``, drop_partitions, merge_upsert's
    touched-unit scoping) matches what is actually on disk (ADVICE r05:
    ``str(value)`` missed hive escaping and NULL's
    ``__HIVE_DEFAULT_PARTITION__``, so an escaped/null value was pruned
    out of the merge read yet kept in kept_units — duplicate keys after
    commit). Bools lowercase like the JVM; None and '' both map to the
    Hive default-partition sentinel."""
    if v is None:
        return _HIVE_DEFAULT_PARTITION
    s = ("true" if v else "false") if isinstance(v, bool) else str(v)
    if s == "":
        return _HIVE_DEFAULT_PARTITION
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS else ch
                   for ch in s)


def _write_snapshot(df: DataFrame, root: str, token: str,
                    partition_by: list[str]) -> list[str]:
    # snapshot DIRECTORY names are writer-unique tokens (pid+time), not the
    # snapshot id: the id is assigned under _meta_lock AFTER the files are
    # written, so two concurrent writers never race on one directory
    snap_dir = os.path.join(root, "data", f"snap-{token}")
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(snap_dir)
    return _leaf_units(snap_dir)


def _new_token() -> str:
    return f"{time.time_ns()}-{os.getpid()}"


def _next_id(manifest: dict) -> int:
    ids = [s["id"] for s in manifest["snapshots"]]
    return (max(ids) + 1) if ids else 1


def _json_stat(v):
    """Parquet-footer stat value → JSON-storable scalar (bytes decode,
    datetimes to isoformat; numerics pass through)."""
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _collect_unit_stats(root: str, units: list[str],
                        cols: list[str]) -> dict:
    """Per-unit [min, max] for ``cols`` straight from the parquet footers
    (row-group statistics) — no data read. The manifest analogue of
    Iceberg's per-data-file column bounds: the second pruning level after
    partition values, and the one that makes range predicates skip files
    on UNPARTITIONED columns (timestamps, scores, ids)."""
    import pyarrow.parquet as pq

    want = set(cols)
    out: dict[str, dict] = {}
    for u in units:
        d = os.path.join(root, u)
        mn: dict[str, object] = {}
        mx: dict[str, object] = {}
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fname)).metadata
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name not in want or st is None or not st.has_min_max:
                        continue
                    lo, hi = _json_stat(st.min), _json_stat(st.max)
                    if name not in mn or lo < mn[name]:
                        mn[name] = lo
                    if name not in mx or hi > mx[name]:
                        mx[name] = hi
        out[u] = {c: [mn[c], mx[c]] for c in mn if c in mx}
    return out


# --- per-unit bloom filters (point-lookup file skipping) --------------------
# The IcebergLite analogue of Iceberg's puffin blobs / Parquet column
# bloom filters: a tiny per-unit bitset over a high-cardinality column
# lets a needle-in-haystack point lookup skip every file that provably
# does not contain the key — the third pruning level after partition
# values and min/max bounds (min/max is useless for point lookups on
# uniformly distributed ids, where every unit's range covers every key).
# Collected driver-side from the written files here (single-box sandbox);
# on a real cluster the executors emit per-file blooms at write time
# (Parquet writes them natively) and the manifest only aggregates.

#: ~9.6 bits/value gives ~1% false-positive rate with k=7 probes
_BLOOM_BITS_PER_VALUE = 10
_BLOOM_K = 7
#: per-unit-per-column cap: 2^20 bits = 128 KiB of manifest growth;
#: a unit with more values than fits records NO bloom (skipping is a
#: pure optimization — absent stats never lose rows)
_BLOOM_MAX_BITS = 1 << 20
_BLOOM_MAX_VALUES = _BLOOM_MAX_BITS // _BLOOM_BITS_PER_VALUE


def _bloom_hash_pair(value: object) -> tuple[int, int]:
    """Two independent 64-bit hashes of the value's canonical string form
    (write side reads values back via pyarrow; read side gets python
    scalars from the caller — str() maps both to the same key; a cross-
    type collision is only ever a false positive, never a lost row)."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    return (int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little"))


def _bloom_build(values, m: int) -> bytearray:
    bits = bytearray(m // 8)
    for v in values:
        h1, h2 = _bloom_hash_pair(v)
        for i in range(_BLOOM_K):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return bits


def _bloom_contains(bloom: dict, value: object) -> bool:
    import base64

    m = bloom["m"]
    bits = base64.b64decode(bloom["bits"])
    h1, h2 = _bloom_hash_pair(value)
    for i in range(_BLOOM_K):
        idx = (h1 + i * h2) % m
        if not bits[idx >> 3] & (1 << (idx & 7)):
            return False
    return True


def _collect_unit_blooms(root: str, units: list[str],
                         cols: list[str]) -> dict:
    """{unit: {col: {"m": bits, "bits": base64}}} from the written
    parquet. Over-cap units record nothing (see _BLOOM_MAX_VALUES)."""
    import base64

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for u in units:
        d = os.path.join(root, u)
        per_col: dict[str, list] = {c: [] for c in cols}
        n_rows = 0
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(d, fname), columns=cols)
            n_rows += t.num_rows
            if n_rows > _BLOOM_MAX_VALUES:
                break
            for c in cols:
                per_col[c].extend(t.column(c).to_pylist())
        if n_rows == 0 or n_rows > _BLOOM_MAX_VALUES:
            continue
        m = 8
        while m < n_rows * _BLOOM_BITS_PER_VALUE:
            m <<= 1
        out[u] = {
            c: {"m": m,
                "bits": base64.b64encode(
                    bytes(_bloom_build(
                        (v for v in vals if v is not None), m))).decode()}
            for c, vals in per_col.items()
        }
    return out


class CommitConflict(RuntimeError):
    """A concurrent writer committed between a rewrite's read and its
    commit; the caller should retry against the new current snapshot."""


def _carried_cols(manifest: dict, key: str, units: list[str]) -> set[str]:
    """Columns with recorded ``key`` ("unit_stats" / "unit_blooms")
    entries on any of ``units``."""
    per_unit = manifest.get(key, {})
    return {c for u in units for c in per_unit.get(u, {})}


def _keep_all(unit: str) -> bool:
    return True


def _keep_none(unit: str) -> bool:
    return False


def _commit_snapshot(root: str, operation: str, added: list[str], *,
                     keep=_keep_all, base: int | None = None,
                     source: int | None = None, schema: str | None = None,
                     partition_by: list[str] | None = None,
                     tag: str | None = None,
                     stats_cols: list[str] | None = None,
                     bloom_cols: list[str] | None = None,
                     staged: bool = False) -> int:
    """The one commit path: every snapshot of every table is added here.

    The new snapshot holds the units of ``source`` (default: the parent)
    that ``keep`` accepts, then ``added``. A rewrite passes the snapshot
    it read as ``base``; if another writer advanced the table since,
    :class:`CommitConflict` is raised instead of silently dropping that
    writer's rows (Iceberg's validate-at-commit rule for rewrites).
    ``schema`` defaults to the one committed at ``source``.

    Added units get per-unit [min, max] bounds for ``stats_cols`` and
    bloom filters for ``bloom_cols``, plus every column the units they
    replace (the ones ``keep`` rejects) carried: a rewrite keeps the
    skipping its input had, and an append records what its caller asks
    for. Both are read from the written files before the lock is taken.

    Under :func:`_meta_lock` the manifest is reloaded, the id assigned,
    the record appended and ``current_snapshot`` advanced — unless
    ``staged`` (write-audit-publish: :func:`publish` advances it)."""
    stats, blooms = {}, {}
    if added:
        m = _load(root)
        replaced = [u for u in _units_at(m, m["current_snapshot"])
                    if not keep(u)]
        s_cols = sorted(set(stats_cols or ())
                        | _carried_cols(m, "unit_stats", replaced))
        b_cols = sorted(set(bloom_cols or ())
                        | _carried_cols(m, "unit_blooms", replaced))
        if s_cols:
            stats = _collect_unit_stats(root, added, s_cols)
        if b_cols:
            blooms = _collect_unit_blooms(root, added, b_cols)
    with _meta_lock(root):
        m = _load(root)
        parent = m["current_snapshot"]
        if base is not None and parent != base:
            raise CommitConflict(
                f"table advanced {base} -> {parent} during {operation}; "
                "retry")
        src = parent if source is None else source
        snap = {
            "id": _next_id(m), "parent": parent, "operation": operation,
            "units": [u for u in _units_at(m, src) if keep(u)] + added,
            "added": added, "tag": tag,
            "schema": schema or _schema_at(m, src),
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        if staged:
            snap["staged"] = True
        else:
            m["current_snapshot"] = snap["id"]
            m["schema"] = snap["schema"]
        m["snapshots"].append(snap)
        if partition_by is not None:
            m["partition_by"] = partition_by
        if stats:
            m.setdefault("unit_stats", {}).update(stats)
        if blooms:
            m.setdefault("unit_blooms", {}).update(blooms)
        _commit(root, m)
    return snap["id"]


def append(df: DataFrame, root: str, partition_by: list[str] | None = None,
           tag: str | None = None,
           stats_cols: list[str] | None = None,
           bloom_cols: list[str] | None = None) -> int:
    """SNK1: append a snapshot; returns the new snapshot id.

    ``partition_by`` None or ``[]`` keeps the table's layout.
    ``tag`` is an idempotency token recorded in the snapshot (e.g. a
    streaming micro-batch id); see :func:`committed_tags`.
    ``stats_cols`` records per-unit [min, max] bounds for those columns
    in the manifest (from the parquet footers, no data read), enabling
    :func:`read`'s ``where_range`` data skipping. ``bloom_cols`` records
    per-unit bloom filters enabling ``where_point`` file skipping for
    point lookups (where min/max bounds cannot prune)."""
    partition_by = partition_by or _load(root)["partition_by"]
    new_units = _write_snapshot(df, root, _new_token(), partition_by)
    return _commit_snapshot(root, "append", new_units,
                            schema=df.schema.json(),
                            partition_by=partition_by, tag=tag,
                            stats_cols=stats_cols, bloom_cols=bloom_cols)


def overwrite_partitions(df: DataFrame, root: str,
                         partition_by: list[str] | None = None,
                         tag: str | None = None) -> int:
    """SNK2: dynamic-partition overwrite — partitions present in ``df``
    replace their previous units; untouched partitions survive. Idempotent
    re-runs of a stage therefore converge (checkpoint-resume, SURVEY.md §3.2)."""
    partition_by = partition_by or _load(root)["partition_by"]
    new_units = _write_snapshot(df, root, _new_token(), partition_by)
    replaced = {tuple(sorted(_partition_values(u).items())) for u in new_units}
    return _commit_snapshot(
        root, "overwrite", new_units, schema=df.schema.json(),
        partition_by=partition_by, tag=tag,
        keep=lambda u: tuple(sorted(_partition_values(u).items()))
        not in replaced)


def committed_tags(root: str) -> set[str]:
    """Idempotency tags of all committed snapshots — lets a replayed
    micro-batch detect it already committed (exactly-once foreachBatch)."""
    return {s["tag"] for s in _load(root)["snapshots"]
            if s.get("tag") is not None}


def _schema_at(manifest: dict, snapshot: int | None) -> str | None:
    """Schema json committed AT a snapshot (falls back to the table-level
    schema for manifests written before per-snapshot schemas existed)."""
    for s in manifest["snapshots"]:
        if s["id"] == snapshot and s.get("schema") is not None:
            return s["schema"]
    return manifest.get("schema")


def _units_at(manifest: dict, snapshot: int | None) -> list[str]:
    if snapshot is None:
        return []
    for s in manifest["snapshots"]:
        if s["id"] == snapshot:
            return list(s["units"])
    raise ValueError(f"unknown snapshot {snapshot}")


def snapshots(root: str) -> list[dict]:
    return _load(root)["snapshots"]


def current_snapshot(root: str) -> int | None:
    return _load(root)["current_snapshot"]


def partitions(root: str, snapshot: int | None = None) -> list[dict[str, str]]:
    """Distinct partition-value dicts at a snapshot (manifest-side only)."""
    m = _load(root)
    snap = snapshot if snapshot is not None else m["current_snapshot"]
    seen, out = set(), []
    for u in _units_at(m, snap):
        pv = _partition_values(u)
        key = tuple(sorted(pv.items()))
        if key not in seen:
            seen.add(key)
            out.append(pv)
    return out


def read(spark: SparkSession, root: str, snapshot: int | None = None,
         where: dict[str, object] | None = None,
         where_range: dict[str, tuple] | None = None,
         where_point: dict[str, object] | None = None,
         as_of_ts: str | None = None) -> DataFrame:
    """SRC2: scan at a snapshot with manifest-side partition pruning.

    ``as_of_ts`` is timestamp time-travel (Iceberg ``TIMESTAMP AS OF``):
    the scan pins at :func:`resolve_as_of`'s snapshot. Mutually
    exclusive with ``snapshot``.

    ``where`` maps partition column → value (or list of values); matching is
    done against the ``col=value`` path components BEFORE any Spark plan is
    built, so pruned partitions are never even listed — the IcebergLite
    analogue of Iceberg manifest pruning (SURVEY.md §4.2).

    ``where_range`` maps column → (lo, hi) inclusive bounds, pruned
    against the per-unit [min, max] stats recorded by append's
    ``stats_cols`` (Iceberg's data-file column bounds): a unit whose
    range cannot intersect is never listed. Units WITHOUT recorded stats
    for the column always survive — stats only ever skip provably-
    non-matching data, so this is a pure optimization, and the caller
    still applies the exact row filter (min/max cannot).

    ``where_point`` maps column → value (or list of values) for
    needle-in-haystack point lookups: units are skipped via the per-unit
    bloom filters recorded by append's ``bloom_cols`` (and the [min, max]
    stats when also present). Bloom false positives only ever ADMIT a
    unit; a recorded bloom never loses a row, and units without blooms
    always survive — the caller still applies the exact row filter.

    When no units survive — the table is empty at this snapshot, or
    ``where`` pruned everything — returns an EMPTY DataFrame with the
    table's committed schema (stored in the manifest at write time), so
    callers never need exceptions as control flow. Reading a table that
    has never been written (no snapshot, no schema) raises ValueError;
    probe with :func:`exists` / :func:`is_empty` first.
    """
    if as_of_ts is not None and snapshot is not None:
        raise ValueError("pass snapshot or as_of_ts, not both")
    if as_of_ts is not None:
        snapshot = resolve_as_of(root, as_of_ts)
    m = _load(root)
    snap = snapshot if snapshot is not None else m["current_snapshot"]
    units = _units_at(m, snap)
    if where:
        def keep(u: str) -> bool:
            pv = _partition_values(u)
            for k, v in where.items():
                if k in pv:
                    vals = v if isinstance(v, (list, tuple, set)) else [v]
                    if pv[k] not in {_hive_escape_value(x) for x in vals}:
                        return False
            return True
        units = [u for u in units if keep(u)]
    if where_range:
        unit_stats = m.get("unit_stats", {})

        def keep_range(u: str) -> bool:
            st = unit_stats.get(u, {})
            for col, (lo, hi) in where_range.items():
                if col not in st:
                    continue  # no stats recorded — cannot prove skip
                umin, umax = st[col]
                if (hi is not None and umin > hi) or \
                        (lo is not None and umax < lo):
                    return False
            return True
        units = [u for u in units if keep_range(u)]
    if where_point:
        # point-lookup skipping: a unit survives only if, for every
        # looked-up column, SOME wanted value might be present — by the
        # unit's bloom filter AND its [min, max] bounds when either is
        # recorded (both only ever skip provably-absent keys; a unit with
        # neither always survives, and the caller still applies the exact
        # row filter)
        unit_blooms = m.get("unit_blooms", {})
        unit_stats = m.get("unit_stats", {})

        def keep_point(u: str) -> bool:
            bl = unit_blooms.get(u, {})
            st = unit_stats.get(u, {})
            for col, v in where_point.items():
                vals = v if isinstance(v, (list, tuple, set)) else [v]

                def might_have(x) -> bool:
                    if col in st:
                        lo, hi = st[col]
                        if x < lo or x > hi:
                            return False
                    if col in bl and not _bloom_contains(bl[col], x):
                        return False
                    return True

                if not any(might_have(x) for x in vals):
                    return False
            return True
        units = [u for u in units if keep_point(u)]
    return _assemble_units(spark, root, m, units, snap,
                           empty_ctx=f"snapshot={snap}, where={where}")


def _assemble_units(spark: SparkSession, root: str, m: dict,
                    units: list[str], snap: int | None,
                    empty_ctx: str = "") -> DataFrame:
    """Shared tail of :func:`read` / :func:`read_incremental`: turn a
    pruned unit list into a DataFrame projected to the schema committed
    at ``snap`` (empty-with-schema when no units survive)."""
    snap_schema = _schema_at(m, snap)
    if snap_schema is None:
        raise ValueError(
            f"IcebergLite table {root} has never been written ({empty_ctx})")
    want = StructType.fromJson(json.loads(snap_schema))
    if not units:
        return spark.createDataFrame([], want)
    # group by owning snap dir so partition columns resolve via basePath
    by_snap: dict[str, list[str]] = {}
    for u in units:
        snap_dir = os.sep.join(u.split(os.sep)[:2])  # data/snap-N
        by_snap.setdefault(snap_dir, []).append(os.path.join(root, u))
    # read with the schema committed at ``snap``: no parquet schema
    # inference (one footer job per snapshot dir), and schema evolution
    # (Iceberg add-column semantics) falls out of the reader — units
    # written before a column existed read it as NULL, and a reader at
    # snapshot S sees exactly the columns that existed at S
    parts = [
        spark.read.schema(want).option("basePath", os.path.join(root, snap_dir))
        .parquet(*paths)
        for snap_dir, paths in sorted(by_snap.items())
    ]
    # partition columns come last in each scan; restore the committed order
    return reduce(DataFrame.unionByName, parts).select(*want.fieldNames())


def read_incremental(spark: SparkSession, root: str, from_snapshot: int,
                     to_snapshot: int | None = None) -> DataFrame:
    """Incremental append scan (Iceberg's ``incremental read`` /
    CDC-append semantics): the rows ADDED strictly after ``from_snapshot``
    up to and including ``to_snapshot`` (default: current). The decision
    is metadata-only — the parent chain is walked in the manifest and only
    the ``added`` unit lists of append snapshots are ever handed to Spark,
    so per-batch downstream cost is bounded by the new data, not the table
    size (the same contract the streaming ingest relies on).

    Follows Iceberg's rules: ``compact``/``cluster`` snapshots in the
    range are skipped (file rewrites, no logical change — their rows were
    already reported when first appended); ``overwrite``/``delete``/
    ``merge`` snapshots raise ValueError, because append-only semantics
    cannot represent row removal — callers must fall back to a full scan
    at ``to_snapshot``. ``from_snapshot`` must be an ancestor of
    ``to_snapshot``."""
    m = _load(root)
    to = to_snapshot if to_snapshot is not None else m["current_snapshot"]
    if to is None:
        raise ValueError(f"IcebergLite table {root} has no snapshot")
    by_id = {s["id"]: s for s in m["snapshots"]}
    added: list[str] = []
    cur = to
    while cur != from_snapshot:
        if cur is None or cur not in by_id:
            raise ValueError(
                f"snapshot {from_snapshot} is not an ancestor of {to}")
        s = by_id[cur]
        op = s.get("operation", "append")
        if op == "append":
            added.extend(s.get("added", []))
        elif op in ("compact", "cluster"):
            pass  # pure file rewrite — no logical row change
        else:
            raise ValueError(
                f"incremental read across a '{op}' snapshot (id={cur}) is "
                f"not append-only; full-scan at snapshot {to} instead")
        cur = s.get("parent")
    # a later compact/cluster in the range may have dropped the original
    # files from the CURRENT unit list, but the files themselves are kept
    # on disk until expire_snapshots — reading them is still correct and
    # keeps this path independent of maintenance timing
    return _assemble_units(spark, root, m, added, to,
                           empty_ctx=f"incremental {from_snapshot}->{to}")


def drop_partitions(root: str, where: dict[str, object]) -> int:
    """Metadata-only partition delete (Iceberg ``DELETE WHERE`` on partition
    predicates): commits a snapshot whose unit list excludes matching
    partitions. Data files stay on disk (time travel still sees them)."""
    def match(u: str) -> bool:
        pv = _partition_values(u)
        for k, v in where.items():
            vals = v if isinstance(v, (list, tuple, set)) else [v]
            if k in pv and pv[k] in {_hive_escape_value(x) for x in vals}:
                continue
            return False
        return True

    return _commit_snapshot(root, "delete", [],
                            keep=lambda u: not match(u))


def compact(spark: SparkSession, root: str) -> int:
    """Maintenance: rewrite the CURRENT snapshot into one file per
    partition and commit it as a new snapshot whose unit list is ONLY the
    rewritten units. This is the small-file compaction every
    streaming-append table needs at scale — a foreachBatch writer commits
    a snapshot per micro-batch, so after N batches a partition is
    scattered over N small files and scan task count grows O(N).
    Data is bit-identical (tested); older snapshots still time-travel to
    the pre-compaction file sets.

    Concurrency: the rewrite reads OUTSIDE the lock (it is the expensive
    part); at commit time, if another writer advanced the table since,
    raises :class:`CommitConflict` instead of silently dropping that
    writer's rows — the same validate-at-commit rule real Iceberg uses
    for rewrite operations."""
    from pyspark.sql import functions as F

    m = _load(root)
    base = m["current_snapshot"]
    if base is None:
        raise ValueError(f"IcebergLite table {root} has never been written")
    partition_by = m["partition_by"]
    df = read(spark, root, snapshot=base)
    if partition_by:
        # one shuffle task per partition value -> one output file each
        df = df.repartition(*[F.col(c) for c in partition_by])
    else:
        df = df.coalesce(1)
    new_units = _write_snapshot(df, root, _new_token(), partition_by)
    return _commit_snapshot(root, "compact", new_units, base=base,
                            keep=_keep_none)


_ZORDER_BITS = 16


def _zvalue_expr(spark: SparkSession, df, cols: list[str]):
    """Z-order (Morton) key over ``cols`` as a pure Catalyst expression:
    each column is normalized to a ``_ZORDER_BITS``-bit integer via its
    global [min, max] (one bounded scalar aggregate), then the bits are
    interleaved with shift/or terms. Sorting by the interleaved key
    gives every participating column locality in the file layout, so
    per-unit [min, max] stats prune on ANY of the dims — the multi-
    column generalization a lexicographic sort can't provide (it only
    localizes the leading column)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]  # bounded: one scalar row
    top = (1 << _ZORDER_BITS) - 1
    parts = []
    for ci, c in enumerate(cols):
        mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn))
                    / F.lit(span) * F.lit(top + 1)).cast("bigint"))
        for b in range(_ZORDER_BITS):
            parts.append(F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)),
                b * len(cols) + ci))
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def cluster_by(spark: SparkSession, root: str, sort_cols: list[str],
               n_units: int = 8,
               stats_cols: list[str] | None = None,
               zorder: bool = False) -> int:
    """Maintenance: sort-order rewrite (Iceberg ``rewrite_data_files``
    with a sort order / Delta ``OPTIMIZE ZORDER BY`` analogue). Rewrites
    the current snapshot range-partitioned on ``sort_cols`` into
    ``n_units`` units with DISJOINT value ranges, so the per-unit
    [min, max] bounds recorded in the manifest become selective: after
    appends in arrival order every unit spans the whole value range and
    ``where_range`` can prove nothing; after clustering a range
    predicate prunes all but the overlapping units. This is what makes
    column-stats skipping EFFECTIVE, not just correct — at 100 TB the
    difference between listing every file and listing selectivity x
    n_units of them.

    Each range bucket lands in its own unit directory via a synthetic
    ``_cluster_bucket=K`` path component (Spark's range partitioner
    assigns contiguous, sorted, disjoint key ranges to partition ids);
    the committed manifest schema is unchanged, and :func:`read`
    projects every scan to it, so the synthetic component never appears
    in query results. Unit stats are recorded for ``sort_cols`` and
    ``stats_cols`` (plus what the rewritten units carried, like every
    rewrite: :func:`_commit_snapshot`). Unpartitioned tables only (a
    partitioned table's clustering unit is the partition — compact does
    that); same validate-at-commit conflict rule as :func:`compact`.

    ``zorder=True`` clusters on the bit-interleaved Morton key of
    ``sort_cols`` instead of their lexicographic order (Delta
    OPTIMIZE ZORDER proper): a lexicographic sort localizes only the
    LEADING column, so range predicates on the second column still
    scan every unit; the Z-curve gives every participating column
    locality, so each one's per-unit bounds prune independently
    (pytest-pinned on both dims in test_iceberglite)."""
    from pyspark.sql import functions as F

    m = _load(root)
    base = m["current_snapshot"]
    if base is None:
        raise ValueError(f"IcebergLite table {root} has never been written")
    if m["partition_by"]:
        raise ValueError("cluster_by supports unpartitioned tables; "
                         "partitioned tables cluster per-partition via "
                         "compact()")
    df = read(spark, root, snapshot=base)
    if zorder and len(sort_cols) >= 2:
        zdf = df.withColumn("_zv", _zvalue_expr(spark, df, sort_cols))
        rdf = (zdf.repartitionByRange(n_units, F.col("_zv"))
               .sortWithinPartitions("_zv").drop("_zv")
               .withColumn("_cluster_bucket", F.spark_partition_id()))
    else:
        rdf = (df.repartitionByRange(n_units,
                                     *[F.col(c) for c in sort_cols])
               .sortWithinPartitions(*sort_cols)
               .withColumn("_cluster_bucket", F.spark_partition_id()))
    new_units = _write_snapshot(rdf, root, _new_token(),
                                ["_cluster_bucket"])
    return _commit_snapshot(root, "cluster", new_units, base=base,
                            keep=_keep_none,
                            stats_cols=list(sort_cols) + list(stats_cols or []))


def merge_upsert(spark: SparkSession, updates: DataFrame, root: str,
                 key_cols: list[str]) -> int:
    """MERGE INTO (copy-on-write upsert): rows of ``updates`` replace
    current rows with the same key; unmatched keys insert. Commits one
    new snapshot containing (current ANTI-JOIN updates-keys) UNION
    updates — real Iceberg's copy-on-write MERGE, which rewrites only
    the files holding matched rows. When the table's partition columns
    are a subset of ``key_cols``, a matched row can only live in a
    partition the updates touch, so ONLY those partitions are read and
    rewritten and every untouched unit carries over — the merge cost
    scales with the batch, not the table. Otherwise the rewrite is
    table-wide (compact-sized). Older snapshots still time-travel to the
    pre-merge rows.

    Concurrency: same validate-at-commit rule as :func:`compact` — the
    expensive rewrite runs outside the lock; if another writer advanced
    the table since the read, raises :class:`CommitConflict` (silently
    committing would drop that writer's rows from the merged image).

    ``updates`` must be key-unique (enforced: ambiguous merges raise).

    The rewritten units get the stats and blooms the units they replace
    carried (:func:`_commit_snapshot`), so where_range / where_point
    skipping survives a merge instead of silently degrading to a full
    scan (ADVICE r04).
    """
    from pyspark.sql import functions as F

    m = _load(root)
    base = m["current_snapshot"]
    if base is None:
        raise ValueError(f"IcebergLite table {root} has never been written")
    partition_by = m["partition_by"]
    dup = (updates.groupBy(*key_cols).count()
           .filter(F.col("count") > 1).limit(1).count())
    if dup:
        raise ValueError(
            f"updates carry duplicate keys on {key_cols}: MERGE would be "
            "ambiguous (real Iceberg raises the same cardinality error)")
    partition_scoped = bool(partition_by) and set(partition_by) <= set(key_cols)
    touched = _keep_all  # a table-wide rewrite replaces every unit
    if partition_scoped:
        # matched rows can only live in partitions the updates touch —
        # read just those (manifest pruning), carry every other unit over
        rows = updates.select(*partition_by).distinct().collect()
        # RAW values go to read() (it path-encodes internally); the
        # kept-unit scoping below compares against the SAME encoding, so
        # the pruned read and the carried-over set can never disagree on
        # a value's path spelling (ADVICE r05: str() vs hive escaping /
        # __HIVE_DEFAULT_PARTITION__ left a matched row in both)
        where = {c: sorted({r[c] for r in rows}, key=_hive_escape_value)
                 for c in partition_by}
        cur = read(spark, root, snapshot=base, where=where)
        enc = {c: {_hive_escape_value(v) for v in where[c]}
               for c in partition_by}

        def touched(u: str) -> bool:
            pv = _partition_values(u)
            return all(pv.get(c) in enc[c] for c in partition_by
                       if c in pv)
    else:
        cur = read(spark, root, snapshot=base)
    updates = updates.select(*cur.columns)  # align column order to table
    # NULL-SAFE key match: a plain equi anti-join never matches NULL
    # keys, so a NULL-keyed update would land NEXT TO the old NULL row
    # instead of replacing it. This table treats the key tuple as row
    # identity (the duplicate-key guard above already groups NULLs as
    # one key), so the replace contract must too.
    upd_keys = updates.select(*key_cols)
    merged = cur.join(
        upd_keys,
        reduce(lambda a, b: a & b,
               [cur[c].eqNullSafe(upd_keys[c]) for c in key_cols]),
        "left_anti").unionByName(updates)
    if partition_by:
        merged = merged.repartition(*[F.col(c) for c in partition_by])
    new_units = _write_snapshot(merged, root, _new_token(), partition_by)
    return _commit_snapshot(root, "merge", new_units, base=base,
                            keep=lambda u: not touched(u))


def expire_snapshots(root: str, keep_last: int = 1,
                     orphan_grace_secs: float = 60.0) -> list[str]:
    """Maintenance: drop all but the newest ``keep_last`` snapshots from
    the manifest and DELETE snap directories no retained snapshot
    references — the disk-reclaim counterpart of append-forever metadata
    (real Iceberg's expire_snapshots + remove_orphan_files in one step,
    valid here because all data lives under ``data/snap-*``). Returns the
    removed directory names. Time travel to expired snapshots is gone by
    design; the current snapshot is always retained.

    ``orphan_grace_secs`` (ADVICE r03): append/compact write their snap
    directory BEFORE taking the manifest lock, so an unreferenced dir may
    belong to an IN-FLIGHT writer about to commit it — deleting it would
    make that commit reference vanished parquet. Only dirs whose mtime is
    older than the grace window are reclaimed (same spirit as real
    Iceberg's remove_orphan_files `older_than`, default 3 days there);
    pass 0 only when no concurrent writers can exist."""
    import shutil

    with _meta_lock(root):
        m = _load(root)
        snaps = m["snapshots"]
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        kept = snaps[-keep_last:] if len(snaps) > keep_last else snaps
        kept_ids = {s["id"] for s in kept}
        referenced = {u.split(os.sep)[1] for s in kept for u in s["units"]}
        if len(snaps) > keep_last:
            for s in kept:
                if s["parent"] not in kept_ids:
                    s["parent"] = None  # history truncated here
            m["snapshots"] = kept
            # unit_stats for units no retained snapshot references would
            # otherwise accumulate forever (every rewrite op adds keys,
            # nothing removed them — ADVICE r04): prune to the kept units
            if "unit_stats" in m or "unit_blooms" in m:
                kept_units = {u for s in kept for u in s["units"]}
                if "unit_stats" in m:
                    m["unit_stats"] = {
                        u: st for u, st in m["unit_stats"].items()
                        if u in kept_units}
                if "unit_blooms" in m:
                    m["unit_blooms"] = {
                        u: bl for u, bl in m["unit_blooms"].items()
                        if u in kept_units}
            _commit(root, m)
    # The orphan sweep runs even when the manifest is already minimal:
    # a prior expire inside the grace window truncates metadata but must
    # leave young dirs behind, and a LATER call has to be able to reclaim
    # them once the grace elapses — early-returning here would leak them
    # forever.
    removed = []
    now = time.time()
    data_dir = os.path.join(root, "data")
    if os.path.isdir(data_dir):
        for d in sorted(os.listdir(data_dir)):
            if not (d.startswith("snap-") and d not in referenced):
                continue
            path = os.path.join(data_dir, d)
            try:
                if now - os.stat(path).st_mtime < orphan_grace_secs:
                    continue  # possibly an in-flight writer's files
            except OSError:
                continue  # raced with its own cleanup — leave it
            shutil.rmtree(path, ignore_errors=True)
            removed.append(d)
    return removed


def exists(root: str) -> bool:
    return current_snapshot(root) is not None


def is_empty(root: str) -> bool:
    """Manifest-only emptiness probe: True when the current snapshot
    holds no units (e.g. after drop_partitions removed everything).
    A table that was never written has no units either, so it is empty
    too; :func:`exists` tells the two apart."""
    m = _load(root)
    return not _units_at(m, m["current_snapshot"])


def resolve_as_of(root: str, ts: str) -> int:
    """Timestamp time-travel resolution (Iceberg ``TIMESTAMP AS OF``):
    the NEWEST snapshot whose commit ``ts`` (ISO-8601 second precision,
    lexicographically ordered) is at or before the given timestamp.
    Staged (unpublished WAP) snapshots never resolve — they were never
    the table state. Raises if the timestamp predates the first commit."""
    m = _load(root)
    best = None
    for s in m["snapshots"]:
        if s.get("staged"):
            continue
        if s.get("ts") is not None and s["ts"] <= ts:
            if best is None or s["id"] > best:
                best = s["id"]
    if best is None:
        raise ValueError(f"no snapshot at or before {ts!r} in {root}")
    return best


def metadata_table(spark: SparkSession, root: str, kind: str) -> DataFrame:
    """Iceberg metadata tables (``SELECT * FROM tbl.snapshots`` etc.) as
    DataFrames — the operational-introspection surface a table format
    owes its operators. All three are built from the manifest (plus
    parquet footers for row counts), never by scanning data:

    - ``snapshots``: id, parent, operation, ts, tag, n_units, n_added,
      staged (WAP-staged, not yet published), is_current
    - ``files``: current snapshot's data files — unit, partition (JSON
      string, scalar-celled for the driver canon), file name,
      size_bytes, row_count
    - ``partitions``: current snapshot's partition values (JSON string)
      with unit/file/row counts

    Driver-side construction is fine at any scale: manifests are
    metadata (thousands of entries), not data.
    """
    m = _load(root)
    if kind == "snapshots":
        rows = [(s["id"], s.get("parent"), s.get("operation", "append"),
                 s.get("ts"), s.get("tag"),
                 len(s.get("units", [])), len(s.get("added", [])),
                 bool(s.get("staged")), s["id"] == m["current_snapshot"])
                for s in m["snapshots"]]
        return spark.createDataFrame(
            rows, "id int, parent int, operation string, ts string,"
                  " tag string, n_units int, n_added int,"
                  " staged boolean, is_current boolean")
    if kind in ("files", "partitions"):
        import pyarrow.parquet as pq

        file_rows = []
        for u in _units_at(m, m["current_snapshot"]):
            pv = json.dumps(_partition_values(u), sort_keys=True)
            d = os.path.join(root, u)
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                p = os.path.join(d, fname)
                file_rows.append(
                    (u, pv, fname, os.stat(p).st_size,
                     pq.ParquetFile(p).metadata.num_rows))
        if kind == "files":
            return spark.createDataFrame(
                file_rows, "unit string, partition string, file string,"
                           " size_bytes long, row_count long")
        agg: dict[str, list] = {}
        units_of: dict[str, set] = {}
        for u, pv, _f, sz, n in file_rows:
            cur = agg.setdefault(pv, [0, 0, 0])
            cur[0] += 1
            cur[1] += sz
            cur[2] += n
            units_of.setdefault(pv, set()).add(u)
        return spark.createDataFrame(
            [(pv, len(units_of[pv]), c[0], c[1], c[2])
             for pv, c in sorted(agg.items())],
            "partition string, n_units int, n_files int,"
            " size_bytes long, row_count long")
    raise ValueError(f"unknown metadata table {kind!r} "
                     "(one of: snapshots, files, partitions)")


def rollback_to(root: str, snapshot: int) -> int:
    """Iceberg ``rollback_to_snapshot``: commit a NEW snapshot whose
    content is the table state at ``snapshot`` — history is preserved
    (the abandoned snapshots remain time-travelable until
    expire_snapshots), and concurrent writers are serialized by the
    metadata lock like any other commit. read_incremental refuses to
    cross a rollback (rows were logically removed — append-only
    semantics cannot represent it)."""
    return _commit_snapshot(root, "rollback", [], source=snapshot)


def stage_append(df: DataFrame, root: str,
                 partition_by: list[str] | None = None,
                 stats_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None) -> int:
    """Write-audit-publish (Iceberg's WAP workflow): commit the snapshot
    into history WITHOUT advancing ``current_snapshot``. Production
    readers keep seeing the old table; an auditor pins the staged id
    (``read(root, snapshot=staged_id)``), runs its checks, then
    :func:`publish` flips the pointer — the flip is metadata-only and
    atomic, so a failed audit simply never publishes (the staged files
    are reclaimed by expire_snapshots' orphan sweep once truncated).
    """
    partition_by = partition_by or _load(root)["partition_by"]
    new_units = _write_snapshot(df, root, _new_token(), partition_by)
    return _commit_snapshot(root, "append", new_units,
                            schema=df.schema.json(),
                            partition_by=partition_by,
                            stats_cols=stats_cols, bloom_cols=bloom_cols,
                            staged=True)


def publish(root: str, snapshot: int) -> int:
    """Publish a staged snapshot (WAP audit passed). Validates the
    staged snapshot's parent is STILL the current snapshot — a writer
    that committed in between invalidates the staged lineage, and the
    caller must re-stage on top (the same optimistic-concurrency rule
    every other commit path follows)."""
    with _meta_lock(root):
        m = _load(root)
        target = next((s for s in m["snapshots"] if s["id"] == snapshot),
                      None)
        if target is None:
            raise ValueError(f"unknown snapshot {snapshot}")
        if not target.get("staged"):
            raise ValueError(f"snapshot {snapshot} was not staged")
        if target["parent"] != m["current_snapshot"]:
            raise CommitConflict(
                f"table advanced {target['parent']} -> "
                f"{m['current_snapshot']} since staging; re-stage")
        del target["staged"]
        m["current_snapshot"] = snapshot
        _commit(root, m)
    return snapshot
