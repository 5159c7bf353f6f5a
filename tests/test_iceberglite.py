"""IcebergLite semantics: append, snapshot pinning, dynamic-partition
overwrite, manifest-side partition pruning (SURVEY.md §2.1 SRC2/SNK1/SNK2)."""

import os

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.sources import iceberglite as il


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


def test_append_and_snapshot_pinning(spark, tbl):
    s1 = il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    s2 = il.append(_df(spark, [("a", 3)]), tbl, ["k"])
    assert il.current_snapshot(tbl) == s2
    assert il.read(spark, tbl).count() == 3
    # time travel to the first snapshot
    assert il.read(spark, tbl, snapshot=s1).count() == 2
    ops = [s["operation"] for s in il.snapshots(tbl)]
    assert ops == ["append", "append"]


def test_overwrite_partitions_keeps_untouched(spark, tbl):
    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    il.overwrite_partitions(_df(spark, [("a", 99)]), tbl, ["k"])
    got = {(r.k, r.v) for r in il.read(spark, tbl).collect()}
    assert got == {("a", 99), ("b", 2)}


def test_overwrite_partitions_keeps_range_skipping(spark, tbl):
    """The unit an overwrite writes gets the [min, max] bounds the unit it
    replaces carried, so a where_range read still skips it, with exact
    rows."""
    il.append(_df(spark, [("a", 1), ("a", 9), ("b", 100), ("b", 190)]),
              tbl, ["k"], stats_cols=["v"])
    il.overwrite_partitions(_df(spark, [("a", 5), ("a", 50)]), tbl, ["k"])
    m = il._load(tbl)
    (unit,) = m["snapshots"][-1]["added"]
    assert m["unit_stats"][unit]["v"] == [5, 50]
    full = il.read(spark, tbl)
    for lo, hi, want in ((100, 200, [100, 190]), (0, 60, [5, 50])):
        pruned = il.read(spark, tbl, where_range={"v": (lo, hi)})
        other = "k=a" if lo == 100 else "k=b"
        assert pruned.inputFiles() and all(
            other not in f for f in pruned.inputFiles())
        rows = pruned.filter(F.col("v").between(lo, hi))
        assert sorted(r.v for r in rows.collect()) == want == sorted(
            r.v for r in full.filter(F.col("v").between(lo, hi)).collect())


def test_drop_partitions_waits_for_the_metadata_lock(spark, tbl):
    """drop_partitions commits under the metadata lock: while another
    holder has it, no snapshot is committed (a lock-free commit can drop
    the holder's snapshot); once it is released, the drop lands."""
    import threading

    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    base = il.current_snapshot(tbl)
    done = []
    with il._meta_lock(tbl):
        t = threading.Thread(
            target=lambda: done.append(il.drop_partitions(tbl, {"k": "a"})))
        t.start()
        t.join(0.5)
        assert t.is_alive() and not done
        assert il.current_snapshot(tbl) == base
    t.join(30)
    assert not t.is_alive() and il.current_snapshot(tbl) == done[0] != base
    assert {r.k for r in il.read(spark, tbl).collect()} == {"b"}


def test_manifest_side_pruning_lists_only_matching(spark, tbl):
    il.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), tbl, ["k"])
    df = il.read(spark, tbl, where={"k": "b"})
    assert [r.v for r in df.collect()] == [2]
    # the pruned plan must not reference other partitions' files
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "k=b" in plan or "b" in str(df.inputFiles())
    assert all("k=a" not in f for f in df.inputFiles())


def test_partitions_listing(spark, tbl):
    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    assert sorted(p["k"] for p in il.partitions(tbl)) == ["a", "b"]


def test_atomic_commit_no_partial_state(spark, tbl):
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    m_before = il._load(tbl)
    # a crashed write (files on disk, no commit) must be invisible
    snap_dir = os.path.join(tbl, "data", "snap-999")
    _df(spark, [("z", 0)]).write.partitionBy("k").parquet(snap_dir)
    assert il._load(tbl) == m_before
    assert il.read(spark, tbl).count() == 1


def test_unpartitioned_roundtrip(spark, tbl):
    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, [])
    assert il.read(spark, tbl).count() == 2


def test_json_lines_source(spark, tmp_path):
    """SRC3: schema-required JSON-lines read (no inference on the path)."""
    import json

    from joint_entity_and_relation_extraction_spark.sources.io import read_json_lines

    p = tmp_path / "aliases.jsonl"
    rows = [{"alias_norm": "spark", "entity_id": 1, "prior": 0.9},
            {"alias_norm": "flink", "entity_id": 2, "prior": 0.5}]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_json_lines(spark, str(p),
                         "alias_norm string, entity_id long, prior double")
    got = {(r.alias_norm, r.entity_id, r.prior) for r in df.collect()}
    assert got == {("spark", 1, 0.9), ("flink", 2, 0.5)}


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: random append / overwrite_partitions /
    drop_partitions sequences must match a dict-of-partitions reference
    model at every step, including reads pinned to historical snapshots."""
    import random

    rng = random.Random(11)
    root = str(tmp_path / "mb")
    model: dict[str, list[int]] = {}          # partition value -> values
    history: list[tuple[int, dict]] = []      # (snapshot_id, model copy)

    def df_for(batch):
        return spark.createDataFrame(batch, "k string, v int")

    for step in range(12):
        op = rng.choice(["append", "overwrite", "drop"])
        parts = rng.sample(["a", "b", "c", "d"], rng.randint(1, 2))
        batch = [(p, step * 100 + i) for i, p in enumerate(parts)]
        if op == "append" or not il.exists(root):
            sid = il.append(df_for(batch), root, ["k"])
            for p, v in batch:
                model.setdefault(p, []).append(v)
        elif op == "overwrite":
            sid = il.overwrite_partitions(df_for(batch), root, ["k"])
            for p in parts:
                model[p] = []
            for p, v in batch:
                model.setdefault(p, []).append(v)
        else:
            victim = rng.choice(["a", "b", "c", "d"])
            sid = il.drop_partitions(root, {"k": victim})
            model.pop(victim, None)
        history.append((sid, {k: sorted(v) for k, v in model.items()}))
        got = {}
        for r in il.read(spark, root).collect() if model else []:
            got.setdefault(r.k, []).append(r.v)
        assert {k: sorted(v) for k, v in got.items()} == \
            {k: v for k, v in model.items() if v}
    # time travel: every historical snapshot still reproduces its state
    for sid, snap_model in history[::3]:
        live = {k: v for k, v in snap_model.items() if v}
        if not live:
            continue
        got = {}
        for r in il.read(spark, root, snapshot=sid).collect():
            got.setdefault(r.k, []).append(r.v)
        assert {k: sorted(v) for k, v in got.items()} == live


def test_read_empty_returns_schema_typed_frame(spark, tbl):
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    # where pruning everything → empty frame with the committed schema
    empty = il.read(spark, tbl, where={"k": "nope"})
    assert empty.isEmpty() and empty.columns == ["k", "v"]
    # dropping every partition → still schema-typed empty
    il.drop_partitions(tbl, {"k": "a"})
    assert il.read(spark, tbl).isEmpty()
    # a table never written raises (nothing to infer a schema from)
    with pytest.raises(ValueError):
        il.read(spark, str(tbl) + "-missing")


def test_concurrent_writers_lose_no_snapshot(spark, tbl):
    """Two interleaved writers (the streaming append + lineage append
    scenario): the metadata-merge lock must prevent last-write-wins from
    silently dropping the first writer's snapshot."""
    import threading

    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    errs = []

    def write(val):
        try:
            il.append(_df(spark, [("w", val)]), tbl, ["k"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    # every writer's row is present at the current snapshot
    got = {r.v for r in il.read(spark, tbl).collect()}
    assert got == {1, 0, 2, 3} | {1}
    ids = [s["id"] for s in il.snapshots(tbl)]
    assert ids == sorted(set(ids))  # five distinct committed snapshots
    assert len(ids) == 5


def test_foreachbatch_replay_is_idempotent(spark, tbl):
    """Crash-between-commit-and-checkpoint: foreachBatch replays the same
    batch_id on restart; the manifest tag must make the second append a
    no-op (ADVICE round 1)."""
    from joint_entity_and_relation_extraction_spark.functions import webgen
    from joint_entity_and_relation_extraction_spark.operators.webpages import (
        WEB_PAGES_SCHEMA)
    from joint_entity_and_relation_extraction_spark.streaming.ingest import (
        batch_extract_handler)

    rows = [webgen.web_page_row(i, f"Alice works for Acme {i}.", "en", "crawl")
            for i in range(4)]
    batch = spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
    handle = batch_extract_handler(tbl)
    handle(batch, 7)
    n1 = il.read(spark, tbl).count()
    handle(batch, 7)  # replay of the SAME micro-batch after a crash
    assert il.read(spark, tbl).count() == n1
    assert len(il.snapshots(tbl)) == 1
    handle(batch, 8)  # a genuinely new batch still appends
    assert il.read(spark, tbl).count() == 2 * n1


def test_stale_manifest_lock_is_broken(spark, tbl):
    """A writer killed between creating manifest.lock and unlinking it must
    not wedge the table forever: a lock older than the acquisition timeout
    is broken and the append proceeds (ADVICE r02)."""
    import time

    os.makedirs(tbl, exist_ok=True)
    with open(os.path.join(tbl, "manifest.lock"), "w") as f:
        f.write(f"99999 {time.time() - 3600}\n")  # orphaned an hour ago
    il.append(_df(spark, [("a", 1)]), tbl, [])
    assert il.read(spark, tbl).count() == 1
    assert not os.path.exists(os.path.join(tbl, "manifest.lock"))


def test_fresh_lock_still_blocks_until_timeout(spark, tbl):
    """A RECENT lock (live writer) must still block: acquisition times out
    rather than stealing the lock from a healthy holder."""
    import time

    import pytest as _pytest

    from joint_entity_and_relation_extraction_spark.sources.iceberglite import (
        _meta_lock)

    os.makedirs(tbl, exist_ok=True)
    with open(os.path.join(tbl, "manifest.lock"), "w") as f:
        f.write(f"{os.getpid()} {time.time()}\n")
    with _pytest.raises(TimeoutError, match="manifest.lock"):
        with _meta_lock(tbl, timeout=0.3):
            pass


def _file_count(root, snap_id):
    m = il._load(root)
    units = il._units_at(m, snap_id)
    n = 0
    for u in units:
        n += sum(1 for f in os.listdir(os.path.join(root, u))
                 if f.endswith(".parquet"))
    return n


def test_compact_rewrites_small_files_same_data(spark, tbl):
    """Five appends scatter each partition over five files; compact must
    collapse to one file per partition, keep the data bit-identical, and
    leave the pre-compaction snapshot time-travelable."""
    for i in range(5):
        il.append(_df(spark, [("a", i), ("b", 10 + i)]), tbl, ["k"])
    before_snap = il.current_snapshot(tbl)
    before = sorted(map(tuple, il.read(spark, tbl).collect()))
    assert _file_count(tbl, before_snap) == 10  # 2 partitions x 5 appends
    snap = il.compact(spark, tbl)
    assert sorted(map(tuple, il.read(spark, tbl).collect())) == before
    assert _file_count(tbl, snap) == 2  # one file per partition
    # time travel to the pre-compaction snapshot still sees the same rows
    assert sorted(map(tuple,
                      il.read(spark, tbl, snapshot=before_snap).collect())) \
        == before


def test_compact_conflict_detection(spark, tbl):
    """A writer that advances the table between compaction's read and its
    commit must trigger CommitConflict, never silent row loss."""
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    base = il.current_snapshot(tbl)
    # simulate the concurrent commit by appending before compact's lock:
    # monkey-patch _write_snapshot to append mid-flight
    real_write = il._write_snapshot
    raced = []

    def racing_write(df, root, token, partition_by):
        units = real_write(df, root, token, partition_by)
        if not raced:  # the racer's own append re-enters this patch —
            raced.append(1)  # race exactly once or it recurses forever
            il.append(_df(spark, [("b", 2)]), tbl, ["k"])
        return units

    il._write_snapshot = racing_write
    try:
        with pytest.raises(il.CommitConflict):
            il.compact(spark, tbl)
    finally:
        il._write_snapshot = real_write
    # racer's row survived; table still consistent
    assert il.read(spark, tbl).count() == 2


def test_cluster_by_conflict_detection(spark, tbl, monkeypatch):
    """An append landing between cluster_by's write and its commit must
    raise CommitConflict, never drop the racer's rows; a retry on the new
    current snapshot clusters both."""
    il.append(_df(spark, [("a", 1)]), tbl, [])
    real_write = il._write_snapshot
    raced = []

    def racing_write(df, root, token, partition_by):
        units = real_write(df, root, token, partition_by)
        if not raced:
            raced.append(1)
            il.append(_df(spark, [("b", 2)]), tbl, [])
        return units

    monkeypatch.setattr(il, "_write_snapshot", racing_write)
    with pytest.raises(il.CommitConflict):
        il.cluster_by(spark, tbl, ["v"], n_units=2)
    assert sorted(map(tuple, il.read(spark, tbl).collect())) \
        == [("a", 1), ("b", 2)]
    il.cluster_by(spark, tbl, ["v"], n_units=2)
    assert il.snapshots(tbl)[-1]["operation"] == "cluster"
    assert sorted(map(tuple, il.read(spark, tbl).collect())) \
        == [("a", 1), ("b", 2)]


def test_expire_snapshots_reclaims_unreferenced_dirs(spark, tbl):
    """After compaction, expiring history must delete the old snap dirs
    (no retained snapshot references them), keep the compacted data
    readable, and truncate the manifest to keep_last entries."""
    for i in range(3):
        il.append(_df(spark, [("a", i)]), tbl, ["k"])
    before = sorted(map(tuple, il.read(spark, tbl).collect()))
    il.compact(spark, tbl)
    n_dirs_before = len(os.listdir(os.path.join(tbl, "data")))
    # default grace window: the just-written dirs could belong to an
    # in-flight writer (ADVICE r03) — manifest truncates, dirs survive
    removed = il.expire_snapshots(tbl, keep_last=1)
    assert removed == []
    assert len(il.snapshots(tbl)) == 1
    assert len(os.listdir(os.path.join(tbl, "data"))) == n_dirs_before
    # grace elapsed (grace=0 here): unreferenced dirs are reclaimed
    removed = il.expire_snapshots(tbl, keep_last=1, orphan_grace_secs=0)
    assert len(removed) == 3  # the three pre-compaction append dirs
    assert len(os.listdir(os.path.join(tbl, "data"))) == n_dirs_before - 3
    assert sorted(map(tuple, il.read(spark, tbl).collect())) == before
    assert len(il.snapshots(tbl)) == 1
    # expiring an already-minimal table is a no-op
    assert il.expire_snapshots(tbl, keep_last=1, orphan_grace_secs=0) == []


def test_empty_lock_file_is_recovered_by_mtime(spark, tbl):
    """A writer killed between os.open and os.write leaves an EMPTY lock
    whose content never parses; staleness must fall back to the file's
    mtime instead of blocking forever (ADVICE r03)."""
    import time

    os.makedirs(tbl, exist_ok=True)
    lock = os.path.join(tbl, "manifest.lock")
    with open(lock, "w"):
        pass  # zero bytes — unparseable
    old = time.time() - 3600
    os.utime(lock, (old, old))
    il.append(_df(spark, [("a", 1)]), tbl, [])
    assert il.read(spark, tbl).count() == 1
    assert not os.path.exists(lock)


def test_fresh_empty_lock_still_blocks(spark, tbl):
    """An empty lock with a RECENT mtime is a live writer mid-os.write —
    it must still block rather than be stolen."""
    import pytest as _pytest

    from joint_entity_and_relation_extraction_spark.sources.iceberglite import (
        _meta_lock)

    os.makedirs(tbl, exist_ok=True)
    with open(os.path.join(tbl, "manifest.lock"), "w"):
        pass
    with _pytest.raises(TimeoutError, match="manifest.lock"):
        with _meta_lock(tbl, timeout=0.3):
            pass


def test_compact_between_streaming_batches(spark, tbl):
    """Maintenance composes with the exactly-once sink: compact between
    micro-batches, then (a) a replayed pre-compaction batch is still a
    no-op — its idempotency tag survives expiry of nothing — and (b) new
    batches append normally onto the compacted snapshot."""
    from joint_entity_and_relation_extraction_spark.functions import webgen
    from joint_entity_and_relation_extraction_spark.operators.webpages import (
        WEB_PAGES_SCHEMA)
    from joint_entity_and_relation_extraction_spark.streaming.ingest import (
        batch_extract_handler)

    def batch(i):
        rows = [webgen.web_page_row(100 * i + j,
                                    f"Alice works for Acme {i} {j}.",
                                    "en", "crawl") for j in range(3)]
        return spark.createDataFrame(rows, WEB_PAGES_SCHEMA)

    handle = batch_extract_handler(tbl)
    for i in range(3):
        handle(batch(i), i)
    n = il.read(spark, tbl).count()
    il.compact(spark, tbl)
    assert il.read(spark, tbl).count() == n
    handle(batch(1), 1)  # replay of a PRE-compaction batch: still no-op
    assert il.read(spark, tbl).count() == n
    handle(batch(7), 7)  # genuinely new batch appends onto compacted base
    assert il.read(spark, tbl).count() > n


def test_schema_evolution_add_column(spark):
    """Iceberg add-column semantics: appending a superset schema evolves
    the table — new reads see the new column (NULL for pre-evolution
    rows), while a read PINNED at a pre-evolution snapshot sees exactly
    the columns that existed then."""
    import tempfile

    tbl = tempfile.mkdtemp(prefix="evo-") + "/tbl"
    s1 = il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    wide = spark.createDataFrame([("c", 3, "x")], "k string, v int, extra string")
    il.append(wide, tbl, ["k"])
    cur = il.read(spark, tbl)
    assert cur.columns == ["k", "v", "extra"]
    got = {(r.k, r.v, r.extra) for r in cur.collect()}
    assert got == {("a", 1, None), ("b", 2, None), ("c", 3, "x")}
    old = il.read(spark, tbl, snapshot=s1)
    assert old.columns == ["k", "v"]
    assert {(r.k, r.v) for r in old.collect()} == {("a", 1), ("b", 2)}
    # partition pruning + evolution compose: pre-evolution partition only
    assert il.read(spark, tbl, where={"k": "a"}).collect()[0].extra is None



def test_read_takes_the_committed_schema(spark, tbl):
    """Reads use the schema committed in the manifest instead of inferring
    one from parquet: no Spark job runs to build the scan, and a string
    partition column whose values look numeric stays a string."""
    from pyspark.sql.types import StringType

    il.append(_df(spark, [("1", 1), ("2", 2)]), tbl, ["k"])
    sc = spark.sparkContext
    sc.setJobGroup("iceberglite-read-schema", "read")
    try:
        df = il.read(spark, tbl)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("iceberglite-read-schema") == []
    assert df.schema["k"].dataType == StringType()
    assert {(r.k, r.v) for r in df.collect()} == {("1", 1), ("2", 2)}

def test_merge_upsert_updates_inserts_and_time_travels(spark, tbl):
    """MERGE INTO semantics: matched keys replaced, unmatched inserted,
    untouched rows preserved; the pre-merge snapshot still time-travels;
    ambiguous (duplicate-key) updates raise."""
    il.append(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), tbl, ["k"])
    base = il.current_snapshot(tbl)
    snap = il.merge_upsert(spark, _df(spark, [("b", 20), ("d", 40)]),
                           tbl, ["k"])
    got = sorted(map(tuple, il.read(spark, tbl).collect()))
    assert got == [("a", 1), ("b", 20), ("c", 3), ("d", 40)]
    # pre-merge snapshot unchanged
    assert sorted(map(tuple, il.read(spark, tbl, snapshot=base).collect())) \
        == [("a", 1), ("b", 2), ("c", 3)]
    assert snap != base
    with pytest.raises(ValueError, match="duplicate keys"):
        il.merge_upsert(spark, _df(spark, [("x", 1), ("x", 2)]), tbl, ["k"])


def test_merge_upsert_conflict_detection(spark, tbl):
    """A writer advancing the table between merge's read and its commit
    must raise CommitConflict, never silently drop the racer's rows."""
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    real_write = il._write_snapshot
    raced = []

    def racing_write(df, root, token, partition_by):
        units = real_write(df, root, token, partition_by)
        if not raced:
            raced.append(1)
            il.append(_df(spark, [("b", 2)]), tbl, ["k"])
        return units

    il._write_snapshot = racing_write
    try:
        with pytest.raises(il.CommitConflict):
            il.merge_upsert(spark, _df(spark, [("a", 10)]), tbl, ["k"])
    finally:
        il._write_snapshot = real_write
    # racer's row survived; retry now succeeds
    il.merge_upsert(spark, _df(spark, [("a", 10)]), tbl, ["k"])
    assert sorted(map(tuple, il.read(spark, tbl).collect())) \
        == [("a", 10), ("b", 2)]


def test_column_stats_range_pruning(spark, tbl):
    """Per-unit [min, max] column bounds (from parquet footers, recorded
    by append's stats_cols) must let a range predicate skip units that
    provably cannot match — Iceberg's data-file bounds pruning on an
    UNPARTITIONED column — while units without stats always survive."""
    def vdf(rows):
        return spark.createDataFrame(rows, "k string, v int")

    # three appends with disjoint v ranges, stats recorded
    il.append(vdf([("a", 1), ("a", 9)]), tbl, ["k"], stats_cols=["v"])
    il.append(vdf([("a", 100), ("a", 190)]), tbl, ["k"], stats_cols=["v"])
    il.append(vdf([("a", 1000), ("a", 1900)]), tbl, ["k"], stats_cols=["v"])
    # and one WITHOUT stats — must never be pruned
    il.append(vdf([("a", 55)]), tbl, ["k"])

    pruned = il.read(spark, tbl, where_range={"v": (100, 200)})
    got = sorted(r.v for r in pruned.collect())
    assert got == [55, 100, 190]  # stats-less unit survives; others skip
    n_units_all = len(il.read(spark, tbl).inputFiles())
    assert len(pruned.inputFiles()) < n_units_all
    # exactness: pruning + row filter == full-scan row filter
    want = sorted(r.v for r in il.read(spark, tbl)
                  .filter("v BETWEEN 100 AND 200").collect())
    assert sorted(r.v for r in pruned.filter(
        "v BETWEEN 100 AND 200").collect()) == want
    # open-ended bounds
    hi = il.read(spark, tbl, where_range={"v": (1000, None)})
    assert sorted(r.v for r in hi.collect()) == [55, 1000, 1900]
    # composes with partition pruning
    both = il.read(spark, tbl, where={"k": "a"}, where_range={"v": (0, 10)})
    assert sorted(r.v for r in both.collect()) == [1, 9, 55]


def test_merge_upsert_keeps_range_skipping_without_stats_cols(spark, tbl):
    """merge_upsert re-derives unit bounds for the columns the manifest
    already carries stats for: after a partition-scoped merge every
    current unit still has [min, max] bounds, and a where_range read
    skips the other partition's files with exact rows."""
    import json

    il.append(_df(spark, [("a", 1), ("a", 9)]), tbl, ["k"], stats_cols=["v"])
    il.append(_df(spark, [("b", 100), ("b", 190)]), tbl, ["k"],
              stats_cols=["v"])
    il.merge_upsert(spark, _df(spark, [("a", 9), ("a", 50)]), tbl,
                    ["k", "v"])
    assert il.snapshots(tbl)[-1]["operation"] == "merge"
    with open(os.path.join(tbl, "manifest.json")) as f:
        m = json.load(f)
    units = m["snapshots"][-1]["units"]
    assert all("v" in m["unit_stats"].get(u, {}) for u in units)
    full = il.read(spark, tbl)
    for lo, hi, want in ((100, 200, [100, 190]), (0, 60, [1, 9, 50])):
        pruned = il.read(spark, tbl, where_range={"v": (lo, hi)})
        other = "k=a" if lo == 100 else "k=b"
        assert pruned.inputFiles() and all(
            other not in f for f in pruned.inputFiles())
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        rows = pruned.filter(F.col("v").between(lo, hi))
        assert sorted(r.v for r in rows.collect()) == want == sorted(
            r.v for r in full.filter(F.col("v").between(lo, hi)).collect())


def test_cluster_by_makes_range_skipping_selective(spark, tmp_path):
    """Sort-order rewrite: arrival-order appends each span the whole
    value range (where_range can prove nothing); after cluster_by the
    units carry disjoint [min, max] ranges and a range predicate lists
    only the overlapping ones — with the data bit-identical, the scan
    lossless, and time travel to the pre-cluster snapshot intact."""
    root = str(tmp_path / "clustered")
    o = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    for k in range(4):
        il.append(o.filter(F.col("o_orderkey") % 4 == k), root, [],
                  stats_cols=["o_totalprice"])
    base = il.snapshots(root)[-1]["id"]
    rng = {"o_totalprice": (60_000.0, 80_000.0)}
    n_before = len(il.read(spark, root, where_range=rng).inputFiles())
    assert n_before == 4  # every arrival-order unit overlaps the range
    il.cluster_by(spark, root, ["o_totalprice"], n_units=8)
    scan = il.read(spark, root, where_range=rng)
    n_after = len(scan.inputFiles())
    assert n_after < n_before  # stats now actually skip
    # lossless: pruned scan + exact filter == plain filter on the source
    flt = F.col("o_totalprice").between(60_000.0, 80_000.0)
    assert (sorted(r.o_orderkey for r in scan.filter(flt).collect())
            == sorted(r.o_orderkey for r in o.filter(flt).collect()))
    # bit-identical data, schema unchanged (no synthetic column leaks)
    cur = il.read(spark, root)
    assert cur.columns == ["o_orderkey", "o_totalprice"]
    assert cur.count() == o.count()
    assert cur.exceptAll(o).isEmpty() and o.exceptAll(cur).isEmpty()
    # time travel still sees the pre-cluster snapshot
    assert il.read(spark, root, snapshot=base).count() == o.count()


def test_zorder_cluster_prunes_on_both_dimensions(spark, tmp_path):
    """zorder=True interleaves the sort columns' bits: a lexicographic
    sort localizes only the LEADING column (range predicates on the
    second scan every unit), while the Z-curve lets each column's
    per-unit bounds prune independently — measured 16/16 → 4/16 on the
    second dimension at fixture scale — with the scan lossless on both
    dims and the data bit-identical."""
    o = spark.read.parquet(
        "/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_custkey")

    def build(zorder, name):
        root = str(tmp_path / name)
        for k in range(4):
            il.append(o.filter(F.col("o_orderkey") % 4 == k), root, [],
                      stats_cols=["o_totalprice", "o_custkey"])
        il.cluster_by(spark, root, ["o_totalprice", "o_custkey"],
                      n_units=16, zorder=zorder)
        return root

    lex, zo = build(False, "lex"), build(True, "zo")
    rng_b = {"o_custkey": (100, 200)}
    n_total = len(il.read(spark, zo).inputFiles())
    # lexicographic: second column's bounds prove nothing
    assert len(il.read(spark, lex, where_range=rng_b).inputFiles()) \
        == n_total
    # z-order: BOTH dimensions prune
    n_zb = len(il.read(spark, zo, where_range=rng_b).inputFiles())
    n_za = len(il.read(spark, zo, where_range={
        "o_totalprice": (60_000.0, 80_000.0)}).inputFiles())
    assert n_zb < n_total and n_za < n_total
    # lossless on the non-leading dimension, data identical
    flt = F.col("o_custkey").between(100, 200)
    assert (il.read(spark, zo, where_range=rng_b).filter(flt).count()
            == o.filter(flt).count())
    cur = il.read(spark, zo)
    assert cur.columns == ["o_orderkey", "o_totalprice", "o_custkey"]
    assert cur.exceptAll(o).isEmpty() and o.exceptAll(cur).isEmpty()


def test_merge_upsert_escaped_and_null_partition_values(spark, tbl):
    """ADVICE r05: partition values Spark path-escapes (':' -> '%3A') or
    writes as __HIVE_DEFAULT_PARTITION__ (NULL) were read-pruned OUT of
    the merge scan yet kept in kept_units, so the committed snapshot held
    BOTH the old and the updated row. Every partition value must match
    its on-disk path spelling, and MERGE must stay key-unique."""
    rows = [("a:b", 1), (None, 2), ("plain", 3)]
    il.append(spark.createDataFrame(rows, "k string, v int"), tbl, ["k"])
    updates = spark.createDataFrame([("a:b", 10), (None, 20)],
                                    "k string, v int")
    il.merge_upsert(spark, updates, tbl, ["k"])
    got = sorted(il.read(spark, tbl).collect(),
                 key=lambda r: (r.k is None, r.k or ""))
    assert [(r.k, r.v) for r in got] == [("a:b", 10), ("plain", 3),
                                         (None, 20)]
    # key-uniqueness contract: one row per key, not old+new
    assert il.read(spark, tbl).groupBy("k").count().filter(
        "count > 1").count() == 0
    # read-side where pruning must accept RAW values for escaped/null too
    assert [(r.k, r.v) for r in il.read(spark, tbl,
                                        where={"k": "a:b"}).collect()] \
        == [("a:b", 10)]


def test_read_incremental_returns_only_added_rows(spark, tbl):
    """Incremental append scan (CDC-append, r06): rows added strictly
    after from_snapshot, decided metadata-only from per-snapshot `added`
    unit lists — and the scan must not even LIST the first batch's files."""
    s1 = il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    s2 = il.append(_df(spark, [("c", 3)]), tbl, ["k"])
    il.append(_df(spark, [("d", 4), ("a", 5)]), tbl, ["k"])
    inc = il.read_incremental(spark, tbl, from_snapshot=s1)
    assert {(r.k, r.v) for r in inc.collect()} == {("c", 3), ("d", 4),
                                                  ("a", 5)}
    batch1_units = il.snapshots(tbl)[0]["added"]
    assert batch1_units
    assert all(u not in f for u in batch1_units for f in inc.inputFiles())
    # bounded range: (s1, s2]
    mid = il.read_incremental(spark, tbl, from_snapshot=s1, to_snapshot=s2)
    assert {(r.k, r.v) for r in mid.collect()} == {("c", 3)}
    # empty range keeps the committed schema
    empty = il.read_incremental(spark, tbl,
                                from_snapshot=il.current_snapshot(tbl))
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_read_incremental_skips_compact_rejects_delete(spark, tbl):
    """Iceberg's rules: compact/cluster snapshots in the range are pure
    file rewrites (rows already reported at first append) — skipped, and
    the originals stay readable until expire_snapshots; a delete snapshot
    makes append-only semantics a lie — hard error, full-scan fallback is
    the caller's move."""
    s1 = il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    il.append(_df(spark, [("b", 2)]), tbl, ["k"])
    il.compact(spark, tbl)
    inc = il.read_incremental(spark, tbl, from_snapshot=s1)
    assert {(r.k, r.v) for r in inc.collect()} == {("b", 2)}
    il.drop_partitions(tbl, {"k": "a"})
    with pytest.raises(ValueError, match="delete"):
        il.read_incremental(spark, tbl, from_snapshot=s1)
    # non-ancestor snapshot id is loud, not empty
    with pytest.raises(ValueError, match="ancestor"):
        il.read_incremental(spark, tbl, from_snapshot=9999,
                            to_snapshot=s1)


def test_bloom_point_lookup_skips_files_losslessly(spark, tbl):
    """Per-unit bloom filters (r06): four appends striped by id % 4 with
    bloom_cols — a point lookup must (a) return exactly the matching
    rows, (b) list strictly fewer units than a full scan (min/max bounds
    can't prune uniform stripes), and (c) never lose a row (bloom false
    positives only admit units)."""
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    for stripe in range(4):
        il.append(df.filter(F.col("k") % 4 == stripe), tbl, [],
                  bloom_cols=["k"])
    got = il.read(spark, tbl, where_point={"k": [7, 123]})
    rows = {(r.k, r.v) for r in got.filter(F.col("k").isin([7, 123])).collect()}
    assert rows == {(7, 14), (123, 246)}
    n_full = len(il.read(spark, tbl).inputFiles())
    n_pruned = len(got.inputFiles())
    # 7 % 4 == 123 % 4 == 3: one stripe definitely survives; the other
    # three are bloom-skippable (each may rarely survive as a ~1% fp)
    assert n_pruned < n_full
    # absent key: every unit's bloom excludes it — typically zero units
    # survive, and the empty-with-schema contract holds
    miss = il.read(spark, tbl, where_point={"k": 10_000})
    assert miss.filter(F.col("k") == 10_000).count() == 0
    assert miss.columns == ["k", "v"]


def test_bloom_over_cap_unit_records_nothing_and_survives(spark, tbl):
    """A unit past _BLOOM_MAX_VALUES records no bloom (manifest growth is
    bounded) and must always survive point lookups — skipping is a pure
    optimization, never a filter."""
    import joint_entity_and_relation_extraction_spark.sources.iceberglite as ilmod

    orig = ilmod._BLOOM_MAX_VALUES
    ilmod._BLOOM_MAX_VALUES = 10
    try:
        il.append(spark.range(0, 50).select(F.col("id").alias("k")), tbl,
                  [], bloom_cols=["k"])
    finally:
        ilmod._BLOOM_MAX_VALUES = orig
    assert il._load(tbl).get("unit_blooms", {}) == {}
    assert il.read(spark, tbl, where_point={"k": 42}).filter(
        F.col("k") == 42).count() == 1


def test_metadata_tables(spark, tbl):
    """Iceberg metadata tables (tbl.snapshots / files / partitions) built
    manifest-only: snapshot history with op kinds, current files with
    per-file row counts, partition rollup."""
    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    il.append(_df(spark, [("a", 3)]), tbl, ["k"])
    il.compact(spark, tbl)
    snaps = il.metadata_table(spark, tbl, "snapshots").collect()
    assert [s.operation for s in snaps] == ["append", "append", "compact"]
    assert snaps[-1].n_units <= snaps[-1].n_added + 2
    files = il.metadata_table(spark, tbl, "files").collect()
    assert sum(f.row_count for f in files) == 3
    assert all(f.file.endswith(".parquet") and f.size_bytes > 0
               for f in files)
    parts = il.metadata_table(spark, tbl, "partitions").collect()
    got = {p.partition: p.row_count for p in parts}
    assert got == {'{"k": "a"}': 2, '{"k": "b"}': 1}
    with pytest.raises(ValueError, match="unknown metadata table"):
        il.metadata_table(spark, tbl, "nope")


def test_rollback_to_restores_state_and_keeps_history(spark, tbl):
    """rollback_to (r06): a NEW snapshot with the old content — current
    reads see the restored state, the abandoned snapshot stays
    time-travelable, and read_incremental refuses to cross the rollback
    (rows were logically removed)."""
    s1 = il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    s2 = il.append(_df(spark, [("b", 2)]), tbl, ["k"])
    s3 = il.rollback_to(tbl, s1)
    assert il.current_snapshot(tbl) == s3 and s3 != s1
    assert {(r.k, r.v) for r in il.read(spark, tbl).collect()} == {("a", 1)}
    # abandoned snapshot still readable (history preserved)
    assert il.read(spark, tbl, snapshot=s2).count() == 2
    with pytest.raises(ValueError, match="rollback"):
        il.read_incremental(spark, tbl, from_snapshot=s1)
    with pytest.raises(ValueError, match="unknown snapshot"):
        il.rollback_to(tbl, 9999)
    # appends continue normally on top of the rollback
    il.append(_df(spark, [("c", 3)]), tbl, ["k"])
    assert {r.k for r in il.read(spark, tbl).select("k").collect()} \
        == {"a", "c"}


def test_wap_stage_audit_publish(spark, tbl):
    """Write-audit-publish (r06): a staged snapshot is invisible to
    production reads until publish; an auditor pins it by id; a commit
    that lands between stage and publish invalidates the staged lineage
    (CommitConflict — re-stage)."""
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    staged = il.stage_append(_df(spark, [("b", 2)]), tbl, ["k"])
    # production readers: unchanged
    assert il.read(spark, tbl).count() == 1
    # auditor pins the staged snapshot: sees old + staged rows
    audit = {(r.k, r.v) for r in il.read(spark, tbl,
                                         snapshot=staged).collect()}
    assert audit == {("a", 1), ("b", 2)}
    il.publish(tbl, staged)
    assert il.current_snapshot(tbl) == staged
    assert il.read(spark, tbl).count() == 2
    with pytest.raises(ValueError, match="not staged"):
        il.publish(tbl, staged)  # double-publish is loud
    # interleaved commit invalidates a staged snapshot
    staged2 = il.stage_append(_df(spark, [("c", 3)]), tbl, ["k"])
    il.append(_df(spark, [("d", 4)]), tbl, ["k"])
    with pytest.raises(il.CommitConflict, match="re-stage"):
        il.publish(tbl, staged2)
    with pytest.raises(ValueError, match="unknown snapshot"):
        il.publish(tbl, 9999)


def test_partition_evolution_mixed_layouts_read_back(spark, tbl):
    """Partition-spec evolution (Iceberg: specs are per-snapshot): a
    table whose early snapshots partition by k and later ones by v must
    read back whole — partition values resolve per snap dir via
    basePath, and the committed schema fixes column order."""
    il.append(_df(spark, [("a", 1), ("b", 2)]), tbl, ["k"])
    il.append(_df(spark, [("c", 3), ("d", 4)]), tbl, ["v"])
    got = {(r.k, r.v) for r in il.read(spark, tbl).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3), ("d", 4)}
    # manifest-side pruning still works on the layout that HAS the col
    pruned = il.read(spark, tbl, where={"k": "a"})
    vals = {(r.k, r.v) for r in pruned.collect()}
    # k=b's unit is pruned; the v-partitioned units don't carry k in
    # their paths so they always survive (pruning never loses rows)
    assert ("a", 1) in vals and ("b", 2) not in vals
    assert {("c", 3), ("d", 4)} <= vals


def test_read_as_of_timestamp(spark, tbl):
    """Timestamp time-travel (Iceberg TIMESTAMP AS OF): read resolves
    the newest snapshot committed at-or-before the given wall-clock
    string; a timestamp before the first commit raises, one far in the
    future reads the current state."""
    s1 = il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    ts1 = next(s["ts"] for s in il.snapshots(tbl) if s["id"] == s1)
    il.append(_df(spark, [("b", 2)]), tbl, ["k"])
    # at exactly ts1 the second snapshot may share the same second —
    # resolve_as_of picks the NEWEST snapshot with ts <= given, so probe
    # with the recorded ts strings themselves
    sid = il.resolve_as_of(tbl, ts1)
    assert sid >= s1
    rows_at_1 = il.read(spark, tbl, snapshot=s1).count()
    assert rows_at_1 == 1
    assert il.read(spark, tbl, as_of_ts="2999-01-01T00:00:00").count() == 2
    got = il.read(spark, tbl, as_of_ts=ts1)
    # same-second commits collapse to the newer snapshot by design
    assert got.count() in (1, 2)
    with pytest.raises(ValueError, match="no snapshot at or before"):
        il.read(spark, tbl, as_of_ts="1990-01-01T00:00:00")
    with pytest.raises(ValueError, match="both"):
        il.read(spark, tbl, snapshot=s1, as_of_ts=ts1)


def test_is_empty_probe(spark, tbl):
    """is_empty: manifest-only emptiness probe — True for a written
    table whose current snapshot holds no units, False once any unit is
    live; a never-written table raises via read()'s contract instead."""
    assert not il.exists(tbl)
    il.append(_df(spark, [("a", 1)]), tbl, ["k"])
    assert il.exists(tbl) and not il.is_empty(tbl)
    il.drop_partitions(tbl, {"k": "a"})
    assert il.is_empty(tbl)
