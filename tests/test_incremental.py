"""Incremental merge gate: folding evidence in N batches equals the
one-shot aggregation (monoid associativity), and merge only rewrites the
touched predicate partitions."""

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.operators import canonicalize as C
from joint_entity_and_relation_extraction_spark.operators import extract as X
from joint_entity_and_relation_extraction_spark.operators import linking as L
from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
from joint_entity_and_relation_extraction_spark.plans import incremental as INC
from joint_entity_and_relation_extraction_spark.sources import iceberglite as il

from conftest import SF0001


@pytest.fixture(scope="module")
def canon_with_ts(spark):
    wp = web_pages(spark, SF0001)
    ext = X.extract_text(wp)
    inferred = X.infer(X.split_sentences(X.lang_filter(ext))).persist()
    surfaces = (X.mentions(inferred)
                .select(L.normalize_col(F.col("surface")).alias("alias_norm"))
                .distinct())
    resolution = L.resolve_surfaces(surfaces, L.alias_dict(spark, SF0001))
    labels = C.connected_components(L.resolution_edges(resolution))
    canon = C.canonical_triples_by_surface(
        X.triples_raw(inferred), C.surface_canon_map(resolution, labels))
    return canon.join(ext.select("url", "warc_ts"), "url").persist()


def _key(df):
    return {(int(r.subj), r.pred, int(r.obj), int(r.evidence_count),
             int(r.n_sources), r.first_seen, tuple(r.sources))
            for r in df.collect()}


def test_two_batch_merge_equals_one_shot(spark, canon_with_ts, tmp_path):
    root = str(tmp_path / "triples")
    b1 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 0)
    b2 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 1)
    INC.merge_triple_evidence(spark, root, b1)
    INC.merge_triple_evidence(spark, root, b2)
    got = _key(il.read(spark, root))
    want = _key(INC.aggregate_triples(canon_with_ts))
    assert got == want and len(got) > 100


def test_merge_touches_only_batch_partitions(spark, canon_with_ts, tmp_path):
    root = str(tmp_path / "triples2")
    INC.merge_triple_evidence(spark, root, canon_with_ts)
    snaps_before = len(il.snapshots(root))
    one_pred = canon_with_ts.filter(F.col("pred") == "KILL").limit(50)
    INC.merge_triple_evidence(spark, root, one_pred)
    added = il.snapshots(root)[-1]["added"]
    assert len(il.snapshots(root)) == snaps_before + 1
    assert all("pred=KILL" in u for u in added)



def test_merge_of_new_preds_into_existing_table_equals_batch_aggregate(
        spark, canon_with_ts, tmp_path):
    """A batch whose preds the table has never held merges against an
    empty slice: the combine gives back the batch's own G1 aggregate on
    every column."""
    root = str(tmp_path / "triples_new_preds")
    INC.merge_triple_evidence(spark, root,
                              canon_with_ts.filter(F.col("pred") == "KILL"))
    batch = canon_with_ts.filter(F.col("pred") != "KILL")
    got = INC.merge_triple_evidence(spark, root, batch)
    want = INC.aggregate_triples(batch)
    assert got.columns == want.columns and len(want.columns) == 9
    rows = [sorted(tuple(r) for r in df.collect()) for df in (got, want)]
    assert rows[0] == rows[1] and len(rows[0]) > 100


@pytest.mark.parametrize("merge", [INC.merge_triple_evidence,
                                   INC.merge_triple_evidence_upsert])
def test_merge_evaluates_its_batch_once(spark, canon_with_ts, tmp_path,
                                        merge):
    """The batch's G1 delta feeds the preds collect and the write; a
    counting UDF over the batch rows sees each row once per merge, into
    a new table and into an existing one."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def counted(url):
        seen.add(1)
        return True

    root = str(tmp_path / "triples_once")
    even = F.crc32(F.col("url").cast("binary")) % 2 == 0
    for part in (canon_with_ts.filter(even), canon_with_ts.filter(~even)):
        before = seen.value
        merge(spark, root, part.filter(counted("url")))
        assert seen.value - before == part.count() > 0


def test_merge_upsert_path_equals_one_shot(spark, canon_with_ts, tmp_path):
    """The MERGE INTO fold (VERDICT r04 item 6) reproduces the one-shot
    aggregation exactly, commits 'merge' snapshots (not overwrites), and
    carries every untouched predicate partition into the new snapshot BY
    REFERENCE — the partition-scoped CoW rewrite."""
    root = str(tmp_path / "triples_m")
    b1 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 0)
    b2 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 1)
    INC.merge_triple_evidence_upsert(spark, root, b1)
    INC.merge_triple_evidence_upsert(spark, root, b2)
    got = _key(il.read(spark, root))
    want = _key(INC.aggregate_triples(canon_with_ts))
    assert got == want and len(got) > 100
    assert il.snapshots(root)[-1]["operation"] == "merge"


def test_merge_upsert_rewrites_only_touched_partitions(
        spark, canon_with_ts, tmp_path):
    root = str(tmp_path / "triples_m2")
    INC.merge_triple_evidence_upsert(spark, root, canon_with_ts)
    units_before = set(il.snapshots(root)[-1]["units"])
    one_pred = canon_with_ts.filter(F.col("pred") == "KILL").limit(50)
    INC.merge_triple_evidence_upsert(spark, root, one_pred)
    last = il.snapshots(root)[-1]
    assert last["operation"] == "merge"
    # rewritten units: only the touched predicate
    assert all("pred=KILL" in u for u in last["added"])
    # every OTHER partition's unit carried over by reference (no rewrite)
    untouched_before = {u for u in units_before if "pred=KILL" not in u}
    untouched_after = {u for u in last["units"] if "pred=KILL" not in u}
    assert untouched_after == untouched_before and untouched_before


def test_merge_upsert_keeps_stats_skipping_alive(
        spark, canon_with_ts, tmp_path):
    """After a merge the manifest must still carry unit bounds for
    TRIPLE_STATS_COLS, and a range read outside the recorded bounds must
    prune units at the manifest (skipped-unit count asserted)."""
    root = str(tmp_path / "triples_m3")
    b1 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 0)
    b2 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 1)
    INC.merge_triple_evidence_upsert(spark, root, b1)
    INC.merge_triple_evidence_upsert(spark, root, b2)
    import json as _json
    import os as _os

    with open(_os.path.join(root, "manifest.json")) as f:
        m = _json.load(f)
    cur_units = m["snapshots"][-1]["units"]
    with_stats = [u for u in cur_units
                  if set(m.get("unit_stats", {}).get(u, {}))
                  >= set(INC.TRIPLE_STATS_COLS)]
    assert with_stats == cur_units  # merge re-recorded bounds everywhere
    # a predicate-count threshold above every recorded max prunes all units
    top = max(int(m["unit_stats"][u]["evidence_count"][1])
              for u in cur_units)
    full_files = len(il.read(spark, root).inputFiles())
    pruned = il.read(spark, root,
                     where_range={"evidence_count": (top + 1, None)})
    assert len(pruned.inputFiles()) == 0 < full_files
    # and an in-range bound keeps the matching units readable (exactness:
    # stats only ever skip provably-non-matching units)
    some = il.read(spark, root, where_range={"evidence_count": (top, None)})
    assert some.filter(F.col("evidence_count") == top).count() > 0
