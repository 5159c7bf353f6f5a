"""Incremental merge gate: folding evidence in N batches equals the
one-shot aggregation (monoid associativity), and merge only rewrites the
touched predicate partitions — through merge_triple_evidence's partition
overwrite and through IcebergLite's MERGE INTO (merge_upsert) on the same
pred-partitioned, (subj, pred, obj)-keyed table."""

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
    # one partition-overwrite snapshot per merge
    assert [s["operation"] for s in il.snapshots(root)] == [
        "overwrite", "overwrite"]


def test_merge_touches_only_batch_partitions(spark, canon_with_ts, tmp_path):
    root = str(tmp_path / "triples2")
    INC.merge_triple_evidence(spark, root, canon_with_ts)
    snaps_before = len(il.snapshots(root))
    units_before = set(il.snapshots(root)[-1]["units"])
    one_pred = canon_with_ts.filter(F.col("pred") == "KILL").limit(50)
    INC.merge_triple_evidence(spark, root, one_pred)
    last = il.snapshots(root)[-1]
    assert len(il.snapshots(root)) == snaps_before + 1
    # rewritten units: only the touched predicate
    assert all("pred=KILL" in u for u in last["added"])
    # every OTHER partition's unit carried into the new snapshot unchanged
    untouched_before = {u for u in units_before if "pred=KILL" not in u}
    untouched_after = {u for u in last["units"] if "pred=KILL" not in u}
    assert untouched_after == untouched_before and untouched_before


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


@pytest.mark.parametrize("merge", [INC.merge_triple_evidence])
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



def _upsert_fold(spark, root, batch):
    """Fold a batch into a triple table with ``il.merge_upsert``: matched
    keys take the monoid-combined row, unmatched keys insert."""
    delta = INC.aggregate_triples(batch).localCheckpoint(eager=True)
    key = ["subj", "pred", "obj"]
    if not il.exists(root):
        il.append(delta, root, ["pred"])
        return
    preds = [r.pred for r in delta.select("pred").distinct().collect()]
    existing = il.read(spark, root, where={"pred": preds})
    touched = existing.join(delta.select(*key), key, "left_semi")
    il.merge_upsert(spark, INC._combine(touched, delta), root, key)


def test_merge_upsert_path_equals_one_shot(spark, canon_with_ts, tmp_path):
    """A two-batch fold through merge_upsert reproduces the one-shot
    aggregation exactly and commits a 'merge' snapshot (not an
    overwrite)."""
    root = str(tmp_path / "triples_m")
    b1 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 0)
    b2 = canon_with_ts.filter(F.crc32(F.col("url").cast("binary")) % 2 == 1)
    _upsert_fold(spark, root, b1)
    _upsert_fold(spark, root, b2)
    got = _key(il.read(spark, root))
    want = _key(INC.aggregate_triples(canon_with_ts))
    assert got == want and len(got) > 100
    assert [s["operation"] for s in il.snapshots(root)] == [
        "append", "merge"]


def test_merge_upsert_rewrites_only_touched_partitions(
        spark, canon_with_ts, tmp_path):
    """The partition columns (pred) are a subset of the merge key, so
    merge_upsert rewrites only the batch's predicate partitions and
    carries every other unit into the new snapshot by reference."""
    root = str(tmp_path / "triples_m2")
    _upsert_fold(spark, root, canon_with_ts)
    units_before = set(il.snapshots(root)[-1]["units"])
    one_pred = canon_with_ts.filter(F.col("pred") == "KILL").limit(50)
    _upsert_fold(spark, root, one_pred)
    last = il.snapshots(root)[-1]
    assert last["operation"] == "merge"
    # rewritten units: only the touched predicate
    assert all("pred=KILL" in u for u in last["added"])
    # every OTHER partition's unit carried over by reference (no rewrite)
    untouched_before = {u for u in units_before if "pred=KILL" not in u}
    untouched_after = {u for u in last["units"] if "pred=KILL" not in u}
    assert untouched_after == untouched_before and untouched_before
