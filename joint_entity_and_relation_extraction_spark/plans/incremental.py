"""Incremental triple-evidence merge (the MERGE/upsert the continuously-
ingesting KG needs): fold a new batch of canonical triples into the
materialized ``triples`` table without recomputing history.

Algebra: every aggregate in the triple table is a commutative monoid
(count → +, n_sources/sources → set union, first_seen → min, names → min),
so merging per-batch partial aggregates equals aggregating the union of
raw evidence — asserted by the associativity test
(tests/test_incremental.py). Only partitions (preds) PRESENT IN THE BATCH
are rewritten (dynamic partition overwrite), so the write cost scales with
the batch, not the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import iceberglite as il


def aggregate_triples(canon_with_ts: DataFrame) -> DataFrame:
    """G1 over raw canonical triples (url, sent_id, subj, subj_norm, pred,
    obj, obj_norm, score, warc_ts) → the triples-table schema."""
    return (
        canon_with_ts.groupBy("subj", "pred", "obj")
        .agg(
            F.min("subj_norm").alias("subj_name"),
            F.min("obj_norm").alias("obj_name"),
            F.count("*").alias("evidence_count"),
            F.countDistinct("url").alias("n_sources"),
            F.min("warc_ts").alias("first_seen"),
            F.array_sort(F.collect_set("url")).alias("sources"),
        )
    )


def triple_write_layout(triples: DataFrame) -> DataFrame:
    """Pre-write layout of the triples table: partition by pred (low
    cardinality), spread each pred on hash(subj) so hot predicates don't
    serialize one writer."""
    return triples.repartition(F.col("pred"), F.pmod(F.hash("subj"), F.lit(8)))


def _combine(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Monoid-combine two aggregated triple tables."""
    u = existing.unionByName(delta)
    merged = (
        u.groupBy("subj", "pred", "obj")
        .agg(
            F.min("subj_name").alias("subj_name"),
            F.min("obj_name").alias("obj_name"),
            F.sum("evidence_count").alias("evidence_count"),
            F.min("first_seen").alias("first_seen"),
            F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("sources")))).alias("sources"),
        )
        .withColumn("n_sources", F.size("sources").cast("long"))
    )
    return merged.select("subj", "pred", "obj", "subj_name", "obj_name",
                         "evidence_count", "n_sources", "first_seen",
                         "sources")


def _materialized_delta(new_canon_with_ts: DataFrame) -> DataFrame:
    """The batch's G1 delta, evaluated once: it feeds both the ``preds``
    collect and the write, and each evaluation would rerun the batch's
    chain tail and timestamp scan (CLAUDE.md shared-subtree invariant)."""
    return aggregate_triples(new_canon_with_ts).localCheckpoint(eager=True)


def merge_triple_evidence(spark: SparkSession, table_root: str,
                          new_canon_with_ts: DataFrame) -> DataFrame:
    """Merge a new evidence batch into the IcebergLite triples table.

    Reads ONLY the partitions (preds) the batch touches (manifest-side
    pruning), combines, and dynamic-partition-overwrites those preds.
    Returns the merged slice. At 10^12 scale the read+write is bounded by
    the batch's predicate set, and the combine shuffles on (subj, pred,
    obj) — the same key layout the table is bucketed by.
    """
    delta = _materialized_delta(new_canon_with_ts)
    preds = [r.pred for r in delta.select("pred").distinct().collect()]
    if not preds:
        return delta
    if il.exists(table_root):
        # read() returns an empty schema-typed frame when the preds have
        # not materialized yet; combining with it gives back the delta
        # (every aggregate is a monoid, and size(sources) equals
        # countDistinct(url)), so no isEmpty() job decides between them
        existing = il.read(spark, table_root, where={"pred": preds})
        merged = _combine(existing, delta)
    else:
        merged = delta
    il.overwrite_partitions(triple_write_layout(merged), table_root, ["pred"])
    return il.read(spark, table_root, where={"pred": preds})


#: manifest stats recorded on the triple table so incremental / resume
#: readers can range-prune without reading data: first_seen bounds let a
#: "what changed since T" reader skip units whose newest evidence is
#: older, evidence_count bounds let threshold queries skip all-singleton
#: units (VERDICT r04 item 6)
TRIPLE_STATS_COLS = ["first_seen", "evidence_count"]


def merge_triple_evidence_upsert(spark: SparkSession, table_root: str,
                                 new_canon_with_ts: DataFrame) -> DataFrame:
    """The MERGE INTO shape of the incremental fold (VERDICT r04 item 6):
    per-key upsert through :func:`iceberglite.merge_upsert` instead of a
    partition overwrite.

    The table is pred-partitioned and (subj, pred, obj)-keyed, so the
    partition columns are a subset of the merge key and IcebergLite's
    copy-on-write MERGE rewrites ONLY the predicate partitions the batch
    touches — every untouched unit carries over into the new snapshot by
    reference (asserted in tests/test_incremental.py), exactly real
    Iceberg's file-scoped CoW MERGE. Updated rows are the monoid-combine
    of the existing row and the batch delta (same algebra as
    :func:`merge_triple_evidence`; the two paths are equality-tested).
    Every commit re-records TRIPLE_STATS_COLS unit bounds so range
    pruning survives the rewrite."""
    delta = _materialized_delta(new_canon_with_ts)
    key = ["subj", "pred", "obj"]
    if not il.exists(table_root):
        out = delta.repartition(F.col("pred"))
        il.append(out, table_root, ["pred"], stats_cols=TRIPLE_STATS_COLS)
        return il.read(spark, table_root)
    preds = [r.pred for r in delta.select("pred").distinct().collect()]
    existing = il.read(spark, table_root, where={"pred": preds})
    touched = existing.join(delta.select(*key), key, "left_semi")
    updates = _combine(touched, delta) if not touched.isEmpty() else delta
    il.merge_upsert(spark, updates, table_root, key,
                    stats_cols=TRIPLE_STATS_COLS)
    return il.read(spark, table_root, where={"pred": preds})
