"""Incremental triple-evidence merge: fold a new batch of canonical
triples into the materialized ``triples`` table without recomputing
history. ``merge_triple_evidence`` is the one merge path.

Algebra: every aggregate in the triple table is a commutative monoid
(count → +, n_sources/sources → set union, first_seen → min, names → min),
so merging per-batch partial aggregates equals aggregating the union of
raw evidence — asserted by the associativity test
(tests/test_incremental.py). Only partitions (preds) PRESENT IN THE BATCH
are read and rewritten (dynamic partition overwrite); every other unit
carries into the new snapshot unchanged, so the write cost follows the
batch's predicate set, not the table. With only a handful of predicates a
batch usually touches all of them, so today that set is most of the table.
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
