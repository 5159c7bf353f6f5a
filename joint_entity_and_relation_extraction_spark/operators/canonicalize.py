"""Canonicalization C2–C4 (SURVEY.md §2.3): connected components over the
linking edges, then canonical-id rewrite of triple endpoints.

C2/C3: `connected_components` union-finds dictionary-sized edge sets on
the driver; past DRIVER_CC_MAX_EDGES it runs `_star_contract`,
alternating large-star/small-star edge contraction (Kiveris et al.,
"Connected Components in MapReduce and Beyond", MR-CC) — O(log n) rounds
on ANY graph shape, including the chain-shaped near-dup graphs
`dedup_clusters` can produce at corpus scale. Each round localCheckpoints
to truncate lineage (SURVEY.md §4.3); it is property-tested equal to
driver union-find.

C4: `canonical_triples_by_surface` is the one Spark rewrite. The
per-mention join is the single-process oracle's
(`oracle.pipeline_local.canonicalize`); the row-level gates compare
against it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: below this edge count the distributed loop costs more in job latency
#: than the data justifies — union-find on the driver instead. The edge
#: set is DICTIONARY-sized (distinct surfaces x alias entities), bounded
#: by the alias vocabulary, not the corpus, so at 10^12 documents it is
#: usually still far below this; the distributed path exists for when it
#: is not.
DRIVER_CC_MAX_EDGES = 2_000_000


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src:long, dst:long) undirected → labels(node:long,
    component:long) where component = min node id in the component.
    Nodes appearing in no edge are absent (callers coalesce to self).

    Hybrid strategy: small (dictionary-sized) graphs are union-found on
    the driver in one collect — O(E α(E)) and zero shuffle; larger graphs
    run distributed large-star/small-star contraction (O(log n) rounds,
    safe for any diameter). Both paths produce identical labels
    (property-tested). The dispatch decision is a distributed count() —
    never a collect — so a too-big edge set costs one cheap aggregate
    instead of funnelling 2M+ rows through one task into driver memory
    (round-1 probe); the eager-false localCheckpoint makes the count and
    the following collect share one lineage evaluation instead of
    recomputing the upstream resolution twice (ADVICE r02)."""
    edges = edges.localCheckpoint(eager=False)
    if edges.count() <= DRIVER_CC_MAX_EDGES:
        return _driver_union_find(edges.sparkSession, edges.collect())
    return _star_contract(edges)


def _driver_union_find(spark, edge_rows) -> DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edge_rows:
        ru, rv = find(r[0]), find(r[1])
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # from pandas, not a list of tuples: a local relation (LocalTableScan)
    # instead of a pickled-RDD scan and its parallelize job
    labels = pd.DataFrame({"node": list(parent),
                           "component": [find(n) for n in parent]},
                          dtype="int64")
    return spark.createDataFrame(labels, "node long, component long")


def _star_contract(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    MR-CC): each round rewires edges toward per-neighborhood minima, so
    component trees halve in height every round — O(log n) rounds on any
    shape, where min-propagation needs O(diameter). At fixpoint the edge
    set is exactly {(node, component-min)} for every non-root node.

    Per round: two groupBy-min + two joins over the (shrinking) edge set,
    one count-and-hash aggregate as the fixpoint test, localCheckpoint to
    truncate lineage. Edges stay oriented u > v throughout, so emissions
    never create upward edges and dedup keys stay canonical."""
    spark = edges.sparkSession
    nparts = max(4, spark.sparkContext.defaultParallelism // 4)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct().repartition(nparts, "node").localCheckpoint()
    )
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"),
                F.least("src", "dst").alias("v"))
        .distinct().repartition(nparts, "u").localCheckpoint()
    )
    prev_fp = None
    for _ in range(max_iter):
        # large-star over the symmetric view: m = min(N(u) ∪ {u}); every
        # neighbor v > u rewires to m (v > u ≥ m keeps the orientation)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", F.col("u")).alias("m")))
        large = (
            sym.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the oriented edges: all smaller neighbors of u
        # (plus u itself) rewire to m = min(N<(u))
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .repartition(nparts, "u")
            .localCheckpoint()
        )
        # hash-sum through decimal(38,0): long sums overflow under ANSI
        fp = tuple(small.agg(
            F.count("*"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))).first())
        e = small
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iter} iterations")
    child = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(child, "node", "left")
        .select("node",
                F.coalesce(F.col("component"), F.col("node"))
                .alias("component"))
    )


def surface_canon_map(resolution: DataFrame, labels: DataFrame) -> DataFrame:
    """(alias_norm → canon_id): resolution nodes rewritten through the CC
    labels; nodes outside any edge stay themselves. Dictionary-sized."""
    return (
        resolution.join(F.broadcast(labels),
                        resolution.node_id == labels.node, "left")
        .select("alias_norm",
                F.coalesce(F.col("component"), F.col("node_id")).alias("canon_id"))
    )


def canonical_triples_by_surface(triples_raw: DataFrame,
                                 canon_map: DataFrame,
                                 raw_surfaces: DataFrame | None = None) -> DataFrame:
    """C4: triples carry their subject/object SURFACE strings, so
    canonical ids resolve via two broadcast joins against a
    dictionary-sized (raw surface → norm, canon_id) map — the 10^12-row
    triple stream is never shuffled AND never regexed: normalization (two
    Java regexes per string) runs only on the DISTINCT raw surfaces, which
    are bounded by the mention vocabulary, not the corpus. Punctuation-only
    surfaces normalize to "" and are dropped from the map — they are not
    entities, and sharing one surface node would weld every such mention
    corpus-wide into a single bogus canonical id; the inner joins then
    drop their triples, exactly as the normalize-per-row path did.
    Identical rows to the oracle's per-mention join
    (oracle.pipeline_local.canonicalize), with and without
    ``raw_surfaces`` (tests/test_linking.py). The surface map must fit a
    broadcast: it is bounded by the mention vocabulary, not the corpus."""
    from .linking import normalize_col

    if raw_surfaces is not None:
        # caller-provided distinct raw surfaces (e.g. extract.
        # mention_surfaces over the distinct-sentence table) — must be a
        # SUPERSET of the triple endpoints' surfaces; extra entries are
        # harmless map rows
        raw = raw_surfaces.select(F.col("surface").alias("raw"))
    else:
        raw = (triples_raw.select(F.col("subj_surface").alias("raw"))
               .union(triples_raw.select(F.col("obj_surface").alias("raw")))
               .distinct())
    raw = (raw.withColumn("norm", normalize_col(F.col("raw")))
           .filter(F.col("norm") != ""))
    # dictionary-sized, but its lineage scans the triple stream twice; the
    # subj and obj broadcast builds would each re-run that — checkpoint
    # once (same rationale as resolve_surfaces)
    rmap = (raw.join(canon_map, raw.norm == canon_map.alias_norm)
            .localCheckpoint(eager=False))
    subj_map = F.broadcast(rmap.select(
        F.col("raw").alias("subj_surface"), F.col("norm").alias("subj_norm"),
        F.col("canon_id").alias("subj")))
    obj_map = F.broadcast(rmap.select(
        F.col("raw").alias("obj_surface"), F.col("norm").alias("obj_norm"),
        F.col("canon_id").alias("obj")))
    return (
        triples_raw.join(subj_map, "subj_surface").join(obj_map, "obj_surface")
        .select("url", "sent_id", "subj", "subj_norm", "pred",
                "obj", "obj_norm", "score")
    )
