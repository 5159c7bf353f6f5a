"""Entity linking L1–L6 (SURVEY.md §2.3): normalization, broadcast exact
link, MinHash-LSH fuzzy blocking, candidate scoring, top-1 selection,
deterministic node ids for unlinked surfaces.

Spark-first: normalization and Jaccard verification are built-ins; the only
Python is the shared banding/shingle kernels (functions/aliasgen.py) as
vectorized pandas UDFs — identical code on the mention side, the alias
side, and the pandas oracle, so candidate sets (and therefore links) match
the oracle exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from ..functions import aliasgen as AG
from ..sources.io import read_table

SIM_THRESHOLD = 0.5


def normalize_col(col):
    """L1 as built-ins: lowercase, strip punctuation, collapse whitespace —
    mirrors functions.text.normalize_surface (ascii-equivalent; the corpus
    is ascii word salad, asserted in tests)."""
    c = F.lower(col)
    # (?U): Java's \w is ASCII-only by default; Python's is Unicode —
    # UNICODE_CHARACTER_CLASS aligns them (caught by the parity test on
    # accented surfaces from the entity-escape HTML template)
    c = F.regexp_replace(c, r"(?U)[^\w\s]+", " ")
    c = F.regexp_replace(c, r"(?U)\s+", " ")
    return F.trim(c)


def alias_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast alias dictionary synthesized from the corpus's own token
    distribution (FIXTURES.md §3). The token-count aggregation is
    distributed; only the tiny top-k survives to the driver — at real
    scale the dictionary is a curated side input and this function is
    replaced by a read."""
    d = read_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok").count()
        .orderBy(F.desc("count"), "tok")
        .limit(500)
        .collect()
    )
    rows = AG.build_alias_rows([(r.tok, r["count"]) for r in counts])
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["alias_norm", "entity_id", "prior"]),
        schema="alias_norm string, entity_id long, prior double")


_SURFACE_FEATS_T = StructType([
    StructField("bands", ArrayType(LongType()), False),
    StructField("sh", ArrayType(StringType()), False),
    StructField("node", LongType(), False),
])


@F.pandas_udf(_SURFACE_FEATS_T)
def surface_feats_udf(norm: pd.Series) -> pd.DataFrame:
    """Fused per-surface features (LSH band keys + char shingles + node
    id) — one Python stage crossing instead of three; the surface tables
    are tiny but each extra UDF stage costs a fixed scheduler+Arrow round
    trip that dominates the pipeline's latency floor.

    Batch-vectorized (r04): on a mutated/real corpus the distinct-surface
    table scales with the corpus (317k surfaces at sf0.1 x64), and the
    old per-row AG.band_keys (python FNV per shingle + a small numpy
    matrix per surface) made this the pipeline's second-largest stage.
    AG.surface_feats_batch computes identical values over the whole
    Arrow batch (parity-pinned in test_linking)."""
    keys, sh_lists, nodes = AG.surface_feats_batch(norm.tolist())
    return pd.DataFrame({
        "bands": [k.tolist() for k in keys],
        "sh": sh_lists,
        "node": nodes,
    })


def _best_alias(df: DataFrame, key: str) -> DataFrame:
    """Reduce to the winning (entity_id, prior[, sim]) per surface key via
    max_by on an ordering struct — an aggregation (map-side combinable),
    NOT a window over the mention table. Order: sim desc, prior desc,
    entity_id asc."""
    sim = F.col("sim") if "sim" in df.columns else F.lit(1.0)
    order = F.struct(sim.alias("s"), F.col("prior").alias("p"),
                     (-F.col("entity_id")).alias("ne"))
    picked = F.max_by(
        F.struct("entity_id", "prior",
                 *(("sim",) if "sim" in df.columns else ())), order)
    return (df.groupBy(key)
            .agg(picked.alias("__b"))
            .select(key, "__b.*"))


def resolve_surfaces(surfaces: DataFrame, aliases: DataFrame) -> DataFrame:
    """Distinct normalized surfaces → resolution(alias_norm, entity_id,
    prior, method, sim, node_id, surface_node). All candidate work
    (exact + LSH fuzzy) happens here, on the dictionary-sized surface
    table — see link_mentions for the scale rationale."""
    # the surfaces table is dictionary-sized but its LINEAGE is the whole
    # mention stream (explode + distinct over 10^9+ rows). This plan
    # consumes it from several branches (exact pass, band pass, final
    # assembly) and from inside broadcast builds, each of which would
    # re-run that lineage (measured: 15x recomputation, 63s vs 1.4s at
    # x64). A lazy localCheckpoint materializes it once and truncates the
    # lineage for every consumer; blocks are dictionary-sized and cleaned
    # by the ContextCleaner.
    surfaces = surfaces.localCheckpoint(eager=False)
    alias_best = _best_alias(aliases, "alias_norm")
    feats = surfaces.withColumn("f", surface_feats_udf("alias_norm"))
    s_exact = feats.join(F.broadcast(alias_best), "alias_norm", "left")

    u_band = (s_exact.filter(F.col("entity_id").isNull())
              .select("alias_norm", F.col("f.sh").alias("m_sh"),
                      F.posexplode("f.bands").alias("band", "key")))
    a_surf = (aliases.select(F.col("alias_norm").alias("a_norm"),
                             "entity_id", "prior")
              .withColumn("af", surface_feats_udf("a_norm")))
    a_band = a_surf.select(
        "a_norm", F.col("af.sh").alias("a_sh"), "entity_id", "prior",
        F.posexplode("af.bands").alias("band", "key"))
    inter = F.size(F.array_intersect("m_sh", "a_sh")).cast("double")
    union = (F.size("m_sh") + F.size("a_sh")).cast("double") - inter
    # NOTE: no dropDuplicates on (alias, a_norm, entity) — a pair colliding
    # in several bands yields identical candidate rows, and the max_by in
    # _best_alias is duplicate-insensitive, so the dedup shuffle would buy
    # nothing (verified: same resolution output)
    cand = (
        u_band.join(F.broadcast(a_band), ["band", "key"])
        .withColumn("sim", F.round(inter / union, 6))
        .filter(F.col("sim") >= SIM_THRESHOLD)
        .select("alias_norm", "entity_id", "prior", "sim")
    )
    s_fuzzy = _best_alias(cand, "alias_norm")

    return (
        s_exact.withColumnRenamed("entity_id", "e_exact")
        .withColumnRenamed("prior", "p_exact")
        .join(F.broadcast(s_fuzzy.withColumnRenamed("entity_id", "e_fuzzy")
                          .withColumnRenamed("prior", "p_fuzzy")),
              "alias_norm", "left")
        .select(
            "alias_norm",
            F.coalesce("e_exact", "e_fuzzy").alias("entity_id"),
            F.coalesce("p_exact", "p_fuzzy").alias("prior"),
            F.when(F.col("e_exact").isNotNull(), F.lit("exact"))
            .when(F.col("e_fuzzy").isNotNull(), F.lit("lsh"))
            .otherwise(F.lit("none")).alias("method"),
            F.when(F.col("e_exact").isNotNull(), F.lit(1.0))
            .otherwise(F.col("sim")).alias("sim"),
            F.coalesce(F.coalesce("e_exact", "e_fuzzy"),
                       F.col("f.node")).alias("node_id"),
            F.col("f.node").alias("surface_node"),
        )
    )


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """mentions → links(url, sent_id, m_id, alias_norm, node_id, entity_id
    nullable, method, sim, prior).

    Scale shape: ALL per-candidate work — including L1 normalization (two
    Java regexes per string) — happens on the DISTINCT raw-surface table
    (tiny vs the mention stream); the mention table itself is only
    touched by one broadcast hash join at the end — no windows, no
    shuffle, and no per-row regex over the 10^12-row side. Exact pass:
    broadcast join on alias_norm (L2), dictionary pre-reduced to its best
    entry per alias. Fuzzy pass: LSH banding equi-join (L3), exact
    char-3-gram Jaccard verify JVM-side (L4), best-per-surface
    aggregation (L5). Unlinked surfaces get deterministic 63-bit node ids
    (L6) — never monotonically_increasing_id.
    """
    raw = (mentions.select("surface").distinct()
           .withColumn("alias_norm", normalize_col(F.col("surface")))
           .localCheckpoint(eager=False))  # reused by resolution + map-back
    resolution = resolve_surfaces(
        raw.select("alias_norm").distinct(), aliases)
    raw_res = raw.join(resolution, "alias_norm")
    # single broadcast join back onto the mention stream, keyed by the RAW
    # surface so the stream needs no normalization pass
    return (mentions.select("url", "sent_id", "m_id", "surface")
            .join(F.broadcast(raw_res), "surface")
            .select("url", "sent_id", "m_id", "alias_norm", "entity_id",
                    "prior", "method", "sim", "node_id", "surface_node"))


def resolution_edges(resolution: DataFrame) -> DataFrame:
    """C1: same-entity evidence edges (surface_node → entity) for every
    linked surface, from the resolution table alone — edges are
    per-surface facts, so the mention stream is never read.
    resolve_surfaces keeps only the top-1 entity per surface
    (_best_alias), so each surface node has at most one edge: the graph
    is a forest of stars, one per linked entity, and no edge joins two
    entities (tests/test_linking.py pins this)."""
    return (
        resolution.filter(F.col("entity_id").isNotNull())
        .select(F.col("surface_node").alias("src"),
                F.col("entity_id").alias("dst"))
        .dropDuplicates()
    )
