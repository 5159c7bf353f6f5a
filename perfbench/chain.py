"""The KG chain as the benchmark composes it from the package's public
functions: pages → text → sentences → model → linking → CC → canonical
triples (with each page's warc_ts), ready for a materialize call.

Untraced, the chain is lazy except where the package's own pipeline
persists (the sentence table and the resolution table, each consumed
twice). Traced, ``Tracer.layer`` materializes every layer's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.operators import canonicalize as C
from joint_entity_and_relation_extraction_spark.operators import extract as X
from joint_entity_and_relation_extraction_spark.operators import linking as L

from spans import Tracer


def kg_chain(tr: Tracer, pages: DataFrame, aliases: DataFrame) -> dict:
    """Returns named frames: ``with_ts`` (canonical triples + warc_ts),
    ``sents``, ``infd``, ``resolution``, and ``held`` (frames to
    unpersist once the result is materialized)."""
    ext = tr.layer("extract.text", lambda: X.extract_text(pages))
    sents = tr.layer("extract.split",
                     lambda: X.split_sentences(X.lang_filter(ext)))
    held = [] if tr.enabled else [sents.persist()]
    infd = tr.layer("extract.model", lambda: X.infer_distinct(sents))
    inferred = tr.layer("extract.joinback",
                        lambda: X.infer(sents, inferred_distinct=infd))
    raw_triples = tr.layer("extract.joinback", lambda: X.triples_raw(inferred))
    raw_surfaces = tr.layer("linking", lambda: X.mention_surfaces(infd))
    surfaces = tr.layer("linking", lambda: raw_surfaces.select(
        L.normalize_col(F.col("surface")).alias("alias_norm")).distinct())
    resolution = tr.layer("linking",
                          lambda: L.resolve_surfaces(surfaces, aliases))
    if not tr.enabled:
        held.append(resolution.persist())
    edges = tr.layer("linking", lambda: L.resolution_edges(resolution))
    labels = tr.layer("canonicalize.cc", lambda: C.connected_components(edges))
    canon_map = tr.layer("canonicalize.canon",
                         lambda: C.surface_canon_map(resolution, labels))
    canon = tr.layer("canonicalize.canon", lambda: C.canonical_triples_by_surface(
        raw_triples, canon_map, raw_surfaces=raw_surfaces))
    with_ts = canon.join(ext.select("url", "warc_ts"), "url")
    return {"with_ts": with_ts, "sents": sents, "infd": infd,
            "resolution": resolution, "held": held}
