"""End-to-end KG-construction pipeline (BASELINE.json north_rule):
triple extraction → entity linking → canonicalization → graph materialize,
with IcebergLite tables, per-partition lineage, and checkpoint-resume.

Stage graph (:class:`KGStages`, the one composition of the chain)::

    pages ─X1─> ext ─X2..X4─> sents ─X5..X7─> infd (distinct sentences)
      sents ⋈ infd ─> inferred ─> triples_raw
      infd ─> raw_surfaces ─L1..L6─> resolution ─C1..C3─> labels
      triples_raw + resolution + labels ─C4─> canon

``run_pipeline`` writes it to tables under ``out_root``::

    extracted(∂lang) ─> [stage graph] ─G1─> triples(∂pred)
                                            + lineage(∂stage) throughout

Resume semantics (SURVEY.md §3.2.6): the extraction stage is
partition-resumable — input partitions already present in the
``extracted`` manifest are skipped via an anti-filter on partition values
(manifest-side, no data read). Downstream stages are recomputed iff any
upstream partition was (re)built or their output is missing; all writes are
dynamic-partition overwrites, so re-runs are idempotent.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canonicalize as C
from ..operators import extract as X
from ..operators import linking as L
from ..operators.lineage import StageTimer, lineage_rows
from ..operators.webpages import web_pages
from ..sources import iceberglite as il
from .incremental import aggregate_triples, triple_write_layout


class KGStages:
    """The KG chain as named lazy frames, each built on first access from
    the frames before it (see the module diagram).

    It persists two frames: ``sents`` (the distinct-sentence model and
    the stream join-back both consume it) and ``resolution`` (the CC
    edges and the canonical map both consume it). Persisted frames are
    appended to ``held``; the owner unpersists them when done. The
    operators checkpoint their own intermediates, so a chain composed
    from them directly (perfbench's ``chain.py``) gets the same
    materializations: ``infer_distinct`` checkpoints the distinct
    tokens (eager) and the model output (lazy), ``resolve_surfaces`` its
    surface input, ``connected_components`` its edges,
    ``canonical_triples_by_surface`` its raw-surface map, and
    ``incremental.merge_triple_evidence`` (not part of this graph) the
    batch's delta.

    Building ``infd`` runs the distinct-token checkpoint job and the
    model input's range sample and shuffle; building ``labels`` runs
    connected_components' dispatch count and collect, which executes the
    model, linking and CC. Every other frame stays lazy until its
    consumer runs an action.

    A frame assigned before its first access replaces that stage:
    run_pipeline sets ``ext`` to the committed extracted table, so a
    resumed run reads it instead of re-extracting.

    ``dedup=False`` runs the model on every stream sentence instead of
    joining the distinct-sentence results back (bench.py's scaling pair
    and its stream_infer attribution). Surfaces, linking and the canonical
    map derive from ``infd`` either way, so ``canon`` has the same rows.
    """

    def __init__(self, pages: DataFrame, aliases: DataFrame, dedup: bool):
        self.pages = pages
        self.aliases = aliases
        self.dedup = dedup
        self.held: list[DataFrame] = []

    @cached_property
    def ext(self) -> DataFrame:
        return X.extract_text(self.pages)

    @cached_property
    def sents(self) -> DataFrame:
        sents = X.split_sentences(X.lang_filter(self.ext)).persist()
        self.held.append(sents)
        return sents

    @cached_property
    def infd(self) -> DataFrame:
        return X.infer_distinct(self.sents)

    @cached_property
    def inferred(self) -> DataFrame:
        if self.dedup:
            return X.infer(self.sents, inferred_distinct=self.infd)
        return X.infer(self.sents, dedup=False)

    @cached_property
    def triples_raw(self) -> DataFrame:
        return X.triples_raw(self.inferred)

    @cached_property
    def raw_surfaces(self) -> DataFrame:
        # dictionary-sized work (normalization, candidate generation, CC)
        # derives from the DISTINCT-sentence table; only the triple stream
        # is touched per row (broadcast joins in C4)
        return X.mention_surfaces(self.infd)

    @cached_property
    def resolution(self) -> DataFrame:
        surfaces = (self.raw_surfaces
                    .select(L.normalize_col(F.col("surface")).alias("alias_norm"))
                    .distinct())
        resolution = L.resolve_surfaces(surfaces, self.aliases).persist()
        self.held.append(resolution)
        return resolution

    @cached_property
    def labels(self) -> DataFrame:
        return C.connected_components(L.resolution_edges(self.resolution))

    @cached_property
    def canon(self) -> DataFrame:
        return C.canonical_triples_by_surface(
            self.triples_raw, C.surface_canon_map(self.resolution, self.labels),
            raw_surfaces=self.raw_surfaces)


def kg_stages(spark: SparkSession, pages: DataFrame, aliases: DataFrame,
              dedup: bool = True) -> KGStages:
    """The KG stage graph over ``pages`` (url, warc_ts, lang, html) with
    the linking dictionary ``aliases`` (linking.alias_dict); ``spark`` is
    the session both belong to."""
    return KGStages(pages, aliases, dedup)


def _t(out_root: str, name: str) -> str:
    return f"{out_root}/{name}"


def run_pipeline(spark: SparkSession, sf_dir: str, out_root: str,
                 run_id: str = "r0", resume: bool = False,
                 skew: bool = False,
                 pages: "DataFrame | None" = None) -> dict:
    """Returns {'triples': DataFrame, 'recomputed_langs': [...], 'stats': {...}}.

    ``pages`` overrides the input web-page stream (columns url, warc_ts,
    lang, html) — e.g. a WARC-lite crawl directory read through the
    sources.warclite data source (jobs/run_pipeline.py --warc-dir).
    ``sf_dir`` still supplies the linking alias dictionary.

    ``stats`` holds one wall time per action the run executes:
    ``extract_write_ms`` (html→text and the ``extracted`` write),
    ``model_link_cc_ms`` (the alias dictionary, then CC's dispatch
    count/collect, which runs the distinct-sentence model, linking and
    CC) and ``triples_write_ms`` (stream join-back, canonical rewrite, G1
    and the ``triples`` write)."""
    stats: dict[str, float] = {}
    t_ext = _t(out_root, "extracted")
    t_triples = _t(out_root, "triples")
    t_lineage = _t(out_root, "lineage")

    # ---- stage 1: extraction (partition-resumable on lang) ----------------
    wp = pages if pages is not None else web_pages(spark, sf_dir, skew=skew)
    done_langs: set[str] = set()
    if resume and il.exists(t_ext):
        done_langs = {p["lang"] for p in il.partitions(t_ext) if "lang" in p}
    todo = wp.filter(~F.col("lang").isin(*done_langs)) if done_langs else wp
    recomputed = []
    with StageTimer() as st:
        if not resume or not il.exists(t_ext) or not done_langs:
            il.overwrite_partitions(X.extract_text(todo), t_ext, ["lang"])
            recomputed = [p["lang"] for p in il.partitions(t_ext)]
        else:
            new_langs = [r.lang for r in todo.select("lang").distinct().collect()]
            if new_langs:
                il.overwrite_partitions(X.extract_text(todo), t_ext, ["lang"])
                recomputed = new_langs
    ext = il.read(spark, t_ext)
    il.append(
        lineage_rows(ext, run_id, "extract", F.col("lang"), st.wall_ms),
        t_lineage, ["stage"])
    stats["extract_write_ms"] = st.wall_ms

    if resume and not recomputed and il.exists(t_triples):
        return {"triples": il.read(spark, t_triples),
                "recomputed_langs": [], "stats": stats}

    # ---- stages 2-3: the stage graph over the committed extracted table ---
    with StageTimer() as st:
        g = kg_stages(spark, wp, L.alias_dict(spark, sf_dir))
        g.ext = ext
        canon = g.canon
    stats["model_link_cc_ms"] = st.wall_ms

    # ---- stage 4: graph materialize (G1 dedup-agg + G2 write) -------------
    with StageTimer() as st:
        triples = aggregate_triples(canon.join(ext.select("url", "warc_ts"), "url"))
        il.overwrite_partitions(triple_write_layout(triples), t_triples, ["pred"])
    stats["triples_write_ms"] = st.wall_ms

    out = il.read(spark, t_triples)
    il.append(
        lineage_rows(out, run_id, "materialize", F.col("pred"), st.wall_ms),
        t_lineage, ["stage"])
    for df in g.held:
        df.unpersist()
    return {"triples": out, "recomputed_langs": recomputed, "stats": stats}
