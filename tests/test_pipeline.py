"""T6: end-to-end pipeline over IcebergLite with lineage + checkpoint-
resume — full run, no-op resume, partition-drop recovery recomputing only
the missing partition, byte-identical final triples — and the entry points
built on the one stage graph (kg_stages) agreeing with each other."""

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.operators import linking as L
from joint_entity_and_relation_extraction_spark.operators.lineage import lineage_rows
from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
from joint_entity_and_relation_extraction_spark.plans import registry
from joint_entity_and_relation_extraction_spark.plans.pipeline import (
    kg_stages, run_pipeline)
from joint_entity_and_relation_extraction_spark.sources import iceberglite as il
from oracle import pipeline_local as oracle

from conftest import SF0001


def _triple_set(df):
    return {(int(r.subj), r.pred, int(r.obj), int(r.evidence_count))
            for r in df.collect()}


@pytest.fixture(scope="module")
def first_res(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    return out, run_pipeline(spark, SF0001, out, run_id="r1")


@pytest.fixture(scope="module")
def first_run(first_res):
    out, res = first_res
    return out, _triple_set(res["triples"])


def test_pipeline_produces_triples_and_lineage(spark, first_run):
    out, triples = first_run
    assert len(triples) > 50
    lin = il.read(spark, f"{out}/lineage")
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"extract", "materialize"} <= stages
    # per-partition rows exist with counts and checksums
    ext_rows = lin.filter(F.col("stage") == "extract").collect()
    assert {r.part for r in ext_rows} == {"en", "fr", "es", "zh", "de"}
    assert all(r.output_rows > 0 and r.checksum is not None for r in ext_rows)


def test_pipeline_matches_oracle_pr_gate(spark, first_run):
    _, got = first_run
    want = {(int(r.subj), r.pred, int(r.obj), int(r.evidence_count))
            for r in oracle.run_full(SF0001)["triples"].itertuples(index=False)}
    tp = len(got & want)
    p, r = tp / max(len(got), 1), tp / max(len(want), 1)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0


def test_pipeline_stats_time_each_action(first_res):
    """One timer per action the run executes; the model runs inside CC's
    dispatch count, so no timer covers lazy plan building alone."""
    _, res = first_res
    assert set(res["stats"]) == {"extract_write_ms", "model_link_cc_ms",
                                 "triples_write_ms"}


def test_registry_triples_equal_pipeline_triples(spark, first_res):
    """flagship / kg_canonical_triples and run_pipeline build the same
    stage graph: the registry's rows equal the written triples projected
    to its 7 columns."""
    _, res = first_res
    cols = ["subj", "pred", "obj", "subj_name", "obj_name",
            "evidence_count", "n_sources"]
    try:
        got = sorted(tuple(r) for r in
                     registry.flagship(spark, SF0001).select(*cols).collect())
    finally:
        registry.clear_caches()
    want = sorted(tuple(r) for r in res["triples"].select(*cols).collect())
    assert got == want and len(got) == 1698


def test_kg_stages_dedup_off_gives_same_canon(spark):
    """dedup=False (model on every stream sentence) and the default
    distinct-sentence join-back give the same canonical rows."""
    pages, aliases = web_pages(spark, SF0001), L.alias_dict(spark, SF0001)
    rows = {}
    for dedup in (True, False):
        g = kg_stages(spark, pages, aliases, dedup=dedup)
        rows[dedup] = sorted(tuple(r) for r in g.canon.collect())
        for df in g.held:
            df.unpersist()
    assert rows[True] == rows[False] and len(rows[True]) > 1000



def test_repeated_kg_pass_compiles_no_new_classes(spark):
    """A second identical kg_stages pass reuses every class whole-stage
    codegen compiled for the first: the session's codegen cache holds the
    engine's plan vocabulary (one pass on sf0.001 is ~105 classes; at
    Spark's default of 100 entries the second pass recompiled 59)."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    pages, aliases = web_pages(spark, SF0001), L.alias_dict(spark, SF0001)
    rows, new_compiles = [], []
    for _ in range(2):
        before = compiles.getCount()
        g = kg_stages(spark, pages, aliases)
        rows.append(sorted(tuple(r) for r in g.canon.collect()))
        new_compiles.append(compiles.getCount() - before)
        for df in g.held:
            df.unpersist()
    assert rows[0] == rows[1] and len(rows[0]) > 1000
    assert new_compiles[1] == 0, new_compiles


def test_lineage_rows_put_no_run_values_into_codegen(spark):
    """A second lineage_rows pass with another wall time compiles no new
    class: the wall time and the attempted_at timestamp arrive as data,
    not as literals inlined into the generated Java source (each value
    was 2 new classes per call when both were literals)."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    df = spark.range(1000).withColumn("lang", (F.col("id") % 5).cast("string"))
    new_compiles = []
    for wall_ms in (17, 23):
        before = compiles.getCount()
        rows = lineage_rows(df, "r1", "extract", F.col("lang"), wall_ms).collect()
        new_compiles.append(compiles.getCount() - before)
        assert len(rows) == 5 and {r.wall_ms for r in rows} == {wall_ms}
    assert new_compiles[1] == 0, new_compiles

def test_resume_noop_skips_everything(spark, first_run):
    out, triples = first_run
    res = run_pipeline(spark, SF0001, out, run_id="r2", resume=True)
    assert res["recomputed_langs"] == []
    assert _triple_set(res["triples"]) == triples


def test_resume_recomputes_only_dropped_partition(spark, first_run):
    out, triples = first_run
    il.drop_partitions(f"{out}/extracted", {"lang": "es"})
    assert {p["lang"] for p in il.partitions(f"{out}/extracted")} == \
        {"en", "fr", "zh", "de"}
    res = run_pipeline(spark, SF0001, out, run_id="r3", resume=True)
    assert res["recomputed_langs"] == ["es"]
    # the recovered table is identical to the never-dropped one
    assert {p["lang"] for p in il.partitions(f"{out}/extracted")} == \
        {"en", "fr", "es", "zh", "de"}
    assert _triple_set(res["triples"]) == triples


def test_pipeline_with_skewed_corpus(spark, tmp_path):
    """End-to-end over the hot-domain corpus (30% of pages on src0):
    the pipeline completes and produces the same triple multiset as the
    oracle-equivalent unskewed run shape (skew only changes url/domain
    distribution, not page text per doc_id)."""
    res = run_pipeline(spark, SF0001, str(tmp_path / "skew"), run_id="rs",
                       skew=True)
    assert res["triples"].count() > 50
    # src0 dominates sources but all langs still present in lineage
    lin = il.read(spark, str(tmp_path / "skew") + "/lineage")
    parts = {r.part for r in lin.filter(F.col("stage") == "extract").collect()}
    assert parts == {"en", "fr", "es", "zh", "de"}


def test_web_pages_mutate_residue(spark):
    """Bench realism knob (web_pages mutate=True): odd replicas must carry
    per-copy token splices (distinct text), even replicas must stay byte-
    identical to the base copy — so a x4 replication yields ~50% distinct
    docs instead of ~25%."""
    from joint_entity_and_relation_extraction_spark.operators.webpages import (
        web_pages)

    from joint_entity_and_relation_extraction_spark.operators import (
        extract as X)

    def residue(mutate):
        wp = web_pages(spark, SF0001, replicate=4, mutate=mutate)
        sents = X.split_sentences(X.lang_filter(X.extract_text(wp)))
        return (sents.select("tokens").distinct().count()
                / sents.count())

    plain, mutated = residue(False), residue(True)
    # plain x4 replication dedups to ~1/4 of sentences (plus the per-
    # replica title sentences); mutating reps 1 and 3 must push the
    # distinct residue toward (1 original + 2 mutated copies) / 4 ≈ 0.7
    # of sentences long enough to catch a splice
    assert plain < 0.45, plain
    assert mutated > plain + 0.2, (plain, mutated)
