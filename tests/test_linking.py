"""M4 gates: linking parity (Spark vs oracle, exact + LSH paths), CC
property tests vs union-find, and canonical-triple parity against the
oracle's per-mention join: both branches of the one Spark C4 rewrite, the
production stage graph's P/R >= 0.95 gate included."""

import random

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.functions import aliasgen as AG
from joint_entity_and_relation_extraction_spark.functions import text as T
from joint_entity_and_relation_extraction_spark.operators import canonicalize as C
from joint_entity_and_relation_extraction_spark.operators import extract as X
from joint_entity_and_relation_extraction_spark.operators import linking as L
from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
from joint_entity_and_relation_extraction_spark.plans.pipeline import kg_stages
from oracle import pipeline_local as oracle

from conftest import SF0001


@pytest.fixture(scope="module")
def spark_links(spark):
    ext = X.lang_filter(X.extract_text(web_pages(spark, SF0001)))
    inferred = X.infer(X.split_sentences(ext)).persist()
    mentions = X.mentions(inferred)
    aliases = L.alias_dict(spark, SF0001)
    links = L.link_mentions(mentions, aliases).persist()
    trip = X.triples_raw(inferred)
    return mentions, links, trip


@pytest.fixture(scope="module")
def oracle_full():
    return oracle.run_full(SF0001)


def _canon_rows(rows):
    """Canonical triples as a sorted list over all 8 columns, typed alike
    for Spark Rows and oracle tuples."""
    return sorted((url, int(sent_id), int(subj), subj_norm, pred, int(obj),
                   obj_norm, float(score))
                  for url, sent_id, subj, subj_norm, pred, obj, obj_norm, score
                  in rows)


def test_alias_dict_matches_oracle(spark):
    got = {(r.alias_norm, r.entity_id, r.prior)
           for r in L.alias_dict(spark, SF0001).collect()}
    want = {(r["alias_norm"], r["entity_id"], r["prior"])
            for r in oracle.build_aliases(SF0001)}
    assert got == want and len(got) > 50


def test_normalize_builtin_equals_python(spark, spark_links):
    mentions, _, _ = spark_links
    rows = mentions.select(
        "surface", L.normalize_col(F.col("surface")).alias("norm")
    ).distinct().collect()
    for r in rows:
        assert r.norm == T.normalize_surface(r.surface), r.surface


def test_link_parity_spark_vs_oracle(spark_links, oracle_full):
    _, links, _ = spark_links
    got = {(r.url, r.sent_id, r.m_id,
            None if r.entity_id is None else int(r.entity_id),
            r.method, r.sim, int(r.node_id))
           for r in links.collect()}
    want = set()
    for r in oracle_full["links"].itertuples(index=False):
        eid = None if r.entity_id is None or str(r.entity_id) == "nan" \
            else int(r.entity_id)
        want.add((r.url, r.sent_id, r.m_id, eid, r.method, r.sim,
                  int(r.node_id)))
    assert got == want
    methods = {m for (_, _, _, _, m, _, _) in got}
    assert "exact" in methods  # both paths exercised
    assert "lsh" in methods or "none" in methods


@pytest.mark.parametrize("distributed", [False, True])
def test_cc_matches_union_find(spark, distributed):
    """Both CC algorithms equal union-find: the driver path through
    connected_components' size dispatch, and star contraction called
    directly (the dispatch takes it only past DRIVER_CC_MAX_EDGES)."""
    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges |= {(1000 + i, 1000 + i + 1) for i in range(25)}  # a 26-node chain
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    cc = C._star_contract(df) if distributed else C.connected_components(df)
    got = {(r.node, r.component) for r in cc.collect()}
    want = oracle.connected_components(edges)
    assert got == set(want.items())


def test_driver_cc_labels_are_a_local_relation(spark):
    """Driver union-find labels plan as a LocalTableScan: no pickled-RDD
    scan, so no parallelize job before the surface map is broadcast."""
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 5)], "src long, dst long")
    labels = C.connected_components(df)
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert labels.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (7, 5)]


def test_star_contraction_logn_rounds_on_long_chain(spark):
    """Large-star/small-star must converge in O(log n) rounds on the
    worst-case shape for min-propagation: a 1000-node chain (diameter
    999). max_iter=12 would make propagation fail outright; star
    contraction halves tree heights per round, so 12 rounds is ample —
    and the labels still equal union-find exactly (VERDICT r02 item 8).
    Ids are shuffled so the chain is not pre-sorted toward its root."""
    rng = random.Random(11)
    ids = list(range(5000, 6000))
    rng.shuffle(ids)
    edges = {(ids[i], ids[i + 1]) for i in range(len(ids) - 1)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {(r.node, r.component) for r in C._star_contract(df, 12).collect()}
    want = oracle.connected_components(edges)
    assert got == set(want.items())
    assert len({c for _, c in got}) == 1  # one component, rooted at min id


def test_surface_path_equals_mention_path(spark, spark_links, oracle_full):
    """canonical_triples_by_surface without ``raw_surfaces`` (surfaces
    taken from the triple stream itself, as the incremental tests build
    it) equals the oracle's per-mention join on all 8 columns."""
    mentions, _, trip = spark_links
    resolution = L.resolve_surfaces(
        mentions.select(L.normalize_col(F.col("surface")).alias("alias_norm"))
        .distinct(), L.alias_dict(spark, SF0001))
    labels = C.connected_components(L.resolution_edges(resolution))
    got = _canon_rows(C.canonical_triples_by_surface(
        trip, C.surface_canon_map(resolution, labels)).collect())
    want = _canon_rows(oracle.canonicalize(
        oracle_full["links"], oracle_full["triples_raw"]).itertuples(
            index=False))
    assert got == want and len(got) > 100


def test_canonical_triples_pr_gate(spark, oracle_full):
    """The production canonical rows (kg_stages(...).canon, surfaces from
    the distinct-sentence table) against the oracle: P = R = 1 on the
    (url, sent_id, subj, pred, obj) identity, and equal on all 8 columns."""
    g = kg_stages(spark, web_pages(spark, SF0001), L.alias_dict(spark, SF0001))
    try:
        got = _canon_rows(g.canon.collect())
    finally:
        for df in g.held:
            df.unpersist()
    want = _canon_rows(oracle_full["canonical"].itertuples(index=False))
    got_keys, want_keys = ({r[:3] + r[4:6] for r in rows}
                           for rows in (got, want))
    tp = len(got_keys & want_keys)
    precision = tp / max(len(got_keys), 1)
    recall = tp / max(len(want_keys), 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0
    assert got == want and len(got) > 100


def test_surface_feats_batch_matches_per_row_reference():
    """The batch-vectorized surface kernel (r04: linking was the
    pipeline's second-largest stage via per-row python FNV) must be
    BIT-identical to the per-row reference the oracle uses — band keys,
    shingles, and node ids, including unicode and degenerate inputs."""
    import random as _r

    rng = _r.Random(13)
    alpha = "abcdefghijklmnopqrstuvwxyz éüñ中文 "
    norms = ["", "a", "ab", "abc", "résumé café", "中文 文本"]
    norms += ["".join(rng.choice(alpha) for _ in range(rng.randrange(1, 40)))
              for _ in range(2000)]
    keys, sh_lists, nodes = AG.surface_feats_batch(norms)
    for i, s in enumerate(norms):
        assert keys[i].tolist() == AG.band_keys(s), s
        assert sh_lists[i] == AG.char_shingles(s), s
        assert int(nodes[i]) == AG.surface_node_id(s), s
    # empty batch degenerates cleanly
    k0, s0, n0 = AG.surface_feats_batch([])
    assert k0.shape == (0, AG.LSH_BANDS) and s0 == [] and n0.size == 0
