"""M4 gates: linking parity (Spark vs oracle, exact + LSH paths), CC
property tests vs union-find, canonical-triple parity, and the end-to-end
P/R >= 0.95 gate on CANONICAL triples."""

import random

import pytest
from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.functions import aliasgen as AG
from joint_entity_and_relation_extraction_spark.functions import text as T
from joint_entity_and_relation_extraction_spark.operators import canonicalize as C
from joint_entity_and_relation_extraction_spark.operators import extract as X
from joint_entity_and_relation_extraction_spark.operators import linking as L
from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
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


@pytest.mark.parametrize("force_distributed", [False, True])
def test_cc_matches_union_find(spark, force_distributed):
    rng = random.Random(7)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(150)}
    edges |= {(1000 + i, 1000 + i + 1) for i in range(25)}  # a 26-node chain
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {(r.node, r.component) for r in C.connected_components(
        df, force_distributed=force_distributed).collect()}
    want = oracle.connected_components(edges)
    assert got == set(want.items())


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
    got = {(r.node, r.component) for r in C.connected_components(
        df, max_iter=12, force_distributed=True).collect()}
    want = oracle.connected_components(edges)
    assert got == set(want.items())
    assert len({c for _, c in got}) == 1  # one component, rooted at min id


def test_surface_path_equals_mention_path(spark, spark_links):
    """canonical_triples_by_surface (broadcast surface map, no mention
    join) must equal the general mention-join path row-for-row."""
    mentions, links, trip = spark_links
    labels = C.connected_components(L.link_edges(links))
    via_mentions = {tuple(r) for r in C.canonical_triples(
        trip, C.assign_components(links, labels)).collect()}
    resolution = L.resolve_surfaces(
        mentions.select(L.normalize_col(F.col("surface")).alias("alias_norm"))
        .distinct(), L.alias_dict(spark, SF0001))
    labels2 = C.connected_components(L.resolution_edges(resolution))
    via_surfaces = {tuple(r) for r in C.canonical_triples_by_surface(
        trip, C.surface_canon_map(resolution, labels2)).collect()}
    assert via_surfaces == via_mentions and len(via_surfaces) > 100


def test_canonical_triples_pr_gate(spark, spark_links, oracle_full):
    _, links, trip = spark_links
    labels = C.connected_components(L.link_edges(links))
    assigned = C.assign_components(links, labels)
    canon = C.canonical_triples(trip, assigned)
    got = {(r.url, r.sent_id, int(r.subj), r.pred, int(r.obj))
           for r in canon.collect()}
    want = {(r.url, r.sent_id, int(r.subj), r.pred, int(r.obj))
            for r in oracle_full["canonical"].itertuples(index=False)}
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0
    assert len(got) > 100


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
