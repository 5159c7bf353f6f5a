"""The two workloads. Each is a closed loop with one client: the next
unit starts when the previous one has committed.

A workload object generates its inputs from the seed when built, and
then offers:

- ``start(spark)``: per-session preparation, untimed;
- ``run_unit(spark, tr, k)``: unit k of work, returning (docs,
  seconds); unit 0 is the workload's initial build, a warm-up unit;
- ``check(spark, k)``: compares unit k's output with the reference,
  after the timed window, returning the unit's precision and recall,
  the row counts behind them and whether the unit is correct;
- ``trace_extras(spark, tr)``: traced calls the units do not make;
- ``probe_inputs()``: the pages and distinct sentences the kernel probes
  time, or empty lists.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from joint_entity_and_relation_extraction_spark.functions.aliasgen import round6
from joint_entity_and_relation_extraction_spark.operators import dedup as DD
from joint_entity_and_relation_extraction_spark.operators import linking as L
from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
from joint_entity_and_relation_extraction_spark.plans import registry
from joint_entity_and_relation_extraction_spark.plans.incremental import (
    merge_triple_evidence)
from joint_entity_and_relation_extraction_spark.sources import iceberglite as il
from joint_entity_and_relation_extraction_spark.sources.warclite import (
    WarcLiteDataSource)

import chain
import gen
import reference


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class KgRecrawlMerge:
    """WARC-lite crawl segments, each read through the registered
    warclite source, run through the KG chain with a fixed alias
    dictionary (built from the initial snapshot's documents table) and
    folded into one growing triple table by merge_triple_evidence. Unit
    0 is the initial snapshot, a warm-up unit with the segments' shape;
    later segments mix new urls with recrawls of earlier ones."""

    name = "kg_recrawl_merge"
    N_INITIAL = 200
    SEG_PAGES = 200
    N_SEGMENTS = 20

    def __init__(self, seed: int, work: str, cache: str):
        self.seed, self.work, self.cache = seed, work, cache
        self.docs0, self.segments = gen.recrawl_crawl(
            seed, self.N_INITIAL, self.N_SEGMENTS, self.SEG_PAGES)
        self.docs_dir = _fresh_dir(os.path.join(work, "snapshot"))
        gen.write_documents(self.docs0, self.docs_dir)
        self.table = os.path.join(work, "triples")
        shutil.rmtree(self.table, ignore_errors=True)
        self.aliases = reference.alias_rows(d["text"] for d in self.docs0)
        self.snapshots: dict[int, int] = {}  # unit k -> snapshot it committed

    def unit_docs(self, k: int) -> list[dict]:
        if k == 0:
            return [dict(d, warc_ts=gen.webgen.make_warc_ts(d["doc_id"]))
                    for d in self.docs0]
        return self.segments[k - 1]

    def _reference_unit(self, k: int):
        return reference.cached(
            os.path.join(self.cache, f"{self.name}-{self.N_INITIAL}-"
                         f"{self.SEG_PAGES}-{self.seed}-unit{k}.pkl"),
            lambda: reference.kg_canonical(self.unit_docs(k), self.aliases))

    def start(self, spark) -> None:
        spark.dataSource.register(WarcLiteDataSource)
        self.alias_df = L.alias_dict(spark, self.docs_dir)

    def run_unit(self, spark, tr, k: int) -> tuple[int, float]:
        if k > self.N_SEGMENTS:
            raise RuntimeError(f"{self.name}: all {self.N_SEGMENTS} "
                               "generated segments are used")
        seg_dir = _fresh_dir(os.path.join(self.work, f"segment-{k:03d}"))
        gen.write_segment(self.unit_docs(k), seg_dir)
        t0 = time.monotonic()  # the segment's files have landed
        pages = tr.layer("warclite", lambda: (
            spark.read.format("warclite").option("path", seg_dir).load()
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))))
        fr = chain.kg_chain(tr, pages, self.alias_df)
        tr.layer("materialize", lambda: merge_triple_evidence(
            spark, self.table, fr["with_ts"]), barrier=False)
        dt = time.monotonic() - t0
        for df in fr["held"]:
            df.unpersist()
        self.snapshots[k] = il.current_snapshot(self.table)
        if tr.enabled:
            self._count(tr, fr)
        return len(self.unit_docs(k)), dt

    @staticmethod
    def _count(tr, fr) -> None:
        sents = fr["sents"].count()
        tr.count("extract.sentences", sents)
        tr.count("extract.residue", fr["infd"].count() / max(sents, 1))
        methods = [r.method for r in fr["resolution"].select("method").collect()]
        n = max(len(methods), 1)
        tr.count("linking.surfaces", len(methods))
        tr.count("linking.exact_share", methods.count("exact") / n)
        tr.count("linking.lsh_share", methods.count("lsh") / n)

    def check(self, spark, k: int) -> dict:
        """The table as unit k committed it against the oracle rows of
        units 0..k, keyed on (subj, pred, obj)."""
        rows = il.read(spark, self.table, snapshot=self.snapshots[k]).select(
            "subj", "pred", "obj", "evidence_count", "n_sources").collect()
        got = {(int(r.subj), r.pred, int(r.obj)): (int(r.evidence_count),
                                                   int(r.n_sources))
               for r in rows}
        want = reference.kg_table(
            [self._reference_unit(i) for i in range(k + 1)])
        matched = sum(1 for key, v in got.items() if want.get(key) == v)
        return {"precision": matched / max(len(got), 1),
                "recall": matched / max(len(want), 1), "ok": got == want,
                "rows": {"emitted": len(got), "matched": matched,
                         "expected": len(want)}}

    def trace_extras(self, spark, tr) -> None:
        """The web_pages stage over the snapshot's documents table: the
        parquet-backed way into the chain, which no unit takes."""
        tr.layer("webpages", lambda: web_pages(spark, self.docs_dir))

    def probe_inputs(self) -> tuple[list[bytes], list[list[str]]]:
        docs = [d for k in sorted(self.snapshots) for d in self.unit_docs(k)]
        pages = list(reference.pages_frame(docs)["html"])
        return pages, reference.distinct_sentences(docs)


class CrawlNeardup:
    """One unit is a round of the four bench-protected near-dup queries
    over a generated documents corpus, called through the registry."""

    name = "crawl_neardup"
    N_DOCS = 1500
    QUERIES = (("dedup.lsh", "dedup_minhash_lsh"),
               ("dedup.incremental", "dedup_minhash_incremental"),
               ("dedup.edit_verify", "dedup_edit_verify"),
               ("graph.degrees_lsh", "graph_degrees_lsh"))
    #: minhash_incremental_pairs' default split: doc_id % 5 == 0 is new
    INCREMENTAL_MOD = 5
    #: an exact pair LSH must find: the chance that none of the bands
    #: collide, (1 - J^rows)^bands, is below this
    SURE_MISS = 1e-6

    def __init__(self, seed: int, work: str, cache: str):
        self.docs_dir = _fresh_dir(os.path.join(work, "corpus"))
        path = gen.write_documents(gen.neardup_documents(seed, self.N_DOCS),
                                   self.docs_dir)
        self.exact, self.edit = reference.cached(
            os.path.join(cache, f"{self.name}-{self.N_DOCS}-{seed}.pkl"),
            lambda: self._exact_pairs(path))
        mod = self.INCREMENTAL_MOD
        self.exact_new = {p: j for p, j in self.exact.items()
                          if p[0] % mod == 0 or p[1] % mod == 0}
        self.rounds: dict[int, dict] = {}

    def _exact_pairs(self, path: str) -> tuple[dict, dict]:
        """Pairs the LSH queries approximate: Jaccard over every shingle
        (a cap at the corpus size drops none, as LSH verifies on full
        shingle sets). Edit-verify pairs: the query's own oracle, which
        Jaccard-filters on the capped shingle sets."""
        exact = {(d1, d2): j for d1, d2, _, j in reference.duckdb_rows(
            path, DD.sql_ngram_jaccard(n=2, threshold=0.2,
                                       max_df=self.N_DOCS))}
        oracles = {**registry.PENDING_ORACLE, **registry.all_oracles()}
        edit = {(r[0], r[1]): tuple(r[2:]) for r in reference.duckdb_rows(
            path, oracles["dedup_edit_verify"])}
        return exact, edit

    def start(self, spark) -> None:
        # dedup_edit_verify is staged in the pending pool until registered
        queries = {**registry.PENDING_QUERIES, **registry.all_queries()}
        self.fns = {q: queries[q] for _, q in self.QUERIES}

    def run_unit(self, spark, tr, k: int) -> tuple[int, float]:
        t0 = time.monotonic()
        out = {}
        for layer, q in self.QUERIES:
            out[q] = tr.layer(layer, lambda q=q: self.fns[q](
                spark, self.docs_dir).collect(), barrier=False)
        dt = time.monotonic() - t0
        self.rounds[k] = out
        if tr.enabled:
            for layer, q in self.QUERIES[:3]:
                tr.count(f"{layer}.pairs", len(out[q]))
        return self.N_DOCS, dt

    @classmethod
    def _sure(cls, j: float) -> bool:
        return (1 - j ** DD.ROWS_PER_BAND) ** DD.BANDS < cls.SURE_MISS

    def check(self, spark, k: int) -> dict:
        """Round k. Every emitted pair must be an exact pair with its
        exact value; LSH and incremental must find every pair whose miss
        chance is below SURE_MISS (the rest of their recall is the LSH
        S-curve, reported per query); edit-verify must equal its oracle;
        the LSH degrees must be the degrees of the round's LSH pairs.
        Recall is the lowest of the three queries' recall on the pairs
        they must find."""
        out = self.rounds[k]
        emitted = matched = 0
        recall, rows, ok = 1.0, {}, True
        for q, want, must in (
                ("dedup_minhash_lsh", self.exact, self._sure),
                ("dedup_minhash_incremental", self.exact_new, self._sure),
                ("dedup_edit_verify", self.edit, lambda v: True)):
            if q == "dedup_edit_verify":
                got = {(r.d1, r.d2): (r.jaccard, r.edit_dist, r.edit_sim)
                       for r in out[q]}
            else:
                got = {(r.d1, r.d2): r.jaccard for r in out[q]}
            hits = {p for p, v in got.items() if want.get(p) == v}
            needed = {p for p, v in want.items() if must(v)}
            ok &= len(hits) == len(got) == len(out[q]) and needed <= hits
            emitted, matched = emitted + len(got), matched + len(hits)
            recall = min(recall, len(needed & hits) / max(len(needed), 1))
            rows[q] = {"emitted": len(got), "matched": len(hits),
                       "expected": len(want), "must_find": len(needed)}
        degrees = {(r.doc_id, r.degree, r.w_sum, r.w_max)
                   for r in out["graph_degrees_lsh"]}
        ok &= degrees == _degrees(out["dedup_minhash_lsh"])
        return {"precision": matched / max(emitted, 1), "recall": recall,
                "ok": ok, "rows": rows}

    def trace_extras(self, spark, tr) -> None:
        pass

    def probe_inputs(self) -> tuple[list[bytes], list[list[str]]]:
        return [], []


def _degrees(pairs) -> set[tuple]:
    """graph_degrees over a pair list: per node degree, rounded weight
    sum and max (the SQL oracle's definition)."""
    acc: dict[int, list[float]] = {}
    for r in pairs:
        for node in (r.d1, r.d2):
            acc.setdefault(node, []).append(r.jaccard)
    return {(n, len(js), round6(sum(js)), round6(max(js)))
            for n, js in acc.items()}


WORKLOADS = {w.name: w for w in (KgRecrawlMerge, CrawlNeardup)}
