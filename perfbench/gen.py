"""Seeded input generator for the benchmark.

Everything the program reads in a run is written here from ``--seed``:

- ``documents.parquet`` (doc_id, text, lang, source, n_chars): the same
  schema as the analytics ``documents`` table, so ``web_pages`` and the
  dedup queries read it unchanged.
- WARC-lite segment directories for the recrawl workload, written with
  ``sources.warclite.write_warclite`` from ``webgen.web_page_row`` bytes.

Base documents are rows of the sf0.1 ``documents`` table, copied into
``data/sf0.1-documents.parquet``: the seed picks which rows, in which
order. Their text, length, language and source are the rows' own. The
near-dup structure is fitted to what the same 5000 rows show, measured
with the n-gram Jaccard oracle without a shingle cap (bigrams, J >= 0.5):

- 479 rows fall into 233 clusters: 223 of 2 rows, 9 of 3 and 1 of 4;
  the other 4521 rows are singletons (``SF_CLUSTER_SIZES``);
- of the 256 pairs in those clusters, 248 are a row and a copy of it
  with one token, ``dup``, appended, and 8 are exact copies
  (``EXACT_COPY_SHARE``);
- 246 of the 5000 rows are such later versions of another row; that
  share is the share of recrawls in a crawl segment (``RECRAWL_SHARE``).

sf0.1's own sentence residue (distinct / all sentences of its en pages)
is 0.908; generated KG units land at 0.89-0.93.

Pure python and pandas; no Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pandas as pd

from joint_entity_and_relation_extraction_spark.functions import webgen
from joint_entity_and_relation_extraction_spark.sources.warclite import write_warclite

SF_DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "data", "sf0.1-documents.parquet")
#: clusters of each size among sf0.1's 5000 documents (see module doc)
SF_CLUSTER_SIZES = {1: 4521, 2: 223, 3: 9, 4: 1}
EXACT_COPY_SHARE = 8 / 256
#: the token sf0.1 appends to a document to make its near-dup copy
COPY_MARK = "dup"
RECRAWL_SHARE = 246 / 5000
#: new urls of recrawl segment s start at doc_id (s + 1) * SEGMENT_ID_STRIDE,
#: so ids never collide with the initial snapshot or across segments
SEGMENT_ID_STRIDE = 100_000


def _sf_rows() -> list[dict]:
    df = pd.read_parquet(SF_DOCUMENTS, columns=["text", "lang", "source"])
    return df.to_dict("records")


class Corpus:
    """Draws near-duplicate document clusters from one seeded stream,
    each cluster on a distinct sf0.1 row; a run never reuses a row."""

    def __init__(self, seed: int, min_cluster: int = 1):
        self.rng = random.Random(seed)
        self.rows = _sf_rows()
        self.rng.shuffle(self.rows)
        self.sizes = [k for k in SF_CLUSTER_SIZES if k >= min_cluster]
        self.weights = [SF_CLUSTER_SIZES[k] for k in self.sizes]

    def base(self) -> dict:
        if not self.rows:
            raise RuntimeError("all sf0.1 rows are used")
        return self.rows.pop()

    def version(self, text: str) -> str:
        """A later version of a page, as sf0.1 makes its copies."""
        if self.rng.random() < EXACT_COPY_SHARE:
            return text
        return f"{text} {COPY_MARK}"

    def clusters(self, n_docs: int, first_id: int = 0) -> list[dict]:
        """``n_docs`` documents in near-dup clusters, ids from first_id."""
        docs: list[dict] = []
        doc_id = first_id
        while len(docs) < n_docs:
            row = self.base()
            size = self.rng.choices(self.sizes, weights=self.weights)[0]
            text = row["text"]
            for v in range(min(size, n_docs - len(docs))):
                if v:
                    text = self.version(row["text"])
                docs.append({"doc_id": doc_id, "text": text,
                             "lang": row["lang"], "source": row["source"]})
                doc_id += 1
        return docs


def write_documents(docs: list[dict], out_dir: str) -> str:
    df = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    df["n_chars"] = df["text"].str.len()
    path = os.path.join(out_dir, "documents.parquet")
    df.to_parquet(path, index=False)
    return path


def neardup_documents(seed: int, n_docs: int) -> list[dict]:
    """Near-dup corpus: sf0.1's clusters of two or more rows only, so
    every document has a near-dup; the sizes keep sf0.1's skew."""
    return Corpus(seed, min_cluster=2).clusters(n_docs)


# --- recrawl segments -------------------------------------------------------

RECRAWL_EPOCH = dt.datetime(2024, 6, 1)


def recrawl_crawl(seed: int, n_initial: int, n_segments: int,
                  seg_pages: int) -> tuple[list[dict], list[list[dict]]]:
    """An initial crawl snapshot (sf0.1's cluster sizes, singletons
    included) and the segments that follow it. Segment s mixes new urls
    with recrawls of earlier urls (the snapshot's or an earlier
    segment's); each page is a recrawl with probability RECRAWL_SHARE.
    A recrawl keeps the url (doc_id), is a later version of the url's
    latest text, and is fetched later than any earlier copy. Returns the
    snapshot's docs and per-segment doc dicts with a ``warc_ts`` key."""
    corpus = Corpus(seed)
    initial = corpus.clusters(n_initial)
    latest = {d["doc_id"]: d for d in initial}
    segments: list[list[dict]] = []
    for s in range(n_segments):
        ts = RECRAWL_EPOCH + dt.timedelta(hours=s)
        n_re = sum(corpus.rng.random() < RECRAWL_SHARE
                   for _ in range(seg_pages))
        new = corpus.clusters(seg_pages - n_re,
                              first_id=(s + 1) * SEGMENT_ID_STRIDE)
        re = [dict(d, text=corpus.version(d["text"]))
              for d in corpus.rng.sample(sorted(latest.values(),
                                                key=lambda d: d["doc_id"]),
                                         n_re)]
        seg = [dict(d, warc_ts=ts) for d in new + re]
        latest.update((d["doc_id"], d) for d in new + re)
        segments.append(seg)
    return initial, segments


def write_segment(seg: list[dict], out_dir: str) -> None:
    """One WARC-lite segment: each doc as webgen's page bytes, fetched at
    the doc's ``warc_ts``."""
    rows = []
    for d in seg:
        r = webgen.web_page_row(d["doc_id"], d["text"], d["lang"], d["source"])
        rows.append((r["url"], d["warc_ts"].isoformat(), r["lang"], r["html"]))
    write_warclite(rows, out_dir, n_files=4)
