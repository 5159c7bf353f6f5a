"""Reference outputs, computed single-process and cached per seed.

KG rows come from the ``oracle/pipeline_local.py`` functions run on the
same generated pages: extract → split → infer → link → canonicalize,
then ``materialize`` over every unit folded so far. The model runs once
per distinct token sequence (it is deterministic per sentence, so the
rows equal a run over every sentence). Exact near-dup pairs come from
the package's SQL oracles, run in DuckDB on the generated documents.
"""

from __future__ import annotations

import os
import pickle

import pandas as pd

from joint_entity_and_relation_extraction_spark.functions import aliasgen as AG
from joint_entity_and_relation_extraction_spark.functions import webgen
from oracle import pipeline_local as O


def cached(path: str, build):
    """pickle-backed cache of a value this benchmark computed itself."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value


def alias_rows(texts) -> list[dict]:
    """The rows ``linking.alias_dict`` builds from a documents table."""
    return AG.build_alias_rows(AG.token_counts_from_texts(texts))


def pages_frame(docs: list[dict]) -> pd.DataFrame:
    rows = [webgen.web_page_row(d["doc_id"], d["text"], d["lang"], d["source"])
            for d in docs]
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def _sentences(docs: list[dict]) -> pd.DataFrame:
    """The oracle's sentence table of the pages the chain keeps (en)."""
    ext = O.extract_text(pages_frame(docs))
    return O.split_sentences(ext[ext["lang"] == "en"])


def distinct_sentences(docs: list[dict]) -> list[list[str]]:
    return list(map(list, dict.fromkeys(_sentences(docs)["tokens"].map(tuple))))


def kg_canonical(docs: list[dict], aliases: list[dict]) -> pd.DataFrame:
    """Oracle canonical triple rows (url, sent_id, subj, pred, obj, ...)
    for one unit of pages."""
    sents = _sentences(docs)
    key = sents["tokens"].map(tuple)
    reps = sents[~key.duplicated()].copy()
    reps["url"], reps["sent_id"] = key[~key.duplicated()].values, 0
    rep_mentions, rep_triples = O.infer(reps)
    # fan each distinct sentence's rows back out to every (url, sent_id)
    # that carries it
    fan = pd.DataFrame({"key": key.values, "url": sents["url"].values,
                        "sent_id": sents["sent_id"].values})

    def expand(rows: pd.DataFrame) -> pd.DataFrame:
        rows = rows.rename(columns={"url": "key"}).drop(columns="sent_id")
        return fan.merge(rows, on="key").drop(columns="key")

    links = O.link(expand(rep_mentions), aliases)
    return O.canonicalize(links, expand(rep_triples))


def kg_table(units: list[pd.DataFrame]) -> dict[tuple, tuple]:
    """(subj, pred, obj) → (evidence_count, n_sources) over the units."""
    g = O.materialize(pd.concat(units, ignore_index=True))
    return {(int(r.subj), r.pred, int(r.obj)):
            (int(r.evidence_count), int(r.n_sources))
            for r in g.itertuples(index=False)}


def duckdb_rows(documents_path: str, sql: str) -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{documents_path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()
