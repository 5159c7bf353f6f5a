"""Extraction stages X1–X8 (SURVEY.md §2.2): html→text, sentence split,
joint NER + relation inference, triple emission.

Spark-first layout: the only Python on the path is three Arrow-vectorized
stages (extractor pandas_udf, sentence-split pandas_udf, model
mapInPandas); everything else — explode, element_at, slice/concat_ws
surface reconstruction — is built-in Catalyst expressions inside
whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, StringType,
                               StructField, StructType)

from ..functions import text as T

# --- X1: html → text --------------------------------------------------------


@F.pandas_udf(StringType())
def html_to_text_udf(html: pd.Series) -> pd.Series:
    """Vectorized Arrow batch in, per-element stdlib-parser extraction
    inside the batch (string expressions cannot parse HTML; SURVEY.md §2.2
    X1 provenance note). Byte-identity vs the oracle is test T1."""
    return html.map(T.html_to_text)


def extract_text(web_pages: DataFrame) -> DataFrame:
    """web_pages → extracted(url, warc_ts, lang, text, text_sha, n_chars).

    ``text_sha`` (sha2 over the utf-8 text, computed JVM-side) is the
    per-url byte-identity witness recorded in lineage and goldens.
    """
    return (
        web_pages
        .withColumn("text", html_to_text_udf(F.col("html")))
        .select(
            "url", "warc_ts", "lang", "text",
            F.sha2(F.col("text").cast("binary"), 256).alias("text_sha"),
            F.length("text").cast("int").alias("n_chars"),
        )
    )


def lang_filter(extracted: DataFrame, lang: str = "en") -> DataFrame:
    """X2 — trivially pushed down by Catalyst when applied before wide ops."""
    return extracted.filter(F.col("lang") == lang)


# --- X3/X4: sentence split + tokenize --------------------------------------

SENT_STRUCT = StructType([
    StructField("sent_id", IntegerType(), False),
    StructField("char_start", IntegerType(), False),
    StructField("char_end", IntegerType(), False),
    StructField("tokens", ArrayType(StringType(), False), False),
])


@F.pandas_udf(ArrayType(SENT_STRUCT))
def sentences_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: T.sentences(t) if t else [])


def split_sentences(extracted: DataFrame) -> DataFrame:
    """extracted → sentences(url, sent_id, char_start, char_end, tokens).
    Deterministic segmentation + chunking to SENT_MAX_TOKENS, exploded to
    one row per sentence (built-in generator, no lateral Python)."""
    return (
        extracted
        .select("url", F.explode(sentences_udf(F.col("text"))).alias("s"))
        .select(
            "url",
            F.col("s.sent_id").alias("sent_id"),
            F.col("s.char_start").alias("char_start"),
            F.col("s.char_end").alias("char_end"),
            F.col("s.tokens").alias("tokens"),
        )
    )


# --- X5–X7: joint model inference ------------------------------------------

MENTION_STRUCT = StructType([
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("label", StringType(), False),
    StructField("score", DoubleType(), False),
])
RELATION_STRUCT = StructType([
    StructField("head", IntegerType(), False),
    StructField("tail", IntegerType(), False),
    StructField("pred", StringType(), False),
    StructField("score", DoubleType(), False),
])

INFERRED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("sent_id", IntegerType(), False),
    StructField("tokens", ArrayType(StringType(), False), False),
    StructField("mentions", ArrayType(MENTION_STRUCT), False),
    StructField("relations", ArrayType(RELATION_STRUCT), False),
])


def _infer_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Model pass over Arrow batches carrying a ``tokens`` column: the
    input columns pass through and ``mentions`` / ``relations`` are
    appended in place (no per-batch frame copy)."""
    # iterator-of-batches: frozen weights materialize once per python worker
    from ..functions import model as M

    M.weights()
    for pdf in batches:
        ments, rels = [], []
        # one fixed-shape batched pass over the whole Arrow batch
        # (functions/model.py extract_batch — results are invariant to how
        # rows are grouped into batches, so any partitioning reproduces the
        # single-process oracle bitwise)
        for spans, pairs in M.extract_batch(list(pdf["tokens"])):
            ments.append(
                [{"start": int(s), "end": int(e), "label": lab, "score": sc}
                 for s, e, lab, sc in spans])
            rels.append(
                [{"head": int(h), "tail": int(t), "pred": p, "score": sc}
                 for h, t, p, sc in pairs])
        pdf["mentions"] = ments
        pdf["relations"] = rels
        yield pdf


INFERRED_DISTINCT_SCHEMA = StructType([
    StructField("tokens", ArrayType(StringType(), False), False),
    StructField("mentions", ArrayType(MENTION_STRUCT), False),
    StructField("relations", ArrayType(RELATION_STRUCT), False),
])


def len_bucket(tokens: Column) -> Column:
    """The model's length bucket of a token array: the smallest
    ``model.LEN_BUCKETS`` bound >= its size, the largest bound past it
    (``model._bucket_len``; the kernel truncates longer sentences). The
    literals are the bucket bounds only, so the generated code is the
    same for every input."""
    from ..functions import model as M

    size = F.size(tokens)
    bucket = F.when(size <= M.LEN_BUCKETS[0], M.LEN_BUCKETS[0])
    for b in M.LEN_BUCKETS[1:-1]:
        bucket = bucket.when(size <= b, b)
    return bucket.otherwise(M.LEN_BUCKETS[-1])


def model_input(distinct: DataFrame, rows: int, cap: int) -> DataFrame:
    """Layout of the model stage's input ``distinct`` (a ``tokens``
    column, ``rows`` rows): range-partitioned on (length bucket,
    xxhash64(tokens)) into at most ``cap`` partitions of a whole number
    of BATCH_ROWS chunks each: ceil(rows / BATCH_ROWS) partitions of one
    chunk while that fits under ``cap``, else the fewest chunks per
    partition that do.

    The kernel pads every length bucket of every Arrow batch to whole
    chunks, so a partition costs the chunks of the buckets it holds.
    Sorted by bucket, each bucket spans a run of neighbouring partitions,
    so the layout computes at most sum_b ceil(rows_b / BATCH_ROWS) + n - 1
    chunks; hash-spreading the same rows pads every bucket in every
    partition.

    The range exchange is REPARTITION_BY_NUM, whose width AQE keeps; an
    exchange AQE may coalesce by bytes ran the whole model stage as one
    7 s task (the rows are ~100 bytes but ~0.7 ms of model CPU each).
    """
    from ..functions import model as M

    per_part = max(-(-rows // (cap * M.BATCH_ROWS)), 1) * M.BATCH_ROWS
    n = max(-(-rows // per_part), 1)
    return distinct.repartitionByRange(
        n, len_bucket(F.col("tokens")), F.xxhash64("tokens"))


def infer_distinct(sentences: DataFrame,
                   num_partitions: int | None = None) -> DataFrame:
    """THE expensive stage: model inference over the DISTINCT token
    sequences of the sentence stream → (tokens, mentions, relations).

    The distinct tokens are checkpointed eagerly, with an Observation
    that counts their rows in the same job; that count sizes the model
    input (:func:`model_input`, at most ``num_partitions`` partitions,
    default 2 x defaultParallelism), and the range exchange samples the
    checkpoint, never the sentence lineage.

    The result is dictionary-sized relative to the stream (web text
    repeats boilerplate sentences heavily) and localCheckpointed, so
    every consumer (the stream join-back in infer(), surface extraction,
    multiple queries) reuses one model pass. ``localCheckpoint(eager=False)``
    is not free under AQE: the call runs every shuffle stage of the plan
    (here the range sample and the model input's shuffle), and only the
    final model stage waits for the first action.
    """
    cap = num_partitions or 2 * sentences.sparkSession.sparkContext.defaultParallelism
    rows = Observation()
    distinct = (sentences.select("tokens").dropDuplicates(["tokens"])
                .observe(rows, F.count(F.lit(1)).alias("rows"))
                .localCheckpoint(eager=True))
    return model_input(distinct, rows.get["rows"], cap).mapInPandas(
        _infer_batches,
        schema=INFERRED_DISTINCT_SCHEMA).localCheckpoint(eager=False)


def mention_surfaces(inferred_distinct: DataFrame) -> DataFrame:
    """DISTINCT raw mention surfaces, computed from the distinct-sentence
    inference table: identical to distinct(surface) over the full mention
    stream (every stream sentence is a replica of a distinct one), but
    touches |distinct sentences| x mentions rows instead of the corpus."""
    m = inferred_distinct.select("tokens", F.explode("mentions").alias("m"))
    return m.select(
        _surface(F.col("tokens"), F.col("m.start"), F.col("m.end"))
        .alias("surface")).distinct()


def infer(sentences: DataFrame, num_partitions: int | None = None,
          dedup: bool = True,
          inferred_distinct: DataFrame | None = None) -> DataFrame:
    """sentences → inferred: one model pass per sentence emitting both the
    NER mentions and the biaffine relation pairs (X5+X6+X7 fused — one
    Arrow crossing, encoder runs once; SURVEY.md §2.5 iterator UDF).

    dedup=True (default) runs the model once per DISTINCT token sequence
    and equi-joins the results back onto the sentence stream. The model is
    deterministic per sentence, so the output is identical either way
    (parity-tested); on web corpora this is the standard
    dedup-before-expensive-inference pattern — Common-Crawl-scale text
    repeats boilerplate sentences heavily, and the distinct() +join costs
    two shuffles of (tokens, arrays) rows against a >=2x (often 10x+)
    reduction of the dominant model stage. The join key is the tokens
    array itself (exact — no hash-collision risk).

    The model input is rebalanced before the UDF: inference is ~10^3x
    heavier per row than the shuffle, and upstream explode/distinct leaves
    partition skew that would serialize the expensive stage (the standard
    rebalance-before-expensive-UDF pattern).
    """
    n = num_partitions or 2 * sentences.sparkSession.sparkContext.defaultParallelism
    sel = sentences.select("url", "sent_id", "tokens")
    if not dedup:
        return (sel.repartition(n, F.col("url"), F.col("sent_id"))
                .mapInPandas(_infer_batches, schema=INFERRED_SCHEMA))
    if inferred_distinct is None:
        inferred_distinct = infer_distinct(sentences, num_partitions)
    # join on (xxhash64(tokens), tokens): the long key leads the shuffle /
    # sort-merge ordering, so when the distinct side outgrows broadcast
    # range the SMJ sorts by a cheap long instead of interpreted
    # array<string> comparisons (measured: array-keyed SMJ crawls at high
    # replication); the tokens equi-condition keeps the join EXACT —
    # a hash collision can never produce a wrong match.
    sel_k = sel.withColumn("__tkey", F.xxhash64("tokens"))
    inf_k = inferred_distinct.withColumn("__tkey", F.xxhash64("tokens"))
    return sel_k.join(inf_k, ["__tkey", "tokens"]).select(
        "url", "sent_id", "tokens", "mentions", "relations")


# --- X6/X8 projections (pure built-ins) ------------------------------------


def _surface(tokens, start, end):
    return F.concat_ws(" ", F.slice(tokens, start + F.lit(1), end - start))


def mentions(inferred: DataFrame) -> DataFrame:
    """inferred → mentions(url, sent_id, m_id, start, end, label, surface,
    score); m_id is the position in the sentence's mention list."""
    m = inferred.select(
        "url", "sent_id", "tokens",
        F.posexplode("mentions").alias("m_id", "m"),
    )
    return m.select(
        "url", "sent_id", "m_id",
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.label").alias("label"),
        _surface(F.col("tokens"), F.col("m.start"), F.col("m.end")).alias("surface"),
        F.col("m.score").alias("score"),
    )


def triples_raw(inferred: DataFrame) -> DataFrame:
    """inferred → triples_raw with subject/object surfaces resolved via
    element_at into the mention array (no join, no shuffle)."""
    r = inferred.select(
        "url", "sent_id", "tokens", "mentions",
        F.explode("relations").alias("rel"),
    )
    subj = F.element_at("mentions", F.col("rel.head") + 1)
    obj = F.element_at("mentions", F.col("rel.tail") + 1)
    return r.select(
        "url", "sent_id",
        F.col("rel.head").alias("subj_m"),
        F.col("rel.tail").alias("obj_m"),
        _surface(F.col("tokens"), subj["start"], subj["end"]).alias("subj_surface"),
        subj["label"].alias("subj_label"),
        F.col("rel.pred").alias("pred"),
        _surface(F.col("tokens"), obj["start"], obj["end"]).alias("obj_surface"),
        obj["label"].alias("obj_label"),
        F.col("rel.score").alias("score"),
    )
