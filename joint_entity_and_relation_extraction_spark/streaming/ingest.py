"""Incremental page ingest via Structured Streaming (SURVEY.md §2.6).

The reference is batch-only research code [PK-H]; these operators exist
because the engine ingests Common-Crawl-style pages incrementally. All run
over the same web_pages schema; the batch extraction operators are reused
unchanged inside foreachBatch (micro-batch = small batch), which is what
makes the sink exactly-once: the checkpointLocation dedups replayed
batches across clean restarts, and each micro-batch commit carries an
idempotency tag in the IcebergLite manifest so a replay that raced a
crash between commit and checkpoint is skipped, not re-appended.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extract as X
from ..operators.webpages import WEB_PAGES_SCHEMA
from ..sources import iceberglite as il


class MicroBatchMetricsListener:
    """StreamingQueryListener capturing per-micro-batch lineage: input
    rows, processed rates, and state-store drop counts (late data beyond
    the watermark) — the streaming analogue of the batch lineage rows
    (SURVEY.md §2.6 'late data' note). Rows accumulate in-memory and are
    flushed to the lineage table by the caller."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                dropped = 0
                for op in p.stateOperators:
                    dropped += getattr(op, "numRowsDroppedByWatermark", 0) or 0
                rows.append({
                    "query_id": str(p.id), "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "dropped_late_rows": int(dropped),
                    "timestamp": p.timestamp,
                })

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self.listener = _L()

    def attach(self, spark: SparkSession) -> "MicroBatchMetricsListener":
        spark.streams.addListener(self.listener)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self.listener)


def read_page_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """SRC4: file-source stream over parquet chunk drops (schema required —
    no streaming inference)."""
    return (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def windowed_lang_counts(pages: DataFrame, window: str = "10 minutes",
                         watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per lang; late rows beyond the watermark
    are dropped by the state store."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("w_start"),
                F.col("w.end").alias("w_end"), "lang", "n_pages")
    )


def session_windows(pages: DataFrame, gap: str = "30 minutes") -> DataFrame:
    domain = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.withWatermark("warc_ts", "1 hour")
        .groupBy(F.session_window("warc_ts", gap).alias("w"),
                 domain.alias("domain"))
        .agg(F.count("*").alias("n_pages"))
        .select(F.col("w.start").alias("s_start"),
                F.col("w.end").alias("s_end"), "domain", "n_pages")
    )


def dedup_recrawls(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful dedup of re-crawled urls within the watermark horizon."""
    return pages.withWatermark("warc_ts", watermark) \
        .dropDuplicatesWithinWatermark(["url"])


def stream_static_enrich(pages: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast join (alias-dict-style side input)."""
    return pages.join(F.broadcast(dim), "lang", "left")


def recrawl_interval_join(crawls: DataFrame, recrawls: DataFrame,
                          horizon: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """STREAM-STREAM interval join: pair each crawl with re-crawls of the
    same url landing within ``horizon`` AFTER it. Both sides carry a
    watermark and the join condition bounds event time in BOTH
    directions — exactly what Spark's state store needs to evict
    buffered rows (an unbounded condition would grow join state
    forever; with the bound, each side's state is
    O(rate x (watermark + horizon))). Equality with the equivalent
    batch self-join when no row is late is pytest-pinned
    (tests/test_streaming.py)."""
    a = (crawls.withWatermark("warc_ts", watermark)
         .select(F.col("url").alias("a_url"),
                 F.col("warc_ts").alias("a_ts"),
                 F.col("lang").alias("a_lang")))
    b = (recrawls.withWatermark("warc_ts", watermark)
         .select(F.col("url").alias("b_url"),
                 F.col("warc_ts").alias("b_ts")))
    return (a.join(
        b, (F.col("a_url") == F.col("b_url"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"interval {horizon}")))
        .select(F.col("a_url").alias("url"), "a_lang", "a_ts", "b_ts"))


def batch_extract_handler(table_root: str):
    """The foreachBatch body of SNK3, exposed for direct testing.

    Exactly-once end-to-end: the checkpoint dedups batches on CLEAN
    restart, and the IcebergLite commit tag makes the append itself
    idempotent for the crash-between-commit-and-checkpoint replay — a
    batch_id whose tag is already in the table manifest is skipped, so
    re-running the same (batch_df, batch_id) never double-appends."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"batch-{batch_id}"
        if tag in il.committed_tags(table_root):
            return  # replayed after a crash past the commit — already in
        ext = X.extract_text(batch_df)
        if ext.isEmpty():
            return
        il.append(ext.withColumn("batch_id", F.lit(batch_id)),
                  table_root, ["lang"], tag=tag)

    return handle


def extract_to_iceberg(pages: DataFrame, table_root: str,
                       checkpoint_dir: str):
    """SNK3: foreachBatch → batch extractor → tagged idempotent IcebergLite
    append per micro-batch (see batch_extract_handler)."""
    return (
        pages.writeStream.foreachBatch(batch_extract_handler(table_root))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def dedup_index_handler(index_root: str, docs_root: str, pairs_root: str,
                        n: int = 2, threshold: float = 0.2,
                        labels_root: str | None = None):
    """foreachBatch body of the CONTINUOUS incremental-dedup sink: each
    micro-batch signatures only its own documents, probes the persisted
    band index for near-dup candidates against everything ingested so
    far, exact-verifies them, then appends its own band rows / docs /
    pairs — the 100 TB ingest shape where the corpus is never
    re-signatured (operators/dedup.py band_index notes).

    Three IcebergLite tables: ``index`` (doc_id, band, key — partitioned
    by band so probes prune at the manifest), ``docs`` (doc_id, text —
    the verify side), ``pairs`` (d1, d2, jaccard). Crash-replay safe by
    VALUE idempotency plus tags: every append carries the batch tag and
    is skipped if already committed; a replay that finds its own bands
    already in the index computes the identical pair set (the candidate
    join unions old and new bands anyway, and d1<d2 dedup removes
    self-collisions), so partial-crash replays converge instead of
    double-counting. Each pair is emitted exactly once — in the batch
    that ingests its LATER document."""
    from ..operators.dedup import (band_candidates, band_index,
                                   jaccard_verified)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"dedup-{batch_id}"
        new_docs = (batch_df
                    .select(F.xxhash64("url").alias("doc_id"), "text")
                    .dropDuplicates(["doc_id"]))
        spark = batch_df.sparkSession
        if il.exists(docs_root):
            # a url re-delivered in a LATER micro-batch (at-least-once
            # sources do this) is already in the corpus: without this
            # anti-join its doc row would append again, its band rows
            # would double in the index, and every pair it belongs to
            # would re-emit — breaking the "each pair exactly once"
            # contract (ADVICE r04). The anti-join key is the doc_id the
            # corpus is keyed by; the probe side is the manifest-pruned
            # id projection, not the text column.
            new_docs = new_docs.join(
                il.read(spark, docs_root).select("doc_id"),
                "doc_id", "left_anti")
        if new_docs.isEmpty():
            # crash-replay of THIS batch (ADVICE r05): docs_root is
            # appended last, so a crash after the docs commit but before
            # _fold_labels' merge makes the replay see every batch doc as
            # already ingested — an unconditional return here would skip
            # that batch's cluster-label merges forever (pairs and labels
            # silently diverge). The batch's pairs are already persisted
            # (pairs commit FIRST, and an empty pair set is never tagged
            # = nothing to fold), and folding is value-idempotent, so
            # re-folding them is safe whether or not the original fold
            # ran. A batch that is merely all re-delivered urls from
            # EARLIER batches never has its own tag in pairs_root and
            # still returns without work.
            if labels_root is not None and il.exists(pairs_root) \
                    and tag in il.committed_tags(pairs_root):
                replay_pairs = (il.read(spark, pairs_root)
                                .filter(F.col("batch_id") == batch_id)
                                .select("d1", "d2", "jaccard"))
                _fold_labels(spark, replay_pairs, labels_root)
            return
        new_bands = band_index(new_docs, n).localCheckpoint(eager=False)
        old_bands = (il.read(spark, index_root) if il.exists(index_root)
                     else spark.createDataFrame(
                         [], "doc_id long, band int, key long"))
        probe = old_bands.select("doc_id", "band", "key").union(
            new_bands.select("doc_id", "band", "key"))
        corpus = (il.read(spark, docs_root).select("doc_id", "text")
                  if il.exists(docs_root) else new_docs.limit(0))
        # the verify reaches the corpus through a semi-join on the
        # candidate ids, so each micro-batch shingles candidate docs only
        pairs = jaccard_verified(
            band_candidates(new_bands, probe),
            corpus.union(new_docs).dropDuplicates(["doc_id"]), n, threshold)
        # pairs first (guarded), then the corpus-state tables: a crash at
        # any point replays into the same values, tags skip re-appends
        for root, df, part in ((pairs_root, pairs, []),
                               (index_root, new_bands, ["band"]),
                               (docs_root, new_docs, [])):
            if tag not in il.committed_tags(root) and not df.isEmpty():
                il.append(df.withColumn("batch_id", F.lit(batch_id)),
                          root, part, tag=tag)
        if labels_root is not None:
            _fold_labels(spark, pairs, labels_root)

    return handle


def _fold_labels(spark: SparkSession, pairs: DataFrame,
                 labels_root: str) -> None:
    """CONTINUOUS cluster maintenance: fold the micro-batch's verified
    pair set into the persisted (doc_id, cluster_id) table via
    operators.dedup.merge_cluster_labels (CC on the batch-sized label
    graph, relabel only merged clusters), then MERGE INTO on doc_id —
    only changed/new rows upsert, so a batch that merges nothing
    rewrites nothing. Folding is value-idempotent (re-folding the same
    pairs changes no labels), so crash-replay needs no tag."""
    from ..operators.dedup import merge_cluster_labels

    cur = (il.read(spark, labels_root).select("doc_id", "cluster_id")
           if il.exists(labels_root)
           else spark.createDataFrame([], "doc_id long, cluster_id long"))
    folded = merge_cluster_labels(cur, pairs.select("d1", "d2"))
    changed = folded.join(cur, ["doc_id", "cluster_id"], "left_anti")
    if not changed.isEmpty():
        if il.exists(labels_root):
            il.merge_upsert(spark, changed, labels_root, ["doc_id"])
        else:  # first batch with pairs bootstraps the table
            il.append(changed, labels_root, [])


def dedup_stream(pages: DataFrame, index_root: str, docs_root: str,
                 pairs_root: str, checkpoint_dir: str, n: int = 2,
                 threshold: float = 0.2, labels_root: str | None = None):
    """Continuous incremental dedup: stream → foreachBatch probe+append
    against the persisted band index (see :func:`dedup_index_handler`);
    with ``labels_root``, also maintains the cluster table per batch."""
    return (
        pages.writeStream.foreachBatch(
            dedup_index_handler(index_root, docs_root, pairs_root,
                                n=n, threshold=threshold,
                                labels_root=labels_root))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def stateful_domain_sessions(pages: DataFrame, gap: str = "10 minutes",
                             watermark: str = "20 minutes") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (task brief:
    "applyInPandasWithState for custom stateful operators"): a per-domain
    crawl-session accumulator that session_window cannot express — gap
    sessionization with live snapshots: sessions closed by a later
    event's gap are emitted (closed=true) in the batch that observes the
    gap; the open tail session is held in state, emitted as a RUNNING
    snapshot row per micro-batch (closed=false), and finalized via
    event-time timeout when the watermark passes its end + gap.

    State per domain: (n_pages, langs, session_start_us, session_end_us);
    arbitrary python accumulation over each micro-batch's pandas frame —
    the pattern generalizes to any custom per-key streaming aggregate
    (dedup caches, rate trackers, incremental sketches).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (ArrayType, BooleanType, LongType,
                                   StringType, StructField, StructType,
                                   TimestampType)

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    out_t = StructType([
        StructField("domain", StringType()),
        StructField("n_pages", LongType()),
        StructField("n_langs", LongType()),
        StructField("s_start", TimestampType()),
        StructField("s_end", TimestampType()),
        StructField("closed", BooleanType()),
    ])
    state_t = StructType([
        StructField("n", LongType()),
        StructField("langs", ArrayType(StringType())),
        StructField("s0_us", LongType()),
        StructField("s1_us", LongType()),
    ])

    gap_us = gap_ms * 1000

    def _row(key, n, langs, s0_us, s1_us, closed):
        return pd.DataFrame({
            "domain": [key], "n_pages": [n],
            "n_langs": [len(set(langs))],
            "s_start": [pd.Timestamp(s0_us, unit="us")],
            "s_end": [pd.Timestamp(s1_us, unit="us")],
            "closed": [closed],
        })

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            # the open tail session idled past gap (event-time watermark)
            n, langs, s0, s1 = state.get
            state.remove()
            yield _row(key[0], n, list(langs), s0, s1, True)
            return
        # gather this batch's (ts, lang) pairs; seed with the open session
        pairs = []
        for pdf in pdfs:
            if len(pdf):
                ts_us = pdf["warc_ts"].astype("int64") // 1000  # ns -> us
                pairs.extend(zip(ts_us.tolist(), pdf["lang"].tolist()))
        pairs.sort()
        if state.exists:
            n, langs, s0, s1 = state.get
            langs = list(langs)
        else:
            first_ts, first_lang = pairs[0]
            n, langs, s0, s1 = 1, [first_lang], first_ts, first_ts
            pairs = pairs[1:]
        # split WITHIN the batch on the event-time gap (micro-batches
        # deliver several events per key at once; a pure timeout design
        # would merge them all). Rows are processed in event-time order;
        # sessions closed by a later row's gap are emitted immediately,
        # only the open tail session stays in state.
        for ts, lang in pairs:
            if ts - s1 > gap_us:
                yield _row(key[0], n, langs, s0, s1, True)
                n, langs, s0, s1 = 1, [lang], ts, ts
            else:
                n += 1
                langs.append(lang)
                s1 = max(s1, ts)
        state.update((n, sorted(set(langs)), s0, s1))
        # close the tail once the watermark passes end + gap (clamped
        # above the current watermark — setTimeoutTimestamp rejects past)
        timeout_ms = max(s1 // 1000 + gap_ms,
                         state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(timeout_ms)
        yield _row(key[0], n, langs, s0, s1, False)

    # applyInPandasWithState needs a real grouping COLUMN, not an aliased
    # expression (unresolved-column error otherwise)
    domain = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.withColumn("domain", domain)
        .withWatermark("warc_ts", watermark)
        .groupBy("domain")
        .applyInPandasWithState(
            fn, outputStructType=out_t, stateStructType=state_t,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout)
    )


def tws_domain_stats(pages: DataFrame) -> DataFrame:
    """Per-domain running crawl totals via ``transformWithStateInPandas``
    (Spark 4's arbitrary-stateful API — explicit named state variables on
    a StatefulProcessor, successor to applyInPandasWithState; closes the
    last row of the stateful API surface next to
    :func:`stateful_domain_sessions`).

    State: one ValueState ``agg`` = (n_pages, langs). Each micro-batch
    folds its rows into the state and emits a RUNNING snapshot row —
    the incremental per-key aggregate pattern (crawl budgets, per-domain
    rate trackers) where the state schema is declared, not smuggled
    through a tuple convention.

    SANDBOX LIMITATION: executing this operator needs ``google.protobuf``
    (the TWS driver-worker protocol dep), which this container lacks and
    cannot install (SURVEY.md §0.4) — the query-build path is exercised
    unconditionally and the end-to-end test runs wherever protobuf
    exists (tests/test_streaming.py gates on the import).
    applyInPandasWithState (:func:`stateful_domain_sessions`) is the
    fully-tested stateful path in this sandbox.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)

    out_t = StructType([
        StructField("domain", StringType()),
        StructField("n_pages", LongType()),
        StructField("n_langs", LongType()),
    ])
    state_t = StructType([
        StructField("n", LongType()),
        StructField("langs", ArrayType(StringType())),
    ])

    class DomainStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_t)

        def handleInputRows(self, key, rows, timerValues):
            n, langs = (self._agg.get() if self._agg.exists()
                        else (0, []))
            langs = set(langs)
            for pdf in rows:
                n += len(pdf)
                langs |= set(pdf["lang"].dropna().tolist())
            self._agg.update((n, sorted(langs)))
            yield pd.DataFrame({"domain": [key[0]], "n_pages": [n],
                                "n_langs": [len(langs)]})

        def close(self) -> None:
            pass

    domain = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.withColumn("domain", domain)
        .groupBy("domain")
        .transformWithStateInPandas(
            statefulProcessor=DomainStats(),
            outputStructType=out_t, outputMode="Update", timeMode="None")
    )
