"""SparkSession factory with the engine's scale-oriented defaults.

Single place where execution knobs live so bench/tests/jobs agree
(SURVEY.md §4). On a real cluster the same builder is used under
spark-submit — master comes from the environment then.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory (or zip archive) this package is imported from
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    master: str | None = None,
    app_name: str = "jers-kg",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    cores = _master_cores(master)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow is the JVM↔Python boundary for every UDF stage
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # model stage batch economics (SURVEY.md §4.3): ~1k sentences/batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # AQE: runtime coalesce + skew-join split (hot domains/entities)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): our intermediate
        # tables are small in bytes but CPU-heavy per row (windows, LSH
        # joins) — size-based coalescing serialized them (measured)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # minPartitionSize floor 1MB -> 16k: parallelismFirst targets
        # defaultParallelism partitions, but the 1MB floor overrides it
        # for our byte-tiny / CPU-heavy dictionary stages (surface
        # resolution, LSH verify) and coalesced them to ONE task (event-log
        # measured: 1.8s single-task stages inside resolve); worse, a
        # localCheckpoint downstream freezes that serial layout. 16k keeps
        # those stages at ~defaultParallelism while leaving byte-heavy
        # shuffles governed by the advisory size as before.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # InferFiltersFromGenerate + predicate pushdown TRIPLES the
        # evaluation of every computed array that feeds an explode: the
        # inferred `size(e) > 0 AND isnotnull(e)` guard is substituted
        # with the full generator expression and pushed below the
        # repartition — so the shingle/gram/bigram projections ran 3x
        # per doc, at FILE-granular parallelism (the testdata parquet is
        # 1-2 files). Measured r08 (sf0.1, noop sink; OPTIMIZATION_r08.md
        # §9): the ngram shingle explode alone 2.28s -> 0.28s once the
        # guard is gone.
        # The filters are semantically redundant for explode/posexplode
        # (a generator emits nothing for null/empty input), so results
        # are bit-identical; the rule only helps when the generator
        # child is a cheap column whose emptiness prunes other work —
        # never our shape (the expression IS the work).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # shuffle width: ~2x cores locally; AQE coalesces down
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cores))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # TIMESTAMP_MICROS, not the INT96 default: INT96 pages carry NO
        # parquet min/max statistics, which silently disables IcebergLite
        # unit-stats range skipping on every timestamp column
        # (first_seen/warc_ts bounds — verified in-sandbox: INT96 footer
        # stats are None); micros is also the type real Iceberg mandates
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # whole-stage codegen keeps its Janino-compiled classes in one
        # JVM-wide LRU cache of 100 entries by default. The engine's plan
        # vocabulary is larger: one kg_recrawl_merge unit compiles ~145
        # classes (~25 more the first time it merges into an existing
        # table), one near-dup round ~115, one kg_stages pass on sf0.001
        # 105. At 100 every unit evicted the classes the next one needed,
        # so each unit recompiled all of them (~15 ms of Janino each) and
        # the JIT then recompiled the new classes to machine code: 8-13 of
        # a unit's 18-25 JVM core-s went to C1/C2 (local[4]). With 1000,
        # repeated units and passes compile 0 classes. Static conf, read
        # once when the cache is first built, so it must be set here,
        # before the session's first query.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # python workers: keep numpy single-threaded (parallelism = partitions)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # Python workers fork from worker_daemon, not pyspark.daemon: Spark
        # puts pyspark.zip, the py4j zip and the spark-core jar first on
        # every worker's path, so workers compiled pyspark from the zip and
        # every task's importlib.invalidate_caches() re-read the zips'
        # directories in pure Python through 16 zipimporters — 115-315 ms
        # of CPU per task (51% of sampled worker time, import machinery
        # another 40%, the model 7%; kg_recrawl_merge at local[4]). The
        # daemon drops the archives when site-packages holds the same
        # pyspark/py4j: invalidate_caches() then costs 0.0-0.1 ms, and
        # worker CPU per KG unit fell from ~10 to ~3 core-s. It must be
        # importable when the daemon starts, before any --py-files are
        # shipped, so the package's parent (a directory, or jers.zip
        # under spark-submit) goes first on the workers' PYTHONPATH.
        # Local masters only: cluster executors cannot see this path.
        b = b.config("spark.python.daemon.module",
                     f"{__package__}.worker_daemon")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_PACKAGE_PARENT,
                        conf.get("spark.executorEnv.PYTHONPATH")) if p)
    b = b.master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _master_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local["):-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
