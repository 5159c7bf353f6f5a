"""Parquet source helpers over the driver-provided testdata tables.

SURVEY.md §2.1 SRC1/SRC3. Reads are plain ``spark.read.parquet`` so Catalyst
gets native predicate pushdown / column pruning / row-group skipping on the
scan (verified via .explain PushedFilters/ReadSchema in tests).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """SRC1: columnar parquet scan of a testdata table."""
    return spark.read.parquet(table_path(sf_dir, name))


def read_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` scan repartitioned by doc_id to cluster width.

    The testdata parquet is 1-2 files, so a bare scan runs every
    downstream expression/UDF stage at FILE-granular parallelism — the
    shingle/signature stages of the dedup family were measured running
    on one core of 32 at bench scale (9s for a 0.4s-parallel explode).
    The same invariant as "repartition before Arrow stages" (CLAUDE.md),
    applied to expression-heavy JVM stages; the shuffle moves only the
    narrow projected columns and is noise next to the stage it
    parallelizes. Use for operators whose per-row work is non-trivial
    (shingling, hashing, LM joins); plain map-only scans keep the bare
    read_table."""
    d = read_table(spark, sf_dir, "documents")
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id")


def read_json_lines(spark: SparkSession, path: str, schema) -> DataFrame:
    """SRC3: schema-required JSON-lines source (no schema inference on the
    hot path — SURVEY.md §1.2)."""
    return spark.read.schema(schema).json(path)
