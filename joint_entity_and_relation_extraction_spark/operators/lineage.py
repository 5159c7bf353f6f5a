"""Per-partition lineage + metrics rows (BASELINE.json: "every partition
writes lineage + metrics rows enabling checkpoint-resume of any stage").

A lineage row = (run_id, stage, partition value, rows, order-insensitive
checksum, wall time, attempted_at). The checksum is a sum of per-row
crc32 over the canonical JSON of the row, computed JVM-side in the same
aggregation that counts rows. That aggregation is its own pass: callers
run it over the committed table re-read after the write, not over the
write's input. ``input_rows`` is always null; the column keeps the
lineage table's schema stable. The per-run values (wall time,
attempted_at) come in as a one-row relation, not as literals: a numeric
or timestamp literal is inlined into the generated Java source, so each
run would compile new classes (CLAUDE.md codegen-cache invariant)."""

from __future__ import annotations

import time
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

_RUN_SCHEMA = StructType([StructField("wall_ms", LongType(), False),
                          StructField("attempted_at", TimestampType(), False)])


def _checksum(cols):
    return F.sum(F.crc32(F.to_json(F.struct(*cols)).cast("binary"))).alias("checksum")


def lineage_rows(df: DataFrame, run_id: str, stage: str,
                 part_col, wall_ms: int = 0) -> DataFrame:
    """Aggregate one lineage row per partition value of ``part_col``."""
    cols = [F.col(c) for c in df.columns]
    agg = df.groupBy(part_col.cast("string").alias("part")).agg(
        F.count("*").alias("output_rows"), _checksum(cols))
    run = df.sparkSession.createDataFrame([(wall_ms, datetime.now())],
                                          _RUN_SCHEMA)
    return agg.crossJoin(run).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        "part",
        F.lit(None).cast("long").alias("input_rows"),
        "output_rows",
        "checksum",
        "wall_ms",
        "attempted_at",
    )


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
