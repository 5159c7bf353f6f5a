"""Per-partition lineage + metrics rows (BASELINE.json: "every partition
writes lineage + metrics rows enabling checkpoint-resume of any stage").

A lineage row = (run_id, stage, partition value, rows, order-insensitive
checksum, wall time, attempted_at). The checksum is a sum of per-row
crc32 over the canonical JSON of the row — computed JVM-side in the same
aggregation that counts rows, so lineage costs one extra expression, not
an extra pass."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _checksum(cols):
    return F.sum(F.crc32(F.to_json(F.struct(*cols)).cast("binary"))).alias("checksum")


def lineage_rows(df: DataFrame, run_id: str, stage: str,
                 part_col, wall_ms: int = 0,
                 input_rows: int | None = None) -> DataFrame:
    """Aggregate one lineage row per partition value of ``part_col``."""
    cols = [F.col(c) for c in df.columns]
    agg = df.groupBy(part_col.cast("string").alias("part")).agg(
        F.count("*").alias("output_rows"), _checksum(cols))
    return agg.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        "part",
        F.lit(input_rows).cast("long").alias("input_rows"),
        "output_rows",
        "checksum",
        F.lit(wall_ms).cast("long").alias("wall_ms"),
        F.current_timestamp().alias("attempted_at"),
    )


class StageTimer:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = int((time.monotonic() - self.t0) * 1000)
        return False
