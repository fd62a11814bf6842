"""Scan-parallelism guard (optimization guide §2.5, "input skew").

The driver's testdata tables are single-file, single-row-group parquet — a
layout Spark cannot split, so every scan-stage computation (tokenize /
shingle / hash / map-side partial aggregation) runs on ONE core no matter
how many the session has. ``fan_out`` round-robin-repartitions a frame ONLY
when its current plan would run on fewer partitions than the session's
default parallelism; on a production table that is already split into
enough files/row groups it is a no-op, so it never adds a shuffle at
100 TB scale (the guard is derived from the session, never a constant).

Round-robin (keyless) repartition is used deliberately: there is no key to
preserve, row-count balance is what the compute-heavy map stage needs, and
Spark's sort-before-repartition keeps the row→partition assignment stable
under task retries (SPARK-23207).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# slices per core: the uneven per-row costs of text operators get more
# than one wave to balance out
WAVES = 2


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism × WAVES`` slices iff its
    current plan has fewer partitions than the session's default
    parallelism — i.e. only when the downstream map stage would otherwise
    leave cores idle."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — a plan we can't inspect stays as-is
        return df
    if current >= target:
        return df
    return df.repartition(target * WAVES)
