"""Point-in-interval range join, bucketized.

The reference has no temporal surface; this serves event/telemetry
pipelines. A naive range join is an inequality theta-join — Spark would
plan a broadcast nested loop (or refuse), O(n·m) compares at 100 TB. The
scale-correct shape is **bucketization**: quantize time into fixed-width
buckets, explode each interval over the buckets it covers, and equi-join on
(keys…, bucket) so the shuffle is hash-partitioned and each task compares
only bucket-local pairs. The exact predicate then filters inside the
bucket. A point lives in exactly one bucket, so every matching
(point, interval) pair surfaces exactly once — no dedupe.

Pick ``bucket`` near the typical interval length: too small explodes the
interval side by (length/bucket) rows; too large packs unrelated rows into
one bucket and the exact filter does the work. Optional equi-``keys``
become part of the join key (per-device, per-user…).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _line(df: DataFrame, col: str) -> Column:
    """Time column → number line: timestamps in epoch seconds, numeric
    columns as-is (their own unit — pass ``bucket`` as an int in the same
    unit)."""
    if isinstance(df.schema[col].dataType, T.TimestampType):
        return F.unix_timestamp(F.col(col))
    return F.col(col).cast("long")


def _bucket_of(line: Column, width: int) -> Column:
    return F.floor(line / width).cast("long")


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    start_col: str,
    end_col: str,
    keys: list[str] | None = None,
    bucket: str | int = "1 hour",
) -> DataFrame:
    """Rows of ``points`` joined to every interval containing them
    (half-open: ``start <= point < end``). Output carries all columns of
    both inputs (key columns once)."""
    width = _width_seconds(bucket) if isinstance(bucket, str) else bucket
    keys = keys or []
    p = points.withColumn("__bucket", _bucket_of(_line(points, point_col), width))
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                _bucket_of(_line(intervals, start_col), width),
                _bucket_of(_line(intervals, end_col), width),
            )
        ),
    )
    return (
        p.join(i, [*keys, "__bucket"])
        .filter(
            (F.col(start_col) <= F.col(point_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop("__bucket")
    )


def _width_seconds(bucket: str) -> int:
    """'90 seconds' / '15 minutes' / '2 hours' / '1 day' → seconds."""
    n, unit = bucket.split()
    mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[unit.rstrip("s")]
    return int(n) * mult
