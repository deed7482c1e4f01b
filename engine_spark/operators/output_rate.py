"""Output rate limiting (reference output_rate.rs:8-22 + the FIRST/LAST
emission logic in select_processor.rs:30-250).

``OUTPUT {ALL|FIRST|LAST} EVERY n EVENTS`` / ``EVERY d`` / ``SNAPSHOT``.
Batch formulation: the emitted subset is fully determined by arrival order
(event count) or event time (intervals), so each mode is a rank/bucket
filter — one shuffle on the key, no state. In streaming the same exprs run
per micro-batch with the count carried in keyed state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ranked(df, ts_col: str, partition_by: Sequence[str]):
    w = Window.partitionBy(*partition_by).orderBy(F.col(ts_col))
    return df.withColumn("_rn", F.row_number().over(w))


def first_every_n(
    df: DataFrame, ts_col: str, n: int, partition_by: Sequence[str] = ()
) -> DataFrame:
    """OUTPUT FIRST EVERY n EVENTS: the 1st, (n+1)th, … event per key."""
    return (
        _ranked(df, ts_col, partition_by)
        .filter((F.col("_rn") - 1) % n == 0)
        .drop("_rn")
    )


def last_every_n(
    df: DataFrame, ts_col: str, n: int, partition_by: Sequence[str] = ()
) -> DataFrame:
    """OUTPUT LAST EVERY n EVENTS: the nth, 2nth, … event per key (a
    trailing partial batch emits nothing until full — matching the
    reference's batch-boundary emission)."""
    return (
        _ranked(df, ts_col, partition_by)
        .filter(F.col("_rn") % n == 0)
        .drop("_rn")
    )


def last_every_interval(
    df: DataFrame, ts_col: str, interval: str, partition_by: Sequence[str] = ()
) -> DataFrame:
    """OUTPUT LAST EVERY d: latest event per (key, time bucket)."""
    w = Window.partitionBy(
        *partition_by, F.window(F.col(ts_col), interval)
    ).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_every_interval(
    df: DataFrame,
    ts_col: str,
    interval: str,
    key_cols: Sequence[str],
) -> DataFrame:
    """SNAPSHOT EVERY d: the last-known row per key at each tick — the
    batch equivalent of outputMode("complete") sampled on a timer."""
    return (
        df.withColumn("_b", F.window(F.col(ts_col), interval))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*key_cols, "_b").orderBy(F.col(ts_col).desc())
            ),
        )
        .filter(F.col("_rn") == 1)
        .withColumn("snapshot_ts", F.col("_b.end"))
        .drop("_rn", "_b")
    )
