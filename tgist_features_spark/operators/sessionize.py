"""Sessionize (W6, SURVEY.md §2.5): session boundaries from timestamp gaps.

The reference sectioned documents by structural headers (TITLE/ABSTRACT/...);
the transcript generalization cuts a conversation into sessions wherever the
inter-turn gap exceeds a threshold. Implemented as a cumulative sum of gap
flags over the canonical per-conv window — strictly backward-looking, so a
turn's session_id never depends on future rows (leakage-safe by
construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from tgist_features_spark.operators.windows import gap_seconds


def session_number(gap: Column, w: WindowSpec, gap_s: float) -> Column:
    """Running count of gaps > ``gap_s`` seconds over the ordered window
    ``w``: the first row of an entity is in session 0. ``gap`` is the
    double-seconds gap to the previous row (``windows.gap_seconds``)."""
    boundary = F.when(gap > F.lit(gap_s), 1).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return F.sum(boundary).over(cum).cast("long")


def sessionize(
    df: DataFrame,
    gap_s: float = 1800.0,
    entity: str = "conv_id",
    ts: str = "ts",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out_col: str = "session_id",
) -> DataFrame:
    """Add an integer session_id (0-based per entity).

    boundary(row) = gap to previous row > gap_s; session_id = running sum of
    boundary flags. The first turn of a conversation starts session 0.
    """
    w = Window.partitionBy(entity).orderBy(*order)
    return df.withColumn(out_col, session_number(gap_seconds(w, ts), w, gap_s))


def session_bounds(
    df: DataFrame,
    entity: str = "conv_id",
    ts: str = "ts",
    session_col: str = "session_id",
) -> DataFrame:
    """Session table: (entity, session_id) -> start/end ts, n_turns."""
    return df.groupBy(entity, session_col).agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
    )
