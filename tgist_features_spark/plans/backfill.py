"""The flagship plan: leakage-free per-turn feature vectors + as-of backfill.

Pipeline (engine lifecycle, SURVEY.md §3.2):

    scan -> derive -> canonical order (ONE range shuffle, reused by every
    window pass) -> W1-W6 window features -> F6 text features (one Arrow
    pandas UDF) -> per-(entity, ts) feature vector -> J1 as-of merge against
    the probe/label side -> sink + lineage.

Every feature is strictly backward-looking (frames end at -1, or at 0 only
where the current turn's own content is legitimately visible at its own
timestamp) — the zero-temporal-leakage contract. ``next_role`` is emitted as
an explicitly label-side column and excluded from the feature vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tgist_features_spark.functions.text import with_ngram_features
from tgist_features_spark.operators.asof import asof_join, asof_join_auto
from tgist_features_spark.operators.ordering import canonical_order
from tgist_features_spark.operators.sessionize import session_number
from tgist_features_spark.operators.windows import (
    gap_seconds,
    turn_count,
    turn_number,
    turns_remaining,
)

# ordered numeric feature vector layout (allclose contract is per-position)
FEATURE_COLS = [
    "gap_s",
    "turn_no",
    "session_id",
    "n_user_5",
    "n_tool_5",
    "roll_chars_5",
    "cum_chars",
    "plen",
    "n_distinct",
    "bigram_distinct",
    "distinct_ratio",
]


def turn_features(df: DataFrame, gap_s: float = 1800.0) -> DataFrame:
    """transcripts -> one feature row per turn (entity x timestamp).

    Fused form of the modular operators: the same Column functions
    (windows.py / sessionize.py) selected so that expressions sharing a
    frame share one Window node — 4 window passes over the single
    canonical-order sort instead of 8.
    """
    out = canonical_order(df)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    w_roll = w.rowsBetween(-5, -1)

    # pass 1 — plain offset/frame-free expressions (lag/lead family)
    out = out.select(
        "*",
        gap_seconds(w).alias("gap_s"),
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        turn_count("conv_id").alias("turns_total"),
    )
    # pass 2 — cumulative frame (row_number shares the running frame)
    out = out.select(
        "*",
        turn_number(w).alias("turn_no"),
        session_number(F.col("gap_s"), w, gap_s).alias("session_id"),
        F.last("tool", ignorenulls=True).over(w_cum).alias("last_tool"),
        F.sum(F.length("text")).over(w_cum).cast("long").alias("cum_chars"),
    )
    out = out.withColumn("turns_remaining", turns_remaining())
    # pass 3 — trailing row frame (-5..-1): leakage-safe rolling features
    out = out.select(
        "*",
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).over(w_roll).alias("n_user_5"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).over(w_roll).alias("n_tool_5"),
        F.avg(F.length("text")).over(w_roll).alias("roll_chars_5"),
    )
    # empty frame on the first turn -> null; counts are 0 by definition
    out = out.withColumn("n_user_5", F.coalesce("n_user_5", F.lit(0)).cast("long"))
    out = out.withColumn("n_tool_5", F.coalesce("n_tool_5", F.lit(0)).cast("long"))
    out = with_ngram_features(out)
    vec = F.array(*[F.col(c).cast("double") for c in FEATURE_COLS])
    return out.withColumn("feature_vec", vec)


def backfill_features(
    features: DataFrame,
    queries: DataFrame,
    slice_width_s: int = 3600,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Point-in-time backfill: for each (conv_id, query_ts) probe attach the
    latest feature vector with ts <= query_ts (zero leakage by construction:
    backward direction, exact matches allowed — a feature stamped at ts is
    valid AT ts).

    ``hot_threshold`` switches to the skew-adaptive path: conversations
    with more than ``hot_threshold`` feature rows take the salted as-of,
    time-sliced into ``slice_width_s`` slices (``hot_threshold=0`` salts
    every conversation).
    """
    value_cols = ["ts", "turn_idx", "feature_vec"]
    kw = dict(
        by="conv_id", left_on="query_ts", right_on="ts", direction="backward",
        value_cols=value_cols,
    )
    build = features.select("conv_id", *value_cols)
    if hot_threshold is not None:
        return asof_join_auto(
            queries, build, slice_width_s=slice_width_s,
            hot_threshold=hot_threshold, **kw,
        )
    return asof_join(queries, build, **kw)
