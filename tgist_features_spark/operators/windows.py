"""Window-function feature operators (W1-W5, SURVEY.md §2.5) — the feature
core.

The reference's context features (prev_V/prev_J/next_n1.. over POS-tagged
token streams) become lag/lead + rolling frames over per-conversation windows.
Leakage discipline is structural: every *backward* feature uses a frame that
ends at -1 (strictly before the current row) or at 0 where the current row's
own value is legitimately visible at its own timestamp. Forward (lead)
features are label-side only and are excluded from the leakage gate.

All of this is pure Catalyst — whole-stage-codegen window exec over the
canonical (conv_id, ts, turn_idx) sort, zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from tgist_features_spark.functions.timeu import us


def _w(entity: str, order: tuple[str, ...]) -> WindowSpec:
    return Window.partitionBy(entity).orderBy(*order)


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    n: int = 1,
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    lead: bool = True,
) -> DataFrame:
    """prev_*/next_* features (W1): lag/lead of each column by 1..n turns."""
    w = _w(entity, order)
    out = df
    for c in cols:
        for k in range(1, n + 1):
            suffix = "" if n == 1 else str(k)
            out = out.withColumn(f"prev_{c}{suffix}", F.lag(c, k).over(w))
            if lead:
                out = out.withColumn(f"next_{c}{suffix}", F.lead(c, k).over(w))
    return out


def gap_seconds(w: WindowSpec, ts: str = "ts") -> Column:
    """Seconds since the previous row of ``w`` (null on the first row)."""
    return (us(F.col(ts)) - us(F.lag(F.col(ts)).over(w))) / F.lit(1_000_000.0)


def turn_number(w: WindowSpec) -> Column:
    """1-based position of the row in its ordered window."""
    return F.row_number().over(w)


def turn_count(entity: str) -> Column:
    """Rows in the row's entity partition."""
    return F.count(F.lit(1)).over(Window.partitionBy(entity))


def turns_remaining() -> Column:
    """Rows after this one in the entity partition, from the ``turn_no``
    and ``turns_total`` columns."""
    return F.col("turns_total") - F.col("turn_no")


def with_delta_ts(
    df: DataFrame,
    ts: str = "ts",
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    out_col: str = "gap_s",
) -> DataFrame:
    """Seconds since the previous turn (null on the first turn of a conv)."""
    return df.withColumn(out_col, gap_seconds(_w(entity, order), ts))


def with_position(
    df: DataFrame,
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """W2: 1-based turn number and reverse index within the conversation."""
    return (
        df.withColumn("turn_no", turn_number(_w(entity, order)))
        .withColumn("turns_total", turn_count(entity))
        .withColumn("turns_remaining", turns_remaining())
    )


def with_rolling_counts(
    df: DataFrame,
    k: int,
    aggs: dict[str, Column],
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    include_current: bool = False,
) -> DataFrame:
    """W3: row-frame rolling aggregates over the last k turns.

    ``include_current=False`` (default) ends the frame at -1 — the leakage-
    safe form for features that must not see the current turn's own value.
    ``aggs`` maps output column name -> aggregate Column, e.g.
    ``{"n_tool_5": F.sum(F.when(F.col("role") == "tool", 1).otherwise(0))}``.
    """
    hi = 0 if include_current else -1
    w = _w(entity, order).rowsBetween(-k, hi)
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def with_rolling_time(
    df: DataFrame,
    seconds: int,
    aggs: dict[str, Column],
    ts: str = "ts",
    entity: str = "conv_id",
    include_current: bool = True,
) -> DataFrame:
    """W4: time-range frame — trailing ``seconds`` window ordered by epoch
    microseconds (so sub-second gaps still resolve exactly).

    ``include_current=False`` bounds the frame at -1 microsecond, which
    excludes ALL rows sharing the current timestamp, not just the current
    row — the conservative leakage semantics (co-timestamped rows are
    simultaneous, so none of them may see each other). This differs from
    the row-frame ``with_rolling_counts`` where -1 excludes only the
    current row."""
    hi = 0 if include_current else -1
    w = (
        Window.partitionBy(entity)
        .orderBy(us(F.col(ts)))
        .rangeBetween(-seconds * 1_000_000, hi)
    )
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def with_cumulative(
    df: DataFrame,
    aggs: dict[str, Column],
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """W5: running aggregates since conversation start (frame ... to 0)."""
    w = _w(entity, order).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out


def with_ffill(
    df: DataFrame,
    cols: list[str],
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
    prefix: str = "last_",
) -> DataFrame:
    """W5 backfill: forward-fill the last non-null value (e.g. last tool
    used so far in the conversation)."""
    w = _w(entity, order).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(prefix + c, F.last(c, ignorenulls=True).over(w))
    return out


def resample_ffill(
    df: DataFrame,
    by: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    interval_s: int = 86_400,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Fixed-interval time resampling with forward fill — the
    regular-grid feature a model-serving / time-series pipeline derives
    from an irregular event stream: one row per (entity, interval bucket)
    from the entity's first to its last event, carrying the latest
    observed value at or before that bucket's end (``is_gap`` = 1 where
    the bucket itself had no events).

    Bucket b covers [b*interval, (b+1)*interval) epoch-seconds; the value
    for a bucket with multiple events is the one with the greatest
    (timestamp, *tiebreak) — deterministic under timestamp ties when a
    unique tiebreak column is given.

    Scale shape: per-(entity, bucket) last-event reduction (partial-agged
    shuffle), a per-entity grid explode bounded by the entity's ACTIVE
    time range over the interval (never the corpus's), and one ffill
    window per entity over that bounded grid. No driver work, no UDFs;
    the value column is carried verbatim (zero arithmetic), so outputs
    are engine-exact."""
    if interval_s <= 0:
        raise ValueError("resample_ffill: interval_s must be positive")
    iv = int(interval_s) * 1_000_000
    u = us(F.col(ts_col))
    base = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(by),
            u.alias("__u"),
            *[F.col(t) for t in tiebreak],
            F.col(value_col).alias("__v"),
        )
        .select(
            F.col(by),
            # integer div, NOT floor(double division): epoch-us values sit
            # close enough to 2^53 that the double path could misplace a
            # bucket boundary; div is exact at any magnitude
            F.expr(f"__u div {iv}").alias("__b"),
            F.struct(
                F.col("__u"), *[F.col(t) for t in tiebreak]
            ).alias("__ord"),
            F.col("__v"),
        )
    )
    vals = base.groupBy(by, "__b").agg(
        F.max_by("__v", "__ord").alias("__last")
    )
    bounds = base.groupBy(by).agg(
        F.min("__b").alias("__b0"), F.max("__b").alias("__b1")
    )
    grid = bounds.select(
        F.col(by), F.explode(F.sequence("__b0", "__b1")).alias("__b")
    )
    w = (
        Window.partitionBy(by)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(vals, [by, "__b"], "left")
        .withColumn("__f", F.last("__last", ignorenulls=True).over(w))
        .select(
            F.col(by),
            (F.col("__b") * iv).cast("bigint").alias("bucket_start_us"),
            F.col("__f").alias(value_col),
            F.col("__last").isNull().cast("int").alias("is_gap"),
        )
    )


def debounce(
    df: DataFrame,
    entity_cols: list[str],
    ts_col: str,
    min_gap_s: float,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Telemetry debounce: within each entity stream, keep a row only if
    at least ``min_gap_s`` seconds passed since the PREVIOUS row (the
    stream's first row always survives) — the duplicate-burst filter for
    retried events, double-clicks, and at-least-once ingestion.

    This is the lag-based (previous ROW) rule, one window pass and
    exactly expressible in any SQL engine. The chained variant
    ("previous KEPT row") is inherently sequential per entity — that
    shape belongs to the stateful streaming path
    (streaming/stream.py), not a batch window.

    Appends gap_us (microseconds since the previous row, null on the
    first) and keeps only surviving rows. A gap EXACTLY equal to
    min_gap is KEPT: the rule is gap >= min_gap in integer microseconds
    (mirrored by the SQL oracle and the pandas reference test).

    Scale shape: one shuffle on the entity columns, one codegen window
    pass — identical cost to any lag feature; no skew risk beyond the
    entity distribution itself (salt upstream if one entity dominates)."""
    order = [F.col(ts_col)]
    if order_tiebreak:
        order.append(F.col(order_tiebreak))
    w = Window.partitionBy(*entity_cols).orderBy(*order)
    gap = us(F.col(ts_col)) - F.lag(us(F.col(ts_col))).over(w)
    min_gap_us = int(round(min_gap_s * 1_000_000))
    return (
        df.withColumn("gap_us", gap)
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") >= min_gap_us))
    )


def transition_counts(
    df: DataFrame,
    entity_col: str,
    type_col: str,
    order: tuple[str, ...],
) -> DataFrame:
    """First-order transition (Markov) counts over per-entity event
    streams: for every ordered pair of consecutive events within an
    entity, count (from_type -> to_type) across the corpus — the
    behavior-model / next-action-prediction training table, and the
    session-flow sanity report a curation pass reads ("30% of views are
    followed by another view").

    Terminal events (an entity's last) have no successor and contribute
    no row — counts are over actual transitions only. Returns
    (from_type, to_type, n_transitions bigint).

    Scale shape: one shuffle on the entity for the lead() window, then
    one map-side-combinable count aggregation keyed by the (tiny)
    type-pair domain — the second shuffle moves at most |types|^2 rows
    per partition after partial aggregation."""
    w = Window.partitionBy(entity_col).orderBy(*[F.col(c) for c in order])
    return (
        df.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


def with_rolling_distinct(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    n: int,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Distinct-value count over the trailing ``n``-row frame (current
    row included) per entity — "how many different event types / tools /
    endpoints did this entity touch in its last n actions", the variety
    signal a bot/abuse filter or an engagement feature wants.

    Spark has no windowed count_distinct; ``size(collect_set() over w)``
    is the exact equivalent (collect_set skips NULLs, as does SQL
    COUNT(DISTINCT)). The per-row set is bounded by min(n, distinct
    domain), so state per row is small by construction — this is NOT the
    unbounded collect_list trap; cast to bigint for engine parity.

    Scale shape: one shuffle on the entity, one codegen window pass with
    an O(n)-bounded per-row set."""
    if n < 1:
        raise ValueError("with_rolling_distinct: n must be >= 1")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(n - 1), 0)
    )
    return df.withColumn(
        out_col, F.size(F.collect_set(F.col(value_col)).over(w)).cast("bigint")
    )


def with_group_cdf(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group empirical CDF position of each row's value, kept as the
    EXACT integer pair (rank_m1, n_m1) with percent_rank =
    rank_m1 / n_m1 — the percentile-normalized feature ("this doc is
    longer than 83% of its language's docs") without the float division
    that makes cross-engine hashes diverge. rank is SQL rank() (ties
    share the minimum rank, the standard percent_rank convention);
    n_m1 is 0 for singleton groups, exactly as SQL percent_rank
    defines the denominator.

    NULL-valued rows are EXCLUDED (returned relation omits them): a
    NULL has no rank, and engines disagree on NULL sort order — the
    silent cross-engine divergence this operator exists to avoid.

    Scale shape: one shuffle on the group, one window pass computing
    rank and the group count together — no second aggregation join."""
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(F.col(value_col))
    wg = Window.partitionBy(group_col)
    return df.withColumn(
        "rank_m1", (F.rank().over(w) - F.lit(1)).cast("bigint")
    ).withColumn(
        "n_m1", (F.count(F.lit(1)).over(wg) - F.lit(1)).cast("bigint")
    )


def equidepth_bins(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group equi-depth (equal-count) binning summary: each group's
    rows are ranked by (value, id) — the id tiebreak makes bin
    membership deterministic under ties — and row r of n lands in bin
    (r-1) * n_bins div n, so bin populations differ by at most one BY
    CONSTRUCTION (what quantile-boundary binning only approximates
    under ties). Returns per (group, bin): n_rows, min/max/sum of the
    value — the profile table for mixture design and skew diagnosis.

    Pure integer arithmetic end-to-end (no interpolated percentiles —
    interpolation weights like 0.1*(n-1) are NOT exact in double and
    diverge across engines in the last bit). One shuffle for the
    row_number window, then one map-side-combinable aggregation."""
    if n_bins < 1:
        raise ValueError("equidepth_bins: n_bins must be >= 1")
    # NULL values have no rank and engines disagree on NULL sort order —
    # exclude them (same contract as with_group_cdf); monitor null-rate
    # separately
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col), F.col(id_col)
    )
    wg = Window.partitionBy(group_col)
    binned = (
        df.withColumn(
            "__rnk", F.row_number().over(w).cast("bigint") - F.lit(1)
        )
        .withColumn("__n", F.count(F.lit(1)).over(wg).cast("bigint"))
        # integer `div`, never the double '/': (rnk * n_bins) / n in
        # double is inexact past 2^53 — the cross-engine floor-div trap
        .withColumn("__bin", F.expr(f"(__rnk * {int(n_bins)}) div __n"))
        .drop("__rnk", "__n")
    )
    return (
        binned.groupBy(
            F.col(group_col), F.col("__bin").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min(value_col).cast("bigint").alias("min_v"),
            F.max(value_col).cast("bigint").alias("max_v"),
            F.sum(value_col).cast("bigint").alias("sum_v"),
        )
    )


def with_rolling_outliers(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    n: int = 20,
    z: int = 3,
    scale: int = 100,
) -> DataFrame:
    """Per-entity rolling anomaly flag with INTEGER-EXACT arithmetic:
    flags rows whose value deviates more than ``z`` sample standard
    deviations from the trailing ``n``-row window (current row
    included) — the telemetry spike / sensor-glitch filter, without the
    float accumulation that makes the flag engine-dependent near the
    threshold.

    The z-test is evaluated in squared integer form: with s = Σy and
    q = Σy² over the window (y = round(value*scale) as bigint),
        z² = (y·cnt − s)² / (cnt·q − s²)
    so the flag is the integer comparison
        (y·cnt − s)² > z² · (cnt·q − s²)
    — no division, no sqrt, bit-reproducible anywhere. Degenerate
    windows (cnt < 2 or zero variance) flag only if the row deviates at
    all from the constant window (then the deviation is infinite sigma).
    Returns the input plus (win_cnt, win_sum, win_sumsq, is_outlier).

    Self-inclusion bound (pick n accordingly): the current row is part
    of its own window, so a LONE spike in a cnt-row window tops out at
    z² = cnt − 1 — with n <= z² + 1 a single spike is mathematically
    unflaggable. Use n comfortably above z² + 1 (e.g. n=20 at z=3).

    Overflow bound: |y·cnt − s| ≤ 2·max|y|·n and cnt·q ≤ n²·max|y|², so
    exactness needs (2·max|y|·n)² < 2^63 → max|value|·scale·n < 1.5e9 —
    a 100-row window of 10^6-fixed-point values is safe. Spark 4 ANSI
    mode backstops any overflow loudly (same contract as group_trend).

    Scale shape: one shuffle on the entity, one codegen window pass
    computing the three running sums together."""
    if n < 1:
        raise ValueError("with_rolling_outliers: n must be >= 1")
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(n - 1), 0)
    )
    y = F.round(F.col(value_col) * F.lit(scale)).cast("bigint")
    out = (
        df.withColumn("__y", y)
        # count NON-NULL values, not rows: a NULL-valued row in the
        # window must not inflate cnt while the sums skip it (the
        # cnt/sum inconsistency would silently shift every z-test in
        # the window)
        .withColumn("win_cnt", F.count("__y").over(w).cast("bigint"))
        .withColumn("win_sum", F.sum("__y").over(w).cast("bigint"))
        .withColumn(
            "win_sumsq", F.sum(F.col("__y") * F.col("__y")).over(w).cast("bigint")
        )
    )
    dev = F.col("__y") * F.col("win_cnt") - F.col("win_sum")
    var_num = (
        F.col("win_cnt") * F.col("win_sumsq")
        - F.col("win_sum") * F.col("win_sum")
    )
    flag = F.when(F.col("__y").isNull(), F.lit(False)).otherwise(
        F.when(var_num > 0, dev * dev > F.lit(z * z) * var_num).otherwise(
            dev != 0
        )
    )
    return out.withColumn("is_outlier", flag).drop("__y")


def with_level_shift(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    n: int = 10,
    thr_cents: int = 500,
    scale: int = 100,
) -> DataFrame:
    """Per-entity rolling LEVEL-SHIFT flag with integer-exact
    arithmetic: compares the trailing ``n``-row window (current row
    included) against the ``n`` rows immediately before it and flags
    rows where the mean moved by more than ``thr_cents`` fixed-point
    units — the two-sample changepoint screen that catches regime
    changes rolling z-scores miss (an outlier is one loud row; a level
    shift is every row after it being quietly different).

    The mean comparison is evaluated in multiplied-out integer form:
    with a = Σy over the recent window and b = Σy over the prior window
    (y = round(value·scale) as bigint, NULL values skipped in both sum
    and count), the test |a/n − b/n| > thr becomes
        |a·cnt_b − b·cnt_a| > thr · cnt_a · cnt_b
    — no division, engine-exact. Rows whose prior window is not yet
    fully populated (cnt_b window spans fewer than ``n`` rows) carry
    is_shift = false rather than NULL: a shift verdict needs a
    baseline, and "not enough history" is a non-verdict the downstream
    filter should treat as quiet (the same censoring posture as
    with_rolling_outliers' degenerate windows).

    Overflow bound: |a·cnt_b| ≤ n²·max|y| and thr·n² likewise, so
    exactness holds while max|value|·scale·n² < 2^62 — a 100-row window
    over 10^6-fixed-point values is safe; Spark 4 ANSI mode backstops
    overflow loudly.

    Scale shape: one shuffle on the entity, one codegen window pass
    computing all four running sums/counts together."""
    if n < 1:
        raise ValueError("with_level_shift: n must be >= 1")
    recent = (
        Window.partitionBy(entity_col)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(n - 1), 0)
    )
    prior = (
        Window.partitionBy(entity_col)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(2 * n - 1), -n)
    )
    y = F.round(F.col(value_col) * F.lit(scale)).cast("bigint")
    out = (
        df.withColumn("__y", y)
        .withColumn("recent_cnt", F.count("__y").over(recent).cast("bigint"))
        .withColumn(
            # a window with zero VALUES sums to 0, not NULL — the empty
            # sum is a real number downstream arithmetic can consume,
            # and the flag already censors the cnt == 0 case
            "recent_sum",
            F.coalesce(F.sum("__y").over(recent), F.lit(0)).cast("bigint"),
        )
        .withColumn("prior_cnt", F.count("__y").over(prior).cast("bigint"))
        .withColumn(
            "prior_sum",
            F.coalesce(F.sum("__y").over(prior), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "__n_prior_rows",
            F.count(F.lit(1)).over(prior).cast("bigint"),
        )
    )
    lhs = F.abs(
        F.col("recent_sum") * F.col("prior_cnt")
        - F.col("prior_sum") * F.col("recent_cnt")
    )
    rhs = F.lit(thr_cents) * F.col("recent_cnt") * F.col("prior_cnt")
    flag = (
        # a verdict needs a full prior window of ROWS and at least one
        # VALUE on each side; everything else is censored to false
        (F.col("__n_prior_rows") == n)
        & (F.col("prior_cnt") > 0)
        & (F.col("recent_cnt") > 0)
        & (lhs > rhs)
    )
    return out.withColumn("is_shift", flag).drop("__y", "__n_prior_rows")


def interarrival_histogram(
    df: DataFrame,
    entity_col: str,
    order: tuple[str, ...],
    ts_col: str = "ts",
    by_col: str | None = None,
) -> DataFrame:
    """Log2-bucketed inter-arrival-time histogram: the distribution of
    gaps between consecutive events per entity, optionally sliced by a
    category of the LATER event — the plot an engineer reads before
    picking a sessionize gap threshold or a debounce window, reduced
    to a table small enough to eyeball (one row per power-of-two gap
    range).

    The bucket is EXACT integer log2: ``length(bin(gap_us))`` =
    floor(log2(gap)) + 1 for gap >= 1, and 1 for gap = 0 (both engines
    render bin(0) as "0") — no float log, no boundary drift between
    engines. Each bucket row carries n_gaps plus min/max/sum of the
    exact microsecond gaps, so the table reconstructs means and checks
    mass conservation without refolding the corpus.

    Scale shape: one shuffle on the entity for the lag window, then a
    map-side-combinable aggregation into at most 64 x |categories|
    rows. First events per entity have no predecessor and contribute
    no gap. ``order`` must be consistent with ``ts_col`` (sort by ts
    first): a negative gap would hit bin()'s two's-complement rendering
    — engine-divergent — so it is refused in-plan (raise_error), the
    loud-contract rule."""
    from tgist_features_spark.functions.timeu import us

    w = Window.partitionBy(entity_col).orderBy(*[F.col(c) for c in order])
    u = us(F.col(ts_col))
    raw = u - F.lag(u, 1).over(w)
    gap = (
        # first rows have NULL raw (no predecessor) — they pass through
        # to the isNotNull filter, they are not contract violations
        F.when(raw.isNull(), F.lit(None).cast("bigint"))
        .when(raw >= 0, raw)
        .otherwise(
            F.raise_error(
                F.lit("interarrival_histogram: negative gap — order is "
                      "not consistent with ts_col")
            )
        )
    )
    keys = ([F.col(by_col)] if by_col else []) + [
        F.length(F.bin(F.col("__gap"))).cast("bigint").alias("gap_bucket")
    ]
    return (
        df.withColumn("__gap", gap)
        .filter(F.col("__gap").isNotNull())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.min("__gap").alias("min_us"),
            F.max("__gap").alias("max_us"),
            F.sum("__gap").cast("bigint").alias("sum_us"),
        )
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    order: tuple[str, ...],
    ts_col: str = "ts",
) -> DataFrame:
    """Slowly-changing-dimension (SCD2) temporalization: collapse a
    per-key change stream into validity intervals — one row per run of
    consecutive equal ``attr_col`` values, with
    [valid_from_us, valid_to_us) half-open extents and the current
    state carrying NULL valid_to_us. This is the dimension-snapshot
    shape every point-in-time enrichment reads: "what was the user's
    plan / the model's version AT event time" becomes a range join
    against these intervals instead of an as-of recomputation.

    Change detection is NULL-safe (IS DISTINCT FROM its predecessor),
    so NULL is a real state, not a wildcard. Determinism: runs are
    defined over the TOTAL order ``order`` (include a unique id as the
    final tiebreak); equal-attr repeats inside a run collapse into the
    run's first row.

    Scale shape: one shuffle on the key; the change-flag lag and the
    post-filter lead are two window evaluations over the SAME
    partitioning, so EnsureRequirements inserts no second exchange."""
    from tgist_features_spark.functions.timeu import us

    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order])
    u = us(F.col(ts_col))
    changed = ~F.col("__a").eqNullSafe(F.lag("__a", 1).over(w)) | (
        F.row_number().over(w) == 1
    )
    runs = (
        df.withColumn("__a", F.col(attr_col))
        .withColumn("__u", u)
        .withColumn("__chg", changed)
        .filter(F.col("__chg"))
    )
    w2 = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order])
    return runs.select(
        F.col(key_col),
        F.col("__a").alias(attr_col),
        F.col("__u").alias("valid_from_us"),
        F.lead("__u", 1).over(w2).alias("valid_to_us"),
    )


def transition_latency(
    df: DataFrame,
    entity_col: str,
    type_col: str,
    order: tuple[str, ...],
    ts_col: str = "ts",
) -> DataFrame:
    """Per transition pair (from_type -> to_type), the latency profile
    of consecutive same-entity events: n_transitions plus
    min/max/sum of the exact microsecond gap — transition_counts'
    companion table answering not just "what follows what" but "how
    fast" (the response-latency statistic per role/tool hand-off in a
    transcript pipeline). Integer microseconds end-to-end; means are
    the reader's division.

    Scale shape: identical to transition_counts — one shuffle on the
    entity for the lag window, then a map-side-combinable aggregation
    into |types|^2 rows."""
    from tgist_features_spark.functions.timeu import us

    w = Window.partitionBy(entity_col).orderBy(*[F.col(c) for c in order])
    u = us(F.col(ts_col))
    out = (
        df.withColumn("__from", F.lag(F.col(type_col), 1).over(w))
        .withColumn("__gap", u - F.lag(u, 1).over(w))
        .filter(F.col("__from").isNotNull())
    )
    return out.groupBy(
        F.col("__from").alias("from_type"), F.col(type_col).alias("to_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.min("__gap").alias("min_us"),
        F.max("__gap").alias("max_us"),
        F.sum("__gap").cast("bigint").alias("sum_us"),
    )


def time_weighted_avg(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    ts_col: str = "ts",
    scale: int = 100,
) -> DataFrame:
    """Per-entity TIME-weighted average of a step signal, kept as the
    EXACT integer fraction (twa_num, twa_den): each observation's value
    holds until the next observation (the step/zero-order-hold
    convention), so
        twa = Σ y_i · (t_{i+1} − t_i) / (t_last − t_first),
    y = round(value·scale) as bigint, all microsecond gaps exact. The
    float division is the reader's presentation step — the pipeline
    state is engine-exact, the house rounding-trap rule. This is the
    telemetry statistic an event-weighted mean silently fakes whenever
    sampling is irregular (a gauge polled 100× during one quiet minute
    must not outweigh an hour at load).

    The LAST observation of an entity bounds the integral (it has no
    successor interval); entities with a single observation return
    twa_den = 0 with twa_num = 0 — "no time span" is a non-answer the
    caller must handle, not a fake average. NULL values hold the
    PREVIOUS value's weight (they end its interval but contribute no
    interval of their own — NULL is a gap in the gauge, not a zero).

    Overflow: |y|·span_us must stay under 2^63 — a 10^6-fixed-point
    gauge over a 30-year span is ~3e21... out of bound; at scale=100
    the bound is |value| · 9.5e16 µs (~3000 years). ANSI mode backstops
    loudly. Scale shape: one shuffle on the entity, one lead window +
    one map-side-combinable aggregation."""
    w = Window.partitionBy(entity_col).orderBy(*[F.col(c) for c in order])
    u = us(F.col(ts_col))
    y = F.round(F.col(value_col) * F.lit(scale)).cast("bigint")
    seg = (
        df.withColumn("__u", u)
        .withColumn("__y", y)
        .withColumn("__nxt", F.lead("__u", 1).over(w))
    )
    contrib = F.when(
        F.col("__nxt").isNotNull() & F.col("__y").isNotNull(),
        F.col("__y") * (F.col("__nxt") - F.col("__u")),
    ).otherwise(F.lit(0))
    return seg.groupBy(entity_col).agg(
        F.sum(contrib).cast("bigint").alias("twa_num"),
        (F.max("__u") - F.min("__u")).cast("bigint").alias("twa_den"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )


def ohlc_buckets(
    df: DataFrame,
    entity: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str,
    interval_s: int = 3600,
    scale: int = 100,
) -> DataFrame:
    """W18: per-(entity, time-bucket) open/high/low/close panel — the
    candlestick compression a telemetry or engagement stream gets rolled
    into before charting/modeling ("first and last reading each hour,
    plus extrema and volume"). Values are fixed-point bigints
    (round(value*scale)); open/close carry a PINNED deterministic tie
    rule — the value at the least/greatest (ts, tiebreak) — so two
    events on the same microsecond cannot flip the panel between runs
    or engines.

    NULL values are excluded from all four statistics but counted
    (n_null); a bucket whose every value is NULL keeps the row (the
    gap is visible) with NULL o/h/l/c.

    Scale shape: ONE map-side-combinable hash aggregation on
    (entity, bucket) — min_by/max_by over a (ts, tiebreak) struct keep
    open/close inside the same partial-aggregate pass as the extrema;
    no window, no sort, no second shuffle."""
    x = F.round(F.col(value_col).cast("double") * F.lit(scale)).cast("bigint")
    w_us = interval_s * 1_000_000
    # (a - pmod(a, n)) div n == floor(a / n) for any sign, pure bigint
    # (the ADVICE floor-div pattern — no double '/')
    bucket = F.expr(f"(__us - pmod(__us, {w_us})) div {w_us}")
    ordkey = F.struct(F.col("__us").alias("u"), F.col(order_tiebreak).alias("t"))
    # NULL values must not win min_by/max_by: guard the key so NULL-value
    # rows sort behind every real observation
    guarded = F.when(x.isNotNull(), ordkey)
    return (
        df.withColumn("__x", x)
        .withColumn("__us", us(ts_col))
        .groupBy(F.col(entity), bucket.alias("bucket"))
        .agg(
            F.min_by("__x", guarded).alias("open_x"),
            F.max_by("__x", guarded).alias("close_x"),
            F.min("__x").alias("low_x"),
            F.max("__x").alias("high_x"),
            F.count("__x").cast("bigint").alias("n_obs"),
            (F.count(F.lit(1)) - F.count("__x")).cast("bigint").alias("n_null"),
        )
    )


def ewma_smooth(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    k: int = 3,
) -> DataFrame:
    """W19: per-entity exponentially-weighted moving average with
    alpha = 1/2^k, reported at each entity's LAST observation — the
    "current smoothed level" feature (spend velocity, engagement
    temperature, error-rate level) that a churn or anomaly model reads
    per entity, without storing the whole series.

    Semantics, pinned exactly: rows with NULL value are EXCLUDED
    (engines disagree on NULL fold behavior); the remaining rows are
    ordered by ``order`` (must be a deterministic total order within an
    entity) and folded as

        s_1 = v_1;   s_t = (v_t + (2^k - 1) * s_{t-1}) div 2^k

    in pure 64-bit integers — `div` truncates toward zero in Spark and
    `//` does the same in DuckDB, so the recurrence is bitwise
    reproducible across engines for ANY sign of input (use an integer
    fixed-point value column, e.g. cents). Overflow bound:
    |v| * 2^k < 2^63. The float EWMA differs from this by < 1 unit of
    the fixed point per step — fixed point with a pinned rounding rule
    is the price of cross-engine exactness (the A17/moments posture).

    Scale shape: ONE shuffle (groupBy the entity), then a JVM-side
    array sort + SQL-lambda fold per entity — no Python, no window, no
    second pass. Per-entity state is the entity's own event list, the
    same bounded-by-entity-activity posture as behavior fingerprints;
    entities with millions of events want the streaming maintenance
    path instead (T4/T13), not a batch fold.

    Returns (entity, n_events bigint, v_last bigint, ewma bigint).
    """
    if k < 1 or k > 32:
        raise ValueError("ewma_smooth: k must be in [1, 32]")
    m = (1 << k) - 1
    d = 1 << k
    df = df.filter(F.col(value_col).isNotNull())
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                *[F.col(c) for c in order],
                F.col(value_col).cast("bigint").alias("v"),
            )
        )
    )
    return (
        df.groupBy(F.col(entity_col))
        .agg(ordered.alias("__seq"))
        .withColumn("__vals", F.expr("transform(__seq, x -> x.v)"))
        .select(
            F.col(entity_col),
            F.size("__vals").cast("bigint").alias("n_events"),
            F.element_at("__vals", -1).alias("v_last"),
            F.expr(
                "aggregate(slice(__vals, 2, size(__vals) - 1), __vals[0],"
                f" (s, x) -> (x + {m}L * s) div {d}L)"
            ).alias("ewma"),
        )
    )


def with_rolling_median(
    df: DataFrame,
    value_col: str,
    entity_col: str,
    order: tuple[str, ...],
    n: int,
    out_col: str = "roll_med",
) -> DataFrame:
    """W20: exact LOWER median over the trailing ``n``-row frame
    (current row included) per entity — the robust rolling level the
    telemetry screens want when one spike should not drag the window
    (the rolling cousin of the MAD/median family).

    The lower median is the pinned cross-engine rule: element
    (cnt+1) div 2 of the SORTED window values — engines disagree on
    even-count median interpolation (DuckDB averages, and averaging
    two integers makes a float), so the lower order statistic is the
    deterministic choice, stated in the name of reproducibility.
    NULL-valued rows are EXCLUDED up front (a removed row shifts
    frames; exclusion-then-frame is the pinned rule, same as ewma).

    Scale shape: one shuffle on the entity, one window pass; the
    per-row sort is O(n log n) over the bounded frame — n is a
    parameter, not data-dependent (NOT the unbounded collect trap).
    """
    if n < 1:
        raise ValueError("with_rolling_median: n must be >= 1")
    df = df.filter(F.col(value_col).isNotNull())
    w = (
        Window.partitionBy(entity_col)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(-(n - 1), 0)
    )
    sorted_win = F.sort_array(
        F.collect_list(F.col(value_col).cast("bigint")).over(w)
    )
    return df.withColumn("__win", sorted_win).select(
        *df.columns,
        F.size("__win").cast("bigint").alias("win_cnt"),
        F.expr("element_at(__win, cast((size(__win) + 1) div 2 as int))")
        .cast("bigint")
        .alias(out_col),
    )
