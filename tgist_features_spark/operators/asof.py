"""As-of join (J1/J2/J3, SURVEY.md §2.3) — the engine's flagship operator.

Spark 4.1 has no ASOF JOIN in Catalyst, so this is a custom range-
partitioned merge-scan: probe and build rows are tagged and unioned, ONE
``repartitionByRange`` on the entity key co-locates every entity in a
single partition, ``sortWithinPartitions`` orders each partition by event
time, and one vectorized ``pandas.merge_asof(by=entity)`` per partition
(``mapInPandas``) merges thousands of entities per call. Semantics (pinned
by property tests against the pure pandas oracle and DuckDB's ASOF JOIN):

* backward: match the build row with the greatest ts <= query_ts
  (``allow_exact_matches=False`` makes it strictly <) — the point-in-time /
  zero-leakage form;
* forward: smallest ts >= query_ts;
* tolerance: reject matches further than a max staleness;
* ties on build ts resolve to the greatest tiebreak (backward) / smallest
  (forward) — deterministic under duplicate timestamps;
* probes with no eligible build row keep null feature columns (left join);
* null query_ts or unseen entity -> null match.

Skew: a hot conversation funnels its entire probe+build volume through one
merge-scan task. ``asof_join_auto`` keeps ONE merge-scan but keys it by
``(entity, __slice)``: entities above a row-count threshold are sliced by
``floor(ts / slice_width)``, the rest keep slice 0. Each probe slice of a
hot entity receives *carry* rows — the latest build row from an earlier
slice and/or the earliest from a later one, computed with one hash
aggregation + one tiny window over slice summaries, all JVM-side — so every
slice's candidates are self-contained. Results are identical to the
unsliced join for every direction (tests/test_asof.py) while the per-task
group size is bounded by rows-per-(entity, slice).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tgist_features_spark.functions.timeu import us

_PANDAS_NULLABLE = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.BooleanType: "boolean",
}


# target bytes of unioned input per merge-scan task ("auto" partition
# sizing): 64 MB of on-wire data keeps the per-task pandas buffer (roughly
# 2-4x expansion) comfortably inside executor memory at any input scale
ASOF_TARGET_PARTITION_BYTES = 64 << 20


def _partitions_for_size(size: int, floor: int) -> int:
    """Pure sizing rule (unit-tested separately from the Py4J stats call)."""
    if size <= 0 or size >= (1 << 60):
        # no statistics (or the unknown-size sentinel, Long.MaxValue-ish):
        # fall back to the cluster default rather than a huge shuffle
        return floor
    return max(floor, min(1 << 20, size // ASOF_TARGET_PARTITION_BYTES + 1))


def _auto_num_partitions(u: DataFrame) -> int:
    """Partition count from Catalyst's size estimate of the unioned input —
    no extra jobs (statistics come from file sizes / plan estimation). Never
    below the cluster's default parallelism."""
    try:
        size = int(u._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    return _partitions_for_size(size, u.sparkSession.sparkContext.defaultParallelism)


def _null_dtype(spark_type: T.DataType) -> object:
    if isinstance(spark_type, T.TimestampType):
        return "datetime64[us]"
    return _PANDAS_NULLABLE.get(type(spark_type), object)


def _coerce(pdf: pd.DataFrame, fields: list[T.StructField]) -> pd.DataFrame:
    """Nullable-dtype coercion so Arrow accepts missing ints/bools/arrays."""
    for f in fields:
        dt = _null_dtype(f.dataType)
        if f.name in pdf.columns:
            if dt is object:
                # vectorized NaN/NA -> None (no per-element Python calls in
                # the merge-scan hot path); Series.notna treats list/ndarray
                # cell values as non-null, so array columns pass through
                s = pdf[f.name]
                if s.dtype != object:
                    s = s.astype(object)
                pdf[f.name] = s.where(s.notna(), None)
            elif str(pdf[f.name].dtype) != str(dt):
                try:
                    pdf[f.name] = pdf[f.name].astype(dt)
                except (TypeError, ValueError) as e:
                    raise ValueError(
                        f"as-of output column {f.name!r}: cannot coerce "
                        f"{pdf[f.name].dtype} to {dt} ({f.dataType.simpleString()})"
                    ) from e
        else:
            pdf[f.name] = pd.Series([None] * len(pdf), dtype=dt)
    return pdf[[f.name for f in fields]]


def _plan(probe: DataFrame, build: DataFrame, by, left_on, right_on, value_cols):
    by = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in by]
    rename = {}
    for c in value_cols:
        out = c if (c not in probe.columns and c != left_on) else f"{c}_matched"
        rename[c] = out
    build_fields = {f.name: f for f in build.schema.fields}
    carried = [
        T.StructField(rename[c], build_fields[c].dataType, True) for c in value_cols
    ]
    out_schema = T.StructType(list(probe.schema.fields) + carried)
    return by, value_cols, rename, carried, out_schema


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    by: str | list[str] = "conv_id",
    left_on: str = "query_ts",
    right_on: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    value_cols: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("turn_idx",),
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Point-in-time join: probe (entity, query_ts) x build (entity, ts).
    ``direction``: 'backward' (latest row at or before), 'forward'
    (earliest at or after), or 'nearest' (closest on either side).

    Merge-scan physical plan (the north_star shape): tag both sides, union,
    ONE ``repartitionByRange`` on the entity key (equal keys never split),
    ``sortWithinPartitions`` by event time, then a single vectorized
    ``pandas.merge_asof(by=entity)`` per partition via ``mapInPandas`` —
    thousands of entities per C-level merge call instead of one Python call
    per entity. Returns probe.* plus the matched build value columns
    (renamed with a ``_matched`` suffix on collision). Left-join semantics.

    Memory: one partition is materialized per task (exactly like a sort-
    merge join buffer); size partitions via ``num_partitions`` /
    ``spark.sql.shuffle.partitions``, or pass ``num_partitions="auto"`` to
    size them from Catalyst's size estimate of the unioned input
    (~``ASOF_TARGET_PARTITION_BYTES`` per task — keeps the per-task pandas
    buffer bounded as inputs grow, with zero extra jobs). A single entity
    bigger than a healthy partition is the *skew* case — route through
    ``asof_join_auto``.
    """
    assert direction in ("backward", "forward", "nearest")
    by_list = [by] if isinstance(by, str) else list(by)
    _, value_cols, rename, carried, out_schema = _plan(
        probe, build, by_list, left_on, right_on, value_cols
    )
    probe_cols = list(probe.columns)
    carried_names = [f.name for f in carried]
    build_fields = {f.name: f for f in build.schema.fields}
    tb = [t for t in tiebreak if t in build.columns]
    tb_names = [f"__tb{i}" for i in range(len(tb))]

    # tagged union on a common wide schema: probe columns null on the build
    # side and vice versa; __key is the event-time merge key on both sides
    l = probe.select(
        F.lit(0).alias("__side"),
        F.col(left_on).cast("timestamp_ntz").alias("__key"),
        *[F.col(c) for c in probe_cols],
        *[
            F.lit(None).cast(build_fields[c].dataType).alias(rename[c])
            for c in value_cols
        ],
        *[F.lit(None).cast(build_fields[t].dataType).alias(n)
          for t, n in zip(tb, tb_names)],
    )
    r = build.filter(F.col(right_on).isNotNull()).select(
        F.lit(1).alias("__side"),
        F.col(right_on).cast("timestamp_ntz").alias("__key"),
        *[F.col(b) for b in by_list],
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in probe.schema.fields if f.name not in by_list],
        *[F.col(c).alias(rename[c]) for c in value_cols],
        *[F.col(t).alias(n) for t, n in zip(tb, tb_names)],
    )
    u = l.unionByName(r.select(*l.columns))
    if isinstance(num_partitions, str):
        if num_partitions != "auto":
            raise ValueError(
                f"num_partitions must be an int, None or 'auto' — got "
                f"{num_partitions!r}"
            )
        num_partitions = _auto_num_partitions(u)
    if num_partitions:
        u = u.repartitionByRange(num_partitions, *by_list)
    else:
        u = u.repartitionByRange(*by_list)
    u = u.sortWithinPartitions("__key", "__side", *tb_names)

    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None
    by_key = by_list[0] if len(by_list) == 1 else by_list
    lcols = list(probe_cols)
    rcols = [*by_list, "__key", *carried_names]

    def scan(batches):
        chunks = list(batches)  # one partition, sorted by (__key, __side, tb)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        is_l = pdf["__side"].to_numpy() == 0
        lp = pdf.loc[is_l, [*lcols, "__key"]]
        rp = pdf.loc[~is_l, rcols]
        ok = lp["__key"].notna()
        l_null = lp.loc[~ok, lcols]
        lp = lp[ok]
        if len(rp) == 0 or len(lp) == 0:
            merged = lp[lcols].copy()
            for f in carried:
                merged[f.name] = None
        else:
            merged = pd.merge_asof(
                lp,
                rp,
                on="__key",
                by=by_key,
                direction=direction,
                tolerance=tol,
                allow_exact_matches=allow_exact_matches,
            ).drop(columns="__key")
        if len(l_null):
            merged = pd.concat([merged, l_null], ignore_index=True)
        yield _coerce(merged, out_schema.fields)

    return u.mapInPandas(scan, schema=out_schema)


def asof_join_auto(
    probe: DataFrame,
    build: DataFrame,
    by: str = "conv_id",
    left_on: str = "query_ts",
    right_on: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    value_cols: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("turn_idx",),
    hot_threshold: int = 1_000_000,
    slice_width_s: int = 3600,
) -> DataFrame:
    """Skew-adaptive as-of join: one merge-scan (``asof_join``) keyed by
    ``(entity, __slice)``. Entities whose build side exceeds
    ``hot_threshold`` rows are time-sliced, ``__slice = floor(ts /
    slice_width_s)``; every other entity keeps ``__slice = 0`` and merges
    exactly as in the plain join. ``hot_threshold <= 0`` slices every
    entity and skips the count aggregation and its broadcast. Results are
    identical to ``asof_join`` for every direction (tested).

    Each probe slice of a hot entity gets its cross-slice candidates as
    *carry* rows unioned into the build side: the latest build row from a
    strictly earlier slice (backward), the earliest from a strictly later
    slice (forward), both for nearest. The nearest match is the closer of
    the best backward and best forward candidates, so the carries give the
    sliced merge the same candidates the unsliced one sees. The carries
    come from one hash aggregation over hot build rows and probe-slice
    markers plus one window over the slice-level rows, all JVM-side.

    The per-entity count is one cheap hash aggregation and the hot set is
    tiny by definition (skew = few heavy keys), so it broadcasts. The
    default threshold matches the plain path's per-task budget
    (~``ASOF_TARGET_PARTITION_BYTES`` at ~40 B/row ≈ 1.6M rows): below it
    a single merge-scan task absorbs the entity cheaply and slicing only
    adds carry bookkeeping; above it the entity is a straggler and slicing
    wins (bench.py ``skew_asof``).
    """
    assert direction in ("backward", "forward", "nearest")
    slice_col = "__slice"
    width_us = slice_width_s * 1_000_000
    _, value_cols, _, _, _ = _plan(probe, build, by, left_on, right_on, value_cols)
    tb = [t for t in tiebreak if t in build.columns]
    vals = [c for c in dict.fromkeys([right_on, *value_cols, *tb]) if c != by]

    if hot_threshold > 0:
        counts = build.groupBy(by).agg(F.count(F.lit(1)).alias("__n"))
        hot = F.broadcast(
            counts.filter(F.col("__n") > hot_threshold)
            .select(by, F.lit(True).alias("__hot"))
        )
    else:
        hot = None

    def sliced(df: DataFrame, ts: str) -> DataFrame:
        s = F.floor(us(F.col(ts)) / width_us)
        if hot is None:
            return df.withColumn("__hot", F.lit(True)).withColumn(slice_col, s)
        return df.join(hot, on=by, how="left").select(
            *df.columns, "__hot",
            F.when(F.col("__hot"), s).otherwise(F.lit(0)).alias(slice_col),
        )

    p = sliced(probe, left_on)
    b = sliced(build.filter(F.col(right_on).isNotNull()), right_on)

    # ONE aggregation over hot rows yields each slice's extreme build rows
    # and whether the slice holds probes: build rows and probe-slice
    # markers go through a tagged union. max_by/min_by skip null ordering
    # keys, so probe-only slices aggregate to null payloads.
    b_tag = b.filter(F.col("__hot")).select(
        by, slice_col,
        F.struct(*vals).alias("__payload"),
        F.struct(us(F.col(right_on)), *tb).alias("__ok"),
        F.lit(0).alias("__probe"),
    )
    p_tag = p.filter(F.col("__hot") & F.col(left_on).isNotNull()).select(
        by, slice_col,
        *[F.lit(None).cast(b_tag.schema[c].dataType).alias(c)
          for c in ("__payload", "__ok")],
        F.lit(1).alias("__probe"),
    )
    picks = []
    if direction != "forward":
        picks.append(F.max_by("__payload", "__ok").alias("__last"))
    if direction != "backward":
        picks.append(F.min_by("__payload", "__ok").alias("__first"))
    agg = b_tag.unionByName(p_tag).groupBy(by, slice_col).agg(
        *picks, F.max("__probe").alias("__probe")
    )

    # carries per probe slice: the latest summary from any STRICTLY earlier
    # slice and/or the earliest from any strictly later one. With one row
    # per slice, excluding the current row from the frame excludes exactly
    # the same-slice summary; the window runs over slice-level rows only,
    # tiny even for the hottest entity.
    w = Window.partitionBy(by).orderBy(slice_col)
    carry = []
    if direction != "forward":
        carry.append(F.last("__last", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
    if direction != "backward":
        carry.append(F.first("__first", ignorenulls=True).over(
            w.rowsBetween(1, Window.unboundedFollowing)))
    carries = (
        agg.select(by, slice_col, "__probe", F.array(*carry).alias("__carry"))
        .filter(F.col("__probe") == 1)
        .select(by, slice_col, F.inline(
            F.filter("__carry", lambda c: c.isNotNull())))
    )

    # the composite (entity, slice) key routes each hot slice to its own
    # range partition, while the merge stays one bulk merge-scan
    out = asof_join(
        p.drop("__hot"),
        b.select(by, slice_col, *vals).unionByName(carries),
        by=[by, slice_col],
        left_on=left_on,
        right_on=right_on,
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=allow_exact_matches,
        value_cols=value_cols,
        tiebreak=tiebreak,
    )
    return out.drop(slice_col)
