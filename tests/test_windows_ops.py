"""Direct unit coverage for the modular window operators (windows.py) —
the fused plan in plans/backfill.py must stay equivalent to these."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tgist_features_spark.operators.ordering import canonical_order
from tgist_features_spark.operators.sessionize import session_bounds, sessionize
from tgist_features_spark.operators.windows import (
    with_cumulative,
    with_delta_ts,
    with_ffill,
    with_lag_lead,
    with_position,
    with_rolling_counts,
    with_rolling_time,
)
from tgist_features_spark.oracle.pandas_oracle import oracle_turn_features
from tgist_features_spark.plans.backfill import turn_features
from tgist_features_spark.sources.corpus import transcripts_df


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_modular_ops_equal_fused_plan(spark, tiny_pdf):
    """Composing the modular operators reproduces the fused turn_features
    feature columns exactly."""
    df = canonical_order(transcripts_df(spark, tiny_pdf))
    out = with_delta_ts(df)
    out = with_position(out)
    out = sessionize(out)
    out = with_lag_lead(out, ["role"])
    out = with_ffill(out, ["tool"])
    out = with_rolling_counts(
        out,
        5,
        {
            "n_user_5": F.sum(F.when(F.col("role") == "user", 1).otherwise(0)),
            "n_tool_5": F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)),
            "roll_chars_5": F.avg(F.length("text")),
        },
    )
    out = out.withColumn("n_user_5", F.coalesce("n_user_5", F.lit(0)))
    out = out.withColumn("n_tool_5", F.coalesce("n_tool_5", F.lit(0)))
    out = with_cumulative(out, {"cum_chars": F.sum(F.length("text"))})
    modular = _sorted(out)
    fused = _sorted(turn_features(transcripts_df(spark, tiny_pdf)))
    for col in ["gap_s", "turn_no", "turns_total", "turns_remaining",
                "session_id", "n_user_5", "n_tool_5", "roll_chars_5",
                "cum_chars"]:
        np.testing.assert_allclose(
            modular[col].astype(float).fillna(-1).to_numpy(),
            fused[col].astype(float).fillna(-1).to_numpy(),
            err_msg=col,
        )
    for col in ["prev_role", "next_role", "last_tool"]:
        a, b = modular[col], fused[col]
        assert ((a.isna() & b.isna()) | (a == b)).all(), col


def test_session_threshold_agrees_at_fractional_gap(spark):
    """A gap of exactly the threshold is not a boundary: sessionize, the
    fused plan and the oracle all compare double seconds. At 1.001 s a
    microsecond cut-off would truncate to 1,000,999 us and split."""
    pdf = pd.DataFrame({
        "conv_id": ["c", "c"],
        "turn_idx": [0, 1],
        "role": ["user", "assistant"],
        "text": ["a b", "c d"],
        "tool": [None, None],
        "ts": pd.to_datetime([0, 1_001_000], unit="us"),
    })
    df = transcripts_df(spark, pdf)
    want = oracle_turn_features(pdf, gap_s=1.001)["session_id"].tolist()
    assert _sorted(sessionize(df, gap_s=1.001))["session_id"].tolist() == want
    assert _sorted(turn_features(df, gap_s=1.001))["session_id"].tolist() == want
    assert want == [0, 0]


def test_rolling_time_frame(spark, tiny_pdf):
    """W4 time-range frame vs a pandas per-conv double loop oracle."""
    df = transcripts_df(spark, tiny_pdf)
    got = _sorted(
        with_rolling_time(df, 60, {"n_60s": F.count(F.lit(1))})
    )
    ref = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = []
    for _cid, g in ref.groupby("conv_id", sort=True):
        ts = g["ts"].astype("int64").to_numpy()
        for t in ts:
            exp.append(int(((ts >= t - 60_000_000) & (ts <= t)).sum()))
    ref = ref.assign(n=exp).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (got["n_60s"].to_numpy() == ref["n"].to_numpy()).all()


def test_session_bounds(spark, tiny_pdf):
    df = sessionize(canonical_order(transcripts_df(spark, tiny_pdf)))
    b = session_bounds(df).toPandas()
    assert (b["n_turns"] >= 1).all()
    assert (b["session_start"] <= b["session_end"]).all()
    assert b.groupby("conv_id")["n_turns"].sum().sum() == len(tiny_pdf)


def test_resample_ffill_matches_pandas(spark):
    """Grid + forward-fill must equal a pandas resample-ffill reference on
    an irregular stream with gaps, timestamp ties, and one-event users."""
    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.windows import resample_ffill

    rng = np.random.default_rng(5)
    rows = []
    eid = 0
    for uid in range(6):
        n = rng.integers(1, 30)
        # seconds offsets with deliberate duplicates and big gaps
        offs = np.sort(rng.choice(np.arange(0, 3600 * 72, 60), size=n))
        for o in offs:
            rows.append((uid, int(o), float(rng.normal()), eid))
            eid += 1
    # a duplicate-timestamp pair: larger event_id must win
    rows.append((9, 100, 1.0, eid)); eid += 1
    rows.append((9, 100, 2.0, eid)); eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "off_s", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["off_s"], unit="s")
    df = spark.createDataFrame(pdf[["user_id", "ts", "value", "event_id"]])
    got = (
        resample_ffill(df, interval_s=3600, tiebreak=("event_id",))
        .toPandas()
        .sort_values(["user_id", "bucket_start_us"])
        .reset_index(drop=True)
    )

    ref_rows = []
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["off_s", "event_id"])
        buckets = g["off_s"] // 3600
        last_per_bucket = g.groupby(buckets)["value"].last()
        for b in range(int(buckets.min()), int(buckets.max()) + 1):
            in_bucket = b in last_per_bucket.index
            carried = last_per_bucket.loc[:b].iloc[-1]
            ref_rows.append((uid, b * 3600 * 1_000_000, carried, int(not in_bucket)))
    ref = pd.DataFrame(
        ref_rows, columns=["user_id", "bucket_start_us", "value", "is_gap"]
    ).sort_values(["user_id", "bucket_start_us"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"is_gap": "int64"}), ref.astype({"is_gap": "int64"})
    )
    assert got[got.user_id == 9]["value"].iloc[0] == 2.0  # tiebreak: larger event_id


def test_ohlc_buckets_matches_pandas(spark):
    """W18: OHLC panel equals a pandas reference; ties on the timestamp
    resolve by the tiebreak column (pinned); NULL values are weightless
    but counted, and an all-NULL bucket keeps its row with NULL
    o/h/l/c."""
    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.windows import ohlc_buckets

    rng = np.random.default_rng(151)
    n = 2000
    base = 1_700_000_000
    pdf = pd.DataFrame({
        "event_id": np.arange(n),
        "e": rng.choice(["u1", "u2"], n),
        # coarse second grid forces duplicate timestamps -> tie rule
        "ts": pd.to_datetime(
            base + rng.integers(0, 7200, n) // 10 * 10, unit="s"),
        "v": np.round(rng.normal(5, 2, n), 2),
    })
    pdf.loc[rng.choice(n, 100, replace=False), "v"] = None
    # one bucket that is entirely NULL (dtype pinned to float64 so the
    # concat of an all-NA column stays warning-free under pandas 2.x)
    allnull_ts = pd.to_datetime(base + 4 * 3600, unit="s")
    pdf = pd.concat([pdf, pd.DataFrame({
        "event_id": [n, n + 1], "e": ["u1", "u1"],
        "ts": [allnull_ts, allnull_ts],
        "v": np.array([np.nan, np.nan], dtype="float64")})],
        ignore_index=True)
    got = (
        ohlc_buckets(spark.createDataFrame(pdf), "e", "ts", "v",
                     "event_id", interval_s=3600, scale=100)
        .toPandas().set_index(["e", "bucket"]).sort_index()
    )
    pdf["x"] = (pdf["v"] * 100).round()
    pdf["u"] = pdf["ts"].astype("int64") // 1000
    pdf["bucket"] = pdf["u"] // 3_600_000_000
    for (e, b), grp in pdf.groupby(["e", "bucket"]):
        row = got.loc[(e, b)]
        nn = grp.dropna(subset=["x"]).sort_values(["u", "event_id"])
        assert row["n_obs"] == len(nn)
        assert row["n_null"] == grp["x"].isna().sum()
        if len(nn):
            assert row["open_x"] == nn.iloc[0]["x"]
            assert row["close_x"] == nn.iloc[-1]["x"]
            assert row["low_x"] == nn["x"].min()
            assert row["high_x"] == nn["x"].max()
        else:
            assert pd.isna(row["open_x"]) and pd.isna(row["close_x"])
            assert pd.isna(row["low_x"]) and pd.isna(row["high_x"])
    assert len(got) == pdf.groupby(["e", "bucket"]).ngroups
