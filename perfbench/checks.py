"""Correctness checks for one pass's output, run outside the timed window.

Each checker takes the pass output as pandas frames plus the oracle answer
from ``inputs.prepare`` and returns a list of failure messages; an empty
list means the pass is correct. The checkers import nothing from Spark, so
the self-tests can feed them deliberately perturbed results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from tgist_features_spark.plans.backfill import FEATURE_COLS

N_FEATURES = len(FEATURE_COLS)
RECALL_FLOOR = 0.9  # the planted-pair gate tests/test_recall.py uses


def read_parquet_dir(path: str, partitioning: str | None = None) -> pd.DataFrame:
    """Every parquet part file under ``path`` (Spark's own marker files
    skipped) as one pandas frame."""
    dataset = ds.dataset(path, format="parquet", partitioning=partitioning,
                         exclude_invalid_files=True,
                         ignore_prefixes=["_", "."])
    return dataset.to_table().to_pandas()


def ts_us(s: pd.Series) -> np.ndarray:
    """Timestamps (naive or UTC) as int64 microseconds; null -> -1."""
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_localize(None)
    v = s.astype("datetime64[us]")
    return np.where(v.isna(), -1, v.to_numpy().astype(np.int64))


def feature_matrix(vectors: pd.Series) -> np.ndarray:
    """array<double> column -> (n, 11) float matrix; null (or NaN) arrays
    and null elements become NaN."""
    mat = np.full((len(vectors), N_FEATURES), np.nan)
    for i, vec in enumerate(vectors.to_numpy()):
        if vec is not None:
            mat[i] = np.asarray(vec, dtype=np.float64)
    return mat


def _compare_features(got: np.ndarray, want: np.ndarray, label: str) -> list[str]:
    bad_null = np.isnan(got) != np.isnan(want)
    close = np.isclose(np.nan_to_num(got), np.nan_to_num(want))  # allclose's tolerances
    bad = bad_null | ~close
    if bad.any():
        rows = np.flatnonzero(bad.any(axis=1))
        return [f"{label}: {len(rows)} rows differ from the oracle "
                f"(first at row {rows[0]})"]
    return []


def check_backfill(out: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Per-query_id allclose against ``oracle_backfill`` (nulls where the
    oracle has nulls) and zero leakage: matched ts <= query_ts everywhere."""
    errors = []
    if len(out) != len(oracle):
        errors.append(f"backfill: {len(out)} rows, oracle has {len(oracle)}")
    if out["query_id"].duplicated().any():
        errors.append("backfill: duplicate query_id in output")
    got = out.set_index("query_id")
    want = oracle.set_index("query_id")
    missing = want.index.difference(got.index)
    if len(missing):
        errors.append(f"backfill: {len(missing)} probes missing from output")
        return errors
    got = got.loc[want.index]
    ts = ts_us(got["ts"])
    qts = ts_us(got["query_ts"])
    matched = ts >= 0
    leaks = int((matched & (ts > qts)).sum())
    if leaks:
        errors.append(f"backfill: {leaks} matches from the future (ts > query_ts)")
    if not np.array_equal(ts, want["ts_us"].to_numpy()):
        errors.append("backfill: matched ts differs from the oracle")
    gti = got["turn_idx"].astype("float64").to_numpy()
    wti = want["turn_idx"].to_numpy()
    if not np.array_equal(np.isnan(gti), np.isnan(wti)) or not np.array_equal(
        np.nan_to_num(gti), np.nan_to_num(wti)
    ):
        errors.append("backfill: matched turn_idx differs from the oracle")
    want_mat = want[[f"f{j}" for j in range(N_FEATURES)]].to_numpy()
    errors += _compare_features(feature_matrix(got["feature_vec"]), want_mat, "backfill")
    return errors


def check_materialize(features: pd.DataFrame, manifest: pd.DataFrame,
                      oracle: pd.DataFrame, n_buckets: int) -> list[str]:
    """The written features table matches ``oracle_turn_features`` per turn;
    every bucket appears in the manifest exactly once per snapshot; the
    manifest's rows_out sum equals the input turn count."""
    errors = []
    n_turns = len(oracle)
    keys = ["conv_id", "turn_idx"]
    if features.duplicated(keys).any():
        errors.append("materialize: duplicate (conv_id, turn_idx) in the table")
    merged = oracle.merge(features[[*keys, "feature_vec"]], on=keys, how="left",
                          indicator=True)
    missing = int((merged["_merge"] != "both").sum())
    if missing or len(features) != n_turns:
        errors.append(f"materialize: table has {len(features)} rows, "
                      f"{missing} of {n_turns} turns missing")
    else:
        want = merged[[f"f{j}" for j in range(N_FEATURES)]].to_numpy()
        errors += _compare_features(feature_matrix(merged["feature_vec"]), want,
                                    "materialize")
    for snap, rows in manifest.groupby("snapshot_id"):
        counts = rows["bucket"].value_counts()
        if sorted(counts.index) != list(range(n_buckets)) or (counts != 1).any():
            errors.append(f"materialize: snapshot {snap} manifest buckets are "
                          f"not each present exactly once")
        if int(rows["rows_out"].sum()) != n_turns:
            errors.append(f"materialize: manifest rows_out sums to "
                          f"{int(rows['rows_out'].sum())}, input has {n_turns}")
    if manifest.empty:
        errors.append("materialize: empty manifest")
    return errors


def check_dedup(kept: pd.DataFrame, drops: pd.DataFrame, n_docs: int,
                exact_dups: int, planted: pd.DataFrame) -> list[str]:
    """kept + dropped partitions the input; the exact-drop count equals
    pandas' duplicate-text count; planted near-pair recall >= 0.9."""
    errors = []
    kept_ids = kept["doc_id"].to_numpy()
    drop_ids = drops["doc_id"].to_numpy()
    if not np.array_equal(np.sort(np.concatenate([kept_ids, drop_ids])),
                          np.arange(n_docs)):
        errors.append(f"dedup: kept ({len(kept_ids)}) + dropped "
                      f"({len(drop_ids)}) do not partition {n_docs} docs")
    n_exact = int((drops["reason"] == "exact").sum())
    if n_exact != exact_dups:
        errors.append(f"dedup: {n_exact} exact drops, pandas counts {exact_dups}")
    if len(planted):
        recall = float(np.isin(planted["copy_id"].to_numpy(), drop_ids).mean())
        if recall < RECALL_FLOOR:
            errors.append(f"dedup: planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
    return errors

