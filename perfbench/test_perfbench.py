"""Self-tests of the benchmark, at tiny scale.

    python3 -m pytest perfbench -q

* the correctness checkers reject deliberately perturbed results (a shifted
  feature value, a match taken from the future, a lost turn, a doc that is
  both kept and dropped);
* every workload runs end to end and reports every metric BENCHMARK.json
  names, and every physical node of its plans maps to a layer.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.trace import parse_metric, plan_counts  # noqa: E402
from tgist_features_spark.oracle.pandas_oracle import oracle_turn_features  # noqa: E402
from tgist_features_spark.sources.corpus import generate_queries_pdf  # noqa: E402


@pytest.fixture(scope="module")
def backfill_case():
    tr = inputs.pinned_transcripts(7, 600)
    pr = generate_queries_pdf(tr, n_queries=120, seed=8)
    oracle = inputs._backfill_oracle(tr, pr)
    return tr, pr, oracle


def _engine_like(oracle: pd.DataFrame, probes: pd.DataFrame) -> pd.DataFrame:
    """The output schema the engine writes, filled with the oracle answer."""
    out = probes.merge(oracle, on="query_id")
    vecs = oracle[[f"f{j}" for j in range(checks.N_FEATURES)]].to_numpy()
    by_q = dict(zip(oracle["query_id"], vecs))
    ts = pd.to_datetime(out["ts_us"].where(out["ts_us"] >= 0), unit="us")
    return pd.DataFrame({
        "conv_id": out["conv_id"],
        "query_ts": out["query_ts"],
        "query_id": out["query_id"],
        "ts": ts,
        "turn_idx": out["turn_idx"],
        "feature_vec": [None if t < 0 else list(by_q[q])
                        for q, t in zip(out["query_id"], out["ts_us"])],
    })


def test_backfill_checker_accepts_the_oracle(backfill_case):
    tr, pr, oracle = backfill_case
    assert checks.check_backfill(_engine_like(oracle, pr), oracle) == []


def test_backfill_checker_rejects_a_shifted_value(backfill_case):
    tr, pr, oracle = backfill_case
    out = _engine_like(oracle, pr)
    row = int(np.flatnonzero(out["feature_vec"].notna())[0])
    vec = list(out.at[row, "feature_vec"])
    vec[1] += 1.0  # turn_no off by one
    out.at[row, "feature_vec"] = vec
    errors = checks.check_backfill(out, oracle)
    assert any("differ from the oracle" in e for e in errors), errors


def test_backfill_checker_rejects_a_future_match(backfill_case):
    tr, pr, oracle = backfill_case
    out = _engine_like(oracle, pr)
    feats = oracle_turn_features(tr)
    # a probe whose conversation has a turn after its query_ts: attach that
    # later turn, the way a leaking join would
    for row in np.flatnonzero(out["feature_vec"].notna()):
        conv, qts = out.at[row, "conv_id"], out.at[row, "query_ts"]
        later = feats[(feats["conv_id"] == conv) & (feats["ts"] > qts)]
        if len(later):
            nxt = later.iloc[0]
            out.at[row, "ts"] = nxt["ts"]
            out.at[row, "turn_idx"] = nxt["turn_idx"]
            out.at[row, "feature_vec"] = list(nxt["feature_vec"])
            break
    else:
        pytest.fail("fixture has no probe with a later turn")
    errors = checks.check_backfill(out, oracle)
    assert any("from the future" in e for e in errors), errors


def test_materialize_checker_rejects_a_lost_turn_and_a_double_bucket():
    tr = inputs.pinned_transcripts(9, 300)
    oracle = inputs._materialize_oracle(tr)
    feats = oracle_turn_features(tr)[["conv_id", "turn_idx", "feature_vec"]]
    feats = feats.assign(feature_vec=feats["feature_vec"].map(list))
    manifest = pd.DataFrame({"snapshot_id": "s", "bucket": range(4),
                             "rows_out": [75, 75, 75, 75]})
    assert checks.check_materialize(feats, manifest, oracle, 4) == []
    assert checks.check_materialize(feats.iloc[1:], manifest, oracle, 4)
    doubled = pd.concat([manifest, manifest.iloc[:1]])
    assert checks.check_materialize(feats, doubled, oracle, 4)


def test_dedup_checker_rejects_a_broken_partition():
    kept = pd.DataFrame({"doc_id": [0, 1, 2]})
    drops = pd.DataFrame({"doc_id": [3, 4], "reason": ["exact", "near"]})
    planted = pd.DataFrame({"src_id": [0], "copy_id": [4]})
    assert checks.check_dedup(kept, drops, 5, 1, planted) == []
    assert checks.check_dedup(pd.DataFrame({"doc_id": [0, 1, 2, 3]}), drops, 5, 1, planted)
    assert checks.check_dedup(kept, drops.assign(reason="near"), 5, 1, planted)


def test_cache_key_covers_seed_and_every_parameter():
    p = inputs.SIZES["full"]["backfill"]
    base = inputs.cache_key("backfill", 1, p)
    assert base != inputs.cache_key("backfill", 2, p)
    assert base != inputs.cache_key("backfill", 1, {**p, "probes": p["probes"] + 1})


def test_metric_parsing_and_plan_counts():
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.1 s (40 ms, 398 ms, 585 ms (stage 3.0: task 10))") == (1100.0, {3})
    assert parse_metric("6.4 MiB") == (6.4 * (1 << 20), set())
    assert parse_metric("139,528") == (139528.0, set())
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan (3)\n+- Exchange (2)\n"
            "   +- Scan parquet  (1)\n\n\n(2) Exchange\n"
            "Arguments: rangepartitioning(conv_id#0 ASC NULLS FIRST, 8)\n")
    assert plan_counts(plan)["range_exchanges"] == 1


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize(
    "workload", ["backfill", "materialize", "hot_backfill", "dedup", "pipeline"])
def test_workload_runs_end_to_end(workload):
    spec = _bench_spec()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", "1", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    assert record["error_rate"] == 0.0
    for m in spec["per_layer"]:
        assert m["name"] in result["metrics"], m["name"]
    for m in spec["end_to_end"]:
        assert m["name"] in record["end_to_end"], m["name"]
        assert record["end_to_end"][m["name"]] > 0, m["name"]
    # every physical node of every plan maps to a layer
    assert record["trace_detail"]["unmapped"] == []
    assert result["metrics"]["trace.unmapped_nodes"]["value"] == 0
    for stamp in ("nproc", "master", "loadavg_start", "loadavg_end",
                  "commit", "seed", "sizes"):
        assert stamp in record, stamp
