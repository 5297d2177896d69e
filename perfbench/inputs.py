"""Seeded inputs and oracle answers for the benchmark workloads.

Every input comes from ``sources/corpus.py``'s transcript generator, called
with the run's seed. Sizes are pinned per workload (``SIZES``) so that the
per-seed Zipf draw changes *which* conversations exist, not how many turns a
pass processes: conversations are taken in id order until the turn budget is
met, and the last one is cut at the budget.

Generated inputs and oracle answers are cached under the work directory,
keyed by the workload, the seed and every generator parameter (see
``cache_key``), so two runs with different seeds never share a cache entry.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tgist_features_spark.oracle.pandas_oracle import (
    oracle_backfill,
    oracle_turn_features,
)
from tgist_features_spark.plans.backfill import FEATURE_COLS
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    generate_transcripts_pdf,
)

from perfbench.checks import feature_matrix, ts_us

# Per-workload generator parameters. "full" is what the benchmark measures;
# "tiny" is for the self-tests. Changing a value changes the cache key.
_DOCS = {"exact_share": 0.03, "near_share": 0.03, "near_min_tokens": 30}
SIZES = {
    "full": {
        "backfill": {"turns": 40_000, "probes": 2_000},
        "materialize": {"turns": 16_000, "buckets": 16, "crash_after": 8},
        # one conversation holds hot_multiple x hot_threshold turns, which
        # is 3/4 of the corpus; the rest are ordinary conversations
        "hot_backfill": {"hot_threshold": 5_000, "hot_multiple": 4,
                         "probes": 2_000},
        "dedup": {"docs": 30_000, **_DOCS},
        # materialize (crash + resume) a skewed corpus, backfill probes from
        # the written table through the skew route, then dedup documents
        "pipeline": {"hot_threshold": 1_500, "hot_multiple": 4, "probes": 1_000,
                     "buckets": 16, "crash_after": 8, "docs": 6_000, **_DOCS},
    },
    "tiny": {
        "backfill": {"turns": 3_000, "probes": 200},
        "materialize": {"turns": 3_000, "buckets": 4, "crash_after": 2},
        "hot_backfill": {"hot_threshold": 600, "hot_multiple": 4,
                         "probes": 200},
        "dedup": {"docs": 3_000, **_DOCS},
        "pipeline": {"hot_threshold": 300, "hot_multiple": 4, "probes": 200,
                     "buckets": 4, "crash_after": 2, "docs": 2_000, **_DOCS},
    },
}

# bumped whenever the generation code below changes meaning
GENERATOR_VERSION = 2


def cache_key(workload: str, seed: int, params: dict) -> str:
    blob = json.dumps(
        {"v": GENERATOR_VERSION, "workload": workload, "seed": seed, **params},
        sort_keys=True,
    )
    return f"{workload}-{seed}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def pinned_transcripts(seed: int, n_turns: int) -> pd.DataFrame:
    """Exactly ``n_turns`` turns from the seeded generator, shuffled."""
    n_convs = max(8, n_turns // 50)
    while True:
        pdf = generate_transcripts_pdf(n_convs=n_convs, seed=seed, shuffled=False)
        if len(pdf) >= n_turns:
            break
        n_convs *= 2
    # unshuffled output is in (conv, turn_idx) order, so the first n_turns
    # rows are whole conversations plus a prefix of the last one
    pdf = pdf.iloc[:n_turns]
    rng = np.random.default_rng(seed)
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def hot_transcripts(seed: int, hot_rows: int, cold_rows: int) -> pd.DataFrame:
    """Cold conversations plus ONE conversation of exactly ``hot_rows`` turns.

    The hot conversation is built by laying a second seeded corpus end to
    end in time: turn_idx runs 0..hot_rows-1, timestamps keep each source
    conversation's own gaps and put 60 s between source conversations, so
    (conv_id, turn_idx) stays unique and ts is non-decreasing in turn_idx.
    """
    cold = pinned_transcripts(seed, cold_rows)
    src = pinned_transcripts(seed + 7919, hot_rows)
    src = src.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    ts = src["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    gap = np.diff(ts, prepend=ts[0])
    first = src["conv_id"].to_numpy() != np.roll(src["conv_id"].to_numpy(), 1)
    gap[first] = 60_000_000
    gap[0] = 0
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    hot = src.assign(
        conv_id="h0000000",
        turn_idx=np.arange(hot_rows, dtype=np.int32),
        ts=(start + np.cumsum(gap)).astype("datetime64[us]"),
    )
    both = pd.concat([cold, hot], ignore_index=True)
    rng = np.random.default_rng(seed + 1)
    return both.iloc[rng.permutation(len(both))].reset_index(drop=True)


def dedup_docs(seed: int, n_docs: int, exact_share: float, near_share: float,
               near_min_tokens: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Turn texts as documents, plus planted exact and near-duplicate copies.

    A near copy replaces one word of a source text of at least
    ``near_min_tokens`` words, which keeps its word-3-gram Jaccard with the
    source at or above ~0.8. Copies get larger doc_ids than every original,
    so a keep-first policy drops the copy. Returns (docs, planted) where
    ``planted`` lists (src_id, copy_id) near pairs.
    """
    texts = pinned_transcripts(seed, n_docs)["text"].to_numpy(dtype=object)
    rng = np.random.default_rng(seed + 2)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    exact_src = rng.choice(n_docs, size=n_exact, replace=False)
    long_ids = np.flatnonzero([len(t.split(" ")) >= near_min_tokens for t in texts])
    near_src = rng.choice(long_ids, size=min(n_near, len(long_ids)), replace=False)
    vocab = sorted({w for t in texts[near_src] for w in t.split(" ")})
    near_txt = []
    for i in near_src:
        words = texts[i].split(" ")
        pos = int(rng.integers(len(words)))
        choices = [w for w in vocab if w != words[pos]]
        words[pos] = choices[int(rng.integers(len(choices)))]
        near_txt.append(" ".join(words))
    all_text = np.concatenate([texts, texts[exact_src], np.array(near_txt, dtype=object)])
    ids = np.arange(len(all_text), dtype=np.int64)
    near_ids = ids[n_docs + n_exact:]
    docs = pd.DataFrame({"doc_id": ids, "text": all_text})
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    planted = pd.DataFrame({"src_id": near_src.astype(np.int64), "copy_id": near_ids})
    return docs, planted


def _write_parquet(pdf: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write ``pdf`` as ``files`` parquet files; timestamps are stored as
    UTC instants, as the Spark-written bench corpus stores them."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    fields = [
        pa.field(f.name, pa.timestamp("us", tz="UTC"))
        if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]
    table = table.cast(pa.schema(fields))
    step = -(-len(pdf) // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _features_frame(feats: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Oracle rows as flat columns: keys + f0..f10 (NaN where null)."""
    out = feats[keys].copy()
    mat = feature_matrix(feats["feature_vec"])  # unmatched probes carry NaN
    for j in range(len(FEATURE_COLS)):
        out[f"f{j}"] = mat[:, j]
    return out


def _backfill_oracle(transcripts: pd.DataFrame, probes: pd.DataFrame) -> pd.DataFrame:
    got = oracle_backfill(oracle_turn_features(transcripts), probes)
    flat = _features_frame(got, ["query_id"])
    flat["query_ts_us"] = ts_us(got["query_ts"])
    flat["ts_us"] = ts_us(got["ts"])
    flat["turn_idx"] = got["turn_idx"].astype("float64").to_numpy()
    return flat


def _materialize_oracle(transcripts: pd.DataFrame) -> pd.DataFrame:
    return _features_frame(oracle_turn_features(transcripts), ["conv_id", "turn_idx"])


def prepare(work: str, workload: str, seed: int, scale: str) -> dict:
    """Generate (or reuse) the workload's inputs and oracle answers.

    Returns a dict with the input paths, the oracle frame(s) and ``sizes``,
    the actual input counts that go into the run record.
    """
    params = SIZES[scale][workload]
    key = cache_key(workload, seed, params)
    root = os.path.join(work, "inputs", key)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = root + ".partial"
        _generate(tmp, workload, seed, params)
        os.replace(tmp, root)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta.update(root=root, key=key, params=params)
    meta["oracle"] = {
        name: pd.read_parquet(os.path.join(root, f"oracle_{name}.parquet"))
        for name in meta["oracle_tables"]
    }
    return meta


def _generate(root: str, workload: str, seed: int, p: dict) -> None:
    """Write the inputs a workload's parameters ask for: transcripts
    ("turns", or "hot_threshold" for the skewed corpus), probes, documents;
    plus the matching oracle answers."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    oracle: dict[str, pd.DataFrame] = {}
    sizes = {"transcript_turns": 0, "probes": 0, "hot_rows": 0, "docs": 0,
             "planted_pairs": 0, "exact_dups": 0}
    tr = None
    if "hot_threshold" in p:
        sizes["hot_rows"] = hot = p["hot_threshold"] * p["hot_multiple"]
        tr = hot_transcripts(seed, hot, hot // 3)
    elif "turns" in p:
        tr = pinned_transcripts(seed, p["turns"])
    if tr is not None:
        _write_parquet(tr, os.path.join(root, "transcripts"))
        sizes["transcript_turns"] = len(tr)
    if "buckets" in p:
        oracle["features"] = _materialize_oracle(tr)
    if "probes" in p:
        pr = generate_queries_pdf(tr, n_queries=p["probes"], seed=seed + 1)
        _write_parquet(pr, os.path.join(root, "queries"), files=2)
        oracle["backfill"] = _backfill_oracle(tr, pr)
        sizes["probes"] = len(pr)
    if "docs" in p:
        docs, planted = dedup_docs(seed, p["docs"], p["exact_share"],
                                   p["near_share"], p["near_min_tokens"])
        _write_parquet(docs, os.path.join(root, "docs"))
        oracle["planted"] = planted
        sizes.update(docs=len(docs), planted_pairs=len(planted),
                     exact_dups=int(len(docs) - docs["text"].nunique()))
    # the rows one pass reads: every turn once, every document once
    sizes["turns"] = sizes["transcript_turns"] + sizes["docs"]
    for name, frame in oracle.items():
        frame.to_parquet(os.path.join(root, f"oracle_{name}.parquet"), index=False)
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump({"sizes": sizes, "oracle_tables": sorted(oracle)}, fh)
