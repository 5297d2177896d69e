"""Dedup/similarity sanity, partition-pruned scans, fused doc features,
JSONL quarantine, TableIO layout/upsert/compaction contracts and range-join
refusals."""

from __future__ import annotations

import io as _io
import contextlib

import pandas as pd
from pyspark.sql import functions as F

from tgist_features_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from tgist_features_spark.operators.similarity import cosine_topk, queries_from_ids
from tgist_features_spark.sources.table_io import TableIO


def test_exact_dedup_finds_duplicates(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4], "text": ["same text", "same text", "other", "third"]}
    )
    out = exact_dedup(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 3
    dup = out[out["n"] == 2]
    assert len(dup) == 1 and dup["keep_id"].iloc[0] == 1


def test_minhash_detects_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark engines and parquet files"
    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    pairs = minhash_lsh_pairs(
        spark.createDataFrame(pdf), min_est_jaccard=0.3
    ).toPandas()
    assert ((pairs["a"] == 1) & (pairs["b"] == 2)).any()
    assert not ((pairs["b"] == 3) | (pairs["a"] == 3)).any()


def test_simhash_near_pairs(spark):
    # 60 shared tokens + 1 differing keeps the pair inside the 4x16-bit
    # pigeonhole guarantee (hamming<=3 ==> >=1 band equal ==> candidate);
    # larger hamming budgets are best-effort by design
    base = " ".join(f"tok{i}" for i in range(60))
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [base + " s0", base + " s3", "unrelated words here"]}
    )
    pairs = simhash_near_pairs(spark.createDataFrame(pdf), max_hamming=3).toPandas()
    assert len(pairs) == 1
    assert (pairs["a"].iloc[0], pairs["b"].iloc[0]) == (1, 2)
    assert pairs["hamming"].iloc[0] <= 3


def test_simhash_signature_matches_duckdb(spark):
    """Golden cross-engine pin: the md5-token SimHash must be bit-for-bit
    reproducible by an independent SQL engine (this is what makes the
    driver's exhaustive dedup_simhash oracle possible). Covers duplicate
    tokens, empty text, and runs of spaces (string_split semantics)."""
    import duckdb

    from tgist_features_spark.operators.dedup import simhash_signatures

    texts = [
        "the quick brown fox jumps over the lazy dog the the",
        "one two three",
        "",
        "x  y",  # double space -> '' token under string_split semantics
        "solo",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = (
        simhash_signatures(spark.createDataFrame(pdf))
        .toPandas()
        .sort_values("id")["simhash"]
        .to_numpy()
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    ref = con.sql(
        """
        WITH toks AS (SELECT doc_id, unnest(string_split(coalesce(text,''), ' ')) AS tok FROM docs),
        h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv FROM toks),
        bits AS (SELECT doc_id, j, SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                 FROM h, LATERAL (SELECT unnest(range(0, 64)) AS j) t(j) GROUP BY doc_id, j),
        sig AS (SELECT doc_id, SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << j)::HUGEINT ELSE 0 END) AS s
                FROM bits GROUP BY doc_id)
        SELECT doc_id, CAST(CASE WHEN s >= 9223372036854775808 THEN s - 18446744073709551616
                                 ELSE s END AS BIGINT) AS sig
        FROM sig ORDER BY doc_id
        """
    ).df()["sig"].to_numpy()
    assert (got == ref).all(), f"{got} vs {ref}"


def test_cosine_topk_selfsimilar(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
        }
    )
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    out = cosine_topk(df, queries_from_ids(df, [0]), k=2).toPandas()
    assert out[out["rank"] == 1]["neighbor_id"].iloc[0] == 1
    assert out[out["rank"] == 2]["neighbor_id"].iloc[0] == 2


def test_partition_pruned_scan(spark, tiny_pdf, tmp_path):
    """S2: a day-filter on the bucketed/day-partitioned sink layout must
    prune at the partition level (PartitionFilters, not a full scan)."""
    from tgist_features_spark.sources.corpus import transcripts_df

    io = TableIO(spark, str(tmp_path), n_buckets=4)
    io.write(transcripts_df(spark, tiny_pdf), "t")
    day = tiny_pdf["ts"].dt.date.mode()[0]
    df = spark.read.parquet(io.path("t")).filter(F.col("day") == F.lit(str(day)))
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "day" in plan
    got = df.count()
    expected = int((tiny_pdf["ts"].dt.date == day).sum())
    assert got == expected


def test_doc_features_fused_plan(spark):
    """The fused per-document pass must (a) carry every feature column,
    (b) agree with the individually-oracle-gated pieces, and (c) stay a
    single scan with no shuffle (pure projection + one Arrow UDF)."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from tgist_features_spark.plans.doc_features import DOC_FEATURE_COLS, doc_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = doc_features(docs)
    assert set(DOC_FEATURE_COLS) <= set(out.columns)
    pdf = out.select("doc_id", "fp", "plen", "n_tokens", "lang_pred").toPandas()
    assert len(pdf) == docs.count()
    assert pdf["fp"].notna().all() and pdf["lang_pred"].notna().all()
    # cross-check one column against the standalone fingerprint query shape
    md5 = docs.select("doc_id", F.md5("text").alias("fp")).toPandas()
    merged = pdf.merge(md5, on="doc_id", suffixes=("", "_ref"))
    assert (merged["fp"] == merged["fp_ref"]).all()
    # plan: no exchange anywhere — scan -> project -> (ArrowEval) only
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from tgist_features_spark.sources.jsonl import read_jsonl, write_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        'not json at all\n'
        '{"doc_id": 2, "text": "beta"}\n'
        '{"doc_id": "oops-not-long", "text": 3}\n'
    )
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    clean, corrupt = read_jsonl(spark, str(p), schema)
    got = clean.toPandas().sort_values("doc_id")
    assert got["doc_id"].tolist() == [1, 2]
    assert got["text"].tolist() == ["alpha", "beta"]
    assert corrupt.count() == 2  # the non-JSON line AND the type-mismatch line

    # round trip
    out = tmp_path / "export"
    write_jsonl(clean, str(out))
    back, bad = read_jsonl(spark, str(out), schema)
    assert bad.count() == 0
    assert sorted(r["doc_id"] for r in back.collect()) == [1, 2]


def test_table_io_compact_preserves_data_and_layout(spark, tiny_pdf, tmp_path):
    """Compaction must collapse many small files into few, keep the
    bucket=/day= directory layout, and change NOTHING about the rows."""
    import os

    from tgist_features_spark.sources.corpus import transcripts_df

    io_ = TableIO(spark, str(tmp_path), n_buckets=4)
    t = transcripts_df(spark, tiny_pdf)
    # simulate a streaming sink: many tiny appends
    for i in range(5):
        io_.write(t.limit(200), "t", mode="append" if i else "overwrite")
    src = io_.path("t")
    before_files = sum(
        1 for _dp, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    before = (
        spark.read.parquet(src).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    after_files = io_.compact("t", target_file_mb=128)
    assert after_files < before_files
    assert any(d.startswith("bucket=") for d in os.listdir(src))
    after = (
        spark.read.parquet(src).toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(after) == len(before)
    assert (after["conv_id"].to_numpy() == before["conv_id"].to_numpy()).all()
    assert (after["text"].to_numpy() == before["text"].to_numpy()).all()


def test_table_io_upsert_rejects_null_keys(spark, tmp_path):
    """Review finding: NULL merge keys can never match the replace
    anti-join (old NULL rows would accumulate) and count_distinct would
    have misreported them as duplicates — refuse with the real reason."""
    import pandas as pd
    import pytest as _pt

    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=4)
    io_.upsert(
        spark.createDataFrame(pd.DataFrame({"conv_id": ["a", "b"], "v": [1, 2]})),
        "t",
    )
    bad = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c", None], "v": [3, 4]}),
        schema="conv_id string, v long",
    )
    with _pt.raises(ValueError, match="NULL"):
        io_.upsert(bad, "t")


def test_table_io_orc_roundtrip(spark, tmp_path):
    """TableIO(fmt='orc'): bucket x day layout, read-back parity with the
    parquet path, exists() recognition, and compact() on ORC files."""
    import pandas as pd
    import pytest as _pt

    from tgist_features_spark.sources.table_io import TableIO

    pdf = pd.DataFrame({
        "conv_id": [f"c{i % 4}" for i in range(64)],
        "ts": pd.to_datetime(1_700_000_000 + pd.Series(range(64)) * 86_400, unit="s"),
        "v": range(64),
    })
    df = spark.createDataFrame(pdf)
    io_orc = TableIO(spark, str(tmp_path / "orc_wh"), n_buckets=4, fmt="orc")
    io_pq = TableIO(spark, str(tmp_path / "pq_wh"), n_buckets=4)
    io_orc.write(df, "t")
    io_pq.write(df, "t")
    assert io_orc.exists("t")
    a = io_orc.read("t").toPandas().sort_values("v").reset_index(drop=True)
    b = io_pq.read("t").toPandas().sort_values("v").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])
    n = io_orc.compact("t", target_file_mb=512)
    assert n >= 1
    after = io_orc.read("t").toPandas().sort_values("v").reset_index(drop=True)
    pd.testing.assert_frame_equal(after[sorted(after.columns)], b[sorted(b.columns)])
    with _pt.raises(ValueError):
        TableIO(spark, str(tmp_path), fmt="avro")


def test_table_io_compact_heals_post_swap_crash(spark, tiny_pdf, tmp_path):
    """A crash AFTER the rename swap but before cleanup leaves a stale
    <table>__precompact beside the new table; the next compact must
    discard it and proceed (a review finding: the old code failed on a
    non-empty rename destination), and the upsert-key marker must survive
    because it is copied into the replacement BEFORE the swap."""
    import os
    import shutil

    import pandas as pd

    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=4)
    base = pd.DataFrame({"conv_id": [f"c{i}" for i in range(32)], "v": range(32)})
    io_.upsert(spark.createDataFrame(base), "t")  # writes the _upsert_key marker
    src = io_.path("t")
    # simulate the post-swap crash window: a superseded snapshot lingers
    shutil.copytree(src, src + "__precompact")
    n = io_.compact("t")
    assert n >= 1
    assert not os.path.isdir(src + "__precompact"), "stale snapshot not reclaimed"
    assert os.path.exists(os.path.join(src, "_upsert_key")), "marker lost in swap"
    got = io_.read("t").toPandas().set_index("conv_id")["v"].to_dict()
    assert got == {f"c{i}": i for i in range(32)}
    # marker still authoritative: a follow-up upsert works
    io_.upsert(spark.createDataFrame(pd.DataFrame({"conv_id": ["c1"], "v": [100]})), "t")
    assert io_.read("t").toPandas().set_index("conv_id")["v"].to_dict()["c1"] == 100


def test_table_io_upsert_rejects_duplicate_delta_keys(spark, tmp_path):
    """MERGE needs one row per key in the delta — a duplicate would
    survive the anti-join+union as duplicate rows (review finding); the
    operator must refuse rather than silently violate the docstring."""
    import pandas as pd
    import pytest as _pt

    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=4)
    base = pd.DataFrame({"conv_id": ["a", "b"], "v": [1, 2]})
    io_.upsert(spark.createDataFrame(base), "t")
    dup = pd.DataFrame({"conv_id": ["a", "a", "c"], "v": [10, 11, 3]})
    with _pt.raises(ValueError, match="distinct"):
        io_.upsert(spark.createDataFrame(dup), "t")
    # table unchanged by the refused merge
    assert io_.read("t").toPandas().set_index("conv_id")["v"].to_dict() == {
        "a": 1, "b": 2,
    }


def test_table_io_upsert_touches_only_delta_buckets(spark, tmp_path):
    """Keyed MERGE: replaced keys update, new keys insert, untouched rows
    survive, and bucket partitions outside the delta's hash spread keep
    their files byte-untouched (mtime check — the partition-scoped-rewrite
    guarantee that makes upsert delta-sized at 100 TB)."""
    import os
    import time

    import pandas as pd
    import pytest as _pt

    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=8)
    base = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(64)],
        "v": list(range(64)),
    })
    io_.upsert(spark.createDataFrame(base), "t")  # bootstrap path
    tdir = io_.path("t")
    before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _d, fs in os.walk(tdir)
        for f in fs
        if not f.startswith(("_", "."))
    }
    time.sleep(1.1)

    delta = pd.DataFrame({"conv_id": ["c3", "c7", "NEW"], "v": [300, 700, 999]})
    res = io_.upsert(spark.createDataFrame(delta), "t")
    assert res["rows_upserted"] == 3 and 1 <= res["buckets_touched"] <= 3

    got = io_.read("t").toPandas().set_index("conv_id")["v"].to_dict()
    want = {f"c{i}": i for i in range(64)}
    want.update({"c3": 300, "c7": 700, "NEW": 999})
    assert got == want

    # buckets outside the delta spread: files untouched
    from pyspark.sql import functions as F

    touched = {
        int(r[0])
        for r in spark.createDataFrame(delta)
        .select(F.pmod(F.xxhash64("conv_id"), F.lit(8)))
        .distinct()
        .collect()
    }
    for path, mt in before.items():
        bucket = int(path.split("bucket=")[1].split(os.sep)[0])
        if bucket not in touched:
            assert os.path.getmtime(path) == mt, f"bucket {bucket} rewritten"

    # non-bucketed table: refuse the silent full rewrite
    spark.createDataFrame(base).write.mode("overwrite").parquet(io_.path("flat"))
    with _pt.raises(ValueError):
        io_.upsert(spark.createDataFrame(delta), "flat")


def test_table_io_upsert_key_contract_and_day_refusal(spark, tmp_path):
    """upsert owns its bucketing: bootstrap records the key, a different
    key on the same table refuses; day-partitioned write() tables refuse;
    compact preserves the marker."""
    import pandas as pd
    import pytest as _pt

    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=4)
    df = spark.createDataFrame(
        pd.DataFrame({"user_id": [f"u{i}" for i in range(20)], "v": range(20)})
    )
    res = io_.upsert(df, "dim", key="user_id")
    assert res["rows_upserted"] == 20
    with _pt.raises(ValueError, match="different key"):
        io_.upsert(df.withColumnRenamed("user_id", "conv_id"), "dim", key="conv_id")
    # marker survives compaction, so the contract survives maintenance
    io_.compact("dim", target_file_mb=512)
    again = io_.upsert(
        spark.createDataFrame(pd.DataFrame({"user_id": ["u3"], "v": [999]})),
        "dim", key="user_id",
    )
    assert again["rows_upserted"] == 1
    got = io_.read("dim").toPandas().set_index("user_id")["v"].to_dict()
    assert got["u3"] == 999 and len(got) == 20

    # day-partitioned write() table: keyed merge refused
    ts_df = spark.createDataFrame(
        pd.DataFrame({
            "conv_id": ["a", "b"],
            "ts": pd.to_datetime([1_700_000_000, 1_700_090_000], unit="s"),
            "v": [1, 2],
        })
    )
    io_.write(ts_df, "facts")  # bucket x day layout
    with _pt.raises(ValueError, match="day="):
        io_.upsert(ts_df, "facts", key="conv_id")


def test_bounded_range_join_rejects_zero_width_window(spark):
    import pytest as _pt

    from tgist_features_spark.operators.ranges import bounded_range_join

    df = spark.createDataFrame([(1, 1)], "a: long, b: long")
    with _pt.raises(ValueError, match="microsecond"):
        bounded_range_join(df, df, "a", "a", "b", "b", 0.0, 2e-7)


def test_table_io_zstd_compression_and_schema_evolution(spark, tmp_path):
    """Round-5 TableIO options: (a) compression='zstd' actually produces
    zstd files (file names carry the codec) that roundtrip bit-equal;
    (b) merge_schema=True reads an evolved table (column added by a
    later append) with nulls for pre-evolution files, while the default
    read stays cheap and the evolved column is simply absent or present
    depending on footer choice."""
    import os

    import pandas as pd

    from tgist_features_spark.sources.table_io import TableIO

    # flat-layout table (no conv_id -> no bucket partitioning): the
    # evolution seam is about SCHEMAS; appending unpartitioned files into
    # a partition-dir layout is a separate, refused-by-Spark concern
    io_ = TableIO(spark, str(tmp_path / "wh"), n_buckets=4, compression="zstd")
    base = pd.DataFrame({"doc_id": [f"c{i}" for i in range(20)], "v": range(20)})
    io_.write(spark.createDataFrame(base), "t")
    files = [
        f for _dp, _d, fs in os.walk(io_.path("t")) for f in fs
        if f.endswith(".parquet")
    ]
    assert files and all(".zstd." in f for f in files), files
    got = io_.read("t").toPandas().set_index("doc_id")["v"].to_dict()
    assert got == {f"c{i}": i for i in range(20)}

    # schema evolution: later append carries an extra column
    evolved = pd.DataFrame({
        "doc_id": ["new1", "new2"], "v": [100, 101], "quality": [0.5, 0.9],
    })
    io_.append(spark.createDataFrame(evolved), "t")
    merged = io_.read("t", merge_schema=True).toPandas()
    assert "quality" in merged.columns and len(merged) == 22
    old_rows = merged[merged["doc_id"].str.startswith("c")]
    assert old_rows["quality"].isna().all()
    new_rows = merged[~merged["doc_id"].str.startswith("c")]
    assert sorted(new_rows["quality"]) == [0.5, 0.9]
