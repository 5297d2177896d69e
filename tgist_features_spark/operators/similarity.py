"""Similarity search over embedding columns (array<float>).

Brute-force cosine is the exactness baseline: JVM-side zip_with/aggregate
dot products (whole-stage codegen, no Python), broadcast of the (small)
query side, per-query top-k via window rank — the plan survives scale-out
because the big side is never shuffled, only scanned.

Two scale paths:

* LSH bucketing (random hyperplanes, deterministic seed): signatures in
  one vectorized pandas UDF, candidates from a bucket equi-join, exact
  cosine re-ranking on candidates only; multi-table for recall.
* IVF (inverted-file) cells: centroids fit driver-side on a deterministic
  hash-sample (k-means-lite, bounded sample regardless of corpus size),
  broadcast into ONE vectorized assignment UDF; queries probe their
  ``nprobe`` nearest cells and re-rank exactly — the big side is scanned
  once and shuffled only on the (small-cardinality) cell id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    """Dot product of two array<double> columns — pure Catalyst
    (zip_with + aggregate fold), runs inside whole-stage codegen."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _l2norm(a):
    """L2 norm of an array<double> column (the same aggregate-fold shape
    as `_dot`, so a norm hoisted below a join is bit-identical to one
    computed per pair)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force).

    ``queries``: (q_id, q_vec). Broadcast the queries, scan the corpus once;
    per-query rank via window over the (small) q_id domain.
    """
    # norms are per-ROW quantities: hoist them below the all-pairs join so
    # each side's fold runs once per row, not once per (query, neighbor)
    # pair (guide §1.2 — don't recompute per pair what is per-row). The
    # cosine is `_dot` over the product of the two `_l2norm` folds, so the
    # double — and therefore every rounded cosine — is bit-identical to an
    # inline per-pair computation.
    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nv", _l2norm("v"))
    q = queries.select(
        F.col("q_id"), F.col("q_vec").cast("array<double>").alias("qv")
    ).withColumn("nq", _l2norm("qv"))
    scored = (
        base.join(F.broadcast(q), on=F.col("neighbor_id") != F.col("q_id"))
        .withColumn("cos", F.round(_dot("v", "qv") / (F.col("nv") * F.col("nq")), 6))
        .select("q_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "cos")
    )


def hard_negatives(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    (q_id, q_vec, q_label), the ``k`` corpus vectors MOST similar to the
    query whose label DIFFERS from the query's — the vectors a
    contrastive batch wants as negatives precisely because the model
    currently confuses them with the positives.

    Returns (q_id, rank, neighbor_id, neighbor_label, cos).

    Scale shape: same as ``cosine_topk`` — the (small) query set is
    broadcast, the corpus is scanned once and never shuffled; the label
    filter rides the broadcast join condition so mismatched pairs are
    dropped before the cosine evaluates, and the only shuffle is the
    per-query window rank over the q_id domain. The exhaustive scan is
    the exactness baseline; at 100 TB swap the corpus side for the
    LSH/IVF candidate generators in this module and re-rank exactly,
    exactly as ``ann_lsh``/``ivf_ann`` do for nearest-neighbor search."""
    # per-row norms hoisted below the pair join (see cosine_topk): the
    # fold is `_l2norm`, so the values are bit-identical.
    base = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nv", _l2norm("v"))
    q = queries.select(
        F.col("q_id"),
        F.col("q_label"),
        F.col("q_vec").cast("array<double>").alias("qv"),
    ).withColumn("nq", _l2norm("qv"))
    scored = (
        base.join(F.broadcast(q), on=F.col("neighbor_label") != F.col("q_label"))
        .withColumn("cos", F.round(_dot("v", "qv") / (F.col("nv") * F.col("nq")), 6))
        .select("q_id", "neighbor_id", "neighbor_label", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "neighbor_label", "cos")
    )


def queries_from_ids(
    df: DataFrame, ids: list[int], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    return df.filter(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )


def _lsh_multi_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, v, nv, table, bucket) — one row per (vector, hash table).

    All tables' buckets come out of ONE vectorized UDF pass over the scan
    (a single (batch, n_tables*n_planes) matmul), then one explode; the big
    side is still read exactly once. ``nv`` is the vector's L2 norm (the
    `_l2norm` fold a per-pair cosine would run), hoisted here so the
    re-rank pays one dot per candidate pair instead of dot + two norm
    folds — carrying it through the explode/shuffle costs 8 bytes per row."""
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables * n_planes, dim)).astype(np.float64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, n_tables*n_planes)
        b = bits.reshape(len(m), n_tables, n_planes) @ weights  # (batch, n_tables)
        return pd.Series(list(b.astype(np.int64)))

    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _l2norm(F.col(vec_col).cast("array<double>")).alias("nv"),
        buckets(F.col(vec_col).cast("array<double>")).alias("bks"),
    )
    # posexplode_OUTER, not posexplode: InferFiltersFromGenerate would
    # otherwise push `size(buckets(...)) > 0 AND isnotnull(buckets(...))`
    # below this projection and evaluate the Arrow UDF a SECOND time per
    # row (guide §4.4; the _banded_numeric discipline). The array always
    # has n_tables >= 1 elements, so the outer generate emits the same
    # rows. The filter below drops the would-be null row of an empty
    # array and lets the optimizer derive isnotnull(table); it does not
    # change the schema — `table` and `bucket` stay nullable.
    return sig.select(
        "id",
        "v",
        "nv",
        F.posexplode_outer("bks").alias("table", "bucket"),
    ).filter(F.col("table").isNotNull())


def lsh_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank restricted to same-bucket
    candidates, unioned across ``n_tables`` independent hyperplane tables
    (recall compounds per table: a true neighbor is missed only if it lands
    in a different bucket in EVERY table). Recall also grows as n_planes
    shrinks (bigger buckets).

    ``max_bucket`` bounds the per-(table, bucket) candidate count: buckets
    keep a deterministic hash-ordered subset of at most ``max_bucket``
    vectors, so a degenerate bucket (many near-identical vectors) cannot go
    quadratic against the queries it contains — best-effort recall inside
    the cap instead of an unbounded blow-up."""
    from tgist_features_spark.operators.dedup import cap_buckets

    base = _lsh_multi_buckets(df, dim, n_planes, n_tables, seed, id_col, vec_col)
    base = cap_buckets(base, ["table", "bucket"], max_bucket)
    qsig = _lsh_multi_buckets(
        queries.select(F.col("q_id").alias(id_col), F.col("q_vec").alias(vec_col)),
        dim, n_planes, n_tables, seed, id_col, vec_col,
    ).select(
        F.col("id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"), "table", "bucket",
    )
    cand = (
        base.join(F.broadcast(qsig), on=["table", "bucket"])
        .filter(F.col("id") != F.col("q_id"))
        .dropDuplicates(["q_id", "id"])  # same pair may match in >1 table
    )
    # per-row norms were hoisted into the signature pass (`nv`/`nq`), so
    # the exact re-rank pays one dot fold per candidate, not three.
    scored = cand.withColumn(
        "cos",
        F.round(
            _dot(F.col("v").cast("array<double>"), F.col("qv").cast("array<double>"))
            / (F.col("nv") * F.col("nq")), 6
        ),
    ).select("q_id", F.col("id").alias("neighbor_id"), "cos")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "cos")
    )


# ------------------------------------------------------------------- IVF


def _estimate_rows(df: DataFrame, dim: int) -> int:
    """Row-count estimate for sample-modulus sizing: Catalyst sizeInBytes /
    approximate row width (vector of ``dim`` floats + id + overhead). Only
    the ORDER of magnitude matters — the sample stays within a small factor
    of the target. Falls back to an exact count when stats are absent."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    if 0 < size < (1 << 60):
        return max(1, size // (4 * dim + 32))
    return df.count()


def fit_ivf_centroids(
    df: DataFrame,
    dim: int,
    n_centroids: int = 64,
    sample_target: int = 4096,
    n_iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means-lite on a deterministic hash-sample.

    The sample filter is ``xxhash64(id) % S == 0`` — pushdown-friendly,
    layout-independent, and bounded at ~``sample_target`` rows no matter
    the corpus size, so the driver-side fit stays O(sample) at 100 TB.
    Returns L2-normalized centroids, deterministic for a given seed.

    The sampling modulus comes from Catalyst's size estimate (zero extra
    jobs); when statistics are unavailable it falls back to one ``count()``
    (which parquet serves from row-group metadata, not column data).
    """
    n = _estimate_rows(df, dim)
    s = max(1, n // max(sample_target, n_centroids))
    proj = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # the modulus comes from a WIDTH-ESTIMATED row count: extra columns on
    # df (text, metadata) inflate the estimate and can oversample-out a
    # small corpus, so retry with a shrinking modulus before concluding the
    # corpus is empty
    while True:
        sample = (
            proj.filter(F.pmod(F.xxhash64(F.col("id")), F.lit(s)) == 0)
            .toPandas()
            .sort_values("id")  # stable order regardless of partitioning
        )
        if len(sample) >= min(n_centroids, sample_target) or s == 1:
            break
        s = max(1, s // 10)
    if len(sample) == 0:
        raise ValueError(
            "fit_ivf_centroids: no rows sampled even at modulus 1 — "
            "the corpus is empty"
        )
    m = np.stack(sample["v"].to_numpy()).astype(np.float64)
    if m.shape[1] != dim:
        raise ValueError(
            f"fit_ivf_centroids: vectors are {m.shape[1]}-dim, expected {dim}"
        )
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    init = rng.choice(len(m), size=min(n_centroids, len(m)), replace=False)
    cents = m[np.sort(init)].copy()
    for _ in range(n_iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(len(cents)):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 1e-12:
                    cents[c] = v / nv
    return cents


def ivf_ann_topk(
    df: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via inverted-file cells: every corpus vector is
    assigned to its nearest centroid (one vectorized UDF pass), every query
    probes its ``nprobe`` nearest cells, and candidates are re-ranked with
    the exact cosine. Recall grows with ``nprobe`` (= n_centroids it
    degenerates to exact brute force)."""
    if centroids is None:
        centroids = fit_ivf_centroids(
            df, dim, n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    cents = centroids

    @pandas_udf(T.LongType())
    def cell_of(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int64))

    nprobe = min(nprobe, len(cents))

    @pandas_udf(T.ArrayType(T.LongType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sim = m @ cents.T
        top = np.argpartition(-sim, nprobe - 1, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype(np.int64)))

    # `nv`/`nq` hoist the per-row L2 norms (the `_l2norm` fold a per-pair
    # cosine would run) out of the candidate re-rank: one dot per pair, not
    # three folds.
    # coalesce makes `cell` statically non-nullable (the UDF never returns
    # null, but Catalyst only sees declared nullability): without it the
    # cell equi-join below infers an isnotnull(cell_of(...)) filter pushed
    # beneath this projection, evaluating the Arrow UDF TWICE per corpus
    # row (guide §4.4). -1 is not a valid cell id, and the branch is dead
    # anyway — it exists purely to fix the static nullability.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _l2norm(F.col(vec_col).cast("array<double>")).alias("nv"),
        F.coalesce(
            cell_of(F.col(vec_col).cast("array<double>")), F.lit(-1)
        ).alias("cell"),
    )
    # probe_cells in its own projection + explode_outer: a plain explode
    # makes Catalyst infer size(probe_cells(...)) > 0, which would invoke
    # the Arrow UDF a second time per query row (InferFiltersFromGenerate)
    qcells = queries.select(
        "q_id",
        F.col("q_vec").alias("qv"),
        _l2norm(F.col("q_vec").cast("array<double>")).alias("nq"),
        probe_cells(F.col("q_vec").cast("array<double>")).alias("__cells"),
    ).select("q_id", "qv", "nq", F.explode_outer("__cells").alias("cell"))
    cand = base.join(F.broadcast(qcells), on="cell").filter(
        F.col("id") != F.col("q_id")
    )
    scored = cand.withColumn(
        "cos",
        F.round(
            _dot(F.col("v").cast("array<double>"), F.col("qv").cast("array<double>"))
            / (F.col("nv") * F.col("nq")), 6
        ),
    ).select("q_id", F.col("id").alias("neighbor_id"), "cos")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "neighbor_id", "cos")
    )


def _centroid_dim_sums(
    df: DataFrame, vec_col: str, group_col: str, scale: int
) -> DataFrame:
    """(group, dim)-keyed fixed-point component sums — the shared partial
    aggregation under both centroid shapes. The shuffle moves only
    ~n_groups x dims rows after map-side combine."""
    return (
        df.select(
            F.col(group_col).alias("g"),
            F.posexplode(vec_col).alias("dim", "v"),
        )
        .groupBy("g", "dim")
        .agg(
            # floor(x + 0.5) quantization, NOT round(): identical IEEE ops in
            # every engine, no round-tie rule to disagree on (BASELINE.md
            # rounding-trap class)
            F.sum(
                F.floor(F.col("v").cast("double") * scale + F.lit(0.5)).cast("bigint")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def group_centroid_components(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    scale: int = 10_000_000,
) -> DataFrame:
    """Flat (scalar-row) centroid shape: one row per (group, dim) with the
    EXACT fixed-point mean component as a bigint. Returns
    (group_col, dim: int, n_vecs: bigint, value_x1e7: bigint).

    This is the harness-friendly twin of ``group_centroids``: the array
    shape is what an IVF bootstrap consumes, but an array<double> column
    defeats row-canonicalizing comparators (a driver that sorts output
    columns cannot factorize a list). The component rows carry identical
    information — ``value_x1e7 / scale`` reassembled over dim is the
    centroid — and every column is a scalar the comparator can hash.

    Exactness: value_x1e7 = floor(s / n) over exact bigint sums. The
    floor-div is expressed as (s - pmod(s, n)) div n: pure bigint
    arithmetic end-to-end (pmod's remainder is non-negative, the adjusted
    numerator exactly divisible, trunc of an exact multiple == floor for
    any sign), exact to the 2^63 overflow bound — no 2^53 double cliff."""
    dims = _centroid_dim_sums(df, vec_col, group_col, scale)
    return dims.select(
        F.col("g").alias(group_col),
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n_vecs"),
        F.expr("(s - pmod(s, n)) div n").alias("value_x1e7"),
    )


def group_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    scale: int = 10_000_000,
) -> DataFrame:
    """Per-group embedding centroid (mean-pool) — the vector aggregation a
    clustering / class-prototype / IVF-bootstrap pipeline runs. Returns
    (group_col, n_vecs, centroid: array<double>).

    Determinism: element sums over floats are ORDER-DEPENDENT, and Spark's
    partial aggregation order differs from any other engine's (BASELINE.md
    rounding-trap class). The centroid is therefore defined over
    fixed-point quantized components — round(v * scale) as bigint — whose
    sum is exact and order-independent; each output component is
    (sum div n) / scale, one exact integer division and one IEEE double
    division, bitwise reproducible anywhere.

    Scale shape: posexplode -> (group, dim)-keyed partial-agged sum (the
    shuffle moves ~n_groups x dims rows after map-side combine), then a
    (group)-keyed re-assembly via sort of the TINY per-group dim list.
    No collect, no driver work, no UDF."""
    dims = _centroid_dim_sums(df, vec_col, group_col, scale)
    assembled = dims.groupBy("g").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        # array_sort on structs orders by the first field (dim), so the
        # collect_list's arbitrary arrival order cannot leak into the output
        F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("__ds"),
    )
    # integer `div` keeps the per-dim quotient exact to 2^63 (no 2^53
    # double cliff); the single final double division by scale is the
    # only float op, identical in any engine
    centroid = F.expr(
        "transform(__ds, st -> "
        f"((st.s - pmod(st.s, n_vecs)) div n_vecs) / cast({float(scale)} as double))"
    )
    return assembled.select(
        F.col("g").alias(group_col),
        "n_vecs",
        centroid.alias("centroid"),
    )


def borda_fuse(
    rank_a: DataFrame,
    rank_b: DataFrame,
    query_col: str,
    item_col: str,
    rank_col: str,
    k: int = 10,
) -> DataFrame:
    """X15: Borda-count rank fusion of two per-query rankings — the
    integer-exact ensembling rule for combining retrieval/quality
    signals (BM25 beside embedding similarity, quality beside recency)
    without the float reciprocal sums of RRF, which no two engines
    reproduce bit-for-bit. Lower fused score = better.

    Each input is a (query, item, rank) relation with ranks 1..N_q per
    query. An item missing from one ranking is penalized with that
    ranking's per-query N_q + 1 — absent evidence is worse than any
    ranked position but not infinitely so (the standard Borda
    treatment). A query present in only ONE ranking (the other
    retriever returned nothing for it) keeps its items: the absent
    side's N_q coalesces to 0, so every item takes that side's minimum
    penalty 1 — consistent with the missing-item rule, never a silent
    whole-query drop. fused = rank_a' + rank_b'; ties break on item id
    ascending, top-k kept per query via row_number.

    Scale shape: one full-outer equi-join on (query, item) plus two
    tiny per-query max aggregations broadcast back; the rank window
    runs over candidate rows only (at most N_a + N_b per query — list
    fusion never touches the corpus)."""
    if k < 1:
        raise ValueError("borda_fuse: k must be >= 1")

    def _side(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        rel = df.select(
            F.col(query_col).alias("q"),
            F.col(item_col).alias("item"),
            F.col(rank_col).cast("bigint").alias(f"r_{tag}"),
        )
        n = rel.groupBy("q").agg(
            F.max(f"r_{tag}").cast("bigint").alias(f"n_{tag}")
        )
        return rel, n

    ra, na = _side(rank_a, "a")
    rb, nb = _side(rank_b, "b")
    cand = ra.join(rb, ["q", "item"], "full_outer")
    # LEFT joins on the per-query maxima: an inner join would silently
    # drop every query absent from one input; coalescing the absent
    # side's N_q to 0 gives its items penalty 1 instead
    scored = (
        cand.join(F.broadcast(na), "q", "left")
        .join(F.broadcast(nb), "q", "left")
        .withColumn(
            "fused",
            F.coalesce(F.col("r_a"), F.coalesce(F.col("n_a"), F.lit(0)) + 1)
            + F.coalesce(F.col("r_b"), F.coalesce(F.col("n_b"), F.lit(0)) + 1),
        )
    )
    w = Window.partitionBy("q").orderBy(F.col("fused").asc(), F.col("item").asc())
    return (
        scored.withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= k)
        .select("q", "item", "r_a", "r_b", "fused", "fused_rank")
    )
