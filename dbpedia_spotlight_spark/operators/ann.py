"""Similarity search over embedding columns (driver mandate).

Two paths:
  * brute-force cosine top-k — the correctness baseline. Queries
    broadcast against the corpus (no O(n²) shuffle); one Arrow kernel
    per corpus batch scores them in JVM fold order; top-k via a window.
  * sign-LSH (random hyperplanes) — the scale path. Hyperplanes are a
    seeded numpy matrix broadcast to executors; bucket code computed in
    one Arrow-batched pandas UDF (matrix-vector product per batch);
    candidates are bucket-joined and exactly re-ranked by cosine. At
    10^12 rows the bucket join replaces the full cross product with
    ~n/2^bits-sized buckets.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType


# -- bit-exact numpy twins of the JVM fold expressions --------------------
#
# A cosine written as Spark expressions (F.zip_with products summed by
# F.aggregate) takes its dot and norms as LEFT FOLDS: ((0.0 + p_0) + p_1)
# + ... in array index order, each step one IEEE-754 double add. A BLAS
# matmul uses pairwise/SIMD summation — different rounding in the last
# bits, which can flip a row_number tie and change a top-k result. These
# helpers accumulate dimension-by-dimension in index order instead, so
# every scalar goes through the exact same sequence of IEEE ops as the JVM
# fold (products then left-to-right adds) while staying vectorized across
# pairs. The
# correctness gates hash-verify the outputs, so rerank kernels built on
# these are bit-identical to the expression plan they replace.

def _seq_gram(xq: np.ndarray, x: np.ndarray) -> np.ndarray:
    """(len(xq), len(x)) matrix of dot products, JVM-fold order.

    Tiled over the x axis so the d accumulation passes run over an
    L3-resident block instead of streaming the whole output matrix from
    DRAM d times (measured 229s -> ~8s for a 20k x 20k gram at d=64);
    per-scalar operation order is unchanged — tiling only partitions
    columns, never regroups the j-sum."""
    tile = 1024
    nq, n = xq.shape[0], x.shape[0]
    d = x.shape[1] if n else 0
    out = np.empty((nq, n))
    xqt = np.ascontiguousarray(xq.T) if d else xq.T
    xt = np.ascontiguousarray(x.T) if d else x.T
    for c0 in range(0, n, tile):
        c1 = min(c0 + tile, n)
        sub = np.zeros((nq, c1 - c0))
        tmp = np.empty_like(sub)
        for j in range(d):
            np.multiply(xqt[j, :, None], xt[j, None, c0:c1], out=tmp)
            sub += tmp
        out[:, c0:c1] = sub
    return out


def _seq_sqnorm(x: np.ndarray) -> np.ndarray:
    """Per-row sum of squares, JVM-fold order."""
    acc = np.zeros(x.shape[0])
    for j in range(x.shape[1]):
        v = x[:, j]
        acc += v * v
    return acc


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query (self excluded when the
    ids collide). Queries are broadcast; corpus streams once.

    The cosine math runs in one Arrow kernel per corpus batch (the query
    matrix is an sc.broadcast — the same driver-side collect a broadcast
    join performs, bounded by the 'queries are broadcast-sized' contract),
    using the JVM-fold-order helpers above so scores are bit-identical to
    the expression plan this replaces. Each batch emits only its local
    top-k per query — the global window then ranks k·m·n_batches skinny
    rows instead of m·n scored pairs. (Per-batch top-k under the same
    (cosine desc, id asc) total order is lossless: a global top-k row is
    a fortiori in its own batch's top-k.)"""
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = corpus.sparkSession
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    ).toPandas()
    qids = q["query_id"].to_numpy()
    qmat = (
        np.stack(q["qv"].to_numpy()).astype(np.float64, copy=False)
        if len(q) else np.zeros((0, 0))
    )
    q_bc = spark.sparkContext.broadcast((qids, qmat))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    id_type = c.schema["neighbor_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def batch_topk(batches):
        bqids, bqmat = q_bc.value
        if len(bqids) == 0:
            return
        qn = np.sqrt(_seq_sqnorm(bqmat))
        for pdf in batches:
            if not len(pdf):
                continue
            order = np.argsort(pdf["neighbor_id"].to_numpy(), kind="stable")
            ids = pdf["neighbor_id"].to_numpy()[order]
            x = np.stack(pdf["cv"].to_numpy()[order]).astype(
                np.float64, copy=False
            )
            xn = np.sqrt(_seq_sqnorm(x))
            g = _seq_gram(bqmat, x)
            denom = qn[:, None] * xn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, g / denom, 0.0)
            invalid = bqids[:, None] == ids[None, :]
            key = np.where(invalid, -np.inf, cos)
            kk = min(k, len(ids))
            # stable argsort of -key over id-ascending columns == the
            # window's (cosine DESC, neighbor_id ASC); invalid cells sit
            # at -inf, strictly after every valid score
            top = np.argsort(-key, axis=1, kind="stable")[:, :kk]
            valid = ~np.take_along_axis(invalid, top, axis=1).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(bqids, kk)[valid],
                    "neighbor_id": ids[top].ravel()[valid],
                    "cosine": np.take_along_axis(cos, top, axis=1).ravel()[
                        valid
                    ],
                }
            )

    scored = c.mapInPandas(batch_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# Above this row count, embedding_neardup switches from the exact O(n²)
# crossJoin to the banded sign-LSH bucket join. The exact path is the
# correctness baseline / oracle twin; at corpus scale nothing should
# ever run it (a 10^12-row cross product is 10^24 pairs).
NEARDUP_EXACT_MAX_ROWS = 100_000


def embedding_neardup_exact(
    corpus: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact all-pairs near-dup: (id_a < id_b, cosine >= threshold).
    O(n²) by construction — small-N / oracle path only (the auto gate
    routes anything above NEARDUP_EXACT_MAX_ROWS to the LSH path).

    The n² scoring runs as one broadcast + Arrow kernel instead of a
    crossJoin of interpreted fold expressions (the old plan needed hours
    for 20k rows — 400M pairs × three interpreted folds each; the kernel
    streams corpus batches against the broadcast matrix with the
    JVM-fold-order helpers, bit-identical scores, ~seconds). The
    broadcast side is bounded by the same gate that bounds the
    crossJoin's build side."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = corpus.sparkSession
    base = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    full = base.toPandas()
    ids_all = full["_id"].to_numpy()
    mat_all = (
        np.stack(full["v"].to_numpy()).astype(np.float64, copy=False)
        if len(full) else np.zeros((0, 0))
    )
    all_bc = spark.sparkContext.broadcast((ids_all, mat_all))
    id_type = base.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def batch_pairs(batches):
        bids, bmat = all_bc.value
        if not len(bids):
            return
        bn = np.sqrt(_seq_sqnorm(bmat))
        # ~128 MB of chunk temporaries regardless of corpus size
        chunk = max(1, int(16e6 / max(1, len(bids))))
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            x = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            xn = np.sqrt(_seq_sqnorm(x))
            for lo in range(0, len(ids), chunk):
                hi = min(lo + chunk, len(ids))
                g = _seq_gram(x[lo:hi], bmat)
                denom = xn[lo:hi, None] * bn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, g / denom, 0.0)
                rows, cols = np.nonzero(
                    (cos >= threshold)
                    & (ids[lo:hi, None] < bids[None, :])
                )
                if len(rows):
                    yield pd.DataFrame(
                        {
                            "id_a": ids[rows + lo],
                            "id_b": bids[cols],
                            "cosine": cos[rows, cols],
                        }
                    )

    # the gate bounds this path to small corpora, which typically arrive
    # as 1-2 input splits — spread the n² row-block work over the cores
    spread = base.repartition(spark.sparkContext.defaultParallelism)
    return spread.mapInPandas(batch_pairs, out_schema)


def _band_codes_udf(planes_bc, n_bands: int, band_bits: int):
    from pyspark.sql.types import ArrayType

    @pandas_udf(ArrayType(IntegerType()))
    def codes(vectors: pd.Series) -> pd.Series:
        planes = planes_bc.value  # (n_bands*band_bits, dim)
        mat = np.stack(vectors.to_numpy())  # (batch, dim)
        signs = (mat @ planes.T > 0).reshape(-1, n_bands, band_bits)
        weights = 1 << np.arange(band_bits)
        band = (signs * weights).sum(axis=2).astype("int32")  # (batch, bands)
        return pd.Series([row.tolist() for row in band])

    return codes


def embedding_neardup_approx(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Banded sign-LSH near-dup: same output contract as the exact path
    but sub-quadratic — a pair is a candidate iff it agrees on ALL bits of
    at least one band (for cosine 0.9, p_bit ≈ 0.857: 8 bands × 4 bits
    give ≈ 0.998 recall), then candidates are exactly cosine-verified.

    Scale shape: one Arrow matrix product per batch for the band codes,
    an equi-join on (band, code) — bucket sizes ~n/2^band_bits per band —
    a distinct on the candidate pair, and an O(candidates) verify. No
    cross product anywhere.

    dim: embedding dimensionality. Pass it when known (it's fixed by the
    upstream embedding model) — the fallback sniffs one row, an extra
    tiny job per call."""
    spark = corpus.sparkSession
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    planes = make_hyperplanes(dim, n_bands * band_bits, seed)
    base = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    planes_bc = spark.sparkContext.broadcast(planes)
    coded = base.withColumn(
        "codes", _band_codes_udf(planes_bc, n_bands, band_bits)(F.col("v"))
    ).select(
        "_id", "v", F.posexplode("codes").alias("band", "code")
    )
    # In-bucket verification (same shape as the simhash kernel): rows
    # hash-repartition by (band, code), each task segments its partition
    # once and scores a chunk×bucket block with the JVM-fold-order
    # helpers, emitting only pairs at/above the threshold; the distinct
    # then dedupes the few SURVIVORS that collided in several bands.
    # The old plan materialized every candidate pair (50M at sf1.0),
    # paid a distinct over them, and then shuffled the VECTORS onto the
    # pairs through two joins (~15 GB at sf1.0, 58s) — here each vector
    # crosses the wire n_bands times instead of once per candidate
    # pair. Scores are bit-identical, so re-verified pairs dedupe
    # exactly. (ids must be unique — vec_id is the vector key.)
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = base.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def partition_pairs(batches):
        pdf = pd.concat(list(batches), ignore_index=True)
        if not len(pdf):
            return
        band = pdf["band"].to_numpy()
        code = pdf["code"].to_numpy()
        all_ids = pdf["_id"].to_numpy()
        all_v = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        order = np.lexsort((all_ids, code, band))
        band, code = band[order], code[order]
        all_ids, all_v = all_ids[order], all_v[order]
        seg = np.flatnonzero(
            np.r_[True, (band[1:] != band[:-1]) | (code[1:] != code[:-1])]
        )
        seg = np.append(seg, len(band))
        chunk = 1024
        for s, e in zip(seg[:-1], seg[1:]):
            n = e - s
            if n < 2:
                continue
            ids, v = all_ids[s:e], all_v[s:e]
            nrm = np.sqrt(_seq_sqnorm(v))
            for lo in range(0, n, chunk):
                hi = min(lo + chunk, n)
                g = _seq_gram(v[lo:hi], v)
                denom = nrm[lo:hi, None] * nrm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, g / denom, 0.0)
                rows, cols = np.nonzero(
                    (cos >= threshold) & (ids[lo:hi, None] < ids[None, :])
                )
                if len(rows):
                    yield pd.DataFrame(
                        {
                            "id_a": ids[rows + lo],
                            "id_b": ids[cols],
                            "cosine": cos[rows, cols],
                        }
                    )

    return (
        coded.repartition("band", "code")
        .mapInPandas(partition_pairs, out_schema)
        .distinct()
    )


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.9,
    exact_max_rows: int = NEARDUP_EXACT_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine) with
    cosine >= threshold.

    Runs the exact kernel up to `exact_max_rows` rows and the banded
    sign-LSH bucket join above it, so a user calling the near-dup API at
    corpus scale never gets the O(n²) plan (same discipline as
    operators/redirects.py and the dedup LSH family)."""
    # limit(k+1).count() — the gate only needs "is n above the cutoff",
    # so the probe stops scanning once k+1 rows are seen instead of
    # counting the full corpus (at 10^12 rows a full count is a real job)
    if corpus.limit(exact_max_rows + 1).count() <= exact_max_rows:
        return embedding_neardup_exact(corpus, threshold)
    return embedding_neardup_approx(corpus, threshold)


def make_hyperplanes(dim: int, n_bits: int = 12, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_bits, dim))


def lsh_bucket_udf(planes_bc):
    @pandas_udf(IntegerType())
    def bucket(vectors: pd.Series) -> pd.Series:
        planes = planes_bc.value  # (n_bits, dim)
        mat = np.stack(vectors.to_numpy())  # (batch, dim)
        signs = mat @ planes.T > 0  # (batch, n_bits)
        codes = (signs * (1 << np.arange(signs.shape[1]))).sum(axis=1)
        return pd.Series(codes.astype("int32"))

    return bucket


# Hard ceiling on the inverted-list count: the centroid matrix lives on
# the driver and is broadcast to executors, so its footprint must stay
# bounded no matter how big the corpus is (65k lists x 4096-dim doubles
# = 2 GiB worst case; at the typical d<=1024 it is <=512 MiB). sqrt(n)
# only exceeds this above ~4.3e9 rows, where 65k lists still give
# ~n/65k-sized probe slices.
IVF_MAX_LISTS = 65_536


def ivf_topk(
    corpus: DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate self top-k: partition vectors into inverted
    lists around sampled centroids (deterministic seed), probe the
    n_probe nearest lists per query, exact-cosine rerank inside probes.

    The scale path alongside sign-LSH: at 10^12 rows each list is a
    partition-pruned slice; centroid assignment is one Arrow-batched
    matrix product per batch. n_lists is ~sqrt(n), capped at
    IVF_MAX_LISTS, so in-list work stays O(n^1.5) total instead of
    O(n²/const) with a fixed list count.

    Centroid selection is ENGINE-NEUTRAL and deterministic: the first
    n_lists vectors in md5(id || ':42') hex order. md5 exists in
    every SQL engine (unlike xxhash64), so the whole algorithm — centroid
    CTE, nearest-list assignment, probe join, rerank — has a static
    ANSI-SQL twin and the driver's DuckDB oracle can hash-verify this
    path like any other gate. Centroid rows stream to the driver via
    toLocalIterator (bounded batches), never one big collect buffer.
    """
    spark = corpus.sparkSession
    base = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    n_lists = max(1, min(int(math.isqrt(base.count())), IVF_MAX_LISTS))
    # deterministic engine-neutral centroid sample: first n_lists rows in
    # md5(id:42) hex order (lowercase hex compares identically as a
    # string in Spark and DuckDB). Streamed, not collect()ed: the driver
    # holds exactly the (n_lists, dim) float64 matrix, nothing more.
    ordered = (
        base.withColumn(
            "_h",
            F.md5(F.concat(F.col("_id").cast("string"), F.lit(":42"))),
        )
        .orderBy("_h")
        .limit(n_lists)
        .select("v")
    )
    cmat = np.stack(
        [np.asarray(r["v"], dtype=np.float64)
         for r in ordered.toLocalIterator()]
    )  # (n_lists, dim)
    cmat /= np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)
    cents_bc = spark.sparkContext.broadcast(cmat)

    def assign_udf(n: int):
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, IntegerType

        @pandas_udf(ArrayType(IntegerType()))
        def assign(vectors: pd.Series) -> pd.Series:
            c = cents_bc.value
            mat = np.stack(vectors.to_numpy())
            norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                               1e-12)
            sims = (mat / norms) @ c.T  # (batch, n_lists)
            # stable sort: cosine ties break toward the LOWER list id,
            # matching the SQL twin's ORDER BY sim DESC, list_id ASC
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n]
            return pd.Series([row.astype("int32").tolist() for row in top])

        return assign

    # corpus side: each vector lives in its single nearest list
    listed = base.withColumn(
        "lists", assign_udf(1)(F.col("v"))
    ).select("_id", "v", F.explode("lists").alias("list_id"))
    # query side: probe the n_probe nearest lists
    probes = base.withColumn(
        "lists", assign_udf(n_probe)(F.col("v"))
    ).select(
        F.col("_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode("lists").alias("list_id"),
    )
    # per-list rerank in ONE cogrouped Arrow kernel (probing queries ×
    # list members) instead of the probe join + interpreted cosine folds:
    # each list emits only its local top-k per query — lossless under the
    # (cosine DESC, neighbor_id ASC) total order, because a global top-k
    # pair is a fortiori in its own list's top-k — and the global window
    # then ranks ≤ n_probe·k skinny rows per query.
    # no distinct needed: a vector lives in exactly ONE inverted list,
    # so a (query, neighbor) pair meets at most once across probes
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = base.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )

    def list_topk(qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(mpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        order = np.argsort(mpdf["neighbor_id"].to_numpy(), kind="stable")
        ids = mpdf["neighbor_id"].to_numpy()[order]
        cv = np.stack(mpdf["cv"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        qids = qpdf["query_id"].to_numpy()
        qv = np.stack(qpdf["qv"].to_numpy()).astype(np.float64, copy=False)
        g = _seq_gram(qv, cv)
        denom = (
            np.sqrt(_seq_sqnorm(qv))[:, None]
            * np.sqrt(_seq_sqnorm(cv))[None, :]
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, g / denom, 0.0)
        invalid = qids[:, None] == ids[None, :]
        key = np.where(invalid, -np.inf, cos)
        kk = min(k, len(ids))
        top = np.argsort(-key, axis=1, kind="stable")[:, :kk]
        valid = ~np.take_along_axis(invalid, top, axis=1).ravel()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kk)[valid],
                "neighbor_id": ids[top].ravel()[valid],
                "cosine": np.take_along_axis(cos, top, axis=1).ravel()[
                    valid
                ],
            }
        )

    scored = (
        probes.groupBy("list_id")
        .cogroup(
            listed.select(
                F.col("_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                "list_id",
            ).groupBy("list_id")
        )
        .applyInPandas(list_topk, out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate self top-k: bucket by hyperplane signs, exact cosine
    rerank within buckets. Recall < 1 by design (single probe).

    Bucket codes come from one Arrow-batched matrix product per batch
    over the seeded planes; the DuckDB oracle recomputes them from the
    same planes as literal dot products.

    dim: embedding dimensionality. Pass it when known (it's fixed by the
    upstream embedding model) — the fallback sniffs one row.

    The in-bucket rerank is ONE applyInPandas kernel per bucket instead
    of a bucket self-join + window: the join materialized ~n²/2^bits
    scored rows, each paying three interpreted fold expressions (dot and
    BOTH norms recomputed per pair), then shuffled them all again for
    row_number. The kernel shuffles each row once (groupBy bucket),
    computes norms once per row, scores a chunk×bucket block at a time
    with the JVM-fold-order helpers (bit-identical scores — see
    _seq_gram), and emits only the k best per query. Per-task memory is
    O(bucket·dim + chunk·bucket); a single bucket must fit one task,
    which the old quadratic join required a fortiori."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    spark = corpus.sparkSession
    if dim is None:
        dim = len(corpus.select("embedding").first()[0])
    planes = make_hyperplanes(dim, n_bits)
    base = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    planes_bc = spark.sparkContext.broadcast(planes)
    bucketed = base.withColumn("bucket", lsh_bucket_udf(planes_bc)(F.col("v")))

    id_type = base.schema["_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    chunk = 2048

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        x = np.stack(pdf["v"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        nrm = np.sqrt(_seq_sqnorm(x))
        frames = []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            g = _seq_gram(x[lo:hi], x)
            denom = nrm[lo:hi, None] * nrm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, g / denom, 0.0)
            invalid = ids[lo:hi, None] == ids[None, :]
            key = np.where(invalid, -np.inf, cos)
            kk = min(k, n)
            # stable argsort of -key over id-ascending columns == the
            # window's (cosine DESC, neighbor_id ASC); invalid (self)
            # cells sit at -inf, strictly after every valid score, so
            # positions map 1:1 to row_number over the filtered rows
            top = np.argsort(-key, axis=1, kind="stable")[:, :kk]
            valid = ~np.take_along_axis(invalid, top, axis=1).ravel()
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(ids[lo:hi], kk)[valid],
                        "neighbor_id": ids[top].ravel()[valid],
                        "cosine": np.take_along_axis(
                            cos, top, axis=1
                        ).ravel()[valid],
                        "rank": np.tile(
                            np.arange(1, kk + 1, dtype=np.int32), hi - lo
                        )[valid],
                    }
                )
            )
        return pd.concat(frames, ignore_index=True)

    return bucketed.groupBy("bucket").applyInPandas(bucket_topk, out_schema)
