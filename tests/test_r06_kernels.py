"""Round-6 optimization kernels vs their expression/loop twins.

Each r6 optimization replaced an operator's internals (join+window →
Arrow kernel, per-edge Python union-find → vectorized hooking) while
claiming BIT-IDENTICAL output. These tests pin that claim against
independently built twins: the original Spark expression plans
(reconstructed inline) and a reference Python union-find. Duplicate-id
corpora are exercised explicitly — the sf1.0 dup corpus aliases ids
(doc_id + 10000 overlaps), which is exactly the case a positional
upper-triangle kernel would get wrong.
"""

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.ann import (
    brute_force_topk,
    cosine_expr,
    lsh_bucket_udf,
    lsh_topk,
    make_hyperplanes,
)
from dbpedia_spotlight_spark.operators.cc import _union_find_arrow
from dbpedia_spotlight_spark.operators.dedup import (
    minhash_lsh_candidates,
    simhash64_udf,
    simhash_dedup,
)


def _rows(df, float_cols=()):
    """Canonical row set with EXACT float bits (no rounding tolerance)."""
    import struct

    out = []
    for r in df.collect():
        d = r.asDict()
        for c in float_cols:
            if d.get(c) is not None:
                d[c] = struct.pack("<d", d[c])
        out.append(tuple(sorted(d.items())))
    return sorted(out)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(42)
    rows = []
    for i in range(400):
        base = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, base))
        if i % 7 == 0:  # exact duplicates -> cosine ties at 1.0
            rows.append((i + 1000, list(base)))
        if i % 11 == 0:  # zero vector -> denom == 0 branch
            rows.append((i + 2000, [0.0] * 16))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).cache()


def test_lsh_topk_kernel_matches_join_window_twin(spark, vecs):
    """The applyInPandas rerank == the old bucket-join + window plan,
    exact float bits, ties (duplicate vectors) included."""
    n_bits, k = 4, 3
    planes = make_hyperplanes(16, n_bits, 42)
    bc = spark.sparkContext.broadcast(planes)
    base = vecs.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("bucket", lsh_bucket_udf(bc)(F.col("v")))
    a = base.select(
        F.col("_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    b = base.select(
        F.col("_id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    twin = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    got = lsh_topk(vecs, k=k, n_bits=n_bits, dim=16)
    assert _rows(got, ["cosine"]) == _rows(twin, ["cosine"])


def test_brute_force_topk_kernel_matches_crossjoin_twin(spark, vecs):
    k = 2
    queries = vecs.filter("vec_id < 40 or vec_id >= 2000")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    twin = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    got = brute_force_topk(vecs, queries, k=k)
    assert _rows(got, ["cosine"]) == _rows(twin, ["cosine"])


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus where ids ALIAS across the duplicate union (offset 100 on a
    200-doc corpus), the same shape the sf1.0 dup corpus has. Texts are
    drawn from a tiny vocabulary so simhash bands and minhash buckets
    genuinely collide across different documents."""
    rng = random.Random(13)
    vocab = ["spark", "hash", "join", "scan", "window", "merge", "sort"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 12))))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    return docs.unionByName(
        docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    ).cache()


def test_simhash_kernel_matches_join_twin_with_id_aliasing(spark, dup_docs):
    """The segment kernel == the old band self-join + bit_count plan on a
    corpus with duplicated ids (the join dropped same-id row pairs via
    id_a < id_b but scored each row separately — so must the kernel)."""
    n_blocks, width, thr = 4, 16, 3
    h = dup_docs.select(
        F.col("doc_id").alias("_id"), simhash64_udf(F.col("text")).alias("h")
    )
    banded = h.select(
        "_id", "h",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("h"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("bucket"),
            ) for b in range(n_blocks)
        ])).alias("bb"),
    ).select("_id", "h", "bb.band", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"),
                      F.col("h").alias("h_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"),
                      F.col("h").alias("h_b"), "band", "bucket")
    twin = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= thr)
    )
    got = simhash_dedup(dup_docs, hamming_threshold=thr, n_blocks=n_blocks)
    assert _rows(got) == _rows(twin)


def test_simhash_kernel_size_class_split(spark):
    """The size-class vectorized path (segments <= 64 rows) and the
    chunked big-segment path must agree with the join twin on a corpus
    that exercises BOTH in one partition: ~100 identical docs (one
    giant bucket per band, > the 64-row small-segment bound) plus many
    near-unique docs (1-2 row buckets) plus mid-size clusters."""
    rng = random.Random(99)
    vocab = ["qark", "wash", "zoin", "xcan", "vindow", "merge"]
    rows = [(i, "clone clone clone clone") for i in range(100)]
    rows += [
        (100 + i,
         " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 14))))
        for i in range(150)
    ]
    rows += [(250 + i, "midsize cluster text " + vocab[i % 3])
             for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    n_blocks, width, thr = 4, 16, 3
    h = docs.select(
        F.col("doc_id").alias("_id"), simhash64_udf(F.col("text")).alias("h")
    )
    banded = h.select(
        "_id", "h",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("h"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1)).alias("bucket"),
            ) for b in range(n_blocks)
        ])).alias("bb"),
    ).select("_id", "h", "bb.band", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"),
                      F.col("h").alias("h_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"),
                      F.col("h").alias("h_b"), "band", "bucket")
    twin = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= thr)
    )
    got = simhash_dedup(docs, hamming_threshold=thr, n_blocks=n_blocks)
    assert _rows(got) == _rows(twin)
    # the giant clone bucket must actually produce its full pair set
    clones = got.filter((F.col("id_a") < 100) & (F.col("id_b") < 100))
    assert clones.count() == 100 * 99 / 2


def test_minhash_md5_kernel_matches_exploded_twin(spark, dup_docs):
    """Single-kernel md5 signatures (+ per-id merge) == the exploded
    groupBy(min(md5)) plan, on the id-aliasing corpus (the groupBy
    merged shingle sets of rows sharing an id)."""
    kw = dict(shingle_n=3, num_hashes=8, bands=4)
    twin = minhash_lsh_candidates(dup_docs, hash_fn="md5_exploded", **kw)
    got = minhash_lsh_candidates(dup_docs, hash_fn="md5", **kw)
    assert _rows(got) == _rows(twin)


def _reference_union_find(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return sorted((n, find(n)) for n in parent)


@pytest.mark.parametrize("shape", ["chain", "star", "random", "two_cliques"])
def test_vectorized_union_find_matches_reference(spark, shape):
    rng = random.Random(hash(shape) & 0xFFFF)
    if shape == "chain":
        edges = [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(800)]
        rng.shuffle(edges)
    elif shape == "star":
        edges = [(f"s{rng.randrange(10):02d}", f"m{i:04d}")
                 for i in range(800)]
    elif shape == "random":
        edges = [
            (f"r{rng.randrange(300):03d}", f"r{rng.randrange(300):03d}")
            for _ in range(900)
        ]
    else:
        edges = [(f"a{rng.randrange(40):02d}", f"a{rng.randrange(40):02d}")
                 for _ in range(200)]
        edges += [(f"b{rng.randrange(40):02d}", f"b{rng.randrange(40):02d}")
                  for _ in range(200)]
    edf = (
        spark.createDataFrame(edges, "src string, dst string")
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    got = sorted(
        (r["mention_key"], r["cluster_id"])
        for r in _union_find_arrow(edf.toArrow(), spark).collect()
    )
    expected = _reference_union_find(
        [(s, d) for s, d in edges if s != d]
    )
    assert got == expected
