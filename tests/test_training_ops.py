"""Dedup / ANN / text-stats operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.ann import (
    brute_force_topk,
    lsh_topk,
)
from dbpedia_spotlight_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    near_dedup,
    ngram_jaccard,
    simhash_dedup,
)
from dbpedia_spotlight_spark.operators.textstats import text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),  # exact dup
        ("d3", "the quick brown fox leaps over the lazy dog"),  # near dup
        ("d4", "el rapido zorro marron salta sobre el perro"),
        ("d5", "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_dedup(docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out["d1"]["dup_group"] == out["d2"]["dup_group"] == "d1"
    assert not out["d1"]["is_duplicate"] and out["d2"]["is_duplicate"]
    assert not out["d3"]["is_duplicate"]


def test_minhash_lsh_finds_near_dups(docs):
    cand = minhash_lsh_candidates(docs, shingle_n=2, num_hashes=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert ("d1", "d2") in pairs          # identical docs always collide
    assert ("d1", "d3") in pairs          # near dup should collide in >=1 band
    assert ("d1", "d4") not in pairs


def test_minhash_scale_paths(docs):
    # the LONG-typed family: same LSH guarantees, no hex strings in the
    # hot loop (GC-bound at 8+ threads otherwise)
    cand = minhash_lsh_candidates(docs, shingle_n=2, num_hashes=16,
                                  bands=8, hash_fn="xxhash64")
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert ("d1", "d2") in pairs          # identical docs always collide
    assert ("d1", "d3") in pairs          # near dup collides in >=1 band
    assert ("d1", "d4") not in pairs
    # deterministic: a second run yields the identical candidate set
    cand2 = minhash_lsh_candidates(docs, shingle_n=2, num_hashes=16,
                                   bands=8, hash_fn="xxhash64")
    assert pairs == {(r["id_a"], r["id_b"]) for r in cand2.collect()}


def test_minhash_family_recall_parity(spark):
    # the two hash families are different permutation samples of the
    # SAME banded-LSH design point, so recall over a corpus with known
    # near-dups must match (docstring claim: "recall at the design point
    # is equal"). 30 planted pairs at ~93% token overlap; 4 bands of 4
    # rows: per-band collision ~0.93^4*... high enough that >=90% of the
    # planted pairs must surface in every family.
    import random

    rnd = random.Random(7)
    words = [f"w{i}" for i in range(500)]
    rows = []
    for i in range(30):
        toks = [rnd.choice(words) for _ in range(60)]
        near = list(toks)
        near[rnd.randrange(60)] = "zzz"  # one token differs
        rows.append((f"a{i:02d}", " ".join(toks)))
        rows.append((f"b{i:02d}", " ".join(near)))
    corpus = spark.createDataFrame(rows, "doc_id string, text string")
    truth = {(f"a{i:02d}", f"b{i:02d}") for i in range(30)}
    recalls = {}
    for fn in ("md5", "xxhash64"):
        cand = minhash_lsh_candidates(corpus, shingle_n=3, num_hashes=16,
                                      bands=4, hash_fn=fn)
        pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
        recalls[fn] = len(truth & pairs) / len(truth)
    for fn, r in recalls.items():
        assert r >= 0.9, (fn, recalls)


def test_minhash_unknown_hash_fn_rejected(docs):
    with pytest.raises(ValueError, match="hash_fn"):
        minhash_lsh_candidates(docs, hash_fn="sha1")


def test_ngram_jaccard_values(spark, docs):
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d5")],
        "id_a string, id_b string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, pairs, shingle_n=2).collect()
    }
    assert got[("d1", "d2")] == 1.0
    assert 0.0 < got[("d1", "d3")] < 1.0
    assert got[("d1", "d5")] == 0.0


def test_near_dedup_composition(docs):
    # d1=d2 exact, d3 near (1 of 9 words differs); d4/d5 unrelated.
    # threshold 0.3: trigram jaccard(d1,d3) = 4/10 = 0.4 passes.
    # bands=16 (1 row/band) so candidate recall at J=0.4 is
    # 1-(1-J)^16 ~ 0.9997 for any permutation sample — at a 2-rows/band
    # point it is ~0.75 and whether the fixed seed hits is luck.
    # Unrelated docs (disjoint shingles) still never collide, and the
    # Jaccard stage verifies every candidate.
    out = {
        r["doc_id"]: r
        for r in near_dedup(docs, shingle_n=3, num_hashes=16, bands=16,
                            jaccard_threshold=0.3).collect()
    }
    assert len(out) == 5                      # one row per input doc
    assert out["d1"]["dup_group"] == out["d2"]["dup_group"] \
        == out["d3"]["dup_group"]             # transitive cluster
    assert not out["d1"]["is_near_duplicate"]  # min-id representative
    assert out["d2"]["is_near_duplicate"] and out["d3"]["is_near_duplicate"]
    # singletons are their own group and not duplicates
    for d in ("d4", "d5"):
        assert not out[d]["is_near_duplicate"]
        assert out[d]["dup_group"].endswith(d)


def test_simhash_near_dups(docs):
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_dedup(docs, hamming_threshold=10).collect()
    }
    assert out[("d1", "d2")] == 0
    assert ("d1", "d3") in out
    assert ("d1", "d5") not in out


# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((10, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate vector for each: i+100 ~ i
        rows.append((i + 100, [float(x + 0.01 * rng.standard_normal()) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_nearest_is_the_perturbed_twin(vectors):
    out = brute_force_topk(vectors, vectors.filter("vec_id < 100"), k=1)
    for r in out.collect():
        assert r["neighbor_id"] == r["query_id"] + 100
        assert r["cosine"] > 0.99


def test_ivf_topk_recall(vectors):
    from dbpedia_spotlight_spark.operators.ann import ivf_topk

    bf = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(vectors, vectors, k=1).collect()
    }
    ivf = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(vectors, k=1, n_probe=2).collect()
    }
    agree = sum(1 for q, n in ivf.items() if bf.get(q) == n)
    # perturbed twins are near-identical vectors: they land in the same
    # list, so IVF should find almost all of them
    assert agree / len(bf) >= 0.8


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """60 clusters x 4 members (base + 3 tiny perturbations): every
    within-cluster pair is a genuine near-dup at cosine >= 0.99."""
    rng = np.random.default_rng(7)
    rows = []
    for c in range(60):
        base = rng.standard_normal(16)
        base /= np.linalg.norm(base)
        for m in range(4):
            v = base + 0.005 * rng.standard_normal(16) * (m > 0)
            rows.append((c * 10 + m, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_embedding_neardup_approx_recall_vs_exact(clustered_vectors):
    from dbpedia_spotlight_spark.operators.ann import (
        embedding_neardup_approx,
        embedding_neardup_exact,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(
            clustered_vectors, threshold=0.95
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_approx(
            clustered_vectors, threshold=0.95
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    # no false positives possible: candidates are exactly cosine-verified
    assert approx <= exact
    assert len(approx) / len(exact) >= 0.95  # banded-LSH recall


def test_embedding_neardup_auto_routes_by_size(clustered_vectors):
    """embedding_neardup must pick the exact kernel under the gate and the
    bucketed join above it — plan-asserted (no cartesian product on the
    oversized input)."""
    from dbpedia_spotlight_spark.operators.ann import (
        embedding_neardup,
        embedding_neardup_exact,
    )

    small_plan = embedding_neardup(
        clustered_vectors, threshold=0.95, exact_max_rows=10_000
    )._jdf.queryExecution().executedPlan().toString()
    # r6: the exact path is a broadcast-matrix Arrow kernel, not a
    # cartesian join — assert the kernel shape (and no join at all)
    assert "MapInPandas" in small_plan
    assert "Join" not in small_plan and "CartesianProduct" not in small_plan
    big_plan = embedding_neardup(
        clustered_vectors, threshold=0.95, exact_max_rows=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in big_plan
    assert "BroadcastNestedLoopJoin" not in big_plan

    # and the routed result is still (a subset of) the exact pair set
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(
            clustered_vectors, threshold=0.95
        ).collect()
    }
    routed = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup(
            clustered_vectors, threshold=0.95, exact_max_rows=10
        ).collect()
    }
    assert routed <= exact and len(routed) / len(exact) >= 0.95


def test_lsh_topk_agrees_with_brute_force_mostly(vectors):
    bf = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(vectors, vectors, k=1).collect()
    }
    lsh = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(vectors, k=1, n_bits=4).collect()
    }
    agree = sum(1 for q, n in lsh.items() if bf.get(q) == n)
    assert agree / len(bf) >= 0.5  # single-probe LSH: recall < 1 by design


# ---------------------------------------------------------------------------


def test_text_stats(docs):
    out = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert out["d1"]["n_tokens"] == 9
    assert out["d1"]["lang_pred"] == "en"
    assert out["d4"]["lang_pred"] == "es"
    assert 0.0 <= out["d1"]["quality"] <= 1.0
    assert out["d1"]["fingerprint"] == out["d2"]["fingerprint"]
    assert out["d1"]["fingerprint"] != out["d3"]["fingerprint"]
