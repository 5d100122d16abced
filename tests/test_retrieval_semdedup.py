"""Unit coverage for the round-6 retrieval/semantic additions:
bm25_topk (Okapi BM25 top-k), semantic_dedup (SemDeDup-style
IVF-clustered cosine prune), and bpe_pair_stats (one BPE merge
round's pair counts over the word vocabulary).

Each operator gets (a) hand-computable invariants on tiny frames and
(b) a check that its deterministic rules (tie-breaks, keep rules,
thresholds) hold exactly — the driver's DuckDB oracle covers the
engine↔oracle equality at sf0.01.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from zestdb_spark.functions import corpus_ops
from zestdb_spark.functions.similarity import _seq_dot_py, ivf_assign, semantic_dedup

DOCS = [
    (0, "spark spark spark runs the query", "en", "srcA"),
    (1, "a filter and a query walk in", "en", "srcA"),
    (2, "nothing relevant here at all", "en", "srcB"),
    (3, "", "en", "srcB"),
    (4, "spark", "en", "srcB"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string"
    )


# ------------------------------------------------------------------ BM25

def test_bm25_matching_docs_only_and_order(docs):
    rows = corpus_ops.bm25_topk(docs, ["spark", "query"], k=10).collect()
    ids = [r["doc_id"] for r in rows]
    # doc 2 (no term) and doc 3 (empty) never appear
    assert set(ids).issubset({0, 1, 4})
    # scores strictly ordered desc, ties broken by doc_id asc
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_bm25_hand_computed_score(spark):
    # two docs, one term: every quantity is hand-checkable
    docs = spark.createDataFrame(
        [(0, "x x y"), (1, "y z")], "doc_id long, text string"
    )
    (row,) = corpus_ops.bm25_topk(docs, ["x"], k=1).collect()
    assert row["doc_id"] == 0
    n, df, tf, dl, avgdl, k1, b = 2, 1, 2, 3, 2.5, 1.2, 0.75
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    expect = idf * (tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl)))
    assert row["score"] == pytest.approx(math.floor(expect * 1e6) / 1e6, abs=2e-6)


def test_bm25_rejects_empty_query(docs):
    with pytest.raises(ValueError, match="non-empty"):
        corpus_ops.bm25_topk(docs, [])


def test_bm25_rare_term_outscores_common(spark):
    # 'rare' appears in 1 of 5 docs, 'common' in all 5 — same tf/dl, so
    # the rare-term doc must outscore any common-term-only doc
    rows = [(i, "common filler words here") for i in range(4)]
    rows.append((4, "rare filler words here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in corpus_ops.bm25_topk(docs, ["rare", "common"], k=10).collect()
    }
    assert got[4] > got[0]


# ---------------------------------------------------------- semantic_dedup

@pytest.fixture(scope="module")
def embs(spark):
    # vec 0/1 identical direction (cos=1), vec 2 orthogonal, vec 3 the
    # negation (cos=-1) — all in one cluster once n_centroids=1
    data = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in data],
        "vec_id long, embedding array<float>",
    )


def test_semantic_dedup_canonical_min_keep(embs):
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(embs, tau=0.99, n_centroids=1).collect()
    }
    # 0 and 1 are duplicates; the smaller id survives
    assert got == {0: True, 1: False, 2: True, 3: True}


def test_semantic_dedup_threshold_gates_drops(embs):
    # tau > 1 can never fire — everything kept, one row per vector
    rows = semantic_dedup(embs, tau=1.5, n_centroids=1).collect()
    assert len(rows) == 4 and all(r["keep"] for r in rows)


def test_semantic_dedup_cluster_isolation(spark):
    # identical vectors in DIFFERENT clusters are never compared: with
    # a 2-centroid codebook seeded from vec 0 and vec 1 (orthogonal),
    # vec 2 (dup of 0) clusters with 0 and drops; vec 3 (dup of 1)
    # clusters with 1 and drops — but 0/1 themselves survive
    data = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [3.0, 0.0]), (3, [0.0, 2.0])]
    embs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in data],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cent"], r["keep"])
        for r in semantic_dedup(embs, tau=0.99, n_centroids=2).collect()
    }
    assert got[0] == (0, True) and got[2] == (0, False)
    assert got[1] == (1, True) and got[3] == (1, False)


# ---------------------------------------------------------- bpe_pair_stats

def test_bpe_pairs_hand_counts(spark):
    # vocab: "aba"×2, "ab"×1 → pairs: ab: 2(aba)+1(ab)=3, ba: 2
    docs = spark.createDataFrame(
        [(0, "aba ab"), (1, "aba")], "doc_id long, text string"
    )
    rows = corpus_ops.bpe_pair_stats(docs, top_k=10).collect()
    got = {r["pair"]: (r["freq"], r["rnk"]) for r in rows}
    assert got == {"ab": (3, 1), "ba": (2, 2)}


def test_bpe_pairs_single_char_words_ignored(spark):
    docs = spark.createDataFrame(
        [(0, "a b c x y"), (1, "q")], "doc_id long, text string"
    )
    assert corpus_ops.bpe_pair_stats(docs, top_k=10).count() == 0


def test_bpe_pairs_rank_tie_breaks_lexically(spark):
    # "xy" and "yz" both occur once → freq tie, rank by pair asc
    docs = spark.createDataFrame([(0, "xy yz")], "doc_id long, text string")
    rows = corpus_ops.bpe_pair_stats(docs, top_k=10).collect()
    assert [(r["pair"], r["rnk"]) for r in rows] == [("xy", 1), ("yz", 2)]


def python_semdedup(assigned, tau):
    """The SemDeDup keep rule in plain Python over collected
    (vec_id, v, norm, cent) assignment rows: within a cell, a pair at
    q6(cosine) >= tau drops the larger vec_id. Cosines use
    ``_seq_dot_py``'s left fold, so they match the kernel bitwise."""
    rows = sorted((r["vec_id"], r["cent"], list(r["v"]), r["norm"]) for r in assigned)
    dropped = set()
    for i, (_, ca, va, na) in enumerate(rows):
        for ib, cb, vb, nb in rows[i + 1 :]:
            if ca == cb and math.floor(_seq_dot_py(va, vb) / (na * nb) * 1e6) / 1e6 >= tau:
                dropped.add(ib)
    return [(vid, cent, vid not in dropped) for vid, cent, _, _ in rows]


def test_semantic_dedup_kernel_matches_literal(spark):
    """The per-cell Arrow pair kernel equals the plain-Python pair rule
    (``python_semdedup``) over the same assignment, at sparse, single-
    cell and near-exact bars. The kernel exists because a literal pair
    join prices every PAIR through an interpreted HOF fold (81 s at the
    20k-vector sf1 probe vs ~2.6 s kernel, 31x)."""
    embs = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    for tau, m in ((0.45, 4), (0.6, 1), (0.99, 8)):
        got = sorted(
            map(tuple, semantic_dedup(embs, tau=tau, n_centroids=m).collect())
        )
        ref = python_semdedup(ivf_assign(embs, n_centroids=m).collect(), tau)
        assert got == ref, f"kernel/reference divergence at tau={tau} m={m}"
        assert len(got) == 500


def test_tiled_fold_matches_untiled():
    """The r14 cache-tiled pair fold must produce the IDENTICAL
    dropped set as the r13 untiled (row-block x whole-cell) fold —
    same per-dimension add order per element, so bitwise-equal
    cosines by construction. Adversarial shapes: n straddling the
    512/2048 tile boundaries (diagonal-band tiles partial both ways),
    taus at sparse/moderate/dense hit rates, duplicate vectors
    (cosine exactly 1), and n < 2 degenerates."""
    import numpy as np
    import pandas as pd

    from zestdb_spark.functions.similarity import _semdedup_dropped_kernel

    def untiled_reference(pdf, tau):
        n = len(pdf)
        if n < 2:
            return np.array([], dtype=np.int64)
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]], dtype=np.float64
        )[order]
        norms = pdf["norm"].to_numpy(dtype=np.float64)[order]
        dim = V.shape[1]
        dropped = np.zeros(n, dtype=bool)
        block = max(1, min(n, (1 << 25) // n))
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            cs = np.zeros((i1 - i0, n), dtype=np.float64)
            for j in range(dim):
                cs += V[i0:i1, j : j + 1] * V[None, :, j]
            cs /= norms[i0:i1, None] * norms[None, :]
            hit = np.floor(cs * 1e6) / 1e6 >= tau
            for r in range(i1 - i0):
                gi = i0 + r
                if gi + 1 < n:
                    dropped[gi + 1 :] |= hit[r, gi + 1 :]
        return np.sort(ids[dropped])

    rng = np.random.default_rng(42)
    for n in (0, 1, 2, 511, 512, 513, 2047, 2048, 2049, 3000):
        V = rng.standard_normal((n, 8))
        if n >= 4:  # exact duplicates: cosine == 1.0 bitwise
            V[3] = V[1]
        ids = rng.permutation(n).astype(np.int64) * 7 + 1
        norms = np.sqrt((V * V).sum(axis=1)) if n else np.array([])
        pdf = pd.DataFrame(
            {"vec_id": ids, "v": [row for row in V], "norm": norms}
        )
        for tau in (0.2, 0.7, 0.999999):
            got = _semdedup_dropped_kernel(tau)(pdf)["vec_id"].to_numpy()
            want = untiled_reference(pdf, tau)
            assert np.array_equal(np.sort(got), want), (n, tau)
