"""The Arrow IVF kernels against independent references.

Assignment and probe ranking run in Arrow kernels that broadcast the
codebook as numpy inside one ``mapInPandas`` pass, so planning cost is
independent of the centroid count (a literal-codebook expression — one
HOF fold per centroid per row — cannot be PLANNED at the ~100k-centroid
codebooks SCALE.md recommends for crawl scale).

Pins, on the driver embeddings fixture (500 × 64-dim):
- assignment: every row's ``cent`` equals the driver fold
  ``_rank_probes(codebook, v, norm, 1)[0]`` (sequential IEEE left
  folds, lowest-id tie-break), for a trained and an untrained codebook;
- search: ivf_topk and knn_join equal their DuckDB oracles
  (``sim_topk_ivf``, ``sim_knn_join``); semantic_dedup equals a
  plain-Python pair rule over the collected assignment;
- the large-codebook smoke: a 10_000-centroid synthetic codebook both
  PLANS and RUNS through assignment, top-k, and the batch join.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry
from zestdb_spark.functions.similarity import (
    _ivf_centroids,
    _rank_probes,
    _seq_dot_py,
    ivf_assign,
    ivf_topk,
    ivf_train,
    knn_join,
    semantic_dedup,
)
from tests.test_retrieval_semdedup import python_semdedup

_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_EMB = os.path.join(_SF_DIR, "embeddings.parquet")

pytestmark = pytest.mark.skipif(
    not os.path.exists(_EMB), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def embs(spark):
    df = spark.read.parquet(_EMB).select("vec_id", "embedding").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def codebook(embs):
    return ivf_train(embs, n_centroids=16, iters=1)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def _oracle(name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{_EMB}'")
    out = con.execute(entry.oracle_sql()[name]).fetchall()
    con.close()
    return out


def _assert_assignment_matches_driver_fold(embs, cb):
    inputs = {r["vec_id"]: list(r["embedding"]) for r in embs.collect()}
    rows = ivf_assign(embs, codebook=cb).collect()
    assert len(rows) == 500
    for r in rows:
        v = [float(x) for x in inputs[r["vec_id"]]]
        assert list(r["v"]) == v
        assert r["norm"] == math.sqrt(_seq_dot_py(v, v))
        assert r["cent"] == _rank_probes(cb, v, r["norm"], 1)[0]


def test_assign_kernel_matches_literal(embs, codebook):
    _assert_assignment_matches_driver_fold(embs, codebook)


def test_assign_kernel_matches_untrained_codebook(embs):
    # the deterministic smallest-id codebook exercises the tie-break
    # differently from the trained one (real corpus rows as centroids:
    # each centroid's own row scores cosine exactly 1.0)
    cb = [
        {"vec_id": r["vec_id"], "v": list(r["v"]), "norm": r["norm"]}
        for r in _ivf_centroids(embs, 16)
    ]
    _assert_assignment_matches_driver_fold(embs, cb)


def test_topk_kernel_matches_literal(embs):
    got = [tuple(r) for r in ivf_topk(embs, 0, 10).collect()]
    assert got == _oracle("sim_topk_ivf") and len(got) == 10


def test_knn_join_kernel_matches_literal(embs):
    queries = embs.filter(embs.vec_id < 20)
    got = _rows(knn_join(embs, queries, k=5), "qid", "vec_id")
    assert got == sorted(_oracle("sim_knn_join")) and len(got) == 20 * 5


def test_semantic_dedup_kernel_matches_literal(embs, codebook):
    assigned = ivf_assign(embs, codebook=codebook).collect()
    for tau in (0.45, 0.8):
        got = _rows(semantic_dedup(embs, tau=tau, codebook=codebook), "vec_id")
        assert got == python_semdedup(assigned, tau) and len(got) == 500
        if tau == 0.45:
            assert any(not keep for _, _, keep in got)  # the bar drops something


def test_knn_join_excludes_zero_norm_corpus_rows(spark, codebook):
    # ADVICE r9: a zero-norm corpus vector scores 0.0/0.0 = NaN and
    # Spark ranks NaN above every real cosine — it must never appear
    dim = len(codebook[0]["v"])
    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.standard_normal(dim)]) for i in range(20)]
    rows.append((999, [0.0] * dim))  # the poisoned row
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3")
    rows = knn_join(corpus, queries, k=5, codebook=codebook).collect()
    assert 999 not in {r["vec_id"] for r in rows}
    assert not any(r["cosine"] != r["cosine"] for r in rows)  # no NaN anywhere


def test_large_codebook_plans_and_runs(spark, embs):
    """The regime a literal-codebook expression cannot reach: 10k
    centroids. Codebook is synthetic (trained codebooks are bounded by
    the sample cap; the ceiling being lifted is PLANNING, not
    training). The full ladder must plan and run."""
    dim = 64
    rng = np.random.default_rng(42)
    cents = []
    for i in range(10_000):
        v = rng.standard_normal(dim)
        n = float(np.sqrt(np.sum(v * v)))
        cents.append({"vec_id": int(i), "v": [float(x) for x in v], "norm": n})

    assigned = ivf_assign(embs, codebook=cents)
    assert assigned.count() == 500
    cent_vals = {r["cent"] for r in assigned.select("cent").distinct().collect()}
    assert cent_vals <= set(range(10_000))

    top = ivf_topk(embs, 0, k=10, codebook=cents, n_probe=512)
    assert 0 < top.count() <= 10

    queries = embs.filter(embs.vec_id < 5)
    kj = knn_join(embs, queries, k=3, codebook=cents, n_probe=512)
    got = kj.groupBy("qid").count().collect()
    assert len(got) == 5  # every query produced neighbors


def test_ivf_train_sampled_lloyd(embs):
    """train_cap: driver-side Lloyd over a hash sample — deterministic,
    produces a usable codebook at quality comparable to the
    distributed loop, and with a cap covering the whole fixture it is
    exactly equivalent up to the mean-accumulation order (same
    members per cell, same update rule)."""
    full = ivf_train(embs, 16, iters=2)
    samp = ivf_train(embs, 16, iters=2, train_cap=10_000)  # cap > corpus
    assert len(samp) == len(full) == 16
    assert {c["vec_id"] for c in samp} == {c["vec_id"] for c in full}
    for a, b in zip(
        sorted(samp, key=lambda c: c["vec_id"]),
        sorted(full, key=lambda c: c["vec_id"]),
    ):
        # means accumulate in different orders (numpy pairwise vs
        # Spark avg) — equal to float tolerance, not bit-equal
        assert abs(a["norm"] - b["norm"]) < 1e-9
        assert max(abs(x - y) for x, y in zip(a["v"], b["v"])) < 1e-9
    # determinism: same inputs, same codebook, twice
    again = ivf_train(embs, 16, iters=2, train_cap=10_000)
    assert again == samp
    # a bounded sample still yields full cell coverage on this corpus
    small = ivf_train(embs, 16, iters=2, train_cap=256)
    assigned = ivf_assign(embs, codebook=small)
    assert assigned.select("cent").distinct().count() >= 12


def test_persisted_assignment_reuse(embs, codebook):
    """knn_join/semantic_dedup with ``assigned=`` (a persisted
    ivf_assign output — the build-once search-many production path)
    must equal the recompute-inline path exactly."""
    from pyspark.sql import functions as F

    built = ivf_assign(embs, codebook=codebook).cache()
    built.count()
    queries = embs.filter(F.col("vec_id") < 10)
    inline = _rows(
        knn_join(embs, queries, k=5, codebook=codebook),
        "qid", "cosine", "vec_id",
    )
    reused = _rows(
        knn_join(embs, queries, k=5, codebook=codebook, assigned=built),
        "qid", "cosine", "vec_id",
    )
    assert inline == reused and len(inline) == 10 * 5
    a = _rows(semantic_dedup(embs, tau=0.8, codebook=codebook), "vec_id")
    b = _rows(
        semantic_dedup(embs, tau=0.8, codebook=codebook, assigned=built),
        "vec_id",
    )
    assert a == b
    built.unpersist()
