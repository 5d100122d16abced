"""Parity pins for the numpy XXH64 replica and the Arrow MinHash kernel.

The whole minhash_kernel design rests on two bit-exactness claims:
(1) xxh64_np reproduces Spark's ``xxhash64`` for STRING input, and
(2) the Arrow signature kernel equals, row for row, the MinHash built
in this test from Spark's own ``xxhash64`` of every distinct shingle of
``dedup._shingle_array`` (masked to 28 bits) and a Python min over
``dedup._minhash_params``. Both are pinned here on
adversarial inputs: every tail-length class of the XXH64 algorithm,
multi-byte UTF-8, consecutive/leading/trailing spaces, empty and
sub-k-token documents, and duplicate shingles.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from zestdb_spark.functions import dedup
from zestdb_spark.functions.xxh64_np import xxh64_slices

ADVERSARIAL = [
    "",
    " ",
    "   ",
    "a",
    "a b",
    "a b c",
    "a  b   c d",
    " leading space",
    "trailing space ",
    "héllo wörld über straße",
    "日本語 の テキスト を 混ぜる",
    "αβγ δεζ ηθι κλμ",
    "x" * 31,
    "y" * 32,
    "z" * 33,
    "w" * 63 + " tail",
    "v" * 64,
    "mixed 日本 ascii ünïcode words here",
]


def _np_hashes(strings: list[str]) -> list[int]:
    bufs = [s.encode("utf-8") for s in strings]
    buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.cumsum([0] + [len(b) for b in bufs[:-1]]).astype(np.int64)
    lengths = np.array([len(b) for b in bufs], dtype=np.int64)
    return xxh64_slices(buf, starts, lengths).view(np.int64).tolist()


def test_xxh64_matches_spark_every_tail_class(spark):
    rng = random.Random(1013)
    cases = list(ADVERSARIAL)
    # one case per byte length 0..130 — covers every (stripes, words,
    # word4, bytes) tail combination of the algorithm twice over
    for length in range(131):
        cases.append("".join(chr(rng.randint(33, 126)) for _ in range(length)))
    ours = _np_hashes(cases)
    theirs = [
        r[0]
        for r in spark.createDataFrame([(c,) for c in cases], ["s"])
        .select(F.xxhash64("s"))
        .collect()
    ]
    assert ours == theirs


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, ""),  # no tokens
    (4, "one two"),  # fewer than k tokens → no signature row
    (5, "a  b c d"),  # consecutive spaces → empty token mid-shingle
    (6, " x y z "),  # leading/trailing space tokens
    (7, "dup dup dup dup dup"),  # duplicate shingles
    (8, "日本 語 の テキスト です"),
    (9, None),  # null text → no signature row
    (10, "solo"),
]


def _reference_signatures(docs, k, num_hashes):
    """(doc_id, h0..h{n-1}) from Spark-hashed shingles, min in Python;
    docs with no shingle (empty, null, fewer than k tokens) get no row."""
    mask = (1 << 28) - 1
    hashed = docs.select(
        "doc_id", F.explode(dedup._shingle_array(k)).alias("s")
    ).select("doc_id", F.xxhash64("s").bitwiseAND(F.lit(mask)).alias("x"))
    xs: dict[int, list[int]] = {}
    for r in hashed.collect():
        xs.setdefault(r["doc_id"], []).append(r["x"])
    params = dedup._minhash_params(num_hashes)
    return sorted(
        (doc_id, *(min((a * x + b) % dedup._P for x in v) for a, b in params))
        for doc_id, v in xs.items()
    )


@pytest.mark.parametrize("k,num_hashes", [(3, 64), (2, 8)])
def test_arrow_signatures_match_expr_path(spark, k, num_hashes):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sig = dedup.minhash_signatures(docs, k, num_hashes)
    assert sig.columns == ["doc_id", *(f"h{i}" for i in range(num_hashes))]
    got = sorted(map(tuple, sig.collect()))
    assert got == _reference_signatures(docs, k, num_hashes)
    assert len(got) == (6 if k == 3 else 7)
