"""Arrow token-count kernel ≡ the JVM expression projection (bm25).

The kernel's contract is BIT-IDENTICAL integer counts: if (doc_id, dl,
tf*) matches the ``F.size(F.filter(split(...)))`` path on every row,
everything downstream of the persisted base projection (stats, scores,
top-k) is identical by construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zestdb_spark.functions import corpus_ops
from zestdb_spark.functions.token_count_kernel import (
    make_token_stats_fn,
    stats_schema,
)

#: token-shape adversaries: NULL text, empty text, lone/leading/
#: trailing/consecutive spaces, term as a substring (must NOT count),
#: multi-byte UTF-8 tokens, duplicate terms in one doc
ROWS = [
    (1, None),
    (2, ""),
    (3, " "),
    (4, "  spark   query  "),
    (5, "sparkquery spark spark query"),
    (6, "héllo spark héllo"),
    (7, "spark"),
    (8, "a b c d e f g"),
    (9, "query query query query"),
]
TERMS = ("spark", "query", "héllo")


def _expr_projection(df, terms):
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    return df.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, lambda t: t == F.lit(term))).alias(f"tf{i}")
            for i, term in enumerate(terms)
        ],
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string").cache()


def test_kernel_matches_expression_projection(spark, docs):
    kern = docs.select("doc_id", "text").mapInArrow(
        make_token_stats_fn(TERMS), stats_schema(len(TERMS))
    )
    expr = _expr_projection(docs, TERMS)
    assert kern.schema == expr.schema
    assert sorted(map(tuple, kern.collect())) == sorted(
        map(tuple, expr.collect())
    )


def test_null_text_yields_null_counts(spark, docs):
    kern = docs.select("doc_id", "text").mapInArrow(
        make_token_stats_fn(TERMS), stats_schema(len(TERMS))
    )
    row = {r["doc_id"]: r for r in kern.collect()}[1]
    assert row["dl"] is None and row["tf0"] is None and row["tf2"] is None
    # one output row per input row — no dropping
    assert kern.count() == len(ROWS)


def test_bm25_impls_agree(spark, docs):
    a = corpus_ops.bm25_topk(docs, list(TERMS), 5, impl="arrow").collect()
    e = corpus_ops.bm25_topk(docs, list(TERMS), 5, impl="expr").collect()
    assert a == e
    assert len(a) > 0  # the fixture has matching docs


def test_tf_rows_kernel_matches_explode_groupby(spark, docs):
    from zestdb_spark.functions.token_count_kernel import (
        TF_SCHEMA,
        make_tf_rows_fn,
    )

    kern = docs.select("doc_id", "text").mapInArrow(
        make_tf_rows_fn(), TF_SCHEMA
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "tok"
        ),
    )
    expr = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    assert sorted(map(tuple, kern.collect())) == sorted(
        map(tuple, expr.collect())
    )
    # null/empty/space-only docs emit no tf rows, exactly like explode
    ids = {r["doc_id"] for r in kern.collect()}
    assert ids.isdisjoint({1, 2, 3})


def test_tfidf_impls_agree(spark, docs):
    a = corpus_ops.tf_idf(docs, impl="arrow")
    e = corpus_ops.tf_idf(docs, impl="expr")
    assert a.exceptAll(e).count() == 0 and e.exceptAll(a).count() == 0
    assert a.count() > 0


def test_empty_term_counts_zero_like_expr_path(spark, docs):
    """r13 ADVICE (medium): a degenerate "" query term must count ZERO
    — the expr path filters empty tokens before the equality, so the
    kernel masks empties too (doc 4 has consecutive/leading/trailing
    spaces, i.e. empty split tokens the unmasked kernel counted)."""
    terms = ("spark", "")
    kern = docs.select("doc_id", "text").mapInArrow(
        make_token_stats_fn(terms), stats_schema(len(terms))
    )
    expr = _expr_projection(docs, terms)
    assert sorted(map(tuple, kern.collect())) == sorted(
        map(tuple, expr.collect())
    )
    by_id = {r["doc_id"]: r for r in kern.collect()}
    assert by_id[4]["tf1"] == 0  # "" never matches despite empty tokens


def test_impl_validated(spark, docs):
    """r13 ADVICE (low): a typo'd impl must raise, not silently fall
    through to the expr path."""
    with pytest.raises(ValueError, match="impl"):
        corpus_ops.bm25_topk(docs, ["spark"], 5, impl="Arrow")
    with pytest.raises(ValueError, match="impl"):
        corpus_ops.tf_idf(docs, impl="ARROW")
    with pytest.raises(ValueError, match="impl"):
        corpus_ops.dsir_select(docs, docs, 5, impl="ARROW")


@pytest.mark.parametrize("broadcast_vocab", [True, False])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_dsir_impls_agree(spark, id_type, broadcast_vocab):
    """dsir_select's arrow (tf-kernel) and expr (explode) paths select
    the same docs with the same counts, weights and scores on the
    token-shape adversaries (NULL/empty/space-only text, multi-byte
    tokens), for long and string doc_ids, with and without the vocab
    broadcast."""
    raw = spark.createDataFrame(
        [(i if id_type == "long" else f"d{i}", t) for i, t in ROWS],
        f"doc_id {id_type}, text string",
    )
    target = spark.createDataFrame(
        [("spark query héllo",), ("spark spark",)], "text string"
    )
    a, e = (
        corpus_ops.dsir_select(
            raw, target, len(ROWS), broadcast_vocab=broadcast_vocab, impl=impl
        )
        for impl in ("arrow", "expr")
    )
    # names+types equal (nullability differs by construction: the
    # arrow path's n_tokens sums a nullable kernel column, count() is
    # non-null)
    assert a.schema.simpleString() == e.schema.simpleString()
    rows = a.collect()
    assert rows == e.collect()
    assert len(rows) == 6  # the three zero-token docs carry no evidence


def test_doc_id_type_follows_input_schema(spark):
    """r13 ADVICE (low): a non-bigint doc_id corpus must work under
    impl="arrow" exactly like the expr path preserved the type."""
    rows = [("d1", "spark query spark"), ("d2", "query"), ("d3", None)]
    sdocs = spark.createDataFrame(rows, "doc_id string, text string")
    a = corpus_ops.bm25_topk(sdocs, ["spark", "query"], 5, impl="arrow")
    e = corpus_ops.bm25_topk(sdocs, ["spark", "query"], 5, impl="expr")
    assert a.schema == e.schema
    assert a.collect() == e.collect()
    at = corpus_ops.tf_idf(sdocs, impl="arrow")
    et = corpus_ops.tf_idf(sdocs, impl="expr")
    # names+types equal (nullability differs by construction:
    # mapInArrow output fields are nullable, count() is not)
    assert at.schema.simpleString() == et.schema.simpleString()
    assert sorted(map(tuple, at.collect())) == sorted(map(tuple, et.collect()))


def test_int_doc_id_type_follows_input_schema(spark):
    rows = [(1, "spark query"), (2, "query")]
    idocs = spark.createDataFrame(rows, "doc_id int, text string")
    a = corpus_ops.tf_idf(idocs, impl="arrow")
    e = corpus_ops.tf_idf(idocs, impl="expr")
    assert a.schema.simpleString() == e.schema.simpleString()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, e.collect()))
