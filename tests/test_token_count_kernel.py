"""Arrow token-count kernels, and the operators built on them.

The kernels' contract is integer counts of the token multiset Spark's
``split(text, ' ')`` yields. The projection tests compare each kernel
with that expression directly. ``bm25_topk``, ``tf_idf`` and
``dsir_select`` are pinned against their DuckDB oracle SQL in
``__spark_entry__.oracle_sql()`` (``text_bm25``, ``text_tfidf``,
``corpus_dsir``), run on the adversarial ``ROWS`` below, so their
reference does not run in Spark.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
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
#: the dsir target corpus is the oracle's ``lang = 'en'`` slice
EN_IDS = {4, 6, 9}

_ORACLES = entry.oracle_sql()


def _frame(spark, id_type="long"):
    """ROWS as a (doc_id, text, lang) corpus; string ids are ``d<i>``."""
    return spark.createDataFrame(
        [
            (i if id_type == "long" else f"d{i}", t, "en" if i in EN_IDS else "xx")
            for i, t in ROWS
        ],
        f"doc_id {id_type}, text string, lang string",
    )


def _oracle(name, df):
    """The oracle SQL ``name`` over ``df`` as the ``documents`` table."""
    sql = _ORACLES[name]
    if name == "text_bm25":
        # the oracle query's third term never occurs in ROWS; swap in
        # the multi-byte one so every term shape is scored
        sql = sql.replace("'filter'", "'héllo'")
    con = duckdb.connect()
    con.register("d", df.toPandas())
    con.execute("CREATE TABLE documents AS SELECT * FROM d")
    out = con.execute(sql).fetchall()
    con.close()
    return out


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


def test_bm25_impls_agree(spark):
    """bm25_topk equals the ``text_bm25`` oracle: same docs, order and
    q6 scores (the oracle's LIMIT 10 covers every scored row)."""
    df = _frame(spark)
    got = [tuple(r) for r in corpus_ops.bm25_topk(df, list(TERMS), 10).collect()]
    assert got == _oracle("text_bm25", df)
    assert len(got) > 0  # the fixture has matching docs


def test_tf_rows_kernel_matches_explode_groupby(spark, docs):
    from zestdb_spark.functions.token_count_kernel import make_tf_rows_fn, tf_schema

    kern = docs.select("doc_id", "text").mapInArrow(make_tf_rows_fn(), tf_schema())
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


def test_tfidf_impls_agree(spark):
    """tf_idf equals the ``text_tfidf`` oracle row for row."""
    df = _frame(spark)
    got = sorted(tuple(r) for r in corpus_ops.tf_idf(df).collect())
    assert got == sorted(_oracle("text_tfidf", df))
    assert len(got) > 0


def test_empty_term_counts_zero_like_expr_path(spark, docs):
    """A degenerate "" query term must count ZERO — the expression
    filters empty tokens before the equality, so the kernel masks
    empties too (doc 4 has consecutive/leading/trailing spaces, i.e.
    empty split tokens an unmasked kernel would count)."""
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


@pytest.mark.parametrize("broadcast_vocab", [True, False])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_dsir_impls_agree(spark, id_type, broadcast_vocab):
    """dsir_select equals the ``corpus_dsir`` oracle — same docs, token
    counts, weights and Gumbel scores, in order — on the token-shape
    adversaries (NULL/empty/space-only text, multi-byte tokens), for
    long and string doc_ids, with and without the vocab broadcast."""
    df = _frame(spark, id_type)
    out = corpus_ops.dsir_select(
        df, df.filter(F.col("lang") == "en"), 25, broadcast_vocab=broadcast_vocab
    )
    assert out.schema.simpleString() == (
        f"struct<doc_id:{'bigint' if id_type == 'long' else 'string'},"
        "n_tokens:int,logw:double,score:double>"
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == _oracle("corpus_dsir", df)
    assert len(rows) == 6  # the three zero-token docs carry no evidence


def test_doc_id_type_follows_input_schema(spark):
    """A non-bigint doc_id corpus keeps its type through the kernels
    (the declared mapInArrow schema carries the input dtype), and the
    values still equal the oracles."""
    sdocs = _frame(spark, "string")
    bm = corpus_ops.bm25_topk(sdocs, list(TERMS), 10)
    assert bm.schema.simpleString() == "struct<doc_id:string,score:double>"
    assert [tuple(r) for r in bm.collect()] == _oracle("text_bm25", sdocs)
    tf = corpus_ops.tf_idf(sdocs)
    assert tf.schema.simpleString() == (
        "struct<doc_id:string,tok:string,tf:bigint,df:bigint,tfidf:double>"
    )
    assert sorted(map(tuple, tf.collect())) == sorted(_oracle("text_tfidf", sdocs))


def test_int_doc_id_type_follows_input_schema(spark):
    idocs = spark.createDataFrame(ROWS, "doc_id int, text string")
    tf = corpus_ops.tf_idf(idocs)
    assert tf.schema.simpleString().startswith("struct<doc_id:int,")
    assert sorted(map(tuple, tf.collect())) == sorted(_oracle("text_tfidf", idocs))
