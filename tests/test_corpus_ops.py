"""Unit coverage for the corpus_ops family (hash split, stratified
sampling, mixture stats, per-group top-k, vocab, tf-idf,
decontamination, int8 quantization).

Determinism is the whole point of these operators, so the tests check
(a) hand-computable invariants (partition laws, bounds, idempotence)
and (b) engine↔oracle equality against the same DuckDB SQL the driver
grades (corpus_split / text_tfidf / emb_quantize entries), so the
pytest and the graded rows can never drift apart.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from zestdb_spark.functions import corpus_ops

DOCS = [
    (0, "the cat sat on the mat", "en", "srcA"),
    (1, "el gato que se sienta", "es", "srcA"),
    (2, "the cat sat on the mat", "en", "srcB"),  # exact dup of 0
    (3, "", "en", "srcB"),  # empty text
    (4, "a  b   a", "zh", "srcB"),  # multi-space runs
    (5, "unique words only here now", "en", "srcA"),
    (96, "shared shingle bait words here", "en", "srcA"),
    (97 * 1, "decoy without overlap tokens", "fr", "srcB"),
    (97 * 2, "shared shingle bait words too", "en", "srcA"),  # bench doc
]

EMBS = [
    (0, [1.0, -2.0, 0.5]),
    (1, [0.0, 0.0, 0.0]),  # zero vector → scale 0, qvec zeros
    (2, [-0.1, 0.1, 0.05]),
    (3, [127.0, -127.0, 63.5]),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string, source string")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in EMBS],
        "vec_id long, embedding array<float>",
    )


def _duck(sql: str):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", DOCS)
    con.execute("CREATE TABLE embeddings AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {v!r}::FLOAT[])" for i, v in EMBS)
                + ") t(vec_id, embedding)")
    out = con.execute(sql).fetchall()
    con.close()
    return out


def _oracle(name: str) -> str:
    import __spark_entry__ as entry

    return entry.oracle_sql()[name]


# ------------------------------------------------------------ hash_split

def test_hash_split_is_total_and_deterministic(docs):
    rows = corpus_ops.hash_split(docs).collect()
    assert len(rows) == len(DOCS)  # a partition: every doc exactly once
    for r in rows:
        assert 0 <= r["bucket"] < 100
        assert r["split"] == (
            "val" if r["bucket"] < 10 else "test" if r["bucket"] < 20 else "train"
        )
    again = {r["doc_id"]: r["split"] for r in corpus_ops.hash_split(docs).collect()}
    assert again == {r["doc_id"]: r["split"] for r in rows}


def test_hash_split_matches_duckdb_oracle(docs):
    got = sorted(
        (r["doc_id"], r["bucket"], r["split"])
        for r in corpus_ops.hash_split(docs).collect()
    )
    assert got == sorted(_duck(_oracle("corpus_split")))


# ----------------------------------------------------- stratified_sample

def test_stratified_sample_bounds_and_subset(docs):
    kept = corpus_ops.stratified_sample(docs, {"en": 1.0, "es": 0.0})
    ids = {r["doc_id"] for r in kept.collect()}
    en = {d[0] for d in DOCS if d[2] == "en"}
    es = {d[0] for d in DOCS if d[2] == "es"}
    assert ids & es == set()  # fraction 0 drops everything
    assert en <= ids or ids <= en  # frac 1.0 keeps all en (and nothing else defaulted)
    assert ids == en  # default_fraction=0 drops unlisted langs


def test_stratified_sample_monotone_in_fraction(docs):
    small = {r["doc_id"] for r in corpus_ops.stratified_sample(docs, {"en": 0.3}).collect()}
    large = {r["doc_id"] for r in corpus_ops.stratified_sample(docs, {"en": 0.8}).collect()}
    assert small <= large  # raising a fraction only ADDS docs (stable membership)


# ----------------------------------------------------------- source_stats

def test_source_stats_totals(docs):
    rows = {r["source"]: r for r in corpus_ops.source_stats(docs).collect()}
    assert sum(r["n_docs"] for r in rows.values()) == len(DOCS)
    a_tokens = sum(
        len([t for t in d[1].split(" ") if t]) for d in DOCS if d[3] == "srcA"
    )
    assert rows["srcA"]["total_tokens"] == a_tokens
    for r in rows.values():
        assert 0.0 <= r["mean_score"] <= 1.0


# --------------------------------------------------------- topk_per_group

def test_topk_per_group_rank_contract(docs):
    rows = corpus_ops.topk_per_group(docs, k=2).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        assert len(rs) <= 2
        rs = sorted(rs, key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        # scores weakly decreasing, doc_id tie-break increasing
        for a, b in zip(rs, rs[1:]):
            assert (a["score"], -a["doc_id"]) >= (b["score"], -b["doc_id"])


# -------------------------------------------------------------- vocab/tfidf

def test_vocab_topk_order_and_ties(docs):
    rows = corpus_ops.vocab_topk(docs, k=5).collect()
    assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == list(
        range(1, len(rows) + 1)
    )
    ordered = sorted(rows, key=lambda r: (-r["freq"], r["tok"]))
    assert [r["rnk"] for r in ordered] == list(range(1, len(rows) + 1))


def test_tf_idf_matches_duckdb_oracle(docs):
    got = sorted(
        (r["doc_id"], r["tok"], r["tf"], r["df"], r["tfidf"])
        for r in corpus_ops.tf_idf(docs).collect()
    )
    assert got == sorted(_duck(_oracle("text_tfidf")))


def test_tf_idf_closed_form(docs):
    # 'cat' appears once in docs 0 and 2 → tf=1, df=2, N=9
    rows = {(r["doc_id"], r["tok"]): r for r in corpus_ops.tf_idf(docs).collect()}
    r = rows[(0, "cat")]
    assert (r["tf"], r["df"]) == (1, 2)
    assert r["tfidf"] == math.floor(1.0 * math.log(9 / 2) * 1e6) / 1e6


# ------------------------------------------------------------ decontaminate

def test_decontaminate_flags_only_overlapping_training_docs(docs):
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    rows = {r["doc_id"]: r["n_hits"] for r in corpus_ops.decontaminate(train, bench).collect()}
    # bench set = {0, 194}; doc 96 shares 'shared shingle bait' +
    # 'shingle bait words' with bench doc 194
    assert rows.get(96) == 2
    assert 97 not in rows  # doc 97 has no shingle overlap with the bench set
    # doc 2 duplicates bench doc 0 → all 4 of its 3-shingles are contaminated
    assert rows.get(2) == 4
    assert 0 not in rows  # bench docs are not in the training side at all


# -------------------------------------------------------- quantize_embeddings

def test_quantize_matches_duckdb_oracle(embs):
    got = sorted(
        (r["vec_id"], r["scale"], tuple(r["qvec"]))
        for r in corpus_ops.quantize_embeddings(embs).collect()
    )
    want = sorted((v, s, tuple(q)) for v, s, q in _duck(_oracle("emb_quantize")))
    assert got == want


def test_quantize_closed_form(embs):
    rows = {r["vec_id"]: r for r in corpus_ops.quantize_embeddings(embs).collect()}
    assert rows[1]["scale"] == 0.0 and list(rows[1]["qvec"]) == [0, 0, 0]
    # vec 0: maxabs=2 → scale=2/127; q = round(x*127/2) = [64, -127, 32]
    assert list(rows[0]["qvec"]) == [64, -127, 32]
    assert rows[0]["scale"] == 2.0 / 127.0
    # range bound: |q| ≤ 127 everywhere
    for r in rows.values():
        assert all(-127 <= q <= 127 for q in r["qvec"])


# ---------------------------------------------------------- scrub_dup_spans

def test_scrub_spans_matches_duckdb_oracle(docs):
    # the module DOCS are all shorter than n=8 tokens, so this pins the
    # pass-through contract against the graded SQL: no gram ever forms,
    # dup_frac is 0 everywhere, and the rebuilt text is the token-
    # normalized form (empty-token filtering collapses space runs)
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["n_dup_tokens"], r["dup_frac"], r["text_scrubbed"])
        for r in corpus_ops.scrub_dup_spans(docs, 8, 2).collect()
    )
    assert got == sorted(_duck(_oracle("dedup_spans")))
    assert all(nd == 0 and frac == 0.0 for _, _, nd, frac, _ in got)
    by_id = {t[0]: t for t in got}
    assert by_id[4][4] == "a b a"  # multi-space runs collapse
    assert by_id[3][1:] == (0, 0, 0.0, "")  # empty text passes through


def test_scrub_spans_hashed_keys_identical(spark):
    """hashed_keys=True swaps the gram shuffle key for xxhash64(gram);
    with no 64-bit collisions (any realistic corpus) the output is
    bit-identical to the text-key plan — pinned on a corpus with real
    cross-doc and within-doc duplicate spans, both window and
    skew_safe formulations."""
    df = spark.createDataFrame(
        [
            (0, "a b c d e f g h tail one"),
            (1, "a b c d e f g h tail two"),
            (2, "p q r s t u v w x y z p q r s t u v w x y z"),
            (3, "short text"),
        ],
        "doc_id long, text string",
    )
    for skew_safe in (False, True):
        plain = sorted(
            map(tuple, corpus_ops.scrub_dup_spans(df, 8, 2, skew_safe).collect())
        )
        hashed = sorted(
            map(
                tuple,
                corpus_ops.scrub_dup_spans(
                    df, 8, 2, skew_safe, hashed_keys=True
                ).collect(),
            )
        )
        assert hashed == plain


def test_scrub_spans_closed_form(spark):
    rows = {
        r["doc_id"]: r
        for r in corpus_ops.scrub_dup_spans(
            spark.createDataFrame(
                [
                    (0, "x y z p q r"),  # shares 'x y z' with doc 1
                    (1, "x y z k l m"),
                    (2, "x y"),  # shorter than n → no grams, untouched
                    (3, "u v w u v w"),  # span repeats WITHIN one doc only
                ],
                "doc_id long, text string",
            ),
            n=3,
            min_docs=2,
        ).collect()
    }
    # 'x y z' occurs in 2 distinct docs → its 3 positions are scrubbed
    assert rows[0]["n_dup_tokens"] == 3 and rows[0]["text_scrubbed"] == "p q r"
    assert rows[1]["n_dup_tokens"] == 3 and rows[1]["text_scrubbed"] == "k l m"
    assert rows[0]["dup_frac"] == 0.5
    # short doc passes through
    assert rows[2]["n_dup_tokens"] == 0 and rows[2]["text_scrubbed"] == "x y"
    # min_docs counts DISTINCT docs: a span repeated inside one doc stays
    assert rows[3]["n_dup_tokens"] == 0 and rows[3]["text_scrubbed"] == "u v w u v w"


def test_scrub_spans_overlapping_coverage(spark):
    # doc 0 and doc 1 share two OVERLAPPING 3-grams ('a b c' at 0, 'b c d'
    # at 1): covered positions are the union 0..3, not 6 — interval
    # coverage, not per-gram token multiplicity
    rows = {
        r["doc_id"]: r
        for r in corpus_ops.scrub_dup_spans(
            spark.createDataFrame(
                [(0, "a b c d x1 y1"), (1, "a b c d x2 y2")],
                "doc_id long, text string",
            ),
            n=3,
            min_docs=2,
        ).collect()
    }
    assert rows[0]["n_dup_tokens"] == 4
    assert rows[0]["text_scrubbed"] == "x1 y1"
    assert rows[1]["text_scrubbed"] == "x2 y2"


# ---------------------------------------------------------- unigram_logprob

def test_unigram_matches_duckdb_oracle(docs):
    got = sorted(
        (r["doc_id"], r["n_tokens"], r["mean_neglogp"])
        for r in corpus_ops.unigram_logprob(docs).collect()
    )
    want = sorted(_duck(_oracle("text_unigram")))
    assert got == want
    # empty doc 3 has no tokens → no row (same on both engines)
    assert 3 not in {t[0] for t in got}


def test_unigram_closed_form(spark):
    rows = {
        r["doc_id"]: r
        for r in corpus_ops.unigram_logprob(
            spark.createDataFrame(
                [(0, "a a b"), (1, "b c")], "doc_id long, text string"
            )
        ).collect()
    }
    # counts: a=2 b=2 c=1, total=5
    q6 = lambda x: math.floor(x * 1e6) / 1e6
    nlp_a = q6(math.log(5 / 2))
    nlp_c = q6(math.log(5 / 1))
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["mean_neglogp"] == q6(3 * nlp_a / 3)
    assert rows[1]["mean_neglogp"] == q6((nlp_a + nlp_c) / 2)
    # rare-token doc is more "surprising" than the common-token doc
    assert rows[1]["mean_neglogp"] > rows[0]["mean_neglogp"]


# ------------------------------------------------------------ mix_upsample

def test_mix_upsample_matches_duckdb_oracle(docs):
    got = sorted(
        (r["doc_id"], r["source"], r["copy"])
        for r in corpus_ops.mix_upsample(
            docs, {"src0": 2.5, "src1": 0.25, "src2": 0.0}
        ).collect()
    )
    # module DOCS use srcA/srcB → all fall through to the default
    # weight 1.0: exactly one copy of every doc
    assert got == sorted(_duck(_oracle("corpus_mix")))
    assert got == sorted((d[0], d[3], 0) for d in DOCS)


def test_mix_upsample_epoch_math(spark):
    rows = corpus_ops.mix_upsample(
        spark.createDataFrame(
            [(i, f"doc {i}", "A" if i < 40 else "B" if i < 80 else "C")
             for i in range(120)],
            "doc_id long, text string, source string",
        ),
        {"A": 2.5, "B": 0.5, "C": 0.0},
        default_weight=1.0,
    ).collect()
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r["source"], []).append(r)
    # C is dropped entirely
    assert "C" not in by_group
    # every A doc has copies 0 and 1; roughly half have copy 2
    a_copies: dict[int, set] = {}
    for r in by_group["A"]:
        a_copies.setdefault(r["doc_id"], set()).add(r["copy"])
    assert all({0, 1} <= c for c in a_copies.values())
    n_third = sum(1 for c in a_copies.values() if 2 in c)
    assert 0 < n_third < 40  # deterministic-fractional, not all-or-nothing
    # B docs appear at most once, as copy 0
    assert all(r["copy"] == 0 for r in by_group["B"])
    assert 0 < len(by_group["B"]) < 40
    # determinism: a second run materializes the identical mix
    again = corpus_ops.mix_upsample(
        spark.createDataFrame(
            [(i, f"doc {i}", "A" if i < 40 else "B" if i < 80 else "C")
             for i in range(120)],
            "doc_id long, text string, source string",
        ),
        {"A": 2.5, "B": 0.5, "C": 0.0},
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ---------------------------------------------------------- bigram_logprob

def test_bigram_matches_duckdb_oracle(docs):
    got = sorted(
        (r["doc_id"], r["n_bigrams"], r["mean_neglogp"])
        for r in corpus_ops.bigram_logprob(docs).collect()
    )
    assert got == sorted(_duck(_oracle("text_bigram")))
    # sub-2-token docs (3: empty) emit no row on either engine
    assert 3 not in {t[0] for t in got}


def test_bigram_closed_form(spark):
    rows = {
        r["doc_id"]: r
        for r in corpus_ops.bigram_logprob(
            spark.createDataFrame(
                [(0, "a b a b"), (1, "b c")], "doc_id long, text string"
            )
        ).collect()
    }
    # c2: 'a b'=2, 'b a'=1, 'b c'=1; prefix counts: c1(a)=2, c1(b)=2
    q6 = lambda x: math.floor(x * 1e6) / 1e6
    ln2 = q6(math.log(2.0))
    assert rows[0]["n_bigrams"] == 3
    # doc0 terms: ln(2/2)=0, ln(2/1)=ln2, 0 → mean = ln2/3
    assert rows[0]["mean_neglogp"] == q6(ln2 / 3)
    assert rows[1]["mean_neglogp"] == q6(ln2)
    # the fully-predictable doc scores LOWER surprise than the rare pair
    assert rows[0]["mean_neglogp"] < rows[1]["mean_neglogp"]


# ------------------------------------------------------------ dsir_select

def test_dsir_self_target_zero_logw(docs):
    """target == raw ⇒ every per-token log-ratio is exactly 0 (ct=cr,
    tt=tr), so logw must be 0.0 for every selected doc and the ranking
    reduces to pure Gumbel noise — the importance-weight null case."""
    rows = corpus_ops.dsir_select(docs, docs, k=100).collect()
    assert rows  # zero-token docs excluded, everything else present
    assert all(r["logw"] == 0.0 for r in rows)


def test_dsir_prefers_target_like_docs(spark):
    raw = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(10)]
        + [(i + 10, "delta epsilon zeta") for i in range(10)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "alpha beta gamma alpha beta")], "doc_id long, text string"
    )
    top = corpus_ops.dsir_select(raw, target, k=10).collect()
    # the Gumbel noise is bounded (~[-2, 7] q6-floored over 20 hashes)
    # while the weight gap between the two groups is >> that, so the
    # whole top-10 must be the target-like group
    assert {r["doc_id"] for r in top} == set(range(10))
    assert all(r["logw"] > 0 for r in top)


def test_dsir_k_and_determinism(docs):
    with pytest.raises(ValueError, match="k must be"):
        corpus_ops.dsir_select(docs, docs, k=0)
    a = corpus_ops.dsir_select(docs, docs.limit(3), k=5).collect()
    b = corpus_ops.dsir_select(docs, docs.limit(3), k=5).collect()
    assert a == b
    assert len(a) == 5


# ---------------------------------------------------------- weighted_sample

def test_weighted_sample_laws(spark):
    df = spark.range(2000).selectExpr(
        "id AS doc_id",
        # ids < 100 get weight 50, the rest weight 1
        "CASE WHEN id < 100 THEN 50.0 ELSE 1.0 END AS w",
    )
    got = corpus_ops.weighted_sample(df, "w", 200).collect()
    assert len(got) == 200
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    # heavy ids are 100/2000 of rows but 5000/6900 of the weight mass —
    # expectation ~72+ of 200 draws; 40 is > 6 sigma below it while far
    # above the ~10 a uniform sample would give
    assert heavy > 40
    # deterministic
    again = corpus_ops.weighted_sample(df, "w", 200).collect()
    assert got == again
    # zero/negative/null weights can never be drawn
    z = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, None), (4, 5.0)], "doc_id long, w double"
    )
    assert [r["doc_id"] for r in corpus_ops.weighted_sample(z, "w", 10).collect()] == [4]
    with pytest.raises(ValueError, match="k must be"):
        corpus_ops.weighted_sample(z, "w", 0)


def test_weighted_sample_merge_law(spark):
    df = spark.range(1000).selectExpr("id AS doc_id", "1.0 + id % 7 AS w")
    whole = corpus_ops.weighted_sample(df, "w", 50).collect()
    lo = corpus_ops.weighted_sample(df.filter("doc_id < 500"), "w", 50)
    hi = corpus_ops.weighted_sample(df.filter("doc_id >= 500"), "w", 50)
    from pyspark.sql import functions as F

    rerank = (
        lo.unionAll(hi)
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(50)
        .collect()
    )
    assert whole == rerank


# ------------------------------------------------------ temperature_mix

def test_temperature_mix_alpha1_is_near_identity(spark):
    df = spark.range(2000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 10 = 0 THEN 'rare' ELSE 'big' END AS source"
    )
    out = corpus_ops.temperature_mix(df, alpha=1.0)
    # α=1 weights quantize to ~1.0 (floor can shave ≤1e-6 per doc)
    assert abs(out.count() - 2000) <= 2


def test_temperature_mix_alpha_half_upsamples_rare(spark):
    df = spark.range(2000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 10 = 0 THEN 'rare' ELSE 'big' END AS source"
    )
    out = corpus_ops.temperature_mix(df, alpha=0.5)
    by = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    # q_rare = sqrt(200)/(sqrt(200)+sqrt(1800)) = 0.25 of the target.
    # Fractional copies are hash-Bernoulli per doc, so the realized
    # counts deviate like a binomial (σ≈7 rare / σ≈16 big) — bound at
    # ~3.5σ; the mix is still bit-deterministic across runs
    assert abs(by["rare"] - 500) <= 25
    assert abs(by["big"] - 1500) <= 55
    assert abs(sum(by.values()) - 2000) <= 60


def test_temperature_mix_alpha0_is_uniform(spark):
    df = spark.range(3000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 30 = 0 THEN 'a' WHEN id % 3 = 0 THEN 'b' "
        "ELSE 'c' END AS source",
    )
    out = corpus_ops.temperature_mix(df, alpha=0.0)
    by = {r["source"]: r["n"] for r in out.groupBy("source").agg(
        F.count("*").alias("n")).collect()}
    for g in ("a", "b", "c"):
        # hash-Bernoulli fractional copies: σ up to ~22 per group
        assert abs(by[g] - 1000) <= 75


def test_temperature_mix_deterministic_and_scaled_target(spark):
    df = spark.range(500).selectExpr(
        "id AS doc_id", "CASE WHEN id % 5 = 0 THEN 's1' ELSE 's2' END AS source"
    )
    a = sorted(map(tuple, corpus_ops.temperature_mix(df, 0.5, total_rows=1000).collect()))
    b = sorted(map(tuple, corpus_ops.temperature_mix(df, 0.5, total_rows=1000).collect()))
    assert a == b
    assert abs(len(a) - 1000) <= 40


def test_temperature_mix_guards(spark):
    df = spark.range(10).selectExpr("id AS doc_id", "'s' AS source")
    with pytest.raises(ValueError, match="alpha"):
        corpus_ops.temperature_mix(df, alpha=-0.1)
    empty = corpus_ops.temperature_mix(df.filter("doc_id < 0"))
    assert empty.count() == 0


# ------------------------------------------------------------ BPE train/encode

def test_bpe_train_matches_hand_computation(spark):
    # corpus: 'abab abab ab' — pair counts over words {abab:2, ab:1}:
    # (a,b)=5 → merge; then (ab,ab)=2 → merge; then nothing ≥ 2
    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab")], "doc_id long, text string"
    )
    merges = corpus_ops.bpe_train(df, n_merges=10)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_bpe_train_tie_breaks_lexicographically(spark):
    # 'ab' and 'cd' both appear twice; the smaller pair merges first
    df = spark.createDataFrame([(1, "ab cd ab cd")], "doc_id long, text string")
    merges = corpus_ops.bpe_train(df, n_merges=1)
    assert merges == [("a", "b")]


def test_bpe_encode_roundtrip_and_counts(spark):
    from zestdb_spark.functions.corpus_ops import BPE_SEP

    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "xyz")], "doc_id long, text string"
    )
    merges = corpus_ops.bpe_train(df, n_merges=10)
    rows = {r.doc_id: r for r in corpus_ops.bpe_encode(df, merges).collect()}
    # stripping separators recovers the original text exactly
    assert rows[1].encoded.replace(BPE_SEP, "") == "abab abab ab"
    # doc 1: 'abab'→1 subword ×2, 'ab'→1 subword → 3 total
    assert rows[1].n_subwords == 3
    # doc 2: no merges apply → one subword per char
    assert rows[2].n_subwords == 3


def test_bpe_encode_never_crosses_word_boundaries(spark):
    # the pair (b, a) occurs INSIDE 'aba' but also across 'ab a' —
    # only the within-word occurrence may merge
    df = spark.createDataFrame([(1, "ab ab ab aba")], "doc_id long, text string")
    merges = corpus_ops.bpe_train(df, n_merges=1)
    assert merges == [("a", "b")]
    row = corpus_ops.bpe_encode(df, merges).first()
    # 'ab'×3 → 1 subword each; 'aba' → ab + a = 2 subwords
    assert row.n_subwords == 5


def test_bpe_encode_empty_merges_counts_chars(spark):
    df = spark.createDataFrame([(1, "ab c")], "doc_id long, text string")
    row = corpus_ops.bpe_encode(df, []).first()
    assert row.n_subwords == 3


def test_bpe_encode_strips_stray_separators(spark):
    from zestdb_spark.functions.corpus_ops import BPE_SEP

    df = spark.createDataFrame(
        [(1, f"a{BPE_SEP}b c")], "doc_id long, text string"
    )
    row = corpus_ops.bpe_encode(df, []).first()
    assert row.encoded.replace(BPE_SEP, "") == "ab c"
    assert row.n_subwords == 3


def test_bpe_encode_kernel_matches_literal(spark, docs, monkeypatch):
    # the Arrow kernel (large-merge-table path) must be bit-identical
    # to the chained-replace expression — same encoded stream, same
    # counts, on real fixture text including nulls and stray separators.
    # The path follows len(merges) vs BPE_KERNEL_MERGES, so moving the
    # threshold forces each side on the same merge table.
    from zestdb_spark.functions.corpus_ops import BPE_SEP

    extra = spark.createDataFrame(
        [(100, None), (101, f"a{BPE_SEP}bab  ab")],
        "doc_id long, text string",
    ).withColumn("lang", F.lit(None).cast("string")).withColumn(
        "source", F.lit(None).cast("string")
    )
    corpus = docs.unionByName(extra)
    merges = corpus_ops.bpe_train(corpus, n_merges=12)
    assert merges  # the fixture corpus trains a non-trivial table

    def encode(threshold):
        monkeypatch.setattr(corpus_ops, "BPE_KERNEL_MERGES", threshold)
        return {
            r.doc_id: (r.encoded, r.n_subwords)
            for r in corpus_ops.bpe_encode(corpus, merges).collect()
        }

    lit = encode(len(merges))
    ker = encode(len(merges) - 1)
    assert lit == ker
    assert lit[100] == (None, None)


def test_bpe_encode_32k_merge_table_plans_and_runs(spark):
    # the regime the literal path cannot reach: a real tokenizer's
    # ~32k merges would be a 32k-deep nested-replace expression tree.
    # auto-dispatch must pick the kernel and encode correctly.
    import itertools
    import string

    pairs = itertools.product(
        ["".join(p) for p in itertools.product(string.ascii_lowercase, repeat=2)],
        string.ascii_lowercase,
    )
    merges = [(a, b) for a, b in itertools.islice(pairs, 32_000)]
    # seed two real merges at the FRONT so order-dependent application
    # is exercised, not just a no-op sweep
    merges = [("a", "b"), ("ab", "ab")] + merges
    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "xyz")], "doc_id long, text string"
    )
    assert len(merges) > corpus_ops.BPE_KERNEL_MERGES
    rows = {r.doc_id: r for r in corpus_ops.bpe_encode(df, merges).collect()}
    from zestdb_spark.functions.corpus_ops import BPE_SEP

    assert rows[1].encoded.replace(BPE_SEP, "") == "abab abab ab"
    assert rows[1].n_subwords == 3  # abab, abab, ab after the seeded merges


def test_probe_fit_drops_null_rows(spark):
    import math

    from pyspark.sql import types as T

    from zestdb_spark.functions import probe

    schema = T.StructType(
        [
            T.StructField("x1", T.DoubleType()),
            T.StructField("y", T.DoubleType()),
        ]
    )
    clean = [(float(i % 10) / 10, 1.0 + 2.0 * (i % 10) / 10) for i in range(50)]
    dirty = clean + [(None, 5.0), (0.3, None), (None, None)]
    m = probe.fit_probe(spark.createDataFrame(dirty, schema), "y", ["x1"], 1e-9)
    assert m["n_rows"] == 50
    assert math.isclose(m["weights"]["x1"], 2.0, abs_tol=1e-6)


# ------------------------------------------------- unigram LM tokenizer

def test_viterbi_matches_bruteforce_on_random_words():
    """The Viterbi DP must find the EXACT max over all segmentations
    (value = (Σ logp, fewer pieces, longest last piece)) — pinned
    against brute-force enumeration on random short words."""
    import itertools
    import random

    from zestdb_spark.functions.corpus_ops import (
        UNIGRAM_UNK_LOGP,
        _viterbi_pieces,
    )

    rnd = random.Random(7)
    alphabet = "abc"
    vocab = {}
    for ln in (1, 2, 3):
        for tup in itertools.product(alphabet, repeat=ln):
            if rnd.random() < (1.0 if ln == 1 else 0.5):
                vocab["".join(tup)] = round(rnd.uniform(-8, -1), 6)

    def brute(word):
        best = None
        n = len(word)
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pieces, start = [], 0
            for idx, cut in enumerate(cuts, 1):
                if cut:
                    pieces.append(word[start:idx])
                    start = idx
            pieces.append(word[start:])
            if any(len(p) > 3 for p in pieces):
                continue
            score = 0.0
            ok = True
            for p in pieces:
                lp = vocab.get(p)
                if lp is None:
                    if len(p) != 1:
                        ok = False
                        break
                    lp = UNIGRAM_UNK_LOGP
                score += lp
            if not ok:
                continue
            # same tie rule as the DP: more score, fewer pieces, then
            # longest LAST piece (smaller start of last piece)
            key = (score, -len(pieces), -(len(pieces[-1])))
            if best is None or key > best[0]:
                best = (key, pieces)
        return best[1]

    for _ in range(300):
        w = "".join(rnd.choice(alphabet + "z") for _ in range(rnd.randint(1, 8)))
        got = _viterbi_pieces(w, vocab, 3)
        assert "".join(got) == w
        exp = brute(w)
        s_got = sum(vocab.get(p, UNIGRAM_UNK_LOGP) for p in got)
        s_exp = sum(vocab.get(p, UNIGRAM_UNK_LOGP) for p in exp)
        assert s_got == s_exp and len(got) == len(exp), (w, got, exp)


def test_unigram_train_and_encode(spark):
    from zestdb_spark.functions.corpus_ops import (
        BPE_SEP,
        unigram_encode,
        unigram_train,
    )

    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab xyz"), (3, None)],
        "doc_id long, text string",
    )
    vocab = unigram_train(df, vocab_size=12, max_piece_len=4)
    # every character is covered; frequent substrings are pieces
    for ch in "abxyz":
        assert ch in vocab
    assert "abab" in vocab  # the dominant word survives pruning
    assert all(lp < 0 for lp in vocab.values())
    # determinism
    assert unigram_train(df, vocab_size=12, max_piece_len=4) == vocab
    rows = {r.doc_id: r for r in unigram_encode(df, vocab).collect()}
    assert rows[1].encoded.replace(BPE_SEP, "") == "abab abab ab"
    assert rows[1].n_pieces == 3  # abab, abab, ab — max-likelihood
    assert rows[3].encoded is None and rows[3].n_pieces is None
    # pieces are vocabulary members (or unk single chars)
    for r in (rows[1], rows[2]):
        for word in r.encoded.split(" "):
            for p in filter(None, word.split(BPE_SEP)):
                assert p in vocab or len(p) == 1


def test_unigram_fixed_vocab_is_tie_free_on_corpus():
    """The graded row's oracle ranks segmentations by score alone
    (np ASC as a safety ordinal) — sound ONLY because no two
    segmentations of any corpus word tie under the fixed vocabulary.
    Enumerate and assert; if the driver corpus ever changes, this
    trips before the oracle silently diverges."""
    import itertools

    import duckdb

    import __spark_entry__ as entry

    vocab = entry._UNIGRAM_FIXED_VOCAB
    con = duckdb.connect()
    words = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT unnest(string_split(text, ' ')) AS w "
            "FROM '/root/testdata/sf0.001/documents.parquet' "
            "WHERE text IS NOT NULL"
        ).fetchall()
        if r[0]
    ]
    assert words and all(len(w) <= 12 for w in words)  # enumeration stays cheap
    for w in words:
        assert all(ch in vocab for ch in w)  # full coverage: no unk path
        scores = []
        n = len(w)
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pieces, start = [], 0
            for idx, c in enumerate(cuts, 1):
                if c:
                    pieces.append(w[start:idx])
                    start = idx
            pieces.append(w[start:])
            if any(len(p) > 4 or p not in vocab for p in pieces):
                continue
            s = 0.0
            for p in pieces:
                s += vocab[p]
            scores.append(s)
        top = sorted(scores, reverse=True)
        assert len(top) >= 1
        if len(top) > 1:
            assert top[0] != top[1], (w, top[:2])


def test_unigram_encode_roundtrip_property(spark):
    """Hypothesis-style roundtrip over arbitrary text (unicode,
    multi-space runs, stray separator bytes): stripping the separators
    always recovers the (separator-scrubbed) original, and every piece
    is either a vocab member or a single covered-by-unk character."""
    import random

    from zestdb_spark.functions.corpus_ops import (
        BPE_SEP,
        unigram_encode,
        unigram_train,
    )

    rnd = random.Random(11)
    alphabet = "abcdeé中 ~!"
    texts = [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 40)))
        for _ in range(30)
    ]
    texts.append(f"with{BPE_SEP}stray{BPE_SEP}separators")
    texts.append("")
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    vocab = unigram_train(df, vocab_size=32, max_piece_len=3)
    rows = {r.doc_id: r for r in unigram_encode(df, vocab, max_piece_len=3).collect()}
    for i, t in enumerate(texts):
        scrubbed = t.replace(BPE_SEP, "")
        assert rows[i].encoded.replace(BPE_SEP, "") == scrubbed, repr(t)
        assert rows[i].n_pieces == rows[i].encoded.count(BPE_SEP)
        for word in rows[i].encoded.split(" "):
            for p in filter(None, word.split(BPE_SEP)):
                assert p in vocab or len(p) == 1, (t, p)
