"""Text analysis operators for training-data pipelines.

Extension beyond the reference surface: language-ID (stopword n-gram
heuristic), quality scoring, token counting, and document
fingerprinting — all pure built-in column expressions (no UDFs), so
they run in whole-stage codegen over 100 TB of documents and are
exactly reproducible in the DuckDB oracle.

Arithmetic sticks to +,-,*,/ and round (no transcendentals) so Spark
and any oracle engine agree bit-for-bit.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zestdb_spark.functions.dedup import q6

#: Stopword lists per language for the n-gram/stopword heuristic.
#: Fixed engine constants — mirrored verbatim in the oracle SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "del", "se"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"),
    "fr": ("le", "les", "et", "une", "des", "est", "dans", "du", "au", "sur"),
}
#: Precedence for argmax ties (checked in this order).
LANG_ORDER = ("en", "es", "de", "fr")


@lru_cache(maxsize=None)
def _tokens() -> Column:
    return F.split(F.col("text"), " ")


@lru_cache(maxsize=None)
def _hits(lang: str) -> Column:
    # Memoized per language (r13): Columns are immutable expression
    # templates and each HOF filter costs dozens of py4j round-trips;
    # the bench/driver rebuild every query frame per cycle (the
    # dedup._shingle_array precedent — guide §4's Python boundary
    # includes driver-side chatter).
    words = STOPWORDS[lang]
    return F.size(F.filter(_tokens(), lambda t: t.isin(*words)))


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens): single-space tokens, empties excluded —
    whitespace tokenizer with a BPE-ish lower bound intent. LONG to
    match the oracle engine's count width."""
    n = F.size(F.filter(_tokens(), lambda t: t != "")).cast("long")
    return docs.select("doc_id", n.alias("n_tokens"))


#: GPT-2-style pre-tokenizer approximation: alphanumeric runs OR single
#: non-space symbols — each unit is what a BPE merge table would then
#: split further, so the count upper-bounds whitespace tokens and
#: tracks real subword counts far more closely on punctuated text
_BPE_ISH = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """(doc_id, n_units): BPE-ish regex pre-tokenization count — one
    unit per alphanumeric run or punctuation symbol. The regex class
    is ASCII-anchored so Java (Spark) and RE2 (DuckDB oracle) agree
    byte-for-byte."""
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_ISH), F.lit(0))).cast("long")
    return docs.select("doc_id", n.alias("n_units"))


def punct_ratio(docs: DataFrame) -> DataFrame:
    """(doc_id, punct_ratio): share of characters that are punctuation
    (non-alphanumeric, non-whitespace) — a standard pretraining quality
    signal (boilerplate/markup detector). Pure column expressions;
    q6-floored so the oracle matches exactly."""
    from zestdb_spark.functions.dedup import q6

    n_punct = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    ratio = n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1))
    return docs.select("doc_id", q6(ratio).alias("punct_ratio"))


@lru_cache(maxsize=None)
def quality_exprs() -> tuple[Column, Column, Column]:
    """(n_tokens, stopword_ratio, score) expression trio — the ONE
    definition of the quality arithmetic, shared by ``quality_score``
    and the composed clean-corpus pipeline so they cannot drift.
    Zero-token docs score 0.0 (greatest(n,1) guards the division —
    under ANSI mode a bare hits/n THROWS on empty text; found by the
    oracle-equivalence property tests). Memoized (constant templates;
    see ``_hits``)."""
    n = F.size(F.filter(_tokens(), lambda t: t != "")).cast("long")
    ratio = q6(_hits("en") / F.greatest(n, F.lit(1)))
    length_credit = F.least(n, F.lit(400)) / 400
    score = q6(ratio * 0.5 + length_credit * 0.5)
    return n, ratio, score


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, stopword_ratio, score): linear quality proxy —
    stopword density plus a capped length credit; q6-floored.

    Staged like ``lang_id``: the token array and the two interpreted
    HOF counts get their own projections, so each runs once per row
    instead of once per reference (the inlined ``quality_exprs`` trio
    re-evaluates the token filter ~7x per row — ``quality_exprs``
    stays as the shared arithmetic definition for expression-level
    callers, and this staged plan produces identical values)."""
    toks = F.filter(_tokens(), lambda t: t != "")
    s1 = docs.select("doc_id", toks.alias("__ztoks"))
    s2 = s1.select(
        "doc_id",
        F.size("__ztoks").cast("long").alias("__zn"),
        F.size(
            F.filter(
                F.col("__ztoks"), lambda t: t.isin(*STOPWORDS["en"])
            )
        ).alias("__zhits"),
    )
    n = F.col("__zn")
    ratio = q6(F.col("__zhits") / F.greatest(n, F.lit(1)))
    length_credit = F.least(n, F.lit(400)) / 400
    score = q6(ratio * 0.5 + length_credit * 0.5)
    return s2.select(
        "doc_id",
        n.alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        score.alias("score"),
    )


def lang_hit_cols() -> "dict[str, Column]":
    """One stopword-hit count column per language (the staged inputs
    for ``lang_pred_from_hits``). Stage these in their OWN projection:
    each is an interpreted higher-order filter, and the argmax tree
    references every count 2-4 times — inlined, Spark evaluates the
    filter (and the text split) at every reference, which measured
    ~4x slower at the round-11 sf1 probe (3.5 s vs 0.9 s over 50k
    docs). A staged alias is evaluated once; CollapseProject keeps the
    stage because it never duplicates non-cheap expressions referenced
    more than once."""
    return {lang: _hits(lang) for lang in LANG_ORDER}


def lang_pred_from_hits(hits: "dict[str, Column]") -> Column:
    """The stopword-hit argmax over PRECOMPUTED hit columns (fixed
    precedence en > es > de > fr, 'und' when nothing hits) — the ONE
    definition of the decision tree, shared by ``lang_id`` and the
    clean-corpus pipeline."""
    # argmax with precedence: en wins ties against all, es against de/fr, ...
    cond_en = (hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] > 0)
    cond_es = (hits["es"] >= hits["de"]) & (hits["es"] >= hits["fr"]) & (hits["es"] > 0)
    cond_de = (hits["de"] >= hits["fr"]) & (hits["de"] > 0)
    cond_fr = hits["fr"] > 0
    return (
        F.when(cond_en, "en")
        .when(cond_es, "es")
        .when(cond_de, "de")
        .when(cond_fr, "fr")
        .otherwise("und")
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang): stopword-hit argmax with fixed precedence
    (en > es > de > fr), 'und' (undetermined) when no list hits.
    Hit counts are staged in their own projection so each language's
    interpreted filter runs once per row, not once per reference."""
    staged = docs.select(
        "doc_id",
        *[c.alias(f"__hits_{lang}") for lang, c in lang_hit_cols().items()],
    )
    pred = lang_pred_from_hits(
        {lang: F.col(f"__hits_{lang}") for lang in LANG_ORDER}
    )
    return staged.select("doc_id", pred.alias("pred_lang"))


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dup_token_frac): Gopher-style repetition
    signal — the fraction of tokens that are repeats of an earlier
    token. Pure scan-local array expressions (size/array_distinct),
    ZERO shuffles, so it runs inside whole-stage codegen over the full
    corpus. Word-level (not line-level) because the repetition unit a
    quality filter cares about is whatever the corpus actually repeats;
    line-level variants are the same two expressions over
    split(text, '\\n')."""
    toks = F.filter(_tokens(), lambda t: t != "")
    # staged (see gopher_quality): the token chain is referenced four
    # times below and CodegenFallback HOFs are never CSE'd
    s1 = docs.select("doc_id", toks.alias("__ztoks"))
    n = F.size("__ztoks").cast("long")
    n_distinct = F.size(F.array_distinct("__ztoks")).cast("long")
    frac = q6((n - n_distinct) / F.greatest(n, F.lit(1)))
    return s1.select(
        "doc_id", n.alias("n_tokens"), frac.alias("dup_token_frac")
    )


def top_ngram_frac(docs: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, n_ngrams, top_frac): fraction of word n-grams taken by
    the single most frequent n-gram (Gopher's top-2-gram filter).

    Relational plan: build the n-gram array scan-locally (zip of
    shifted token slices — same O(len) trick as dedup._shingle_array,
    but KEEPING duplicates), posexplode, then ONE partial-agg groupBy
    on (doc_id, ngram) and a per-doc max. Both shuffles are on compact
    keys with map-side combine; no all-pairs anything, so the plan is
    the one you'd run at 100 TB. Docs with fewer than n tokens yield
    no n-grams and are excluded (as in the oracle)."""
    toks = F.filter(_tokens(), lambda t: t != "")
    m = F.size(toks)
    grams = toks
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, F.greatest(m - i, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    grams = F.slice(grams, 1, F.greatest(m - (n - 1), F.lit(0)))
    exploded = docs.select("doc_id", F.explode(grams).alias("g"))
    counts = exploded.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(F.sum("c").alias("n_ngrams"), F.max("c").alias("top_c"))
        .select(
            "doc_id",
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            q6(F.col("top_c") / F.col("n_ngrams")).alias("top_frac"),
        )
    )


def gopher_quality(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    max_dup_token_frac: float = 0.6,
    min_stopword_hits: int = 1,
) -> DataFrame:
    """(doc_id, n_words, mean_word_len, dup_token_frac, stopword_hits,
    passes): composed Gopher-rule quality filter — length bounds, mean
    word length bounds, repetition cap, and a stopword-presence floor
    (the reference rules, re-parameterized for this corpus's
    distribution). Zero shuffles; `passes` is the boolean a cleaning
    pipeline would filter on.

    Staged (the ``lang_id`` lesson): the single-projection form
    re-evaluated the interpreted token filter ~15x per row — once per
    reference, because CodegenFallback HOFs are never CSE'd. The token
    array and the four scalar stats each get their own projection, so
    every chain runs once; values are identical."""
    toks = F.filter(_tokens(), lambda t: t != "")
    s1 = docs.select("doc_id", toks.alias("__ztoks"))
    s2 = s1.select(
        "doc_id",
        F.size("__ztoks").cast("long").alias("__zn"),
        F.aggregate(
            F.col("__ztoks"),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.length(t),
        ).alias("__zsumlen"),
        F.size(F.array_distinct("__ztoks")).alias("__zdist"),
        F.size(
            F.filter(
                F.col("__ztoks"),
                lambda t: t.isin(*STOPWORDS["en"]),
            )
        ).alias("__zhits"),
    )
    n = F.col("__zn")
    mean_len = q6(F.col("__zsumlen") / F.greatest(n, F.lit(1)))
    dup_frac = q6((n - F.col("__zdist")) / F.greatest(n, F.lit(1)))
    hits = F.col("__zhits").cast("long")
    passes = (
        (n >= min_words)
        & (n <= max_words)
        & (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len)
        & (dup_frac <= max_dup_token_frac)
        & (hits >= min_stopword_hits)
    )
    return s2.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        dup_frac.alias("dup_token_frac"),
        hits.alias("stopword_hits"),
        passes.alias("passes"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, window: int = 4) -> DataFrame:
    """MOSS-style winnowing fingerprints: rolling char k-gram hashes,
    min-sampled over every ``window`` consecutive hashes → the distinct
    selected hashes per doc as (doc_id, fp LONG) rows.

    Winnowing's guarantee: any shared substring of length
    ≥ k + window − 1 between two docs yields at least one shared
    fingerprint — the partial-overlap detector that whole-document
    hashing (``fingerprint``) cannot provide.

    Entirely scan-local array expressions (transform/slice/array_min),
    zero shuffles; hashes are 28-bit md5 prefixes reproduced exactly by
    the DuckDB oracle (verified value-for-value). Docs shorter than
    k + window − 1 chars produce no fingerprints.
    """
    kgram_hashes = F.expr(
        f"""filter(transform(sequence(1, greatest(length(text), 1)),
                   i -> CASE WHEN i <= length(text) - {k - 1}
                             THEN cast(conv(substr(md5(substr(text, i, {k})), 1, 7), 16, 10) as bigint)
                        END),
                   x -> x is not null)"""
    )
    # window mins relationally: posexplode the hash array once, then a
    # sliding min over the next `window` rows per doc. An array-side
    # slice(h, i, w) formulation is a trap: CollapseProject re-inlines
    # the full k-gram expression into EVERY slice call — quadratic
    # re-evaluation (measured 370s vs <2s for 500 docs).
    from pyspark.sql import Window as W

    exploded = docs.select(
        "doc_id", F.posexplode(kgram_hashes).alias("pos", "h")
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, window - 1)
    )
    counted = exploded.withColumn("m", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    mins = (
        counted.withColumn("wmin", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("m") - window)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )
    return mins


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): md5 of whitespace-normalized lowercase text — the
    canonical content fingerprint for exact-dup detection across
    formatting variants."""
    normalized = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return docs.select("doc_id", F.md5(F.trim(normalized)).alias("fp"))


#: ASCII-anchored hygiene patterns — deliberately RE2-compatible (no
#: backrefs, no lookaround) so Spark (Java regex) and any RE2-based
#: oracle agree byte-for-byte on the same text.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
LONG_DIGITS_RE = r"[0-9][0-9][0-9][0-9][0-9][0-9]+"  # 6+ digit runs
URL_RE = r"https?://[^ ]+"


def redact_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_redactions): emails → ``<EMAIL>``, 6+-digit
    runs (phone/account/SSN-shaped) → ``<NUMBER>``. Pure
    regexp_replace column expressions — scan-local, zero shuffles,
    whole-stage codegen; the redaction count is what a pipeline audits
    (how much PII-shaped text a source carries)."""
    n_email = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
    cleaned = F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>")
    n_num = F.size(F.regexp_extract_all(cleaned, F.lit(LONG_DIGITS_RE), F.lit(0)))
    out = F.regexp_replace(cleaned, LONG_DIGITS_RE, "<NUMBER>")
    return docs.select(
        "doc_id",
        out.alias("text"),
        (n_email + n_num).cast("long").alias("n_redactions"),
    )


def url_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_urls, domains): URLs found and their sorted distinct
    registrable hosts — the C4-style provenance signal used for
    per-domain filtering/sampling. Scan-local array expressions; the
    per-domain corpus histogram is then one explode + groupBy away."""
    urls = F.regexp_extract_all(F.col("text"), F.lit(URL_RE), F.lit(0))
    hosts = F.transform(
        urls,
        lambda u: F.split(F.split(u, "://").getItem(1), "/").getItem(0),
    )
    return docs.select(
        "doc_id",
        F.size(urls).cast("long").alias("n_urls"),
        F.array_sort(F.array_distinct(hosts)).alias("domains"),
    )


#: a "tag" must open like one (letter, slash, or ! for comments/doctype)
#: so prose comparisons like "a < b and c > d" survive stripping
MARKUP_TAG_RE = r"<[/!A-Za-z][^<>]*>"
#: the handful of HTML entities that survive into crawled plain text;
#: &amp; is decoded LAST so "&amp;lt;" becomes "&lt;" (one decode pass,
#: not a loop — the standard single-unescape contract)
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def strip_markup(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_tags): C4-style markup stripping — drop
    ``<...>`` tag spans, single-decode the common HTML entities, and
    collapse the whitespace runs the removals leave behind. The tag
    pattern is RE2-compatible (no backrefs/lookaround) so any oracle
    engine replays it byte-for-byte. Scan-local regexp/replace column
    expressions: zero shuffles, whole-stage codegen."""
    n_tags = F.size(F.regexp_extract_all(F.col("text"), F.lit(MARKUP_TAG_RE), F.lit(0)))
    out = F.regexp_replace(F.col("text"), MARKUP_TAG_RE, " ")
    for ent, ch in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    out = F.trim(F.regexp_replace(out, r"  +", " "))
    return docs.select(
        "doc_id", out.alias("text"), n_tags.cast("long").alias("n_tags")
    )
