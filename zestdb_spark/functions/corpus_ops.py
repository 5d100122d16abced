"""Corpus-level training-data operators: deterministic splits,
stratified sampling, mixture stats, benchmark decontamination,
vocabulary top-k, tf-idf, per-group quality top-k, and int8
embedding quantization.

These extend the reference's query surface (ZestDB has no corpus
ops — SURVEY.md §7.1 step 9) with the operations a 100 TB LLM
training-data pipeline runs between "raw crawl" and "tokenized
shards". Design rules shared with the rest of the package:

- pure column expressions + hash-partitioned aggregation — no Python
  UDFs, no ``collect()``, nothing driver-side but the plan;
- every nondeterminism source is pinned: sampling/splitting use an
  md5-derived bucket of the stable ``doc_id`` (reproducible across
  runs, engines, and cluster sizes — never ``rand()``); top-k uses a
  total order (metric desc, id asc);
- doubles that cross the oracle boundary are q6-floored
  (``dedup.q6``) so DuckDB replays them bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from zestdb_spark.functions.dedup import (
    _hash60,
    _persist_bounded,
    _spread,
    q6,
    shingles,
)
from zestdb_spark.functions.textstats import quality_score
from zestdb_spark.functions.token_count_kernel import (
    make_tf_rows_fn,
    make_token_stats_fn,
    stats_schema,
    tf_schema,
)

__all__ = [
    "hash_bucket",
    "hash_split",
    "stratified_sample",
    "source_stats",
    "topk_per_group",
    "vocab_topk",
    "tf_idf",
    "decontaminate",
    "quantize_embeddings",
    "bigram_logprob",
    "bm25_topk",
    "bpe_pair_stats",
    "mix_upsample",
    "scrub_dup_spans",
    "unigram_logprob",
    "dsir_select",
    "weighted_sample",
]


def hash_bucket(col: Column, buckets: int) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the column's
    string form. 15 hex chars = 60 bits, so the intermediate fits a
    signed long and the modulo is engine-portable (same construction
    as the SimHash token hash). This is the ONLY randomness primitive
    the corpus ops use: hash-of-id, never rand(), so membership is
    stable under retries, re-partitioning, and re-runs — the property
    a reproducible training-data pipeline actually needs."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")
    return h % buckets


def hash_split(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """(doc_id, bucket, split): deterministic train/val/test assignment
    by hash-bucket of doc_id — the standard "split by hash, not by
    position" rule so the split survives corpus growth and reshuffles.
    Scan-local (no shuffle at all): bucket and split are projections."""
    bucket = hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < val_pct, "val")
        .when(bucket < val_pct + test_pct, "test")
        .otherwise("train")
    )
    return docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    default_fraction: float = 0.0,
) -> DataFrame:
    """(doc_id, <group_col>): keep each doc with its group's sampling
    fraction — the data-mixing primitive (e.g. up-sample low-resource
    languages, down-sample boilerplate-heavy sources). Deterministic:
    a doc is kept iff hash_bucket(doc_id, 1e6) < frac·1e6, so the
    same doc is kept in every run and engine. Scan-local filter —
    pushes down past the parquet scan, no shuffle."""
    bucket = hash_bucket(F.col("doc_id"), 1_000_000)
    thresh = F.lit(int(default_fraction * 1_000_000))
    for group, frac in sorted(fractions.items()):
        thresh = F.when(F.col(group_col) == group, int(frac * 1_000_000)).otherwise(
            thresh
        )
    return docs.filter(bucket < thresh).select("doc_id", group_col)


def source_stats(docs: DataFrame) -> DataFrame:
    """(source, n_docs, total_tokens, mean_score): per-source mixture
    stats — the table a data-mixing step reads to set per-source
    sampling weights/token budgets. One hash-partitioned groupBy with
    map-side partial aggregation; mean is decimal-exact sum / count
    so the oracle agrees regardless of reduce order."""
    q = quality_score(docs).select("doc_id", "score")
    toks = F.size(F.filter(F.split("text", " "), lambda t: t != "")).cast("long")
    base = docs.select("doc_id", "source", toks.alias("n_tokens")).join(q, "doc_id")
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.sum(F.col("score").cast("decimal(38,6)")).cast("double")
            / F.count("score")
        ).alias("mean_score"),
    )


def topk_per_group(docs: DataFrame, k: int = 3, group_col: str = "lang") -> DataFrame:
    """(<group_col>, doc_id, score, rank): the k highest-quality docs
    per group — curation's "best N per language/source" selector.
    WindowGroupLimit pushes the rank-k filter below the exchange
    (Spark ≥3.5), so each partition ships at most k rows per group."""
    q = quality_score(docs).select("doc_id", "score")
    base = docs.select("doc_id", group_col).join(q, "doc_id")
    w = Window.partitionBy(group_col).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        base.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(group_col, "doc_id", "score", "rnk")
    )


def vocab_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """(tok, freq, rank): the k most frequent tokens corpus-wide with a
    deterministic total order (freq desc, tok asc). Two-phase: the
    token groupBy is fully distributed (map-side combine), then the
    global top-k is TakeOrderedAndProject — per-partition heaps of k,
    never a single-partition global sort. The final row_number runs on
    exactly k rows. Vocabulary building / frequency-cutoff precursor."""
    counts = (
        docs.select(F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(k)
    )
    # Global (partition-less) window — INTENTIONAL and safe: the input
    # is the limit(k) above, ≤ k rows on one task. Spark's WindowExec
    # logs a blanket "No Partition Defined" WARN for any empty spec
    # (a constant partition key doesn't help — the optimizer
    # constant-folds it back to empty), so session.py/harden_session
    # quiets that one logger; real global-window regressions are
    # caught by the plan-contract tests instead.
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return counts.withColumn("rnk", F.row_number().over(w))


def tf_idf(docs: DataFrame, broadcast_vocab: bool = True) -> DataFrame:
    """(doc_id, tok, tf, df, tfidf): classic tf·ln(N/df) term weights.
    Shape: the tf table is computed SCAN-LOCALLY in one vectorized
    Arrow kernel (token_count_kernel.make_tf_rows_fn): per-(doc, tok)
    counts are scan-local facts (a doc lives in one partition), so the
    explode → partial agg → corpus-sized Exchange → final agg chain
    collapses to a per-batch Arrow hash group-by with ZERO shuffle.
    df is derived FROM tf ((doc_id, tok) rows are unique there, so
    df = count per token) — the df shuffle moves the already-collapsed
    tf rows, not raw tokens. The df table is vocabulary-sized (Zipf:
    ≪ corpus) and broadcast by default, so the re-join is map-side —
    tf is never re-exchanged by token (measured −13% at sf0.1, and one
    whole corpus-sized shuffle less at scale); ``broadcast_vocab=False``
    degrades to a shuffle equi-join for pathological vocabularies past
    the broadcast ceiling (the ``unigram_logprob`` contract). N is a
    1-row broadcast. q6-floored score (tf, df, N are integers, so the
    double inputs are identical in both engines and ln agrees to well
    under the 1e-6 quantum; pinned against the DuckDB oracle by
    tests/test_token_count_kernel.py).

    Input contract: doc_ids must be UNIQUE (the corpus contract
    everywhere in this module) — the kernel's group-by is per-batch,
    so duplicate ids split across partitions emit one tf row per
    partition instead of one merged row."""
    tf = docs.select("doc_id", "text").mapInArrow(
        make_tf_rows_fn(),
        tf_schema(docs.schema["doc_id"].dataType.simpleString()),
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(F.broadcast(df) if broadcast_vocab else df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            q6(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )


def decontaminate(docs: DataFrame, bench: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, n_hits): training docs sharing ≥1 word k-shingle with a
    benchmark/eval corpus — the contamination check every training set
    needs before an eval claim. Both sides shingle scan-locally; the
    join is an equi-join on the shingle key (hash-partitioned, never
    all-pairs) against the DISTINCT benchmark shingle set, which is
    eval-sized (small) and broadcastable at real scale. n_hits counts
    the doc's distinct contaminated shingles (shingles() emits each
    doc's shingle set, so a plain count is already distinct)."""
    bench_sh = shingles(bench, k).select("shingle").distinct()
    doc_sh = shingles(docs, k)
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def quantize_embeddings(embs: DataFrame) -> DataFrame:
    """(vec_id, scale, qvec): per-vector absmax int8 quantization — the
    4× storage/bandwidth reduction step before ANN indexing or
    shipping embeddings to a trainer. scale = max|x|/127; qvec[i] =
    round(x/scale) ∈ [-127, 127]. Scan-local array expressions (no
    shuffle, no UDF); an all-zero vector quantizes to zeros with
    scale 0. round() here is portable: both engines round the SAME
    double away-from-zero on halves."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = maxabs / F.lit(127.0)
    q = F.when(maxabs == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int"))
    )
    return embs.select(
        "vec_id", scale.alias("scale"), q.alias("qvec")
    )


def bigram_logprob(docs: DataFrame, broadcast_vocab: bool = True) -> DataFrame:
    """(doc_id, n_bigrams, mean_neglogp): per-document mean negative
    conditional log-likelihood under the corpus's own bigram LM —
    p(wᵢ | wᵢ₋₁) = c₂(wᵢ₋₁ wᵢ) / c₁(wᵢ₋₁·), with c₁ the count of the
    prefix token AS a prefix (= Σ of bigram counts starting with it),
    so probabilities are properly normalized and every bigram is
    in-vocab by construction (the model is the corpus). One step up
    the CCNet ladder from ``unigram_logprob``: conditioning makes
    formulaic boilerplate score LOW even when its unigrams are rare.

    Shape: bigrams build scan-locally (zip of shifted token slices —
    same O(len) trick as the shingle builders), ONE count shuffle on
    the bigram key; the prefix table derives FROM the bigram counts
    (no second pass over the corpus); both model tables are
    vocabulary-sized and broadcast by default (``broadcast_vocab=False``
    degrades to shuffle joins past the broadcast ceiling); the per-doc
    rollup is the only other shuffle. Determinism: q6-per-term +
    DECIMAL(38,6) sum, the ``source_stats`` contract. Docs with fewer
    than 2 tokens emit no row.
    """
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    m = F.size(toks)
    bg_arr = F.slice(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(m - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        1,
        F.greatest(m - 1, F.lit(0)),
    )
    exploded = docs.select("doc_id", F.explode(bg_arr).alias("bg"))
    c2 = exploded.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (
        c2.withColumn("pre", F.split(F.col("bg"), " ").getItem(0))
        .groupBy("pre")
        .agg(F.sum("c2").alias("c1"))
    )
    maybe = F.broadcast if broadcast_vocab else (lambda df: df)
    per = (
        exploded.join(maybe(c2), "bg")
        .withColumn("pre", F.split(F.col("bg"), " ").getItem(0))
        .join(maybe(c1), "pre")
        .select(
            "doc_id",
            q6(F.log(F.col("c1").cast("double") / F.col("c2")))
            .cast("decimal(38,6)")
            .alias("nlp"),
        )
    )
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bigrams"),
        q6(F.sum("nlp").cast("double") / F.count(F.lit(1))).alias("mean_neglogp"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, score): Okapi BM25 retrieval — the k best documents for
    a literal bag-of-terms query, scored with the Lucene idf variant
    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (always ≥ 0).

    Shape: per-term tf and doc length are scan-local array expressions
    (count of exact token matches — no explode, no per-term join),
    materialized ONCE through the bounded persist registry — the
    projection is a handful of ints per doc (tiny vs the corpus), and
    without the persist both the stats aggregate's broadcast build and
    the scoring scan re-ran the interpreted per-term token filters
    over the full corpus (r13 interleaved noop A/B at sf0.1:
    0.75 → 0.49 s). The corpus statistics the formula needs (N, avgdl,
    per-term df) come from ONE global aggregate whose 1-row result is
    broadcast back; scoring reads the persisted projection and ends in
    TakeOrderedAndProject — one corpus scan, zero shuffles, a k-row
    result. At 100 TB the stats row would be precomputed once per
    corpus snapshot and reused across queries; pass it through
    unchanged and only the scoring scan remains.

    Determinism: tf/dl/df/N are integers, avgdl and the score are
    double math in a fixed expression order, q6-floored at the edge —
    the ``tf_idf`` portability contract. Docs matching no term score 0
    and are excluded. Ties break on doc_id asc.

    The base projection is one vectorized Arrow kernel
    (token_count_kernel.py): per-term interpreted higher-order token
    filters — measured as ~75% of the whole row's cost at sf1 —
    collapse to whole-batch pyarrow split/equal/bincount calls. Pinned
    against the DuckDB oracle by tests/test_token_count_kernel.py.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    base = _persist_bounded(
        docs.select("doc_id", "text").mapInArrow(
            make_token_stats_fn(tuple(query_terms)),
            stats_schema(
                len(query_terms), docs.schema["doc_id"].dataType.simpleString()
            ),
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
        tf = F.col(f"tf{i}").cast("double")
        score = score + idf * (
            tf
            * (k1 + 1.0)
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
        )
    return (
        base.crossJoin(F.broadcast(stats))
        .select("doc_id", q6(score).alias("score"))
        .filter(F.col("score") > 0.0)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bpe_pair_stats(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """(pair, freq, rnk): corpus frequencies of ADJACENT CHARACTER
    pairs inside words, weighted by word frequency — the counting step
    of one BPE merge round (the pair with rnk=1 is the merge a BPE
    trainer would perform next on the character-level vocabulary).

    Shape: the corpus collapses to the distinct-word frequency table
    first (one token-key shuffle with map-side combine — the same
    movement ``vocab_topk`` pays), and pair generation then runs over
    the VOCABULARY, not the corpus: each distinct word emits its
    len−1 adjacent pairs once, weighted by its count. Under Zipf the
    vocabulary is orders of magnitude smaller than the corpus, which
    is exactly why real BPE trainers (Sennrich et al. 2016) count over
    word types too. Top-k is TakeOrderedAndProject (per-partition
    heaps), the final row_number runs on k rows — the ``vocab_topk``
    contract. Single-char words emit nothing.
    """
    words = (
        docs.select(
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
        .filter(F.length("word") >= 2)
    )
    # SQL-expr lambda: substring over a sequence of start offsets —
    # code-point addressed in both engines, so the oracle replays it
    pairs = words.select(
        F.expr(
            "explode(transform(sequence(1, length(word) - 1),"
            " i -> substring(word, i, 2)))"
        ).alias("pair"),
        "wf",
    )
    counts = (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(top_k)
    )
    # global window over the ≤ top_k rows — intentional; the blanket
    # WindowExec WARN is quieted in harden_session (see vocab_topk)
    w = Window.orderBy(F.desc("freq"), F.asc("pair"))
    return counts.withColumn("rnk", F.row_number().over(w))


def mix_upsample(
    docs: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    default_weight: float = 1.0,
) -> DataFrame:
    """(doc_id, <group_col>, copy): materialize an epoch-weighted
    training mix — the "epochs per source" table of a training run
    made executable. Weight w means every doc of the group appears
    ``floor(w)`` times, plus one further copy iff
    ``hash_bucket(doc_id:copy) < frac(w)·1e6`` — so a 2.5-epoch
    source repeats each doc twice and a deterministic half of them a
    third time. Hash-of-(doc_id, copy), never ``rand()``: the mix is
    identical across runs, retries, and cluster sizes.

    Scan-local end to end: the epoch fan-out is a sequence+explode
    projection and the fractional-copy rule is a pure column
    predicate — no shuffle at any corpus size; output rows ∝
    Σ_group w·|group|. Weight 0 drops the group entirely.
    """
    import math

    w_int: Column = F.lit(int(math.floor(default_weight)))
    w_frac: Column = F.lit(round((default_weight % 1.0) * 1_000_000))
    for group, wt in sorted(weights.items()):
        w_int = F.when(F.col(group_col) == group, int(math.floor(wt))).otherwise(w_int)
        w_frac = F.when(
            F.col(group_col) == group, round((wt % 1.0) * 1_000_000)
        ).otherwise(w_frac)
    n_copies = w_int + F.when(w_frac > 0, F.lit(1)).otherwise(F.lit(0))
    fanned = docs.select(
        "doc_id",
        group_col,
        w_int.alias("_wi"),
        w_frac.alias("_wf"),
        F.explode(
            # sequence(0, -1) would DESCEND; empty array drops the row
            F.when(n_copies > 0, F.sequence(F.lit(0), n_copies - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("copy"),
    )
    keep = (F.col("copy") < F.col("_wi")) | (
        hash_bucket(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("copy").cast("string")),
            1_000_000,
        )
        < F.col("_wf")
    )
    return fanned.filter(keep).select("doc_id", group_col, "copy")


#: Symbol separator for the BPE working representation — a control
#: character that cannot occur in whitespace-tokenized text, so merges
#: can never cross word boundaries (words stay ' '-separated).
BPE_SEP = "\x1f"


def bpe_train(
    docs: DataFrame,
    n_merges: int = 32,
    text: str = "text",
    max_vocab: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Train a byte-pair encoding merge table on the corpus: Spark does
    the corpus-sized work (ONE distinct-word frequency aggregate —
    map-side combined, output Zipf-bounded like text_vocab's), and the
    classic BPE loop (Sennrich et al. 2016) runs on the driver over
    that bounded word-frequency table, exactly the fastBPE/subword-nmt
    shape. Fully deterministic: integer frequencies, ties broken by
    the lexicographically smallest pair. Returns ``[(left, right),
    ...]`` in merge order — feed to ``bpe_encode``.

    ``max_vocab`` bounds the driver collect at crawl scale: training
    sees the ``max_vocab`` most frequent distinct words (deterministic
    order: count desc, word asc — TakeOrderedAndProject, never a full
    sort). A raw 100 TB crawl has unbounded junk-token cardinality;
    the frequency tail it drops cannot win a merge anyway (pair
    counts are dominated by the head of the Zipf curve)."""
    rows = (
        docs.select(F.explode(F.split(F.col(text), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    vocab = {tuple(r["w"]): r["c"] for r in rows}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest (left, right) pair
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b))
        merged = a + b
        nxt: dict[tuple, int] = {}
        for sym, c in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt
    return merges


#: Merge-table size above which ``bpe_encode`` switches from the
#: chained-literal-replace Catalyst expression (one nested F.replace
#: node per merge — a real tokenizer's 32k-100k merges would be a
#: 32k-deep expression tree that analysis/codegen cannot survive; the
#: repo measured janino's 64 KB method limit on far smaller unrolled
#: expressions, see similarity._pq_kernel) to the Arrow ``mapInPandas``
#: kernel that applies the merge table in a Python loop per batch.
#: Both paths are bit-identical (tests/test_corpus_ops.py pins them).
BPE_KERNEL_MERGES = 64


def _bpe_kernel(merges: list[tuple[str, str]], text: str):
    """Arrow-batched BPE encoder — the merge table is broadcast inside
    the closure (model-sized: a tokenizer is ≤100k short strings) and
    applied per DISTINCT WORD with a memo dict, then words are
    reassembled. This is bit-identical to the chained global replace
    because merge patterns never contain a space (symbols come from
    characters of space-split words), so no match can cross a word
    boundary: global left-to-right non-overlapping replace over the
    document equals the concatenation of per-word replaces — and
    Python ``str.replace`` has exactly Spark ``F.replace``'s
    left-to-right non-overlapping literal semantics. The memo makes
    the kernel O(distinct words × merges) per batch instead of
    O(corpus chars × merges): with Zipf-distributed text the head of
    the vocabulary amortizes almost every document."""
    import pandas as pd

    reps = [(a + BPE_SEP + b + BPE_SEP, a + b + BPE_SEP) for a, b in merges]

    def _encode_word(w: str) -> str:
        s = "".join(ch + BPE_SEP for ch in w)
        for old, new in reps:
            s = s.replace(old, new)
        return s

    def run(batches):
        memo: dict[str, str] = {}
        for pdf in batches:
            enc, cnt = [], []
            for t in pdf[text]:
                if t is None:
                    enc.append(None)
                    cnt.append(None)
                    continue
                words = str(t).replace(BPE_SEP, "").split(" ")
                out = []
                for w in words:
                    e = memo.get(w)
                    if e is None:
                        e = _encode_word(w)
                        memo[w] = e
                    out.append(e)
                joined = " ".join(out)
                enc.append(joined)
                cnt.append(joined.count(BPE_SEP))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "encoded": enc, "n_subwords": cnt}
            )

    return run


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
) -> DataFrame:
    """(doc_id, encoded, n_subwords): apply a BPE merge table to the
    whole corpus — scan-local, zero shuffles, and bit-replayable in
    any engine with the same left-to-right non-overlapping replace
    semantics (no regex involved, so no metacharacter hazards).

    Representation: every non-space character is suffixed with the
    ``BPE_SEP`` control byte (``'ab cd'`` → ``'a␟b␟ c␟d␟'``); merge
    (a, b) is then the literal replace ``'a␟b␟' → 'ab␟'``. Word
    boundaries (spaces) never carry the separator, so merges cannot
    cross words. ``n_subwords`` counts the separators left after all
    merges; ``encoded`` keeps the full subword stream (split on the
    separator to materialize token arrays).

    The path follows the merge-table size: up to ``BPE_KERNEL_MERGES``
    merges run as one chained ``F.replace`` per merge in whole-stage
    codegen (the oracle-replayable form); larger tables run one Arrow
    ``mapInPandas`` pass applying the broadcast merge table per
    distinct word (plans at ANY merge count — a real 32k-merge
    tokenizer is a 32k-deep expression tree the literal path cannot
    build). Both are bit-identical (pinned by test)."""
    if len(merges) > BPE_KERNEL_MERGES:
        return docs.select("doc_id", text).mapInPandas(
            _bpe_kernel(merges, text),
            "doc_id long, encoded string, n_subwords long",
        )
    # strip any stray separator bytes from the input first — a document
    # that already contains the control char would otherwise corrupt
    # the symbol stream (and the subword count)
    rep = F.regexp_replace(
        F.replace(F.col(text), F.lit(BPE_SEP), F.lit("")),
        "([^ ])",
        "$1" + BPE_SEP,
    )
    for a, b in merges:
        rep = F.replace(
            rep, F.lit(a + BPE_SEP + b + BPE_SEP), F.lit(a + b + BPE_SEP)
        )
    n = (F.length(rep) - F.length(F.replace(rep, F.lit(BPE_SEP), F.lit("")))).cast(
        "long"
    )
    return docs.select(
        "doc_id", rep.alias("encoded"), n.alias("n_subwords")
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 256,
    text: str = "text",
    max_vocab: int = 1_000_000,
    max_piece_len: int = 6,
    em_iters: int = 2,
    seed_factor: int = 4,
) -> dict[str, float]:
    """Train a SentencePiece-style UNIGRAM language-model vocabulary
    (Kudo 2018, arXiv:1804.10959) — the other major subword family
    beside BPE: pieces carry log-probabilities and encoding picks the
    max-likelihood segmentation (Viterbi), instead of replaying a
    merge history.

    Same corpus/driver split as ``bpe_train``: Spark does the ONE
    corpus-sized job (the Zipf-bounded distinct-word frequency table,
    map-side combined, top ``max_vocab``), and the driver runs the
    classic loop over that bounded table — seed pieces = all word
    substrings up to ``max_piece_len`` scored by occurrence
    (truncated to ``seed_factor × vocab_size``), then ``em_iters``
    hard-EM (Viterbi) rounds re-estimating piece counts and pruning
    to ``vocab_size``. Single characters are never pruned (full
    coverage — any string segments). Fully deterministic: integer
    counts, lexicographic tie-breaks, no RNG.

    Returns {piece: logp} with log-probabilities floor-quantized to
    6 dp (engine-portable determinism, the q6 convention)."""
    import math

    rows = (
        docs.select(F.explode(F.split(F.col(text), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(max_vocab)
        .collect()
    )
    words = [(r["w"], int(r["c"])) for r in rows]
    if not words:
        return {}
    chars = sorted({ch for w, _ in words for ch in w})
    seed_counts: dict[str, int] = {}
    for w, c in words:
        for i in range(len(w)):
            for j in range(i + 1, min(i + max_piece_len, len(w)) + 1):
                p = w[i : j]
                seed_counts[p] = seed_counts.get(p, 0) + c
    multi = sorted(
        (p for p in seed_counts if len(p) > 1),
        key=lambda p: (-seed_counts[p] * len(p), p),  # favor long, frequent
    )[: max(0, seed_factor * vocab_size - len(chars))]
    pieces = {p: seed_counts[p] for p in chars + multi}

    def _logprobs(counts: dict[str, int]) -> dict[str, float]:
        total = sum(counts.values())
        return {
            p: math.floor(math.log(c / total) * 1e6) / 1e6
            for p, c in counts.items()
            if c > 0
        }

    vocab = _logprobs(pieces)
    for _ in range(em_iters):
        counts: dict[str, int] = {}
        for w, c in words:
            for p in _viterbi_pieces(w, vocab, max_piece_len):
                counts[p] = counts.get(p, 0) + c
        for ch in chars:  # coverage floor: characters survive at count ≥ 1
            counts[ch] = counts.get(ch, 0) + 1
        keep = set(chars) | set(
            sorted(
                (p for p in counts if len(p) > 1),
                key=lambda p: (-counts[p], p),
            )[: max(0, vocab_size - len(chars))]
        )
        vocab = _logprobs({p: c for p, c in counts.items() if p in keep})
    return vocab


#: encode-time floor for characters never seen in training: strictly
#: below every trained piece so a real piece always wins, but finite
#: so segmentation never fails (SentencePiece's <unk> posture)
UNIGRAM_UNK_LOGP = -1e6


def _viterbi_pieces(
    word: str, vocab: dict[str, float], max_piece_len: int
) -> list[str]:
    """Max-likelihood segmentation of one word: DP over positions,
    value = (Σ logp, −n_pieces) maximized lexicographically — ties
    prefer FEWER pieces, then the longest last piece (smallest start
    index): fully deterministic. Σ accumulates left-to-right. Unknown
    single characters fall back to ``UNIGRAM_UNK_LOGP``."""
    n = len(word)
    NEG = float("-inf")
    # best[j] = (score, -npieces, start_of_last_piece)
    best: list[tuple[float, int, int]] = [(NEG, 0, -1)] * (n + 1)
    best[0] = (0.0, 0, -1)
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece_len), j):
            if best[i][0] == NEG:
                continue
            piece = word[i:j]
            lp = vocab.get(piece)
            if lp is None:
                if j - i != 1:
                    continue
                lp = UNIGRAM_UNK_LOGP  # single unknown char: coverage
            cand = (best[i][0] + lp, best[i][1] - 1, i)
            # ties prefer fewer pieces then smaller i (longer last piece
            # — note smaller i sorts LOWER, so compare explicitly)
            cur = best[j]
            if cand[0] > cur[0] or (
                cand[0] == cur[0]
                and (cand[1] > cur[1] or (cand[1] == cur[1] and cand[2] < cur[2]))
            ):
                best[j] = cand
    out: list[str] = []
    j = n
    while j > 0:
        i = best[j][2]
        out.append(word[i:j])
        j = i
    return out[::-1]


def unigram_encode(
    docs: DataFrame,
    vocab: dict[str, float],
    text: str = "text",
    max_piece_len: int = 6,
) -> DataFrame:
    """(doc_id, encoded, n_pieces): Viterbi-encode the corpus against a
    trained unigram vocabulary — ``bpe_encode``'s output shape (pieces
    separated by the ``BPE_SEP`` control byte, word boundaries stay
    plain spaces) so downstream packing/counting composes unchanged.

    One Arrow ``mapInPandas`` pass: the vocabulary is broadcast inside
    the closure (model-sized) and each DISTINCT word is segmented once
    per batch via a memo dict (the ``_bpe_kernel`` shape — with
    Zipf-distributed text the head of the vocabulary amortizes almost
    every document). Viterbi DP per distinct word is
    O(len × max_piece_len); null text passes through as null."""
    import pandas as pd

    vocab = dict(vocab)

    def run(batches):
        memo: dict[str, str] = {}
        for pdf in batches:
            enc, cnt = [], []
            for t in pdf[text]:
                if t is None:
                    enc.append(None)
                    cnt.append(None)
                    continue
                out = []
                for w in str(t).replace(BPE_SEP, "").split(" "):
                    e = memo.get(w)
                    if e is None:
                        e = "".join(
                            p + BPE_SEP
                            for p in _viterbi_pieces(w, vocab, max_piece_len)
                        )
                        memo[w] = e
                    out.append(e)
                joined = " ".join(out)
                enc.append(joined)
                cnt.append(joined.count(BPE_SEP))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "encoded": enc, "n_pieces": cnt}
            )

    return docs.select("doc_id", text).mapInPandas(
        run, "doc_id long, encoded string, n_pieces long"
    )


def temperature_mix(
    docs: DataFrame,
    alpha: float = 0.5,
    group_col: str = "source",
    total_rows: int | None = None,
) -> DataFrame:
    """(doc_id, <group_col>, copy): temperature-based source mixing —
    the multilingual-LM sampling knob (exponentiated sampling, e.g.
    mBERT/mT5's q_s ∝ p_s^α) made executable: sample group ``s`` with
    probability ``q_s = c_s^α / Σ_t c_t^α`` at a target corpus size
    (default: preserve the input size), which upsamples rare sources
    and downsamples dominant ones as α → 0. The derived per-group
    epoch weights feed ``mix_upsample``, so materialization inherits
    its guarantees: hash-of-(doc_id, copy) membership (never rand()),
    scan-local fan-out, zero shuffles beyond the one bounded
    group-count aggregate.

    Replayability: the driver-side weight arithmetic is quantized at
    every step — ``q_s = floor(c_s^α·10⁶)`` summed exactly as
    integers, then ``w_s = floor(((q_s/S)·target)/c_s·10⁶)/10⁶`` —
    so an oracle engine recomputing the same expression tree from the
    same counts reproduces the weights bit-for-bit (α = 0.5 uses
    sqrt, which IEEE 754 rounds correctly in every engine; other α go
    through pow, whose last-ulp behavior is libm-specific — still
    deterministic per platform, just not oracle-portable).

    The group-count collect is model-sized (sources are a
    control-plane enumeration, like the IVF codebook), never
    corpus-sized."""
    import math

    if alpha < 0:
        raise ValueError("temperature_mix: alpha must be >= 0")
    counts = {
        r[0]: r[1] for r in docs.groupBy(group_col).agg(F.count("*")).collect()
    }
    if not counts:
        return mix_upsample(docs, {}, group_col=group_col, default_weight=0.0)
    n_total = sum(counts.values())
    target = n_total if total_rows is None else int(total_rows)
    power = math.sqrt if alpha == 0.5 else (lambda c: math.pow(c, alpha))
    q = {g: math.floor(power(c) * 1_000_000) for g, c in counts.items()}
    s = sum(q.values())
    weights = {
        g: math.floor(((q[g] / s) * target) / counts[g] * 1_000_000) / 1_000_000
        for g in counts
    }
    return mix_upsample(docs, weights, group_col=group_col, default_weight=0.0)


def scrub_dup_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    skew_safe: bool = False,
    hashed_keys: bool = False,
) -> DataFrame:
    """(doc_id, n_tokens, n_dup_tokens, dup_frac, text_scrubbed):
    remove every n-token span that occurs in ≥ ``min_docs`` distinct
    documents — span-level exact deduplication (the "duplicated
    substring" scrub of Lee et al. 2022, with fixed-width token grams
    standing in for the suffix-array substrings). Doc-level dedup
    misses boilerplate repeated INSIDE otherwise-unique pages; this is
    the operator that strips it before training.

    Shape: grams are built scan-locally from the token array (slices
    of a captured array — no token explode). For the default
    ``min_docs=2`` the duplicated-occurrence set falls out of ONE
    window over the gram partition — ``min(doc_id) != max(doc_id)``
    over occurrences is exactly "≥ 2 distinct docs" — so the gram
    pipeline runs once with a single exchange (the agg+semi-join
    formulation computed the gram build twice: AQE broadcasts the dup
    set, which defeats exchange reuse). CAVEAT: the window buffers one
    gram's occurrences in one task — a boilerplate span present in
    millions of docs makes that task a spilling straggler. On
    boilerplate-heavy corpora pass ``skew_safe=True`` (or
    ``min_docs > 2``, same path) to use partial-aggregated
    count_distinct + semi-join instead: two gram builds, but per-gram
    work stays distributed. Covered start positions then roll up
    per doc (second shuffle, rows ∝ duplicated occurrences only) and
    the final scrub is again scan-local array filtering. Never
    all-pairs: cost ∝ corpus tokens + duplicated-span occurrences.

    The gram KEY is the token string itself by default, so the oracle
    replays it exactly; ``hashed_keys=True`` is the 100 TB variant —
    the shuffle/window key becomes xxhash64(gram) (8 bytes instead of
    an ~n-word string), same plan shape, output identical unless two
    distinct grams collide in 64 bits (~m²/2⁶⁵ odds — negligible, and
    a collision only ever over-scrubs a span).

    Docs shorter than n tokens produce no grams and pass through
    unscrubbed. dup_frac is q6-floored int/int division.
    """
    # _spread stays HERE but was reverted from the explode→agg token
    # pipelines (tf_idf/unigram/bigram/bm25/bpe/dsir): the span scrub
    # amplifies ~L·S per row so single-file scan parallelism wins
    # (interleaved noop A/B at sf0.1: 0.81 spread vs 1.21 without),
    # while the flat token pipelines lose more to the extra exchange
    # than they gain (tfidf 1.40 spread vs 0.76 without; same for
    # unigram/dsir/bm25/bpe/bigram — r13 measurement)
    w = F.filter(F.split("text", " "), lambda t: t != "")
    d = _spread(docs).select("doc_id", w.alias("w"))
    # one slot per valid start position; the gram text is sliced from
    # the captured full array (positions are 0-based)
    starts_arr = F.slice(
        F.col("w"), 1, F.greatest(F.size("w") - (n - 1), F.lit(0))
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts_arr,
                lambda _x, i: F.array_join(F.slice(F.col("w"), i + 1, n), " "),
            )
        ).alias("pos", "gram"),
    )
    if hashed_keys:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    if min_docs == 2 and not skew_safe:
        wspec = Window.partitionBy("gram")
        occ = (
            grams.withColumn("_mn", F.min("doc_id").over(wspec))
            .withColumn("_mx", F.max("doc_id").over(wspec))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("doc_id", "pos")
        )
    else:
        part = grams.repartition("gram")
        dup = (
            part.groupBy("gram")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("gram")
        )
        occ = part.join(dup, "gram", "left_semi").select("doc_id", "pos")
    per_doc = occ.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("starts")
    )
    joined = d.join(per_doc, "doc_id", "left")
    sts = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    # token i survives iff NO duplicated start st covers it
    # (st <= i < st+n). The exists-scan over starts is O(L*S)
    # interpreted work per row -- but S is tiny for real corpora and
    # the constant beats every "smarter" shape tried at r13: a merged-
    # interval fold + native gap slices measured ~1.9x SLOWER end to
    # end (the struct-array accumulator re-copies per fold step, and
    # interpreted HOF dispatch dominates either way; interleaved noop
    # A/B at sf0.1). The scan is additionally STAGED in its own
    # projection so each downstream reference (n_dup twice via
    # size(), text_scrubbed once) reads an attribute instead of
    # re-entering the HOF tree; same interleaved A/B reads old 1.15 /
    # staged 1.07 s (physical-level subexpression elimination already
    # dedups most same-Project references, so the stage is hygiene
    # plus a small win, not the 3x the reference-count suggests).
    # Values bit-identical either way (oracle-checked).
    kept = F.filter(
        F.transform(F.col("w"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(sts, lambda st: (st <= s["i"]) & (s["i"] < st + n)),
    )
    k1 = joined.select("doc_id", "w", kept.alias("__kept"))
    n_tokens = F.size("w")
    n_dup = n_tokens - F.size("__kept")
    return k1.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_dup.alias("n_dup_tokens"),
        q6(n_dup / F.greatest(n_tokens, F.lit(1))).alias("dup_frac"),
        F.array_join(
            F.transform("__kept", lambda s: s["t"]), " "
        ).alias("text_scrubbed"),
    )


def weighted_sample(
    docs: DataFrame, weight_col: str, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """(*docs.columns, sample_key): k-row weighted sample WITHOUT
    replacement — inclusion probability ∝ ``weight_col`` — via the
    Efraimidis–Spirakis A-ES scheme: key = ln(u)/w with u the
    deterministic hash-uniform of the id, keep the k LARGEST keys
    (equivalent to u^(1/w) and overflow-free). The package's
    no-``rand()`` rule: membership is stable under retries,
    repartitioning, and cluster size, and DuckDB replays it exactly
    (q6-floored key, ties on id).

    Rows with weight ≤ 0 or NULL can never be drawn and are excluded —
    the same contract as w→0 in the limit. Plan: scan-local key
    projection → TakeOrderedAndProject(k); mergeable the KMV way
    (top-k of per-shard top-k's = global top-k), so shard samples
    re-rank at read without re-scanning."""
    if k < 1:
        raise ValueError(f"weighted_sample: k must be ≥ 1, got {k}")
    u = (
        _hash60(F.col(id_col).cast("string")).cast("double") + 0.5
    ) / F.lit(float(1 << 60))
    key = q6(F.log(u) / F.col(weight_col))
    return (
        docs.filter(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int = 100,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(doc_id, n_tokens, logw, score): Data Selection via Importance
    Resampling (Xie et al. 2023, arXiv:2302.03169) — pick the k raw
    documents whose token distribution looks most like a small TARGET
    corpus, the standard trick for steering a 100 TB crawl toward a
    quality domain without training a classifier.

    Per-token log importance ratio under add-one-smoothed unigram LMs
    over the shared vocabulary (V = |raw vocab ∪ target vocab|):
    llr(tok) = ln(c_t+1) − ln(c_r+1) + ln(T_r+V) − ln(T_t+V), fixed
    evaluation order, q6-floored — integer-derived doubles, so the
    oracle replays it bit-exactly. A doc's log-weight is the exact
    DECIMAL(38,6) sum of its tokens' llr (reduce-order-free). The
    paper then RESAMPLES ∝ w via the Gumbel-top-k identity; the Gumbel
    noise here is derived from the md5 hash of doc_id
    (u = (h+0.5)/2^60, g = −ln(−ln u)) — reproducible across engines
    and cluster sizes, never ``rand()`` — so selection is importance
    SAMPLING, not a brittle deterministic argmax, yet still replayable.

    Shape: the RAW corpus's token counting rides the scan-local Arrow
    tf kernel (the ``tf_idf`` shape), so everything downstream
    consumes collapsed (doc, tok, tf) rows instead of token instances.
    Then ONE tagged-union token-count aggregation: raw tf rows and the
    target's token stream union with an (r, t) count pair and
    aggregate by token in a single map-side-combined shuffle (a token
    missing from one side sums to 0 there — a full-outer-join-with-
    coalesce minus one aggregation exchange and the join), then a
    1-row totals broadcast, then the tf rows joined to the broadcast
    vocab and rolled up per doc, weighing llr·tf — the exact
    DECIMAL(38,6) multiple of adding llr tf times. Final top-k is
    TakeOrderedAndProject. ``broadcast_vocab=False`` degrades the
    vocab join to a shuffle equi-join past the broadcast ceiling.
    Zero-token docs carry no evidence and are excluded. Ties break on
    doc_id asc.

    The tf pass is deliberately NOT persisted even though two subtrees
    read it: the kernel is scan-local (one parquet scan + one Arrow
    pass), and recomputing it beat materializing the corpus-sized tf
    cache at the sf10 probe (14.2 vs 18.9 s min; a wash at sf0.1) — at
    100 TB a second columnar copy of the token table is exactly the §5
    memory pressure to avoid. The TARGET corpus keeps the plain
    explode (it is small by DSIR's premise — a second Python-worker
    wave on it measured +0.23 s fixed cost at sf0.1 for no sf1 gain).
    Unique raw-doc_id contract as in ``tf_idf``. Pinned against the
    DuckDB oracle by tests/test_token_count_kernel.py."""
    if k < 1:
        raise ValueError(f"dsir_select: k must be ≥ 1, got {k}")
    raw_tf = raw.select("doc_id", "text").mapInArrow(
        make_tf_rows_fn(),
        tf_schema(raw.schema["doc_id"].dataType.simpleString()),
    )
    tagged = raw_tf.select(
        "tok", F.col("tf").alias("r"), F.lit(0).cast("long").alias("t")
    ).unionAll(
        target.select(
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok")
        ).select(
            "tok", F.lit(0).cast("long").alias("r"), F.lit(1).cast("long").alias("t")
        )
    )
    vocab = tagged.groupBy("tok").agg(
        F.sum("r").alias("cr"), F.sum("t").alias("ct")
    )
    totals = vocab.agg(
        F.sum("cr").alias("tr"), F.sum("ct").alias("tt"),
        F.count(F.lit(1)).alias("v"),
    )
    llr = q6(
        F.log(F.col("ct").cast("double") + 1.0)
        - F.log(F.col("cr").cast("double") + 1.0)
        + F.log((F.col("tr") + F.col("v")).cast("double"))
        - F.log((F.col("tt") + F.col("v")).cast("double"))
    )
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "tok", llr.cast("decimal(38,6)").alias("llr")
    )
    maybe_b = F.broadcast if broadcast_vocab else (lambda df: df)
    per = (
        raw_tf.join(maybe_b(scored_vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            # exact: llr has 6 dp, tf is integral — llr·tf IS the
            # decimal sum of tf copies of llr, no precision loss
            F.sum(F.col("llr") * F.col("tf")).alias("logw_d"),
        )
    )
    u = (
        _hash60(F.col("doc_id").cast("string")).cast("double") + 0.5
    ) / F.lit(float(1 << 60))
    gumbel = q6(-F.log(-F.log(u)))
    return (
        per.select(
            "doc_id",
            "n_tokens",
            q6(F.col("logw_d").cast("double")).alias("logw"),
            q6(F.col("logw_d").cast("double") + gumbel).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def unigram_logprob(docs: DataFrame, broadcast_vocab: bool = True) -> DataFrame:
    """(doc_id, n_tokens, mean_neglogp): per-document mean negative
    log-likelihood under the corpus's own unigram language model —
    the CCNet-style statistical-quality signal (docs of rare-token
    soup score HIGH = surprising; formulaic boilerplate scores LOW).
    A real CCNet uses a 5-gram KenLM; the unigram variant is the
    honest engine-native baseline and shares its filtering use.

    p(tok) = corpus_count(tok) / corpus_total, so every token is
    in-vocab by construction (no OOV smoothing needed). Shape: one
    explode → token-count shuffle; the count table is vocabulary-sized
    (Zipf: ≪ corpus) and broadcast by default — pass
    ``broadcast_vocab=False`` for a pathological vocabulary (web-scale
    whitespace tokens can reach 1e9 distinct strings, past Spark's 8 GB
    broadcast ceiling) and the join degrades to a shuffle equi-join on
    the token key; corpus_total is a 1-row broadcast either way;
    the per-doc rollup is the only other shuffle. Determinism: each
    token's −ln p is q6-floored (integer-derived doubles, identical in
    both engines), summed as DECIMAL(38,6) — exact, reduce-order-free
    — and the final mean is double-divided then q6-floored, the same
    contract as ``source_stats``.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("tok"),
    )
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("total"))
    neglogp = q6(F.log(F.col("total").cast("double") / F.col("c")))
    per = (
        toks.join(F.broadcast(cnt) if broadcast_vocab else cnt, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", neglogp.cast("decimal(38,6)").alias("nlp"))
    )
    return per.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        q6(F.sum("nlp").cast("double") / F.count(F.lit(1))).alias("mean_neglogp"),
    )
