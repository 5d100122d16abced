"""Arrow kernels: scan-local per-document token counting (guide §4.2).

Two kernels over the same tokenization: ``make_token_stats_fn`` — the
BM25 base projection ``(doc_id, dl, tf0..tf{n-1})`` — and
``make_tf_rows_fn`` — tf_idf's final per-(doc, tok) term-frequency
table, computed without the corpus-sized exchange the explode→groupBy
plan pays.

``make_token_stats_fn`` computes ``(doc_id, dl, tf0..tf{n-1})`` in one
``mapInArrow`` pass: ``dl`` is the count of non-empty tokens of
``split(text, ' ')`` and ``tf_i`` the count of tokens equal to query
term i. The equivalent JVM expression (``F.size(F.filter(split, ...))``)
evaluates one interpreted higher-order ``filter`` over the token array
PER TERM per document (plus the size pass) — measured as ~75% of the
whole bm25 cost at sf1. Here the split,
the equality compares and the per-row segmented counts are single
vectorized pyarrow/numpy calls over the whole batch.

Values are integer counts of the same token multiset Spark's
``split`` yields — pyarrow ``split_pattern(' ')`` and Spark ``split`` on the
single-space pattern produce identical token lists (consecutive spaces
yield empty tokens both ways; the non-empty predicate drops them from
``dl`` and query terms are non-empty so empties can never match a
``tf``), string equality is exact byte equality in both engines, and a
NULL text maps to NULL counts exactly like ``size(NULL) = NULL`` under
the non-legacy ``sizeOfNull`` default. The bm25, tf_idf and dsir
outputs are pinned against their DuckDB oracles by
tests/test_token_count_kernel.py over adversarial token shapes.

Row contract: exactly one output row per input row (unlike the minhash
kernel there is no row-dropping — bm25 scores every doc, including
zero-score ones filtered later).

100 TB posture: per-batch bounded memory, no driver state, no shuffle;
the Python boundary crosses (doc_id, text) once — only the columns the
function needs (guide §4.1).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Callable, Iterator

import numpy as np


@lru_cache(maxsize=None)
def stats_schema(num_terms: int, doc_id_type: str = "bigint") -> str:
    """Count columns are int (the type of ``F.size``).
    ``doc_id_type`` is the INPUT column's Spark dtype — the kernel
    passes doc_id through untouched, so the declared schema must carry
    the input type (a hardcoded ``long`` breaks int/string-keyed
    corpora)."""
    return f"doc_id {doc_id_type}, dl int, " + ", ".join(
        f"tf{i} int" for i in range(num_terms)
    )


@lru_cache(maxsize=None)
def tf_schema(doc_id_type: str = "bigint") -> str:
    """(doc_id, tok, tf) — F.count is LongType, so tf is long; doc_id
    carries the input column's type (see ``stats_schema``)."""
    return f"doc_id {doc_id_type}, tok string, tf long"


def make_tf_rows_fn() -> Callable:
    """mapInArrow function: (doc_id, text) batches → the FINAL per-doc
    term-frequency table (doc_id, tok, tf).

    Replaces tf_idf's explode → partial HashAggregate → Exchange →
    final HashAggregate chain with ZERO shuffle: per-(doc_id, tok)
    counts are scan-local facts (a doc's row lives in exactly one
    partition), but Spark cannot know that — the exchange it plans
    ships the whole collapsed tf table (corpus-scale bytes at 100 TB).
    Here the per-batch Arrow hash group-by IS the final aggregation.

    Counts of the same non-empty token multiset as an explode of
    Spark's ``split`` (see module docstring); docs with no tokens (or
    NULL text) emit no rows exactly like explode. Row contract: input
    rows are independent — the corpus contract is unique doc_ids (the
    groupBy path would merge duplicate ids across partitions; every
    caller feeds a unique-id corpus — the minhash-kernel caveat).
    """

    def compute(it: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            if batch.num_rows == 0:
                continue
            toks = pc.split_pattern(batch.column(1), " ")
            flat = pc.list_flatten(toks)
            parent = pc.list_parent_indices(toks)
            keep = pc.not_equal(flat, "")
            doc_ids = batch.column(0).take(parent.filter(keep))
            t = pa.table({"doc_id": doc_ids, "tok": flat.filter(keep)})
            g = t.group_by(["doc_id", "tok"]).aggregate([([], "count_all")])
            if g.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    g.column("doc_id").combine_chunks(),
                    g.column("tok").combine_chunks(),
                    g.column("count_all").combine_chunks(),
                ],
                names=["doc_id", "tok", "tf"],
            )

    return compute


def make_token_stats_fn(terms: tuple[str, ...]) -> Callable:
    """mapInArrow function: (doc_id, text) batches → (doc_id, dl, tf*)."""
    terms = tuple(terms)

    def compute(it: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in it:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            doc_id = batch.column(0)
            text = batch.column(1)
            # null text → null counts (size(NULL) = NULL); flatten
            # skips null lists so those rows simply receive no tokens,
            # and the mask marks them null in every output column.
            mask = (
                np.asarray(pc.is_null(text)) if text.null_count else None
            )
            toks = pc.split_pattern(text, " ")
            flat = pc.list_flatten(toks)
            parent = pc.list_parent_indices(toks).to_numpy(
                zero_copy_only=False
            )
            nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
            dl = np.bincount(
                parent[nonempty], minlength=nrows
            ).astype(np.int32)
            cols = [doc_id, pa.array(dl, mask=mask)]
            for term in terms:
                # mask empties so a degenerate term "" counts ZERO
                # (empty tokens are not tokens) — non-empty terms never match "" so this is
                # an identity for every real query (r13 ADVICE)
                eq = (
                    pc.equal(flat, term).to_numpy(zero_copy_only=False)
                    & nonempty
                )
                tf = np.bincount(parent[eq], minlength=nrows).astype(
                    np.int32
                )
                cols.append(pa.array(tf, mask=mask))
            names = ["doc_id", "dl"] + [f"tf{i}" for i in range(len(terms))]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return compute
