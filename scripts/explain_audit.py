"""Dump `.explain("formatted")` for the headline queries into PLANS.md —
the plan-audit evidence trail (PushedFilters, ReadSchema pruning,
WholeStageCodegen spans, exchange structure).

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from zestdb_spark.session import get_spark  # noqa: E402

AUDITED = [
    "li_since_filter",
    "li_last_n_multi",
    "li_range_sum",
    "ts_last_n_multi",
    "agg_median",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_lsh_bucketed_pairs",
    "text_gopher",
    "text_top_ngram",
    "text_pack_spans",
    "text_tfidf",
    "text_decontam",
    "corpus_sample",
    "text_vocab",
    "tmp_asof_join",
    "tmp_rollup_hour",
    "rs_locf_hourly",
    "an_revenue_join",
    "pipe_clean_corpus",
    "dedup_spans",
    "text_unigram",
    "text_bm25",
    "dedup_semantic",
    "text_bpe_pairs",
    "sk_hll_partkey",
    "sk_quantiles",
    "corpus_dsir",
    "an_zscore",
    "ev_funnel",
    "ev_retention",
    "dedup_cross",
    "tmp_interval_join",
    "tmp_rollup_sliding",
    "corpus_weighted_sample",
    "tmp_moving_stats",
    "ev_pivot",
    "tbl_topk_values",
    "tmp_moving_time",
    "tmp_series_delta",
    "rs_gaps",
    "tbl_histogram_eq",
    "snap_changes",
    # round-7 continuation: the three scan-shaped training ops —
    # probe scoring and PCA projection must show ONE codegen scan and
    # zero exchanges; temperature mix one bounded agg + a scan-local
    # fan-out
    "text_probe_score",
    "corpus_temp_mix",
    "sim_pca_project",
    # round 9: LSH top-k is now a scan-local bucket IN (margin-ordered
    # probe list as literals — no broadcast join, no per-row hamming);
    # heavy hitters joined the graded window (MG candidates via ONE
    # Arrow pass, AQE-decided recount — no forced broadcast)
    "sim_topk_lsh",
    "sk_heavy_hitters",
    # round-9 continuation: PQ/IVFPQ searches must show ONE Arrow
    # evaluation (the fused kernel) + TakeOrderedAndProject, no
    # shuffles or joins; the z-order key is a pure-codegen scan
    "sim_topk_pq",
    "sim_topk_ivfpq",
    "layout_zorder",
    # batch k-NN join: AQE-broadcast query side, WindowGroupLimit
    # partial top-k BEFORE the per-qid exchange, no cartesian anywhere
    # (round 10: both sides assignment/probes via ONE Arrow evaluation
    # each — the kernel default)
    "sim_knn_join",
    # round 10: batch IVFPQ — corpus side must stay an 8-byte-codes
    # scan + cell equi-join with the ADC chain in codegen (the LUT
    # rides the query rows); no embeddings read anywhere
    "sim_knn_join_pq",
    # dedup_keep is NOT audited here: building its DataFrame executes
    # the dup_clusters convergence loop (real jobs, minutes at sf0.1);
    # its post-clusters join/window shape is documented in SCALE.md
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("explain_audit")
    qs = entry.queries()
    out = [
        "# PLANS — physical-plan audit (generated by scripts/explain_audit.py)",
        "",
        f"Data: `{sf_dir}`. Things to check per plan: PushedFilters on the",
        "scan, ReadSchema limited to needed columns, WholeStageCodegen",
        "covering the scan→filter→project pipeline, expected exchange count,",
        "TakeOrderedAndProject for single-series top-k, ReusedExchange on",
        "self-joins.",
        "",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(AUDITED)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
