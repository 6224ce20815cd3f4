"""Regenerate PLANS.md: the formatted physical plan of every headline
query (bench suite + flagship + curation), as evidence that the plan
shapes claimed in README.md §Scale design are the plans Catalyst
actually produces. Run after operator changes:

    python tools/explain_audit.py > PLANS.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from caseguarddatapipeline_spark.catalog import build_catalog  # noqa: E402
from caseguarddatapipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    spark = get_spark("explain-audit")
    queries, _ = build_catalog()
    names = list(bench.BENCH_QUERIES) + [
        "a1_reconciliation_summary",
        "e5_corpus_curation",
        "e1_dedup_clusters",
        "t10_asof_join",
        # round-4 rework/additions: the pair joins that must show banded
        # equi-joins (not BNLJ/cartesian), the composed IVF near-dup, and
        # the PQ ADC search
        "e1_fuzzy_name_match",
        "e1_simhash",
        "e1_embedding_neardup_ivf",
        "e2_pq_search_1round",
        # round-5 additions: the exact-oracle two-round IVF search, the
        # true binaryFile ingestion path, negative mining, and the
        # prefix-filter set-similarity join
        "e2_ivf_search_2round",
        "e4_binaryfile_scan",
        "e2_hard_negatives",
        "e1_prefix_filter_join",
        # the shingle-containment prefix join and BM25's inverted-index
        # plan (span dedup's plan is its bench name's, e1_span_dedup_sql)
        "e1_containment_join",
        "e3_bm25_search",
        "e3_vocab_induction",
        "a32_psi_drift",
        # round-6 additions: the two-round BPE induction (1-row broadcast
        # winner + replace re-segmentation) and the skew-proof token-budget
        # body (hash-prefix buckets: tiny offset window + bucket-local
        # cumsum, no whole-source window task). The global token budget's
        # plan is its bench name's, e5_global_token_budget_sql.
        "e3_vocab_induction_2round",
        "e5_token_budget_sample_scaled",
        "e2_ivfpq_residual_1round",
        # the materialized postings store's search face: the scan must
        # show PartitionFilters on cell (static pruning to probed cells)
        "s12_postings_search",
        # intra-doc span trim: one (doc,hash) window + per-doc aggregate,
        # rebuild as a map-side higher-order filter — no pairwise stage
        "e1_span_trim",
        # cluster-aware split: the cluster pass + two hash-lookup joins
        "e5_leakage_safe_split",
        # round-7 additions: winnowing postings (staged projections, all
        # array-local), the MOSS near-dup join (df-capped inverted-index
        # equi-join), bigram-LM scoring (Zipf-bounded model equi-join),
        # Markov transitions (SQ8 ANN's plan is its bench name's,
        # e2_sq8_search_sql)
        "e3_winnow_fingerprints",
        "e1_winnow_join",
        "e3_ngram_lm_score",
        "w14_event_transitions",
        "e5_mixture_epochs",
        "e3_doc_entropy",
        "e3_dsir_weights",
        "e5_dedup_report",
        "e2_sq8_recall",
        # round-8 additions: IVF-composed SQ8 (cell equi-join routing +
        # per-cell bounds broadcast + fold distance — no ADC join) and
        # its recall companion; the utility-weighted mixture planner
        # (#sources-row level search, 1-row λ broadcast)
        "e2_ivfsq8_search_1round",
        "e2_ivfsq8_recall",
        "e5_weighted_mixture",
        # round-9 additions: the skew-proof curriculum twin (histogram-CDF
        # quartiles, prefix-bucketed in-band windows — NO ntile, no
        # band-only window). The reworked e1_prefix_filter_join /
        # e1_containment_join above must now show the bitmap-prune
        # predicate inside the posting join.
        "e5_curriculum_order_scaled",
        # bucketed storage layout: the scan must show Bucketed: true and
        # the per-key agg + co-bucketed join must have NO shuffle
        # exchange (only the final o_orderstatus groupBy shuffles). BPE
        # encoding's plan is its bench name's, e3_bpe_encode_sql.
        "s15_bucketed_colocation",
        # round-10 additions: byte-real multimodal decode — each must be
        # a binaryFile scan feeding ONE ArrowEvalPython/mapInPandas stage
        # with no shuffle before the kernel; the N-round BPE encode must
        # stay a map-side replace chain over the corpus scan with the
        # learned merges arriving via 1-row broadcasts
        "e4_pixel_tile_stats",
        "e4_wav_pcm_frames",
        "e4_wav_mulaw_frames",
        "e4_image_resize",
        "e3_bpe_encode_nround",
        # round-12 additions: byte-real PDF and DOCX extraction — each a
        # binaryFile scan feeding ONE MapInPandas stage, no shuffle
        # before or after the kernel (e4_pixel_tile_stats above now also
        # drains the baseline-JPEG class through the same shape)
        "e4_pdf_text",
        "e4_docx_text",
    ]
    # the bench schedule itself now contains four of the explicit
    # entries above (round-12 refresh) — print each plan once
    names = list(dict.fromkeys(names))
    print("# PLANS — formatted physical plans of the headline queries")
    print()
    print("Generated by `python tools/explain_audit.py > PLANS.md` at sf0.001")
    print("(plan SHAPE is scale-invariant; AQE re-plans sizes at runtime).")
    print("Things to look for: `BroadcastHashJoin` on dimension joins,")
    print("`TakeOrderedAndProject` for top-k (never a global Sort),")
    print("`PushedFilters`/`ReadSchema` pruning on scans, partial+final")
    print("`HashAggregate` pairs, and `ArrowEvalPython`/`MapInPandas` only")
    print("in the declared Python kernels.")
    import contextlib
    import io

    for name in names:
        df = queries[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        print(f"\n## {name}\n")
        print("```")
        print(buf.getvalue().rstrip())
        print("```")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
