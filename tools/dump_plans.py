"""Dump annotated physical plans for flagship queries -> PLANS.md.

Evidence artifact: shows PushedFilters / ReadSchema pruning, broadcast
joins, partial aggregation, TakeOrderedAndProject, and the zero-shuffle
MinHash signature stage — the plan properties tests/test_plans.py pins.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

ANNOTATED = {
    "q02_filter_predicates": "range/IN/LIKE predicates pushed into the parquet scan (PushedFilters)",
    "q01_project_arith": "column pruning: 11-column lineitem scanned as 4 columns (ReadSchema)",
    "q13_tpch_q1": "TPC-H Q1: two-level exact sum — per-(key, partition) int64 partials, decimal(38) merge; partial HashAggregate below each exchange",
    "q06_join_broadcast": "dims broadcast: BroadcastHashJoin, zero shuffle of the customer side",
    "q10_join_range": "non-equi join: fact side pre-aggregated to <=50 rows, then BroadcastNestedLoop",
    "q22_topk": "pre-aggregate before join + TakeOrderedAndProject (no global sort)",
    "q46_minhash_lsh": "per-row signature stages (no exchange until band pair grouping)",
    "q62_asof_join": "as-of join as one shuffle + one window pass (no range explosion)",
    "q19_window_lag": "r4 window-sort fix: output order aligned to the window's own sort — ONE exchange, ONE sort (r3 plan had a second rangepartitioning exchange + sort for the output ORDER BY)",
    "q60_range_frame": "r4: range-frame window with per-partition output sort — no rangepartitioning exchange after the window",
    "q59_exists_subquery": "r4: EXISTS decorrelated to SMJ existence join; output SORT BY rides the join's own key sort (no second exchange)",
    "q68_shipping_priority": "Q3 shape: filters at all three scans, top-10 as TakeOrderedAndProject",
    "q69_local_supplier_volume": "Q5 shape: supplier/nation/region broadcast; shuffles only fact-fact + final agg",
    "q71_large_volume_customer": "Q18 shape: HAVING aggregate below the joins (aggregate-then-join)",
    "q77_hash_split": "hash split rides the scan: single exchange (the count groupBy)",
    "q80_chunk_documents": "chunking is map-only: zero hash exchanges",
    "q87_lateral_topn": "correlated LATERAL LIMIT decorrelated to a window-rank plan",
    "q90_curation_pipeline": "normalize+quality+split fused map-only; one min_by dedup exchange (no sort)",
    "q91_gopher_rules": "quality rules fused into the scan: zero hash exchanges, doc_id pushed filter",
    "q95_tfidf": "vocabulary-sized df side broadcast; corpus moves through one (doc,term) aggregate",
    "q99_centroid_outliers": "centroid table broadcast back; corpus-sized flat side shuffles once",
    "q111_embedding_quantize": "r4: int8 quantizer is a pure HOF chain — zero hash exchanges, rides the scan",
    "q112_chunk_dedup": "r4: occurrence count as a window over md5 digests — one digest exchange, no join-back",
    "q113_blocklist_filter": "r4: blocklist side BroadcastHashJoin; corpus never shuffles pre-aggregate",
    "q115_unigram_lm": "r4: vocab log-prob table broadcast; corpus token stream shuffles only for the two aggregates",
    "q110_rrf_hybrid": "r4: rank-list fusion — bm25 rank side broadcast into the cosine ranks; ORACLE TWIN of q110b (full-corpus global ranks, single-partition window — not the production path)",
    "q110b_rrf_topk": "r5 (VERDICT r4 #3): PRODUCTION RRF — each retriever emits top-60 via TakeOrderedAndProject (per-partition heaps, corpus never single-partition-sorted); fusion is a full-outer join of two 60-row frames",
    "q122_substring_dedup": "r4: positional k-gram digests — digest window + per-doc lag window, no join-back",
    "q127_centroid_classify": "r4: broadcast integer centroids; one (vec,label) aggregate, linear in vectors x labels",
    "q129_dedup_pipeline": "r4: dedup capstone — exact digest group-by feeds LSH pair generation; shuffles are digests and id pairs only",
    "q131_table_profile": "r4 rewrite: NO Expand — stacked nulls/min/max aggregate + ONE unpivoted two-phase distinct count (combinable pre-aggregation)",
    "q132_countmin_sketch": "r4: CMS grid built FROM per-term counts; 256-cell grid broadcast into the probe",
    "q133_bloom_decontamination": "r4: bit set (<=8192 ints) and exact digest set both broadcast; train side never shuffles by text",
    "q134_ngram_novelty": "r4: one min-window over shingle digests; only (doc_id, digest) moves",
    "q135_jl_projection": "r4: map-only +- arithmetic chains (no lambdas, no shuffle) before the presentation sort",
    "q136_source_overlap": "r4: persisted (source, digest) frame (InMemoryTableScan x3); keyed self-join, no cartesian",
    "q139_pmi_collocations": "r4: unigram tables broadcast twice into the pair frame; top-20 via TakeOrderedAndProject",
    "q141_ivf_fixed_probe": "r4: session-cached cell index (InMemoryTableScan); probe = routing + cell-bounded cosine",
    "q142_interval_join": "r11 rewrite: bucketed (user, hour) SHUFFLE_HASH equi-join with the band as residual — no fact-side broadcast, per-bucket comparisons",
    "q143_repetition_runs": "r11 rewrite: one Arrow mapInPandas RLE pass (numpy break-diff) — zero shuffle, rides the scan",
    "q144_token_entropy": "r4 batch 9: entropy via ln(n) - sum(c*ln c)/n — two hash aggregates, NO doc-keyed window exchange",
    "q146_jaccard_threshold_sweep": "r4 batch 9: persisted pair frame (InMemoryTableScan) x 4-row ladder broadcast; n_pairs recovered as count/2 inside the single distinct-doc aggregate",
    "q147_bigram_lm": "r4 batch 9: persisted bigram stream; bigram/context/vocab tables broadcast back onto it",
    "q148_template_mining": "r4 batch 10: skeleton digest is map-only; one 16-byte-keyed aggregate",
    "q150_charset_profile": "r4 batch 10: translate-based class counts — map-only, zero hash exchanges before the presentation sort",
    "q153_dedup_survivorship": "r4 batch 11: survivor attribution via min_by inside the ONE digest aggregate — no corpus join-back; everything after is |sources|-bounded",
    "q155_lsh_band_sensitivity": "r4 batch 12: all three banding schemes emit from one projection into one persisted long frame; one (rpb, band, digest)-keyed self-join serves the whole curve",
    "q156_training_order": "r4 batch 13: |sources| weight table broadcast back; per-source row_number window + TakeOrderedAndProject top-50 (no global materialization of the order)",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from kinesis_logs_reader_spark import registry as entry
    from kinesis_logs_reader_spark.plans.explain import formatted_plan
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.all_queries()

    out = [
        "# PLANS — flagship physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. These are the pre-execution plans",
        "(AQE refines them at runtime); the properties called out per query",
        "are pinned by `tests/test_plans.py`.",
        "",
    ]
    for name, note in ANNOTATED.items():
        plan = formatted_plan(queries[name](spark, sf_dir))
        # q57's translate() literal embeds a NUL in the plan text; keep
        # the artifact a text file
        plan = plan.replace("\x00", "\\x00")
        out += [f"## {name}", "", f"**Property:** {note}", "", "```", plan.strip(), "```", ""]
    with open(ROOT / "PLANS.md", "w") as fobj:
        fobj.write("\n".join(out))
    print(f"wrote PLANS.md ({len(ANNOTATED)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
