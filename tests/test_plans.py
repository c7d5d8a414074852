"""Physical-plan shape assertions: the scale posture, pinned.

If one of these fails, correctness is intact but the 100-TB story
regressed (a filter stopped reaching the scan, a broadcast became a
shuffle, a narrow query grew an exchange).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_logs_reader_spark.operators import relational
from kinesis_logs_reader_spark.plans import explain
from kinesis_logs_reader_spark.sources.tables import load_table

from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    """q02's range/IN predicates must appear as PushedFilters."""
    df = relational.q02_filter_predicates(spark, SF_DIR)
    assert explain.has_pushed_filters(df)


def test_column_pruning(spark):
    """A 3-column projection must not read all 11 lineitem columns."""
    df = relational.q01_project_arith(spark, SF_DIR)
    cols = explain.scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"}


def test_narrow_query_has_no_join_exchange(spark):
    """q01 is scan+project+sort: exactly the one range exchange for the
    total-order ORDER BY, no hash shuffles."""
    df = relational.q01_project_arith(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan


def test_broadcast_join_q06(spark):
    """Tiny dims must broadcast — no shuffle of the customer side."""
    df = relational.q06_join_broadcast(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_range_join_broadcasts_small_side(spark):
    """q10 pre-aggregates lineitem to <=50 rows then broadcasts it into
    the non-equi join (BroadcastNestedLoop on the tiny side only)."""
    df = relational.q10_join_range(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_covers_agg(spark):
    """TPC-H Q1 aggregation must run inside whole-stage codegen.

    AQE's pre-execution plan hides codegen spans; execute first, then
    read the final plan.
    """
    df = relational.q13_tpch_q1(spark, SF_DIR)
    df.collect()
    plan = explain.formatted_plan(df)
    # formatted mode marks codegen stages with '*' and '[codegen id : N]'
    assert "* HashAggregate" in plan and "codegen id" in plan
    # vectorized parquet read feeding codegen
    assert "Batched: true" in plan


def test_partial_aggregation_before_shuffle(spark):
    """q13 must map-side combine: a partial HashAggregate appears below
    the exchange (two HashAggregate nodes for one groupBy)."""
    df = relational.q13_tpch_q1(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2


def test_semi_join_no_duplication(spark):
    df = relational.q08_join_semi(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "LeftSemi" in plan


def test_topk_uses_take_ordered(spark):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a
    global sort."""
    agg = relational.q22_topk(spark, SF_DIR)
    plan = explain.formatted_plan(agg)
    assert "TakeOrderedAndProject" in plan


def test_minhash_pipeline_single_scan_no_shuffle_before_bands(spark):
    """q46 signatures are per-row: no exchange between scan and the
    band explode (the only shuffles are the final pair group-bys)."""
    from kinesis_logs_reader_spark.functions.text import base_hashes, minhash_signature, shingles

    docs = load_table(spark, SF_DIR, "documents")
    based = docs.select("doc_id", base_hashes(F.array_distinct(shingles())).alias("bases"))
    sig = based.select("doc_id", *minhash_signature(F.col("bases")))
    assert explain.count_exchanges(sig) == 0


def test_q68_top10_is_take_ordered(spark):
    """Q3-shape top-10 must compile to TakeOrderedAndProject (per-
    partition heaps + driver merge), never a global sort of the join."""
    from kinesis_logs_reader_spark.operators import analytics

    df = analytics.q68_shipping_priority(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_q69_all_dims_broadcast(spark):
    """Q5-shape 6-table join: supplier/nation/region all broadcast, so
    the only hash exchanges are fact-side (orders join lineitem, final
    agg)."""
    from kinesis_logs_reader_spark.operators import analytics

    df = analytics.q69_local_supplier_volume(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_q71_aggregates_before_join(spark):
    """Q18 shape: the lineitem HAVING aggregate must sit below the
    joins in the plan (aggregate-then-join, not join-then-aggregate)."""
    from kinesis_logs_reader_spark.operators import analytics

    df = analytics.q71_large_volume_customer(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    # the quantity-sum aggregate's filter appears before any SortMergeJoin/
    # BroadcastHashJoin node id referencing orders
    agg_pos = plan.find("HashAggregate")
    join_pos = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"), plan.find("ShuffledHashJoin")) if p != -1
    )
    assert agg_pos != -1 and join_pos != -1
    # formatted plans list operators leaves-first per subtree; the agg
    # subtree must exist independent of the join operators
    assert "Filter" in plan


def test_q77_split_is_map_only(spark):
    """The hash-split assignment must not shuffle before the final
    count aggregate: exactly one hash exchange (the groupBy)."""
    from kinesis_logs_reader_spark.operators import preprocess

    df = preprocess.q77_hash_split(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("hashpartitioning") == 1


def test_q80_chunking_no_shuffle(spark):
    """Chunking is embarrassingly parallel: no hash exchange anywhere
    (the only exchange is the final ORDER BY's range partitioning)."""
    from kinesis_logs_reader_spark.operators import preprocess

    df = preprocess.q80_chunk_documents(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "hashpartitioning" not in plan


def test_q91_gopher_rules_map_only(spark):
    """Quality-rule filtering is per-row: the only exchange is the
    final ORDER BY range exchange — no hash shuffle of the corpus."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q91_gopher_rules(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert explain.has_pushed_filters(df)  # doc_id < 500 reaches the scan


def test_q95_tfidf_broadcasts_df_side(spark):
    """The vocabulary-sized document-frequency table must broadcast;
    the corpus-sized tf side must not shuffle into the join."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q95_tfidf(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_q99_centroid_join_broadcasts(spark):
    """The (label, dim) centroid table (64 x labels rows) broadcasts
    back into the corpus-sized flat side."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q99_centroid_outliers(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_window_family_single_sort_single_exchange(spark):
    """r4 window-sort fix, pinned: the output order is aligned to the
    window's own sort, so q19/q20/q63 plan exactly ONE exchange (the
    window's hash partitioning) and ONE sort — no rangepartitioning
    exchange, no second sort. A regression here doubles the sort work
    of every window query at scale."""
    for fn in (
        relational.q19_window_lag,
        relational.q20_window_running_sum,
        relational.q63_window_analytics,
    ):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, fn.__name__
        assert "rangepartitioning" not in plan, fn.__name__
        assert plan.count("Sort ") == 1, fn.__name__


def test_window_family_no_range_exchange(spark):
    """q60/q33/q18 keep a cheap local re-sort (their output keys are a
    reordering of the window sort) but must never re-shuffle."""
    from kinesis_logs_reader_spark.streaming import batch_windows

    for fn in (
        relational.q60_range_frame,
        relational.q18_window_rank,
        batch_windows.q33_session_window,
    ):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan, fn.__name__


def test_presentation_sort_is_one_range_exchange(spark):
    """Every query has one output order: q01's presentation ORDER BY is
    a global sort, so its otherwise map-only plan holds exactly one
    exchange, and that exchange is the range partitioning."""
    df = relational.q01_project_arith(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("rangepartitioning") == 1


# --- round-4 batch (q110-q116) scale-posture pins --------------------------


def test_quantize_is_map_only(spark):
    """q111 must ride the scan: per-row HOF chain, zero exchanges other
    than the presentation sort."""
    from kinesis_logs_reader_spark.operators import preprocess

    df = preprocess.q111_embedding_quantize(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan


def test_chunk_dedup_single_digest_shuffle(spark):
    """q112's occurrence count is a window over md5 digests: exactly one
    hash exchange (on h) before the per-doc aggregate's."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q112_chunk_dedup(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    # one exchange for the digest window + one for the doc_id aggregate
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_blocklist_join_broadcasts(spark):
    """q113's blocklist side must broadcast, never shuffle the corpus."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q113_blocklist_filter(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_mixture_weights_broadcasts_total(spark):
    """q114's normalizing total is a 1-row broadcast back over the
    per-source aggregate — no shuffle of the counts frame."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q114_mixture_weights(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_unigram_lm_broadcasts_vocab(spark):
    """q115's per-token log-prob table joins broadcast, so the corpus
    token stream shuffles only for the vocab aggregate and per-doc agg."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q115_unigram_lm(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_rrf_fusion_broadcasts_rank_lists(spark):
    """q110 fuses two rank lists; the bm25 rank side must broadcast
    into the cosine side."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q110_rrf_hybrid(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_substring_dedup_digest_counting_is_sort_free(spark):
    """q122: occurrence counting is groupBy(h) + broadcast join-back
    onto the persisted positional frame — a digest COUNT() OVER window
    would shuffle AND sort every positional shingle. Only the per-doc
    span lag-window sorts, and only duplicated positions reach it."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q122_substring_dedup(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    # the dup-digest set broadcasts back (map-only on the probe side)
    assert "BroadcastHashJoin" in plan
    # exactly one window left in the tree: the per-doc span detector
    # (formatted explain prints each node twice — tree "Window (N)" and
    # detail "(N) Window" — so count tree occurrences only)
    assert plan.count("Window (") == 1
    # digest groupBy + per-doc window + final doc aggregate
    assert plan.count("Exchange hashpartitioning") <= 3


def test_minhash_audit_reuses_cached_shingles(spark):
    """q123 and q44/q116 run off persisted shingle-hash frames: the
    plan must read InMemoryTableScan, not recompute the md5 chain in
    every subtree."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q123_minhash_accuracy(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "InMemoryTableScan" in plan
    df44 = dedup.q44_ngram_jaccard(spark, SF_DIR)
    assert "InMemoryTableScan" in explain.formatted_plan(df44)


def test_countmin_grid_and_probe_broadcast(spark):
    """q132's CMS grid (256 cells) must reach the probe via broadcast —
    the sketch stays executor-local at any corpus size; the only hash
    exchanges are the vocab-bounded term aggregate."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q132_countmin_sketch(spark, SF_DIR)
    assert explain.has_broadcast_join(df)


def test_bloom_bit_set_broadcasts(spark):
    """q133 (r11 bitmask rewrite): the filter is a 128-word literal —
    the train-side probe is three getbit tests riding the scan, so the
    ONLY join is the broadcast exact-digest audit and the only hash
    exchange is the per-source rollup; no doc_id-keyed shuffle, no
    join-back, no pos-explode."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q133_bloom_decontamination(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    # one BroadcastExchange node (exact-digest audit), printed twice
    assert plan.count("BroadcastExchange") == 2
    assert "getbit" in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # source rollup
    assert "SortMergeJoin" not in plan


def test_novelty_single_digest_shuffle(spark):
    """q134 is one min-window over shingle digests plus the per-doc
    rollup: exactly one window, bounded hash exchanges, and only
    (doc_id, digest) ever moves."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q134_ngram_novelty(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_jl_projection_is_map_only(spark):
    """q135 must stay map-only before the presentation sort: no hash
    exchange, no join — 512 literal signs, per-row integer folds."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q135_jl_projection(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_source_overlap_no_cartesian_and_cached(spark):
    """q136's digest frame must come from the persisted cache (one
    shingling pass per corpus) and the pair join must be keyed — no
    cartesian product anywhere."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q136_source_overlap(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_drift_and_heaps_are_agg_only(spark):
    """q137/q138 are aggregates + broadcast spines: no hash-exchange
    beyond the vocab-bounded aggregate, no sort-merge join."""
    from kinesis_logs_reader_spark.operators import events, textstats

    for df in (
        events.q137_distribution_drift(spark, SF_DIR),
        textstats.q138_heaps_law(spark, SF_DIR),
    ):
        plan = explain.formatted_plan(df)
        assert "SortMergeJoin" not in plan
        assert "BroadcastExchange" in plan


def test_pmi_topk_uses_take_ordered(spark):
    """q139's top-20 must be TakeOrdered (never a full global sort) and
    its unigram tables must broadcast into the pair join."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q139_pmi_collocations(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 2


def test_entropy_has_no_window(spark):
    """q144's agg-only identity must stay window-free: two hash
    aggregates, no Window node, no second hash exchange beyond the
    (doc,term) -> doc pair."""
    from kinesis_logs_reader_spark.operators import textstats

    plan = explain.formatted_plan(textstats.q144_token_entropy(spark, SF_DIR))
    assert "Window" not in plan


def test_charset_profile_is_map_only(spark):
    """q150: translate-based class counts ride the scan — zero hash
    exchanges before the presentation sort, and no regex expressions
    in the plan."""
    from kinesis_logs_reader_spark.operators import textstats

    plan = explain.formatted_plan(textstats.q150_charset_profile(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "regexp" not in plan.lower()


def test_survivorship_has_single_corpus_shuffle(spark):
    """q153: survivor attribution happens inside ONE digest aggregate
    (a single partial_min_by in the whole plan — the .agg()-totals
    formulation duplicated the entire subtree and ran it twice); no
    join of the keep-set back onto the corpus."""
    from kinesis_logs_reader_spark.operators import preprocess

    plan = explain.formatted_plan(preprocess.q153_dedup_survivorship(spark, SF_DIR))
    assert plan.count("partial_min_by") == 1


def test_threshold_sweep_single_pass_over_pairs(spark):
    """q146: one aggregate serves both outputs (count/2 + distinct), so
    the ladder joins back exactly ONCE — the two-branch formulation had
    two LeftOuter joins and re-ran the pair frame per branch."""
    import re

    from kinesis_logs_reader_spark.operators import dedup

    plan = explain.formatted_plan(
        dedup.q146_jaccard_threshold_sweep(spark, SF_DIR)
    )
    assert len(re.findall(r"Join type: LeftOuter", plan)) == 1
    assert len(re.findall(r"partial_count\(distinct", plan)) == 1


def test_q110b_topk_rrf_no_global_corpus_window(spark):
    """q110b (the RRF production path, VERDICT r4 #3): each retriever's
    list must come from TakeOrderedAndProject over the corpus-sized
    score frame — never a global no-partitionBy window sort of the
    corpus (q110's oracle-twin shape). The only Window operators left
    rank the two K-row lists."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q110b_rrf_topk(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2
    # the corpus-sized frames feed TakeOrdered heaps; any Exchange
    # SinglePartition in this plan moves only K-row rank lists, which
    # is why the full-corpus Sort node count stays at the K-row windows
    # plus the final 20-row presentation sort.
    assert "rank_bm25" in plan and "rank_cos" in plan


def test_q152b_no_global_corpus_window(spark):
    """q152b (the decile production path, VERDICT r5 #2): bucket
    assignment must come from per-range-partition row_number windows —
    every windowspecdefinition in the plan is partitioned by the
    materialized range-partition id, no ntile, and no single task ever
    sorts the whole score frame. The only SinglePartition exchanges
    carry 1-row global aggregates (q115's normalizing total)."""
    import re

    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q152b_perplexity_buckets_scalable(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "ntile" not in plan.lower()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-partition row_number window"
    for s in specs:
        assert "_pid" in s, f"unpartitioned window spec: {s}"


def test_q158b_no_theta_join(spark):
    """q158b (banded fuzzy variants, VERDICT r5 #3): candidates must
    come from a hash equi-join on the deletion-band key — the plan may
    not contain the O(|V|^2) BroadcastNestedLoopJoin the exact twin
    uses."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q158b_fuzzy_variants_banded(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q160_warm_path_reads_index_not_corpus_text(spark):
    """q160 (incremental dedup): the corpus side must be served from
    the persisted digest index — the plan scans corpus_dedup_index
    parquet, and the only documents scans are the incoming slice and
    the bounded plants (never an unfiltered corpus text scan feeding
    the hash lineage)."""
    from kinesis_logs_reader_spark.operators import dedup

    df = dedup.q160_incremental_dedup(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "corpus_dedup_index" in plan
    # every documents scan carries a pushed doc_id filter (the incoming
    # slice / plants), so no branch rehashes the whole corpus
    import re

    doc_scans = [
        l for l in plan.splitlines() if "documents.parquet" in l
    ]
    assert doc_scans, "expected documents scans for the incoming batch"
    assert "PushedFilters" in plan


def test_q160_production_index_probe_no_corpus_exchange(spark):
    """VERDICT r6 #3 closed: the PRODUCTION corpus index — as written
    by get_or_build_corpus_index (digest-bucketed + sorted files,
    band-namespaced c3 digests, bucket spec re-attached on read) — is
    probed with NO Exchange on the index side, in the same shape
    admission_verdicts uses (digest-only left-semi against a DISTINCT
    digest set; even the distinct runs exchange-free because the scan
    is already clustered by digest). Broadcast is disabled to force the
    at-scale path: a 100 TB index never broadcasts, so the plan must be
    a shuffle join whose only exchange is the batch-sized incoming
    side."""
    import re

    from kinesis_logs_reader_spark.operators.dedup import (
        get_or_build_corpus_index,
    )

    idx = get_or_build_corpus_index(spark, SF_DIR)
    inc = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 10 == 7)
        .select("doc_id", F.md5("text").alias("digest"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for known in (
            idx.filter(F.col("band_idx") == -1).select("digest").distinct(),
            idx.filter(F.col("band_idx") >= 0).select("digest").distinct(),
        ):
            probe = inc.join(known, "digest", "left_semi")
            plan = explain.formatted_plan(probe)
            # formatted mode puts the node name and its arguments on
            # separate lines, so count the Exchange ARGUMENT lines
            n_exchange = len(re.findall(r"Arguments: hashpartitioning", plan))
            assert n_exchange == 1, plan  # the incoming side, nothing else
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
            assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q161_single_window_exchange(spark):
    """q161's only data shuffle is the (epoch, shard) rank window —
    one hash exchange; the final ORDER BY adds the presentation range
    exchange. No joins, no extra aggregation exchange (the audit
    groups on the window's own partition keys, so the partial/final
    agg rides the window's clustering)."""
    import re

    from kinesis_logs_reader_spark.operators.preprocess import (
        q161_epoch_shuffle,
    )

    plan = (
        q161_epoch_shuffle(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_q162_probe_is_broadcast_hash_join(spark):
    """q162 probes the eval shingle set via a BROADCAST hash join (the
    build-side set is constructed once per task, never per row — the
    array_intersect formulation rebuilt it per row, measured 4.7x),
    and the train side's only hash exchanges are the tiny eval-side
    distinct plus the per-doc partial-aggregated hit count — never a
    per-shingle shuffle. The doc_id < 800 slice bound must reach the
    parquet scan."""
    import re

    from kinesis_logs_reader_spark.operators.dedup import (
        q162_eval_containment,
    )

    plan = (
        q162_eval_containment(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # eval-side distinct (2-phase = same exchange count as 1) + the
    # per-doc hit-count aggregation; nothing else shuffles
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "LessThan(doc_id,800)" in plan, plan


def test_q163_candidates_are_banded_not_all_pairs(spark):
    """q163 (SRP-banded cosine pairs, q50's distributed scale twin):
    the plan may not contain the O(n^2) BroadcastNestedLoopJoin /
    CartesianProduct an all-pairs formulation (or q50's capped
    broadcast-BLAS) would imply; the ONE sanctioned Python stage is
    the Arrow-batched signature matmul (ArrowEvalPython, the q47
    SimHash pattern — the per-plane Catalyst fold is an interpreted
    higher-order lambda, measured ~1 ms/row, PERF.md r7), evaluated
    exactly once (a (band,code) self-join would re-run the UDF per
    branch); no row-at-a-time Python, no mapInPandas."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q163_srp_banded_pairs(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # formatted output names each node twice (tree + detail): count
    # distinct node ids, not substring hits
    import re

    nodes = set(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert len(nodes) == 1, plan
    # r13 carry-embeddings shape: the embedding rides the band rows
    # into the bucket aggregate, so there is NO join back to the
    # corpus at all (the r7 shape had two) and exactly three shuffles:
    # band-code hash, pair-dedup hash, output sort. One corpus scan
    # family (base + planted slice), not three.
    assert "Join" not in plan, plan
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) == 3, plan


def test_q166_merge_step_windows_are_doc_partitioned(spark):
    """q166 (BPE trainer): every window in the per-iteration rewrite
    must partition by doc_id — a global (no-partitionBy) window would
    funnel the whole token stream through one task at every merge
    step. Also: no join of any kind inside the rewrite."""
    import re

    from kinesis_logs_reader_spark.operators.curation import _bpe_merge_step

    stream = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("rn", "tok")
    )
    plan = explain.formatted_plan(_bpe_merge_step(stream, "a", "b"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the rewrite's window stack"
    for s in specs:
        assert "doc_id" in s, f"global window spec in BPE rewrite: {s}"
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q167_probe_joins_are_broadcast(spark):
    """q167 (ANN recall sweep): the probe list and the query set are
    tiny by contract — both must reach the corpus-sized sides as
    broadcasts, and every window must partition by qid (the bounded
    evaluation set), never globally."""
    import re

    from kinesis_logs_reader_spark.operators.similarity import q167_ann_recall

    plan = explain.formatted_plan(q167_ann_recall(spark, SF_DIR))
    # probe list, nprobe grid, and query vectors all broadcast; the one
    # legitimate shuffle join is candidates->embeddings on vec_id
    # (both sides corpus-fraction-sized at scale)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs
    for spec in specs:
        # qid = evaluation-set partitions; vec_id = the index's per-
        # vector argmin window. Both bounded; neither is global.
        assert "qid" in spec or "vec_id" in spec, f"unbounded window: {spec}"


def test_q168_pair_matrix_never_materialized(spark):
    """q168 (mutual-NN mining): the A x B score matrix must stay
    inside the single mapInPandas matmul pass — the plan may contain
    no cartesian/nested-loop join, and the only join is the broadcast
    equi-join of the two best-lists."""
    from kinesis_logs_reader_spark.operators.similarity import q168_mutual_nn

    plan = explain.formatted_plan(q168_mutual_nn(spark, SF_DIR))
    # each node appears in the tree AND in the details section
    assert plan.count("MapInPandas") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q170_sequential_fold_is_group_bounded(spark):
    """q170 (exact next-fit packing): the sequential fold must run as
    a JVM aggregate() over per-group collect_list arrays — NO Python
    node of any kind (the applyInPandas form paid ~0.8 ms/group Arrow
    overhead x 39k small groups = 30 s at sf~1, PERF.md r8), no
    cartesian join, no window, no driver-side loop shape."""
    import re

    from kinesis_logs_reader_spark.operators.curation import q170_pack_nextfit

    plan = explain.formatted_plan(q170_pack_nextfit(spark, SF_DIR))
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "ObjectHashAggregate" in plan  # the collect_list group build
    assert "CartesianProduct" not in plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        raise AssertionError(f"unexpected window in packing plan: {spec}")


def test_q183_vocab_drift_plan_shape(spark):
    """q183: the corpus is touched by exactly ONE exploded-token scan
    whose counts partial-aggregate map-side; the top-K windows and
    totals run over the vocab-bounded count frame. No cartesian, no
    corpus-sized window, and the totals join is a broadcast."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q183_vocab_drift(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # every consumer of the vocab-count frame must read the cached
    # relation, never re-derive it from a fresh corpus scan (the
    # remaining "Scan parquet" occurrences in the formatted plan are
    # the cached relation's own printed description, built ONCE)
    assert plan.count("InMemoryTableScan") >= 2, "counts frame not shared"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q184_index_drift_plan_shape(spark):
    """q184: centroid side reaches the distance join as a BROADCAST
    (the codebook is KBs); no cartesian product; the per-cell report
    aggregates partial-combine map-side."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q184_index_drift(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_sum" in plan


def test_q185_pq_adc_plan_shape(spark):
    """q185: the ADC scan is scan + encode (one MapInPandas) +
    broadcast LUT join + partial agg — no cartesian, no corpus-sized
    window (the top-k window partitions by qid, an evaluation-bounded
    set), and exactly ONE Python boundary (the Arrow encode pass)."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q185_pq_adc(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, "LUT must broadcast"
    # formatted plans print each node twice (tree + details)
    assert plan.count("MapInPandas") == 2, "one Arrow encode pass only"
    assert "partial_sum" in plan, "ADC sum must partial-agg map-side"


def test_q186_int8_recall_plan_shape(spark):
    """q186: one Arrow scoring pass; both rank windows share the SAME
    qid partitioning (one exchange, not two); no cartesian."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q186_int8_recall(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 2  # one node, printed twice
    assert (
        plan.count("hashpartitioning(qid") <= 1
    ), "rank windows must reuse one qid exchange"


def test_q187_pq_distortion_plan_shape(spark):
    """q187: encode pass + one bounded agg; the (sub, code) report
    partial-aggregates map-side; no joins at all."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q187_pq_distortion(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("MapInPandas") == 2  # one node, printed twice
    assert "partial_count" in plan or "partial_sum" in plan


def test_q188_pq_reranked_plan_shape(spark):
    """q188: the evaluation-bounded shortlist BROADCASTS into the
    embeddings scan (corpus pruned to survivors BEFORE the exact-stage
    posexplode); the quantized query table broadcasts too; exact d2
    partial-aggregates; one Python boundary (q185's shared encode)."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q188_pq_reranked(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == 2  # one node, printed twice
    assert plan.count("BroadcastExchange") >= 3  # LUT, shortlist, qflat
    assert "partial_sum" in plan


def test_q189_kmv_overlap_plan_shape(spark):
    """q189: ONE persisted distinct frame feeds counts, sketches and
    the exact join (InMemoryTableScan reuse, the q136 convention); the
    only self-join is keyed on h; sketch-pair joins broadcast; no
    cartesian."""
    from kinesis_logs_reader_spark.operators.dedup import q189_kmv_overlap

    df = q189_kmv_overlap(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan, "distinct frame must be shared"
    assert "BroadcastExchange" in plan


def test_q05_join_inner_uses_shuffled_hash(spark):
    """r10 weak-row audit (VERDICT r9 item 4): both equi-joins carry a
    SHUFFLE_HASH hint — SMJ's sort of both shuffled sides measured 18%
    slower at sf~1 for a one-shot join feeding a hash aggregate. Pin
    the physical strategy so a silent fallback to SMJ (or a fact-side
    broadcast) is caught."""
    df = relational.q05_join_inner(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastExchange" not in plan, "orders/cust are fact-sized"


def test_q45b_fingerprint_agg_plan_shape(spark):
    """q45b (q45's production twin): the fingerprint kernel + ONE
    partial-aggregable shuffle on source; no join, no corpus-wide
    global sort (the tiny final ORDER BY over |sources| rows rides the
    single aggregate exchange)."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q45b_fingerprint_agg(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Join" not in plan
    assert "partial_count" in plan, "distinct counts must partial-agg"
    # r11: the fingerprint kernel is ONE Arrow pass riding the scan
    assert plan.count("MapInPandas") == 2  # one node, printed twice


def test_q45_fingerprint_plan_shape(spark):
    """q45 (r11 Arrow kernel): one MapInPandas pass, no join, no
    aggregate; the only exchange is the declared ORDER BY."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q45_fingerprint(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("MapInPandas") == 2
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_canonical_digest_frame_shared_across_consumers(spark):
    """VERDICT r9 item 8: q78/q90/q118 must all read the ONE persisted
    canonical-digest frame (InMemoryTableScan) instead of re-running
    translate+md5 over the corpus text per query."""
    from kinesis_logs_reader_spark.operators.dedup import q118_canonical_select
    from kinesis_logs_reader_spark.operators.pipeline import q90_curation_pipeline
    from kinesis_logs_reader_spark.operators.preprocess import q78_normalize_dedup

    for fn in (q78_normalize_dedup, q90_curation_pipeline, q118_canonical_select):
        plan = explain.formatted_plan(fn(spark, SF_DIR))
        assert "InMemoryTableScan" in plan, fn.__name__


def test_q190_opq_rotation_plan_shape(spark):
    """q190: the permutation is a JVM array projection riding the
    encode scan (ONE Arrow boundary, q187's shape); the distortion
    report partial-aggregates; no join, no cartesian."""
    from kinesis_logs_reader_spark.operators.similarity import q190_opq_rotation

    df = q190_opq_rotation(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert plan.count("MapInPandas") == 2  # one node, printed twice
    assert "partial_count" in plan or "partial_sum" in plan


def test_q191_eval_split_regen_plan_shape(spark):
    """q191: every window spec partitions by a real key (len_bucket /
    cell / cluster label) — no unpartitioned corpus window; the only
    SinglePartition exchanges carry q115's 1-row normalizing total.
    No cartesian."""
    import re

    from kinesis_logs_reader_spark.operators.curation import q191_eval_split_regen

    df = q191_eval_split_regen(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-cell rank windows"
    for s in specs:
        assert "len_bucket" in s or "node" in s or "cluster" in s, (
            f"unpartitioned window spec: {s}"
        )


def test_q07_aggregates_before_join(spark):
    """r10 weak-row audit: the per-customer order rollup must aggregate
    BEFORE the left join (map-side combine collapses ~10 orders/customer
    ahead of any exchange; measured −64% at sf~1). The old plan grouped
    the joined frame by c_custkey — pin that no aggregate keys on the
    customer side remain."""
    df = relational.q07_join_left_outer(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "partial_count" in plan, "order rollup must partial-agg"
    assert "Keys: [c_custkey" not in plan, "aggregation must run pre-join"


def test_q151b_candidate_volume_no_pair_join(spark):
    """q151b's whole point: the volume forecast comes from bucket-size
    aggregates — the plan may not contain ANY join (q151/q46 pay the
    pair self-join; this is the pre-join affordability monitor)."""
    from kinesis_logs_reader_spark.operators.dedup import q151b_candidate_volume

    df = q151b_candidate_volume(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_q97_anti_joins_key_only_shj(spark):
    """r10: the referential orphan checks must anti-join on PROJECTED
    key columns via shuffled-hash (SMJ's double sort measured 35%
    slower at sf~1; whole-row shuffles are waste for an existence
    probe)."""
    from kinesis_logs_reader_spark.operators import curation

    df = curation.q97_quality_audit(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("ShuffledHashJoin LeftAnti") >= 2


def test_q192_no_global_corpus_window(spark):
    """q192 (the shard planner): every window spec partitions by the
    materialized range-partition id — no single task ever holds the
    whole corpus' prefix sum (the q152b idiom, pinned on its second
    surface)."""
    import re

    from kinesis_logs_reader_spark.operators.preprocess import q192_shard_plan

    df = q192_shard_plan(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the per-range prefix-sum window"
    for s in specs:
        assert "_pid" in s, f"unpartitioned window spec: {s}"


def test_q143_arrow_rle_plan_shape(spark):
    """q143 (r11 Arrow RLE rewrite): ONE MapInPandas pass riding the
    scan — no join, no aggregate shuffle, no corpus-sized window; the
    only exchange is the declared presentation ORDER BY."""
    from kinesis_logs_reader_spark.operators import textstats

    df = textstats.q143_repetition_runs(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("MapInPandas") == 2  # one node, printed twice
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "windowspecdefinition" not in plan


def test_q194_phash_banded_no_cartesian(spark):
    """q194: candidates come from the banded equi-join (never
    all-pairs), the signature frame is the ONE persisted Arrow stage
    (pixels never shuffle — only 4 small ints per doc), and
    verification is exact int bit arithmetic."""
    from kinesis_logs_reader_spark.operators.multimodal import (
        q194_phash_neardup,
    )

    df = q194_phash_neardup(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # persisted signature frame
    assert "bit_count" in plan


def test_q195_ce_rerank_plan_shape(spark):
    """q195: the bounded shortlist and per-query term tables broadcast
    into the corpus-side scans (candidate texts pruned BEFORE the
    shingle explode); the interaction sum partial-aggregates; no
    cartesian; the only Python boundary is q185's shared encode."""
    from kinesis_logs_reader_spark.operators import similarity

    df = similarity.q195_ce_rerank(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # all three top10 references must hit the persisted 40-row frame
    # (the q188 encode pass runs once inside the cached relation, not
    # per reference — the formatted plan still PRINTS the stored build
    # plan's MapInPandas, so pin the reuse, not the node count)
    assert plan.count("InMemoryTableScan") >= 3
    assert plan.count("BroadcastExchange") >= 4  # relevant/qtf/df_tbl...
    assert "partial_sum" in plan


def test_q142_interval_join_bucketed_shj(spark):
    """r11 weak-row audit: the band join must be the bucketed
    (user, hour) EQUI-join under SHUFFLE_HASH — never a fact-side
    broadcast or a per-user cross product (scale-inverting at 100 TB),
    never SMJ (both sides fact-sized, sort measured slower)."""
    from kinesis_logs_reader_spark.streaming.batch_windows import (
        q142_interval_join,
    )

    df = q142_interval_join(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q189b_sketch_only_no_corpus_self_join(spark):
    """q189b's reason to exist: NO shuffled corpus-sized join — after
    the one persisted distinct pass, only broadcast pair joins and
    |sources|-bounded windows. The exact h-keyed self-join stays in
    q189 (the audit twin)."""
    from kinesis_logs_reader_spark.operators.dedup import (
        q189b_kmv_overlap_sketch,
    )

    df = q189b_kmv_overlap_sketch(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "InMemoryTableScan" in plan  # shared distinct frame (q189's)
    assert "BroadcastExchange" in plan


def test_q196_scene_cuts_plan_shape(spark):
    """q196: exactly two Arrow boundaries (frame fan-out + dHash —
    pixels never shuffle past them), the lag window partitions by
    doc_id (8-row partitions, never corpus-global), no joins."""
    from kinesis_logs_reader_spark.operators.multimodal import q196_scene_cuts

    df = q196_scene_cuts(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("MapInPandas") == 4  # two stages, each printed twice
    assert "windowspecdefinition(doc_id" in plan


def test_q131b_sketch_rides_single_scan_agg(spark):
    """q131b's production path: nulls/min/max AND the HLL sketch ride
    ONE ordinary stacked aggregate — no Expand node (the 6-way
    COUNT(DISTINCT) rewrite q131's docstring measures at 4 s), with
    the exact unpivot pass present only as the in-query audit."""
    from kinesis_logs_reader_spark.operators.sqlsurface import (
        q131b_table_profile_sketch,
    )

    df = q131b_table_profile_sketch(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Expand" not in plan
    assert "approx_count_distinct" in plan
    assert "CartesianProduct" not in plan


def test_q131c_sketch_profile_no_exact_distinct_anywhere(spark):
    """q131c (the hash-green production profile): NO exact-distinct
    machinery in the plan at all — no Expand, no approx_count_distinct
    (it is the DETERMINISTIC sketch, not HLL), no collect_list/
    collect_set state; the only corpus-scale exchange is the
    (column, substream)-keyed min aggregate whose partial combine
    bounds the shuffle at <= 6 x 257 rows; the profile/estimate fusion
    is a broadcast join on the 6-row column frame."""
    import re

    from kinesis_logs_reader_spark.operators.sqlsurface import (
        q131c_table_profile_kmv,
    )

    df = q131c_table_profile_kmv(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Expand" not in plan
    assert "approx_count_distinct" not in plan
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan  # all-JVM: md5/conv/min are builtin
    # partial min before the substream exchange (map-side combine)
    assert re.search(r"partial_min", plan), plan
    assert "BroadcastHashJoin" in plan


def test_q197_audio_vad_plan_shape(spark):
    """q197: exactly ONE Arrow boundary (the audio_energy stage —
    waveform bytes never travel past it), the segmentation windows
    partition by doc_id (len/64-row partitions, never corpus-global),
    no joins anywhere."""
    from kinesis_logs_reader_spark.operators.multimodal import q197_audio_vad

    df = q197_audio_vad(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert plan.count("MapInPandas") == 2  # one stage, printed twice
    assert "windowspecdefinition(doc_id" in plan


def test_q198_dispersion_bounded_frames(spark):
    """q198: ONE corpus scan feeding a map-side partial agg into the
    (label x dim)-bounded frame; centroid pairing and the rollup are
    broadcast joins on that bounded frame — no SMJ/SHJ, no cartesian,
    no Python stage."""
    from kinesis_logs_reader_spark.operators.similarity import (
        q198_embedding_dispersion,
    )

    df = q198_embedding_dispersion(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 2
    # partial aggregation happens before the (label, d) exchange
    assert "partial_sum" in plan


def test_explode_nonempty_defeats_infer_filters_regression(spark):
    """The InferFiltersFromGenerate trap (PERF.md r11): a non-outer
    explode over the stacked token-hash -> shingle chain lets the
    inferred size()>0 filter push below BOTH projections, re-inlining
    the md5 array build per element (O(n^2) hashes/row — physical plan
    shows 11 md5 calls). explode_nonempty generates first and filters
    the generated column: exactly ONE md5 in the plan. Pins the helper
    against optimizer-rule regressions on upgrade."""
    from kinesis_logs_reader_spark.functions.generate import explode_nonempty
    from kinesis_logs_reader_spark.functions.text import (
        token_base_hashes,
        token_shingle_hashes,
    )
    from kinesis_logs_reader_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    # the always-true filter makes this subtree canonically distinct
    # from q89's session-cached (doc_id, tb) frame — otherwise the
    # CacheManager swaps in the InMemoryRelation and no pushdown (and
    # hence no trap) can occur, making the negative control flaky
    # depending on which tests ran first
    docs = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 7 >= 0)
        .select("doc_id", "text")
    )
    sh = docs.select("doc_id", token_base_hashes().alias("tb")).select(
        "doc_id", token_shingle_hashes(F.col("tb")).alias("sh")
    )
    fixed = explode_nonempty(sh, F.col("sh"), "s", "doc_id")
    fixed_plan = fixed._jdf.queryExecution().executedPlan().toString()
    assert fixed_plan.count("md5") == 1
    trapped = sh.select("doc_id", F.explode("sh").alias("s"))
    trapped_plan = trapped._jdf.queryExecution().executedPlan().toString()
    assert trapped_plan.count("md5") > 1  # the trap is real on this Spark
    # and the two forms agree row-for-row (no null elements in ours);
    # no limit() — an arbitrary-subset limit would break the equality
    # for corpus-size reasons unrelated to the helper (ADVICE r11)
    assert sorted(map(tuple, fixed.collect())) == sorted(
        map(tuple, trapped.collect())
    )


def test_q162_ev_side_single_hash_pass(spark):
    """q162's eval shingle set is built with ONE md5 pass (the
    explode_nonempty fix, -56% at sf~1); the only other md5 in the
    plan is the train side's own chain."""
    from kinesis_logs_reader_spark.operators.dedup import q162_eval_containment

    df = q162_eval_containment(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("md5") <= 3


def test_q83_funnel_single_scan_two_exchanges(spark):
    """r12 rewrite (VERDICT r11 item 2): the funnel is ONE pass — the
    old groupBy-min + join chain re-executed its unpersisted upstream
    per consumer (`events` scanned ~6x, 22.4x vs oracle at sf~1). Pin:
    exactly one events scan with the stage-type filter pushed, all N
    stage windows sharing one user-keyed exchange (+ the final 1-row
    agg exchange), no joins, no crossJoin fan-out."""
    from kinesis_logs_reader_spark.operators.events import q83_funnel

    import re

    df = q83_funnel(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Join" not in plan  # no joins, no crossJoin fan-out
    # formatted explain prints each node twice (tree + detail section);
    # count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "PushedFilters" in plan  # event_type IN (stages) reaches the scan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3  # stacked
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1  # one shared sort


def test_kmv_sketch_build_uses_window_group_limit(spark):
    """The q189-family per-source top-k must ride WindowGroupLimit
    (Partial before the shuffle): each map partition keeps <=k rows per
    source, so the sketch-build exchange carries |sources| x k rows,
    not the corpus — the property that makes a KMV sketch affordable at
    100 TB. If this pin breaks (rank-pushdown disabled or the filter
    shape stops matching InsertWindowGroupLimit), the window would
    shuffle every distinct (source, h) row."""
    from kinesis_logs_reader_spark.operators.dedup import (
        _kmv_distinct_hashes,
        _kmv_source_sketches,
    )

    src = _kmv_source_sketches(_kmv_distinct_hashes(spark, SF_DIR), 32)
    plan = src._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_q119_knn_arrow_kernel_window_group_limit(spark):
    """r12 audit (VERDICT r11 item 5): the candidate-x-query scoring is
    ONE Arrow/numpy pass riding the corpus scan (no per-pair zip_with
    lambda, no broadcast join materializing the pair frame), and the
    per-query top-k keeps WindowGroupLimit so only |queries| x k rows
    per map partition reach the rank shuffle."""
    from kinesis_logs_reader_spark.operators.similarity import q119_knn_join

    df = q119_knn_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "zip_with" not in plan and "aggregate(" not in plan.split("Window")[0]


def test_q199_crossmodal_retriever_topk_shapes(spark):
    """r12 (VERDICT r11 item 6): both retrievers collapse through
    TakeOrderedAndProject (per-partition heaps, never a global sort of
    the corpus), the signature side rides q194's session-persisted
    Arrow frame (InMemoryTableScan), and the only joins are broadcasts
    (query signature, query tokens, the <=60-row fusion)."""
    from kinesis_logs_reader_spark.operators.multimodal import (
        q199_crossmodal_rrf,
    )

    import re

    df = q199_crossmodal_rrf(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", plan)) >= 2
    assert "InMemoryTableScan" in plan
    # full outer cannot broadcast: exactly ONE SortMergeJoin, the
    # <=60-row fusion — never a corpus-sized merge join
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q200_phash_admission_signature_keyed(spark):
    """r12 (VERDICT r11 item 8a): admission verdicts move signatures,
    never pixels — the natural corpus rides q194's persisted signature
    frame (InMemoryTableScan), the store probes are signature-keyed
    LeftSemi joins, and nothing cartesians."""
    from kinesis_logs_reader_spark.operators.multimodal import (
        q200_phash_admission,
    )

    df = q200_phash_admission(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "InMemoryTableScan" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q201_advisor_partial_agg_no_sort_of_facts(spark):
    """r12 (VERDICT r11 item 8b): every candidate profile is a
    two-level aggregate — map-side partial combine before each key
    shuffle (2 HashAggregates per groupBy), and no window or sort over
    any raw table (the final 7-row ORDER BY is the only sort)."""
    import re

    from kinesis_logs_reader_spark.operators.skew import q201_skew_advisor

    df = q201_skew_advisor(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    n_aggs = len(re.findall(r"\(\d+\) HashAggregate", plan))
    assert n_scans == 7
    assert n_aggs >= 4 * n_scans  # partial+final at both levels


def test_q202_calibration_window_over_bounded_buckets(spark):
    """r12: the cumulative TP/FP window runs over the GRID-bounded
    bucket frame (<= ~143 rows by the 2^19 bucket width), never the
    corpus — no corpus-scale sort, centroid broadcast back, the one
    corpus-scale exchange is the per-vector distance aggregate."""
    import re

    from kinesis_logs_reader_spark.operators.similarity import (
        q202_retrieval_calibration,
    )

    df = q202_retrieval_calibration(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # 64-row centroid back-join
    assert len(re.findall(r"\(\d+\) Window", plan)) <= 2
    assert "CartesianProduct" not in plan  # totals ride a broadcast NL


def test_q203_single_copartitioned_digest_join(spark):
    """r12: the snapshot diff is ONE key-keyed join of two digest
    frames (text collapses to md5 map-side; both sides hash the same
    key) — no window, no cartesian, exactly two documents scans."""
    import re

    from kinesis_logs_reader_spark.operators.dedup import q203_snapshot_delta

    df = q203_snapshot_delta(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    n_joins = len(re.findall(r"\(\d+\) \w*Join", plan))
    assert n_joins == 1


def test_q21_global_rank_no_single_partition_window(spark):
    """r13 rewrite: q21's rank must come from the two-phase kernel
    (rank.py), not a PARTITION-BY-less window — the birth form moved
    all of orders through Exchange SinglePartition onto one thread
    (growth 5.71 at sf~1, the r13 soak's worst row). Pin: every
    SinglePartition exchange sits above an aggregate (scalar min/max,
    offsets cumsum — partial rows only); the data rides the bucketed
    hash exchange; offsets attach via broadcast. Same walk as
    tools/audit_plans.py scan 3."""
    df = relational.q21_sort_nulls(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-*("))

    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = depth(line)
        for sub in lines[i + 1 :]:
            if sub.strip() and depth(sub) <= d:
                break
            if "Aggregate" in sub:
                break
            assert "Scan" not in sub, f"data-sized SinglePartition: {line.strip()}"
    assert ("hashpartitioning(_bkt" in plan) or ("hashpartitioning(_sub" in plan)
    assert "BroadcastHashJoin" in plan


def test_q207_disjunction_pushed_to_both_scans(spark):
    """Q19 shape: the OR-of-conjunctions must split per side and reach
    BOTH parquet scans as a pushed Or(...) filter — pre-join pruning is
    the entire point of the query. Two scans, one join, no cartesian."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q207_disjunctive_promo_revenue,
    )

    df = q207_disjunctive_promo_revenue(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert len([p for p in pushed if "Or(" in p]) == 2
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "CartesianProduct" not in plan


def test_q208_decorrelates_to_agg_then_join(spark):
    """Q17 shape: the correlated per-part average must appear as ONE
    partial+final aggregate joined back on the group key — no window
    over raw lineitem, no Expand, and the brand/size filter pushed to
    the part scan."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q208_small_quantity_revenue,
    )

    df = q208_small_quantity_revenue(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "Expand" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "EqualTo(p_brand,Brand#23)" in plan  # pushed to the part scan
    # per-part threshold agg: partial + final HashAggregate pair exists
    assert "partial_sum" in plan or "Partial" in plan


def test_q209_single_lineage_no_self_join(spark):
    """Q21 shape: the per-order supplier counts must stack as windows
    over the ONE (order, supplier) grain — the groupBy-join-back form
    consumed the unpersisted grain twice and re-executed the fact join
    per consumer (5 scans measured; q83's lineage lesson). Pin: exactly
    3 scans (lineitem, orders, supplier), one window, no Expand, no
    cartesian."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q209_waiting_suppliers,
    )

    df = q209_waiting_suppliers(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_q210_iterations_ride_persisted_graph(spark):
    """Late-r13: the three PageRank iterations must consume the
    session-persisted purchase graph (InMemoryTableScan), never
    re-execute the orders x lineitem fact join per iteration — the only
    parquet scan in the final plan is the supplier name attach. Linear
    chain: every rank frame is consumed exactly once, no cartesian."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q210_supplier_pagerank,
    )

    df = q210_supplier_pagerank(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    # 3 = lineitem + orders exactly ONCE (inside the printed
    # InMemoryRelation build subtree — materialized a single time) +
    # the supplier name attach. The groupBy-join-back cache build read
    # 7 here (edges consumed 3x inside its own build).
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan


def test_q211_dual_role_nation_broadcasts(spark):
    """Q7 shape: nation participates TWICE under different roles — two
    separate scans, each with the two-nation filter pushed, each
    broadcast; no cartesian; the fact chain stays lineitem-orders-
    customer with supplier broadcast."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q211_volume_shipping,
    )

    df = q211_volume_shipping(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    nation_scans = [
        m
        for m in re.finditer(r"Location: InMemoryFileIndex[^\n]*nation", plan)
    ]
    assert len(nation_scans) == 2
    assert plan.count("In(n_name") == 2 or plan.count("n_name IN") >= 2
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) >= 3


def test_q212_zero_preserving_left_join_reaggregation(spark):
    """Q13 shape: the per-customer count must ride the left join's own
    custkey partitioning (no exchange between the join and the first
    aggregate), the join must stay LEFT OUTER (zero-order customers
    preserved), and the priority exclusion must push to the orders
    scan."""
    import re

    from kinesis_logs_reader_spark.operators.analytics import (
        q212_customer_distribution,
    )

    df = q212_customer_distribution(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "LeftOuter" in plan
    assert "CartesianProduct" not in plan
    # priority exclusion pushed (Not(EqualTo(...))) to the orders scan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    # exchanges: join (2 sides at most) + final tiny re-agg + output
    # sort; the per-customer count must NOT add its own exchange
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 4


def test_q213_line_boilerplate_shape(spark):
    """C4-style line-level boilerplate: the doc-frequency count must
    come from the distinct (line, doc) grain (no count-distinct
    Expand), the tiny flagged set must broadcast back over the line
    stream, and the whole query reads documents exactly twice (the
    q203 two-scan budget)."""
    import re

    from kinesis_logs_reader_spark.operators.curation import (
        q213_line_boilerplate,
    )

    df = q213_line_boilerplate(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert "Expand" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q214_salted_agg_two_phase_shape(spark):
    """The salted rollup must aggregate in two phases: the first
    exchange carries (key, salt) — the hot key spreads over n_salts
    reducers — the second only the key; no single-stage aggregate over
    the raw skewed key, salt derived via xxhash64."""
    import re

    from kinesis_logs_reader_spark.operators.skew import q214_salted_rollup

    df = q214_salted_rollup(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "xxhash64" in plan
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert any("_salt" in e for e in exchanges)
    assert any(("event_type" in e) and ("_salt" not in e) for e in exchanges)


def test_q215_single_cell_exchange(spark):
    """Cluster-balanced selection: one Arrow routing pass (MapInPandas
    with the centroid matrix broadcast — never vectors x vectors),
    then BOTH windows (prototypical rank + member count) share the ONE
    cluster-keyed exchange; no cartesian."""
    import re

    from kinesis_logs_reader_spark.operators.similarity import (
        q215_cluster_balanced_sample,
    )

    df = q215_cluster_balanced_sample(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert "MapInPandas" in plan
    ex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) == 1 and "cluster" in ex[0]
    assert "CartesianProduct" not in plan


def test_q216_triangle_join_rides_cached_pairs(spark):
    """Triangle census: the ordered two-join enumeration must consume
    the session-persisted pair frame (InMemoryTableScan x3), never
    re-derive the inverted-index self-join per edge role; no
    cartesian."""
    from kinesis_logs_reader_spark.operators.dedup import (
        q216_triangle_census,
    )

    df = q216_triangle_census(spark, SF_DIR)
    plan = explain.formatted_plan(df)
    assert plan.count("InMemoryTableScan") >= 3
    assert "CartesianProduct" not in plan


def test_q217_windows_share_one_type_exchange(spark):
    """Hourly ACF: all four window passes (count, sum, lag 1, lag 24)
    must stack over ONE event_type-keyed exchange of the |types| x 720
    series — the q83 stacked-window discipline; the corpus-scale work
    is only the (type, hour) pre-aggregate on the scan."""
    import re

    from kinesis_logs_reader_spark.operators.events import (
        q217_hourly_autocorrelation,
    )

    df = q217_hourly_autocorrelation(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex = re.findall(r"hashpartitioning\((event_type[^)]*)\)", plan)
    # exactly ONE type-only exchange feeds all the windows; the only
    # other exchange is the (type, hour) pre-aggregate on the scan
    type_only = [e for e in ex if "h#" not in e]
    assert len(type_only) == 1
    assert "CartesianProduct" not in plan
