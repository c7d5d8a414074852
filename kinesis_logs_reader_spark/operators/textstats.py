"""Text analysis operators (SURVEY.md §2.2 I3/I5; LLM-pipeline extension).

Token counting, quality scoring, language/group stats, and document
fingerprinting over the ``documents`` table. All pure Catalyst
expressions (split / filter / array_distinct / md5) — per-row work that
whole-stage codegen pipelines, followed by at most one map-side
combinable aggregation. At 100 TB this is embarrassingly parallel scan
work with no shuffle except the final small group-by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kinesis_logs_reader_spark.functions.generate import explode_nonempty
from kinesis_logs_reader_spark.functions.text import (
    n_tokens,
    stopword_count,
    tokens,
)
from kinesis_logs_reader_spark.sources.tables import load_table, spread_scan


def cached_doc_tokens(spark: SparkSession, sf_dir: str):
    """Persisted (doc_id, lang, t) exploded-token frame, shared by the
    unigram-model operators (q115, q125, q132). Each of them needs the
    corpus token stream two or three times in one plan (model build +
    re-join), and a bench run touches them back-to-back; materializing
    the explode once per session+corpus is the same index-reuse
    discipline as the shared MinHash/shingle frames (dedup.py). At
    100 TB the analog is a tokenized intermediate table, not a cache.
    """
    from kinesis_logs_reader_spark.functions.caching import (
        corpus_key,
        lru_persisted,
    )

    return lru_persisted(
        spark,
        "_klrs_doc_tokens_cache",
        corpus_key(sf_dir, "documents"),
        # explode_nonempty: the inferred size()>0 filter re-runs the
        # split once per row (functions/generate.py) — this is the most
        # shared frame in the engine, so the extra corpus pass matters.
        # spread_scan (r14): without it the one-row-group scan PERSISTS
        # AS ONE PARTITION, so every consumer's partial aggregate over
        # the token stream ran single-task for the whole session (guide
        # §2.5); the gated exchange spreads the persisted frame and is
        # a no-op on a many-split table.
        lambda: explode_nonempty(
            spread_scan(load_table(spark, sf_dir, "documents")),
            tokens(),
            "t",
            "doc_id",
            "lang",
        ),
    )


def q41_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up per language (I3).

    Exactness: the per-language mean is emitted as ``avg_tokens_micro``
    — integer micro-tokens via exact int64 division — instead of a
    rounded double. The r1-r4 double form (`round(sum/count, 4)`) was
    driver-hash-red in r4 while passing local parity: binary-double
    ratios hit round-half knife edges that encode differently across
    engine versions. Integer division of exact int64 sums cannot.
    """
    docs = load_table(spark, sf_dir, "documents")
    nt = n_tokens()
    return (
        docs.select("lang", nt.alias("nt"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            # divide BEFORE scaling (quot*1e6 + rem*1e6 div n): the
            # naive total_tokens*1e6 overflows int64 once a language's
            # token sum passes ~9.2e12 — plausible at 100 TB — while
            # the decomposed form only needs rem < n_docs, so it is
            # exact for any corpus whose per-language doc count fits
            # int64/1e6. Value-identical to the old form below overflow.
            F.expr(
                "(total_tokens div n_docs) * CAST(1000000 AS BIGINT)"
                " + ((total_tokens % n_docs) * CAST(1000000 AS BIGINT))"
                " div n_docs"
            )
            .cast("bigint")
            .alias("avg_tokens_micro"),
            "total_chars",
        )
        .orderBy("lang")
    )


def q42_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: length, token stats, stopword and
    distinct-token ratios, and a composite score (I5/text-quality).

    Only docs in a fixed id slice are emitted to keep the oracle output
    bounded at any scale factor.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    nt = n_tokens().cast("double")
    nospace = F.length(F.regexp_replace("text", " ", ""))
    stop = stopword_count().cast("double")
    dist = F.size(F.array_distinct(tokens())).cast("double")
    return (
        docs.select(
            "doc_id",
            "lang",
            n_tokens().alias("nt"),
            F.length("text").alias("len_chars"),
            F.round(nospace / nt, 4).cast("double").alias("avg_token_len"),
            F.round(stop / nt, 4).cast("double").alias("stopword_ratio"),
            F.round(dist / nt, 4).cast("double").alias("distinct_ratio"),
            F.round(F.log(F.lit(1) + nt) * (F.lit(1) - stop / nt), 4)
            .cast("double")
            .alias("quality"),
        )
        .orderBy("doc_id")
    )


def _fingerprint_batches(batches):
    """Arrow-batched fingerprint kernel shared by q45/q45b: per doc,
    exact_fp = md5(utf8 text) and shingle_fp = min md5 over 3-token
    shingles (None when < 3 tokens, matching array_min over an empty
    array). Passes through every non-text input column, so the q45
    (doc_id) and q45b (source) shapes share one generator. Plain
    hashlib per shingle — ~1 µs each — beats the JVM form because the
    per-shingle path there (transform lambda building concat_ws slices
    + md5, then array_min) runs as interpreted Catalyst expressions
    outside codegen; measured r11 (soak profile, sf~1): q45 2.84 s ->
    0.84 s, q45b 1.64 s -> 0.64 s, within noise at sf0.1 where the
    scheduler floor dominates. Emits hex strings only — no float ever
    crosses the Arrow boundary."""
    import hashlib

    md5 = hashlib.md5
    for pdf in batches:
        ex, sh = [], []
        for s in pdf["text"]:
            ex.append(md5(s.encode("utf-8")).hexdigest())
            toks = s.split(" ")
            if len(toks) < 3:
                sh.append(None)
                continue
            best = None
            for i in range(len(toks) - 2):
                h = md5(
                    (" ".join(toks[i : i + 3])).encode("utf-8")
                ).hexdigest()
                if best is None or h < best:
                    best = h
            sh.append(best)
        out = pdf.drop(columns=["text"]).copy()
        out["exact_fp"] = ex
        out["shingle_fp"] = sh
        yield out


def q45_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact md5 + min-shingle-hash (winnowing
    lite). The min-shingle fingerprint is robust to rotation of
    surrounding text, the md5 to nothing.

    Kernel history (PERF.md): r1 inline shingles re-split the text per
    shingle element (O(n^2) chars, 3.5x); r2-r10 materialized the token
    array and took array_min over a per-shingle md5 transform — but
    higher-order Catalyst lambdas run INTERPRETED, and the r10 q45b
    twin proved the kernel (not the presentation ORDER BY) was the
    residual (soak growth 2.43 on the agg-only shape). r11: one
    mapInPandas Arrow pass (_fingerprint_batches) — 3.4x at sf~1,
    value-identical (oracle unchanged, DuckDB recomputes the shingle
    min in SQL)."""
    # spread_scan (r14): one Python worker fingerprinted the whole
    # corpus off the single-task scan (guide §2.5/§4.1)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    fp = docs.mapInPandas(
        _fingerprint_batches,
        "doc_id long, exact_fp string, shingle_fp string",
    )
    return fp.orderBy("doc_id")


def q45b_fingerprint_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q45's production twin (the q110b/q152b convention, VERDICT r9
    item 5): the same fingerprint kernel, but the output is the
    per-source digest SUMMARY a 100 TB run would actually ship —
    |sources| rows instead of one row per document, no global ORDER BY
    over the corpus. The r9 decomposition attributed ~60% of q45's
    bench row to the declared ORDER BY + full 500-row-per-sf output;
    this row isolates the kernel: tokenize -> shingle -> per-shingle
    md5 -> array_min, then one partial-aggregable shuffle.

    distinct-counts of both fingerprints force every digest to be
    computed (nothing prunable), and n_dup_exact = n_docs -
    n_exact_fp is the per-source exact-duplicate mass — the number a
    dedup pipeline reads off this report.

    r11: the kernel is the shared _fingerprint_batches Arrow pass (see
    q45 — the twin's residual growth 2.43 was the interpreted
    per-shingle fold; 2.6x at sf~1 under the soak profile).
    """
    # spread_scan (r14): same Python-worker fan-out as q45
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("source", "text")
    )
    fp = docs.mapInPandas(
        _fingerprint_batches,
        "source string, exact_fp string, shingle_fp string",
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("exact_fp").alias("n_exact_fp"),
            F.countDistinct("shingle_fp").alias("n_shingle_fp"),
        )
        .withColumn("n_dup_exact", F.col("n_docs") - F.col("n_exact_fp"))
        .orderBy("source")
    )


def q51_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via corpus-derived token profiles.

    The n-gram-heuristic shape at Spark scale: (1) one pass builds a
    top-20-token frequency profile per language (tiny: langs x 20 rows,
    broadcast); (2) each document scores by distinct-token overlap with
    every profile; (3) argmax overlap (ties -> lexicographic lang)
    predicts the language. Both passes are shuffle-light: token counts
    are map-side combinable, the profile join is a broadcast.

    Output: per-doc prediction vs truth on a fixed doc slice.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # spread_scan A/B (r14): OFF wins 0.30 vs 0.34 s — the token
    # explode feeds a combining (lang, t) partial agg that overlaps
    # the scan; the exchange is pure latency. Measured-negative.
    tok = explode_nonempty(docs, tokens(), "t", "lang")
    counts = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("t"))
    profile = (
        counts.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 20)
        .select(F.col("lang").alias("p_lang"), "t")
    )
    doc_toks = (
        docs.filter(F.col("doc_id") < 500)
        .select("doc_id", "lang", F.explode(F.array_distinct(tokens())).alias("t"))
    )
    overlap = (
        doc_toks.join(F.broadcast(profile), "t")
        .groupBy("doc_id", "lang", "p_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), F.col("p_lang")
    )
    return (
        overlap.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("p_lang").alias("pred_lang"),
            (F.col("p_lang") == F.col("lang")).alias("correct"),
        )
        .orderBy("doc_id")
    )


def q61_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways the brief names: whitespace split and a
    BPE-ish regex lexer (letter-runs / digit-runs / single symbols),
    plus a polynomial rolling-hash fingerprint over token hashes.
    """
    from kinesis_logs_reader_spark.functions.text import MINHASH_P, token_base_hashes

    import string

    docs = load_table(spark, sf_dir, "documents")
    # r10: count lexer tokens WITHOUT the alternation regex. Collapse
    # the alphabet first via translate (letters→'a', digits→'0', every
    # other printable ASCII→'s'), collapse 'a'/'0' RUNS with two
    # literal-class regexes on the 4-symbol string, drop spaces; the
    # remaining length IS the token count. Semantically identical to
    # regexp_count("[a-z]+|[0-9]+|[^a-z0-9 ]") for ANY input — letter/
    # digit runs collapse to one in both forms, every other codepoint
    # (incl. uppercase and non-ASCII, which translate leaves unmapped
    # and the regex matches singly) counts one in both forms. sf~1
    # interleaved A/B: 1.41/1.46 s (alternation regex) → 1.17/1.27 s
    # (−15%); values identical on all 50k rows.
    _src = string.ascii_lowercase + string.digits
    _dst = "a" * 26 + "0" * 10
    _other = "".join(
        chr(i) for i in range(32, 127) if chr(i) not in _src + " "
    )
    collapsed = F.translate(
        F.translate(F.col("text"), _src, _dst), _other, "s" * len(_other)
    )
    runs = F.regexp_replace(F.regexp_replace(collapsed, "a+", "a"), "0+", "0")
    # spread_scan (r14): the translate/regex lexer + md5 token hashes
    # + rolling-hash fold all ran on the scan's single task (guide
    # §2.5)
    staged = spread_scan(docs).select(
        "doc_id",
        F.length(F.regexp_replace(runs, " ", ""))
        .cast("int")
        .alias("bpe_tokens"),
        token_base_hashes().alias("tb"),
    )
    # rolling hash: fold acc*B + x mod P over per-token hashes; B keeps
    # every intermediate < 2^52 (DuckDB errors on int64 overflow)
    roll = F.aggregate(
        F.col("tb"),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * F.lit(1000003) + x) % F.lit(MINHASH_P),
    )
    return staged.select(
        "doc_id",
        # one hash per split token, so the whitespace-token count is the
        # hash array's size — saves a second split of the full text
        F.size("tb").cast("int").alias("ws_tokens"),
        "bpe_tokens",
        roll.alias("roll_fp"),
    ).orderBy("doc_id")


def q49_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing, SQL-checkable core: treat payloads as
    opaque binary + typed metadata (byte length, content hash).

    The decode/feature-extract path for real image/audio payloads lives
    in :mod:`kinesis_logs_reader_spark.operators.multimodal` (mapInPandas
    plumbing with a stubbed codec); here the text column stands in as
    the binary payload so the metadata path is oracle-checkable.
    """
    docs = load_table(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    return (
        docs.select(
            "doc_id",
            "source",
            F.octet_length(blob).alias("n_bytes"),
            F.md5(blob).alias("content_hash"),
        )
        .orderBy("doc_id")
    )


def q115_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score — the cheap stand-in for
    the KenLM/CCNet perplexity filter: score each document by the mean
    log-probability of its tokens under the corpus unigram
    distribution. Gibberish and off-distribution documents score low.

    Two passes: (1) corpus token counts (explode -> agg; partial
    map-side combine shuffles (token, count) pairs, bounded by vocab
    size, not corpus size); (2) re-join tokens to the broadcast
    count table and aggregate per doc. At 100 TB the vocab table
    stays small (heavy-hitter truncation if not) and both passes ride
    one corpus scan each.

    Exactness across engines: ln(c/T) of exact integer ratios is one
    deterministic double op; it is quantized to int64 micro-nats
    (floor(ln * 1e6)) BEFORE the per-doc sum so accumulation is exact
    integer math — the mean is one final double division, rounded.

    r10: the scored frame itself is session-persisted
    (cached_unigram_scored) — FIVE queries consume it (q115, q152,
    q152b, q178, q191 → q181) and each was re-running both passes;
    the canonical-digest-frame convention applies directly.
    """
    return cached_unigram_scored(spark, sf_dir).orderBy("doc_id")


def cached_unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE session-persisted per-document unigram-LM score frame
    (doc_id, n_tok, sum_lp_q, avg_logprob, keep) per sf_dir — q115's
    exact body, shared by every difficulty/perplexity consumer (q152,
    q152b, q178, q181-via-q178, q191). At 100 TB this is the scored
    intermediate a curation pipeline materializes once per corpus
    version; the oracles all recompute it from raw text."""
    from kinesis_logs_reader_spark.functions.caching import (
        corpus_key,
        lru_persisted,
    )

    def _build():
        tok = cached_doc_tokens(spark, sf_dir).select("doc_id", "t")
        counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
        total = counts.agg(F.sum("c").alias("tot"))
        lp = counts.crossJoin(F.broadcast(total)).select(
            "t",
            F.floor(
                F.log(
                    F.col("c").cast("double") / F.col("tot").cast("double")
                )
                * 1e6
            ).cast("bigint").alias("lp_q"),
        )
        scored = (
            tok.join(F.broadcast(lp), "t")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tok"),
                F.sum("lp_q").alias("sum_lp_q"),
            )
            .select(
                "doc_id",
                "n_tok",
                "sum_lp_q",
                F.round(
                    F.col("sum_lp_q").cast("double")
                    / 1e6
                    / F.col("n_tok").cast("double"),
                    4,
                ).cast("double").alias("avg_logprob"),
            )
            .withColumn("keep", F.col("avg_logprob") > -3.4)
        )
        return scored

    return lru_persisted(
        spark,
        "_klrs_unigram_scored_cache",
        corpus_key(sf_dir, "documents"),
        _build,
    )


def q121_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of q51's predictions
    — per (true_lang, pred_lang) cell counts plus the per-truth recall.
    The eval step that decides whether the classifier's profiles are
    good enough to gate a training mix on.

    Runs q51's prediction plan (broadcast profiles, shuffle-light) and
    adds one tiny aggregate over the per-doc predictions; at 100 TB the
    matrix is |langs|^2 rows regardless of corpus size.
    """
    preds = q51_lang_id(spark, sf_dir)
    per_truth = Window.partitionBy("true_lang")
    return (
        preds.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "truth_total", F.sum("n").over(per_truth)
        )
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("truth_total"), 4)
            .cast("double")
            .alias("frac_of_truth"),
        )
        .orderBy("true_lang", "pred_lang")
    )


def q132_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch term-frequency estimation with an exact audit
    (LLM-pipeline extension, sketch family alongside HLL q28 and the GK
    quantile sketch q103).

    A CMS is the streaming/mergeable way to track token frequencies on
    a corpus too large for an exact vocab table: a depth x width grid
    of counters where cell (j, h_j(t)) accumulates every occurrence of
    t. The estimate min_j cell[j][h_j(t)] never under-counts (every
    collision only adds), which this query PROVES per term by emitting
    the ``lower_bounded`` boolean next to the exact count.

    Scale shape: the exact per-term aggregate is the one data-sized
    shuffle (vocab-bounded, map-side combined); the sketch itself is
    built FROM the per-term counts (weighted by n), so the grid
    (depth*width = 256 cells) and the probe join are both broadcast-
    tiny regardless of corpus size. On a true stream the same grid is
    a commutative monoid — per-partition partial grids merge by cell
    addition (the reason CMS beats an exact table at 100 TB).

    The hash family is md5-derived (``md5(j || ':' || term)``), the
    same cross-engine-verifiable kernel as MinHash (functions/text.py),
    so DuckDB reproduces the grid bit-identically.
    """
    depth, width = 4, 64
    exact = (
        cached_doc_tokens(spark, sf_dir)
        .select(F.col("t").alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    keyed = exact.select(
        "term",
        "n_exact",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("j").cast("string"), F.col("term"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % width,
    )
    cells = keyed.groupBy("j", "bucket").agg(F.sum("n_exact").alias("cell"))
    est = (
        keyed.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("term", "n_exact")
        .agg(F.min("cell").alias("n_cms"))
    )
    return est.select(
        "term",
        "n_exact",
        "n_cms",
        (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
        (F.col("n_cms") >= F.col("n_exact")).alias("lower_bounded"),
    ).orderBy("term")


def q138_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-token vocabulary and
    cumulative token count at 1/8, 1/4, 1/2, and full corpus prefixes
    (ingest = doc_id order), with the inter-checkpoint log-log slope —
    the tokenizer-sizing diagnostic (V ~ T^beta; natural text keeps
    beta well below 1, a saturating vocab signals templated text).

    Scale shape: token first-seen attribution is ONE vocab-bounded
    aggregate (min doc_id per token); per-doc token counts ride the
    same scan. Both tiny frames cross-join the 4-row broadcast
    checkpoint spine and reduce with conditional sums — no per-prefix
    rescan of the corpus. ln values are quantized to micro-units
    (int64) before the slope division so both engines agree.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan A/B (r14): OFF wins 0.29 vs 0.33 s — same combining-
    # agg overlap as q51. Measured-negative.
    tok = docs.select("doc_id", F.explode(tokens()).alias("t"))
    first = tok.groupBy("t").agg(F.min("doc_id").alias("fs"))
    per_doc = docs.select("doc_id", n_tokens().alias("nt"))
    spine = (
        docs.agg((F.max("doc_id") + 1).alias("n_docs"))
        .select(
            "n_docs",
            F.explode(F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1))).alias(
                "divisor"
            ),
        )
        .select(
            "divisor", F.floor(F.col("n_docs") / F.col("divisor")).alias("bound")
        )
    )
    vocab = (
        first.crossJoin(F.broadcast(spine))
        .groupBy("divisor", "bound")
        .agg(F.sum((F.col("fs") < F.col("bound")).cast("int")).alias("vocab"))
    )
    toks = (
        per_doc.crossJoin(F.broadcast(spine))
        .groupBy("divisor", "bound")
        .agg(
            F.sum(
                F.when(F.col("doc_id") < F.col("bound"), F.col("nt")).otherwise(
                    0
                )
            ).alias("total_tokens"),
            F.sum((F.col("doc_id") < F.col("bound")).cast("int")).alias(
                "n_docs"
            ),
        )
    )
    ln_v = F.floor(F.log(F.col("vocab").cast("double")) * 1e6).cast("bigint")
    ln_t = F.floor(F.log(F.col("total_tokens").cast("double")) * 1e6).cast(
        "bigint"
    )
    staged = (
        vocab.join(toks, ["divisor", "bound"])
        .select(
            "divisor",
            "bound",
            "n_docs",
            "total_tokens",
            "vocab",
            ln_v.alias("ln_v_micro"),
            ln_t.alias("ln_t_micro"),
        )
    )
    w = Window.orderBy(F.col("divisor").desc())
    return (
        staged.select(
            "divisor",
            "bound",
            "n_docs",
            "total_tokens",
            "vocab",
            F.round(
                (F.col("ln_v_micro") - F.lag("ln_v_micro").over(w)).cast(
                    "double"
                )
                / (F.col("ln_t_micro") - F.lag("ln_t_micro").over(w)).cast(
                    "double"
                ),
                4,
            ).cast("double").alias("heaps_beta"),
        )
        .orderBy(F.col("divisor").desc())
    )


def q143_repetition_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition runs — the degenerate-loop detector
    (same token emitted over and over) that complements q92's corpus-
    level repetition ratios: per document, the LONGEST run of one
    repeated adjacent token, the number of runs >= 3, and the fraction
    of tokens inside such runs. Documents a generation loop or a
    scraped page of repeated boilerplate produces score high here
    while passing whole-doc and chunk dedup.

    ONE vectorized-numpy run-length-encode per Arrow batch
    (mapInPandas) — map-only, zero shuffle, linear in tokens: the
    whole batch's token stream is RLE'd in four numpy primitives
    (flat != shifted breaks, diff of break indices, maximum.at /
    add.at per-doc reductions), no per-row Python, no per-token
    interpretation. Three kernels measured: posexplode + lag-window
    islands grew 8x on 10x data (two corpus-sized window shuffles —
    the r5 finding); the r5-r10 F.aggregate struct fold rode the scan
    but runs INTERPRETED (higher-order Catalyst lambdas evaluate per
    token outside codegen) — 1.64 s at sf~1 under the soak profile;
    this Arrow pass 0.51 s there (3.2x) and within noise of the fold
    at sf0.1 under the bench profile (0.49 vs 0.46 s) where the
    scheduler floor dominates (r11 A/B; PERF.md). Confirms the repo's
    q184/q185 rule: one MapInPandas Arrow pass beats per-element
    interpreted lambdas. Python returns ONLY exact int64 stats; the
    run_frac double is computed JVM-side (F.round) so the float
    contract is identical to the fold's. The DuckDB oracle keeps the
    classical islands SQL — same values, two independently-derived
    formulations hash-identical.
    """
    import itertools

    import numpy as np
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out_schema = (
        "doc_id long, n_tokens long, max_run long, "
        "n_runs_ge3 long, tokens_in_runs long"
    )

    def rle_batches(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # str.split(" ") == F.split(text, " ") (limit -1): single-
            # space literal split; consecutive/trailing spaces yield
            # empty-string tokens in both.
            toklists = [s.split(" ") for s in pdf["text"]]
            lens = np.fromiter(
                (len(t) for t in toklists), dtype=np.int64, count=n
            )
            total = int(lens.sum())
            flat = np.fromiter(
                itertools.chain.from_iterable(toklists),
                dtype=object,
                count=total,
            )
            dvec = np.repeat(np.arange(n, dtype=np.int64), lens)
            brk = np.empty(total, dtype=bool)
            brk[0] = True
            if total > 1:
                brk[1:] = (flat[1:] != flat[:-1]) | (dvec[1:] != dvec[:-1])
            starts = np.flatnonzero(brk)
            run_len = np.diff(np.append(starts, total))
            run_doc = dvec[starts]
            mx = np.zeros(n, dtype=np.int64)
            np.maximum.at(mx, run_doc, run_len)
            nr3 = np.zeros(n, dtype=np.int64)
            tir = np.zeros(n, dtype=np.int64)
            ge3 = run_len >= 3
            np.add.at(nr3, run_doc[ge3], 1)
            np.add.at(tir, run_doc[ge3], run_len[ge3])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_tokens": lens,
                    "max_run": mx,
                    "n_runs_ge3": nr3,
                    "tokens_in_runs": tir,
                }
            )

    # spread_scan A/B (r14): OFF wins 0.45 vs 0.60 s — the numpy RLE
    # kernel is cheap per row; shuffling full text bytes to fan it
    # cost more than the kernel itself. Measured-negative.
    staged = docs.mapInPandas(rle_batches, out_schema)
    return staged.select(
        "doc_id",
        "n_tokens",
        "max_run",
        "n_runs_ge3",
        F.round(
            F.col("tokens_in_runs").cast("double")
            / F.col("n_tokens").cast("double"),
            4,
        ).cast("double").alias("run_frac"),
    ).orderBy("doc_id")


def q144_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the classic
    gibberish/boilerplate screen that q42's ratio features approximate:
    keyboard mash and copy-paste loops collapse the within-doc token
    distribution, so low normalized entropy flags them regardless of
    length. (Corpus-LM score q115 measures a doc against the CORPUS
    distribution; entropy measures it against ITSELF — a doc of rare
    words scores low there but high here.)

    Exactness idiom (q115/q117), rearranged to kill a shuffle:
    H = ln(n) - (1/n) * sum_t c_t*ln(c_t), so the only per-term
    quantity is c_t*ln(c_t) — quantized to int64 micro-nats BEFORE the
    per-doc sum (exact integer accumulation in both engines); ln(n)
    and the two divisions are single double ops at the end. The
    original form sum_t c_t*(ln n - ln c_t) needs n per TERM row,
    i.e. a doc-keyed window (shuffle + sort) before the final
    aggregate; this form needs only the per-doc totals the final
    aggregate already computes. Interleaved A/B at sf0.1: 1.00 s
    (windowed) vs 0.81 s (agg-only), and one exchange fewer.

    Scale shape: one (doc_id, token) aggregate (map-side combinable)
    and one doc-keyed aggregate — both shuffles carry rows bounded by
    per-doc vocab, never raw token occurrences past the first combine.
    """
    tok = cached_doc_tokens(spark, sf_dir).select("doc_id", "t")
    counts = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    staged = counts.select(
        "doc_id",
        "c",
        F.floor(
            F.col("c").cast("double") * F.log(F.col("c").cast("double")) * 1e6
        ).cast("bigint").alias("clnc_q"),
    )
    ent = (
        F.log(F.col("n_tok").cast("double"))
        - F.col("_sq").cast("double") / 1e6 / F.col("n_tok").cast("double")
    )
    return (
        staged.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("clnc_q").alias("_sq"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_distinct",
            F.round(ent, 4).cast("double").alias("entropy"),
            F.when(
                F.col("n_distinct") > 1,
                F.round(ent / F.log(F.col("n_distinct").cast("double")), 4),
            )
            .otherwise(F.lit(0.0))
            .cast("double")
            .alias("norm_entropy"),
        )
        .orderBy("doc_id")
    )


def q145_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate against a frequency-truncated vocabulary —
    the statistic that sizes a tokenizer's vocab (complement of q105's
    coverage curve: q105 asks "how much do the top-k cover", this asks
    "what fraction of each language's stream falls OUTSIDE a fixed
    top-V vocab", the quantity that becomes <unk> mass at training).

    Vocab = top-256 tokens by corpus frequency (ties broken by token
    text, so both engines pick the identical set). Scale shape: corpus
    counts are vocab-bounded after the map-side combine; the rank
    window runs over that bounded frame; the vocab broadcasts back
    onto the token stream (map-only flag), and the per-language
    rollup is |langs| rows.
    """
    tok = cached_doc_tokens(spark, sf_dir).select("lang", "t")
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    rank_w = Window.orderBy(F.col("c").desc(), "t")
    vocab = (
        counts.withColumn("r", F.row_number().over(rank_w))
        .filter(F.col("r") <= 256)
        .select("t", F.lit(1).alias("_in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "t", "left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
        )
        .select(
            "lang",
            "total_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).cast("double").alias("oov_rate"),
        )
        .orderBy("lang")
    )


def q147_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with add-1 smoothing — the
    next rung of the CCNet-style perplexity ladder above q115's
    unigram: score each document by the mean conditional log-prob
    ln((C(w1 w2)+1) / (C(w1 ·)+V)) of its bigram stream, where C(w1 ·)
    counts bigrams starting with w1 and V is the corpus distinct-token
    count. Word-salad whose unigrams are plausible but whose ORDER is
    not scores low here and passes q115 — the discriminator the
    unigram model cannot express.

    Exactness: per-bigram log-probs quantized to int64 micro-nats
    before the per-doc sum (q115 idiom). Scale shape: the bigram count
    table is bigram-vocab-bounded after the map-side combine; context
    counts derive from it (one more vocab-bounded agg, never a second
    corpus pass); both broadcast back onto the per-doc bigram stream.
    """
    from kinesis_logs_reader_spark.functions.text import shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    # The bigram stream feeds both the count tables and the final
    # per-doc join; persisted once per session+corpus (same index-reuse
    # discipline as cached_doc_tokens — at 100 TB the analog is a
    # bigram intermediate table). Measured 1.42 -> 0.64 s at sf0.1.
    from kinesis_logs_reader_spark.functions.caching import (
        corpus_key,
        lru_persisted,
    )

    # explode_nonempty, not explode (ADVICE r11): the inferred
    # size()>0 filter of a raw explode re-runs the shingle build once
    # per row during the cache materialization — invisible to
    # tools/audit_plans.py afterwards because lru_persisted replaces
    # the subtree with InMemoryTableScan in audited plans.
    from kinesis_logs_reader_spark.functions.generate import explode_nonempty

    big = lru_persisted(
        spark,
        "_klrs_doc_bigrams_cache",
        corpus_key(sf_dir, "documents"),
        # spread_scan (r14): the tokenize+bigram chain otherwise builds
        # and PERSISTS on the scan's single task (guide §2.5)
        lambda: explode_nonempty(
            spread_scan(docs).select("doc_id", tokens().alias("_toks")),
            shingles_from_tokens(F.col("_toks"), k=2),
            "bg",
            "doc_id",
        ),
    )
    # The count table feeds THREE consumers (lp directly, ctx, and via
    # ctx the smoothing denominators); Spark re-runs the 2.6M-row agg
    # per use, so persist the bigram-vocab-bounded result (931 rows on
    # this corpus — tiny at any scale). Measured 1.86 -> 0.96 s at
    # sf~1 (PERF.md r11, q147 audit).
    bg_counts = lru_persisted(
        spark,
        "_klrs_bigram_counts_cache",
        corpus_key(sf_dir, "documents"),
        lambda: big.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg")),
    )
    ctx = bg_counts.select(
        F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"), "c_bg"
    ).groupBy("w1").agg(F.sum("c_bg").alias("c_ctx"))
    vocab_n = (
        cached_doc_tokens(spark, sf_dir)
        .select("t")
        .agg(F.count_distinct("t").alias("v"))
    )
    lp = (
        bg_counts.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(ctx), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "bg",
            F.floor(
                F.log(
                    (F.col("c_bg") + 1).cast("double")
                    / (F.col("c_ctx") + F.col("v")).cast("double")
                )
                * 1e6
            ).cast("bigint").alias("lp_q"),
        )
    )
    return (
        big.join(F.broadcast(lp), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_q").alias("sum_lp_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_lp_q",
            F.round(
                F.col("sum_lp_q").cast("double")
                / 1e6
                / F.col("n_bigrams").cast("double"),
                4,
            ).cast("double").alias("avg_logprob"),
        )
        .withColumn("keep", F.col("avg_logprob") > -6.0)
        .orderBy("doc_id")
    )


def q150_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per document — the OCR-artifact /
    mojibake screen: a clean prose doc is dominated by letters and
    single spaces; scan glitches and binary-in-text show up as
    punctuation/digit mass. Counting is length-minus-translate (delete
    the class, diff the lengths): a table-lookup char scan instead of
    a per-char regex engine pass — kernel-measured 1.5x per class
    at sf0.1 (0.177 s regexp_count vs 0.118 s translate, alpha class). Map-only, rides whole-stage codegen; the
    flag thresholds are the knobs a crawl pipeline tunes.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("double")
    _alpha_chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    alpha = (
        F.length("text")
        - F.length(F.translate("text", _alpha_chars, ""))
    ).cast("bigint")
    digit = (
        F.length("text") - F.length(F.translate("text", "0123456789", ""))
    ).cast("bigint")
    space = (
        F.length("text") - F.length(F.translate("text", " ", ""))
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            alpha.alias("n_alpha"),
            digit.alias("n_digit"),
            space.alias("n_space"),
            (F.length("text") - alpha - digit - space).alias("n_other"),
            F.round(alpha.cast("double") / n, 4).cast("double").alias("alpha_ratio"),
            F.round(
                (F.length("text") - alpha - digit - space).cast("double") / n, 4
            ).cast("double").alias("other_ratio"),
        )
        .withColumn(
            "suspect",
            (F.col("alpha_ratio") < 0.5) | (F.col("other_ratio") > 0.1),
        )
        .orderBy("doc_id")
    )


def q152_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail partition, generalized to deciles:
    bucket the corpus by its unigram-LM score (q115's avg_logprob) and
    report per-bucket volume and length stats. This is the table a
    pipeline owner reads to SET the q115 keep-threshold — where the
    mass sits, and whether low-score buckets are short-doc noise or
    genuine off-distribution text.

    Bucketing uses NTILE(10) over (avg_logprob, doc_id) — the doc_id
    tiebreak makes bucket assignment total-order deterministic, so both
    engines cut identical deciles. The ntile window is a single global
    sort of |docs| score rows (id + two numbers, not text); at 100 TB
    the same statement runs on range-partitioned quantile cuts
    (q52's sort-based percentile discipline).
    """
    scored = cached_unigram_scored(spark, sf_dir).select(
        "doc_id", "n_tok", "avg_logprob", "keep"
    )
    w = Window.orderBy("avg_logprob", "doc_id")
    return (
        scored.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 4).cast("double").alias("avg_lp"),
            F.round(F.min("avg_logprob"), 4).cast("double").alias("min_lp"),
            F.round(F.max("avg_logprob"), 4).cast("double").alias("max_lp"),
            F.round(F.avg(F.col("n_tok").cast("double")), 4)
            .cast("double")
            .alias("avg_tokens"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
        )
        .orderBy("bucket")
    )


def q152b_perplexity_buckets_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production entry point for the decile table (VERDICT r5 #2):
    exact NTILE(10) semantics WITHOUT the global no-partitionBy window.
    q152 keeps the single-window form as the oracle twin (the
    q110/q110b pattern); output is bit-identical.

    Plan shape: ``repartitionByRange`` on the total-order key
    (avg_logprob, doc_id) splits the score frame into ordered ranges;
    per-range ``row_number`` windows run in parallel (partitionBy the
    materialized range-partition id — never one task holding every
    row); the only driver-side data is the 32-row per-partition count
    vector, whose prefix sums turn local row numbers into exact global
    ranks. Bucket assignment is then the closed-form integer NTILE
    formula — with n rows and k buckets, the first ``n % k`` buckets
    get ``n div k + 1`` rows — applied map-only. At 100 TB the scored
    frame is (id, two numbers); nothing corpus-sized is ever globally
    sorted on one task and nothing but the partition-count vector
    reaches the driver.
    """
    scored = cached_unigram_scored(spark, sf_dir).select(
        "doc_id", "n_tok", "avg_logprob", "keep"
    )
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 2)
    # session-cached: the ranged frame is read twice (count vector,
    # then rank pass) and must be pinned so both passes see identical
    # range-partition contents. Keyed by (sf_dir, nparts) — a profile
    # change (e.g. bench's 8-partition local conf) must not serve a
    # frame ranged under a different partition count — and bounded by
    # the shared small-LRU (ADVICE r6 capped it at 1; ADVICE r10 raised
    # it so corpus-alternating workloads stop thrashing).
    from kinesis_logs_reader_spark.functions.caching import (
        corpus_key,
        lru_persisted,
    )

    ranged = lru_persisted(
        spark,
        "_klrs_q152b_cache",
        (corpus_key(sf_dir, "documents"), nparts),
        lambda: scored.repartitionByRange(
            nparts, "avg_logprob", "doc_id"
        ).withColumn("_pid", F.spark_partition_id()),
    )
    # bounded driver step: ONE row per range partition (32 at test
    # scale, a few thousand on a big cluster), never data rows
    counts = sorted(
        (r["_pid"], r["c"])
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    n = sum(c for _, c in counts)
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = spark.createDataFrame(offsets, "_pid int, _off bigint")
    w = Window.partitionBy("_pid").orderBy("avg_logprob", "doc_id")
    q10, rem = n // 10, n % 10
    ranked = (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("_rank", F.col("_off") + F.col("_rn"))
    )
    # closed-form NTILE(10) from the exact global rank, all-int64
    # arithmetic (DIV, never float division: a double quotient could
    # misbucket a boundary rank once ranks pass 2^53)
    bucket = F.when(
        F.col("_rank") <= F.lit(rem * (q10 + 1)),
        F.expr(f"(_rank - 1) DIV {q10 + 1} + 1"),
    ).otherwise(
        F.expr(f"{rem} + (_rank - {rem * (q10 + 1)} - 1) DIV {max(q10, 1)} + 1")
    )
    return (
        ranked.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_logprob"), 4).cast("double").alias("avg_lp"),
            F.round(F.min("avg_logprob"), 4).cast("double").alias("min_lp"),
            F.round(F.max("avg_logprob"), 4).cast("double").alias("max_lp"),
            F.round(F.avg(F.col("n_tok").cast("double")), 4)
            .cast("double")
            .alias("avg_tokens"),
            F.sum(F.col("keep").cast("int")).alias("n_keep"),
        )
        .orderBy("bucket")
    )


def q158_fuzzy_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary spell-variant detection (fuzzy dedup of the token
    space): edit-distance <= 2 pairs over the distinct part-name
    vocabulary, each pair resolved to its higher-document-frequency
    spelling — the normalize-the-long-tail step a tokenizer-prep or
    entity-canonicalization pipeline runs before counting anything.

    Data movement: the vocabulary aggregate is the only corpus-sized
    work (explode of per-row DISTINCT tokens -> (token, df) counts,
    map-side combinable); the pair generation is a broadcast theta
    self-join of the VOCAB with itself — vocab-bounded, never
    corpus-bounded. At a 100 TB corpus the vocabulary is ~1e6 rows, so
    the quadratic candidate step needs the standard banding (block on
    length plus first char, or positional q-grams) — here the whole
    vocab fits one broadcast and the exact all-pairs form doubles as
    the oracle. Levenshtein is the classic DP distance in both engines,
    so the pair set is bit-identical — for ASCII vocabularies: Spark
    counts characters, DuckDB counts BYTES (measured divergence pinned
    in tests/test_hash_contract_fuzz.py), and the fixture invariant
    test asserts the part-name vocabulary is pure ASCII.
    """
    part = load_table(spark, sf_dir, "part")
    vocab = (
        part.select(
            F.explode(F.array_distinct(F.split("p_name", " "))).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    a = vocab.select(F.col("t").alias("tok_a"), F.col("df").alias("df_a"))
    b = vocab.select(F.col("t").alias("tok_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(F.broadcast(b), F.col("tok_a") < F.col("tok_b"))
        .select(
            "tok_a",
            "tok_b",
            F.levenshtein("tok_a", "tok_b").cast("int").alias("dist"),
            "df_a",
            "df_b",
        )
        .filter(F.col("dist") <= 2)
    )
    return pairs.select(
        "tok_a",
        "tok_b",
        "dist",
        "df_a",
        "df_b",
        F.when(F.col("df_a") >= F.col("df_b"), F.col("tok_a"))
        .otherwise(F.col("tok_b"))
        .alias("preferred"),
    ).orderBy("tok_a", "tok_b")


def _deletion_neighborhood(col: str) -> F.Column:
    """All distinct strings reachable by deleting <= 2 characters from
    ``col`` (the token itself, every 1-deletion, every 2-deletion) as
    an array — pure Catalyst HOFs, no UDF. This is the SymSpell band
    key set: Levenshtein(a, b) <= 2 implies the aligned matched
    subsequence is itself a member of BOTH neighborhoods (delete a's
    substituted+deleted chars, delete b's substituted+inserted chars),
    so equi-joining on neighborhood membership is candidate-COMPLETE
    for distance <= 2 — unlike first-char blocking, which misses
    substitutions at position 0.
    """
    d1 = (
        "transform(sequence(1, length({c})), i -> "
        "concat(substring({c}, 1, i-1), substring({c}, i+1, length({c}))))"
    )
    inner = d1.format(c="s")
    return F.expr(
        "array_distinct(concat("
        f"array({col}), "
        f"{d1.format(c=col)}, "
        f"flatten(transform({d1.format(c=col)}, s -> {inner}))"
        "))"
    )


def q158b_fuzzy_variants_banded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production entry point for spell-variant detection (VERDICT r5
    #3): deletion-neighborhood (SymSpell) banding replaces q158's
    O(|V|^2) broadcast theta join; q158 keeps the exact all-pairs form
    as the oracle twin. Output is identical — the banding is
    candidate-complete for edit distance <= 2 (see
    :func:`_deletion_neighborhood`), and the final exact
    ``levenshtein`` filter removes the false candidates banding admits.

    Data movement at scale: each vocab token expands to
    O(len^2) ~ 50 short band strings (a map-only explode), candidates
    come from ONE hash-shuffle equi-join on the band string, and each
    candidate pair is verified once after a distinct. |V|=1e6 rows
    yields ~5e7 band rows and vastly fewer than the theta join's 1e12
    comparisons — the band-group sizes, not |V|^2, bound the work.
    """
    part = load_table(spark, sf_dir, "part")
    vocab = (
        part.select(
            F.explode(F.array_distinct(F.split("p_name", " "))).alias("t")
        )
        .filter(F.length("t") > 0)
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    bands = vocab.select(
        "t", "df", F.explode(_deletion_neighborhood("t")).alias("band")
    )
    a = bands.select(
        F.col("band"), F.col("t").alias("tok_a"), F.col("df").alias("df_a")
    )
    b = bands.select(
        F.col("band"), F.col("t").alias("tok_b"), F.col("df").alias("df_b")
    )
    cands = (
        a.join(b, ["band"])
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "df_a", "df_b")
        .distinct()
    )
    pairs = cands.select(
        "tok_a",
        "tok_b",
        F.levenshtein("tok_a", "tok_b").cast("int").alias("dist"),
        "df_a",
        "df_b",
    ).filter(F.col("dist") <= 2)
    return pairs.select(
        "tok_a",
        "tok_b",
        "dist",
        "df_a",
        "df_b",
        F.when(F.col("df_a") >= F.col("df_b"), F.col("tok_a"))
        .otherwise(F.col("tok_b"))
        .alias("preferred"),
    ).orderBy("tok_a", "tok_b")


def q171_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sample bootstrap CIs for per-source mean
    document length (r8): is a source's quality statistic stable, or
    an artifact of a few outlier documents? Every corpus-health
    dashboard needs the uncertainty, not just the point estimate —
    and at 100 TB you cannot resample with a driver-side RNG.

    32 half-sample replicas, membership decided by the bits of the
    repo's md5 base-hash of doc_id (bit b set -> doc in replica b):
    no RNG state, bit-identical in both engines, and each doc lands
    in ~16 replicas so every replica is an independent-ish half
    sample. Replica means are exact integer ppm (sum * 1e6 DIV n);
    the CI is the empirical [5th, 95th] percentile of the <= 32
    replica means via rank = ceil(q * n_reps) (rank formula, no
    interpolation — missing empty replicas shift both engines
    identically).

    Plan shape: one corpus scan -> explode over the 32-row replica
    spine -> bit filter -> (source, b) partial aggregate: the shuffle
    carries at most |sources| x 32 rows regardless of corpus size;
    the percentile windows run on that bounded frame. No explode
    alternative (32 conditional aggregates) was measured slower to
    compile and equal at runtime; kept the symmetric shape.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        n_tokens().alias("nt"),
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        )
        .cast("bigint")
        .alias("base"),
    )
    reps = (
        docs.select(
            "source",
            "nt",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
            "base",
        )
        .filter(F.expr("shiftright(base, cast(b as int)) % 2 = 1"))
        .groupBy("source", "b")
        .agg(F.sum("nt").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "source", "b", F.expr("(s * 1000000L) div n").alias("rep_ppm")
        )
    )
    w_rank = Window.partitionBy("source").orderBy("rep_ppm", "b")
    w_all = Window.partitionBy("source")
    ranked = reps.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "n_reps", F.count(F.lit(1)).over(w_all)
    )
    lo = ranked.filter(
        F.col("rk") == F.ceil(F.col("n_reps") * 0.05)
    ).select("source", F.col("rep_ppm").alias("lo_ppm"))
    hi = ranked.filter(
        F.col("rk") == F.ceil(F.col("n_reps") * 0.95)
    ).select("source", F.col("rep_ppm").alias("hi_ppm"))
    full = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("(sum(nt) * 1000000L) div count(1)").alias("mean_ppm"),
    )
    return (
        full.join(lo, "source")
        .join(hi, "source")
        .select("source", "n_docs", "mean_ppm", "lo_ppm", "hi_ppm")
        .orderBy("source")
    )


def q183_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version vocabulary drift monitor (r9): the token-level
    health check a pipeline runs between two corpus snapshots before
    reusing last snapshot's tokenizer/filters — q137's event-mix drift
    idiom applied to the vocabulary, with the report bounded to the
    tokens that MATTER (union of each version's top-40 by frequency).

    Versions are deterministic halves (doc_id % 2); per reported token:
    exact counts and integer-ppm shares per version, the shift in ppm,
    the add-1-smoothed log-ratio ln(p0/p1) as ONE ln of an exact int64
    rational quantized to micro-nats (the q137/q115 idiom — bit-stable
    cross-engine), and a status: 'new' (absent in v0), 'gone' (absent
    in v1), else 'stable'. A tokenizer trained on v0 treats 'new'
    high-rank tokens as byte-fallback sludge; this query is the gate
    that catches it.

    Scale shape: ONE exploded-token scan -> map-side-combinable
    (version is an expression, not a shuffle key) per-token counts in
    a single conditional aggregate; totals and the top-K windows run
    over the |vocab|-bounded count frame, never corpus rows; the
    report is <= 80 rows at any corpus size. No join touches raw
    documents.

    Reference analog: none (beyond-reference mandate; composes q137's
    drift arithmetic with q105's vocab-bounding discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).cast("int").alias("v"),
        F.explode(tokens()).alias("token"),
    )
    # The vocab-bounded count frame feeds THREE consumers (totals agg,
    # two top-K windows); without materialization each re-derives it
    # from a fresh corpus scan (plan-pinned: one scan). persist() here
    # is the connected_components/edges convention — the frame is
    # |vocab| rows of integers, MBs at any SF.
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_v0"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).alias("n_v1"),
    ).persist()
    totals = counts.agg(
        F.sum("n_v0").alias("t0"),
        F.sum("n_v1").alias("t1"),
        F.count(F.lit(1)).alias("k_vocab"),
    )
    w0 = Window.orderBy(F.col("n_v0").desc(), "token")
    w1 = Window.orderBy(F.col("n_v1").desc(), "token")
    top = (
        counts.withColumn("r0", F.row_number().over(w0))
        .withColumn("r1", F.row_number().over(w1))
        .filter((F.col("r0") <= 40) | (F.col("r1") <= 40))
    )
    j = top.crossJoin(F.broadcast(totals))
    num = (F.col("n_v0") + 1) * (F.col("t1") + F.col("k_vocab"))
    den = (F.col("n_v1") + 1) * (F.col("t0") + F.col("k_vocab"))
    lr_micro = F.floor(
        F.log(num.cast("double") / den.cast("double")) * 1e6
    ).cast("bigint")
    return (
        j.select(
            "token",
            "n_v0",
            "n_v1",
            F.expr("(n_v0 * 1000000L) div t0").alias("ppm_v0"),
            F.expr("(n_v1 * 1000000L) div t1").alias("ppm_v1"),
            (
                F.expr("(n_v1 * 1000000L) div t1")
                - F.expr("(n_v0 * 1000000L) div t0")
            ).alias("shift_ppm"),
            lr_micro.alias("lr_micro"),
            F.when(F.col("n_v0") == 0, F.lit("new"))
            .when(F.col("n_v1") == 0, F.lit("gone"))
            .otherwise(F.lit("stable"))
            .alias("status"),
        )
        .orderBy("token")
    )
