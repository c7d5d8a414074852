"""Deduplication operators (SURVEY.md §2.2 I1/I2; LLM-pipeline extension).

Four dedup families, each chosen for how it scales:

- exact (q40): hash group-by on the full text — one shuffle keyed by
  text; at 100 TB group instead by md5(text) so the shuffle carries
  16-byte keys, not documents.
- n-gram Jaccard (q44): exact set similarity over candidate pairs from
  an inverted shingle index; bounded here to a fixed doc_id slice so
  the oracle output is scale-independent.
- MinHash + LSH (q46): per-row signatures (no shuffle), band digests,
  and one group-by on (band, digest) to emit candidate pairs — the
  linear-cost near-dup path for 100 TB. md5-based hash family keeps it
  bit-identical with the DuckDB oracle.
- SimHash (q47): 64-bit per-doc sketch via a vectorized pandas UDF;
  rows-only check (cross-engine SQL md5-bit-arithmetic is not worth
  the plan cost), validated against a pure-Python reference in tests.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_logs_reader_spark.functions.text import (
    MINHASH_P,
    _base_hash,
    band_hashes,
    banded_digest,
    minhash_signature,
    shingles_from_tokens,
    token_base_hashes,
    token_shingle_hashes,
    tokens,
)
from kinesis_logs_reader_spark.functions.generate import (
    explode_nonempty,
    posexplode_nonempty,
)
from kinesis_logs_reader_spark.sources.tables import load_table, spread_scan
from kinesis_logs_reader_spark.functions.caching import corpus_key


def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: exact dedup — keep min doc_id per identical text.

    Groups by md5(text) (16-byte shuffle keys); collision probability
    at 100 TB doc counts is ~0 and the oracle groups the same way.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


def _cached_slice_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, sh) distinct-shingle frame for the fixed
    doc_id < 200 slice, shared by q44 and q116.

    The shingle frame feeds three subtrees of the pair plan (sizes x2
    via broadcast + the inverted index) and lambda expressions defeat
    Catalyst CSE (functions/text.py), so without materialization the
    shingling work codegen-inlines per subtree (measured ~2x warm,
    ~7x cold on q44 at sf0.1). 200 rows of string arrays per corpus.
    """
    cache = spark.__dict__.setdefault("_klrs_slice_shingles_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        # spread_scan (r14): parallelize the shingle chain and persist
        # the frame multi-partition (guide §2.5) — downstream explodes
        # and self-joins inherit the persisted partitioning
        tokd = (
            spread_scan(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") < 200
                )
            )
            .select("doc_id", tokens().alias("_toks"))
        )
        cache[ck] = tokd.select(
            "doc_id",
            F.array_distinct(shingles_from_tokens(F.col("_toks"))).alias("sh"),
        ).persist()
    return cache[ck]


def shingle_pair_counts(
    tokd: DataFrame | None = None, sh_frame: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs (ida < idb) with exact distinct-shingle overlap
    counts, via an inverted-index self-join (shingle -> docs).

    Returns (ida, idb, common, na, nb) — the sufficient statistics for
    any set-overlap measure (Jaccard q44, containment q116). Only
    pairs sharing >= 1 shingle ever materialize; the shuffles are
    keyed by shingle strings and doc-id pairs, never full documents.
    Pass ``sh_frame`` (a materialized (doc_id, sh) frame, e.g.
    :func:`_cached_slice_shingles`) to avoid re-inlining the shingle
    expression into every subtree; ``tokd`` builds it inline.
    """
    if sh_frame is not None:
        docs = sh_frame
    else:
        docs = tokd.select(
            "doc_id",
            F.array_distinct(shingles_from_tokens(F.col("_toks"))).alias("sh"),
        )
    sizes = docs.select("doc_id", F.size("sh").alias("n_sh"))
    # explode_nonempty: keep the inferred filter off the shingle chain
    # (functions/generate.py — the InferFiltersFromGenerate re-inline)
    inv = explode_nonempty(docs, F.col("sh"), "s", "doc_id")
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("ida"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("idb"), F.col("n_sh").alias("nb"))
    return common.join(F.broadcast(sa), "ida").join(F.broadcast(sb), "idb")


def _cached_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted output of :func:`shingle_pair_counts` over the
    shared slice-shingle frame. Three operators consume the identical
    pair statistics (q44 Jaccard, q116 containment, q146 threshold
    sweep) and each call re-ran the inverted-index self-join;
    persisting the (ida, idb, common, na, nb) frame — pair-count rows,
    tiny — runs it once per session+corpus. At 100 TB this is the
    materialized candidate-pair table every scoring pass reads.
    """
    cache = spark.__dict__.setdefault("_klrs_pair_counts_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        cache[ck] = shingle_pair_counts(
            sh_frame=_cached_slice_shingles(spark, sf_dir)
        ).persist()
    return cache[ck]


def q44_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by exact 3-gram Jaccard over a fixed doc slice.

    Inverted-index join (shingle -> docs) generates candidate pairs;
    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) from exact distinct-shingle
    counts. Top-20 pairs by similarity, total order.
    """
    jac = (
        _cached_pair_counts(spark, sf_dir)
        .select(
            "ida",
            "idb",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).cast("double").alias("jaccard"),
        )
    )
    return (
        jac.orderBy(F.col("jaccard").desc(), "ida", "idb")
        .limit(20)
        .orderBy("ida", "idb")
    )


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs (ida < idb) for a (doc_id, text) frame.

    Pipeline: shingle -> 8-way md5 MinHash (per-row, no shuffle) -> 4
    bands of 2 -> self-join on (band, digest) -> distinct pairs. The
    only shuffles are the band self-join and the final distinct; both
    are keyed by 16-byte digests, never by document text.
    """
    # Three explicit projection stages so each array materializes once
    # (lambda expressions defeat Catalyst CSE; inlining would blow up
    # md5 work quadratically — see functions/text.py docstrings).
    tok = docs.select("doc_id", token_base_hashes().alias("tb"))
    based = tok.select("doc_id", token_shingle_hashes(F.col("tb")).alias("bases"))
    sig = based.select("doc_id", *minhash_signature(F.col("bases"), num_hashes=8))
    banded = sig.select("doc_id", *band_hashes(num_hashes=8, rows_per_band=2))
    bands_long = banded.select(
        "doc_id",
        F.expr(
            "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_idx, digest)"
        ),
    )
    # The self-join duplicates the whole shingle->signature lineage into
    # both sides (lambda expressions defeat Catalyst CSE); persisting the
    # band frame (4 rows x 16-byte digest per doc) computes it once —
    # measured 1.7 s -> 1.2 s on q129's cold path at sf0.1.
    bands_long = bands_long.persist()
    l, r = bands_long.alias("l"), bands_long.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.digest") == F.col("r.digest"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("ida"), F.col("r.doc_id").alias("idb"))
        .distinct()
    )


def _planted_docs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """documents plus exact copies of doc_id < 20 planted at id+1000000."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    # spread_scan (r14): the shingle->signature chain minhash_pairs
    # stacks on this frame is per-row-heavy and otherwise single-task
    # over the one-row-group scan (guide §2.5). q129 passes
    # spread=False (A/B: OFF wins 0.62 vs 0.75 s — its first op is a
    # combining md5-canon agg that overlaps the scan, and the minhash
    # leg runs on post-exchange survivors anyway).
    out = docs.unionByName(planted)
    return spread_scan(out) if spread else out


def _cached_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair frame shared by q46 (pair listing) and q74
    (cluster formation), persisted per session+corpus.

    Both queries run the identical shingle->signature->band pipeline;
    without sharing, each pays the full 8-signature codegen compile and
    corpus scan (the r1/r2 cold-compile finding on q74). The persisted
    frame holds only candidate pairs — near-dups, orders of magnitude
    smaller than the corpus — so executor memory is bounded; at 100 TB
    the same role is played by a signatures side table written once.
    """
    cache = spark.__dict__.setdefault("_klrs_pairs_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        cache[ck] = minhash_pairs(_planted_docs(spark, sf_dir)).persist()
    return cache[ck]


def q46_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: MinHash-LSH candidate pairs, end-to-end and oracle-checkable.

    Duplicates are planted inside the query (docs with id < 20 are
    re-emitted at id+1000000), so LSH must recover exactly those pairs
    plus any natural band collisions — deterministically in both
    engines (md5 + affine hash family, bit-identical across engines).
    """
    return _cached_minhash_pairs(spark, sf_dir).orderBy("ida", "idb")


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 5_000_000
) -> DataFrame:
    """Min-label connected components over an (ida, idb) edge frame.

    Two regimes, picked by edge count:

    - **small graph (≤ driver_threshold edges)**: collect and run
      union-find on the driver. The candidate-pair graph a dedup
      pipeline produces is orders of magnitude smaller than the corpus
      (only near-dups have edges), so even a 100 TB corpus usually
      lands here — 5M edges is ~80 MB on the driver, and union-find is
      O(E α(E)) — versus 8+ distributed jobs per label-propagation
      round on data that fits in one task.
    - **large graph**: iterative min-label propagation; every node
      starts labeled with its own id and each round takes the minimum
      label over its closed neighborhood until a fixpoint. Dup
      clusters have tiny diameter (near-cliques from LSH buckets), so
      2-3 rounds suffice; adversarial long chains admit the
      large-star/small-star optimization (Kiveris et al., "Connected
      Components in MapReduce") without changing the loop shape.

    Returns (node, cluster_id) where cluster_id = min node id of the
    component. Only nodes that appear in an edge are returned. Both
    regimes produce identical output.
    """
    # Materialize the edge list once (persist), then count to pick the
    # regime. A limit(N).collect() probe would be cheaper on paper but
    # CollectLimitExec executes partitions incrementally (1, then 4x,
    # ...), re-running the expensive upstream pair pipeline several
    # times; persist+count runs it exactly once.
    edges = edges.select("ida", "idb").persist()
    if edges.count() <= driver_threshold:
        rows = edges.collect()
        edges.unpersist(blocking=False)
        return _cc_driver_union_find(edges.sparkSession, rows)
    # Large-graph path. Undirected: materialize both directions once
    # (fed from the cached one-way list, then release it); cache
    # because every iteration re-joins it.
    both = (
        edges.select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
        .unionByName(edges.select(F.col("idb").alias("src"), F.col("ida").alias("dst")))
        .distinct()
        .cache()
    )
    both.count()  # materialize from the cached edges
    edges.unpersist(blocking=False)
    labels = (
        both.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .cache()
    )
    for _ in range(max_iter):
        # candidate label for dst = min label among its neighbors
        neighbor_min = (
            both.join(labels, both.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .cache()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    both.unpersist()
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def _cc_driver_union_find(spark: SparkSession, edge_rows) -> DataFrame:
    """Union-find with path compression; min node id becomes the root."""
    from pyspark.sql import types as T

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id wins the root so cluster_id = component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    rows = sorted((n, find(n)) for n in parent)
    schema = T.StructType(
        [
            T.StructField("node", T.LongType()),
            T.StructField("cluster_id", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def q74_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster formation: connected components over the MinHash-LSH
    candidate-pair graph (the step after pairwise near-dup detection in
    an LLM training-data pipeline — 'keep one doc per cluster').

    Oracle: the identical pair set built by q46's SQL, closed under a
    recursive CTE that propagates minimum labels along edges.
    """
    pairs = _cached_minhash_pairs(spark, sf_dir)
    return connected_components(pairs).orderBy("node")


_SIMHASH_BITS = 64


def _simhash_one(text: str) -> int:
    """Pure-Python 64-bit SimHash over whitespace tokens (md5 family)."""
    acc = [0] * _SIMHASH_BITS
    for tok in text.split(" "):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for bit in range(_SIMHASH_BITS):
            acc[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(_SIMHASH_BITS):
        if acc[bit] > 0:
            out |= 1 << bit
    return out


def _simhash_series(texts: pd.Series) -> pd.Series:
    """Batch SimHash: md5 per token (C call), bit accumulation in numpy.

    The naive per-token Python bit loop is 64 ops/token — ~300M
    interpreter ops over the sf0.1 corpus, which dominated the 5 s
    runtime. Here each doc's token hashes become one uint64 vector and
    the +-1 accumulation is a single (n_tok, 64) numpy reduction.
    Output is bit-identical to :func:`_simhash_one` (pinned by
    tests/test_llm_ops.py::test_simhash_matches_pure_python).
    """
    import numpy as np

    shifts = np.arange(_SIMHASH_BITS, dtype=np.uint64)
    weights = np.uint64(1) << shifts
    out = []
    for t in texts:
        toks = t.split(" ")
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
                for tok in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        acc = (2 * bits - 1).sum(axis=0)
        out.append(format(int(weights[acc > 0].sum()), "016x"))
    return pd.Series(out, index=texts.index)


# Vectorized (Arrow-batched) SimHash; hex string avoids int64 sign issues.
# Explicit StringType(): a DDL-string returnType would need an active
# SparkContext to parse at definition time.
simhash_udf = F.pandas_udf(_simhash_series, T.StringType())


def q47_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketch per document (rows-only check; the md5-bit
    arithmetic is validated against a pure-Python oracle in
    tests/test_llm_ops.py). Near-dup pairs = small Hamming distance,
    found by banding the 64-bit sketch into 4x16-bit sub-keys.
    """
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan (r14): the Arrow-batched simhash UDF inherited the
    # one-row-group scan's single task, so ONE Python worker hashed
    # the whole corpus regardless of cores; the gated exchange fans
    # the batches across workers and is a no-op on a many-split table
    # (guide §2.5 + §4.1 — the boundary cost itself parallelizes).
    return (
        spread_scan(docs.select("doc_id", "text"))
        .select("doc_id", simhash_udf(F.col("text")).alias("simhash"))
        .orderBy("doc_id")
    )


def q89_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs sharing a 3-token
    shingle with any benchmark doc (the pre-training hygiene step —
    drop or flag training text that leaks the eval set).

    The benchmark slice is doc_id % 101 == 0 (deterministic, ~1%);
    the training side is bounded to doc_id < 500 so the oracle output
    is scale-independent. Inverted-index join on integer shingle
    hashes: the shuffle carries (hash, id) pairs, never text. At
    100 TB the eval side (thousands of docs) builds a broadcast hash
    set instead, making the check map-only.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # cache() is a hard materialization barrier for the token-hash
    # array: without it Catalyst inlines the `tb` transform into every
    # element_at of the shingle lambda and the per-doc cost goes
    # quadratic (measured 4.4s -> 1.0s at sf0.001 on this exact
    # query). At 100 TB the same barrier is an intermediate parquet
    # write or one repartition, not a cluster-wide cache.
    # spread_scan A/B (r14): OFF wins 0.19 vs 0.21 s — the 1-in-101
    # eval slice downstream keeps the heavy work tiny; spreading the
    # cached frame taxed its many small consumer stages.
    # Measured-negative.
    tok = docs.select("doc_id", token_base_hashes().alias("tb")).cache()
    sh = tok.select("doc_id", token_shingle_hashes(F.col("tb")).alias("sh"))
    # explode_nonempty: even with the cache barrier the inferred filter
    # re-runs the shingle transform over cached tb per row
    # (functions/generate.py; the q130 fix measured -47% on this shape)
    ev = explode_nonempty(
        sh.filter(F.col("doc_id") % 101 == 0),
        F.col("sh"),
        "s",
        F.col("doc_id").alias("eval_id"),
    )
    tr = explode_nonempty(
        sh.filter((F.col("doc_id") % 101 != 0) & (F.col("doc_id") < 500)),
        F.col("sh"),
        "s",
        F.col("doc_id").alias("train_id"),
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("train_id", "eval_id")
    )


def q162_eval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded eval-set contamination (r7): per-training-doc containment
    fraction against the benchmark shingle set, with verdicts.

    q89 reports raw shared-shingle counts per (train, eval) pair; real
    decontamination (C4/Dolma-style) wants a per-doc DECISION: what
    fraction of this document's distinct 3-token shingles appear
    anywhere in the eval set, and does that cross the drop threshold?
    ``containment = |sh(doc) ∩ sh(eval set)| / |sh(doc)|`` — the
    asymmetric overlap that catches a short eval prompt embedded in a
    long training doc, which symmetric Jaccard dilutes away.

    Contamination is planted by construction: each eval doc
    (``doc_id % 101 == 0``) is re-emitted on the train side at
    ``id + 5_000_000`` truncated to its first 2/3 tokens — containment
    ~1.0 (every shingle of the truncation exists in the original), so
    the 'dirty' class is non-empty at every SF and the planted rows
    must all land there.

    Scale shape: the eval shingle set (distinct hashes of ~1% of docs)
    is BROADCAST and the train side probes it with a broadcast hash
    join over its exploded shingles — the build-side hash set is
    constructed once per task, then every probe is O(1). (The
    tempting array formulation — ``size(array_intersect(sh, ev))``
    against a one-row cross-joined eval array — re-builds the eval
    hash set PER ROW inside the expression; measured 4.7 s vs 1.0 s
    at sf≈1 on identical output.) Per-doc hit counts partial-aggregate
    map-side, so the only train-side shuffle carries ~one row per
    document, never per shingle; ``explode_outer`` keeps sub-k-token
    docs (empty shingle set) in the output with n_sh = 0. At 100 TB
    the eval set is KB-to-MB sized while the train side rides the
    scan.
    Quantization: FLOOR(x*1e6+0.5)/1e6 == ROUND(x,6) for these
    rationals (n_hit/n_sh with n_sh << 1e5 — the q63 dyadic-boundary
    argument), identical in both engines.

    Reference analog: none (beyond-reference mandate; composes the
    q89 shingle kernels into a per-doc admission verdict).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev_docs = docs.filter(F.col("doc_id") % 101 == 0)
    planted = ev_docs.select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.array_join(
            F.slice(
                tokens(),
                1,
                F.greatest(
                    F.lit(1), F.floor(F.size(tokens()) * 2 / 3).cast("int")
                ),
            ),
            " ",
        ).alias("text"),
    )
    train_docs = docs.filter(
        (F.col("doc_id") % 101 != 0) & (F.col("doc_id") < 800)
    ).unionByName(planted)

    def _sh(frame: DataFrame) -> DataFrame:
        tok = frame.select("doc_id", token_base_hashes().alias("tb"))
        return tok.select(
            "doc_id", token_shingle_hashes(F.col("tb")).alias("sh")
        )

    # explode_nonempty, NOT explode: the inferred size()>0 filter would
    # push below both _sh projections and re-inline the md5 chain per
    # element — O(n^2) hashes per doc (functions/generate.py; measured
    # 13x on this exact stage, PERF.md r11).
    ev_set = explode_nonempty(_sh(ev_docs), F.col("sh"), "s").distinct().withColumn(
        "_hit", F.lit(1)
    )
    exploded = _sh(train_docs).select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode_outer("sh").alias("s")
    )
    scored = (
        exploded.join(F.broadcast(ev_set), "s", "left")
        .groupBy("doc_id", "n_sh")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).cast("int").alias("n_hit"))
    )
    containment = F.when(F.col("n_sh") > 0, (
        F.floor(
            F.col("n_hit").cast("double") / F.col("n_sh") * 1e6 + 0.5
        ) / 1e6
    ).cast("double")).otherwise(F.lit(0.0))
    return (
        scored.select(
            "doc_id",
            "n_sh",
            "n_hit",
            containment.alias("containment"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("containment") >= 0.5, F.lit("dirty"))
            .when(F.col("containment") >= 0.2, F.lit("suspect"))
            .otherwise(F.lit("clean")),
        )
        .orderBy("doc_id")
    )


def q101_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    algorithm): hash every k-token shingle positionally, slide a
    w-hash window, keep each window's minimum — guaranteeing at least
    one fingerprint per w consecutive shingles, robust to insertions
    that shift positions.

    All per-row array math (two chained transforms over materialized
    columns), no explode until a consumer needs the inverted index —
    at 100 TB this rides the corpus scan like every other signature.
    Output: fingerprint count, density, and an order-independent
    checksum per doc so the oracle pins the exact fingerprint SET.
    """
    w = 4
    # spread_scan (r14): the per-row md5+window-min chain ran on the
    # scan's single task (guide §2.5)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    )
    tok = docs.select("doc_id", token_base_hashes().alias("tb"))
    # materialize the positional shingle-hash sequence before windowing
    # (same anti-inlining rule as q89: lambdas defeat CSE)
    sh = tok.select(
        "doc_id", token_shingle_hashes(F.col("tb"), distinct=False).alias("sh")
    )
    # < w shingles -> empty window set (sequence(1,0) would be a
    # DESCENDING [1,0] and fault; see functions/text.py shingle guard)
    n_w = F.size(F.col("sh")) - F.lit(w - 1)
    minima = F.when(
        n_w >= 1,
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda i: F.array_min(F.slice(F.col("sh"), i, w)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    fps = F.array_distinct(minima)
    staged = sh.select("doc_id", F.size(F.col("sh")).alias("n_shingles"), fps.alias("fps"))
    return staged.select(
        "doc_id",
        "n_shingles",
        F.size("fps").alias("n_fps"),
        F.round(
            F.size("fps").cast("double")
            / F.greatest(F.col("n_shingles"), F.lit(1)).cast("double"),
            4,
        )
        .cast("double")
        .alias("density"),
        F.aggregate(
            F.col("fps"), F.lit(0).cast("bigint"), lambda acc, x: (acc + x) % F.lit(MINHASH_P)
        ).alias("fp_checksum"),
    ).orderBy("doc_id")


def q112_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (CCNet-style paragraph) exact dedup: split every
    document into fixed-size non-overlapping token chunks, hash each
    chunk, count global occurrences, and report per document how much
    of it is corpus-duplicated material.

    The chunk size is 2 tokens here so the synthetic word-soup corpus
    actually produces collisions; a crawl pipeline uses paragraphs or
    ~100-token spans — the plan is identical. Data movement at scale:
    chunks shuffle as 16-byte md5 digests only (never chunk text), one
    digest-keyed aggregate for global counts, one digest-keyed join
    back, one per-doc aggregate.
    """
    # Chunker: ONE regex pass over the raw text emits the 2-token
    # chunks directly — r5 A/B vs the split->sequence->slice->array_join
    # HOF chain: 0.49 s vs 0.62 s at sf0.1 (21% off, value-identical;
    # the HOF chain allocates a token array + per-chunk slice/join).
    # Valid because the corpus is single-space tokenized — a corpus
    # with irregular whitespace needs the general slice form.
    docs = load_table(spark, sf_dir, "documents")
    chunks = F.regexp_extract_all("text", F.lit(r"\S+( \S+)?"), 0)
    hashed = (
        # explode_nonempty: the inferred size()>0 filter would re-run
        # the regex chunker once more per row (functions/generate.py)
        explode_nonempty(
            # spread_scan (r14): the regex chunker + md5 ran on the
            # scan's single task (guide §2.5)
            spread_scan(docs.filter(F.length("text") > 0)),
            chunks,
            "chunk",
            "doc_id",
        )
        .select("doc_id", F.md5("chunk").alias("h"))
    )
    # Global occurrence count as a window over the digest: ONE shuffle
    # on h. q122's groupBy + broadcast-join-back pattern was MEASURED
    # here too (r4): 0.77 s vs 0.61 s — slower, because 2-token chunks
    # make most digests duplicated, so the "tiny dup set" premise that
    # wins for q122's rare k=8 shingle collisions inverts (the dup set
    # approaches the full digest frame and the join-back recomputes the
    # explode). Dup density decides the formulation, not a universal
    # rule; a paragraph-level chunker (rare dups) should flip to q122's
    # shape.
    from pyspark.sql.window import Window

    occ = hashed.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") > 1).cast("int")).alias("n_dup_chunks"),
            F.round(
                F.sum((F.col("n_occ") > 1).cast("int")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).cast("double").alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def q116_containment_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup by shingle CONTAINMENT — |A∩B| / min(|A|, |B|) — the
    asymmetric companion to q44's Jaccard. Containment catches a short
    document wholly embedded in a longer one (quote farms, boilerplate
    wrappers), which Jaccard under-scores because the union is large.

    Same inverted-index candidate generation as q44
    (:func:`shingle_pair_counts`); only the scoring differs. Top-20
    pairs by containment, total order.
    """
    cont = _cached_pair_counts(spark, sf_dir).select(
        "ida",
        "idb",
        "common",
        F.round(
            F.col("common").cast("double") / F.least("na", "nb"),
            6,
        ).cast("double").alias("containment"),
    )
    return (
        cont.orderBy(F.col("containment").desc(), "ida", "idb")
        .limit(20)
        .orderBy("ida", "idb")
    )


def q118_canonical_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after normalize-dedup grouping
    (q78's canonical form), KEEP exactly one document per duplicate
    group — the longest raw text, ties by min doc_id — instead of just
    counting copies. This is the "which copy survives" step of a real
    dedup pipeline, where the kept copy's formatting/provenance matters.

    Variants are planted in-query (docs id < 15 re-emitted uppercased
    with doubled spaces at id+2000000) so every group has a genuine
    quality spread: the planted variant is longer and must win its
    group. One shuffle on the 16-byte canonical digest; selection is a
    row_number window inside each group (group sizes are tiny — dup
    cardinality, not corpus cardinality).

    Reference analog: none (beyond-reference mandate; composes q78 +
    argmax selection).
    """
    from kinesis_logs_reader_spark.operators.preprocess import (
        cached_canonical_digests,
        normalize_text,
    )

    # corpus side from the shared session-cached digest frame (r10,
    # VERDICT r9 item 8); the 15 planted rows normalize raw below
    base = cached_canonical_digests(spark, sf_dir).select(
        "doc_id", "text_len", "h"
    )
    planted = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 15)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.regexp_replace(F.upper(F.col("text")), " ", "  ").alias("text"),
        )
        .select(
            "doc_id",
            F.length("text").alias("text_len"),
            F.md5(normalize_text(F.col("text"))).alias("h"),
        )
    )
    staged = base.unionByName(planted)
    # r9: argmax as max_by over a lexicographic struct instead of a
    # row_number window — (text_len, -doc_id) max == longest text,
    # ties to min doc_id. The aggregate partial-combines map-side, so
    # the digest shuffle carries ONE candidate row per (partition,
    # digest) instead of every corpus row sorted; at 100 TB that is
    # the difference between shuffling the corpus and shuffling the
    # near-dup surviving set.
    winner = F.max_by(
        F.struct("doc_id", "text_len"),
        F.struct(F.col("text_len"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        staged.groupBy("h")
        .agg(
            winner.alias("w"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.text_len").alias("text_len"),
            "n_copies",
        )
        .orderBy("doc_id")
    )


def q122_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better" shape): find every position
    where a document shares an exact >= k-token substring with ANY
    other document, and merge adjacent duplicated positions into spans
    — the per-doc report a span-removal pass consumes.

    The suffix-array of the paper is replaced by the Spark-native
    equivalent: positional k-gram digests. (1) posexplode k=8 shingles
    with their offset; (2) global occurrence count as a window over the
    md5 digest (one digest-keyed shuffle — the corpus shuffles 16-byte
    hashes + positions, never text); (3) duplicated positions regroup
    per doc, and a lag window turns runs of adjacent positions into
    span starts. Full copies of docs id < 10 are planted at id+3000000
    so duplicated substrings exist by construction: planted docs (and
    their originals) must report exactly one span covering every
    position.
    """
    from pyspark.sql.window import Window

    k = 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    # spread_scan (r14): the tokenize+positional-shingle+md5 chain is
    # the expensive half of this query and persists below — without
    # the gated exchange it builds AND persists on the scan's single
    # task (guide §2.5)
    tokd = spread_scan(docs.unionByName(planted)).select(
        "doc_id", tokens().alias("_toks")
    )
    # posexplode_nonempty: the inferred filter would re-inline the
    # shingle lambda over _toks per element (functions/generate.py)
    positional = posexplode_nonempty(
        tokd, shingles_from_tokens(F.col("_toks"), k=k), "pos", "sh", "doc_id"
    ).select("doc_id", "pos", F.md5("sh").alias("h"))
    # Occurrence counting as groupBy + broadcast-join-back, not a
    # COUNT() OVER (PARTITION BY h) window: the window formulation
    # shuffles AND sorts every positional shingle by digest, while the
    # groupBy's map-side partial agg collapses to per-partition distinct
    # digests before one shuffle, and only the *duplicated* digest set —
    # tiny, it's the dup spans themselves — broadcasts back onto the
    # (session-persisted) positional frame as a map-only hash join.
    # Measured 1.8x at sf0.1. At 100 TB the dup-digest frame can exceed
    # the broadcast bound; the fallback is a shuffled hash join on h —
    # still sort-free, still strictly cheaper than the window sort.
    cache = spark.__dict__.setdefault("_klrs_posgram_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        cache[ck] = positional.persist()
    positional = cache[ck]
    dup_h = (
        positional.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > 1)
        .select("h")
    )
    dup = positional.join(F.broadcast(dup_h), "h", "inner")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    spans = dup.withColumn("prev", F.lag("pos").over(w_doc)).withColumn(
        "span_start",
        (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 1)).cast(
            "int"
        ),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pos"),
            F.sum("span_start").alias("n_spans"),
            F.min("pos").alias("first_dup_pos"),
            F.max("pos").alias("last_dup_pos"),
        )
        .orderBy("doc_id")
    )


def q123_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: MinHash-estimated Jaccard (fraction of
    matching signature coordinates, 8 hashes) against the EXACT Jaccard
    of the same shingle-hash sets, for the top candidate pairs. This is
    the diagnostic a pipeline runs before trusting an LSH threshold:
    with 8 hashes the estimate moves in 1/8 steps, so |err| up to ~0.3
    on mid-similarity pairs is expected and the audit quantifies it.

    Both sides sketch/measure the SAME set space (distinct token-level
    shingle hashes, functions/text.py) — auditing the sketch against a
    different shingle definition would conflate sketch error with
    featurization drift. Signatures are per-row folds (no shuffle);
    exact overlap uses the inverted-index join bounded to the q44 doc
    slice; the signature join broadcasts (200 x 9 ints).
    """
    # The shingle-hash frame feeds SIX subtrees of this plan (signature
    # x2, sizes x2 via broadcast, inverted index x2 via self-join);
    # lambda expressions defeat Catalyst CSE (functions/text.py), so
    # without materialization the md5+affine work codegen-inlines six
    # times (measured 7.7 s -> 0.6 s at sf0.1). Persist once per
    # (session, corpus) — 200 rows of int arrays.
    cache = spark.__dict__.setdefault("_klrs_bases_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        # spread_scan (r14): parallelize the md5+shingle chain below
        # the persist (guide §2.5)
        docs = spread_scan(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 200)
            .select("doc_id", "text")
        )
        tok = docs.select("doc_id", token_base_hashes().alias("tb"))
        cache[ck] = tok.select(
            "doc_id", token_shingle_hashes(F.col("tb")).alias("bases")
        ).persist()
    based = cache[ck]
    sig = based.select("doc_id", *minhash_signature(F.col("bases"), num_hashes=8))
    sizes = based.select("doc_id", F.size("bases").alias("n_sh"))
    inv = based.select("doc_id", F.explode("bases").alias("b"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.b") == F.col("b.b")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("ida"), F.col("b.doc_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("ida"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("idb"), F.col("n_sh").alias("nb"))
    jac = (
        common.join(F.broadcast(sa), "ida")
        .join(F.broadcast(sb), "idb")
        .select(
            "ida",
            "idb",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).cast("double").alias("jaccard"),
        )
    )
    top = jac.orderBy(F.col("jaccard").desc(), "ida", "idb").limit(20)
    siga = sig.select(
        F.col("doc_id").alias("ida"), *[F.col(f"mh{j}").alias(f"a{j}") for j in range(8)]
    )
    sigb = sig.select(
        F.col("doc_id").alias("idb"), *[F.col(f"mh{j}").alias(f"b{j}") for j in range(8)]
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(8)
    )
    return (
        top.join(F.broadcast(siga), "ida")
        .join(F.broadcast(sigb), "idb")
        .select(
            "ida",
            "idb",
            "jaccard",
            (matches / F.lit(8.0)).cast("double").alias("est"),
            F.round(F.abs(F.col("jaccard") - matches / F.lit(8.0)), 6)
            .cast("double")
            .alias("abs_err"),
        )
        .orderBy("ida", "idb")
    )


def q128_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: after the deterministic train/val/test
    hash split (q77's md5 rule), count MinHash-LSH near-dup pairs that
    CROSS a split boundary — each one is evaluation contamination that
    per-split dedup cannot see. The planted exact copies (id+1000000,
    split-hashed independently of their originals) guarantee cross-
    split duplicates exist, exactly as real crawl dups straddle splits.

    Reuses the session-persisted LSH candidate-pair frame (q46/q74) —
    the audit itself is one tiny join of the pair list against the
    per-doc split assignment (broadcast; pairs are near-dups, orders
    of magnitude fewer than docs). Output: pair counts per
    (split_a, split_b) cell with the leaking (cross-cell) flag.
    """
    from kinesis_logs_reader_spark.functions.text import _base_hash

    pairs = _cached_minhash_pairs(spark, sf_dir)
    # spread=False A/B (r14): OFF wins 0.19 vs 0.21 s — this frame
    # only feeds the cheap split-bucket projection here; the heavy
    # minhash work rides the shared pair cache.
    docs = _planted_docs(spark, sf_dir, spread=False)
    bucket = _base_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assign = docs.select("doc_id", split.alias("split"))
    sa = assign.select(F.col("doc_id").alias("ida"), F.col("split").alias("split_a"))
    sb = assign.select(F.col("doc_id").alias("idb"), F.col("split").alias("split_b"))
    return (
        pairs.join(F.broadcast(sa), "ida")
        .join(F.broadcast(sb), "idb")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaking", F.col("split_a") != F.col("split_b"))
        .orderBy("split_a", "split_b")
    )


def q129_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline capstone (the dedup analog of q90's curation
    capstone): one declarative plan chaining
    exact dedup (md5(text), keep min doc_id)
    -> MinHash-LSH near-dup pairs over the survivors
    -> greedy pair resolution (drop the larger id of every candidate
       pair — the no-cluster-formation variant; q74 is the cluster
       path) -> per-source survival report.

    Every stage shuffles digests or id pairs, never text; the LSH
    stage is the linear-cost candidate generator, so the whole
    pipeline is corpus-scan + digest-keyed shuffles at any scale.
    Duplicates are planted (exact copies at id+1000000 via the q46
    frame) so both stages provably remove something.
    """
    docs = _planted_docs(spark, sf_dir, spread=False)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # planted ids carry their original's source for the report
    src_all = src.unionByName(
        src.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "source"
        )
    )
    exact_keep = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = docs.join(exact_keep, "doc_id")
    pairs = minhash_pairs(survivors)
    near_drop = pairs.select(F.col("idb").alias("doc_id")).distinct()
    near_keep = survivors.join(near_drop, "doc_id", "left_anti").select("doc_id")
    stats = (
        src_all.withColumn("raw", F.lit(1))
        .join(exact_keep.withColumn("after_exact", F.lit(1)), "doc_id", "left")
        .join(near_keep.withColumn("after_near", F.lit(1)), "doc_id", "left")
    )
    return (
        stats.groupBy("source")
        .agg(
            F.sum("raw").alias("n_raw"),
            F.sum(F.coalesce("after_exact", F.lit(0))).alias("n_after_exact"),
            F.sum(F.coalesce("after_near", F.lit(0))).alias("n_after_near"),
        )
        .select(
            "source",
            "n_raw",
            "n_after_exact",
            "n_after_near",
            F.round(
                F.lit(1.0)
                - F.col("n_after_near").cast("double") / F.col("n_raw"),
                4,
            ).cast("double").alias("removed_frac"),
        )
        .orderBy("source")
    )


def q130_span_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level eval decontamination — q89 flags contaminated DOCS;
    this reports the contaminated token SPANS inside each training doc
    (positional 3-gram hashes hitting the eval set, adjacent positions
    merged via a lag window), which is what a surgical span-removal
    pass (rather than whole-doc dropping) consumes.

    Same slices as q89 (eval = doc_id % 101 == 0, train bounded to
    doc_id < 500). The eval digest set broadcasts (semi join), so the
    training side is one scan + one per-doc window; nothing text-sized
    shuffles.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # spread_scan A/B (r14): OFF wins 0.19 vs 0.24 s — same shape as
    # q89 (1-in-101 slice dominates downstream). Measured-negative.
    tok = docs.select("doc_id", token_base_hashes().alias("tb")).cache()
    possh = tok.select(
        "doc_id",
        token_shingle_hashes(F.col("tb"), distinct=False).alias("sh"),
    )
    # *_nonempty: keep the inferred filter from re-running the shingle
    # transform over the cached tb per row (functions/generate.py)
    ev = explode_nonempty(
        possh.filter(F.col("doc_id") % 101 == 0), F.col("sh"), "s"
    ).distinct()
    tr = posexplode_nonempty(
        possh.filter((F.col("doc_id") % 101 != 0) & (F.col("doc_id") < 500)),
        F.col("sh"),
        "pos",
        "s",
        F.col("doc_id").alias("train_id"),
    )
    contam = tr.join(F.broadcast(ev), "s", "left_semi")
    w = Window.partitionBy("train_id").orderBy("pos")
    spans = contam.withColumn("prev", F.lag("pos").over(w)).withColumn(
        "span_start",
        (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 1)).cast("int"),
    )
    return (
        spans.groupBy("train_id")
        .agg(
            F.count(F.lit(1)).alias("n_contam_pos"),
            F.sum("span_start").alias("n_spans"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .orderBy("train_id")
    )


def q134_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the memorization/repetition scan
    run before adding a crawl snapshot to a training mix: what fraction
    of a document's distinct 3-gram shingles has never appeared in any
    earlier document (doc_id order = ingest order)?

    Near-1.0 novelty means genuinely new text; near-0 means the doc is
    assembled from already-seen fragments (boilerplate, templating,
    partial duplication) even when no whole-doc or chunk-level dup
    fires (q40/q112 both miss it). The "first seen" attribution is a
    single min-over-shingle-hash window — the same digest-only shuffle
    discipline as the rest of the dedup family: 16-byte md5s move, text
    never does.

    Scale shape: per-row shingling + within-doc distinct are map-only;
    the one shuffle partitions by shingle hash. The per-doc rollup
    rides the SAME exploded stream (window, then groupBy — one linear
    pipeline), which is the property that matters here: an r12 A/B
    that split n_shingles (map-only size()) from n_novel
    (groupBy(h).min -> per-doc count -> join) duplicated the md5
    shingle-build subtree across the two consumers and measured
    1.1 -> 5.1 s at sf0.1 — the partial combine a groupBy(h) would
    add is worthless because (doc, h) pairs are distinct-per-doc, so
    the exchange carries the same rows the window form ships, and the
    extra exchanges + the doubled hash chain swamp any win. The
    min-over-window form stays (measured-positive).
    """
    from pyspark.sql.window import Window

    # spread_scan (r14): the md5 shingle build ran on the scan's
    # single task (guide §2.5)
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", tokens().alias("_toks"))
    sh = tok.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles_from_tokens(F.col("_toks")), lambda s: F.md5(s)
                )
            )
        ).alias("h"),
    )
    first_seen = F.min("doc_id").over(Window.partitionBy("h"))
    per = sh.withColumn("novel", (first_seen == F.col("doc_id")).cast("int"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                4,
            ).cast("double").alias("novelty"),
        )
        .orderBy("doc_id")
    )


def q136_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source lexical-overlap matrix — the corpus diagnostic run
    before choosing mixture weights: for every source pair, how much
    3-gram phraseology do they share? High containment between two
    "different" crawls means the mixture double-counts the same text
    (and per-source dedup will miss it, q128's lesson at source
    granularity).

    Shape: distinct (shingle-digest, source) pairs -> self-join on
    digest (fan-out bounded by sources-per-shingle <= |sources|, never
    corpus size) -> per-pair count, normalized by the smaller side's
    distinct-shingle vocabulary (containment, the q116 asymmetric
    measure lifted to source granularity). Only 16-byte digests
    shuffle; the output is |sources|^2 rows at any corpus size.
    """
    # The distinct (source, digest) frame feeds THREE subtrees (sizes +
    # both self-join sides) and lambda shingling defeats Catalyst CSE
    # (the q44 finding), so persist it per session+corpus.
    cache = spark.__dict__.setdefault("_klrs_source_shingles_cache", {})
    ck = corpus_key(sf_dir, "documents")
    if ck not in cache:
        # spread_scan (r14): parallelize the shingle chain below the
        # persist (guide §2.5)
        docs = spread_scan(load_table(spark, sf_dir, "documents"))
        tok = docs.select("source", tokens().alias("_toks"))
        cache[ck] = (
            tok.select(
                "source",
                F.explode(
                    F.transform(
                        shingles_from_tokens(F.col("_toks")),
                        lambda s: F.md5(s),
                    )
                ).alias("h"),
            )
            .distinct()
            .persist()
        )
    ds = cache[ck]
    sizes = ds.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ds.alias("a"), ds.alias("b")
    shared = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_b")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                4,
            ).cast("double").alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


def q146_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: for a ladder of Jaccard cutoffs,
    how many candidate pairs and how many distinct documents would a
    near-dup pass at that threshold touch. This is the knob-setting
    query a pipeline owner runs BEFORE committing a threshold — q123
    audits the MinHash estimator's accuracy, this audits the
    threshold's blast radius.

    Reuses q44's exact candidate-pair statistics (shared persisted
    pair frame); the sweep itself is a 4-row broadcast ladder
    crossed against the pair frame — pairs are counted once per
    qualifying threshold, never recomputed. At corpus scale the pair
    frame is the LSH candidate output (corpus-sized), the ladder agg
    is |thresholds| rows.
    """
    pairs = _cached_pair_counts(spark, sf_dir).select(
        "ida",
        "idb",
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
        ).alias("jac"),
    )
    ladder = spark.range(1).select(
        F.explode(
            F.array(F.lit(0.3), F.lit(0.5), F.lit(0.7), F.lit(0.9))
        ).alias("threshold")
    )
    hits = pairs.crossJoin(F.broadcast(ladder)).filter(
        F.col("jac") >= F.col("threshold")
    )
    # Single pass over the pair frame: exploding each pair into its two
    # endpoints makes n_pairs recoverable as count/2 in the SAME
    # aggregate as the distinct-doc count — the naive two-branch plan
    # (count pairs; separately explode + count distinct) re-runs the
    # whole inverted-index join per branch (measured 0.61 s vs 0.47 s at sf0.1).
    expl = hits.select(
        "threshold", F.explode(F.array("ida", "idb")).alias("d")
    )
    agg = expl.groupBy("threshold").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
        F.count_distinct("d").alias("n_docs_affected"),
    )
    return (
        ladder.join(agg, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
        )
        .orderBy("threshold")
    )


def q151_candidate_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the candidate-pair graph: how many
    near-dup partners each document has, histogrammed. Hubs (high
    degree) are boilerplate/template centers that pairwise dedup
    handles quadratically badly — the diagnostic that says "resolve
    this cluster with q74's connected components, not pair-at-a-time".

    One endpoint-explode + two tiny aggregates over the shared
    persisted pair frame (q44/q116/q146's); output is bounded by the
    max degree, corpus-size-invariant.
    """
    deg = (
        _cached_pair_counts(spark, sf_dir)
        .select(F.explode(F.array("ida", "idb")).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


def q154_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document detection: find (a, b) pairs where the LAST k
    tokens of a equal the FIRST k tokens of b — the signature of one
    source document sharded across two corpus rows (crawl page
    pagination, chunked ingestion, log rotation). Whole-doc and shingle
    dedup both miss it: the halves share only the k-token seam.

    Pairs are planted in-query (each doc id < 10 is split at its
    midpoint into id+6000000 / id+6100000 halves with a k-token seam
    overlap) and must all be recovered. Scale shape: per doc, exactly
    TWO 16-byte digests (head, tail) — the join is digest-keyed and
    |docs|-sized, never token- or text-sized; output is seam pairs.
    """
    k = 4
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", tokens().alias("_toks"))
    half = (F.size("_toks") / 2).cast("int")
    first_half = F.array_join(F.slice("_toks", 1, half + k), " ")
    second_half = F.array_join(
        F.slice("_toks", half + 1, F.size("_toks")), " "
    )
    planted = tokd.filter((F.col("doc_id") < 10) & (F.size("_toks") >= 4 * k)).select(
        F.col("doc_id"),
        first_half.alias("a_text"),
        second_half.alias("b_text"),
    )
    base = (
        docs.unionByName(
            planted.select(
                (F.col("doc_id") + 6000000).alias("doc_id"),
                F.col("a_text").alias("text"),
            )
        ).unionByName(
            planted.select(
                (F.col("doc_id") + 6100000).alias("doc_id"),
                F.col("b_text").alias("text"),
            )
        )
    )
    # spread_scan (r14): the re-tokenize of the unioned corpus was
    # single-task (guide §2.5)
    seams = spread_scan(base).select(
        "doc_id",
        tokens().alias("_toks"),
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("_toks", 1, k), " ")).alias("head_h"),
        F.md5(
            F.array_join(F.slice("_toks", -k, k), " ")
        ).alias("tail_h"),
        F.size("_toks").alias("nt"),
    ).filter(F.col("nt") >= k)
    tails = seams.select(F.col("doc_id").alias("a"), F.col("tail_h").alias("h"))
    heads = seams.select(F.col("doc_id").alias("b"), F.col("head_h").alias("h"))
    return (
        tails.join(heads, "h")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .orderBy("a", "b")
    )


def q155_lsh_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding tuning curve: the SAME 8-hash MinHash signature
    banded three ways — r=2 (4 bands), r=4 (2 bands), r=8 (1 band) —
    with candidate volume and planted-near-dup recall per scheme. This
    is the b/r trade every LSH deployment tunes: smaller r catches
    lower-similarity pairs but floods the candidate join; the curve
    says which scheme clears the pipeline's recall bar at acceptable
    cost. (q123 audits the ESTIMATOR's accuracy; this audits the
    BANDING's selectivity.)

    Near-dups are planted by truncation (docs id < 30 re-emitted at
    id+7000000 with the first 2/3 of their tokens), so pair similarity
    is ~0.5-0.7 and the schemes genuinely separate: P(recover) ~
    1-(1-s^r)^(8/r) falls from ~0.9 (r=2) to ~0.03 (r=8) at s=0.66.
    r=1 is deliberately excluded: single-coordinate bands cluster every
    document sharing a corpus-minimal shingle hash — a quadratic
    candidate blowup, exactly what the curve warns against.

    Scale shape: signatures are per-row folds (no shuffle); ALL
    schemes' band digests emit from one projection into one long frame
    (persisted — it feeds both sides of the self-join); one
    (rpb, band, digest)-keyed self-join; output is 3 rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tokd = docs.select("doc_id", tokens().alias("_toks"))
    trunc = tokd.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.array_join(
            F.slice(
                "_toks",
                1,
                F.floor(F.size("_toks") * 2 / 3).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    # spread_scan A/B (r14): OFF wins 0.27 vs 0.29 s on this 2k-row
    # slice — too little data to amortize the exchange.
    # Measured-negative.
    corpus = docs.unionByName(trunc)
    tok = corpus.select("doc_id", token_base_hashes().alias("tb"))
    based = tok.select(
        "doc_id", token_shingle_hashes(F.col("tb")).alias("bases")
    )
    sig = based.select(
        "doc_id", *minhash_signature(F.col("bases"), num_hashes=8)
    )
    entries = []
    for r in (2, 4, 8):
        for b in range(8 // r):
            cols = [F.col(f"mh{b * r + j}") for j in range(r)]
            entries.append(
                F.struct(
                    F.lit(r).alias("rpb"),
                    F.lit(b).alias("band_idx"),
                    banded_digest(cols).alias("digest"),
                )
            )
    long = (
        sig.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .select("doc_id", "e.rpb", "e.band_idx", "e.digest")
        .persist()
    )
    lhs, rhs = long.alias("l"), long.alias("r")
    pairs = (
        lhs.join(
            rhs,
            (F.col("l.rpb") == F.col("r.rpb"))
            & (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.digest") == F.col("r.digest"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.rpb").alias("rpb"),
            F.col("l.doc_id").alias("ida"),
            F.col("r.doc_id").alias("idb"),
        )
        .distinct()
    )
    ladder = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(4), F.lit(8))).alias("rpb")
    )
    agg = pairs.groupBy("rpb").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            (
                (F.col("idb") == F.col("ida") + 7000000)
                & (F.col("ida") < 30)
            ).cast("bigint")
        ).alias("n_planted_recovered"),
    )
    return (
        ladder.join(agg, "rpb", "left")
        .select(
            F.col("rpb").alias("rows_per_band"),
            (F.lit(8) / F.col("rpb")).cast("bigint").alias("n_bands"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_planted_recovered", F.lit(0)).alias(
                "n_planted_recovered"
            ),
        )
        .orderBy("rows_per_band")
    )


def _split_of(key: Column) -> Column:
    """train/val/test from md5(key) mod 100 -> 80/10/10 — the exact
    q77 kernel (functions.text._base_hash), so a singleton document's
    cluster-safe split equals its naive doc-level split."""
    bucket = _base_hash(key.cast("string")) % 100
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def cluster_safe_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document frame (doc_id, cluster_id, split, naive_split):
    split is hashed from the doc's DUP-CLUSTER representative (min
    doc_id of its q46 LSH component; singletons represent themselves),
    naive_split from the doc_id itself (the q77 assignment)."""
    docs = _planted_docs(spark, sf_dir).select("doc_id")
    cc = connected_components(_cached_minhash_pairs(spark, sf_dir))
    member = docs.join(
        cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    return member.select(
        "doc_id",
        "cluster_id",
        _split_of(F.col("cluster_id")).alias("split"),
        _split_of(F.col("doc_id")).alias("naive_split"),
    )


def q164_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster-safe train/val/test split (r7): assign every
    document's split from its NEAR-DUP CLUSTER representative, so a
    cluster can never straddle splits — eval leakage from near-dups is
    impossible BY CONSTRUCTION, not by after-the-fact audit.

    Composes three existing kernels and closes their loop: q77's
    static md5 split hashes the doc_id, so the planted near-dup pairs
    (q46) routinely land train-vs-val — exactly the leakage q128
    measures after the fact. Here the hash key is
    ``coalesce(component_min_id, doc_id)`` over q46's candidate-pair
    graph (q74's connected components), which q128's audit would score
    as zero leaked pairs. Output is one row per split: document count,
    distinct-cluster count, and how many docs were re-routed relative
    to the naive q77 assignment (singletons hash identically under
    both, so only dup-cluster members can move).

    Scale shape: the cluster labels are the q74 frame — bounded by
    near-dup EDGES, not corpus size — so the membership join's build
    side is small (broadcast-able; at 100 TB a digest side table, the
    `_cached_minhash_pairs` pattern) and the split itself is a pure
    column expression riding the scan, exactly like q77. One shuffle:
    the 3-group final aggregate (partial map-side). Oracle re-derives
    the components with the q74 recursive min-label CTE and the q77
    bucket kernel, both already hash-green individually.

    Reference analog: none (beyond-reference mandate, SURVEY §2.2 I:
    split hygiene at scale).
    """
    assigned = cluster_safe_assignment(spark, sf_dir)
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum(
                (F.col("split") != F.col("naive_split")).cast("int")
            ).cast("long").alias("n_rerouted"),
        )
        .orderBy("split")
    )


def q159_dup_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document authority over the LSH dup graph: two unrolled
    rounds of integer PageRank (damping 0.85) on q46's candidate-pair
    edges, top-20 nodes — the "which copy is the hub of this duplicate
    neighborhood" signal a canonical-selection pass (q118) can rank by
    instead of plain min-id.

    Exactness across engines: the rank lives in parts-per-million int64
    the whole way — pr0 = 1e6 for every node, each round is
    pr_{k+1}(v) = 150000 + sum over in-neighbors u of
    (850000 * pr_k(u)) div (1e6 * deg(u)) — integer division per edge
    term, so the neighbor sums are order-independent exact int64 (the
    r4 lesson: no float accumulations in hashed outputs). Two rounds is
    the documented operator semantics, not an approximation of a
    fixpoint: dup neighborhoods are near-cliques, where two rounds
    already separate hubs from leaves.

    Data movement: the edge frame is the persisted q46/q74 candidate
    list (near-dups only — orders of magnitude smaller than the
    corpus); degrees and both rank rounds are edge-keyed aggregates +
    broadcast-sized joins. Nothing corpus-sized moves.
    """
    pairs = _cached_minhash_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("ida").alias("src"), F.col("idb").alias("dst")
    ).unionByName(
        pairs.select(F.col("idb").alias("src"), F.col("ida").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(F.broadcast(deg), "src")
    # round 1: pr0(u) = 1e6 cancels into contrib = 850000 div deg(u)
    pr1 = (
        ed.select("dst", F.expr("850000 div deg").alias("c"))
        .groupBy("dst")
        .agg((F.lit(150000) + F.sum("c")).cast("bigint").alias("pr1"))
        .withColumnRenamed("dst", "node")
    )
    # round 2: contrib = (850000 * pr1(u)) div (1e6 * deg(u))
    ed2 = ed.join(
        F.broadcast(pr1.withColumnRenamed("node", "src")), "src"
    ).select(
        "dst",
        F.expr(
            "(CAST(850000 AS BIGINT) * pr1) div (CAST(1000000 AS BIGINT) * deg)"
        ).alias("c"),
    )
    pr2 = (
        ed2.groupBy("dst")
        .agg((F.lit(150000) + F.sum("c")).cast("bigint").alias("pr2_ppm"))
        .withColumnRenamed("dst", "node")
    )
    scored = pr2.join(F.broadcast(deg.withColumnRenamed("src", "node")), "node")
    top = scored.orderBy(F.col("pr2_ppm").desc(), "node").limit(20)
    return top.select(
        "node", F.col("deg").cast("bigint").alias("degree"), "pr2_ppm"
    ).orderBy("node")


# --- Incremental ingest dedup against a persisted signature index (r6) ------

def _doc_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, digest) LSH band rows for a (doc_id, text)
    frame — the per-doc half of :func:`minhash_pairs`, factored out so
    an INCOMING batch can be signed without touching the corpus.

    Contract c3: the band digest is NAMESPACED by its band index
    (``'<band>:' || banded_digest``), so the single ``digest`` column
    is simultaneously (a) the complete probe key — cross-band digest
    collisions can never equi-join — and (b) the one bucket key of the
    persisted corpus index. That is what lets every admission probe
    run as a digest-only join with zero exchange on the digest-bucketed
    corpus side (``concat`` is NULL-propagating, so the short-doc NULL
    band contract of :func:`functions.text.banded_digest` is
    preserved). ``band_idx`` stays as a plain column for filtering and
    introspection."""
    tok = docs.select("doc_id", token_base_hashes().alias("tb"))
    based = tok.select(
        "doc_id", token_shingle_hashes(F.col("tb")).alias("bases")
    )
    sig = based.select(
        "doc_id", *minhash_signature(F.col("bases"), num_hashes=8)
    )
    banded = sig.select(
        "doc_id", *band_hashes(num_hashes=8, rows_per_band=2)
    )
    return banded.select(
        "doc_id",
        F.expr(
            "stack(4,"
            " 0, concat('0:', band0), 1, concat('1:', band1),"
            " 2, concat('2:', band2), 3, concat('3:', band3))"
            " AS (band_idx, digest)"
        ),
    )


def _corpus_index_path(sf_dir: str) -> str:
    import os
    import re

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
    except OSError as e:
        # A vanished/moved corpus must FAIL, not map to a stable
        # "nostat" fingerprint that could silently serve a previously
        # built index for some other vanished corpus (ADVICE r6).
        raise FileNotFoundError(
            f"corpus source not statable, refusing to fingerprint: {src}"
        ) from e
    fp = f"{st.st_mtime_ns}_{st.st_size}"
    safe = re.sub(r"[^A-Za-z0-9_.-]+", "_", os.path.abspath(sf_dir))
    # c3: hash-CONTRACT version — bumped whenever the digest recipe or
    # physical layout changes (c1 -> c2: NULL-propagating band concat;
    # c2 -> c3: band-idx-namespaced digests + digest-bucketed files),
    # so a stale index built under an older contract can never serve a
    # newer engine; the corpus fingerprint alone wouldn't catch code
    # drift.
    return os.path.join(
        repo_root, "spark-warehouse", "corpus_dedup_index", f"c3_{safe}_{fp}"
    )


# Bucket count of every persisted signature-index directory. 8 is the
# local[32]/sf0.1 setting; a cluster deployment scales it with corpus
# size (buckets ~ corpus_rows / 10M) — the DDL in
# :func:`_read_index_bucketed` records whatever the files were written
# with, so the constant is the single knob.
INDEX_BUCKETS = 8


def _write_index_bucketed(
    spark: SparkSession, index_df: DataFrame, path: str
) -> None:
    """Write a (doc_id, band_idx, digest) index bucketed AND sorted by
    ``digest``, atomically promoted into ``path``.

    ``bucketBy`` requires the table-write API, so the frame is written
    as a throwaway EXTERNAL table at a temp location (dropping an
    external table keeps its files), then renamed into place —
    build-then-rename, the kmeans-index discipline: a crashed write
    must not leave a partial directory an existence check would serve
    forever. The pre-write ``repartition(INDEX_BUCKETS, digest)`` uses
    the same murmur3 pmod placement as the bucket spec, so each task
    holds exactly one bucket's rows and the layout is one sorted file
    per bucket — which is what lets a reader keep BOTH the
    distribution (no Exchange) and the sort order (no Sort) on the
    index side of every probe join."""
    import os
    import uuid

    tmp = f"{path}.tmp.{os.getpid()}"
    tmp_tbl = f"klrs_idx_build_{uuid.uuid4().hex[:12]}"
    (
        index_df.repartition(INDEX_BUCKETS, F.col("digest"))
        .write.bucketBy(INDEX_BUCKETS, "digest")
        .sortBy("digest")
        .option("path", tmp)
        .mode("overwrite")
        .saveAsTable(tmp_tbl)
    )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    _atomic_promote(tmp, path)


def _read_index_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Serve a persisted index WITH its bucket spec attached.

    The bucket layout lives in the file names; the session's in-memory
    catalog just needs the spec re-declared, so this registers an
    external ``CLUSTERED BY (digest) SORTED BY (digest)`` table over
    the directory (schema read from the parquet footers) and returns
    ``spark.table``. This is what makes a FRESH session's first probe
    join exchange-free on the corpus side — a plain
    ``spark.read.parquet`` would forget the bucketing and re-shuffle
    the whole index per probe (VERDICT r6 #3)."""
    import os
    import re

    name = "klrs_idx_" + re.sub(
        r"[^A-Za-z0-9_]+", "_", os.path.basename(path)
    )
    if not spark.catalog.tableExists(name):
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(path).schema.fields
        )
        try:
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY (digest) SORTED BY (digest) "
                f"INTO {INDEX_BUCKETS} BUCKETS "
                f"LOCATION '{path}'"
            )
        except Exception:
            # lost a same-JVM registration race for this deterministic
            # spec — serve the winner's table; anything else re-raises
            # below when spark.table() fails too
            if not spark.catalog.tableExists(name):
                raise
    return spark.table(name)


def get_or_build_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disk-persisted dedup index of the CORPUS partition (doc_id % 10
    != 7): one parquet side table of (doc_id, band_idx, digest) rows —
    band_idx -1 carries the exact-content md5, 0..3 the LSH band
    digests (band-namespaced, contract c3). Built once per corpus
    fingerprint (source file mtime+size), reused across calls AND
    sessions.

    This is the piece that makes ingest-time dedup incremental: a new
    batch is signed and joined against ~5 digest rows per corpus doc
    (a few % of corpus bytes) instead of re-scanning and re-hashing
    100 TB of text per batch. The table is WRITTEN bucketed+sorted by
    digest and read back with the bucket spec attached
    (:func:`_read_index_bucketed`), so every probe join is
    exchange-free and sort-free on the corpus side — per admission
    batch, only the batch itself shuffles (plan-pinned in
    tests/test_plans.py).
    """
    import os

    path = _corpus_index_path(sf_dir)
    if not os.path.exists(path):
        corpus = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 10 != 7)
            .select("doc_id", "text")
        )
        content = corpus.select(
            "doc_id",
            F.lit(-1).cast("int").alias("band_idx"),
            F.md5("text").alias("digest"),
        )
        index = content.unionByName(_doc_band_rows(corpus))
        _write_index_bucketed(spark, index, path)
    return _read_index_bucketed(spark, path)


def _atomic_promote(tmp: str, path: str) -> None:
    """Rename a fully-written temp directory into its final path.

    A failed rename is only swallowed when the destination already
    exists (lost the race to a concurrent builder of the same
    deterministic content — serve theirs, drop ours). Any other
    OSError (EXDEV symlinked warehouse, EACCES) re-raises: silently
    discarding the build and then failing the read later would mask
    the real cause."""
    import os
    import shutil

    try:
        os.replace(tmp, path)
    except OSError:
        if os.path.exists(path):
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise


def q160_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the INCOMING batch (doc_id % 10 == 7)
    is verdicted against the persisted corpus index
    (:func:`get_or_build_corpus_index`) without re-reading corpus text.

    Per incoming doc, first verdict that applies:
    - ``exact_corpus``: content md5 already in the corpus;
    - ``exact_batch``: content md5 duplicates a smaller-doc_id doc of
      the same batch (within-batch dedup);
    - ``near_corpus``: any LSH band digest collides with a corpus doc
      (the q46 banding contract: candidate near-duplicate);
    - ``novel``: none of the above (near-batch pairs are left to the
      next index rebuild by design — the batch is re-signed into the
      index it was admitted under).

    Output is the per-verdict admission summary (count + id checksum),
    O(4) rows at any scale. Every join is digest-keyed; the incoming
    side is batch-sized (broadcastable); nothing corpus-sized moves.

    The DuckDB oracle recomputes BOTH sides from the raw table with the
    shared md5/affine hash contract, so a hash-green row also certifies
    the persisted index content itself (same split, same digests).
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 == 7).select("doc_id", "text")
    # Planted admissions so every verdict class is exercised (the q46
    # pattern): corpus docs re-submitted (exact_corpus), early batch
    # docs re-submitted (exact_batch). Shifts are 4e12/8e12 — far past
    # any plausible doc count — so a planted id can NEVER collide with
    # a real doc_id at any scale factor (a +2e6 shift would collide
    # with the synthesized sf~1 table's shifted copies and fan out the
    # oracle's band-attribution join).
    replayed_corpus = (
        docs.filter((F.col("doc_id") % 10 != 7) & (F.col("doc_id") < 10))
        .select((F.col("doc_id") + 4_000_000_000_000).alias("doc_id"), "text")
    )
    replayed_batch = base.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 8_000_000_000_000).alias("doc_id"), "text"
    )
    incoming = base.unionByName(replayed_corpus).unionByName(replayed_batch)
    idx = get_or_build_corpus_index(spark, sf_dir)
    verdicted = admission_verdicts(
        incoming,
        known_content=idx.filter(F.col("band_idx") == -1).select("digest"),
        known_bands=idx.filter(F.col("band_idx") >= 0).select(
            "band_idx", "digest"
        ),
        store_label="exact_corpus",
        near_label="near_corpus",
    )
    return (
        verdicted.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("verdict")
    )


def admission_verdicts(
    incoming: DataFrame,
    known_content: DataFrame,
    known_bands: DataFrame,
    store_label: str = "exact_corpus",
    near_label: str = "near_corpus",
) -> DataFrame:
    """THE admission-verdict pipeline, shared by the batch operator
    (:func:`q160_incremental_dedup`) and the streaming sink
    (``streaming.jobs.apply_admission_batch``) so the two twins cannot
    drift (they only differ in verdict labels). Returns the incoming
    columns plus ``verdict``; precedence is fixed: exact-vs-store,
    then exact-within-batch (min-doc_id keeps), then band-collision
    near-candidate, else novel. All joins are digest-keyed left-semi
    against DISTINCT digest sets; nothing store-sized shuffles wide.
    The band probe joins on ``digest`` ALONE — band identity is inside
    the c3 namespaced digest (:func:`_doc_band_rows`) — so a
    digest-bucketed store serves both probes with zero corpus-side
    exchange."""
    inc_content = incoming.select("doc_id", F.md5("text").alias("digest"))
    in_store = (
        inc_content.join(known_content.distinct(), "digest", "left_semi")
        .select("doc_id")
        .withColumn("_exact_store", F.lit(True))
    )
    first_seen = inc_content.groupBy("digest").agg(
        F.min("doc_id").alias("_first_id")
    )
    in_batch = (
        inc_content.join(first_seen, "digest")
        .filter(F.col("doc_id") > F.col("_first_id"))
        .select("doc_id")
        .withColumn("_exact_batch", F.lit(True))
    )
    near = (
        _doc_band_rows(incoming.select("doc_id", "text"))
        .join(
            known_bands.select("digest").distinct(), "digest", "left_semi"
        )
        .select("doc_id")
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    return (
        incoming.join(in_store, "doc_id", "left")
        .join(in_batch, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            *[F.col(c) for c in incoming.columns],
            F.when(F.col("_exact_store"), F.lit(store_label))
            .when(F.col("_exact_batch"), F.lit("exact_batch"))
            .when(F.col("_near"), F.lit(near_label))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
    )


def merge_batch_into_index(
    spark: SparkSession,
    index_path: str,
    admitted: DataFrame,
    batch_label: str,
) -> str:
    """Index write path of incremental ingest: sign an ADMITTED batch
    (novel docs only, per :func:`q160_incremental_dedup`'s verdicts) and
    write a new index VERSION containing old + new digest rows.

    Versioned-directory append (``{index_path}__v_{batch_label}``), not
    in-place mutation: the old index stays readable by running queries
    (parquet directories are immutable snapshots), and a crashed merge
    leaves no torn state — the new version simply doesn't exist and the
    merge reruns. Mirrors the replay-idempotence discipline of
    ``streaming.jobs.apply_incremental_dedup_batch``; each version is
    written bucketed+sorted by digest (:func:`_write_index_bucketed`)
    so probe joins against ANY version stay co-located; at cluster
    scale the version flip is a metastore pointer swap.

    Returns the new version's path.
    """
    out = f"{index_path}__v_{batch_label}"
    content = admitted.select(
        "doc_id",
        F.lit(-1).cast("int").alias("band_idx"),
        F.md5("text").alias("digest"),
    )
    new_rows = content.unionByName(_doc_band_rows(admitted))
    old = spark.read.parquet(index_path)
    _write_index_bucketed(spark, old.unionByName(new_rows), out)
    return out


def q172_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve over ingest order (r8): per ingest
    decile, how many documents are genuinely NEW vs repeats of an
    already-seen normal form — the data-value curve that tells a
    scaling-law pipeline when additional crawl stops adding
    information (and which slice of a 100 TB ingest to prioritize).

    Novelty key: md5 of the SORTED DISTINCT token list — the
    bag-of-words set signature (order- and multiplicity-insensitive,
    one per-row array expression, the q78/q118 canonicalization
    family's coarser sibling). A doc is new in decile d iff its key's
    FIRST occurrence (min doc_id — ingest order) falls in d.

    Plan shape: one scan computes the key per row (codegen, no
    shuffle); first-seen is one key-grouped MIN (map-side
    combinable); the curve is a 10-row rollup + a 10-row cumulative
    window. Nothing but decile aggregates leaves the map side; the
    per-key state is exactly the dedup-index cardinality any exact
    dedup already pays (q40/q160's digest discipline).
    """
    from pyspark.sql.window import Window as W

    # spread_scan A/B (r15): OFF wins 0.412 vs 0.451 s (+9%) — unlike
    # q179's near-unique (source, bow) grain, the groupBy(key) min(dec)
    # partial aggregate combines the many same-key rows map-side and
    # overlaps the single-task scan; the exchange is pure latency
    # (the r14 combining-aggregate doctrine). Measured-negative, plain
    # scan kept.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens())))
        ).alias("key"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    with_dec = docs.crossJoin(F.broadcast(tot)).select(
        "key", F.expr("(doc_id * 10) div n").alias("dec")
    )
    per_dec = with_dec.groupBy("dec").agg(F.count(F.lit(1)).alias("n_docs"))
    news = (
        with_dec.groupBy("key")
        .agg(F.min("dec").alias("fdec"))
        .groupBy(F.col("fdec").alias("dec"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w_cum = (
        W.orderBy("dec")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        per_dec.join(news, "dec", "left")
        .select(
            "dec",
            "n_docs",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_distinct", F.sum("n_new").over(w_cum))
        .select(
            F.col("dec").alias("decile"),
            "n_docs",
            "n_new",
            "cum_distinct",
            F.expr("((n_docs - n_new) * 1000000L) div n_docs").alias(
                "repeat_ppm"
            ),
        )
        .orderBy("decile")
    )


def q174_reachability_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth transitive closure over the dup-pair graph (r8),
    written as a RECURSIVE CTE — the Spark 4 recursive-union operator
    driving a data-dependent cyclic graph (q88's spine recursion is a
    pure generator; this one joins back into real edges with a depth
    guard for cycle termination). Per seed (the 5 smallest nodes in
    the edge set): how many distinct documents are reachable within
    1, 2, and 3 hops — the "how big is this near-dup neighborhood"
    drill-down an auditor runs on a flagged document.

    Scale posture: recursion-by-join is iterative shuffle work — the
    PRODUCTION full-component answer stays q74's min-label loop
    (threshold-gated) / q159's bounded PageRank; this is the bounded-
    depth interactive form (depth <= 3, 5 seeds), where each recursion
    step is one broadcast-able join of a frontier against the edge
    list. The edge frame is the session-persisted q46 candidate set —
    near-dups only, orders of magnitude smaller than the corpus.

    Oracle: the identical WITH RECURSIVE in DuckDB over the same
    re-derived pair set.
    """
    from kinesis_logs_reader_spark.operators.dedup import (
        _cached_minhash_pairs,
    )

    p = _cached_minhash_pairs(spark, sf_dir)
    edges = p.select(
        F.col("ida").alias("src"), F.col("idb").alias("dst")
    ).unionByName(
        p.select(F.col("idb").alias("src"), F.col("ida").alias("dst"))
    )
    edges.createOrReplaceTempView("dup_edges_q174")
    return spark.sql(
        """
        WITH RECURSIVE
        seeds AS (
          SELECT DISTINCT src FROM dup_edges_q174 ORDER BY src LIMIT 5
        ),
        reach(seed, node, depth) AS (
          SELECT src, src, 0 FROM seeds
          UNION ALL
          -- BROADCAST the FRONTIER side (r14): the recursive frame is
          -- seeds-bounded (5 seeds x their <=3-hop neighborhoods), so
          -- each UnionLoop step becomes a map-only hash join streaming
          -- the edge side. Interleaved 3-arm A/B (one session,
          -- best-of-3): sf0.1 1.789 s vs 1.972 BROADCAST(e) / 2.005
          -- no-hint; sf~1 3.202 vs 3.635 / 3.484. BROADCAST(e) — the
          -- first r14 attempt — re-broadcast the whole edge list every
          -- iteration, which inverts at scale (the edge side GROWS
          -- with data; the frontier does not): guide §3.1, broadcast
          -- the side that fits, which at 100 TB is only the frontier.
          SELECT /*+ BROADCAST(r) */ r.seed, e.dst, r.depth + 1
          FROM reach r JOIN dup_edges_q174 e ON e.src = r.node
          WHERE r.depth < 3
        )
        SELECT seed,
               COUNT(DISTINCT CASE WHEN depth <= 1 THEN node END) AS n_d1,
               COUNT(DISTINCT CASE WHEN depth <= 2 THEN node END) AS n_d2,
               COUNT(DISTINCT node) AS n_d3
        FROM reach
        GROUP BY seed
        ORDER BY seed
        """
    )


def q181_eval_sample_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-sample placement audit (r8): where do q178's difficulty-
    stratified picks land in q164's leakage-safe split? Before a
    sampled manifest ships as an eval set, this is the gate: any pick
    sitting in 'train' must be re-drawn (its near-dup cluster trains),
    and the per-split sampling density shows whether the manifest can
    even be filled from 'test' alone.

    Two shipped artifacts audited AGAINST EACH OTHER — both sides are
    existing pipelines (cluster_safe_assignment's component-keyed
    split; q178's per-cell min-md5 manifest), so the audit itself is
    a 40-row broadcast join + a 3-row rollup. Oracle composes the
    shared _CLUSTER_SPLIT_CTES fragment with q178's scoring CTEs.
    """
    from kinesis_logs_reader_spark.operators.curation import (
        q178_stratified_eval_sample,
    )

    assign = cluster_safe_assignment(spark, sf_dir).select(
        "doc_id", "split"
    )
    sample = q178_stratified_eval_sample(spark, sf_dir).select("doc_id")
    per_split = assign.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_split_docs")
    )
    hits = (
        sample.join(assign, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        per_split.join(hits, "split", "left")
        .select(
            "split",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            "n_split_docs",
            F.expr(
                "(coalesce(n_sampled, 0L) * 1000000L) div n_split_docs"
            ).alias("sampled_ppm"),
        )
        .orderBy("split")
    )


def q189_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source distinct-overlap estimation via KMV (k-minimum-
    values) sketches, with the exact answer alongside as the error
    report — the SKETCH path next to q136's exact self-join: at 100 TB
    you cannot afford an all-pairs digest join between every pair of
    corpus sources, but each source's 32 smallest 52-bit document-hash
    values (a few hundred bytes) travel anywhere, merge by min-union,
    and estimate |A∪B| and J(A,B) within ~1/sqrt(k). This is the
    Beyer et al. (SIGMOD'07) estimator on the exact integer grid:
    hashes are the first 13 hex chars of md5(text) (52 bits, so the
    (k-1)*2^52 numerator fits int64), union_est = (k-1)*2^52 div M_k
    with M_k the k-th smallest of the merged sketch, and
    jacc_est = |sketch(A) ∩ sketch(B) ∩ merged-top-k| / m where m is
    the merged-sketch size (= k when the union fills the sketch). When
    the true union is smaller than k the sketch IS the distinct set and
    BOTH estimates are exact by construction — m < k makes union_est
    = m and the /m denominator reduce jacc_est to the true Jaccard
    (the /k constant would bias it low by m/k in that regime; fixed in
    r10 per ADVICE). The planted cross-source duplicates make
    intersections non-trivial.

    Plan shape (r12 rewrite, VERDICT r11 item 4): ONE corpus scan ->
    distinct (source, h) frame [1 exchange], reused three ways — the
    per-source count (map-side partial agg), the per-source top-k
    (WindowGroupLimit keeps <=k rows per source map-side BEFORE the
    shuffle, then collapses to ONE array row per source), and the
    exact pair intersections via a keyed self-join on h (the q136
    shape, the audit branch only this parent carries). All pair math —
    merged top-k, m, m_k, n_both — is JVM array expressions over the
    |sources|^2 broadcast pair frame: zero shuffles, zero windows
    after the sketch build. The r11 shape recomputed the merged sketch
    as a (pair, h)-keyed groupBy + window + three joins; on KB-sized
    frames every one of those exchanges paid the AQE stage floor
    (~0.2 s each) and the query read 2.07 s at sf~1 against 0.8 s of
    actual component work.

    Reference analog: none (beyond-reference mandate; the sketch
    family: q28 HLL, q132 count-min, q133 bloom).
    """
    k = 32
    sh = _kmv_distinct_hashes(spark, sf_dir)
    src = _kmv_source_sketches(sh, k)
    # exact pairwise intersections (error-report side, q136 shape)
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    return (
        _kmv_pair_estimates(src, k)
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("inter_exact"), F.lit(0)).alias("inter_exact"),
            (
                F.col("n_a")
                + F.col("n_b")
                - F.coalesce(F.col("inter_exact"), F.lit(0))
            ).alias("union_exact"),
            "union_est",
            "jacc_est_ppm",
        )
        .withColumn(
            "jacc_exact_ppm",
            F.expr(
                "(inter_exact * 1000000L) div (n_a + n_b - inter_exact)"
            ),
        )
        .withColumn(
            "union_err_ppm",
            F.expr(
                "(abs(union_est - union_exact) * 1000000L) div union_exact"
            ),
        )
        .orderBy("source_a", "source_b")
    )


def _kmv_distinct_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE shuffled frame the q189 twins reuse — session-persisted
    distinct (source, h) with h = first 13 hex chars of md5(text) as a
    52-bit int (the (k-1)*2^52 numerator stays in int64)."""
    from kinesis_logs_reader_spark.functions.caching import lru_persisted

    docs = spread_scan(load_table(spark, sf_dir, "documents")).select(
        "source",
        F.conv(F.substring(F.md5("text"), 1, 13), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    return lru_persisted(
        spark,
        "_klrs_kmv_sh_cache",
        corpus_key(sf_dir, "documents"),
        docs.distinct,
    )


def _kmv_source_sketches(sh: DataFrame, k: int) -> DataFrame:
    """Per source: exact distinct count n (map-side partial agg) and
    the KMV sketch as ONE sorted array<bigint> row of the k smallest h
    (WindowGroupLimit keeps <=k rows per source per map partition
    before the shuffle — pinned in test_plans — so collect_list only
    ever sees <=k values per source)."""
    from pyspark.sql.window import Window

    per_src = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy("h")
    sk_arr = (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("h")).alias("arr"))
    )
    return per_src.join(sk_arr, "source")


def _kmv_pair_estimates(src: DataFrame, k: int) -> DataFrame:
    """All |sources|^2 pair math as JVM array expressions on the
    broadcast pair frame — merged sketch = k smallest distinct h of
    sketch(A) ∪ sketch(B); union_est per Beyer et al. (SIGMOD'07);
    jacc_est divides by m, the merged-sketch size: equals /k when the
    union fills the sketch (m == k) and is EXACT when the true union
    is smaller than k (m < k ⇒ the sketch IS the union), matching the
    union_est branch (ADVICE r9 item 1)."""
    pairs = (
        src.select(
            F.col("source").alias("source_a"),
            F.col("n").alias("n_a"),
            F.col("arr").alias("arr_a"),
        )
        .join(
            F.broadcast(
                src.select(
                    F.col("source").alias("source_b"),
                    F.col("n").alias("n_b"),
                    F.col("arr").alias("arr_b"),
                )
            ),
            F.col("source_a") < F.col("source_b"),
        )
    )
    merged = F.slice(
        F.array_sort(F.array_distinct(F.concat("arr_a", "arr_b"))), 1, k
    )
    withm = pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.size(merged).alias("m"),
        F.element_at(merged, F.size(merged)).alias("m_k"),
        F.size(F.array_intersect(F.array_intersect("arr_a", "arr_b"), merged))
        .cast("bigint")
        .alias("n_both"),
    )
    two52 = 1 << 52
    return withm.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        F.when(F.col("m") < k, F.col("m"))
        .otherwise(F.expr(f"({k - 1}L * {two52}L) div m_k"))
        .cast("bigint")
        .alias("union_est"),
        F.expr("(n_both * 1000000L) div m").alias("jacc_est_ppm"),
    )


def q151b_candidate_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q151's production twin (the q110b/q152b convention): forecast
    the LSH candidate-pair volume from band-bucket sizes WITHOUT
    materializing a single pair — per band, Σ C(n,2) over its digest
    buckets plus occupancy stats. At 100 TB this is the monitor you
    run BEFORE committing to the pair self-join: a band whose
    pairs_forecast explodes (one boilerplate digest with 10^6 members
    ⇒ 5·10^11 pairs) says "route this bucket to q74's components /
    cap it", and the answer costs one digest-keyed aggregate instead
    of the quadratic join q151 diagnoses after the fact.

    Same corpus and band recipe as q46 (_planted_docs, 8-way MinHash,
    4 bands of 2, banded_digest's NULL contract — short docs' NULL
    digests drop identically in both engines). Plan: signature stages
    ride the scan per-row; ONE (band, digest)-keyed partial-agg
    exchange; the per-band rollup is 4 rows.

    Reference analog: none (beyond-reference mandate; dedup family,
    SURVEY §2.2 I — the scale complement of q151's degree histogram).
    """
    from kinesis_logs_reader_spark.functions.text import (
        band_hashes,
        minhash_signature,
        token_base_hashes,
        token_shingle_hashes,
    )

    docs = _planted_docs(spark, sf_dir)
    tok = docs.select("doc_id", token_base_hashes().alias("tb"))
    based = tok.select(
        "doc_id", token_shingle_hashes(F.col("tb")).alias("bases")
    )
    sig = based.select(
        "doc_id", *minhash_signature(F.col("bases"), num_hashes=8)
    )
    banded = sig.select(
        "doc_id", *band_hashes(num_hashes=8, rows_per_band=2)
    )
    bands_long = banded.select(
        F.expr(
            "stack(4, 0, band0, 1, band1, 2, band2, 3, band3)"
            " AS (band_idx, digest)"
        )
    ).filter(F.col("digest").isNotNull())
    buckets = bands_long.groupBy("band_idx", "digest").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.sum(F.expr("n * (n - 1) div 2")).alias("pairs_forecast"),
        )
        .orderBy("band_idx")
    )


def q189b_kmv_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q189's production twin (the q45b/q151b convention, r11): the
    KMV overlap ESTIMATES alone — per source pair, exact distinct
    counts, the Beyer et al. union estimate, and the /m Jaccard
    estimate — with the exact h-keyed self-join DROPPED. q189 keeps
    the error-report columns (est vs exact side by side) as the
    declared audit; this is what a 100 TB run actually ships, where
    the whole point of the sketch is that the all-pairs digest join
    is unaffordable: after the one distinct pass, everything that
    moves is |sources| x 32 hash values.

    Plan shape (r12 rewrite with the parent, VERDICT r11 item 4): the
    same session-persisted distinct (source, h) frame as q189 (shared
    lru cache key — InMemoryTableScan reuse across the twins), one
    per-source partial-agg count, one WindowGroupLimit-bounded top-k
    collapsed to a per-source array row, then pure JVM array
    expressions over the broadcast |sources|^2 pair frame. NO shuffled
    corpus-sized join anywhere, and past the sketch build NO exchange
    at all (pinned — the twin's reason to exist). The r11 decomposition
    found both twins stage-floor-bound (every KB-sized exchange paying
    ~0.2 s of AQE floor); this shape deletes four of those exchanges
    and separates the twin from its parent: warm best-of-4 at sf~1
    1.22 -> 0.73 s vs the parent's 1.27 -> 0.83 s — the ~0.1-0.2 s gap
    IS the exact h self-join audit branch, now visible instead of
    buried under exchange floors.

    Reference analog: none (beyond-reference mandate; sketch family).
    """
    k = 32
    src = _kmv_source_sketches(_kmv_distinct_hashes(spark, sf_dir), k)
    return _kmv_pair_estimates(src, k).orderBy("source_a", "source_b")


def q203_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot corpus delta ledger (r12) — the "what changed
    between snapshot N and N+1" audit a pipeline runs before deciding
    whether an incremental re-train is worth it: per source, how many
    documents were added, removed, content-changed, and unchanged, and
    the integer-ppm churn rate.

    Snapshot construction (deterministic, planted from the one corpus
    table): the stable document key is ``doc_id div 2``; even doc_ids
    are snapshot v0, odd doc_ids are snapshot v1. Keys present in both
    compare content md5 (same -> unchanged, different -> changed);
    v0-only keys are removed, v1-only added. Source attribution takes
    the v1 row's source where one exists (added/changed/unchanged),
    else the v0 row's (removed).

    Scale shape: each snapshot collapses to a (key, source, digest)
    frame map-side (16-byte md5s move, text never does — the dedup
    family discipline); ONE key-keyed full-outer join of the two
    digest frames is the only corpus-scale exchange (both sides hash
    the same key, co-partitioned); the per-source ledger is a
    map-side-combinable conditional aggregate over the joined rows.
    At 100 TB this is the canonical snapshot-diff plan: two digest
    scans + one co-partitioned join, no windows, no cartesians.

    Reference analog: none (beyond-reference mandate; monitoring
    family: q136 overlap, q137 drift, q183 vocab drift).
    """
    docs = load_table(spark, sf_dir, "documents")

    def snap(parity: int, side: str) -> DataFrame:
        # md5(coalesce(text, '')) — NOT md5(text) — so digest NULLness
        # means "key absent from this snapshot", never "NULL-text row
        # present" (ADVICE r12: a NULL-text doc in both snapshots would
        # otherwise be misclassified as added). Mirrored in the oracle.
        return docs.filter(F.col("doc_id") % 2 == parity).select(
            F.expr("doc_id div 2").alias("key"),
            F.col("source").alias(f"src_{side}"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias(f"dig_{side}"),
        )

    joined = snap(0, "v0").join(snap(1, "v1"), "key", "full")
    status = (
        F.when(F.col("dig_v0").isNull(), F.lit("added"))
        .when(F.col("dig_v1").isNull(), F.lit("removed"))
        .when(F.col("dig_v0") == F.col("dig_v1"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    per_source = (
        joined.select(
            F.coalesce(F.col("src_v1"), F.col("src_v0")).alias("source"),
            status.alias("_st"),
        )
        .groupBy("source")
        .agg(
            F.count(F.when(F.col("_st") == "added", True))
            .alias("n_added"),
            F.count(F.when(F.col("_st") == "removed", True))
            .alias("n_removed"),
            F.count(F.when(F.col("_st") == "changed", True))
            .alias("n_changed"),
            F.count(F.when(F.col("_st") == "unchanged", True))
            .alias("n_unchanged"),
        )
    )
    return per_source.select(
        "source",
        "n_added",
        "n_removed",
        "n_changed",
        "n_unchanged",
        F.expr(
            "(n_added + n_removed + n_changed) * 1000000L div "
            "(n_added + n_removed + n_changed + n_unchanged)"
        ).alias("churn_ppm"),
    ).orderBy("source")


# q205 decision thresholds (integer ppm): retrain a source when at
# least a fifth of its keyspace churned OR its length distribution
# moved by >= 0.15 total variation x2 (L1 on ppm shares).
_RETRAIN_CHURN_PPM = 200_000
_RETRAIN_DRIFT_PPM = 150_000


def q205_retrain_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source retrain decision (r13, VERDICT r12 item 7a): the
    query a pipeline runs after a snapshot diff to decide WHICH
    sources deserve an incremental re-train — combining a q203-style
    churn ledger (how much of the keyspace changed) with a
    distribution-drift signal (how much the content SHAPE moved, the
    q137/q183 monitoring family) into one thresholded verdict. Churn
    without drift = routine refresh; drift without churn (or below
    the churn bar) = the incoming slice looks different; both =
    retrain unconditionally.

    Snapshot construction: q203's even/odd split degenerates here —
    the generator assigns source = f(doc_id mod 20), so doc-id parity
    splits SOURCES, not documents. Instead v0 = the corpus keyed by
    doc_id and v1 plants one deterministic scenario per source class:
    sources 3/13 mutate every text SAME-LENGTH ('Z' swap — churn with
    exactly zero drift), sources 9/19 disappear (churn and drift both
    saturate), sources 7/17 gain a fifth more documents padded to
    1024 chars (bucket-15 exclusive: length drift ~333k ppm while
    churn stays at 166,666 < the 200k bar — the pure-drift class),
    everything else is byte-identical (exact zeros). All four verdict
    classes are hit by construction at sf0.01+ (pinned).

    Signals, all integer ppm: churn_ppm = (added + removed + changed)
    * 1e6 div key-union (the q203 ledger arithmetic, md5(coalesce(
    text, '')) digests); drift_ppm = L1 distance between the two
    versions' 64-char-bucket length histograms (cap 15; shares as
    cnt * 1e6 div version-total, GREATEST(total, 1) guarded).

    Scale shape: the churn side is two digest-frame scans + ONE
    key-keyed co-partitioned full-outer join (16-byte digests move,
    text never does — the only corpus-scale exchange); the drift side
    collapses map-side into <= |sources| x 16 x 2 count cells; the
    verdict join is |sources|-bounded and broadcast.

    Reference analog: none (beyond-reference mandate; monitoring
    family q136/q137/q183 x snapshot family q203).
    """
    # spread_scan A/B (r14): OFF wins 0.54 vs 0.78 s — the four
    # digest/histogram subtrees each re-read the exchange output, so
    # spreading multiplied the shuffle-read cost 4x while each pass's
    # partial agg already overlapped the shared scan.
    # Measured-negative.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.coalesce("text", F.lit("")).alias("text")
    )
    cls = F.col("doc_id") % 20
    mutated = cls.isin(3, 13)
    removed = cls.isin(9, 19)
    added_src = cls.isin(7, 17) & (F.expr("(doc_id div 20) % 5") == 0)

    v1_kept = docs.filter(~removed).select(
        F.col("doc_id").alias("key"),
        "source",
        F.when(
            mutated, F.concat(F.lit("Z"), F.substring("text", 2, 1 << 30))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v1_added = docs.filter(added_src).select(
        (F.col("doc_id") + 1_000_000_000).alias("key"),
        "source",
        F.rpad("text", 1024, "x").alias("text"),
    )
    v0 = docs.select(F.col("doc_id").alias("key"), "source", "text")
    v1 = v1_kept.unionByName(v1_added)

    def digests(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            "key",
            F.col("source").alias(f"src_{side}"),
            F.md5("text").alias(f"dig_{side}"),
        )

    joined = digests(v0, "v0").join(digests(v1, "v1"), "key", "full")
    status = (
        F.when(F.col("dig_v0").isNull(), F.lit("added"))
        .when(F.col("dig_v1").isNull(), F.lit("removed"))
        .when(F.col("dig_v0") == F.col("dig_v1"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    churn = (
        joined.select(
            F.coalesce("src_v1", "src_v0").alias("source"),
            status.alias("_st"),
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("_st") != "unchanged", 1).otherwise(0)).alias(
                "n_delta"
            ),
            F.count(F.lit(1)).alias("n_union"),
        )
        .select(
            "source",
            F.expr("n_delta * 1000000L div n_union").alias("churn_ppm"),
        )
    )

    def hist(df: DataFrame, n_col: str) -> DataFrame:
        return (
            df.select(
                "source",
                F.least(F.length("text") / F.lit(64), F.lit(15))
                .cast("int")
                .alias("lb"),
            )
            .groupBy("source", "lb")
            .agg(F.count(F.lit(1)).alias(n_col))
        )

    cells = hist(v0, "n0").join(hist(v1, "n1"), ["source", "lb"], "full")
    cells = cells.select(
        "source",
        F.coalesce("n0", F.lit(0)).alias("n0"),
        F.coalesce("n1", F.lit(0)).alias("n1"),
    )
    totals = cells.groupBy("source").agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    drift = (
        cells.join(F.broadcast(totals), "source")
        .select(
            "source",
            F.abs(
                F.expr("n0 * 1000000L div greatest(t0, 1L)")
                - F.expr("n1 * 1000000L div greatest(t1, 1L)")
            ).alias("d"),
        )
        .groupBy("source")
        .agg(F.sum("d").alias("drift_ppm"))
    )
    c, d = _RETRAIN_CHURN_PPM, _RETRAIN_DRIFT_PPM
    hit_c = F.col("churn_ppm") >= c
    hit_d = F.col("drift_ppm") >= d
    return (
        churn.join(drift, "source")
        .select(
            "source",
            "churn_ppm",
            "drift_ppm",
            F.when(hit_c & hit_d, F.lit("both"))
            .when(hit_c, F.lit("churn"))
            .when(hit_d, F.lit("drift"))
            .otherwise(F.lit("none"))
            .alias("trigger"),
            (hit_c | hit_d).alias("retrain"),
        )
        .orderBy("source")
    )


def q216_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup candidate graph — distributed
    motif counting, the graph-analytics staple the surface lacked
    (q151 reads degrees, q74 components, q159 authority; none sees
    CLOSED structure). A document in many triangles sits in a densely
    self-similar template family — mutually-supporting near-dup
    evidence — where a high-degree document with NO triangles is a
    hub of pairwise-only collisions (the shingle-collision false-pos
    smell). Per-document triangle membership, top-20.

    Plan: the classic ordered two-join triangle enumeration over the
    session-persisted candidate pair frame (every edge stored once as
    ida < idb, so each triangle a<b<c materializes exactly once:
    e1=(a,b) joins e2=(b,c) on the shared middle vertex, e3=(a,c)
    closes the wedge) — two joins riding the InMemoryTableScan, never
    the corpus; membership via one explode of the (a,b,c) struct. At
    100 TB the pair frame IS the bounded materialized artifact
    (banded candidates, never all-pairs), and the wedge join's
    degeneracy ordering keeps the intermediate at wedge count, the
    standard distributed-triangle bound.
    """
    e = _cached_pair_counts(spark, sf_dir).select("ida", "idb")
    e1 = e.select(F.col("ida").alias("a"), F.col("idb").alias("b"))
    e2 = e.select(F.col("ida").alias("b2"), F.col("idb").alias("c"))
    e3 = e.select(F.col("ida").alias("a3"), F.col("idb").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    member = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return (
        member.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "doc_id")
        .limit(20)
    )
