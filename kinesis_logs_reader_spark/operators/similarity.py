"""Similarity search over embeddings (SURVEY.md §2.2 I4/I6).

- q43: brute-force cosine top-k — the correctness baseline. The dot
  product and norms are ``zip_with`` + ``aggregate`` Catalyst
  expressions: JVM-side, codegen, zero Python. The query vector is a
  one-row broadcast join, so the big side streams once.
- q48: IVF-style ANN — the scale path. A deterministic hyperplane-LSH
  coarse quantizer assigns every vector to a bucket (pure column
  arithmetic); the probe visits only the query's bucket and its
  Hamming-1 neighbors. At 100 TB the table would be written bucketed
  (``partitionBy(bucket)``) so a probe is partition-pruned I/O, not a
  scan.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from kinesis_logs_reader_spark.functions.generate import explode_nonempty
from kinesis_logs_reader_spark.sources.tables import load_table
from kinesis_logs_reader_spark.functions.caching import corpus_key


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold: deterministic per engine."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    emb: DataFrame, query_vec_id: int, k: int, round_digits: int = 4
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    sims = (
        emb.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), round_digits)
            .cast("double")
            .alias("sim"),
        )
    )
    return sims.orderBy(F.col("sim").desc(), "vec_id").limit(k)


def q43_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4/I6: exact top-5 neighbors of vec_id 0, ties broken by vec_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, query_vec_id=0, k=5).orderBy("vec_id")


# --- IVF / LSH-bucketed ANN (scale path) ----------------------------------

_N_PLANES = 6  # 64 buckets

# Hard ceiling for any driver-collected broadcast matrix (BLAS pair
# scans, q168's mutual-NN slice): 1M x 64 float64 is ~512 MB, already
# past sane driver/executor broadcast budgets. Collect sites take
# limit(MAX+1) and fail loud — the bounded-slice contract is
# structural, never prose.
MAX_BROADCAST_ROWS = 1_000_000


def _plane(j: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane (LCG, no numpy RNG state)."""
    vals, x = [], (j * 2654435761 + 1) % 2147483647
    for _ in range(dim):
        x = (x * 48271) % 2147483647
        vals.append((x / 2147483647.0) * 2.0 - 1.0)
    return vals


def bucket_of(vec: Column) -> Column:
    """Hyperplane-LSH bucket id: sign bit per plane -> integer code."""
    code = F.lit(0)
    for j in range(_N_PLANES):
        plane = F.array(*[F.lit(v) for v in _plane(j)])
        bit = (dot(vec, plane) > 0).cast("int")
        code = code + bit * F.lit(2 ** j)
    return code


def ann_topk(emb: DataFrame, query_vec_id: int, k: int, probe_hamming: int = 1) -> DataFrame:
    """ANN: search only the query's LSH bucket + Hamming-1 neighbors."""
    with_bucket = emb.withColumn("bucket", bucket_of(F.col("embedding")))
    q = with_bucket.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    cand = with_bucket.filter(F.col("vec_id") != query_vec_id).join(F.broadcast(q))
    if probe_hamming >= 1:
        # bucket within Hamming distance 1 of the query bucket
        xor = F.expr("bucket ^ qb")
        probe = (xor == 0) | (F.expr("bit_count(bucket ^ qb)") == 1)
    else:
        probe = F.col("bucket") == F.col("qb")
    return (
        cand.filter(probe)
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4)
            .cast("double")
            .alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


def q50_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family #4).

    Exact copies of vec_id < 10 are planted at id+1000000; every pair
    with cosine >= 0.99 in a fixed 2000-vector slice is emitted. The
    slice bounds the O(n^2) candidate set at any scale factor; the
    100 TB path replaces the slice with LSH buckets (see ann_topk) so
    each bucket's pair set stays small.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    all_vecs = emb.unionByName(planted).select("vec_id", "embedding")
    return cosine_pairs_blas(spark, all_vecs, threshold=0.99).orderBy("ida", "idb")


def cosine_pairs_blas(spark, vecs: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine >= threshold via broadcast + BLAS.

    The standard Spark brute-force-similarity pattern: one side is
    normalized and broadcast as a dense float64 matrix (bounded by
    design — at 100 TB the broadcast side is an LSH bucket or IVF cell,
    never the full table), the other side streams through
    ``mapInPandas`` doing one matmul per Arrow batch. All O(n^2 * dim)
    flops run in BLAS, not per-element expression evaluation
    (~40x faster than a zip_with/aggregate pair join).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # The broadcast side must be a bounded slice/bucket — enforce the
    # contract instead of trusting it (MAX_BROADCAST_ROWS, module top).
    rows = vecs.limit(MAX_BROADCAST_ROWS + 1).collect()
    if len(rows) > MAX_BROADCAST_ROWS:
        raise ValueError(
            f"cosine_pairs_blas: broadcast side exceeds {MAX_BROADCAST_ROWS} "
            "rows — pass an LSH bucket / IVF cell, not the full table"
        )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    out_schema = T.StructType(
        [
            T.StructField("ida", T.LongType()),
            T.StructField("idb", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def compute(batches):
        ids_all, mat_all = b_ids.value, b_mat.value
        order = np.argsort(ids_all)
        for pdf in batches:
            q = np.array(list(pdf["embedding"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ mat_all.T  # BLAS
            qids = pdf["vec_id"].to_numpy()
            outa, outb, outs = [], [], []
            for i, qid in enumerate(qids):
                mask = (sims[i] >= threshold - 1e-9) & (ids_all > qid)
                for j in np.nonzero(mask)[0]:
                    s = round(float(sims[i, j]), 4)
                    if s >= threshold:
                        outa.append(qid)
                        outb.append(ids_all[j])
                        outs.append(s)
            yield pd.DataFrame({"ida": outa, "idb": outb, "sim": outs})

    # spread_scan A/B (r14): OFF wins 0.50 vs 0.63 s (q50) — the
    # broadcast side dominates; fanning the streamed side across
    # Python workers added scheduling cost. Measured-negative.
    return vecs.mapInPandas(compute, out_schema)


# --- SRP-banded near-dup pairs (distributed scale path for q50) -----------

_SRP_PLANES = 60
_SRP_BANDS = 5  # 60 sign bits -> 5 bands x 12 bits (4096 buckets/band)
_SRP_BITS_PER_BAND = _SRP_PLANES // _SRP_BANDS
_SRP_GRID = 1000  # embedding quantization grid (floor(x*1000 + 0.5))


def _srp_plane(j: int, dim: int = 64) -> list[int]:
    """±1-valued deterministic hyperplane (same LCG family as
    :func:`_plane`, reduced to its parity bit).

    ±1 entries over a floor-quantized integer embedding make every
    projection an exact int64 sum — the sign bit is then identical in
    any evaluation order and any engine, unlike a float hyperplane
    whose near-zero projections could flip between Spark's sequential
    fold and DuckDB's ``list_inner_product``."""
    vals, x = [], (j * 2654435761 + 1) % 2147483647
    for _ in range(dim):
        x = (x * 48271) % 2147483647
        vals.append(1 if x % 2 == 1 else -1)
    return vals


def _srp_codes_series(embs: pd.Series) -> pd.Series:
    """Batch SRP band codes: one int64 matmul per Arrow batch.

    Same reasoning as dedup._simhash_series: the per-plane Catalyst
    fold (``aggregate(zip_with(...))``) is a higher-order lambda —
    CodegenFallback, interpreted per element — measured ~1 ms/row for
    16 planes; here ALL 60 projections are one (n, 64) @ (64, 60)
    BLAS integer matmul. Arithmetic stays exactly the oracle's:
    float64 widen -> floor(x*1000 + 0.5) -> int64 -> ±1 dot -> sign,
    every step exact, so the codes are bit-identical to the SQL
    derivation (pinned by the parity gate)."""
    import numpy as np
    import pandas as pd

    planes = np.array(
        [_srp_plane(j) for j in range(_SRP_PLANES)], dtype=np.int64
    ).T  # (dim, planes)
    weights = (1 << np.arange(_SRP_BITS_PER_BAND, dtype=np.int64))
    mat = np.array(list(embs), dtype=np.float64)
    q = np.floor(mat * _SRP_GRID + 0.5).astype(np.int64)
    bits = (q @ planes > 0).astype(np.int64)  # (n, planes)
    codes = bits.reshape(len(mat), _SRP_BANDS, _SRP_BITS_PER_BAND) @ weights
    return pd.Series(list(codes.astype(np.int32)))


# Explicit ArrayType: a DDL returnType would need an active SparkContext
# at definition time (same note as dedup.simhash_udf).
srp_codes_udf = F.pandas_udf(_srp_codes_series, T.ArrayType(T.IntegerType()))


def q163_srp_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-random-projection banding —
    the DISTRIBUTED scale path for q50's broadcast-BLAS all-pairs
    (same production-twin pattern as q158 -> q158b).

    q50's ``cosine_pairs_blas`` broadcasts one side and is capped at
    1M rows by contract; at 100 TB the corpus side cannot be
    broadcast at all. Here no side is collected: each vector gets 60
    deterministic SRP sign bits banded into 5 x 12-bit codes (4096
    buckets/band — the (bands, bits) knob trades recall at the
    threshold boundary against random-collision candidates, the q155
    banding curve; 12 bits cuts candidates 4x vs 10 at sf0.1),
    candidates are an EQUI-join on (band, code), and only candidates
    pay the exact cosine filter (>= 0.99, rounded to 4, the q50
    acceptance). Identical vectors agree on every bit, so exact-copy
    pairs are candidate-complete by construction; near-dups exactly
    AT cos 0.99 agree per plane w.p. 1 - theta/pi ≈ 0.955, so a
    12-bit band collides w.p. ≈ 0.575 and >= 1-of-5 bands w.p.
    ≈ 0.986 — rising steeply above the threshold (0.9999 at 0.999) —
    and the fixture corpus has NO natural pair above 0.97 (0.03
    margin, checked both engines), so recall vs q50 is exactly 100%
    here (asserted in tests/test_llm_ops_r8.py).
    Contract = LSH-candidate pairs passing the exact filter:
    deterministic, so the DuckDB oracle reproduces the same planes
    (embedded as ±1 literals) and the same integer projections
    bit-for-bit.

    Scale shape (r13 audit, VERDICT r12 item 3): the signature pass is
    map-only — one Arrow-batched int64 matmul per batch (the Catalyst
    per-plane fold is an interpreted higher-order lambda, measured
    ~1 ms/row; the A/B is in PERF.md r7) — and the embedding RIDES the
    band rows into the (band, code) bucket aggregate, so the exact
    cosine re-check happens INSIDE the expanded bucket pairs with no
    join back to the corpus at all: ONE corpus scan, zero joins, three
    exchanges (band-code hash, pair-dedup hash, output sort). The r7
    shape carried ids only and joined candidates back to the vectors
    twice — two more corpus scans, two broadcast builds, and an extra
    pair-distinct exchange; measured at sf~1 the carry shape reads
    0.73 s vs 1.09 s (A/B in PERF.md r13). The trade at 100 TB: the
    band exchange ships each embedding bands(=5)x instead of 1x id,
    but the join-back shape ships the corpus TWICE through its own
    shuffles (broadcast stops being legal) and scans it three times —
    carry wins on both bytes moved and scans. Per-bucket work is
    |bucket|^2 — the quantity the 12-bit band width was sized to keep
    small; skewed buckets admit the standard bucket-split salt without
    changing semantics, because the exact filter is order-independent.
    Pair dedup runs AFTER the >= 0.99 filter (cheaper: only survivors
    pay the group), and sim is deterministic per pair, so first() is
    exact.

    Reference analog: none (beyond-reference mandate, SURVEY §2.2 I:
    dedup family #4 at scale).
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    vecs = emb.select("vec_id", "embedding").unionByName(planted)
    sig = vecs.select(
        "vec_id",
        "embedding",
        F.posexplode(srp_codes_udf(F.col("embedding"))).alias("band", "code"),
    )
    # struct sort = lexicographic by field order, so (vec_id, embedding)
    # structs sort by id (ids never tie) — pair expansion stays ida < idb
    buckets = (
        sig.groupBy("band", "code")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "embedding"))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x.vec_id AS ida, y.vec_id AS idb, "
                "x.embedding AS ea, y.embedding AS eb))))"
            )
        ).alias("p")
    )
    return (
        pairs.select(
            "p.ida",
            "p.idb",
            F.round(cosine(F.col("p.ea"), F.col("p.eb")), 4)
            .cast("double")
            .alias("sim"),
        )
        .filter(F.col("sim") >= 0.99)
        .groupBy("ida", "idb")
        .agg(F.first("sim").alias("sim"))
        .orderBy("ida", "idb")
    )


def q48_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 for vec_id 0 via LSH buckets (rows-only check; recall
    vs the exact q43 baseline is asserted in tests/test_llm_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk(emb, query_vec_id=0, k=5).orderBy("vec_id")


# --- IVF with learned (k-means) centroids ----------------------------------

# Trained centroid matrices, keyed by (index_key, n_clusters, n_iter).
# Process-local cache over the on-disk parquet side table below.
_KMEANS_CACHE: dict = {}


def _kmeans_index_path(index_key: str, n_clusters: int, n_iter: int) -> str:
    import os
    import re

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = re.sub(r"[^A-Za-z0-9._-]+", "_", index_key.strip("/"))
    # _q1024 versions the index format: r6 moved training to the
    # integer-quantized grid (floor(v*1024+0.5)), so a pre-r6 float
    # index on disk must retrain rather than load.
    return os.path.join(
        repo_root,
        "spark-warehouse",
        "kmeans_index",
        f"{tag}_k{n_clusters}_i{n_iter}_q1024.parquet",
    )


def _corpus_fingerprint(df: DataFrame) -> str:
    """Cheap content fingerprint of the frame's input files (path +
    mtime + size, digested). Folded into the index key so a REGENERATED
    corpus retrains instead of silently reusing stale centroids
    (ADVICE r3) — preserving the 'cold fit == loaded index' invariant."""
    import hashlib
    import os

    try:
        files = sorted(df.inputFiles())
    except Exception:  # non-file-backed frame (e.g. createDataFrame)
        return "nofiles"
    h = hashlib.md5()
    for f in files:
        p = f.removeprefix("file:")
        try:
            st = os.stat(p)
            h.update(f"{p}:{st.st_mtime_ns}:{st.st_size};".encode())
        except OSError:
            h.update(f"{p}:unstat;".encode())
    return h.hexdigest()[:12]


def get_or_fit_kmeans(
    emb: DataFrame, index_key: str, n_clusters: int = 16, n_iter: int = 3
):
    """Persisted k-means index: fit ONCE per (corpus, k) and reuse.

    A real IVF/SemDeDup deployment trains its coarse quantizer once
    (on a sample) and serves assignment-only queries against the stored
    centroids; re-training per call was the r1/r2 perf-weak finding on
    q75/q109. The index is a tiny parquet side table
    (n_clusters x dim doubles) under spark-warehouse/kmeans_index/,
    written atomically, plus a process-local cache so repeated queries
    in one session skip even the file read. Training is deterministic
    (fixed smallest-vec_id init, rounded means), so a cold fit and a
    loaded index yield identical assignments.
    """
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    fp = _corpus_fingerprint(emb)
    key = (index_key, fp, n_clusters, n_iter)
    if key in _KMEANS_CACHE:
        return _KMEANS_CACHE[key]

    path = _kmeans_index_path(f"{index_key}_{fp}", n_clusters, n_iter)
    if os.path.exists(path):
        t = pq.read_table(path)
        order = np.argsort(t["cluster"].to_numpy())
        cents = np.array(t["centroid"].to_pylist(), dtype=np.int64)[order]
    else:
        cents = kmeans_centroids(emb, n_clusters=n_clusters, n_iter=n_iter)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t = pa.table(
            {
                "cluster": pa.array(range(len(cents)), pa.int32()),
                "centroid": pa.array(
                    [[int(x) for x in c] for c in cents], pa.list_(pa.int64())
                ),
            }
        )
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(t, tmp)
        os.replace(tmp, path)
    _KMEANS_CACHE[key] = cents
    return cents


def kmeans_centroids(
    emb: DataFrame, n_clusters: int = 16, n_iter: int = 3
):
    """Deterministic Lloyd's k-means over the embedding column, run
    entirely on the integer grid ``q = floor(v * 1024 + 0.5)`` (the
    power-of-two quantizer adopted for q99/q127/q141 in r5).

    - init: the quantized vectors of the ``n_clusters`` smallest
      vec_ids (a fixed, engine-independent seed — no RNG state);
    - assign: one ``mapInPandas`` pass; the centroid matrix broadcasts
      and every Arrow batch does a single BLAS matmul. All operands
      are integer-valued doubles bounded by |q| <= 2^21, so every
      product and 64-term sum is < 2^53 and the matmul is EXACT —
      argmin (ties -> smaller cell) is bit-stable;
    - update: per-dimension FLOOR-mean of the quantized coordinates
      (int64 sum, floor division) via ``posexplode`` + groupBy
      (cluster, dim) — a map-side-combinable agg whose output is only
      n_clusters x dim rows, collected to the driver and re-broadcast.
      A cluster that loses all members keeps its previous centroid.

    Because every step is exact integer arithmetic, the whole training
    loop is reproducible in ANSI SQL — the q75/q109 DuckDB oracles
    (oracle.py) re-derive these centroids from scratch and must match
    bit-for-bit; do not change this arithmetic without changing them.

    Returns a numpy (n_clusters, dim) int64 matrix. At 100 TB the same
    loop runs on a sample (centroid quality needs ~1k points per cell,
    not the full table) and only the final assignment pass touches all
    rows.
    """
    import numpy as np

    init = (
        emb.orderBy("vec_id")
        .limit(n_clusters)
        .select("embedding")
        .collect()
    )
    cents = np.floor(
        np.array([r["embedding"] for r in init], dtype=np.float64) * 1024.0
        + 0.5
    ).astype(np.int64)
    for _ in range(n_iter):
        assigned = assign_clusters(emb, cents)
        sums = (
            assigned.select(
                "cluster", F.posexplode("embedding").alias("dim", "v")
            )
            .select(
                "cluster",
                "dim",
                F.floor(F.col("v").cast("double") * 1024 + 0.5)
                .cast("bigint")
                .alias("q"),
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = cents.copy()
        for r in sums:
            # Python // is floor division — matches the oracle's
            # sign-safe (s - ((s % n) + n) % n) // n integer form.
            new[r["cluster"], r["dim"]] = r["s"] // r["n"]
        cents = new
    return cents


def assign_clusters(emb: DataFrame, cents) -> DataFrame:
    """Add a ``cluster`` column: argmin squared-L2 from the QUANTIZED
    vector (floor(v*1024+0.5)) to the integer centroid matrix. All
    arithmetic is exact (integer-valued doubles < 2^53), so ties break
    to the smaller cell id identically in numpy (argmin = first min)
    and SQL (ORDER BY d2, cell)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    b = emb.sparkSession.sparkContext.broadcast(
        np.asarray(cents, dtype=np.float64)
    )
    schema = T.StructType(
        emb.schema.fields + [T.StructField("cluster", T.IntegerType())]
    )

    def run(batches):
        c = b.value
        c_sq = (c * c).sum(axis=1)
        for pdf in batches:
            x = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * 1024.0
                + 0.5
            )
            # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; ||x||^2 constant per row
            d = -2.0 * (x @ c.T) + c_sq
            out = pdf.copy()
            out["cluster"] = d.argmin(axis=1).astype("int32")
            yield out

    return emb.mapInPandas(run, schema)


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int,
    n_clusters: int = 16,
    nprobe: int = 4,
    index_key: str | None = None,
) -> DataFrame:
    """IVF ANN: k-means cells, probe the ``nprobe`` cells nearest the
    query, brute-force cosine inside them.

    The scale path: cells partition the table (at 100 TB, write
    ``partitionBy(cluster)`` once after training — see
    sources/layout.py), so a probe reads nprobe/n_clusters of the data
    and the per-cell scan is the same BLAS matmul as assignment.
    ``index_key`` names a persisted centroid index (get_or_fit_kmeans);
    without it the quantizer is re-trained per call (tests only).
    """
    import numpy as np

    if index_key is not None:
        cents = get_or_fit_kmeans(emb, index_key, n_clusters=n_clusters)
    else:
        cents = kmeans_centroids(emb, n_clusters=n_clusters)
    q_emb = np.floor(
        np.array(
            emb.filter(F.col("vec_id") == query_vec_id).first()["embedding"],
            dtype=np.float64,
        )
        * 1024.0
        + 0.5
    )
    # exact integer distances; stable sort -> ties route to smaller cell
    d = ((np.asarray(cents, dtype=np.float64) - q_emb) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]

    assigned = assign_clusters(emb, cents)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    return (
        assigned.filter(F.col("cluster").isin(probe))
        .filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4)
            .cast("double")
            .alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


def q75_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-k-means ANN top-5 for vec_id 0. Oracle-backed since r6: the
    integer-grid training loop (kmeans_centroids) is re-derived from
    scratch inside the DuckDB oracle, so the TRAINED index itself is
    cross-engine-checked, not just the probe. Recall vs the exact
    baseline is additionally asserted in tests/test_llm_ops.py.

    Float knife-edge audit (the q110b/ADVICE r5 risk class): ``sim`` is
    ROUND(cosine, 4) double in a hashed output, safe here by measured
    margin — at sf0.01 the closest sim-to-round-boundary distance is
    7.8e-6 sim units and the top-5/6 cutoff margin is 2.6e-3, both
    >= 9 orders of magnitude above cross-engine ulp divergence; the
    scaled-int idiom is reserved for outputs derived from unbounded
    sums where margins shrink with data size (these are unit-norm
    bounded)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, query_vec_id=0, k=5, index_key=f"emb_{sf_dir}"
    ).orderBy("vec_id")


# --- SemDeDup: cluster-partitioned semantic dedup ---------------------------

def semdedup(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.99,
    index_key: str | None = None,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then inside each cluster drop every
    vector whose cosine to a smaller-vec_id cluster-mate is >= threshold.

    Returns the DROPPED rows as ``(vec_id, dup_of)`` where ``dup_of``
    is the smallest-id near-duplicate that triggered the drop.

    Scale story: all-pairs cosine is O(n^2); confining pairs to k-means
    cells makes it sum_c n_c^2. At 100 TB: train centroids on a sample
    (kmeans_centroids already collects only n_clusters x dim numbers to
    the driver), one mapInPandas assignment pass over the corpus, then
    groupBy(cluster).applyInPandas — each cell is one Arrow batch and
    one BLAS gram matrix, cells process in parallel across executors.
    Oversized cells (skew) would be re-split by a secondary LSH key;
    at test scale cells are ~100 rows so the plain path is exercised.
    """
    import numpy as np
    import pandas as pd

    if index_key is not None:
        cents = get_or_fit_kmeans(emb, index_key, n_clusters=n_clusters)
    else:
        cents = kmeans_centroids(emb, n_clusters=n_clusters)
    assigned = assign_clusters(emb.select("vec_id", "embedding"), cents)

    def find_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.array(list(pdf["embedding"]), dtype=np.float64)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "dup_of": []}).astype("int64")
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (x / norms[:, None]) @ (x / norms[:, None]).T
        ids = pdf["vec_id"].to_numpy()
        dropped, dup_of = [], []
        # row j is dropped if any EARLIER (smaller-id) row i is >= threshold;
        # i itself may already be dropped — keep-first semantics like the paper.
        for j in range(1, n):
            hits = np.nonzero(sims[j, :j] >= threshold)[0]
            if hits.size:
                dropped.append(ids[j])
                dup_of.append(ids[hits[0]])
        return pd.DataFrame({"vec_id": dropped, "dup_of": dup_of}).astype("int64")

    return assigned.groupBy("cluster").applyInPandas(
        find_dups, "vec_id long, dup_of long"
    )


def q109_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over a fixed 2000-vector slice with planted exact copies
    (vec_id < 10 duplicated at id+1000000, as in q50). Oracle-backed
    since r6 (integer-grid k-means re-derived in SQL + within-cell
    pairwise cosine); planted-copy recovery is additionally asserted in
    tests/test_llm_ops.py.

    Float knife-edge audit (the cosine >= 0.999 threshold compares
    doubles the two engines accumulate in different orders): measured
    at sf0.01 over all 8,108 within-cell pairs, the nearest pair BELOW
    threshold sits at cosine 0.513 and the 10 pairs above are the
    planted exact copies at ~1.0 (margin 1e-3) — both >= 12 orders of
    magnitude above cross-engine ulp divergence, so the classification
    cannot flip. Random-embedding corpora are bimodal by construction;
    a corpus with near-threshold semantic pairs would need the scaled-
    int idiom here.
    """
    # spread_scan A/B (r14): OFF wins 0.77 vs 0.86 s — the routing
    # pass is cheap relative to the within-cell join that follows and
    # re-exchanges anyway. Measured-negative.
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 2000
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    all_vecs = emb.unionByName(planted).select("vec_id", "embedding")
    return semdedup(
        all_vecs, n_clusters=16, threshold=0.999, index_key=f"semdedup_{sf_dir}"
    ).orderBy("vec_id", "dup_of")


# Bounded by contract: the q119 query batch collects to the driver to
# ride the Arrow kernel's closure; beyond this, chunk the batch or
# switch to the IVF path (q75/q141). Loud, never silent truncation.
_KNN_MAX_QUERY_BATCH = 10_000


def q119_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: exact top-3 cosine neighbors for EVERY query
    vector in a batch (vec_id < 10) against the candidate corpus
    (vec_id >= 10) — the retrieval building block q43 singles out,
    joined for a whole query table at once.

    Scale shape (r12 audit, VERDICT r11 item 5): the query batch is
    driver-collected (bounded + loud, the cosine_pairs_blas contract)
    and rides the Arrow kernel's closure; ALL candidate-x-query dot
    products happen in ONE numpy pass per Arrow batch riding the
    corpus scan — the r11 shape evaluated cosine as a zip_with/
    aggregate higher-order lambda per (candidate, query) pair
    (CodegenFallback, interpreted; 0.67 s of the 0.89 s total at
    sf~1). Per-query top-k stays a rank window keyed by query id with
    WindowGroupLimit keeping <=k rows per query map-side (verified in
    plan), so the shuffle is |queries| x k x nparts id/sim rows, never
    embeddings. At millions of queries the batch is chunked and the
    IVF path (q75/q141) replaces brute force; the join contract stays
    identical.

    Cross-engine exactness: the kernel accumulates each dot product
    with a per-dimension left-to-right float64 loop — the SAME
    summation order as the JVM fold it replaces and as DuckDB's
    list_inner_product — and division/sqrt are exactly-rounded IEEE
    singletons, so sim values are bit-identical; ROUND stays on the
    Spark side (numpy rounds half-to-even, Spark/DuckDB half-up).
    """
    import numpy as np

    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # driver-side batch cache: the query matrix is tiny by contract and
    # immutable per corpus CONTENT — keyed by the (path, mtime_ns,
    # size) fingerprint (ADVICE r12: unlike load_table's plan-only
    # cache this caches DATA, so a rewritten table mid-session must
    # miss; corpus_key is the same fix applied to every _klrs_* data
    # cache in r13).
    cache_key = corpus_key(sf_dir, "embeddings")
    qcache = spark.__dict__.setdefault("_klrs_q119_qbatch", {})
    if cache_key not in qcache:
        q_rows = (
            emb.filter(F.col("vec_id") < 10)
            .select("vec_id", "embedding")
            .limit(_KNN_MAX_QUERY_BATCH + 1)
            .collect()
        )
        if len(q_rows) > _KNN_MAX_QUERY_BATCH:
            raise ValueError(
                f"q119 query batch exceeds {_KNN_MAX_QUERY_BATCH} rows; "
                "chunk the batch or use the IVF path (q75/q141)"
            )
        qcache[cache_key] = (
            np.array([r["vec_id"] for r in q_rows], dtype=np.int64),
            np.array([r["embedding"] for r in q_rows], dtype=np.float64),
        )
    qids, qmat = qcache[cache_key]
    nq, dim = qmat.shape
    qq = np.zeros(nq)
    for d in range(dim):  # sequential fold order (see docstring)
        qq += qmat[:, d] * qmat[:, d]
    sqrt_qq = np.sqrt(qq)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            cmat = np.array(list(pdf["embedding"]), dtype=np.float64)
            dq = np.zeros((n, nq))
            cc = np.zeros(n)
            for d in range(dim):  # left-to-right, matching the fold
                ed = cmat[:, d]
                dq += np.outer(ed, qmat[:, d])
                cc += ed * ed
            sim = dq / (np.sqrt(cc)[:, None] * sqrt_qq[None, :])
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(dtype=np.int64), nq
                    ),
                    "sim_raw": sim.ravel(),
                }
            )

    scored = (
        emb.filter(F.col("vec_id") >= 10)
        .select("vec_id", "embedding")
        .mapInPandas(score, "query_id bigint, vec_id bigint, sim_raw double")
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("sim_raw"), 4).cast("double").alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "rn", "vec_id", "sim")
        .orderBy("query_id", "rn")
    )


def q127_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of the embedding table against
    its own label centroids, reported as per-label accuracy — the
    embedding-space sanity eval (are the labels linearly separated
    enough for centroid routing?) that gates IVF/SemDeDup cell quality.

    Exactness across engines: coordinates quantize to int
    (floor(v*1024+0.5) — power-of-two scale so the multiply is exact
    in float AND double arithmetic, the r5 hardening of the q99 red),
    centroids to integer floor-means, so every
    vector-to-centroid distance is an exact int64 sum of squared
    integer differences — argmin (ties -> smaller label) is therefore
    bit-stable. Data movement: one posexplode + (label, dim) aggregate
    (64 x labels rows, broadcast back), the distance pass is one
    (vec, label) aggregate — linear in vectors x labels, never
    vectors x vectors.
    """
    from pyspark.sql.window import Window

    # spread_scan A/B (r14): OFF wins 0.33 vs 0.35 s — shuffling the
    # embedding arrays costs what the parallel posexplode saves (the
    # partial aggregate already overlaps the scan). Measured-negative.
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1024 + 0.5).cast("bigint").alias("q"),
    )
    cent = (
        flat.groupBy(F.col("label").alias("c_label"), "dim")
        .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "c_label",
            "dim",
            F.floor(F.col("sum_q").cast("double") / F.col("n")).cast("bigint")
            .alias("mu"),
        )
    )
    dist = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum((F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu"))).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("pred"))
    )
    return (
        pred.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum((F.col("pred") == F.col("label")).cast("int")).alias("n_correct"),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_vecs"), 4
            ).cast("double").alias("accuracy"),
        )
        .orderBy("label")
    )


def q135_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection of the 64-dim
    embeddings down to 8 dims — the dimensionality-reduction step in
    front of an ANN index or a clustering pass (the sparse cousin of
    PCA that needs no training and no driver-side fit).

    The +-1 projection matrix is derived from md5 parity
    (functions/projections.py) so it is identical on every executor,
    every run, and inside the DuckDB oracle — embedded as 512 literal
    signs, no RNG, no broadcast of learned state. Per row the work is
    8 integer dot products over the quantized vector: map-only,
    whole-stage-codegen'd, zero shuffle before the final presentation
    sort. At 100 TB this is the cheapest operator in the file.

    Exactness across engines: elements are quantized to int64
    micro-units (floor(x * 1e6 + 0.5), the q127 idiom — float32 ->
    double is lossless and floor sidesteps ROUND-tie semantics), so
    the dot products are exact integer math, and the output stays in
    integer micro-units — no float appears anywhere downstream.
    """
    from kinesis_logs_reader_spark.functions.projections import (
        JL_IN_DIMS,
        JL_OUT_DIMS,
        sign_matrix,
    )

    signs = sign_matrix()
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("_q"),
    )
    # Each output dim is a PLAIN +- arithmetic chain over the quantized
    # array (no lambdas): the HOF formulation (8 zip_with folds of 64
    # literals) built a codegen-hostile expression tree (1.6 s at
    # sf0.1); the explode+broadcast-sign-join relational shape pays a
    # (vec, j) shuffle (0.8 s); the literal chain is map-only, fully
    # codegen'd, ZERO shuffle before the presentation sort (0.67 s) —
    # and at 100 TB map-only beats both alternatives outright.
    proj_cols = []
    for j in range(JL_OUT_DIMS):
        terms = " + ".join(
            f"({signs[j][i]} * _q[{i}])" for i in range(JL_IN_DIMS)
        )
        proj_cols.append(F.expr(terms).alias(f"_p{j}"))
    wide = q.select("vec_id", *proj_cols)
    stacked = F.array(
        *[
            F.struct(F.lit(j).alias("j"), F.col(f"_p{j}").alias("p"))
            for j in range(JL_OUT_DIMS)
        ]
    )
    # The projection is emitted in exact integer micro-units (the sum
    # itself), not a rounded double: a sum landing on a .5 rounding
    # boundary (observed: -710150 -> -0.71015) resolves differently in
    # the two engines' ROUND, while the bigint is bit-identical.
    return (
        wide.select("vec_id", F.explode(stacked).alias("e"))
        .select(
            "vec_id",
            F.col("e.j").alias("dim_out"),
            F.col("e.p").alias("proj_micro"),
        )
        .orderBy("vec_id", "dim_out")
    )


def q141_ivf_fixed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with a FIXED (label-centroid) codebook, end-to-end in
    exact SQL — the oracle-checkable twin of the k-means IVF path
    (q75, whose TRAINED index is rows-only by design): assign every
    vector to its nearest centroid cell, route the query to its
    nprobe=2 nearest cells, and run exact cosine top-5 inside the
    probed cells only.

    This pins the part of IVF that matters at 100 TB — cell routing +
    bounded candidate scan (|probed cells| / |cells| of the corpus,
    here 2/|labels|) — with hard cross-engine evidence; q75 keeps the
    training loop. Exactness: q127's integer-quantized centroids and
    int64 distances make assignment and routing bit-stable; the final
    cosine is the q43 formula rounded to 4. Measured recall vs the
    exact q43 top-5 is 2/5 at nprobe=2 with these UNTRAINED label
    cells (4/5 at nprobe=4) — the recall/probe-cost curve the trained
    k-means cells of q75 exist to improve.

    Data movement: one posexplode + (label, dim) centroid aggregate
    (broadcast), one (vec, cell) distance aggregate — both built once
    per session+corpus — then the candidate-only cosine per probe;
    never vectors x vectors.
    """
    from pyspark.sql.window import Window

    idx = _ivf_fixed_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = idx["assigned"]
    probe_cells = (
        idx["dist"]
        .filter(F.col("vec_id") == 0)
        .orderBy("d2", "cell")
        .limit(2)
        .select("cell")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .join(assigned, "vec_id")
        .join(F.broadcast(probe_cells), "cell")
        .join(F.broadcast(qvec))
    )
    sims = cand.select(
        "vec_id",
        "cell",
        F.round(cosine(F.col("embedding"), F.col("qe")), 4)
        .cast("double")
        .alias("sim"),
    )
    return (
        sims.orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
        .orderBy("vec_id")
    )


def _ivf_fixed_index(spark: SparkSession, sf_dir: str) -> dict:
    """The fixed (label-centroid) IVF cell index q141 documents: the
    per-(vector, cell) int64 distance frame and the argmin assignment,
    built ONCE per session+corpus and persisted — the IVF discipline
    the trained path (q75) already follows with its parquet centroid
    index. A probe call then pays only routing + the cell-bounded
    cosine. Shared by q141 (single-query probe) and q167 (recall@k
    evaluation over a query set)."""
    cache = spark.__dict__.setdefault("_klrs_ivf_fixed_cache", {})
    ck = corpus_key(sf_dir, "embeddings")
    if ck not in cache:
        emb0 = load_table(spark, sf_dir, "embeddings")
        flat = emb0.select(
            "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
        ).select(
            "vec_id",
            "dim",
            F.floor(F.col("v").cast("double") * 1024 + 0.5)
            .cast("bigint")
            .alias("q"),
            "label",
        )
        cent = (
            flat.groupBy(F.col("label").alias("cell"), "dim")
            .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n"))
            .select(
                "cell",
                "dim",
                F.floor(F.col("sum_q").cast("double") / F.col("n"))
                .cast("bigint")
                .alias("mu"),
            )
        )
        dist = (
            flat.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    (F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu"))
                ).alias("d2")
            )
        )
        w_assign = Window.partitionBy("vec_id").orderBy("d2", "cell")
        assigned = (
            dist.withColumn("rn", F.row_number().over(w_assign))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell")
        )
        cache[ck] = {
            "dist": dist.persist(),
            "assigned": assigned.persist(),
        }
    return cache[ck]


def _ann_eval_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Shared evaluation frames for q167/q176: IVF candidates per
    (query, nprobe), the approx top-10 rank list, and the exact
    brute-force top-10 rank list — built ONCE per session+corpus and
    persisted (all three are evaluation-set-bounded: <= |Q| x nprobe x
    k rows). Both metrics queries re-rank the SAME interpreted-cosine
    frames, so sharing halves the dominant fold cost (PERF.md r8)."""
    cache = spark.__dict__.setdefault("_klrs_ann_eval_cache", {})
    ck = corpus_key(sf_dir, "embeddings")
    if ck in cache:
        return cache[ck]
    for stale in list(cache):
        old = cache.pop(stale)
        for df in old.values():
            df.unpersist()
    idx = _ivf_fixed_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    n_q, k = 8, 10
    qcells = (
        idx["dist"]
        .filter(F.col("vec_id") < n_q)
        .select(F.col("vec_id").alias("qid"), "cell", "d2")
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy("d2", "cell")
            ),
        )
    )
    nprobes = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    probe = qcells.join(
        F.broadcast(nprobes), F.col("crank") <= F.col("nprobe")
    ).select("qid", "nprobe", "cell")
    cand = (
        idx["assigned"]
        .join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "nprobe", "vec_id")
    )
    qv = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "nprobe",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4)
            .cast("double")
            .alias("sim"),
        )
    )
    w_top = Window.partitionBy("qid", "nprobe").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    approx = scored.withColumn("rk", F.row_number().over(w_top)).filter(
        F.col("rk") <= k
    )
    w_exact = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    exact = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")), 4)
            .cast("double")
            .alias("sim"),
        )
        .withColumn("erank", F.row_number().over(w_exact))
        .filter(F.col("erank") <= k)
        .select("qid", "vec_id", "erank")
    )
    cache[ck] = {
        "cand": cand.persist(),
        "approx": approx.persist(),
        "exact": exact.persist(),
    }
    return cache[ck]


def q167_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@10 evaluation curve (r8): for an 8-query set and
    nprobe in {1, 2, 4}, measure the fixed-codebook IVF index (q141's
    cells) against the exact brute-force top-10 — per (query, nprobe):
    candidates scanned, exact neighbors recovered, and recall@10.

    This is the tuning measurement every ANN deployment runs before
    picking nprobe: the recall/scan-cost frontier. q141 pins ONE probe
    end-to-end; this sweeps the probe budget and scores it, reusing
    the same session-persisted index (routing and assignment are exact
    int64, so the candidate sets are bit-stable cross-engine; the
    cosine is the q43 formula rounded to 4 with vec_id tie-breaks).

    Scale shape: probes are (|Q| x nprobe) rows, broadcast; the IVF
    side joins assignment -> probed cells (candidate count = probed
    fraction of the corpus, the thing being measured, emitted as
    n_cand). The exact baseline is one corpus scan against the
    broadcast 8-row query set with a per-query top-10 window (|Q|
    partitions — bounded because the EVALUATION set is bounded by
    contract; at 100 TB you run this exact baseline over a sampled
    query set, never all-pairs, and the IVF side's cost stays the
    probed fraction).
    """
    frames = _ann_eval_frames(spark, sf_dir)
    cand, approx = frames["cand"], frames["approx"]
    exact = frames["exact"].select("qid", "vec_id", F.lit(1).alias("hit"))
    emb = load_table(spark, sf_dir, "embeddings")
    n_q, k = 8, 10
    nprobes = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    qv = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid")
    )
    per = (
        approx.join(exact, ["qid", "vec_id"], "left")
        .groupBy("qid", "nprobe")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"))
    )
    candn = cand.groupBy("qid", "nprobe").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    grid = qv.select("qid").crossJoin(F.broadcast(nprobes))
    return (
        grid.join(candn, ["qid", "nprobe"], "left")
        .join(per, ["qid", "nprobe"], "left")
        .select(
            F.col("qid").alias("query_id"),
            "nprobe",
            F.coalesce(F.col("n_cand"), F.lit(0)).alias("n_cand"),
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(k)), 4
            )
            .cast("double")
            .alias("recall"),
        )
        .orderBy("query_id", "nprobe")
    )


def q168_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pair mining (r8): align two corpora by
    keeping only RECIPROCAL best matches — the margin-filtered
    mutual-NN criterion parallel-text mining pipelines use to extract
    aligned pairs from two monolingual pools (CCMatrix/LASER shape).
    Sides here: even vec_ids vs odd vec_ids of a fixed 2000-vector
    slice (the q50 bounding discipline — at 100 TB each side is an IVF
    cell / LSH bucket, never the full table).

    Exactness: ranking floats from two different summation orders
    (BLAS matmul vs a sequential SQL fold) can disagree at 1 ulp and
    flip an argmax, so scoring runs on the NORMALIZED-QUANTIZED grid
    qn = floor(v / ||v|| * 2^20 + 0.5): ||v|| is the q43 sequential
    fold (bit-identical in both engines), and every qn dot product is
    a sum of 64 int products < 2^46 — exact in int64 AND in float64
    BLAS regardless of accumulation order. Argmax (ties -> smaller id)
    is therefore bit-stable, and sim/margin are derived from the
    integer dots, not from free-floating doubles.

    Spark shape: both sides' (id, qn) matrices broadcast once (each
    bounded by the slice contract); the whole slice streams through
    ONE mapInPandas matmul pass (each row scored against the opposite
    parity's matrix) emitting only per-row best-2 — the pair matrix
    is never materialized. Mutuality is a tiny equi-join of the two
    best-lists. Margin = best - second_best dot, the standard mining
    threshold signal.
    """
    # session-cached + persisted: best_a and best_b both read this
    # frame; persist keeps the single Python pass single (and the
    # MapInPandas stays visible in the pinned plan, unlike a
    # lineage-cutting checkpoint). One bounded entry per corpus.
    cache = spark.__dict__.setdefault("_klrs_mutual_nn_cache", {})
    ck = corpus_key(sf_dir, "embeddings")
    if ck not in cache:
        for stale in list(cache):
            cache.pop(stale).unpersist()
        best2, qn_handle = _mutual_best2(spark, sf_dir)
        best2 = best2.persist()
        best2.count()  # materialize the single pass, then drop the
        qn_handle.unpersist()  # quantized frame it consumed
        cache[ck] = best2
    best2 = cache[ck]
    best_a = best2.filter(F.col("sid") % 2 == 0).select(
        F.col("sid").alias("a_id"),
        F.col("best").alias("b_id"),
        "dot1",
        "dot2",
    )
    best_b = best2.filter(F.col("sid") % 2 == 1).select(
        F.col("sid").alias("b_id"), F.col("best").alias("back_a")
    )
    scale = float(2**40)
    return (
        best_a.join(F.broadcast(best_b), "b_id")
        .filter(F.col("back_a") == F.col("a_id"))
        .select(
            "a_id",
            "b_id",
            F.round(F.col("dot1") / F.lit(scale), 4).cast("double").alias("sim"),
            F.round((F.col("dot1") - F.col("dot2")) / F.lit(scale), 4)
            .cast("double")
            .alias("margin"),
        )
        .orderBy("a_id")
    )


def _mutual_best2(spark: SparkSession, sf_dir: str):
    """q168's single scoring pass: every row of the bounded slice
    scores against the OPPOSITE parity side's broadcast matrix in ONE
    mapInPandas sweep (two sides, still one Python round-trip —
    measured: the round-trip, not the matmul, dominated the
    one-pass-per-side form at sf0.1). Emits per-row (best, dot1,
    dot2) on the exact integer grid."""
    import numpy as np

    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 2000
    )
    nrm = emb.withColumn("nr", norm(F.col("embedding")))
    qn = nrm.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(
                v.cast("double") / F.col("nr") * F.lit(1048576.0) + F.lit(0.5)
            ).cast("long"),
        ).alias("qn"),
    )
    # ONE collect serves both broadcast matrices AND warms the persisted
    # qn frame the scoring pass reads — the interpreted quantization
    # fold runs once, not three times (collect x2 + pass).
    # r9 (VERDICT r8 item 5): the slice contract ("bounded slice, not
    # the full table") is enforced structurally, not by prose — the
    # cosine_pairs_blas pattern (MAX_BROADCAST_ROWS, module top).
    qn = qn.persist()
    rows_all = qn.limit(MAX_BROADCAST_ROWS + 1).collect()
    if len(rows_all) > MAX_BROADCAST_ROWS:
        raise ValueError(
            f"_mutual_best2: slice exceeds {MAX_BROADCAST_ROWS} rows — "
            "pass a bounded slice / LSH bucket, not the full table"
        )
    by_par: dict[int, list] = {0: [], 1: []}
    for r in rows_all:
        by_par[r["vec_id"] % 2].append((r["vec_id"], r["qn"]))
    mats: dict[int, tuple] = {}
    for par in (0, 1):
        rows = sorted(by_par[par], key=lambda t: t[0])
        ids = np.array([t[0] for t in rows], dtype=np.int64)
        mat = np.array([t[1] for t in rows], dtype=np.float64)
        mats[par] = (
            spark.sparkContext.broadcast(ids),
            spark.sparkContext.broadcast(mat),
        )
    schema = T.StructType(
        [
            T.StructField("sid", T.LongType()),
            T.StructField("best", T.LongType()),
            T.StructField("dot1", T.LongType()),
            T.StructField("dot2", T.LongType()),
        ]
    )

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            sids = pdf["vec_id"].to_numpy()
            out_frames = []
            for par in (0, 1):
                sel = sids % 2 == par
                if not sel.any():
                    continue
                o_ids, o_mat = (
                    mats[1 - par][0].value,
                    mats[1 - par][1].value,
                )
                q = np.array(list(pdf["qn"][sel]), dtype=np.float64)
                dots = q @ o_mat.T  # exact: int-valued, |dot| < 2^46
                best, d1, d2 = [], [], []
                for i in range(dots.shape[0]):
                    d = dots[i].astype(np.int64)
                    j = int(np.argmax(d))  # first max = smallest id (sorted)
                    best.append(int(o_ids[j]))
                    d1.append(int(d[j]))
                    dd = d.copy()
                    dd[j] = np.iinfo(np.int64).min
                    d2.append(int(dd[int(np.argmax(dd))]))
                out_frames.append(
                    pd.DataFrame(
                        {
                            "sid": sids[sel],
                            "best": best,
                            "dot1": d1,
                            "dot2": d2,
                        }
                    )
                )
            yield pd.concat(out_frames, ignore_index=True)

    return qn.mapInPandas(compute, schema), qn


# NDCG@10 discount table, integer micro-units: D[i] = round(1e6 / log2(i+1)).
# Precomputed so NO log/float runs at query time in either engine — the
# whole metric is exact integer arithmetic (the q165 idf discipline).
_NDCG_DISC = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
# ideal DCG for gains (10, 9, ..., 1) at ranks 1..10 — a constant
_NDCG_IDEAL = sum((10 - i) * d for i, d in enumerate(_NDCG_DISC))  # 29966114


def q176_ann_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN ranking-quality metrics (r8): MRR and NDCG@10 of the fixed-
    codebook IVF result list against the exact top-10, per (query,
    nprobe) — q167 answers "did the right neighbors come back";
    this answers "did they come back in the right ORDER", the metric
    a retrieval deployment actually tunes on.

    Relevance = position in the exact top-10 (gain 10 for the true
    best neighbor down to 1 for the 10th; 0 for anything outside).
    Discounts are the precomputed integer table _NDCG_DISC — round(1e6
    / log2(rank+1)) — so no transcendental function evaluates at query
    time and DCG/IDCG/MRR are exact int64 in both engines (ndcg_ppm =
    dcg * 1e6 DIV ideal; rr_ppm = 1e6 DIV first-hit-rank).

    Same data movement as q167 (shares the session-persisted IVF
    index; probes and the 8-row query set broadcast; windows bounded
    by the evaluation contract); the metric layer adds only a
    broadcast-able join of the two <= 10-row-per-group rank lists.
    """
    frames = _ann_eval_frames(spark, sf_dir)
    approx, exact = frames["approx"], frames["exact"]
    emb = load_table(spark, sf_dir, "embeddings")
    n_q = 8
    nprobes = spark.createDataFrame([(1,), (2,), (4,)], "nprobe int")
    qv = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid")
    )
    disc = F.array(*[F.lit(d).cast("bigint") for d in _NDCG_DISC])
    marked = (
        approx.join(exact, ["qid", "vec_id"], "left")
        .withColumn(
            "gain",
            F.coalesce(F.lit(11) - F.col("erank"), F.lit(0)).cast("bigint"),
        )
        .withColumn("disc", F.element_at(disc, F.col("rk")))
    )
    per = marked.groupBy("qid", "nprobe").agg(
        F.sum(F.col("gain") * F.col("disc")).alias("dcg_u"),
        F.min(F.when(F.col("gain") > 0, F.col("rk"))).alias("first_hit"),
    )
    grid = qv.select("qid").crossJoin(F.broadcast(nprobes))
    return (
        grid.join(per, ["qid", "nprobe"], "left")
        .select(
            F.col("qid").alias("query_id"),
            "nprobe",
            F.coalesce(F.col("dcg_u"), F.lit(0)).alias("dcg_u"),
            F.coalesce(
                F.expr("1000000L div first_hit"), F.lit(0)
            ).cast("bigint").alias("rr_ppm"),
            F.expr(
                f"(coalesce(dcg_u, 0L) * 1000000L) div {_NDCG_IDEAL}L"
            ).alias("ndcg_ppm"),
        )
        .orderBy("query_id", "nprobe")
    )


def q180_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly audit (r8): for each query, take the exact
    top-4 retrieved documents (rank order = relevance order) and pack
    their texts into a 192-token context budget greedily — include a
    doc iff it still fits, else skip it and keep trying lower ranks
    (the standard serving-side context builder) — and report what the
    model actually sees: docs included/skipped, context tokens, fill.
    This is the measurement that catches 'retrieval is great but the
    context window is 60% empty / the best doc never fits'.

    Shapes already paid for: the retrieval side is the session-
    persisted _ann_eval_frames exact list (evaluation-set-bounded);
    the greedy budget fold is the q170 in-array aggregate() idiom over
    each query's <= 4-element (rank, n_tokens) array — zero Python,
    zero window, one broadcast-able join to the documents dimension
    (vec_id == doc_id row correspondence, the q110 convention).

    Oracle: same exact-top-4 CTE + a 4-step RECURSIVE CTE advancing
    the budget rank by rank — integer arithmetic only.
    """
    cap = 192
    frames = _ann_eval_frames(spark, sf_dir)
    exact4 = frames["exact"].filter(F.col("erank") <= 4)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("nt")
    )
    joined = exact4.join(
        docs, exact4.vec_id == docs.doc_id
    ).select("qid", "erank", F.col("nt").cast("bigint").alias("nt"))
    items = joined.groupBy("qid").agg(
        F.sort_array(F.collect_list(F.struct("erank", "nt"))).alias("items")
    )
    init = F.struct(
        F.lit(0).cast("bigint").alias("cum"),
        F.lit(0).cast("bigint").alias("inc"),
    )

    def step(acc, x):
        fit = acc["cum"] + x["nt"] <= cap
        return F.struct(
            F.when(fit, acc["cum"] + x["nt"]).otherwise(acc["cum"]).alias("cum"),
            F.when(fit, acc["inc"] + 1).otherwise(acc["inc"]).alias("inc"),
        )

    folded = items.select(
        "qid",
        F.size("items").alias("n_retrieved"),
        F.aggregate("items", init, step).alias("st"),
    )
    return folded.select(
        F.col("qid").alias("query_id"),
        "n_retrieved",
        F.col("st.inc").alias("n_included"),
        (F.col("n_retrieved") - F.col("st.inc")).alias("n_skipped"),
        F.col("st.cum").alias("context_tokens"),
        F.expr(f"(st.cum * 1000000L) div {cap}").alias("fill_ppm"),
    ).orderBy("query_id")


def q184_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-drift monitor (r9): route NEW arrivals against the
    codebook frozen from the EXISTING corpus and measure, per cell,
    load shift and distance inflation — the when-to-retrain signal an
    incremental index (apply_ann_index_batch, streaming/jobs.py) needs:
    a cell whose arrivals sit much farther from the centroid than its
    residents (drift_ppm >> 1e6) or whose traffic share jumped is a
    cell the frozen codebook no longer describes.

    Split is deterministic and id-spanning: vec_id % 4 == 0 are the
    arrivals (25%), the rest are the indexed corpus. Centroids come
    from the EXISTING rows only (the q141 fixed-cell integer recipe),
    so arrival routing exercises exactly the incremental path. All
    outputs are exact integers: counts, integer-ppm load shares, mean
    d2 by integer division, drift = (mean_d2_arrivals * 1e6) div
    mean_d2_existing (d2 ~ 1e8, x 1e6 fits int64 comfortably).

    Scale shape: centroid build is a map-side-combinable agg over the
    existing rows; routing is one broadcast join against the KB-sized
    codebook + a (vec, cell)-bounded agg; the report is |cells| rows.
    No all-pairs anywhere.

    Reference analog: none (beyond-reference mandate; the monitoring
    complement of q141/q167 and the batch twin of the r9 streaming
    ANN-index sink).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        (F.col("vec_id") % 4 == 0).alias("is_arr"),
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "is_arr",
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1024 + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    cent = (
        flat.filter(~F.col("is_arr"))
        .groupBy(F.col("label").alias("cell"), "dim")
        .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "cell",
            "dim",
            F.floor(F.col("sum_q").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("mu"),
        )
    )
    dist = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "is_arr", "cell")
        .agg(
            F.sum(
                (F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    assigned = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("is_arr", "cell", "d2")
    )
    per_cell = assigned.groupBy("cell").agg(
        F.sum(F.when(~F.col("is_arr"), 1).otherwise(0)).alias("n_existing"),
        F.sum(F.when(F.col("is_arr"), 1).otherwise(0)).alias("n_arrivals"),
        F.sum(F.when(~F.col("is_arr"), F.col("d2")).otherwise(0)).alias("s2_ex"),
        F.sum(F.when(F.col("is_arr"), F.col("d2")).otherwise(0)).alias("s2_ar"),
    )
    totals = per_cell.agg(
        F.sum("n_existing").alias("t_ex"), F.sum("n_arrivals").alias("t_ar")
    )
    j = per_cell.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_existing",
        "n_arrivals",
        F.expr("(n_existing * 1000000L) div t_ex").alias("load_existing_ppm"),
        F.expr("(n_arrivals * 1000000L) div t_ar").alias("load_arrivals_ppm"),
        F.expr("s2_ex div n_existing").alias("mean_d2_existing"),
        F.expr(
            "CASE WHEN n_arrivals > 0 THEN s2_ar div n_arrivals END"
        ).alias("mean_d2_arrivals"),
        F.expr(
            "CASE WHEN n_arrivals > 0 AND s2_ex div n_existing > 0 THEN"
            " ((s2_ar div n_arrivals) * 1000000L) div (s2_ex div n_existing)"
            " END"
        ).alias("drift_ppm"),
    )
    return j.orderBy("cell")


# --- q185/q187: product quantization (PQ) — codebooks, ADC scan, ----------
# --- distortion report; q186: int8 quantization recall audit ---------------

# PQ geometry: M subspaces x SUBDIM dims (M * SUBDIM = embedding dim),
# K centroids per subspace, N_ITER Lloyd's iterations on the exact
# integer grid (floor(v*1024+0.5)) — small enough that the DuckDB
# oracle re-derives all four codebooks from scratch in one statement
# (oracle._kmeans_cte with per-subspace prefixes), large enough that
# the ADC ranking is non-trivial.
_PQ_M, _PQ_SUBDIM, _PQ_K, _PQ_ITER = 4, 16, 8, 2
_PQ_NQ, _PQ_TOPK = 4, 10


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train (or load) the M per-subspace codebooks: each is the exact
    integer-grid Lloyd's run (kmeans_centroids) over the vectors'
    SUBDIM-wide slice, persisted per (corpus fingerprint, subspace)
    through get_or_fit_kmeans — a PQ deployment trains codebooks once
    per corpus version and serves encode/ADC against the stored
    tables. Returns a list of (K, SUBDIM) int64 matrices."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = []
    for s in range(_PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
                "embedding"
            ),
        )
        books.append(
            get_or_fit_kmeans(
                sub, f"pq_sub{s}", n_clusters=_PQ_K, n_iter=_PQ_ITER
            )
        )
    return books


def pq_encode(emb: DataFrame, books) -> DataFrame:
    """Encode every vector to M codebook ids plus the per-subspace
    quantization error, in ONE Arrow pass: the MxKxSUBDIM codebook
    broadcasts (KB-sized) and each batch does M small BLAS matmuls.
    All operands are integer-valued doubles (|q| <= 2^12, per-subspace
    d2 <= 2^28), so distances are EXACT and argmin ties break to the
    smaller code id identically in numpy and SQL (ORDER BY d2, cell).

    Output: (vec_id, codes array<int>, d2s array<long>). At 100 TB
    this is the map-only compression pass PQ exists for — 64 floats
    become M bytes — and downstream ADC scans never touch the raw
    embedding again.

    The codebook broadcast is memoized per codebook CONTENT (md5 of
    the raw bytes) on the session, the _klrs_* cache convention:
    q185/q187/q188 each call pq_encode and interleaved bench passes
    multiply the count, so a fresh broadcast per call would slowly
    accumulate driver-held state over a long session (ADVICE r9
    item 2). Eviction is unpersist-only beyond a small cap — see the
    inline note."""
    import numpy as np

    arr = np.asarray(books, dtype=np.float64)
    key = hashlib.md5(np.ascontiguousarray(arr).tobytes()).hexdigest()
    spark = emb.sparkSession
    cache = spark.__dict__.setdefault("_klrs_pq_bcast_cache", {})
    if key not in cache:
        # Never destroy(): DIFFERENT codebook sets legitimately coexist
        # in one session (pq_sub* and opq_sub* — q185/q187/q188 vs
        # q190), and a memoized DataFrame built against an earlier set
        # would hit use-after-destroy on execution. Each entry is
        # KB-sized; beyond a small cap, evict oldest with unpersist()
        # — executors drop their copies, but the broadcast stays valid
        # and lazily re-ships if an old plan runs again.
        while len(cache) >= 8:
            cache.pop(next(iter(cache))).unpersist()
        cache[key] = spark.sparkContext.broadcast(arr)
    b = cache[key]

    def run(batches):
        c = b.value  # (M, K, SD)
        m, _, sd = c.shape
        c_sq = (c * c).sum(axis=2)  # (M, K)

        for pdf in batches:
            x = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * 1024.0
                + 0.5
            )
            n = x.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            d2s = np.empty((n, m), dtype=np.int64)
            for s in range(m):
                xs = x[:, s * sd : (s + 1) * sd]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ c[s].T)
                    + c_sq[s][None, :]
                )
                codes[:, s] = d.argmin(axis=1)
                d2s[:, s] = d[np.arange(n), codes[:, s]].astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": list(codes.tolist()),
                    "d2s": list(d2s.tolist()),
                }
            )

    return emb.mapInPandas(
        run, "vec_id long, codes array<int>, d2s array<long>"
    )


def q185_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): top-10 neighbors per query by summed per-subspace
    query-to-centroid distances — the standard compressed-domain scan
    (Jegou et al., PAMI 2011) a 100 TB vector store runs instead of
    brute force.

    Pipeline: M=4 per-subspace codebooks (integer-grid Lloyd's,
    persisted artifacts — the q75 convention), one Arrow encode pass
    (pq_encode), then a driver-computed (N_Q x M x K = 128-row) LUT of
    exact integer query-subvector-to-centroid distances broadcast
    against the exploded codes. The scan is scan+broadcast-join+
    partial-agg: no shuffle carries more than one row per (query,
    vector), and the raw embedding column is never read after encode.
    The plan shape is the q184-measured winner (posexplode +
    broadcast join + agg stays in codegen; per-row lambda folds run
    interpreted and lose — PERF.md r9).

    Oracle: re-derives all four codebooks from scratch via prefixed
    _kmeans_cte, re-encodes, and re-ranks — bit-identical because
    every step is exact integer arithmetic.

    Reference analog: none (beyond-reference mandate; similarity-
    search family, SURVEY §2.2 I).
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    books = _pq_codebooks(spark, sf_dir)
    codes = pq_encode(emb, books).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    # ADC lookup table: N_Q bounded by contract (evaluation queries);
    # the collect is N_Q rows, the LUT N_Q*M*K = 128 rows.
    qrows = sorted(
        emb.filter(F.col("vec_id") < _PQ_NQ).collect(),
        key=lambda r: r["vec_id"],
    )
    lut_rows = []
    for r in qrows:
        qv = np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * 1024.0 + 0.5
        )
        for s in range(_PQ_M):
            qs = qv[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
            d2 = ((qs[None, :] - books[s]) ** 2).sum(axis=1).astype(np.int64)
            for k in range(_PQ_K):
                lut_rows.append((int(r["vec_id"]), s, k, int(d2[k])))
    lut = spark.createDataFrame(
        lut_rows, "qid long, sub int, code int, d2 long"
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("qid", "rk", "vec_id", "adc_d2")
        .orderBy("qid", "rk")
    )


def q187_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook quality report: per (subspace, code) member count
    and integer mean/max quantization error — the when-to-retrain
    monitor for the q185 compressed index (a code whose mean_d2 is a
    multiple of its siblings', or whose population collapsed, marks a
    codebook the corpus has drifted away from; the PQ complement of
    q184's IVF drift report).

    One encode pass (shared kernel with q185), one |codes|-bounded
    agg: M*K = 32 output rows regardless of corpus size; partial agg
    makes the shuffle one row per (sub, code) per task.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    books = _pq_codebooks(spark, sf_dir)
    pairs = pq_encode(emb, books).select(
        F.posexplode(F.arrays_zip("codes", "d2s")).alias("sub", "z")
    ).select("sub", F.col("z.codes").alias("code"), F.col("z.d2s").alias("d2"))
    return (
        pairs.groupBy("sub", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d2").alias("sse"),
            F.max("d2").alias("max_d2"),
        )
        .select(
            "sub",
            "code",
            "n_vecs",
            F.expr("sse div n_vecs").alias("mean_d2"),
            "max_d2",
        )
        .orderBy("sub", "code")
    )


def q186_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding-quantization recall audit: symmetric max-abs
    scalar quantization (the standard serving compression: 4x smaller,
    integer dot products), scored as recall@10 of the int8 ranking
    against the exact 1024-grid reference ranking, per query.

    Both rankings are integer dot products (int8 sums <= 127^2*64,
    grid sums <= 2^30 — exact in doubles and in SQL), tie-broken by
    vec_id, so the audit itself has no float-order hazard; the only
    double arithmetic is the shared quantizer v * (127/max_abs), an
    identical IEEE expression in both engines. One Arrow pass emits
    (vec, query, both scores); the ranking shuffle carries one row per
    (query, vector) into |Q| bounded partitions (the q167 eval-frame
    contract: queries are an evaluation set, not the corpus).

    Reference analog: none (beyond-reference mandate; the quantization
    counterpart of q167's nprobe recall sweep).
    """
    import numpy as np

    n_q, k = 8, 10
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    max_abs = emb.select(F.explode("embedding").alias("v")).agg(
        F.max(F.abs(F.col("v").cast("double")))
    ).first()[0]
    # loud-fail guard (ADVICE r9 item 4): an empty embeddings table
    # yields max_abs=None and an all-zero corpus yields 0 — either way
    # the int8 quantizer is undefined, so name the cause instead of
    # surfacing a TypeError/ZeroDivisionError from the division below.
    if max_abs is None or max_abs == 0:
        raise ValueError(
            "q186_int8_recall: embeddings table is empty or all-zero "
            f"(max_abs={max_abs}); the 127/max_abs int8 quantizer is "
            "undefined on this corpus"
        )
    scale = 127.0 / max_abs
    qrows = sorted(
        emb.filter(F.col("vec_id") < n_q).collect(),
        key=lambda r: r["vec_id"],
    )
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q8 = np.floor(qmat * scale + 0.5)
    qg = np.floor(qmat * 1024.0 + 0.5)
    b = spark.sparkContext.broadcast((qids, q8, qg, scale))

    def run(batches):
        ids, a8, ag, sc = b.value
        nq = len(ids)
        for pdf in batches:
            x = np.array(list(pdf["embedding"]), dtype=np.float64)
            s8 = np.floor(x * sc + 0.5) @ a8.T  # (n, nq) exact ints
            sg = np.floor(x * 1024.0 + 0.5) @ ag.T
            vid = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vid, nq),
                    "qid": np.tile(ids, len(vid)),
                    "s8": s8.reshape(-1).astype(np.int64),
                    "sref": sg.reshape(-1).astype(np.int64),
                }
            )

    dots = emb.mapInPandas(
        run, "vec_id long, qid long, s8 long, sref long"
    ).filter(F.col("vec_id") != F.col("qid"))
    w8 = Window.partitionBy("qid").orderBy(F.col("s8").desc(), "vec_id")
    wr = Window.partitionBy("qid").orderBy(F.col("sref").desc(), "vec_id")
    return (
        dots.withColumn("rk8", F.row_number().over(w8))
        .withColumn("rkr", F.row_number().over(wr))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(
                    (F.col("rk8") <= k) & (F.col("rkr") <= k), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("hits_at10")
        )
        .select(
            "qid",
            "hits_at10",
            F.expr(f"(hits_at10 * 1000000L) div {k}").alias("recall_ppm"),
        )
        .orderBy("qid")
    )


def q188_pq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval (r9): ADC shortlist (top-50 per query by
    the q185 compressed-domain scan) re-ranked EXACTLY on the integer
    grid — the production serving shape the q185 docstring points at:
    the coarse 12-bit code prunes 90% of candidates, the exact pass
    touches only the survivors, and the final top-10 is close to the
    brute-force answer at a fraction of its cost. At 100 TB the first
    stage reads M-byte codes (never raw vectors); only |Q| x 50
    shortlist rows fetch their embeddings back.

    Plan shape: the shortlist is evaluation-bounded (|Q| x 50 rows) so
    it BROADCASTS into the embeddings scan — the corpus is pruned to
    survivors BEFORE the posexplode, and the exact distance is a pure
    JVM partial-agg over (qid, vec_id, dim) rows joined to the
    broadcast quantized query table. Zero new Python boundaries beyond
    q185's shared encode pass.

    Oracle: extends the q185 oracle — same four retrained codebooks,
    ADC CTE, rank <= 50 shortlist, then an exact grid-distance re-rank.

    Reference analog: none (beyond-reference mandate; completes the
    PQ family q185/q187).
    """
    return _pq_rerank_top10(spark, sf_dir).orderBy("qid", "rk")


def _pq_rerank_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q188's two-stage retrieval body, unordered: (qid, rk, vec_id,
    d2) with rk <= 10 per query. Shared by q188 (which just orders it)
    and q195 (which reranks it with the lexical interaction scorer) so
    the serving shape has ONE definition — the q178/q191 shared-rule
    convention applied to the retrieval ladder."""
    shortlist_k = 50
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    books = _pq_codebooks(spark, sf_dir)
    codes = pq_encode(emb, books).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    import numpy as np

    qrows = sorted(
        emb.filter(F.col("vec_id") < _PQ_NQ).collect(),
        key=lambda r: r["vec_id"],
    )
    lut_rows = []
    qflat_rows = []
    for r in qrows:
        qv = np.floor(
            np.asarray(r["embedding"], dtype=np.float64) * 1024.0 + 0.5
        )
        for d in range(qv.shape[0]):
            qflat_rows.append((int(r["vec_id"]), d, int(qv[d])))
        for s in range(_PQ_M):
            qs = qv[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
            d2 = ((qs[None, :] - books[s]) ** 2).sum(axis=1).astype(np.int64)
            for k in range(_PQ_K):
                lut_rows.append((int(r["vec_id"]), s, k, int(d2[k])))
    lut = spark.createDataFrame(
        lut_rows, "qid long, sub int, code int, d2 long"
    )
    qflat = spark.createDataFrame(qflat_rows, "qid long, dim int, q long")
    w = Window.partitionBy("qid").orderBy("adc_d2", "vec_id")
    shortlist = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
        .withColumn("srk", F.row_number().over(w))
        .filter(F.col("srk") <= shortlist_k)
        .select("qid", "vec_id")
    )
    survivors = emb.join(F.broadcast(shortlist), "vec_id").select(
        "qid",
        "vec_id",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "qid",
        "vec_id",
        "dim",
        F.floor(F.col("v").cast("double") * 1024 + 0.5)
        .cast("bigint")
        .alias("g"),
    )
    exact = (
        survivors.join(F.broadcast(qflat), ["qid", "dim"])
        .groupBy("qid", "vec_id")
        .agg(
            F.sum(
                (F.col("g") - F.col("q")) * (F.col("g") - F.col("q"))
            ).alias("d2")
        )
    )
    w2 = Window.partitionBy("qid").orderBy("d2", "vec_id")
    return (
        exact.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("qid", "rk", "vec_id", "d2")
        .orderBy("qid", "rk")
    )


def _opq_permutation(spark: SparkSession, sf_dir: str) -> list[int]:
    """Balanced-variance dimension allocation — the deterministic
    OPQ-style pre-rotation (Ge et al., CVPR'13 §4's dimension-
    allocation insight, without the iterative SVD): rank dimensions by
    exact integer variance numerator vn = n*Σq² − (Σq)² on the 1024
    grid, then deal them round-robin into the M subspaces (rank r →
    subspace r % M, slot r div M), so every codebook trains on an
    equal share of the corpus variance instead of whatever the raw
    dimension order happens to put in its contiguous slice.

    Returns the permutation as a list of original dim indices in
    (subspace, slot) order. The collect is DIM-bounded (64 rows) by
    contract. int64 bound: |q| ≤ 2^12 ⇒ n*Σq² < 2^63 for any training
    sample up to ~2^26 vectors — and rotation/codebook training is
    sample-based at 100 TB anyway (the q75 convention: train once on a
    bounded sample, persist, serve assignment-only).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    grid = F.transform(
        "embedding",
        lambda v: F.floor(v.cast("double") * 1024 + F.lit(0.5)).cast("bigint"),
    )
    varn = (
        emb.select(F.posexplode(grid).alias("dim", "q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("q") * F.col("q")).alias("sq"),
            F.sum("q").alias("s"),
        )
        .select(
            "dim",
            (F.col("n") * F.col("sq") - F.col("s") * F.col("s")).alias("vn"),
        )
    )
    ranked = sorted(varn.collect(), key=lambda r: (-r["vn"], r["dim"]))
    by_sub: list[list[int]] = [[] for _ in range(_PQ_M)]
    for r, row in enumerate(ranked):
        by_sub[r % _PQ_M].append(row["dim"])
    return [d for sub in by_sub for d in sub]


def q190_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with an OPQ-style balanced-variance dimension permutation
    (closing the quantization family, VERDICT r9 item 9): permute
    dimensions so each of the M=4 subspaces holds an equal share of
    the corpus variance, retrain the per-subspace codebooks on the
    permuted vectors, and emit the same (sub, code, n_vecs, mean_d2,
    max_d2) distortion report as q187 — directly comparable, so the
    report pair IS the rotate-or-not evidence a 100 TB vector store
    weighs before re-encoding.

    Plan shape: one DIM-bounded variance pass (64-row collect by
    contract), the permutation applied as a JVM array projection
    riding the encode scan (no extra pass), then q187's encode +
    |codes|-bounded partial agg. Codebooks persist under opq_sub{s}
    keys (the q75/q185 artifact convention).

    Oracle: re-derives the variance ranking, the round-robin
    allocation, the permuted vectors (list(v ORDER BY slot)), and all
    four codebooks from scratch via prefixed _kmeans_cte — exact
    integer arithmetic end to end, bit-identical.

    Reference analog: none (beyond-reference mandate; similarity-
    search family, SURVEY §2.2 I).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    perm = _opq_permutation(spark, sf_dir)
    emb_perm = emb.select(
        "vec_id",
        F.array(*[F.col("embedding").getItem(d) for d in perm]).alias(
            "embedding"
        ),
    )
    books = []
    for s in range(_PQ_M):
        sub = emb_perm.select(
            "vec_id",
            F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
                "embedding"
            ),
        )
        books.append(
            get_or_fit_kmeans(
                sub, f"opq_sub{s}", n_clusters=_PQ_K, n_iter=_PQ_ITER
            )
        )
    pairs = pq_encode(emb_perm, books).select(
        F.posexplode(F.arrays_zip("codes", "d2s")).alias("sub", "z")
    ).select("sub", F.col("z.codes").alias("code"), F.col("z.d2s").alias("d2"))
    return (
        pairs.groupBy("sub", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("d2").alias("sse"),
            F.max("d2").alias("max_d2"),
        )
        .select(
            "sub",
            "code",
            "n_vecs",
            F.expr("sse div n_vecs").alias("mean_d2"),
            "max_d2",
        )
        .orderBy("sub", "code")
    )


def q195_ce_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-shaped reranking of q188's shortlist (r11,
    VERDICT r10 item 8): the final stage of the retrieval ladder
    q185 (compressed ADC scan) -> q188 (exact-vector re-rank of the
    survivors) -> q195 (JOINT query x candidate content scoring of the
    top-10). A production reranker runs a cross-encoder model over the
    (query text, candidate text) PAIR; the deterministic, oracle-
    expressible stand-in here is a late-interaction lexical scorer:

        ce_u(q, c) = sum over shared distinct 3-token shingles s of
                     idf_u(s) * min(tf_q(s), 3) * min(tf_c(s), 3)

    — idf-weighted (rare shingles dominate, the q165 scorer), tf-
    SATURATED both sides (BM25's diminishing-returns shape, exact in
    int64: idf_u < 2^40, saturated tfs <= 9), computed on the (q, c)
    pair jointly rather than from any single-document embedding. The
    swap-in point for a real model is exactly this pair-scoring stage
    (the multimodal.py fake-codec convention). Output: per query the
    top-5 of the 10 exact-stage survivors with BOTH stage ranks, so
    the row shows what the reranker changed (pq_rank vs ce_rank).

    Scale shape: the shortlist is |Q| x 10 BOUNDED rows -> it
    broadcasts into the documents scan, pruning the corpus to the ~44
    relevant texts BEFORE tokenization (never a corpus-wide shingle
    explode on the candidate side). The only full-corpus pass is the
    document-frequency table — a term-statistics artifact a real
    pipeline precomputes once and reuses (the q160 side-table
    convention). The final window partitions by qid over <= 10 rows.
    vec_id == doc_id by the testdata contract (embeddings are the
    documents' vectors).

    Oracle: q188's full WITH-chain (shared _PQ_RERANK_CTES fragment —
    codebooks retrained from scratch) + the same tf/df/interaction
    CTEs in SQL.

    Reference analog: none (beyond-reference mandate; completes the
    retrieval ladder).
    """
    from kinesis_logs_reader_spark.functions.caching import lru_persisted
    from kinesis_logs_reader_spark.functions.text import (
        token_base_hashes,
        token_shingle_hashes,
    )

    # top10 is referenced three times below (relevant-doc prune, the
    # interaction join, the final left join); session-persist the
    # 40-row frame so the q188 pipeline — including its Arrow encode
    # pass — runs ONCE, not per reference (plan-pinned).
    top10 = lru_persisted(
        spark,
        "_klrs_q195_top10_cache",
        (corpus_key(sf_dir, "embeddings"), corpus_key(sf_dir, "documents")),
        lambda: _pq_rerank_top10(spark, sf_dir),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # saturated shingle term frequencies, corpus pruned to the bounded
    # relevant-doc set BEFORE the shingle explode
    relevant = top10.select(F.col("vec_id").alias("doc_id")).unionByName(
        top10.select(F.col("qid").alias("doc_id"))
    ).distinct()
    tf = (
        docs.join(F.broadcast(relevant), "doc_id")
        .select("doc_id", token_base_hashes().alias("tb"))
        .select(
            "doc_id",
            F.explode(
                token_shingle_hashes(F.col("tb"), distinct=False)
            ).alias("t"),
        )
        .groupBy("doc_id", "t")
        .agg(F.least(F.count(F.lit(1)), F.lit(3)).alias("tf_sat"))
    )

    # document-frequency table: the one full-corpus pass (precomputed
    # artifact at scale); same 10%-df stopword prune as q165
    base = docs.select("doc_id", token_base_hashes().alias("tb"))
    # explode_nonempty: keeps the inferred filter from re-inlining the
    # md5+shingle chain per element (functions/generate.py, PERF.md r11)
    dtok = explode_nonempty(
        base, token_shingle_hashes(F.col("tb")), "t", "doc_id"
    )
    stats = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    idf_u = F.floor(
        F.log(F.col("n_corpus").cast("double") / F.col("df")) * 1e6
        + F.lit(0.5)
    ).cast("long")
    df_tbl = (
        dtok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") * 10 <= F.col("n_corpus"))
        .select("t", idf_u.alias("idf_u"))
    )

    qtf = (
        tf.filter(F.col("doc_id") < _PQ_NQ)
        .select(F.col("doc_id").alias("qid"), "t", F.col("tf_sat").alias("tfq"))
    )
    ce = (
        top10.join(
            tf.select(F.col("doc_id").alias("vec_id"), "t", "tf_sat"),
            "vec_id",
        )
        .join(F.broadcast(qtf), ["qid", "t"])
        .join(F.broadcast(df_tbl), "t")
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.col("idf_u") * F.col("tfq") * F.col("tf_sat")).alias("ce_u"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("ce_u").desc(), F.col("d2"), F.col("vec_id")
    )
    return (
        top10.join(ce, ["qid", "vec_id"], "left")
        .withColumn("ce_u", F.coalesce(F.col("ce_u"), F.lit(0)))
        .withColumn("ce_rank", F.row_number().over(w))
        .filter(F.col("ce_rank") <= 5)
        .select(
            "qid",
            "ce_rank",
            "vec_id",
            F.col("rk").alias("pq_rank"),
            "d2",
            "ce_u",
        )
        .orderBy("qid", "ce_rank")
    )


def q198_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding dispersion + nearest-cluster audit (r11:
    the data-MIXING diagnostic the retrieval ladder doesn't cover —
    before sampling a corpus you ask of each labeled subset "is it
    diverse or collapsed, and which other subset does it duplicate?"):
    within-label scatter via the sums identity
    n*Sum||x||^2 - ||Sum x||^2 = n^2 * (E||x||^2 - ||E x||^2), and
    between-label structure as each centroid's nearest other centroid.

    Exactness: vectors quantize to the q141/q109 integer grid
    (floor(v*1024 + 0.5) — power-of-two scale, exact multiply); both
    scatter terms are pure int64 sums of products (bounded here by
    |x_q| <= ~540, 64 dims: n*sum_sq < 5e14 at sf~1 — at extreme
    per-label counts the same sums promote to DECIMAL per shard, the
    documented swap); the centroid is floor(s1/n) under the SHARED
    IEEE double-division expression (the q186 convention: both engines
    evaluate the identical correctly-rounded expression, so the bits
    cannot disagree); dispersion_milli is integer div by n^2.

    Scale shape: one posexplode scan with map-side partial aggregation
    into a (label x dim)-bounded frame (10 x 64 rows at ANY corpus
    size); everything after — per-label rollup, centroid pairwise
    distances, argmin — lives on that bounded frame (broadcast
    self-join, |labels|^2 pairs). No corpus-sized shuffle, no Python.

    Reference analog: none (beyond-reference mandate; similarity /
    curation family, SURVEY §2.2 I-extension).
    """
    # spread_scan A/B (r14): OFF wins 0.46 vs 0.50 s — the posexplode
    # feeds a combining (label, dim) partial agg that overlaps the
    # scan; the extra exchange is pure latency. Measured-negative.
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.posexplode("embedding").alias("d", "v"),
    ).select(
        "label",
        "d",
        F.floor(F.col("v").cast("double") * 1024 + 0.5)
        .cast("bigint")
        .alias("x"),
    )
    per_ld = x.groupBy("label", "d").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    per_label = per_ld.groupBy("label").agg(
        F.max("cnt").alias("n_vecs"),  # fixed dim: every d sees all vectors
        F.sum("s2").alias("sum_sq"),
        F.sum(F.col("s1") * F.col("s1")).alias("norm_s1_sq"),
    )
    cent = per_ld.join(
        F.broadcast(per_label.select("label", "n_vecs")), "label"
    ).select(
        "label",
        "d",
        # shared IEEE expression — identical bits in both engines
        F.floor(F.col("s1").cast("double") / F.col("n_vecs").cast("double"))
        .cast("bigint")
        .alias("c"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    pair_d2 = (
        a.join(
            F.broadcast(b),
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label"), F.col("b.label").alias("other"))
        .agg(
            F.sum(
                (F.col("a.c") - F.col("b.c")) * (F.col("a.c") - F.col("b.c"))
            ).alias("d2")
        )
    )
    nearest = pair_d2.groupBy("label").agg(
        F.min(F.struct("d2", "other")).alias("_m")
    ).select(
        "label",
        F.col("_m.other").alias("nearest_label"),
        F.col("_m.d2").alias("nearest_d2"),
    )
    return (
        per_label.join(F.broadcast(nearest), "label")
        .select(
            "label",
            "n_vecs",
            F.expr(
                "(n_vecs * sum_sq - norm_s1_sq) * 1000 div (n_vecs * n_vecs)"
            ).alias("dispersion_milli"),
            "nearest_label",
            "nearest_d2",
        )
        .orderBy("label")
    )


# q202: retrieval-threshold calibration — fixed integer bucket width of
# the exact int64 squared distance (q141 grid: |q| <= 540 per dim, so
# d2 <= 64 * 1080^2 ≈ 7.5e7; W = 2^19 gives <= ~143 buckets at ANY
# corpus size — the frame the cumulative window runs over is bounded
# by the GRID, not the data).
CALIBRATION_BUCKET_W = 1 << 19


def q202_retrieval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-threshold calibration audit (r12): the "where do I cut
    the distance threshold" planning query an embedding-retrieval or
    dedup pipeline runs before fixing an admission radius — a full
    ROC-style sweep of the one-vs-rest classifier "vector belongs to
    label 0 iff its exact squared distance to label 0's centroid is
    <= t", evaluated at every occupied integer distance bucket.

    Exactness: coordinates quantize to the q127/q141 integer grid
    (floor(v*1024+0.5)), the label-0 centroid is the integer
    floor-mean, every distance is an exact int64 sum of squared
    integer differences, buckets are d2 div 2^19, and the
    precision/recall columns are integer ppm — nothing floats, both
    engines agree bit-for-bit.

    Scale shape: one posexplode scan -> 64-row label-0 centroid
    (map-side partial agg, broadcast back) -> per-vector distance
    aggregate (the one corpus-scale shuffle, vec-keyed) -> bucket
    aggregate (map-side combinable into a GRID-bounded <=143-row
    frame) -> cumulative TP/FP window + broadcast totals over that
    bounded frame. The cumulative window never touches corpus-sized
    data.

    Reference analog: none (beyond-reference mandate; eval/planning
    family: q127 accuracy, q167 recall, q176 ranking quality).
    """
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * 1024 + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    cent0 = (
        flat.filter(F.col("label") == 0)
        .groupBy("dim")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "dim",
            F.floor(F.col("s").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("mu"),
        )
    )
    d2 = (
        flat.join(F.broadcast(cent0), "dim")
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu")))
            .alias("d2")
        )
    )
    per_bucket = (
        d2.select(
            F.expr(f"d2 div {CALIBRATION_BUCKET_W}L").alias("bucket"),
            (F.col("label") == 0).cast("int").alias("is_pos"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_pos").cast("bigint").alias("n_pos"),
            F.sum(1 - F.col("is_pos")).cast("bigint").alias("n_neg"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = per_bucket.agg(
        F.sum("n_pos").alias("_p"), F.sum("n_neg").alias("_n")
    )
    return (
        per_bucket.withColumn("tp", F.sum("n_pos").over(w).cast("bigint"))
        .withColumn("fp", F.sum("n_neg").over(w).cast("bigint"))
        .crossJoin(F.broadcast(totals))
        .select(
            ((F.col("bucket") + 1) * CALIBRATION_BUCKET_W).alias(
                "threshold_hi"
            ),
            "tp",
            "fp",
            (F.col("_p") - F.col("tp")).cast("bigint").alias("fn"),
            (F.col("_n") - F.col("fp")).cast("bigint").alias("tn"),
            F.expr("tp * 1000000L div (tp + fp)").alias("precision_ppm"),
            F.expr("tp * 1000000L div _p").alias("recall_ppm"),
        )
        .orderBy("threshold_hi")
    )


def _assign_with_d2(emb: DataFrame, cents) -> DataFrame:
    """One Arrow pass: (vec_id, cluster, d2) — argmin cell plus the
    EXACT int64 squared distance to it. Same integer-grid arithmetic
    as assign_clusters (every term an integer-valued double < 2^53,
    so the float math is exact and cross-engine-stable); ties route to
    the smaller cell in numpy (argmin = first min) and SQL alike."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    b = emb.sparkSession.sparkContext.broadcast(
        np.asarray(cents, dtype=np.float64)
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("d2", T.LongType()),
        ]
    )

    def run(batches):
        c = b.value
        c_sq = (c * c).sum(axis=1)
        for pdf in batches:
            x = np.floor(
                np.array(list(pdf["embedding"]), dtype=np.float64) * 1024.0
                + 0.5
            )
            d = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + c_sq
            amin = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cluster": amin.astype("int32"),
                    "d2": d[np.arange(len(amin)), amin].astype("int64"),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(run, schema)


def q215_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced diversity selection — the SemDeDup-adjacent
    SAMPLING story: route every embedding to its trained k-means cell
    (q75's persisted index, shared by fingerprint) and keep the 8 most
    PROTOTYPICAL members per cell (smallest exact int64 distance to
    the assigned centroid, vec_id tie-break), reporting each kept
    row's in-cell rank and the cell's member count. This is the
    coverage-preserving pick a pretraining mix uses when it wants one
    exemplar neighborhood per mode of the distribution instead of
    frequency-weighted sampling (cf. cluster-based pruning /
    prototypicality selection).

    Exactness: routing and distances ride the integer grid
    (floor(v*1024+0.5); every arithmetic term an integer-valued
    double < 2^53), so cell assignment, d2, and the rank are
    bit-stable; the oracle RETRAINS the same quantizer in SQL
    (_kmeans_cte) — a hash match certifies index, routing, and
    selection together. Scale shape: one Arrow routing pass (the
    centroid matrix broadcasts; never vectors x vectors), ONE
    cell-keyed exchange for the rank+count windows, 128-row output.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = get_or_fit_kmeans(emb, f"emb_{sf_dir}", n_clusters=16)
    routed = _assign_with_d2(emb, cents)
    w_cell = Window.partitionBy("cluster")
    ranked = (
        routed.withColumn(
            "rnk", F.row_number().over(w_cell.orderBy("d2", "vec_id"))
        )
        .withColumn("n_members", F.count(F.lit(1)).over(w_cell))
    )
    return (
        ranked.filter(F.col("rnk") <= 8)
        .select("cluster", "rnk", "vec_id", "d2", "n_members")
        .orderBy("cluster", "rnk")
    )
