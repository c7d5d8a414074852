"""DuckDB oracle SQL for every declared query (SURVEY.md §2.2).

One ANSI-SQL string per ``queries()`` key, runnable by DuckDB against
the same parquet tables (views: :data:`TABLES`). Column aliases match the
Spark DataFrames exactly — the driver sorts columns by name before
hashing values.

Dialect notes encoded here (vs the Spark side):
- money aggregates use the same DECIMAL(18,2) exact arithmetic;
- double->bigint casts always go through FLOOR (DuckDB rounds, Spark
  truncates);
- ``regexp_replace(..., 'g')`` (DuckDB replaces first match only by
  default; Spark replaces all);
- lists are 1-indexed in DuckDB vs ``getItem(0)`` in Spark;
- ``date_diff('day', a, b)`` == Spark ``datediff(b, a)``.
"""

from __future__ import annotations

# Every view an oracle query may read; each is ``<sf_dir>/<name>.parquet``.
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

ORACLE: dict[str, str] = {}

ORACLE["q01_project_arith"] = f"""
SELECT l_orderkey, l_linenumber,
       CAST(ROUND({_REV}, 2) AS DOUBLE) AS revenue
FROM lineitem
ORDER BY l_orderkey, l_linenumber
"""

ORACLE["q02_filter_predicates"] = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag IN ('A', 'R')
  AND l_linestatus LIKE 'F%'
  AND NOT (l_discount < 0.02)
  AND l_quantity BETWEEN 10 AND 40
  AND l_extendedprice IS NOT NULL
ORDER BY l_orderkey, l_linenumber
"""

ORACLE["q03_case_when"] = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS tier,
       o_orderstatus,
       COUNT(*) AS cnt
FROM orders
GROUP BY tier, o_orderstatus
ORDER BY tier, o_orderstatus
"""

ORACLE["q04_cast_coalesce"] = """
SELECT o_orderkey,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
       CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR) AS price_str,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day_str
FROM orders
ORDER BY o_orderkey
"""

ORACLE["q05_join_inner"] = f"""
SELECT c_custkey, c_name,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
"""

ORACLE["q06_join_broadcast"] = """
SELECT r_name, n_name, COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""

ORACLE["q07_join_left_outer"] = """
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE), 0.0)
         AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
"""

ORACLE["q08_join_semi"] = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
ORDER BY c_custkey
"""

ORACLE["q09_join_anti"] = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
ORDER BY c_custkey
"""

ORACLE["q10_join_range"] = """
SELECT p_partkey, CAST(SUM(cnt) AS BIGINT) AS n_items_le_size
FROM part
JOIN (SELECT l_quantity AS qty, COUNT(*) AS cnt FROM lineitem GROUP BY l_quantity) q
  ON q.qty <= p_size
GROUP BY p_partkey
ORDER BY p_partkey
"""

ORACLE["q11_join_cross"] = """
SELECT r_name, segment
FROM region
CROSS JOIN (SELECT DISTINCT c_mktsegment AS segment FROM customer) s
ORDER BY r_name, segment
"""

ORACLE["q12_join_self"] = """
SELECT a.o_custkey AS custkey, COUNT(*) AS pair_cnt
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey AND b.o_orderdate > a.o_orderdate
GROUP BY a.o_custkey
ORDER BY custkey
"""

ORACLE["q13_tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM({_REV} * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
       CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_qty,
       CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS DOUBLE) AS avg_price,
       CAST(ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLE["q14_count_distinct"] = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_custkey) AS n_cust,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

ORACLE["q15_rollup"] = """
SELECT n_name, c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY g_nation, g_segment, n_name NULLS FIRST, c_mktsegment NULLS FIRST
"""

ORACLE["q16_having"] = """
SELECT c_mktsegment,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 1000000
ORDER BY c_mktsegment
"""

ORACLE["q17_global_agg"] = """
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
       CAST(ROUND(MIN(l_quantity), 2) AS DOUBLE) AS min_qty,
       CAST(ROUND(MAX(l_quantity), 2) AS DOUBLE) AS max_qty
FROM lineitem
"""

ORACLE["q18_window_rank"] = """
SELECT o_custkey, o_orderkey, rn, rk, drk, quartile
FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER w AS rn,
         RANK() OVER w AS rk,
         DENSE_RANK() OVER w AS drk,
         NTILE(4) OVER w AS quartile
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
) t
WHERE rn <= 3
ORDER BY o_custkey, rn
"""

ORACLE["q19_window_lag"] = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(date_diff('day',
            LAG(CAST(o_orderdate AS DATE)) OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
            CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
FROM orders
ORDER BY custkey, orderkey
"""

ORACLE["q20_window_running_sum"] = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS running_total
FROM orders
ORDER BY custkey, orderkey
"""

ORACLE["q21_sort_nulls"] = """
SELECT o_orderkey, pri, rnk
FROM (
  SELECT o_orderkey,
         NULLIF(o_orderpriority, '1-URGENT') AS pri,
         ROW_NUMBER() OVER (ORDER BY NULLIF(o_orderpriority, '1-URGENT') DESC NULLS LAST,
                            o_orderkey) AS rnk
  FROM orders
) t
ORDER BY rnk
"""

ORACLE["q22_topk"] = f"""
SELECT p_partkey, p_name, CAST(ROUND(_rev, 2) AS DOUBLE) AS revenue
FROM (
  SELECT p_partkey, p_name, SUM({_REV}) AS _rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_partkey, p_name
  ORDER BY _rev DESC, p_partkey
  LIMIT 10
) t
ORDER BY p_partkey
"""

ORACLE["q23_union"] = """
SELECT c_custkey, COUNT(*) AS dup_cnt
FROM (
  SELECT c_custkey FROM customer WHERE c_acctbal > 7000
  UNION ALL
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
) u
GROUP BY c_custkey
ORDER BY c_custkey
"""

ORACLE["q24_intersect_except"] = """
SELECT c_custkey, tag FROM (
  SELECT c_custkey, 'both' AS tag FROM (
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  ) i
  UNION ALL
  SELECT c_custkey, 'only_rich' AS tag FROM (
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
  ) e
) t
ORDER BY tag, c_custkey
"""

ORACLE["q25_distinct"] = """
SELECT DISTINCT c_nationkey AS nationkey, c_mktsegment AS segment
FROM customer
ORDER BY nationkey, segment
"""

ORACLE["q26a_string_funcs"] = """
SELECT p_partkey,
       UPPER(p_name) AS up,
       LOWER(p_brand) AS lo,
       SUBSTR(p_name, 1, 4) AS prefix,
       LENGTH(p_name) AS name_len,
       CONCAT(p_brand, '/', p_type) AS brand_type,
       TRIM(p_type) AS type_trim,
       regexp_extract(p_name, '([a-z]+)', 1) AS first_word_re,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS devowel,
       CAST(len(str_split(p_name, ' ')) AS INT) AS n_words,
       str_split(p_name, ' ')[1] AS word0
FROM part
ORDER BY p_partkey
"""

ORACLE["q26b_datetime_funcs"] = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       CAST(day(o_orderdate) AS INT) AS dy,
       CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
         AS days_since_epoch0,
       CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) AS month_start,
       CAST(TIMESTAMP '2024-01-01 12:34:56' AS VARCHAR) AS const_ts
FROM orders
ORDER BY o_orderkey
"""

ORACLE["q26c_math_funcs"] = """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 1) AS r1,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS fl,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS ce,
       CAST(ROUND(ABS(l_discount - 0.05), 4) AS DOUBLE) AS ab,
       CAST(l_orderkey % 7 AS BIGINT) AS md,
       CAST(ROUND(POWER(l_quantity, 2), 2) AS DOUBLE) AS pw,
       CAST(ROUND(LN(l_extendedprice), 6) AS DOUBLE) AS lnp,
       CAST(ROUND(SQRT(l_quantity), 6) AS DOUBLE) AS sq
FROM lineitem
ORDER BY l_orderkey, l_linenumber
"""

ORACLE["q26d_array_funcs"] = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(ROUND(CAST(embedding[1] AS DOUBLE), 4) AS DOUBLE) + 0.0 AS e1,
       CAST(ROUND(CAST(list_min(embedding) AS DOUBLE), 4) AS DOUBLE) + 0.0 AS emin,
       CAST(ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS DOUBLE) + 0.0 AS emax,
       CAST(ROUND(CAST(list_sort(embedding)[2] AS DOUBLE), 4) AS DOUBLE) + 0.0 AS second_smallest
FROM embeddings
ORDER BY vec_id
"""

ORACLE["q26e_json_funcs"] = """
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLE["q27_join_full_outer"] = """
SELECT COALESCE(k_spend, k_rich) AS custkey,
       k_spend IS NOT NULL AS is_big_spender,
       k_rich IS NOT NULL AS is_rich,
       CAST(ROUND(_spent, 2) AS DOUBLE) AS spent,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
FROM (
  SELECT o_custkey AS k_spend, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _spent
  FROM orders GROUP BY o_custkey
  HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 400000
) s
FULL OUTER JOIN (
  SELECT c_custkey AS k_rich, c_acctbal FROM customer WHERE c_acctbal > 9000
) r ON s.k_spend = r.k_rich
ORDER BY custkey
"""

# Sketch queries hash the tolerance CHECK, not the sketch estimate:
# each engine runs its own approx aggregate (HLL++ vs DuckDB HLL;
# Greenwald-Khanna vs t-digest) and emits |approx-exact|/exact <= tol
# as a boolean — identical across engines when both sketches meet
# their accuracy bound. tests/test_queries.py separately asserts the
# booleans are all TRUE (a matched pair of FALSEs would hash green).
ORACLE["q28_approx_distinct"] = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_cust,
       ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
         <= 0.12 * COUNT(DISTINCT o_custkey) AS approx_within_12pct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLE["q103_approx_percentile"] = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ABS(approx_quantile(o_totalprice, 0.5)
           - quantile_cont(o_totalprice, 0.5))
         <= 0.02 * ABS(quantile_cont(o_totalprice, 0.5)) AS p50_within_2pct,
       ABS(approx_quantile(o_totalprice, 0.95)
           - quantile_cont(o_totalprice, 0.95))
         <= 0.02 * ABS(quantile_cont(o_totalprice, 0.95)) AS p95_within_2pct
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLE["q29_embedding_norm"] = """
SELECT vec_id,
       CAST(ROUND(SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))), 4) AS DOUBLE)
         AS l2_norm,
       CAST(ROUND(CAST(embedding[1] AS DOUBLE)
                  / SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[]))), 6) AS DOUBLE)
         AS e1_normalized
FROM embeddings
ORDER BY vec_id
"""

ORACLE["q34_join_right"] = """
SELECT c_custkey, c_nationkey,
       COUNT(o_orderkey) AS n_orders,
       MAX(o_orderstatus) AS last_status
FROM orders
RIGHT JOIN (SELECT * FROM customer WHERE c_nationkey < 5) c
  ON o_custkey = c_custkey
GROUP BY c_custkey, c_nationkey
ORDER BY c_custkey
"""

ORACLE["q31_tumbling_window"] = """
SELECT CAST(time_bucket(INTERVAL '5 minutes', ts) AS VARCHAR) AS ws,
       event_type,
       COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY ws, event_type
"""

ORACLE["q32_sliding_window"] = """
SELECT CAST(ws AS VARCHAR) AS ws, event_type, COUNT(*) AS cnt
FROM (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL (k * 5) MINUTE AS ws,
         event_type
  FROM events, (SELECT unnest([0, 1]) AS k) slides
) t
GROUP BY ws, event_type
ORDER BY ws, event_type
"""

# Session windows: Spark merges an event iff ts < last_ts + gap, so a
# new session starts when the gap is >= 30 minutes. end = max(ts) + gap.
ORACLE["q33_session_window"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       CAST(MAX(ts) + INTERVAL '30 minutes' AS VARCHAR) AS session_end,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""

ORACLE["q40_dedup_exact"] = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_id
"""

ORACLE["q41_token_stats"] = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST((SUM(len(str_split(text, ' '))) * 1000000) // COUNT(*) AS BIGINT)
         AS avg_tokens_micro,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
ORDER BY lang
"""

ORACLE["q42_quality_score"] = """
SELECT doc_id, lang,
       CAST(len(str_split(text, ' ')) AS INT) AS nt,
       CAST(length(text) AS INT) AS len_chars,
       CAST(ROUND(length(replace(text, ' ', ''))
                  / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) AS DOUBLE) AS avg_token_len,
       CAST(ROUND(len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a')))
                  / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) AS DOUBLE) AS stopword_ratio,
       CAST(ROUND(len(list_distinct(str_split(text, ' ')))
                  / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) AS DOUBLE) AS distinct_ratio,
       CAST(ROUND(LN(1 + CAST(len(str_split(text, ' ')) AS DOUBLE))
                  * (1 - len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a')))
                       / CAST(len(str_split(text, ' ')) AS DOUBLE)), 4) AS DOUBLE) AS quality
FROM documents
WHERE doc_id < 500
ORDER BY doc_id
"""

# 3-token shingles as a per-row list (1-indexed inclusive list_slice).
_SHINGLES = """list_transform(
    generate_series(1, greatest(0, len(str_split(text, ' ')) - 2)),
    i -> array_to_string(list_slice(str_split(text, ' '), i, i + 2), ' '))"""

ORACLE["q44_ngram_jaccard"] = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 200
), inv AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), common AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sized AS (
  SELECT ida, idb,
         CAST(ROUND(common / CAST(sa.n + sb.n - common AS DOUBLE), 6) AS DOUBLE) AS jaccard
  FROM common
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sa ON sa.doc_id = ida
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sb ON sb.doc_id = idb
)
SELECT ida, idb, jaccard FROM (
  SELECT * FROM sized ORDER BY jaccard DESC, ida, idb LIMIT 20
) t
ORDER BY ida, idb
"""

ORACLE["q45_fingerprint"] = f"""
SELECT doc_id,
       md5(text) AS exact_fp,
       list_aggregate(list_transform({_SHINGLES}, s -> md5(s)), 'min') AS shingle_fp
FROM documents
ORDER BY doc_id
"""

ORACLE["q45b_fingerprint_agg"] = f"""
WITH fp AS (
  SELECT source,
         md5(text) AS exact_fp,
         list_aggregate(list_transform({_SHINGLES}, s -> md5(s)), 'min')
           AS shingle_fp
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT exact_fp) AS BIGINT) AS n_exact_fp,
       CAST(COUNT(DISTINCT shingle_fp) AS BIGINT) AS n_shingle_fp,
       CAST(COUNT(*) - COUNT(DISTINCT exact_fp) AS BIGINT) AS n_dup_exact
FROM fp
GROUP BY source
ORDER BY source
"""

# MinHash affine family (see functions/text.py): base = 61-bit md5 prefix
# mod P; h_j = (A_j*base + B_j) mod P, all exact int64 in both engines.
_MH = "list_transform(bases, x -> (x * {a} + {b}) % 2147483647)"

ORACLE["q46_minhash_lsh"] = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
), tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM all_docs
), based AS (
  -- token-level shingle hashes (see functions/text.py token_shingle_hashes):
  -- each product reduced mod P before summing to stay inside int64
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS digest FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
)
SELECT DISTINCT l.doc_id AS ida, r.doc_id AS idb
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.digest = r.digest AND l.doc_id < r.doc_id
ORDER BY ida, idb
"""

ORACLE["q43_cosine_topk"] = """
WITH q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), sims AS (
  SELECT e.vec_id,
         CAST(ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))),
           4) AS DOUBLE) AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, sim FROM (
  SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT 5
) t
ORDER BY vec_id
"""

ORACLE["q51_lang_id"] = """
WITH tok AS (
  SELECT lang, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t
), profile AS (
  SELECT lang AS p_lang, t FROM (
    SELECT lang, t, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rn
    FROM counts
  ) WHERE rn <= 20
), doc_toks AS (
  SELECT doc_id, lang, unnest(list_distinct(str_split(text, ' '))) AS t
  FROM documents WHERE doc_id < 500
), overlap AS (
  SELECT doc_id, lang, p_lang, COUNT(*) AS overlap
  FROM doc_toks JOIN profile USING (t)
  GROUP BY doc_id, lang, p_lang
)
SELECT doc_id, lang AS true_lang, p_lang AS pred_lang, p_lang = lang AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY overlap DESC, p_lang) AS rn
  FROM overlap
) WHERE rn = 1
ORDER BY doc_id
"""

ORACLE["q50_cosine_dup_pairs"] = """
WITH sliced AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id < 2000
), all_vecs AS (
  SELECT vec_id, e FROM sliced
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, e FROM sliced WHERE vec_id < 10
), pairs AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(ROUND(list_inner_product(a.e, b.e)
              / (SQRT(list_inner_product(a.e, a.e)) * SQRT(list_inner_product(b.e, b.e))),
              4) AS DOUBLE) AS sim
  FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
)
SELECT ida, idb, sim FROM pairs WHERE sim >= 0.99
ORDER BY ida, idb
"""

ORACLE["q35_median_segment"] = """
SELECT c_mktsegment,
       CAST(ROUND(MEDIAN(o_totalprice), 3) AS DOUBLE) AS median_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""

ORACLE["q35b_median_native"] = ORACLE["q35_median_segment"]

ORACLE["q37_zscore"] = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(ROUND(
         CASE WHEN STDDEV_POP(o_totalprice) OVER w = 0 THEN 0.0
              ELSE (o_totalprice - AVG(o_totalprice) OVER w)
                   / STDDEV_POP(o_totalprice) OVER w END, 4) AS DOUBLE) + 0.0 AS zscore
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
ORDER BY custkey, orderkey
"""

ORACLE["q37b_zscore_window"] = ORACLE["q37_zscore"]

ORACLE["q61_token_regex"] = """
WITH tok AS (
  SELECT doc_id,
         CAST(len(str_split(text, ' ')) AS INT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
           AS bpe_tokens,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents
)
SELECT doc_id, ws_tokens, bpe_tokens,
       list_reduce(list_prepend(CAST(0 AS BIGINT), tb),
                   (acc, x) -> (acc * 1000003 + x) % 2147483647) AS roll_fp
FROM tok
ORDER BY doc_id
"""

ORACLE["q49_multimodal_binary"] = """
SELECT doc_id, source,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
ORDER BY doc_id
"""

ORACLE["q52_percentiles"] = """
SELECT o_orderstatus,
       CAST(ROUND(quantile_cont(o_totalprice, 0.5), 4) AS DOUBLE) AS p50,
       CAST(ROUND(quantile_cont(o_totalprice, 0.9), 4) AS DOUBLE) AS p90,
       CAST(ROUND(quantile_cont(o_totalprice, 0.99), 4) AS DOUBLE) AS p99
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

ORACLE["q53_pivot"] = """
SELECT n_name,
       COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS "AUTOMOBILE",
       COUNT(*) FILTER (c_mktsegment = 'BUILDING')   AS "BUILDING",
       COUNT(*) FILTER (c_mktsegment = 'FURNITURE')  AS "FURNITURE",
       COUNT(*) FILTER (c_mktsegment = 'HOUSEHOLD')  AS "HOUSEHOLD",
       COUNT(*) FILTER (c_mktsegment = 'MACHINERY')  AS "MACHINERY"
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

ORACLE["q54_posexplode"] = """
SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       CAST(ROUND(CAST(embedding[i] AS DOUBLE), 4) AS DOUBLE) AS val
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
WHERE vec_id < 10
ORDER BY vec_id, pos
"""

ORACLE["q55_scalar_subquery"] = """
WITH threshold AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS t
  FROM orders
)
SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
FROM orders
WHERE o_totalprice > (SELECT t FROM threshold) * 1.5
ORDER BY o_orderkey
"""

ORACLE["q57_string_extra"] = """
SELECT p_partkey,
       lpad(p_brand, 10, '*') AS lp,
       rpad(p_brand, 10, '*') AS rp,
       reverse(p_name) AS rev,
       repeat(p_type, 2) AS rep,
       replace(p_name, ' ', '_') AS und,
       translate(p_name, 'aeiou', 'AEIOU') AS tr,
       CAST(levenshtein(p_name, 'red widget') AS INT) AS lev,
       starts_with(p_name, 'red') AS is_red,
       contains(p_name, 'bolt') AS has_bolt
FROM part
ORDER BY p_partkey
"""

ORACLE["q58_map_funcs"] = """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
       CAST(len(json_keys(props)) AS INT) AS n_keys,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
ORDER BY event_id
"""

ORACLE["q59_exists_subquery"] = """
SELECT o_orderkey,
       EXISTS (SELECT 1 FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         AS has_bulk_item
FROM orders o
ORDER BY o_orderkey
"""

ORACLE["q60_range_frame"] = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       COUNT(*) OVER w AS n_30d,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE)
         AS rev_30d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
ORDER BY custkey, orderkey
"""

ORACLE["q62_asof_join"] = """
WITH clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purch AS (
  SELECT user_id, ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id,
       CAST(p.ts AS VARCHAR) AS purchase_ts,
       c.click_id
FROM purch p
ASOF LEFT JOIN clicks c ON c.user_id = p.user_id AND c.ts <= p.ts
ORDER BY purchase_id
"""

ORACLE["q63_window_analytics"] = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
       CAST(ROUND(CUME_DIST() OVER w, 6) AS DOUBLE) AS cdist,
       NTH_VALUE(o_orderkey, 2) OVER wf AS second_order,
       FIRST_VALUE(o_orderkey) OVER wf AS first_order,
       LAST_VALUE(o_orderkey) OVER wf AS last_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY custkey, orderkey
"""

ORACLE["q64_date_format"] = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m') AS ym,
       CAST(isodow(o_orderdate) - 1 AS INT) AS dow_mon0,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
ORDER BY o_orderkey
"""

ORACLE["q65_grouping_sets"] = """
SELECT n_name, c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
ORDER BY g_nation, g_segment, n_name NULLS FIRST, c_mktsegment NULLS FIRST
"""

ORACLE["q66_array_agg"] = """
SELECT r_name,
       array_to_string(list_sort(list(n_name)), '|') AS nations,
       array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nation_csv,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""

# Exact decimal moment sums -> bit-identical derived statistics (builtin
# stddev/corr partial-merge doubles in partition order: not reproducible).
ORACLE["q67_stats_agg"] = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sqq,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sp,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS spp,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sqp
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(ROUND(SQRT((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)), 4) AS DOUBLE) AS stddev_qty,
       CAST(ROUND((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 2) AS DOUBLE) AS var_price_pop,
       CAST(ROUND(((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
            / (SQRT((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
               * SQRT((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))), 6) AS DOUBLE) AS corr_qty_price
FROM m
ORDER BY l_returnflag
"""

ORACLE["q36_supplier_nation"] = """
SELECT n_name, COUNT(*) AS n_supp,
       CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""

# --- Complex multi-join analytics (operators/analytics.py) -----------------

ORACLE["q68_shipping_priority"] = f"""
SELECT l_orderkey, revenue, orderdate, o_orderpriority
FROM (
  SELECT l_orderkey,
         CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
         o_orderpriority
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
    AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
  ORDER BY revenue DESC, orderdate, l_orderkey
  LIMIT 10
)
ORDER BY l_orderkey
"""

ORACLE["q69_local_supplier_volume"] = f"""
SELECT n_name,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""

ORACLE["q70_returned_items"] = f"""
SELECT c_custkey, c_name, n_name, revenue, acctbal
FROM (
  SELECT c_custkey, c_name, n_name,
         CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue,
         CAST(ROUND(MAX(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS acctbal
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  GROUP BY c_custkey, c_name, n_name
  ORDER BY revenue DESC, c_custkey
  LIMIT 20
)
ORDER BY c_custkey
"""

ORACLE["q71_large_volume_customer"] = """
SELECT c_name, c_custkey, o_orderkey, orderdate, totalprice, sum_qty
FROM (
  SELECT c_name, c_custkey, o_orderkey,
         CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
         CAST(ROUND(big._sumqty, 2) AS DOUBLE) AS sum_qty
  FROM (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS _sumqty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
  ) big
  JOIN orders ON big.l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  ORDER BY totalprice DESC, o_orderkey
  LIMIT 100
)
ORDER BY o_orderkey
"""

ORACLE["q72_inactive_rich_customers"] = """
SELECT c_nationkey, COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2))
        * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

ORACLE["q73_cheapest_lineitem_per_part"] = """
SELECT p_partkey, p_name, l_orderkey, l_linenumber,
       CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
FROM lineitem l
JOIN part ON l_partkey = p_partkey
WHERE p_size < 10
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice) FROM lineitem l2
    JOIN part p2 ON l2.l_partkey = p2.p_partkey
    WHERE l2.l_partkey = l.l_partkey AND p2.p_size < 10
  )
ORDER BY p_partkey, l_orderkey, l_linenumber
"""

ORACLE["q38_price_histogram"] = """
SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
       COUNT(*) AS cnt,
       CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS lo,
       CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS hi
FROM orders
GROUP BY bucket
ORDER BY bucket
"""

ORACLE["q39_mode_per_group"] = """
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
ORDER BY o_orderstatus
"""

# --- Dup-cluster connected components (operators/dedup.py) -----------------
# Edge set = exactly q46's LSH candidate pairs; the recursive CTE
# propagates minimum labels along edges (only ever downhill: a label
# moves to a neighbor with a larger id, so the state space is finite
# and UNION-dedup terminates the recursion at the fixpoint).

_PAIRS_NO_ORDER = ORACLE["q46_minhash_lsh"].rsplit("ORDER BY", 1)[0]

ORACLE["q74_dup_clusters"] = f"""
WITH RECURSIVE pairs AS (
{_PAIRS_NO_ORDER}
), edges AS (
  SELECT ida AS a, idb AS b FROM pairs
  UNION ALL
  SELECT idb AS a, ida AS b FROM pairs
), walk(node, lbl) AS (
  SELECT DISTINCT a AS node, a AS lbl FROM edges
  UNION
  SELECT e.b AS node, w.lbl
  FROM walk w JOIN edges e ON e.a = w.node
  WHERE w.lbl < e.b
)
SELECT node, MIN(lbl) AS cluster_id
FROM walk
GROUP BY node
ORDER BY node
"""

# --- Training-data preprocessing (operators/preprocess.py) -----------------

ORACLE["q76_merge_upsert"] = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus AS status,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS price
  FROM orders
), source AS (
  SELECT o_orderkey, 'U' AS status,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS price
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'N',
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       COALESCE(s.status, t.status) AS status,
       COALESCE(s.price, t.price) AS price,
       CASE WHEN s.status IS NULL THEN 'keep'
            WHEN t.status IS NULL THEN 'insert'
            ELSE 'update' END AS op
FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
ORDER BY o_orderkey
"""

ORACLE["q77_hash_split"] = """
WITH b AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 2147483647 % 100 AS bucket,
         lang
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM b
GROUP BY split, lang
ORDER BY split, lang
"""

ORACLE["q78_normalize_dedup"] = """
WITH all_docs AS (
  SELECT text FROM documents
  UNION ALL
  SELECT regexp_replace(upper(text), ' ', '  ', 'g') FROM documents WHERE doc_id < 15
), h AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS _h
  FROM all_docs
), g AS (
  SELECT _h, COUNT(*) AS n_copies FROM h GROUP BY _h
)
SELECT n_copies, COUNT(*) AS n_groups
FROM g
GROUP BY n_copies
ORDER BY n_copies
"""

ORACLE["q79_pii_scrub"] = """
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from '
              || CAST(doc_id % 256 AS VARCHAR) || '.0.0.1' AS t
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS INT) AS n_ips,
       CASE WHEN len(s) <= 40 THEN s ELSE substr(s, len(s) - 39, 40) END AS tail
FROM (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z0-9]+\\.[a-z]+', '<EMAIL>', 'g'),
                        '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g') AS s
  FROM planted
)
ORDER BY doc_id
"""

ORACLE["q80_chunk_documents"] = """
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS tk FROM documents WHERE doc_id < 300
), fan AS (
  SELECT doc_id, tk,
         unnest(generate_series(0, CAST(CEIL(len(tk) / 32.0) AS INT) - 1)) AS chunk_idx
  FROM toks
)
SELECT doc_id, chunk_idx,
       CAST(len(tk[chunk_idx*32+1 : chunk_idx*32+32]) AS INT) AS n_tokens,
       md5(array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+32], ' ')) AS chunk_md5
FROM fan
ORDER BY doc_id, chunk_idx
"""

ORACLE["q82_higher_order_funcs"] = """
SELECT vec_id,
       CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS INT) AS n_pos,
       CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.25)) > 0 AS BOOLEAN) AS any_big,
       CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> CAST(FLOOR(x * 1000) AS BIGINT))) AS BIGINT) AS sum_milli,
       CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 2, 4) AS DOUBLE) AS head_x2
FROM embeddings
WHERE vec_id < 500
ORDER BY vec_id
"""

# --- Event-stream analytics (operators/events.py) --------------------------

ORACLE["q83_funnel"] = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click,
       (SELECT COUNT(*) FROM p) AS n_purchase
"""

ORACLE["q84_retention"] = """
WITH first_ev AS (
  SELECT user_id, MIN(ts) AS _first FROM events GROUP BY user_id
)
SELECT CAST(CAST(date_trunc('week', _first) AS DATE) AS VARCHAR) AS cohort_week,
       CAST(FLOOR(date_diff('day', CAST(date_trunc('week', _first) AS DATE),
                            CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN first_ev f ON e.user_id = f.user_id
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""

ORACLE["q85_event_transitions"] = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
FROM seq
WHERE next_type IS NOT NULL
GROUP BY from_type, to_type
ORDER BY from_type, to_type
"""

# --- SQL-surface ops (operators/sqlsurface.py) -----------------------------

ORACLE["q86_unpivot"] = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
         CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS max_price,
         CAST(COUNT(*) AS DOUBLE) AS n_orders
  FROM orders
  GROUP BY o_orderstatus
)
SELECT o_orderstatus, metric, val
FROM wide
UNPIVOT (val FOR metric IN (total_price, max_price, n_orders))
ORDER BY o_orderstatus, metric
"""

ORACLE["q87_lateral_topn"] = """
SELECT n_name, t.c_custkey,
       CAST(ROUND(CAST(t.c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
FROM nation, LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) t
ORDER BY n_name, t.c_custkey
"""

ORACLE["q88_date_spine"] = """
WITH RECURSIVE spine(d) AS (
  SELECT DATE '2024-01-01'
  UNION ALL
  SELECT d + INTERVAL 1 DAY FROM spine WHERE d < DATE '2024-01-30'
),
daily AS (
  SELECT CAST(ts AS DATE) AS d, COUNT(*) AS cnt
  FROM events
  GROUP BY CAST(ts AS DATE)
)
SELECT CAST(CAST(spine.d AS DATE) AS VARCHAR) AS day, COALESCE(daily.cnt, 0) AS n_events
FROM spine LEFT JOIN daily ON spine.d = daily.d
ORDER BY day
"""

# --- Eval-set decontamination (operators/dedup.py) -------------------------

ORACLE["q89_decontamination"] = """
WITH tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS sh
  FROM tok
), ev AS (
  SELECT doc_id AS eval_id, unnest(sh) AS s FROM based WHERE doc_id % 101 = 0
), tr AS (
  SELECT doc_id AS train_id, unnest(sh) AS s FROM based
  WHERE doc_id % 101 <> 0 AND doc_id < 500
)
SELECT train_id, eval_id, COUNT(*) AS n_shared
FROM tr JOIN ev ON tr.s = ev.s
GROUP BY train_id, eval_id
ORDER BY train_id, eval_id
"""

# --- Curation pipeline capstone (operators/pipeline.py) --------------------

ORACLE["q90_curation_pipeline"] = """
WITH staged AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS _h,
         CAST(ROUND(LN(1 + CAST(len(str_split(text, ' ')) AS DOUBLE))
                    * (1 - len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a')))
                         / CAST(len(str_split(text, ' ')) AS DOUBLE)), 4) AS DOUBLE) AS quality,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 2147483647 % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY _h ORDER BY doc_id) AS _rn
    FROM staged
  ) WHERE _rn = 1
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(ROUND(SUM(CAST(FLOOR(quality * 10000) AS BIGINT))
                  / (COUNT(*) * 10000.0), 4) AS DOUBLE) AS avg_quality
FROM deduped
WHERE quality > 0.5
GROUP BY split, lang
ORDER BY split, lang
"""

# --- curation operators (operators/curation.py) -----------------------

ORACLE["q91_gopher_rules"] = """
WITH s AS (
  SELECT doc_id,
         len(str_split(text, ' ')) AS nt,
         length(replace(text, ' ', ''))
           / CAST(len(str_split(text, ' ')) AS DOUBLE) AS awl,
         len(list_filter(str_split(text, ' '), t -> t IN ('the', 'a'))) AS nstop,
         len(list_distinct(str_split(text, ' ')))
           / CAST(len(str_split(text, ' ')) AS DOUBLE) AS dr
  FROM documents WHERE doc_id < 500
)
SELECT doc_id,
       CAST(nt AS INT) AS nt,
       CAST(ROUND(awl, 4) AS DOUBLE) AS avg_word_len,
       CAST(nstop AS INT) AS n_stopwords,
       CAST(ROUND(dr, 4) AS DOUBLE) AS distinct_ratio,
       nt >= 10 AS rule_min_words,
       nt <= 120 AS rule_max_words,
       (awl >= 3.0 AND awl <= 10.0) AS rule_word_len,
       nstop >= 2 AS rule_stopwords,
       dr > 0.2 AS rule_distinct,
       (nt >= 10 AND nt <= 120 AND awl >= 3.0 AND awl <= 10.0
        AND nstop >= 2 AND dr > 0.2) AS passes
FROM s
ORDER BY doc_id
"""

ORACLE["q92_repetition"] = """
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS nt
  FROM documents WHERE doc_id < 500
), big AS (
  SELECT doc_id, nt,
         list_transform(generate_series(1, greatest(0, nt - 1)),
                        i -> array_to_string(list_slice(tk, i, i + 1), ' ')) AS bg
  FROM toks
), perrow AS (
  SELECT doc_id, nt,
         CAST(ROUND(1.0 - len(list_distinct(bg))
                          / CAST(greatest(len(bg), 1) AS DOUBLE), 4) AS DOUBLE)
           AS dup_bigram_frac
  FROM big
), tc AS (
  SELECT doc_id, t, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
  GROUP BY doc_id, t
), top AS (
  SELECT doc_id, MAX(c) AS top_tok_cnt FROM tc GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.nt AS INT) AS nt, top.top_tok_cnt,
       CAST(ROUND(top.top_tok_cnt / CAST(p.nt AS DOUBLE), 4) AS DOUBLE)
         AS top_token_frac,
       p.dup_bigram_frac,
       (ROUND(top.top_tok_cnt / CAST(p.nt AS DOUBLE), 4) > 0.2
        OR p.dup_bigram_frac > 0.3) AS flagged
FROM perrow p JOIN top USING (doc_id)
ORDER BY doc_id
"""

ORACLE["q93_domain_mix"] = """
WITH staged AS (
  SELECT source,
         CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 5 THEN 100
              WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 10 THEN 50
              ELSE 25 END AS rate_pct,
         CASE WHEN CAST('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 2147483647 % 100
                   < CASE WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 5 THEN 100
                          WHEN CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) < 10 THEN 50
                          ELSE 25 END
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, rate_pct,
       COUNT(*) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST((SUM(kept) * 1000000) // COUNT(*) AS BIGINT) AS eff_rate_ppm
FROM staged
GROUP BY source, rate_pct
ORDER BY source
"""

ORACLE["q94_pack_sequences"] = """
WITH staged AS (
  SELECT lang, doc_id, len(str_split(text, ' ')) AS nt,
         SUM(len(str_split(text, ' '))) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
), binned AS (
  SELECT lang, nt, CAST(FLOOR((cum - nt) / 256.0) AS BIGINT) AS bin FROM staged
)
SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS bin_tokens,
       CAST((SUM(nt) * 1000000) // 256 AS BIGINT) AS fill_ratio_ppm
FROM binned
GROUP BY lang, bin
ORDER BY lang, bin
"""

ORACLE["q95_tfidf"] = """
WITH n AS (
  SELECT COUNT(*) AS n_corpus FROM documents
), df AS (
  SELECT t, COUNT(*) AS df
  FROM (SELECT unnest(list_distinct(str_split(text, ' '))) AS t FROM documents)
  GROUP BY t
), tf AS (
  SELECT doc_id, t, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t
        FROM documents WHERE doc_id < 200)
  GROUP BY doc_id, t
), scored AS (
  SELECT tf.doc_id, tf.t AS term, tf.tf, df.df,
         CAST(ROUND(tf.tf * LN(CAST(n.n_corpus AS DOUBLE) / df.df), 4) AS DOUBLE)
           AS tfidf
  FROM tf JOIN df ON tf.t = df.t CROSS JOIN n
)
SELECT doc_id, rn, term, tf, df, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored
) ranked
WHERE rn <= 3
ORDER BY doc_id, rn
"""

ORACLE["q96_stratified_sample"] = """
WITH sizes AS (
  SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang
), ranked AS (
  SELECT d.lang, d.doc_id, s.n_stratum,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
  FROM documents d JOIN sizes s ON d.lang = s.lang
)
SELECT lang, n_stratum, COUNT(*) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum, MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
FROM ranked
WHERE rn <= (n_stratum + 9) // 10
GROUP BY lang, n_stratum
ORDER BY lang
"""

ORACLE["q97_quality_audit"] = """
WITH checks AS (
  SELECT 'lineitem.shipdate_range' AS rule,
         (SELECT COUNT(*) FROM lineitem
          WHERE l_shipdate < DATE '1992-01-01'
             OR l_shipdate > DATE '1998-12-31') AS n_violations
  UNION ALL SELECT 'lineitem.discount_range',
         (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5)
  UNION ALL SELECT 'lineitem.orphan_orderkey',
         (SELECT COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL SELECT 'lineitem.qty_positive',
         (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
  UNION ALL SELECT 'orders.null_custkey',
         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
  UNION ALL SELECT 'orders.orphan_custkey',
         (SELECT COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL SELECT 'orders.totalprice_positive',
         (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
)
SELECT rule, n_violations FROM checks ORDER BY rule
"""

ORACLE["q98_bm25"] = """
WITH stats AS (
  SELECT COUNT(*) AS n_corpus, SUM(len(str_split(text, ' '))) AS sum_dl
  FROM documents
), df AS (
  SELECT t, COUNT(*) AS df
  FROM (SELECT unnest(list_distinct(str_split(text, ' '))) AS t FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY t
), tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, len(str_split(text, ' ')) AS dl,
               unnest(str_split(text, ' ')) AS t
        FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY doc_id, dl, t
), scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(SUM(
           LN((CAST(s.n_corpus AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                / (CAST(s.sum_dl AS DOUBLE) / s.n_corpus)))
         ), 4) AS DOUBLE) AS bm25,
         COUNT(*) AS n_terms_hit
  FROM tf JOIN df ON tf.t = df.t CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25, n_terms_hit FROM (
  SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
) t
ORDER BY doc_id
"""

ORACLE["q99_centroid_outliers"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label, dim, SUM(q) AS sum_q, COUNT(*) AS n FROM flat GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, f.label,
         CAST(SUM((f.q * c.n - c.sum_q) * (f.q * c.n - c.sum_q)) AS BIGINT) AS dist2_scaled
  FROM flat f JOIN cent c ON f.label = c.label AND f.dim = c.dim
  GROUP BY f.vec_id, f.label
)
SELECT label, rn, vec_id, dist2_scaled FROM (
  SELECT label, vec_id, dist2_scaled,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2_scaled DESC, vec_id) AS rn
  FROM dist
) ranked
WHERE rn <= 3
ORDER BY label, rn
"""

ORACLE["q100_scd2"] = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE user_id < 50
), runs AS (
  SELECT user_id, event_type, ts,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM changes
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(next_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       next_ts IS NULL AS is_current
FROM runs
ORDER BY user_id, valid_from
"""

ORACLE["q101_winnowing"] = """
WITH tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents WHERE doc_id < 500
), sh AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647) AS sh
  FROM tok
), fp AS (
  SELECT doc_id, len(sh) AS n_shingles,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(sh) - 3)),
           i -> list_min(list_slice(sh, i, i + 3)))) AS fps
  FROM sh
)
SELECT doc_id, n_shingles,
       len(fps) AS n_fps,
       CAST(ROUND(len(fps) / CAST(greatest(n_shingles, 1) AS DOUBLE), 4) AS DOUBLE)
         AS density,
       CAST(COALESCE(list_sum(fps), 0) % 2147483647 AS BIGINT) AS fp_checksum
FROM fp
ORDER BY doc_id
"""

ORACLE["q102_adaptive_length_filter"] = """
WITH d AS (
  SELECT lang, len(str_split(text, ' ')) AS nt FROM documents
), cuts AS (
  SELECT lang, quantile_cont(nt, 0.05) AS p05, quantile_cont(nt, 0.95) AS p95
  FROM d GROUP BY lang
), flagged AS (
  SELECT d.lang, cuts.p05, cuts.p95,
         CASE WHEN d.nt < cuts.p05 THEN 1 ELSE 0 END AS below,
         CASE WHEN d.nt > cuts.p95 THEN 1 ELSE 0 END AS above
  FROM d JOIN cuts ON d.lang = cuts.lang
)
SELECT lang,
       CAST(ROUND(MIN(p05), 4) AS DOUBLE) AS p05,
       CAST(ROUND(MIN(p95), 4) AS DOUBLE) AS p95,
       COUNT(*) AS n_docs,
       CAST(SUM(below) AS BIGINT) AS n_below,
       CAST(SUM(above) AS BIGINT) AS n_above,
       CAST(ROUND((COUNT(*) - SUM(below) - SUM(above))
                  / CAST(COUNT(*) AS DOUBLE), 4) AS DOUBLE) AS kept_ratio
FROM flagged
GROUP BY lang
ORDER BY lang
"""

ORACLE["q104_incremental_dedup"] = """
WITH canon AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS _h
  FROM documents
), known AS (
  SELECT _h FROM canon WHERE doc_id < 300
), batch AS (
  SELECT * FROM canon WHERE doc_id >= 200 AND doc_id < 500
), batch_unique AS (
  SELECT _h, MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang
  FROM batch GROUP BY _h
)
SELECT doc_id, lang
FROM batch_unique
WHERE _h NOT IN (SELECT _h FROM known)
ORDER BY doc_id
"""

ORACLE["q105_vocab_coverage"] = """
WITH counts AS (
  SELECT t, COUNT(*) AS c
  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY t
), ranked AS (
  SELECT t, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank,
         SUM(c) OVER (ORDER BY c DESC, t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
         SUM(c) OVER () AS total
  FROM counts
)
SELECT rank, t AS token, c,
       CAST(ROUND(cum_c / CAST(total AS DOUBLE), 6) AS DOUBLE) AS cum_coverage
FROM ranked
WHERE rank <= 30
ORDER BY rank
"""

ORACLE["q106_udtf_chunks"] = """
WITH toks AS (
  SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS nt
  FROM documents WHERE doc_id < 200
)
, ex AS (
  SELECT doc_id, tk, nt,
         unnest(generate_series(1, CAST(ceil(nt / 32.0) AS BIGINT))) AS i
  FROM toks
)
SELECT doc_id, i - 1 AS chunk_id,
       least(32, nt - (i - 1) * 32) AS n_tokens,
       tk[(i - 1) * 32 + 1] AS first_token
FROM ex
ORDER BY doc_id, chunk_id
"""

ORACLE["q107_variant_json"] = """
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract(props, '$.missing') AS BIGINT)) AS n_missing_present
FROM events
GROUP BY event_type
ORDER BY event_type
"""

ORACLE["q108_cube"] = """
SELECT n_name, c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal,
       CAST(GROUPING(n_name) AS INT) AS g_nation,
       CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
FROM customer
JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
ORDER BY g_nation, g_segment, n_name NULLS FIRST, c_mktsegment NULLS FIRST
"""

# --- round-4 additions: q110-q116 (LLM-pipeline extension batch 2) ---------

ORACLE["q110_rrf_hybrid"] = """
WITH stats AS (
  SELECT COUNT(*) AS n_corpus, SUM(len(str_split(text, ' '))) AS sum_dl
  FROM documents
), df AS (
  SELECT t, COUNT(*) AS df
  FROM (SELECT unnest(list_distinct(str_split(text, ' '))) AS t FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY t
), tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, len(str_split(text, ' ')) AS dl,
               unnest(str_split(text, ' ')) AS t
        FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY doc_id, dl, t
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN((CAST(s.n_corpus AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                / (CAST(s.sum_dl AS DOUBLE) / s.n_corpus)))
         ), 4) AS bm25
  FROM tf JOIN df ON tf.t = df.t CROSS JOIN stats s
  GROUP BY tf.doc_id
), bm_rank AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
  FROM scored
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
), sims AS (
  SELECT e.vec_id AS doc_id,
         ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(q.qe, q.qe))),
           4) AS sim
  FROM embeddings e, q
), cos_rank AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank_cos
  FROM sims
), fused AS (
  SELECT c.doc_id, c.rank_cos, b.rank_bm25,
         CAST(ROUND(1.0 / (60 + c.rank_cos)
                    + COALESCE(1.0 / (60 + b.rank_bm25), 0.0), 6) AS DOUBLE) AS rrf
  FROM cos_rank c LEFT JOIN bm_rank b ON c.doc_id = b.doc_id
)
SELECT doc_id, rank_cos, rank_bm25, rrf FROM (
  SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
) t
ORDER BY doc_id
"""

# q110b: top-K-per-retriever RRF (the production/scale path). Ranks are
# the same global ranks as q110 but each list is truncated to its top
# 60 before fusion, and the join is FULL OUTER (a doc can be lexical-
# only or cosine-only inside the window).
ORACLE["q110b_rrf_topk"] = """
WITH stats AS (
  SELECT COUNT(*) AS n_corpus, SUM(len(str_split(text, ' '))) AS sum_dl
  FROM documents
), df AS (
  SELECT t, COUNT(*) AS df
  FROM (SELECT unnest(list_distinct(str_split(text, ' '))) AS t FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY t
), tf AS (
  SELECT doc_id, dl, t, COUNT(*) AS tf
  FROM (SELECT doc_id, len(str_split(text, ' ')) AS dl,
               unnest(str_split(text, ' ')) AS t
        FROM documents)
  WHERE t IN ('table', 'spark', 'key')
  GROUP BY doc_id, dl, t
), scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           LN((CAST(s.n_corpus AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                / (CAST(s.sum_dl AS DOUBLE) / s.n_corpus)))
         ), 4) AS bm25
  FROM tf JOIN df ON tf.t = df.t CROSS JOIN stats s
  GROUP BY tf.doc_id
), bm_rank AS (
  SELECT doc_id, rank_bm25 FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm25
    FROM scored
  ) WHERE rank_bm25 <= 60
), q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
), sims AS (
  SELECT e.vec_id AS doc_id,
         ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(q.qe, q.qe))),
           4) AS sim
  FROM embeddings e, q
), cos_rank AS (
  SELECT doc_id, rank_cos FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank_cos
    FROM sims
  ) WHERE rank_cos <= 60
), fused AS (
  SELECT COALESCE(c.doc_id, b.doc_id) AS doc_id, c.rank_cos, b.rank_bm25,
         CAST(COALESCE(1000000 // (60 + c.rank_cos), 0)
              + COALESCE(1000000 // (60 + b.rank_bm25), 0) AS BIGINT) AS rrf_ppm
  FROM cos_rank c FULL OUTER JOIN bm_rank b ON c.doc_id = b.doc_id
)
SELECT doc_id, rank_cos, rank_bm25, rrf_ppm FROM (
  SELECT * FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 20
) t
ORDER BY doc_id
"""

ORACLE["q111_embedding_quantize"] = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS amax,
         CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
)
SELECT vec_id,
       CAST(ROUND(amax / 127.0, 6) AS DOUBLE) AS scale,
       CAST(list_aggregate(
         list_transform(e, x -> ABS(CAST(FLOOR((x * 127.0) / amax + 0.5) AS BIGINT))),
         'sum') AS BIGINT) AS code_l1,
       CAST(len(list_filter(
         e, x -> ABS(CAST(FLOOR((x * 127.0) / amax + 0.5) AS BIGINT)) = 127))
         AS INT) AS n_sat,
       CAST(len(list_filter(
         e, x -> CAST(FLOOR((x * 127.0) / amax + 0.5) AS BIGINT) = 0))
         AS INT) AS n_zero
FROM s
ORDER BY vec_id
"""

ORACLE["q112_chunk_dedup"] = """
WITH tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), chunks AS (
  SELECT doc_id, md5(array_to_string(toks[i*2+1 : i*2+2], ' ')) AS h
  FROM (SELECT doc_id, toks,
               unnest(range(0, CAST(CEIL(len(toks) / 2.0) AS BIGINT))) AS i
        FROM tok WHERE len(toks) > 0)
), counts AS (
  SELECT h, COUNT(*) AS n_occ FROM chunks GROUP BY h
)
SELECT c.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(ROUND(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 4) AS DOUBLE) AS dup_ratio
FROM chunks c JOIN counts USING (h)
GROUP BY c.doc_id
ORDER BY c.doc_id
"""

ORACLE["q113_blocklist_filter"] = """
WITH block AS (
  SELECT * FROM (VALUES ('src3'), ('src7'), ('src13')) b(source)
), staged AS (
  SELECT d.source,
         (b.source IS NOT NULL) AS is_blocked,
         len(list_filter(str_split(d.text, ' '),
                         x -> x = 'slow' OR x = 'big')) AS n_flagged
  FROM documents d LEFT JOIN block b ON d.source = b.source
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(SUM(CASE WHEN n_flagged > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflagged,
       CAST(SUM(CASE WHEN (NOT is_blocked) AND n_flagged <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM staged
GROUP BY source
ORDER BY source
"""

ORACLE["q114_mixture_weights"] = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), keyed AS (
  SELECT source, n_docs,
         CAST(FLOOR(POW(CAST(n_docs AS DOUBLE), 0.7) * 1e6 + 0.5) AS BIGINT) AS k
  FROM counts
), total AS (
  SELECT CAST(SUM(k) AS BIGINT) AS tot FROM keyed
)
SELECT source, n_docs, k,
       CAST(ROUND(CAST(k AS DOUBLE) / tot, 6) AS DOUBLE) AS weight,
       CAST(FLOOR((k * 100000) / CAST(tot AS DOUBLE)) AS BIGINT) AS per_100k
FROM keyed, total
ORDER BY source
"""

ORACLE["q115_unigram_lm"] = """
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), total AS (
  SELECT SUM(c) AS tot FROM counts
), lp AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
  FROM counts, total
), agg AS (
  SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(lp_q) AS BIGINT) AS sum_lp_q
  FROM tok JOIN lp USING (t)
  GROUP BY doc_id
)
SELECT doc_id, n_tok, sum_lp_q,
       CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
            AS DOUBLE) AS avg_logprob,
       (CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
             AS DOUBLE) > -3.4) AS keep
FROM agg
ORDER BY doc_id
"""

ORACLE["q116_containment_dup"] = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 200
), inv AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), common AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sized AS (
  SELECT ida, idb, common,
         CAST(ROUND(common / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6) AS DOUBLE)
           AS containment
  FROM common
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sa ON sa.doc_id = ida
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sb ON sb.doc_id = idb
)
SELECT ida, idb, common, containment FROM (
  SELECT * FROM sized ORDER BY containment DESC, ida, idb LIMIT 20
) t
ORDER BY ida, idb
"""

# --- round-4 additions batch 3: q117-q119 ----------------------------------

ORACLE["q117_zipf_fit"] = """
WITH counts AS (
  SELECT t, COUNT(*) AS c
  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY t
), ranked AS (
  SELECT CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
         CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS yq
  FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank FROM counts)
  WHERE rank <= 100
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(xq) AS BIGINT) AS sx,
         CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx
  FROM ranked
)
SELECT n,
       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS DOUBLE) AS zipf_slope,
       CAST(ROUND((CAST(sy AS DOUBLE)
                   - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE))
                     * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE) / 1e6, 4) AS DOUBLE) AS zipf_intercept
FROM m
"""

ORACLE["q118_canonical_select"] = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         regexp_replace(upper(text), ' ', '  ', 'g') AS text
  FROM documents WHERE doc_id < 15
), staged AS (
  SELECT doc_id, length(text) AS text_len,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS h
  FROM all_docs
), ranked AS (
  SELECT doc_id, text_len,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY text_len DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS n_copies
  FROM staged
)
SELECT doc_id, text_len, n_copies
FROM ranked
WHERE rn = 1
ORDER BY doc_id
"""

ORACLE["q119_knn_join"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(ROUND(
           list_inner_product(c.e, q.qe)
           / (SQRT(list_inner_product(c.e, c.e))
              * SQRT(list_inner_product(q.qe, q.qe))),
           4) AS DOUBLE) AS sim
  FROM c, q
)
SELECT query_id, rn, vec_id, sim FROM (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rn
  FROM scored
) ranked
WHERE rn <= 3
ORDER BY query_id, rn
"""

_PAIRS = """list_transform(
    generate_series(1, greatest(0, len(str_split(text, ' ')) - 1)),
    i -> array_to_string(list_slice(str_split(text, ' '), i, i + 1), ' '))"""

ORACLE["q120_bpe_pair_counts"] = f"""
WITH pairs AS (
  SELECT unnest({_PAIRS}) AS pair FROM documents
), counts AS (
  SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
), top AS (
  SELECT pair, n FROM counts ORDER BY n DESC, pair LIMIT 20
)
SELECT ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank,
       pair, n,
       regexp_replace(pair, ' ', '', 'g') AS merged
FROM top
ORDER BY rank
"""

ORACLE["q121_lang_confusion"] = """
WITH tok AS (
  SELECT lang, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT lang, t, COUNT(*) AS c FROM tok GROUP BY lang, t
), profile AS (
  SELECT lang AS p_lang, t FROM (
    SELECT lang, t, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, t) AS rn
    FROM counts
  ) WHERE rn <= 20
), doc_toks AS (
  SELECT doc_id, lang, unnest(list_distinct(str_split(text, ' '))) AS t
  FROM documents WHERE doc_id < 500
), overlap AS (
  SELECT doc_id, lang, p_lang, COUNT(*) AS overlap
  FROM doc_toks JOIN profile USING (t)
  GROUP BY doc_id, lang, p_lang
), preds AS (
  SELECT doc_id, lang AS true_lang, p_lang AS pred_lang
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY overlap DESC, p_lang) AS rn
    FROM overlap
  ) WHERE rn = 1
), cells AS (
  SELECT true_lang, pred_lang, COUNT(*) AS n FROM preds GROUP BY true_lang, pred_lang
)
SELECT true_lang, pred_lang, n,
       CAST(ROUND(CAST(n AS DOUBLE)
                  / CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE), 4)
            AS DOUBLE) AS frac_of_truth
FROM cells
ORDER BY true_lang, pred_lang
"""

ORACLE["q122_substring_dedup"] = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id < 10
), tok AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM all_docs
), posgrams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS h
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(0, len(toks) - 7))) AS i
        FROM tok)
), occ AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM posgrams
), dup AS (
  SELECT doc_id, pos FROM occ WHERE n_occ > 1
), spans AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 1
              THEN 1 ELSE 0 END AS span_start
  FROM dup
)
SELECT doc_id,
       COUNT(*) AS n_dup_pos,
       CAST(SUM(span_start) AS BIGINT) AS n_spans,
       MIN(pos) AS first_dup_pos,
       MAX(pos) AS last_dup_pos
FROM spans
GROUP BY doc_id
ORDER BY doc_id
"""

ORACLE["q123_minhash_accuracy"] = f"""
WITH tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents WHERE doc_id < 200
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), inv AS (
  SELECT doc_id, unnest(bases) AS b FROM based
), common AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
  FROM inv a JOIN inv b ON a.b = b.b AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT ida, idb,
         CAST(ROUND(common / CAST(sa.n + sb.n - common AS DOUBLE), 6) AS DOUBLE)
           AS jaccard
  FROM common
  JOIN (SELECT doc_id, len(bases) AS n FROM based) sa ON sa.doc_id = ida
  JOIN (SELECT doc_id, len(bases) AS n FROM based) sb ON sb.doc_id = idb
), top AS (
  SELECT ida, idb, jaccard FROM jac ORDER BY jaccard DESC, ida, idb LIMIT 20
), est AS (
  SELECT t.ida, t.idb, t.jaccard,
         CAST(((CASE WHEN x.mh0 = y.mh0 THEN 1 ELSE 0 END
              + CASE WHEN x.mh1 = y.mh1 THEN 1 ELSE 0 END
              + CASE WHEN x.mh2 = y.mh2 THEN 1 ELSE 0 END
              + CASE WHEN x.mh3 = y.mh3 THEN 1 ELSE 0 END
              + CASE WHEN x.mh4 = y.mh4 THEN 1 ELSE 0 END
              + CASE WHEN x.mh5 = y.mh5 THEN 1 ELSE 0 END
              + CASE WHEN x.mh6 = y.mh6 THEN 1 ELSE 0 END
              + CASE WHEN x.mh7 = y.mh7 THEN 1 ELSE 0 END) / 8.0) AS DOUBLE) AS est
  FROM top t JOIN sigs x ON x.doc_id = t.ida JOIN sigs y ON y.doc_id = t.idb
)
SELECT ida, idb, jaccard, est,
       CAST(ROUND(ABS(jaccard - est), 6) AS DOUBLE) AS abs_err
FROM est
ORDER BY ida, idb
"""

ORACLE["q124_reconstruct_chunks"] = """
WITH toks AS (
  SELECT doc_id, text, str_split(text, ' ') AS tk
  FROM documents WHERE doc_id < 300
), fan AS (
  SELECT doc_id, tk,
         unnest(generate_series(0, CAST(CEIL(len(tk) / 32.0) AS INT) - 1)) AS chunk_idx
  FROM toks
), chunks AS (
  SELECT doc_id, chunk_idx,
         array_to_string(tk[chunk_idx*32+1 : chunk_idx*32+32], ' ') AS chunk
  FROM fan
), rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_chunks,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS rebuilt
  FROM chunks
  GROUP BY doc_id
)
SELECT r.doc_id, r.n_chunks,
       md5(r.rebuilt) AS rebuilt_md5,
       md5(r.rebuilt) = md5(t.text) AS roundtrip_ok
FROM rebuilt r JOIN toks t ON r.doc_id = t.doc_id
ORDER BY r.doc_id
"""

ORACLE["q125_dsir_sampling"] = """
WITH tok AS (
  SELECT doc_id, lang, unnest(str_split(text, ' ')) AS t FROM documents
), c_all AS (
  SELECT t, COUNT(*) AS ca FROM tok GROUP BY t
), c_tgt AS (
  SELECT t, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY t
), totals AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS ta, COUNT(*) AS v FROM c_all
), t_tgt AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM c_tgt
), lr AS (
  SELECT a.t,
         CAST(FLOOR(
           (LN(CAST(COALESCE(g.ct, 0) + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))
            - LN(CAST(a.ca + 1 AS DOUBLE) / CAST(ta + v AS DOUBLE))) * 1e6
         ) AS BIGINT) AS lr_q
  FROM c_all a LEFT JOIN c_tgt g ON a.t = g.t
  CROSS JOIN totals CROSS JOIN t_tgt
), scored AS (
  SELECT tok.doc_id, tok.lang,
         COUNT(*) AS n_tok,
         CAST(SUM(lr.lr_q) AS BIGINT) AS sum_lr_q
  FROM tok JOIN lr ON tok.t = lr.t
  GROUP BY tok.doc_id, tok.lang
), final AS (
  SELECT doc_id, lang, n_tok,
         CAST(ROUND(CAST(sum_lr_q AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
              AS DOUBLE) AS dsir_score
  FROM scored
)
SELECT doc_id, lang, n_tok, dsir_score FROM (
  SELECT * FROM final ORDER BY dsir_score DESC, doc_id LIMIT 20
) t
ORDER BY doc_id
"""

ORACLE["q126_length_buckets"] = """
WITH staged AS (
  SELECT len(str_split(text, ' ')) AS nt,
         GREATEST(CAST(POW(2.0, CEIL(LOG2(CAST(len(str_split(text, ' ')) AS DOUBLE))))
                       AS BIGINT), 1) AS bucket
  FROM documents
)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS real_tokens,
       CAST(SUM(bucket - nt) AS BIGINT) AS pad_tokens,
       CAST(ROUND(CAST(SUM(bucket - nt) AS DOUBLE)
                  / CAST(SUM(nt) + SUM(bucket - nt) AS DOUBLE), 4)
            AS DOUBLE) AS waste_ratio
FROM staged
GROUP BY bucket
ORDER BY bucket
"""

ORACLE["q127_centroid_classify"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label AS c_label, dim,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, f.label, c.c_label,
         SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM flat f JOIN cent c ON f.dim = c.dim
  GROUP BY f.vec_id, f.label, c.c_label
), pred AS (
  SELECT vec_id, label, c_label AS pred FROM (
    SELECT vec_id, label, c_label,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
    FROM dist
  ) WHERE rn = 1
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(ROUND(CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 4) AS DOUBLE) AS accuracy
FROM pred
GROUP BY label
ORDER BY label
"""

ORACLE["q128_split_leakage"] = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
), tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM all_docs
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS digest FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
), pairs AS (
  SELECT DISTINCT l.doc_id AS ida, r.doc_id AS idb
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.digest = r.digest AND l.doc_id < r.doc_id
), assign AS (
  SELECT doc_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM all_docs
)
SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_pairs,
       a.split <> b.split AS leaking
FROM pairs p JOIN assign a ON p.ida = a.doc_id JOIN assign b ON p.idb = b.doc_id
GROUP BY a.split, b.split
ORDER BY split_a, split_b
"""

ORACLE["q129_dedup_pipeline"] = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
), src_all AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source FROM documents WHERE doc_id < 20
), exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM all_docs GROUP BY md5(text)
), survivors AS (
  SELECT d.doc_id, d.text FROM all_docs d JOIN exact_keep k ON d.doc_id = k.doc_id
), tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM survivors
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS digest FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
), near_drop AS (
  SELECT DISTINCT r.doc_id
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.digest = r.digest AND l.doc_id < r.doc_id
), near_keep AS (
  SELECT doc_id FROM survivors
  WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)
)
SELECT s.source,
       COUNT(*) AS n_raw,
       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after_exact,
       CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_after_near,
       CAST(ROUND(1.0 - CAST(SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                             AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS removed_frac
FROM src_all s
LEFT JOIN exact_keep e ON s.doc_id = e.doc_id
LEFT JOIN near_keep n ON s.doc_id = n.doc_id
GROUP BY s.source
ORDER BY s.source
"""

ORACLE["q130_span_decontamination"] = """
WITH tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents
), possh AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647) AS sh
  FROM tok
), ev AS (
  SELECT DISTINCT unnest(sh) AS s FROM possh WHERE doc_id % 101 = 0
), tr AS (
  SELECT doc_id AS train_id, i - 1 AS pos, sh[i] AS s
  FROM (SELECT doc_id, sh, unnest(generate_series(1, len(sh))) AS i
        FROM possh
        WHERE doc_id % 101 <> 0 AND doc_id < 500)
), contam AS (
  SELECT train_id, pos FROM tr WHERE s IN (SELECT s FROM ev)
), spans AS (
  SELECT train_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY train_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY train_id ORDER BY pos) > 1
              THEN 1 ELSE 0 END AS span_start
  FROM contam
)
SELECT train_id,
       COUNT(*) AS n_contam_pos,
       CAST(SUM(span_start) AS BIGINT) AS n_spans,
       MIN(pos) AS first_pos,
       MAX(pos) AS last_pos
FROM spans
GROUP BY train_id
ORDER BY train_id
"""

ORACLE["q131_table_profile"] = """
WITH w AS (
  SELECT
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS c0n,
    COUNT(DISTINCT o_orderkey) AS c0d,
    CAST(MIN(o_orderkey) AS VARCHAR) AS c0mn, CAST(MAX(o_orderkey) AS VARCHAR) AS c0mx,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c1n,
    COUNT(DISTINCT o_custkey) AS c1d,
    CAST(MIN(o_custkey) AS VARCHAR) AS c1mn, CAST(MAX(o_custkey) AS VARCHAR) AS c1mx,
    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS c2n,
    COUNT(DISTINCT o_orderstatus) AS c2d,
    MIN(o_orderstatus) AS c2mn, MAX(o_orderstatus) AS c2mx,
    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS c3n,
    COUNT(DISTINCT o_totalprice) AS c3d,
    CAST(MIN(o_totalprice) AS VARCHAR) AS c3mn, CAST(MAX(o_totalprice) AS VARCHAR) AS c3mx,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS c4n,
    COUNT(DISTINCT o_orderdate) AS c4d,
    CAST(MIN(o_orderdate) AS VARCHAR) AS c4mn, CAST(MAX(o_orderdate) AS VARCHAR) AS c4mx,
    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS c5n,
    COUNT(DISTINCT o_orderpriority) AS c5d,
    MIN(o_orderpriority) AS c5mn, MAX(o_orderpriority) AS c5mx
  FROM orders
)
SELECT column_name, n_nulls, n_distinct, min_str, max_str FROM (
  SELECT 'o_orderkey' AS column_name, CAST(c0n AS BIGINT) AS n_nulls, c0d AS n_distinct, c0mn AS min_str, c0mx AS max_str FROM w
  UNION ALL SELECT 'o_custkey', CAST(c1n AS BIGINT), c1d, c1mn, c1mx FROM w
  UNION ALL SELECT 'o_orderstatus', CAST(c2n AS BIGINT), c2d, c2mn, c2mx FROM w
  UNION ALL SELECT 'o_totalprice', CAST(c3n AS BIGINT), c3d, c3mn, c3mx FROM w
  UNION ALL SELECT 'o_orderdate', CAST(c4n AS BIGINT), c4d, c4mn, c4mx FROM w
  UNION ALL SELECT 'o_orderpriority', CAST(c5n AS BIGINT), c5d, c5mn, c5mx FROM w
)
ORDER BY column_name
"""

ORACLE["q132_countmin_sketch"] = """
WITH occ AS (
  SELECT unnest(str_split(text, ' ')) AS term FROM documents
), exact AS (
  SELECT term, COUNT(*) AS n_exact FROM occ WHERE term <> '' GROUP BY term
), keyed AS (
  SELECT term, n_exact, j,
         CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || term), 1, 15)
              AS BIGINT) % 64 AS bucket
  FROM exact, (SELECT unnest([0, 1, 2, 3]) AS j)
), cells AS (
  SELECT j, bucket, CAST(SUM(n_exact) AS BIGINT) AS cell
  FROM keyed GROUP BY j, bucket
), est AS (
  SELECT k.term, k.n_exact, MIN(c.cell) AS n_cms
  FROM keyed k JOIN cells c USING (j, bucket)
  GROUP BY k.term, k.n_exact
)
SELECT term, n_exact, n_cms,
       n_cms - n_exact AS overcount,
       n_cms >= n_exact AS lower_bounded
FROM est
ORDER BY term
"""

ORACLE["q133_bloom_decontamination"] = """
WITH dg AS (
  SELECT doc_id, source, md5(text) AS d FROM documents
), ev AS (
  SELECT * FROM dg WHERE doc_id % 37 = 0
), tr AS (
  SELECT * FROM dg WHERE doc_id % 37 <> 0
), bits AS (
  SELECT DISTINCT
         CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || d), 1, 15)
              AS BIGINT) % 8192 AS pos
  FROM ev, (SELECT unnest([0, 1, 2]) AS k)
), probe AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || d), 1, 15)
              AS BIGINT) % 8192 AS pos
  FROM tr, (SELECT unnest([0, 1, 2]) AS k)
), hits AS (
  SELECT doc_id, COUNT(*) AS k_hits
  FROM probe JOIN bits USING (pos) GROUP BY doc_id
), per_doc AS (
  SELECT t.source,
         COALESCE(h.k_hits, 0) = 3 AS bloom_hit,
         t.d IN (SELECT d FROM ev) AS exact_hit
  FROM tr t LEFT JOIN hits h USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_flagged,
       CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups,
       CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN exact_hit AND NOT bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
FROM per_doc
GROUP BY source
ORDER BY source
"""

ORACLE["q134_ngram_novelty"] = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(list_transform({_SHINGLES}, s -> md5(s))) AS h
        FROM documents)
), fs AS (
  SELECT doc_id, h, MIN(doc_id) OVER (PARTITION BY h) AS first_seen FROM sh
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(ROUND(CAST(SUM(CASE WHEN first_seen = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 4) AS DOUBLE) AS novelty
FROM fs
GROUP BY doc_id
ORDER BY doc_id
"""

# q135: the +-1 JL sign matrix is derived once (md5 parity,
# functions/projections.py — pure hashlib, no pyspark) and embedded as
# 512 VALUES literals so both engines multiply the IDENTICAL matrix.
from kinesis_logs_reader_spark.functions.projections import (  # noqa: E402
    JL_IN_DIMS,
    JL_OUT_DIMS,
    sign_matrix,
)

_JL_SIGNS = sign_matrix()
_JL_SIGN_ROWS = ", ".join(
    f"({i}, {j}, {_JL_SIGNS[j][i]})"
    for j in range(JL_OUT_DIMS)
    for i in range(JL_IN_DIMS)
)

ORACLE["q135_jl_projection"] = f"""
WITH q AS (
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv
  FROM embeddings, range({JL_IN_DIMS}) t(i)
), s AS (
  SELECT * FROM (VALUES {_JL_SIGN_ROWS}) sm(dim, dim_out, sgn)
)
SELECT q.vec_id, s.dim_out,
       CAST(SUM(q.qv * s.sgn) AS BIGINT) AS proj_micro
FROM q JOIN s USING (dim)
GROUP BY q.vec_id, s.dim_out
ORDER BY q.vec_id, s.dim_out
"""

ORACLE["q136_source_overlap"] = f"""
WITH ds AS (
  SELECT DISTINCT source, h
  FROM (SELECT source, unnest(list_transform({_SHINGLES}, s -> md5(s))) AS h
        FROM documents)
), sizes AS (
  SELECT source, COUNT(*) AS n_sh FROM ds GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, s.n_shared,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       CAST(ROUND(CAST(s.n_shared AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 4)
            AS DOUBLE) AS containment
FROM shared s
JOIN sizes sa ON s.source_a = sa.source
JOIN sizes sb ON s.source_b = sb.source
ORDER BY s.source_a, s.source_b
"""

ORACLE["q137_distribution_drift"] = """
WITH per_type AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END) AS BIGINT) AS n_after
  FROM events GROUP BY event_type
), totals AS (
  SELECT CAST(SUM(n_before) AS BIGINT) AS t_before,
         CAST(SUM(n_after) AS BIGINT) AS t_after,
         COUNT(*) AS k_types
  FROM per_type
), j AS (
  SELECT p.*, t.t_before, t.t_after, t.k_types,
         CAST(FLOOR(LN(CAST((p.n_before + 1) * (t.t_after + t.k_types) AS DOUBLE)
                       / CAST((p.n_after + 1) * (t.t_before + t.k_types) AS DOUBLE)) * 1e6)
              AS BIGINT) AS lr_micro
  FROM per_type p, totals t
)
SELECT event_type, n_before, n_after,
       CAST(ROUND(CAST(n_before AS DOUBLE) / t_before, 4) AS DOUBLE) AS share_before,
       CAST(ROUND(CAST(n_after AS DOUBLE) / t_after, 4) AS DOUBLE) AS share_after,
       lr_micro,
       (n_before + 1) * lr_micro AS kl_contrib_micro
FROM j
ORDER BY event_type
"""

ORACLE["q138_heaps_law"] = """
WITH spine AS (
  SELECT divisor,
         CAST(FLOOR(CAST(n_docs AS DOUBLE) / divisor) AS BIGINT) AS bound
  FROM (SELECT MAX(doc_id) + 1 AS n_docs FROM documents),
       (SELECT unnest([8, 4, 2, 1]) AS divisor)
), first_seen AS (
  SELECT t, MIN(doc_id) AS fs
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY t
), vocab AS (
  SELECT divisor, bound,
         CAST(SUM(CASE WHEN fs < bound THEN 1 ELSE 0 END) AS BIGINT) AS vocab
  FROM first_seen, spine GROUP BY divisor, bound
), toks AS (
  SELECT divisor, bound,
         CAST(SUM(CASE WHEN doc_id < bound THEN len(str_split(text, ' ')) ELSE 0 END) AS BIGINT) AS total_tokens,
         CAST(SUM(CASE WHEN doc_id < bound THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
  FROM documents, spine GROUP BY divisor, bound
), staged AS (
  SELECT v.divisor, v.bound, t.n_docs, t.total_tokens, v.vocab,
         CAST(FLOOR(LN(CAST(v.vocab AS DOUBLE)) * 1e6) AS BIGINT) AS ln_v_micro,
         CAST(FLOOR(LN(CAST(t.total_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS ln_t_micro
  FROM vocab v JOIN toks t USING (divisor, bound)
)
SELECT divisor, bound, n_docs, total_tokens, vocab,
       CAST(ROUND(CAST(ln_v_micro - LAG(ln_v_micro) OVER (ORDER BY divisor DESC) AS DOUBLE)
                  / CAST(ln_t_micro - LAG(ln_t_micro) OVER (ORDER BY divisor DESC) AS DOUBLE), 4)
            AS DOUBLE) AS heaps_beta
FROM staged
ORDER BY divisor DESC
"""

_PAIRS = """list_transform(
    generate_series(1, greatest(0, len(str_split(text, ' ')) - 1)),
    i -> array_to_string(list_slice(str_split(text, ' '), i, i + 1), ' '))"""

ORACLE["q139_pmi_collocations"] = f"""
WITH uni AS (
  SELECT t, COUNT(*) AS c
  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
  GROUP BY t
), t_uni AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t_u FROM uni
), pair_occ AS (
  SELECT unnest({_PAIRS}) AS pair FROM documents
), pairs AS (
  SELECT pair, COUNT(*) AS c_ab FROM pair_occ GROUP BY pair HAVING COUNT(*) >= 5
), t_pair AS (
  SELECT COUNT(*) AS t_p FROM pair_occ
), j AS (
  SELECT p.pair, p.c_ab, ua.c AS c_a, ub.c AS c_b,
         CAST(FLOOR(LN(CAST(p.c_ab * t_uni.t_u * t_uni.t_u AS DOUBLE)
                       / CAST(t_pair.t_p * ua.c * ub.c AS DOUBLE)) * 1e6)
              AS BIGINT) AS pmi_micro
  FROM pairs p
  JOIN uni ua ON str_split(p.pair, ' ')[1] = ua.t
  JOIN uni ub ON str_split(p.pair, ' ')[2] = ub.t,
       t_uni, t_pair
)
SELECT ROW_NUMBER() OVER (ORDER BY pmi_micro DESC, pair) AS rank,
       pair, c_ab, c_a, c_b, pmi_micro
FROM j
ORDER BY pmi_micro DESC, pair
LIMIT 20
"""

# q47 upgraded from rows-only to oracle-backed (r4): the SimHash kernel
# is md5-per-token-occurrence with +-1 bit accumulation — exactly
# replicable in SQL. The UBIGINT hex cast carries the full 64-bit md5
# prefix; the sketch is reassembled nibble-by-nibble into the same
# 016x hex string the pandas UDF emits.
ORACLE["q47_simhash"] = """
WITH occ AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS hv
  FROM occ
), bits AS (
  SELECT doc_id, b,
         SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h, range(64) t(b)
  GROUP BY doc_id, b
), nibbles AS (
  SELECT doc_id, b // 4 AS nib,
         SUM(CASE WHEN acc > 0 THEN (1 << (b % 4)) ELSE 0 END) AS nv
  FROM bits GROUP BY doc_id, b // 4
)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1),
                  '' ORDER BY nib DESC) AS simhash
FROM nibbles
GROUP BY doc_id
ORDER BY doc_id
"""


def _lsh_plane(j: int, dim: int = 64) -> list[float]:
    """Bit-exact mirror of operators/similarity.py::_plane (LCG
    hyperplanes). Kept inline so oracle.py builds the identical
    DOUBLE[] literals without importing the Spark operator module;
    tests/test_llm_ops_r5.py pins the two derivations equal."""
    vals, x = [], (j * 2654435761 + 1) % 2147483647
    for _ in range(dim):
        x = (x * 48271) % 2147483647
        vals.append((x / 2147483647.0) * 2.0 - 1.0)
    return vals


_LSH_PLANE_ROWS = ", ".join(
    "({}, [{}])".format(j, ", ".join(repr(v) for v in _lsh_plane(j)))
    for j in range(6)
)

# q48 upgraded from rows-only to oracle-backed (r4): the hyperplane
# family is a deterministic LCG (no RNG state), so the bucket codes,
# the Hamming<=1 probe, and the candidate cosines are all replicable.
# Residual cross-engine risk: the sign test dot(v, plane) > 0 under
# different summation orders — a |dot| below double noise could flip a
# bucket bit; magnitudes here are O(1), same acceptance as q43.
ORACLE["q48_ann_ivf"] = f"""
WITH pl AS (
  SELECT * FROM (VALUES {_LSH_PLANE_ROWS}) p(j, plane)
), b AS (
  SELECT vec_id, embedding,
         CAST(SUM(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]),
                                               CAST(plane AS DOUBLE[])) > 0
                       THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings, pl
  GROUP BY vec_id, embedding
), q AS (
  SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0
), cand AS (
  SELECT b.vec_id, b.embedding, q.qe
  FROM b, q
  WHERE b.vec_id <> 0 AND bit_count(xor(b.bucket, q.qb)) <= 1
), sims AS (
  SELECT vec_id,
         CAST(ROUND(
           list_inner_product(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[]))
           / (SQRT(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * SQRT(list_inner_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))),
           4) AS DOUBLE) AS sim
  FROM cand
)
SELECT vec_id, sim FROM (
  SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT 5
) t
ORDER BY vec_id
"""

ORACLE["q140_weighted_sample"] = """
WITH staged AS (
  SELECT lang, doc_id, n_chars AS w,
         CAST(FLOOR(
           LN(CAST(CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT) % 1000003 + 1 AS DOUBLE) / 1000004.0)
           / CAST(n_chars AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
  FROM documents
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key_nano DESC, doc_id) AS rank
  FROM staged
)
SELECT lang, rank, doc_id, w, key_nano
FROM ranked WHERE rank <= 20
ORDER BY lang, rank
"""

ORACLE["q141_ivf_fixed_probe"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label AS cell, dim,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, c.cell, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM flat f JOIN cent c USING (dim)
  GROUP BY f.vec_id, c.cell
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist
  ) t WHERE rn = 1
), probe AS (
  SELECT cell FROM dist WHERE vec_id = 0 ORDER BY d2, cell LIMIT 2
), qv AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, a.cell, e.embedding, qv.qe
  FROM embeddings e
  JOIN assigned a ON e.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell, qv
  WHERE e.vec_id <> 0
), sims AS (
  SELECT vec_id, cell,
         CAST(ROUND(
           list_inner_product(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[]))
           / (SQRT(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * SQRT(list_inner_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[])))),
           4) AS DOUBLE) AS sim
  FROM cand
)
SELECT vec_id, cell, sim FROM (
  SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT 5
) t
ORDER BY vec_id
"""

ORACLE["q142_interval_join"] = """
WITH s AS (
  SELECT user_id AS s_user, ts AS s_ts FROM events WHERE event_type = 'signup'
), p AS (
  SELECT user_id AS p_user, ts AS p_ts, value AS amount
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT s.s_user, p.p_ts, p.amount
  FROM s JOIN p
    ON s.s_user = p.p_user
   AND p.p_ts >= s.s_ts
   AND p.p_ts <= s.s_ts + INTERVAL 60 MINUTE
)
SELECT s_user AS user_id,
       COUNT(*) AS n_pairs,
       CAST(ROUND(SUM(CAST(amount AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_amount,
       CAST(MIN(p_ts) AS VARCHAR) AS first_p_ts,
       CAST(MAX(p_ts) AS VARCHAR) AS last_p_ts
FROM j
GROUP BY s_user
ORDER BY user_id
"""

ORACLE["q143_repetition_runs"] = """
WITH pos AS (
  SELECT doc_id, i - 1 AS i, toks[i] AS t
  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
), runs AS (
  SELECT doc_id, i, t,
         CASE WHEN LAG(t) OVER (PARTITION BY doc_id ORDER BY i) IS DISTINCT FROM t
              THEN 1 ELSE 0 END AS new_run
  FROM pos
), rid AS (
  SELECT doc_id,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
), run_lens AS (
  SELECT doc_id, run_id, COUNT(*) AS run_len FROM rid GROUP BY doc_id, run_id
)
SELECT doc_id,
       CAST(SUM(run_len) AS BIGINT) AS n_tokens,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(SUM(CASE WHEN run_len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs_ge3,
       CAST(ROUND(CAST(SUM(CASE WHEN run_len >= 3 THEN run_len ELSE 0 END) AS DOUBLE)
                  / SUM(run_len), 4) AS DOUBLE) AS run_frac
FROM run_lens
GROUP BY doc_id
ORDER BY doc_id
"""

# --- round-4 additions batch 9: entropy / OOV / threshold sweep / bigram LM

ORACLE["q144_token_entropy"] = """
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tok,
         COUNT(*) AS n_distinct,
         CAST(SUM(CAST(FLOOR(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                             * 1e6) AS BIGINT)) AS BIGINT) AS sq
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tok, n_distinct,
       CAST(ROUND(LN(CAST(n_tok AS DOUBLE))
                  - CAST(sq AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
            AS DOUBLE) AS entropy,
       CASE WHEN n_distinct > 1 THEN
         CAST(ROUND((LN(CAST(n_tok AS DOUBLE))
                     - CAST(sq AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE))
                    / LN(CAST(n_distinct AS DOUBLE)), 4) AS DOUBLE)
       ELSE 0.0 END AS norm_entropy
FROM agg
ORDER BY doc_id
"""

ORACLE["q145_oov_rate"] = """
WITH tok AS (
  SELECT lang, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), vocab AS (
  SELECT t FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r FROM counts
  ) WHERE r <= 256
)
SELECT lang,
       COUNT(*) AS total_tokens,
       CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       CAST(ROUND(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS oov_rate
FROM tok LEFT JOIN vocab v ON tok.t = v.t
GROUP BY lang
ORDER BY lang
"""

ORACLE["q146_jaccard_threshold_sweep"] = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 200
), inv AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), common AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT ida, idb,
         common / CAST(sa.n + sb.n - common AS DOUBLE) AS jac
  FROM common
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sa ON sa.doc_id = ida
  JOIN (SELECT doc_id, len(sh) AS n FROM docs) sb ON sb.doc_id = idb
), ladder AS (
  SELECT unnest(CAST([0.3, 0.5, 0.7, 0.9] AS DOUBLE[])) AS threshold
), hits AS (
  SELECT threshold, ida, idb FROM pairs, ladder WHERE jac >= threshold
), np AS (
  SELECT threshold, COUNT(*) AS n_pairs FROM hits GROUP BY threshold
), nd AS (
  SELECT threshold, COUNT(DISTINCT d) AS n_docs_affected
  FROM (SELECT threshold, unnest([ida, idb]) AS d FROM hits)
  GROUP BY threshold
)
SELECT threshold,
       COALESCE(n_pairs, 0) AS n_pairs,
       COALESCE(n_docs_affected, 0) AS n_docs_affected
FROM ladder LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)
ORDER BY threshold
"""

ORACLE["q147_bigram_lm"] = """
WITH tokd AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), big AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, GREATEST(len(toks) - 1, 0) + 1),
           i -> array_to_string(toks[i:i+1], ' ')
         )) AS bg
  FROM tokd
), bgc AS (
  SELECT bg, COUNT(*) AS c_bg FROM big GROUP BY bg
), ctx AS (
  SELECT split_part(bg, ' ', 1) AS w1, SUM(c_bg) AS c_ctx
  FROM bgc GROUP BY split_part(bg, ' ', 1)
), vocab AS (
  SELECT COUNT(DISTINCT t) AS v
  FROM (SELECT unnest(str_split(text, ' ')) AS t FROM documents)
), lp AS (
  SELECT bg,
         CAST(FLOOR(LN(CAST(c_bg + 1 AS DOUBLE)
                       / CAST(c_ctx + v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
  FROM bgc
  JOIN ctx ON ctx.w1 = split_part(bgc.bg, ' ', 1)
  CROSS JOIN vocab
), agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lp_q) AS BIGINT) AS sum_lp_q
  FROM big JOIN lp USING (bg)
  GROUP BY doc_id
)
SELECT doc_id, n_bigrams, sum_lp_q,
       CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_bigrams AS DOUBLE), 4)
            AS DOUBLE) AS avg_logprob,
       (CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_bigrams AS DOUBLE), 4)
             AS DOUBLE) > -6.0) AS keep
FROM agg
ORDER BY doc_id
"""

# --- round-4 additions batch 10: templates / signatures / charset / degree

ORACLE["q148_template_mining"] = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000, text || ' error 42 at 1032'
  FROM documents WHERE doc_id < 15
  UNION ALL
  SELECT doc_id + 4100000, text || ' error 500 at 911'
  FROM documents WHERE doc_id < 15
), skel AS (
  SELECT doc_id,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[0-9]+', '#', 'g'),
               ' +', ' ', 'g'))) AS skel
  FROM base
)
SELECT MIN(doc_id) AS exemplar_id, COUNT(*) AS n_docs
FROM skel
GROUP BY skel
HAVING COUNT(*) >= 2
ORDER BY exemplar_id
"""

ORACLE["q149_source_signature"] = """
WITH tok AS (
  SELECT source, unnest(str_split(text, ' ')) AS t FROM documents
), st AS (
  SELECT source, t, COUNT(*) AS c_st FROM tok GROUP BY source, t
), t_tot AS (
  SELECT t, SUM(c_st) AS c_t FROM st GROUP BY t
), s_tot AS (
  SELECT source, SUM(c_st) AS t_s FROM st GROUP BY source
), corpus AS (
  SELECT SUM(t_s) AS tt FROM s_tot
), lifted AS (
  SELECT st.source, st.t,
         CAST(FLOOR(LN(CAST(c_st + 1 AS DOUBLE)
                       / CAST(t_s - c_st + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         - CAST(FLOOR(LN(CAST(c_t - c_st + 1 AS DOUBLE)
                         / CAST(tt - t_s - (c_t - c_st) + 1 AS DOUBLE)) * 1e6)
                AS BIGINT) AS lift_q
  FROM st
  JOIN t_tot USING (t)
  JOIN s_tot USING (source)
  CROSS JOIN corpus
), ranked AS (
  SELECT source, t, lift_q,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY lift_q DESC, t) AS rn
  FROM lifted
)
SELECT source, rn AS rank, t AS term,
       CAST(ROUND(CAST(lift_q AS DOUBLE) / 1e6, 4) AS DOUBLE) AS log_odds
FROM ranked WHERE rn <= 3
ORDER BY source, rank
"""

ORACLE["q150_charset_profile"] = """
WITH staged AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LENGTH(text) - LENGTH(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS n_alpha,
         LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS n_space
  FROM documents
), full_row AS (
  SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
         n_chars - n_alpha - n_digit - n_space AS n_other,
         CAST(ROUND(n_alpha / CAST(n_chars AS DOUBLE), 4) AS DOUBLE) AS alpha_ratio,
         CAST(ROUND((n_chars - n_alpha - n_digit - n_space)
                    / CAST(n_chars AS DOUBLE), 4) AS DOUBLE) AS other_ratio
  FROM staged
)
SELECT *, (alpha_ratio < 0.5 OR other_ratio > 0.1) AS suspect
FROM full_row
ORDER BY doc_id
"""

ORACLE["q151_candidate_degree"] = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 200
), inv AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), deg AS (
  SELECT d, COUNT(*) AS degree
  FROM (SELECT unnest([ida, idb]) AS d FROM pairs)
  GROUP BY d
)
SELECT degree, COUNT(*) AS n_docs
FROM deg
GROUP BY degree
ORDER BY degree
"""

# --- round-4 additions batch 11: perplexity buckets / dedup survivorship

ORACLE["q152_perplexity_buckets"] = """
WITH tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
), counts AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), total AS (
  SELECT SUM(c) AS tot FROM counts
), lp AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
  FROM counts, total
), scored AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         CAST(ROUND(CAST(SUM(lp_q) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE), 4)
              AS DOUBLE) AS avg_logprob
  FROM tok JOIN lp USING (t)
  GROUP BY doc_id
), bucketed AS (
  SELECT doc_id, n_tok, avg_logprob,
         (avg_logprob > -3.4) AS keep,
         NTILE(10) OVER (ORDER BY avg_logprob, doc_id) AS bucket
  FROM scored
)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(ROUND(AVG(avg_logprob), 4) AS DOUBLE) AS avg_lp,
       CAST(ROUND(MIN(avg_logprob), 4) AS DOUBLE) AS min_lp,
       CAST(ROUND(MAX(avg_logprob), 4) AS DOUBLE) AS max_lp,
       CAST(ROUND(AVG(CAST(n_tok AS DOUBLE)), 4) AS DOUBLE) AS avg_tokens,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""

# q152b: the range-partitioned production twin computes the SAME exact
# NTILE(10) decile table (closed-form bucket from exact global rank),
# so its oracle is q152's statement verbatim.
ORACLE["q152b_perplexity_buckets_scalable"] = ORACLE[
    "q152_perplexity_buckets"
]

ORACLE["q153_dedup_survivorship"] = """
WITH base AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
  UNION ALL
  SELECT doc_id + 5000000, 'mirror', md5(text)
  FROM documents WHERE doc_id < 25
), keep AS (
  SELECT arg_min(source, doc_id) AS source FROM base GROUP BY h
), pre AS (
  SELECT source, COUNT(*) AS n_before FROM base GROUP BY source
), post AS (
  SELECT source, COUNT(*) AS n_after FROM keep GROUP BY source
), joined AS (
  SELECT pre.source, n_before, COALESCE(n_after, 0) AS n_after
  FROM pre LEFT JOIN post ON pre.source = post.source
), totals AS (
  SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM joined
)
SELECT source, n_before, n_after,
       CAST(FLOOR(n_before * 1000000 / tb) AS BIGINT) AS share_before_micro,
       CAST(FLOOR(n_after * 1000000 / ta) AS BIGINT) AS share_after_micro,
       CAST(FLOOR(n_after * 1000000 / ta) AS BIGINT)
         - CAST(FLOOR(n_before * 1000000 / tb) AS BIGINT) AS share_drift_micro
FROM joined, totals
ORDER BY source
"""

# --- round-4 addition batch 12: boundary-overlap (split-doc) detection -----

ORACLE["q154_boundary_overlap"] = """
WITH tokd AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents
), halved AS (
  SELECT doc_id, toks, CAST(FLOOR(len(toks) / 2) AS INT) AS h
  FROM tokd WHERE doc_id < 10 AND len(toks) >= 16
), base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 6000000, array_to_string(toks[1:h+4], ' ') FROM halved
  UNION ALL
  SELECT doc_id + 6100000, array_to_string(toks[h+1:len(toks)], ' ') FROM halved
), seams AS (
  SELECT doc_id,
         md5(array_to_string(toks[1:4], ' ')) AS head_h,
         md5(array_to_string(toks[len(toks)-3:len(toks)], ' ')) AS tail_h
  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM base)
  WHERE len(toks) >= 4
)
SELECT t.doc_id AS a, hh.doc_id AS b
FROM seams t JOIN seams hh ON t.tail_h = hh.head_h AND t.doc_id <> hh.doc_id
ORDER BY a, b
"""

# --- round-4 addition batch 12b: LSH banding sensitivity -------------------

ORACLE["q155_lsh_band_sensitivity"] = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 7000000,
         array_to_string(
           (str_split(text, ' '))[1:CAST(FLOOR(len(str_split(text, ' ')) * 2 / 3) AS INT)],
           ' ')
  FROM documents WHERE doc_id < 30
), tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM all_docs
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), bands AS (
  SELECT doc_id, 2 AS rpb, 0 AS band_idx, md5(mh0 || '|' || mh1) AS digest FROM sigs
  UNION ALL SELECT doc_id, 2, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 2, 3, md5(mh6 || '|' || mh7) FROM sigs
  UNION ALL SELECT doc_id, 4, 0,
    md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 4, 1,
    md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) FROM sigs
  UNION ALL SELECT doc_id, 8, 0,
    md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3 || '|' ||
        mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) FROM sigs
), pairs AS (
  SELECT DISTINCT l.rpb, l.doc_id AS ida, r.doc_id AS idb
  FROM bands l JOIN bands r
    ON l.rpb = r.rpb AND l.band_idx = r.band_idx
   AND l.digest = r.digest AND l.doc_id < r.doc_id
), ladder AS (
  SELECT unnest([2, 4, 8]) AS rpb
), agg AS (
  SELECT rpb, COUNT(*) AS n_candidates,
         CAST(SUM(CASE WHEN idb = ida + 7000000 AND ida < 30
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_planted_recovered
  FROM pairs GROUP BY rpb
)
SELECT ladder.rpb AS rows_per_band,
       CAST(8 / ladder.rpb AS BIGINT) AS n_bands,
       COALESCE(n_candidates, 0) AS n_candidates,
       COALESCE(n_planted_recovered, 0) AS n_planted_recovered
FROM ladder LEFT JOIN agg ON agg.rpb = ladder.rpb
ORDER BY rows_per_band
"""

# --- round-4 additions batch 13: training order / epoch plan ---------------

ORACLE["q156_training_order"] = """
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), keyed AS (
  SELECT source,
         CAST(FLOOR(POW(CAST(n_docs AS DOUBLE), 0.7) * 1e3 + 0.5) AS BIGINT) AS w_q
  FROM counts
), staged AS (
  SELECT d.doc_id, d.source,
         CAST(FLOOR(CAST(ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id)
                         AS DOUBLE) * 1e9 / w_q) AS BIGINT) AS vtime_q
  FROM documents d JOIN keyed k ON d.source = k.source
), top AS (
  SELECT vtime_q, source, doc_id FROM staged
  ORDER BY vtime_q, source, doc_id LIMIT 50
)
SELECT ROW_NUMBER() OVER (ORDER BY vtime_q, source, doc_id) AS position,
       source, doc_id
FROM top
ORDER BY position
"""

ORACLE["q157_epoch_plan"] = """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS tokens_avail
  FROM documents GROUP BY source
), keyed AS (
  SELECT *,
         CAST(FLOOR(POW(CAST(tokens_avail AS DOUBLE), 0.7) * 1e3 + 0.5)
              AS BIGINT) AS w_q
  FROM per_src
), total AS (
  SELECT SUM(w_q) AS tot_w FROM keyed
), planned AS (
  SELECT source, n_docs, tokens_avail,
         CAST(FLOOR(1000000 * w_q / tot_w) AS BIGINT) AS tokens_wanted
  FROM keyed, total
)
SELECT source, n_docs, tokens_avail, tokens_wanted,
       CAST(FLOOR(CAST(tokens_wanted AS DOUBLE) * 1e6
                  / CAST(tokens_avail AS DOUBLE)) AS BIGINT) AS epochs_micro,
       (CAST(FLOOR(CAST(tokens_wanted AS DOUBLE) * 1e6
                   / CAST(tokens_avail AS DOUBLE)) AS BIGINT) > 4000000)
         AS overfit_risk
FROM planned
ORDER BY source
"""

# --- r5 additions: fuzzy vocabulary variants + dup-graph authority ---------

ORACLE["q158_fuzzy_variants"] = """
WITH v AS (
  SELECT t, COUNT(*) AS df
  FROM (SELECT unnest(list_distinct(str_split(p_name, ' '))) AS t FROM part)
  GROUP BY t
)
SELECT a.t AS tok_a, b.t AS tok_b,
       CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist,
       a.df AS df_a, b.df AS df_b,
       CASE WHEN a.df >= b.df THEN a.t ELSE b.t END AS preferred
FROM v a JOIN v b ON a.t < b.t
WHERE levenshtein(a.t, b.t) <= 2
ORDER BY tok_a, tok_b
"""

# q158b: deletion-neighborhood banding is candidate-complete for
# dist <= 2 and the exact levenshtein filter runs on every candidate,
# so the banded production path emits exactly the all-pairs rows —
# oracle is q158's statement verbatim.
ORACLE["q158b_fuzzy_variants_banded"] = ORACLE["q158_fuzzy_variants"]

# Integer 2-round PageRank over q46's LSH candidate-pair graph: every
# arithmetic step is int64 (ppm units, per-edge integer division), so
# the neighbor sums are order-independent — no float accumulation in a
# hashed output (the r4 lesson).
ORACLE["q159_dup_authority"] = f"""
WITH pairs AS (
{_PAIRS_NO_ORDER}
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL
  SELECT idb AS src, ida AS dst FROM pairs
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
), ed AS (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
), pr1 AS (
  SELECT dst AS node,
         CAST(150000 + SUM(850000 // deg) AS BIGINT) AS pr1
  FROM ed GROUP BY dst
), ed2 AS (
  SELECT ed.dst,
         (850000 * p.pr1) // (1000000 * ed.deg) AS c
  FROM ed JOIN pr1 p ON p.node = ed.src
), pr2 AS (
  SELECT dst AS node, CAST(150000 + SUM(c) AS BIGINT) AS pr2_ppm
  FROM ed2 GROUP BY dst
)
SELECT node, deg AS degree, pr2_ppm FROM (
  SELECT p.node, d.deg, p.pr2_ppm
  FROM pr2 p JOIN deg d ON d.src = p.node
  ORDER BY p.pr2_ppm DESC, p.node LIMIT 20
) t
ORDER BY node
"""


# --- q75 / q109: trained k-means paths, oracle-backed (r6) -----------------
# The trained index became oracle-expressible when training moved to the
# integer grid (similarity.kmeans_centroids): init = quantized vectors of
# the k smallest vec_ids, assignment = exact int64 argmin (ties -> smaller
# cell), update = sign-safe integer floor-mean, empty cells keep their
# previous centroid. Every step is exact integer arithmetic, so DuckDB
# re-derives the SAME centroids from scratch — no exported literals, no
# dependence on the persisted parquet index.


def _kmeans_cte(
    n_clusters: int = 16, n_iter: int = 3, dim: int = 64, prefix: str = ""
) -> str:
    """WITH-clause body running Lloyd's k-means over a CTE named
    ``{prefix}corpus(vec_id, embedding)``; exposes ``{prefix}dist``
    (vec x cell int64 distances to the FINAL centroids),
    ``{prefix}assigned`` (final cells), and ``{prefix}c{n_iter}``
    (final centroids). ``prefix`` lets several independent trainings
    coexist in one statement (q185's per-subspace PQ codebooks)."""
    p = prefix
    parts = [
        f"""{p}flat AS (
  SELECT vec_id, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM {p}corpus, range({dim}) t(i)
)""",
        f"""{p}c0 AS (
  SELECT r.cell, f.dim, f.q AS mu
  FROM (SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        FROM {p}corpus ORDER BY vec_id LIMIT {n_clusters}) r
  JOIN {p}flat f USING (vec_id)
)""",
    ]
    for it in range(1, n_iter + 1):
        parts.append(f"""{p}d{it} AS (
  SELECT f.vec_id, c.cell, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM {p}flat f JOIN {p}c{it - 1} c USING (dim) GROUP BY f.vec_id, c.cell
)""")
        parts.append(f"""{p}a{it} AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM {p}d{it}) t WHERE rn = 1
)""")
        parts.append(f"""{p}m{it} AS (
  SELECT a.cell, f.dim, SUM(f.q) AS s, COUNT(*) AS n
  FROM {p}a{it} a JOIN {p}flat f USING (vec_id) GROUP BY a.cell, f.dim
)""")
        # sign-safe integer floor-mean: DuckDB // truncates toward zero
        # and % follows the dividend, so subtract the nonneg remainder
        # first — (s - ((s%n)+n)%n) is divisible by n, making // exact
        # floor division for any sign (matches Python's s // n).
        parts.append(f"""{p}c{it} AS (
  SELECT c.cell, c.dim,
         COALESCE((m.s - ((m.s % m.n) + m.n) % m.n) // m.n, c.mu) AS mu
  FROM {p}c{it - 1} c LEFT JOIN {p}m{it} m ON m.cell = c.cell AND m.dim = c.dim
)""")
    parts.append(f"""{p}dist AS (
  SELECT f.vec_id, c.cell, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM {p}flat f JOIN {p}c{n_iter} c USING (dim) GROUP BY f.vec_id, c.cell
)""")
    parts.append(f"""{p}assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM {p}dist) t WHERE rn = 1
)""")
    return ",\n".join(parts)


_COS_IJ = """list_inner_product(CAST(i.embedding AS DOUBLE[]), CAST(j.embedding AS DOUBLE[]))
      / (SQRT(list_inner_product(CAST(i.embedding AS DOUBLE[]), CAST(i.embedding AS DOUBLE[])))
         * SQRT(list_inner_product(CAST(j.embedding AS DOUBLE[]), CAST(j.embedding AS DOUBLE[]))))"""

ORACLE["q75_ann_ivf_kmeans"] = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
),
{_kmeans_cte(16, 3)},
probe AS (
  SELECT cell FROM dist WHERE vec_id = 0 ORDER BY d2, cell LIMIT 4
), qv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
), sims AS (
  SELECT e.vec_id,
         CAST(ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.qe)
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(qv.qe, qv.qe))),
           4) AS DOUBLE) AS sim
  FROM embeddings e
  JOIN assigned a ON e.vec_id = a.vec_id
  JOIN probe p ON a.cell = p.cell, qv
  WHERE e.vec_id <> 0
)
SELECT vec_id, sim FROM (
  SELECT * FROM sims ORDER BY sim DESC, vec_id LIMIT 5
) t
ORDER BY vec_id
"""

ORACLE["q109_semdedup"] = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
),
{_kmeans_cte(16, 3)}
SELECT j.vec_id, CAST(MIN(i.vec_id) AS BIGINT) AS dup_of
FROM corpus j
JOIN assigned aj ON j.vec_id = aj.vec_id
JOIN assigned ai ON ai.cell = aj.cell
JOIN corpus i ON i.vec_id = ai.vec_id AND i.vec_id < j.vec_id
WHERE {_COS_IJ} >= 0.999
GROUP BY j.vec_id
ORDER BY j.vec_id, dup_of
"""


# --- q160: incremental ingest dedup (r6) ------------------------------------
# Recomputes BOTH the corpus index content and the incoming batch from the
# raw table with the shared md5/affine hash contract (same fragments as
# q46), so a hash-green row also certifies the persisted index the Spark
# side serves (operators/dedup.py::get_or_build_corpus_index).

ORACLE["q160_incremental_dedup"] = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 != 7
), incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
  UNION ALL
  SELECT doc_id + 4000000000000 AS doc_id, text FROM documents
  WHERE doc_id % 10 != 7 AND doc_id < 10
  UNION ALL
  SELECT doc_id + 8000000000000 AS doc_id, text FROM documents
  WHERE doc_id % 10 = 7 AND doc_id < 50
), all_docs AS (
  SELECT * FROM corpus UNION ALL SELECT * FROM incoming
), tok AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM all_docs
), based AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS bases
  FROM tok
), sigs AS (
  SELECT doc_id,
         list_aggregate({_MH.format(a=1103515245, b=12345)}, 'min') AS mh0,
         list_aggregate({_MH.format(a=1299709, b=987654321)}, 'min') AS mh1,
         list_aggregate({_MH.format(a=7368787, b=11939)}, 'min') AS mh2,
         list_aggregate({_MH.format(a=104729, b=7919)}, 'min') AS mh3,
         list_aggregate({_MH.format(a=179424673, b=104659)}, 'min') AS mh4,
         list_aggregate({_MH.format(a=15485863, b=15487469)}, 'min') AS mh5,
         list_aggregate({_MH.format(a=32452843, b=982451653)}, 'min') AS mh6,
         list_aggregate({_MH.format(a=49979687, b=86028121)}, 'min') AS mh7
  FROM based
), bands AS (
  SELECT doc_id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS digest FROM sigs
  UNION ALL SELECT doc_id, 1, md5(mh2 || '|' || mh3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(mh4 || '|' || mh5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(mh6 || '|' || mh7) FROM sigs
), corpus_content AS (
  SELECT DISTINCT md5(text) AS digest FROM corpus
), corpus_bands AS (
  SELECT DISTINCT b.band_idx, b.digest
  FROM bands b JOIN corpus c ON b.doc_id = c.doc_id
), inc_content AS (
  SELECT doc_id, md5(text) AS digest FROM incoming
), first_seen AS (
  SELECT digest, MIN(doc_id) AS first_id FROM inc_content GROUP BY digest
), verdicted AS (
  SELECT i.doc_id,
         CASE
           WHEN EXISTS (SELECT 1 FROM corpus_content cc
                        WHERE cc.digest = md5(i.text)) THEN 'exact_corpus'
           WHEN (SELECT fs.first_id FROM first_seen fs
                 WHERE fs.digest = md5(i.text)) < i.doc_id THEN 'exact_batch'
           WHEN EXISTS (SELECT 1 FROM bands b JOIN corpus_bands cb
                        ON b.band_idx = cb.band_idx AND b.digest = cb.digest
                        WHERE b.doc_id = i.doc_id) THEN 'near_corpus'
           ELSE 'novel'
         END AS verdict
  FROM incoming i
)
SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM verdicted
GROUP BY verdict
ORDER BY verdict
"""

# --- r7 additions: training-order generation + graded decontamination ------

ORACLE["q161_epoch_shuffle"] = """
WITH staged AS (
  SELECT doc_id, epoch,
         md5('ep:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS _k
  FROM documents CROSS JOIN (SELECT UNNEST([0, 1]) AS epoch)
), sharded AS (
  SELECT doc_id, epoch, _k,
         (CAST('0x' || substr(_k, 1, 15) AS BIGINT) % 2147483647) % 8 AS shard
  FROM staged
), ranked AS (
  SELECT doc_id, epoch, shard,
         ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY _k, doc_id) AS pos
  FROM sharded
)
SELECT epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos * doc_id) AS BIGINT) AS perm_checksum,
       MAX(CASE WHEN pos = 1 THEN doc_id END) AS first_doc
FROM ranked
GROUP BY epoch, shard
ORDER BY epoch, shard
"""

ORACLE["q162_eval_containment"] = """
WITH ev_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0
), planted AS (
  SELECT doc_id + 5000000 AS doc_id,
         array_to_string(
           str_split(text, ' ')[1:greatest(1,
             CAST(floor(len(str_split(text, ' ')) * 2 / 3) AS INT))],
           ' ') AS text
  FROM ev_docs
), train_docs AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 101 <> 0 AND doc_id < 800
  UNION ALL
  SELECT doc_id, text FROM planted
), tok_ev AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM ev_docs
), sh_ev AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS sh
  FROM tok_ev
), ev_set AS (
  SELECT list_distinct(flatten(list(sh))) AS ev FROM sh_ev
), tok_tr AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM train_docs
), sh_tr AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS sh
  FROM tok_tr
), scored AS (
  SELECT s.doc_id,
         CAST(len(s.sh) AS INT) AS n_sh,
         CAST(len(list_filter(s.sh, x -> list_contains(e.ev, x))) AS INT) AS n_hit
  FROM sh_tr s CROSS JOIN ev_set e
), graded AS (
  SELECT doc_id, n_sh, n_hit,
         CASE WHEN n_sh > 0
              THEN CAST(floor(CAST(n_hit AS DOUBLE) / n_sh * 1e6 + 0.5) / 1e6
                        AS DOUBLE)
              ELSE 0.0 END AS containment
  FROM scored
)
SELECT doc_id, n_sh, n_hit, containment,
       CASE WHEN containment >= 0.5 THEN 'dirty'
            WHEN containment >= 0.2 THEN 'suspect'
            ELSE 'clean' END AS verdict
FROM graded
ORDER BY doc_id
"""


def _srp_plane(j: int, dim: int = 64) -> list[int]:
    """Bit-exact mirror of operators/similarity.py::_srp_plane (LCG
    parity -> ±1). Kept inline so oracle.py builds identical BIGINT[]
    literals without importing the Spark operator module;
    tests/test_llm_ops_r8.py pins the two derivations equal."""
    vals, x = [], (j * 2654435761 + 1) % 2147483647
    for _ in range(dim):
        x = (x * 48271) % 2147483647
        vals.append(1 if x % 2 == 1 else -1)
    return vals


# One 12-bit band code per 12 consecutive sign bits (60 planes, 5
# bands — sized so bucket population, not |V|^2, bounds the candidate
# set). The projection is exact integer arithmetic in both engines:
# floor-quantized embedding times ±1 literals, |sum| << 2^53, so
# list_inner_product's DOUBLE accumulation is exact and
# order-independent (every partial sum is an integer) — no near-zero
# sign-flip hazard, unlike q48's float planes.
_SRP_N_PLANES = 60
_SRP_N_BANDS = 5
_SRP_BPB = _SRP_N_PLANES // _SRP_N_BANDS
_SRP_BIT = (
    "(CASE WHEN list_inner_product(CAST(qe AS DOUBLE[]), "
    "CAST([{plane}] AS DOUBLE[])) > 0 THEN 1 ELSE 0 END)"
)
_SRP_BITS = [
    _SRP_BIT.format(plane=", ".join(str(v) for v in _srp_plane(j)))
    for j in range(_SRP_N_PLANES)
]
_SRP_CODES = [
    "(" + " + ".join(
        f"{1 << i}*{_SRP_BITS[_SRP_BPB * b + i]}" for i in range(_SRP_BPB)
    ) + ")"
    for b in range(_SRP_N_BANDS)
]
_SRP_BAND_SELECTS = "\n  UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, {_SRP_CODES[b]} AS code FROM qv"
    for b in range(_SRP_N_BANDS)
)

ORACLE["q163_srp_banded_pairs"] = f"""
WITH sliced AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id < 2000
), all_vecs AS (
  SELECT vec_id, e FROM sliced
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, e FROM sliced WHERE vec_id < 10
), qv AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS qe
  FROM all_vecs
), bands AS (
  {_SRP_BAND_SELECTS}
), cand AS (
  SELECT DISTINCT l.vec_id AS ida, r.vec_id AS idb
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.code = r.code AND l.vec_id < r.vec_id
), pairs AS (
  SELECT c.ida, c.idb,
         CAST(ROUND(list_inner_product(a.e, b.e)
              / (SQRT(list_inner_product(a.e, a.e))
                 * SQRT(list_inner_product(b.e, b.e))),
              4) AS DOUBLE) AS sim
  FROM cand c
  JOIN all_vecs a ON a.vec_id = c.ida
  JOIN all_vecs b ON b.vec_id = c.idb
)
SELECT ida, idb, sim FROM pairs WHERE sim >= 0.99
ORDER BY ida, idb
"""

# Cluster-safe split (operators/dedup.py::q164): the q74 recursive
# min-label components over q46's pair set, then the q77 md5-bucket
# kernel keyed on the cluster representative instead of the doc_id.
# COUNT/SUM cast to BIGINT: DuckDB SUM(int) is HUGEINT (the r4 episode).
# q164's WITH body (pairs -> components -> cluster-keyed split), shared
# with the q181 eval-sample audit. Interpolate inside WITH RECURSIVE.
_CLUSTER_SPLIT_CTES = f"""pairs AS (
{_PAIRS_NO_ORDER}
), edges AS (
  SELECT ida AS a, idb AS b FROM pairs
  UNION ALL
  SELECT idb AS a, ida AS b FROM pairs
), walk(node, lbl) AS (
  SELECT DISTINCT a AS node, a AS lbl FROM edges
  UNION
  SELECT e.b AS node, w.lbl
  FROM walk w JOIN edges e ON e.a = w.node
  WHERE w.lbl < e.b
), cc AS (
  SELECT node, MIN(lbl) AS cluster_id FROM walk GROUP BY node
), all_docs AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id FROM documents WHERE doc_id < 20
), member AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM all_docs d LEFT JOIN cc c ON c.node = d.doc_id
), assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS split,
         CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 80 THEN 'train'
              WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 2147483647 % 100 < 90 THEN 'val'
              ELSE 'test' END AS naive_split
  FROM member
)"""

ORACLE["q164_cluster_safe_split"] = f"""
WITH RECURSIVE {_CLUSTER_SPLIT_CTES}
SELECT split,
       COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(SUM(CASE WHEN split <> naive_split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rerouted
FROM assigned
GROUP BY split
ORDER BY split
"""

# Hard-negative mining (operators/curation.py::q165): idf-weighted
# distinct 3-token-shingle overlap (the q46/q89 shingle-hash kernel;
# integer-scaled idf -> exact int64 sums, the same LN-then-FLOOR
# scaling q140 uses), q46 pair set as the accidental-positive
# exclusion. df-prune: shingles in > 10% of docs.
ORACLE["q165_hard_negatives"] = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
), stats AS (
  SELECT COUNT(*) AS n_corpus FROM all_docs
), tokbase AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM all_docs
), tok AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647))) AS t
  FROM tokbase
), df_tbl AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(s.n_corpus AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT)
           AS idf_u
  FROM (SELECT t, COUNT(*) AS df FROM tok GROUP BY t) d
  CROSS JOIN stats s
  WHERE d.df * 10 <= s.n_corpus
), qtok AS (
  SELECT tok.doc_id AS query_id, tok.t, df_tbl.idf_u
  FROM tok JOIN df_tbl USING (t)
  WHERE tok.doc_id < 20
), scored AS (
  SELECT q.query_id, tok.doc_id, SUM(q.idf_u) AS s_u
  FROM tok JOIN qtok q USING (t)
  WHERE tok.doc_id <> q.query_id
  GROUP BY q.query_id, tok.doc_id
), pairs AS (
{_PAIRS_NO_ORDER}
), negatives AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p
    WHERE (p.ida = s.query_id AND p.idb = s.doc_id)
       OR (p.idb = s.query_id AND p.ida = s.doc_id)
  )
), ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s_u DESC, doc_id) AS rank,
         s_u
  FROM negatives
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id AS neg_id,
       CAST(ROUND(s_u / 1e6, 4) AS DOUBLE) AS score
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# --- round-8 additions -------------------------------------------------------


def _bpe_cte(n_merges: int = 8) -> str:
    """WITH-clause body re-deriving q166's BPE training trajectory:
    per merge step, one chained CTE block (pair count -> argmax ->
    greedy run-parity rewrite), mirroring curation.q166_bpe_train's
    per-iteration window stack exactly — integer counts and string
    equality only. Exposes s1..s{n} one-row step summaries."""
    parts = [
        """t0 AS MATERIALIZED (
  SELECT doc_id, i AS rn, toks[i] AS tok
  FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(f"""b{i} AS MATERIALIZED (
  SELECT l, r, COUNT(*) AS c FROM (
    SELECT tok AS l, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY rn) AS r
    FROM t{p}) q
  WHERE r IS NOT NULL GROUP BY l, r
  ORDER BY c DESC, l, r LIMIT 1
)""")
        parts.append(f"""x{i} AS (
  SELECT t.doc_id, t.rn, t.tok,
         CASE WHEN t.tok = b.l
               AND LEAD(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.rn) = b.r
              THEN 1 ELSE 0 END AS m
  FROM t{p} t CROSS JOIN b{i} b
)""")
        parts.append(f"""y{i} AS (
  SELECT *, CASE WHEN m = 1 THEN rn - SUM(m) OVER (
              PARTITION BY doc_id ORDER BY rn ROWS UNBOUNDED PRECEDING)
            END AS grp
  FROM x{i}
)""")
        parts.append(f"""z{i} AS (
  SELECT *, CASE WHEN m = 1
                  AND (rn - MIN(rn) OVER (PARTITION BY doc_id, grp)) % 2 = 0
                 THEN 1 ELSE 0 END AS ap
  FROM y{i}
)""")
        parts.append(f"""t{i} AS MATERIALIZED (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rn) AS rn,
         CASE WHEN ap = 1 THEN (SELECT l || ' ' || r FROM b{i}) ELSE tok END AS tok
  FROM (SELECT *, COALESCE(LAG(ap) OVER (PARTITION BY doc_id ORDER BY rn), 0)
                    AS cons
        FROM z{i}) q
  WHERE cons = 0
)""")
        parts.append(f"""s{i} AS (
  SELECT {i} AS step, b.l AS left, b.r AS right,
         CAST(b.c AS BIGINT) AS pair_count,
         CAST((SELECT COUNT(*) FROM t{i}) AS BIGINT) AS tokens_after
  FROM b{i} b
)""")
    return ",\n".join(parts)


ORACLE["q166_bpe_train"] = (
    "WITH\n"
    + _bpe_cte(8)
    + "\n"
    + "\nUNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, 9))
    + "\nORDER BY step"
)


ORACLE["q167_ann_recall"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label AS cell, dim,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, c.cell, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM flat f JOIN cent c USING (dim)
  GROUP BY f.vec_id, c.cell
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist
  ) t WHERE rn = 1
), nprobes(nprobe) AS (VALUES (1), (2), (4)),
qcells AS (
  SELECT vec_id AS qid, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crank
  FROM dist WHERE vec_id < 8
), probe AS (
  SELECT q.qid, n.nprobe, q.cell FROM qcells q, nprobes n WHERE q.crank <= n.nprobe
), qv AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 8
), cand AS (
  SELECT p.qid, p.nprobe, a.vec_id
  FROM probe p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.qid
), scored AS (
  SELECT c.qid, c.nprobe, c.vec_id,
         CAST(ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(q.qe, q.qe))), 4) AS DOUBLE) AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN qv q ON q.qid = c.qid
), approx AS (
  SELECT qid, nprobe, vec_id FROM (
    SELECT qid, nprobe, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid, nprobe ORDER BY sim DESC, vec_id) AS rk
    FROM scored) t WHERE rk <= 10
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             CAST(ROUND(
               list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * SQRT(list_inner_product(q.qe, q.qe))), 4) AS DOUBLE) DESC,
             e.vec_id) AS rk
    FROM embeddings e, qv q WHERE e.vec_id <> q.qid) t
  WHERE rk <= 10
), per AS (
  SELECT a.qid, a.nprobe,
         SUM(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM approx a LEFT JOIN exact x ON x.qid = a.qid AND x.vec_id = a.vec_id
  GROUP BY a.qid, a.nprobe
), candn AS (
  SELECT qid, nprobe, COUNT(*) AS n_cand FROM cand GROUP BY qid, nprobe
)
SELECT g.qid AS query_id, g.nprobe,
       CAST(COALESCE(c.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(p.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(ROUND(COALESCE(p.n_hit, 0) / 10.0, 4) AS DOUBLE) AS recall
FROM (SELECT qid, nprobe FROM qv, nprobes) g
LEFT JOIN candn c ON c.qid = g.qid AND c.nprobe = g.nprobe
LEFT JOIN per p ON p.qid = g.qid AND p.nprobe = g.nprobe
ORDER BY 1, 2
"""


ORACLE["q168_mutual_nn"] = """
WITH sl AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id < 2000
), nrm AS (
  SELECT vec_id, e, SQRT(list_inner_product(e, e)) AS nr FROM sl
), qn AS (
  SELECT vec_id,
         list_transform(range(1, 65),
           i -> CAST(FLOOR(e[i] / nr * 1048576 + 0.5) AS BIGINT)) AS q
  FROM nrm
), a AS (SELECT vec_id AS a_id, q FROM qn WHERE vec_id % 2 = 0),
b AS (SELECT vec_id AS b_id, q FROM qn WHERE vec_id % 2 = 1),
dots AS (
  SELECT a.a_id, b.b_id,
         list_inner_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])) AS d
  FROM a CROSS JOIN b
), ra AS (
  SELECT a_id, b_id, d,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY d DESC, b_id) AS rk
  FROM dots
), best_a AS (SELECT a_id, b_id, d AS dot1 FROM ra WHERE rk = 1),
second_a AS (SELECT a_id, d AS dot2 FROM ra WHERE rk = 2),
best_b AS (
  SELECT b_id, a_id AS back_a FROM (
    SELECT b_id, a_id,
           ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY d DESC, a_id) AS rk
    FROM dots) t WHERE rk = 1
)
SELECT ba.a_id, ba.b_id,
       CAST(ROUND(ba.dot1 / 1099511627776.0, 4) AS DOUBLE) AS sim,
       CAST(ROUND((ba.dot1 - sa.dot2) / 1099511627776.0, 4) AS DOUBLE) AS margin
FROM best_a ba
JOIN best_b bb ON bb.b_id = ba.b_id AND bb.back_a = ba.a_id
JOIN second_a sa ON sa.a_id = ba.a_id
ORDER BY 1
"""


ORACLE["q169_bpe_encode"] = (
    "WITH\n"
    + _bpe_cte(8)
    + """,
after AS (
  SELECT doc_id, COUNT(*) AS n_after FROM t8 GROUP BY doc_id
), base AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS nt FROM documents
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.nt) AS BIGINT) AS tokens_before,
       CAST(SUM(a.n_after) AS BIGINT) AS tokens_after,
       CAST((SUM(a.n_after) * 1000000) // SUM(b.nt) AS BIGINT) AS compression_ppm
FROM base b JOIN after a USING (doc_id)
GROUP BY b.source
ORDER BY b.source
"""
)


ORACLE["q170_pack_nextfit"] = """
WITH RECURSIVE base AS (
  SELECT lang, doc_id // 128 AS bucket, doc_id,
         len(str_split(text, ' ')) AS nt,
         ROW_NUMBER() OVER (PARTITION BY lang, doc_id // 128
                            ORDER BY doc_id) AS rn
  FROM documents
), pack AS (
  SELECT lang, bucket, doc_id, nt, rn,
         CAST(0 AS BIGINT) AS bin, nt AS cum
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.lang, b.bucket, b.doc_id, b.nt, b.rn,
         CASE WHEN p.cum + b.nt <= 256 THEN p.bin ELSE p.bin + 1 END,
         CASE WHEN p.cum + b.nt <= 256 THEN p.cum + b.nt ELSE b.nt END
  FROM pack p
  JOIN base b ON b.lang = p.lang AND b.bucket = p.bucket AND b.rn = p.rn + 1
)
SELECT lang, bucket, bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS tokens,
       CAST((SUM(nt) * 1000000) // 256 AS BIGINT) AS fill_ppm
FROM pack
GROUP BY lang, bucket, bin
ORDER BY lang, bucket, bin
"""


ORACLE["q171_bootstrap_ci"] = """
WITH docs AS (
  SELECT source, len(str_split(text, ' ')) AS nt,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS base
  FROM documents
), reps AS (
  SELECT source, b, CAST((SUM(nt) * 1000000) // COUNT(*) AS BIGINT) AS rep_ppm
  FROM docs, range(32) t(b)
  WHERE (base >> b) % 2 = 1
  GROUP BY source, b
), ranked AS (
  SELECT source, rep_ppm,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY rep_ppm, b) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_reps
  FROM reps
), lo AS (
  SELECT source, rep_ppm AS lo_ppm FROM ranked
  WHERE rk = CEIL(n_reps * 0.05)
), hi AS (
  SELECT source, rep_ppm AS hi_ppm FROM ranked
  WHERE rk = CEIL(n_reps * 0.95)
), fullagg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST((SUM(nt) * 1000000) // COUNT(*) AS BIGINT) AS mean_ppm
  FROM docs GROUP BY source
)
SELECT f.source, f.n_docs, f.mean_ppm, l.lo_ppm, h.hi_ppm
FROM fullagg f JOIN lo l USING (source) JOIN hi h USING (source)
ORDER BY f.source
"""


ORACLE["q172_novelty_curve"] = """
WITH docs AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))),
                             ' ')) AS key
  FROM documents
), tot AS (SELECT COUNT(*) AS n FROM docs),
wd AS (SELECT key, (doc_id * 10) // n AS dec FROM docs, tot),
per_dec AS (SELECT dec, COUNT(*) AS n_docs FROM wd GROUP BY dec),
news AS (
  SELECT fdec AS dec, COUNT(*) AS n_new
  FROM (SELECT key, MIN(dec) AS fdec FROM wd GROUP BY key) t
  GROUP BY fdec
)
SELECT CAST(p.dec AS BIGINT) AS decile,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new,
       CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY p.dec
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct,
       CAST(((p.n_docs - COALESCE(nw.n_new, 0)) * 1000000) // p.n_docs
              AS BIGINT) AS repeat_ppm
FROM per_dec p LEFT JOIN news nw USING (dec)
ORDER BY 1
"""


ORACLE["q173_resample_ffill"] = """
WITH ev AS (
  SELECT user_id, ts, 0 AS is_grid, event_id, value
  FROM events WHERE user_id < 10 AND event_type = 'purchase'
), users AS (
  SELECT DISTINCT user_id FROM events WHERE user_id < 10
), grid AS (
  SELECT u.user_id, g.ts, 1 AS is_grid,
         CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value
  FROM users u,
       (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                      TIMESTAMP '2024-01-30 23:00:00',
                                      INTERVAL 1 HOUR)) AS ts) g
), unioned AS (
  SELECT * FROM ev UNION ALL SELECT * FROM grid
), filled AS (
  SELECT user_id, ts, is_grid,
         LAST_VALUE(value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_grid, event_id
           ROWS UNBOUNDED PRECEDING) AS val
  FROM unioned
)
SELECT user_id, ts AS slot_ts, val
FROM filled WHERE is_grid = 1
ORDER BY user_id, slot_ts
"""


ORACLE["q174_reachability_cte"] = f"""
WITH RECURSIVE pairs AS (
{_PAIRS_NO_ORDER}
), edges AS (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL
  SELECT idb AS src, ida AS dst FROM pairs
), seeds AS (
  SELECT DISTINCT src FROM edges ORDER BY src LIMIT 5
), reach(seed, node, depth) AS (
  SELECT src, src, 0 FROM seeds
  UNION ALL
  SELECT r.seed, e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 3
)
SELECT seed,
       CAST(COUNT(DISTINCT CASE WHEN depth <= 1 THEN node END) AS BIGINT) AS n_d1,
       CAST(COUNT(DISTINCT CASE WHEN depth <= 2 THEN node END) AS BIGINT) AS n_d2,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_d3
FROM reach
GROUP BY seed
ORDER BY seed
"""


ORACLE["q175_frame_dedup"] = """
WITH f AS (
  SELECT doc_id, source,
         md5(substring(text,
                       k * GREATEST(length(text) // 8, 1) + 1, 64)) AS fp
  FROM documents, range(8) t(k)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct,
       CAST(((COUNT(*) - COUNT(DISTINCT fp)) * 1000000) // COUNT(*)
            AS BIGINT) AS dup_ppm
FROM f
GROUP BY source
ORDER BY source
"""


ORACLE["q176_ann_ranking_quality"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label AS cell, dim,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, c.cell, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM flat f JOIN cent c USING (dim)
  GROUP BY f.vec_id, c.cell
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist
  ) t WHERE rn = 1
), nprobes(nprobe) AS (VALUES (1), (2), (4)),
qcells AS (
  SELECT vec_id AS qid, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS crank
  FROM dist WHERE vec_id < 8
), probe AS (
  SELECT q.qid, n.nprobe, q.cell FROM qcells q, nprobes n WHERE q.crank <= n.nprobe
), qv AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 8
), cand AS (
  SELECT p.qid, p.nprobe, a.vec_id
  FROM probe p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.qid
), scored AS (
  SELECT c.qid, c.nprobe, c.vec_id,
         CAST(ROUND(
           list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
           / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * SQRT(list_inner_product(q.qe, q.qe))), 4) AS DOUBLE) AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN qv q ON q.qid = c.qid
), approx AS (
  SELECT qid, nprobe, vec_id, rk FROM (
    SELECT qid, nprobe, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid, nprobe ORDER BY sim DESC, vec_id) AS rk
    FROM scored) t WHERE rk <= 10
), exact AS (
  SELECT qid, vec_id, erank FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             CAST(ROUND(
               list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * SQRT(list_inner_product(q.qe, q.qe))), 4) AS DOUBLE) DESC,
             e.vec_id) AS erank
    FROM embeddings e, qv q WHERE e.vec_id <> q.qid) t
  WHERE erank <= 10
), disc(rk, d) AS (
  VALUES (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
         (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065)
), marked AS (
  SELECT a.qid, a.nprobe, a.rk,
         COALESCE(11 - x.erank, 0) AS gain, dd.d AS disc
  FROM approx a
  LEFT JOIN exact x ON x.qid = a.qid AND x.vec_id = a.vec_id
  JOIN disc dd ON dd.rk = a.rk
), per AS (
  SELECT qid, nprobe,
         SUM(gain * disc) AS dcg_u,
         MIN(CASE WHEN gain > 0 THEN rk END) AS first_hit
  FROM marked GROUP BY qid, nprobe
)
SELECT g.qid AS query_id, g.nprobe,
       CAST(COALESCE(p.dcg_u, 0) AS BIGINT) AS dcg_u,
       CAST(COALESCE(1000000 // p.first_hit, 0) AS BIGINT) AS rr_ppm,
       CAST((COALESCE(p.dcg_u, 0) * 1000000) // 29966114 AS BIGINT) AS ndcg_ppm
FROM (SELECT qid, nprobe FROM qv, nprobes) g
LEFT JOIN per p ON p.qid = g.qid AND p.nprobe = g.nprobe
ORDER BY 1, 2
"""


ORACLE["q177_span_quality_prune"] = """
WITH w AS (
  SELECT source,
         toks[k * 16 + 1 : LEAST((k + 1) * 16, len(toks))] AS win
  FROM (SELECT source, str_split(text, ' ') AS toks FROM documents),
       LATERAL (SELECT unnest(range(0, (len(toks) + 15) // 16)) AS k)
), flagged AS (
  SELECT source, len(win) AS wn,
         CASE WHEN len(list_distinct(win)) * 3 <= len(win) * 2
              THEN 1 ELSE 0 END AS dropped
  FROM w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN dropped = 0 THEN wn ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN dropped = 1 THEN wn ELSE 0 END) AS BIGINT) AS tokens_dropped,
       CAST((SUM(CASE WHEN dropped = 1 THEN wn ELSE 0 END) * 1000000)
            // (SUM(wn)) AS BIGINT) AS drop_ppm
FROM flagged
GROUP BY source
ORDER BY source
"""


# The eval-manifest rule's ORACLE twin has one definition too (ADVICE
# r10): the grid CTEs (ev_-prefixed, collision-free with the cluster-
# split CTEs q191 composes them with) and the quota are shared by
# q178 and q191, mirroring curation.py's eval_difficulty_grid /
# eval_pick_window / EVAL_CELL_QUOTA.
_EVAL_CELL_QUOTA = 2

_EVAL_GRID_CTES = """ev_tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
), ev_counts AS (
  SELECT t, COUNT(*) AS c FROM ev_tok GROUP BY t
), ev_total AS (
  SELECT SUM(c) AS tot FROM ev_counts
), ev_lp AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
  FROM ev_counts, ev_total
), ev_agg AS (
  SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(lp_q) AS BIGINT) AS sum_lp_q
  FROM ev_tok JOIN ev_lp USING (t)
  GROUP BY doc_id
), ev_scored AS (
  SELECT doc_id, n_tok // 64 AS len_bucket,
         CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
              AS DOUBLE) AS avg_logprob
  FROM ev_agg
), ev_grid AS (
  SELECT doc_id, len_bucket,
         ((ROW_NUMBER() OVER (PARTITION BY len_bucket
                              ORDER BY avg_logprob, doc_id) - 1) * 10)
           // (COUNT(*) OVER (PARTITION BY len_bucket)) AS difficulty_decile
  FROM ev_scored
)"""

ORACLE["q178_stratified_eval_sample"] = f"""
WITH {_EVAL_GRID_CTES}, picked AS (
  SELECT len_bucket, difficulty_decile, doc_id,
         ROW_NUMBER() OVER (PARTITION BY len_bucket, difficulty_decile
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick,
         COUNT(*) OVER (PARTITION BY len_bucket, difficulty_decile) AS n_cell
  FROM ev_grid
)
SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
       CAST(difficulty_decile AS BIGINT) AS difficulty_decile,
       CAST(pick AS INT) AS rank, doc_id,
       CAST(n_cell AS BIGINT) AS n_cell
FROM picked WHERE pick <= {_EVAL_CELL_QUOTA}
ORDER BY 1, 2, 3
"""


ORACLE["q179_data_card"] = """
WITH docs AS (
  SELECT source, lang,
         len(str_split(text, ' ')) AS nt,
         len(list_filter(str_split(text, ' '),
                         t -> t IN ('the', 'a'))) AS sw,
         md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))),
                             ' ')) AS bow
  FROM documents
), base AS (
  SELECT source,
         COUNT(*) AS n_docs, SUM(nt) AS tokens, MAX(nt) AS max_len,
         SUM(sw) AS sw_total, COUNT(DISTINCT bow) AS n_distinct
  FROM docs GROUP BY source
), dom AS (
  SELECT source, lang AS dominant_lang, c AS dom_count
  FROM (SELECT source, lang, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY COUNT(*) DESC, lang) AS rn
        FROM docs GROUP BY source, lang) t
  WHERE rn = 1
)
SELECT b.source,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST(b.tokens AS BIGINT) AS tokens,
       CAST((b.tokens * 1000000) // b.n_docs AS BIGINT) AS mean_len_ppm,
       CAST(b.max_len AS BIGINT) AS max_len,
       CAST(((b.n_docs - b.n_distinct) * 1000000) // b.n_docs AS BIGINT)
         AS dup_ppm,
       CAST((b.sw_total * 1000000) // b.tokens AS BIGINT) AS stopword_ppm,
       d.dominant_lang,
       CAST((d.dom_count * 1000000) // b.n_docs AS BIGINT)
         AS lang_purity_ppm
FROM base b JOIN dom d USING (source)
ORDER BY b.source
"""


ORACLE["q180_rag_context_assembly"] = """
WITH RECURSIVE qv AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 8
), exact AS (
  SELECT qid, vec_id, erank FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
             CAST(ROUND(
               list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (SQRT(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * SQRT(list_inner_product(q.qe, q.qe))), 4) AS DOUBLE) DESC,
             e.vec_id) AS erank
    FROM embeddings e, qv q WHERE e.vec_id <> q.qid) t
  WHERE erank <= 4
), sized AS (
  SELECT x.qid, x.erank, CAST(len(str_split(d.text, ' ')) AS BIGINT) AS nt
  FROM exact x JOIN documents d ON d.doc_id = x.vec_id
), pack AS (
  SELECT qid, CAST(0 AS BIGINT) AS rk, CAST(0 AS BIGINT) AS cum,
         CAST(0 AS BIGINT) AS inc
  FROM (SELECT DISTINCT qid FROM sized) s
  UNION ALL
  SELECT p.qid, p.rk + 1,
         CASE WHEN p.cum + s.nt <= 192 THEN p.cum + s.nt ELSE p.cum END,
         CASE WHEN p.cum + s.nt <= 192 THEN p.inc + 1 ELSE p.inc END
  FROM pack p JOIN sized s ON s.qid = p.qid AND s.erank = p.rk + 1
), finals AS (
  SELECT p.qid, p.cum, p.inc
  FROM pack p
  JOIN (SELECT qid, MAX(rk) AS mrk FROM pack GROUP BY qid) m
    ON m.qid = p.qid AND m.mrk = p.rk
), counts AS (
  SELECT qid, COUNT(*) AS n_retrieved FROM sized GROUP BY qid
)
SELECT f.qid AS query_id,
       CAST(c.n_retrieved AS INT) AS n_retrieved,
       f.inc AS n_included,
       CAST(c.n_retrieved - f.inc AS BIGINT) AS n_skipped,
       f.cum AS context_tokens,
       CAST((f.cum * 1000000) // 192 AS BIGINT) AS fill_ppm
FROM finals f JOIN counts c USING (qid)
ORDER BY 1
"""


ORACLE["q181_eval_sample_audit"] = f"""
WITH RECURSIVE {_CLUSTER_SPLIT_CTES},
tok2 AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
), counts2 AS (
  SELECT t, COUNT(*) AS c FROM tok2 GROUP BY t
), total2 AS (
  SELECT SUM(c) AS tot FROM counts2
), lp2 AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) * 1e6) AS BIGINT) AS lp_q
  FROM counts2, total2
), agg2 AS (
  SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(lp_q) AS BIGINT) AS sum_lp_q
  FROM tok2 JOIN lp2 USING (t)
  GROUP BY doc_id
), scored2 AS (
  SELECT doc_id, n_tok // 64 AS len_bucket,
         CAST(ROUND(CAST(sum_lp_q AS DOUBLE) / 1e6 / CAST(n_tok AS DOUBLE), 4)
              AS DOUBLE) AS avg_logprob
  FROM agg2
), with_dec2 AS (
  SELECT doc_id, len_bucket,
         ((ROW_NUMBER() OVER (PARTITION BY len_bucket
                              ORDER BY avg_logprob, doc_id) - 1) * 10)
           // (COUNT(*) OVER (PARTITION BY len_bucket)) AS difficulty_decile
  FROM scored2
), picked2 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY len_bucket, difficulty_decile
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS pick
  FROM with_dec2
), sample AS (
  SELECT doc_id FROM picked2 WHERE pick <= 2
), per_split AS (
  SELECT split, COUNT(*) AS n_split_docs FROM assigned GROUP BY split
), hits AS (
  SELECT a.split, COUNT(*) AS n_sampled
  FROM sample s JOIN assigned a USING (doc_id)
  GROUP BY a.split
)
SELECT p.split,
       CAST(COALESCE(h.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST(p.n_split_docs AS BIGINT) AS n_split_docs,
       CAST((COALESCE(h.n_sampled, 0) * 1000000) // p.n_split_docs AS BIGINT)
         AS sampled_ppm
FROM per_split p LEFT JOIN hits h ON h.split = p.split
ORDER BY 1
"""


ORACLE["q182_last_touch_attribution"] = """
WITH un AS (
  SELECT user_id, ts, 0 AS is_p, event_id, event_type AS ttype,
         CAST(NULL AS DOUBLE) AS value
  FROM events WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT user_id, ts, 1 AS is_p, event_id, CAST(NULL AS VARCHAR) AS ttype,
         value
  FROM events WHERE event_type = 'purchase'
), carried AS (
  SELECT *,
         LAST_VALUE(CASE WHEN is_p = 0 THEN {'ts': ts, 'ttype': ttype} END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_p, event_id
                 ROWS UNBOUNDED PRECEDING) AS lt
  FROM un
), attributed AS (
  SELECT CASE WHEN lt IS NOT NULL AND lt.ts >= ts - INTERVAL 24 HOUR
              THEN lt.ttype ELSE 'direct' END AS channel,
         value
  FROM carried WHERE is_p = 1
), total AS (
  SELECT COUNT(*) AS n_total FROM attributed
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       CAST((COUNT(*) * 1000000) // t.n_total AS BIGINT) AS share_ppm
FROM attributed, total t
GROUP BY channel, t.n_total
ORDER BY channel
"""

ORACLE["q183_vocab_drift"] = """
WITH tok AS (
  SELECT CAST(doc_id % 2 AS INT) AS v, unnest(str_split(text, ' ')) AS token
  FROM documents
), counts AS (
  SELECT token,
         CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v0,
         CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1
  FROM tok GROUP BY token
), totals AS (
  SELECT CAST(SUM(n_v0) AS BIGINT) AS t0,
         CAST(SUM(n_v1) AS BIGINT) AS t1,
         COUNT(*) AS k_vocab
  FROM counts
), top AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY n_v0 DESC, token) AS r0,
         ROW_NUMBER() OVER (ORDER BY n_v1 DESC, token) AS r1
  FROM counts
)
SELECT token, n_v0, n_v1,
       CAST((n_v0 * 1000000) // t0 AS BIGINT) AS ppm_v0,
       CAST((n_v1 * 1000000) // t1 AS BIGINT) AS ppm_v1,
       CAST((n_v1 * 1000000) // t1 - (n_v0 * 1000000) // t0 AS BIGINT) AS shift_ppm,
       CAST(FLOOR(ln(CAST((n_v0 + 1) * (t1 + k_vocab) AS DOUBLE)
                     / CAST((n_v1 + 1) * (t0 + k_vocab) AS DOUBLE)) * 1e6)
            AS BIGINT) AS lr_micro,
       CASE WHEN n_v0 = 0 THEN 'new'
            WHEN n_v1 = 0 THEN 'gone'
            ELSE 'stable' END AS status
FROM top, totals
WHERE r0 <= 40 OR r1 <= 40
ORDER BY token
"""

ORACLE["q184_index_drift"] = """
WITH flat AS (
  SELECT vec_id, (vec_id % 4 = 0) AS is_arr, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent AS (
  SELECT label AS cell, dim,
         CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat WHERE NOT is_arr GROUP BY label, dim
), dist AS (
  SELECT f.vec_id, f.is_arr, c.cell,
         CAST(SUM((f.q - c.mu) * (f.q - c.mu)) AS BIGINT) AS d2
  FROM flat f JOIN cent c USING (dim)
  GROUP BY f.vec_id, f.is_arr, c.cell
), assigned AS (
  SELECT is_arr, cell, d2 FROM (
    SELECT is_arr, cell, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
    FROM dist
  ) t WHERE rn = 1
), per_cell AS (
  SELECT cell,
         CAST(SUM(CASE WHEN NOT is_arr THEN 1 ELSE 0 END) AS BIGINT) AS n_existing,
         CAST(SUM(CASE WHEN is_arr THEN 1 ELSE 0 END) AS BIGINT) AS n_arrivals,
         CAST(SUM(CASE WHEN NOT is_arr THEN d2 ELSE 0 END) AS BIGINT) AS s2_ex,
         CAST(SUM(CASE WHEN is_arr THEN d2 ELSE 0 END) AS BIGINT) AS s2_ar
  FROM assigned GROUP BY cell
), totals AS (
  SELECT CAST(SUM(n_existing) AS BIGINT) AS t_ex,
         CAST(SUM(n_arrivals) AS BIGINT) AS t_ar
  FROM per_cell
)
SELECT cell, n_existing, n_arrivals,
       CAST((n_existing * 1000000) // t_ex AS BIGINT) AS load_existing_ppm,
       CAST((n_arrivals * 1000000) // t_ar AS BIGINT) AS load_arrivals_ppm,
       CAST(s2_ex // n_existing AS BIGINT) AS mean_d2_existing,
       CAST(CASE WHEN n_arrivals > 0 THEN s2_ar // n_arrivals END AS BIGINT)
         AS mean_d2_arrivals,
       CAST(CASE WHEN n_arrivals > 0 AND s2_ex // n_existing > 0 THEN
              ((s2_ar // n_arrivals) * 1000000) // (s2_ex // n_existing)
            END AS BIGINT) AS drift_ppm
FROM per_cell, totals
ORDER BY cell
"""


# --- q185/q187: product quantization (per-subspace k-means codebooks, ------
# --- ADC top-k scan, distortion report); q186: int8 recall audit -----------
# The four codebooks are re-derived FROM SCRATCH per subspace via the
# prefixed _kmeans_cte (k=8, 2 iterations, dim=16 over the vectors'
# sliced sub-ranges) — exact integer arithmetic end to end, so the
# encode (subNassigned) and the ADC ranking match Spark bit-for-bit.

_PQ_SUBS = ",\n".join(
    f"""sub{s}corpus AS (
  SELECT vec_id, embedding[{s * 16 + 1}:{(s + 1) * 16}] AS embedding
  FROM embeddings
),
{_kmeans_cte(8, 2, 16, prefix=f"sub{s}")}"""
    for s in range(4)
)

_PQ_CODES = "\nUNION ALL\n".join(
    f"  SELECT vec_id, {s} AS sub, cell AS code FROM sub{s}assigned"
    for s in range(4)
)

_PQ_CENTS = "\nUNION ALL\n".join(
    f"  SELECT {s} AS sub, cell AS code, dim, mu FROM sub{s}c2"
    for s in range(4)
)

ORACLE["q185_pq_adc"] = f"""
WITH {_PQ_SUBS},
codes AS (
{_PQ_CODES}
),
cents AS (
{_PQ_CENTS}
),
qflat AS (
  SELECT e.vec_id AS qid, s.sub, t.i AS dim,
         CAST(FLOOR(CAST(e.embedding[s.sub * 16 + t.i + 1] AS DOUBLE) * 1024 + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, range(4) s(sub), range(16) t(i)
  WHERE e.vec_id < 4
),
lut AS (
  SELECT q.qid, q.sub, c.code,
         CAST(SUM((q.q - c.mu) * (q.q - c.mu)) AS BIGINT) AS d2
  FROM qflat q JOIN cents c ON c.sub = q.sub AND c.dim = q.dim
  GROUP BY q.qid, q.sub, c.code
),
adc AS (
  SELECT l.qid, k.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
  WHERE k.vec_id <> l.qid
  GROUP BY l.qid, k.vec_id
)
SELECT qid, rk, vec_id, adc_d2 FROM (
  SELECT qid, vec_id, adc_d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id)
              AS INT) AS rk
  FROM adc) t
WHERE rk <= 10
ORDER BY qid, rk
"""

ORACLE["q187_pq_distortion"] = f"""
WITH {_PQ_SUBS},
member_d2 AS (
  {" UNION ALL ".join(
    f'''SELECT {s} AS sub, a.cell AS code, d.d2
  FROM sub{s}assigned a
  JOIN sub{s}dist d ON d.vec_id = a.vec_id AND d.cell = a.cell'''
    for s in range(4)
  )}
)
SELECT sub, code,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(CAST(SUM(d2) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_d2,
       CAST(MAX(d2) AS BIGINT) AS max_d2
FROM member_d2
GROUP BY sub, code
ORDER BY sub, code
"""

ORACLE["q186_int8_recall"] = """
WITH mx AS (
  SELECT MAX(ABS(x)) AS m
  FROM (SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
),
flat AS (
  SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS v
  FROM embeddings, range(64) t(i)
),
qz AS (
  SELECT vec_id, dim,
         CAST(FLOOR(v * (127.0 / (SELECT m FROM mx)) + 0.5) AS BIGINT) AS a,
         CAST(FLOOR(v * 1024 + 0.5) AS BIGINT) AS g
  FROM flat
),
qq AS (
  SELECT vec_id AS qid, dim, a AS qa, g AS qg FROM qz WHERE vec_id < 8
),
dots AS (
  SELECT qq.qid, z.vec_id,
         CAST(SUM(z.a * qq.qa) AS BIGINT) AS s8,
         CAST(SUM(z.g * qq.qg) AS BIGINT) AS sref
  FROM qz z JOIN qq ON qq.dim = z.dim
  WHERE z.vec_id <> qq.qid
  GROUP BY qq.qid, z.vec_id
),
rk AS (
  SELECT qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s8 DESC, vec_id) AS rk8,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sref DESC, vec_id) AS rkr
  FROM dots
)
SELECT qid,
       CAST(COALESCE(SUM(CASE WHEN rk8 <= 10 AND rkr <= 10 THEN 1 END), 0)
            AS BIGINT) AS hits_at10,
       CAST((CAST(COALESCE(SUM(CASE WHEN rk8 <= 10 AND rkr <= 10 THEN 1 END), 0)
                  AS BIGINT) * 1000000) // 10 AS BIGINT) AS recall_ppm
FROM rk
GROUP BY qid
ORDER BY qid
"""


# Shared WITH-chain for the two-stage retrieval (q188) and its
# cross-encoder-shaped rerank (q195): retrained codebooks -> ADC
# shortlist (50) -> exact grid re-rank -> top10 (qid, rk, vec_id, d2).
_PQ_RERANK_CTES = f"""{_PQ_SUBS},
codes AS (
{_PQ_CODES}
),
cents AS (
{_PQ_CENTS}
),
gflat AS (
  SELECT vec_id, t.i AS dim,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS g
  FROM embeddings, range(64) t(i)
),
qflat AS (
  SELECT e.vec_id AS qid, s.sub, t.i AS dim,
         CAST(FLOOR(CAST(e.embedding[s.sub * 16 + t.i + 1] AS DOUBLE) * 1024 + 0.5)
              AS BIGINT) AS q
  FROM embeddings e, range(4) s(sub), range(16) t(i)
  WHERE e.vec_id < 4
),
lut AS (
  SELECT q.qid, q.sub, c.code,
         CAST(SUM((q.q - c.mu) * (q.q - c.mu)) AS BIGINT) AS d2
  FROM qflat q JOIN cents c ON c.sub = q.sub AND c.dim = q.dim
  GROUP BY q.qid, q.sub, c.code
),
adc AS (
  SELECT l.qid, k.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
  WHERE k.vec_id <> l.qid
  GROUP BY l.qid, k.vec_id
),
shortlist AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vec_id) AS srk
    FROM adc) t
  WHERE srk <= 50
),
qgrid AS (
  SELECT qid, sub * 16 + dim AS dim, q FROM qflat
),
exact AS (
  SELECT s.qid, s.vec_id,
         CAST(SUM((g.g - q.q) * (g.g - q.q)) AS BIGINT) AS d2
  FROM shortlist s
  JOIN gflat g ON g.vec_id = s.vec_id
  JOIN qgrid q ON q.qid = s.qid AND q.dim = g.dim
  GROUP BY s.qid, s.vec_id
),
top10 AS (
  SELECT qid, rk, vec_id, d2 FROM (
    SELECT qid, vec_id, d2,
           CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS INT) AS rk
    FROM exact) t
  WHERE rk <= 10
)"""

ORACLE["q188_pq_reranked"] = f"""
WITH {_PQ_RERANK_CTES}
SELECT qid, rk, vec_id, d2 FROM top10
ORDER BY qid, rk
"""

# q195: late-interaction lexical rerank of q188's top-10 — saturated
# shingle tf both sides, idf-weighted, exact int64 (similarity.py
# docstring). Shingle hashing mirrors functions/text.py exactly (the
# q165 oracle kernel, WITHOUT list_distinct so tf survives).
ORACLE["q195_ce_rerank"] = f"""
WITH {_PQ_RERANK_CTES},
relevant AS (
  SELECT DISTINCT vec_id AS doc_id FROM top10
  UNION
  SELECT DISTINCT qid AS doc_id FROM top10
),
rel_tokbase AS (
  SELECT d.doc_id,
         list_transform(str_split(d.text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents d JOIN relevant r USING (doc_id)
),
rel_sh AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647)) AS t
  FROM rel_tokbase
),
tf AS (
  SELECT doc_id, t, LEAST(COUNT(*), 3) AS tf_sat
  FROM rel_sh GROUP BY doc_id, t
),
tokbase AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 2147483647) AS tb
  FROM documents
),
dtok AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(0, len(tb) - 2)),
           i -> ((tb[i] * 912367891) % 2147483647
               + (tb[i+1] * 1500450271) % 2147483647
               + (tb[i+2] * 2038074743) % 2147483647) % 2147483647))) AS t
  FROM tokbase
),
stats AS (SELECT COUNT(*) AS n_corpus FROM documents),
df_tbl AS (
  SELECT t,
         CAST(FLOOR(LN(CAST(s.n_corpus AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT)
           AS idf_u
  FROM (SELECT t, COUNT(*) AS df FROM dtok GROUP BY t) d
  CROSS JOIN stats s
  WHERE d.df * 10 <= s.n_corpus
),
ce AS (
  SELECT p.qid, p.vec_id,
         CAST(SUM(d.idf_u * q.tf_sat * c.tf_sat) AS BIGINT) AS ce_u
  FROM top10 p
  JOIN tf c ON c.doc_id = p.vec_id
  JOIN tf q ON q.doc_id = p.qid AND q.t = c.t
  JOIN df_tbl d ON d.t = c.t
  GROUP BY p.qid, p.vec_id
)
SELECT qid, ce_rank, vec_id, pq_rank, d2, ce_u FROM (
  SELECT p.qid, p.vec_id, p.rk AS pq_rank, p.d2,
         COALESCE(ce.ce_u, 0) AS ce_u,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.qid
                ORDER BY COALESCE(ce.ce_u, 0) DESC, p.d2, p.vec_id)
              AS INT) AS ce_rank
  FROM top10 p LEFT JOIN ce ON ce.qid = p.qid AND ce.vec_id = p.vec_id) t
WHERE ce_rank <= 5
ORDER BY qid, ce_rank
"""


ORACLE["q189_kmv_overlap"] = """
WITH sh AS (
  SELECT DISTINCT source, CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS h
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh) t
  WHERE rn <= 32
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS inter_exact
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
),
pairs AS (
  SELECT pa.source AS source_a, pa.n AS n_a, pb.source AS source_b, pb.n AS n_b
  FROM per_src pa JOIN per_src pb ON pa.source < pb.source
),
merged AS (
  SELECT source_a, source_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
    FROM sk s JOIN pairs p ON p.source_a = s.source
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
    FROM sk s JOIN pairs p ON p.source_b = s.source) u
  GROUP BY source_a, source_b, h
),
topk AS (
  SELECT * FROM (
    SELECT source_a, source_b, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
    FROM merged) t
  WHERE rn <= 32
),
est AS (
  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS m_k,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM topk GROUP BY source_a, source_b
)
SELECT p.source_a, p.source_b, p.n_a, p.n_b,
       COALESCE(i.inter_exact, 0) AS inter_exact,
       p.n_a + p.n_b - COALESCE(i.inter_exact, 0) AS union_exact,
       CAST(CASE WHEN e.m < 32 THEN e.m
                 ELSE (31 * 4503599627370496) // e.m_k END AS BIGINT)
         AS union_est,
       CAST((e.n_both * 1000000) // e.m AS BIGINT) AS jacc_est_ppm,
       CAST((COALESCE(i.inter_exact, 0) * 1000000)
            // (p.n_a + p.n_b - COALESCE(i.inter_exact, 0)) AS BIGINT)
         AS jacc_exact_ppm,
       CAST((ABS(union_est - union_exact) * 1000000) // union_exact AS BIGINT)
         AS union_err_ppm
FROM pairs p
JOIN est e USING (source_a, source_b)
LEFT JOIN inter i USING (source_a, source_b)
ORDER BY source_a, source_b
"""

# --- q190: OPQ-style balanced-variance rotation before PQ -------------------
# Re-derives from scratch: per-dim integer variance numerator on the
# 1024 grid, round-robin allocation of variance-ranked dims to the 4
# subspaces, permuted vectors via list(v ORDER BY slot), then 4 fresh
# prefixed _kmeans_cte trainings on the permuted sub-ranges — the same
# distortion report shape as q187, bit-identical to Spark.

_OPQ_ALLOC = """gridall AS (
  SELECT vec_id, t.i AS dim, CAST(embedding[t.i + 1] AS DOUBLE) AS v,
         CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), varn AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) * CAST(SUM(q * q) AS BIGINT)
           - CAST(SUM(q) AS BIGINT) * CAST(SUM(q) AS BIGINT) AS vn
  FROM gridall GROUP BY dim
), asg AS (
  SELECT dim,
         CAST((ROW_NUMBER() OVER (ORDER BY vn DESC, dim) - 1) % 4 AS INT) AS sub,
         CAST((ROW_NUMBER() OVER (ORDER BY vn DESC, dim) - 1) // 4 AS INT) AS slot
  FROM varn
)"""

_OPQ_SUBS = ",\n".join(
    f"""opq{s}corpus AS (
  SELECT g.vec_id, list(g.v ORDER BY a.slot) AS embedding
  FROM gridall g JOIN asg a USING (dim)
  WHERE a.sub = {s}
  GROUP BY g.vec_id
),
{_kmeans_cte(8, 2, 16, prefix=f"opq{s}")}"""
    for s in range(4)
)

ORACLE["q190_opq_rotation"] = f"""
WITH {_OPQ_ALLOC},
{_OPQ_SUBS},
member_d2 AS (
  {" UNION ALL ".join(
    f'''SELECT {s} AS sub, a.cell AS code, d.d2
  FROM opq{s}assigned a
  JOIN opq{s}dist d ON d.vec_id = a.vec_id AND d.cell = a.cell'''
    for s in range(4)
  )}
)
SELECT sub, code,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(CAST(SUM(d2) AS BIGINT) // COUNT(*) AS BIGINT) AS mean_d2,
       CAST(MAX(d2) AS BIGINT) AS max_d2
FROM member_d2
GROUP BY sub, code
ORDER BY sub, code
"""

# --- q191: contamination-aware eval-split regeneration (q164 x q181 loop) ---
ORACLE["q191_eval_split_regen"] = f"""
WITH RECURSIVE {_CLUSTER_SPLIT_CTES},
{_EVAL_GRID_CTES},
orig AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY len_bucket, difficulty_decile
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
             AS pick
    FROM ev_grid) t
  WHERE pick <= {_EVAL_CELL_QUOTA}
), elig AS (
  SELECT w.doc_id, w.len_bucket, w.difficulty_decile,
         ROW_NUMBER() OVER (PARTITION BY w.len_bucket, w.difficulty_decile
                            ORDER BY md5(CAST(w.doc_id AS VARCHAR)), w.doc_id)
           AS pick,
         COUNT(*) OVER (PARTITION BY w.len_bucket, w.difficulty_decile)
           AS n_eligible
  FROM ev_grid w JOIN assigned a USING (doc_id)
  WHERE a.split = 'test'
)
SELECT CAST(e.len_bucket AS BIGINT) AS len_bucket,
       CAST(e.difficulty_decile AS BIGINT) AS difficulty_decile,
       CAST(e.pick AS INT) AS rank,
       e.doc_id,
       CASE WHEN o.doc_id IS NOT NULL THEN 'kept' ELSE 'replacement' END
         AS status,
       CAST(e.n_eligible AS BIGINT) AS n_eligible
FROM elig e LEFT JOIN orig o ON o.doc_id = e.doc_id
WHERE e.pick <= {_EVAL_CELL_QUOTA}
ORDER BY 1, 2, 3
"""


# --- q151b: LSH candidate-pair volume forecast from bucket sizes ------------
# Reuses q46's signature/band CTE chain verbatim (same corpus, same
# band recipe, same NULL-digest drop), replacing the pair self-join
# with a bucket-size rollup: per band, sum C(n,2) — the pre-join
# affordability monitor.
_BANDS_PREFIX = ORACLE["q46_minhash_lsh"].rsplit("SELECT DISTINCT", 1)[0]

ORACLE["q151b_candidate_volume"] = f"""
{_BANDS_PREFIX}, buckets AS (
  SELECT band_idx, digest, CAST(COUNT(*) AS BIGINT) AS n
  FROM bands
  WHERE digest IS NOT NULL
  GROUP BY band_idx, digest
)
SELECT band_idx,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs_forecast
FROM buckets
GROUP BY band_idx
ORDER BY band_idx
"""

# --- q192: deterministic training-shard manifest (token-offset packing) -----
# Oracle keeps the single global-window cumulative sum as the
# exactness twin of Spark's range-partitioned two-phase prefix sum.
ORACLE["q192_shard_plan"] = """
WITH tokc AS (
  SELECT doc_id,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS nt,
         md5(CAST(doc_id AS VARCHAR)) AS k
  FROM documents
), ordered AS (
  SELECT doc_id, nt,
         CAST(COALESCE(SUM(nt) OVER (ORDER BY k, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM tokc
)
SELECT CAST(cum_before // 2048 AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens,
       CAST(MIN(cum_before) AS BIGINT) AS start_offset,
       CAST(MAX(cum_before + nt) AS BIGINT) AS end_offset
FROM ordered
GROUP BY 1
ORDER BY 1
"""

# --- q193: exact mixture-sampling plan (Hamilton apportionment + draw) ------
ORACLE["q193_mixture_plan"] = """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), keyed AS (
  SELECT source, n_docs,
         CAST(FLOOR(POW(CAST(n_docs AS DOUBLE), 0.7) * 1e6 + 0.5) AS BIGINT)
           AS k
  FROM counts
), tot AS (
  SELECT CAST(SUM(k) AS BIGINT) AS tot FROM keyed
), alloc AS (
  SELECT source, n_docs,
         CAST((300 * k) // tot AS BIGINT) AS base,
         CAST((300 * k) % tot AS BIGINT) AS rem
  FROM keyed, tot
), base_sum AS (
  SELECT CAST(SUM(base) AS BIGINT) AS base_sum FROM alloc
), quota AS (
  SELECT source, n_docs,
         base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                          <= 300 - base_sum THEN 1 ELSE 0 END AS quota
  FROM alloc, base_sum
), ranked AS (
  SELECT d.source, d.doc_id,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rnk
  FROM documents d
), drawn AS (
  SELECT r.source,
         CAST(COUNT(*) AS BIGINT) AS n_drawn,
         CAST(SUM(r.rnk * r.doc_id) AS BIGINT) AS draw_checksum
  FROM ranked r JOIN quota q ON q.source = r.source
  WHERE r.rnk <= q.quota
  GROUP BY r.source
)
SELECT q.source, q.n_docs,
       CAST(q.quota AS BIGINT) AS quota,
       CAST(COALESCE(d.n_drawn, 0) AS BIGINT) AS n_drawn,
       CAST(q.quota - COALESCE(d.n_drawn, 0) AS BIGINT) AS shortfall,
       CAST(COALESCE(d.draw_checksum, 0) AS BIGINT) AS draw_checksum
FROM quota q LEFT JOIN drawn d ON d.source = q.source
ORDER BY q.source
"""


# --- q194: perceptual-hash (dHash) image near-dup pairs ---------------------
# Re-derives the fake-codec 9x8 byte-sampled grid as VARCHAR
# ord(substr()) (ASCII corpus: octet == char, the q175 invariant), the
# 64 horizontal-gradient bits as 4x16-bit integer bands, the LSH band
# self-join, and the per-band bit_count(xor) Hamming verification —
# all integer arithmetic, bit-identical to the Arrow dhash stage.
def _phash_band_sql(j: int) -> str:
    terms = []
    for kl in range(16):
        k = 16 * j + kl
        r, c = divmod(k, 8)
        terms.append(
            f"(CASE WHEN p[{9 * r + c + 1}] > p[{9 * r + c + 2}]"
            f" THEN {1 << kl} ELSE 0 END)"
        )
    return " + ".join(terms)


ORACLE["q194_phash_neardup"] = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 6000000 AS doc_id, 'Z' || substr(text, 2) AS text
  FROM documents WHERE doc_id < 24
), px AS (
  SELECT doc_id,
         list_transform(generate_series(0, 71),
           i -> CASE WHEN length(text) = 0 THEN 0
                     ELSE ord(substr(text, (i * length(text)) // 72 + 1, 1))
                END) AS p
  FROM base
), sig AS (
  SELECT doc_id,
         CAST({_phash_band_sql(0)} AS INTEGER) AS b0,
         CAST({_phash_band_sql(1)} AS INTEGER) AS b1,
         CAST({_phash_band_sql(2)} AS INTEGER) AS b2,
         CAST({_phash_band_sql(3)} AS INTEGER) AS b3
  FROM px
), bands AS (
  SELECT doc_id, 0 AS bi, b0 AS bv FROM sig
  UNION ALL SELECT doc_id, 1 AS bi, b1 AS bv FROM sig
  UNION ALL SELECT doc_id, 2 AS bi, b2 AS bv FROM sig
  UNION ALL SELECT doc_id, 3 AS bi, b3 AS bv FROM sig
), cand AS (
  SELECT DISTINCT l.doc_id AS ida, r.doc_id AS idb
  FROM bands l
  JOIN bands r ON l.bi = r.bi AND l.bv = r.bv AND l.doc_id < r.doc_id
)
SELECT c.ida, c.idb,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
         AS INTEGER) AS hamming,
       (c.idb - c.ida = 6000000) AS is_planted
FROM cand c
JOIN sig a ON a.doc_id = c.ida
JOIN sig b ON b.doc_id = c.idb
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 6
ORDER BY 1, 2
"""

# q189b: the sketch-only production twin — q189's CTE chain minus the
# exact h-keyed self-join and the error columns.
ORACLE["q189b_kmv_overlap_sketch"] = """
WITH sh AS (
  SELECT DISTINCT source, CAST('0x' || substr(md5(text), 1, 13) AS BIGINT) AS h
  FROM documents
),
per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh) t
  WHERE rn <= 32
),
pairs AS (
  SELECT pa.source AS source_a, pa.n AS n_a, pb.source AS source_b, pb.n AS n_b
  FROM per_src pa JOIN per_src pb ON pa.source < pb.source
),
merged AS (
  SELECT source_a, source_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
    FROM sk s JOIN pairs p ON p.source_a = s.source
    UNION ALL
    SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
    FROM sk s JOIN pairs p ON p.source_b = s.source) u
  GROUP BY source_a, source_b, h
),
topk AS (
  SELECT * FROM (
    SELECT source_a, source_b, h, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
    FROM merged) t
  WHERE rn <= 32
),
est AS (
  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS m_k,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
  FROM topk GROUP BY source_a, source_b
)
SELECT p.source_a, p.source_b, p.n_a, p.n_b,
       CAST(CASE WHEN e.m < 32 THEN e.m
                 ELSE (31 * 4503599627370496) // e.m_k END AS BIGINT)
         AS union_est,
       CAST((e.n_both * 1000000) // e.m AS BIGINT) AS jacc_est_ppm
FROM pairs p
JOIN est e USING (source_a, source_b)
ORDER BY source_a, source_b
"""


# q196: per-clip scene cuts — q175's frame substrings + q194's grid/
# band kernel per frame + SQL lag windows.
ORACLE["q196_scene_cuts"] = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 7000000 AS doc_id, repeat(substr(text, 1, 64), 8) AS text
  FROM documents WHERE doc_id < 30 AND length(text) >= 64
), fr AS (
  SELECT doc_id, k AS frame_idx,
         substring(text, k * GREATEST(length(text) // 8, 1) + 1, 64) AS frame
  FROM base, range(8) t(k)
), px AS (
  SELECT doc_id, frame_idx,
         list_transform(generate_series(0, 71),
           i -> CASE WHEN length(frame) = 0 THEN 0
                     ELSE ord(substr(frame, (i * length(frame)) // 72 + 1, 1))
                END) AS p
  FROM fr
), sig AS (
  SELECT doc_id, frame_idx,
         CAST({_phash_band_sql(0)} AS INTEGER) AS b0,
         CAST({_phash_band_sql(1)} AS INTEGER) AS b1,
         CAST({_phash_band_sql(2)} AS INTEGER) AS b2,
         CAST({_phash_band_sql(3)} AS INTEGER) AS b3
  FROM px
), stepped AS (
  SELECT doc_id, frame_idx,
         bit_count(xor(b0, lag(b0) OVER w)) + bit_count(xor(b1, lag(b1) OVER w))
       + bit_count(xor(b2, lag(b2) OVER w)) + bit_count(xor(b3, lag(b3) OVER w))
           AS h
  FROM sig
  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
  QUALIFY frame_idx >= 1
)
SELECT doc_id,
       CAST(SUM(CASE WHEN h >= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(MAX(h) AS INTEGER) AS max_step,
       CAST((SUM(h) * 1000) // COUNT(*) AS BIGINT) AS mean_step_milli,
       CAST(COALESCE(MIN(CASE WHEN h >= 16 THEN frame_idx END), -1)
            AS INTEGER) AS first_cut,
       (doc_id >= 7000000) AS is_planted_static
FROM stepped
GROUP BY doc_id
ORDER BY doc_id
"""

# q131b: the sketch-profile production twin — q131's exact fields plus
# the q28 tolerance boolean (each engine's own HLL vs its own exact).
ORACLE["q131b_table_profile_sketch"] = """
WITH w AS (
  SELECT
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS c0n,
    COUNT(DISTINCT o_orderkey) AS c0d, approx_count_distinct(o_orderkey) AS c0a,
    CAST(MIN(o_orderkey) AS VARCHAR) AS c0mn, CAST(MAX(o_orderkey) AS VARCHAR) AS c0mx,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c1n,
    COUNT(DISTINCT o_custkey) AS c1d, approx_count_distinct(o_custkey) AS c1a,
    CAST(MIN(o_custkey) AS VARCHAR) AS c1mn, CAST(MAX(o_custkey) AS VARCHAR) AS c1mx,
    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS c2n,
    COUNT(DISTINCT o_orderstatus) AS c2d, approx_count_distinct(o_orderstatus) AS c2a,
    MIN(o_orderstatus) AS c2mn, MAX(o_orderstatus) AS c2mx,
    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS c3n,
    COUNT(DISTINCT o_totalprice) AS c3d, approx_count_distinct(o_totalprice) AS c3a,
    CAST(MIN(o_totalprice) AS VARCHAR) AS c3mn, CAST(MAX(o_totalprice) AS VARCHAR) AS c3mx,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS c4n,
    COUNT(DISTINCT o_orderdate) AS c4d, approx_count_distinct(o_orderdate) AS c4a,
    CAST(MIN(o_orderdate) AS VARCHAR) AS c4mn, CAST(MAX(o_orderdate) AS VARCHAR) AS c4mx,
    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS c5n,
    COUNT(DISTINCT o_orderpriority) AS c5d, approx_count_distinct(o_orderpriority) AS c5a,
    MIN(o_orderpriority) AS c5mn, MAX(o_orderpriority) AS c5mx
  FROM orders
)
SELECT column_name, n_nulls, min_str, max_str, approx_within_12pct FROM (
  SELECT 'o_orderkey' AS column_name, CAST(c0n AS BIGINT) AS n_nulls, c0mn AS min_str, c0mx AS max_str,
         ABS(c0a - c0d) <= 0.12 * c0d AS approx_within_12pct FROM w
  UNION ALL SELECT 'o_custkey', CAST(c1n AS BIGINT), c1mn, c1mx, ABS(c1a - c1d) <= 0.12 * c1d FROM w
  UNION ALL SELECT 'o_orderstatus', CAST(c2n AS BIGINT), c2mn, c2mx, ABS(c2a - c2d) <= 0.12 * c2d FROM w
  UNION ALL SELECT 'o_totalprice', CAST(c3n AS BIGINT), c3mn, c3mx, ABS(c3a - c3d) <= 0.12 * c3d FROM w
  UNION ALL SELECT 'o_orderdate', CAST(c4n AS BIGINT), c4mn, c4mx, ABS(c4a - c4d) <= 0.12 * c4d FROM w
  UNION ALL SELECT 'o_orderpriority', CAST(c5n AS BIGINT), c5mn, c5mx, ABS(c5a - c5d) <= 0.12 * c5d FROM w
)
ORDER BY column_name
"""

# q131c: the hash-green production profile — nulls/min/max exactly as
# q131, distinct counts from the DETERMINISTIC md5-substream sketch
# (256 buckets, 44-bit grid; linear counting below saturation, int64
# min-sum division at f=256). Canonical renderings (int cents, epoch
# seconds) keep the md5 inputs byte-identical to the Spark side.
ORACLE["q131c_table_profile_kmv"] = """
WITH w AS (
  SELECT
    SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS c0n,
    CAST(MIN(o_orderkey) AS VARCHAR) AS c0mn, CAST(MAX(o_orderkey) AS VARCHAR) AS c0mx,
    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS c1n,
    CAST(MIN(o_custkey) AS VARCHAR) AS c1mn, CAST(MAX(o_custkey) AS VARCHAR) AS c1mx,
    SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS c2n,
    MIN(o_orderstatus) AS c2mn, MAX(o_orderstatus) AS c2mx,
    SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS c3n,
    CAST(MIN(o_totalprice) AS VARCHAR) AS c3mn, CAST(MAX(o_totalprice) AS VARCHAR) AS c3mx,
    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS c4n,
    CAST(MIN(o_orderdate) AS VARCHAR) AS c4mn, CAST(MAX(o_orderdate) AS VARCHAR) AS c4mx,
    SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS c5n,
    MIN(o_orderpriority) AS c5mn, MAX(o_orderpriority) AS c5mx
  FROM orders
), base AS (
  SELECT 'o_orderkey' AS column_name, CAST(c0n AS BIGINT) AS n_nulls, c0mn AS min_str, c0mx AS max_str FROM w
  UNION ALL SELECT 'o_custkey', CAST(c1n AS BIGINT), c1mn, c1mx FROM w
  UNION ALL SELECT 'o_orderstatus', CAST(c2n AS BIGINT), c2mn, c2mx FROM w
  UNION ALL SELECT 'o_totalprice', CAST(c3n AS BIGINT), c3mn, c3mx FROM w
  UNION ALL SELECT 'o_orderdate', CAST(c4n AS BIGINT), c4mn, c4mx FROM w
  UNION ALL SELECT 'o_orderpriority', CAST(c5n AS BIGINT), c5mn, c5mx FROM w
), pairs AS (
  SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL SELECT 'o_totalprice',
    CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM orders
  UNION ALL SELECT 'o_orderdate',
    CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR) FROM orders
  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
), keyed AS (
  SELECT column_name,
         CAST('0x' || substr(md5(v), 1, 13) AS BIGINT) AS w
  FROM pairs WHERE v IS NOT NULL
), mins AS (
  SELECT column_name, w % 256 AS b, MIN(w) // 256 AS u_min
  FROM keyed GROUP BY column_name, w % 256
), est AS (
  SELECT column_name,
         CASE WHEN COUNT(*) < 256 THEN
           CAST(FLOOR(-256.0 * LN((256.0 - COUNT(*)) / 256.0) + 0.5) AS BIGINT)
         ELSE
           CAST(1152921504606846976 //
                (SUM(u_min) + (256 - COUNT(*)) * 17592186044416)
                - 256 AS BIGINT)
         END AS n_distinct_est
  FROM mins GROUP BY column_name
)
SELECT base.column_name AS column_name, n_nulls, n_distinct_est,
       min_str, max_str
FROM base JOIN est ON base.column_name = est.column_name
ORDER BY base.column_name
"""


# q197: per-clip audio VAD — windows as VARCHAR substrings (ASCII
# invariant), integer short-time energy via ord() squares, identical
# lag/run-length/rollup windows in SQL. Exact int64 end to end.
ORACLE["q197_audio_vad"] = """
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 8000000 AS doc_id,
         substr(text, 1, 256) || repeat(' ', 256) AS text
  FROM documents WHERE doc_id < 24 AND length(text) >= 256
), win AS (
  SELECT doc_id,
         CAST(unnest(generate_series(0, length(text) // 64 - 1)) AS INTEGER)
           AS win_idx,
         text
  FROM base
), e AS (
  SELECT doc_id, win_idx,
         list_aggregate(list_transform(
           list_transform(generate_series(0, 63),
             i -> CAST(ord(substr(text,
                    CAST(win_idx * 64 + i + 1 AS INTEGER), 1)) AS BIGINT)),
           v -> v * v), 'sum') AS energy
  FROM win
), v AS (
  SELECT doc_id, win_idx, (energy >= 610000) AS voiced FROM e
), r AS (
  SELECT doc_id, win_idx, voiced,
         CASE WHEN LAG(voiced) OVER (PARTITION BY doc_id ORDER BY win_idx)
                   IS DISTINCT FROM voiced THEN 1 ELSE 0 END AS new_run
  FROM v
), rid AS (
  SELECT doc_id, voiced,
         SUM(new_run) OVER (PARTITION BY doc_id ORDER BY win_idx) AS run_id
  FROM r
), runs AS (
  SELECT doc_id, run_id, voiced, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM rid GROUP BY doc_id, run_id, voiced
)
SELECT doc_id,
       CAST(SUM(run_len) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN voiced THEN run_len ELSE 0 END) AS BIGINT)
         AS voiced_windows,
       CAST((SUM(CASE WHEN voiced THEN run_len ELSE 0 END) * 1000000)
            // SUM(run_len) AS BIGINT) AS voiced_ppm,
       CAST(SUM(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
       CAST(COALESCE(MAX(CASE WHEN NOT voiced THEN run_len END), 0) AS BIGINT)
         AS longest_silence,
       (doc_id >= 8000000) AS is_planted
FROM runs
GROUP BY doc_id
ORDER BY doc_id
"""


# q198: per-label embedding dispersion — the q141 integer grid, the
# sums identity for scatter, the q186 shared-IEEE centroid division,
# |labels|^2 pairwise centroid distances. Exact int64 end to end.
ORACLE["q198_embedding_dispersion"] = """
WITH x AS (
  SELECT label, CAST(i - 1 AS INTEGER) AS d,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), per_ld AS (
  SELECT label, d, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x * x) AS BIGINT) AS s2
  FROM x GROUP BY label, d
), per_label AS (
  SELECT label, MAX(cnt) AS n_vecs, CAST(SUM(s2) AS BIGINT) AS sum_sq,
         CAST(SUM(s1 * s1) AS BIGINT) AS norm_s1_sq
  FROM per_ld GROUP BY label
), cent AS (
  SELECT p.label, p.d,
         CAST(floor(CAST(p.s1 AS DOUBLE) / CAST(l.n_vecs AS DOUBLE))
           AS BIGINT) AS c
  FROM per_ld p JOIN per_label l USING (label)
), pair_d2 AS (
  SELECT a.label AS label, b.label AS other,
         CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS d2
  FROM cent a JOIN cent b ON a.d = b.d AND a.label <> b.label
  GROUP BY a.label, b.label
), nearest AS (
  SELECT label, other AS nearest_label, d2 AS nearest_d2
  FROM (SELECT label, other, d2,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2, other)
                 AS rn
        FROM pair_d2) t
  WHERE rn = 1
)
SELECT l.label, l.n_vecs,
       CAST((l.n_vecs * l.sum_sq - l.norm_s1_sq) * 1000
            // (l.n_vecs * l.n_vecs) AS BIGINT) AS dispersion_milli,
       n.nearest_label, n.nearest_d2
FROM per_label l JOIN nearest n USING (label)
ORDER BY l.label
"""

# q199: cross-modal retrieval with RRF fusion — the q194 grid/band
# derivation for the visual ranks (natural corpus only, query = doc 0),
# a distinct shared-token count for the lexical ranks, both top-60 with
# doc_id tie-breaks, fused in the q110b integer micro-unit idiom.
ORACLE["q199_crossmodal_rrf"] = f"""
WITH px AS (
  SELECT doc_id,
         list_transform(generate_series(0, 71),
           i -> CASE WHEN length(text) = 0 THEN 0
                     ELSE ord(substr(text, (i * length(text)) // 72 + 1, 1))
                END) AS p
  FROM documents
), sig AS (
  SELECT doc_id,
         CAST({_phash_band_sql(0)} AS INTEGER) AS b0,
         CAST({_phash_band_sql(1)} AS INTEGER) AS b1,
         CAST({_phash_band_sql(2)} AS INTEGER) AS b2,
         CAST({_phash_band_sql(3)} AS INTEGER) AS b3
  FROM px
), qsig AS (
  SELECT b0 AS q0, b1 AS q1, b2 AS q2, b3 AS q3 FROM sig WHERE doc_id = 0
), vis AS (
  SELECT s.doc_id,
         CAST(bit_count(xor(s.b0, q.q0)) + bit_count(xor(s.b1, q.q1))
            + bit_count(xor(s.b2, q.q2)) + bit_count(xor(s.b3, q.q3))
           AS INTEGER) AS hamming
  FROM sig s, qsig q WHERE s.doc_id > 0
), vis_rank AS (
  SELECT doc_id, CAST(rn AS INTEGER) AS rank_vis FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hamming, doc_id) AS rn
    FROM vis) t
  WHERE rn <= 60
), qtok AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(str_split(text, ' ')) AS tok FROM documents WHERE doc_id = 0
  ) WHERE tok <> ''
), ctok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(str_split(text, ' ')) AS tok
    FROM documents WHERE doc_id > 0
  ) WHERE tok <> ''
), overlap AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS ov
  FROM ctok c JOIN qtok q ON c.tok = q.tok
  GROUP BY c.doc_id
), lex_rank AS (
  SELECT doc_id, CAST(rn AS INTEGER) AS rank_lex FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ov DESC, doc_id) AS rn
    FROM overlap) t
  WHERE rn <= 60
), fused AS (
  SELECT COALESCE(v.doc_id, l.doc_id) AS doc_id, v.rank_vis, l.rank_lex,
         CAST(COALESCE(1000000 // (60 + v.rank_vis), 0)
            + COALESCE(1000000 // (60 + l.rank_lex), 0) AS BIGINT) AS rrf_ppm
  FROM vis_rank v FULL OUTER JOIN lex_rank l ON v.doc_id = l.doc_id
)
SELECT doc_id, rank_vis, rank_lex, rrf_ppm FROM (
  SELECT * FROM fused ORDER BY rrf_ppm DESC, doc_id LIMIT 20
) ORDER BY doc_id
"""

# q200: incremental image admission — the q194 grid/band derivation
# over store + planted incoming, the q160 verdict precedence, the
# biased-int64 signature pack (b3 - 32768 keeps 4x16 bits inside
# signed int64), all integer arithmetic.
ORACLE["q200_phash_admission"] = f"""
WITH allb AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 8000000000000 AS doc_id, 'Z' || substr(text, 2) AS text
  FROM documents WHERE doc_id < 24 AND doc_id % 10 <> 3
), px AS (
  SELECT doc_id,
         list_transform(generate_series(0, 71),
           i -> CASE WHEN length(text) = 0 THEN 0
                     ELSE ord(substr(text, (i * length(text)) // 72 + 1, 1))
                END) AS p
  FROM allb
), sig AS (
  SELECT doc_id,
         CAST({_phash_band_sql(0)} AS BIGINT) AS b0,
         CAST({_phash_band_sql(1)} AS BIGINT) AS b1,
         CAST({_phash_band_sql(2)} AS BIGINT) AS b2,
         CAST({_phash_band_sql(3)} AS BIGINT) AS b3
  FROM px
), packed AS (
  SELECT doc_id, b0, b1, b2, b3,
         b0 + b1 * 65536 + b2 * 4294967296
            + (b3 - 32768) * 281474976710656 AS sig64
  FROM sig
), store AS (
  SELECT * FROM packed
  WHERE doc_id % 10 <> 3 AND doc_id < 8000000000000
), incoming AS (
  SELECT * FROM packed WHERE doc_id % 10 = 3 AND doc_id < 8000000000000
  UNION ALL
  SELECT * FROM packed WHERE doc_id >= 8000000000000
  UNION ALL
  SELECT doc_id + 1000000000000 AS doc_id, b0, b1, b2, b3, sig64
  FROM packed WHERE doc_id >= 8000000000000
  UNION ALL
  SELECT doc_id + 4000000000000 AS doc_id, b0, b1, b2, b3, sig64
  FROM store WHERE doc_id < 10
), store_bands AS (
  SELECT DISTINCT bi, bv FROM (
    SELECT 0 AS bi, b0 AS bv FROM store
    UNION ALL SELECT 1, b1 FROM store
    UNION ALL SELECT 2, b2 FROM store
    UNION ALL SELECT 3, b3 FROM store)
), first_seen AS (
  SELECT sig64, MIN(doc_id) AS first_id FROM incoming GROUP BY sig64
), verdicted AS (
  SELECT i.doc_id,
         CASE
           WHEN i.sig64 IN (SELECT DISTINCT sig64 FROM store)
             THEN 'exact_store'
           WHEN i.doc_id > f.first_id THEN 'exact_batch'
           WHEN EXISTS (
             SELECT 1 FROM store_bands sb
             WHERE (sb.bi = 0 AND sb.bv = i.b0)
                OR (sb.bi = 1 AND sb.bv = i.b1)
                OR (sb.bi = 2 AND sb.bv = i.b2)
                OR (sb.bi = 3 AND sb.bv = i.b3)
           ) THEN 'near_store'
           ELSE 'novel'
         END AS verdict
  FROM incoming i JOIN first_seen f ON i.sig64 = f.sig64
)
SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM verdicted
GROUP BY verdict
ORDER BY verdict
"""

# q201: shuffle-key skew advisor — per-candidate two-level aggregate,
# integer ppm thresholds, same CASE ladder as operators/skew.py.
def _advisor_profile_sql(table: str, key: str) -> str:
    return f"""
  SELECT '{table}' AS table_name, '{key}' AS key_name,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_key_rows
  FROM (SELECT COALESCE(CAST({key} AS VARCHAR), '∅') AS k, COUNT(*) AS c
        FROM {table} GROUP BY 1)"""


ORACLE["q201_skew_advisor"] = f"""
WITH prof AS (
{" UNION ALL ".join(_advisor_profile_sql(t, k) for t, k in (
    ("events", "user_id"),
    ("events", "event_type"),
    ("orders", "o_custkey"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_orderkey"),
    ("customer", "c_nationkey"),
    ("documents", "source"),
))}
)
SELECT table_name, key_name, n_rows, n_keys, max_key_rows,
       CAST(max_key_rows * 1000000 // n_rows AS BIGINT) AS max_share_ppm,
       CAST(n_rows // n_keys AS BIGINT) AS rows_per_key,
       CASE WHEN max_key_rows * 1000000 // n_rows >= 100000 THEN 'salt'
            WHEN n_keys < 1024 THEN 'broadcast_or_preagg'
            ELSE 'hash_ok' END AS advice
FROM prof
ORDER BY table_name, key_name
"""

# q202: retrieval-threshold calibration — q127's integer-grid centroid
# machinery for label 0 only, fixed 2^19 distance buckets, cumulative
# TP/FP over the grid-bounded bucket frame, integer-ppm columns.
ORACLE["q202_retrieval_calibration"] = """
WITH flat AS (
  SELECT vec_id, label, i AS dim,
         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1024 + 0.5) AS BIGINT) AS q
  FROM embeddings, range(64) t(i)
), cent0 AS (
  SELECT dim, CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mu
  FROM flat WHERE label = 0 GROUP BY dim
), d2 AS (
  SELECT f.vec_id, f.label, SUM((f.q - c.mu) * (f.q - c.mu)) AS d2
  FROM flat f JOIN cent0 c ON f.dim = c.dim
  GROUP BY f.vec_id, f.label
), per_bucket AS (
  SELECT d2 // 524288 AS bucket,
         CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN label = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM d2 GROUP BY 1
), cum AS (
  SELECT bucket,
         CAST(SUM(n_pos) OVER (ORDER BY bucket) AS BIGINT) AS tp,
         CAST(SUM(n_neg) OVER (ORDER BY bucket) AS BIGINT) AS fp
  FROM per_bucket
), tot AS (
  SELECT SUM(n_pos) AS p, SUM(n_neg) AS n FROM per_bucket
)
SELECT CAST((bucket + 1) * 524288 AS BIGINT) AS threshold_hi,
       tp, fp,
       CAST(t.p - tp AS BIGINT) AS fn,
       CAST(t.n - fp AS BIGINT) AS tn,
       CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // t.p AS BIGINT) AS recall_ppm
FROM cum, tot t
ORDER BY threshold_hi
"""

# q203: cross-snapshot delta ledger — even/odd doc_ids as snapshots
# keyed by doc_id // 2, one full-outer digest join, per-source
# conditional counts, integer-ppm churn.
ORACLE["q203_snapshot_delta"] = """
WITH v0 AS (
  SELECT doc_id // 2 AS key, source AS src_v0,
         md5(COALESCE(text, '')) AS dig_v0
  FROM documents WHERE doc_id % 2 = 0
), v1 AS (
  SELECT doc_id // 2 AS key, source AS src_v1,
         md5(COALESCE(text, '')) AS dig_v1
  FROM documents WHERE doc_id % 2 = 1
), j AS (
  SELECT COALESCE(v1.src_v1, v0.src_v0) AS source,
         CASE WHEN v0.dig_v0 IS NULL THEN 'added'
              WHEN v1.dig_v1 IS NULL THEN 'removed'
              WHEN v0.dig_v0 = v1.dig_v1 THEN 'unchanged'
              ELSE 'changed' END AS st
  FROM v0 FULL OUTER JOIN v1 ON v0.key = v1.key
), per AS (
  SELECT source,
         CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM j GROUP BY source
)
SELECT source, n_added, n_removed, n_changed, n_unchanged,
       CAST((n_added + n_removed + n_changed) * 1000000
            // (n_added + n_removed + n_changed + n_unchanged) AS BIGINT)
         AS churn_ppm
FROM per
ORDER BY source
"""


# q204: Z-order layout advisor — grid-snap-then-curve file simulation,
# per-layout footer-stats skipping for a corpus-relative probe box,
# all integer arithmetic (the Morton interleave is the same literal
# shift expression layout.py::morton_z compiles to).
ORACLE["q204_zorder_layout_advisor"] = """
WITH ev AS (
  SELECT user_id AS x,
         CAST(epoch(ts) AS BIGINT) // 3600 AS hr
  FROM events
), base AS (
  SELECT MIN(hr) AS hr0 FROM ev
), pts AS (
  SELECT x, hr - hr0 AS y FROM ev, base
), maxes AS (
  SELECT MAX(x) AS xm, MAX(y) AS ym FROM pts
), snapped AS (
  SELECT x, y,
         x * 32 // (xm + 1) AS xs,
         y * 32 // (ym + 1) AS ys
  FROM pts, maxes
), zc AS (
  SELECT x, y, xs, ys, (((xs >> 0) & 1) << 0) + (((ys >> 0) & 1) << 1) + (((xs >> 1) & 1) << 2) + (((ys >> 1) & 1) << 3) + (((xs >> 2) & 1) << 4) + (((ys >> 2) & 1) << 5) + (((xs >> 3) & 1) << 6) + (((ys >> 3) & 1) << 7) + (((xs >> 4) & 1) << 8) + (((ys >> 4) & 1) << 9) AS z FROM snapped
), assigned AS (
  SELECT x, y, 'sort_x' AS layout, xs * 64 // 32 AS f FROM zc
  UNION ALL
  SELECT x, y, 'sort_y', ys * 64 // 32 FROM zc
  UNION ALL
  SELECT x, y, 'zorder', z * 64 // 1024 FROM zc
), files AS (
  SELECT layout, f, COUNT(*) AS n_rows,
         MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y
  FROM assigned GROUP BY layout, f
), box AS (
  SELECT xm // 8 AS x_lo, xm // 4 AS x_hi,
         ym // 8 AS y_lo, ym // 4 AS y_hi
  FROM maxes
), matching AS (
  SELECT COUNT(*) AS rows_matching FROM pts, box
  WHERE x BETWEEN x_lo AND x_hi AND y BETWEEN y_lo AND y_hi
), per AS (
  SELECT layout,
         CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(CASE WHEN min_x <= x_hi AND max_x >= x_lo
                        AND min_y <= y_hi AND max_y >= y_lo
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_files_hit,
         CAST(SUM(CASE WHEN min_x <= x_hi AND max_x >= x_lo
                        AND min_y <= y_hi AND max_y >= y_lo
                  THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM files, box GROUP BY layout
)
SELECT layout, n_files, n_files_hit,
       CAST((n_files - n_files_hit) * 1000000 // n_files AS BIGINT)
         AS files_pruned_ppm,
       rows_scanned,
       CAST(rows_matching AS BIGINT) AS rows_matching,
       CAST(rows_scanned * 1000000 // GREATEST(rows_matching, 1) AS BIGINT)
         AS read_amp_ppm,
       ROW_NUMBER() OVER (ORDER BY rows_scanned, layout) = 1 AS recommended
FROM per, matching
ORDER BY layout
"""


# q205: retrain trigger — the q203 churn arithmetic over a four-class
# planted snapshot pair (same-length mutation / removal / padded
# additions / identity) joined with the 64-char-bucket length-drift
# L1, thresholded at 200k/150k ppm.
ORACLE["q205_retrain_trigger"] = """
WITH docs AS (
  SELECT doc_id, source, COALESCE(text, '') AS text FROM documents
), v0 AS (
  SELECT doc_id AS key, source, text FROM docs
), v1 AS (
  SELECT doc_id AS key, source,
         CASE WHEN doc_id % 20 IN (3, 13)
              THEN 'Z' || substr(text, 2) ELSE text END AS text
  FROM docs WHERE doc_id % 20 NOT IN (9, 19)
  UNION ALL
  SELECT doc_id + 1000000000, source, rpad(text, 1024, 'x')
  FROM docs WHERE doc_id % 20 IN (7, 17) AND (doc_id // 20) % 5 = 0
), j AS (
  SELECT COALESCE(b.source, a.source) AS source,
         CASE WHEN a.key IS NULL OR b.key IS NULL
                OR md5(a.text) <> md5(b.text)
              THEN 1 ELSE 0 END AS delta
  FROM v0 a FULL OUTER JOIN v1 b ON a.key = b.key
), churn AS (
  SELECT source,
         CAST(SUM(delta) * 1000000 // COUNT(*) AS BIGINT) AS churn_ppm
  FROM j GROUP BY source
), h0 AS (
  SELECT source, LEAST(length(text) // 64, 15) AS lb, COUNT(*) AS n0
  FROM v0 GROUP BY 1, 2
), h1 AS (
  SELECT source, LEAST(length(text) // 64, 15) AS lb, COUNT(*) AS n1
  FROM v1 GROUP BY 1, 2
), cells AS (
  SELECT COALESCE(h0.source, h1.source) AS source,
         COALESCE(n0, 0) AS n0, COALESCE(n1, 0) AS n1
  FROM h0 FULL OUTER JOIN h1
    ON h0.source = h1.source AND h0.lb = h1.lb
), totals AS (
  SELECT source, SUM(n0) AS t0, SUM(n1) AS t1 FROM cells GROUP BY source
), drift AS (
  SELECT c.source,
         CAST(SUM(ABS(n0 * 1000000 // GREATEST(t0, 1)
                      - n1 * 1000000 // GREATEST(t1, 1))) AS BIGINT)
           AS drift_ppm
  FROM cells c JOIN totals t ON c.source = t.source GROUP BY c.source
)
SELECT churn.source AS source, churn_ppm, drift_ppm,
       CASE WHEN churn_ppm >= 200000 AND drift_ppm >= 150000 THEN 'both'
            WHEN churn_ppm >= 200000 THEN 'churn'
            WHEN drift_ppm >= 150000 THEN 'drift'
            ELSE 'none' END AS trigger,
       (churn_ppm >= 200000 OR drift_ppm >= 150000) AS retrain
FROM churn JOIN drift ON churn.source = drift.source
ORDER BY source
"""

# q206: scalable rank suite — DuckDB's NATIVE window functions are the
# oracle for rank.py's two-phase kernel: ROW_NUMBER/NTILE come straight
# from the engine; percent_rank/cume_dist are pinned in exact integer
# ppm ((rnk-1)*1e6 // (total-1)) because the order is total (doc_id
# tie-break), where RANK == ROW_NUMBER and the closed forms are exact.
ORACLE["q206_scalable_rank_suite"] = """
WITH ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER w AS rnk,
         NTILE(16) OVER w AS bucket,
         COUNT(*) OVER () AS total
  FROM (SELECT doc_id, LENGTH(COALESCE(text, '')) AS _len FROM documents)
  WINDOW w AS (ORDER BY _len DESC, doc_id)
)
SELECT doc_id,
       CAST(rnk AS INTEGER) AS rnk,
       CAST(bucket AS INTEGER) AS bucket,
       (rnk - 1) * 1000000 // (total - 1) AS pr_ppm,
       rnk * 1000000 // total AS cd_ppm
FROM ranked
WHERE doc_id % 13 = 0
ORDER BY doc_id
"""

# q207-q209: the remaining classic TPC-H optimizer showcases (Q19
# disjunctive pushdown, Q17 correlated-avg decorrelation, Q21
# multi-EXISTS collapsed to one aggregate grain). The oracles state the
# same decorrelated forms: DuckDB's optimizer handles either, and the
# decorrelated SQL doubles as the semantic spec for the Spark plans.
ORACLE["q207_disjunctive_promo_revenue"] = f"""
SELECT p_brand, COUNT(*) AS n_items,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
GROUP BY p_brand
ORDER BY p_brand
"""

ORACLE["q208_small_quantity_revenue"] = """
WITH per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT p_size, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS lost_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 5
  AND CAST(l_quantity AS BIGINT) * 5 * n < sum_qty
GROUP BY p_size
ORDER BY p_size
"""

ORACLE["q209_waiting_suppliers"] = """
WITH grain AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey AS ok, COUNT(*) AS n_supp, SUM(late) AS n_late
  FROM grain GROUP BY l_orderkey
)
SELECT s_name, numwait
FROM (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM grain JOIN per_order ON l_orderkey = ok
  WHERE late = 1 AND n_supp > 1 AND n_late = 1
  GROUP BY l_suppkey
) w JOIN supplier ON l_suppkey = s_suppkey
ORDER BY numwait DESC, s_name
LIMIT 20
"""

# q210: weighted bipartite PageRank, 3 damped co-HITS iterations in
# exact int64 micro-units. Floor division applied per-edge BEFORE each
# sum, parenthesized identically in both engines, so ranks are
# bit-identical. The oracle unrolls the iterations as CTEs.
# rank_micro is CAST to BIGINT (r15): DuckDB's SUM(BIGINT) widens to
# HUGEINT (int128) — the ONLY three oracles in the suite whose result
# carried a HUGEINT column were exactly the three driver hash-reds
# (q210/q213/q215, two rounds running, rows+schema green), while every
# value fits int64 (max ~1.2e7 at sf0.1). A typed canonicalization on
# the driver side (e.g. Arrow/pandas, where HUGEINT converts unlike
# BIGINT) hashes differently even though fetchall values are equal —
# which is also why local parity (python ints) could never reproduce
# it. Value-identical cast; Spark side is already bigint.
ORACLE["q210_supplier_pagerank"] = """
WITH edges AS (
  SELECT o_custkey AS c, l_suppkey AS s, COUNT(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), wc AS (SELECT c, SUM(w) AS wc FROM edges GROUP BY c),
   ws AS (SELECT s, SUM(w) AS ws FROM edges GROUP BY s),
   e AS (
  SELECT edges.c, edges.s, edges.w, wc.wc, ws.ws
  FROM edges JOIN wc USING (c) JOIN ws USING (s)
), s1 AS (
  SELECT s, 150000 + ((85 * SUM((1000000 * w) // wc)) // 100) AS r
  FROM e GROUP BY s
), c1 AS (
  SELECT c, 150000 + ((85 * SUM((s1.r * w) // ws)) // 100) AS r
  FROM e JOIN s1 USING (s) GROUP BY c
), s2 AS (
  SELECT s, 150000 + ((85 * SUM((c1.r * w) // wc)) // 100) AS r
  FROM e JOIN c1 USING (c) GROUP BY s
), c2 AS (
  SELECT c, 150000 + ((85 * SUM((s2.r * w) // ws)) // 100) AS r
  FROM e JOIN s2 USING (s) GROUP BY c
), s3 AS (
  SELECT s, 150000 + ((85 * SUM((c2.r * w) // wc)) // 100) AS r
  FROM e JOIN c2 USING (c) GROUP BY s
)
SELECT s_name, CAST(r AS BIGINT) AS rank_micro
FROM s3 JOIN supplier ON s = s_suppkey
ORDER BY rank_micro DESC, s_name
LIMIT 20
"""

# q211: TPC-H Q7 shape — dual-role nation dimension (supplier's and
# customer's nation under separate aliases), either-direction pair.
ORACLE["q211_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM({_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

# q212: TPC-H Q13 shape — zero-preserving left join + count-of-counts.
ORACLE["q212_customer_distribution"] = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# q213: C4/RefinedWeb line-level boilerplate — lines (10-token chunks +
# planted banners) repeating across >= 30 distinct docs are dropped;
# per-source retention in exact integer ppm. n_removed/retention_ppm
# CAST to BIGINT (r15): SUM(int) is HUGEINT in DuckDB — see the q210
# comment; the driver hash-red trio were the suite's only HUGEINT
# outputs. Value-identical (ppm <= 1e6).
ORACLE["q213_line_boilerplate"] = """
WITH staged AS (
  SELECT doc_id, source,
         list_concat(list_concat(
           regexp_extract_all(COALESCE(text, ''), '\\S+( \\S+){0,9}'),
           CASE WHEN doc_id % 3 = 0
                THEN ['please subscribe to our site newsletter for updates today']
                ELSE [] END),
           CASE WHEN doc_id % 5 = 0
                THEN ['this site uses cookies by continuing you accept the policy']
                ELSE [] END) AS _la
  FROM documents
), lines AS (
  SELECT doc_id, source, unnest(_la) AS line
  FROM staged
), boiler AS (
  SELECT line FROM (
    SELECT line, COUNT(*) AS _df
    FROM (SELECT DISTINCT line, doc_id FROM lines)
    GROUP BY line
  ) WHERE _df >= 30
), scored AS (
  SELECT l.source, COUNT(*) AS n_lines,
         SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS n_removed
  FROM lines l LEFT JOIN boiler b ON l.line = b.line
  GROUP BY l.source
)
SELECT source, n_lines, CAST(n_removed AS BIGINT) AS n_removed,
       CAST(((n_lines - n_removed) * 1000000) // n_lines AS BIGINT)
         AS retention_ppm
FROM scored
ORDER BY source
"""

# q214: the salted-aggregation certification — the oracle is the PLAIN
# GROUP BY (salting is value-neutral for algebraic aggregates), so a
# hash match certifies the two-phase salted path end-to-end.
ORACLE["q214_salted_rollup"] = """
SELECT event_type,
       COUNT(event_id) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
       CAST(ROUND(MIN(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS min_value,
       CAST(ROUND(MAX(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS max_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# q215: cluster-balanced selection — the oracle RETRAINS the k=16
# quantizer in SQL (_kmeans_cte) and re-derives routing + per-cell
# prototypical top-8, so index, routing, and selection are all
# certified by one hash. d2 CAST to BIGINT (r15): the squared-distance
# sum widens to HUGEINT in DuckDB — see the q210 comment; the driver
# hash-red trio were the suite's only HUGEINT outputs. Value-identical
# (max d2 ~9.4e5).
ORACLE["q215_cluster_balanced_sample"] = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
),
{_kmeans_cte(16, 3)},
member AS (
  SELECT a.vec_id, a.cell, d.d2
  FROM assigned a JOIN dist d ON a.vec_id = d.vec_id AND a.cell = d.cell
), ranked AS (
  SELECT cell, vec_id, d2,
         CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d2, vec_id) AS INT) AS rnk,
         COUNT(*) OVER (PARTITION BY cell) AS n_members
  FROM member
)
SELECT CAST(cell AS INT) AS cluster, rnk, vec_id,
       CAST(d2 AS BIGINT) AS d2, n_members
FROM ranked
WHERE rnk <= 8
ORDER BY cluster, rnk
"""

# q216: triangle census over the candidate-pair graph — ordered
# two-join enumeration (each edge stored once as ida < idb, so every
# triangle a<b<c counts exactly once), membership via unnest.
ORACLE["q216_triangle_census"] = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 200
), inv AS (
  SELECT doc_id, unnest(sh) AS s FROM docs
), pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), tri AS (
  SELECT e1.ida AS a, e1.idb AS b, e2.idb AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.idb = e2.ida
  JOIN pairs e3 ON e3.ida = e1.ida AND e3.idb = e2.idb
), member AS (
  SELECT unnest([a, b, c]) AS doc_id FROM tri
)
SELECT doc_id, COUNT(*) AS n_triangles
FROM member
GROUP BY doc_id
ORDER BY n_triangles DESC, doc_id
LIMIT 20
"""

# q217: hourly autocorrelation (lag 1 / lag 24) per event type —
# cross-multiplied integer deviations d = n*x - S, exact int64 sums,
# one final IEEE division per ratio (identical on identical ints).
ORACLE["q217_hourly_autocorrelation"] = """
WITH hc AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
         COUNT(*) AS x
  FROM events GROUP BY 1, 2
), types AS (
  SELECT DISTINCT event_type FROM events
), spine AS (
  SELECT event_type,
         unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                TIMESTAMP '2024-01-30 23:00:00',
                                INTERVAL 1 HOUR)) AS h
  FROM types
), series AS (
  SELECT s.event_type, s.h, COALESCE(hc.x, 0) AS x
  FROM spine s LEFT JOIN hc ON s.event_type = hc.event_type AND s.h = hc.h
), stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(x) AS sx
  FROM series GROUP BY event_type
), dev AS (
  SELECT se.event_type, se.h, (st.n * se.x - st.sx) AS d,
         LAG(st.n * se.x - st.sx, 1) OVER w AS d1,
         LAG(st.n * se.x - st.sx, 24) OVER w AS d24
  FROM series se JOIN stats st USING (event_type)
  WINDOW w AS (PARTITION BY se.event_type ORDER BY se.h)
), agg AS (
  SELECT event_type, COUNT(*) AS n_hours,
         SUM(d * d) AS den, SUM(d * d1) AS num1, SUM(d * d24) AS num24
  FROM dev GROUP BY event_type
)
SELECT event_type, n_hours,
       CAST(ROUND(CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE)
         AS acf_lag1,
       CAST(ROUND(CAST(num24 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS DOUBLE)
         AS acf_lag24,
       (num24 > num1) AS diurnal
FROM agg
ORDER BY event_type
"""
