"""Scale probe: do the plans hold as data grows 1000x?

Synthesizes sf≈1 locally (10 shifted copies of sf0.1 written once to
/tmp/spark_graft_scale) and times headline queries at sf0.001 / 0.01 /
0.1 / ~1 — four decades of data. A plan that is fixed-overhead-bound at
small sf and linear-in-rows at large sf is healthy; superlinear growth
exposes a shuffle or spill problem before a real cluster would.

Usage: python tools/scale_probe.py [--full | --duckdb | --sf3] [--rebuild]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from kinesis_logs_reader_spark.oracle import TABLES

SCALE_DIR = "/tmp/spark_graft_scale/sf1"
COPIES = 10
# r13 growth spot-reads (VERDICT r12 item 5): a 30x tier to confirm
# the sf~1 growth numbers are log-linear, not a hidden quadratic that
# only costs 2x at 10x. Built on demand by --sf3.
SCALE3_DIR = "/tmp/spark_graft_scale/sf3"
COPIES3 = 30

HEADLINE = [
    "q01_project_arith",
    "q02_filter_predicates",
    "q05_join_inner",
    "q13_tpch_q1",
    "q18_window_rank",
    "q22_topk",
    "q40_dedup_exact",
    "q41_token_stats",
    "q43_cosine_topk",
    "q46_minhash_lsh",
    "q50_cosine_dup_pairs",
    "q68_shipping_priority",
    "q69_local_supplier_volume",
    "q71_large_volume_customer",
    "q74_dup_clusters",
    "q77_hash_split",
    "q83_funnel",
    "q85_event_transitions",
    "q89_decontamination",
    "q90_curation_pipeline",
    "q94_pack_sequences",
    "q95_tfidf",
    "q98_bm25",
    "q99_centroid_outliers",
    "q100_scd2",
    # r4 additions: the window-sort fix + sort-elision family
    "q19_window_lag",
    "q20_window_running_sum",
    "q60_range_frame",
    "q63_window_analytics",
    "q59_exists_subquery",
    "q76_merge_upsert",
    "q37b_zscore_window",
    "q58_map_funcs",
    "q28_approx_distinct",
]


def build(spark, scale_dir: str = SCALE_DIR, copies: int = COPIES) -> None:
    """``copies`` shifted copies of each sf0.1 table -> /tmp."""
    from kinesis_logs_reader_spark.sources.tables import TABLE_NAMES, load_table

    src = "/root/testdata/sf0.1"
    key_shift = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "documents": ("doc_id", 1_000_000),
        "embeddings": ("vec_id", 1_000_000),
        "events": ("event_id", 10_000_000),
    }
    for name in TABLE_NAMES:
        out = os.path.join(scale_dir, f"{name}.parquet")
        base = load_table(spark, src, name)
        if name in key_shift:
            col, step = key_shift[name]
            parts = [
                base.withColumn(col, F.col(col) + F.lit(i * step)) for i in range(copies)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = base  # dims stay dim-sized
        df.write.mode("overwrite").parquet(out)
        print(f"built {name}: {df.count()} rows")


def full_soak(spark, queries) -> None:
    """--full: the entire declared surface once at sf0.1 and once at
    sf~1 (best-of-2 warm). Emits SCALE_FULL.json {query: {t01, t1,
    growth, err}} so SCALE.md can cover 165/165 (VERDICT r5 item #8).
    A healthy row grows <= ~3x on 10x data (fixed overhead + linear
    scan); superlinear rows are the shuffle/spill suspects.

    Merges into an existing SCALE_FULL.json so the DuckDB-side fields
    (d1, ratio_t1) and _summary survive a Spark-side re-run; the
    summary's Spark totals/ratios are recomputed from the fresh t1."""
    import json

    out = {}
    try:
        with open(ROOT / "SCALE_FULL.json") as f:
            out = json.load(f)
    except Exception:
        pass
    for i, name in enumerate(sorted(queries)):
        rec = {k: v for k, v in out.get(name, {}).items() if k.startswith("d1")}
        for key, d in (("t01", "/root/testdata/sf0.1"), ("t1", SCALE_DIR)):
            try:
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    queries[name](spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    best = min(best, time.perf_counter() - t0)
                rec[key] = round(best, 3)
            except Exception as exc:
                rec["err"] = f"{key}: {type(exc).__name__}: {exc}"[:200]
                break
        if "err" not in rec:
            rec["growth"] = round(rec["t1"] / rec["t01"], 2) if rec["t01"] else None
            if rec.get("d1"):
                rec["ratio_t1"] = round(rec["t1"] / rec["d1"], 2)
        out[name] = rec
        print(f"[{i + 1}/{len(queries)}] {name}: {rec}", flush=True)

    # Outlier re-pass (r7): the single-JVM soak occasionally eats a
    # multi-second transient stall (observed ~10 s on a query that
    # standalone runs in 0.8 s, with flat GC totals — an environment
    # burst, not plan cost). Back-to-back best-of-2 shares the burst,
    # so re-time suspicious rows LATER in the session, decorrelated
    # from the first pass, and keep the min — still honest
    # min-over-runs timing, never an average that hides a real cost.
    for _pass in range(2):
        suspects = [
            n for n, v in out.items()
            if not n.startswith("_") and isinstance(v, dict)
            and "err" not in v and "t1" in v and "t01" in v
            and n in queries  # manual rows (e.g. forced-branch soaks) lack t01
            and (v["t1"] > 1.5 or (v.get("growth") or 0) > 3
                 or v.get("t01", 0) > 1.5)
        ]
        if not suspects:
            break
        changed = 0
        for name in suspects:
            rec = out[name]
            for key, d in (("t01", "/root/testdata/sf0.1"), ("t1", SCALE_DIR)):
                try:
                    best = rec[key]
                    for _ in range(2):
                        t0 = time.perf_counter()
                        queries[name](spark, d).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        best = min(best, time.perf_counter() - t0)
                    if best < rec[key] * 0.75:
                        changed += 1
                    rec[key] = round(best, 3)
                except Exception:
                    pass
            rec["growth"] = round(rec["t1"] / rec["t01"], 2) if rec["t01"] else None
            if rec.get("d1"):
                rec["ratio_t1"] = round(rec["t1"] / rec["d1"], 2)
            print(f"[repass {_pass}] {name}: {rec}", flush=True)
        if not changed:
            break
    both = [
        k
        for k, v in out.items()
        if not k.startswith("_") and isinstance(v, dict)
        and "d1" in v and "t1" in v
    ]
    if both:
        sp = sum(out[k]["t1"] for k in both)
        du = sum(out[k]["d1"] for k in both)
        cb = [k for k in both if out[k]["d1"] >= 0.1]
        out.setdefault("_summary", {}).update(
            {
                "n_both_engines": len(both),
                "spark_t1_total": round(sp, 3),
                "duckdb_d1_total": round(du, 3),
                "ratio_sf1": round(sp / du, 2) if du else None,
                "ratio_sf1_compute_bound": round(
                    sum(out[k]["t1"] for k in cb)
                    / sum(out[k]["d1"] for k in cb),
                    2,
                )
                if cb
                else None,
                "n_compute_bound": len(cb),
            }
        )
    with open(ROOT / "SCALE_FULL.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    worst = sorted(
        (v["growth"], k)
        for k, v in out.items()
        if isinstance(v, dict) and v.get("growth")
    )[-10:]
    print("\nworst growth (x on 10x data):")
    for g, k in reversed(worst):
        print(f"  {k:42s} {g}")


def duckdb_soak(timeout_s: float = 600.0) -> None:
    """--duckdb: the ORACLE side of the sf~1 soak (VERDICT r6 #2).

    Runs every declared query's DuckDB oracle SQL against the same sf~1
    parquet (best-of-2 warm, all cores, per-query interrupt watchdog)
    and merges per-query ``d1`` + ``ratio_t1`` into SCALE_FULL.json,
    plus a ``_summary`` block with the headline sf~1 Spark-vs-DuckDB
    ratio. This is the measurement that settles whether the sf0.1
    strict ratio is a per-job-floor artifact: if the floor amortizes,
    the sf~1 ratio should sit near the compute-bound ~1x, not 2.4x.
    """
    import json
    import threading

    import duckdb

    from kinesis_logs_reader_spark.registry import all_oracle_sql

    with open(ROOT / "SCALE_FULL.json") as f:
        out = json.load(f)
    out.pop("_summary", None)

    con = duckdb.connect()
    for t in TABLES:
        # Spark wrote the sf~1 tables as directories of part files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SCALE_DIR}/{t}.parquet/*.parquet')"
        )

    def timed(sql: str) -> float:
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            return time.perf_counter() - t0
        finally:
            timer.cancel()

    oracles = all_oracle_sql()
    for i, name in enumerate(sorted(oracles)):
        if name not in out or "t1" not in out.get(name, {}):
            continue
        try:
            best = min(timed(oracles[name]) for _ in range(2))
            out[name]["d1"] = round(best, 3)
            out[name]["ratio_t1"] = (
                round(out[name]["t1"] / best, 2) if best else None
            )
        except Exception as exc:
            out[name]["d1_err"] = f"{type(exc).__name__}: {exc}"[:160]
        print(f"[{i + 1}/{len(oracles)}] {name}: {out[name].get('d1', out[name].get('d1_err'))}", flush=True)
    con.close()

    both = [k for k in out if isinstance(out[k], dict) and "d1" in out[k]]
    spark_total = sum(out[k]["t1"] for k in both)
    duck_total = sum(out[k]["d1"] for k in both)
    cb = [k for k in both if out[k]["d1"] >= 0.1]
    out["_summary"] = {
        "sf": "~1 (10x sf0.1)",
        "n_both_engines": len(both),
        "spark_t1_total": round(spark_total, 3),
        "duckdb_d1_total": round(duck_total, 3),
        "ratio_sf1": round(spark_total / duck_total, 2) if duck_total else None,
        "ratio_sf1_compute_bound": round(
            sum(out[k]["t1"] for k in cb) / sum(out[k]["d1"] for k in cb), 2
        )
        if cb
        else None,
        "n_compute_bound": len(cb),
        "timeout_s": timeout_s,
        "n_duckdb_err": sum(
            1 for k in out if isinstance(out[k], dict) and "d1_err" in out[k]
        ),
    }
    with open(ROOT / "SCALE_FULL.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print("\n_summary:", json.dumps(out["_summary"]))


# r13 (VERDICT r12 item 5): the sf~1 soak's >1.7-growth rows, plus the
# q131/q131c sketch-crossover pair and the q134 watch (item 6).
SF3_KEYS = [
    "q09_join_anti",
    "q134_ngram_novelty",
    "q178_stratified_eval_sample",
    "q122_substring_dedup",
    "q68_shipping_priority",
    "q26c_math_funcs",
    "q02_filter_predicates",
    "q131_table_profile",
    "q131c_table_profile_kmv",
    # r13 closing: 30x receipts for the round's new/changed kernels
    "q163_srp_banded_pairs",
    "q204_zorder_layout_advisor",
    "q205_retrain_trigger",
    # late-r13: the two-phase rank kernel + TPC-H trio, and the three
    # ~3x-growth-at-10x composed audits (q164/q181/q191) whose linear
    # vs quadratic character only a 30x reading separates
    "q21_sort_nulls",
    "q209_waiting_suppliers",
    "q164_cluster_safe_split",
    "q181_eval_sample_audit",
    "q191_eval_split_regen",
    # every late-r13 kernel gets a 30x receipt
    "q206_scalable_rank_suite",
    "q207_disjunctive_promo_revenue",
    "q208_small_quantity_revenue",
    "q211_volume_shipping",
    "q212_customer_distribution",
]


def sf3_probe() -> None:
    """--sf3: one 30x reading per suspect key, both engines, merged
    into SCALE3.json. Healthy = t3/t1 <= ~3.5 on 3x the sf~1 data
    (fixed overhead + linear term); a quadratic term that cost only
    2x at 10x costs ~6x here and becomes unmissable."""
    import json

    from kinesis_logs_reader_spark import registry
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(SCALE3_DIR):
        build(spark, SCALE3_DIR, COPIES3)
    queries = registry.all_queries()
    out = {}
    try:
        with open(ROOT / "SCALE3.json") as f:
            out = json.load(f)
    except Exception:
        pass
    for name in SF3_KEYS:
        rec = out.get(name, {})
        for key, d in (("t1", SCALE_DIR), ("t3", SCALE3_DIR)):
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                queries[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            rec[key] = round(best, 3)
        rec["growth_3x"] = round(rec["t3"] / rec["t1"], 2) if rec["t1"] else None
        out[name] = rec
        print(f"{name}: {rec}", flush=True)
    spark.stop()

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SCALE3_DIR}/{t}.parquet/*.parquet')"
        )
    oracles = registry.all_oracle_sql()
    for name in SF3_KEYS:
        try:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                con.sql(oracles[name]).fetchall()
                best = min(best, time.perf_counter() - t0)
            out[name]["d3"] = round(best, 3)
            out[name]["ratio_t3"] = round(out[name]["t3"] / best, 2)
        except Exception as exc:
            out[name]["d3_err"] = f"{type(exc).__name__}: {exc}"[:160]
        print(f"{name}: d3={out[name].get('d3', out[name].get('d3_err'))}", flush=True)
    con.close()
    with open(ROOT / "SCALE3.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


def main() -> None:
    parser = argparse.ArgumentParser(
        description="Time the headline queries from sf0.001 to sf~1."
    )
    mode = parser.add_mutually_exclusive_group()
    mode.add_argument(
        "--full",
        action="store_true",
        help="full-surface sf~1 soak, Spark side -> SCALE_FULL.json",
    )
    mode.add_argument(
        "--duckdb",
        action="store_true",
        help="DuckDB side of the soak (run after --full)",
    )
    mode.add_argument(
        "--sf3", action="store_true", help="30x growth spot-reads -> SCALE3.json"
    )
    parser.add_argument(
        "--rebuild", action="store_true", help="rebuild the sf~1 copy first"
    )
    args = parser.parse_args()
    if args.sf3:
        sf3_probe()
        return
    if args.duckdb:
        duckdb_soak()
        return

    from kinesis_logs_reader_spark import registry as entry
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild or not os.path.exists(SCALE_DIR):
        build(spark)

    if args.full:
        full_soak(spark, entry.all_queries())
        spark.stop()
        return

    queries = entry.all_queries()
    sfs = [
        ("0.001", "/root/testdata/sf0.001"),
        ("0.01", "/root/testdata/sf0.01"),
        ("0.1", "/root/testdata/sf0.1"),
        ("~1", SCALE_DIR),
    ]
    def run(name, d):
        # noop sink: count() would let Catalyst prune unreferenced work
        queries[name](spark, d).write.format("noop").mode("overwrite").save()

    run("q17_global_agg", sfs[2][1])  # warm

    print(f"\n{'query':26s}" + "".join(f"{s[0]:>10s}" for s in sfs) + f"{'x(0.1->1)':>12s}")
    for name in HEADLINE:
        row = []
        for _, d in sfs:
            t0 = time.perf_counter()
            run(name, d)
            row.append(time.perf_counter() - t0)
        growth = row[3] / row[2] if row[2] > 0 else float("nan")
        print(f"{name:26s}" + "".join(f"{t:10.2f}" for t in row) + f"{growth:12.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
