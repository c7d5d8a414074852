"""Prove a RUNTIME-settable conf change plan-neutral across the whole
declared surface, and measure its replan-time delta, in ONE session.

For each registry query the probe re-plans the same logical plan twice
— once with the session's baseline conf, once with the candidate conf
applied via spark.conf.set — interleaved A/B/A/B so JIT warmth and VM
weather cancel. Sessions use bench.py's profile, and every query keeps
its one output order (a final presentation ORDER BY is the global sort
the parity gate checks). Plans are canonicalized (expression IDs stripped;
spark.sql.debug.maxToStringFields / maxMetadataStringLength raised so
toString never truncates mid-token; ``plans.explain.canonical_plan``)
and compared per query. tests/test_queries.py holds the session's own
``excludedRules`` to this standard on every query at sf0.001.

A conf that changes ZERO plans is a pure planning-time win and
result-identical by construction; the queries it DOES change are
exactly the ones needing an interleaved execution A/B + parity check
before adopting it.

Usage:
  python tools/plan_identity.py --conf k=v [--conf k=v ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_PROFILE = {
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.sql.adaptive.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # full-width plan strings so canonicalization is truncation-stable
    "spark.sql.debug.maxToStringFields": "10000",
    "spark.sql.maxMetadataStringLength": "100000",
}

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--dump-dir", default=None)
    args = ap.parse_args()
    cand = dict(kv.split("=", 1) for kv in args.conf)
    if not cand:
        ap.error("at least one --conf required")

    from kinesis_logs_reader_spark.plans.explain import canonical_plan as canon
    from kinesis_logs_reader_spark.session import build_session
    from kinesis_logs_reader_spark.registry import all_queries

    spark = build_session(
        app_name="plan_identity",
        master=f"local[{CPUS}]",
        shuffle_partitions=8,
        extra_conf=BENCH_PROFILE,
    )
    spark.sparkContext.setLogLevel("ERROR")
    baseline = {k: spark.conf.get(k, None) for k in cand}

    def apply(conf: dict) -> None:
        for k, v in conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    qs = all_queries()
    built = {name: qs[name](spark, args.sf) for name in sorted(qs)}

    handles = {}
    for name, df in built.items():
        jdf = df._jdf
        handles[name] = (
            jdf.sparkSession(),
            jdf.queryExecution().logical(),
            jdf.queryExecution().mode(),
        )

    def replan(name: str) -> "object":
        sess, lg, mode = handles[name]
        qe = sess.sessionState().executePlan(lg, mode)
        qe.executedPlan()
        return qe

    # warm both arms once
    for name in handles:
        replan(name)
    apply(cand)
    plans_cand = {n: canon(replan(n).executedPlan().toString()) for n in handles}
    apply(baseline)
    plans_base = {n: canon(replan(n).executedPlan().toString()) for n in handles}

    t_base = t_cand = 0.0
    for _ in range(args.reps):
        apply(baseline)
        t0 = time.perf_counter()
        for name in handles:
            replan(name)
        t_base += time.perf_counter() - t0
        apply(cand)
        t0 = time.perf_counter()
        for name in handles:
            replan(name)
        t_cand += time.perf_counter() - t0
    apply(baseline)

    diffs = [n for n in sorted(plans_base) if plans_base[n] != plans_cand[n]]
    print(f"baseline replan total: {t_base / args.reps:.2f}s/pass")
    print(
        f"candidate replan total: {t_cand / args.reps:.2f}s/pass "
        f"({100 * (t_cand - t_base) / t_base:+.1f}%)"
    )
    print(f"plans changed: {len(diffs)} / {len(plans_base)}")
    for n in diffs:
        print(f"  DIFF {n}")
    if diffs and args.dump_dir:
        os.makedirs(args.dump_dir, exist_ok=True)
        for n in diffs:
            with open(os.path.join(args.dump_dir, f"{n}_base.txt"), "w") as f:
                f.write(plans_base[n])
            with open(os.path.join(args.dump_dir, f"{n}_cand.txt"), "w") as f:
                f.write(plans_cand[n])
    spark.stop()


if __name__ == "__main__":
    main()
