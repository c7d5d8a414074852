"""Per-query core-scaling at the soak tier (VERDICT r14 item 7).

The r14 c8/c32 comparison proved the sf0.1 bench is floor-bound (every
ratio ~1), but it could only see the bench's slowest rows at the bench
tier. This probe measures where it matters: the N slowest queries BY
THEIR SOAK TIME (SCALE_FULL.json t1) run at sf~1 under local[32] and
local[8] — the tier where plans actually differentiate — so
serial-at-scale paths (q200-shaped: many small stages, nothing for
extra cores to divide) surface automatically as core_ratio ~1 while
healthy scans/joins read 2-4.

Emits SCALING_r15.json: {query: {t32, t8, core_ratio}} plus a summary.
Soak profile matches tools/scale_probe.py (shuffle_partitions=32, AQE
on — the cluster posture, not the bench's local profile).

Usage: python tools/scaling_probe.py [--top 25] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SCALE_DIR = "/tmp/spark_graft_scale/sf1"
OUT = ROOT / "SCALING_r15.json"


def slowest_queries(n: int) -> list[str]:
    from kinesis_logs_reader_spark.registry import all_queries

    declared = set(all_queries())
    with open(ROOT / "SCALE_FULL.json") as f:
        data = json.load(f)
    rows = [
        (rec.get("t1"), name)
        for name, rec in data.items()
        # registry keys only: SCALE_FULL also banks forced-regime rows
        # (e.g. q74_dup_clusters__propagation_forced) that are not
        # runnable queries
        if not name.startswith("_")
        and name in declared
        and isinstance(rec, dict)
        and rec.get("t1")
    ]
    rows.sort(reverse=True)
    return [name for _, name in rows[:n]]


def run_tier(cpus: int, names: list[str], runs: int) -> dict[str, float]:
    from kinesis_logs_reader_spark.session import build_session
    from kinesis_logs_reader_spark.registry import all_queries

    spark = build_session(
        app_name=f"scaling_probe_c{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=32,
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(SCALE_DIR):
        from tools.scale_probe import build  # type: ignore

        build(spark)
    qs = all_queries()
    built = {n: qs[n](spark, SCALE_DIR) for n in names}
    # warm pass (cold parquet footers + codegen must not bias either tier)
    for n, df in built.items():
        df.write.format("noop").mode("overwrite").save()
    out = {}
    for n, df in built.items():
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[n] = round(best, 3)
        print(f"  c{cpus} {n}: {best:.3f}s", flush=True)
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    names = slowest_queries(args.top)
    print(f"probing {len(names)} slowest soak rows at c32 then c8")
    t32 = run_tier(32, names, args.runs)
    t8 = run_tier(8, names, args.runs)
    rows = {
        n: {
            "t32": t32[n],
            "t8": t8[n],
            "core_ratio": round(t8[n] / t32[n], 2) if t32[n] else None,
        }
        for n in names
    }
    serialish = [n for n, r in rows.items() if r["core_ratio"] and r["core_ratio"] < 1.3]
    payload = {
        "_meta": {
            "tier": "sf~1 soak",
            "note": "core_ratio = t8/t32; ~1 means 4x cores buy nothing "
            "(serial-at-scale path), healthy parallel rows read 2-4",
            "runs": args.runs,
        },
        "_summary": {
            "n": len(rows),
            "median_core_ratio": sorted(
                r["core_ratio"] for r in rows.values() if r["core_ratio"]
            )[len(rows) // 2],
            "serial_at_scale (ratio<1.3)": sorted(serialish),
        },
        **rows,
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload["_summary"], indent=1))
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
