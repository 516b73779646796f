"""Standalone medians for the heavy lifecycle/pair bench tier (r11
verdict item 1): q175/q176/q189/q191/q196 read +40-70% over their
recorded baselines across rounds 9-11 INSIDE the 133-query bench run
while the run's median sat at 0.99x — this measures the same queries
in a FRESH JVM, warmed, 5 trials each, isolated from the accumulated
state of a long run (leaked-persist heap pressure / ContextCleaner
backlog — the r08 OOM precedent).

If the standalone medians match BASELINE.md, the drift is
accumulated-run state and the fix is bench-harness isolation; if they
don't, the baselines get re-recorded with the cause named.

Usage: python tools/tier_drift.py [--trials 5] [--sf-dir DIR]
         [--queries q1,q2,...] [--out FILE]
Writes TIER_DRIFT_r12.json at the repo root (or --out) and prints one
JSON line. ``--queries`` overrides the default heavy tier — used both
to re-measure drifting rows with the standalone methodology and to
record FIRST baselines for new queries (baseline looked up from
BASELINE.md; absent -> ratio null, the median IS the new row).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_cassandra_spark.queries import QUERIES  # noqa: E402
from hive_cassandra_spark.session import get_spark  # noqa: E402
from tools.steal_sampler import cpu_snapshot  # noqa: E402
from tools.steal_sampler import window as steal_window  # noqa: E402

TIER = [
    "q175_lsh_leakage_split",
    "q176_indexed_retrieval",
    "q189_image_dedup_canonical",
    "q191_occ_indexed_retrieval",
    "q196_stream_indexed_retrieval",
]

# sf0.1 baselines from BASELINE.md (the rows the 2x gate reads) —
# fallback values; _baselines_from_md() reads the live table first
BASELINES = {
    "q175_lsh_leakage_split": 5.22,  # re-recorded r12 (TIER_DRIFT_r12)
    "q176_indexed_retrieval": 4.87,  # re-recorded r12
    "q189_image_dedup_canonical": 8.17,  # re-recorded r12
    "q191_occ_indexed_retrieval": 15.0,
    "q196_stream_indexed_retrieval": 25.1,
}


def _baselines_from_md() -> dict[str, float]:
    """Parse `| qNNN_name | sf | seconds | ...` rows out of BASELINE.md
    (later rows win — re-records append further down the file)."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BASELINE.md",
    )
    out: dict[str, float] = {}
    try:
        with open(path) as fh:
            for line in fh:
                parts = [p.strip() for p in line.split("|")]
                if len(parts) >= 4 and parts[1].startswith("q"):
                    try:
                        out[parts[1]] = float(parts[3])
                    except ValueError:
                        continue
    except OSError:
        pass
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--steal-max",
        type=float,
        default=3.0,
        help="discard+retry a trial whose window steal%% exceeds this",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated query names (default: the heavy tier)",
    )
    args = ap.parse_args()
    tier = args.queries.split(",") if args.queries else TIER
    baselines = {**BASELINES, **_baselines_from_md()}

    load0 = os.getloadavg()[0]
    spark = get_spark(
        "tier_drift", extra_conf={"spark.driver.memory": "8g"}
    )
    # same warmup discipline as bench.py: steady-state timings, codegen
    # compiled, parquet footers cached
    warm_dir = "/root/testdata/sf0.001"
    for name in tier:
        try:
            QUERIES[name].fn(spark, warm_dir).count()
        except Exception:
            pass
    spark.catalog.clearCache()

    results: dict[str, dict] = {}
    for name in tier:
        # steal-stamped trials (r13 verdict item 1): every trial's
        # window is bracketed with /proc/stat snapshots, and a trial
        # taken during a hypervisor-steal burst (> --steal-max %) is
        # DISCARDED and retried — the r11-r13 discard-and-re-run
        # discipline, now instrumented per trial instead of inferred
        # from disjoint outlier sets. Discards stay in the artifact.
        trials, steals, discarded = [], [], []
        budget = args.trials * 4
        while len(trials) < args.trials and budget > 0:
            budget -= 1
            s0 = cpu_snapshot()
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, args.sf_dir).count()
            wall = round(time.perf_counter() - t0, 3)
            hw = steal_window(s0, cpu_snapshot())
            spark.catalog.clearCache()
            if (
                hw["steal_pct"] is not None
                and hw["steal_pct"] > args.steal_max
            ):
                discarded.append(
                    {"sec": wall, "steal_pct": hw["steal_pct"]}
                )
                continue
            trials.append(wall)
            steals.append(hw["steal_pct"])
        # every trial may have been discarded for steal: no median then
        med = round(statistics.median(trials), 3) if trials else None
        base = baselines.get(name)
        results[name] = {
            "trials": trials,
            "steal_pct_per_trial": steals,
            "discarded_steal_trials": discarded,
            "median": med,
            "baseline": base,
            "ratio_vs_baseline": (
                round(med / base, 2) if base and med is not None else None
            ),
        }
        print(
            f"# {name}: median {'n/a' if med is None else f'{med}s'} trials={trials} "
            f"steal={steals} discards={len(discarded)}",
            file=sys.stderr,
        )

    payload = {
        "metric": "heavy_tier_standalone_medians",
        "sf_dir": args.sf_dir,
        "trials_per_query": args.trials,
        "load1_at_start": round(load0, 2),
        "load1_at_end": round(os.getloadavg()[0], 2),
        "queries": results,
    }
    out = args.out or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "TIER_DRIFT_r12.json",
    )
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({
        k: v["ratio_vs_baseline"] for k, v in results.items()
    }))
    spark.stop()


if __name__ == "__main__":
    main()
