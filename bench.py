"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the ``noop`` sink (ADVICE r1: ``count()``
lets Catalyst prune output-only projections — e.g. a final ``round()``
above an aggregate — so it under-measures; the noop write forces every
output column through the full plan with no driver-side row transfer). A
warmup pass primes the JVM/codegen caches; reported value is the best of 3
timed iterations at the primary scale point (best of 2 at the embedded
scaled points, which are minutes-long and less load-sensitive per
second). Best-of-N on a shared host measures the CODE, not ambient load
(VERDICT r13 "what's wrong" #4: round-over-round swings of +-30-49%
tracked machine load, uniformly across slots whose code never changed);
the ``protocol`` field in the JSON records the discipline so BENCH_rN
files are comparable on their own terms.

Second scale point (VERDICT r3 #7): when ``.localdata/sf1`` exists
(build: ``python tools/make_scaled_data.py``), the same suite also runs
there and lands in the SAME JSON line under ``sf1_value``/``sf1_queries``
— the one-line contract the driver parses stays intact while data-bound
regressions become driver-visible instead of living only in BASELINE.md.
Primary metric/value stay $SPARK_GRAFT_SF_DIR-based for baseline
comparability. Opt out with SPARK_GRAFT_SKIP_SF1=1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # (name, queries() key) — mirror of BASELINE.md Part B
    ("b1_filtered_agg", "group_agg"),
    ("b2_star_join", "multi_join"),
    ("b3_topk_window", "topk_per_group"),
    ("b4_rollup", "rollup"),
    ("b5_anti_join", "anti_join"),
    ("b6_token_topk", "token_counts"),
    ("b7_scaler_moments", "scaler_moments"),
    ("b8_confusion", "confusion_matrix"),
    ("b9_dedup", "dedup_exact"),
    ("b10_cosine_topk", "cosine_topk"),
    ("b11_event_window", "event_hourly_window"),
    ("b12_sessionization", "sessionization"),
]

# Data-bound LLM-curation slot (VERDICT r5 #2): line_dedup + minhash_dedup
# back-to-back over the replicated documents table. Runs at the SCALED
# points only (sf1 embedded below; sf5 opt-in) — b1-b12 and the primary
# metric stay fixed for BASELINE.md comparability.
CURATION_SLOT = ("b13_line_dedup_minhash", ("line_dedup", "minhash_dedup"))
# Incremental-dedup slot (r7): the production "new batch vs corpus" shape —
# content-rep collapse + band join against the corpus signatures. Scaled
# points only, same reasoning as b13.
INCREMENTAL_SLOT = ("b14_incremental_neardup", ("incremental_neardup",))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry_mod
    from keystone_spark import get_session, warm_python_workers
    from keystone_spark.caches import release

    spark = get_session("keystone_spark_bench")
    # pre-warm the Python worker pool so the first Arrow-kernel slot
    # (b13's signature stage) is timed warm, like every later one —
    # cold workers measured 3.6x the warm kernel cost (VERDICT r7 #1)
    warm_python_workers(spark)
    qs = entry_mod.queries()

    def run(df) -> None:
        # noop datasource: full plan incl. every output column, zero sink IO
        df.write.format("noop").mode("overwrite").save()
        # free what the query's operators materialized (e.g.
        # minhash_dedup in b13) so repeated slots don't accumulate blocks
        release(df)

    def run_suite(d: str, curation: bool = False,
                  iters: int = 2) -> dict[str, float]:
        slots = [(n, (k,)) for n, k in BENCH_QUERIES]
        if curation:
            slots.append(CURATION_SLOT)
            slots.append(INCREMENTAL_SLOT)
        timings: dict[str, float] = {}
        for name, keys in slots:
            for k in keys:  # warmup (plan + codegen + file listing)
                run(qs[k](spark, d))
            best = float("inf")
            for _ in range(iters):
                t0 = time.perf_counter()
                for k in keys:
                    run(qs[k](spark, d))
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        return timings

    timings = run_suite(sf_dir, iters=3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "bench_suite_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # the measurement discipline, stamped so BENCH_rN comparisons
        # know what they are comparing (see module docstring)
        "protocol": "noop-sink, warmup + best-of-3 (scaled points: 2)",
    }

    here = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.path.join(here, ".localdata", "sf1")
    if os.path.isdir(sf1_dir) and not os.environ.get("SPARK_GRAFT_SKIP_SF1"):
        sf1 = run_suite(sf1_dir, curation=True)
        result["sf1_value"] = round(sum(sf1.values()), 4)
        result["sf1_queries"] = sf1
    # sf5 (x50) scale point: opt-in — it adds minutes per run, so it is
    # exercised deliberately (curve recorded in BASELINE.md), not on
    # every driver round. Build: tools/make_scaled_data.py --k 50
    # --dst .localdata/sf5; run: SPARK_GRAFT_INCLUDE_SF5=1 python bench.py
    sf5_dir = os.path.join(here, ".localdata", "sf5")
    if os.path.isdir(sf5_dir) and os.environ.get("SPARK_GRAFT_INCLUDE_SF5"):
        sf5 = run_suite(sf5_dir, curation=True)
        result["sf5_value"] = round(sum(sf5.values()), 4)
        result["sf5_queries"] = sf5
    print(json.dumps(result))


if __name__ == "__main__":
    main()
