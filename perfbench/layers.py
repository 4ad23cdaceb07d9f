"""Per-layer metrics of the traced run, and which end-to-end metric each
one should move on which workload.

Every traced run reports every metric below, so the set is the same for
all workloads; a layer a workload never calls reads 0. Times are medians
over the warm occurrences of a span (the cold pass is left out); Spark
counters (``.jobs``, ``.task_s``, ``.shuffle_write_bytes``,
``.spill_bytes``) are medians per span occurrence, taken from the event
log of the traced run.
"""

from __future__ import annotations

from perfbench.trace import median, tail

ALL = "all"
ML, DEDUP, INDEX = "ml_pipeline", "dedup_curation", "index_lifecycle"

# (name, unit, better, end-to-end metrics it should move, workloads)
CATALOG = [
    ("session.start_s", "s", "lower", "setup_s", ALL),
    ("session.warm_workers_s", "s", "lower", "setup_s cold_job_s", ALL),
    ("session.cached_blocks_after_pass", "count", "lower", "peak_rss_mb", ALL),
    ("session.cached_bytes_after_pass", "bytes", "lower", "peak_rss_mb", ALL),
    ("sources.scan_s", "s", "lower", "job_s (small-share control)", ALL),
    ("functions.tokens_s", "s", "lower", "job_s", ML),
    ("trace.overhead_s", "s", "lower", "none: traced minus untraced warm pass", ALL),
    ("trace.unattributed_s", "s", "lower", "job_s", ALL),
    ("failed_ratio", "ratio", "lower", "correctness", ALL),
    # ml_pipeline
    ("plans.fit_s", "s", "lower", "job_s", ML),
    ("plans.jobs_per_fit", "count", "lower", "job_s", ML),
    ("plans.cached_bytes_peak", "bytes", "lower", "peak_rss_mb", ML),
    ("plans.apply_s", "s", "lower", "job_s", ML),
    ("plans.apply_rows_per_s", "rows/s", "higher", "job_s", ML),
    ("evaluation.eval_s", "s", "lower", "job_s", ML),
    ("nlp.sparse_features_fit_s", "s", "lower", "job_s", ML),
    ("stats.scaler_fit_s", "s", "lower", "job_s", ML),
    ("learning.lstsq_fit_s", "s", "lower", "job_s", ML),
    ("learning.logreg_fit_s", "s", "lower", "job_s", ML),
    ("learning.kmeans_fit_s", "s", "lower", "job_s", ML),
    # dedup_curation
    ("curation.line_dedup_s", "s", "lower", "job_s", DEDUP),
    ("dedup.minhash_dedup_s", "s", "lower", "job_s cold_job_s", DEDUP),
    ("dedup.signatures_s", "s", "lower", "job_s cold_job_s", DEDUP),
    ("dedup.candidates_s", "s", "lower", "job_s", DEDUP),
    ("dedup.candidate_pairs", "count", "lower", "job_s", DEDUP),
    ("dedup.verify_s", "s", "lower", "job_s", DEDUP),
    ("dedup.verified_pairs", "count", "higher", "correctness", DEDUP),
    ("dedup.verify_yield", "ratio", "higher", "job_s", DEDUP),
    # index_lifecycle
    ("similarity.ivf_build_s", "s", "lower", "setup_s", INDEX),
    ("similarity.ivf_add_s", "s", "lower", "job_s", INDEX),
    ("streaming.upsert_batch_s", "s", "lower", "job_s", INDEX),
    ("similarity.ivf_search_s", "s", "lower", "job_s", INDEX),
    ("streaming.read_snapshot_s", "s", "lower", "job_s", INDEX),
    ("similarity.ivf_delete_s", "s", "lower", "job_s", INDEX),
    ("similarity.ivf_compact_s", "s", "lower", "job_s", INDEX),
    ("index.write_p50_s", "s", "lower", "job_s", INDEX),
    ("index.read_p50_s", "s", "lower", "job_s", INDEX),
    ("index.read_tail_s", "s", "lower", "job_s", INDEX),
    ("index.compact_s", "s", "lower", "job_s", INDEX),
    ("index.bytes_per_input_byte", "ratio", "lower", "peak_rss_mb", INDEX),
    ("fsutil.files_per_write", "count", "lower", "job_s", INDEX),
    ("fsutil.files_before_compact", "count", "lower", "job_s", INDEX),
    ("fsutil.files_after_compact", "count", "lower", "job_s", INDEX),
    ("fsutil.bytes_written_per_input_byte", "ratio", "lower", "job_s", INDEX),
]

# spans whose Spark counters are reported: the ones an optimisation is
# most likely to move
COUNTED_SPANS = [
    ("plans.fit", ML), ("plans.apply", ML), ("evaluation.eval", ML),
    ("curation.line_dedup", DEDUP), ("dedup.minhash_dedup", DEDUP),
    ("dedup.signatures", DEDUP), ("dedup.candidates", DEDUP), ("dedup.verify", DEDUP),
    ("similarity.ivf_add", INDEX), ("similarity.ivf_search", INDEX),
    ("streaming.upsert_batch", INDEX), ("similarity.ivf_compact", INDEX),
]
COUNTERS = [("jobs", "count"), ("task_s", "s"), ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes")]
for _span, _wl in COUNTED_SPANS:
    for _c, _u in COUNTERS:
        CATALOG.append((f"{_span}.{_c}", _u, "lower", f"{_span}_s", _wl))


def _dur(s):
    return s["end"] - s["start"]


def compute(run, wl, result) -> dict:
    """name -> (value, unit) for every catalog metric."""
    spans = [s for s in run.tracer.spans if "end" in s]
    warm = [s for s in spans if s.get("pass_no") != 0]

    def named(name):
        return [s for s in warm if s["name"] == name]

    def med_dur(name):
        return median([_dur(s) for s in named(name)])

    def med_attr(name, key):
        return median([s[key] for s in named(name) if key in s])

    def per_pass_sum(name, key=None):
        by: dict = {}
        for s in named(name):
            if s.get("pass_no") is not None and s["pass_no"] > 0:
                by[s["pass_no"]] = by.get(s["pass_no"], 0) + (s[key] if key else _dur(s))
        return median(list(by.values()))

    passes = [s for s in spans if s["name"] == "pass" and s.get("pass_no", 0) > 0]
    plain, traced = result["warm_plain"], result["warm_traced"]
    cached = result["cached"]
    v: dict = {
        "session.start_s": result["session"]["start_s"],
        "session.warm_workers_s": result["session"]["warm_s"],
        "session.cached_blocks_after_pass": max((c[0] for c in cached), default=0),
        "session.cached_bytes_after_pass": max((c[1] for c in cached), default=0),
        "sources.scan_s": med_dur("sources.scan"),
        "functions.tokens_s": med_dur("functions.tokens"),
        "trace.overhead_s": (median(traced) - median(plain)) if traced and plain else 0.0,
        "trace.unattributed_s": median([run.tracer.self_time(s) for s in passes]),
        "failed_ratio": run.failed / max(1, run.attempted),
    }
    # "<span>_s": median warm duration of that span; the special cases
    # below overwrite the names that are not plain span durations
    for name, unit, *_ in CATALOG:
        if name not in v and name.endswith("_s"):
            v[name] = med_dur(name[:-2])
    v["plans.fit_s"] = per_pass_sum("plans.fit")
    v["plans.jobs_per_fit"] = med_attr("plans.fit", "jobs")
    v["plans.cached_bytes_peak"] = run.meta.get("fit_cached_peak", 0)
    apply_s = med_dur("plans.apply")
    rows = run.meta["inputs"].get("held_out_rows", 0)
    v["plans.apply_rows_per_s"] = rows / apply_s if apply_s else 0.0
    cand = med_attr("dedup.candidates", "pairs")
    ver = med_attr("dedup.verify", "pairs")
    v["dedup.candidate_pairs"] = cand
    v["dedup.verified_pairs"] = ver
    v["dedup.verify_yield"] = ver / cand if cand else 0.0
    if wl.name == INDEX:
        reads = wl.read_lat[len(wl.read_lat) // wl.round:]  # drop the cold round
        writes = wl.write_lat
        v["index.write_p50_s"] = median(writes)
        v["index.read_p50_s"] = median(reads)
        v["index.read_tail_s"], pct = tail(reads)
        run.meta["read_tail"] = {"percentile": pct, "samples": len(reads)}
        v["index.compact_s"] = wl.compact_s
        in_bytes = run.meta["inputs"]["input_bytes"]
        v["index.bytes_per_input_byte"] = wl.bytes_after / in_bytes
        v["fsutil.files_per_write"] = median(wl.files_per_write)
        v["fsutil.files_before_compact"] = wl.files_before
        v["fsutil.files_after_compact"] = wl.files_after
        v["fsutil.bytes_written_per_input_byte"] = wl.bytes_before / in_bytes
    for span, _ in COUNTED_SPANS:
        for c, _u in COUNTERS:
            v[f"{span}.{c}"] = med_attr(span, c)
    units = {name: unit for name, unit, *_ in CATALOG}
    return {name: (float(v.get(name, 0.0)), units[name]) for name, *_ in CATALOG}
