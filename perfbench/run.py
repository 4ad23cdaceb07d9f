"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_data/`` (once per seed, untimed); scratch state (indexes,
event logs, spans) goes to ``.perfbench_out/``. The session runs in this
one process with ``SPARK_GRAFT_CPUS`` cores (default 4) and a JVM heap
of ``SPARK_GRAFT_DRIVER_MEM`` (default 3g, below the box's RAM); one
caller makes one call at a time (closed loop).

A run: set up (session start + Python-worker warm-up, plus the index
build of ``index_lifecycle``), then passes until ``--seconds`` have
elapsed and at least one cold and one warm pass are done (traced: one
cold and two warm), the workload's closing steps, then the output
checks. ``setup_s`` is that one set-up, ``cold_job_s`` the first pass,
``job_s`` the median warm pass, ``peak_rss_mb`` the peak memory of the
process tree. The last stdout line is the result JSON; the line before
it carries the details (load telemetry at start and end, input shares,
sample counts, check results). ``--trace 1`` enables the Spark event log
and spans, and reports the per-layer metrics of ``perfbench/layers.py``
instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ml_pipeline", "dedup_curation", "index_lifecycle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a tiny one)")
    return p.parse_args(argv)


class Run:
    """State of one benchmark run: the tracer, op/failure counts, memory
    peak, per-op latencies and check results."""

    def __init__(self, args, out_dir, tracer, mem):
        self.seed = args.seed
        self.out_dir = out_dir
        self.tracer = tracer
        self.mem = mem
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.meta: dict = {}
        self.pass_no = None  # None: set-up; 0: the cold pass; -1: after the passes

    @contextmanager
    def op(self, name, **attrs):
        """One call into the program: counted, timed, spanned; memory is
        sampled when it returns."""
        self.attempted += 1
        t0 = time.perf_counter()
        rec = {}
        try:
            with self.tracer.span(name, pass_no=self.pass_no, **attrs) as rec:
                yield rec
        except Exception:
            self.failed += 1
            raise
        finally:
            rec["latency"] = time.perf_counter() - t0
            self.mem.sample()

    def check(self, name, ok, **detail):
        self.checks.append({"check": name, "ok": bool(ok), **detail})
        if not ok:
            self.failed += 1


def _start_session(run, trace_dir):
    from keystone_spark.session import get_session, warm_python_workers

    extra = {}
    if trace_dir:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + trace_dir,
                 "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        spark = get_session("perfbench", extra_confs=extra)
    run.tracer.sc = spark.sparkContext if run.tracer.enabled else None
    t1 = time.perf_counter()
    with run.tracer.span("session.warm_workers"):
        warm_python_workers(spark)
    t2 = time.perf_counter()
    run.mem.sample()
    return spark, t1 - t0, t2 - t1


def _stop_gateway():
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "keystone_spark", "session.py")):
        print("perfbench: run from the repository root (keystone_spark/ not found)",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".perfbench_out",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # keep every file Spark, the JVMs and the Python workers write inside
    # the checkout; workers import keystone_spark and perfbench from it
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, root)

    from perfbench import gen
    from perfbench.trace import MemPeak, Tracer, load_telemetry
    from perfbench.workloads import WORKLOADS

    load_start = load_telemetry()
    in_dir, in_stats = gen.ensure_inputs(os.path.join(root, ".perfbench_data"),
                                         args.workload, args.seed, args.scale)
    trace_dir = os.path.join(out_dir, "eventlog") if args.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
    run = Run(args, out_dir, tracer, MemPeak())
    run.meta["inputs"] = in_stats
    wl = WORKLOADS[args.workload](run, in_dir)
    try:
        result = _measure(args, run, wl, trace_dir)
    finally:
        _stop_gateway()
    if args.trace:
        from perfbench.trace import attach_spark_counters

        attach_spark_counters(tracer.spans, trace_dir)
        from perfbench import layers

        metrics = layers.compute(run, wl, result)
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(root, ".perfbench_out",
                                  f"spans-{args.workload}-s{args.seed}.json"))
    else:
        metrics = result["end_to_end"]
    shutil.rmtree(out_dir, ignore_errors=True)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "load_start": load_start, "load_end": load_telemetry(),
              "meta": run.meta, "samples": result["samples"],
              "checks": run.checks, "errors": result["errors"]}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _measure(args, run, wl, trace_dir) -> dict:
    from perfbench.trace import median, storage_blocks

    errors: list[str] = []
    spark, t_start, t_warm = _start_session(run, trace_dir)
    t0 = time.perf_counter()
    wl.setup(spark)
    t_build = time.perf_counter() - t0
    passes: list[float] = []
    cached: list[tuple[int, int]] = []
    traced_flags: list[bool] = []
    t_begin = time.perf_counter()
    # traced runs need a traced and an untraced warm pass
    min_passes = 3 if args.trace else 2
    while len(passes) < min_passes or time.perf_counter() - t_begin < args.seconds:
        # traced runs alternate spans on/off (cold pass on) so the
        # tracing overhead can be read off the same run
        on = bool(args.trace) and len(passes) % 2 == 0
        run.tracer.enabled = on
        run.pass_no = len(passes)
        t = time.perf_counter()
        try:
            with run.tracer.span("pass", pass_no=run.pass_no):
                wl.run_pass(spark)
        except Exception:
            errors.append(traceback.format_exc(limit=4))
            print(errors[-1], file=sys.stderr)
            break
        passes.append(time.perf_counter() - t)
        traced_flags.append(on)
        cached.append(storage_blocks(spark))
    run.tracer.enabled = bool(args.trace)
    run.pass_no = -1
    try:
        if hasattr(wl, "finish"):
            wl.finish(spark)
        if passes and not errors:
            wl.check(spark, run.check)
        if args.trace:
            wl.breakdown(spark)
    except Exception:
        errors.append(traceback.format_exc(limit=4))
        print(errors[-1], file=sys.stderr)
    run.mem.sample()
    run.tracer.sc = None
    spark.stop()
    if errors or not passes:
        run.failed += 1
    warm = passes[1:] or passes or [0.0]
    warm_plain = [p for p, on in zip(passes[1:], traced_flags[1:]) if not on]
    warm_traced = [p for p, on in zip(passes[1:], traced_flags[1:]) if on]
    end_to_end = {
        "setup_s": (t_start + t_warm + t_build, "s"),
        "cold_job_s": (passes[0] if passes else 0.0, "s"),
        "job_s": (median(warm), "s"),
        "peak_rss_mb": (run.mem.peak_mb(), "MB"),
    }
    return {
        "end_to_end": end_to_end,
        "passes": passes, "cached": cached,
        "session": {"start_s": t_start, "warm_s": t_warm},
        "warm_plain": warm_plain, "warm_traced": warm_traced,
        "errors": errors,
        "samples": {"passes": len(passes), "pass_s": passes,
                    "session_start_s": t_start, "warm_workers_s": t_warm,
                    "index_build_s": t_build, "cached_blocks_bytes": cached,
                    "attempted_ops": run.attempted},
    }


if __name__ == "__main__":
    sys.exit(main())
