"""Per-query performance gate over the FULL declared registry.

bench.py wall-time-gates only the 12 headline b-slots; this gate times
EVERY ``queries()`` entry at sf0.1 (tools/bench_registry.py: noop sink,
warmup + best-of-2, own JVM at the bench session shape) and fails any
query slower than max(2.5x, +0.75s) of the committed reference snapshot
(tools/registry_snapshot.json) — so a plan regression anywhere in the
registry is loud even when correctness stays green (VERDICT r5 #1).

When a deliberate change legitimately shifts a query's cost (or adds a
query), regenerate the snapshot and commit the diff:

    python tools/bench_registry.py --snapshot tools/registry_snapshot.json

Marked ``slow`` (~10 min): deselect with ``-m "not slow"`` when
iterating; the default run includes it.
"""

import json
import os
import subprocess
import sys

import pytest

from keystone_spark.session import default_cpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT = os.path.join(REPO, "tools", "registry_snapshot.json")


def _skip_if_cpu_mismatch(snapshot_path):
    """VERDICT r12 "what's wrong" #1: the gate inherits
    SPARK_GRAFT_CPUS silently, so a runner at 8 cores compared
    data-bound timings against the 32-core snapshot basis and failed
    spuriously. Skip (with the explanation) instead of reporting a
    fake regression; bench_registry.py --check refuses the same way
    (exit 3)."""
    with open(snapshot_path) as f:
        snap_cpus = (json.load(f).get("__protocol__") or {}).get("cpus")
    cur = default_cpus()
    if snap_cpus is not None and int(snap_cpus) != cur:
        pytest.skip(
            f"SPARK_GRAFT_CPUS={cur} but the snapshot basis is "
            f"cpus={snap_cpus} — data-bound timings do not transfer "
            f"across core counts; rerun at {snap_cpus} cores or "
            "regenerate the snapshot on this machine"
        )


@pytest.mark.slow
def test_registry_snapshot_covers_every_declared_query():
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    with open(SNAPSHOT) as f:
        snap = json.load(f)
    missing = set(entry_mod.queries()) - set(snap)
    assert not missing, (
        f"queries missing from registry_snapshot.json: {sorted(missing)} — "
        "regenerate with tools/bench_registry.py --snapshot"
    )


@pytest.mark.slow
def test_no_query_regressed_vs_snapshot():
    _skip_if_cpu_mismatch(SNAPSHOT)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_registry.py"),
         "--check", SNAPSHOT],
        cwd=REPO,
        env={**os.environ,
             "SPARK_GRAFT_CPUS": str(default_cpus())},
        capture_output=True,
        text=True,
        timeout=2400,
    )
    assert proc.returncode == 0, (
        f"registry perf regressions:\n{proc.stderr[-3000:]}\n"
        f"{proc.stdout[-500:]}"
    )


@pytest.mark.slow
def test_sf1_family_not_regressed_vs_snapshot():
    """Data-bound perf gate (VERDICT r7 #3 / r8 #3): the dedup/ANN/
    curation family timed at sf1, where real data-volume movements
    (b13/b14's 5-17 s swings) actually show — the sf0.1-only gate left
    them invisible for two rounds. Skips when .localdata/sf1 hasn't been
    generated on this machine (tools/make_scaled_data.py --k 10). A
    deliberate sf1-only 2.5x slowdown of any family member fails here
    even when sf0.1 stays green."""
    sf1 = os.path.join(REPO, ".localdata", "sf1")
    if not os.path.isdir(sf1):
        pytest.skip("no .localdata/sf1 — generate with "
                    "tools/make_scaled_data.py --k 10 --dst .localdata/sf1")
    sf1_snapshot = os.path.join(REPO, "tools", "registry_snapshot_sf1.json")
    assert os.path.exists(sf1_snapshot), (
        "tools/registry_snapshot_sf1.json missing — regenerate with "
        "bench_registry.py --sf-dir .localdata/sf1 --family-sf1 --snapshot"
    )
    sys.path.insert(0, REPO)
    from tools.bench_registry import SF1_FAMILY

    import __spark_entry__ as entry_mod

    declared = set(entry_mod.queries())
    assert set(SF1_FAMILY) <= declared
    with open(sf1_snapshot) as f:
        snap = json.load(f)
    missing = set(SF1_FAMILY) - set(snap)
    assert not missing, (
        f"family queries missing from sf1 snapshot: {sorted(missing)}")
    _skip_if_cpu_mismatch(sf1_snapshot)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_registry.py"),
         "--check", sf1_snapshot, "--sf-dir", sf1, "--family-sf1"],
        cwd=REPO,
        env={**os.environ,
             "SPARK_GRAFT_CPUS": str(default_cpus())},
        capture_output=True,
        text=True,
        timeout=2400,
    )
    assert proc.returncode == 0, (
        f"sf1 family perf regressions:\n{proc.stderr[-3000:]}\n"
        f"{proc.stdout[-500:]}"
    )


@pytest.mark.slow
def test_sf5_family_not_regressed_vs_snapshot():
    """Scale gate (VERDICT r9 #2): BOTH historical scale regressions
    (r6 minhash, r8 clique-simhash at 758 s) were sf5-ONLY — invisible
    to the sf0.1 and sf1 gates because candidate/pair volume diverges
    superlinearly past sf1. This times the SF5_FAMILY subset at
    .localdata/sf5 against the committed snapshot; a deliberate
    sf5-only slowdown of any member fails here even when sf0.1/sf1
    stay green. Skips when sf5 data hasn't been generated on this
    machine (tools/make_scaled_data.py --k 50 --dst .localdata/sf5)."""
    sf5 = os.path.join(REPO, ".localdata", "sf5")
    if not os.path.isdir(sf5):
        pytest.skip("no .localdata/sf5 — generate with "
                    "tools/make_scaled_data.py --k 50 --dst .localdata/sf5")
    sf5_snapshot = os.path.join(REPO, "tools", "registry_snapshot_sf5.json")
    assert os.path.exists(sf5_snapshot), (
        "tools/registry_snapshot_sf5.json missing — regenerate with "
        "bench_registry.py --sf-dir .localdata/sf5 --family-sf5 --snapshot"
    )
    sys.path.insert(0, REPO)
    from tools.bench_registry import SF5_FAMILY

    import __spark_entry__ as entry_mod

    assert set(SF5_FAMILY) <= set(entry_mod.queries())
    with open(sf5_snapshot) as f:
        snap = json.load(f)
    missing = set(SF5_FAMILY) - set(snap)
    assert not missing, (
        f"family queries missing from sf5 snapshot: {sorted(missing)}")
    _skip_if_cpu_mismatch(sf5_snapshot)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_registry.py"),
         "--check", sf5_snapshot, "--sf-dir", sf5, "--family-sf5"],
        cwd=REPO,
        env={**os.environ,
             "SPARK_GRAFT_CPUS": str(default_cpus())},
        capture_output=True,
        text=True,
        timeout=3600,
    )
    assert proc.returncode == 0, (
        f"sf5 family perf regressions:\n{proc.stderr[-3000:]}\n"
        f"{proc.stdout[-500:]}"
    )


def test_check_retries_flagged_queries_once(tmp_path):
    """De-flake the gate (VERDICT r10 #6): a one-off ambient-load stall
    on the first best-of-2 reading must NOT fail the check — flagged
    queries get ONE fresh re-measurement and only fail if they are over
    the limit on both passes. A persistent regression fails both passes
    and still trips. Pure-Python: a fake remeasure stands in for the
    second sweep."""
    import tools.bench_registry as br

    snap = {"fast_q": 0.25, "slow_q": 4.0, "other_q": 1.0}
    logs = []

    # transient: first reading 10x over, retry lands back at snapshot
    first = {"fast_q": 2.2, "slow_q": 4.1, "other_q": 1.05}
    calls = []

    def remeasure_ok(keys):
        calls.append(sorted(keys))
        return {k: snap[k] for k in keys}

    problems = br.check_with_retry(first, snap, remeasure_ok,
                                   log=logs.append)
    assert problems == []
    assert calls == [["fast_q"]], "only the flagged query is re-run"
    assert any("first=2.20s" in line and "retry=0.25s" in line
               for line in logs), "both readings are logged"

    # persistent: retry reads the same 10x — still fails
    def remeasure_bad(keys):
        return {k: first[k] for k in keys}

    problems = br.check_with_retry(first, snap, remeasure_bad,
                                   log=logs.append)
    assert len(problems) == 1 and "regressed: fast_q" in problems[0]

    # unsnapshotted findings are structural — reported, never retried
    problems = br.check_with_retry(
        {"new_q": 0.1}, snap,
        lambda keys: pytest.fail("remeasure must not run"),
        log=logs.append)
    assert problems == ["unsnapshotted: new_q (0.10s)"]

    # clean pass: no retry, no log lines
    n_logs = len(logs)
    assert br.check_with_retry(
        {"fast_q": 0.3}, snap,
        lambda keys: pytest.fail("remeasure must not run"),
        log=logs.append) == []
    assert len(logs) == n_logs


def test_check_refuses_cpu_basis_mismatch(monkeypatch):
    """The environment pin end-to-end (VERDICT r12 "what's wrong" #1):
    a --check at a core count that differs from the snapshot's
    recorded basis exits 3 BEFORE measuring anything (no Spark
    session, so this runs in seconds), with an explanation instead of
    fake regressions. A matching count passes the pin; legacy
    snapshots without the field are not refused."""
    import tools.bench_registry as br

    snap = {"__protocol__": {"cpus": 32}, "q": 1.0}
    assert br.snapshot_cpus_mismatch(snap, 32) is None
    msg = br.snapshot_cpus_mismatch(snap, 8)
    assert msg and "SPARK_GRAFT_CPUS=8" in msg and "cpus=32" in msg
    assert br.snapshot_cpus_mismatch({"q": 1.0}, 8) is None  # legacy

    # every committed snapshot now records its basis
    for name in ("registry_snapshot.json", "registry_snapshot_sf1.json",
                 "registry_snapshot_sf5.json"):
        with open(os.path.join(REPO, "tools", name)) as f:
            assert json.load(f)["__protocol__"]["cpus"] == 32, name

    # end-to-end: the CLI refuses with exit 3 before starting Spark
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_registry.py"),
         "--check", SNAPSHOT],
        cwd=REPO, capture_output=True, text=True, timeout=120,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    assert proc.returncode == 3, (proc.returncode, proc.stderr[-500:])
    assert "snapshot basis mismatch" in proc.stderr


def test_family_check_uses_family_snapshot(tmp_path):
    """ADVICE r9: a bare '--family-sf1 --check' must compare against the
    FAMILY snapshot, not the sf0.1 full-registry default, and a family
    --snapshot aimed at the full-registry file must refuse. Argument
    plumbing only — no Spark session, runs in milliseconds."""
    import tools.bench_registry as br

    # simulate main()'s arg resolution without running queries
    import argparse

    def resolve(argv):
        ap = argparse.ArgumentParser()
        ap.add_argument("--check", nargs="?", const=br.DEFAULT_SNAPSHOT)
        ap.add_argument("--snapshot")
        ap.add_argument("--family-sf1", action="store_true")
        ap.add_argument("--family-sf5", action="store_true")
        args = ap.parse_args(argv)
        fam = (br.SF1_SNAPSHOT if args.family_sf1
               else br.SF5_SNAPSHOT if args.family_sf5 else None)
        if fam and args.check == br.DEFAULT_SNAPSHOT:
            args.check = fam
        return args

    assert resolve(["--family-sf1", "--check"]).check == br.SF1_SNAPSHOT
    assert resolve(["--family-sf5", "--check"]).check == br.SF5_SNAPSHOT
    assert resolve(["--check"]).check == br.DEFAULT_SNAPSHOT
    explicit = str(tmp_path / "mine.json")
    assert resolve(["--family-sf1", "--check", explicit]).check == explicit

    # the real main() must also refuse the clobber and resolve the bare
    # family check; exercise it end-to-end with a bad flag combo
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "bench_registry.py"),
         "--family-sf1", "--snapshot",
         os.path.join(REPO, "tools", "registry_snapshot.json")],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert "refusing to overwrite" in proc.stderr
