"""Round-13 operational closure on the r12 index-lifecycle machinery:
streaming ingest survives concurrent compact/retrain via bounded
retry-with-backoff (VERDICT r12 #1/#2), `maintain index-status`
(VERDICT r12 #3), the closed drift loop — auto-retrain on the add-time
max_cell_share signal (VERDICT r12 #5), the IvfPq base_path manifest
(VERDICT r12 #6), snapshot-GC retention + dry-run (VERDICT r12 #7),
and the four ADVICE r12 findings (atomic-create token + local O_EXCL,
validated/locked index-publish, pointer/epoch list-then-read retry,
IvfIndex.retrain empty-corpus guard)."""

import os
import threading
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark import fsutil
from keystone_spark.fsutil import IndexContention, retry_contention

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "pack my box with five dozen liquor jugs for the long winter"),
    (3, "sphinx of black quartz judge my vow said the old professor"),
    (4, "how vexingly quick daft zebras jump over the sleeping fence"),
]


def _toks(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.split("text", " ").alias("toks")
    )


def _bm25_key(df):
    return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                  for r in df.collect())


# ------------------------------------------------------- retry_contention

def test_retry_contention_retries_only_contention(caplog):
    """IndexContention retries up to the attempt budget; every other
    error class propagates on the FIRST call (retrying a schema
    mismatch would just re-fail slower). Each backoff is logged at
    INFO so a slow-but-alive contended stream is distinguishable from
    a hung one."""
    import logging

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise IndexContention("lock already held")
        return "done"

    with caplog.at_level(logging.INFO, logger="keystone_spark.fsutil"):
        assert retry_contention(flaky, attempts=5,
                                base_sleep=0.001) == "done"
    assert calls["n"] == 3
    retries = [r for r in caplog.records if "index contention" in r.message]
    assert len(retries) == 2 and "attempt 1/5" in retries[0].message

    # non-contention: first attempt propagates
    calls["n"] = 0

    def broken():
        calls["n"] += 1
        raise ValueError("schema mismatch")

    with pytest.raises(ValueError, match="schema mismatch"):
        retry_contention(broken, attempts=5, base_sleep=0.001)
    assert calls["n"] == 1

    # persistent contention: fails loudly after the budget
    calls["n"] = 0

    def stuck():
        calls["n"] += 1
        raise IndexContention("never released")

    with pytest.raises(IndexContention, match="never released"):
        retry_contention(stuck, attempts=3, base_sleep=0.001)
    assert calls["n"] == 3


# --------------------------------------------------- atomic-create (ADVICE #1)

def test_atomic_create_local_is_kernel_atomic_and_tokenized(spark, tmp_path):
    """Local paths take the os.open(O_CREAT|O_EXCL) path (kernel-atomic
    — Hadoop LocalFileSystem's create(overwrite=False) is
    check-then-put) and the lock file carries the creator's token."""
    lock = str(tmp_path / "idx" / "_WRITE_LOCK")
    assert fsutil._atomic_create(spark, lock) is True
    with open(lock) as f:
        token = f.read().strip()
    assert len(token) == 32 and all(c in "0123456789abcdef" for c in token)
    assert fsutil._atomic_create(spark, lock) is False  # already held
    fsutil.fs_delete(spark, lock)
    assert fsutil._atomic_create(spark, lock) is True


def test_atomic_create_own_partial_create_is_not_already_held(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12 #1: create succeeds but close() fails -> the file
    exists with OUR token; a bare exists-check would tell the creator
    'lock already held' and the lock would be orphaned. The token
    read-back recognizes our own partial create and returns True (the
    caller's finally releases it)."""
    store = {}

    class FakeStream:
        def __init__(self, p):
            self.p = p

        def write(self, b):
            store[self.p] = bytes(b).decode()

        def close(self):
            raise IOError("close lost the connection")

    class FakeFs:
        def getScheme(self):
            return "mock"

        def create(self, p, overwrite):
            return FakeStream(str(p))

        def exists(self, p):
            return str(p) in store

    real = fsutil._fs_path

    def fake(spark2, p):
        if p.endswith("_LOCKX"):
            return FakeFs(), p
        return real(spark2, p)

    monkeypatch.setattr(fsutil, "_fs_path", fake)
    monkeypatch.setattr(fsutil, "fs_read_text",
                        lambda s, p: store[str(p)])
    assert fsutil._atomic_create(spark, str(tmp_path / "_LOCKX")) is True


# ------------------------------------------- pointer read retry (ADVICE #3)

def test_read_latest_pointer_survives_concurrent_flip(
    spark, tmp_path, monkeypatch
):
    """A flip deletes the max-version file between this reader's
    listStatus and its content read — the reader re-lists and resolves
    the NEW pointer instead of crashing with FileNotFound."""
    root = str(tmp_path / "root")
    os.makedirs(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    real = fsutil.fs_read_text
    state = {"raced": False}

    def racing_read(s, p):
        if fsutil.LATEST_POINTER in p and not state["raced"]:
            state["raced"] = True
            # the concurrent flip lands between list and read: the
            # listed file is deleted, the new version appears
            fsutil.write_latest_pointer(s, root, "v1")
            raise FileNotFoundError(p)
        return real(s, p)

    monkeypatch.setattr(fsutil, "fs_read_text", racing_read)
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    assert state["raced"]


# ----------------------------------------------- publish_pointer (ADVICE #2)

def test_publish_pointer_validates_target_and_locks(spark, tmp_path):
    root = str(tmp_path / "root")
    os.makedirs(f"{root}/v0")
    os.makedirs(f"{root}/v1")

    # typo'd target: refused BEFORE any pointer write
    with pytest.raises(ValueError, match="does not exist"):
        fsutil.publish_pointer(spark, root, "v9")
    assert fsutil.read_latest_pointer(spark, root) is None

    # first publish: no current snapshot to lock, goes straight through
    out = fsutil.publish_pointer(spark, root, "v0")
    assert out["previous"] is None and out["pointer_version"] == 1
    assert fsutil.read_latest_pointer(spark, root) == "v0"

    # flip runs under the CURRENT snapshot's compact lock — a live GC
    # (or dest-compact) holding it makes publish fail fast, so the two
    # can never interleave their keep-set/flip
    fsutil.acquire_compact_lock(spark, f"{root}/v0")
    try:
        with pytest.raises(IndexContention, match="compact lock already"):
            fsutil.publish_pointer(spark, root, "v1")
    finally:
        fsutil.release_compact_lock(spark, f"{root}/v0")
    out = fsutil.publish_pointer(spark, root, "v1")
    assert out["previous"] == "v0"
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    # lock released: a later compact of the published snapshot works
    fsutil.acquire_compact_lock(spark, f"{root}/v1")
    fsutil.release_compact_lock(spark, f"{root}/v1")


# -------------------------------------------------- GC retention (VERDICT #7)

def test_gc_dry_run_and_keep_last(spark, tmp_path):
    root = str(tmp_path / "root")
    now = time.time()
    for i, age in [(0, 300), (1, 200), (2, 100)]:
        os.makedirs(f"{root}/v{i}")
        with open(f"{root}/v{i}/marker", "w") as f:
            f.write(str(i))
        os.utime(f"{root}/v{i}", (now - age, now - age))
    fsutil.write_latest_pointer(spark, root, "v2")

    out = fsutil.gc_snapshots(spark, root, dry_run=True)
    assert out == {"current": "v2", "would_delete": ["v0", "v1"],
                   "kept": ["v2"], "dry_run": True}
    assert os.path.isdir(f"{root}/v0") and os.path.isdir(f"{root}/v1")

    # keep_last=1 retains the NEWEST non-current snapshot (v1) as a
    # rollback target and deletes only v0
    out = fsutil.gc_snapshots(spark, root, keep_last=1)
    assert out["deleted"] == ["v0"]
    assert sorted(out["kept"]) == ["v1", "v2"]
    assert not os.path.exists(f"{root}/v0") and os.path.isdir(f"{root}/v1")


# ------------------------------------------ retrain guards (ADVICE #4)

def test_ivf_retrain_empty_corpus_and_small_sample_ncells(spark, tmp_path):
    from keystone_spark.operators.similarity import IvfIndex

    dim = 8
    rows = [(i, [float(j == i % dim) for j in range(dim)])
            for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivfroot")
    IvfIndex.build(e, n_cells=2, sample_size=6).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    # live sample smaller than requested k: n_cells reports the
    # centroids actually trained, not the requested count
    stats = IvfIndex.retrain(spark, root, f"{root}/v1", n_cells=32,
                             sample_size=6)
    assert stats["n_cells"] == 6  # len(C), not the requested 32
    assert len(stats["cell_histogram"]) <= stats["n_cells"]

    # all-tombstoned corpus: the intended message, not a numpy
    # IndexError from _kmeans_centroids on an empty array
    IvfIndex.delete(spark, root, [r[0] for r in rows])
    with pytest.raises(ValueError, match="live corpus is empty"):
        IvfIndex.retrain(spark, root, f"{root}/v2", sample_size=6)


# ------------------------------------- IvfPq base_path manifest (VERDICT #6)

def test_ivfpq_base_path_manifest_roundtrip_and_mismatch_guard(
    spark, tmp_path
):
    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.sources import load_table

    base_dir = str(tmp_path / "base")
    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    e.write.parquet(base_dir)

    root = str(tmp_path / "pqroot")
    IvfPqIndex.build(
        spark.read.parquet(base_dir), n_cells=4, m=8, ks=16,
        base_path=base_dir,
    ).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")
    assert IvfPqIndex.load(spark, root).base_path == base_dir

    # retrain with NO base argument: the manifest's base_path is used,
    # and the retrained snapshot carries it forward
    stats = IvfPqIndex.retrain(spark, root, f"{root}/v1")
    assert stats["n_cells"] == 4
    assert IvfPqIndex.load(spark, root).base_path == base_dir

    # a contradicting base_path raises without force_base — a wrong
    # but dims-compatible base would silently degrade recall
    other = str(tmp_path / "other_base")
    e.write.parquet(other)
    with pytest.raises(ValueError, match="contradicts the"):
        IvfPqIndex.retrain(spark, root, f"{root}/v2", base_path=other)
    stats = IvfPqIndex.retrain(spark, root, f"{root}/v2",
                               base_path=other, force_base=True)
    assert stats["dest"].endswith("/v2")
    assert IvfPqIndex.load(spark, root).base_path == other

    # dest-compact carries the manifest pointer forward too
    IvfPqIndex.compact(spark, root, dest=f"{root}/v3")
    assert IvfPqIndex.load(spark, root).base_path == other

    # no base anywhere: the explanatory error, not a crash
    root2 = str(tmp_path / "pqroot2")
    IvfPqIndex.build(e, n_cells=4, m=8, ks=16).save(root2)
    with pytest.raises(ValueError, match="base_path=... so the manifest"):
        IvfPqIndex.retrain(spark, root2, str(tmp_path / "pq_v1"))


# ---------------------------------------- streaming retry (VERDICT #1/#2)

def _bm25_stream(spark, tmp_path, batches):
    src = tmp_path / "incoming"
    src.mkdir()
    for i, chunk in enumerate(batches):
        spark.createDataFrame(
            chunk, "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .select("doc_id", F.split("text", " ").alias("toks"))
    )


@pytest.mark.slow
def test_stream_bm25_ingest_survives_concurrent_dest_compact(
    spark, tmp_path
):
    """The VERDICT r12 #1 done-criterion: a dest-compact (pointer
    flip) runs CONCURRENTLY with the ingest stream; the fold's adds
    lose lock/fence races, retry with backoff (the #2 anti-lockstep
    backoff on the compact side is what lets the pair converge), and
    the stream completes with zero lost/duplicated documents — search
    over the ingested index is hash-identical to a from-scratch
    rebuild over every document."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.streaming.windows import stream_bm25_ingest

    seed = [(0, "alpha beta gamma"), (1, "beta beta delta")]
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    batches = [
        [(10 * b + j,
          " ".join(words[(b + j + s) % len(words)] for s in range(3)))
         for j in range(2)]
        for b in range(1, 9)  # 8 micro-batches: a long ingest window
    ]
    root = str(tmp_path / "bm25root")
    Bm25Index.build(_toks(spark, seed), n_term_buckets=8).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    stop = threading.Event()
    compacts = {"n": 0}
    errors = []

    def compactor():
        # a compact SCHEDULE compressed: three spaced dest-compacts
        # overlapping the stream (not a continuous back-to-back loop —
        # that starves mutations by design, since each compact holds
        # the lock for its whole staged rewrite); each compact retries
        # its own handshake losses (the adds hold the write lock)
        for i in range(10):
            if stop.is_set() or compacts["n"] >= 2:
                return
            dest = f"{root}/c{i}"
            try:
                retry_contention(
                    lambda: Bm25Index.compact(spark, root, dest=dest),
                    attempts=12, base_sleep=0.05,
                )
                compacts["n"] += 1
            except IndexContention:
                # cron semantics: a compact that cannot get in during a
                # hot ingest window skips this tick and tries the next
                continue
            except Exception as e:  # pragma: no cover - diagnostic
                errors.append(e)
                return
            time.sleep(1.0)

    t = threading.Thread(target=compactor, daemon=True)
    t.start()
    try:
        stream_bm25_ingest(
            _bm25_stream(spark, tmp_path, batches), root,
            retry_attempts=12, retry_base_sleep=0.1,
        )
    finally:
        stop.set()
        t.join(timeout=180)
    assert not errors, errors
    assert compacts["n"] >= 1, "compactor never overlapped the stream"

    idx = Bm25Index.load(spark, root)
    assert idx.params["n_docs"] == 18  # zero lost, zero duplicated
    every = seed + [d for b in batches for d in b]
    full = Bm25Index.build(_toks(spark, every), n_term_buckets=8)
    qs = spark.createDataFrame(
        [(0, ["alpha", "epsilon"]), (1, ["beta", "zeta"])],
        ["query_id", "q_toks"],
    )
    assert _bm25_key(idx.search(qs, k=8)) == _bm25_key(full.search(qs, k=8))


def test_stream_ingest_retries_through_held_lock_then_fails_if_stuck(
    spark, tmp_path
):
    """Deterministic contention: the write lock is held when the
    stream starts; a timer releases it mid-retry, and the fold's
    bounded backoff rides it out. A lock that is NEVER released still
    fails the stream after the attempt budget (loud, not a hang)."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.streaming.windows import stream_bm25_ingest

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS[:2]), n_term_buckets=4).save(path)
    batches = [[(10, "alpha beta"), (11, "gamma delta")]]

    fsutil.acquire_write_lock(spark, path)
    timer = threading.Timer(
        2.0, lambda: fsutil.release_write_lock(spark, path))
    timer.start()
    try:
        stream_bm25_ingest(
            _bm25_stream(spark, tmp_path, batches), path,
            retry_attempts=10, retry_base_sleep=0.2,
        )
    finally:
        timer.cancel()
    assert Bm25Index.load(spark, path).params["n_docs"] == 4

    # persistent holder: fail after the budget
    fsutil.acquire_write_lock(spark, path)
    try:
        src2 = tmp_path / "incoming2"
        src2.mkdir()
        spark.createDataFrame(
            [(20, "epsilon zeta")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src2 / "b0"))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src2 / "*"))
            .select("doc_id", F.split("text", " ").alias("toks"))
        )
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        with pytest.raises(
            StreamingQueryException, match="write-lock already held"
        ):
            from keystone_spark.streaming.windows import run_foreach_batch
            from keystone_spark.operators.nlp import Bm25Index as B

            def fold(bdf, eid):
                retry_contention(
                    lambda: B.add(spark, path, bdf,
                                  skip_existing_ids=True),
                    attempts=2, base_sleep=0.01,
                )

            run_foreach_batch(stream, fold, output_mode="append")
    finally:
        fsutil.release_write_lock(spark, path)


# ----------------------------------------- drift auto-retrain (VERDICT #5)

def test_stream_vector_ingest_auto_retrains_on_drift(spark, tmp_path):
    """VERDICT r12 #5 done-criterion: the ingest fold itself watches
    the drift signal and fires retrain — no operator in the loop — and
    recall@10 at n_probe_cells=1 recovers vs the frozen-quantizer
    snapshot. Fixture: the r12 drifted corpus (two new clusters in
    dims the build never saw). Signal semantics updated in r14
    (VERDICT r13 #1): the gate is WHOLE-INDEX occupancy, which after
    the 120-vector drifted add reads a deterministic max_share =
    0.2607 against the balanced floor of 0.25 (4 cells), so the 0.26
    threshold sits between the two — this is SCATTER drift, where the
    signal is inherently mild (crowding drift reads far higher; the
    threshold is the operator's dial). The false-positive and
    rate-limit halves of the r14 contract live in
    test_index_lifecycle_r14."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.streaming.windows import stream_vector_ingest
    from test_index_lifecycle_r12 import _drifted_corpus

    data = _drifted_corpus(spark)
    old = data.where(F.col("cohort") == "old").drop("cohort")
    new = data.where(F.col("cohort") == "new").drop("cohort")
    root = str(tmp_path / "ivfroot")
    IvfIndex.build(old, n_cells=4, sample_size=160).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    src = tmp_path / "vec_incoming"
    src.mkdir()
    new.coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(str(src / "*"))
    )
    stream_vector_ingest(stream, root, family="ivf",
                         retrain_if_skewed=0.26,
                         retrain_sample_size=280)

    # the fold fired retrain: pointer names an auto-dest snapshot
    ptr = fsutil.read_latest_pointer(spark, root)
    assert ptr.startswith("retrain_e"), ptr

    all_rows = data.drop("cohort").collect()
    ids = np.array([r[0] for r in all_rows])
    X = np.array([r[1] for r in all_rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    probes = new.limit(8)
    p_rows = probes.collect()

    def recall(idx):
        got = idx.search(probes, k=10, n_probe_cells=1).collect()
        by_probe = {}
        for r in got:
            by_probe.setdefault(int(r["probe"]), set()).add(int(r[1]))
        hits = tot = 0
        for r in p_rows:
            pv = np.asarray(r[1]) / np.linalg.norm(r[1])
            cos = Xn @ pv
            mask = ids != int(r[0])
            order = np.lexsort((ids[mask], -cos[mask]))
            t = set(ids[mask][order][:10].tolist())
            hits += len(t & by_probe.get(int(r[0]), set()))
            tot += len(t)
        return hits / tot

    # frozen snapshot (v0, which received the add before retrain)
    frozen = recall(IvfIndex.load(spark, f"{root}/v0"))
    retrained = recall(IvfIndex.load(spark, root))
    assert retrained >= 0.8, (frozen, retrained)
    assert retrained > frozen + 0.2, (frozen, retrained)
    # every streamed vector is in the retrained index exactly once
    idx = IvfIndex.load(spark, root)
    assert idx.indexed.count() == 280


# ------------------------------------------------ index-status (VERDICT #3)

def test_index_status_bm25_reports_orphans_tombstones_and_locks(
    spark, tmp_path
):
    """The done-criterion index: one committed build generation, one
    ORPHAN generation (intent row without a commit), one tombstone.
    index_status surfaces all of it in one dict without refusing."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.status import index_status

    root = str(tmp_path / "bm25root")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(
        f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")
    idx = Bm25Index.load(spark, root)
    # a crashed add: intent manifest row, no commit row
    fsutil.append_manifest(spark, f"{root}/v0", Bm25Index.PARAMS_SCHEMA,
                           {**idx.params, "n_docs": 0, "sum_dl": 0}, 7,
                           committed=0)
    Bm25Index.delete(spark, root, [2])

    st = index_status(spark, root)
    assert st["family"] == "bm25"
    assert st["format_version"] == Bm25Index.FORMAT_VERSION
    assert st["snapshot"].endswith("/v0")
    assert st["pointer_version"] == 1
    assert st["committed_generations"] == 1
    assert st["orphan_generations"] == 1
    assert st["max_generation"] == 7
    assert st["n_docs"] == 4  # tombstone pending, purge at compact
    assert st["tombstones"] == 1
    assert st["compact_epoch"] == 0
    assert st["write_lock"] is False and st["compact_lock"] is False
    assert st["interrupted_swap"] is False
    occ = st["occupancy"]
    assert occ["partitions"] >= 1 and 0 < occ["max_share"] <= 1.0

    assert st["write_lock_age_sec"] is None  # no lock, no age
    # a held lock shows up with its age (staleness is the whole basis
    # of the force-unlock decision)
    fsutil.acquire_write_lock(spark, f"{root}/v0")
    try:
        st2 = index_status(spark, root)
        assert st2["write_lock"] is True
        assert isinstance(st2["write_lock_age_sec"], int)
        assert 0 <= st2["write_lock_age_sec"] < 600
    finally:
        fsutil.release_write_lock(spark, f"{root}/v0")


@pytest.mark.slow
def test_index_status_all_families_and_cli(spark, tmp_path):
    from keystone_spark.operators import dedup as ddp
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex
    from keystone_spark.sources import load_table
    from keystone_spark.status import index_status

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")

    ivf = str(tmp_path / "ivf")
    IvfIndex.build(e, n_cells=4).save(ivf)
    IvfIndex.delete(spark, ivf, [0, 1])
    st = index_status(spark, ivf)
    assert st["family"] == "ivf" and st["pointer_version"] is None
    assert st["n_vectors"] == e.count()  # physical rows; purge at compact
    assert st["tombstones"] == 2
    assert st["occupancy"]["partitions"] == 4

    pq = str(tmp_path / "pq")
    IvfPqIndex.build(e, n_cells=4, m=8, ks=16,
                     base_path="/root/testdata/sf0.001").save(pq)
    st = index_status(spark, pq)
    assert st["family"] == "ivfpq"
    assert st["base_path"] == "/root/testdata/sf0.001"

    mh = str(tmp_path / "mh")
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    ddp.build_minhash_index(corpus, mh, n_hashes=64, n_bands=16)
    st = index_status(spark, mh)
    assert st["family"] == "minhash" and st["format_version"] == 2
    assert st["n_docs"] == 4 and st["committed_generations"] == 1
    assert st["occupancy"]["partitions"] <= 16

    # the CLI front door prints the same dict as one JSON line
    import json as _json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "keystone_spark.apps.maintain",
         "index-status", "--path", ivf],
        cwd=repo, capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["app"] == "maintain.index-status"
    assert out["family"] == "ivf" and out["tombstones"] == 2


@pytest.mark.slow
def test_maintain_cli_conditional_retrain(spark, tmp_path):
    """The cron form of the drift loop: `index-retrain
    --if-occupancy-above T` measures the whole index's occupancy skew
    (index-status's observable) and no-ops below the threshold — so a
    scheduled retrain is safe to run unconditionally — and retrains
    (pointer flip) when the threshold is met."""
    import json as _json
    import subprocess
    import sys

    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.sources import load_table

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    root = str(tmp_path / "ivfroot")
    IvfIndex.build(e, n_cells=4).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}

    def run(*extra):
        proc = subprocess.run(
            [sys.executable, "-m", "keystone_spark.apps.maintain",
             "index-retrain", "--path", root, "--kind", "ivf",
             "--dest", f"{root}/v1", *extra],
            cwd=repo, capture_output=True, text=True, timeout=300,
            env=env,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return _json.loads(proc.stdout.strip().splitlines()[-1])

    out = run("--if-occupancy-above", "0.99")
    assert out["skipped"] is True and 0 < out["max_share"] < 0.99
    assert fsutil.read_latest_pointer(spark, root) == "v0"  # no-op

    out = run("--if-occupancy-above", "0.0")
    assert "skipped" not in out and out["pointer_version"] >= 2
    assert fsutil.read_latest_pointer(spark, root) == "v1"


def test_stream_ivfpq_auto_retrain_uses_manifest_base(spark, tmp_path):
    """The fold's auto-retrain for the PQ family rides the r13
    manifest base_path: no base argument exists on the fold, so a
    threshold-crossing batch can only retrain if the index records
    where its raw vectors live. After the stream, the pointer names
    the fold-published snapshot, the manifest still carries the base,
    and pointer-resolved search (self top-1 via the base re-rank)
    works."""
    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.sources import load_table
    from keystone_spark.streaming.windows import stream_vector_ingest

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    base_dir = str(tmp_path / "base")
    e.write.parquet(base_dir)
    base = spark.read.parquet(base_dir)

    root = str(tmp_path / "pqroot")
    even = F.col("vec_id") % 2 == 0
    IvfPqIndex.build(base.where(even), n_cells=4, m=8, ks=16,
                     base_path=base_dir).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    src = tmp_path / "pq_incoming"
    src.mkdir()
    base.where(~even).select("vec_id", "embedding").coalesce(1) \
        .write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src / "b0")).schema
    ).parquet(str(src / "*"))
    stream_vector_ingest(stream, root, family="ivfpq",
                         retrain_if_skewed=0.0)

    ptr = fsutil.read_latest_pointer(spark, root)
    assert ptr.startswith("retrain_e"), ptr
    idx = IvfPqIndex.load(spark, root)
    assert idx.base_path == base_dir  # carried through the retrain
    assert idx.indexed.count() == e.count()
    probes = base.limit(3)
    got = idx.search(base, probes, k=1, n_probe_cells=4,
                     exclude_self=False).collect()
    assert {(int(r["probe"]), int(r[1])) for r in got} == {
        (int(r[0]), int(r[0])) for r in probes.select("vec_id").collect()
    }


@pytest.mark.slow
def test_stream_bm25_ingest_compact_dest_flips_pointer(spark, tmp_path):
    """Fold-level OBJECT-STORE-SAFE compaction: with
    ``compact_dest=True`` the periodic in-stream compact writes an
    epoch-named fresh snapshot and publishes it via the ``_LATEST``
    flip instead of swapping in place — a long-lived s3a stream can
    bound its file count without renaming live data. Search afterwards
    equals the from-scratch rebuild; index-status counts the old
    snapshots GC will reclaim."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.status import index_status
    from keystone_spark.streaming.windows import stream_bm25_ingest

    seed = [(0, "alpha beta gamma"), (1, "beta beta delta")]
    batches = [
        [(10, "alpha delta epsilon"), (11, "zeta beta")],
        [(20, "epsilon epsilon alpha"), (21, "gamma zeta")],
    ]
    root = str(tmp_path / "bm25root")
    Bm25Index.build(_toks(spark, seed), n_term_buckets=8).save(f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    stream_bm25_ingest(
        _bm25_stream(spark, tmp_path, batches), root,
        compact_every_n=1, compact_dest=True,
    )
    ptr = fsutil.read_latest_pointer(spark, root)
    assert ptr.startswith("compact_e"), ptr  # the fold published it

    idx = Bm25Index.load(spark, root)
    assert idx.params["n_docs"] == 6
    every = seed + [d for b in batches for d in b]
    full = Bm25Index.build(_toks(spark, every), n_term_buckets=8)
    qs = spark.createDataFrame(
        [(0, ["alpha", "epsilon"]), (1, ["beta"])], ["query_id", "q_toks"]
    )
    assert _bm25_key(idx.search(qs, k=6)) == _bm25_key(full.search(qs, k=6))

    # v0 + the first compact's snapshot are now stale; status surfaces
    # the GC debt, and GC(keep_last=1) keeps one rollback target
    st = index_status(spark, root)
    assert st["snapshot"].endswith(ptr) and st["stale_snapshots"] == 2
    out = fsutil.gc_snapshots(spark, root, keep_last=1)
    assert len(out["deleted"]) == 1 and len(out["kept"]) == 2
    assert index_status(spark, root)["stale_snapshots"] == 1
