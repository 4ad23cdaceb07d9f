"""Round-14 lifecycle fixes — the four ADVICE r13 findings plus the
VERDICT r13 "next round" items: publish-vs-GC re-validation under the
lock (#1), checked schema-pinning casts on vector appends (#2), the
pre-r11 bm25 status guard (#3), lock mtime surfacing (r13 verdict #7),
occupancy-gated + rate-limited streaming auto-retrain (verdict #1,
ADVICE #4), zero-padded auto-snapshot epochs (verdict #3), and
manifest-carried index stats (verdict #4)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark import fsutil


def _vecs(spark, ids, dim=8, seed=0):
    rng = np.random.default_rng(seed)
    rows = [(int(i), rng.standard_normal(dim).tolist()) for i in ids]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


# ------------------------------------------------ ADVICE r13 #1: publish race


def test_publish_pointer_revalidates_target_under_lock(
    spark, tmp_path, monkeypatch
):
    """A GC that wins the race and deletes the target between publish's
    pre-check and its lock acquisition must fail the publish loudly,
    leaving the old pointer intact — not publish a pointer to a deleted
    snapshot."""
    from keystone_spark.fsutil import publish_pointer

    root = str(tmp_path / "root")
    for v in ("v0", "v1"):
        spark.range(3).write.parquet(f"{root}/{v}/t")
    fsutil.write_latest_pointer(spark, root, "v0")

    real_acquire = fsutil.acquire_compact_lock

    def acquire_after_gc_won(s, path):
        # simulate the concurrent gc_snapshots holding the lock first
        # and deleting the non-current target, then releasing — the
        # window ADVICE r13 #1 describes
        fsutil.fs_delete(s, f"{root}/v1")
        real_acquire(s, path)

    monkeypatch.setattr(fsutil, "acquire_compact_lock", acquire_after_gc_won)
    with pytest.raises(ValueError, match="vanished"):
        publish_pointer(spark, root, "v1")
    monkeypatch.undo()
    # old pointer intact, lock released
    assert fsutil.read_latest_pointer(spark, root) == "v0"
    assert not fsutil.fs_exists(spark, f"{root}/v0/{fsutil.COMPACT_LOCK}")


# -------------------------------------------- ADVICE r13 #2: checked casts


@pytest.mark.parametrize("family", ["ivf", "ivfpq"])
def test_vector_add_rejects_nulling_cast(spark, tmp_path, family):
    """Non-ANSI mode turns an un-castable id into NULL; a nulled id row
    would dodge every skip_existing_ids anti-join and duplicate on
    replay — the add must refuse the batch instead."""
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    fam = {"ivf": IvfIndex, "ivfpq": IvfPqIndex}[family]
    path = str(tmp_path / family)
    if fam is IvfPqIndex:
        fam.build(_vecs(spark, range(40)), n_cells=4, m=4, ks=8).save(path)
    else:
        fam.build(_vecs(spark, range(40)), n_cells=4).save(path)

    bad = spark.createDataFrame(
        [("not-an-id", [0.1] * 8)], "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="cast"):
        fam.add(spark, path, bad)
    # nothing appended
    idx = fam.load(spark, path)
    assert idx.indexed.where(F.col("vec_id").isNull()).count() == 0
    assert idx.indexed.count() == 40
    # lock released (the guard raised inside the locked span)
    assert not fsutil.fs_exists(spark, f"{path}/{fsutil.WRITE_LOCK}")

    # a castable string id is fine — schema pinning, not type policing
    ok = spark.createDataFrame(
        [("100", [0.1] * 8)], "vec_id string, embedding array<double>")
    stats = fam.add(spark, path, ok)
    assert stats["vectors_added"] == 1
    assert fam.load(spark, path).indexed.where(
        F.col("vec_id") == 100).count() == 1


# ------------------------------------- ADVICE r13 #3: pre-r11 bm25 status


def test_index_status_pre_r11_bm25_params(spark, tmp_path):
    """A legacy single-row params manifest (no generation AND no
    committed column) must be REPORTED as one committed generation, not
    raise — the module's stated contract."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.status import index_status

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "c d e")],
        "doc_id long, text string",
    ).select("doc_id", F.split("text", " ").alias("toks"))
    path = str(tmp_path / "bm25")
    Bm25Index.build(docs, n_term_buckets=2).save(path)
    # rewrite params in the pre-r11 single-row shape
    legacy = spark.read.parquet(f"{path}/params").drop(
        "generation", "committed").limit(1)
    legacy.persist().count()
    legacy.write.mode("overwrite").parquet(f"{path}/params_legacy")
    fsutil.fs_delete(spark, f"{path}/params")
    fsutil.fs_rename(spark, f"{path}/params_legacy", f"{path}/params")

    st = index_status(spark, path)
    assert st["family"] == "bm25"
    assert st["committed_generations"] == 1
    assert st["orphan_generations"] == 0
    assert st["n_docs"] == 3
    # raw lock mtime rides along with the age (VERDICT r13 #7)
    assert st["write_lock_mtime_ms"] is None
    fsutil.acquire_write_lock(spark, path)
    try:
        st2 = index_status(spark, path)
        assert isinstance(st2["write_lock_mtime_ms"], int)
        assert st2["write_lock_mtime_ms"] > 10**12  # epoch ms, sane
    finally:
        fsutil.release_write_lock(spark, path)


# ------------------------- VERDICT r13 #4: manifest-carried index stats


def test_ivf_status_occupancy_is_manifest_only_and_scan_parity(
    spark, tmp_path, monkeypatch
):
    """A manifest-carrying index answers occupancy + n_vectors with NO
    Spark job over the data table (the scan fallback is patched to
    explode), and the manifest numbers equal the scan-derived ones."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.status import index_status

    path = str(tmp_path / "ivf")
    IvfIndex.build(_vecs(spark, range(60)), n_cells=4).save(path)

    truth = fsutil.scan_index_stats(spark, path, "corpus", "cell")
    assert fsutil.read_valid_index_stats(
        spark, path, "corpus", "cell") == truth

    def boom(*a, **k):
        raise AssertionError("status fell back to the data-table scan")

    monkeypatch.setattr(fsutil, "scan_index_stats", boom)
    st = index_status(spark, path)
    monkeypatch.undo()
    assert st["occupancy"]["source"] == "manifest"
    assert st["occupancy"]["rows"] == 60 == st["n_vectors"]
    assert st["occupancy"]["partitions"] == len(truth)

    # the streaming-fold path: add() merges its batch histogram, so the
    # manifest stays current without a scan
    IvfIndex.add(spark, path, _vecs(spark, range(100, 110), seed=7))
    post = fsutil.read_valid_index_stats(spark, path, "corpus", "cell")
    assert post == fsutil.scan_index_stats(spark, path, "corpus", "cell")
    assert sum(post.values()) == 70

    # a mutation that bypasses the merge (foreign writer) is DETECTED
    # by the file-count fence -> honest fallback to the scan
    some_cell = next(iter(post))
    _vecs(spark, [999], seed=9).selectExpr(
        "vec_id", "embedding"
    ).write.mode("append").parquet(f"{path}/corpus/cell={some_cell}")
    assert fsutil.read_valid_index_stats(
        spark, path, "corpus", "cell") is None
    st2 = index_status(spark, path)
    assert st2["occupancy"]["source"] == "scan"
    assert st2["occupancy"]["rows"] == 71

    # compact re-syncs the manifest
    IvfIndex.compact(spark, path)
    st3 = index_status(spark, path)
    assert st3["occupancy"]["source"] == "manifest"
    assert st3["occupancy"]["rows"] == 71


def test_stats_manifest_all_families(spark, tmp_path):
    """bm25/minhash/ivfpq: build writes the stats manifest, a
    stats-unaware generation append stales it (fence -> scan), compact
    re-syncs it, and a dest compact's fresh snapshot carries its own."""
    from keystone_spark.operators import dedup as ddp
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.operators.similarity import IvfPqIndex
    from keystone_spark.status import index_status

    pq = str(tmp_path / "pq")
    IvfPqIndex.build(_vecs(spark, range(64)), n_cells=4, m=4, ks=8).save(pq)
    assert index_status(spark, pq)["occupancy"]["source"] == "manifest"
    IvfPqIndex.add(spark, pq, _vecs(spark, range(200, 210), seed=3))
    st = index_status(spark, pq)
    assert st["occupancy"]["source"] == "manifest"
    assert st["n_vectors"] == 74
    IvfPqIndex.compact(spark, pq, dest=str(tmp_path / "pq_v1"))
    st = index_status(spark, str(tmp_path / "pq_v1"))
    assert st["occupancy"]["source"] == "manifest"
    assert st["n_vectors"] == 74

    docs = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} shared tail") for i in range(6)],
        "doc_id long, text string",
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    bp = str(tmp_path / "bm25")
    Bm25Index.build(toks, n_term_buckets=2).save(bp)
    assert index_status(spark, bp)["occupancy"]["source"] == "manifest"
    Bm25Index.add(spark, bp, spark.createDataFrame(
        [(100, "extra doc body")], "doc_id long, text string"
    ).select("doc_id", F.split("text", " ").alias("toks")))
    assert index_status(spark, bp)["occupancy"]["source"] == "scan"
    Bm25Index.compact(spark, bp)
    assert index_status(spark, bp)["occupancy"]["source"] == "manifest"
    Bm25Index.add(spark, bp, spark.createDataFrame(
        [(101, "one more doc")], "doc_id long, text string"
    ).select("doc_id", F.split("text", " ").alias("toks")))
    Bm25Index.compact(spark, bp, dest=str(tmp_path / "bm25_v1"))
    st = index_status(spark, str(tmp_path / "bm25_v1"))
    assert st["occupancy"]["source"] == "manifest"
    assert st["n_docs"] == 8

    mh = str(tmp_path / "mh")
    ddp.build_minhash_index(docs, mh, n_hashes=32, n_bands=8)
    assert index_status(spark, mh)["occupancy"]["source"] == "manifest"
    ddp.add_to_minhash_index(spark, mh, spark.createDataFrame(
        [(100, "an unrelated extra document body")],
        "doc_id long, text string"))
    assert index_status(spark, mh)["occupancy"]["source"] == "scan"
    ddp.compact_minhash_index(spark, mh, dest=str(tmp_path / "mh_v1"))
    st = index_status(spark, str(tmp_path / "mh_v1"))
    assert st["occupancy"]["source"] == "manifest"
    assert st["n_docs"] == 7


# ------- VERDICT r13 #1 + ADVICE r13 #4: occupancy-gated, rate-limited,
# ------- crash-safe streaming auto-retrain


def _clustered(spark, per_cluster=40, dim=8):
    """4 tight clusters on e0..e3 — a balanced 4-cell build."""
    rows = []
    vid = 0
    for c in range(4):
        for i in range(per_cluster):
            v = np.zeros(dim)
            v[c] = 1.0
            v[(c + 1) % 4] = 0.02 * ((i * 13) % 7 - 3)
            rows.append((vid, v.tolist()))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cluster0_batch(spark, start, n, dim=8):
    rows = []
    for i in range(n):
        v = np.zeros(dim)
        v[0] = 1.0
        v[1] = 0.02 * ((i * 7) % 5 - 2)
        rows.append((start + i, v.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_stream_retrain_gates_on_index_occupancy_with_rate_limit(
    spark, tmp_path
):
    """The r14 trigger contract in one stream of three micro-batches:

    - b0 (4 vectors, ALL in one cell — batch max_cell_share=1.0, which
      the pre-r14 per-batch trigger would have fired on at any
      threshold) leaves whole-index occupancy at 44/164=0.268 < 0.3:
      NO retrain.
    - b1 (40 more into the same cell) pushes occupancy to 84/204=0.41:
      retrain fires, into the zero-padded retrain_e000001.
    - b2 (40 more) at epoch 2 is inside the min_epochs_between_retrains
      window: rate-limited, pointer still names epoch 1's snapshot.
    """
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.streaming import windows as W

    root = str(tmp_path / "root")
    IvfIndex.build(_clustered(spark), n_cells=4, sample_size=160).save(
        f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    src = tmp_path / "in"
    src.mkdir()
    _cluster0_batch(spark, 1000, 4).coalesce(1).write.parquet(
        str(src / "b0"))
    _cluster0_batch(spark, 2000, 40).coalesce(1).write.parquet(
        str(src / "b1"))
    _cluster0_batch(spark, 3000, 40).coalesce(1).write.parquet(
        str(src / "b2"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    W.stream_vector_ingest(stream, root, family="ivf",
                           retrain_if_skewed=0.3,
                           retrain_sample_size=300,
                           min_epochs_between_retrains=5)

    ptr = fsutil.read_latest_pointer(spark, root)
    assert ptr == "retrain_e000001", ptr  # fired once, at b1, zero-padded
    st = W._read_retrain_state(spark, root)
    assert st == {"last_epoch": 1, "pending": None}
    # all 244 vectors present exactly once through add+retrain+adds
    idx = IvfIndex.load(spark, root)
    assert idx.indexed.count() == 244
    assert idx.indexed.select("vec_id").distinct().count() == 244


def test_stream_retrain_small_skewed_batch_alone_never_fires(
    spark, tmp_path
):
    """One anomalous small batch into a balanced index (the exact
    false-trigger VERDICT r13 #1 describes) does not fire at all."""
    from keystone_spark.streaming import windows as W
    from keystone_spark.operators.similarity import IvfIndex

    root = str(tmp_path / "root")
    IvfIndex.build(_clustered(spark), n_cells=4, sample_size=160).save(
        f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")
    src = tmp_path / "in"
    src.mkdir()
    _cluster0_batch(spark, 1000, 4).coalesce(1).write.parquet(
        str(src / "b0"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .parquet(str(src / "*"))
    )
    W.stream_vector_ingest(stream, root, family="ivf",
                           retrain_if_skewed=0.3)
    assert fsutil.read_latest_pointer(spark, root) == "v0"
    assert W._read_retrain_state(spark, root)["pending"] is None


def test_pending_retrain_marker_replay_semantics(spark, tmp_path):
    """ADVICE r13 #4 crash matrix: (a) crash BEFORE the retrain
    published -> the replayed epoch re-fires into the SAME dest even
    though its add is an idempotent no-op and occupancy may read
    balanced; (b) crash AFTER the publish but before the marker clear
    -> the marker is recognized as done and cleared without a second
    retrain."""
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.streaming import windows as W

    root = str(tmp_path / "root")
    IvfIndex.build(_clustered(spark), n_cells=4, sample_size=160).save(
        f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    # (a) a crashed fold left a pending marker, pointer not flipped
    dest = f"{root}/retrain_e000007"
    W._write_retrain_state(spark, root, {
        "last_epoch": None, "pending": {"epoch": 7, "dest": dest}})
    W._maybe_auto_retrain(spark, root, IvfIndex, 7,
                          threshold=0.99,  # occupancy balanced: no NEW
                          sample_size=160, min_epochs=5,
                          retry_attempts=2, retry_base_sleep=0.01)
    assert fsutil.read_latest_pointer(spark, root) == "retrain_e000007"
    assert W._read_retrain_state(spark, root) == {
        "last_epoch": 7, "pending": None}

    # (b) pointer already names the pending dest (publish landed,
    # marker clear crashed): replay just clears the marker
    W._write_retrain_state(spark, root, {
        "last_epoch": None, "pending": {"epoch": 7, "dest": dest}})
    ptr_before = fsutil._latest_files(spark, root)
    W._maybe_auto_retrain(spark, root, IvfIndex, 8,
                          threshold=0.99, sample_size=160,
                          min_epochs=5, retry_attempts=2,
                          retry_base_sleep=0.01)
    assert W._read_retrain_state(spark, root) == {
        "last_epoch": 7, "pending": None}
    # no new pointer version was published by the no-op completion
    assert fsutil._latest_files(spark, root) == ptr_before


# --------------- VERDICT r13 #5: S3 conditional-create capability probe


class _FakeFs:
    def __init__(self, scheme, caps):
        self._scheme, self._caps = scheme, caps

    def getScheme(self):
        return self._scheme

    def hasPathCapability(self, p, cap):
        if self._caps == "raise":
            raise RuntimeError("UnsupportedOperation")
        return cap in self._caps


def test_conditional_create_probe_branches(spark, tmp_path, monkeypatch):
    """Capability-faking FS shim over both branches (VERDICT r13 #5
    done-criterion): a store reporting the public conditional-create
    capability is 'atomic', one that lacks it (or whose probe throws —
    old Hadoop) stays 'advisory'; local and hdfs are always atomic
    (O_EXCL / NameNode)."""
    cases = [
        ("file", set(), "atomic"),
        ("hdfs", set(), "atomic"),
        ("s3a", {"fs.capability.conditional.create"}, "atomic"),
        ("s3a", set(), "advisory"),
        ("s3a", "raise", "advisory"),
        ("gs", {"fs.s3a.capability.conditional.create"}, "atomic"),
    ]
    for scheme, caps, want in cases:
        monkeypatch.setattr(
            fsutil, "_fs_path",
            lambda s, path, _f=_FakeFs(scheme, caps): (_f, path))
        got = fsutil.lock_atomicity(spark, "dummy://x")
        assert got == want, (scheme, caps, got)
    monkeypatch.undo()
    # the real local FS through index_status reports atomic
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.status import index_status

    path = str(tmp_path / "ivf")
    IvfIndex.build(_vecs(spark, range(30)), n_cells=2).save(path)
    assert index_status(spark, path)["lock_atomicity"] == "atomic"


# ------------------ VERDICT r13 "what's missing" #5: status history log


def test_status_log_appends_history(spark, tmp_path):
    from keystone_spark.operators.similarity import IvfIndex
    from keystone_spark.status import append_status_log, index_status

    path = str(tmp_path / "ivf")
    IvfIndex.build(_vecs(spark, range(30)), n_cells=2).save(path)
    for _ in range(2):
        append_status_log(spark, path, index_status(spark, path))
    import json

    lines = fsutil.fs_read_text(
        spark, f"{path}/_status_log.jsonl").strip().splitlines()
    assert len(lines) == 2
    for ln in lines:
        d = json.loads(ln)
        assert d["family"] == "ivf" and isinstance(d["ts"], int)
        assert d["occupancy"]["source"] == "manifest"


def test_index_status_recognizes_sq8(spark, tmp_path):
    from keystone_spark.operators.similarity import Sq8Index
    from keystone_spark.status import index_status

    path = str(tmp_path / "sq8")
    Sq8Index.build(_vecs(spark, range(25))).save(path)
    st = index_status(spark, path)
    assert st["family"] == "sq8"
    assert st["n_vectors"] == 25
    assert st["occupancy"] is None  # flat: no pruning column to skew
    assert st["tombstones"] == 0 and st["interrupted_swap"] is False
