"""Round-12 index-lifecycle hardening: the mutation _WRITE_LOCK
(enforced single-writer — VERDICT r11 #1), the Bm25Index v4 per-doc
membership table (index-size-independent idempotent adds, exact
zero-token accounting — VERDICT r11 #2), object-store-safe
dest-compaction with _LATEST pointer flips (VERDICT r11 #3),
IVF/IVFPQ retrain (VERDICT r11 #4), the no-absence-window epoch fence
(VERDICT r11 "what's wrong" #3), and the finish_swap tombstone purge +
narrowed lock-error catch (ADVICE r11)."""

import json
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark import fsutil
from keystone_spark.sources import load_table

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


QS = [(0, ["quick", "box"])]


# ---------------------------------------------------------------- locks

def test_write_lock_serializes_concurrent_bm25_adds(
    spark, tmp_path, monkeypatch
):
    """Two adds racing on one index: without the _WRITE_LOCK both read
    max_generation and claim the same gen number (two committed
    manifest rows, interleaved data). With it, the second add fails
    fast while the first is between its INTENT row and its COMMIT row,
    and succeeds with a DISTINCT generation afterwards."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS[:2]), n_term_buckets=4).save(path)
    b1 = _toks(spark, DOCS[2:3])
    b2 = _toks(spark, DOCS[3:4])

    real = fsutil.append_manifest
    state = {"fired": False}

    def intent_then_concurrent_add(spark2, p2, schema, params, gen,
                                   committed, mode="append"):
        real(spark2, p2, schema, params, gen, committed, mode)
        if not committed and not state["fired"]:
            state["fired"] = True  # first add sits between intent+commit
            with pytest.raises(ValueError,
                               match="write-lock already held"):
                Bm25Index.add(spark, path, b2)

    monkeypatch.setattr(fsutil, "append_manifest",
                        intent_then_concurrent_add)
    s1 = Bm25Index.add(spark, path, b1)
    monkeypatch.setattr(fsutil, "append_manifest", real)
    assert state["fired"]
    s2 = Bm25Index.add(spark, path, b2)
    assert s1["generation"] != s2["generation"]
    # lock released both times; index equals the full rebuild
    assert not fsutil.fs_exists(spark, f"{path}/_WRITE_LOCK")
    idx = Bm25Index.load(spark, path)
    assert idx.params["committed"] == [0, s1["generation"],
                                       s2["generation"]]
    qs = spark.createDataFrame(QS, ["query_id", "q_toks"])
    full = Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4)
    assert _bm25_key(idx.search(qs, k=4)) == _bm25_key(full.search(qs, k=4))


@pytest.mark.slow
def test_write_lock_serializes_concurrent_minhash_adds(
    spark, tmp_path, monkeypatch
):
    from keystone_spark.operators import dedup as ddp

    path = str(tmp_path / "mh")
    corpus = spark.createDataFrame(DOCS[:2], "doc_id long, text string")
    ddp.build_minhash_index(corpus, path, n_hashes=64, n_bands=16)
    b1 = spark.createDataFrame([(9, DOCS[2][1])], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, DOCS[3][1])],
                               "doc_id long, text string")

    real = fsutil.append_manifest
    state = {"fired": False}

    def intent_then_concurrent_add(spark2, p2, schema, cfg, gen, committed,
                                   mode="append"):
        real(spark2, p2, schema, cfg, gen, committed, mode)
        if not committed and not state["fired"]:
            state["fired"] = True
            with pytest.raises(ValueError,
                               match="write-lock already held"):
                ddp.add_to_minhash_index(spark, path, b2)

    monkeypatch.setattr(fsutil, "append_manifest",
                        intent_then_concurrent_add)
    s1 = ddp.add_to_minhash_index(spark, path, b1)
    monkeypatch.setattr(fsutil, "append_manifest", real)
    assert state["fired"]
    s2 = ddp.add_to_minhash_index(spark, path, b2)
    assert s1["generation"] != s2["generation"]
    assert not fsutil.fs_exists(spark, f"{path}/_WRITE_LOCK")
    # both batches findable
    probe = spark.createDataFrame(
        [(100, DOCS[2][1]), (101, DOCS[3][1])], "doc_id long, text string"
    )
    texts = corpus.unionByName(b1).unionByName(b2)
    out = ddp.match_minhash_index(
        spark, path, probe, texts, n_hashes=64, n_bands=16
    ).collect()
    assert sorted((r.doc_id, r.dup_of) for r in out) == [(100, 9), (101, 10)]


def test_stale_write_lock_repair_and_compact_handshake(spark, tmp_path):
    """A crashed mutation's _WRITE_LOCK blocks adds, deletes, AND
    compacts (the handshake); finish_swap refuses to clear it without
    force_unlock (a live mutation looks identical) and clears it with
    it."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    fsutil.acquire_write_lock(spark, path)

    with pytest.raises(ValueError, match="write-lock already held"):
        Bm25Index.add(spark, path, _toks(spark, [(9, "new doc text")]))
    with pytest.raises(ValueError, match="write-lock already held"):
        Bm25Index.delete(spark, path, [1])
    with pytest.raises(ValueError, match="mutation is in flight"):
        Bm25Index.compact(spark, path)
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")

    with pytest.raises(ValueError, match="force_unlock"):
        fsutil.finish_swap(spark, path)
    out = fsutil.finish_swap(spark, path, force_unlock=True)
    assert out["write_lock_cleared"] is True
    assert not fsutil.fs_exists(spark, f"{path}/_WRITE_LOCK")
    Bm25Index.delete(spark, path, [1])  # mutations unblocked
    Bm25Index.compact(spark, path)
    assert Bm25Index.load(spark, path).params["n_docs"] == 3


def test_vector_add_blocked_while_write_lock_held(spark, tmp_path):
    from keystone_spark.operators.similarity import IvfIndex

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    path = str(tmp_path / "ivf")
    IvfIndex.build(e, n_cells=4).save(path)
    fsutil.acquire_write_lock(spark, path)
    with pytest.raises(ValueError, match="write-lock already held"):
        IvfIndex.add(spark, path, e.limit(1))
    with pytest.raises(ValueError, match="mutation is in flight"):
        IvfIndex.compact(spark, path)
    fsutil.release_write_lock(spark, path)
    IvfIndex.add(spark, path,
                 e.limit(1).withColumn("vec_id", F.lit(10**9)))


def test_lock_error_catch_is_narrowed(spark, tmp_path, monkeypatch):
    """ADVICE r11 #4: a transient IO error during lock creation must
    NOT be reported as 'lock already held' (which steers the operator
    toward the dangerous force-unlock) — it re-raises unchanged."""
    path = str(tmp_path / "idx")

    real = fsutil._fs_path

    class Boom(Exception):
        pass

    class FakeFs:
        def getScheme(self):
            return "mock"  # not "file": exercise the Hadoop branch

        def create(self, p, overwrite):
            raise Boom("connection reset")

        def exists(self, p):
            return False

    def fake(spark2, p):
        if p.endswith("_COMPACT_LOCK") or p.endswith("_WRITE_LOCK"):
            return FakeFs(), p
        return real(spark2, p)

    monkeypatch.setattr(fsutil, "_fs_path", fake)
    with pytest.raises(Boom):
        fsutil.acquire_compact_lock(spark, path)
    with pytest.raises(Boom):
        fsutil.acquire_write_lock(spark, path)


# ---------------------------------------------------------------- epoch

def test_epoch_fence_has_no_absence_window(spark, tmp_path):
    """Versioned _COMPACT_EPOCH.N markers: mid-bump (old and new both
    present) reads the NEW value; a crash before the rename (tmp only)
    keeps the OLD value; a legacy single-file epoch is read and
    migrated away at the next bump. At no point does a reader see 0
    for a compacted index."""
    path = str(tmp_path / "idx")
    fsutil.fs_write_text(spark, f"{path}/marker", "")  # create the dir

    assert fsutil.read_compact_epoch(spark, path) == 0
    assert fsutil.bump_compact_epoch(spark, path) == 1
    assert fsutil.read_compact_epoch(spark, path) == 1

    # mid-bump: the new marker exists, the old not yet deleted
    fsutil.fs_write_text(spark, f"{path}/_COMPACT_EPOCH.2", "")
    assert fsutil.read_compact_epoch(spark, path) == 2
    # crash BEFORE the rename: only a .tmp staged — invisible
    fsutil.fs_write_text(spark, f"{path}/_COMPACT_EPOCH.3.tmp", "")
    assert fsutil.read_compact_epoch(spark, path) == 2
    # next bump resumes past the max and cleans stragglers
    assert fsutil.bump_compact_epoch(spark, path) == 3
    assert fsutil.read_compact_epoch(spark, path) == 3
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_EPOCH.1")
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_EPOCH.2")

    # legacy single-file epoch (pre-r12 index)
    legacy = str(tmp_path / "legacy")
    fsutil.fs_write_text(spark, f"{legacy}/_COMPACT_EPOCH", "7")
    assert fsutil.read_compact_epoch(spark, legacy) == 7
    assert fsutil.bump_compact_epoch(spark, legacy) == 8
    assert not fsutil.fs_exists(spark, f"{legacy}/_COMPACT_EPOCH")
    assert fsutil.fs_exists(spark, f"{legacy}/_COMPACT_EPOCH.8")


def test_latest_pointer_has_no_absence_window(spark, tmp_path):
    """_LATEST uses the same versioned-marker scheme as the epoch
    fence: a flip CREATES _LATEST.N+1 before deleting _LATEST.N, so a
    concurrent reader resolves the old or the new snapshot — never
    nothing; a crash before the rename leaves only a .tmp and the old
    pointer stays authoritative; a bare hand-written _LATEST file is
    honored and migrated at the next flip."""
    root = str(tmp_path / "root")
    fsutil.fs_write_text(spark, f"{root}/_LATEST", "v0")  # hand-written
    assert fsutil.read_latest_pointer(spark, root) == "v0"
    assert fsutil.resolve_index_path(spark, root) == f"{root}/v0"

    fsutil.write_latest_pointer(spark, root, "v1")
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    assert not fsutil.fs_exists(spark, f"{root}/_LATEST")  # migrated

    # mid-flip: both versions present -> newest wins
    fsutil.fs_write_text(spark, f"{root}/_LATEST.2", "v2")
    assert fsutil.read_latest_pointer(spark, root) == "v2"
    # crash BEFORE the rename: only a staged .tmp -> invisible
    fsutil.fs_write_text(spark, f"{root}/_LATEST.3.tmp", "v3")
    assert fsutil.read_latest_pointer(spark, root) == "v2"
    # the next flip resumes past the max and cleans stragglers
    fsutil.write_latest_pointer(spark, root, "v4")
    assert fsutil.read_latest_pointer(spark, root) == "v4"
    assert not fsutil.fs_exists(spark, f"{root}/_LATEST.1")
    assert not fsutil.fs_exists(spark, f"{root}/_LATEST.2")
    # absolute targets resolve as given
    fsutil.write_latest_pointer(spark, root, f"{root}/v9")
    assert fsutil.resolve_index_path(spark, root) == f"{root}/v9"


def test_finish_swap_repair_purges_stale_tombstones(spark, tmp_path):
    """ADVICE r11 #1: finish_swap completes a crashed compact's swap —
    whose staged tables already PURGED the tombstoned ids — so the
    tombstone file must go with it, or a later legal re-add of a
    purged id is silently hidden from search and re-purged at the next
    compact. Reproduces the advice's scenario end-to-end."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    Bm25Index.delete(spark, path, [1])

    # crash the compact mid-swap (right after the first table delete)
    real_rename = fsutil.fs_rename
    state = {"renames": 0}

    def crashing_rename(spark2, src, dst):
        state["renames"] += 1
        if state["renames"] == 2:  # 1 = marker tmp->final, 2 = table 1
            raise RuntimeError("simulated crash mid-swap")
        real_rename(spark2, src, dst)

    import unittest.mock as mock

    with mock.patch.object(fsutil, "fs_rename", crashing_rename):
        with pytest.raises(RuntimeError, match="simulated crash"):
            Bm25Index.compact(spark, path)

    stats = fsutil.finish_swap(spark, path)
    assert "postings" in stats["resumed_tables"]
    # the repaired swap purged doc 1 — its tombstone must be gone too
    assert not fsutil.fs_exists(spark, f"{path}/tombstones")
    # re-add of the purged id is legal (fresh among live ids) and SERVED
    Bm25Index.add(spark, path, _toks(spark, DOCS[:1]))
    qs = spark.createDataFrame([(0, ["quick", "fox"])],
                               ["query_id", "q_toks"])
    got = {r.doc_id for r in
           Bm25Index.load(spark, path).search(qs, k=4).collect()}
    assert 1 in got, "re-added doc must be served after swap repair"


# ---------------------------------------------------------------- bm25 v4

def test_bm25_v4_skipset_reads_docs_not_postings(spark, tmp_path):
    """The idempotent skip set anti-joins the per-doc membership table
    (one narrow row per doc), not the postings id column (VERDICT r11
    #2) — asserted on the actual scan paths in the optimized plan."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    idx = Bm25Index.load(spark, path)
    known = idx.docs.select(idx.params["id_col"])
    files = list(known.inputFiles())
    assert files and all("/docs/" in f for f in files), files
    assert not any("/postings/" in f for f in files), files


def test_bm25_v4_empty_doc_replay_is_idempotent(spark, tmp_path):
    """The v3 caveat, closed: a document with an EMPTY token array
    leaves no postings, so the old postings-derived skip set replayed
    it and re-counted n_docs. The docs table carries it, so an
    all-empty-docs replay is a no-op and stats stay exact."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS[:2]), n_term_buckets=4).save(path)
    empties = spark.createDataFrame(
        [(50,), (51,)], "doc_id long"
    ).withColumn("toks", F.array().cast("array<string>"))
    s1 = Bm25Index.add(spark, path, empties, skip_existing_ids=True)
    assert s1["batch_docs"] == 2 and s1["postings_added"] == 0
    assert Bm25Index.load(spark, path).params["n_docs"] == 4
    # the replay: must append NOTHING (v3 re-counted these docs)
    s2 = Bm25Index.add(spark, path, empties, skip_existing_ids=True)
    assert s2 == {"batch_docs": 0, "postings_added": 0,
                  "generation": None}
    assert Bm25Index.load(spark, path).params["n_docs"] == 4


def test_bm25_v4_zero_token_delete_is_exact_at_compact(spark, tmp_path):
    """Deleting a zero-token doc now subtracts it from N at compact
    (the v3 postings-derived subtraction could not see it): stats land
    exactly on the surviving corpus and search equals the survivor
    rebuild."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    empties = spark.createDataFrame(
        [(50,)], "doc_id long"
    ).withColumn("toks", F.array().cast("array<string>"))
    Bm25Index.add(spark, path, empties)
    assert Bm25Index.load(spark, path).params["n_docs"] == 5
    Bm25Index.delete(spark, path, [50, 1])
    Bm25Index.compact(spark, path)
    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 3  # both subtracted, incl. zero-token
    qs = spark.createDataFrame(QS, ["query_id", "q_toks"])
    survivors = Bm25Index.build(
        _toks(spark, [d for d in DOCS if d[0] != 1]), n_term_buckets=4
    )
    assert _bm25_key(idx.search(qs, k=4)) == _bm25_key(
        survivors.search(qs, k=4))


def test_bm25_v3_index_refused_with_rebuild_message(spark, tmp_path):
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    rows = spark.read.parquet(f"{path}/params").collect()
    downgraded = spark.createDataFrame(
        [r.asDict() for r in rows], Bm25Index.PARAMS_SCHEMA
    ).withColumn("version", F.lit(3).cast("long"))
    downgraded.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/params")
    with pytest.raises(ValueError, match="format v3"):
        Bm25Index.load(spark, path)


# ------------------------------------------------- dest-compact + _LATEST

def test_bm25_dest_compact_pointer_flip_file_uri(spark, tmp_path):
    """Object-store-safe compaction end-to-end on a file:// URI: a
    reader resolving the root sees the OLD snapshot before the flip
    and the purged NEW one after; the old snapshot dir is untouched
    (in-flight readers keep working); mutations after the flip land in
    the new snapshot."""
    from keystone_spark.operators.nlp import Bm25Index

    root = f"file://{tmp_path}/bm25root"
    v0, v1 = f"{root}/v0", f"{root}/v1"
    Bm25Index.build(_toks(spark, DOCS[:3]), n_term_buckets=4).save(v0)
    fsutil.write_latest_pointer(spark, root, "v0")

    qs = spark.createDataFrame(QS, ["query_id", "q_toks"])
    pre = _bm25_key(Bm25Index.load(spark, root).search(qs, k=4))
    assert pre == _bm25_key(Bm25Index.load(spark, v0).search(qs, k=4))

    Bm25Index.add(spark, root, _toks(spark, DOCS[3:]))
    Bm25Index.delete(spark, root, [1])
    stats = Bm25Index.compact(spark, root, dest=v1)
    assert stats["dest"] == v1
    assert fsutil.read_latest_pointer(spark, root) == "v1"

    # root now serves the purged snapshot == survivor rebuild
    survivors = Bm25Index.build(
        _toks(spark, [d for d in DOCS if d[0] != 1]), n_term_buckets=4
    )
    idx = Bm25Index.load(spark, root)
    assert idx.params["n_docs"] == 3
    assert _bm25_key(idx.search(qs, k=4)) == _bm25_key(
        survivors.search(qs, k=4))
    # the old snapshot still loads directly (in-flight readers) and
    # still filters its own tombstones
    old = Bm25Index.load(spark, v0)
    assert 1 not in {r.doc_id for r in old.search(qs, k=4).collect()}
    # a mutation via the root lands in the NEW snapshot; the old one
    # keeps its pre-flip state (4 docs: the pre-compact add landed
    # there, doc 1 only tombstoned — N stays pre-purge, Lucene parity)
    Bm25Index.add(spark, root, _toks(spark, [(9, "fresh doc about box")]))
    assert Bm25Index.load(spark, root).params["n_docs"] == 4
    assert Bm25Index.load(spark, v0).params["n_docs"] == 4


def test_minhash_dest_compact_pointer_flip(spark, tmp_path):
    from keystone_spark.operators import dedup as ddp

    root = str(tmp_path / "mhroot")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    ddp.build_minhash_index(corpus, v0, n_hashes=64, n_bands=16)
    fsutil.write_latest_pointer(spark, root, "v0")

    batch = spark.createDataFrame([(9, DOCS[2][1])],
                                  "doc_id long, text string")
    ddp.add_to_minhash_index(spark, root, batch)  # via the pointer
    ddp.delete_from_minhash_index(spark, root, [1])
    stats = ddp.compact_minhash_index(spark, root, dest=v1)
    assert stats["dest"] == v1
    assert fsutil.read_latest_pointer(spark, root) == "v1"

    probe = spark.createDataFrame(
        [(100, DOCS[2][1]), (101, DOCS[0][1])], "doc_id long, text string"
    )
    texts = corpus.unionByName(batch)
    out = ddp.match_minhash_index(
        spark, root, probe, texts, n_hashes=64, n_bands=16
    ).collect()
    # doc 3 matched (rep is min id 3); deleted doc 1 purged -> no match
    assert sorted((r.doc_id, r.dup_of) for r in out) == [(100, 3)]
    # old snapshot intact for in-flight readers
    assert fsutil.fs_exists(spark, f"{v0}/bands")


@pytest.mark.parametrize("family", ["ivf", "ivfpq"])
def test_vector_dest_compact_pointer_flip(spark, tmp_path, family):
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    fam = {"ivf": IvfIndex, "ivfpq": IvfPqIndex}[family]
    root = str(tmp_path / "root")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    if fam is IvfPqIndex:
        fam.build(e, n_cells=4, m=8, ks=16).save(v0)
    else:
        fam.build(e, n_cells=4).save(v0)
    fsutil.write_latest_pointer(spark, root, "v0")

    probes = e.limit(2)
    dead = [int(r[0]) for r in probes.select("vec_id").collect()]
    fam.delete(spark, root, dead)
    stats = fam.compact(spark, root, dest=v1)
    assert stats["dest"] == v1
    assert stats[f"{fam.TABLE}_files_after"] >= 1
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    assert not fsutil.fs_exists(spark, f"{v1}/tombstones")

    idx = fam.load(spark, root)
    assert idx.path.rstrip("/") == v1
    args = (e, probes) if fam is IvfPqIndex else (probes,)
    got = {int(r.vec_id) for r in idx.search(
        *args, k=5, n_probe_cells=4, exclude_self=False
    ).collect()}
    assert not (got & set(dead))


# ---------------------------------------------------------------- retrain

def _drifted_corpus(spark, dim=8):
    """Deterministic drift fixture: 4 tight 'old' clusters living in
    dims 0-3 (what the build-time quantizer was trained on) and 2
    'new' clusters living in dims 4-5 whose residual in dims 0-3 is
    pseudo-random — under the frozen centroids the new vectors scatter
    across the old cells, so n_probe_cells=1 recall collapses; a
    retrained quantizer co-locates them."""
    rows = []
    vid = 0
    for c in range(4):  # old clusters at e0..e3
        for i in range(40):
            v = np.zeros(dim)
            v[c] = 1.0
            v[(c + 1) % 4] = 0.02 * ((i * 13) % 7 - 3)
            rows.append((vid, v.tolist(), "old"))
            vid += 1
    for c in range(2):  # new (drifted) clusters at e4/e5
        for i in range(60):
            v = np.zeros(dim)
            v[4 + c] = 1.0
            for d in range(4):  # scatter component across old dims
                v[d] = 0.05 * (((i + vid) * (d + 3) * 37) % 11 - 5)
            rows.append((vid, v.tolist(), "new"))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cohort string"
    )


def test_ivf_retrain_recovers_drifted_recall(spark, tmp_path):
    """VERDICT r11 #4 done-criterion: append a shifted cluster, assert
    retrained recall recovers vs the frozen quantizer, cell histogram
    re-balanced, pointer flipped."""
    from keystone_spark.operators.similarity import IvfIndex

    root = str(tmp_path / "ivfroot")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    data = _drifted_corpus(spark)
    old = data.where(F.col("cohort") == "old").drop("cohort")
    new = data.where(F.col("cohort") == "new").drop("cohort")
    IvfIndex.build(old, n_cells=4, sample_size=160).save(v0)
    fsutil.write_latest_pointer(spark, root, "v0")
    IvfIndex.add(spark, root, new)  # frozen centroids: drift crowds in

    probes = new.limit(8)
    # numpy ground truth: exact cosine top-10 over the whole corpus
    all_rows = data.drop("cohort").collect()
    ids = np.array([r[0] for r in all_rows])
    X = np.array([r[1] for r in all_rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    p_rows = probes.collect()

    def truth(pid, pvec):
        pv = np.asarray(pvec) / np.linalg.norm(pvec)
        cos = Xn @ pv
        mask = ids != pid
        order = np.lexsort((ids[mask], -cos[mask]))
        return set(ids[mask][order][:10].tolist())

    def recall(idx):
        got = idx.search(probes, k=10, n_probe_cells=1).collect()
        by_probe = {}
        for r in got:
            by_probe.setdefault(int(r["probe"]), set()).add(int(r[1]))
        hits = tot = 0
        for r in p_rows:
            t = truth(int(r[0]), r[1])
            hits += len(t & by_probe.get(int(r[0]), set()))
            tot += len(t)
        return hits / tot

    frozen = recall(IvfIndex.load(spark, root))
    stats = IvfIndex.retrain(spark, root, v1, sample_size=160)
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    retrained = recall(IvfIndex.load(spark, root))
    assert retrained >= 0.9, (frozen, retrained)
    assert retrained > frozen + 0.2, (frozen, retrained)
    # balance: all 4 retrained cells populated, none hoards a majority
    # (the frozen quantizer crammed the 120 drifted vectors into cells
    # trained on the old distribution)
    hist = stats["cell_histogram"]
    assert len(hist) == 4 and max(hist.values()) <= 120, hist
    assert stats["vectors"] == 280


def test_ivfpq_retrain_roundtrip(spark, tmp_path):
    """PQ retrain: codebooks re-trained from the live corpus via the
    base table, snapshot published by pointer flip, search via the
    root stays valid (self top-1) and model shape is preserved."""
    from keystone_spark.operators.similarity import IvfPqIndex

    root = str(tmp_path / "pqroot")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    IvfPqIndex.build(e, n_cells=4, m=8, ks=16).save(v0)
    fsutil.write_latest_pointer(spark, root, "v0")

    stats = IvfPqIndex.retrain(spark, root, v1, e)
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    assert (stats["n_cells"], stats["m"], stats["ks"]) == (4, 8, 16)

    idx = IvfPqIndex.load(spark, root)
    assert idx.path.rstrip("/") == v1
    probes = e.limit(3)
    got = idx.search(e, probes, k=1, n_probe_cells=4,
                     exclude_self=False).collect()
    assert {(int(r["probe"]), int(r[1])) for r in got} == {
        (int(r[0]), int(r[0])) for r in probes.select("vec_id").collect()
    }


def test_snapshot_gc_deletes_only_stale_snapshots(spark, tmp_path):
    """gc_snapshots is the executable form of 'delete the old snapshot
    once readers drain': everything the pointer does not name goes,
    the current snapshot and the pointer/control files stay, and a
    pointerless root is refused."""
    from keystone_spark.operators.nlp import Bm25Index

    root = str(tmp_path / "bm25root")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(v0)
    fsutil.write_latest_pointer(spark, root, "v0")
    Bm25Index.delete(spark, root, [1])
    Bm25Index.compact(spark, root, dest=v1)

    stats = fsutil.gc_snapshots(spark, root)
    assert stats == {"current": "v1", "deleted": ["v0"], "kept": ["v1"],
                     "dry_run": False}  # r13: retention/dry-run fields
    assert not fsutil.fs_exists(spark, v0)
    idx = Bm25Index.load(spark, root)  # root still serves v1
    assert idx.params["n_docs"] == 3
    # idempotent: a second GC deletes nothing
    assert fsutil.gc_snapshots(spark, root)["deleted"] == []

    with pytest.raises(ValueError, match="no _LATEST pointer"):
        fsutil.gc_snapshots(spark, str(tmp_path / "not_a_root"))

    # writer exclusion: a live dest-compact/retrain holds the current
    # snapshot's compact lock for its whole dest write — its
    # unpublished dest dir is exactly what GC would delete mid-write,
    # so GC must fail fast instead
    fsutil.acquire_compact_lock(spark, v1)
    try:
        with pytest.raises(ValueError, match="compact lock already"):
            fsutil.gc_snapshots(spark, root)
    finally:
        fsutil.release_compact_lock(spark, v1)
    assert fsutil.gc_snapshots(spark, root)["kept"] == ["v1"]


def test_vector_add_reports_drift_signal(spark, tmp_path):
    """IvfIndex.add returns max_cell_share — the monitorable retrain
    trigger: a drifted batch crowding one build-time cell reads ~1.0;
    a batch matching the build distribution reads ~1/n_cells."""
    from keystone_spark.operators.similarity import IvfIndex

    data = _drifted_corpus(spark)
    old = data.where(F.col("cohort") == "old").drop("cohort")
    path = str(tmp_path / "ivf")
    IvfIndex.build(old, n_cells=4, sample_size=160).save(path)
    # a concentrated drifted batch (one new direction, constant tiny
    # residual) crowds a single build-time cell -> share ~1.0
    crowd = spark.createDataFrame(
        [(20_000 + i,
          [0.02, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0])
         for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    drifted = IvfIndex.add(spark, path, crowd)
    assert drifted["max_cell_share"] >= 0.9, drifted
    balanced = IvfIndex.add(
        spark, path,
        # every 4th id spans all four build-time clusters evenly
        old.where(F.col("vec_id") % 4 == 0)
        .withColumn("vec_id", F.col("vec_id") + 10_000),
    )
    assert balanced["max_cell_share"] <= 0.6, balanced


# ---------------------------------------------------------------- CLI

@pytest.mark.slow
def test_maintain_cli_dest_compact_and_minhash_custom_id(spark, tmp_path):
    """index-compact --dest goes through the CLI; index-delete on a
    minhash index with a CUSTOM id column works (ADVICE r11 #3: the
    stored sigs schema is authoritative, not the default arg)."""
    from keystone_spark.operators import dedup as ddp

    root = str(tmp_path / "mh")
    v0, v1 = f"{root}/v0", f"{root}/v1"
    corpus = spark.createDataFrame(DOCS, "docid long, text string")
    ddp.build_minhash_index(corpus, v0, id_col="docid", n_hashes=64,
                            n_bands=16)
    fsutil.write_latest_pointer(spark, root, "v0")

    # custom-id delete through the CLI entry's code path
    stats = ddp.delete_from_minhash_index(spark, root, [1])
    assert stats["tombstones_added"] == 1
    # explicit mismatching id_col raises instead of KeyError
    with pytest.raises(ValueError, match="stored id column"):
        ddp.delete_from_minhash_index(spark, root, [2], id_col="wrong")

    r = subprocess.run(
        [sys.executable, "-m", "keystone_spark.apps.maintain",
         "index-compact", "--path", root, "--kind", "minhash",
         "--dest", v1],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["dest"] == v1
    assert fsutil.read_latest_pointer(spark, root) == "v1"
    # deleted id purged in the new snapshot; match via root agrees
    probe = spark.createDataFrame([(100, DOCS[0][1])],
                                  "docid long, text string")
    got = ddp.match_minhash_index(
        spark, root, probe, corpus, id_col="docid", text_col="text",
        n_hashes=64, n_bands=16
    ).collect()
    assert got == []

    # GC through the CLI: the stale v0 snapshot goes, v1 stays served
    r = subprocess.run(
        [sys.executable, "-m", "keystone_spark.apps.maintain",
         "index-gc", "--path", root],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["deleted"] == ["v0"] and out["kept"] == ["v1"]
    assert not fsutil.fs_exists(spark, v0)
    assert ddp.match_minhash_index(
        spark, root,
        spark.createDataFrame([(101, DOCS[2][1])],
                              "docid long, text string"),
        corpus, id_col="docid", text_col="text",
        n_hashes=64, n_bands=16,
    ).count() == 1
