"""Round-11 self-review fixes for the stored-index lifecycle: silent
takedown no-ops (null-cast tombstones), the tombstoned-id add black
hole, tombstone-inflated bucket caps, BM25 streaming replay
double-counts, compact-to-empty bricking, and the mid-swap compact
crash window (intent marker + finish_swap repair)."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

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


def test_tombstone_ids_that_cast_to_null_raise(spark, tmp_path):
    """A delete id that does not cast to the stored id type would land
    as a NULL tombstone, match nothing in the anti-join, and report
    success while deleting nothing — the silent-no-op takedown. It
    raises instead."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    bad = spark.createDataFrame([("docA",), ("2",)], "id string")
    with pytest.raises(ValueError, match="docA"):
        Bm25Index.delete(spark, path, bad)
    # castable string forms still work (the "2" row above was fine)
    stats = Bm25Index.delete(
        spark, path, spark.createDataFrame([("2",)], "id string")
    )
    assert stats["tombstones_added"] == 1


@pytest.mark.slow
def test_minhash_add_skips_tombstoned_ids(spark, tmp_path):
    """A batch row carrying a TOMBSTONED id must not be indexed — its
    rows would be invisible to match and purged at compact (a black
    hole that reports success). The same content under a FRESH id in
    the same batch becomes the representative and is findable."""
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
    )

    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "mh")
    build_minhash_index(corpus, path, n_hashes=64, n_bands=16)
    delete_from_minhash_index(spark, path, [1])

    # re-add doc 1's content under BOTH the dead id and a fresh one:
    # the dead id's row is skipped, the fresh id indexes the content
    readd = spark.createDataFrame(
        [(1, DOCS[0][1]), (9, DOCS[0][1])], "doc_id long, text string"
    )
    stats = add_to_minhash_index(spark, path, readd)
    assert stats["new_content"] == 1
    sig_ids = {
        r.doc_id for r in spark.read.parquet(f"{path}/sigs")
        .select("doc_id").distinct().collect()
    }
    assert 9 in sig_ids
    # the dead id wrote nothing in the new generation
    gen = stats["generation"]
    assert spark.read.parquet(f"{path}/sigs").where(
        (F.col("gen") == gen) & (F.col("doc_id") == 1)
    ).count() == 0

    # and a batch containing ONLY the dead id is a clean no-op
    only_dead = spark.createDataFrame(
        [(1, DOCS[0][1])], "doc_id long, text string"
    )
    stats2 = add_to_minhash_index(spark, path, only_dead)
    assert stats2["new_content"] == 0 and stats2["generation"] is None

    # the fresh representative is findable
    probe = spark.createDataFrame(
        [(100, DOCS[0][1])], "doc_id long, text string"
    )
    texts = corpus.unionByName(readd.where("doc_id = 9"))
    out = match_minhash_index(
        spark, path, probe, texts, n_hashes=64, n_bands=16
    ).collect()
    assert [(r.doc_id, r.dup_of) for r in out] == [(100, 9)]


def test_minhash_occupancy_ignores_tombstoned_rows(spark, tmp_path):
    """bucket_cap=1 + one tombstoned (uncompacted) representative: the
    dead band rows must not count toward occupancy, or re-added content
    is capped out of every bucket (band_rows_added=0) and becomes
    unfindable — silent recall loss no later add can repair."""
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        delete_from_minhash_index,
    )

    corpus = spark.createDataFrame(DOCS[:2], "doc_id long, text string")
    path = str(tmp_path / "mh_cap")
    build_minhash_index(corpus, path, n_hashes=64, n_bands=16,
                        bucket_cap=1)
    delete_from_minhash_index(spark, path, [1])
    # same content as doc 1 -> identical (band, bucket) keys, whose only
    # stored occupant is the tombstoned rep
    readd = spark.createDataFrame(
        [(9, DOCS[0][1])], "doc_id long, text string"
    )
    stats = add_to_minhash_index(spark, path, readd)
    assert stats["new_content"] == 1
    assert stats["band_rows_capped"] == 0
    assert stats["band_rows_added"] == 16


@pytest.mark.slow
def test_bm25_add_skip_existing_ids_and_stream_replay(spark, tmp_path):
    """Bm25Index.add(skip_existing_ids=True) anti-joins committed
    postings ∪ tombstones, so a replayed batch counts nothing; the
    streaming fold uses it, so re-running a drained stream against a
    fresh checkpoint (at-least-once replay) leaves the index
    hash-identical instead of double-counting every score."""
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.streaming.windows import stream_bm25_ingest

    seed, rest = DOCS[:2], DOCS[2:]
    path = str(tmp_path / "bm25_skip")
    Bm25Index.build(_toks(spark, seed), n_term_buckets=4).save(path)
    s1 = Bm25Index.add(spark, path, _toks(spark, rest),
                       skip_existing_ids=True)
    assert s1["batch_docs"] == 2
    s2 = Bm25Index.add(spark, path, _toks(spark, rest),
                       skip_existing_ids=True)
    assert s2["batch_docs"] == 0 and s2["generation"] is None
    assert Bm25Index.load(spark, path).params["n_docs"] == 4

    # streaming replay: same source, fresh checkpoint each run
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(rest, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b0"))

    spath = str(tmp_path / "bm25_stream")
    Bm25Index.build(_toks(spark, seed), n_term_buckets=4).save(spath)

    def run_once():
        stream_bm25_ingest(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(src / "*"))
            .select("doc_id", F.split("text", " ").alias("toks")),
            spath,
        )

    run_once()
    run_once()  # replay
    idx = Bm25Index.load(spark, spath)
    assert idx.params["n_docs"] == 4
    qs = spark.createDataFrame(
        [(0, ["quick", "box"])], ["query_id", "q_toks"]
    )
    full = Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4)

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    assert key(idx.search(qs, k=4)) == key(full.search(qs, k=4))


@pytest.mark.slow
def test_compact_to_empty_aborts_and_leaves_index_live(spark, tmp_path):
    """Tombstoning EVERY document and compacting used to install empty
    data dirs that brick every later load (UNABLE_TO_INFER_SCHEMA).
    Compact now aborts before the swap and the live index still
    serves. All four families."""
    from keystone_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
    )
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")

    p = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(p)
    Bm25Index.delete(spark, p, [d[0] for d in DOCS])
    with pytest.raises(ValueError, match="tombstoned"):
        Bm25Index.compact(spark, p)
    assert Bm25Index.load(spark, p).params["n_docs"] == 4  # untouched

    p = str(tmp_path / "mh")
    build_minhash_index(corpus, p, n_hashes=64, n_bands=16)
    delete_from_minhash_index(spark, p, [d[0] for d in DOCS])
    with pytest.raises(ValueError, match="tombstoned"):
        compact_minhash_index(spark, p)
    assert spark.read.parquet(f"{p}/bands").count() > 0  # untouched

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    for fam in (IvfIndex, IvfPqIndex):
        tbl = fam.TABLE
        p = str(tmp_path / f"vec_{tbl}")
        fam.build(e, n_cells=4).save(p)
        fam.delete(spark, p, e.select("vec_id"))
        with pytest.raises(ValueError, match="tombstoned"):
            fam.compact(spark, p)
        fam.load(spark, p)  # still loadable


def test_interrupted_compact_swap_detected_and_repairable(
    spark, tmp_path, monkeypatch
):
    """Kill the compact between table renames: the surviving intent
    marker makes every reader refuse the mixed-table index (old df/
    params over purged postings = silently wrong scores), and
    finish_swap completes the swap so search equals the survivor
    rebuild."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25_crash")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    Bm25Index.delete(spark, path, [1])

    real_rename = fsutil.fs_rename
    calls = {"n": 0}

    def dying_rename(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between table renames")
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", dying_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        Bm25Index.compact(spark, path)
    monkeypatch.setattr(fsutil, "fs_rename", real_rename)

    # every reader refuses the mixed state (load, and through it
    # search/add/delete/compact). rename call 1 is the marker's atomic
    # tmp->final rename, so call 2 killed the FIRST table (postings):
    # all three tables are still staged and get resumed.
    with pytest.raises(ValueError, match="interrupted compact"):
        Bm25Index.load(spark, path)

    stats = fsutil.finish_swap(spark, path)
    assert set(stats["resumed_tables"]) == {"postings", "df", "docs",
                                            "params"}
    assert not fsutil.fs_exists(spark, f"{path}/_compact_tmp")

    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 3  # post-purge stats, consistent
    qs = spark.createDataFrame(
        [(0, ["quick", "box"])], ["query_id", "q_toks"]
    )
    survivors = Bm25Index.build(
        _toks(spark, [d for d in DOCS if d[0] != 1]), n_term_buckets=4
    )

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    assert key(idx.search(qs, k=4)) == key(survivors.search(qs, k=4))

    # finish_swap on a healthy index is a no-op
    assert fsutil.finish_swap(spark, path) == {
        "resumed_tables": [], "stage_dropped": False,
        "write_lock_cleared": False,
    }


def test_vector_index_file_uri_roundtrip(spark, tmp_path):
    """The centroid/model JSON rides the Hadoop FileSystem now, so a
    file:// URI (the FS-agnosticism probe the text indexes already
    pass) works end-to-end: save, load, search, delete, compact."""
    from keystone_spark.operators.similarity import IvfIndex

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    path = f"file://{tmp_path}/ivf_uri"
    IvfIndex.build(e, n_cells=4).save(path)
    idx = IvfIndex.load(spark, path)
    probes = e.limit(2)
    n0 = idx.search(probes, k=5, n_probe_cells=4).count()
    assert n0 > 0
    IvfIndex.delete(spark, path, probes.select("vec_id"))
    IvfIndex.compact(spark, path)
    assert IvfIndex.load(spark, path).search(
        probes, k=5, n_probe_cells=4
    ).count() > 0


def test_maintain_index_repair_cli(tmp_path):
    """index-repair CLI: clean-path no-op prints the finish_swap stats."""
    r = subprocess.run(
        [sys.executable, "-m", "keystone_spark.apps.maintain",
         "index-repair", "--path", str(tmp_path / "nothing")],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert stats == {"app": "maintain.index-repair",
                     "resumed_tables": [], "stage_dropped": False,
                     "write_lock_cleared": False}


@pytest.mark.slow
def test_rebuild_clears_stale_tombstones_and_stage(spark, tmp_path):
    """A build/save at an existing index path is a brand-new index:
    leftover tombstones (which would hide freshly indexed ids) and a
    leftover compact stage with its swap marker (which would make every
    reader refuse the rebuild) are cleared — all four families."""
    from keystone_spark import fsutil
    from keystone_spark.operators.dedup import (
        build_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
    )
    from keystone_spark.operators.nlp import Bm25Index
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")

    # bm25: delete id 1, plant a fake swap marker, rebuild -> id 1 served
    p = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(p)
    Bm25Index.delete(spark, p, [1])
    fsutil.fs_write_text(
        spark, f"{p}/_compact_tmp/{fsutil.SWAP_MARKER}", "[]"
    )
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(p)
    idx = Bm25Index.load(spark, p)  # marker gone, no raise
    qs = spark.createDataFrame([(0, ["quick"])], ["query_id", "q_toks"])
    assert 1 in {r.doc_id for r in idx.search(qs, k=4).collect()}

    # minhash: same shape through build_minhash_index
    p = str(tmp_path / "mh")
    build_minhash_index(corpus, p, n_hashes=64, n_bands=16)
    delete_from_minhash_index(spark, p, [1])
    fsutil.fs_write_text(
        spark, f"{p}/_compact_tmp/{fsutil.SWAP_MARKER}", "[]"
    )
    build_minhash_index(corpus, p, n_hashes=64, n_bands=16)
    probe = spark.createDataFrame(
        [(100, DOCS[0][1])], "doc_id long, text string"
    )
    out = match_minhash_index(
        spark, p, probe, corpus, n_hashes=64, n_bands=16
    ).collect()
    assert [(r.doc_id, r.dup_of) for r in out] == [(100, 1)]

    # vector families
    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    victim = e.limit(1)
    vid = victim.first().vec_id
    for fam in (IvfIndex, IvfPqIndex):
        p = str(tmp_path / f"vec_{fam.__name__}")
        fam.build(e, n_cells=4).save(p)
        fam.delete(spark, p, victim.select("vec_id"))
        fsutil.fs_write_text(
            spark, f"{p}/_compact_tmp/{fsutil.SWAP_MARKER}", "[]"
        )
        fam.build(e, n_cells=4).save(p)
        idx = fam.load(spark, p)  # no raise
        assert idx._load_tombstones(spark) is None


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_bm25_swap_crash_at_every_position_is_repairable(
    spark, tmp_path, monkeypatch, crash_at
):
    """Exhaustive crash points: rename call 1 is the marker's atomic
    tmp->final rename (killed there, the destructive phase never
    started — the live PRE-compact index keeps serving and repair
    needs force_unlock); calls 2-4 are the table renames (postings,
    df, params) — killed before any of them, the reader refuses the
    index and finish_swap restores survivor-rebuild identity."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / f"bm25_c{crash_at}")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    Bm25Index.delete(spark, path, [1])

    real_rename = fsutil.fs_rename
    calls = {"n": 0}

    def dying_rename(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError("boom")
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", dying_rename)
    with pytest.raises(RuntimeError):
        Bm25Index.compact(spark, path)
    monkeypatch.setattr(fsutil, "fs_rename", real_rename)

    if crash_at == 1:
        # marker never landed: live pre-compact index intact and
        # served; the tombstone still applies at search; cleanup of
        # the ambiguous marker-less stage needs the explicit flag
        idx = Bm25Index.load(spark, path)
        assert idx.params["n_docs"] == 4  # pre-compact stats
        fsutil.finish_swap(spark, path, force_unlock=True)
        Bm25Index.compact(spark, path)  # retry completes normally
        idx = Bm25Index.load(spark, path)
        assert idx.params["n_docs"] == 3
        return

    with pytest.raises(ValueError, match="interrupted compact"):
        Bm25Index.load(spark, path)
    fsutil.finish_swap(spark, path)

    idx = Bm25Index.load(spark, path)
    survivors = Bm25Index.build(
        _toks(spark, [d for d in DOCS if d[0] != 1]), n_term_buckets=4
    )
    qs = spark.createDataFrame(
        [(0, ["quick", "box"])], ["query_id", "q_toks"]
    )

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    assert key(idx.search(qs, k=4)) == key(survivors.search(qs, k=4))


@pytest.mark.parametrize("crash_at", [
    1,
    pytest.param(2, marks=pytest.mark.slow),
    pytest.param(3, marks=pytest.mark.slow),
    pytest.param(4, marks=pytest.mark.slow),
    5,
])
def test_minhash_swap_crash_at_every_position_is_repairable(
    spark, tmp_path, monkeypatch, crash_at
):
    """Same exhaustive sweep for the MinHash compact swap: call 1 is
    the marker rename (live index intact, force-unlock cleanup), calls
    2-5 the table renames (bands, sigs, content, params) — detected
    and repaired to the survivor state."""
    from keystone_spark import fsutil
    from keystone_spark.operators.dedup import (
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
        match_minhash_index,
    )

    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / f"mh_c{crash_at}")
    build_minhash_index(corpus, path, n_hashes=64, n_bands=16)
    delete_from_minhash_index(spark, path, [2])

    real_rename = fsutil.fs_rename
    calls = {"n": 0}

    def dying_rename(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError("boom")
        real_rename(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", dying_rename)
    with pytest.raises(RuntimeError):
        compact_minhash_index(spark, path)
    monkeypatch.setattr(fsutil, "fs_rename", real_rename)

    probe = spark.createDataFrame(
        [(100, DOCS[1][1])], "doc_id long, text string"
    )
    if crash_at == 1:
        # marker never landed: live pre-compact index serves (the
        # tombstone still hides doc 2); cleanup then retry
        out = match_minhash_index(
            spark, path, probe, corpus, n_hashes=64, n_bands=16
        ).collect()
        assert out == []
        fsutil.finish_swap(spark, path, force_unlock=True)
        compact_minhash_index(spark, path)
    else:
        with pytest.raises(ValueError, match="interrupted compact"):
            match_minhash_index(
                spark, path, probe, corpus, n_hashes=64, n_bands=16
            )
        fsutil.finish_swap(spark, path)

    # deleted doc 2 stays gone; the others still match themselves
    out = match_minhash_index(
        spark, path, probe, corpus, n_hashes=64, n_bands=16
    ).collect()
    assert out == []
    probe3 = spark.createDataFrame(
        [(101, DOCS[2][1])], "doc_id long, text string"
    )
    out3 = match_minhash_index(
        spark, path, probe3, corpus, n_hashes=64, n_bands=16
    ).collect()
    assert [(r.doc_id, r.dup_of) for r in out3] == [(101, 3)]


@pytest.mark.slow
def test_compact_write_lock_excludes_mutations(spark, tmp_path):
    """Lucene write.lock parity: while the compact lock is held, add
    and delete raise (rows appended during a compact would be silently
    dropped by its swap); a successful compact releases the lock, a
    staging abort releases it, and a mid-swap crash keeps it held
    until finish_swap repairs."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)

    # plant the lock: every mutation refuses, and a second compact too
    fsutil.acquire_compact_lock(spark, path)
    with pytest.raises(ValueError, match="compacted"):
        Bm25Index.add(spark, path, _toks(spark, [(9, "new doc here")]))
    with pytest.raises(ValueError, match="compacted"):
        Bm25Index.delete(spark, path, [1])
    with pytest.raises(ValueError, match="lock already held"):
        Bm25Index.compact(spark, path)
    fsutil.release_compact_lock(spark, path)

    # successful compact releases: mutations work right after
    Bm25Index.delete(spark, path, [1])
    Bm25Index.compact(spark, path)
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")
    Bm25Index.add(spark, path, _toks(spark, [(9, "fresh doc here")]))

    # staging abort (all tombstoned) releases the lock too
    Bm25Index.delete(
        spark, path, [d[0] for d in DOCS if d[0] != 1] + [9]
    )
    with pytest.raises(ValueError, match="tombstoned"):
        Bm25Index.compact(spark, path)
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")

    # mid-swap crash keeps the lock held; finish_swap clears it
    path2 = str(tmp_path / "bm25_crash")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path2)
    Bm25Index.delete(spark, path2, [1])
    real_rename = fsutil.fs_rename
    calls = {"n": 0}

    def dying(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("boom")
        real_rename(spark_, src, dst)

    import unittest.mock as mock

    with mock.patch.object(fsutil, "fs_rename", dying):
        with pytest.raises(RuntimeError):
            Bm25Index.compact(spark, path2)
    assert fsutil.fs_exists(spark, f"{path2}/_COMPACT_LOCK")
    with pytest.raises(ValueError, match="compacted"):
        Bm25Index.delete(spark, path2, [2])
    fsutil.finish_swap(spark, path2)
    assert not fsutil.fs_exists(spark, f"{path2}/_COMPACT_LOCK")
    Bm25Index.delete(spark, path2, [2])  # unblocked


def test_vector_and_minhash_mutations_respect_lock(spark, tmp_path):
    from keystone_spark import fsutil
    from keystone_spark.operators.dedup import (
        add_to_minhash_index,
        build_minhash_index,
        delete_from_minhash_index,
    )
    from keystone_spark.operators.similarity import IvfIndex

    corpus = spark.createDataFrame(DOCS, "doc_id long, text string")
    p = str(tmp_path / "mh")
    build_minhash_index(corpus, p, n_hashes=64, n_bands=16)
    fsutil.acquire_compact_lock(spark, p)
    batch = spark.createDataFrame(
        [(9, "some new text entirely")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="compacted"):
        add_to_minhash_index(spark, p, batch)
    with pytest.raises(ValueError, match="compacted"):
        delete_from_minhash_index(spark, p, [1])
    fsutil.release_compact_lock(spark, p)
    add_to_minhash_index(spark, p, batch)  # unblocked

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    p = str(tmp_path / "ivf")
    IvfIndex.build(e.where("vec_id % 2 = 0"), n_cells=4).save(p)
    fsutil.acquire_compact_lock(spark, p)
    with pytest.raises(ValueError, match="compacted"):
        IvfIndex.add(spark, p, e.where("vec_id % 2 = 1"))
    with pytest.raises(ValueError, match="compacted"):
        IvfIndex.delete(spark, p, e.limit(1).select("vec_id"))
    fsutil.release_compact_lock(spark, p)
    IvfIndex.add(spark, p, e.where("vec_id % 2 = 1"))


def test_finish_swap_refuses_ambiguous_markerless_stage(spark, tmp_path):
    """A stage dir WITHOUT a swap marker is either a compact that
    crashed while staging or one staging RIGHT NOW — finish_swap must
    not destroy a live compact's stage, so it refuses by default and
    cleans up only with force_unlock=True (operator confirms no
    compact is live)."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4).save(path)
    # simulate: compact acquired the lock and began staging, no marker
    fsutil.acquire_compact_lock(spark, path)
    fsutil.fs_write_text(spark, f"{path}/_compact_tmp/partial", "x")

    with pytest.raises(ValueError, match="force_unlock"):
        fsutil.finish_swap(spark, path)
    # refused: stage and lock untouched, readers still serve
    assert fsutil.fs_exists(spark, f"{path}/_compact_tmp")
    assert fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")
    Bm25Index.load(spark, path)

    out = fsutil.finish_swap(spark, path, force_unlock=True)
    assert out == {"resumed_tables": [], "stage_dropped": True,
                   "write_lock_cleared": False}
    assert not fsutil.fs_exists(spark, f"{path}/_compact_tmp")
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")
    Bm25Index.delete(spark, path, [1])  # mutations unblocked


def test_bm25_add_aborts_uncommitted_when_compact_starts_mid_add(
    spark, tmp_path, monkeypatch
):
    """The commit-point lock re-check in action: a compact acquires the
    lock AFTER an add passed its entry check but BEFORE the add
    commits. The add aborts with its generation uncommitted (readers
    serve the pre-add index), and a retry after the lock clears lands
    the batch exactly once — no double-count."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS[:2]), n_term_buckets=4).save(path)

    real_write = Bm25Index._write_data

    def write_then_lock(self, p, mode, gen):
        real_write(self, p, mode, gen)
        if mode == "append":  # simulate a compact grabbing the lock now
            fsutil.acquire_compact_lock(spark, path)

    monkeypatch.setattr(Bm25Index, "_write_data", write_then_lock)
    with pytest.raises(ValueError, match="compacted"):
        Bm25Index.add(spark, path, _toks(spark, DOCS[2:]))
    monkeypatch.setattr(Bm25Index, "_write_data", real_write)

    # aborted add is invisible: pre-add stats, orphan generation noted
    fsutil.release_compact_lock(spark, path)
    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 2
    assert idx.params["incomplete_generations"] == [1]

    # blind retry lands exactly once (next generation, no double count)
    Bm25Index.add(spark, path, _toks(spark, DOCS[2:]))
    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 4
    qs = spark.createDataFrame([(0, ["quick", "box"])],
                               ["query_id", "q_toks"])
    full = Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4)

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    assert key(idx.search(qs, k=4)) == key(full.search(qs, k=4))


@pytest.mark.slow
def test_minhash_add_aborts_uncommitted_when_compact_starts_mid_add(
    spark, tmp_path, monkeypatch
):
    """Same race for the MinHash add: lock appears after the intent row
    landed — the commit re-check aborts, match serves the pre-add
    index, a retry indexes the batch exactly once."""
    from keystone_spark import fsutil
    from keystone_spark.operators import dedup as ddp

    corpus = spark.createDataFrame(DOCS[:2], "doc_id long, text string")
    path = str(tmp_path / "mh")
    ddp.build_minhash_index(corpus, path, n_hashes=64, n_bands=16)

    real_manifest = fsutil.append_manifest

    def manifest_then_lock(spark_, p, schema, cfg, gen, committed,
                           mode="append"):
        real_manifest(spark_, p, schema, cfg, gen, committed, mode)
        if not committed:  # right after the INTENT row: compact starts
            fsutil.acquire_compact_lock(spark, path)

    batch = spark.createDataFrame(
        [(9, DOCS[2][1])], "doc_id long, text string"
    )
    monkeypatch.setattr(fsutil, "append_manifest", manifest_then_lock)
    with pytest.raises(ValueError, match="compacted"):
        ddp.add_to_minhash_index(spark, path, batch)
    monkeypatch.setattr(fsutil, "append_manifest", real_manifest)
    fsutil.release_compact_lock(spark, path)

    # aborted generation invisible; retry lands exactly once
    probe = spark.createDataFrame(
        [(100, DOCS[2][1])], "doc_id long, text string"
    )
    out = ddp.match_minhash_index(
        spark, path, probe, corpus, n_hashes=64, n_bands=16
    ).collect()
    assert out == []
    stats = ddp.add_to_minhash_index(spark, path, batch)
    assert stats["new_content"] == 1
    texts = corpus.unionByName(batch)
    out = ddp.match_minhash_index(
        spark, path, probe, texts, n_hashes=64, n_bands=16
    ).collect()
    assert [(r.doc_id, r.dup_of) for r in out] == [(100, 9)]


def test_compact_completing_inside_add_window_fences_the_commit(
    spark, tmp_path, monkeypatch
):
    """The epoch fence: a compact that starts AND FINISHES inside an
    add's write window releases the lock before the add's commit
    check, so the lock alone cannot catch it — the bumped compact
    epoch does. Since r12 the write-lock handshake makes the compact
    refuse while the add is in flight, so reaching this scenario at
    all now takes an operator FORCE-UNLOCK of the mutation lock (the
    documented-dangerous path) — the simulated compact clears the
    add's write lock first, exactly what `index-repair --force-unlock`
    would do if an operator misjudged a live add as crashed. The add
    aborts uncommitted, the compacted index is consistent, and a retry
    lands the batch exactly once."""
    from keystone_spark import fsutil
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_toks(spark, DOCS[:2]), n_term_buckets=4).save(path)
    assert fsutil.read_compact_epoch(spark, path) == 0

    real_write = Bm25Index._write_data
    ran = {"compact": False}

    def write_then_full_compact(self, p, mode, gen):
        real_write(self, p, mode, gen)
        if mode == "append" and not ran["compact"]:
            ran["compact"] = True  # a whole compact runs mid-add,
            # after an operator force-unlocks the live add's lock
            fsutil.release_write_lock(spark, path)
            Bm25Index.compact(spark, path)

    monkeypatch.setattr(Bm25Index, "_write_data", write_then_full_compact)
    with pytest.raises(ValueError, match="compact completed"):
        Bm25Index.add(spark, path, _toks(spark, DOCS[2:]))
    monkeypatch.setattr(Bm25Index, "_write_data", real_write)

    # the compact ran to completion: lock free, epoch bumped, index
    # consistent at the pre-add corpus
    assert not fsutil.fs_exists(spark, f"{path}/_COMPACT_LOCK")
    assert fsutil.read_compact_epoch(spark, path) == 1
    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 2

    # retry lands exactly once and matches the full rebuild
    Bm25Index.add(spark, path, _toks(spark, DOCS[2:]))
    idx = Bm25Index.load(spark, path)
    assert idx.params["n_docs"] == 4
    qs = spark.createDataFrame([(0, ["quick", "box"])],
                               ["query_id", "q_toks"])
    full = Bm25Index.build(_toks(spark, DOCS), n_term_buckets=4)

    def key(df):
        return sorted((r.query_id, r.rk, r.doc_id, round(r.score, 9))
                      for r in df.collect())

    assert key(idx.search(qs, k=4)) == key(full.search(qs, k=4))


def _count_parquet_by_listing(spark, path):
    """Reference count: a recursive listing, one file at a time."""
    from keystone_spark.fsutil import _fs_path

    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0
    it, n = fs.listFiles(p, True), 0
    while it.hasNext():
        n += it.next().getPath().getName().endswith(".parquet")
    return n


def test_count_parquet_files_equals_recursive_listing(spark, tmp_path):
    """``count_parquet_files`` globs level by level; its count equals a
    recursive listing's on the stored layouts: one partition level (the
    IVF ``cell=`` corpus), two (the MinHash ``band=/gen=`` tables), and
    a tree with hidden and ``_``-prefixed entries under a base path that
    holds glob metacharacters. A missing path counts 0."""
    import os

    from keystone_spark.fsutil import count_parquet_files

    df = spark.range(60).select(
        "id", (F.col("id") % 4).alias("cell"), (F.col("id") % 3).alias("band"),
        (F.col("id") % 2).alias("gen"))
    for _ in range(2):
        df.repartition(2).write.mode("append").partitionBy("cell").parquet(
            str(tmp_path / "ivf"))
        df.repartition(2).write.mode("append").partitionBy(
            "band", "gen").parquet(str(tmp_path / "mh"))
    odd = tmp_path / "odd[1]{x}*?"
    for sub in ("k=1", "k=2/.hid", "_temporary/0"):
        os.makedirs(odd / sub)
        for name in ("a.parquet", ".b.parquet", "_c.parquet", "d.txt"):
            (odd / sub / name).touch()
    (odd / "top.parquet").touch()

    for path in (tmp_path / "ivf", tmp_path / "mh", odd):
        want = _count_parquet_by_listing(spark, str(path))
        assert want > 0
        assert count_parquet_files(spark, str(path)) == want, path
    assert count_parquet_files(spark, str(tmp_path / "missing")) == 0
