"""Loads of stored index tables and streaming snapshots are driver
metadata: each table records its schema (``_schema.json``), so a vector
or snapshot load runs no Spark job, a BM25 or MinHash load runs one
(the collect of its generation log) while no table holds more than 32
partition directories, and ``fs_read_text`` returns files in py4j
answers under 8 KB."""

import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark import fsutil

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_ANSWER = 8192


def _vecs(spark, ids, dim=16, seed=0):
    rng = np.random.default_rng(seed)
    rows = [(int(i), rng.standard_normal(dim).tolist()) for i in ids]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


def _jobs(spark, fn, group):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def answer_sizes(monkeypatch):
    """Lengths of the py4j answers received while the fixture is live."""
    from py4j.clientserver import ClientServerConnection

    sizes = []
    orig = ClientServerConnection.send_command

    def counted(self, command):
        answer = orig(self, command)
        sizes.append(len(answer))
        return answer

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return sizes


def _snapshot(spark, tmp_path):
    """A streaming_upsert snapshot folded from two micro-batches."""
    from keystone_spark.streaming.windows import streaming_upsert

    schema = "k long, v double, op string, seq long"
    src = tmp_path / "changes"
    for i, chunk in enumerate([[(1, 1.0, "I", 1), (2, 2.0, "I", 1)],
                               [(1, 0.0, "D", 2), (3, 3.0, "U", 2)]]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(src / f"c{i}"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    snap = str(tmp_path / "snap")
    os.makedirs(snap)
    q = (streaming_upsert(stream, snap, ["k"], seq_col="seq")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return snap


def test_loads_run_no_spark_job(spark, tmp_path):
    """Every load of a table this code wrote reads the recorded schema
    instead of inferring it from a parquet footer (one job each)."""
    from keystone_spark.operators.similarity import (
        IvfIndex,
        IvfPqIndex,
        Sq8Index,
    )
    from keystone_spark.streaming.windows import read_snapshot

    data = _vecs(spark, range(120))
    IvfIndex.build(data, n_cells=4).save(str(tmp_path / "ivf"))
    IvfPqIndex.build(data, n_cells=4, m=4, ks=8).save(str(tmp_path / "pq"))
    Sq8Index.build(data).save(str(tmp_path / "sq8"))
    snap = _snapshot(spark, tmp_path)

    loads = {
        "ivf": lambda: IvfIndex.load(spark, str(tmp_path / "ivf")),
        "ivfpq": lambda: IvfPqIndex.load(spark, str(tmp_path / "pq")),
        "sq8": lambda: Sq8Index.load(spark, str(tmp_path / "sq8")),
        "snapshot": lambda: read_snapshot(spark, snap),
    }
    for name, load in loads.items():
        _, jobs = _jobs(spark, load, f"load-{name}")
        assert jobs == 0, f"{name} load ran {jobs} Spark job(s)"
    got = sorted((r.k, r.v) for r in read_snapshot(spark, snap).collect())
    assert got == [(2, 2.0), (3, 3.0)]


def test_load_and_search_answers_stay_under_8kb(spark, tmp_path,
                                                answer_sizes):
    """Loading an index (its model JSON is over 8 KB) and constructing a
    search on an index without tombstones receive no py4j answer over
    8 KB: each such answer costs a ~44 ms second socket write."""
    from keystone_spark.operators.similarity import IvfIndex

    data = _vecs(spark, range(200), dim=64)
    path = str(tmp_path / "ivf")
    IvfIndex.build(data, n_cells=16).save(path)
    assert os.path.getsize(f"{path}/{IvfIndex.MANIFEST}") > 2 * MAX_ANSWER
    probes = data.where(F.col("vec_id") < 5)
    answer_sizes.clear()
    IvfIndex.load(spark, path).search(probes, k=5)
    assert answer_sizes and max(answer_sizes) <= MAX_ANSWER


def test_fs_read_text_round_trips_in_small_answers(spark, tmp_path,
                                                   answer_sizes):
    """A 100 KB text with newlines, multi-byte UTF-8 and an emoji whose
    bytes straddle a slice boundary comes back byte-identical."""
    step = fsutil._ANSWER_BYTES
    head = "a" * (step - 2)  # the emoji's 4 bytes span bytes step-2..step+1
    body = "line one\nzweite Zeile: grüße\r\n数据 表\n\\tab\t\n"
    text = head + "\U0001F600" + body * (100_000 // len(body.encode()))
    raw = text.encode("utf-8")
    assert raw[step - 2:step + 2] == "\U0001F600".encode("utf-8")
    assert len(raw) > 100_000
    path = str(tmp_path / "big.txt")
    fsutil.fs_write_text(spark, path, text)
    answer_sizes.clear()
    got = fsutil.fs_read_text(spark, path)
    assert got.encode("utf-8") == raw
    assert max(answer_sizes) <= MAX_ANSWER
    # an exact multiple of the slice, and an empty file
    for n in (step, 0):
        fsutil.fs_write_text(spark, path, "é" * (n // 2))
        assert fsutil.fs_read_text(spark, path) == "é" * (n // 2)


def _recorded(path):
    from pyspark.sql.types import StructType
    import json

    with open(os.path.join(path, fsutil.SCHEMA_FILE)) as f:
        return StructType.fromJson(json.load(f))


@pytest.mark.parametrize("family", ["ivf", "ivfpq"])
def test_recorded_schema_equals_inferred(spark, tmp_path, family):
    """After build, add, compact, compact(dest) and retrain, the schema
    each table records is the one a schema-inferring read reports, so
    reading with it returns the same DataFrame."""
    from keystone_spark.operators.similarity import IvfIndex, IvfPqIndex

    cls = IvfIndex if family == "ivf" else IvfPqIndex
    kw = {} if family == "ivf" else {"m": 4, "ks": 8}
    base = _vecs(spark, range(160))
    root = str(tmp_path / "idx")
    cls.build(base.where(F.col("vec_id") < 120), n_cells=4, **kw).save(
        f"{root}/v0")
    fsutil.write_latest_pointer(spark, root, "v0")

    def check(step):
        snap = fsutil.resolve_index_path(spark, root)
        table = f"{snap}/{cls.TABLE}"
        inferred = spark.read.parquet(table).schema
        assert _recorded(table) == inferred, step
        loaded = cls.load(spark, root).indexed
        assert loaded.schema == inferred, step
        assert sorted(loaded.collect()) == sorted(
            spark.read.parquet(table).collect()), step

    check("build")
    cls.add(spark, root, base.where(F.col("vec_id") >= 120))
    check("add")
    cls.delete(spark, root, [3, 5])
    cls.compact(spark, root)
    check("compact")
    cls.compact(spark, root, dest=f"{root}/v1")
    check("compact(dest)")
    extra = {} if family == "ivf" else {"base": base}
    cls.retrain(spark, root, dest=f"{root}/v2", **extra)
    check("retrain")


def test_index_without_schema_record_loads_and_searches(spark, tmp_path):
    """An index saved before tables recorded their schema is read by
    inference and serves the same results."""
    from keystone_spark.operators.similarity import IvfIndex

    data = _vecs(spark, range(120))
    path = str(tmp_path / "ivf")
    IvfIndex.build(data, n_cells=4).save(path)
    probes = data.where(F.col("vec_id") < 4)

    def hits():
        return sorted(IvfIndex.load(spark, path).search(probes, k=5)
                      .collect())

    want = hits()
    os.remove(f"{path}/corpus/{fsutil.SCHEMA_FILE}")
    _, jobs = _jobs(spark, lambda: IvfIndex.load(spark, path), "load-old")
    assert jobs == 1  # the footer read of schema inference
    assert hits() == want


WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango"
         ).split()


def _docs(spark, ids):
    """Documents of 20 words and an id tail; documents i and i + 20
    share their 20 words, so they are near duplicates."""
    rows = [(int(i), " ".join(WORDS[(3 * i + j) % 20] for j in range(20))
             + f" tail{i}") for i in ids]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tokens(spark, ids):
    return _docs(spark, ids).select("doc_id",
                                    F.split("text", " ").alias("toks"))


@pytest.mark.parametrize("buckets, bound", [(8, 1), (64, 3)])
def test_bm25_load_runs_one_job(spark, tmp_path, buckets, bound):
    """``Bm25Index.load`` reads its generation log with the declared
    params schema (one collect) and each table with its recorded
    schema, where inference ran one more job per table. At the default
    64 buckets, Spark also lists ``postings`` and ``df`` in a job each:
    they hold more than 32 bucket directories
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``)."""
    from keystone_spark.operators.nlp import Bm25Index

    path = str(tmp_path / "bm25")
    Bm25Index.build(_tokens(spark, range(40)),
                    n_term_buckets=buckets).save(path)
    _, jobs = _jobs(spark, lambda: Bm25Index.load(spark, path),
                    f"bm25-load-{buckets}")
    assert jobs <= bound


def test_minhash_reads_run_one_job(spark, tmp_path):
    """The MinHash generation log plus every committed-table read run
    one Spark job together, and so does ``match_minhash_index``
    construction."""
    from keystone_spark.caches import release
    from keystone_spark.operators import dedup

    path = str(tmp_path / "mh")
    dedup.build_minhash_index(_docs(spark, range(20)), path, n_hashes=32,
                              n_bands=8, store_texts=True)

    def reads():
        log = dedup.minhash_log(spark, path)
        return [fsutil.read_committed(spark, path, t, log["committed"])
                for t in ("bands", "sigs", "content", "texts")]

    _, jobs = _jobs(spark, reads, "minhash-reads")
    assert jobs <= 1
    out, jobs = _jobs(spark, lambda: dedup.match_minhash_index(
        spark, path, _docs(spark, range(20, 30)), _docs(spark, range(20)),
        n_hashes=32, n_bands=8), "minhash-match")
    assert jobs <= 1
    assert out.count() == 10
    release(out)


def test_delete_finds_the_stored_id_without_a_load(spark, tmp_path,
                                                   monkeypatch):
    """``delete`` takes the stored id name and type from the members
    table's recorded schema: no index load and no Spark job."""
    from pyspark.sql.types import LongType

    from keystone_spark.operators import dedup
    from keystone_spark.operators.nlp import Bm25Index

    bm, mh = str(tmp_path / "bm25"), str(tmp_path / "mh")
    Bm25Index.build(_tokens(spark, range(40)), n_term_buckets=4).save(bm)
    dedup.build_minhash_index(_docs(spark, range(20)), mh, n_hashes=32,
                              n_bands=8)
    found = []
    real = fsutil.delete_ids

    def counted(spark_, path, ids, stored_id):
        found.append(_jobs(spark_, lambda: stored_id(path),
                           f"stored-id-{len(found)}"))
        return real(spark_, path, ids, stored_id)

    def no_load(*args, **kwargs):
        raise AssertionError("delete loaded the index")

    monkeypatch.setattr(fsutil, "delete_ids", counted)
    monkeypatch.setattr(fsutil, "read_generation_log", no_load)
    monkeypatch.setattr(Bm25Index, "load", classmethod(no_load))
    assert Bm25Index.delete(spark, bm, [3, 5]) == {"tombstones_added": 2}
    assert dedup.delete_from_minhash_index(spark, mh, [3]) == {
        "tombstones_added": 1}
    assert found == [(("doc_id", LongType()), 0)] * 2


def test_bm25_delete_refuses_a_v3_index_or_an_interrupted_swap(spark,
                                                               tmp_path):
    """Without a load, ``Bm25Index.delete`` still refuses what ``load``
    refuses: an index of format v3 (no ``docs`` membership table) with
    the rebuild message, and an index killed mid-swap."""
    from keystone_spark.operators.nlp import Bm25Index

    v3, swapped = str(tmp_path / "v3"), str(tmp_path / "swapped")
    for path in (v3, swapped):
        Bm25Index.build(_tokens(spark, range(10)),
                        n_term_buckets=4).save(path)
    rows = spark.read.parquet(f"{v3}/params").collect()
    spark.createDataFrame(
        [{**r.asDict(), "version": 3} for r in rows], Bm25Index.PARAMS_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{v3}/params")
    fsutil.fs_delete(spark, f"{v3}/{Bm25Index.MEMBERS}")
    with pytest.raises(ValueError, match="Bm25Index.build") as ei:
        Bm25Index.delete(spark, v3, [3])
    assert "PATH_NOT_FOUND" not in str(ei.value)
    with pytest.raises(ValueError, match="format v3"):
        Bm25Index.load(spark, v3)

    fsutil.fs_write_text(
        spark, f"{swapped}/_compact_tmp/{fsutil.SWAP_MARKER}", "[]")
    with pytest.raises(ValueError, match="interrupted compact"):
        Bm25Index.delete(spark, swapped, [3])
    assert not fsutil.fs_exists(spark, f"{swapped}/tombstones")


def test_append_manifest_refuses_a_row_missing_a_column(spark, tmp_path):
    """A generation-log row is written with every column of the declared
    schema or not at all: a missing column would read as NULL and
    surface only at the next load, as an inconsistent log."""
    from keystone_spark.operators import dedup

    path = str(tmp_path / "mh")
    cfg = {"n_hashes": 32, "n_bands": 8, "shingle_k": 5, "seed": 42,
           "bucket_cap": -1}
    with pytest.raises(KeyError, match="store_texts"):
        fsutil.append_manifest(spark, path, dedup.MINHASH_PARAMS_SCHEMA, cfg,
                               0, True, mode="overwrite")
    assert not fsutil.fs_exists(spark, f"{path}/params")


@pytest.mark.parametrize("family", ["bm25", "minhash"])
def test_generation_tables_record_the_inferred_schema(spark, tmp_path,
                                                      family):
    """After build, add, delete+compact and compact(dest), each table of
    a generation-log index records the schema a schema-inferring read
    reports, partition columns included, and reads the same rows."""
    from keystone_spark.operators import dedup
    from keystone_spark.operators.nlp import Bm25Index

    root = str(tmp_path / "idx")
    if family == "bm25":
        tables = ["postings", "df", "docs"]
        Bm25Index.build(_tokens(spark, range(30)), n_term_buckets=4).save(
            f"{root}/v0")
        ops = {"add": lambda: Bm25Index.add(spark, root,
                                            _tokens(spark, range(30, 40))),
               "delete": lambda: Bm25Index.delete(spark, root, [3, 5]),
               "compact": lambda **kw: Bm25Index.compact(spark, root, **kw)}
    else:
        tables = ["bands", "sigs", "content", "texts"]
        dedup.build_minhash_index(_docs(spark, range(30)), f"{root}/v0",
                                  n_hashes=32, n_bands=8, store_texts=True)
        ops = {"add": lambda: dedup.add_to_minhash_index(
                   spark, root, _docs(spark, range(30, 45))),
               "delete": lambda: dedup.delete_from_minhash_index(
                   spark, root, [3, 5]),
               "compact": lambda **kw: dedup.compact_minhash_index(
                   spark, root, **kw)}
    fsutil.write_latest_pointer(spark, root, "v0")

    def check(step):
        snap = fsutil.resolve_index_path(spark, root)
        for t in tables:
            table = f"{snap}/{t}"
            inferred = spark.read.parquet(table)
            assert _recorded(table) == inferred.schema, (step, t)
            assert sorted(fsutil.read_table(spark, table).collect()) == \
                sorted(inferred.collect()), (step, t)

    check("build")
    ops["add"]()
    check("add")
    ops["delete"]()
    ops["compact"]()
    check("compact")
    ops["compact"](dest=f"{root}/v1")
    check("compact(dest)")


def test_generation_indexes_without_schema_records_serve_the_same_rows(
        spark, tmp_path):
    """A BM25 or MinHash index written before tables recorded their
    schema still loads, by inference, and search and match return the
    same rows."""
    import glob

    from keystone_spark.caches import release
    from keystone_spark.operators import dedup
    from keystone_spark.operators.nlp import Bm25Index

    bm, mh = str(tmp_path / "bm25"), str(tmp_path / "mh")
    Bm25Index.build(_tokens(spark, range(40)), n_term_buckets=4).save(bm)
    dedup.build_minhash_index(_docs(spark, range(20)), mh, n_hashes=32,
                              n_bands=8)
    queries = spark.createDataFrame(
        [(0, ["alpha", "tail7"]), (1, ["kilo", "tail33"])],
        "query_id long, q_toks array<string>")

    def results():
        hits = sorted(Bm25Index.load(spark, bm).search(queries, k=5)
                      .collect())
        out = dedup.match_minhash_index(
            spark, mh, _docs(spark, range(20, 30)), _docs(spark, range(20)),
            n_hashes=32, n_bands=8)
        matches = sorted(out.collect())
        release(out)
        return hits, matches

    want = results()
    assert len(want[0]) == 10 and len(want[1]) == 10
    records = glob.glob(f"{tmp_path}/*/*/{fsutil.SCHEMA_FILE}")
    assert len(records) == 6
    for rec in records:
        os.remove(rec)
    assert results() == want


@pytest.mark.slow
def test_workers_import_package_from_outside_the_repo(tmp_path):
    """A driver that puts the package on sys.path from another working
    directory runs Arrow kernels that reference package functions:
    get_session hands the package's location to the Python workers."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from keystone_spark import get_session
        from keystone_spark.operators.dedup import dedup_clusters

        spark = get_session("workers_path", master="local[2]",
                            extra_confs={{"spark.driver.memory": "1g"}})
        text = "the quick brown fox jumps over the lazy dog again"
        docs = spark.createDataFrame(
            [(1, text), (2, text + "!"), (3, "nothing alike at all here")],
            "doc_id long, text string")
        print(sorted(tuple(r) for r in dedup_clusters(docs).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "[(1, 1), (2, 1)]" in out.stdout
