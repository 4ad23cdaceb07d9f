"""Loads of stored vector tables and streaming snapshots are driver
metadata: each table records its schema (``_schema.json``), so a load
runs no Spark job, and ``fs_read_text`` returns files in py4j answers
under 8 KB."""

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
