"""Pipeline/DAG semantics (reference test model: workflow/PipelineSuite.scala
— fit-once, gather wiring, save/load)."""

import numpy as np
from pyspark.sql import functions as F

from keystone_spark.plans.pipeline import (
    ColumnTransformer,
    Estimator,
    FittedPipeline,
    Pipeline,
    Transformer,
    gather,
)
from keystone_spark.plans.optimizer import auto_cache_plan, choose_solver, local_rows


class CountingEstimator(Estimator):
    """Estimator that counts fits — proves fit-once semantics."""

    name = "counting"

    def __init__(self):
        self.fits = 0

    def _fit(self, df):
        self.fits += 1
        mean = df.agg(F.avg("x")).first()[0]
        return ColumnTransformer("x", "x", lambda c: c - mean, "demean")


def test_fit_once_and_apply(spark):
    df = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    est = CountingEstimator()
    pipe = Pipeline([est, ColumnTransformer("x", "y", lambda c: c * 2.0)])
    fitted = pipe.fit(df)
    assert est.fits == 1
    out = fitted(df)
    vals = sorted(r.y for r in out.collect())
    assert abs(vals[0] - (0 - 4.5) * 2) < 1e-9
    # re-applying does not refit
    fitted(df).collect()
    assert est.fits == 1


class InputLevelEstimator(Estimator):
    """Records whether each input it fits on is cached."""

    name = "input_level"

    def __init__(self):
        self.cached = []

    def _fit(self, df):
        self.cached.append(df.storageLevel.useMemory)
        df.count()
        return Transformer(lambda d: d.withColumn("x", F.col("x") + 1.0))


def test_fit_persists_derived_estimator_inputs_and_releases_them(spark):
    """An estimator input derived inside the pipeline is persisted for
    the fit and freed after it; the caller's own input is left as it
    is, including a cache the caller made itself."""
    df = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    first, second = InputLevelEstimator(), InputLevelEstimator()
    pipe = Pipeline([first, ColumnTransformer("x", "y", lambda c: c * 2.0), second])
    fitted = pipe.fit(df)
    assert first.cached == [False] and second.cached == [True]
    derived = fitted.transformers[1](fitted.transformers[0](df))
    assert not derived.storageLevel.useMemory
    # a derived input the caller already cached stays cached after fit
    derived.persist()
    pipe.fit(df)
    assert second.cached == [True, True] and derived.storageLevel.useMemory
    derived.unpersist()


def test_unfitted_pipeline_apply_raises(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    pipe = Pipeline([CountingEstimator()])
    try:
        pipe(df)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_gather_concats_branches(spark):
    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    b1 = ColumnTransformer("v", "a", lambda c: F.transform(c, lambda x: x * 2))
    b2 = ColumnTransformer("v", "b", lambda c: F.transform(c, lambda x: x + 10))
    g = gather([b1, b2], out_col="features")
    r = g(df).first()
    assert r.features == [2.0, 4.0, 11.0, 12.0]


def test_pipeline_composition_operator(spark):
    df = spark.createDataFrame([(2.0,)], "x double")
    t1 = ColumnTransformer("x", "x", lambda c: c + 1)
    t2 = ColumnTransformer("x", "x", lambda c: c * 3)
    pipe = t1 | t2
    assert isinstance(pipe, Pipeline)
    assert pipe(df).first().x == 9.0


def test_fitted_pipeline_save(tmp_path, spark):
    from keystone_spark.operators.stats import StandardScaler

    df = spark.createDataFrame(
        [([float(i), float(2 * i)],) for i in range(8)], "features array<double>"
    )
    fitted = Pipeline([StandardScaler("features", "scaled")]).fit(df)
    fitted.save(str(tmp_path / "model"))
    assert (tmp_path / "model" / "manifest.json").exists()
    assert (tmp_path / "model" / "stage_0.json").exists()


def test_choose_solver_regimes():
    # the local regime is local_frame's: 100 rows of 8 doubles fit the driver
    assert local_rows(8) >= 100
    assert choose_solver(512).strategy == "normal"
    assert choose_solver(200_000).strategy == "lbfgs"
    assert choose_solver(512, sparse=True).strategy == "lbfgs"


def test_auto_cache_plan_budget():
    nodes = [("a", 100, 3), ("b", 100, 2), ("c", 50, 1), ("d", 1000, 5)]
    plan = auto_cache_plan(nodes, mem_budget_bytes=250)
    decisions = {d.node: d.persist for d in plan}
    # d is highest value but over budget alone? (5-1)*1000 ranks first, fits? 1000>250 -> skipped
    assert decisions["d"] is False
    assert decisions["a"] is True and decisions["b"] is True
    assert decisions["c"] is False  # reuse == 1 never cached


def test_checkpointer_cuts_lineage(spark, tmp_path):
    from keystone_spark.plans.pipeline import Checkpointer

    df = spark.range(100).withColumnRenamed("id", "x")
    out = Checkpointer(str(tmp_path / "ck"))(df)
    assert out.count() == 100
    # lineage is cut: the plan is a fresh parquet scan, not the range
    assert "Range" not in out._jdf.queryExecution().toString()


def test_fitted_pipeline_save_load_roundtrip(spark, tmp_path):
    import numpy as np

    from keystone_spark.operators.learning import LinearMapper
    from keystone_spark.operators.stats import StandardScaler
    from keystone_spark.plans.pipeline import FittedPipeline, Pipeline

    rng = np.random.default_rng(21)
    X = rng.normal(2.0, 3.0, size=(50, 3))
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(50)], "id int, features array<double>"
    )
    W = rng.normal(size=(3, 2))
    pipe = Pipeline([StandardScaler("features", "z"), LinearMapper(W, None, "z", "scores")])
    fitted = pipe.fit(df)
    expected = fitted(df).orderBy("id").toPandas()["scores"].tolist()

    fitted.save(str(tmp_path / "model"))
    reloaded = FittedPipeline.load(str(tmp_path / "model"))
    got = reloaded(df).orderBy("id").toPandas()["scores"].tolist()
    np.testing.assert_allclose(np.array(got), np.array(expected), rtol=1e-12)
