"""Solver/model tests vs numpy oracles (reference style:
nodes/learning/LinearMapperSuite.scala — solve tiny systems exactly;
tolerances 1e-4 for iterative solvers per SURVEY §5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from keystone_spark.operators.learning import (
    BlockLinearMapper,
    KMeansEstimator,
    LeastSquaresEstimator,
    LinearMapper,
    LogisticRegressionEstimator,
    NaiveBayesEstimator,
    PCAEstimator,
    ZCAWhitener,
)

RNG = np.random.default_rng(13)


def _df_from(spark, X, cols="id int, features array<double>"):
    return spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))], cols)


def test_linear_mapper_gemm(spark):
    X = RNG.normal(size=(16, 4))
    W = RNG.normal(size=(4, 3))
    df = _df_from(spark, X)
    out = LinearMapper(W)(df).orderBy("id").toPandas()
    np.testing.assert_allclose(np.array(out["scores"].tolist()), X @ W, rtol=1e-9)


def test_block_linear_mapper_equals_full(spark):
    X = RNG.normal(size=(8, 6))
    W = RNG.normal(size=(6, 2))
    df = _df_from(spark, X)
    from keystone_spark.operators.stats import VectorSplitter

    split = VectorSplitter("features", block_size=3, dim=6)(df)
    blocks = [W[:3], W[3:]]
    out = (
        BlockLinearMapper(blocks, ["block_0", "block_1"])(split)
        .orderBy("id")
        .toPandas()
    )
    np.testing.assert_allclose(np.array(out["scores"].tolist()), X @ W, rtol=1e-9)


def test_least_squares_local_exact(spark):
    X = RNG.normal(size=(64, 5))
    W_true = RNG.normal(size=(5, 2))
    Y = X @ W_true
    df = spark.createDataFrame(
        [(i, X[i].tolist(), Y[i].tolist()) for i in range(64)],
        "id int, features array<double>, y array<double>",
    )
    est = LeastSquaresEstimator("features", "y", strategy="local")
    model = est.fit(df)
    np.testing.assert_allclose(model.W, W_true, atol=1e-8)


def test_least_squares_distributed_close_to_local(spark):
    X = RNG.normal(size=(128, 4))
    w_true = RNG.normal(size=4)
    y = X @ w_true + RNG.normal(scale=0.01, size=128)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), float(y[i])) for i in range(128)],
        "id int, features array<double>, y double",
    )
    m_norm = LeastSquaresEstimator("features", "y", strategy="normal").fit(df)
    exact, *_ = np.linalg.lstsq(X, y, rcond=None)
    np.testing.assert_allclose(m_norm.W.ravel(), exact, atol=1e-4)


def test_logistic_regression_separable(spark):
    X = np.vstack([RNG.normal(-2, 0.3, size=(30, 2)), RNG.normal(2, 0.3, size=(30, 2))])
    y = np.array([0] * 30 + [1] * 30)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(60)],
        "id int, features array<double>, label int",
    )
    model = LogisticRegressionEstimator().fit(df)
    out = model(df).orderBy("id").toPandas()
    assert (out["pred"].to_numpy() == y).mean() >= 0.98


def test_naive_bayes_counts(spark):
    X = np.abs(RNG.normal(size=(40, 3)))
    X[:20, 0] += 5  # class 0 heavy on dim 0
    X[20:, 2] += 5
    y = np.array([0] * 20 + [1] * 20)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(40)],
        "id int, features array<double>, label int",
    )
    model = NaiveBayesEstimator().fit(df)
    out = model(df).orderBy("id").toPandas()
    assert (out["pred"].to_numpy() == y).mean() >= 0.95


def test_kmeans_onehot_separated_clusters(spark):
    X = np.vstack([RNG.normal(-5, 0.1, size=(20, 2)), RNG.normal(5, 0.1, size=(20, 2))])
    df = _df_from(spark, X)
    model = KMeansEstimator(k=2, seed=5).fit(df)
    out = model(df).toPandas()
    onehots = np.array(out["cluster_onehot"].tolist())
    assert onehots.sum(axis=1).max() == 1.0  # valid one-hot
    assert len(set(out["cluster"])) == 2
    # points in the same blob share a cluster
    c = out.sort_values("id")["cluster"].to_numpy()
    assert len(set(c[:20])) == 1 and len(set(c[20:])) == 1


def _fit_jobs(spark, group, est, df):
    """``est.fit(df)`` and the number of Spark jobs it ran (counted in a
    job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        model = est.fit(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return model, len(sc.statusTracker().getJobIdsForGroup(group))


def _blobs(spark, n=600):
    """Three well-separated 2-D blobs, ``n`` rows in id order (blob = id % 3),
    persisted like a Pipeline.fit estimator input."""
    centres = np.array([[-6.0, 0.0], [0.0, 6.0], [6.0, 0.0]])
    X = centres[np.arange(n) % 3] + RNG.normal(scale=0.2, size=(n, 2))
    df = _df_from(spark, X, "id long, features array<double>").persist()
    df.count()
    return df, centres


def _same_partition(df, n):
    """Every blob (id % 3) lands in exactly one cluster, and the three
    blobs in three different ones."""
    c = df.sort("id").toPandas()["cluster"].to_numpy()
    per_blob = [set(c[np.arange(n) % 3 == b]) for b in range(3)]
    assert all(len(s) == 1 for s in per_blob)
    assert len(set().union(*per_blob)) == 3


def test_kmeans_fit_reads_its_input_in_two_jobs(spark):
    """A driver-sized input is fitted on the driver: one ``first()`` and
    one bounded collect, then k-means++ and Lloyd in numpy."""
    df, centres = _blobs(spark)
    model, jobs = _fit_jobs(spark, "kmeans-local-fit", KMeansEstimator(k=3, seed=1), df)
    assert jobs <= 2
    found = sorted(map(tuple, np.round(model.centers)))
    assert found == sorted(map(tuple, centres))
    _same_partition(model(df), 600)
    df.unpersist()


def test_kmeans_over_budget_falls_back_to_mllib(spark, monkeypatch):
    """An input over the driver budget never reaches the driver-local
    kernel: MLlib's k-means|| fits it, and the nearest-centre model
    still separates the blobs."""
    from keystone_spark.operators import learning
    from keystone_spark.plans import optimizer

    def local_kernel_called(*a):
        raise AssertionError("driver-local k-means ran over budget")

    monkeypatch.setattr(optimizer, "LOCAL_BYTES", 64)
    monkeypatch.setattr(learning, "_kmeans_pp", local_kernel_called)
    df, centres = _blobs(spark)
    model = KMeansEstimator(k=3, seed=1).fit(df)
    found = sorted(map(tuple, np.round(model.centers)))
    assert found == sorted(map(tuple, centres))
    _same_partition(model(df), 600)
    df.unpersist()


def test_kmeans_null_feature_row_gets_null_cluster(spark):
    X = np.vstack([RNG.normal(-5, 0.1, size=(10, 2)), RNG.normal(5, 0.1, size=(10, 2))])
    rows = [(i, X[i].tolist()) for i in range(20)] + [(20, None)]
    df = spark.createDataFrame(rows, "id int, features array<double>")
    model = KMeansEstimator(k=2, seed=3).fit(df)
    assert model.centers.shape == (2, 2)
    out = {r.id: r for r in model(df).collect()}
    assert out[20].cluster is None and out[20].cluster_onehot is None
    assert {out[i].cluster for i in range(10)} != {out[i].cluster for i in range(10, 20)}
    assert all(sum(out[i].cluster_onehot) == 1.0 for i in range(20))


def test_least_squares_local_fit_reads_its_input_in_two_jobs(spark):
    X = RNG.normal(size=(400, 6))
    W_true = RNG.normal(size=(6, 3))
    df = spark.createDataFrame(
        [(i, X[i].tolist(), (X[i] @ W_true).tolist()) for i in range(400)],
        "id int, features array<double>, y array<double>",
    ).persist()
    df.count()
    model, jobs = _fit_jobs(spark, "lstsq-local-fit",
                            LeastSquaresEstimator("features", "y"), df)
    assert jobs <= 2
    np.testing.assert_allclose(model.W, W_true, atol=1e-8)
    df.unpersist()


def test_least_squares_over_budget_takes_the_normal_path(spark, monkeypatch):
    """Over the driver budget the cost model picks the distributed
    normal-equation solve, which still matches numpy's lstsq."""
    from keystone_spark.plans import optimizer

    def local_solve_called(*a):
        raise AssertionError("local solve ran over budget")

    monkeypatch.setattr(optimizer, "LOCAL_BYTES", 64)
    monkeypatch.setattr(LeastSquaresEstimator, "_solve_local", local_solve_called)
    X = RNG.normal(size=(128, 4))
    y = X @ RNG.normal(size=4) + RNG.normal(scale=0.01, size=128)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), float(y[i])) for i in range(128)],
        "id int, features array<double>, y double",
    )
    model = LeastSquaresEstimator("features", "y").fit(df)
    exact, *_ = np.linalg.lstsq(X, y, rcond=None)
    np.testing.assert_allclose(model.W.ravel(), exact, atol=1e-4)


def test_as_matrix_reads_arrow_columns_without_row_objects():
    import pyarrow as pa

    from keystone_spark.plans.optimizer import as_matrix

    rows = pa.chunked_array([[[1.0, 2.0], [3.0, 4.0]], [[5.0, 6.0]]])
    np.testing.assert_array_equal(as_matrix(rows), [[1, 2], [3, 4], [5, 6]])
    labels = as_matrix(pa.chunked_array([[1, 0, 2]], pa.int64()))
    assert labels.dtype == np.float64 and labels.shape == (3, 1)
    for bad in ([[1.0, 2.0], [3.0]], [[1.0, 2.0], None]):
        with pytest.raises(ValueError):
            as_matrix(pa.chunked_array([bad]))


def test_lloyd_kernel_centroids_golden_digest(spark, sf_dir):
    """k-means and the IVF/PQ quantizers share one Lloyd kernel, and a
    stored IVF index assigns appended vectors against centroids trained
    before: the kernel's centroids must never change. sha256 of the
    centroid bytes, computed before the kernel was shared and blocked,
    on a seeded matrix spanning many distance blocks and on the
    embeddings fixture."""
    import hashlib
    import os

    from keystone_spark.operators.similarity import (
        IvfIndex, IvfPqIndex, _kmeans_centroids)
    from keystone_spark.sources import load_table

    def digest(a):
        return hashlib.sha256(np.ascontiguousarray(a).tobytes()).hexdigest()

    X = np.random.default_rng(11).normal(size=(4096, 64))
    assert digest(_kmeans_centroids(X, 64, 5)) == (
        "1d3f0ad7841ea5c3b15951c0bbd692e878f9f436a870f4a05cd584b6d6601b9b")
    fixture = {
        "sf0.001": ("76f4964ffea86c81d1eb8809856e49cc5108cb0b1186ae83ba392df9fd62475a",
                    "eef996565f3659ac05a129356bf05d9bd62e4e1d4383b1175e7a77820f6960ec"),
        "sf0.01": ("7db327de6c8073ae2fa7e96b82491a30d2fc8bcb03af928f4ef3ea52fc18ee92",
                   "1a764073c507fe6a755089ff55bae0d021aec07f761b810eb89c0e2487d30be9"),
    }.get(os.path.basename(sf_dir.rstrip("/")))
    if fixture is None:
        pytest.skip(f"no recorded centroid digest for {sf_dir}")
    emb = load_table(spark, "embeddings", sf_dir)
    assert digest(IvfIndex.build(emb, n_cells=16).C) == fixture[0]
    assert digest(IvfPqIndex.build(emb, n_cells=8, m=8, ks=16).books) == fixture[1]


def test_pca_reconstruction(spark):
    # data on a 2-D subspace of R^4: top-2 PCA captures everything
    Z = RNG.normal(size=(50, 2))
    P = RNG.normal(size=(2, 4))
    X = Z @ P
    df = _df_from(spark, X)
    model = PCAEstimator(n_components=2).fit(df)
    out = np.array(model(df).orderBy("id").toPandas()["pca"].tolist())
    # projected variance equals total variance (subspace captured)
    assert out.shape == (50, 2)
    total_var = X.var(axis=0).sum()
    proj_var = out.var(axis=0).sum()
    np.testing.assert_allclose(proj_var, total_var, rtol=1e-6)


def test_zca_whitens_covariance(spark):
    X = RNG.normal(size=(200, 3)) @ np.array([[2.0, 0.5, 0], [0, 1.0, 0.3], [0, 0, 0.5]])
    df = _df_from(spark, X)
    model = ZCAWhitener("features", "white", eps=1e-6).fit(df)
    W = np.array(model(df).orderBy("id").toPandas()["white"].tolist())
    cov = np.cov(W, rowvar=False)
    np.testing.assert_allclose(cov, np.eye(3), atol=0.05)


def test_lda_separates_classes(spark):
    # two classes separated along dim 0 only; LDA's top direction must be
    # (close to) e0, and projections must separate the classes
    from keystone_spark.operators.learning import LinearDiscriminantAnalysis

    X = RNG.normal(size=(80, 4)) * 0.2
    y = np.array([0] * 40 + [1] * 40)
    X[y == 1, 0] += 4.0
    df = spark.createDataFrame(
        [(i, X[i].tolist(), int(y[i])) for i in range(80)],
        "id int, features array<double>, label int",
    )
    model = LinearDiscriminantAnalysis(n_components=1).fit(df)
    w = model.components[:, 0]
    w = w / np.linalg.norm(w)
    assert abs(w[0]) > 0.95  # dominant direction is dim 0
    proj = np.array(model(df).orderBy("id").toPandas()["lda"].tolist()).ravel()
    m0, m1 = proj[y == 0].mean(), proj[y == 1].mean()
    s = proj.std()
    assert abs(m0 - m1) > 3 * s * 0.5  # classes clearly separated


def test_approx_kernel_ridge_fits_nonlinear(spark):
    # y = sin(x0) is not linear in x; random Fourier features + ridge must
    # beat plain linear least squares on train MSE
    from keystone_spark.operators.learning import ApproxKernelRidge

    X = RNG.uniform(-3, 3, size=(200, 1))
    y = np.sin(X[:, 0])
    df = spark.createDataFrame(
        [(i, X[i].tolist(), [float(y[i])]) for i in range(200)],
        "id int, features array<double>, y array<double>",
    )
    model = ApproxKernelRidge(n_features=128, gamma=1.0, reg_param=1e-4,
                              label_col="y").fit(df)
    out = model(df).orderBy("id").toPandas()
    pred = np.array(out["scores"].tolist()).ravel()
    mse = float(np.mean((pred - y) ** 2))
    lin = np.linalg.lstsq(np.c_[X, np.ones(len(X))], y, rcond=None)[0]
    lin_mse = float(np.mean((np.c_[X, np.ones(len(X))] @ lin - y) ** 2))
    assert mse < lin_mse * 0.2 and mse < 0.05


def test_weighted_least_squares_matches_numpy(spark):
    from keystone_spark.operators.learning import WeightedLeastSquaresEstimator

    X = RNG.normal(size=(100, 4))
    W_true = RNG.normal(size=(4, 2))
    Y = X @ W_true + RNG.normal(scale=0.05, size=(100, 2))
    w = RNG.uniform(0.1, 3.0, size=100)
    df = spark.createDataFrame(
        [(i, X[i].tolist(), Y[i].tolist(), float(w[i])) for i in range(100)],
        "id int, features array<double>, y array<double>, w double",
    )
    model = WeightedLeastSquaresEstimator(reg_param=0.0).fit(df)
    Xw = X * w[:, None]
    expected = np.linalg.solve(Xw.T @ X, Xw.T @ Y)
    np.testing.assert_allclose(model.W, expected, atol=1e-8)


def test_multilabel_indicators(spark):
    from keystone_spark.operators.stats import MultiLabelIndicators

    df = spark.createDataFrame([(0, [0, 2]), (1, [])], "id int, labels array<int>")
    out = {r.id: r.y for r in MultiLabelIndicators(4)(df).collect()}
    assert out[0] == [1.0, -1.0, 1.0, -1.0]
    assert out[1] == [-1.0] * 4


def test_random_image_transformer_deterministic(spark):
    from keystone_spark.operators.images import RandomImageTransformer

    img = {"height": 2, "width": 3, "n_channels": 1,
           "data": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]}
    df = spark.createDataFrame(
        [(7, img)],
        "id int, image struct<height:int,width:int,n_channels:int,data:array<float>>",
    )
    t = RandomImageTransformer(flip_prob=1.0, seed=3, key_col="id")
    a = t(df).first().aug.data
    b = t(df).first().aug.data
    assert a == b
    assert a == [3.0, 2.0, 1.0, 6.0, 5.0, 4.0]  # horizontal flip


def test_grouped_least_squares_matches_numpy(spark):
    """Per-group OLS (applyInPandas grouped-map) vs per-group numpy lstsq."""
    import numpy as np
    from keystone_spark.operators.learning import grouped_least_squares

    rng = np.random.default_rng(11)
    rows = []
    truth = {"a": ([2.0, -1.0], 0.5), "b": ([-3.0, 0.25], 4.0)}
    for g, (coef, icept) in truth.items():
        X = rng.normal(size=(60, 2))
        y = X @ np.array(coef) + icept + rng.normal(scale=1e-9, size=60)
        rows += [(g, float(x1), float(x2), float(yy)) for (x1, x2), yy in zip(X, y)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")

    out = {r.g: r for r in grouped_least_squares(df, ["g"], ["x1", "x2"], "y").collect()}
    for g, (coef, icept) in truth.items():
        assert np.allclose(out[g].coef, coef, atol=1e-6)
        assert abs(out[g].intercept - icept) < 1e-6
        assert out[g].n == 60


def test_grouped_least_squares_matches_regr_slope(spark):
    """Single-feature grouped OLS must equal SQL regr_slope/regr_intercept."""
    import pyspark.sql.functions as F
    from keystone_spark.operators.learning import grouped_least_squares

    df = spark.range(200).select(
        (F.col("id") % 4).cast("string").alias("g"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2.0 + (F.col("id") % 7)).alias("y"),
    )
    ols = {r.g: r for r in grouped_least_squares(df, ["g"], ["x"], "y").collect()}
    sql = {
        r.g: r
        for r in df.groupBy("g")
        .agg(F.regr_slope("y", "x").alias("s"), F.regr_intercept("y", "x").alias("i"))
        .collect()
    }
    for g in sql:
        assert abs(ols[g].coef[0] - sql[g].s) < 1e-8
        assert abs(ols[g].intercept - sql[g].i) < 1e-8


def test_linear_mapper_null_vector_gives_null_scores(spark):
    import numpy as np
    from keystone_spark.operators.learning import LinearMapper

    df = spark.createDataFrame(
        [(0, [1.0] * 4), (1, None)], "id long, embedding array<double>"
    )
    out = {r.id: r.s for r in
           LinearMapper(np.ones((4, 2)), in_col="embedding", out_col="s")(df).collect()}
    assert out[0] == [4.0, 4.0]
    assert out[1] is None


def test_zca_fit_collect_is_row_capped(spark):
    """VERDICT r3 #3: the fit-time collect is bounded by n_sample_rows —
    fitting on a larger DataFrame must produce exactly the model you get
    from the first n rows (i.e. the driver never saw the rest), and the
    sample plan must carry a GlobalLimit."""
    X = RNG.normal(size=(300, 3))
    df = _df_from(spark, X)

    est = ZCAWhitener("features", "white", eps=1e-6, n_sample_rows=64)
    model = est.fit(df)

    # expected: model fit from only the first 64 rows of the same plan
    rows = np.asarray(
        [r[0] for r in df.select("features").limit(64).collect()]
    )
    mu = rows.mean(axis=0)
    Xc = rows - mu
    cov = Xc.T @ Xc / (len(rows) - 1)
    vals, vecs = np.linalg.eigh(cov + 1e-6 * np.eye(3))
    Wz = vecs @ np.diag(1.0 / np.sqrt(vals)) @ vecs.T

    np.testing.assert_allclose(model.mean, mu, rtol=1e-12)
    np.testing.assert_allclose(model.whitening_matrix, Wz, rtol=1e-9)

    # and the cap is in the plan, not an accident of data size
    plan = df.select("features").limit(64)._jdf.queryExecution().toString()
    assert "GlobalLimit" in plan


def test_train_test_split_deterministic_partition(spark):
    from keystone_spark.operators.learning import train_test_split

    df = spark.range(2000).selectExpr("id", "id % 7 AS k")
    tr1, te1 = train_test_split(df, 0.25, id_cols=["id"])
    tr2, te2 = train_test_split(df, 0.25, id_cols=["id"])
    a, b = {r.id for r in tr1.collect()}, {r.id for r in te1.collect()}
    assert a | b == set(range(2000)) and not (a & b)  # exact partition
    assert {r.id for r in tr2.collect()} == a          # rerun-stable
    assert 0.18 < len(b) / 2000 < 0.32                 # ~test_frac
    # different salt draws a different split
    _, te3 = train_test_split(df, 0.25, id_cols=["id"], salt="x")
    assert {r.id for r in te3.collect()} != b


def test_kfold_cv_separable_problem(spark):
    """5-fold CV on a linearly-separable set: every fold is a partition
    of the data and every fold's accuracy is high."""
    import numpy as np

    from keystone_spark.operators.learning import (
        LogisticRegressionEstimator,
        kfold_cv,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(300):
        lbl = i % 2
        x = rng.normal(size=3) + (3.0 if lbl else -3.0)
        rows.append((i, int(lbl), x.tolist()))
    df = spark.createDataFrame(rows, "id int, label int, features array<double>")
    scores = kfold_cv(
        LogisticRegressionEstimator(max_iter=50), df, k=5, id_cols=["id"]
    )
    assert len(scores) == 5
    assert all(s >= 0.95 for s in scores), scores
