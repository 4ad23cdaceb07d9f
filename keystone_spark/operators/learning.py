"""Learning nodes: linear solvers, classifiers, clustering, decompositions.

Strategy (SURVEY.md §2.5): where MLlib has the semantics, wrap it (the
reference's hand-rolled BCD/LBFGS/TSQR exist because 2015-era MLlib didn't
cover them; today's does). The operator *selection* cost model — the
reference's flagship optimization (nodes/learning/LeastSquaresEstimator.scala)
— survives in plans/optimizer: ``local_frame`` decides whether an input
fits the driver, and ``choose_solver`` picks the distributed least-squares
solver for one that does not. Least squares and k-means take a
driver-sized input in one bounded collect and fit it in numpy (the
reference's LocalLeastSquaresEstimator and KMeansPlusPlusEstimator:
k-means++ seeding, then the same Lloyd kernel the IVF quantizers train
with); larger inputs fall back to MLlib. Feature columns are
array<double>; conversion to MLlib VectorUDT happens at the wrapper
boundary via pyspark.ml.functions.array_to_vector (JVM-side, no Python).

Apply-side models (LinearMapper, the k-means nearest-centre model) run as
Arrow-batched numpy kernels — the per-partition rowsToMatrix+BLAS pattern
(reference: utils/MatrixUtils.scala, nodes/learning/LinearMapper.scala).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from keystone_spark.operators.similarity import _lloyd, _nearest
from keystone_spark.plans.optimizer import as_matrix, choose_solver, local_frame
from keystone_spark.plans.pipeline import Estimator, LabelEstimator, Transformer


class LinearMapper(Transformer):
    """Apply x -> xW + b as a batched gemm
    (reference: nodes/learning/LinearMapper.scala)."""

    def __init__(
        self,
        W: np.ndarray,
        b: np.ndarray | None = None,
        in_col: str = "features",
        out_col: str = "scores",
    ):
        self.in_col, self.out_col = in_col, out_col
        self.W = np.asarray(W, dtype=np.float64)
        self.b = None if b is None else np.asarray(b, dtype=np.float64)
        W_, b_ = self.W, self.b

        @pandas_udf("array<double>")
        def gemm(s: pd.Series) -> pd.Series:
            # null feature vectors map to null scores (not a kernel crash)
            mask = s.notna().to_numpy()
            out = np.full(len(s), None, dtype=object)
            if mask.any():
                X = np.asarray(list(s[mask]), dtype=np.float64)
                Y = X @ W_
                if b_ is not None:
                    Y = Y + b_
                for i, row in zip(np.nonzero(mask)[0], Y):
                    out[i] = row.tolist()
            return pd.Series(out)

        super().__init__(
            lambda df: df.withColumn(out_col, gemm(F.col(in_col))), "linear_mapper"
        )

    def save_params(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {"in_col": self.in_col, "out_col": self.out_col,
                 "W": self.W.tolist(),
                 "b": None if self.b is None else self.b.tolist()},
                f,
            )

    @classmethod
    def load_params(cls, path: str) -> "LinearMapper":
        import json

        with open(path) as f:
            p = json.load(f)
        b = None if p["b"] is None else np.array(p["b"])
        return cls(np.array(p["W"]), b, p["in_col"], p["out_col"])


class BlockLinearMapper(Transformer):
    """Apply block-partitioned weights to block feature columns, summing the
    per-block partial scores (reference: nodes/learning/BlockLinearMapper.scala).
    Blocks are columns of ONE DataFrame, so no zipPartitions alignment is
    needed (SURVEY §2.3)."""

    def __init__(
        self,
        blocks: list[np.ndarray],
        block_cols: list[str],
        b: np.ndarray | None = None,
        out_col: str = "scores",
    ):
        assert len(blocks) == len(block_cols)
        mappers = [
            LinearMapper(Wb, None, c, f"__part_{i}")
            for i, (Wb, c) in enumerate(zip(blocks, block_cols))
        ]
        part_cols = [f"__part_{i}" for i in range(len(blocks))]
        bias = None if b is None else np.asarray(b, dtype=np.float64)

        def apply(df: DataFrame) -> DataFrame:
            for m in mappers:
                df = m(df)
            acc = F.col(part_cols[0])
            for c in part_cols[1:]:
                acc = F.zip_with(acc, F.col(c), lambda x, y: x + y)
            if bias is not None:
                acc = F.zip_with(
                    acc,
                    F.array(*[F.lit(float(v)) for v in bias]),
                    lambda x, y: x + y,
                )
            return df.withColumn(out_col, acc).drop(*part_cols)

        super().__init__(apply, f"block_linear_mapper({len(blocks)} blocks)")


class LeastSquaresEstimator(LabelEstimator):
    """Optimizable least-squares façade: picks local / normal-equation /
    l-bfgs from the problem shape (reference:
    nodes/learning/LeastSquaresEstimator.scala + NodeOptimizationRule).

    Multi-target (one-hot labels) solves each target against the shared
    features. Returns a LinearMapper so apply-side is solver-agnostic.
    """

    name = "least_squares"

    def __init__(
        self,
        in_col: str = "features",
        label_col: str = "y",
        out_col: str = "scores",
        reg_param: float = 0.0,
        strategy: str | None = None,  # override; else cost model
    ):
        super().__init__(label_col)
        self.in_col, self.out_col = in_col, out_col
        self.reg_param = reg_param
        self.strategy = strategy

    def _fit(self, df: DataFrame) -> LinearMapper:
        sel = df.select(self.in_col, self.label_col)
        if self.strategy == "local":  # an explicit override collects any size
            return self._solve_local(sel.toArrow())
        if self.strategy is None:
            first, tbl = local_frame(sel, [self.in_col, self.label_col])
            if tbl is not None:
                return self._solve_local(tbl)
            choice = choose_solver(len(first[0])).strategy
        else:
            first, choice = sel.first(), self.strategy
        multi = isinstance(first[1], (list, tuple))
        k = len(first[1]) if multi else 1

        # distributed: MLlib LinearRegression per target column
        from pyspark.ml.regression import LinearRegression

        solver = "normal" if choice == "normal" else "l-bfgs"
        vec = df.withColumn("__v", array_to_vector(F.col(self.in_col)))
        ws = []
        for j in range(k):
            yj = (
                F.col(self.label_col)[j].cast("double")
                if multi
                else F.col(self.label_col).cast("double")
            )
            lr = LinearRegression(
                featuresCol="__v",
                labelCol="__y",
                regParam=self.reg_param,
                fitIntercept=False,
                solver=solver,
                standardization=False,
            )
            model = lr.fit(vec.withColumn("__y", yj))
            ws.append(model.coefficients.toArray())
        W = np.stack(ws, axis=1)  # d x k
        return LinearMapper(W, None, self.in_col, self.out_col)

    def _solve_local(self, tbl: pa.Table) -> LinearMapper:
        X, Y = as_matrix(tbl[self.in_col]), as_matrix(tbl[self.label_col])
        if self.reg_param > 0:
            A = X.T @ X + self.reg_param * len(X) * np.eye(X.shape[1])
            W = np.linalg.solve(A, X.T @ Y)
        else:
            W, *_ = np.linalg.lstsq(X, Y, rcond=None)
        return LinearMapper(W, None, self.in_col, self.out_col)


class LogisticRegressionEstimator(LabelEstimator):
    """Multiclass logistic regression (reference:
    nodes/learning/LogisticRegressionEstimator.scala wrapping MLlib)."""

    name = "logistic_regression"

    def __init__(
        self,
        in_col: str = "features",
        label_col: str = "label",
        out_col: str = "pred",
        max_iter: int = 100,
        reg_param: float = 0.0,
    ):
        super().__init__(label_col)
        self.in_col, self.out_col = in_col, out_col
        self.max_iter, self.reg_param = max_iter, reg_param

    def _fit(self, df: DataFrame) -> Transformer:
        from pyspark.ml.classification import LogisticRegression

        vec = df.withColumn("__v", array_to_vector(F.col(self.in_col)))
        model = LogisticRegression(
            featuresCol="__v",
            labelCol=self.label_col,
            maxIter=self.max_iter,
            regParam=self.reg_param,
        ).fit(vec)
        out_col, in_col = self.out_col, self.in_col

        def apply(d: DataFrame) -> DataFrame:
            withv = d.withColumn("__v", array_to_vector(F.col(in_col)))
            scored = model.transform(withv)
            return scored.withColumn(out_col, F.col("prediction").cast("long")).drop(
                "__v", "rawPrediction", "probability", "prediction"
            )

        t = Transformer(apply, "logistic_regression_model")
        t.model = model
        return t


class NaiveBayesEstimator(LabelEstimator):
    """Multinomial naive Bayes (reference:
    nodes/learning/NaiveBayesEstimator.scala). Features must be >= 0."""

    name = "naive_bayes"

    def __init__(self, in_col: str = "features", label_col: str = "label",
                 out_col: str = "pred", smoothing: float = 1.0):
        super().__init__(label_col)
        self.in_col, self.out_col, self.smoothing = in_col, out_col, smoothing

    def _fit(self, df: DataFrame) -> Transformer:
        from pyspark.ml.classification import NaiveBayes

        vec = df.withColumn("__v", array_to_vector(F.col(self.in_col)))
        model = NaiveBayes(
            featuresCol="__v", labelCol=self.label_col,
            modelType="multinomial", smoothing=self.smoothing,
        ).fit(vec)
        out_col, in_col = self.out_col, self.in_col

        def apply(d: DataFrame) -> DataFrame:
            withv = d.withColumn("__v", array_to_vector(F.col(in_col)))
            scored = model.transform(withv)
            return scored.withColumn(out_col, F.col("prediction").cast("long")).drop(
                "__v", "rawPrediction", "probability", "prediction"
            )

        t = Transformer(apply, "naive_bayes_model")
        t.model = model
        return t


def _kmeans_pp(X: np.ndarray, k: int, seed: int) -> np.ndarray:
    """k-means++ seeding (Arthur & Vassilvitskii, SODA 2007): each next
    centre is a row drawn with probability proportional to its squared
    distance from the nearest centre so far."""
    rng = np.random.default_rng(seed)
    C = np.empty((k, X.shape[1]))
    C[0] = X[rng.integers(len(X))]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        i = rng.choice(len(X), p=d2 / tot) if tot > 0 else rng.integers(len(X))
        C[j] = X[i]
        d2 = np.minimum(d2, ((X - C[j]) ** 2).sum(axis=1))
    return C


class KMeansEstimator(Estimator):
    """k-means whose model emits the nearest centre as ``cluster`` and as a
    one-hot ``out_col`` (reference: nodes/learning/KMeansPlusPlus.scala).

    A driver-sized input (``plans.optimizer.local_frame``) is collected
    once and fitted by k-means++ seeding and Lloyd iterations in numpy;
    a larger one by MLlib's distributed k-means||. Null feature rows are
    left out of the fit and get a null cluster."""

    name = "kmeans"

    def __init__(self, k: int, in_col: str = "features", out_col: str = "cluster_onehot",
                 seed: int = 42, max_iter: int = 20):
        self.k, self.in_col, self.out_col = k, in_col, out_col
        self.seed, self.max_iter = seed, max_iter

    def _fit(self, df: DataFrame) -> Transformer:
        rows = df.where(F.col(self.in_col).isNotNull())
        _, tbl = local_frame(rows, [self.in_col])
        if tbl is not None:
            X = as_matrix(tbl[self.in_col])
            C = _lloyd(X, _kmeans_pp(X, self.k, self.seed), self.max_iter)
        else:
            from pyspark.ml.clustering import KMeans

            vec = rows.withColumn("__v", array_to_vector(F.col(self.in_col)))
            model = KMeans(
                featuresCol="__v", k=self.k, seed=self.seed, maxIter=self.max_iter,
                initMode="k-means||",
            ).fit(vec)
            C = np.array([np.asarray(c) for c in model.clusterCenters()])
        k, in_col, out_col = self.k, self.in_col, self.out_col

        @pandas_udf("long")
        def nearest(s: pd.Series) -> pd.Series:
            # null feature vectors map to a null cluster (not a kernel crash)
            mask = s.notna().to_numpy()
            out = pd.Series(pd.NA, index=s.index, dtype="Int64")
            if mask.any():
                out[mask] = _nearest(np.asarray(list(s[mask]), dtype=np.float64), C)
            return out

        def apply(d: DataFrame) -> DataFrame:
            c = F.col("__cluster")
            onehot = F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.when(i == c, 1.0).otherwise(0.0),
            )
            return (
                d.withColumn("__cluster", nearest(F.col(in_col)))
                .withColumn(out_col, F.when(c.isNotNull(), onehot))
                .withColumn("cluster", c)
                .drop("__cluster")
            )

        t = Transformer(apply, "kmeans_model")
        t.centers = C
        return t


class GaussianMixtureEstimator(Estimator):
    """Diagonal-covariance GMM via distributed EM (reference:
    nodes/learning/GaussianMixtureModel.scala; MLlib EM replaces the
    driver-local/EncEval paths)."""

    name = "gmm"

    def __init__(self, k: int, in_col: str = "features", seed: int = 42,
                 out_col: str = "gmm_probs"):
        self.k, self.in_col, self.out_col, self.seed = k, in_col, out_col, seed

    def _fit(self, df: DataFrame) -> Transformer:
        from pyspark.ml.clustering import GaussianMixture

        vec = df.withColumn("__v", array_to_vector(F.col(self.in_col)))
        model = GaussianMixture(
            featuresCol="__v", k=self.k, seed=self.seed
        ).fit(vec)
        in_col, out_col = self.in_col, self.out_col

        def apply(d: DataFrame) -> DataFrame:
            withv = d.withColumn("__v", array_to_vector(F.col(in_col)))
            scored = model.transform(withv)
            return (
                scored.withColumn(out_col, vector_to_array(F.col("probability")))
                .drop("__v", "prediction", "probability")
            )

        t = Transformer(apply, "gmm_model")
        t.model = model
        t.weights = np.array(model.weights)
        return t


class PCAEstimator(Estimator):
    """Top-d principal components (reference: nodes/learning/PCA.scala,
    DistributedPCA via ml-matrix TSQR — MLlib's PCA covers both regimes)."""

    name = "pca"

    def __init__(self, n_components: int, in_col: str = "features",
                 out_col: str = "pca", center: bool = True):
        self.n_components, self.in_col, self.out_col = n_components, in_col, out_col
        self.center = center

    def _fit(self, df: DataFrame) -> Transformer:
        from pyspark.ml.feature import PCA as MLPCA

        work = df
        if self.center:
            from keystone_spark.operators.stats import StandardScaler, StandardScalerModel

            moments = StandardScaler(self.in_col, "__centered")._fit(df)
            # center only (keystone PCA does not scale): reuse mean, std=1
            center_model = StandardScalerModel(
                self.in_col, "__centered", moments.mean, np.ones_like(moments.std)
            )
            work = center_model(df)
            vec_in = "__centered"
        else:
            vec_in = self.in_col
        vec = work.withColumn("__v", array_to_vector(F.col(vec_in)))
        model = MLPCA(k=self.n_components, inputCol="__v", outputCol="__p").fit(vec)
        in_col, out_col = self.in_col, self.out_col
        components = np.array(model.pc.toArray())  # d x k
        mean = moments.mean if self.center else None

        def apply(d: DataFrame) -> DataFrame:
            # apply as a plain gemm so saved params are self-contained
            X = F.col(in_col)
            if mean is not None:
                X = F.zip_with(
                    X,
                    F.array(*[F.lit(float(v)) for v in mean]),
                    lambda x, mu: x.cast("double") - mu,
                )
            tmp = d.withColumn("__c", X)
            return LinearMapper(components, None, "__c", out_col)(tmp).drop("__c")

        t = Transformer(apply, "pca_model")
        t.components = components
        return t


class LinearDiscriminantAnalysis(LabelEstimator):
    """LDA projection from class scatter matrices (reference:
    nodes/learning/LinearDiscriminantAnalysis.scala; no MLlib equivalent).

    Scatter matrices are distributed aggregations: per-class mean via
    groupBy, within-class outer-product sums via one mapInPandas partial
    pass (numpy gemms), combined on the driver; the d x d eigenproblem is
    driver-local (d is feature dim, small by construction).
    """

    name = "lda"

    def __init__(self, n_components: int, in_col: str = "features",
                 label_col: str = "label", out_col: str = "lda"):
        super().__init__(label_col)
        self.n_components, self.in_col, self.out_col = n_components, in_col, out_col

    def _fit(self, df: DataFrame) -> Transformer:
        in_col, label_col = self.in_col, self.label_col
        from typing import Iterator

        import pandas as pdm

        first = df.select(in_col).first()
        d = len(first[0])
        schema = f"label long, n long, s1 array<double>, outer array<double>"

        def partial(batches: Iterator[pdm.DataFrame]) -> Iterator[pdm.DataFrame]:
            for pdf in batches:
                if pdf.empty:
                    continue
                out = []
                for lbl, grp in pdf.groupby(label_col):
                    X = np.asarray(list(grp[in_col]), dtype=np.float64)
                    out.append(
                        (int(lbl), len(X), X.sum(axis=0).tolist(),
                         (X.T @ X).ravel().tolist())
                    )
                yield pdm.DataFrame(out, columns=["label", "n", "s1", "outer"])

        parts = df.select(label_col, in_col).mapInPandas(partial, schema).collect()
        stats: dict[int, list] = {}
        for p in parts:
            s = stats.setdefault(p.label, [0, np.zeros(d), np.zeros((d, d))])
            s[0] += p.n
            s[1] += np.array(p.s1)
            s[2] += np.array(p.outer).reshape(d, d)
        n_tot = sum(s[0] for s in stats.values())
        mu_tot = sum(s[1] for s in stats.values()) / n_tot
        Sw = np.zeros((d, d))
        Sb = np.zeros((d, d))
        for _lbl, (n, s1, xx) in stats.items():
            mu_c = s1 / n
            Sw += xx - n * np.outer(mu_c, mu_c)
            diff = mu_c - mu_tot
            Sb += n * np.outer(diff, diff)
        vals, vecs = np.linalg.eig(np.linalg.pinv(Sw) @ Sb)
        order = np.argsort(-vals.real)[: self.n_components]
        W = vecs[:, order].real  # d x k
        t = LinearMapper(W, None, self.in_col, self.out_col)
        t.components = W
        return t


class ApproxKernelRidge(LabelEstimator):
    """Kernel ridge regression via random Fourier features + linear solve
    (reference: nodes/learning/KernelRidgeRegression.scala +
    GaussianKernel.scala — the exact block-kernel solve is replaced by the
    random-feature approximation, the engine's scalable stand-in per
    SURVEY §2.5; exact KRR only makes sense at driver scale)."""

    name = "approx_kernel_ridge"

    def __init__(self, n_features: int = 256, gamma: float = 1.0,
                 reg_param: float = 1e-3, seed: int = 42,
                 in_col: str = "features", label_col: str = "y",
                 out_col: str = "scores"):
        super().__init__(label_col)
        self.n_features, self.gamma, self.reg_param = n_features, gamma, reg_param
        self.seed, self.in_col, self.out_col = seed, in_col, out_col

    def _fit(self, df: DataFrame) -> Transformer:
        from keystone_spark.operators.stats import CosineRandomFeatures

        d = len(df.select(self.in_col).first()[0])
        rf = CosineRandomFeatures(
            d, self.n_features, self.gamma, self.seed, self.in_col, "__rf"
        )
        lifted = rf(df)
        solver = LeastSquaresEstimator(
            "__rf", self.label_col, self.out_col, reg_param=self.reg_param
        )
        inner = solver.fit(lifted)
        out_col = self.out_col

        def apply(dd: DataFrame) -> DataFrame:
            return inner(rf(dd)).drop("__rf")

        t = Transformer(apply, "approx_kernel_ridge_model")
        t.inner = inner
        return t


class ZCAWhitener(Estimator):
    """ZCA whitening (Sigma + eps I)^(-1/2) from a seeded sample
    (reference: nodes/learning/ZCAWhitener.scala — local SVD on patches).

    The fit-time collect is HARD-CAPPED at ``n_sample_rows`` regardless of
    input size — the reference fits on sampled patches, and a covariance
    estimate does not need more rows than that; without the cap a caller
    fitting on a 10^8-row DataFrame would drive the whole dataset into the
    driver. ``sample_fraction`` (optional) additionally pre-thins before
    the cap for seed-controlled randomization; the cap itself is a plain
    ``limit`` (deterministic for file sources, no sort, no extra shuffle).
    """

    name = "zca"

    def __init__(self, in_col: str = "features", out_col: str = "white",
                 eps: float = 0.1, sample_fraction: float | None = None,
                 seed: int = 42, n_sample_rows: int = 100_000):
        self.in_col, self.out_col, self.eps = in_col, out_col, eps
        self.sample_fraction, self.seed = sample_fraction, seed
        self.n_sample_rows = n_sample_rows

    def _fit(self, df: DataFrame) -> Transformer:
        sample = df.select(self.in_col)
        if self.sample_fraction is not None and self.sample_fraction < 1.0:
            sample = sample.sample(self.sample_fraction, seed=self.seed)
        sample = sample.limit(int(self.n_sample_rows))
        X = np.asarray([r[0] for r in sample.collect()], dtype=np.float64)
        mu = X.mean(axis=0)
        Xc = X - mu
        cov = Xc.T @ Xc / max(len(X) - 1, 1)
        vals, vecs = np.linalg.eigh(cov + self.eps * np.eye(cov.shape[0]))
        Wz = vecs @ np.diag(1.0 / np.sqrt(vals)) @ vecs.T
        in_col, out_col = self.in_col, self.out_col

        def apply(d: DataFrame) -> DataFrame:
            centered = F.zip_with(
                F.col(in_col),
                F.array(*[F.lit(float(v)) for v in mu]),
                lambda x, m: x.cast("double") - m,
            )
            tmp = d.withColumn("__c", centered)
            return LinearMapper(Wz, None, "__c", out_col)(tmp).drop("__c")

        t = Transformer(apply, "zca_model")
        t.whitening_matrix = Wz
        t.mean = mu
        return t


class WeightedLeastSquaresEstimator(LabelEstimator):
    """Per-example-weighted L2 least squares (reference:
    nodes/learning/BlockWeightedLeastSquares.scala — class-imbalance
    weighting for multilabel VOC/ImageNet solves).

    One distributed pass accumulates the weighted Gram matrix X'WX and
    moment X'WY per partition (numpy gemms over Arrow batches — the
    rowsToMatrix/BLAS-3 pattern), the driver solves the d x d system:
    partial+final aggregation, no iteration, shuffle carries only
    O(partitions * d^2) floats. Valid while d fits on the driver (~10k);
    beyond that the reference's block-coordinate scheme applies per
    feature block via VectorSplitter columns.
    """

    name = "weighted_least_squares"

    def __init__(self, in_col: str = "features", label_col: str = "y",
                 weight_col: str = "w", out_col: str = "scores",
                 reg_param: float = 0.0):
        super().__init__(label_col)
        self.in_col, self.weight_col, self.out_col = in_col, weight_col, out_col
        self.reg_param = reg_param

    def _fit(self, df: DataFrame) -> "LinearMapper":
        from typing import Iterator

        import pandas as pdm

        in_col, y_col, w_col = self.in_col, self.label_col, self.weight_col
        first = df.select(in_col, y_col).first()
        d = len(first[0])
        multi = isinstance(first[1], (list, tuple))
        k = len(first[1]) if multi else 1
        schema = "xtx array<double>, xty array<double>, wsum double"

        def partial(batches: Iterator[pdm.DataFrame]) -> Iterator[pdm.DataFrame]:
            xtx = np.zeros((d, d))
            xty = np.zeros((d, k))
            wsum = 0.0
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.asarray(list(pdf[in_col]), dtype=np.float64)
                Y = np.asarray(list(pdf[y_col]), dtype=np.float64).reshape(len(X), k)
                w = pdf[w_col].to_numpy(np.float64)
                Xw = X * w[:, None]
                xtx += Xw.T @ X
                xty += Xw.T @ Y
                wsum += float(w.sum())
            yield pdm.DataFrame(
                {"xtx": [xtx.ravel().tolist()], "xty": [xty.ravel().tolist()],
                 "wsum": [wsum]}
            )

        parts = df.select(in_col, y_col, w_col).mapInPandas(partial, schema).collect()
        XtX = sum(np.array(p.xtx).reshape(d, d) for p in parts)
        XtY = sum(np.array(p.xty).reshape(d, k) for p in parts)
        wsum = sum(p.wsum for p in parts)
        if self.reg_param > 0:
            XtX = XtX + self.reg_param * wsum * np.eye(d)
        W = np.linalg.solve(XtX, XtY)
        return LinearMapper(W, None, self.in_col, self.out_col)


def grouped_least_squares(
    df: DataFrame,
    group_cols: list[str],
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Per-group OLS via applyInPandas (grouped-map Arrow UDF): one local
    numpy lstsq per group — the engine's grouped-model pattern and the
    §2.10 UDAF extension surface (reference: workflow/Estimator.scala — fit
    as arbitrary aggregation; here keyed, so thousands of independent
    models fit in one shuffle).

    Returns (group_cols..., coef array<double>, intercept double, n long).
    Scale: each GROUP is local to one task (pandas), groups themselves are
    distributed — right for many small/medium groups. A single giant group
    should use LeastSquaresEstimator (distributed normal equations)
    instead.
    """
    out_fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    schema = f"{out_fields}, coef array<double>, intercept double, n bigint"
    feats, label = list(feature_cols), label_col

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[feats].to_numpy(dtype=np.float64)
        y = pdf[label].to_numpy(dtype=np.float64)
        X1 = np.hstack([X, np.ones((len(X), 1))])
        beta, *_ = np.linalg.lstsq(X1, y, rcond=None)
        row = [pdf.iloc[0][c] for c in group_cols]
        return pd.DataFrame(
            [row + [beta[:-1].tolist(), float(beta[-1]), len(pdf)]],
            columns=group_cols + ["coef", "intercept", "n"],
        )

    return df.groupBy(*group_cols).applyInPandas(fit, schema)


def train_test_split(
    df: DataFrame, test_frac: float = 0.2, id_cols: list[str] | None = None,
    salt: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, re-runnable train/test split: membership is a pure
    function of the row's identity hash (md5, like reservoir_per_key) —
    the same row lands on the same side across runs, shard orders, and
    engines, which random splits cannot guarantee. Map-side filter, no
    shuffle. ``id_cols`` default: all columns."""
    ids = id_cols or df.columns
    u = (
        F.conv(F.substring(F.md5(F.concat_ws(
            "\x1f", F.lit(salt),
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
              for c in ids],
        )), 1, 13), 16, 10).cast("double")
        / float(16 ** 13)
    )
    return df.where(u >= test_frac), df.where(u < test_frac)


def kfold_cv(
    estimator,
    df: DataFrame,
    k: int = 5,
    metric=None,
    id_cols: list[str] | None = None,
) -> list[float]:
    """Deterministic k-fold cross-validation for any engine estimator:
    fold id = identity-hash % k (stable across runs/sharding), each fold
    held out once. Returns the k metric values (default: accuracy on
    ``label``/``pred``). The fits are sequential (model selection is a
    driver-side loop by nature); each fit/apply is fully distributed, so
    wall-clock is k * fit-cost — parallelize across folds by submitting
    to separate Spark schedulers if needed."""
    from keystone_spark.operators.evaluation import accuracy

    ids = id_cols or df.columns
    fold = F.abs(F.xxhash64(*[F.coalesce(F.col(c).cast("string"),
                                         F.lit("\x00NULL"))
                              for c in ids])) % k
    with_fold = df.withColumn("__fold", fold)
    scores = []
    for i in range(k):
        train = with_fold.where(F.col("__fold") != i).drop("__fold")
        test = with_fold.where(F.col("__fold") == i).drop("__fold")
        model = estimator.fit(train)
        scored = model(test)
        scores.append(
            metric(scored) if metric is not None else accuracy(scored)
        )
    return scores
