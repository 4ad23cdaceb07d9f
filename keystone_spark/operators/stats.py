"""Statistical transforms & feature nodes over array<double> columns.

Each class mirrors a KeystoneML node (reference path in its docstring) but
is expressed as a ColumnTransformer/Estimator over DataFrames. Elementwise
math stays in Column expressions (codegen); kernels that are genuinely
matrix-shaped (FFT, random features) use Arrow-batched pandas UDFs with
seeded numpy — the vectorized path, never row-at-a-time Python.

Model parameters (means, stds, random matrices) are embedded as literal
arrays when small (JVM-side arithmetic) or closure-captured numpy arrays
(auto-broadcast with the task) when matrix-shaped.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from keystone_spark.caches import attach, checkpoint
from keystone_spark.plans.pipeline import ColumnTransformer, Estimator, Transformer


def _lit_array(values) -> Column:
    return F.array(*[F.lit(float(v)) for v in values])


# ---------------------------------------------------------------------------
# elementwise transforms (reference: nodes/stats/*, nodes/images/*)
# ---------------------------------------------------------------------------

class LinearRectifier(ColumnTransformer):
    """x -> max(x - alpha, 0) (reference: nodes/stats/LinearRectifier.scala)."""

    def __init__(self, in_col: str, out_col: str | None = None, alpha: float = 0.0):
        super().__init__(
            in_col,
            out_col or in_col,
            lambda c: F.transform(c, lambda x: F.greatest(x - alpha, F.lit(0.0))),
            name=f"linear_rectifier(a={alpha})",
        )


class SymmetricRectifier(ColumnTransformer):
    """x -> [max(x-a,0) ++ max(-x-a,0)] (reference: nodes/images/SymmetricRectifier.scala)."""

    def __init__(self, in_col: str, out_col: str | None = None, alpha: float = 0.0):
        super().__init__(
            in_col,
            out_col or in_col,
            lambda c: F.concat(
                F.transform(c, lambda x: F.greatest(x - alpha, F.lit(0.0))),
                F.transform(c, lambda x: F.greatest(-x - alpha, F.lit(0.0))),
            ),
            name=f"symmetric_rectifier(a={alpha})",
        )


class SignedHellingerMapper(ColumnTransformer):
    """x -> sign(x)*sqrt(|x|) (reference: nodes/stats/SignedHellingerMapper.scala)."""

    def __init__(self, in_col: str, out_col: str | None = None):
        super().__init__(
            in_col,
            out_col or in_col,
            lambda c: F.transform(c, lambda x: F.signum(x) * F.sqrt(F.abs(x))),
            name="signed_hellinger",
        )


class PixelScaler(ColumnTransformer):
    """byte pixels -> floats in [0,1] (reference: nodes/images/PixelScaler.scala)."""

    def __init__(self, in_col: str, out_col: str | None = None):
        super().__init__(
            in_col,
            out_col or in_col,
            lambda c: F.transform(c, lambda x: x.cast("double") / F.lit(255.0)),
            name="pixel_scaler",
        )


class VectorCombiner(Transformer):
    """Concat several array columns (reference: nodes/util/VectorCombiner.scala)."""

    def __init__(self, in_cols: list[str], out_col: str = "features"):
        super().__init__(
            lambda df: df.withColumn(out_col, F.concat(*[F.col(c) for c in in_cols])),
            f"vector_combiner({','.join(in_cols)})",
        )


class VectorSplitter(Transformer):
    """Split an array column into fixed-size block columns
    (reference: nodes/util/VectorSplitter.scala — feeds block solvers)."""

    def __init__(self, in_col: str, block_size: int, dim: int, prefix: str = "block"):
        self.block_cols = [
            f"{prefix}_{i}" for i in range((dim + block_size - 1) // block_size)
        ]

        def apply(df: DataFrame) -> DataFrame:
            for i, c in enumerate(self.block_cols):
                df = df.withColumn(
                    c, F.slice(F.col(in_col), i * block_size + 1, block_size)
                )
            return df

        super().__init__(apply, f"vector_splitter({in_col},bs={block_size})")


class RandomSignNode(ColumnTransformer):
    """Elementwise multiply by a seeded ±1 vector
    (reference: nodes/stats/RandomSignNode.scala)."""

    def __init__(self, in_col: str, dim: int, seed: int = 42, out_col: str | None = None):
        rng = np.random.default_rng(seed)
        signs = rng.choice([-1.0, 1.0], size=dim)
        super().__init__(
            in_col,
            out_col or in_col,
            lambda c: F.zip_with(c, _lit_array(signs), lambda x, s: x * s),
            name=f"random_sign(seed={seed})",
        )


class MaxClassifier(ColumnTransformer):
    """argmax over a score array -> class index
    (reference: nodes/util/MaxClassifier.scala)."""

    def __init__(self, in_col: str = "scores", out_col: str = "pred"):
        super().__init__(
            in_col,
            out_col,
            lambda c: (F.array_position(c, F.array_max(c)) - 1).cast("long"),
            name="max_classifier",
        )


class TopKClassifier(ColumnTransformer):
    """Indices of the k largest scores, descending
    (reference: nodes/util/TopKClassifier.scala)."""

    def __init__(self, k: int, in_col: str = "scores", out_col: str = "topk"):
        def expr(c: Column) -> Column:
            pairs = F.zip_with(
                c,
                F.sequence(F.lit(0), F.size(c) - 1),
                lambda s, i: F.struct(s.alias("s"), i.alias("i")),
            )
            return F.slice(
                F.reverse(F.array_sort(pairs)), 1, k
            ).cast("array<struct<s:double,i:int>>").getField("i")

        super().__init__(in_col, out_col, expr, name=f"top{k}_classifier")


class ClassLabelIndicators(ColumnTransformer):
    """int label -> ±1 one-hot vector of n classes
    (reference: nodes/util/ClassLabelIndicators.scala)."""

    def __init__(self, n_classes: int, label_col: str = "label", out_col: str = "y"):
        super().__init__(
            label_col,
            out_col,
            lambda c: F.transform(
                F.sequence(F.lit(0), F.lit(n_classes - 1)),
                lambda i: F.when(i == c.cast("int"), 1.0).otherwise(-1.0),
            ),
            name=f"class_indicators(n={n_classes})",
        )


class Sampler(Transformer):
    """Seeded uniform sample (reference: nodes/stats/Sampler.scala)."""

    def __init__(self, fraction: float, seed: int = 42):
        super().__init__(lambda df: df.sample(fraction=fraction, seed=seed),
                         f"sampler({fraction})")


class Shuffler(Transformer):
    """Seeded random row shuffle (reference: nodes/util/Shuffler.scala —
    augmentation mixing). orderBy(rand(seed)) = one deterministic sort."""

    def __init__(self, seed: int = 42):
        super().__init__(lambda df: df.orderBy(F.rand(seed)), f"shuffler({seed})")


class FloatToDouble(ColumnTransformer):
    """array<float> -> array<double> (reference: nodes/util/FloatToDouble.scala)."""

    def __init__(self, in_col: str, out_col: str | None = None):
        super().__init__(
            in_col, out_col or in_col, lambda c: c.cast("array<double>"),
            name="float_to_double",
        )


class Densify(ColumnTransformer):
    """sparse map<int,double> -> dense array of length ``dim``
    (reference: nodes/util/Densify.scala)."""

    def __init__(self, dim: int, in_col: str = "sparse", out_col: str = "features"):
        super().__init__(
            in_col,
            out_col,
            lambda c: F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at(c, i.cast("int")), F.lit(0.0)),
            ),
            name=f"densify({dim})",
        )


class Sparsify(ColumnTransformer):
    """dense array -> map<int,double> of non-zero entries
    (reference: nodes/util/Sparsify.scala)."""

    def __init__(self, in_col: str = "features", out_col: str = "sparse"):
        def expr(c: Column) -> Column:
            pairs = F.filter(
                F.zip_with(
                    F.sequence(F.lit(0), F.size(c) - 1),
                    c,
                    lambda i, x: F.struct(i.alias("i"), x.cast("double").alias("x")),
                ),
                lambda p: p.getField("x") != 0.0,
            )
            return F.map_from_arrays(
                F.transform(pairs, lambda p: p.getField("i")),
                F.transform(pairs, lambda p: p.getField("x")),
            )

        super().__init__(in_col, out_col, expr, name="sparsify")


class ImageVectorizer(ColumnTransformer):
    """Image struct -> flat double vector (reference:
    nodes/images/ImageVectorizer.scala — images are already stored flat,
    this is a struct-field projection + cast)."""

    def __init__(self, in_col: str = "image", out_col: str = "features"):
        super().__init__(
            in_col, out_col,
            lambda c: c.getField("data").cast("array<double>"),
            name="image_vectorizer",
        )


# ---------------------------------------------------------------------------
# StandardScaler (reference: nodes/stats/StandardScaler.scala)
# ---------------------------------------------------------------------------

class StandardScalerModel(Transformer):
    def __init__(self, in_col: str, out_col: str, mean: np.ndarray, std: np.ndarray):
        self.in_col, self.out_col = in_col, out_col
        self.mean, self.std = np.asarray(mean), np.asarray(std)
        safe_std = np.where(self.std == 0, 1.0, self.std)
        m, s = _lit_array(self.mean), _lit_array(safe_std)

        def apply(df: DataFrame) -> DataFrame:
            centered = F.zip_with(F.col(in_col), m, lambda x, mu: x.cast("double") - mu)
            return df.withColumn(
                out_col, F.zip_with(centered, s, lambda x, sd: x / sd)
            )

        super().__init__(apply, "standard_scaler_model")

    def save_params(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {"in_col": self.in_col, "out_col": self.out_col,
                 "mean": self.mean.tolist(), "std": self.std.tolist()},
                f,
            )

    @classmethod
    def load_params(cls, path: str) -> "StandardScalerModel":
        import json

        with open(path) as f:
            p = json.load(f)
        return cls(p["in_col"], p["out_col"], np.array(p["mean"]), np.array(p["std"]))


class StandardScaler(Estimator):
    """Fit per-dimension mean/std with ONE distributed pass.

    The reference computes Welford moments via treeAggregate; the Spark-first
    equivalent aggregates sum and sum-of-squares as array columns (partial +
    final automatically), avoiding a posexplode shuffle of n_rows*dim rows.
    """

    name = "standard_scaler"

    def __init__(self, in_col: str = "features", out_col: str | None = None):
        self.in_col, self.out_col = in_col, out_col or in_col

    def _fit(self, df: DataFrame) -> StandardScalerModel:
        in_col = self.in_col
        schema = "n long, s1 array<double>, s2 array<double>"

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # one partial-moment row per Arrow batch: the treeAggregate
            # partial step, vectorized (numpy column sums).
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.asarray(list(pdf[in_col]), dtype=np.float64)
                yield pd.DataFrame(
                    {
                        "n": [len(X)],
                        "s1": [X.sum(axis=0).tolist()],
                        "s2": [(X * X).sum(axis=0).tolist()],
                    }
                )

        parts = df.select(in_col).mapInPandas(partial, schema).collect()
        if not parts:
            raise ValueError("cannot fit StandardScaler on an empty DataFrame")
        n = sum(p.n for p in parts)
        s1 = np.sum([p.s1 for p in parts], axis=0)
        s2 = np.sum([p.s2 for p in parts], axis=0)
        mean = s1 / n
        var = np.maximum((s2 - n * mean**2) / max(n - 1, 1), 0.0)
        return StandardScalerModel(self.in_col, self.out_col, mean, np.sqrt(var))


# ---------------------------------------------------------------------------
# numpy-kernel nodes (Arrow-batched)
# ---------------------------------------------------------------------------

class PaddedFFT(Transformer):
    """Zero-pad to next pow-2 and return real-FFT magnitudes
    (reference: nodes/stats/PaddedFFT.scala). numpy.fft over Arrow batches."""

    def __init__(self, in_col: str = "features", out_col: str = "fft"):
        @pandas_udf("array<double>")
        def fft_udf(s: pd.Series) -> pd.Series:
            def one(v):
                x = np.asarray(v, dtype=np.float64)
                n = 1 << int(np.ceil(np.log2(max(len(x), 1))))
                return np.abs(np.fft.rfft(x, n=n)).tolist()

            return s.map(one)

        super().__init__(
            lambda df: df.withColumn(out_col, fft_udf(F.col(in_col))), "padded_fft"
        )


class CosineRandomFeatures(Transformer):
    """Random Fourier features cos(xW + b), W~N(0, gamma), b~U[0, 2pi],
    seeded (reference: nodes/stats/CosineRandomFeatures.scala).

    The gemm runs per Arrow batch — rowsToMatrix+BLAS, Spark-first. W/b are
    closure-captured numpy arrays (broadcast with the task, like keystone
    broadcasting model params).
    """

    def __init__(
        self,
        in_dim: int,
        out_dim: int,
        gamma: float = 1.0,
        seed: int = 42,
        in_col: str = "features",
        out_col: str = "rf",
    ):
        rng = np.random.default_rng(seed)
        W = rng.normal(scale=np.sqrt(gamma), size=(in_dim, out_dim))
        b = rng.uniform(0, 2 * np.pi, size=out_dim)

        @pandas_udf("array<double>")
        def rf_udf(s: pd.Series) -> pd.Series:
            X = np.asarray(list(s), dtype=np.float64)
            out = np.cos(X @ W + b)
            return pd.Series(list(out))

        super().__init__(
            lambda df: df.withColumn(out_col, rf_udf(F.col(in_col))),
            f"cosine_rf({out_dim},seed={seed})",
        )


class MultiLabelIndicators(ColumnTransformer):
    """array<int> labels -> ±1 multi-hot vector of n classes (reference:
    nodes/util/ClassLabelIndicators.scala
    #ClassLabelIndicatorsFromIntArrayLabels — the VOC multilabel variant)."""

    def __init__(self, n_classes: int, labels_col: str = "labels",
                 out_col: str = "y"):
        super().__init__(
            labels_col,
            out_col,
            lambda c: F.transform(
                F.sequence(F.lit(0), F.lit(n_classes - 1)),
                lambda i: F.when(
                    F.array_contains(c.cast("array<int>"), i.cast("int")), 1.0
                ).otherwise(-1.0),
            ),
            name=f"multilabel_indicators(n={n_classes})",
        )


def approx_equidepth_hist(
    df: DataFrame,
    col: str,
    n_buckets: int = 10,
    relative_error: float = 0.001,
) -> DataFrame:
    """Scale path for equi-depth histograms (the exact NTILE form needs
    a single-partition global sort — see the `equidepth_hist` declared
    query): boundaries come from approx_percentile (Greenwald-Khanna
    sketch, one partial+final agg), bucket assignment is a map-side
    array comparison against the broadcast boundary list, and the final
    counts are one hash agg. Error is bounded by the sketch's
    ``relative_error`` on RANKS, so bucket populations deviate by at
    most ~2*relative_error*N from N/n_buckets.

    Returns (bucket, n, lo, hi) like the exact form.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.agg(
        F.percentile_approx(col, qs, int(1.0 / relative_error)).alias("b")
    ).first()["b"]
    barr = F.array(*[F.lit(float(b)) for b in bounds])
    bucket = F.size(F.filter(barr, lambda b: F.col(col) > b)) + 1
    return (
        df.select(F.col(col).alias("p"), bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("p"), 6).alias("lo"),
            F.round(F.max("p"), 6).alias("hi"),
        )
        .orderBy("bucket")
    )


def ranked_series(
    df: DataFrame,
    order_by: list[Column],
    cumsum: dict[str, str] | None = None,
    n_parts: int | None = None,
    rank_col: str = "rank",
) -> tuple[DataFrame, int, dict[str, float]]:
    """EXACT global rank (and optional running totals) without the
    single-partition sort that ``Window.orderBy(...)`` with no
    partitionBy forces: the classic two-phase distributed ranking.

    1. ``repartitionByRange`` on the order keys — partition id order ==
       sort order, every partition sorts locally in parallel;
    2. one bounded aggregate (ONE ROW PER PARTITION) of per-partition
       row counts and partial sums, collected to the driver;
    3. exclusive prefix offsets broadcast back and added to a
       partition-LOCAL ``row_number`` / running-sum window.

    Row-for-row identical to ``row_number()/sum() OVER (ORDER BY ...)``,
    but at 10⁸+ rows the sort is spread over ``n_parts`` tasks instead
    of funneled through one. Driver-side data is one row per partition —
    never the series. Running totals accumulate partition partials, so
    cumulative doubles can differ from a strictly sequential fold by
    ~1e-15 relative (document thresholds accordingly).

    The range-partitioned intermediate is pinned with an EAGER local
    checkpoint (``caches.checkpoint``) before the stats collect:
    ``repartitionByRange``
    samples its boundaries with an RDD-id-derived seed, so two separate
    actions (the stats job here, the caller's output job later) could
    otherwise land on DIFFERENT boundaries whenever boundary sampling is
    a strict subset of the data — exactly the large-input regime this
    function exists for — silently mismatching the collected offsets.
    The checkpoint freezes one physical partitioning that both jobs
    read. The returned DataFrame owns it: free its blocks with
    ``caches.release(df_out)`` once the output is materialized.

    ``order_by`` must define a TOTAL order (include a tiebreaker).
    ``cumsum`` maps source column -> output running-total column.
    Cumsum columns should be non-null numerics; offsets are carried as
    doubles (inexact above 2^53 for integer inputs), and NULL entries
    are treated as 0 within a partition's prefix (``coalesce``) so a
    leading all-NULL run yields the carried offset rather than NULL —
    a strict global window would yield NULL until the first non-null.
    Returns ``(df_out, n_total, grand_totals)`` — the grand totals come
    free from the same bounded aggregate (no extra job).
    """
    from pyspark.sql import Window

    cumsum = cumsum or {}
    spark = df.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = checkpoint(
        df.repartitionByRange(int(n_parts), *order_by)
        .withColumn("__pid", F.spark_partition_id())
    )
    aggs = [F.count("*").alias("__n")] + [
        F.sum(c).alias(f"__s_{c}") for c in cumsum
    ]
    stats = sorted(
        part.groupBy("__pid").agg(*aggs).collect(), key=lambda r: r["__pid"]
    )
    offs, run_n = [], 0
    run_s = {c: 0.0 for c in cumsum}
    for r in stats:
        offs.append(
            (int(r["__pid"]), run_n, *[float(run_s[c]) for c in cumsum])
        )
        run_n += r["__n"]
        for c in cumsum:
            run_s[c] += float(r[f"__s_{c}"] or 0.0)
    schema = "__pid int, __rank_off long" + "".join(
        f", __off_{c} double" for c in cumsum
    )
    off_df = spark.createDataFrame(offs or [(0, 0, *[0.0] * len(cumsum))],
                                   schema)
    out = part.join(F.broadcast(off_df), "__pid")
    w = Window.partitionBy("__pid").orderBy(*order_by)
    out = out.withColumn(
        rank_col, F.row_number().over(w) + F.col("__rank_off")
    )
    drop = ["__pid", "__rank_off"]
    for c, name in cumsum.items():
        out = out.withColumn(
            name,
            F.coalesce(
                F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0)),
                F.lit(0.0),
            )
            + F.col(f"__off_{c}"),
        )
        drop.append(f"__off_{c}")
    return attach(out.drop(*drop), part), run_n, dict(run_s)


def ntile_from_rank(rank_col: str, n_total: int, k: int) -> Column:
    """NTILE(k) recomputed from an exact global rank and the known total
    count — pure integer arithmetic, no window at all. Matches Spark /
    ANSI NTILE semantics exactly: the first ``n_total mod k`` buckets get
    ``ceil(n/k)`` rows, the rest ``floor(n/k)``. Pair with
    ``ranked_series`` to replace ``ntile(k).over(Window.orderBy(...))``
    scale-safely."""
    base, rem = divmod(int(n_total), int(k))
    r = F.col(rank_col)
    if base == 0:
        return r
    cut = rem * (base + 1)
    return (
        F.when(r <= cut, F.floor((r - 1) / (base + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((r - cut - 1) / base) + 1)
    ).cast("long")


def mad_outlier_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier profile via MAD (median absolute
    deviation): ``med = median(value)``, ``mad = median(|value - med|)``,
    outlier iff ``|value - med| > k * 1.4826 * mad`` (1.4826 scales MAD
    to sigma under normality, so ``k`` reads as a robust z-score —
    unlike mean/std fences, a contaminated tail cannot drag the fence
    toward itself). Returns one row per group: ``(group_col, n, med,
    mad, n_outliers, outlier_frac)``.

    Three key-partitioned aggregations over a low-cardinality group
    domain (each partial+final, medians exact interpolated percentiles)
    with the tiny per-group tables broadcast back onto the scan — the
    corpus is read twice, nothing else scales with it. For a
    high-cardinality group column swap the exact median for
    ``percentile_approx`` (Greenwald-Khanna) and keep the same shape."""
    med = df.groupBy(group_col).agg(
        F.median(value_col).alias("__med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.groupBy(group_col).agg(F.median("__adev").alias("__mad"))
    flagged = dev.join(F.broadcast(mad), group_col).withColumn(
        "__out",
        (F.col("__adev") > F.lit(k) * F.lit(1.4826) * F.col("__mad"))
        .cast("int"),
    )
    return flagged.groupBy(group_col).agg(
        # count the VALUE column, not *: med/mad/avg all ignore NULL
        # values, so n must use the same population for outlier_frac
        # to read as n_outliers / n
        F.count(F.col(value_col)).cast("long").alias("n"),
        F.round(F.first("__med"), 6).alias("med"),
        F.round(F.first("__mad"), 6).alias("mad"),
        F.sum("__out").cast("long").alias("n_outliers"),
        F.round(F.avg("__out"), 6).alias("outlier_frac"),
    )
