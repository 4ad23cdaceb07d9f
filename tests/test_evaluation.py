"""Evaluator tests vs sklearn-style closed forms computed by hand."""

import numpy as np
import pytest

from keystone_spark.operators.evaluation import (
    accuracy,
    binary_metrics,
    confusion_matrix,
    mean_average_precision,
    multiclass_metrics,
)


def _preds_df(spark):
    # labels:  0 0 0 1 1 2
    # preds:   0 1 0 1 1 0
    rows = [(0, 0), (0, 1), (0, 0), (1, 1), (1, 1), (2, 0)]
    return spark.createDataFrame(rows, "label int, pred int")


def test_confusion_matrix(spark):
    cm = {(r.label, r.pred): r.cnt for r in confusion_matrix(_preds_df(spark)).collect()}
    assert cm == {(0, 0): 2, (0, 1): 1, (1, 1): 2, (2, 0): 1}


def test_confusion_matrix_collect_runs_two_jobs(spark):
    """The (label, pred) rows come back in order from one aggregation
    job and one single-partition sort: no range-partition sample job and
    no second shuffle, as a global orderBy would add."""
    from pyspark.sql import functions as F

    df = spark.range(0, 2000, numPartitions=4).select(
        (F.col("id") % 4).alias("label"), (F.col("id") % 7 % 3).alias("pred"))
    sc = spark.sparkContext
    sc.setJobGroup("confusion-collect", "confusion-collect")
    try:
        rows = [tuple(r) for r in confusion_matrix(df).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("confusion-collect")) == 2
    expected = [tuple(r) for r in df.groupBy("label", "pred").count()
                .orderBy("label", "pred").collect()]
    assert rows == expected and len(rows) == 12


def test_accuracy(spark):
    assert abs(accuracy(_preds_df(spark)) - 4 / 6) < 1e-9


def test_multiclass_metrics(spark):
    m = {r.cls: r for r in multiclass_metrics(_preds_df(spark)).collect()}
    assert abs(m[0].precision - 2 / 3) < 1e-6   # predicted 0 three times, 2 right
    assert abs(m[0].recall - 2 / 3) < 1e-6      # 3 true 0s, 2 found
    assert abs(m[1].precision - 2 / 3) < 1e-6
    assert m[1].recall == 1.0
    assert m[2].precision == 0.0 and m[2].recall == 0.0
    assert m[2].support == 1


def test_binary_metrics(spark):
    rows = [(1, 1), (1, 1), (1, 0), (0, 1), (0, 0), (0, 0)]
    df = spark.createDataFrame(rows, "label int, pred int")
    r = binary_metrics(df).first()
    assert (r.tp, r.fp, r.tn, r.fn) == (2, 1, 2, 1)
    assert abs(r.precision - 2 / 3) < 1e-6
    assert abs(r.recall - 2 / 3) < 1e-6
    assert abs(r.accuracy - 4 / 6) < 1e-6


def test_mean_average_precision(spark):
    # one class; ranked by score: rel, not, rel -> AP = (1/1 + 2/3)/2
    rows = [("a", 0.9, 1), ("a", 0.8, 0), ("a", 0.7, 1)]
    df = spark.createDataFrame(rows, "cls string, score double, relevant int")
    ap = mean_average_precision(df).first().ap
    assert abs(ap - (1.0 + 2 / 3) / 2) < 1e-6


def test_augmented_examples_eval(spark):
    # two augmented copies per source: mean of score vectors then argmax
    from keystone_spark.operators.evaluation import augmented_examples_eval

    df = spark.createDataFrame(
        [
            ("a", 1, [0.9, 0.1]), ("a", 1, [0.1, 0.9]),   # mean [.5,.5] -> argmax 0
            ("b", 1, [0.2, 0.8]), ("b", 1, [0.0, 1.0]),   # mean [.1,.9] -> argmax 1
        ],
        "img_id string, label int, scores array<double>",
    )
    out = {r.img_id: r for r in augmented_examples_eval(df).collect()}
    assert out["a"].pred == 0 and out["b"].pred == 1
    assert out["b"].avg_scores == [pytest.approx(0.1), pytest.approx(0.9)]
