"""Evaluators as SQL aggregations (reference: src/main/scala/evaluation/).

Every metric here is a declarative aggregation over (label, pred[, score])
columns — confusion matrices and P/R/F1 are GROUP BY + conditional counts,
mAP is a window ranking. Richer than pyspark.ml's scalar-only evaluators
(the reference's MulticlassClassifierEvaluator returns the full per-class
breakdown), and it all runs as one Tungsten hash-agg per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def confusion_matrix(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """(label, pred, cnt) counts — the core of
    evaluation/MulticlassClassifierEvaluator.scala — ordered by (label,
    pred). There are at most n_classes^2 rows, so they are sorted inside
    one partition: a global ``orderBy`` would add a range-partition
    sample job and a second shuffle to every collect."""
    return (
        df.groupBy(F.col(label_col).alias("label"), F.col(pred_col).alias("pred"))
        .agg(F.count("*").alias("cnt"))
        .coalesce(1)
        .sortWithinPartitions("label", "pred")
    )


def multiclass_metrics(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """Per-class precision/recall/F1 (+ support), one row per class.

    Derived from the confusion counts entirely in SQL:
    tp = cnt where label == pred; fp = predicted-as-c minus tp; etc.
    """
    cm = confusion_matrix(df, label_col, pred_col)
    tp = cm.where(F.col("label") == F.col("pred")).select(
        F.col("label").alias("cls"), F.col("cnt").alias("tp")
    )
    pred_tot = cm.groupBy(F.col("pred").alias("cls")).agg(F.sum("cnt").alias("pred_n"))
    label_tot = cm.groupBy(F.col("label").alias("cls")).agg(F.sum("cnt").alias("true_n"))
    out = (
        label_tot.join(pred_tot, "cls", "full")
        .join(tp, "cls", "left")
        .na.fill({"tp": 0, "pred_n": 0, "true_n": 0})
    )
    prec = F.when(F.col("pred_n") > 0, F.col("tp") / F.col("pred_n")).otherwise(0.0)
    rec = F.when(F.col("true_n") > 0, F.col("tp") / F.col("true_n")).otherwise(0.0)
    return (
        out.select(
            "cls",
            F.col("true_n").alias("support"),
            F.round(prec, 6).alias("precision"),
            F.round(rec, 6).alias("recall"),
            F.round(
                F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0), 6
            ).alias("f1"),
        )
        .orderBy("cls")
    )


def accuracy(df: DataFrame, label_col: str = "label", pred_col: str = "pred") -> float:
    row = df.agg(
        (F.sum((F.col(label_col) == F.col(pred_col)).cast("long")) / F.count("*")).alias("a")
    ).first()
    return float(row.a)


def binary_metrics(
    df: DataFrame, label_col: str = "label", pred_col: str = "pred"
) -> DataFrame:
    """tp/fp/tn/fn + accuracy/precision/recall/F1 in ONE pass of
    conditional-count aggregates (reference:
    evaluation/BinaryClassifierEvaluator.scala). Labels/preds are 0/1."""
    y, p = F.col(label_col).cast("int"), F.col(pred_col).cast("int")
    agg = df.agg(
        F.sum(((y == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((y == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((y == 0) & (p == 0)).cast("long")).alias("tn"),
        F.sum(((y == 1) & (p == 0)).cast("long")).alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(0.0)
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(0.0)
    return agg.select(
        "tp", "fp", "tn", "fn",
        F.round((tp + tn) / (tp + fp + tn + fn), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0), 6).alias("f1"),
    )


def augmented_examples_eval(
    df: DataFrame,
    source_id_col: str = "img_id",
    scores_col: str = "scores",
    label_col: str = "label",
) -> DataFrame:
    """Aggregate per-augmented-copy score vectors by source id (elementwise
    mean), then argmax -> prediction per source (reference:
    evaluation/AugmentedExamplesEvaluator.scala).

    posexplode + groupBy(id, dim) + avg + collect back = pure SQL; the
    array rebuild sorts by dim so the argmax is deterministic.
    """
    per_dim = (
        df.select(source_id_col, label_col, F.posexplode(scores_col).alias("i", "s"))
        .groupBy(source_id_col, label_col, "i")
        .agg(F.avg("s").alias("avg_s"))
    )
    rebuilt = (
        per_dim.groupBy(source_id_col, label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("avg_s")))
            ).alias("pairs")
        )
        .withColumn("avg_scores", F.transform("pairs", lambda p: p.getField("avg_s")))
    )
    pred = (
        F.array_position(
            F.col("avg_scores"), F.array_max(F.col("avg_scores"))
        ) - 1
    ).cast("long")
    return rebuilt.select(
        source_id_col, label_col, "avg_scores", pred.alias("pred")
    )


def mean_average_precision(
    df: DataFrame,
    class_col: str = "cls",
    score_col: str = "score",
    relevant_col: str = "relevant",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-class average precision over score-ranked rows, VOC-style
    (reference: evaluation/MeanAveragePrecisionEvaluator.scala).

    AP(class) = mean over relevant rows of (running precision at that rank).
    Window rank per class + running conditional count — no collect.
    """
    order = [F.col(score_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(class_col).orderBy(*order)
    ranked = df.withColumn("__rk", F.row_number().over(w)).withColumn(
        "__cum_rel",
        F.sum(F.col(relevant_col).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_hit = ranked.where(F.col(relevant_col).cast("int") == 1).select(
        class_col, (F.col("__cum_rel") / F.col("__rk")).alias("__p_at_k")
    )
    return (
        per_hit.groupBy(class_col)
        .agg(F.round(F.avg("__p_at_k"), 6).alias("ap"))
        .orderBy(class_col)
    )
