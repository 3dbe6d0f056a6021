"""Model evaluation (M5) — prediction + confusion/error aggregation.

Replaces the reference's ``EvaluateDataset.testDataset`` →
PerformanceMeasure → Counters path (Iterative_svm/Itergsv.java:95-97)
with a predictions DataFrame and plain grouped aggregation, so the
metrics are themselves queryable (and `observe`-able for driver
feedback, C2 — Iterative_svm/Driver.java:81).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion(pred_df: DataFrame) -> DataFrame:
    """(label, pred, n) confusion matrix — the reference's per-class
    PerformanceMeasure re-expressed as a grouped count."""
    return pred_df.groupBy("label", "pred").agg(F.count("*").alias("n"))


def accuracy(pred_df: DataFrame) -> float:
    row = pred_df.agg(
        F.avg((F.col("label") == F.col("pred")).cast("double")).alias("acc")
    ).collect()[0]
    return float(row.acc)

