"""The workloads' training jobs, predict paths and driver-local
reference predictions, driven only through the program's public
functions."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_svms_spark.io import sources
from parallel_svms_spark.ml import bagging, cascade, iterative, trainer

# bucket count of each workload's training job
K = {"cascade_mnist": 8, "iterative_overlap": 4}
BAGGING_K = 16

# holdout accuracy below which a run fails (the generator targets
# ~0.97 and ~0.75)
ACCURACY_FLOOR = {"cascade_mnist": 0.93, "iterative_overlap": 0.65}

ROW_SCHEMA = "vec_id long, label int, embedding array<float>"


def load(spark: SparkSession, path: str) -> DataFrame:
    """Reference dense CSV on disk -> the ``(vec_id, label, embedding)``
    frame every ML operator takes. Ids follow the file layout, so the
    same files give the same ids."""
    return sources.read_dense_csv(spark, path).select(
        F.monotonically_increasing_id().alias("vec_id"), "label",
        F.col("features").cast("array<float>").alias("embedding"))


class Trained:
    """A training job's result: the model (one SVCModel, or a dict of
    bagging models) plus what the job reported on the way."""

    def __init__(self, model, info: dict):
        self.model = model
        self.info = info

    @property
    def models(self) -> list:
        if isinstance(self.model, dict):
            return [m for _, m in sorted(self.model.items())]
        return [self.model]

    @property
    def n_sv(self) -> int:
        return sum(m.n_sv for m in self.models)


def train(workload: str, df: DataFrame, span=None,
          stats: bool = False) -> Trained:
    """One training job, from the loaded frame to the model on the
    driver. ``span(name)`` wraps each public call when tracing; its
    ``lazy(df)`` materializes a lazy result in the traced run only.
    ``stats`` asks ``cascade_train`` for its per-layer row counts, which
    costs an extra materialization and count per layer (~1 s of a ~6 s
    job), so timed jobs make the plain call."""
    span = span or no_span
    k = K[workload]
    if workload == "cascade_mnist":
        out: dict | None = {} if stats else None
        with span("ml.cascade.cascade_train"):
            model, _ = cascade.cascade_train(df, k=k, stats_out=out)
        if out is None:
            return Trained(model, {})
        return Trained(model, {"layers": [n for _, n in out["layers"]],
                               "shed": list(out.get("shed", []))})
    with span("ml.iterative.iterative_train"):
        gsv, errorsums = iterative.iterative_train(df, k=k)
    with span("ml.trainer.fit_buckets") as s:
        fit = s.lazy(trainer.fit_buckets(
            gsv.withColumn("bucket", F.lit(0)), with_model=True, k=1))
    with span("ml.trainer.collect_models"):
        model = trainer.collect_models(fit)[0]
    return Trained(model, {"errorsums": errorsums, "gsv": gsv})


def train_bagging(df: DataFrame) -> Trained:
    models, _ = bagging.bagging_train(df, k=BAGGING_K)
    return Trained(models, {})


def predict(df: DataFrame, trained: Trained) -> DataFrame:
    """The distributed predict path of a trained model (lazy): the
    majority vote for bagging models, else ``predict_df``."""
    if isinstance(trained.model, dict):
        return bagging.bagging_predict(df, trained.model)
    return trainer.predict_df(df, trained.model)


def predict_local(trained: Trained, X: np.ndarray) -> np.ndarray:
    """Driver-local reference for ``predict``: ``SVCModel.predict``,
    and for bagging the majority vote with ties to the lowest class."""
    X = np.asarray(X, dtype=np.float64)
    if not isinstance(trained.model, dict):
        return trained.model.predict(X)
    classes = np.unique(np.concatenate([m.classes for m in trained.models]))
    votes = np.zeros((len(X), len(classes)), dtype=np.int64)
    for m in trained.models:
        votes[np.arange(len(X)), np.searchsorted(classes, m.predict(X))] += 1
    return classes[np.argmax(votes, axis=1)]


def model_payload(trained: Trained):
    """What the predict path broadcasts for this model."""
    if isinstance(trained.model, dict):
        return {b: m.to_dict() for b, m in trained.model.items()}
    return trained.model.to_dict()


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def lazy(self, df):
        return df


def no_span(name):
    """Stand-in for ``Tracer.span`` in untraced runs."""
    return _NoSpan()
