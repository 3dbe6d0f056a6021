"""Bagging SVM driver (entry point 2 — Bagging_svm/Driver.main,
Driver.java:36-66; SURVEY §3.2).

Reference shape: pre-partition into k subsets, then ONE map-only job
(0 reducers, Bagging1.java:5) trains an independent model per subset
and persists each (`model-<taskId>.model`, Bagging1.java:28,126).
Majority-vote inference is described in the paper (PDF slides 14-15)
but absent from the code — implemented here as scoring + argmax-vote
(documented addition, SURVEY §7.6).

Scale: embarrassingly parallel — one shuffle to form buckets, then a
single grouped-map stage; inference broadcasts the k models once and
scores map-side (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.ml.smo import SVCModel
from parallel_svms_spark.operators.partitioning import balanced_buckets


def bagging_train(df: DataFrame, k: int, C: float = 1.0,
                  gamma: float | None = None, kernel: str = "rbf",
                  ) -> tuple[dict[int, SVCModel], DataFrame]:
    """Train k independent per-subset models; returns
    ({bucket: model}, all SVs unioned — the `base-model-SVs` output of
    Bagging1.java:127-131).

    Raises ``ValueError`` when no bucket holds two classes: every model
    would then have no support vector.
    """
    cur = balanced_buckets(df, k)
    fit = trainer.fit_buckets(cur, C=C, gamma=gamma, kernel=kernel,
                              with_model=True, k=k).localCheckpoint()
    models = trainer.collect_models(fit)
    if all(m.n_sv == 0 for m in models.values()):
        # only a single-class bucket trains to no SVs
        raise ValueError(f"bagging_train: no bucket of {k} held two "
                         "classes, so no model has a support vector")
    return models, trainer.svs_only(fit)


def bagging_predict(df: DataFrame, models: dict[int, SVCModel],
                    id_col: str = "vec_id", label_col: str = "label",
                    features_col: str = "embedding") -> DataFrame:
    """Majority vote over the k models; ties → lowest class label
    (deterministic — the paper does not specify a tie rule)."""
    return trainer.vote_df(df, [models[b] for b in sorted(models)],
                           id_col, label_col, features_col)
