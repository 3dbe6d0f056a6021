"""Partition-grained SVM training as a grouped-map Pandas UDF.

The reference's S2+M1 pattern — ``TrainingSubsetInputFormat`` hands a
whole subset file to one mapper which trains LibSVM on it
(cascade_svm/Midcascade.java:101-131) — is Spark-native as
``groupBy('bucket').applyInPandas(train)``: the exchange on the
grouping key IS the subset shuffle, and Arrow batches the subset into
the Python worker.

Scale: one group = one training problem. The engine's contract
(cascade/bagging/iterative) keeps groups at O(10³-10⁴) rows no matter
the total data size — that is the premise of partitioned SVM training
(PDF slides 12-17) — so executor memory per task is bounded by the
subset, not the dataset. k scales with data; the solver never sees
more than a subset + the (small, distilled) SV set.

One trainer path: every cascade layer, iterative round, bagging model
and final retrain is one ``fit_buckets`` call — bucket tasks, and
inside each task ``smo.train_svc`` solves the one-vs-one pairs on
threads. A narrow layer (few buckets) therefore still uses the
executor's cores without replicating rows across pairs.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from parallel_svms_spark.ml import smo

# wide output schema shared by all three algorithm drivers:
#   kind='sv'     → one row per support vector (M2, Midcascade.java:123-128)
#   kind='err'    → per-class training-error metric rows (M5/A4,
#                   Itergsv.java:95-97): err = floor(class_error_rate*100)
#   kind='model'  → one row per bucket with the serialized model (S4)
# w: on 'sv' rows, the row's largest |dual coef| over the bucket
# model's pairs (= its max α); cascade._cap_bucket_rows sheds the
# smallest first. Null on the other kinds.
FIT_SCHEMA = ("bucket int, kind string, vec_id long, label int, "
              "embedding array<float>, err long, model_json string, "
              "w double")


def fit_buckets(df: DataFrame, C: float = 1.0, gamma: float | None = None,
                kernel: str = "rbf", eps: float = 1e-3,
                with_model: bool = False, eval_train: bool = False,
                k: int | None = None) -> DataFrame:
    """M1 per-bucket C-SVC train over ``groupBy('bucket')``.

    df columns: vec_id, label, embedding, bucket. Returns FIT_SCHEMA
    rows. LibSVM-default params (C=1, γ=1/n_features, eps=1e-3 —
    cascade_svm/Midcascade.java:62-81).

    Pass ``k`` (the bucket count) whenever known: it pins the exchange
    to k partitions so every bucket trains in its own task. Without it,
    AQE's byte-based coalescing can pack all buckets into one partition
    — training cost is CPU-per-group, not bytes, so the byte heuristic
    serializes the whole layer (observed: 32→1 partitions on the test
    fixture; the same mis-sizing would hit a real cluster).
    """
    if k is not None:
        # 4k partitions, not k: hash partitioning scatters k distinct
        # bucket values, and with exactly k slots two buckets collide
        # with high probability (k=4: 91%), serializing those
        # trainings; 4k slots cut max-load to ~1-2 buckets/task
        df = df.repartition(4 * k, "bucket")

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        # deterministic row order regardless of shuffle arrival order
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        y = pdf["label"].to_numpy()
        model = smo.train_svc(X, y, C=C, gamma=gamma, kernel=kernel, eps=eps)
        sv = pdf.iloc[model.sv_orig_idx]
        w = np.zeros(model.n_sv)
        for idx, coef in model.pair_coefs.values():
            w[idx] = np.maximum(w[idx], np.abs(coef))
        out = pd.DataFrame({
            "bucket": bucket, "kind": "sv",
            "vec_id": sv["vec_id"].to_numpy(),
            "label": sv["label"].to_numpy(),
            "embedding": sv["embedding"].to_numpy(),
            "err": np.int64(0), "model_json": None, "w": w,
        })
        extra = []
        if eval_train:
            pred = model.predict(X)
            for cls in model.classes:
                mask = y == cls
                rate = float((pred[mask] != cls).mean()) if mask.any() else 0.0
                extra.append({"bucket": bucket, "kind": "err",
                              "vec_id": -1, "label": int(cls),
                              "embedding": None,
                              "err": np.int64(np.floor(rate * 100)),
                              "model_json": None})
        if with_model:
            extra.append({"bucket": bucket, "kind": "model", "vec_id": -1,
                          "label": -1, "embedding": None, "err": np.int64(0),
                          "model_json": json.dumps(model.to_dict())})
        if extra:
            out = pd.concat([out, pd.DataFrame(extra)], ignore_index=True)
        return out

    return df.groupBy("bucket").applyInPandas(train, schema=FIT_SCHEMA)


def svs_only(fit_result: DataFrame) -> DataFrame:
    return (fit_result.filter(fit_result.kind == "sv")
            .select("bucket", "vec_id", "label", "embedding"))


def collect_models(fit_result: DataFrame) -> dict[int, smo.SVCModel]:
    """Driver-side: bucket → model (model rows are k small JSON blobs)."""
    rows = fit_result.filter(fit_result.kind == "model") \
                     .select("bucket", "model_json").collect()
    return {r.bucket: smo.SVCModel.from_dict(json.loads(r.model_json))
            for r in rows}


def err_sum(fit_result: DataFrame) -> int:
    """A4 errorsum: Σ_buckets Σ_class floor(class_error_rate×100)
    (TOTAL_MIS_CLF counter, Iterative_svm/Itergsv.java:95-97)."""
    row = (fit_result.filter(fit_result.kind == "err")
           .agg({"err": "sum"}).collect()[0][0])
    return int(row) if row is not None else 0


def predict_df(df: DataFrame, model: smo.SVCModel,
               id_col: str = "vec_id", label_col: str = "label",
               features_col: str = "embedding") -> DataFrame:
    """Distributed scoring: broadcast the model, mapInPandas batches.

    The model (SV matrix + coefs) is the only state shipped — same
    shape as the reference's DistributedCache model shipping (S5).
    """
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(model.to_dict())
    has_label = label_col in df.columns
    cols = [id_col, features_col] + ([label_col] if has_label else [])
    schema = f"{id_col} long, " + (f"{label_col} int, " if has_label else "") \
             + "pred int"

    def score(it):
        m = smo.SVCModel.from_dict(bc.value)
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[features_col].to_numpy()).astype(np.float64)
            out = {id_col: pdf[id_col].to_numpy()}
            if has_label:
                out[label_col] = pdf[label_col].to_numpy()
            out["pred"] = m.predict(X).astype(np.int32)
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(score, schema=schema)
