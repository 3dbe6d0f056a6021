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

One trainer path: every bucket of every cascade layer, iterative
round, bagging fit and final retrain is one ``train_bucket`` call —
in its own task under ``fit_buckets`` or under an iterative round's
grouped map (``iterative._round_fit``), or in sequence inside the one
task that runs every cascade layer after layer 0 — and inside it
``smo.train_svc`` solves the one-vs-one pairs on threads. A narrow
layer (few buckets) therefore still uses the executor's cores without
replicating rows across pairs.
"""

from __future__ import annotations

import hashlib
import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from parallel_svms_spark.ml import smo

# wide output schema shared by all three algorithm drivers:
#   kind='sv'     → one row per support vector (M2, Midcascade.java:123-128)
#   kind='err'    → per-class training-error metric rows (M5/A4,
#                   Itergsv.java:95-97): err = floor(class_error_rate*100)
#   kind='model'  → one row per bucket whose ``model`` is the pickled
#                   SVCModel (S4); ``models_of`` decodes it
#   kind='stat'   → one row per trained bucket: n_in rows arrived,
#                   n_shed of them the row cap dropped, n_sv SVs came
#                   out; ``layer`` counts cascade merge layers from
#                   layer 0 (always 0 for ``fit_buckets``)
# w: on 'sv' rows, the row's largest |dual coef| over the bucket
# model's pairs (= its max α); ``cap_bucket_rows`` sheds the smallest
# first. Null on the other kinds.
FIT_SCHEMA = ("bucket int, kind string, vec_id long, label int, "
              "embedding array<float>, err long, model binary, "
              "w double, layer int, n_in long, n_shed long, n_sv long")
FIT_COLUMNS = [c.split()[0] for c in FIT_SCHEMA.split(", ")]


def _md5_hex(vec_id) -> str:
    # Spark's md5(cast(vec_id as string)): decimal digits, lowercase hex
    return hashlib.md5(str(int(vec_id)).encode()).hexdigest()


def cap_bucket_rows(pdf: pd.DataFrame, cap: int | None) -> pd.DataFrame:
    """Keep at most ``cap`` of one bucket's rows — the cascade's
    graceful worst case (VERDICT r6 #2). With adversarial labels that
    shed NO support vectors, merged buckets approach corpus size and
    the per-pair kernel matrices go quadratic in memory (the measured
    OOM at 100k degenerate-label rows, BASELINE.md 20×/50× row); past
    the cap the layer degrades in ACCURACY (a documented subsample of
    the bucket) instead of crashing.

    Selection is round-robin STRATIFIED by label: rows rank first
    within their label, then across the bucket by that per-label rank
    — so the kept rows take one row per class per round and no class
    is starved even when the bucket is 99% one label. WITHIN a label
    the order is accuracy-aware when rows carry a ``w`` (the max dual
    α the previous layer's fit emitted): highest-|α| rows — the
    C-bound and tight-margin rows that carry the decision boundary —
    rank first, so the cap sheds the flattest duals, not a coin's pick
    (VERDICT r7 #6). Rows never trained (layer-0 input) have no ``w``
    and fall back to the deterministic coin ``md5(str(vec_id))``; ties
    break on that hash, then on ``vec_id``. The order is a function of
    the rows alone — re-runs and any arrival order keep the same
    subsample — and a bucket at or under the cap passes through
    untouched, so the well-behaved path (real data shedding SVs per
    layer) never observes the cap.
    """
    if cap is None or len(pdf) <= cap:
        return pdf
    w = pdf["w"] if "w" in pdf.columns else pd.Series(np.nan, pdf.index)
    key = pd.DataFrame({"label": pdf["label"].to_numpy(),
                        "w": w.to_numpy(dtype=np.float64),
                        "h": pdf["vec_id"].map(_md5_hex).to_numpy(),
                        "vec_id": pdf["vec_id"].to_numpy()})
    key = key.sort_values(["label", "w", "h", "vec_id"],
                          ascending=[True, False, True, True],
                          na_position="last", kind="mergesort")
    key["rank"] = key.groupby("label", sort=False).cumcount()
    key = key.sort_values(["rank", "h", "vec_id"], kind="mergesort")
    return pdf.iloc[key.index[:cap]]


def train_bucket(pdf: pd.DataFrame, C: float = 1.0,
                 gamma: float | None = None, kernel: str = "rbf",
                 eps: float = 1e-3, with_model: bool = False,
                 eval_train: bool = False,
                 max_rows_per_bucket: int | None = None,
                 ) -> tuple[pd.DataFrame, list[dict]]:
    """Train one bucket's rows (vec_id, label, embedding, bucket[, w]):
    cap them, sort by ``vec_id``, solve. Returns the SV rows and the
    bucket's other FIT_SCHEMA rows (stat, then err/model on request).

    The result depends only on the set of rows, never on their order,
    so a bucket trained in its own Spark task and the same bucket
    trained inside a larger task give bit-identical models.
    """
    bucket = int(pdf["bucket"].iloc[0])
    n_in = len(pdf)
    pdf = cap_bucket_rows(pdf, max_rows_per_bucket)
    # deterministic row order regardless of shuffle arrival order
    pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    y = pdf["label"].to_numpy()
    model = smo.train_svc(X, y, C=C, gamma=gamma, kernel=kernel, eps=eps)
    sv = pdf.iloc[model.sv_orig_idx]
    w = np.zeros(model.n_sv)
    for idx, coef in model.pair_coefs.values():
        w[idx] = np.maximum(w[idx], np.abs(coef))
    svs = pd.DataFrame({
        "bucket": bucket, "kind": "sv",
        "vec_id": sv["vec_id"].to_numpy(),
        "label": sv["label"].to_numpy(),
        "embedding": sv["embedding"].to_numpy(),
        "err": np.int64(0), "model": None, "w": w,
    })
    extra = [{"bucket": bucket, "kind": "stat", "vec_id": -1, "label": -1,
              "layer": 0, "n_in": n_in, "n_shed": n_in - len(pdf),
              "n_sv": model.n_sv}]
    if eval_train:
        pred = model.predict(X)
        for cls in model.classes:
            mask = y == cls
            rate = float((pred[mask] != cls).mean()) if mask.any() else 0.0
            extra.append({"bucket": bucket, "kind": "err",
                          "vec_id": -1, "label": int(cls),
                          "err": np.int64(np.floor(rate * 100))})
    if with_model:
        extra.append({"bucket": bucket, "kind": "model", "vec_id": -1,
                      "label": -1, "err": np.int64(0),
                      "model": pickle.dumps(model)})
    return svs, extra


def fit_rows(svs: pd.DataFrame, extra: list[dict]) -> pd.DataFrame:
    """SV rows plus extra row dicts as one frame in FIT_SCHEMA's
    column order (columns a row leaves out are null)."""
    extra = pd.DataFrame([{"embedding": None, "model": None, **r}
                          for r in extra])
    out = pd.concat([svs, extra], ignore_index=True)
    return out.reindex(columns=FIT_COLUMNS)


def fit_buckets(df: DataFrame, C: float = 1.0, gamma: float | None = None,
                kernel: str = "rbf", eps: float = 1e-3,
                with_model: bool = False, eval_train: bool = False,
                k: int | None = None,
                max_rows_per_bucket: int | None = None) -> DataFrame:
    """M1 per-bucket C-SVC train over ``groupBy('bucket')``.

    df columns: vec_id, label, embedding, bucket[, w]. Returns
    FIT_SCHEMA rows, one ``stat`` row per bucket among them.
    LibSVM-default params (C=1, γ=1/n_features, eps=1e-3 —
    cascade_svm/Midcascade.java:62-81). ``max_rows_per_bucket`` caps
    each bucket inside its task (``cap_bucket_rows``) before it trains.

    Pass ``k`` (the bucket count, buckets numbered 0..k-1) whenever
    known: partition i then holds exactly bucket i, so every bucket
    trains in its own task and the grouped map reuses that one
    exchange. Without it the grouping exchange is hash-partitioned and
    AQE's byte-based coalescing may pack several buckets into one task
    — training cost is CPU per group, not bytes.
    """
    if k is not None:
        df = df.repartitionById(k, "bucket")

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        return fit_rows(*train_bucket(
            pdf, C=C, gamma=gamma, kernel=kernel, eps=eps,
            with_model=with_model, eval_train=eval_train,
            max_rows_per_bucket=max_rows_per_bucket))

    return df.groupBy("bucket").applyInPandas(train, schema=FIT_SCHEMA)


def svs_only(fit_result: DataFrame) -> DataFrame:
    return (fit_result.filter(fit_result.kind == "sv")
            .select("bucket", "vec_id", "label", "embedding"))


def models_of(rows) -> dict[int, smo.SVCModel]:
    """bucket → model of the ``model`` rows among FIT_SCHEMA rows
    (Spark ``Row``s or named tuples), which ``train_bucket`` fills with
    the pickled in-task model: the decoded model is that object, every
    array with its dtype."""
    return {r.bucket: pickle.loads(r.model) for r in rows
            if r.kind == "model"}


def collect_models(fit_result: DataFrame) -> dict[int, smo.SVCModel]:
    """Driver-side: bucket → model, from one collect of the fit's model
    rows (one pickled model per bucket)."""
    return models_of(fit_result.filter(fit_result.kind == "model")
                     .select("bucket", "kind", "model").collect())


def predict_df(df: DataFrame, model: smo.SVCModel,
               id_col: str = "vec_id", label_col: str = "label",
               features_col: str = "embedding") -> DataFrame:
    """Distributed scoring: broadcast the model, mapInPandas batches.

    The model (SV matrix + coefs) is the only state shipped — same
    shape as the reference's DistributedCache model shipping (S5).
    """
    return vote_df(df, [model], id_col, label_col, features_col)


def vote_df(df: DataFrame, models: list[smo.SVCModel],
            id_col: str = "vec_id", label_col: str = "label",
            features_col: str = "embedding") -> DataFrame:
    """Majority vote of ``models`` per row (columns id, [label,] pred);
    ties go to the lowest class. One model's vote is its ``predict``.
    The model objects are broadcast once, so each Python worker
    unpickles them once; they score map-side, batch by batch.
    """
    bc = df.sparkSession.sparkContext.broadcast(models)
    has_label = label_col in df.columns
    cols = [id_col, features_col] + ([label_col] if has_label else [])
    schema = f"{id_col} long, " + (f"{label_col} int, " if has_label else "") \
             + "pred int"

    def score(it):
        ms = bc.value
        classes = np.unique(np.concatenate([m.classes for m in ms]))
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[features_col].to_numpy()).astype(np.float64)
            votes = np.zeros((len(X), len(classes)), dtype=np.int64)
            for m in ms:
                votes[np.arange(len(X)),
                      np.searchsorted(classes, m.predict(X))] += 1
            out = {id_col: pdf[id_col].to_numpy()}
            if has_label:
                out[label_col] = pdf[label_col].to_numpy()
            # argmax takes the first maximum: the lowest tied class
            out["pred"] = classes[np.argmax(votes, axis=1)].astype(np.int32)
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(score, schema=schema)
