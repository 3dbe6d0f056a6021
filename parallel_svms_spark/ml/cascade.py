"""Cascade SVM driver (entry point 1 — cascade_svm/Driver.main,
Driver.java:37-102; SURVEY §3.1).

Reference shape: pre-partition into k subsets (power of 2), then
log₂(k) MapReduce jobs; each trains per subset, keeps only support
vectors, and pair-merges subsets (key = floor(taskId/2), reducer count
k/2^ℓ — Midcascade.java:6,126-127); the final job's single reducer
retrains on the surviving SVs and writes the model
(Lastcascade.java:109-144).

Spark rewrite: the merge tree is a fixed binary tree (Graf et al.,
NIPS 2004), so any subtree computes the same thing wherever it runs.
The cascade is one query with two grouped-map stages. Layer 0 trains
one task per bucket; a shuffle into one partition then feeds its SV
and stat rows to ONE task that runs every merge layer and the final
retrain in process, bucket by bucket, with the same per-bucket
function — the reference's single last reducer, extended to the
whole tree below layer 0. The driver reads the tail's output once.

Scale: no dual is larger than one capped bucket (``max_rows_per_bucket``
re-caps every merged bucket before it trains), but the tail task holds
all of layer 0's SV rows at once: at most k·cap rows, and no more than
the input (43 MB for the paper's 42k×256 float32 MNIST). Layer 0 is
cluster-parallel; below it the merge layers run one after another on
one executor, whose cores the one-vs-one pair threads still use. For
100 TB pick k so that |subset| ≈ 10⁴ rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.ml.smo import SVCModel
from parallel_svms_spark.operators.partitioning import balanced_buckets


def _validate(k: int, cap: int | None) -> None:
    # reference intends power-of-2 but its check is buggy
    # (`subsets % 2 != 0`, cascade_svm/Driver.java:49-52); do it right
    if k < 2 or (k & (k - 1)) != 0:
        raise ValueError(f"k must be a power of two ≥ 2, got {k}")
    # a cap under two rows leaves no bucket two classes to train on
    if cap is not None and not (isinstance(cap, int) and cap >= 2):
        raise ValueError("max_rows_per_bucket must be None or an int ≥ 2, "
                         f"got {cap!r}")


def _merge_tail(fit: DataFrame, k: int, fit_kw: dict) -> DataFrame:
    """Every merge after layer 0, down to and including the final
    retrain, in ONE grouped-map task. ``fit`` is layer 0's FIT_SCHEMA
    output over ``k`` buckets: its stat rows pass through, and its SV
    rows are pair-merged (bucket // 2), each merged bucket trained with
    ``trainer.train_bucket``, until one bucket is left. Emits the final
    SV rows, its model row and every bucket's stat row, ``layer``
    counting merge layers from layer 0.

    It runs in a Spark task, not on the driver: Python workers pin
    BLAS to one thread, as every bucket task is, so the Gram matrices
    round exactly as in a layer-per-stage run.
    """
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        is_sv = pdf["kind"] == "sv"
        extra = pdf[~is_sv].to_dict("records")
        pdf = pdf.loc[is_sv, [*trainer.BUCKET_SV_COLUMNS, "w"]]
        n, layer = k, 0
        while n > 1 and len(pdf):
            n, layer = n // 2, layer + 1
            pdf = pdf.assign(bucket=pdf["bucket"] // 2)
            fits = [trainer.train_bucket(g, with_model=n == 1, **fit_kw)
                    for _, g in pdf.groupby("bucket", sort=True)]
            extra += [{**r, "layer": layer} for _, rows in fits for r in rows]
            pdf = pd.concat([sv for sv, _ in fits], ignore_index=True)
        return trainer.fit_rows(pdf, extra)

    # a shuffle into one partition, not coalesce(1), which would run
    # layer 0 inside the tail's task; the constant group key then
    # needs no second exchange
    return (fit.repartition(1).groupBy(F.lit(0).alias("tail"))
            .applyInPandas(run, trainer.FIT_SCHEMA))


def cascade_train(df: DataFrame, k: int, C: float = 1.0,
                  gamma: float | None = None, stats_out: dict | None = None,
                  max_rows_per_bucket: int | None = 20000,
                  ) -> tuple[SVCModel, DataFrame]:
    """Train cascade SVM; returns (final model, final SV DataFrame).

    One Spark query: layer 0 is one ``trainer.fit_buckets`` stage, one
    task per bucket, and ``_merge_tail`` runs the rest of the tree in
    one task. Inside every task ``smo.train_svc`` solves the
    one-vs-one pairs on threads, so the narrow tip still uses the
    task's cores. Same SVs and model as training every layer as its
    own stage. The driver collects the tail's output once — the final
    SV rows, the model row and the stat rows — and returns the final
    SVs as a local DataFrame (bucket, vec_id, label, embedding).

    Trade: the tail task holds all of layer 0's SV rows (at most
    k·``max_rows_per_bucket``), and on a multi-executor cluster the
    wide merge layers run one after another on that task's executor,
    not spread over the cluster.

    df columns: vec_id, label, embedding. Pass ``stats_out={}`` to
    receive ``{"layers": [(n_buckets, n_rows), ...], "shed": [...]}``
    — per layer (final retrain included), the rows that trained after
    the cap, the observable behind the paper's per-layer SV-shrinkage
    claim (PDF slide 23), and the rows the cap ACTUALLY dropped
    (ADVICE r7: callers see when the default changed their result).
    Both come from the fits' stat rows, at no extra job.

    ``max_rows_per_bucket`` (None or an int ≥ 2) bounds every layer's
    per-bucket dual at that many rows (see ``trainer.cap_bucket_rows``) — the
    zero-SV-shedding worst case then degrades in accuracy instead of
    OOMing; at the default 20k the largest per-pair kernel is
    ~(2/N_cls·20k)² doubles (≈128 MB at 10 classes). **NOTE (r7
    default change): any caller whose layer buckets exceed 20k rows
    gets a documented deterministic subsample instead of the full
    dual** — pass ``None`` to disable the cap (the reference
    semantics: Lastcascade.java:109-144 retrains whatever survives;
    then neither the duals nor the tail's rows are bounded), and read
    ``stats_out["shed"]`` to see whether the cap fired at all. A merge
    layer is shed lowest-|α| first, using the ``w`` the previous
    layer's fit emitted; layer-0 rows were never trained, so the first
    cap is the stratified coin.

    Raises ``ValueError`` before any Spark job for a bad ``k`` or cap,
    and when no layer-0 bucket holds two classes: no support vector
    would then reach the merge, and there is no model.
    """
    _validate(k, max_rows_per_bucket)
    fit_kw = dict(C=C, gamma=gamma, max_rows_per_bucket=max_rows_per_bucket)
    layer0 = trainer.fit_buckets(balanced_buckets(df, k), k=k, **fit_kw)
    out = _merge_tail(layer0, k, fit_kw).toPandas()
    models = trainer.models_of(out.itertuples())
    if not models:
        # only a single-class bucket trains to no SVs, and a merge
        # layer always receives SVs of two classes
        raise ValueError(
            f"cascade_train: no bucket of {k} held two classes, so no "
            "support vector reached the merge")
    if stats_out is not None:
        per = (out[out["kind"] == "stat"]
               .assign(n_train=lambda s: s["n_in"] - s["n_shed"])
               .groupby("layer", sort=True)[["n_train", "n_shed"]].sum())
        stats_out.update(
            layers=[(k >> int(l), int(n)) for l, n in per["n_train"].items()],
            shed=[int(n) for n in per["n_shed"]])
    (model,) = models.values()
    return model, trainer.local_svs(df.sparkSession, out)
