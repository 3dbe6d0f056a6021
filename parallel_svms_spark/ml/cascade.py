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
Layer 0 is one grouped-map stage with one task per bucket (its size is
unknown until it runs). Once a layer's SVs fit one bucket's row cap —
or only the final retrain is left — a single grouped-map task runs
every remaining merge and the final retrain in process, bucket by
bucket, with the same per-bucket function. Layers in between (the cap
off, or more SVs than it) run as their own one-task-per-bucket stages.
The stage directories become a ``bucket`` column; ``localCheckpoint``
of each stage's output replaces the per-job HDFS materialization
(lineage truncation only — SURVEY §4.3.3).

Scale: each training group stays subset-sized, and no dual is larger
than one capped bucket: the tail collapses only when all its rows are
within the cap. For 100 TB pick k so that |subset| ≈ 10⁴ rows; layer 0
is cluster-parallel, and a bucket task's one-vs-one pairs run on
threads.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.ml.smo import SVCModel
from parallel_svms_spark.operators.partitioning import balanced_buckets

SV_COLUMNS = ["bucket", "vec_id", "label", "embedding", "w"]


def _validate_k(k: int) -> None:
    # reference intends power-of-2 but its check is buggy
    # (`subsets % 2 != 0`, cascade_svm/Driver.java:49-52); do it right
    if k < 2 or (k & (k - 1)) != 0:
        raise ValueError(f"k must be a power of two ≥ 2, got {k}")


def _merge_tail(svs: DataFrame, n_buckets: int, fit_kw: dict
                ) -> DataFrame:
    """Every merge after a layer of ``n_buckets`` buckets (``svs``: its
    SV rows, in SV_COLUMNS), down to and including the final retrain,
    in ONE grouped-map task: pair-merge (bucket // 2), train each
    merged bucket with ``trainer.train_bucket``, repeat until one
    bucket is left. Emits the final SV rows, its model row and every
    bucket's stat row, with ``layer`` counted from the tail's first
    merge.

    It runs in a Spark task, not on the driver: Python workers pin
    BLAS to one thread, as every bucket task is, so the Gram matrices
    round exactly as in a layer-per-stage run.
    """
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        n, layer, extra = n_buckets, 0, []
        while n > 1 and len(pdf):
            pdf = pdf.assign(bucket=pdf["bucket"] // 2)
            n //= 2
            fits = [trainer.train_bucket(g, with_model=n == 1, **fit_kw)
                    for _, g in pdf.groupby("bucket", sort=True)]
            for _, rows in fits:
                extra += [{**r, "layer": layer} for r in rows]
            pdf = pd.concat([sv for sv, _ in fits], ignore_index=True)
            layer += 1
        return trainer.fit_rows(pdf, extra)

    # one partition (narrow, no exchange) under a constant group key
    return (svs.coalesce(1).groupBy(F.lit(0).alias("tail"))
            .applyInPandas(run, trainer.FIT_SCHEMA))


def cascade_train(df: DataFrame, k: int, C: float = 1.0,
                  gamma: float | None = None, kernel: str = "rbf",
                  stats_out: dict | None = None,
                  max_rows_per_bucket: int | None = 20000,
                  ) -> tuple[SVCModel, DataFrame]:
    """Train cascade SVM; returns (final model, final SV DataFrame).

    Layer 0 is one ``trainer.fit_buckets`` stage, one task per bucket.
    Its stat rows give the layer's SV count without a count job; if
    that count is within ``max_rows_per_bucket``, one task runs the
    rest of the tree (``_merge_tail``). Otherwise the next layer is
    another one-task-per-bucket stage, and so on; when two buckets are
    left, the final merge and retrain run in one task either way.
    With the cap off (``None``) only that final retrain is one task.
    Inside every task ``smo.train_svc`` solves the one-vs-one pairs on
    threads, so the narrow tip still uses the task's cores. Same SVs
    and model as training every layer as its own stage.

    df columns: vec_id, label, embedding. Pass ``stats_out={}`` to
    receive ``{"layers": [(n_buckets, n_rows), ...], "shed": [...]}``
    — per layer (final retrain included), the rows that trained after
    the cap, the observable behind the paper's per-layer SV-shrinkage
    claim (PDF slide 23), and the rows the cap ACTUALLY dropped
    (ADVICE r7: callers see when the default changed their result).
    Both come from the fits' stat rows, at no extra job.

    ``max_rows_per_bucket`` bounds every layer's per-bucket dual at
    that many rows (see ``trainer.cap_bucket_rows``) — the
    zero-SV-shedding worst case then degrades in accuracy instead of
    OOMing; at the default 20k the largest per-pair kernel is
    ~(2/N_cls·20k)² doubles (≈128 MB at 10 classes). **NOTE (r7
    default change): any caller whose layer buckets exceed 20k rows
    gets a documented deterministic subsample instead of the full
    dual** — pass ``None`` to disable the cap (the reference
    semantics: Lastcascade.java:109-144 retrains whatever survives),
    and read ``stats_out["shed"]`` to see whether the cap fired at
    all. A merge layer is shed lowest-|α| first, using the ``w`` the
    previous layer's fit emitted; layer-0 rows were never trained, so
    the first cap is the stratified coin.

    Raises ``ValueError`` when no layer-0 bucket holds two classes: no
    support vector would then reach the merge, and there is no model.
    """
    _validate_k(k)
    cap = max_rows_per_bucket
    fit_kw = dict(C=C, gamma=gamma, kernel=kernel, max_rows_per_bucket=cap)
    layers: list[tuple[int, int]] = []
    shed: list[int] = []

    def _read_stats(rows: list, n_buckets: int) -> int:
        # per-layer totals of a fit's stat rows, whose first layer has
        # n_buckets buckets; returns the last layer's SV count
        totals: dict[int, list[int]] = {}
        for r in rows:
            if r.kind == "stat":
                t = totals.setdefault(r.layer, [0, 0, 0])
                t[0] += r.n_in - r.n_shed
                t[1] += r.n_shed
                t[2] += r.n_sv
        for layer in sorted(totals):
            layers.append((n_buckets >> layer, totals[layer][0]))
            shed.append(totals[layer][1])
        return totals[max(totals)][2] if totals else 0

    n_buckets = k
    # localCheckpoint truncates lineage between stages (the reference
    # got this implicitly by materializing each job to HDFS)
    fit = trainer.fit_buckets(balanced_buckets(df, k), k=k,
                              **fit_kw).localCheckpoint()
    while True:
        n_sv = _read_stats(fit.filter(fit.kind == "stat").collect(),
                           n_buckets)
        if n_sv == 0:
            # only a single-class bucket trains to no SVs
            raise ValueError(
                f"cascade_train: no bucket of {n_buckets} held two "
                "classes, so no support vector reached the merge")
        svs = fit.filter(fit.kind == "sv").select(*SV_COLUMNS)
        if n_buckets == 2 or (cap is not None and n_sv <= cap):
            break
        # pair-merge into a stage of its own; each task re-caps its
        # ≤2·cap merged rows to ≤cap before training
        n_buckets //= 2
        fit = trainer.fit_buckets(
            svs.withColumn("bucket", F.floor(F.col("bucket") / 2)
                           .cast("int")),
            k=n_buckets, **fit_kw).localCheckpoint()
    # the remaining merges and the final retrain (Lastcascade.java:
    # 109-144) in one task, like the reference's single reducer
    fit = _merge_tail(svs, n_buckets, fit_kw).localCheckpoint()
    meta = fit.filter(fit.kind != "sv").collect()
    _read_stats(meta, n_buckets // 2)
    if stats_out is not None:
        stats_out.update(layers=layers, shed=shed)
    (model,) = trainer.models_of(meta).values()
    return model, trainer.svs_only(fit)
