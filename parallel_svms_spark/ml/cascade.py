"""Cascade SVM driver (entry point 1 — cascade_svm/Driver.main,
Driver.java:37-102; SURVEY §3.1).

Reference shape: pre-partition into k subsets (power of 2), then
log₂(k) MapReduce jobs; each trains per subset, keeps only support
vectors, and pair-merges subsets (key = floor(taskId/2), reducer count
k/2^ℓ — Midcascade.java:6,126-127); the final job's single reducer
retrains on the surviving SVs and writes the model
(Lastcascade.java:109-144).

Spark rewrite: ONE session, a driver loop over DataFrame stages; the
stage directories become a `bucket` column; `localCheckpoint` replaces
the per-job HDFS materialization (lineage truncation only — SURVEY
§4.3.3).

Scale: per-layer shuffle volume halves (SVs only), so total motion is
≤ 2× layer-1 SV bytes regardless of depth; each training group stays
subset-sized. For 100 TB pick k so that |subset| ≈ 10⁴ rows; layers
= log₂k jobs of decreasing size, all cluster-parallel until the tip,
where a bucket task's one-vs-one pairs still run on threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.ml.smo import SVCModel
from parallel_svms_spark.operators.partitioning import balanced_buckets


def _validate_k(k: int) -> None:
    # reference intends power-of-2 but its check is buggy
    # (`subsets % 2 != 0`, cascade_svm/Driver.java:49-52); do it right
    if k < 2 or (k & (k - 1)) != 0:
        raise ValueError(f"k must be a power of two ≥ 2, got {k}")


def _cap_bucket_rows(df: DataFrame, cap: int) -> DataFrame:
    """Bound every bucket's dual size at ``cap`` rows — the cascade's
    graceful worst case (VERDICT r6 #2). With adversarial labels that
    shed NO support vectors, merged buckets approach corpus size and
    the per-pair kernel matrices go quadratic in memory (the measured
    OOM at 100k degenerate-label rows, BASELINE.md 20×/50× row); past
    the cap the layer degrades in ACCURACY (a documented subsample of
    the merged SV set) instead of crashing.

    Selection is round-robin STRATIFIED by label: rows rank first
    within (bucket, label), then across the bucket by that per-class
    rank — so the kept ``cap`` rows take one row per class per round
    and no class is starved even when the bucket is 99% one label.
    WITHIN a class the order is accuracy-aware when the frame carries
    a ``w`` column (the max dual α that ``trainer.fit_buckets`` emits
    on every SV row): highest-|α| rows — the C-bound and tight-margin
    rows that actually carry the decision boundary — rank first, so
    the cap sheds the flattest duals, not a random coin's pick
    (VERDICT r7 #6). Rows that were never trained (layer-0 input)
    have no ``w`` and fall back to the deterministic md5 coin.
    Either way re-runs reproduce the same
    subsample (hash/dual of vec_id, no RNG state); buckets already at
    or under the cap pass through IDENTICALLY (every row's rank ≤
    cap), so the well-behaved path — real data shedding SVs per layer
    — never observes the cap.

    Scale shape: two window passes partitioned by (bucket[, label]) —
    per-task state is one bucket, the same working set the training
    task for that bucket holds anyway; no new exchange class.
    """
    h = F.md5(F.col("vec_id").cast("string"))
    by_alpha = ([F.col("w").desc_nulls_last()]
                if "w" in df.columns else [])
    out = (df.withColumn("__h", h)
           .withColumn("__rn", F.row_number().over(
               W.partitionBy("bucket", "label")
               .orderBy(*by_alpha, "__h", "vec_id")))
           .withColumn("__rk", F.row_number().over(
               W.partitionBy("bucket")
               .orderBy("__rn", "__h", "vec_id")))
           .filter(F.col("__rk") <= int(cap))
           .drop("__h", "__rn", "__rk"))
    return out


def cascade_train(df: DataFrame, k: int, C: float = 1.0,
                  gamma: float | None = None, kernel: str = "rbf",
                  checkpoint: bool = True,
                  stats_out: dict | None = None,
                  max_rows_per_bucket: int | None = 20000,
                  ) -> tuple[SVCModel, DataFrame]:
    """Train cascade SVM; returns (final model, final SV DataFrame).

    Every layer and the final retrain is one ``trainer.fit_buckets``
    call: one task per bucket, whose one-vs-one pairs ``smo.train_svc``
    solves on threads — so the narrow tip (2 buckets, then 1) still
    uses the task's cores.

    df columns: vec_id, label, embedding. Pass ``stats_out={}`` to
    receive ``{"layers": [(n_buckets, n_rows), ...]}`` — the row count
    entering each layer (and the surviving-SV count after each), the
    observable behind the paper's per-layer SV-shrinkage claim (PDF
    slide 23). When the cap is active, ``stats_out`` additionally
    receives ``"shed"`` — the rows the cap ACTUALLY dropped per layer
    (ADVICE r7: callers see when the default changed their result).
    Stats cost one count per layer (plus one extra materialization
    per layer for ``"shed"``), paid only when they are requested.

    ``max_rows_per_bucket`` bounds every layer's per-bucket dual at
    that many rows (see ``_cap_bucket_rows``) — the zero-SV-shedding
    worst case then degrades in accuracy instead of OOMing; at the
    default 20k the largest per-pair kernel is ~(2/N_cls·20k)² doubles
    (≈128 MB at 10 classes). **NOTE (r7 default change): any caller
    whose layer buckets exceed 20k rows gets a documented deterministic
    subsample instead of the full dual** — pass ``None`` to disable the
    cap (the reference semantics: Lastcascade.java:109-144 retrains
    whatever survives), and read ``stats_out["shed"]`` to see whether
    the cap fired at all. A merge layer is shed lowest-|α| first,
    using the ``w`` the previous layer's fit emitted; layer-0 rows were
    never trained, so the first cap is the stratified coin.
    """
    _validate_k(k)
    track_shed = stats_out is not None and max_rows_per_bucket is not None
    shed: list[int] = []

    def _cap(frame: DataFrame) -> DataFrame:
        nonlocal n_pre
        if max_rows_per_bucket is None:
            return frame
        if track_shed:
            frame = (frame.localCheckpoint() if checkpoint
                     else frame.cache())
            n_pre = frame.count()
        return _cap_bucket_rows(frame, max_rows_per_bucket)

    def _materialize(frame: DataFrame, n_buckets: int) -> DataFrame:
        # truncate lineage between layers (the reference got this
        # implicitly by materializing each job to HDFS); plain cache
        # otherwise
        frame = frame.localCheckpoint() if checkpoint else frame.cache()
        if stats_out is not None:
            n_rows = frame.count()
            stats_out["layers"].append((n_buckets, n_rows))
            if track_shed:
                shed.append(n_pre - n_rows)
        return frame

    n_pre = 0
    if stats_out is not None:
        stats_out["layers"] = []
        if track_shed:
            stats_out["shed"] = shed
    n_buckets = k
    cur = _materialize(_cap(balanced_buckets(df, k)), n_buckets)
    while n_buckets > 1:
        fit = trainer.fit_buckets(cur, C=C, gamma=gamma, kernel=kernel,
                                  k=n_buckets)
        svs = (fit.filter(fit.kind == "sv")
               .select("bucket", "vec_id", "label", "embedding", "w"))
        # pair-merge, then re-cap: two ≤cap buckets fused into one
        # ≤2·cap bucket shrink back to ≤cap before training
        cur = _cap(svs.withColumn(
            "bucket", F.floor(F.col("bucket") / 2).cast("int")))
        n_buckets //= 2
        cur = _materialize(cur, n_buckets)
    # final retrain on surviving SVs (Lastcascade.java:109-144), in one
    # task like the reference's single reducer
    fit = trainer.fit_buckets(cur.withColumn("bucket", F.lit(0)),
                              C=C, gamma=gamma, kernel=kernel,
                              with_model=True, k=1)
    fit = fit.localCheckpoint() if checkpoint else fit.cache()
    model = trainer.collect_models(fit)[0]
    return model, trainer.svs_only(fit)
