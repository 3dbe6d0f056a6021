"""Iterative SVM driver (entry point 3 — Iterative_svm/Driver.main,
Driver.java:36-90; SURVEY §3.3).

Reference shape: partitions persist across iterations (identity re-key,
Itergsv.java:29-41); each reducer reads the shared ``global_sv.csv``
from DistributedCache (Itergsv.java:63-91), trains on subset ∪ global
SVs, evaluates, and *appends* newly found SVs back onto the shared file
(Itergsv.java:101-109) — read-inconsistent and write-racy (SURVEY §3.3).
The driver loops while errorsum improves, hard cap 3 iterations
(Driver.java:63-85).

Spark rewrite: the racy shared file becomes an immutable per-iteration
SV DataFrame: ``gsv_i = gsv_{i-1} ∪ (new SVs EXCEPT gsv_{i-1})``; the
broadcast-in direction is a crossJoin of the (small) gsv against the
bucket ids — exactly DistributedCache semantics, but consistent.

Scale: gsv is the distilled working set (≪ data); replicating it k×
is the same cost the reference paid shipping the cache file to every
task. errorsum flows back through rows, not side-effect counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.operators.partitioning import balanced_buckets

MAX_ITERATIONS = 3  # reference hard cap, Iterative_svm/Driver.java:85


def iterative_train(df: DataFrame, k: int, C: float = 1.0,
                    gamma: float | None = None, kernel: str = "rbf",
                    max_iter: int = MAX_ITERATIONS,
                    ) -> tuple[DataFrame, list[int]]:
    """Returns (final global SV DataFrame, per-iteration errorsums).

    Stops when errorsum stops strictly improving or after ``max_iter``
    rounds (`while (newerrorsum < olderrorsum && iteration < 3)`,
    Iterative_svm/Driver.java:85). Every round is one
    ``trainer.fit_buckets`` call (one task per bucket; the one-vs-one
    pairs inside a task are solved on threads).
    """
    spark = df.sparkSession
    base = balanced_buckets(df, k).localCheckpoint()
    bucket_ids = spark.range(k).select(F.col("id").cast("int").alias("bucket"))
    errorsums: list[int] = []
    gsv = None          # global SV set: (vec_id, label, embedding)
    old_err = None
    for _ in range(max_iter):
        if gsv is None:
            cur = base
        else:
            # S5/U1: ship the global SV set to every bucket
            # (DistributedCache → broadcast crossJoin) and union with
            # the local subset (Itergsv.java:91)
            gsv_rep = gsv.crossJoin(F.broadcast(bucket_ids)) \
                         .select("vec_id", "label", "embedding", "bucket")
            cur = base.unionByName(gsv_rep)
        fit = trainer.fit_buckets(cur, C=C, gamma=gamma, kernel=kernel,
                                  eval_train=True, k=k).localCheckpoint()
        new_err = trainer.err_sum(fit)
        errorsums.append(new_err)
        svs = trainer.svs_only(fit).select("vec_id", "label", "embedding") \
                     .dropDuplicates(["vec_id"])
        if gsv is None:
            gsv = svs.localCheckpoint()
        else:
            # P5/U2: only SVs not already global (left-anti), then
            # append — the immutable rewrite of the global_sv.csv
            # append (Itergsv.java:101-109)
            new_svs = svs.join(gsv.select("vec_id"), "vec_id", "left_anti")
            gsv = gsv.unionByName(new_svs).localCheckpoint()
        if old_err is not None and not (new_err < old_err):
            break
        old_err = new_err
    return gsv, errorsums
