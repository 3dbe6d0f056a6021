"""Iterative SVM driver (entry point 3 — Iterative_svm/Driver.main,
Driver.java:36-90; SURVEY §3.3).

Reference shape: partitions persist across iterations (identity re-key,
Itergsv.java:29-41); each reducer reads the shared ``global_sv.csv``
from DistributedCache (Itergsv.java:63-91), trains on subset ∪ global
SVs, evaluates, and *appends* newly found SVs back onto the shared file
(Itergsv.java:101-109) — read-inconsistent and write-racy (SURVEY §3.3).
The driver loops while errorsum improves, hard cap 3 iterations
(Driver.java:63-85).

Spark rewrite: the global SV set (gsv) is a small pandas frame on the
driver, and a broadcast variable is the DistributedCache. Each round is
one grouped-map stage, one task per bucket: the task appends the
broadcast gsv to its bucket's rows, trains, and emits only the SVs not
already in the gsv, plus its err rows. One collect brings back the
round's errorsum and new SVs, and the driver appends them (sorted and
deduplicated by ``vec_id``) to the gsv — the append of Itergsv.java:
101-109, but consistent: every task of a round reads the same gsv.

Scale: gsv is the distilled working set (≪ data); shipping it to every
task is the cost the reference paid for its cache file.
"""

from __future__ import annotations

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame

from parallel_svms_spark.ml import trainer
from parallel_svms_spark.operators.partitioning import balanced_buckets

MAX_ITERATIONS = 3  # reference hard cap, Iterative_svm/Driver.java:85


def _round_fit(base: DataFrame, k: int, gsv: Broadcast,
               fit_kw: dict) -> DataFrame:
    """One round over ``base``'s k buckets (one task each): every
    bucket trains on its rows plus the rows of the broadcast gsv frame
    and emits its SVs not already in the gsv, its err rows and its stat
    row, in ``trainer.FIT_SCHEMA``."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        g = gsv.value
        if len(g):
            pdf = pd.concat([pdf, g.assign(bucket=pdf["bucket"].iloc[0])],
                            ignore_index=True)
        svs, extra = trainer.train_bucket(pdf, eval_train=True, **fit_kw)
        return trainer.fit_rows(svs[~svs["vec_id"].isin(g["vec_id"])],
                                extra)

    # the repartition sits in every round's plan, above the base's
    # checkpoint, so partition i is bucket i and the grouped map adds
    # no exchange of its own
    return (base.repartitionById(k, "bucket").groupBy("bucket")
            .applyInPandas(run, trainer.FIT_SCHEMA))


def iterative_train(df: DataFrame, k: int, C: float = 1.0,
                    gamma: float | None = None,
                    ) -> tuple[DataFrame, list[int]]:
    """Returns (final global SV DataFrame, per-iteration errorsums).

    Every round is ``_round_fit`` (one grouped-map stage, one task per
    bucket) and one collect of its err and new-SV rows; errorsum =
    Σ_buckets Σ_class floor(class_error_rate×100) (Itergsv.java:95-97).
    The round's new SVs join the gsv first; then the loop stops unless
    errorsum strictly improved, after ``MAX_ITERATIONS`` rounds at most
    (`while (newerrorsum < olderrorsum && iteration < 3)`,
    Iterative_svm/Driver.java:85).

    Raises ``ValueError`` before any Spark job when ``k`` < 1, and
    when no bucket holds two classes: the first round then finds no
    support vector, and no later round can.
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    spark = df.sparkSession
    base = balanced_buckets(df, k).localCheckpoint()
    fit_kw = dict(C=C, gamma=gamma)
    gsv = pd.DataFrame(columns=trainer.SV_COLUMNS).astype(
        {"vec_id": "int64", "label": "int32"})
    errorsums: list[int] = []
    for _ in range(MAX_ITERATIONS):
        bc = spark.sparkContext.broadcast(gsv)
        try:
            out = (_round_fit(base, k, bc, fit_kw)
                   .filter("kind != 'stat'")
                   .select("kind", "err", *trainer.SV_COLUMNS).toPandas())
        finally:
            bc.destroy()
        errorsums.append(int(out.loc[out["kind"] == "err", "err"].sum()))
        new = (out.loc[out["kind"] == "sv", trainer.SV_COLUMNS]
               .sort_values("vec_id", kind="mergesort")
               .drop_duplicates("vec_id"))
        gsv = pd.concat([gsv, new], ignore_index=True)
        if gsv.empty:
            # only a single-class bucket trains to no SVs
            raise ValueError(f"iterative_train: no bucket of {k} held two "
                             "classes, so the first round found no "
                             "support vector")
        if len(errorsums) > 1 and not errorsums[-1] < errorsums[-2]:
            break
    return spark.createDataFrame(gsv, trainer.SV_SCHEMA), errorsums
