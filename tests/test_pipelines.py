"""End-to-end cascade / bagging / iterative on the embeddings fixture
(SURVEY §5.4: MNIST/HOG analog — 500 rows, 64-dim, 10 classes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parallel_svms_spark.io.sources import load_table
from parallel_svms_spark.ml import evaluate, trainer
from parallel_svms_spark.ml.bagging import bagging_predict, bagging_train
from parallel_svms_spark.ml.cascade import cascade_train
from parallel_svms_spark.ml.iterative import iterative_train


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_cascade_invariants_and_accuracy(spark, emb):
    model, svs = cascade_train(emb, k=4, gamma=2.0)
    # final model trained on union of surviving SVs → SVs ⊆ data
    assert svs.count() == model.n_sv
    ids = {r.vec_id for r in svs.select("vec_id").collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert ids <= all_ids
    pred = trainer.predict_df(emb, model)
    acc = evaluate.accuracy(pred)
    assert acc > 0.80, f"cascade train acc {acc}"


def test_cascade_rejects_bad_k(emb):
    with pytest.raises(ValueError):
        cascade_train(emb, k=6)  # reference's buggy check accepts 6


def test_bagging_k_models_and_vote(spark, emb):
    # NOTE: fixture classes have weak geometric structure (holdout acc
    # ≈ chance even for a full-data model), so — like the reference,
    # which evaluates training error (Itergsv.java:95-97, PDF slide 25)
    # — we assert memorization-style properties, not generalization.
    models, svs = bagging_train(emb, k=4, gamma=2.0)
    assert sorted(models) == [0, 1, 2, 3]
    pred = bagging_predict(emb, models)
    acc = evaluate.accuracy(pred)
    # each row was trained on by exactly 1 of 4 models; vote accuracy
    # must still be far above the 10-class chance floor of 0.1
    assert acc > 0.30, f"bagging vote acc {acc}"
    conf = evaluate.confusion(pred)
    assert conf.agg(F.sum("n")).collect()[0][0] == 500
    # each base model memorizes its own subset
    from parallel_svms_spark.operators.partitioning import balanced_buckets
    bucketed = balanced_buckets(emb, 4)
    for b, m in models.items():
        own = bucketed.filter(F.col("bucket") == b)
        own_acc = evaluate.accuracy(trainer.predict_df(own, m))
        assert own_acc > 0.95, f"bucket {b} self acc {own_acc}"


def test_iterative_grows_gsv_and_stops(spark, emb):
    gsv, errs = iterative_train(emb, k=4, gamma=2.0)
    assert 1 <= len(errs) <= 3            # reference hard cap
    # non-increasing until stop: driver breaks when no improvement
    for a, b in zip(errs, errs[1:-1]):
        assert b < a or len(errs) <= 2
    assert gsv.count() > 0
    assert gsv.select("vec_id").distinct().count() == gsv.count()


def test_fit_buckets_sv_rows_carry_max_dual_weight(spark, emb):
    # every SV row carries w = its largest |coef| over the pairs of the
    # bucket's train_svc model (the order the cascade cap sheds by)
    import numpy as np

    from parallel_svms_spark.ml import smo
    from parallel_svms_spark.operators.partitioning import balanced_buckets
    base = balanced_buckets(emb, 2).localCheckpoint()
    svs = trainer.fit_buckets(base, gamma=2.0, k=2) \
        .filter("kind = 'sv'").collect()
    assert svs and all(r.w is not None and r.w > smo.TAU for r in svs)
    got = {(r.bucket, r.vec_id): r.w for r in svs}
    for b in (0, 1):
        rows = sorted(base.filter(F.col("bucket") == b).collect(),
                      key=lambda r: r.vec_id)
        X = np.stack([np.asarray(r.embedding, dtype=np.float64)
                      for r in rows])
        model = smo.train_svc(X, np.asarray([r.label for r in rows]),
                              gamma=2.0)
        w = np.zeros(model.n_sv)
        for idx, coef in model.pair_coefs.values():
            for i, c in zip(idx, coef):
                w[i] = max(w[i], abs(c))
        want = {(b, rows[i].vec_id): w[p]
                for p, i in enumerate(model.sv_orig_idx)}
        assert {key: v for key, v in got.items() if key[0] == b} == want


def test_decoded_model_row_is_the_in_task_model():
    # the model row train_bucket emits decodes (models_of) to exactly
    # the model train_svc trains on the same vec_id-sorted rows: every
    # array equal in value and dtype — labels arrive in a task as
    # int32, as Arrow hands them — and the same kernel, gamma and C
    import numpy as np
    import pandas as pd

    from parallel_svms_spark.ml import smo
    rng = np.random.default_rng(21)
    n = 150
    y = rng.integers(0, 3, size=n).astype(np.int32)
    X = (rng.standard_normal((n, 8)) + 2.0 * y[:, None]).astype(np.float32)
    ids = rng.permutation(n).astype(np.int64) * 7
    pdf = pd.DataFrame({"vec_id": ids, "label": y, "embedding": list(X),
                        "bucket": np.int32(3)})
    rows = trainer.fit_rows(*trainer.train_bucket(pdf, gamma=0.5,
                                                  with_model=True))
    models = trainer.models_of(rows.itertuples())
    assert list(models) == [3]
    got = models[3]
    order = np.argsort(ids, kind="stable")
    want = smo.train_svc(X[order].astype(np.float64), y[order], gamma=0.5)

    def same(a, b):
        return a.dtype == b.dtype and np.array_equal(a, b)

    assert same(got.classes, want.classes)
    assert same(got.X_sv, want.X_sv)
    assert same(got.sv_labels, want.sv_labels)
    assert list(got.pair_coefs) == list(want.pair_coefs)
    for pair, (idx, coef) in want.pair_coefs.items():
        assert same(got.pair_coefs[pair][0], idx)
        assert same(got.pair_coefs[pair][1], coef)
    assert got.rhos == want.rhos
    assert (got.kernel, got.gamma, got.C) == (want.kernel, want.gamma,
                                              want.C)


def test_fit_buckets_one_partition_per_bucket(spark, emb):
    # with k given, partition i holds exactly bucket i (one training
    # task per bucket) and the grouped map reuses that single exchange
    from parallel_svms_spark.operators.partitioning import balanced_buckets
    fit = trainer.fit_buckets(balanced_buckets(emb, 4), gamma=2.0, k=4)
    plan = fit._jdf.queryExecution().executedPlan().toString()
    below = plan.split("FlatMapGroupsInPandas", 1)[1]
    assert below.count("Exchange") == 1, plan
    rows = fit.select("bucket", "kind",
                      F.spark_partition_id().alias("pid")).collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert all(r.pid == r.bucket for r in rows)
    # ... and each bucket reports itself once in a stat row
    stats = [r for r in rows if r.kind == "stat"]
    assert sorted(r.bucket for r in stats) == [0, 1, 2, 3]


def test_iterative_round_one_task_per_bucket(spark, emb):
    # an iterative round is one grouped map over the checkpointed
    # buckets: partition i holds exactly bucket i, one exchange and no
    # join in the plan (the gsv arrives as a broadcast variable), and
    # no emitted SV is already in the gsv
    from parallel_svms_spark.ml import iterative
    from parallel_svms_spark.operators.partitioning import balanced_buckets
    base = balanced_buckets(emb, 4).localCheckpoint()
    gsv = base.filter("vec_id % 7 = 0") \
        .select(*iterative.GSV_COLUMNS).toPandas()
    fit = iterative._round_fit(base, 4, spark.sparkContext.broadcast(gsv),
                               dict(gamma=2.0))
    plan = fit._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Join" not in plan, plan
    rows = fit.select("bucket", "kind", "vec_id",
                      F.spark_partition_id().alias("pid")).collect()
    assert {r.bucket for r in rows} == {0, 1, 2, 3}
    assert all(r.pid == r.bucket for r in rows)
    sv_ids = {r.vec_id for r in rows if r.kind == "sv"}
    assert sv_ids and not sv_ids & set(gsv["vec_id"])
    assert sorted({r.bucket for r in rows if r.kind == "err"}) \
        == [0, 1, 2, 3]


def test_trainer_err_rows(spark, emb):
    from parallel_svms_spark.operators.partitioning import balanced_buckets
    fit = trainer.fit_buckets(balanced_buckets(emb, 2), eval_train=True)
    errs = fit.filter("kind = 'err'")
    assert errs.count() == 20  # 2 buckets × 10 classes
    assert errs.filter("err < 0 or err > 100").count() == 0


def test_events_daily_lake_prunes_partitions(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from parallel_svms_spark.io.sources import (load_table,
                                                read_events_range,
                                                write_events_daily)
    events = load_table(spark, sf_dir, "events")
    lake = str(tmp_path / "events_lake")
    write_events_daily(events, lake)

    # pick a 2-day window in the middle of the fixture's span
    days = [r[0] for r in events.select(F.to_date("ts").alias("d"))
            .distinct().orderBy("d").collect()]
    assert len(days) >= 3, "fixture spans too few days for this test"
    start, end = str(days[1]), str(days[min(3, len(days) - 1)])

    got = read_events_range(spark, lake, start, end)
    # 1) partition pruning is IN THE PLAN, not hoped for
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in \
        plan.split("PartitionFilters")[1][:300], plan
    # 2) values identical to filtering the unpartitioned table
    want = events.filter(
        (F.col("ts") >= F.lit(start).cast("timestamp"))
        & (F.col("ts") < F.lit(end).cast("timestamp")))
    assert got.count() == want.count() > 0
    assert sorted(got.columns) == sorted(events.columns)
    s = {tuple(r) for r in got.select("event_id", "ts").collect()}
    w = {tuple(r) for r in want.select("event_id", "ts").collect()}
    assert s == w

    # sub-day END bound: the end-day partition must NOT be pruned —
    # rows before noon on the end day are in range (review finding:
    # `event_date < to_date(end)` silently dropped them)
    end_noon = f"{end} 12:00:00"
    got_noon = read_events_range(spark, lake, start, end_noon)
    want_noon = events.filter(
        (F.col("ts") >= F.lit(start).cast("timestamp"))
        & (F.col("ts") < F.lit(end_noon).cast("timestamp")))
    assert got_noon.count() == want_noon.count() > want.count()


def test_pipeline_pretrain_stagewise_equivalence(spark, sf_dir):
    """The composed r6 pretraining DAG equals running its stages
    explicitly, and its outputs satisfy the per-stage contracts:
    no held-out contamination, no normalized-text duplicates, and the
    hash-walk packing recurrence."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from parallel_svms_spark.io.sources import load_table
    from parallel_svms_spark.operators import contamination as CN
    from parallel_svms_spark.operators import dedup as D
    from parallel_svms_spark.operators import sharding as SH

    out = em.queries_all()["pipeline_pretrain"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0

    docs = load_table(spark, sf_dir, "documents")
    clean = CN.decontaminate_splits(docs, k=4)
    deduped = clean.join(D.exact_dedup_keys_normalized(clean),
                         "doc_id", "left_semi")
    sampled = SH.weighted_sample(
        deduped.select("doc_id", "source", "n_chars"),
        weight=F.col("n_chars") / F.lit(2000.0))
    final = deduped.join(sampled.select("doc_id"), "doc_id", "left_semi")
    want = {(r.doc_id, r.n_tokens, r.shard) for r in
            SH.pack_shards(final, budget_tokens=2048,
                           order="hash").collect()}
    assert {(r.doc_id, r.n_tokens, r.shard) for r in rows} == want

    # stage contracts on the surviving set
    ids = {r.doc_id for r in rows}
    clean_ids = {r.doc_id for r in clean.select("doc_id").collect()}
    assert ids <= clean_ids  # nothing contaminated survived


def test_pipeline_scrub_mixture_equals_staged(spark, sf_dir):
    """The composed DAG == running the two stages explicitly, and
    scrubbing strictly shrinks what the same budget buys in docs
    (each kept doc now carries only unique tokens)."""
    from pyspark.sql import functions as F

    from parallel_svms_spark.io.sources import load_table
    from parallel_svms_spark.operators import dedup as D
    from parallel_svms_spark.operators import sharding as SH
    import __spark_entry__ as E

    docs = load_table(spark, sf_dir, "documents")
    composed = {(r.doc_id, r.source, r.n_tokens) for r in
                E.queries_all()["pipeline_scrub_mixture"](
                    spark, sf_dir).collect()}
    scrubbed = (D.scrub_repeated_spans(docs)
                .join(docs.select("doc_id", "source"), "doc_id"))
    staged = {(r.doc_id, r.source, r.n_tokens) for r in
              SH.mixture_sample_tokens(
                  scrubbed, budget_tokens=1000,
                  text_col="clean_text").collect()}
    assert composed == staged and composed
    # scrubbed docs are never longer than their originals
    orig = dict(docs.select("doc_id",
                            F.size(F.split("text", " ")).alias("n"))
                .collect())
    assert all(n <= orig[i] for i, _, n in composed)


def test_pipeline_daily_ingest_equals_staged(spark, sf_dir):
    """r9 day-N composition: the manifest rows equal the staged run
    (dedup_against -> scrub_repeated_spans_incremental -> manifest),
    and the accepted-batch counts reconcile with the stage outputs."""
    from parallel_svms_spark.io.sources import load_table
    from parallel_svms_spark.operators import audit as AU
    from parallel_svms_spark.operators import dedup as D
    import __spark_entry__ as E

    composed = {tuple(r) for r in
                E.queries_all()["pipeline_daily_ingest"](
                    spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents") \
        .filter("text is not null")
    archive = docs.filter("source <> 'src0'")
    batch = docs.filter("source = 'src0'")
    fresh = D.dedup_against(archive, batch)
    scrubbed = D.scrub_repeated_spans_incremental(archive, fresh)
    day = (scrubbed.join(fresh.select("doc_id", "lang"), "doc_id")
           .select("doc_id", F.col("clean_text").alias("text"),
                   "lang", F.lit("src0").alias("source")))
    staged = {tuple(r) for r in AU.dataset_manifest(day).collect()}
    assert composed == staged and len(composed) == 2  # src0 + __all__
    # the datasheet's doc count IS the accepted-batch count, and
    # acceptance only ever drops docs
    n_docs = {r[0]: r[1] for r in composed}
    assert n_docs["src0"] == n_docs["__all__"] == fresh.count()
    assert fresh.count() <= batch.count()
