"""Train-and-score benchmark of the parallel SVM trainers.

    python3 svmbench/run.py --workload cascade_mnist --seed 1 \\
        --seconds 18 --trace 0

Run from the repository root. One process starts Spark at
``local[<cores>]``, generates the workload's data from ``--seed`` into
``.svmbench/``, warms up, and then for about ``--seconds`` seconds runs
three training jobs (dense CSV on disk -> model on the driver), then
three bulk scoring passes over the holdout, each followed by two small
scoring requests sent by one client in a closed loop. It checks the
outputs and prints one JSON object as the last line of stdout: the
end-to-end metrics with ``--trace 0``, or with ``--trace 1`` the
per-layer metrics of a traced run (spans around each public call plus
Spark's event log). A failed output check prints the object with
``"correct": false`` and exits with 1. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shlex
import shutil
import statistics
import sys
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# session.get_spark defaults the driver heap to 48g, more than a small
# host has; the benchmark pins it below physical memory
DRIVER_MEM = "1g"
DRIVER_MEM_DEFAULT = "48g"
SAMPLE_ROWS = 200           # holdout rows checked against local predict
REQUEST_ROWS = 256          # holdout rows per scoring request
GEN_REPEATS = 3             # data generations timed for setup_s
TRAIN_JOBS = 3
BULK_PASSES = 3
REQUESTS_PER_BULK = 2
TRACED_REQUESTS = 6
MAX_FAILURES = 3


class CheckFailed(Exception):
    pass


def log(msg: str) -> None:
    print(f"[svmbench] {msg}", file=sys.stderr, flush=True)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def configure_env(work: str, trace: bool, cores: int) -> None:
    """Confine Spark, its Python workers and the native-SMO build cache
    to ``work`` and size the session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "events"), exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": os.path.join(work, "events"),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                      for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no /tmp/hsperfdata files from the launcher and driver JVMs
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "XDG_CACHE_HOME": os.path.join(work, "cache"),
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
    })


def stop_spark() -> None:
    """Stop the session and wait for the JVM to exit. Idempotent."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


class Bench:
    def __init__(self, args, work: str, cores: int):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.work = work
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []     # failed check messages
        self.meta: dict = {}
        self.setup_parts: dict = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        import datagen
        import workloads as wl
        from parallel_svms_spark import session
        from parallel_svms_spark.ml import _smo_native

        self.spark, self.session_s = timed(session.get_spark, "svmbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        gen_s = []
        for i in range(GEN_REPEATS):
            d = os.path.join(self.work, f"data{i}")
            self.data, s = timed(datagen.write, self.workload, self.seed, d)
            gen_s.append(s)
            if i < GEN_REPEATS - 1:
                shutil.rmtree(d)
        self.data_dir = d
        self.meta = self.data["meta"]
        lib, native_s = timed(_smo_native.load)
        # a silent fall back to the numpy SMO loop would shift every
        # timing, so the run refuses to continue without the native one
        if lib is None:
            raise CheckFailed("native SMO did not load (numpy fallback)")
        _, warm_s = timed(self._warm_up)
        self.holdout, hold_s = timed(
            lambda: wl.load(self.spark, self._path("holdout")).toPandas())
        self.setup_parts = {"session_s": self.session_s, "gen_s": gen_s,
                            "native_s": native_s, "warmup_s": warm_s,
                            "holdout_collect_s": hold_s}
        self.setup_s = (self.session_s + statistics.median(gen_s)
                        + native_s + warm_s + hold_s)
        log(f"setup {self.setup_s:.2f}s {self.setup_parts}")

    def _warm_up(self) -> None:
        """One training job, then a bulk pass and a request, on the real
        data, so the timed ones find the JVM JIT, code generation and
        Python workers warm. A smaller data set warms the same plans
        but leaves the JIT far from steady state. The warm-up request
        sends generated holdout rows; the holdout is collected after
        it, once Spark is warm."""
        import pandas as pd
        # the warm-up job reports the cascade's per-layer row counts for
        # the checks; the timed jobs make the plain call
        self.warm_job = trained = self.train_job(stats=True)
        n = REQUEST_ROWS
        rows = pd.DataFrame({
            "vec_id": range(n),
            "label": self.data["y_holdout"][:n].astype("int32"),
            "embedding": list(self.data["X_holdout"][:n])})
        self.bulk_score(trained)
        self.request(trained, rows)

    def _path(self, part: str) -> str:
        return os.path.join(self.data_dir, part)

    # -- the operations ---------------------------------------------------

    def train_job(self, span=None, stats=False):
        import workloads as wl
        df = wl.load(self.spark, self._path("train"))
        if span is not None:
            with span("io.read_dense_csv"):
                self.rows_in = df.count()   # traced run only
        return wl.train(self.workload, df, span, stats)

    def bulk_score(self, trained):
        import workloads as wl
        df = wl.load(self.spark, self._path("holdout"))
        return wl.predict(df, trained).toPandas()

    def request(self, trained, rows, span=None):
        import workloads as wl
        span = span or wl.no_span
        with span("score.frame"):
            frame = self.spark.createDataFrame(rows, wl.ROW_SCHEMA)
        with span("score.predict"):
            pred = wl.predict(frame, trained)
        with span("score.collect"):
            return pred.toPandas()

    def attempt(self, fn, *args):
        """Run one operation, counting it; a failure is logged and
        counted, and too many end the run."""
        self.attempted += 1
        try:
            return timed(fn, *args)
        except Exception:
            self.failed += 1
            log("operation failed:\n" + traceback.format_exc())
            if self.failed > MAX_FAILURES:
                raise
            return None, None

    def request_slices(self):
        n = REQUEST_ROWS
        starts = range(0, len(self.holdout) - n + 1, n)
        i = 0
        while True:
            lo = starts[i % len(starts)]
            yield self.holdout.iloc[lo:lo + n]
            i += 1

    # -- checks -----------------------------------------------------------

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.checks.append(msg)
            log(f"CHECK FAILED: {msg}")

    def check_scoring(self, trained, bulks, replies) -> float:
        """Bulk scoring covers the holdout and equals driver-local
        predict on a fixed sample; every bulk pass agrees; requests
        equal bulk on the same rows. Returns the holdout accuracy."""
        import numpy as np
        import workloads as wl
        if not bulks:
            raise CheckFailed("no bulk scoring pass succeeded")
        bulk = bulks[0]
        self.check(len(bulk) == len(self.holdout),
                   f"bulk scored {len(bulk)} of {len(self.holdout)} rows")
        by_id = dict(zip(bulk["vec_id"].tolist(), bulk["pred"].tolist()))
        for other in bulks[1:]:
            self.check(dict(zip(other["vec_id"].tolist(),
                                other["pred"].tolist())) == by_id,
                       "bulk scoring passes disagree")
        rng = np.random.default_rng(self.seed)
        pos = np.sort(rng.choice(len(self.holdout), SAMPLE_ROWS,
                                 replace=False))
        sample = self.holdout.iloc[pos]
        local = wl.predict_local(trained,
                                 np.stack(sample["embedding"].to_numpy()))
        got = np.asarray([by_id.get(v, -1) for v in sample["vec_id"]])
        self.check(np.array_equal(got, local),
                   f"bulk != local predict on {int((got != local).sum())} "
                   f"of {SAMPLE_ROWS} sampled rows")
        bad = sum(int(p != by_id.get(v, -1)) for r in replies
                  for v, p in zip(r["vec_id"].tolist(), r["pred"].tolist()))
        self.check(bad == 0, f"{bad} request predictions differ from bulk")
        return float((bulk["pred"] == bulk["label"]).mean())

    def check_training(self, jobs, acc: float) -> None:
        import workloads as wl
        floor = wl.ACCURACY_FLOOR[self.workload]
        self.check(acc >= floor, f"test_accuracy {acc:.4f} < floor {floor}")
        # repeated jobs on the same files give the same model
        n_sv = {t.n_sv for t in jobs}
        self.check(len(n_sv) == 1, f"jobs disagree on SV count: {n_sv}")
        for t in jobs:
            info = t.info
            if "layers" in info:
                rows = info["layers"]
                self.check(all(b <= a for a, b in zip(rows, rows[1:])),
                           f"cascade layer rows increase: {rows}")
            if "errorsums" in info:
                e = info["errorsums"]
                # reference stop rule: go on while errorsum strictly
                # improves, at most 3 rounds (Iterative_svm/Driver.java:85)
                ok = (2 <= len(e) <= 3
                      and all(b < a for a, b in zip(e[:-2], e[1:-1]))
                      and (len(e) == 3 or e[-1] >= e[-2]))
                self.check(ok, f"iterative errorsums break the stop "
                               f"rule: {e}")

    # -- timed run --------------------------------------------------------

    def run_timed(self) -> dict:
        slices = self.request_slices()
        jobs, train_s, bulks, bulk_s, replies, lat = [], [], [], [], [], []

        def send_request(trained):
            out, s = self.attempt(self.request, trained, next(slices))
            if out is not None:
                replies.append(out)
                lat.append(s)

        t0 = time.perf_counter()
        cpu0 = procs.cpu_jiffies()
        # fixed counts: the JVM is still warming during the timed
        # operations, so a varying count would shift the medians. The
        # first training job after the warm-up runs 10-25% slower than
        # the next ones while the JIT catches up; with three jobs the
        # median steps over it. Scoring follows training: the first
        # bulk pass after a training job runs ~20% slow, and among three
        # passes the median steps over it too.
        while len(jobs) < TRAIN_JOBS:
            trained, s = self.attempt(self.train_job)
            if trained is None:
                continue
            jobs.append(trained)
            train_s.append(s)
        for _ in range(BULK_PASSES):
            bulk, s = self.attempt(self.bulk_score, jobs[-1])
            if bulk is not None:
                bulks.append(bulk)
                bulk_s.append(s)
            for _ in range(REQUESTS_PER_BULK):
                send_request(jobs[-1])
        # the client keeps sending until the measuring time is up
        while time.perf_counter() - t0 < self.args.seconds:
            send_request(jobs[-1])
        acc = self.check_scoring(jobs[-1], bulks, replies)
        self.check_training([self.warm_job, *jobs], acc)
        log(f"train_s {train_s} bulk_s {bulk_s} requests {len(lat)} "
            f"p50 {statistics.median(lat):.3f}s max {max(lat):.3f}s "
            f"n_sv {jobs[-1].n_sv} "
            f"steal {procs.steal_frac(cpu0, procs.cpu_jiffies()):.3f}")
        return {
            "setup_s": (self.setup_s, "s"),
            "train_s": (statistics.median(train_s), "s"),
            "test_accuracy": (acc, "fraction"),
            "score_rows_per_s": (len(self.holdout)
                                 / statistics.median(bulk_s), "rows/s"),
            "score_p50_ms": (1e3 * statistics.median(lat), "ms"),
        }

    # -- traced run -------------------------------------------------------

    def run_traced(self) -> dict:
        import spans as sp
        import workloads as wl
        from parallel_svms_spark.ml import evaluate

        tracer = sp.Tracer()
        span = tracer.span
        # untraced jobs on both sides of the traced one, so JVM warm-up
        # still under way does not land on one side of the difference
        first, first_s = timed(self.train_job, None, True)
        cpu0 = procs.cpu_jiffies()
        gc0 = jvm_gc_s(self.spark)
        with span("job.train", new_trace=True) as job:
            trained = self.train_job(span, True)
        gc_s = jvm_gc_s(self.spark) - gc0
        steal = procs.steal_frac(cpu0, procs.cpu_jiffies())
        last, last_s = timed(self.train_job, None, True)
        untraced_s = (first_s + last_s) / 2
        m = {"session.start_s": self.session_s,
             "trace.untraced_train_s": untraced_s,
             "trace.traced_train_s": job.dur,
             "trace.overhead_s": job.dur - untraced_s,
             "io.rows_in": self.rows_in,
             "smo.native_loaded": 1,    # setup fails the run otherwise
             "jvm.gc_s": gc_s,
             "host.steal_frac": steal}
        m.update(self.layer_probes(tracer))

        with span("score.bulk", new_trace=True):
            bulk = self.bulk_score(trained)
        with span("ml.evaluate.accuracy", new_trace=True):
            hold = wl.load(self.spark, self._path("holdout"))
            acc_spark = evaluate.accuracy(wl.predict(hold, trained))
        replies = []
        slices = self.request_slices()
        for _ in range(TRACED_REQUESTS):
            with span("score.request", new_trace=True):
                replies.append(self.request(trained, next(slices), span))
        serialize = [timed(lambda: pickle.dumps(
            wl.model_payload(trained)))[1] for _ in range(3)]
        acc = self.check_scoring(trained, [bulk], replies)
        self.check_training([first, trained, last], acc)
        self.check(abs(acc_spark - acc) < 1e-12,
                   f"evaluate.accuracy {acc_spark} != bulk {acc}")
        m.update(self.bagging_probe(tracer))
        # 3 training jobs, bulk pass, evaluate.accuracy, the requests,
        # and the probe's bagging fit, vote and request
        self.attempted = 3 + 2 + len(replies) + 3

        info = trained.info
        layers = info.get("layers", [])
        m.update({f"cascade.rows_layer{i}": (layers[i] if i < len(layers)
                                             else 0) for i in range(4)})
        errs = info.get("errorsums", [])
        m.update({"cascade.keep_ratio": (layers[-1] / layers[0]
                                         if layers else 0.0),
                  "cascade.cap_shed_rows": sum(info.get("shed", [])),
                  "cascade.final_n_sv": trained.n_sv if layers else 0,
                  "iterative.rounds": len(errs),
                  "iterative.gsv_rows": (info["gsv"].count() if errs
                                         else 0),
                  "iterative.errorsum_final": errs[-1] if errs else 0,
                  "score.kernel_evals": len(bulk) * trained.n_sv,
                  "score.model_serialize_s": statistics.median(serialize)})

        stop_spark()
        tracer.write(os.path.join(self.args.out_dir, "spans.json"))
        m.update(self.event_metrics(tracer))
        return m

    def layer_probes(self, tracer) -> dict:
        """Per-layer probes outside the training job: bucketing, one
        layer-1 bucket solved in-process, and the standard single-SVM
        baseline (also recorded with the data's metadata)."""
        import datagen
        import numpy as np
        import workloads as wl
        from parallel_svms_spark.ml import smo
        from parallel_svms_spark.operators import partitioning
        from pyspark.sql import functions as F

        k = wl.K[self.workload]
        df = wl.load(self.spark, self._path("train"))
        with tracer.span("operators.partitioning.balanced_buckets",
                         new_trace=True) as part:
            sizes = [r[1] for r in partitioning.balanced_buckets(df, k)
                     .groupBy("bucket").count().collect()]
        bucket0 = (partitioning.balanced_buckets(df, k)
                   .filter(F.col("bucket") == 0).toPandas())
        with tracer.span("ml.smo.train_svc", new_trace=True) as solve:
            model0 = smo.train_svc(np.stack(bucket0["embedding"].to_numpy()),
                                   bucket0["label"].to_numpy())
        props = datagen.measure_properties(self.data)
        self.meta["properties"] = {**props,
                                   "bucket_sv_frac": model0.n_sv
                                   / len(bucket0)}
        return {"partitioning.bucket_s": part.dur,
                "partitioning.bucket_skew":
                    max(sizes) / (sum(sizes) / len(sizes)),
                "smo.bucket_solve_s": solve.dur,
                "smo.bucket_sv_frac": model0.n_sv / len(bucket0),
                "smo.single_train_s": props["single_train_s"],
                "smo.single_accuracy": props["single_accuracy"],
                "smo.single_rows": props["single_rows"]}

    def bagging_probe(self, tracer) -> dict:
        """Bagging on the workload's data: train k models, vote over
        the holdout, and check the vote against the driver-local one."""
        import workloads as wl
        df = wl.load(self.spark, self._path("train"))
        with tracer.span("ml.bagging.bagging_train", new_trace=True) as tr:
            bag = wl.train_bagging(df)
        with tracer.span("ml.bagging.bagging_predict",
                         new_trace=True) as sc:
            bulk = self.bulk_score(bag)
        reply = self.request(bag, next(self.request_slices()))
        self.check_scoring(bag, [bulk], [reply])
        return {"bagging.models": len(bag.models),
                "bagging.total_sv": bag.n_sv,
                "bagging.model_bytes": len(pickle.dumps(
                    wl.model_payload(bag))),
                "bagging.train_s": tr.dur,
                "bagging.score_rows_per_s": len(bulk) / sc.dur}

    def event_metrics(self, tracer) -> dict:
        import spans as sp
        events = sp.EventLog(os.path.join(self.work, "events"))
        job = tracer.named("job.train")[0]
        w = events.window(job.start, job.end)
        op = sp.TRAIN_OP
        busy = w.busy_s(op)
        op_wall = w.op_wall(op)
        m = {"io.parse_s": tracer.named("io.read_dense_csv")[-1].dur,
             "trainer.fit_tasks": len(w.op_tasks(op)),
             "trainer.fit_busy_s": busy,
             "trainer.fit_max_task_s": w.max_task_s(op),
             "trainer.fit_idle_frac": (1 - busy / (self.cores * op_wall)
                                       if op_wall else 0.0),
             "trainer.to_python_bytes":
                 w.sql_metric(op, "data sent to Python workers"),
             "trainer.from_python_bytes":
                 w.sql_metric(op, "data returned from Python workers"),
             "trainer.python_init_s":
                 w.sql_metric(op, "time to initialize Python workers") / 1e3,
             "trainer.shuffle_write_bytes":
                 w.task_metric("Shuffle Write Metrics",
                               "Shuffle Bytes Written"),
             # fetch wait alone reads 0 in local mode: add write time
             "trainer.shuffle_io_s":
                 w.task_metric("Shuffle Read Metrics",
                               "Fetch Wait Time") / 1e3
                 + w.task_metric("Shuffle Write Metrics",
                                 "Shuffle Write Time") / 1e9,
             "iterative.replicated_rows":
                 w.sql_metric("BroadcastNestedLoopJoin",
                              "number of output rows"),
             "driver.no_job_s": w.no_job_s(),
             "driver.jobs": len(w.jobs),
             "jvm.spill_bytes": (w.task_metric("Memory Bytes Spilled")
                                 + w.task_metric("Disk Bytes Spilled"))}
        bulk = tracer.named("score.bulk")[0]
        bw = events.window(bulk.start, bulk.end)
        reqs = [events.window(s.start, s.end)
                for s in tracer.named("score.request")]
        m.update({
            "score.busy_s": bw.busy_s(sp.SCORE_OP),
            "score.to_python_bytes": bw.sql_metric(
                sp.SCORE_OP, "data sent to Python workers"),
            "score.request_job_s": statistics.median(r.job_s()
                                                     for r in reqs),
            "score.request_driver_s": statistics.median(r.no_job_s()
                                                        for r in reqs),
            "score.python_init_s": statistics.median(
                r.sql_metric(sp.SCORE_OP,
                             "time to initialize Python workers") / 1e3
                for r in reqs)})
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import parallel_svms_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    import datagen
    if args.workload not in datagen.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(datagen.WORKLOADS)}")
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".svmbench")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    args.out_dir = os.path.join(base, "out", tag)
    os.makedirs(args.out_dir, exist_ok=True)
    configure_env(work, bool(args.trace), cores)

    bench = Bench(args, work, cores)
    metrics: dict = {}
    crashed = False
    try:
        with procs.PeakRss() as rss:
            try:
                bench.setup()
                metrics = (bench.run_traced() if args.trace
                           else bench.run_timed())
            finally:
                stop_spark()
        log(f"peak rss {rss.peak_mb:.0f} MB: " + ", ".join(
            f"{k} {v / 2**20:.0f}" for k, v in sorted(
                rss.peak_parts.items(), key=lambda kv: -kv[1])))
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
    except CheckFailed as e:
        bench.check(False, str(e))
    except Exception:
        crashed = True
        log(f"run failed:\n{traceback.format_exc()}")
    finally:
        procs.reap_children()
        with open(os.path.join(args.out_dir, "meta.json"), "w") as fh:
            json.dump({**bench.meta, "cores": cores,
                       "driver_mem": DRIVER_MEM,
                       "driver_mem_default": DRIVER_MEM_DEFAULT,
                       "setup": bench.setup_parts,
                       "failed_checks": bench.checks}, fh, indent=1)
        shutil.rmtree(work, ignore_errors=True)

    if crashed:
        return 1                # no result to report
    if args.trace:
        units = _per_layer_units()
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    correct = not bench.checks
    print(json.dumps({"correct": correct,
                      "attempted": max(bench.attempted, 1),
                      "failed": bench.failed, "metrics": out}))
    return 0 if correct else 1


def _per_layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
