"""Partitioning / exchange / merge operators — the heart of all three
reference algorithms (SURVEY §2.4: X1-X4, A3).

The reference assigns each record a random subset id, re-rolling while
the chosen subset's Counter exceeds ``ceil(total/k)``
(cascade_svm/Precascade2.java:18-38) — nondeterministic and only
per-mapper-approximately balanced. The rebuild is deterministic (so the
DuckDB oracle can hash-match) and offers three strategies with
different scale profiles; AQE-safe by construction because the bucket
is a *column* (grouping is semantic, immune to physical partition
coalescing — SURVEY §4.3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def balanced_buckets(df: DataFrame, k: int, key: str = "vec_id",
                     strategy: str = "mod",
                     label_col: str = "label") -> DataFrame:
    """X1: balanced partition into k buckets (cascade_svm/Precascade2.java:18-38;
    identical Prebagging2.java / Preiterative2.java).

    Strategies (pick by key shape × scale):

    - ``mod``:    ``pmod(key, k)`` — exact balance for dense integer ids
                  (our fixtures), zero shuffle to *compute*, SQL-oracle
                  friendly. Default.
    - ``hash``:   ``pmod(xxhash64(key), k)`` — arbitrary keys, 100 TB
                  path; balance is statistical (±O(√(n/k))), same
                  guarantee class as the reference's racy counter cap.
    - ``rownum``: global ``row_number() % k`` — exact ±1 balance for
                  arbitrary keys, but a global sort ⇒ single-partition
                  window; only for driver-small data (model SV lists).
    - ``stratified``: per-class round-robin — every bucket receives an
                  equal ±1 share of EACH label, completing the design
                  the reference sketched then commented out
                  (cascade_svm/Precascade2.java:23-28; the A2
                  ``CLASS_<l>_COUNT`` counters of Precascade1.java:27
                  exist precisely to feed it). One window per class
                  (shuffle keyed by label) — with C classes that is C
                  window partitions, so at 100 TB prefer the
                  statistical equivalent ``pmod(xxhash64(key), k)``
                  unless exact per-class balance is required (small
                  training subsets, which is the reference's use).
    """
    if strategy == "mod":
        bucket = F.pmod(F.col(key), F.lit(k)).cast("int")
    elif strategy == "hash":
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(k)).cast("int")
    elif strategy == "rownum":
        rn = F.row_number().over(W.orderBy(key))
        bucket = ((rn - 1) % k).cast("int")
    elif strategy == "stratified":
        rn = F.row_number().over(W.partitionBy(label_col).orderBy(key))
        bucket = ((rn - 1) % k).cast("int")
    else:
        raise ValueError(f"unknown strategy: {strategy}")
    return df.withColumn("bucket", bucket)


def exchange_by_bucket(df: DataFrame, k: int) -> DataFrame:
    """X2: key exchange + identity reduce — shuffle records so each
    subset is physically co-located (cascade_svm/Precascade2.java:36,40-45,
    one output file per subset). In Spark the *grouped training* op
    (applyInPandas) induces its own exchange on the grouping key, so
    this explicit repartition exists only for when a caller wants the
    physical layout itself (e.g. writing one file per bucket).
    """
    return df.repartition(k, "bucket")


def agg_bucket_count(df_with_bucket: DataFrame) -> DataFrame:
    """A3: per-bucket running count with cap
    (``SUBSET_<i>`` counters, cascade_svm/Precascade2.java:26,32-35).
    Deterministic rebuild makes the cap structural, so the check is a
    plain grouped count.
    """
    return df_with_bucket.groupBy("bucket").agg(F.count("*").alias("subset_count"))


def merge_pairs(df_with_bucket: DataFrame) -> DataFrame:
    """X3: pairwise (binary-tree) cascade merge — mapper emits SVs
    keyed ``floor(taskId/2)`` and the reducer count halves each layer
    (cascade_svm/Midcascade.java:6,126-127,133-138; loop at
    cascade_svm/Driver.java:91-100). One layer = re-key + regroup; the
    full cascade runs every merge layer in one task (ml/cascade.py).

    Scale: this is exactly the ``treeAggregate`` shape — per-layer
    shuffle volume halves, so the whole cascade moves ≤2× the SV bytes
    of layer 1 regardless of depth.
    """
    return df_with_bucket.withColumn(
        "bucket", F.floor(F.col("bucket") / 2).cast("int"))


def halve_buckets_count(df_with_bucket: DataFrame) -> DataFrame:
    """merge_pairs + per-merged-bucket size — the oracle-checkable
    observable of one cascade layer."""
    return (
        merge_pairs(df_with_bucket)
        .groupBy("bucket").agg(F.count("*").alias("merged_count"))
    )


def salted_join(big: DataFrame, dim: DataFrame, key: str,
                n_salt: int = 8, row_col: str | None = None) -> DataFrame:
    """Skew-safe equi-join for the "hot key" regime: a handful of join
    keys carry a disproportionate share of the big side, so a plain
    hash-partitioned join lands them on a handful of reducers and the
    stage runs at the speed of its hottest task.

    The classic salting rewrite, value-identical to ``big.join(dim,
    key)``: the big side gets a per-ROW salt in [0, n_salt) (derived
    from ``row_col`` when given — deterministic — else
    ``monotonically_increasing_id``), the dim side is replicated once
    per salt value, and the join key becomes (key, salt) — a hot key's
    rows now spread across ``n_salt`` reducers instead of one.

    Use when the dim side is too big to broadcast (a broadcast join
    has no reduce-side skew and needs no salt) but ``n_salt``× its
    size is still exchangeable — the standard middle regime between
    broadcast and AQE's coarser skew-split. The dim side is hinted
    ``shuffle_hash`` so Spark never degrades to a sort-merge whose
    sort re-concentrates the hot key.

    MEASURED guidance (tools/skew_bench.py → SKEW.md): with a 2M-row
    dim, AQE's own skew split beat this rewrite at every tested scale
    — the n_salt× dim replication is a real fixed cost. Reach for
    salted_join only when AQE can't see the skew (pre-AQE engines,
    skew under aggregation with no join) or the dim is small enough
    that replication is trivial; leave AQE skew handling ON otherwise.
    """
    n_salt = int(n_salt)
    salt_src = F.col(row_col) if row_col else F.monotonically_increasing_id()
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salt)).cast("int"))
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    return (salted_big
            .join(salted_dim.hint("shuffle_hash"), [key, "__salt"])
            .drop("__salt"))


def global_ntile(df: DataFrame, order_cols: list[str], k: int = 10,
                 out_col: str = "bucket") -> DataFrame:
    """Exact global NTILE(k) over ``order_cols`` WITHOUT the
    single-task global window Spark would otherwise plan (an
    un-partitioned ``F.ntile(k).over(Window.orderBy(...))`` sorts the
    whole input in ONE task — dead at 100 TB).

    Two-pass distributed rank, the same decomposition as
    sharding.pack_shards' prefix sum but counting rows:

    1. range-partition on order_cols (Spark samples bounds; P
       parallel partitions, each internally sorted);
    2. per-partition row counts → driver (P longs), exclusive prefix
       offsets broadcast back;
    3. each partition computes local position + offset in one Arrow
       pass; bucket follows SQL NTILE exactly — with base = n div k
       and rem = n mod k, the first rem buckets hold base+1 rows and
       the rest hold base (NOT the floor(rank·k/n) proportional split,
       which differs whenever k does not divide n).

    Callers must include a tiebreaker column in order_cols (e.g. a
    unique id) — NTILE over a non-total order is engine-dependent.
    The DuckDB oracle runs the literal NTILE window and must
    hash-match, locking in the equivalence.
    """
    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    k = int(k)
    n_part = max(2, spark.sparkContext.defaultParallelism)
    ranged = (df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
              .sortWithinPartitions(*order_cols)
              .localCheckpoint())
    parts = (ranged.groupBy(F.spark_partition_id().alias("pid"))
             .agg(F.count("*").alias("cnt"),
                  F.min(F.struct(*order_cols)).alias("min_key"))
             .collect())
    # order by min_key, not pid: range partitions are key-ordered but
    # pid numbering need not follow the range order
    parts.sort(key=lambda r: tuple(r["min_key"]))
    offsets: dict[int, int] = {}
    acc = 0
    for r in parts:
        offsets[r["pid"]] = acc
        acc += int(r["cnt"])
    n_total = acc
    if n_total == 0:
        return df.withColumn(out_col, F.lit(None).cast("long")).limit(0)
    bc = spark.sparkContext.broadcast(offsets)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())])
    base, rem = divmod(n_total, k)
    cut = rem * (base + 1)  # global rank where the base+1 buckets end

    def assign(it):
        import numpy as np
        offs = bc.value
        pos = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offs.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.sort_values(list(order_cols), kind="mergesort")
            r0 = np.arange(pos, pos + len(pdf), dtype="int64")
            pos += len(pdf)
            if base == 0:  # n < k: one row per bucket, buckets 1..n
                bucket = r0 + 1
            else:
                bucket = np.where(
                    r0 < cut,
                    r0 // (base + 1) + 1,
                    rem + (r0 - cut) // base + 1)
            out = pdf.drop(columns="__pid").reset_index(drop=True)
            out[out_col] = bucket.astype("int64")
            yield out

    return (ranged.withColumn("__pid", F.spark_partition_id())
            .mapInPandas(assign, schema=out_schema))


def topk_per_group(df: DataFrame, group_cols: list[str], order_cols,
                   k: int, rank_col: str = "rnk") -> DataFrame:
    """Top-k rows per group WITHOUT a per-group global sort.

    The naive ``row_number() OVER (PARTITION BY group ORDER BY ...)``
    puts every row of a group through one task — for low-cardinality
    groups (market segments, languages, sources: single digits of
    groups over billions of rows) that is a handful of tasks each
    sorting ~n/|groups| rows, i.e. a disguised global sort. Two-phase
    instead:

    1. local: rank within (group, input-partition) and keep ≤ k rows —
       runs where the data already sits, no exchange, heap-sized sort;
    2. global: rank the survivors within group and keep k. The final
       window's per-group input is ≤ k × P rows (P = input
       partitions) — bounded by the plan, not the data.

    ``order_cols`` must define a TOTAL order (include a unique
    tiebreaker) — phase 1 discards rows, so ties at the k boundary
    would otherwise make the result partition-dependent. The rank
    column is emitted (INT, 1-based) so callers/oracles can pin the
    order. Value-identical to the one-window form, which is exactly
    what the DuckDB oracle runs.
    """
    order_cols = list(order_cols)
    local = W.partitionBy(*group_cols, F.spark_partition_id()) \
                  .orderBy(*order_cols)
    survivors = (df.withColumn("__lr", F.row_number().over(local))
                 .filter(F.col("__lr") <= k).drop("__lr"))
    final = W.partitionBy(*group_cols).orderBy(*order_cols)
    return (survivors.withColumn(rank_col,
                                 F.row_number().over(final).cast("int"))
            .filter(F.col(rank_col) <= k))


def grouped_exact_percentiles(df: DataFrame, group_col: str,
                              value_col: str,
                              ps: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """EXACT linear-interpolated percentiles per group WITHOUT a
    per-group sort task.

    ``percentile() OVER`` / ``quantile_cont`` on a low-cardinality
    group column (event types, languages, sources) funnels each
    group's entire value set through one task — a disguised global
    sort, dead at 100 TB. ``sketch_profile`` covers the approximate
    path (t-digest); this is the exact path, as distributed
    SELECTION rather than sort:

    1. range-partition on (group, value) — Spark samples split
       bounds; P parallel partitions, each internally sorted, a
       group's rows occupying a contiguous run of partitions in
       range order;
    2. per-(partition, group) row counts → driver (≤ P × |groups|
       longs), within-group exclusive offsets accumulated in range
       order and broadcast back;
    3. one Arrow pass emits ONLY the rows whose within-group global
       rank brackets a requested percentile position (≤ 2·|ps| rows
       per group);
    4. the tiny bracket set (bounded by construction:
       |groups| × 2|ps| rows) interpolates on the driver with
       ``v_lo + frac·(v_hi − v_lo)``.

    The interpolation algebra — position ``1 + p·(n−1)``, floor/ceil
    bracket, linear blend — is written with the SAME IEEE-double
    expression shape the DuckDB oracle uses (every operand cast to
    DOUBLE there: bare ``0.5·(n−1)`` would be DECIMAL arithmetic in
    DuckDB — the r5 interval_join type-divergence class), so the
    doubles are bit-identical and the oracle hash-matches without
    rounding. Ties need no tiebreaker: equal values bracket to equal
    values whichever engine's row_number wins.

    NULL values are excluded (both engines), matching aggregate
    percentile semantics. Returns one row per group:
    (group, n, p50, p90, p99 — column names derived from ``ps``).
    """
    import math

    from pyspark.sql import types as T

    spark = df.sparkSession
    src = (df.select(F.col(group_col).alias("grp"),
                     F.col(value_col).cast("double").alias("val"))
           .filter(F.col("val").isNotNull()))
    n_part = max(2, spark.sparkContext.defaultParallelism)
    ranged = (src.repartitionByRange(n_part, "grp", "val")
              .sortWithinPartitions("grp", "val")
              .localCheckpoint())
    parts = (ranged.groupBy(F.spark_partition_id().alias("pid"), "grp")
             .agg(F.count("*").alias("cnt"),
                  F.min("val").alias("min_val"))
             .collect())
    # range order, not pid order (pid numbering need not follow the
    # range partitioner's key order — same caveat as global_ntile)
    parts.sort(key=lambda r: (r["grp"], r["min_val"], r["pid"]))
    totals: dict = {}
    offsets: dict = {}  # (pid, grp) -> within-group exclusive offset
    for r in parts:
        g = r["grp"]
        offsets[(int(r["pid"]), g)] = totals.get(g, 0)
        totals[g] = totals.get(g, 0) + int(r["cnt"])
    # within-group global ranks that bracket each requested position
    needed: dict = {}
    for g, n in totals.items():
        want = set()
        for p in ps:
            pos = 1.0 + p * (n - 1)
            want.add(int(math.floor(pos)))
            want.add(int(math.ceil(pos)))
        needed[g] = want
    bc = spark.sparkContext.broadcast((offsets, needed))

    out_schema = T.StructType([
        T.StructField("grp", src.schema["grp"].dataType),
        T.StructField("rank", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])

    def pick(it):
        import pandas as pd
        offs, need = bc.value
        # within-group rank consumed so far IN THIS PARTITION: one
        # partition arrives as SEVERAL Arrow batches once it exceeds
        # arrow.maxRecordsPerBatch, and a per-batch enumerate would
        # restart every group's rank at its partition offset each
        # batch — correct on 32-way-split fixtures (every partition
        # fit one batch) and silently wrong/crashing at lower core
        # counts (found by the r10 low-core A/B; the same carried-
        # running-state contract global_ntile/pack-pass-2 already use)
        seen: dict = {}
        pid = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            pdf = pdf.sort_values(["grp", "val"], kind="mergesort")
            rows = []
            for g, sub in pdf.groupby("grp", sort=False):
                base = seen.setdefault(g, offs.get((pid, g), 0))
                want = need.get(g, ())
                for i, v in enumerate(sub["val"].to_numpy()):
                    rk = base + i + 1
                    if rk in want:
                        rows.append((g, rk, float(v)))
                seen[g] = base + len(sub)
            if rows:
                yield pd.DataFrame(rows, columns=["grp", "rank", "val"])

    brackets = (ranged.withColumn("__pid", F.spark_partition_id())
                .mapInPandas(pick, schema=out_schema).collect())
    byg: dict = {}
    for r in brackets:
        byg.setdefault(r["grp"], {})[int(r["rank"])] = float(r["val"])
    out_rows = []
    for g in sorted(totals):
        n = totals[g]
        vals = byg[g]
        row = [g, n]
        for p in ps:
            pos = 1.0 + p * (n - 1)
            lo, hi = int(math.floor(pos)), int(math.ceil(pos))
            row.append(vals[lo] + (pos - lo) * (vals[hi] - vals[lo]))
        out_rows.append(tuple(row))
    pcols = [f"p{int(round(p * 100))}" for p in ps]
    schema = T.StructType(
        [T.StructField(group_col, src.schema["grp"].dataType),
         T.StructField("n", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in pcols])
    return spark.createDataFrame(out_rows, schema)


def heavy_keys(df: DataFrame, key: str, k: int = 20) -> DataFrame:
    """Hot-key diagnostic: the ``k`` most frequent values of ``key``
    with their exact row counts and corpus share — the preflight an
    engineer runs BEFORE choosing between a plain join, ``salted_join``
    and AQE skew handling (SKEW.md's measured decision table needs the
    share numbers this emits). Output ``(key, n_rows, share_ppm)``,
    share in exact integer parts-per-million so the result is
    FP-noise-free and engine-hashable.

    Scale shape: the per-key count is one map-side-combinable
    group-by (shuffle carries ≤ |distinct keys| partial rows, never
    the corpus); the global total is the SUM of those per-key counts.
    Both branches share the same count subtree, and at runtime AQE
    substitutes a ``ReusedExchange`` for the total branch's shuffle
    (plan-tested), so the corpus is scanned and partially aggregated
    exactly once. The one-row total joins back by broadcast
    cross-join (1×|keys| — free), and the final top-k is a heap
    ``TakeOrderedAndProject`` (orderBy+limit fusion), never a full
    sort. Skewed keys are the POINT here, and they are harmless: skew
    lands in the corpus scan's partial aggregation, which is per-task
    and pre-shuffle.

    ``share_ppm = (n_rows · 10⁶) DIV total`` in exact LONG integer
    division (never a double divide + floor, whose 2⁻⁵³ rounding
    could flip a ppm at ≥10⁸-row keys) — overflow-safe through
    ~9·10¹² rows per key. Deterministic total order: (n_rows DESC,
    key ASC) tie-break.
    """
    counts = df.groupBy(key).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    # the scalar reattach IS a BroadcastNestedLoopJoin in the plan —
    # benign by construction (build side = the ONE-row total; a
    # constant-key equi-join folds back to the same plan), so the
    # plan audit carries a named exemption for this qkey
    return (counts.crossJoin(F.broadcast(total))
            .select(
                key,
                "n_rows",
                F.expr("(n_rows * CAST(1000000 AS BIGINT)) DIV __total")
                .alias("share_ppm"))
            .orderBy(F.desc("n_rows"), F.asc_nulls_last(key))
            .limit(int(k)))


def heavy_keys_approx(df: DataFrame, key: str, k: int = 20,
                      capacity: int = 4096) -> DataFrame:
    """``heavy_keys``' bounded-shuffle scale twin, same output
    contract ``(key, n_rows, share_ppm)``. ``heavy_keys`` shuffles one
    partial row per DISTINCT key — fine to ~10⁹ keys, but a corpus
    keyed on near-unique values (URLs, session ids) would exchange
    rows ≈ the corpus. This variant bounds the exchange at
    ``capacity × partitions`` regardless of key cardinality:

    1. per-partition Misra-Gries summaries (Arrow-batched, ≤
       ``capacity`` counters each) nominate CANDIDATE keys; each
       summary also carries its partition's exact row count (a marker
       row), so the global total needs no second aggregate;
    2. one exact recount of the candidates only (broadcast semi-join
       against the candidate set, then the same count/total/heap-top-k
       tail as ``heavy_keys``).

    Guarantee (the merged-MG bound): any key whose GLOBAL frequency
    exceeds n/capacity survives step 1, so its recounted value — and
    therefore the emitted top-k — is EXACT whenever every true top-k
    key clears that bar; a key can only be missing if its share is
    below 1/capacity (⇒ below 244 ppm at the default), which is also
    the regime where it cannot be a skew hazard. When ``capacity`` ≥
    per-partition distinct keys the summaries are lossless and the
    result is identical to ``heavy_keys`` unconditionally (the fixture
    regime — the qkey shares heavy_keys' oracle verbatim, the
    salted-join pattern for value-identical rewrites).

    Cost trade vs ``heavy_keys``: two scans of ``df`` instead of one,
    in exchange for a key-cardinality-independent shuffle. Keys must
    be integral (the diagnostic's join-key use case); NULL keys count
    as a real group, as in ``heavy_keys``.
    """
    import pandas as pd

    cap = int(capacity)

    def summarize(it):
        counters: dict = {}
        n_rows = 0
        for pdf in it:
            n_rows += len(pdf)
            for v in pdf[key]:
                v = None if pd.isna(v) else int(v)
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cap:
                    counters[v] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    dead = []
                    for c in counters:
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del counters[c]
        # candidates carry the -1 sentinel; the ONE marker row per
        # partition carries part_rows = n_rows (>= 0). A 0-sentinel
        # would make an EMPTY partition's marker (cand=NULL,
        # part_rows=0) indistinguishable from a candidate, injecting
        # a spurious NULL candidate (r6 advice).
        out = pd.DataFrame({
            "cand": pd.array(list(counters) + [None],
                             dtype="Int64"),
            "part_rows": [-1] * len(counters) + [n_rows],
        })
        yield out

    # materialize the summaries ONCE (they are tiny — ≤ cap×P rows of
    # two longs): total and candidates both read the checkpointed
    # result, so the summary scan never re-runs when the returned
    # lazy plan executes (the extract_features eager pattern)
    summaries = (df.select(key)
                 .mapInPandas(summarize,
                              schema="cand long, part_rows long")
                 .localCheckpoint(eager=True))
    total = int(summaries.filter(F.col("part_rows") >= 0)
                .agg(F.sum("part_rows")).first()[0] or 0)
    if total == 0:
        return (df.select(key).limit(0)
                .select(key, F.lit(0).cast("long").alias("n_rows"),
                        F.lit(0).cast("long").alias("share_ppm")))
    cands = (summaries.filter(F.col("part_rows") == -1)
             .select(F.col("cand").alias(key)).distinct())
    # no broadcast hint: candidates are usually ~capacity rows (AQE
    # broadcasts), but a pathological cap×P candidate set must be
    # allowed to hash-partition
    counts = (df.select(key)
              .join(cands, [df[key].eqNullSafe(cands[key])], "left_semi")
              .groupBy(key).agg(F.count("*").alias("n_rows")))
    return (counts.select(
                key, "n_rows",
                F.expr(f"(n_rows * CAST(1000000 AS BIGINT)) "
                       f"DIV CAST({total} AS BIGINT)")
                .alias("share_ppm"))
            .orderBy(F.desc("n_rows"), F.asc_nulls_last(key))
            .limit(int(k)))
