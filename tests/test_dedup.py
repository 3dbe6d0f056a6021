"""Dedup operator family (SURVEY §2.8 E1/E2) on documents sf0.001."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from parallel_svms_spark.io.sources import load_table
from parallel_svms_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    # inject exact + near duplicates with known ids
    base = docs.limit(20)
    exact = base.select((F.col("doc_id") + 10_000).alias("doc_id"),
                        "text", "lang", "source", "n_chars")
    # near-dup: drop the first token
    near = base.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 2, 100_000))
         .alias("text"),
        "lang", "source", "n_chars")
    return docs.unionByName(exact).unionByName(near)


def test_exact_dedup(spark, docs, docs_with_dups):
    n_orig = docs.count()
    keys = D.exact_dedup_keys(docs_with_dups)
    # every injected exact dup collapses onto its original (min doc_id)
    assert keys.count() == n_orig + 20  # near-dups are NOT exact dups
    assert keys.filter("doc_id >= 10000 and doc_id < 20000").count() == 0
    full = D.exact_dedup(docs_with_dups)
    assert full.count() == keys.count()
    assert set(full.columns) == set(docs.columns)


def test_ngram_jaccard_finds_injected_near_dups(docs_with_dups):
    pairs = D.ngram_jaccard_pairs(docs_with_dups, k=3, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # original ↔ exact copy has jaccard 1.0; original ↔ first-token-drop
    # shares most shingles
    for i in range(20):
        assert any(a == i and b == i + 10_000 for a, b in got), f"exact {i}"


def test_minhash_recall_vs_exact(docs_with_dups):
    exact = {(r.doc_a, r.doc_b)
             for r in D.ngram_jaccard_pairs(docs_with_dups, 3, 0.5).collect()}
    mh = {(r.doc_a, r.doc_b)
          for r in D.minhash_near_dups(docs_with_dups, threshold=0.5).collect()}
    # minhash post-verifies with exact jaccard → no false positives
    assert mh <= exact
    # recall floor for 16 bands × 4 rows at j≥0.5
    assert len(mh) >= 0.8 * len(exact)


def test_minhash_deterministic(docs):
    s1 = D.minhash_signatures(docs).orderBy("doc_id").collect()
    s2 = D.minhash_signatures(docs).orderBy("doc_id").collect()
    assert [r.sig for r in s1] == [r.sig for r in s2]


def test_simhash_properties(spark, docs, docs_with_dups):
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs_with_dups).collect()}
    # identical text → identical simhash
    for i in range(20):
        assert sigs[i] == sigs[i + 10_000]
    nd = D.simhash_near_dups(docs_with_dups, max_hamming=3)
    got = {(r.doc_a, r.doc_b) for r in nd.collect()}
    for i in range(20):
        assert (i, i + 10_000) in got


def test_md5_token_hash_matches_python_ground_truth(spark):
    # the cross-engine contract behind the dedup_simhash oracle: the
    # JVM-side signed-int64-of-low-md5-bits must equal the reference
    # computation bit for bit (DuckDB's oracle derives the same bits
    # from hex chars — see __spark_entry__._SIMHASH_ORACLE)
    import hashlib
    toks = ["hello", "the", "fox42", "ünïcode", ""]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = {r.t: r.h for r in df.select(
        "t", D._token_hash(F.col("t"), "md5").alias("h")).collect()}
    for t in toks:
        v = int(hashlib.md5(t.encode()).hexdigest()[16:], 16)
        signed = v - (1 << 64) if v >= (1 << 63) else v
        assert got[t] == signed, t


def test_simhash_hasher_variants_both_work(docs):
    md5_sigs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    xx_sigs = {r.doc_id: r.simhash
               for r in D.simhash(docs, hasher="xxhash64").collect()}
    assert set(md5_sigs) == set(xx_sigs)
    # different hash families ⇒ different signatures, same determinism
    assert md5_sigs != xx_sigs
    again = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert md5_sigs == again


def test_doc_freq_cap_prunes_hot_shingles(docs):
    # with a tiny cap every shingle is "hot" → no candidates survive
    pairs = D.ngram_jaccard_pairs(docs, k=3, threshold=0.0, max_doc_freq=0)
    assert pairs.count() == 0


def test_doc_freq_cap_bounds_planted_stopword_blowup(spark):
    # 60 docs all opening with the same 3-token shingle but otherwise
    # disjoint: uncapped, the hot shingle alone expands 60·59/2 = 1770
    # pair rows; with the cap (default 1000 ≫ fixture freqs, here 10)
    # the group is dropped before the explode and zero pairs form.
    rows = [(i, f"the quick fox unique{i}a unique{i}b unique{i}c")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.ngram_jaccard_pairs(docs, k=3, threshold=0.0,
                                     max_doc_freq=None)
    assert uncapped.count() == 60 * 59 // 2
    capped = D.ngram_jaccard_pairs(docs, k=3, threshold=0.0,
                                   max_doc_freq=10, log_dropped=True)
    assert capped.count() == 0


def test_cache_scope_releases_persisted_blocks(spark, docs):
    """VERDICT r2 #5: the persisting operators leave blocks behind by
    documented contract; cache_scope must reclaim them on exit."""
    from parallel_svms_spark.caching import cache_scope
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    with cache_scope():
        D.minhash_near_dups(docs, threshold=0.5).collect()
        assert not cm.isEmpty()  # intermediates cached inside the scope
    assert cm.isEmpty()          # nothing survives scope exit
    with cache_scope():
        D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        assert not cm.isEmpty()
    assert cm.isEmpty()
    # outside any scope the historical caller-managed contract holds
    D.minhash_near_dups(docs, threshold=0.5).collect()
    assert not cm.isEmpty()
    spark.catalog.clearCache()


def test_minhash_incremental_equals_full_run_restriction(docs_with_dups):
    """minhash_near_dups_incremental(corpus, batch) must reproduce
    EXACTLY the full-run pairs that touch the batch — the contract
    that lets a daily batch join a persisted index instead of
    re-running LSH over the corpus. The injected dup ids (+10k/+20k)
    land in the batch via the %7 split, so real cross pairs exist."""
    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in D.minhash_near_dups(
                docs_with_dups, threshold=0.5).collect()}
    corpus = docs_with_dups.filter("doc_id % 7 != 0")
    batch = docs_with_dups.filter("doc_id % 7 = 0")
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in D.minhash_near_dups_incremental(
               corpus, batch, threshold=0.5).collect()}
    want = {(a, b, j) for (a, b, j) in full if a % 7 == 0 or b % 7 == 0}
    assert got == want
    assert got, "split produced no touching pairs — fixture too weak"


def test_minhash_incremental_index_roundtrip(spark, docs_with_dups,
                                             tmp_path):
    """The persisted-index path: write the band index to parquet, read
    it back, and the batch-vs-index join must give the same pairs as
    building the index inline — with ONE signature computation total
    (the batch's; the corpus is never re-signed, its only appearance
    is the verify semi-join)."""
    corpus = docs_with_dups.filter("doc_id % 7 != 0")
    batch = docs_with_dups.filter("doc_id % 7 = 0")
    p = str(tmp_path / "band_index.parquet")
    D.minhash_band_index(corpus).write.mode("overwrite").parquet(p)
    index = spark.read.parquet(p)
    calls = []
    real = D.minhash_signatures
    try:
        D.minhash_signatures = lambda *a, **kw: (calls.append(a),
                                                 real(*a, **kw))[1]
        out = D.minhash_near_dups_incremental(corpus, batch, index=index,
                                              threshold=0.5)
        got = {(r.doc_a, r.doc_b, r.jaccard) for r in out.collect()}
    finally:
        D.minhash_signatures = real
    assert len(calls) == 1, "index path must sign ONLY the batch"
    inline = {(r.doc_a, r.doc_b, r.jaccard)
              for r in D.minhash_near_dups_incremental(
                  corpus, batch, threshold=0.5).collect()}
    assert got == inline
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    spark.catalog.clearCache()


def test_minhash_index_append_two_day_cycle(spark, docs_with_dups,
                                            tmp_path):
    """VERDICT r6 #3: the index-maintenance half of the lifecycle.
    Day 1 screens batch₁ against the corpus index and APPENDS batch₁'s
    band rows; day 2 screens batch₂ against the updated index. The
    day-2 result must be row-identical to the inline
    minhash_near_dups_incremental(corpus ∪ batch₁, batch₂), and the
    spy pins that day 2 signs ONLY batch₂ — neither the corpus nor
    batch₁ is ever re-signed."""
    corpus = docs_with_dups.filter("doc_id % 7 > 1")
    batch1 = docs_with_dups.filter("doc_id % 7 = 0")
    batch2 = docs_with_dups.filter("doc_id % 7 = 1")
    p = str(tmp_path / "band_index.parquet")
    D.minhash_band_index(corpus).write.mode("overwrite").parquet(p)
    # day 1: screen, then append the screened batch into the index
    D.minhash_near_dups_incremental(
        corpus, batch1, index=spark.read.parquet(p),
        threshold=0.5).collect()
    D.minhash_index_append(batch1, p)
    spark.catalog.clearCache()
    # day 2: the union corpus is only touched by the verify semi-join
    day1_corpus = corpus.unionByName(batch1)
    calls = []
    real = D.minhash_signatures
    try:
        D.minhash_signatures = lambda *a, **kw: (calls.append(a),
                                                 real(*a, **kw))[1]
        got = {(r.doc_a, r.doc_b, r.jaccard)
               for r in D.minhash_near_dups_incremental(
                   day1_corpus, batch2, index=spark.read.parquet(p),
                   threshold=0.5).collect()}
    finally:
        D.minhash_signatures = real
    assert len(calls) == 1, "day 2 must sign ONLY batch2"
    inline = {(r.doc_a, r.doc_b, r.jaccard)
              for r in D.minhash_near_dups_incremental(
                  day1_corpus, batch2, threshold=0.5).collect()}
    assert got == inline
    assert got, "split produced no touching pairs — fixture too weak"
    spark.catalog.clearCache()


def test_minhash_incremental_empty_batch(spark, docs):
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, "
            "n_chars int")
    assert D.minhash_near_dups_incremental(
        docs, empty, threshold=0.5).count() == 0


@functools.lru_cache(maxsize=None)
def _serial_levenshtein(a: str, b: str) -> int:
    m, n = len(a), len(b)
    d = list(range(n + 1))
    for i in range(1, m + 1):
        prev, d[0] = d[0], i
        for j in range(1, n + 1):
            t = d[j]
            d[j] = min(d[j] + 1, d[j - 1] + 1,
                       prev + (a[i - 1] != b[j - 1]))
            prev = t
    return d[n]


def _serial_pairs_within(rows, tau: int = 3) -> set:
    """Every (doc_a, doc_b, distance) with distance <= tau over every
    pair of ``rows`` (``doc_id``, ``h``), by ``_serial_levenshtein``.
    A pair whose bag distance exceeds tau skips the DP: one edit
    removes at most one surplus character from each side's multiset,
    so the bag distance is a lower bound of the edit distance, and
    such a pair is more than tau apart."""
    import itertools
    from collections import Counter

    counts = [Counter(r.h) for r in rows]
    want = set()
    for (ia, ra), (ib, rb) in itertools.combinations(enumerate(rows), 2):
        ca, cb = counts[ia], counts[ib]
        if max(sum((ca - cb).values()), sum((cb - ca).values())) > tau:
            continue
        dd = _serial_levenshtein(ra.h, rb.h)
        if dd <= tau:
            a, b = sorted((ra.doc_id, rb.doc_id))
            want.add((a, b, dd))
    return want


def test_editdist_passjoin_full_recall_vs_brute_force(spark, docs):
    """VERDICT r6 #7: PassJoin pigeonhole blocking must have FULL
    recall on the head window — including edits INSIDE the first 12
    chars, the prefix blocking's designed blind spot. Ground truth is
    an independent serial Levenshtein over every head pair."""
    base = docs.limit(15)
    pref = base.select(
        (F.col("doc_id") + 30_000).alias("doc_id"),
        F.concat(F.lit("X"), F.expr("substring(text, 2)")).alias("text"),
        "lang", "source", "n_chars")
    all_docs = docs.unionByName(pref)
    got = {(r.doc_a, r.doc_b, r.edit_dist)
           for r in D.editdist_near_dups(
               all_docs, blocking="passjoin").collect()}
    rows = all_docs.select(
        "doc_id",
        F.substring(F.lower("text"), 1, 64).alias("h")).collect()
    want = _serial_pairs_within(rows)
    assert got == want
    # the injected first-char edits are exactly what prefix blocking
    # misses and passjoin must recover
    injected = {(a, b) for (a, b, _) in want if b >= 30_000}
    assert injected, "fixture too weak"
    prefix_got = {(r.doc_a, r.doc_b)
                  for r in D.editdist_near_dups(all_docs).collect()}
    assert injected - prefix_got, \
        "prefix mode unexpectedly caught first-char edits"
    assert injected <= {(a, b) for (a, b, _) in got}


def test_editdist_passjoin_short_heads_covered(spark):
    """Heads shorter than q+tau chars cannot be segmented 4 ways —
    the short-block fallback must still pair them (full recall holds
    unconditionally), including short-vs-slightly-longer pairs that
    bridge the cutoff."""
    rows = [(1, "abc"), (2, "abd"),         # ed 1, both short
            (3, "abcdefgh"), (4, "abcdef"),  # len 8 vs 6: bridges cutoff
            (5, "zzzzzzzzzzzzzzzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b, r.edit_dist)
           for r in D.editdist_near_dups(df, blocking="passjoin")
           .collect()}
    assert (1, 2, 1) in got
    assert (3, 4, 2) in got
    assert not any(5 in (a, b) for a, b, _ in got)


def test_editdist_unknown_blocking_raises(docs):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="blocking"):
        D.editdist_near_dups(docs, blocking="soundex")


def _planted_boilerplate(spark, n_dup=200, n_junk=200, n_norm=8):
    """VERDICT r7 #1's degenerate corpus: a big exact-duplicate-head
    block (boilerplate), a short-junk population, a few normal docs."""
    tail = "the quick brown fox jumps over the lazy dog " * 3
    rows = ([(i, "BOILERPLATE LICENSE HEADER do not remove " + tail)
             for i in range(n_dup)]
            + [(10_000 + i, ["", "ok", "null", "n/a"][i % 4])
               for i in range(n_junk)]
            + [(20_000 + i, f"normal document number {i} " + tail)
               for i in range(n_norm)])
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_editdist_passjoin_boilerplate_bounded(spark):
    """VERDICT r7 #1 done-criterion: on the planted boilerplate
    corpus, no segment-join key carries more rows than the cap — the
    duplicate-head block collapses to ONE representative before
    blocking, so the join-side group sizes are bounded by construction
    regardless of duplication factor."""
    df = _planted_boilerplate(spark)
    got = D.editdist_passjoin_pairs(df)
    # (a) the blocking index never sees the duplicates: rebuild the
    # index-side frame the operator builds and assert every
    # (plen, i, seg) group is tiny (the 200-dup block contributes 1)
    tau, q, vc = 3, 4, 64
    heads = (df.select(F.substring(F.lower("text"), 1, vc).alias("head"))
             .groupBy("head").count())
    assert heads.agg(F.max("count")).first()[0] == 200
    reps = heads.select("head").withColumn("slen", F.length("head"))
    base = F.expr(f"plen DIV {q}")
    rem = F.col("plen") % q
    seg_len = base + F.when(F.col("i") >= q - rem, 1).otherwise(0)
    seg_start = F.col("i") * base + F.greatest(
        F.col("i") - (q - rem), F.lit(0))
    idx = (reps.filter(F.col("slen") >= q + tau)
           .withColumn("plen", F.col("slen"))
           .withColumn("i", F.explode(F.sequence(F.lit(0),
                                                 F.lit(q - 1))))
           .select("plen", "i",
                   F.substring(F.col("head"), seg_start + 1, seg_len)
                   .alias("seg")))
    max_key = (idx.groupBy("plen", "i", "seg").count()
               .agg(F.max("count")).first()[0])
    # the 200-dup block contributes ONE row per key; the residual
    # hotness is the 8 distinct normal docs sharing their non-digit
    # segments — bounded by the distinct-head count, not the corpus
    assert max_key <= 8, "post-collapse segment keys must be tiny"
    # (b) the emitted pair set is still the exhaustive truth: 200
    # boilerplate docs -> C(200,2) d=0 pairs; junk collapses to 4
    # distinct heads whose intra pairs are d=0 and whose cross pairs
    # verify by levenshtein
    rows = df.select(
        "doc_id", F.substring(F.lower("text"), 1, vc).alias("h")
    ).collect()
    want = {(a, b) for a, b, _ in _serial_pairs_within(rows)}
    got_pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert got_pairs == want


def test_editdist_passjoin_dup_cap_star_degrade(spark):
    """Above max_dup_group a duplicate-head group degrades to a STAR
    (rep->member, n-1 distance-0 rows) instead of C(n,2) pairs — the
    connected component is identical, the row count is linear."""
    df = _planted_boilerplate(spark, n_dup=50, n_junk=0, n_norm=0)
    full = D.editdist_passjoin_pairs(df).collect()
    assert len(full) == 50 * 49 // 2
    assert all(r.edit_dist == 0 for r in full)
    capped = D.editdist_passjoin_pairs(df, max_dup_group=10).collect()
    assert len(capped) == 49  # star: rep paired with every member
    assert all(r.doc_a == 0 and r.edit_dist == 0 for r in capped)
    # same connected component either way
    nodes = {x for r in capped for x in (r.doc_a, r.doc_b)}
    assert nodes == set(range(50))


def test_editdist_passjoin_segment_cap_documented_drop(spark):
    """max_segment_group drops hotter-than-cap segment keys (recall
    trade, prefix-mode max_block contract): DISTINCT heads sharing a
    segment stop pairing when the key is capped away, while pairs
    untouched by the hot key survive."""
    # 30 distinct heads sharing segments (same text, distinct suffix
    # digit patterns beyond the verify window won't help: vary INSIDE)
    rows = [(i, f"shared boilerplate prefix text block nr {i:04d} pad")
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.editdist_passjoin_pairs(df).count()
    assert uncapped > 0
    capped = D.editdist_passjoin_pairs(df, max_segment_group=2).count()
    assert capped < uncapped


def test_editdist_passjoin_short_bucket_cap(spark):
    """max_short_bucket excludes a flooded short length class from
    the all-pairs fallback while keeping smaller classes intact."""
    rows = ([(i, f"ab{chr(99 + i % 20)}{i:03d}") for i in range(40)]
            + [(100, "xy"), (101, "xz")])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.editdist_passjoin_pairs(df, max_short_bucket=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got          # small class (len 2) survives
    assert not any(a < 100 and b < 100 for a, b in got), \
        "flooded len-6 class must be excluded by the cap"


def test_editdist_passjoin_null_text_excluded(spark):
    """Null-text docs never pair (pre-collapse must not turn the null
    group into intra distance-0 pairs the uncollapsed join never
    produced)."""
    rows = [(1, None), (2, None), (3, "hello world"), (4, "hello world")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b, r.edit_dist)
           for r in D.editdist_passjoin_pairs(df).collect()}
    assert got == {(3, 4, 0)}


def test_source_overlap_hand_computed(spark):
    """Full-row contract on a hand-computable corpus: distinct-shingle
    counts per source, shared counts per pair, exact-ppm containment,
    zero-overlap pairs absent, in-source duplicates collapsed, and the
    <k-token whole-text fallback shared with decontaminate."""
    rows = [
        (1, "A", "one two three four five six"),
        (2, "A", "alpha"),                       # <k fallback shingle
        (3, "A", "one two three four five six"), # in-source exact dup
        (4, "B", "one two three four five seven"),
        (5, "B", "alpha"),
        (6, "C", "totally different text here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.source_a, r.source_b): r.asDict()
           for r in D.source_overlap(df).collect()}
    # A = {onetwo..five, two..six, alpha} (dup doc adds nothing);
    # B = {onetwo..five, two..seven, alpha}; C = {one 5-gram}
    assert set(got) == {("A", "B")}, "zero-overlap pairs must be absent"
    ab = got[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_shared"]) == (3, 3, 2)
    assert ab["containment_ppm"] == 2 * 1_000_000 // 3


def test_source_overlap_fixture_shape(spark, docs):
    """On the real fixture: one row per unordered pair, lexical order,
    containment bounded by 10^6, and counts consistent."""
    out = D.source_overlap(docs).collect()
    assert out, "fixture must have cross-source shingle overlap"
    seen = set()
    for r in out:
        assert r.source_a < r.source_b
        assert (r.source_a, r.source_b) not in seen
        seen.add((r.source_a, r.source_b))
        assert 0 < r.n_shared <= min(r.n_a, r.n_b)
        assert 0 <= r.containment_ppm <= 1_000_000


def test_repeated_spans_hand_computed(spark):
    """Full contract on a hand-computable corpus: cross-doc repeated
    5-grams produce spans in BOTH docs, overlapping gram hits merge
    into one maximal span, unique text emits nothing, <k-token and
    NULL docs are excluded."""
    boiler = "copy right all rights reserved do not redistribute"  # 8 toks
    rows = [
        (1, boiler + " unique tail one x y z"),
        (2, "header words here " + boiler),
        (3, "totally fresh words nothing repeats in this doc at all"),
        (4, "tiny doc"),          # < k tokens: no grams
        (5, None),                # NULL: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id): (r.span_start, r.span_tokens)
           for r in D.repeated_spans(df).collect()}
    # the shared 8-token run has gram starts 0..3 (doc 1) / 3..6
    # (doc 2); each doc's hits are contiguous (gaps <= k) so exactly
    # one span per doc covering the 8 boilerplate tokens
    assert got == {1: (0, 8), 2: (3, 8)}


def test_repeated_spans_island_break_and_intra_doc(spark):
    """Two properties the hand case above doesn't reach: (a) hits
    separated by more than k start positions split into two spans;
    (b) min_count counts TOTAL occurrences, so a phrase repeated
    twice INSIDE one document is flagged with no second doc."""
    rep = "p q r s t"                       # the repeated 5-gram
    mid = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"  # 10 unique separators
    text = f"{rep} {mid} {rep}"             # starts 0 and 15, gap 15 > 5
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted((r.span_start, r.span_tokens)
                 for r in D.repeated_spans(df).collect())
    assert got == [(0, 5), (15, 5)]


def test_repeated_span_stats_row_per_doc_and_ppm(spark):
    """Stats emit one row per non-NULL doc (zeros for clean docs) and
    dup_ppm is exact integer arithmetic consistent with the spans."""
    boiler = "copy right all rights reserved do not redistribute"
    rows = [(1, boiler + " unique tail one x y z"),   # 14 toks, 8 dup
            (2, "header words here " + boiler),       # 11 toks, 8 dup
            (3, "totally fresh words nothing repeats here ok"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in D.repeated_span_stats(df).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["dup_tokens"], got[1]["n_spans"]) == (8, 1)
    assert got[1]["dup_ppm"] == 8 * 1_000_000 // got[1]["n_tokens"]
    assert (got[3]["dup_tokens"], got[3]["n_spans"],
            got[3]["dup_ppm"]) == (0, 0, 0)


def test_repeated_spans_fixture_consistency(spark, docs):
    """On the real fixture: spans fit inside their documents, stats
    cover every doc, and dup_tokens equals the sum of span lengths."""
    spans = D.repeated_spans(docs)
    stats = D.repeated_span_stats(docs)
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert stats.count() == n_docs
    joined = (spans.groupBy("doc_id")
              .agg(F.sum("span_tokens").alias("s"),
                   F.count("*").alias("c"))
              .join(stats, "doc_id"))
    bad = joined.filter("s != dup_tokens or c != n_spans").count()
    assert bad == 0
    oob = (spans.join(stats.select("doc_id", "n_tokens"), "doc_id")
           .filter("span_start < 0 or span_start + span_tokens > n_tokens")
           .count())
    assert oob == 0


def test_scrub_repeated_spans_keep_first(spark):
    """Keep-first contract: earliest copy survives verbatim, later
    copies lose exactly the repeated run, intra-doc repeats keep the
    first occurrence, byte-identical docs keep the lower id."""
    boiler = "copy right all rights reserved do not redistribute"
    rows = [
        (1, boiler + " unique tail one"),
        (2, "header words here " + boiler),
        (3, "p q r s t m1 m2 m3 m4 m5 m6 p q r s t"),
        (7, "same same2 same3 same4 same5 same6"),
        (9, "same same2 same3 same4 same5 same6"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed_tokens)
           for r in D.scrub_repeated_spans(df).collect()}
    assert set(got) == {1, 2, 3, 7, 9}
    assert got[1] == (rows[0][1], 0)           # earliest copy intact
    assert got[2] == ("header words here", 8)  # repeated run cut
    assert got[3] == ("p q r s t m1 m2 m3 m4 m5 m6", 5)
    assert got[7] == (rows[3][1], 0)           # lower id keeps text
    assert got[9] == ("", 6)                   # full cut -> empty


def test_scrub_repeated_spans_fixture_consistency(spark, docs):
    """On the fixture: one row per non-NULL doc; per-doc removal never
    exceeds the doc's repeated coverage (keep-first cuts a subset of
    what repeated_spans marks); global removal is strictly smaller
    (every dup gram keeps one occurrence); surviving token count is
    exact."""
    scrub = D.scrub_repeated_spans(docs)
    stats = D.repeated_span_stats(docs)
    n_docs = docs.filter(F.col("text").isNotNull()).count()
    assert scrub.count() == n_docs
    j = scrub.join(stats, "doc_id")
    assert j.filter("n_removed_tokens > dup_tokens").count() == 0
    tot = j.agg(F.sum("n_removed_tokens").alias("r"),
                F.sum("dup_tokens").alias("d")).first()
    assert 0 < tot["r"] < tot["d"]
    # clean_text token count == n_tokens - n_removed (empty join = 0)
    bad = (j.filter(
        "(case when clean_text = '' then 0 "
        " else size(split(clean_text, ' ')) end) "
        "!= n_tokens - n_removed_tokens").count())
    assert bad == 0


def _rewrite_without_scan_reference(documents, witnesses, k,
                                    id_col="doc_id", text_col="text"):
    """The r8 rewrite tail (per-token array_contains coverage scan),
    kept HERE as the equivalence reference for the r9 O(L + spans)
    slice-and-concat tail (VERDICT r8 #2). Same outputs, worse plan."""
    toks = F.split(F.col(text_col), " ")
    cuts = (witnesses
            .select("doc_id",
                    F.explode(F.sequence(
                        F.col("pos"), F.col("pos") + int(k) - 1))
                    .alias("i"))
            .groupBy("doc_id")
            .agg(F.collect_set("i").alias("cov")))
    out_toks = F.filter(
        toks, lambda t, i: ~F.array_contains(F.col("cov"), i))
    return (documents.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"), F.col(text_col))
            .join(cuts, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("cov").isNull(), F.col(text_col))
                    .otherwise(F.array_join(out_toks, " "))
                    .alias("clean_text"),
                    F.coalesce(F.size("cov"), F.lit(0)).cast("long")
                    .alias("n_removed_tokens")))


def test_rewrite_tail_equivalent_to_scan_reference(spark, docs):
    """r9 linearized rewrite tail == r8 per-token-scan tail, row for
    row, on the fixture corpus AND on adversarial shapes the fixture
    lacks: a fully-covered long document (the r8 straggler case), a
    self-overlapping periodic run, cuts at both document edges."""
    long_dup = " ".join(f"w{i}" for i in range(2000))
    rows = [(90_001, long_dup), (90_002, long_dup),      # full cover
            (90_003, " ".join(["x"] * 40)),              # periodic
            (90_004, " ".join(["x"] * 40)),
            (90_005, "edge head " + " ".join(
                f"m{i}" for i in range(10)) + " edge tail"),
            (90_006, "A B " + " ".join(
                f"m{i}" for i in range(10)) + " C D")]
    extra = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.select("doc_id", "text").unionByName(extra)
    for kk in (2, 5):
        grams = D._gram_positions(corpus, kk, "doc_id", "text")
        firsts = (grams.groupBy("g")
                  .agg(F.min(F.struct("doc_id", "pos")).alias("keep"),
                       F.count("*").alias("n_occ"))
                  .filter(F.col("n_occ") >= 2).select("g", "keep"))
        wit = (grams.join(firsts, "g")
               .filter((F.col("doc_id") != F.col("keep.doc_id"))
                       | (F.col("pos") != F.col("keep.pos")))
               .select("doc_id", "pos"))
        new = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D._rewrite_without(
                   corpus, wit, kk, "doc_id", "text").collect()}
        old = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in _rewrite_without_scan_reference(
                   corpus, wit, kk).collect()}
        assert new == old
        # the straggler case really was exercised: doc 90_002 is
        # fully covered (2000 tokens removed, empty clean_text)
        assert new[90_002] == ("", 2000)
        assert new[90_001][1] == 0


def test_repeated_spans_incremental_equivalence(spark, docs):
    """Incremental(corpus, batch) == the full run over corpus ∪ batch
    restricted to batch documents (the family's standard pin)."""
    corpus = docs.filter("source <> 'src0'")
    batch = docs.filter("source = 'src0'")
    inc = {(r.doc_id, r.span_start, r.span_tokens)
           for r in D.repeated_spans_incremental(corpus, batch).collect()}
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = {(r.doc_id, r.span_start, r.span_tokens)
            for r in D.repeated_spans(docs).collect()
            if r.doc_id in batch_ids}
    assert inc == full and inc


def test_gram_index_two_day_cycle(spark, docs, tmp_path):
    """Persist day-0 index, screen batch-1, APPEND batch-1's gram
    counts, screen batch-2 against the updated index: identical rows
    to the inline incremental over (corpus ∪ batch1, batch2) — day 2
    never re-grams history, and appended day-rows sum correctly."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "gram_index")
    D.gram_count_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    day1 = {(r.doc_id, r.span_start, r.span_tokens)
            for r in D.repeated_spans_incremental(
                corpus, b1, index=idx).collect()}
    inline1 = {(r.doc_id, r.span_start, r.span_tokens)
               for r in D.repeated_spans_incremental(corpus, b1).collect()}
    assert day1 == inline1
    D.gram_index_append(b1, path)
    idx2 = spark.read.parquet(path)
    day2 = {(r.doc_id, r.span_start, r.span_tokens)
            for r in D.repeated_spans_incremental(
                corpus, b2, index=idx2).collect()}
    inline2 = {(r.doc_id, r.span_start, r.span_tokens)
               for r in D.repeated_spans_incremental(
                   corpus.unionByName(b1), b2).collect()}
    assert day2 == inline2 and day2


def test_scrub_incremental_equals_full_run_restriction(spark, docs):
    """scrub_repeated_spans_incremental(archive, batch) == full-run
    scrub(archive ∪ batch) restricted to batch docs — the keep-first
    witness from the index reproduces the global keeper exactly."""
    corpus = docs.filter("source <> 'src0'")
    batch = docs.filter("source = 'src0'")
    inc = {r.doc_id: (r.clean_text, r.n_removed_tokens)
           for r in D.scrub_repeated_spans_incremental(
               corpus, batch).collect()}
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = {r.doc_id: (r.clean_text, r.n_removed_tokens)
            for r in D.scrub_repeated_spans(docs).collect()
            if r.doc_id in batch_ids}
    assert inc == full and inc
    assert any(v[1] > 0 for v in inc.values())


def test_scrub_incremental_witness_semantics(spark):
    """The archive witness is honored positionally: a batch copy of
    archive boilerplate is cut; a batch doc that OUT-RANKS the
    archive copy (smaller id) keeps its text — restriction-to-batch
    semantics; batch-internal repeats keep the batch-first copy."""
    boiler = "copy right all rights reserved do not redistribute"
    corpus = spark.createDataFrame(
        [(100, boiler + " archive tail"),
         (200, "unrelated archive content entirely here now")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(300, "intro words " + boiler),       # archive wins -> cut
         (50, boiler + " low id wins"),        # batch outranks archive
         (400, "b1 b2 b3 b4 b5 b6"),           # batch-internal pair:
         (500, "b1 b2 b3 b4 b5 b6")],          # first kept, second cut
        "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed_tokens)
           for r in D.scrub_repeated_spans_incremental(
               corpus, batch).collect()}
    assert got[300] == ("intro words", 8)
    assert got[50] == (boiler + " low id wins", 0)
    assert got[400] == ("b1 b2 b3 b4 b5 b6", 0)
    assert got[500] == ("", 6)


def test_stats_incremental_equals_full_run_restriction(spark, docs):
    """repeated_span_stats_incremental(archive, batch) == full-run
    repeated_span_stats(archive ∪ batch) restricted to batch docs —
    and 10⁶ − dup_ppm really is the batch novelty signal (clean docs
    read dup_ppm 0, fully-duplicated ones 10⁶)."""
    corpus = docs.filter("source <> 'src0'")
    batch = docs.filter("source = 'src0'")
    inc = {r.doc_id: (r.n_tokens, r.dup_tokens, r.n_spans, r.dup_ppm)
           for r in D.repeated_span_stats_incremental(
               corpus, batch).collect()}
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = {r.doc_id: (r.n_tokens, r.dup_tokens, r.n_spans, r.dup_ppm)
            for r in D.repeated_span_stats(docs).collect()
            if r.doc_id in batch_ids}
    assert inc == full and inc
    assert all(0 <= v[3] <= 1_000_000 for v in inc.values())
    # the fixture carries both clean and duplicated batch docs
    assert any(v[3] == 0 for v in inc.values())
    assert any(v[3] > 0 for v in inc.values())


def test_scrub_incremental_two_day_append_cycle(spark, docs, tmp_path):
    """Persist day-0 witness index, scrub batch-1, APPEND batch-1's
    grams, scrub batch-2 against the updated parquet index: identical
    rows to the inline incremental over (corpus ∪ batch1, batch2) —
    appended day-rows collapse by sum(n_occ) + min(witness struct)."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "gram_witness_index")
    D.gram_count_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    day1 = {r.doc_id: (r.clean_text, r.n_removed_tokens)
            for r in D.scrub_repeated_spans_incremental(
                corpus, b1, index=idx).collect()}
    inline1 = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D.scrub_repeated_spans_incremental(
                   corpus, b1).collect()}
    assert day1 == inline1
    D.gram_index_append(b1, path)
    idx2 = spark.read.parquet(path)
    day2 = {r.doc_id: (r.clean_text, r.n_removed_tokens)
            for r in D.scrub_repeated_spans_incremental(
                corpus, b2, index=idx2).collect()}
    inline2 = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D.scrub_repeated_spans_incremental(
                   corpus.unionByName(b1), b2).collect()}
    assert day2 == inline2 and day2


def test_dedup_against_normalized_masks_trivial_variants(spark):
    """r9 normalized incremental ingest: a re-crawl differing only in
    a masked token (digits, email) is dropped; genuinely-new text
    survives with ORIGINAL text intact; batch-internal normalized
    dups collapse to the min id. Raw dedup_against keeps the trivial
    variant — the pinned semantic difference."""
    corpus = spark.createDataFrame(
        [(1, "Call 555-1234 now please")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "Call 555-9876 now please"),    # masked-variant -> drop
         (11, "entirely new content here"),
         (12, "Reach a@b.com maybe later"),
         (13, "Reach c@d.org maybe later")],  # normalized dup of 12
        "doc_id long, text string")
    got = {r.doc_id: r.text for r in
           D.dedup_against_normalized(corpus, batch).collect()}
    assert set(got) == {11, 12}
    assert got[12] == "Reach a@b.com maybe later"   # original text
    raw = {r.doc_id for r in D.dedup_against(corpus, batch).collect()}
    assert 10 in raw                                # raw keeps it


def test_gram_index_compact_read_equivalent(spark, docs, tmp_path):
    """r9 semantic compaction: after two appended days the compacted
    index has ONE row per gram, totals and witnesses fold correctly,
    and both the screen and the scrub read it identically."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "gidx")
    D.gram_count_index(corpus).write.parquet(path)
    D.gram_index_append(b1, path)
    idx = spark.read.parquet(path)
    assert idx.count() > idx.select("g").distinct().count()  # day-rows
    cpath = str(tmp_path / "gidx_c")
    D.gram_index_compact(spark, path, cpath)
    cidx = spark.read.parquet(cpath)
    assert cidx.count() == idx.select("g").distinct().count()
    assert sorted(cidx.columns) == sorted(idx.columns)
    spans_raw = {(r.doc_id, r.span_start, r.span_tokens)
                 for r in D.repeated_spans_incremental(
                     corpus, b2, index=idx).collect()}
    spans_c = {(r.doc_id, r.span_start, r.span_tokens)
               for r in D.repeated_spans_incremental(
                   corpus, b2, index=cidx).collect()}
    assert spans_raw == spans_c and spans_raw
    scrub_raw = {r.doc_id: (r.clean_text, r.n_removed_tokens)
                 for r in D.scrub_repeated_spans_incremental(
                     corpus, b2, index=idx).collect()}
    scrub_c = {r.doc_id: (r.clean_text, r.n_removed_tokens)
               for r in D.scrub_repeated_spans_incremental(
                   corpus, b2, index=cidx).collect()}
    assert scrub_raw == scrub_c


def test_source_overlap_minhash_contract(spark):
    """Identical sources estimate 10^6, disjoint estimate 0, and the
    profile is invariant under duplication (min is idempotent — the
    property that removes the exact twin's DISTINCT shuffle)."""
    rows = [(1, "A", "one two three four five six seven"),
            (2, "B", "one two three four five six seven"),
            (3, "C", "totally different words appearing here now")]
    df = spark.createDataFrame(rows,
                               "doc_id long, source string, text string")
    got = {(r.source_a, r.source_b): r.jaccard_ppm_est
           for r in D.source_overlap_minhash(df).collect()}
    assert got == {("A", "B"): 1_000_000, ("A", "C"): 0, ("B", "C"): 0}
    dup = df.unionByName(df.selectExpr("doc_id + 100 as doc_id",
                                       "source", "text"))
    got2 = {(r.source_a, r.source_b): r.jaccard_ppm_est
            for r in D.source_overlap_minhash(dup).collect()}
    assert got2 == got


def test_source_overlap_minhash_tracks_exact_jaccard(spark, docs):
    """On the fixture the 64-hash estimate lands within the standard
    estimator envelope of the exact per-pair Jaccard (computed from
    the exact twin's shared/size counts at the same k)."""
    exact = {(r.source_a, r.source_b):
             r.n_shared / (r.n_a + r.n_b - r.n_shared)
             for r in D.source_overlap(docs, k=5).collect()}
    est = {(r.source_a, r.source_b): r.jaccard_ppm_est / 1e6
           for r in D.source_overlap_minhash(docs, k=5).collect()}
    assert set(exact) <= set(est)       # sketch reports every pair
    errs = [abs(est[p] - exact[p]) for p in exact]
    # std ~ sqrt(J(1-J)/64) <= 0.0625; allow 4 sigma per pair
    assert max(errs) < 0.25
    assert sum(errs) / len(errs) < 0.08


def test_witness_guard_rejects_legacy_index(spark, docs, tmp_path):
    """ADVICE r9: a pre-r9 gram index (no first_doc/first_pos) must
    fail fast in every witness consumer — plan-time ValueError when
    the columns are missing entirely, scan-time raise_error when a
    mixed-schema directory reads legacy rows as NULL witnesses."""
    corpus = docs.filter("source <> 'src0'")
    batch = docs.filter("source = 'src0'")
    legacy_path = str(tmp_path / "legacy_idx")
    # a pre-r9 index: counts only
    (D.gram_count_index(corpus).select("g", "n_occ")
     .write.parquet(legacy_path))
    legacy = spark.read.parquet(legacy_path)
    with pytest.raises(ValueError, match="witness columns"):
        D.scrub_repeated_spans_incremental(corpus, batch, index=legacy)
    cpath = str(tmp_path / "legacy_compacted")
    with pytest.raises(ValueError, match="witness columns"):
        D.gram_index_compact(spark, legacy_path, cpath)
    # mixed directory: legacy rows + one r9 append — Spark's sampled
    # footer may surface the witness columns with NULLs for legacy
    # rows; the guarded projection must raise at scan time
    D.gram_index_append(batch, legacy_path)
    mixed = spark.read.option("mergeSchema", "true").parquet(legacy_path)
    assert {"first_doc", "first_pos"} <= set(mixed.columns)
    with pytest.raises(Exception, match="NULL witness"):
        D.scrub_repeated_spans_incremental(
            corpus, batch, index=mixed).collect()
    # the count-only consumer accepts legacy indexes by contract
    D.repeated_spans_incremental(corpus, batch, index=legacy).collect()


def test_dedup_against_null_text_dropped(spark):
    """ADVICE r9: NULL-text batch rows are DROPPED (matching the SQL
    oracle's NULL-comparison semantics), not collapsed into one
    NULL-digest survivor — both the exact and normalized variants."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, None)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, None), (11, None), (12, "fresh new text")],
        "doc_id long, text string")
    for fn in (D.dedup_against, D.dedup_against_normalized):
        got = {r.doc_id for r in fn(corpus, batch).collect()}
        assert got == {12}, fn.__name__


def test_winnow_local_match_guarantee(spark):
    """Schleimer et al. §2: one shared run of ≥ w + k − 1 tokens
    (6 at k=3, w=4) inside otherwise-disjoint documents yields at
    least one shared fingerprint — a candidate pair the whole-doc
    fingerprint (and probabilistically, sparse MinHash bands) would
    miss. The pair must surface as a CANDIDATE; the verify tail then
    reports its (low) exact Jaccard when threshold allows."""
    shared = "aa bb cc dd ee ff"
    rows = [(1, shared + " " + " ".join(f"x{i}" for i in range(40))),
            (2, " ".join(f"y{i}" for i in range(40)) + " " + shared)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = D._winnow_bucket_pairs(D.winnow_index(df), 1000).collect()
    assert [(c.doc_a, c.doc_b) for c in cands] == [(1, 2)]
    # at threshold 0 the verified pair carries its true small jaccard
    got = D.winnow_near_dups(df, threshold=0.0).collect()
    assert len(got) == 1 and 0 < got[0].jaccard < 0.1


def test_winnow_incremental_equivalence(spark, docs):
    """Incremental(corpus, batch) == full run over corpus ∪ batch
    restricted to batch-touching pairs (the family's standard pin),
    including the union-frequency hot-bucket cap."""
    corpus = docs.filter("doc_id % 7 != 0")
    batch = docs.filter("doc_id % 7 = 0")
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    for cap in (1000, 3):
        full = {(r.doc_a, r.doc_b, r.jaccard)
                for r in D.winnow_near_dups(
                    docs, threshold=0.5, max_fp_freq=cap).collect()
                if r.doc_a in batch_ids or r.doc_b in batch_ids}
        inc = {(r.doc_a, r.doc_b, r.jaccard)
               for r in D.winnow_near_dups_incremental(
                   corpus, batch, threshold=0.5,
                   max_fp_freq=cap).collect()}
        assert inc == full, cap
    assert inc  # non-vacuous at the small cap too


def test_winnow_index_two_day_append_cycle(spark, docs, tmp_path):
    """Persist day-0 index, screen batch-1, APPEND batch-1's
    fingerprints, screen batch-2 against the updated index: identical
    pairs to the inline incremental over (corpus ∪ batch1, batch2) —
    day 2 never re-fingerprints history."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "winnow_index")
    D.winnow_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    day1 = {(r.doc_a, r.doc_b, r.jaccard)
            for r in D.winnow_near_dups_incremental(
                corpus, b1, index=idx).collect()}
    inline1 = {(r.doc_a, r.doc_b, r.jaccard)
               for r in D.winnow_near_dups_incremental(
                   corpus, b1).collect()}
    assert day1 == inline1
    D.winnow_index_append(b1, path)
    idx2 = spark.read.parquet(path)
    day2 = {(r.doc_a, r.doc_b, r.jaccard)
            for r in D.winnow_near_dups_incremental(
                corpus.unionByName(b1), b2, index=idx2).collect()}
    inline2 = {(r.doc_a, r.doc_b, r.jaccard)
               for r in D.winnow_near_dups_incremental(
                   corpus.unionByName(b1), b2).collect()}
    assert day2 == inline2 and day2


# --- r10: ensemble consensus voting -------------------------------------

def test_ensemble_votes_hand_computed(spark):
    from pyspark.sql import Row
    # drive the vote logic through pair_sets with known family outputs
    mk = lambda rows: spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in rows],
        "doc_a long, doc_b long")
    out = {(r.doc_a, r.doc_b): (r.n_votes, r.families)
           for r in D.ensemble_near_dups(
               None, min_votes=2,
               pair_sets=[("jaccard", mk([(1, 2), (3, 4)])),
                          ("simhash", mk([(1, 2), (5, 6)])),
                          ("editdist", mk([(1, 2), (3, 4)]))]).collect()}
    # (1,2): all three agree; (3,4): two; (5,6): one → dropped
    assert out == {(1, 2): (3, "editdist,jaccard,simhash"),
                   (3, 4): (2, "editdist,jaccard")}


def test_ensemble_consensus_is_a_precision_lever(spark, docs_with_dups):
    """On the planted fixture, consensus pairs are a subset of the
    family union, and 2-of-3 voting must not be LESS precise against
    the exact-Jaccard truth than the weakest single family."""
    truth = {(r.doc_a, r.doc_b) for r in D.ngram_jaccard_pairs(
        docs_with_dups, k=3, threshold=0.5).collect()}
    fams = {
        "jaccard": {(r.doc_a, r.doc_b) for r in D.minhash_near_dups(
            docs_with_dups, threshold=0.5).collect()},
        "simhash": {(r.doc_a, r.doc_b) for r in D.simhash_near_dups(
            docs_with_dups, max_hamming=3).collect()},
        "editdist": {(r.doc_a, r.doc_b)
                     for r in D.editdist_passjoin_pairs(
                         docs_with_dups, max_dist=3).collect()},
    }
    ens = {(r.doc_a, r.doc_b) for r in D.ensemble_near_dups(
        docs_with_dups, threshold=0.5, max_hamming=3, max_dist=3,
        min_votes=2).collect()}
    assert ens  # planted dups must survive consensus
    assert ens <= set.union(*fams.values())

    def precision(s):
        return len(s & truth) / len(s) if s else 1.0

    # consensus precision must be >= the weakest family's precision
    # (the whole point of voting with uncorrelated error modes)
    assert precision(ens) >= min(precision(s) for s in fams.values())
    # and the planted exact-duplicate pairs (jaccard 1.0, hamming 0,
    # editdist 0) must get the full 3-family vote
    exact_pairs = {(i, i + 10_000) for i in range(20)} & ens
    votes = {(r.doc_a, r.doc_b): r.n_votes
             for r in D.ensemble_near_dups(
                 docs_with_dups, min_votes=3).collect()}
    assert exact_pairs and all(votes.get(p) == 3 for p in exact_pairs)


# --- r10: PassJoin incremental lifecycle ---------------------------------

def test_editdist_incremental_restriction_equivalence(spark, docs):
    """Incremental(corpus, batch) == full PassJoin over corpus ∪ batch
    restricted to batch-touching pairs (the family's standard pin)."""
    corpus = docs.filter("doc_id % 7 != 0")
    batch = docs.filter("doc_id % 7 = 0")
    full = {(r.doc_a, r.doc_b, r.edit_dist)
            for r in D.editdist_passjoin_pairs(docs, max_dist=3)
            .collect()}
    want = {t for t in full if t[0] % 7 == 0 or t[1] % 7 == 0}
    got = {(r.doc_a, r.doc_b, r.edit_dist)
           for r in D.editdist_passjoin_incremental(
               corpus, batch, max_dist=3).collect()}
    assert got == want and got


def test_editdist_incremental_cross_regimes(spark):
    """Hand-built archive/batch exercising every cross regime: both
    long (segment join), both short (short bucket), one short + one
    boundary-length (the bridge case), and an exact cross duplicate
    (edit_dist 0). max_dist=3, q+tau=7, q+2*tau=10 chars."""
    arch = spark.createDataFrame(
        [(1, "abcdefghijklmnop"),      # long
         (3, "abc"),                   # short
         (5, "abcdefgh"),              # boundary (8 chars: seg + short)
         (7, "zzzzzzzzzzzzzzzz")],     # long, far from everything
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(14, "abcdefghijklmnoX"),     # long, ed 1 to doc 1
         (21, "abcd"),                 # short, ed 1 to doc 3
         (28, "abcdefgh"),             # exact dup of doc 5
         (35, "qqqqqqqqqqqqqqqq")],    # long, matches nothing
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.edit_dist
           for r in D.editdist_passjoin_incremental(
               arch, batch, max_dist=3).collect()}
    union = arch.unionByName(batch)
    full = {(r.doc_a, r.doc_b): r.edit_dist
            for r in D.editdist_passjoin_pairs(union, max_dist=3)
            .collect()
            if r.doc_a % 7 == 0 or r.doc_b % 7 == 0}
    assert got == full
    assert got[(1, 14)] == 1      # long x long via segment probe
    assert got[(3, 21)] == 1      # short x short bucket
    assert got[(5, 28)] == 0      # exact cross duplicate
    assert (21, 28) not in got  # "abcd" vs "abcdefgh": ed 4 > tau


def test_editdist_index_two_day_append_cycle(spark, docs, tmp_path):
    """Persist day-0 index, screen batch-1, APPEND batch-1's segment
    rows, screen batch-2 against the updated index — identical pairs
    to the inline incremental; day 2 never re-segments history."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "editdist_index")
    D.editdist_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    day1 = {(r.doc_a, r.doc_b, r.edit_dist)
            for r in D.editdist_passjoin_incremental(
                corpus, b1, index=idx).collect()}
    inline1 = {(r.doc_a, r.doc_b, r.edit_dist)
               for r in D.editdist_passjoin_incremental(
                   corpus, b1).collect()}
    assert day1 == inline1
    D.editdist_index_append(b1, path)
    idx2 = spark.read.parquet(path)
    day2 = {(r.doc_a, r.doc_b, r.edit_dist)
            for r in D.editdist_passjoin_incremental(
                corpus.unionByName(b1), b2, index=idx2).collect()}
    inline2 = {(r.doc_a, r.doc_b, r.edit_dist)
               for r in D.editdist_passjoin_incremental(
                   corpus.unionByName(b1), b2).collect()}
    assert day2 == inline2


def test_editdist_incremental_segments_only_the_batch(spark, docs):
    """The scale contract: with a supplied index the archive is never
    re-segmented — only batch rows feed the probe/short builders."""
    corpus = docs.filter("doc_id % 7 != 0")
    batch = docs.filter("doc_id % 7 = 0")
    idx = D.editdist_index(corpus)
    calls = []
    orig = D._passjoin_norm

    def spy(df, *a, **kw):
        calls.append(df)
        return orig(df, *a, **kw)

    D._passjoin_norm = spy
    try:
        D.editdist_passjoin_incremental(corpus, batch, index=idx)
    finally:
        D._passjoin_norm = orig
    # normalization ran for the batch (incremental probe) and inside
    # the within-batch full join's own machinery — never for corpus
    assert corpus not in calls


# --- r10: SimHash incremental lifecycle + incremental ensemble ----------

def test_simhash_incremental_restriction_equivalence(spark,
                                                     docs_with_dups):
    """Incremental(corpus, batch) == full SimHash join over corpus ∪
    batch restricted to batch-touching pairs; the injected dup ids
    guarantee real cross pairs."""
    full = {(r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_near_dups(docs_with_dups,
                                         max_hamming=3).collect()}
    want = {t for t in full if t[0] % 7 == 0 or t[1] % 7 == 0}
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in D.simhash_near_dups_incremental(
               docs_with_dups.filter("doc_id % 7 != 0"),
               docs_with_dups.filter("doc_id % 7 = 0"),
               max_hamming=3).collect()}
    assert got == want and got


def test_simhash_index_two_day_append_cycle(spark, docs, tmp_path):
    """Persist day-0 signatures, screen batch-1, APPEND batch-1's
    signatures, screen batch-2 against the updated index — identical
    pairs to the inline incremental; day 2 never re-signs history."""
    corpus = docs.filter("source not in ('src0', 'src1')")
    b1 = docs.filter("source = 'src0'")
    b2 = docs.filter("source = 'src1'")
    path = str(tmp_path / "simhash_index")
    D.simhash_index(corpus).write.parquet(path)
    idx = spark.read.parquet(path)
    day1 = {(r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_near_dups_incremental(
                corpus, b1, index=idx).collect()}
    inline1 = {(r.doc_a, r.doc_b, r.hamming)
               for r in D.simhash_near_dups_incremental(
                   corpus, b1).collect()}
    assert day1 == inline1
    D.simhash_index_append(b1, path)
    idx2 = spark.read.parquet(path)
    day2 = {(r.doc_a, r.doc_b, r.hamming)
            for r in D.simhash_near_dups_incremental(
                corpus.unionByName(b1), b2, index=idx2).collect()}
    inline2 = {(r.doc_a, r.doc_b, r.hamming)
               for r in D.simhash_near_dups_incremental(
                   corpus.unionByName(b1), b2).collect()}
    assert day2 == inline2


def test_simhash_incremental_signs_only_the_batch(spark, docs):
    """With a supplied index the archive is never re-signed — the
    signature UDF (this family's one Python hop) runs over batch rows
    only."""
    corpus = docs.filter("doc_id % 7 != 0")
    batch = docs.filter("doc_id % 7 = 0")
    idx = D.simhash_index(corpus)
    calls = []
    orig = D.simhash

    def spy(df, *a, **kw):
        calls.append(df)
        return orig(df, *a, **kw)

    D.simhash = spy
    try:
        D.simhash_near_dups_incremental(corpus, batch, index=idx)
    finally:
        D.simhash = orig
    assert corpus not in calls and batch in calls


def test_ensemble_incremental_restriction_equivalence(spark,
                                                      docs_with_dups):
    """The day-N vote == the full ensemble restricted to batch-
    touching pairs — each member is restriction-equivalent and the
    vote is per-pair, so the composition inherits it; this pins that
    claim instead of arguing it."""
    full = {(r.doc_a, r.doc_b, r.n_votes, r.families)
            for r in D.ensemble_near_dups(docs_with_dups,
                                          min_votes=2).collect()}
    want = {t for t in full if t[0] % 7 == 0 or t[1] % 7 == 0}
    got = {(r.doc_a, r.doc_b, r.n_votes, r.families)
           for r in D.ensemble_near_dups_incremental(
               docs_with_dups.filter("doc_id % 7 != 0"),
               docs_with_dups.filter("doc_id % 7 = 0"),
               min_votes=2).collect()}
    assert got == want and got
