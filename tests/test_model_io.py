"""LibSVM model text format round-trip (S4 parity; FIXTURES.md §B.3)."""

from __future__ import annotations

import numpy as np

from parallel_svms_spark.io.model_io import from_libsvm_text, to_libsvm_text
from parallel_svms_spark.ml.smo import train_svc


def _toy_model(n_classes=3):
    rng = np.random.default_rng(7)
    X = np.vstack([rng.normal(loc=2.5 * c, scale=0.7, size=(40, 6))
                   for c in range(n_classes)])
    y = np.repeat(np.arange(n_classes), 40)
    return train_svc(X, y), X, y


def test_header_fields():
    m, _, _ = _toy_model()
    text = to_libsvm_text(m)
    lines = text.splitlines()
    assert lines[0] == "svm_type c_svc"
    assert lines[1] == "kernel_type rbf"
    assert lines[2].startswith("gamma ")
    assert f"nr_class 3" in text and "SV" in text
    rho_line = next(l for l in lines if l.startswith("rho "))
    assert len(rho_line.split()) - 1 == 3  # k(k-1)/2 machines


def test_roundtrip_predictions_identical():
    m, X, y = _toy_model()
    m2 = from_libsvm_text(to_libsvm_text(m))
    assert np.array_equal(m.predict(X), m2.predict(X))
    assert m2.n_sv == m.n_sv
    # decision values match numerically, not just votes
    from parallel_svms_spark.ml.smo import rbf_kernel
    K1 = rbf_kernel(X, m.X_sv, m.gamma)
    K2 = rbf_kernel(X, m2.X_sv, m2.gamma)
    for pair in m.pair_coefs:
        (i1, c1), (i2, c2) = m.pair_coefs[pair], m2.pair_coefs[pair]
        d1 = K1[:, i1] @ c1 - m.rhos[pair]
        d2 = K2[:, i2] @ c2 - m2.rhos[pair]
        assert np.allclose(d1, d2, atol=1e-10)


def test_binary_model_roundtrip():
    rng = np.random.default_rng(11)
    X = rng.normal(size=(80, 4))
    y = (X[:, 0] > 0).astype(int)
    m = train_svc(X, y)
    m2 = from_libsvm_text(to_libsvm_text(m))
    assert np.array_equal(m.predict(X), m2.predict(X))


# ---------------------------------------------------------------------------
# P3 sparse-line codec (cascade_svm/Midcascade.java:31-49 parity)
# ---------------------------------------------------------------------------

def test_sparse_line_roundtrip(spark):
    from pyspark.sql import functions as F
    from parallel_svms_spark.io.sources import (parse_sparse_lines,
                                                to_sparse_lines)
    rows = [(1, [0.5, 0.0, -0.25, 0.004]), (0, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    parsed = parse_sparse_lines(
        to_sparse_lines(df, min_abs=0.01)).orderBy(F.desc("label")).collect()
    assert parsed[0].label == 1.0
    assert parsed[0].features == {1: 0.5, 3: -0.25}  # 1-based, 0.004 dropped
    assert parsed[1].label == 0.0
    assert parsed[1].features == {}


def test_parse_sparse_ignores_trailing_unpaired_token(spark):
    # StringTokenizer semantics: countTokens()/2 pairs — a dangling
    # index with no value is silently dropped by the reference parse
    df = spark.createDataFrame([("1,3,0.5,7",)], "line string")
    from parallel_svms_spark.io.sources import parse_sparse_lines
    r = parse_sparse_lines(df).first()
    assert r.label == 1.0 and r.features == {3: 0.5}


def test_sparse_to_vectors(spark):
    from parallel_svms_spark.io.sources import (parse_sparse_lines,
                                                sparse_to_vectors,
                                                to_sparse_lines)
    rows = [(1, [0.5, 0.0, -0.25])]
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    vec = sparse_to_vectors(
        parse_sparse_lines(to_sparse_lines(df, min_abs=0.01)), dim=3).first()
    assert list(vec.features.toArray()) == [0.5, 0.0, -0.25]


def test_model_parquet_roundtrip(spark, tmp_path):
    import numpy as np
    from parallel_svms_spark.io.model_io import (model_from_parquet,
                                                 model_to_parquet)
    m, X, y = _toy_model()
    path = str(tmp_path / "model")
    model_to_parquet(m, spark, path)
    m2 = model_from_parquet(spark, path)
    assert list(m2.classes) == list(m.classes)
    assert m2.kernel == m.kernel and m2.gamma == m.gamma and m2.C == m.C
    np.testing.assert_allclose(m2.X_sv, m.X_sv)
    assert (m2.predict(X) == m.predict(X)).all()


def test_upsert_partitioned_touches_only_updated_partitions(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F
    from parallel_svms_spark.io.sources import (load_table,
                                                upsert_partitioned,
                                                write_partitioned)
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "parts")
    write_partitioned(docs, path, "source")

    def listing(src):
        d = f"{path}/source={src}"
        return {f: os.path.getmtime(f"{d}/{f}") for f in os.listdir(d)
                if f.endswith(".parquet")}

    sources = [r[0] for r in docs.select("source").distinct().collect()]
    untouched_src = sorted(s for s in sources if s != "src0")[0]
    before_untouched = listing(untouched_src)
    before_touched = listing("src0")

    updates = (docs.filter("source = 'src0'").limit(2)
               .withColumn("n_chars", F.col("n_chars") + 9999))
    touched = upsert_partitioned(spark, path, updates, "doc_id", "source")
    assert touched == ["src0"]
    # dynamic overwrite: untouched partition directory byte-identical,
    # touched partition rewritten
    assert listing(untouched_src) == before_untouched
    assert listing("src0") != before_touched
    # and the data merged correctly: bumped rows present, count stable
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert back.filter("n_chars > 9000").count() == \
        updates.count()
