"""LibSVM model text format writer/parser (S4 model sink).

The reference re-implements LibSVM's ``svm_save_model`` to write the
trained model to HDFS (cascade_svm/Lastcascade.java:33-104; per-task
copy Bagging_svm/Bagging1.java:25-103 writing ``model-<taskId>.model``).
This module writes/parses the same public text layout (header fields
svm_type/kernel_type/gamma/nr_class/total_sv/rho/label/nr_sv, then
``SV`` lines of ``coef… idx:val…``) so a LibSVM user can consume our
models — plus a parquet-native representation for engine-internal use
(params JSON + SV table, SURVEY §1.3).
"""

from __future__ import annotations

import json

import numpy as np

from parallel_svms_spark.ml.smo import SVCModel


def to_libsvm_text(model: SVCModel) -> str:
    """Serialize to LibSVM's svm_save_model layout
    (field order per cascade_svm/Lastcascade.java:43-79).

    SVs are grouped by class (class order = model.classes); for the
    machine (a,b) with a<b, the coefficient of a class-a SV lives in
    sv_coef row b-1, of a class-b SV in row a — LibSVM's layout.
    """
    k = len(model.classes)
    # order SVs by class group
    order = np.concatenate([np.flatnonzero(model.sv_labels == c)
                            for c in model.classes]).astype(int)
    pos_in_out = {int(old): i for i, old in enumerate(order)}
    total_sv = len(order)
    nr_sv = [int((model.sv_labels == c).sum()) for c in model.classes]
    sv_coef = np.zeros((k - 1, total_sv))
    for (a, b), (idx, coef) in model.pair_coefs.items():
        for sv_pos, cval in zip(idx, coef):
            out_pos = pos_in_out[int(sv_pos)]
            cls = model.sv_labels[sv_pos]
            if cls == model.classes[a]:
                sv_coef[b - 1, out_pos] = cval
            else:
                sv_coef[a, out_pos] = cval
    rho = [model.rhos[(a, b)] for a in range(k) for b in range(a + 1, k)]

    lines = [
        "svm_type c_svc",
        f"kernel_type {model.kernel}",
    ]
    if model.kernel == "rbf":
        lines.append(f"gamma {model.gamma:.17g}")
    lines += [
        f"nr_class {k}",
        f"total_sv {total_sv}",
        "rho " + " ".join(f"{r:.17g}" for r in rho),
        "label " + " ".join(str(int(c)) for c in model.classes),
        "nr_sv " + " ".join(str(c) for c in nr_sv),
        "SV",
    ]
    for out_pos, old in enumerate(order):
        coefs = " ".join(f"{sv_coef[m, out_pos]:.17g}" for m in range(k - 1))
        feats = " ".join(f"{j + 1}:{v:.17g}"
                         for j, v in enumerate(model.X_sv[old]))
        lines.append(f"{coefs} {feats}")
    return "\n".join(lines) + "\n"


def from_libsvm_text(text: str) -> SVCModel:
    """Parse the LibSVM text layout back to an SVCModel."""
    lines = text.strip().split("\n")
    hdr: dict[str, str] = {}
    i = 0
    while lines[i].strip() != "SV":
        key, _, val = lines[i].partition(" ")
        hdr[key] = val
        i += 1
    i += 1
    k = int(hdr["nr_class"])
    classes = np.array([int(x) for x in hdr["label"].split()])
    nr_sv = [int(x) for x in hdr["nr_sv"].split()]
    rho_vals = [float(x) for x in hdr["rho"].split()]
    kernel = hdr["kernel_type"]
    gamma = float(hdr.get("gamma", 0.0))
    total_sv = int(hdr["total_sv"])

    sv_coef = np.zeros((k - 1, total_sv))
    feats = []
    for s, line in enumerate(lines[i:i + total_sv]):
        toks = line.split()
        for m in range(k - 1):
            sv_coef[m, s] = float(toks[m])
        pairs = [t.partition(":") for t in toks[k - 1:]]
        vec = {int(p[0]): float(p[2]) for p in pairs}
        feats.append(vec)
    dim = max(max(v) for v in feats if v)
    X_sv = np.zeros((total_sv, dim))
    for s, vec in enumerate(feats):
        for j, v in vec.items():
            X_sv[s, j - 1] = v

    bounds = np.cumsum([0] + nr_sv)
    sv_labels = np.empty(total_sv, dtype=classes.dtype)
    for ci in range(k):
        sv_labels[bounds[ci]:bounds[ci + 1]] = classes[ci]

    pair_coefs, rhos = {}, {}
    r = 0
    for a in range(k):
        for b in range(a + 1, k):
            idx_a = np.arange(bounds[a], bounds[a + 1])
            idx_b = np.arange(bounds[b], bounds[b + 1])
            idx = np.concatenate([idx_a, idx_b])
            coef = np.concatenate([sv_coef[b - 1, idx_a], sv_coef[a, idx_b]])
            nz = coef != 0.0
            pair_coefs[(a, b)] = (idx[nz], coef[nz])
            rhos[(a, b)] = rho_vals[r]
            r += 1
    return SVCModel(classes, X_sv, sv_labels, pair_coefs, rhos,
                    kernel=kernel, gamma=gamma)


def save_model(model: SVCModel, path: str) -> None:
    with open(path, "w") as f:
        f.write(to_libsvm_text(model))


def load_model(path: str) -> SVCModel:
    with open(path) as f:
        return from_libsvm_text(f.read())


def model_to_parquet(model: SVCModel, spark, path: str) -> None:
    """Engine-native persistence: params JSON header + SV table parquet
    (SURVEY §1.3 'LibSVM model text file' row).

    Every component — header included — goes through Spark writers, so
    the whole artifact lands on whatever filesystem ``path`` names
    (local, hdfs://, s3a://); no driver-local file I/O."""
    header = {"classes": model.classes.tolist(), "kernel": model.kernel,
              "gamma": model.gamma, "C": model.C,
              "rhos": {f"{a},{b}": r for (a, b), r in model.rhos.items()}}
    sv_rows = [
        (int(i), int(model.sv_labels[i]), [float(x) for x in model.X_sv[i]])
        for i in range(model.n_sv)
    ]
    coef_rows = [
        (f"{a},{b}", [int(x) for x in idx], [float(x) for x in coef])
        for (a, b), (idx, coef) in model.pair_coefs.items()
    ]
    spark.createDataFrame(sv_rows, "sv_pos int, label int, embedding array<double>") \
        .write.mode("overwrite").parquet(f"{path}/svs")
    spark.createDataFrame(coef_rows, "pair string, idx array<int>, coef array<double>") \
        .write.mode("overwrite").parquet(f"{path}/coefs")
    spark.createDataFrame([(json.dumps(header),)], "value string") \
        .coalesce(1).write.mode("overwrite").text(f"{path}/header")


def model_from_parquet(spark, path: str) -> SVCModel:
    """Read back a ``model_to_parquet`` artifact (any Spark-readable
    filesystem). A model is driver-small (one SV set and its
    coefficients), so the collects here are bounded."""
    header = json.loads(
        spark.read.text(f"{path}/header").first()["value"])
    svs = spark.read.parquet(f"{path}/svs").orderBy("sv_pos").collect()
    coefs = spark.read.parquet(f"{path}/coefs").collect()
    X_sv = np.asarray([r.embedding for r in svs], dtype=np.float64)
    sv_labels = np.asarray([r.label for r in svs])
    pair_coefs = {
        tuple(int(x) for x in r.pair.split(",")):
        (np.asarray(r.idx, dtype=int), np.asarray(r.coef, dtype=np.float64))
        for r in coefs
    }
    rhos = {tuple(int(x) for x in pk.split(",")): float(v)
            for pk, v in header["rhos"].items()}
    return SVCModel(header["classes"], X_sv, sv_labels, pair_coefs, rhos,
                    kernel=header["kernel"], gamma=header["gamma"],
                    C=header["C"])
