"""Seeded workload generator: 10-class, 64-dimension HOG-like blobs.

Each class is a Gaussian blob around one vertex of a regular simplex in
a 10-dimensional latent space (the way HOG descriptors of one digit
vary along a few directions), embedded in 64 dimensions by a random
orthonormal map, plus a little isotropic noise. Every pair of classes
is equally far apart, so accuracy and SV counts barely move with the
seed; the seed draws the embedding and the samples. Three knobs set how
hard the problem is: the distance of each class centre from the origin
(``sep``), the overall feature scale against the RBF width γ = 1/64
(``scale``) and the share of labels redrawn uniformly
(``label_noise``).

The generator writes training and holdout data as reference-format
dense CSV (``label,f1,...,f64``, one row per line, several part files
per directory) and a ``meta.json`` with its parameters. The program
under test only ever sees these files.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

N_FEATURES = 64
N_CLASSES = 10

# name -> generator parameters; why each workload exists is in README.md
WORKLOADS = {
    # standard-SVM accuracy near the paper's 96%; a 1.5k-row layer-1
    # bucket keeps about 40% of its rows as SVs
    "cascade_mnist": dict(n_train=12000, n_holdout=4000, sep=3.6,
                          scale=1.5, label_noise=0.0),
    # low separability plus label noise: most rows become SVs and the
    # training error stays nonzero, so the iterative loop runs rounds
    "iterative_overlap": dict(n_train=2000, n_holdout=4000, sep=2.5,
                              scale=1.5, label_noise=0.10),
}

WORKLOAD_IDS = {name: i for i, name in enumerate(WORKLOADS)}


def generate(workload: str, seed: int) -> dict[str, np.ndarray]:
    """Arrays for one (workload, seed); the same pair gives the same
    arrays. Holdout rows come from the same distribution as training
    rows, label noise included."""
    p = WORKLOADS[workload]
    rng = np.random.default_rng([seed, WORKLOAD_IDS[workload]])
    centers = np.eye(N_CLASSES) - 1.0 / N_CLASSES     # simplex vertices
    centers *= p["sep"] / np.linalg.norm(centers, axis=1, keepdims=True)
    proj = np.linalg.qr(rng.standard_normal((N_FEATURES, N_CLASSES)))[0]
    n = p["n_train"] + p["n_holdout"]
    y = rng.integers(0, N_CLASSES, n)
    z = centers[y] + rng.standard_normal((n, N_CLASSES))
    X = p["scale"] * (z @ proj.T
                      + 0.05 * rng.standard_normal((n, N_FEATURES)))
    if p["label_noise"]:
        flip = rng.random(n) < p["label_noise"]
        y = np.where(flip, rng.integers(0, N_CLASSES, n), y)
    X = X.astype(np.float32)  # the model sees float32 embeddings
    nt = p["n_train"]
    return {"X_train": X[:nt], "y_train": y[:nt],
            "X_holdout": X[nt:], "y_holdout": y[nt:]}


def _write_dense_csv(path: str, X: np.ndarray, y: np.ndarray,
                     n_parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = np.column_stack([y, X.astype(np.float64)])
    # %.9g round-trips a float32 exactly
    fmt = ["%d"] + ["%.9g"] * X.shape[1]
    for i, rows in enumerate(np.array_split(np.arange(len(y)), n_parts)):
        np.savetxt(os.path.join(path, f"part-{i:05d}.csv"), table[rows],
                   fmt=fmt, delimiter=",")


def write(workload: str, seed: int, out_dir: str,
          n_parts: int = 8) -> dict:
    """Generate and write ``train/`` and ``holdout/`` CSV directories
    plus ``meta.json`` under ``out_dir``; returns the arrays and the
    metadata."""
    t0 = time.perf_counter()
    data = generate(workload, seed)
    _write_dense_csv(os.path.join(out_dir, "train"), data["X_train"],
                     data["y_train"], n_parts)
    _write_dense_csv(os.path.join(out_dir, "holdout"), data["X_holdout"],
                     data["y_holdout"], n_parts)
    meta = {"workload": workload, "seed": seed,
            "params": WORKLOADS[workload],
            "n_features": N_FEATURES, "n_classes": N_CLASSES,
            "class_counts": np.bincount(data["y_train"],
                                        minlength=N_CLASSES).tolist(),
            "write_s": time.perf_counter() - t0}
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    return {**data, "meta": meta}


def measure_properties(data: dict, max_rows: int = 4000) -> dict:
    """The standard-SVM baseline (one in-process ``train_svc`` on the
    first ``max_rows`` training rows, scored on the holdout): the
    data's single-model accuracy and SV fraction."""
    from parallel_svms_spark.ml import smo
    n = min(max_rows, len(data["y_train"]))
    t0 = time.perf_counter()
    model = smo.train_svc(data["X_train"][:n], data["y_train"][:n])
    train_s = time.perf_counter() - t0
    pred = model.predict(data["X_holdout"])
    return {"single_rows": n, "single_train_s": train_s,
            "single_accuracy": float((pred == data["y_holdout"]).mean()),
            "single_sv_frac": model.n_sv / n}
