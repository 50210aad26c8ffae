"""SVM section scoring (SURVEY.md A13; reference: lib/pdf/extract/
references/score.rb:13-26).

The reference loads a pretrained libsvm RBF model (c_svc, 5 section
features) and asks ``predict(sample) > 0`` — but the call is commented
out of the reference-section filter (references.rb:210-211), so no CLI
path exercises it.  Re-expressed here as a first-class operator:

- ``parse_libsvm_model`` reads the PUBLIC libsvm text format (svm_type
  / kernel_type / gamma / rho / label / SV rows of
  ``alpha idx:val ...``) — model-agnostic, so a user can point it at
  the reference's own trained artifact (``data/reference.model``) or
  any model of their own.  No model weights are bundled here.
- ``svm_decision`` computes the c_svc decision function
  ``f(x) = sum_i alpha_i * K(x, sv_i) - rho`` and the predicted class
  per libsvm's convention (f > 0 -> first label in the ``label`` line)
  as one vectorized Arrow stage: the support-vector matrix broadcasts
  to every worker inside the closure and each batch is a single numpy
  ``exp(-gamma * ||X - SV||^2) @ alpha`` — no per-row Python.
- linear-kernel models lower to a pure Catalyst expression (weights
  fold into one dot product) — no Python at all on that path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..worker import settle_worker


def parse_libsvm_model(text: str, n_features: int | None = None) -> dict:
    """Parse the libsvm text model format into
    {svm_type, kernel_type, gamma, rho, labels, sv_coef, svs, n_features}.
    Only c_svc two-class models with rbf/linear kernels are supported
    (what score.rb consumes).

    The sparse format omits zero entries, so the inferred feature count
    is the maximum index seen across support vectors — if the training
    space's last feature is zero in every SV, pass ``n_features``
    explicitly (zero-padding the SV matrix keeps ||x - sv||^2 exact)."""
    header: dict = {}
    sv_lines: list[str] = []
    in_sv = False
    for line in text.splitlines():
        line = line.strip()
        if not line:
            continue
        if line == "SV":
            in_sv = True
            continue
        if in_sv:
            sv_lines.append(line)
        else:
            key, _, val = line.partition(" ")
            header[key] = val
    if header.get("svm_type") != "c_svc":
        raise ValueError(f"unsupported svm_type {header.get('svm_type')!r}")
    kernel = header.get("kernel_type")
    if kernel not in ("rbf", "linear"):
        raise ValueError(f"unsupported kernel_type {kernel!r}")
    labels = [int(x) for x in header.get("label", "0 1").split()]
    if len(labels) != 2:
        raise ValueError("only two-class models are supported")

    coefs: list[float] = []
    rows: list[dict[int, float]] = []
    inferred = 0
    for line in sv_lines:
        parts = line.split()
        coefs.append(float(parts[0]))
        feats: dict[int, float] = {}
        for tok in parts[1:]:
            idx, _, val = tok.partition(":")
            feats[int(idx)] = float(val)
            inferred = max(inferred, int(idx))
        rows.append(feats)
    if n_features is None:
        n_features = inferred
    elif n_features < inferred:
        raise ValueError(
            f"n_features={n_features} is smaller than the largest SV "
            f"feature index ({inferred})"
        )
    svs = np.zeros((len(rows), n_features))
    for i, feats in enumerate(rows):
        for idx, val in feats.items():
            svs[i, idx - 1] = val  # libsvm indices are 1-based
    return {
        "svm_type": "c_svc",
        "kernel_type": kernel,
        "gamma": float(header.get("gamma", 1.0)),
        "rho": float(header["rho"]),
        "labels": labels,
        "sv_coef": np.array(coefs),
        "svs": svs,
        "n_features": n_features,
    }


def load_libsvm_model(path: str, n_features: int | None = None) -> dict:
    with open(path) as fh:
        return parse_libsvm_model(fh.read(), n_features=n_features)


def _linear_decision(model: dict, cols: list[Column]) -> Column:
    w = model["sv_coef"] @ model["svs"]  # fold SVs into one weight vec
    acc = F.lit(0.0)
    for wi, c in zip(w, cols):
        acc = acc + F.lit(float(wi)) * c.cast("double")
    return acc - F.lit(model["rho"])


def svm_decision(
    df: DataFrame,
    model: dict,
    feature_cols: list[str],
    out_col: str = "decision",
    label_col: str = "predicted",
) -> DataFrame:
    """Append the SVM decision value and predicted label.

    score.rb's ``reference?`` is ``predicted == labels[0]`` with
    ``labels == [0, 1]`` meaning decision > 0 -> label 0 (libsvm lists
    the positive-decision class first)."""
    if len(feature_cols) != model["n_features"]:
        raise ValueError(
            f"model expects {model['n_features']} features, "
            f"got {len(feature_cols)}"
        )
    lab_pos, lab_neg = model["labels"]
    if model["kernel_type"] == "linear":
        dec = _linear_decision(
            model, [F.col(c) for c in feature_cols]
        )
        return df.withColumn(out_col, dec).withColumn(
            label_col,
            F.when(dec > 0, F.lit(lab_pos)).otherwise(F.lit(lab_neg)),
        )

    gamma = model["gamma"]
    rho = model["rho"]
    svs = model["svs"]
    coef = model["sv_coef"]
    passthrough = df.columns

    def run(batches):
        settle_worker()
        for pdf in batches:
            x = pdf[feature_cols].to_numpy(dtype=np.float64)
            # ||x - sv||^2 via the expansion; one BLAS matmul per batch
            d2 = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ svs.T)
                + (svs * svs).sum(axis=1)[None, :]
            )
            dec = np.exp(-gamma * d2) @ coef - rho
            out = pdf[passthrough].copy()
            out[out_col] = dec
            out[label_col] = np.where(dec > 0, lab_pos, lab_neg).astype(
                "int32"
            )
            yield out

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    # a fresh StructType — StructType.add mutates in place, which would
    # corrupt the input DataFrame's cached schema
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(out_col, DoubleType()),
            StructField(label_col, IntegerType()),
        ]
    )
    return df.mapInPandas(run, schema=schema)
