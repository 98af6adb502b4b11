"""Corpus-scale ridge regression — learned calibration for quality
signals.

The curation pipeline produces per-document feature columns (token
stats, repetition fractions, LM log-probs, hashed-vector components);
turning a handful of labeled examples plus those features into a
continuous quality score is a ridge fit. At 100 TB the only viable
shape is the one :func:`~xarray_scipy_spark.pipeline.similarity.
fit_pca` established: ONE pass accumulating the Gram partials
(XᵀX, Xᵀy, n) — each partition contributes d² + d + 1 doubles
regardless of row count — then a driver-side solve closed over d, and
prediction as a pure-Catalyst dot-product projection (no Python in the
scoring pass).

No reference analog; the normal-equations construction is textbook
(ridge: (XᵀX + λI)β = Xᵀy, intercept via mean-centering).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import sum_batches

__all__ = ["fit_logistic", "fit_ridge", "grouped_ols", "predict_linear"]


def _labelled(df: DataFrame, feature_cols: list[str], label_col: str) -> DataFrame:
    return df.select(*feature_cols, F.col(label_col).cast("double").alias("_label"))


def fit_ridge(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    *,
    l2: float = 1e-6,
    fit_intercept: bool = True,
):
    """Fit ``label ≈ features · β + b`` by ridge normal equations.

    One Arrow-batch pass (``core.sum_batches``) emits per-batch
    partials of ``(n, Σx, Σy, XᵀX, Xᵀy)``; the driver combine and the
    ``(d × d)`` solve are closed over the feature count, never the
    corpus. ``l2`` regularizes the (centered) Gram matrix —
    the intercept is never penalized. Rows with a NULL feature or label
    are skipped, and ``n`` counts the rows used.

    Returns ``(beta, intercept)``: a length-d numpy vector and a
    float.
    """
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    if d == 0:
        raise ValueError("need at least one feature column")
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")

    def partial(pdf):
        x = pdf[feature_cols].to_numpy(dtype=float)
        y = pdf["_label"].to_numpy(dtype=float)
        return {"sx": x.sum(axis=0), "sy": y.sum(), "g": x.T @ x, "xy": x.T @ y}

    sums = sum_batches(_labelled(df, feature_cols, label_col), partial)
    if sums is None:
        raise ValueError("cannot fit on an empty frame")
    n, sx, sy, xy = sums["n"], sums["sx"], sums["sy"][0], sums["xy"]
    g = sums["g"].reshape(d, d)
    if fit_intercept:
        mx = sx / n
        my = sy / n
        gc = g - n * np.outer(mx, mx)
        xyc = xy - n * mx * my
    else:
        gc, xyc = g, xy
    beta = np.linalg.solve(gc + l2 * np.eye(d), xyc)
    intercept = float(my - mx @ beta) if fit_intercept else 0.0
    return beta, intercept


def predict_linear(
    df: DataFrame,
    beta,
    intercept: float = 0.0,
    *,
    feature_cols: Sequence[str],
    out: str = "score",
) -> DataFrame:
    """Score every row with a fitted linear model as a pure-Catalyst
    projection — coefficients inline as literals, zero Python in the
    scoring pass (the corpus-wide part of the job)."""
    feature_cols = list(feature_cols)
    beta = np.asarray(beta, dtype=float)
    if beta.shape != (len(feature_cols),):
        raise ValueError(
            f"beta must have shape ({len(feature_cols)},), got {beta.shape}"
        )
    expr = F.lit(float(intercept))
    for c, b in zip(feature_cols, beta):
        expr = expr + F.col(c).cast("double") * F.lit(float(b))
    return df.withColumn(out, expr)


def fit_logistic(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    *,
    l2: float = 1e-6,
    max_iter: int = 25,
    tol: float = 1e-10,
    fit_intercept: bool = True,
):
    """Fit a binary logistic-regression quality classifier by
    Newton/IRLS — the learned document filter (spam vs clean,
    keep vs drop) on the pipeline's own feature columns.

    Iteration shape: the current coefficients ship to the executors as
    plain floats; ONE Arrow-batch pass (``core.sum_batches``) returns
    the Newton partials ``(XᵀWX, Xᵀ(y − p), loss)`` — d² + d + 1
    doubles per partition — and the driver takes the damped Newton step
    closed over d. Usually converges in < 10 iterations; each is
    exactly one corpus pass (the k-means/BPE driver-loop precedent:
    iteration STATE is a handful of floats, data never concentrates).
    Rows with a NULL feature or label are skipped; with none left it
    raises ``ValueError``.

    Returns ``(beta, intercept)``; score with
    ``1 / (1 + exp(−predict_linear(...)))`` — still a pure projection.
    """
    feature_cols = list(feature_cols)
    d = len(feature_cols)
    if d == 0:
        raise ValueError("need at least one feature column")
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")
    src = _labelled(df, feature_cols, label_col).localCheckpoint()
    da = d + (1 if fit_intercept else 0)
    beta = np.zeros(da)

    def make_partial(b):
        def partial(pdf):
            x = pdf[feature_cols].to_numpy(dtype=float)
            if fit_intercept:
                x = np.hstack([x, np.ones((len(x), 1))])
            y = pdf["_label"].to_numpy(dtype=float)
            eta = np.clip(x @ b, -35, 35)
            p = 1.0 / (1.0 + np.exp(-eta))
            w = p * (1.0 - p)
            return {
                "h": (x * w[:, None]).T @ x,
                "g": x.T @ (y - p),
                "ll": np.sum(y * eta - np.logaddexp(0.0, eta)),
            }

        return partial

    reg = np.eye(da)
    if fit_intercept:
        reg[d, d] = 0.0  # never penalize the intercept
    last_ll = -np.inf
    for _ in range(max_iter):
        sums = sum_batches(src, make_partial(beta.copy()))
        if sums is None:
            raise ValueError("cannot fit on an empty frame")
        h = sums["h"].reshape(da, da)
        g = sums["g"]
        ll = float(sums["ll"][0]) - 0.5 * l2 * float(beta[:d] @ beta[:d])
        step = np.linalg.solve(h + l2 * reg + 1e-12 * np.eye(da), g - l2 * (reg @ beta))
        beta = beta + step
        if abs(ll - last_ll) < tol * (1.0 + abs(ll)):
            break
        last_ll = ll
    if fit_intercept:
        return beta[:d], float(beta[d])
    return beta, 0.0


def grouped_ols(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (y = a·x + b) as ONE
    aggregation over sufficient statistics.

    Output per group: ``n, slope, intercept, r2`` (slope/r2 NULL for
    degenerate groups — fewer than 2 points or zero x-variance; r2
    additionally NULL when y is constant). The normal-equations
    algebra on raw sums (n·Σxy − ΣxΣy over n·Σx² − (Σx)²) is used
    verbatim so an independent engine running the same algebra agrees
    to FP noise; callers should center/scale x to a sane magnitude
    first (the cancellation in n·Σx² − (Σx)² loses ~half the mantissa
    when |x| ≫ spread).

    Scale shape: a single map-side-combinable groupBy — five partial
    sums per group regardless of row count, one shuffle bounded by
    groups, no window, no second pass. The millions-of-keys regression
    pass a feature store needs at 100 TB is exactly this plan.
    """
    g = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when((F.col("n") >= 2) & (dxx > 0), dxy / dxx)
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.when((F.col("n") >= 2) & (dxx > 0) & (dyy > 0), dxy * dxy / (dxx * dyy))
    return agg.select(
        *g,
        F.col("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )
