"""Driver-only NumPy reference path fit.

Replicates ``prague_spark.fit.fit`` semantics (response preprocessing,
l2 standardization, intercept preconditioning, the shared path loop of
``core.path`` without screening, rescale — the lifecycle of
``src/owl.cpp:40-395`` in jolars/prague) on in-memory arrays with NO
SparkSession. Used to PIN deterministic coefficient literals for the
KKT-residual oracle queries: the same constants are embedded in both the
Spark plan and the DuckDB SQL, so the correctness gate can hard-verify
solver optimality from the raw data on both engines.
"""

from __future__ import annotations

import numpy as np

from .families import setup_family
from .path import run_path


def numpy_path_fit(
    X_raw: np.ndarray,
    y_raw,
    family: str,
    *,
    q: float = 0.2,
    n_sigma: int = 100,
    lambda_min_ratio: float | None = None,
    sigma=None,
    lambda_type: str = "gaussian",
    center: bool = True,
    tol_rel_gap: float = 1e-5,
    tol_infeas: float = 1e-3,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
    max_passes: int = 10**6,
) -> dict:
    """In-core reference path fit (intercept on, scale='l2'; with
    ``center=False`` the scale-only variant the sparse path uses,
    ``src/standardize.h:42-71``).

    Returns betas in ORIGINAL units (n_path, p+1, m), the internal lambda
    sequence (unnormalized), sigma grid, standardization constants, and
    per-point nonzero counts.
    """
    from ..design import LocalDesign
    from ..fit import _lambda_max_from_stats, _rescale
    from ..ops.response import preprocess_response_local
    from .solver import fista

    fam = setup_family(family)
    X_raw = np.asarray(X_raw, dtype=np.float64)
    n, p = X_raw.shape
    rinfo, Y = preprocess_response_local(y_raw, family)
    m = Y.shape[1]

    x_center = X_raw.mean(axis=0) if center else np.zeros(p)
    Xc = X_raw - x_center
    x_scale = np.sqrt((Xc * Xc).sum(axis=0))
    x_scale = np.where(x_scale > 0, x_scale, 1.0)
    Xs = Xc / x_scale

    icol = 1.0 / np.sqrt(n)
    X = np.hstack([np.full((n, 1), icol), Xs])
    design = LocalDesign(X, Y, fam)

    def solve(idx, beta_init, lam_s):
        return fista(
            design, beta_init, lam_s, n_unpenalized=1,
            max_passes=max_passes, tol_rel_gap=tol_rel_gap, tol_infeas=tol_infeas,
        )

    path = run_path(
        solve, None,
        lambda_max=_lambda_max_from_stats(
            family, X.T @ Y, X.sum(axis=0), Y.sum(axis=0), n, intercept=True
        ),
        null_deviance=2.0 * design.primal(np.zeros((p + 1, m))),
        n=n, p=p + 1, m=m, lambda_type=lambda_type, q=q, n_sigma=n_sigma,
        sigma=sigma, lambda_min_ratio=lambda_min_ratio, tol_infeas=tol_infeas,
        tol_dev_change=tol_dev_change, tol_dev_ratio=tol_dev_ratio,
    )
    out = _rescale(path.betas, x_center, x_scale, rinfo.y_center,
                   rinfo.y_scale, intercept=True, icol=icol)
    n_nonzero = [int(np.count_nonzero(np.any(b[1:] != 0, axis=1))) for b in out]
    return dict(
        betas=out,
        sigma=path.sigma,
        lam=path.lam,
        n=n,
        m=m,
        x_center=x_center,
        x_scale=x_scale,
        y_center=rinfo.y_center,
        y_scale=rinfo.y_scale,
        class_names=rinfo.class_names,
        n_nonzero=n_nonzero,
        tol_infeas=tol_infeas,
    )
