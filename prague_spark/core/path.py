"""The SLOPE path loop shared by every fit route (the reference's
``src/owl.cpp:146-364``, jolars/prague). Callers keep routes, budgets and
Spark jobs, and pass ``solve(idx, beta_init, lam) -> FitResult`` over the
internal columns ``idx`` (all, or a screened working set that holds the
intercept) and ``full_gradient(beta) -> (p, m)``."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .lambdas import lambda_sequence, sigma_grid
from .screening import kkt_check, strong_rule_active_set
from .solver import FitResult


@dataclass
class PathResult:
    betas: np.ndarray  # (n_path, p, m), internal scale
    sigma: np.ndarray
    lam: np.ndarray  # unnormalized lambda sequence
    deviances: np.ndarray  # internal scale
    dev_ratios: np.ndarray
    passes: np.ndarray
    n_unique: np.ndarray
    support: list  # nonzero internal rows per point
    abandoned: bool
    diag: dict  # per point: solver primals/duals/time, repair failures


def repair_candidates(gradient, beta, lam, tol, intercept, strong, working):
    """Columns to add to the working set after a subset solve (none: the
    point is optimal). First the reference's rule: ``kkt_check``'s flags
    outside the working set, strong-set ones first. ``kkt_check`` flags
    only positions where ``cumsum(sort|g| - lam)`` itself passes the
    tolerance, so a zero column outside the working set can push the sum
    over unflagged while every flag lands inside the set. When the rule
    finds nothing, the columns outside the working set (all zero there)
    whose |g| ranks at or before the last violating position are added."""
    possible = kkt_check(gradient, beta, lam, tol, intercept)
    failures = np.setdiff1d(np.intersect1d(possible, strong), working)
    if not len(failures):
        failures = np.setdiff1d(possible, working)
    lam = np.asarray(lam, dtype=np.float64)
    if len(failures) or not lam.size:
        return failures
    g = np.asarray(gradient, dtype=np.float64).reshape(len(gradient), -1)
    g = g[int(intercept):]
    abs_g = np.abs(g.ravel(order="F"))
    ord_ = np.argsort(-abs_g, kind="stable")
    rh = max(np.sqrt(np.finfo(np.float64).eps), tol * lam[0])
    over = np.flatnonzero(np.cumsum(abs_g[ord_] - lam) > rh)
    if not over.size:
        return failures
    ranked = np.unique(ord_[: over[-1] + 1] % g.shape[0]) + int(intercept)
    return np.setdiff1d(ranked, working)


def run_path(
    solve,
    full_gradient,
    *,
    lambda_max: np.ndarray,
    null_deviance: float,
    n: int,
    p: int,
    m: int = 1,
    intercept: bool = True,
    lambda_type: str = "gaussian",
    q: float = 0.2,
    user_lambda=None,
    n_sigma: int = 100,
    sigma=None,
    lambda_min_ratio: float | None = None,
    screening: bool = False,
    tol_infeas: float = 1e-3,
    tol_dev_change: float = 1e-5,
    tol_dev_ratio: float = 0.995,
    max_variables: int | None = None,
) -> PathResult:
    """Run a whole path over ``p`` internal columns (the intercept, when
    fitted, is column 0 and unpenalized) and ``m`` targets.

    - **max_variables**: the path stops before the first point whose count
      of unique nonzero |beta| (full internal beta, intercept included,
      ``src/owl.cpp:338``) exceeds the cap. The default cap is n*m with an
      automatic sigma grid (``R/owl.R:288``) and off with a supplied one
      (``R/owl.R:390``); an explicit value is always honoured.
    - **deviance stop** (automatic sigma only): the path ends after a point
      with a nonzero coefficient whose relative deviance change is below
      ``tol_dev_change`` or whose deviance ratio is above
      ``tol_dev_ratio``. A zero null deviance gives a ratio of 0.
    - **screening**: each point fits the columns ever active, then adds
      :func:`repair_candidates` until there are none. Once the working set
      holds all p columns, screening stops for the rest of the path.
    - **abandon**: with an explicit max_variables and screening on, a
      working set past 4 * max_variables penalized columns ends the path
      before that point.
    """
    n_unpen = int(intercept)
    lam = lambda_sequence((p - n_unpen) * m, n, lambda_type, q, user_lambda)
    sigma_is_auto = sigma is None
    if sigma_is_auto:
        sig, sigma_max = sigma_grid(
            lambda_max, lam, n_sigma, lambda_min_ratio, n=n, p=p - n_unpen
        )
    else:
        sig = np.atleast_1d(np.asarray(sigma, dtype=np.float64))
        lm_sorted = np.sort(np.abs(lambda_max))[::-1]
        sigma_max = float(np.max(np.cumsum(lm_sorted) / np.cumsum(lam)))
    cap = n * m if sigma_is_auto else None
    abandon = None
    if max_variables is not None:
        cap = int(max_variables)
        # a working set this wide means a solution far denser than the cap,
        # and solving it first can cost thousands of distributed passes
        abandon = 4 * cap

    all_idx = np.arange(p, dtype=np.intp)
    ever_active = all_idx[:n_unpen]
    betas = np.zeros((len(sig), p, m))
    beta = np.zeros((p, m))
    out = {key: [] for key in ("deviances", "dev_ratios", "passes", "n_unique",
                              "support", "primals", "duals", "time", "violations")}
    # full gradient at beta from the last KKT check: the next point's
    # strong rule reuses it instead of paying another pass
    grad = None
    abandoned = False
    k = 0
    while k < len(sig):
        violations: list[int] = []
        if screening:
            if grad is None:
                grad = full_gradient(beta)
            strong = strong_rule_active_set(
                grad[n_unpen:], lam * sig[k],
                lam * (sigma_max if k == 0 else sig[k - 1]), intercept,
            )
            nonzero = np.flatnonzero(np.any(beta != 0, axis=1))
            working = ever_active = np.union1d(ever_active, nonzero).astype(np.intp)
            while True:
                if abandon is not None and len(working) - n_unpen > abandon:
                    abandoned = True
                    break
                if len(working) == p:
                    screening = False
                    break
                warm, beta = beta[working], np.zeros((p, m))
                if len(working) == 0:
                    res = FitResult(beta=beta, passes=0, deviance=null_deviance)
                else:
                    res = solve(working, warm,
                                lam[: (len(working) - n_unpen) * m] * sig[k])
                    beta[working] = res.beta.reshape(len(working), m)
                grad = full_gradient(beta)
                failures = repair_candidates(
                    grad, beta, lam * sig[k], tol_infeas, intercept, strong, working
                )
                violations.append(len(failures))
                if not len(failures):
                    break
                working = np.union1d(failures, working).astype(np.intp)
            if abandoned:
                break
        if not screening:
            res = solve(all_idx, beta, lam * sig[k])
            beta = res.beta.reshape(p, m)
            grad = None

        deviance = res.deviance
        dev_ratio = 1.0 - deviance / null_deviance if null_deviance > 0 else 0.0
        betas[k] = beta
        n_uni = len(np.unique(np.abs(beta[beta != 0])))
        for key, val in (("deviances", deviance), ("dev_ratios", dev_ratio),
                         ("passes", res.passes), ("n_unique", n_uni),
                         ("support", np.flatnonzero(np.any(beta != 0, axis=1))),
                         ("primals", res.primals), ("duals", res.duals),
                         ("time", res.time), ("violations", violations)):
            out[key].append(val)
        if k > 0 and sigma_is_auto and np.any(beta != 0):
            prev = out["deviances"][k - 1]
            change = abs((prev - deviance) / prev) if prev != 0 else 0.0
            if change < tol_dev_change or dev_ratio > tol_dev_ratio:
                k += 1
                break
        if cap is not None and n_uni > cap:
            break  # the offending point is excluded (src/owl.cpp:358)
        k += 1

    return PathResult(
        betas=betas[:k], sigma=sig[:k], lam=lam,
        deviances=np.asarray(out["deviances"][:k]),
        dev_ratios=np.asarray(out["dev_ratios"][:k]),
        passes=np.asarray(out["passes"][:k], dtype=int),
        n_unique=np.asarray(out["n_unique"][:k], dtype=int),
        support=out["support"][:k], abandoned=abandoned,
        diag={key: out[key][:k] for key in ("primals", "duals", "time", "violations")},
    )
