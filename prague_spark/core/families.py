"""GLM family objective functions (NumPy form).

These are the per-family primal/dual objectives, pseudo-gradients and null
models of the reference (``src/families/{gaussian,binomial,poisson,
multinomial}.h`` in jolars/prague). They are used in two places:

1. by the in-core solver (small problems collected to the driver), and
2. *inside Arrow batches* by the distributed designs — the same NumPy
   code runs vectorized over each partition's rows in ``mapInArrow``, so
   the distributed and local paths share one implementation and cannot
   drift apart.

The binomial family works on y in {-1, +1}; multinomial on an n x (m-1)
one-hot matrix with the last class dropped (``R/preProcessResponse.R``).
"""

from __future__ import annotations

import numpy as np

_EXP_MAX = 709.78  # log(DBL_MAX); trunc_exp clamps here like armadillo's
_TINY = np.finfo(np.float64).tiny
_HUGE = np.finfo(np.float64).max


def trunc_exp(x: np.ndarray) -> np.ndarray:
    return np.exp(np.minimum(x, _EXP_MAX))


def trunc_log(x: np.ndarray) -> np.ndarray:
    return np.log(np.clip(x, _TINY, _HUGE))


class Family:
    name = "base"
    n_targets_from_classes = staticmethod(lambda c: 1)
    # c in the FISTA step 1/L with L = eigmax(X'X) / c (gaussian 1,
    # binomial 4, multinomial 2); None: no global Lipschitz bound, so the
    # solver keeps its backtracking line search (poisson)
    lipschitz_factor: float | None = None

    def lipschitz_step(self, eig_bound: float) -> float | None:
        """Fixed FISTA step from an upper bound on eigmax(X'X); None when
        the family has no global Lipschitz bound or the bound is 0."""
        ok = self.lipschitz_factor is not None and eig_bound > 0
        return self.lipschitz_factor / eig_bound if ok else None

    def primal(self, y: np.ndarray, lin_pred: np.ndarray) -> float:
        raise NotImplementedError

    def dual(self, y: np.ndarray, lin_pred: np.ndarray) -> float:
        raise NotImplementedError

    def pseudo_gradient(self, y: np.ndarray, lin_pred: np.ndarray) -> np.ndarray:
        """n x m matrix g such that the full gradient is X^T g."""
        raise NotImplementedError

    def hessian_weights(self, y: np.ndarray, lin_pred: np.ndarray) -> np.ndarray:
        """Per-row curvature for the prox-Newton (IRLS) outer loop.

        Returns (n, m): for m = 1 the diagonal IRLS weight w_i (so the
        Hessian is X^T diag(w) X); for multinomial the class probabilities
        p_ik, from which the full Hessian blocks are
        X^T diag(p_k * (delta_kl - p_l)) X."""
        raise NotImplementedError

    def fit_null_model(self, y: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def link_inverse(self, lin_pred: np.ndarray) -> np.ndarray:
        """type='response' prediction from the linear predictor."""
        raise NotImplementedError


class Gaussian(Family):
    """``src/families/gaussian.h:21-45``."""

    name = "gaussian"
    lipschitz_factor = 1.0

    def primal(self, y, lin_pred):
        r = y - lin_pred
        return 0.5 * float(np.sum(r * r))

    def dual(self, y, lin_pred):
        return 0.5 * float(np.sum(y * y)) - 0.5 * float(np.sum(lin_pred * lin_pred))

    def pseudo_gradient(self, y, lin_pred):
        return lin_pred - y

    def hessian_weights(self, y, lin_pred):
        # constant curvature: the prox-Newton model is exact (one step)
        return np.ones_like(lin_pred)

    def fit_null_model(self, y):
        return np.mean(y, axis=0)

    def link_inverse(self, lin_pred):
        return lin_pred


class Binomial(Family):
    """``src/families/binomial.h:15-44``; y in {-1, +1}."""

    name = "binomial"
    lipschitz_factor = 4.0

    def primal(self, y, lin_pred):
        return float(np.sum(trunc_log(1.0 + trunc_exp(-y * lin_pred))))

    def dual(self, y, lin_pred):
        r = 1.0 / (1.0 + trunc_exp(y * lin_pred))
        return float(np.sum((r - 1.0) * trunc_log(1.0 - r) - r * trunc_log(r)))

    def pseudo_gradient(self, y, lin_pred):
        return -y / (1.0 + trunc_exp(y * lin_pred))

    def hessian_weights(self, y, lin_pred):
        # d2/dlp2 log(1+exp(-y*lp)) = s(1-s), independent of y in {-1,+1}
        s = 1.0 / (1.0 + trunc_exp(-lin_pred))
        return s * (1.0 - s)

    def fit_null_model(self, y):
        pmin = 1e-9
        mu = np.clip(np.mean(0.5 * y + 0.5, axis=0), pmin, 1 - pmin)
        return trunc_log(mu / (1.0 - mu))

    def link_inverse(self, lin_pred):
        return 1.0 / (1.0 + np.exp(-lin_pred))


class Poisson(Family):
    """``src/families/poisson.h:15-38``."""

    name = "poisson"

    @staticmethod
    def _lgamma1p(y: np.ndarray) -> np.ndarray:
        if not y.size:
            return y
        try:
            from scipy.special import gammaln  # vectorized C
        except ImportError:  # pragma: no cover
            from math import lgamma

            return np.vectorize(lgamma)(y + 1.0)
        return gammaln(y + 1.0)

    def primal(self, y, lin_pred):
        lg = self._lgamma1p(y)
        return -float(np.sum(y * lin_pred - trunc_exp(lin_pred) - lg))

    def dual(self, y, lin_pred):
        lg = self._lgamma1p(y)
        return -float(np.sum(trunc_exp(lin_pred) * (lin_pred - 1.0) - lg))

    def pseudo_gradient(self, y, lin_pred):
        return trunc_exp(lin_pred) - y

    def hessian_weights(self, y, lin_pred):
        return trunc_exp(lin_pred)

    def fit_null_model(self, y):
        return trunc_log(np.mean(y, axis=0))

    def link_inverse(self, lin_pred):
        return np.exp(lin_pred)


class Multinomial(Family):
    """``src/families/multinomial.h:15-56``; y is n x (m-1) one-hot with the
    last class dropped; the implicit last class has linear predictor 0,
    handled by the ``exp(-lp_max)`` term in the log-sum-exp."""

    name = "multinomial"
    lipschitz_factor = 2.0

    @staticmethod
    def _lse(lin_pred: np.ndarray) -> np.ndarray:
        lp_max = np.max(lin_pred, axis=1, keepdims=True)
        return (
            trunc_log(
                np.exp(-lp_max) + np.sum(trunc_exp(lin_pred - lp_max), axis=1, keepdims=True)
            )
            + lp_max
        )

    def primal(self, y, lin_pred):
        lse = self._lse(lin_pred)
        return float(np.sum(lse)) - float(np.sum(y * lin_pred))

    def dual(self, y, lin_pred):
        lse = self._lse(lin_pred)
        return float(np.sum(lse)) - float(np.sum(lin_pred * trunc_exp(lin_pred - lse)))

    def pseudo_gradient(self, y, lin_pred):
        lse = self._lse(lin_pred)
        return trunc_exp(lin_pred - lse) - y

    def hessian_weights(self, y, lin_pred):
        # class probabilities over the m-1 explicit targets; the Hessian
        # blocks are X^T diag(p_k (delta_kl - p_l)) X
        lse = self._lse(lin_pred)
        return trunc_exp(lin_pred - lse)

    def fit_null_model(self, y):
        m = y.shape[1]
        mu = np.mean(y, axis=0)
        log_mu = trunc_log(mu)
        return log_mu - np.sum(log_mu + trunc_log(1.0 - np.sum(mu))) / (m + 1.0)

    def link_inverse(self, lin_pred):
        """Softmax over (m-1) columns plus the implicit last class; returns
        n x m probabilities (all classes)."""
        full = np.concatenate([lin_pred, np.zeros((lin_pred.shape[0], 1))], axis=1)
        full = full - np.max(full, axis=1, keepdims=True)
        e = np.exp(full)
        return e / np.sum(e, axis=1, keepdims=True)


FAMILIES: dict[str, type[Family]] = {
    "gaussian": Gaussian,
    "binomial": Binomial,
    "poisson": Poisson,
    "multinomial": Multinomial,
}


def setup_family(name: str) -> Family:
    try:
        return FAMILIES[name]()
    except KeyError:
        raise ValueError(
            f"unknown family {name!r}; expected one of {sorted(FAMILIES)}"
        ) from None
