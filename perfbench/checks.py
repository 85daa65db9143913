"""Output checks, computed in NumPy from the benchmark's own inputs.

Each check returns a list of failure messages (empty when the output is
correct), so a caller can count failed operations and report every cause.
"""

from __future__ import annotations

import numpy as np

EPS = float(np.sqrt(np.finfo(np.float64).eps))


# The losses of the two families the workloads fit, in the library's
# encodings: gaussian y standardized, binomial y in {-1, +1}.

def _pseudo_gradient(family: str, eta: np.ndarray, y: np.ndarray) -> np.ndarray:
    """d loss / d eta per row."""
    if family == "gaussian":
        return eta - y
    return -y / (1.0 + np.exp(np.clip(y * eta, -700, 700)))


def _primal_loss(family: str, eta: np.ndarray, y: np.ndarray) -> float:
    if family == "gaussian":
        return float(0.5 * np.sum((y - eta) ** 2))
    return float(np.sum(np.logaddexp(0.0, -y * eta)))


def _dual_value(family: str, theta: np.ndarray, y: np.ndarray) -> float:
    """Fenchel dual objective -L*(-theta) of the loss."""
    if family == "gaussian":
        return float(np.sum(theta * y) - 0.5 * np.sum(theta * theta))
    a = np.clip(y * theta, 1e-300, 1.0 - 1e-16)
    return float(-np.sum(a * np.log(a) + (1.0 - a) * np.log1p(-a)))


def encode_response(family: str, labels, class_names) -> np.ndarray:
    """The response as the library encodes it, (n, 1)."""
    if family == "gaussian":
        return np.asarray(labels, dtype=np.float64)[:, None]
    return np.where(np.asarray(labels) == class_names[0], -1.0, 1.0)[:, None]


def slope_optimality(model, X_t, X_matvec, n: int, y: np.ndarray) -> list[dict]:
    """Per path point of ``model``, two optimality measures of the
    standardized problem the library solves, computed from the inputs:

    - ``infeas``: dual infeasibility of the full gradient,
      ``max cumsum(sort_desc |g| - lambda)``, as a share of lambda_1 (the
      quantity the library's ``tol_infeas`` bounds);
    - ``rel_gap``: the duality gap ``(P(beta) - D(theta)) / P(beta)`` at
      the dual point ``theta = -grad L(eta)`` scaled into the dual ball.

    ``X_matvec(B)`` returns ``X @ B`` for an original-scale (p, m) block
    and ``X_t(R)`` returns ``X.T @ R`` for an (n, m) block, so dense and
    sparse designs share this code."""
    c = np.asarray(model.x_center, dtype=np.float64)
    s = np.asarray(model.x_scale, dtype=np.float64)
    yc = np.asarray(model.y_center, dtype=np.float64)
    ys = np.asarray(model.y_scale, dtype=np.float64)
    y_std = (y - yc) / ys
    lam_base = np.asarray(model.lam, dtype=np.float64) * n
    out = []
    for k in range(model.n_path):
        B = model.betas[k]  # (1 + p, m), original scale
        eta = (B[0] + X_matvec(B[1:]) - yc) / ys
        pg = _pseudo_gradient(model.family, eta, y_std)
        g = (X_t(pg) - np.outer(c, pg.sum(axis=0))) / s[:, None]
        b_std = B[1:] * s[:, None] / ys
        lam = lam_base * model.sigma[k]
        ag = np.sort(np.abs(g.ravel(order="F")))[::-1]
        infeas = float(max(np.max(np.cumsum(ag - lam)), 0.0))
        dual_norm = float(np.max(np.cumsum(ag) / np.cumsum(lam)))
        theta = -pg / max(1.0, dual_norm)
        pen = float(np.sort(np.abs(b_std.ravel(order="F")))[::-1] @ lam)
        primal = _primal_loss(model.family, eta, y_std) + pen
        dual = _dual_value(model.family, theta, y_std)
        out.append({"infeas": infeas / lam[0],
                    "rel_gap": abs(primal - dual) / max(abs(primal), EPS)})
    return out


def slope_kkt(name: str, points: list[dict], gap_tol: float,
              infeas_tol: float) -> list[str]:
    """Failures of the SLOPE optimality conditions: a path point fails
    when its relative duality gap exceeds ``gap_tol`` or its dual
    infeasibility exceeds ``infeas_tol`` times lambda_1."""
    fails = []
    for k, pt in enumerate(points):
        if not pt["rel_gap"] <= gap_tol:
            fails.append(f"{name} path point {k}: relative duality gap "
                         f"{pt['rel_gap']:.3g} > {gap_tol}")
        if not pt["infeas"] <= infeas_tol:
            fails.append(f"{name} path point {k}: KKT infeasibility "
                         f"{pt['infeas']:.3g} lambda_1 > {infeas_tol} lambda_1")
    return fails


def dense_ops(X: np.ndarray):
    return (lambda R: X.T @ R), (lambda B: X @ B)


def sparse_ops(rows, cols, vals, n: int, p: int):
    def xt(R):
        return np.column_stack([
            np.bincount(cols, weights=vals * R[rows, j], minlength=p)
            for j in range(R.shape[1])
        ])

    def xmv(B):
        return np.column_stack([
            np.bincount(rows, weights=vals * B[cols, j], minlength=n)
            for j in range(B.shape[1])
        ])

    return xt, xmv


def round_sig(x, digits: int) -> list[float]:
    out = []
    for v in np.ravel(x):
        v = float(v)
        if v == 0.0 or not np.isfinite(v):
            out.append(v)
            continue
        out.append(round(v, digits - 1 - int(np.floor(np.log10(abs(v))))))
    return out


def pinned_equal(name: str, got, want) -> list[str]:
    got_l = list(np.ravel(got)) if np.ndim(got) else [got]
    want_l = list(np.ravel(want)) if np.ndim(want) else [want]
    if len(got_l) != len(want_l) or any(
        float(a) != float(b) for a, b in zip(got_l, want_l)
    ):
        return [f"{name}: got {got_l}, pinned {want_l}"]
    return []


def close(name: str, got: float, want: float, rtol: float = 1e-6) -> list[str]:
    if not np.isfinite(got) or abs(got - want) > rtol * max(abs(want), 1e-12):
        return [f"{name}: got {got!r}, expected {want!r} (rtol {rtol})"]
    return []


def auc(y01: np.ndarray, score: np.ndarray) -> float:
    """Mann-Whitney AUC with average ranks for ties."""
    order = np.argsort(score, kind="mergesort")
    s = score[order]
    _, first, counts = np.unique(s, return_index=True, return_counts=True)
    ranks = np.repeat(first + (counts - 1) / 2.0 + 1.0, counts)
    r = np.empty(len(s))
    r[order] = ranks
    pos = y01 == 1
    n1, n0 = int(pos.sum()), int((~pos).sum())
    return float((r[pos].sum() - n1 * (n1 + 1) / 2.0) / (n1 * n0))


def subset(name: str, ids, universe) -> list[str]:
    extra = set(int(i) for i in ids) - set(int(i) for i in universe)
    if extra:
        return [f"{name}: {len(extra)} ids outside the shard, e.g. "
                f"{sorted(extra)[:5]}"]
    return []


def topk_rows(name: str, rows, query_ids, k: int) -> list[str]:
    """Each query has exactly k rows, ranks 1..k, and itself at rank 1.
    ``rows`` are (query_id, id, rank) tuples."""
    fails = []
    by: dict = {}
    for qid, cid, rank in rows:
        by.setdefault(int(qid), []).append((int(rank), int(cid)))
    for q in query_ids:
        got = sorted(by.get(int(q), []))
        if len(got) != k or [r for r, _ in got] != list(range(1, k + 1)):
            fails.append(f"{name}: query {q} returned ranks "
                         f"{[r for r, _ in got]}, want 1..{k}")
        elif got[0][1] != int(q):
            fails.append(f"{name}: query {q} ranks {got[0][1]} first, "
                         "not itself")
    extra = set(by) - set(int(q) for q in query_ids)
    if extra:
        fails.append(f"{name}: rows for unknown queries {sorted(extra)[:5]}")
    return fails
