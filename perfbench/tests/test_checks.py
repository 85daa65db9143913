"""Each output check accepts a correct output and rejects a corrupted one."""

import os
import types

import numpy as np
import pytest

from perfbench import checks
from perfbench.workloads import GAP_TOL, INFEAS_TOL, CurationSnapshot, VectorSearch


def _model(family, betas, sigma, x, y_center=0.0, y_scale=1.0, class_names=()):
    c = x.mean(axis=0)
    s = np.linalg.norm(x - c, axis=0)
    return types.SimpleNamespace(
        family=family, intercept=True, betas=np.asarray(betas, float),
        sigma=np.asarray(sigma, float), lam=np.full(x.shape[1], 1.0 / len(x)),
        n_path=len(sigma), x_center=c, x_scale=s,
        y_center=np.array([y_center]), y_scale=np.array([y_scale]),
        class_names=list(class_names))


def _lasso_path(x, y, lams):
    """Exact one-feature SLOPE (= lasso) path on the standardized scale,
    returned on the original scale."""
    c, s = x.mean(), np.linalg.norm(x - x.mean())
    ybar = y.mean()
    z = ((x - c) / s) @ (y - ybar)
    out = []
    for lam in lams:
        b = np.sign(z) * max(abs(z) - lam, 0.0)
        beta = b / s
        out.append([[ybar - c * beta], [beta]])
    return out


@pytest.fixture
def gaussian_problem():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(200, 1))
    y = 3.0 * x[:, 0] + rng.normal(size=200)
    lams = [20.0, 5.0]
    m = _model("gaussian", _lasso_path(x[:, 0], y, lams), lams, x,
               y_center=y.mean())
    return m, x, y


def _gaps(m, x, y):
    xt, xmv = checks.dense_ops(x)
    resp = checks.encode_response(m.family, y, m.class_names)
    return checks.slope_optimality(m, xt, xmv, len(x), resp)


def test_kkt_accepts_exact_gaussian_solution(gaussian_problem):
    m, x, y = gaussian_problem
    pts = _gaps(m, x, y)
    assert checks.slope_kkt("fit", pts, GAP_TOL, INFEAS_TOL) == []
    assert max(p["infeas"] for p in pts) < 1e-9


def test_kkt_rejects_corrupted_coefficients(gaussian_problem):
    m, x, y = gaussian_problem
    m.betas = m.betas.copy()
    m.betas[1, 1, 0] *= 1.5
    fails = checks.slope_kkt("fit", _gaps(m, x, y), GAP_TOL, INFEAS_TOL)
    assert fails and all("path point 1" in f for f in fails)


def test_kkt_binomial_null_model_and_corruption():
    rng = np.random.default_rng(1)
    x = rng.normal(size=(300, 2))
    labels = np.where(rng.random(300) < 0.3, "yes", "no")
    p = np.mean(labels == "yes")
    # lambda far above lambda_max: the intercept-only model is optimal
    good = [[[np.log(p / (1 - p))], [0.0], [0.0]]]
    m = _model("binomial", good, [1e4], x, class_names=["no", "yes"])
    assert checks.slope_kkt("fit", _gaps(m, x, labels), GAP_TOL, INFEAS_TOL) == []
    m.betas = m.betas.copy()
    m.betas[0, 0, 0] += 1.0
    assert checks.slope_kkt("fit", _gaps(m, x, labels), GAP_TOL, INFEAS_TOL)


def test_kkt_rejects_infeasible_point_with_small_gap():
    # a zero coefficient whose gradient breaks the penalty budget fails
    # even when the objective is all but optimal
    pts = [{"rel_gap": 1e-6, "infeas": 0.0}, {"rel_gap": 2e-5, "infeas": 0.24}]
    fails = checks.slope_kkt("fit", pts, GAP_TOL, INFEAS_TOL)
    assert len(fails) == 1 and "point 1: KKT infeasibility" in fails[0]


def test_sparse_ops_match_dense():
    rng = np.random.default_rng(2)
    dense = rng.normal(size=(6, 4)) * (rng.random((6, 4)) < 0.5)
    rows, cols = np.nonzero(dense)
    xt, xmv = checks.sparse_ops(rows, cols, dense[rows, cols], 6, 4)
    B, R = rng.normal(size=(4, 2)), rng.normal(size=(6, 2))
    assert np.allclose(xmv(B), dense @ B)
    assert np.allclose(xt(R), dense.T @ R)


def test_pinned_and_close():
    assert checks.round_sig([4987.0, 99.7, -20049.0, 0.0], 2) == [5000.0, 100.0, -20000.0, 0.0]
    assert checks.pinned_equal("rows", 10, 10) == []
    assert checks.pinned_equal("rows", 11, 10)
    assert checks.pinned_equal("coef", [1.0, 2.0], [1.0, 3.0])
    assert checks.close("mse", 1.0, 1.0 + 1e-9) == []
    assert checks.close("mse", 1.01, 1.0)
    assert checks.close("mse", float("nan"), 1.0)


def test_auc_matches_pair_count():
    rng = np.random.default_rng(3)
    y = (rng.random(50) < 0.4).astype(float)
    score = np.round(rng.random(50), 1)  # ties
    pos, neg = score[y == 1], score[y == 0]
    pairs = (pos[:, None] > neg[None, :]).sum() + 0.5 * (pos[:, None] == neg[None, :]).sum()
    assert checks.auc(y, score) == pytest.approx(pairs / (len(pos) * len(neg)))


def test_topk_rows():
    good = [(q, q if r == 1 else 100 + r, r) for q in (1, 2) for r in (1, 2, 3)]
    assert checks.topk_rows("topk", good, [1, 2], 3) == []
    assert checks.topk_rows("topk", good[:-1], [1, 2], 3)  # a missing row
    swapped = [(q, 100 + r if r == 1 else q, r) if q == 2 and r <= 2 else (q, c, r)
               for q, c, r in good]
    assert any("not itself" in f for f in checks.topk_rows("topk", swapped, [1, 2], 3))
    assert checks.topk_rows("topk", good + [(9, 9, 1)], [1, 2], 3)


def _write_rows(path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"k": list(range(n))}), os.path.join(path, "part-0.parquet"))


@pytest.fixture
def curation(tmp_path):
    from prague_spark.pipeline.curate import ARTIFACTS, CurationConfig

    w = object.__new__(CurationSnapshot)
    w.cfg = CurationConfig()
    w.shard_ids = np.arange(0, 50, 5)
    w.docs = {"exact_copies": np.array([5])}
    w.art = str(tmp_path / "old")
    old = {"exact": 20, "minhash": 160, "spans": 40, "cutoffs": 3}
    for tier, n in old.items():
        _write_rows(os.path.join(w.art, ARTIFACTS[tier]), n)

    def successor(kept, exact_extra=0):
        new = str(tmp_path / f"new{len(kept)}_{exact_extra}")
        rows = {"exact": 20 + len(kept) + exact_extra,
                "minhash": 160 + 8 * len(kept), "spans": 45, "cutoffs": 3}
        for tier, n in rows.items():
            _write_rows(os.path.join(new, ARTIFACTS[tier]), n)
        return new

    counts = {"exact": 10, "minhash": 2, "spans": 1, "cutoffs": 10}
    written = {t: "" for t in w.cfg.tiers}
    return w, successor, counts, written


def test_curation_check_accepts_consistent_successor(curation):
    w, successor, counts, written = curation
    kept = [0, 10, 15]
    assert w.check(counts, kept, written, successor(kept)) == []


def test_curation_check_rejects_corruptions(curation):
    w, successor, counts, written = curation
    kept = [0, 10, 15]
    assert any("outside the shard" in f
               for f in w.check(counts, kept + [3], written, successor(kept + [3])))
    assert any("exact copies" in f
               for f in w.check(counts, kept + [5], written, successor(kept + [5])))
    assert any("successor exact" in f
               for f in w.check(counts, kept, written, successor(kept, exact_extra=1)))
    assert any("exact gate rows" in f
               for f in w.check({**counts, "exact": 9}, kept, written, successor(kept)))


def test_vector_check_rejects_short_index(tmp_path):
    w = object.__new__(VectorSearch)
    w.emb = {"query_ids": np.array([3, 7])}
    rows = [(q, q if r == 1 else 50 + r, r) for q in (3, 7) for r in range(1, w.K + 1)]
    res = [dict(query_id=q, vec_id=c, rank=r) for q, c, r in rows]
    idx = types.SimpleNamespace(count=lambda: w.N_VEC)
    _write_rows(str(tmp_path / "ok"), w.N_VEC)
    assert w.check(idx, res, res, str(tmp_path / "ok")) == []
    _write_rows(str(tmp_path / "short"), w.N_VEC - 1)
    assert any("written index rows" in f
               for f in w.check(idx, res, res, str(tmp_path / "short")))
