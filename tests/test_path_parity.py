"""Route parity for every caller of the shared path loop (core.path), on
small seeded inputs, in the fast tier.

Each row fits one problem through two or more routes and asserts they
reach the same path to the tolerance the slow-tier route tests use. The
module also pins the KKT repair rule: a screened sparse point must be
optimal on the full design, not only on its working set.
"""

import numpy as np
import pandas as pd
import pytest

import prague_spark as ps
from prague_spark.core.ref_fit import numpy_path_fit
from prague_spark.ops.sparse import fit_sparse


def _dense(n, p, seed):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, p))
    beta = np.zeros(p)
    beta[:3] = [2.0, -1.5, 1.0]
    eta = X @ beta
    y = eta + rng.normal(size=n)
    yb = np.where(rng.random(n) < 1.0 / (1.0 + np.exp(-eta)), "a", "b")
    return X, y, yb


def _frame(spark, X, y, yb):
    cols = [f"f{j}" for j in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["y"], pdf["yb"] = y, yb
    return spark.createDataFrame(pdf).cache(), cols


def _assert_paths_close(a, b, *, rtol=0.0, atol, scaled=False):
    assert a.n_path == b.n_path
    np.testing.assert_allclose(a.sigma, b.sigma, rtol=1e-9)
    scale = np.max(np.abs(b.betas)) if scaled else 1.0
    np.testing.assert_allclose(a.betas / scale, b.betas / scale,
                               rtol=rtol, atol=atol)


# (name, rows, cols, seed, fit kwargs, reference route, other routes,
#  tolerances) — tolerances from the slow-tier route tests
# (test_fit: one-pass vs staged, spark design vs gram / incore)
FIT_ROWS = [
    ("gaussian", 400, 6, 1, dict(family="gaussian", n_sigma=4,
                                 lambda_min_ratio=0.05),
     dict(), [dict(diagnostics=True), dict(solver="incore"),
              dict(solver="spark")],
     dict(atol=2e-4, scaled=True)),
    ("gaussian_n_lt_p", 40, 60, 2, dict(family="gaussian", n_sigma=5,
                                        lambda_min_ratio=0.1),
     dict(), [dict(diagnostics=True), dict(solver="incore"),
              dict(solver="spark")],
     dict(atol=2e-4, scaled=True)),
    ("binomial", 400, 6, 3, dict(family="binomial", n_sigma=3,
                                 lambda_min_ratio=0.5, max_passes=2000),
     dict(solver="incore"), [dict(solver="spark"),
                             dict(solver="spark_fista")],
     dict(rtol=1e-3, atol=5e-4)),
]


@pytest.mark.parametrize("row", FIT_ROWS, ids=[r[0] for r in FIT_ROWS])
def test_fit_routes_agree(spark, row):
    _name, n, p, seed, kw, ref_kw, others, tol = row
    X, y, yb = _dense(n, p, seed)
    df, cols = _frame(spark, X, y, yb)
    label = "y" if kw["family"] == "gaussian" else "yb"
    ref = ps.fit(df, cols, label, **kw, **ref_kw)
    assert ref.n_path >= 2
    for other in others:
        _assert_paths_close(ps.fit(df, cols, label, **kw, **other), ref, **tol)


@pytest.mark.parametrize("family,label", [("gaussian", "y"), ("binomial", "yb")])
def test_numpy_path_fit_matches_incore_fit(spark, family, label):
    X, y, yb = _dense(300, 5, 4)
    df, cols = _frame(spark, X, y, yb)
    kw = dict(n_sigma=4, lambda_min_ratio=0.2)
    m = ps.fit(df, cols, label, family, solver="incore", **kw)
    ref = numpy_path_fit(X, y if family == "gaussian" else yb, family, **kw)
    assert len(ref["sigma"]) == m.n_path
    np.testing.assert_allclose(ref["sigma"], m.sigma, rtol=1e-9)
    scale = np.max(np.abs(m.betas))
    np.testing.assert_allclose(ref["betas"] / scale, m.betas / scale, atol=2e-4)
    assert ref["class_names"] == list(m.class_names)


def _sparse_recipe(seed, n, p, nnz_per_row, q=0.02):
    """Long-format design with planted signal: row r holds columns
    (offset_r + k*stride) % p with standard normal values; floor(q*p)
    planted coefficients alternate in sign; y = 2*lp + N(0, 1)."""
    rng = np.random.default_rng([seed, 2])
    k = max(1, int(np.floor(q * p)))
    support = np.sort(rng.choice(p, size=k, replace=False))
    sign = np.where(np.arange(k) % 2 == 0, 1.0, -1.0)
    stride = max(1, p // nnz_per_row)
    offset = rng.integers(0, p, n)
    rows = np.repeat(np.arange(n, dtype=np.int64), nnz_per_row)
    cols = ((offset[:, None] + np.arange(nnz_per_row) * stride) % p).ravel()
    vals = rng.standard_normal(n * nnz_per_row)
    unit = np.zeros(p)
    unit[support] = sign
    lp = np.bincount(rows, weights=vals * unit[cols], minlength=n)
    y = 2.0 * lp + rng.standard_normal(n)
    return rows, cols, vals, y


def _sparse_frames(spark, rows, cols, vals, y):
    trip = spark.createDataFrame(pd.DataFrame(
        {"row_id": rows, "col_id": cols.astype(np.int32), "value": vals}))
    ydf = spark.createDataFrame(pd.DataFrame(
        {"row_id": np.arange(len(y), dtype=np.int64), "y": y}))
    return trip.cache(), ydf.cache()


def test_fit_sparse_routes_agree(spark):
    rows, cols, vals, y = _sparse_recipe(3, 500, 120, 8)
    trip, ydf = _sparse_frames(spark, rows, cols, vals, y)
    kw = dict(n_cols=120, n_sigma=3, lambda_min_ratio=0.5)
    m_gram = fit_sparse(trip, ydf, "y", "gaussian", **kw)
    m_incore = fit_sparse(trip, ydf, "y", "gaussian", gram_limit=0, **kw)
    m_dist = fit_sparse(trip, ydf, "y", "gaussian", gram_limit=0,
                        incore_limit=0, **kw)
    assert m_incore.diagnostics["subset_fit_routes"]["distributed"] == 0
    assert not m_dist.diagnostics["incore_subset_fits"]
    # the slow-tier sparse invariance tolerance
    for m in (m_incore, m_dist):
        _assert_paths_close(m, m_gram, atol=5e-4)


def test_sparse_gram_pair_expansion_matches_dense_gram():
    """SparseLocalDesign.gram() builds the Gram sufficient statistics from
    the cached pair expansion; they must equal the dense GramData.from_xy
    product to float rounding."""
    from prague_spark.core.families import setup_family
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(29)
    n, p = 300, 40
    X = np.where(rng.random((n, p)) < 0.1, rng.normal(size=(n, p)), 0.0)
    icol = 1.0 / np.sqrt(n)
    Xf = np.hstack([np.full((n, 1), icol), X])
    y = X[:, 0] * 2.0 + rng.normal(scale=0.5, size=n)
    fam = setup_family("gaussian")
    rows, cols = np.nonzero(X)
    sld = SparseLocalDesign(rows, cols + 1, X[rows, cols], n, p + 1, y,
                            fam, icol=icol)
    gd_s = sld.gram()
    gd_d = LocalDesign(Xf, y, fam).gram()
    np.testing.assert_allclose(gd_s.gram, gd_d.gram, atol=1e-10)
    np.testing.assert_allclose(gd_s.xty, gd_d.xty, atol=1e-10)
    assert abs(gd_s.yty - gd_d.yty) < 1e-8
    assert gd_s.n == gd_d.n


def _sparse_infeasibility(model, rows, cols, vals, y):
    """Worst dual infeasibility over the path, as a share of lambda_1, of
    the full standardized gaussian problem the library solves."""
    n, p = len(y), len(model.x_scale)
    s = np.asarray(model.x_scale)
    yc, ys = float(model.y_center[0]), float(model.y_scale[0])
    worst = 0.0
    for k in range(model.n_path):
        B = model.betas[k][:, 0]
        lin = B[0] + np.bincount(rows, weights=vals * B[1:][cols], minlength=n)
        resid = (lin - yc) / ys - (y - yc) / ys
        g = np.bincount(cols, weights=vals * resid[rows], minlength=p) / s
        lam = model.lam * n * model.sigma[k]
        ag = np.sort(np.abs(g))[::-1]
        worst = max(worst, float(np.max(np.cumsum(ag - lam))) / lam[0])
    return worst


def test_fit_sparse_screened_points_are_kkt_optimal(spark):
    """On this design one screened point has every kkt_check flag inside
    the working set while unflagged zero columns outside it break the KKT
    conditions; the repair must add them (left out, that point sits at
    0.225 lambda_1 of infeasibility)."""
    rows, cols, vals, y = _sparse_recipe(4, 4000, 3000, 16)
    trip, ydf = _sparse_frames(spark, rows, cols, vals, y)
    m = fit_sparse(trip, ydf, "y", "gaussian", n_cols=3000, n_sigma=10,
                   lambda_min_ratio=0.1, gram_limit=0)
    assert m.n_path == 10
    assert _sparse_infeasibility(m, rows, cols, vals, y) <= 1e-2
