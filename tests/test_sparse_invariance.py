"""Sparse == dense invariance (the reference's test-sparsity.R pattern):
the same design fed as long-format triplets (scale-only standardization)
or as dense columns must give identical fits; plus a hypothesis property
test of the sorted-L1 prox (exact minimizer of its objective)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

import prague_spark as ps
from prague_spark.core.prox import sorted_l1_norm, sorted_l1_prox
from prague_spark.ops.sparse import long_to_features, sparse_scales

# slow: route-invariance sweeps run full wide-p solver fits across
# families — deselect with -m 'not slow' for the mid-round loop
pytestmark = pytest.mark.slow


def test_sparse_long_format_fit_matches_dense(spark, lineitem):
    li = lineitem.limit(2000).select(
        F.monotonically_increasing_id().alias("rid"),
        "l_quantity", "l_discount", "l_tax", "l_extendedprice",
    ).cache()
    cols = ["l_quantity", "l_discount", "l_tax"]

    # long-format triplets (drop exact zeros: they're implicit)
    trip = None
    for j, c in enumerate(cols):
        one = li.select(
            F.col("rid").alias("row_id"),
            F.lit(j).alias("col_id"),
            F.col(c).cast("double").alias("value"),
        ).filter(F.col("value") != 0.0)
        trip = one if trip is None else trip.unionByName(one)
    n = li.count()
    scales = sparse_scales(trip, n, scale="l2")
    dense_from_sparse = long_to_features(
        trip, 3, rows=li.select(F.col("rid").alias("row_id")), scales=scales
    ).join(li.select(F.col("rid").alias("row_id"), "l_extendedprice"), "row_id")
    wide = dense_from_sparse.select(
        "row_id",
        *[F.col("features")[j].alias(cols[j]) for j in range(3)],
        "l_extendedprice",
    )
    # sparse path: scale-only (center=False, pre-scaled -> scale='none')
    m_sparse = ps.fit(
        wide, cols, "l_extendedprice", "gaussian",
        center=False, scale="none", n_sigma=5,
    )
    # dense path: same semantics via the engine's own l2 scaling
    m_dense = ps.fit(
        li, cols, "l_extendedprice", "gaussian",
        center=False, scale="l2", n_sigma=5,
    )
    assert m_sparse.n_path == m_dense.n_path
    # dense fit rescales coefs back to original units; sparse fit's coefs are in
    # scaled units -> compare after undoing the scale division.
    sc = np.array([scales[j] for j in range(3)])
    # the two paths run under different intercept parameterizations
    # (dense l2 scaling preconditions the intercept column), so agreement
    # is to ADMM stopping tolerance (tol_rel=1e-4), not bitwise
    for k in range(m_sparse.n_path):
        np.testing.assert_allclose(
            m_sparse.betas[k, 1:, 0] / sc,
            m_dense.betas[k, 1:, 0],
            rtol=2e-3, atol=1e-6,
        )


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.floats(-50, 50, allow_nan=False), min_size=1, max_size=12),
    st.integers(0, 10**6),
)
def test_prox_is_exact_minimizer_property(vlist, seed):
    rng = np.random.default_rng(seed)
    v = np.asarray(vlist)
    lam = np.sort(rng.uniform(0, 10, size=len(v)))[::-1]
    x = sorted_l1_prox(v, lam)

    def obj(z):
        return 0.5 * np.sum((z - v) ** 2) + sorted_l1_norm(z, lam)

    fx = obj(x)
    # prox output must beat random perturbations and the trivial candidates
    for cand in (v, np.zeros_like(v)):
        assert fx <= obj(cand) + 1e-9
    for _ in range(20):
        z = x + rng.normal(scale=0.1, size=len(v))
        assert fx <= obj(z) + 1e-9


def test_fit_sparse_long_format_no_densify_matches_dense(spark):
    """True sparse end-to-end (reference test-sparsity.R + src/owl.cpp:398-412):
    fit_sparse consumes long-format triplets directly — the design is NEVER
    densified — and must agree with the dense fit of the same data under
    scale-only standardization. p is wide relative to nnz (density 3%)."""
    from prague_spark.ops.sparse import fit_sparse

    rng = np.random.default_rng(11)
    n, p, density = 300, 60, 0.05
    nnz_mask = rng.random((n, p)) < density
    X = np.where(nnz_mask, rng.normal(size=(n, p)), 0.0)
    beta_true = np.zeros(p)
    beta_true[:4] = [3.0, -3.0, 2.0, -2.0]
    y = X @ beta_true + rng.normal(scale=0.5, size=n)

    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), float(y[i])) for i in range(n)], "row_id long, y double"
    )
    m_sparse = fit_sparse(
        trip, ydf, "y", "gaussian", n_cols=p,
        n_sigma=3, lambda_min_ratio=0.3,
    )

    dense = spark.createDataFrame(
        [tuple([float(v) for v in X[i]] + [float(y[i])]) for i in range(n)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y double"]),
    )
    m_dense = ps.fit(
        dense, [f"x{j}" for j in range(p)], "y", "gaussian",
        center=False, scale="l2", n_sigma=3, lambda_min_ratio=0.3,
    )
    assert m_sparse.n_path == m_dense.n_path
    for k in range(m_sparse.n_path):
        np.testing.assert_allclose(
            m_sparse.betas[k, :, 0], m_dense.betas[k, :, 0],
            rtol=2e-3, atol=2e-3,
        )
    # support recovery sanity: the planted signal is found
    assert set(np.flatnonzero(np.abs(m_sparse.betas[-1, 1:, 0]) > 0.5)) >= {0, 1, 2, 3}


def test_fit_sparse_binomial_runs_and_recovers_sign(spark):
    from prague_spark.ops.sparse import fit_sparse

    rng = np.random.default_rng(5)
    n, p, density = 300, 40, 0.1
    X = np.where(rng.random((n, p)) < density, rng.normal(size=(n, p)), 0.0)
    lp = 4.0 * X[:, 0] - 4.0 * X[:, 1]
    y = np.where(rng.random(n) < 1.0 / (1.0 + np.exp(-lp)), "pos", "neg")
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), str(y[i])) for i in range(n)], "row_id long, y string"
    )
    m = fit_sparse(
        trip, ydf, "y", "binomial", n_cols=p, n_sigma=3, lambda_min_ratio=0.3,
    )
    b = m.betas[-1, 1:, 0]
    assert b[0] > 0 and b[1] < 0  # 'pos' is class 2 -> +lp direction
    assert np.count_nonzero(b) < p  # SLOPE actually sparsifies


def test_fit_sparse_multinomial_matches_dense(spark):
    """Sparse multinomial (m-1 softmax targets over long-format triplets,
    never densified) agrees with the dense in-core multinomial fit."""
    from prague_spark.ops.sparse import fit_sparse

    rng = np.random.default_rng(23)
    n, p, density = 300, 20, 0.2
    X = np.where(rng.random((n, p)) < density, rng.normal(size=(n, p)), 0.0)
    score0 = 3.0 * X[:, 0] + rng.normal(scale=0.5, size=n)
    score1 = -3.0 * X[:, 1] + rng.normal(scale=0.5, size=n)
    y = np.where(score0 > np.maximum(score1, 0), "a",
                 np.where(score1 > 0, "b", "c"))
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), str(y[i])) for i in range(n)], "row_id long, y string"
    )
    m_sparse = fit_sparse(
        trip, ydf, "y", "multinomial", n_cols=p, n_sigma=3, lambda_min_ratio=0.3,
    )
    dense = spark.createDataFrame(
        [tuple([float(v) for v in X[i]] + [str(y[i])]) for i in range(n)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y string"]),
    )
    m_dense = ps.fit(
        dense, [f"x{j}" for j in range(p)], "y", "multinomial",
        center=False, scale="l2", n_sigma=3, lambda_min_ratio=0.3,
        solver="incore",
    )
    assert m_sparse.n_path == m_dense.n_path
    assert m_sparse.n_targets == m_dense.n_targets == 2
    for k in range(m_sparse.n_path):
        # penalized coefficients must agree everywhere; the UNPENALIZED
        # intercept at k=0 (sigma_max) sits on a degenerate stopping tie
        # (duality gap is exactly 0 at beta=0 while feasibility sits on
        # the threshold by construction of sigma_max), so backends may
        # legitimately stop at beta=0 or at the null intercept there —
        # compare intercepts from k=1 on.
        np.testing.assert_allclose(
            m_sparse.betas[k, 1:], m_dense.betas[k, 1:], rtol=5e-3, atol=5e-3,
        )
        if k >= 1:
            np.testing.assert_allclose(
                m_sparse.betas[k, 0], m_dense.betas[k, 0], rtol=5e-3, atol=5e-3,
            )


def test_predict_sparse_matches_dense_predict(spark):
    from prague_spark.ops.sparse import fit_sparse, predict_sparse

    rng = np.random.default_rng(7)
    n, p = 200, 15
    X = np.where(rng.random((n, p)) < 0.3, rng.normal(size=(n, p)), 0.0)
    y = 2.0 * X[:, 0] - 1.0 * X[:, 1] + rng.normal(scale=0.3, size=n)
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), float(y[i])) for i in range(n)], "row_id long, y double"
    )
    m = fit_sparse(trip, ydf, "y", "gaussian", n_cols=p, n_sigma=2,
                   lambda_min_ratio=0.5)
    preds = {
        int(r["row_id"]): float(r["pred"])
        for r in predict_sparse(trip, m, rows=ydf, type="response").collect()
    }
    B = m.betas[-1, :, 0]
    expect = B[0] + X @ B[1:]
    got = np.array([preds[i] for i in range(n)])
    np.testing.assert_allclose(got, expect, rtol=1e-10, atol=1e-10)


def test_sparse_wide_p_hessian_guard_falls_back_to_fista(spark, monkeypatch):
    # past ~10^6 Hessian cells the sparse fit must not ship the prox-Newton
    # X'WX self-join; it falls back to FISTA with the trace-bound step.
    # prox_newton is poisoned to prove the fallback is the path taken.
    import sys

    sparse_mod = sys.modules["prague_spark.ops.sparse"]
    solver_mod = sys.modules["prague_spark.core.solver"]

    def _boom(*a, **kw):
        raise AssertionError("prox_newton must not run past the Hessian guard")

    monkeypatch.setattr(solver_mod, "prox_newton", _boom)

    rng = np.random.default_rng(11)
    n, p = 400, 1050
    rows, cols_idx, vals = [], [], []
    for i in range(n):
        for c in rng.choice(p, size=3, replace=False):
            rows.append(i), cols_idx.append(int(c)), vals.append(float(rng.normal()))
    trip = spark.createDataFrame(
        list(zip(rows, cols_idx, vals)), "row_id long, col_id int, value double"
    )
    y = rng.normal(size=n)
    ydf = spark.createDataFrame(
        [(i, float(y[i]) if y[i] > -10 else 0.0) for i in range(n)],
        "row_id long, y double",
    )
    # binomial label so the gaussian Gram path (which needs no Hessian)
    # does not apply; large sigma converges in a few fixed-step passes
    yb = ydf.selectExpr("row_id", "CASE WHEN y > 0 THEN 'a' ELSE 'b' END AS y")
    # incore_limit=0 forces the distributed regime this test targets (the
    # in-core subset route would otherwise absorb a fixture this small)
    m = sparse_mod.fit_sparse(
        trip, yb, "y", "binomial", n_cols=p, sigma=[5.0],
        screening=False, max_passes=200, incore_limit=0,
    )
    assert np.all(np.isfinite(m.betas))


def test_sparse_pair_volume_guard_falls_back_to_fista(spark, monkeypatch):
    # eval_hessian's triplet self-join ships sum_i nnz_i^2 rows per
    # prox-Newton outer iteration; a design with a few dense rows must
    # route to the trace-bound FISTA fallback even when p itself is small
    # (the HESS_CELL_GUARD would never trigger). prox_newton is poisoned
    # to prove the fallback is the path taken.
    import sys

    sparse_mod = sys.modules["prague_spark.ops.sparse"]
    solver_mod = sys.modules["prague_spark.core.solver"]

    def _boom(*a, **kw):
        raise AssertionError("prox_newton must not run past the pair-volume guard")

    monkeypatch.setattr(solver_mod, "prox_newton", _boom)
    monkeypatch.setattr(sparse_mod, "PAIR_VOLUME_LIMIT", 1_000.0)

    rng = np.random.default_rng(17)
    n, p = 120, 30
    X = np.where(rng.random((n, p)) < 0.1, rng.normal(size=(n, p)), 0.0)
    X[:5, :] = rng.normal(size=(5, p))  # a few dense rows: nnz_i = p
    lp = 3.0 * X[:, 0]
    y = np.where(rng.random(n) < 1.0 / (1.0 + np.exp(-lp)), "pos", "neg")
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), str(y[i])) for i in range(n)], "row_id long, y string"
    )
    m = sparse_mod.fit_sparse(
        trip, ydf, "y", "binomial", n_cols=p, n_sigma=2, lambda_min_ratio=0.5,
        incore_limit=0,  # force the distributed regime this test targets
    )
    assert np.all(np.isfinite(m.betas))
    assert m.diagnostics["pair_volume_ok"] is False
    assert m.diagnostics["hessian_pair_volume"] > 1_000.0


def test_random_sparse_problem_deterministic_and_duplicate_free(spark):
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, beta = random_sparse_problem(
        spark, n=300, p=80, nnz_per_row=6, seed=5
    )
    assert trip.count() == 300 * 6
    assert ydf.count() == 300
    assert trip.groupBy("row_id", "col_id").count().filter("count > 1").count() == 0
    # hash-based draws: identical values regardless of partitioning
    a = {(r["row_id"], r["col_id"]): r["value"] for r in trip.collect()}
    b = {
        (r["row_id"], r["col_id"]): r["value"]
        for r in trip.repartition(7).collect()
    }
    assert a == b
    # planted y is exactly reproducible from the triplets + beta
    import numpy as _np

    lp = {}
    for (r, c), v in a.items():
        lp[r] = lp.get(r, 0.0) + v * beta[c]
    got = {r["row_id"]: r["y"] for r in ydf.collect()}
    resid = _np.array([got[r] - lp.get(r, 0.0) for r in range(300)])
    assert _np.all(_np.isfinite(resid))
    assert abs(float(resid.mean())) < 0.2  # ~N(0, 1/sqrt(300))


def test_random_sparse_problem_multinomial_branch(spark):
    """Round-7 generator extension: the 3-class softmax branch draws all
    classes, is partition-invariant, and the planted +/-beta structure is
    recoverable — c0 rows skew toward positive planted lp, c1 negative."""
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, beta = random_sparse_problem(
        spark, n=600, p=80, nnz_per_row=6, seed=5, family="multinomial",
        amplitude=3.0,
    )
    counts = {r["y"]: r["cnt"] for r in ydf.groupBy("y").agg(
        F.count("*").alias("cnt")).collect()}
    assert set(counts) == {"c0", "c1", "c2"}
    assert min(counts.values()) > 600 * 0.05
    # deterministic across partitionings
    a = {r["row_id"]: r["y"] for r in ydf.collect()}
    b = {r["row_id"]: r["y"] for r in ydf.repartition(7).collect()}
    assert a == b
    # planted structure: recompute lp from triplets + beta; class-mean lp
    # ordering must reflect (lp, -lp, 0) loadings
    lp: dict = {}
    for r in trip.collect():
        lp[r["row_id"]] = lp.get(r["row_id"], 0.0) + r["value"] * beta[r["col_id"]]
    mean_lp = {
        c: np.mean([lp.get(i, 0.0) for i, y in a.items() if y == c])
        for c in ("c0", "c1", "c2")
    }
    assert mean_lp["c0"] > mean_lp["c2"] > mean_lp["c1"]


def test_sparse_bulk_incore_gradient_zero_scans_per_point(spark):
    """The round-13 bulk in-core promotion: when the whole triplet set
    fits the in-core budget, the strong-rule / KKT full gradients run
    driver-side and the fit issues only the fixed setup jobs — scans
    stay CONSTANT in the path length. A budget just under the bulk
    threshold must fall back to the per-column-fetch route with
    identical betas (the gradient is the same numbers, differently
    summed)."""
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=500, p=120, nnz_per_row=8, seed=3
    )
    trip, ydf = trip.cache(), ydf.cache()
    kw = dict(n_cols=120, n_sigma=6, lambda_min_ratio=0.2, gram_limit=8)
    m_bulk = fit_sparse(trip, ydf, "y", "gaussian", **kw)
    # y payload (500*32 = 16 KB) fits, but nnz*36 = 144 KB does not ->
    # per-column fetches + the one-job gradient, same solver routes
    m_cols = fit_sparse(
        trip, ydf, "y", "gaussian", incore_limit=100_000, **kw
    )
    assert m_bulk.diagnostics["incore_subset_fits"]
    assert m_cols.diagnostics["incore_subset_fits"]
    # bulk: count-independent setup scans only (setup agg + head + y +
    # bulk fetch = 4); the per-column route pays >= 1 gradient job per
    # path point on top
    assert m_bulk.diagnostics["sparse_scans"] <= 4
    assert (
        m_cols.diagnostics["sparse_scans"]
        >= m_bulk.diagnostics["sparse_scans"] + m_bulk.n_path - 1
    )
    np.testing.assert_allclose(
        np.asarray(m_bulk.betas), np.asarray(m_cols.betas), atol=1e-7
    )


@pytest.mark.parametrize("family", ["binomial", "multinomial"])
def test_sparse_hessian_prox_newton_matches_dense_incore(spark, family):
    """The round-13 sparse-Hessian route: iterative-family in-core
    subset solves run prox-Newton directly on the COO design (pair-
    expansion X^T W X, SparseLocalDesign.eval_hessian) when that is
    clearly cheaper than densifying. Same algorithm, same tolerances —
    betas must match the dense in-core route, and the sparse Hessian
    must equal the dense _weighted_gram up to summation order."""
    import numpy as np

    from prague_spark.core.families import setup_family
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(23)
    n, p = 300, 40
    X = np.where(rng.random((n, p)) < 0.1, rng.normal(size=(n, p)), 0.0)
    icol = 1.0 / np.sqrt(n)
    Xf = np.hstack([np.full((n, 1), icol), X])
    if family == "binomial":
        yy = (X[:, 0] + rng.normal(scale=0.5, size=n) > 0).astype(float)
        Y = yy
        m = 1
    else:
        s0 = 2.0 * X[:, 0] + rng.normal(scale=0.5, size=n)
        s1 = -2.0 * X[:, 1] + rng.normal(scale=0.5, size=n)
        cls = np.where(s0 > np.maximum(s1, 0), 0, np.where(s1 > 0, 1, 2))
        m = 2
        Y = np.zeros((n, m))
        for t in range(m):
            Y[:, t] = (cls == t).astype(float)
    fam = setup_family(family)
    rows, cols = np.nonzero(X)
    sld = SparseLocalDesign(rows, cols + 1, X[rows, cols], n, p + 1, Y,
                            fam, icol=icol)
    ld = LocalDesign(Xf, Y, fam)
    beta = np.zeros((p + 1, max(m, 1)))
    beta[1] = 0.3
    g_s, G_s, grad_s, H_s = sld.eval_hessian(beta)
    g_d, G_d, grad_d, H_d = ld.eval_hessian(beta)
    assert abs(g_s - g_d) < 1e-10 and abs(G_s - G_d) < 1e-10
    np.testing.assert_allclose(grad_s, grad_d, atol=1e-10)
    np.testing.assert_allclose(H_s, H_d, atol=1e-10)

    # end to end: the route fires on a wide sparse fit and matches the
    # dense in-core route (sparse-Hessian disabled via a tiny Hessian
    # budget is not expressible, so compare against incore_limit=0's
    # distributed prox-Newton instead — same solver family)
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    if family == "binomial":
        trip, ydf, _ = random_sparse_problem(
            spark, n=500, p=120, nnz_per_row=8, seed=3, family="binomial"
        )
        kw = dict(n_cols=120, n_sigma=4, lambda_min_ratio=0.3)
        m1 = fit_sparse(trip, ydf, "y", "binomial", **kw)
        assert m1.diagnostics["subset_fit_routes"]["incore_sparse"] > 0
        assert m1.diagnostics["subset_fit_routes"]["distributed"] == 0
        m2 = fit_sparse(trip, ydf, "y", "binomial", incore_limit=0, **kw)
        np.testing.assert_allclose(m1.betas, m2.betas, atol=5e-4)


def test_sparse_gram_pair_expansion_matches_dense_incore(spark):
    """The r14 gaussian analogue of the r13 sparse Hessian: the in-core
    gaussian subset ADMM needs only Gram sufficient statistics, built by
    SparseLocalDesign.gram() from the cached pair expansion (its values
    are pinned against the dense product in the fast tier,
    test_path_parity), and the wide gaussian fit routed through it must
    agree with the distributed route to solver tolerance."""
    # end to end: the route fires on a wide sparse gaussian fit
    # (incore_sparse solves replace incore_dense; dense-route and
    # distributed-route betas agree to solver tolerance)
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=500, p=120, nnz_per_row=8, seed=3
    )
    trip, ydf = trip.cache(), ydf.cache()
    kw = dict(n_cols=120, n_sigma=4, lambda_min_ratio=0.3, gram_limit=8)
    m1 = fit_sparse(trip, ydf, "y", "gaussian", **kw)
    assert m1.diagnostics["subset_fit_routes"]["incore_sparse"] > 0
    assert m1.diagnostics["subset_fit_routes"]["distributed"] == 0
    m2 = fit_sparse(trip, ydf, "y", "gaussian", incore_limit=0, **kw)
    np.testing.assert_allclose(m1.betas, m2.betas, atol=5e-4)


@pytest.mark.parametrize("family", ["gaussian", "binomial"])
def test_sparse_incore_subset_route_matches_distributed(spark, family):
    # the in-core subset solve (screen -> fetch active columns -> driver
    # prox-Newton) must agree with the fully distributed route to solver
    # tolerance, while issuing far fewer distributed jobs
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=500, p=120, nnz_per_row=8, seed=3, family=family
    )
    trip, ydf = trip.cache(), ydf.cache()
    kw = dict(n_cols=120, n_sigma=4, lambda_min_ratio=0.3, gram_limit=8)
    m1 = fit_sparse(trip, ydf, "y", family, **kw)
    m2 = fit_sparse(trip, ydf, "y", family, incore_limit=0, **kw)
    assert m1.diagnostics["incore_subset_fits"] is True
    assert m2.diagnostics["incore_subset_fits"] is False
    # agreement is to solver stopping tolerance (ADMM tol_rel=1e-4 on the
    # in-core gaussian route vs the distributed prox-Newton), not bitwise
    np.testing.assert_allclose(m1.betas, m2.betas, atol=5e-4)
    assert (
        m1.diagnostics["scans_per_path_point"]
        < m2.diagnostics["scans_per_path_point"]
    )
    assert m1.diagnostics["scans_per_path_point"] <= 4.0


@pytest.mark.parametrize("family", ["poisson", "multinomial"])
def test_sparse_incore_subset_route_matches_distributed_pm(spark, family):
    # the remaining two families through the same in-core subset route
    # (poisson keeps its lgamma constant consistent across routes; the
    # multinomial exercises m > 1 Y payloads and Hessian blocks)
    from prague_spark.ops.sparse import fit_sparse

    rng = np.random.default_rng(31)
    n, p = 400, 60
    X = np.where(rng.random((n, p)) < 0.12, rng.normal(size=(n, p)), 0.0)
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    ).cache()
    if family == "poisson":
        lp = 0.8 * X[:, 0] - 0.5 * X[:, 1]
        y = rng.poisson(np.exp(lp)).astype(float)
        ydf = spark.createDataFrame(
            [(int(i), float(y[i])) for i in range(n)], "row_id long, y double"
        )
    else:
        s0 = 2.0 * X[:, 0] + rng.normal(scale=0.5, size=n)
        s1 = -2.0 * X[:, 1] + rng.normal(scale=0.5, size=n)
        y = np.where(s0 > np.maximum(s1, 0), "a", np.where(s1 > 0, "b", "c"))
        ydf = spark.createDataFrame(
            [(int(i), str(y[i])) for i in range(n)], "row_id long, y string"
        )
    kw = dict(n_cols=p, n_sigma=3, lambda_min_ratio=0.3)
    m1 = fit_sparse(trip, ydf, "y", family, **kw)
    m2 = fit_sparse(trip, ydf, "y", family, incore_limit=0, **kw)
    assert m1.diagnostics["incore_subset_fits"] is True
    assert m2.diagnostics["incore_subset_fits"] is False
    np.testing.assert_allclose(m1.betas, m2.betas, atol=5e-5)
    assert (
        m1.diagnostics["scans_per_path_point"]
        < m2.diagnostics["scans_per_path_point"]
    )
    # absolute budget (the documented <= 8 scans/pt target; measured
    # ~3.4 at the bench configs) — a regression in the subset route's
    # job count fails here, not as a silent bench uptick
    assert m1.diagnostics["scans_per_path_point"] <= 8.0


def test_score_sparse_matches_dense_score(spark):
    # sparse-leg scoring (triplets + y frame) must agree with the dense
    # score of the same data and model, for every shared measure
    from prague_spark.ops.sparse import fit_sparse, score_sparse

    rng = np.random.default_rng(19)
    n, p = 300, 20
    X = np.where(rng.random((n, p)) < 0.2, rng.normal(size=(n, p)), 0.0)
    y = X @ np.r_[2.0, -2.0, np.zeros(p - 2)] + rng.normal(scale=0.3, size=n)
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    ).cache()
    ydf = spark.createDataFrame(
        [(int(i), float(y[i])) for i in range(n)], "row_id long, y double"
    ).cache()
    m = fit_sparse(trip, ydf, "y", "gaussian", n_cols=p, n_sigma=3,
                   lambda_min_ratio=0.3)
    dense = spark.createDataFrame(
        [tuple([float(v) for v in X[i]] + [float(y[i])]) for i in range(n)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y double"]),
    )
    for meas in ("mse", "mae"):
        s_sparse = score_sparse(trip, ydf, m, "y", meas)
        s_dense = ps.score(dense, m, "y", meas)
        assert s_sparse == pytest.approx(s_dense, rel=1e-9), meas

    # binomial: auc + misclass through the same sparse leg
    yb = np.where(X @ np.r_[3.0, np.zeros(p - 1)] > 0, "pos", "neg")
    ybdf = spark.createDataFrame(
        [(int(i), str(yb[i])) for i in range(n)], "row_id long, y string"
    ).cache()
    mb = fit_sparse(trip, ybdf, "y", "binomial", n_cols=p, n_sigma=2,
                    lambda_min_ratio=0.5)
    denseb = spark.createDataFrame(
        [tuple([float(v) for v in X[i]] + [str(yb[i])]) for i in range(n)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y string"]),
    )
    for meas in ("auc", "misclass", "deviance"):
        s_sparse = score_sparse(trip, ybdf, mb, "y", meas)
        s_dense = ps.score(denseb, mb, "y", meas)
        assert s_sparse == pytest.approx(s_dense, rel=1e-9), meas


def test_score_path_sparse_and_cv_fit_sparse(spark):
    # the two-job path scorer must agree with per-point score_sparse, and
    # sparse CV must aggregate into the shared CvResult shape
    from prague_spark.ops.sparse import (
        cv_fit_sparse, fit_sparse, score_path_sparse, score_sparse,
    )
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=600, p=60, nnz_per_row=8, seed=13
    )
    trip, ydf = trip.cache(), ydf.cache()
    m = fit_sparse(trip, ydf, "y", "gaussian", n_cols=60, n_sigma=4,
                   lambda_min_ratio=0.3)
    path_vals = score_path_sparse(trip, ydf, m, "y", ["mse", "mae"])
    for i in range(m.n_path):
        assert path_vals["mse"][i] == pytest.approx(
            score_sparse(trip, ydf, m, "y", "mse", path_idx=i), rel=1e-9
        )
        assert path_vals["mae"][i] == pytest.approx(
            score_sparse(trip, ydf, m, "y", "mae", path_idx=i), rel=1e-9
        )

    res = cv_fit_sparse(trip, ydf, "y", "gaussian", n_cols=60, n_folds=3,
                        measures=["mse"], n_sigma=4, lambda_min_ratio=0.3)
    assert len(res.summary) == 4  # one row per sigma
    assert res.optima[0]["measure"] == "mse"
    assert res.model.n_path == 4
    # each summary row aggregates all 3 folds
    assert all(r["se"] >= 0.0 for r in res.summary)

    # optimum direction mirrors the dense cv_fit: the default warns on
    # auc (reference argmin selects the WORST point), 'best' argmaxes
    yb = ydf.withColumn(
        "yb", F.when(F.col("y") > 0, "hi").otherwise("lo")
    ).drop("y")
    with pytest.warns(UserWarning, match="argmin"):
        rref = cv_fit_sparse(trip, yb, "yb", "binomial", n_cols=60,
                             n_folds=3, measures=["auc"], n_sigma=3,
                             lambda_min_ratio=0.3)
    rbest = cv_fit_sparse(trip, yb, "yb", "binomial", n_cols=60,
                          n_folds=3, measures=["auc"], n_sigma=3,
                          lambda_min_ratio=0.3, optimum="best")
    means = sorted(r["mean"] for r in rbest.summary)
    assert rref.optima[0]["mean"] == means[0]
    assert rbest.optima[0]["mean"] == means[-1]
    with pytest.raises(ValueError, match="optimum"):
        cv_fit_sparse(trip, yb, "yb", "binomial", n_cols=60,
                      measures=["auc"], optimum="bogus")


def test_fit_sparse_rejects_out_of_range_col_ids(spark):
    from prague_spark.ops.sparse import fit_sparse

    ydf = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "row_id long, y double"
    )
    for bad in (-1, 5):
        trip = spark.createDataFrame(
            [(0, bad, 1.0), (1, 2, 1.0)], "row_id long, col_id int, value double"
        )
        with pytest.raises(ValueError, match="col_id"):
            fit_sparse(trip, ydf, "y", "gaussian", n_cols=5, n_sigma=2,
                       lambda_min_ratio=0.5)


def test_score_sparse_multinomial_matches_dense(spark):
    from prague_spark.ops.sparse import fit_sparse, score_sparse

    rng = np.random.default_rng(29)
    n, p = 300, 12
    X = np.where(rng.random((n, p)) < 0.25, rng.normal(size=(n, p)), 0.0)
    s0 = 2.5 * X[:, 0] + rng.normal(scale=0.4, size=n)
    s1 = -2.5 * X[:, 1] + rng.normal(scale=0.4, size=n)
    y = np.where(s0 > np.maximum(s1, 0), "a", np.where(s1 > 0, "b", "c"))
    rows, cols_idx = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows, cols_idx)],
        "row_id long, col_id int, value double",
    ).cache()
    ydf = spark.createDataFrame(
        [(int(i), str(y[i])) for i in range(n)], "row_id long, y string"
    ).cache()
    m = fit_sparse(trip, ydf, "y", "multinomial", n_cols=p, n_sigma=3,
                   lambda_min_ratio=0.3)
    dense = spark.createDataFrame(
        [tuple([float(v) for v in X[i]] + [str(y[i])]) for i in range(n)],
        ", ".join([f"x{j} double" for j in range(p)] + ["y string"]),
    )
    for meas in ("mse", "deviance"):
        s_sp = score_sparse(trip, ydf, m, "y", meas)
        s_de = ps.score(dense, m, "y", meas)
        assert s_sp == pytest.approx(s_de, rel=1e-9), meas


def test_fit_sparse_max_variables_stops_and_guards_dense_tail(spark):
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=800, p=400, nnz_per_row=10, q=0.01, seed=17
    )
    trip, ydf = trip.cache(), ydf.cache()
    # uncapped: deep path activates many columns
    m_full = fit_sparse(trip, ydf, "y", "gaussian", n_cols=400, n_sigma=6,
                        lambda_min_ratio=0.05)
    # capped: path stops once the unique-coef count exceeds the budget
    # (or is abandoned pre-fit when the repair set implies it)
    m_cap = fit_sparse(trip, ydf, "y", "gaussian", n_cols=400, n_sigma=6,
                       lambda_min_ratio=0.05, max_variables=5)
    assert m_cap.n_path < m_full.n_path  # the cap truncated the path
    # every recorded capped point equals the uncapped path prefix
    np.testing.assert_allclose(
        m_cap.betas, m_full.betas[: m_cap.n_path], atol=1e-8
    )


def test_duplicate_triplets_sum_identically_in_both_routes(spark):
    """Duplicate (row_id, col_id) triplets must SUM — and do so identically
    whether the fit runs the in-core subset route (driver NumPy scatter)
    or the distributed joins (groupBy sums them naturally)."""
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=300, p=40, nnz_per_row=8, q=0.05, seed=23
    )
    # duplicate a slice of the triplets (value halved twice = original sum)
    dup = trip.filter(F.col("col_id") % 5 == 0).withColumn(
        "value", F.col("value") / 2.0
    )
    trip_dup = trip.filter(F.col("col_id") % 5 != 0).unionByName(
        dup
    ).unionByName(dup).cache()
    ydf = ydf.cache()
    kw = dict(n_cols=40, n_sigma=4, lambda_min_ratio=0.2, gram_limit=0)
    m_incore = fit_sparse(trip_dup, ydf, "y", "gaussian", **kw)
    m_dist = fit_sparse(trip_dup, ydf, "y", "gaussian", incore_limit=0, **kw)
    assert m_incore.diagnostics["incore_subset_fits"]
    assert not m_dist.diagnostics["incore_subset_fits"]
    np.testing.assert_allclose(m_incore.betas, m_dist.betas, atol=5e-4)


def test_long_to_features_wide_p_scales_smoke(spark):
    """p = 50k scale map: long_to_features must not build p-proportional
    literal expressions (broadcast-join path); analysis + execution stay
    fast and values match value/scale."""
    p = 50_000
    trip = spark.createDataFrame(
        [(0, 7, 3.0), (0, 49_999, 8.0), (1, 123, 5.0)],
        "row_id long, col_id int, value double",
    )
    scales = {j: 2.0 for j in range(p)}
    out = long_to_features(trip, p, scales=scales).collect()
    rows = {r["row_id"]: r["features"] for r in out}
    assert rows[0][7] == pytest.approx(1.5)
    assert rows[0][49_999] == pytest.approx(4.0)
    assert rows[1][123] == pytest.approx(2.5)
    assert rows[1][7] == 0.0


def test_sparse_local_design_matches_dense_local():
    """SparseLocalDesign's O(nnz) matvec callbacks reproduce LocalDesign
    exactly (same entries, same family), incl. duplicate-entry summing
    and the power-iteration eigmax vs the exact eigenvalue."""
    from prague_spark.core.families import setup_family
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(5)
    n, p = 60, 9  # p includes the intercept position 0
    icol = 1.0 / np.sqrt(n)
    nnz = 150
    rows = rng.integers(0, n, nnz)
    cols = rng.integers(1, p, nnz)  # duplicates happen at this density
    vals = rng.standard_normal(nnz)
    for fam_name, Y in (
        ("gaussian", rng.standard_normal(n)),
        ("binomial", np.where(rng.standard_normal(n) > 0, 1.0, -1.0)),
    ):
        fam = setup_family(fam_name)
        X = np.zeros((n, p))
        X[:, 0] = icol
        np.add.at(X, (rows, cols), vals)
        ld = LocalDesign(X, Y, fam)
        sld = SparseLocalDesign(rows, cols, vals, n, p, Y, fam, icol=icol)
        beta = rng.standard_normal((p, 1))
        g_d, G_d, grad_d = ld.eval(beta)
        g_s, G_s, grad_s = sld.eval(beta)
        assert g_s == pytest.approx(g_d)
        assert G_s == pytest.approx(G_d)
        np.testing.assert_allclose(grad_s, grad_d, rtol=1e-12, atol=1e-12)
        assert sld.primal(beta) == pytest.approx(ld.primal(beta))
        np.testing.assert_allclose(
            sld.full_gradient(beta), ld.full_gradient(beta), rtol=1e-12
        )
        eig_exact = float(np.linalg.eigvalsh(X.T @ X).max())
        assert sld.power_eigmax() == pytest.approx(eig_exact, rel=1e-3)


def test_sparse_incore_route_survives_dense_budget_cliff(spark):
    """A budget that admits y but NOT the dense (n x p_act) subset must
    route to the sparse in-core design — and match the unrestricted
    (dense in-core) fit exactly, not fall off to the slow distributed
    trace-bound FISTA."""
    from prague_spark.ops.sparse import fit_sparse
    from prague_spark.ops.synth import random_sparse_problem

    trip, ydf, _ = random_sparse_problem(
        spark, n=400, p=60, nnz_per_row=8, seed=9
    )
    kw = dict(n_cols=60, n_sigma=4, lambda_min_ratio=0.25, gram_limit=0)
    m_dense = fit_sparse(trip, ydf, "y", "gaussian", **kw)
    # y payload = 400*8*4 = 12.8 KB; any >=2-column dense subset adds
    # 400*3*8 ~ 9.6 KB + hessian — breaches 27 KB, sparse nnz stays tiny
    m_sparse = fit_sparse(
        trip, ydf, "y", "gaussian", incore_limit=13_000, **kw
    )
    assert m_sparse.diagnostics["incore_subset_fits"]
    # the point of the test: the SPARSE in-core route actually fired
    assert m_sparse.diagnostics["subset_fit_routes"]["incore_sparse"] > 0
    assert m_sparse.diagnostics["subset_fit_routes"]["distributed"] == 0
    # the sparse route issues no per-iteration scans: same scan count
    # class as in-core (far below the distributed fallback's)
    assert (
        m_sparse.diagnostics["scans_per_path_point"]
        <= m_dense.diagnostics["scans_per_path_point"] + 2
    )
    np.testing.assert_allclose(
        np.asarray(m_sparse.betas), np.asarray(m_dense.betas), atol=2e-4
    )
    trip_b, ydf_b, _ = random_sparse_problem(
        spark, n=400, p=60, nnz_per_row=8, seed=9, family="binomial"
    )
    m_bin_dense = fit_sparse(trip_b, ydf_b, "y", "binomial", **kw)
    m_bin_sparse = fit_sparse(
        trip_b, ydf_b, "y", "binomial", incore_limit=13_000, **kw
    )
    assert m_bin_sparse.diagnostics["subset_fit_routes"]["incore_sparse"] > 0
    np.testing.assert_allclose(
        np.asarray(m_bin_sparse.betas), np.asarray(m_bin_dense.betas),
        atol=2e-3,  # FISTA vs prox-Newton at tol 1e-5: route tolerance
    )


def test_sparse_local_design_multinomial_targets():
    """m > 1 (multinomial m-1 softmax targets): SparseLocalDesign's
    multi-column matvecs and a full FISTA solve on it must match the
    dense LocalDesign exactly."""
    from prague_spark.core.families import setup_family
    from prague_spark.core.lambdas import lambda_sequence
    from prague_spark.core.solver import fista
    from prague_spark.design import LocalDesign, SparseLocalDesign

    rng = np.random.default_rng(17)
    n, p = 80, 7
    icol = 1.0 / np.sqrt(n)
    nnz = 160
    rows = rng.integers(0, n, nnz)
    cols = rng.integers(1, p, nnz)
    vals = rng.standard_normal(nnz)
    fam = setup_family("multinomial")
    # m-1 = 2 one-hot targets for 3 classes
    labels = rng.integers(0, 3, n)
    Y = np.zeros((n, 2))
    for t in range(2):
        Y[:, t] = (labels == t).astype(float)
    X = np.zeros((n, p))
    X[:, 0] = icol
    np.add.at(X, (rows, cols), vals)
    ld = LocalDesign(X, Y, fam)
    sld = SparseLocalDesign(rows, cols, vals, n, p, Y, fam, icol=icol)

    beta = rng.standard_normal((p, 2))
    g_d, G_d, grad_d = ld.eval(beta)
    g_s, G_s, grad_s = sld.eval(beta)
    assert g_s == pytest.approx(g_d) and G_s == pytest.approx(G_d)
    np.testing.assert_allclose(grad_s, grad_d, rtol=1e-12, atol=1e-12)

    lam = lambda_sequence((p - 1) * 2, n, "bh", 0.2) * 0.05
    eig = sld.power_eigmax()
    res_s = fista(sld, np.zeros((p, 2)), lam, n_unpenalized=1,
                  fixed_learning_rate=2.0 / (1.1 * eig))
    res_d = fista(ld, np.zeros((p, 2)), lam, n_unpenalized=1,
                  fixed_learning_rate=2.0 / (1.1 * eig))
    np.testing.assert_allclose(
        res_s.beta.reshape(p, 2), res_d.beta.reshape(p, 2), atol=1e-6
    )


def test_sparse_incore_route_poisson_backtracking(spark):
    """Poisson has no global Lipschitz bound — the sparse in-core route
    must take the backtracking FISTA (fixed rate None) and still match
    the unrestricted dense in-core fit."""
    from prague_spark.ops.sparse import fit_sparse

    rng = np.random.default_rng(31)
    n, p, density = 300, 30, 0.15
    X = np.where(rng.random((n, p)) < density, rng.normal(size=(n, p)), 0.0)
    lam_true = np.exp(0.4 * X[:, 0] - 0.3 * X[:, 1] + 0.2)
    y = rng.poisson(lam_true)
    rows_i, cols_i = np.nonzero(X)
    trip = spark.createDataFrame(
        [(int(r), int(c), float(X[r, c])) for r, c in zip(rows_i, cols_i)],
        "row_id long, col_id int, value double",
    )
    ydf = spark.createDataFrame(
        [(int(i), float(y[i])) for i in range(n)], "row_id long, y double"
    )
    kw = dict(n_cols=30, n_sigma=3, lambda_min_ratio=0.3, gram_limit=0)
    m_dense = fit_sparse(trip, ydf, "y", "poisson", **kw)
    # y payload 300*8*4 = 9.6 KB; small dense subsets breach ~20 KB fast
    # 20 KB: fetch budget (~18 KB y + all-column nnz) fits, but the dense
    # materialization breaches for the 10- and 19-column path points
    m_sparse = fit_sparse(trip, ydf, "y", "poisson", incore_limit=20_000, **kw)
    assert m_sparse.diagnostics["incore_subset_fits"]
    assert m_sparse.diagnostics["subset_fit_routes"]["incore_sparse"] > 0
    np.testing.assert_allclose(
        np.asarray(m_sparse.betas), np.asarray(m_dense.betas), atol=2e-3
    )
