"""The benchmark workloads. Each is one closed loop: this process calls the
library's public API one step at a time, as a user's script does, and
checks every output in NumPy against the inputs it generated.

A workload provides ``load`` (input load and cache), ``build`` (the
one-time artifact or model build over the loaded inputs),
``warmup_passes`` (untimed passes before the measured one, run by
``warmup_pass``) and ``run_pass(runner)``, which runs its steps inside
``runner.step(name)`` blocks and returns the failure messages of its
output checks.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from . import checks, inputs

HERE = os.path.dirname(os.path.abspath(__file__))


def expected(workload: str) -> dict:
    """Values pinned for ``workload`` in expected.json."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)[workload]


# every fit, every path point (checks.slope_optimality): the relative
# duality gap and the dual infeasibility as a share of lambda_1. The
# library's own tol_infeas is 1e-3; its ADMM routes stop on residuals
# and reach up to 5e-3, so the gate is ten times tol_infeas.
GAP_TOL = 1e-2
INFEAS_TOL = 1e-2


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers, without Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive",
                      exclude_invalid_files=True).count_rows()


class Workload:
    name = ""
    steps: tuple = ()
    warmup_passes = 1
    # sizes of the copy the warm-up pass runs on; empty: the warm-up pass
    # runs on the workload itself. JIT, codegen and Python-worker start-up
    # do not depend on the input size, so a small copy warms them cheaply.
    warmup_sizes: dict = {}

    def __init__(self, spark, seed: int, tmp: str, cpus: int):
        self.spark, self.seed, self.tmp, self.cpus = spark, seed, tmp, cpus
        self.ops = 0  # library operations attempted, counted by run_pass
        self.kkt = {"infeas": 0.0, "rel_gap": 0.0}

    @staticmethod
    def cache(df):
        df = df.cache()
        df.count()
        return df

    def build(self) -> None:
        pass

    def warmup_pass(self, runner) -> list[str]:
        if not self.warmup_sizes:
            return self.run_pass(runner)
        w = type(self)(self.spark, self.seed, self.tmp, self.cpus)
        w.__dict__.update(self.warmup_sizes)
        w.generate()
        w.load()
        w.build()
        fails = w.run_pass(runner)
        self.ops += w.ops
        self.kkt = {k: max(v, w.kkt[k]) for k, v in self.kkt.items()}
        return fails

    def _optimality(self, name, model, xt, xmv, n, y) -> list[str]:
        pts = checks.slope_optimality(model, xt, xmv, n, y)
        self.kkt["infeas"] = max(self.kkt["infeas"], max(p["infeas"] for p in pts))
        self.kkt["rel_gap"] = max(self.kkt["rel_gap"], max(p["rel_gap"] for p in pts))
        return checks.slope_kkt(name, pts, GAP_TOL, INFEAS_TOL)


class GlmDense(Workload):
    """Three path fits, scoring and two cross-validations on one cached
    lineitem-shaped frame."""

    name = "glm_dense"
    steps = ("fit", "score", "cv")
    # sf0.1 lineitem has 600 000 rows; a run at that size does not fit the
    # benchmark's run budget (README.md, "Input sizes")
    N_ROWS = 200_000
    warmup_sizes = {"N_ROWS": 20_000}
    FEATURES = ["l_quantity", "l_discount", "l_tax"]
    PRICE = "l_extendedprice"

    def generate(self) -> None:
        self.data = inputs.dense_lineitem(self.seed, self.N_ROWS)
        self.X = np.column_stack([self.data[f] for f in self.FEATURES])

    def load(self) -> None:
        df = self.spark.createDataFrame(pd.DataFrame(self.data))
        self.li = self.cache(df.repartition(self.cpus))

    def run_pass(self, runner) -> list[str]:
        import prague_spark as ps

        li, F_, P = self.li, self.FEATURES, self.PRICE
        with runner.step("fit"):
            g = ps.fit(li, F_, P, "gaussian", n_sigma=20)
            b = ps.fit(li, F_, "flag", "binomial", n_sigma=5,
                       lambda_min_ratio=0.1)
            bs = ps.fit(li, F_, "flag", "binomial", n_sigma=3,
                        lambda_min_ratio=0.1, solver="spark")
        with runner.step("score"):
            mse = ps.score(li, g, P, "mse")
            path = ps.score_path_spark(li, b, "flag", ["auc", "deviance"])
        with runner.step("cv"):
            cvg = ps.cv_fit(li, F_, P, "gaussian", n_folds=3,
                            measures=["mse"], n_sigma=5,
                            lambda_min_ratio=0.01, seed=self.seed)
            cvb = ps.cv_fit(li, F_, "flag", "binomial", n_folds=3,
                            measures=["deviance"], n_sigma=3,
                            lambda_min_ratio=0.1, seed=self.seed)
        self.ops += 7
        return self.check(g, b, bs, mse, path, cvg, cvb)

    def check(self, g, b, bs, mse, path, cvg, cvb) -> list[str]:
        exp = expected(self.name)
        X, n = self.X, self.N_ROWS
        xt, xmv = checks.dense_ops(X)
        price, flag = self.data[self.PRICE], self.data["flag"]
        fails = []
        fails += self._optimality("gaussian fit", g, xt, xmv, n,
                                  checks.encode_response("gaussian", price, None))
        for name, m in (("binomial fit", b), ("binomial spark fit", bs)):
            fails += self._optimality(
                name, m, xt, xmv, n,
                checks.encode_response("binomial", flag, m.class_names))
        fails += checks.pinned_equal(
            "gaussian last-point coefficients (2 significant digits)",
            checks.round_sig(g.betas[-1][:, 0], 2), exp["gaussian_coef_2sig"])
        fails += checks.pinned_equal(
            "binomial last-point intercept, l_quantity, l_discount signs",
            np.sign(b.betas[-1][:3, 0]).tolist(), exp["binomial_coef_sign"])
        scale = float(np.max(np.abs(b.betas)))
        if not (np.isclose(b.sigma[0], bs.sigma[0])
                and np.max(np.abs(b.betas[0] - bs.betas[0])) <= 1e-2 * scale):
            fails.append("binomial in-core and spark-solver paths disagree "
                         "at the first path point")
        # score: the last path slice, recomputed from the coefficients
        pred = g.betas[-1][0, 0] + X @ g.betas[-1][1:, 0]
        fails += checks.close("score mse", mse, float(np.mean((pred - price) ** 2)))
        y2 = (flag == b.class_names[1]).astype(float)
        lp = b.betas[-1][0, 0] + X @ b.betas[-1][1:, 0]
        prob = 1.0 / (1.0 + np.exp(-lp))
        pc = np.clip(prob, 1e-5, 1 - 1e-5)
        dev = float(np.mean(-2.0 * ((1 - y2) * np.log(1 - pc) + y2 * np.log(pc))))
        fails += checks.close("score_path_spark deviance", path["deviance"][-1], dev)
        fails += checks.close("score_path_spark auc", path["auc"][-1],
                              checks.auc(y2, prob))
        if len(path["auc"]) != b.n_path:
            fails.append("score_path_spark: one value per path point expected")
        for name, cv, measure in (("gaussian cv", cvg, "mse"),
                                  ("binomial cv", cvb, "deviance")):
            rows = [r for r in cv.summary if r["measure"] == measure]
            if len(rows) != cv.model.n_path or not all(
                    np.isfinite(r["mean"]) and r["mean"] > 0 for r in rows):
                fails.append(f"{name}: summary rows {len(rows)} for "
                             f"{cv.model.n_path} path points, or a bad mean")
            best = min(rows, key=lambda r: r["mean"]) if rows else None
            if not cv.optima or best is None or cv.optima[0]["sigma_idx"] != best["sigma_idx"]:
                fails.append(f"{name}: optimum is not the argmin of the mean")
        return fails


class GlmSparseWide(Workload):
    """``fit_sparse`` gaussian on one wide long-format design, with the
    path settings of ``bench.py``'s ``fit_sparse_wide`` entry and
    screening off: every path point solves all p columns in-core from one
    cached column fetch. The screened route returns KKT-infeasible points
    on some seeds (README.md, "Known library defect")."""

    name = "glm_sparse_wide"
    steps = ("fit_sparse",)
    N, P, NNZ = 10_000, 5_000, 16
    N_SIGMA, LAMBDA_MIN_RATIO = 5, 0.15

    def generate(self) -> None:
        self.data = inputs.sparse_problem(self.seed, self.N, self.P, self.NNZ)

    def load(self) -> None:
        d = self.data
        trip = self.spark.createDataFrame(pd.DataFrame(
            {"row_id": d["rows"], "col_id": d["cols"], "value": d["vals"]}))
        self.trip = self.cache(trip.repartition(self.cpus))
        self.ydf = self.cache(self.spark.createDataFrame(pd.DataFrame(
            {"row_id": np.arange(self.N, dtype=np.int64), "y": d["y"]})))

    def run_pass(self, runner) -> list[str]:
        import prague_spark as ps

        with runner.step("fit_sparse"):
            m = ps.fit_sparse(self.trip, self.ydf, "y", "gaussian",
                              n_cols=self.P, n_sigma=self.N_SIGMA,
                              lambda_min_ratio=self.LAMBDA_MIN_RATIO,
                              screening=False)
        self.ops += 1
        return self.check(m)

    def check(self, m) -> list[str]:
        exp = expected(self.name)
        d = self.data
        xt, xmv = checks.sparse_ops(d["rows"], d["cols"], d["vals"], self.N, self.P)
        y = checks.encode_response("gaussian", d["y"], None)
        fails = self._optimality("fit_sparse", m, xt, xmv, self.N, y)
        fails += checks.pinned_equal("fit_sparse path points", m.n_path,
                                     exp["path_points"])
        nz = np.flatnonzero(np.any(m.betas[-1][1:] != 0, axis=1))
        found = len(np.intersect1d(nz, d["support"]))
        if found < exp["planted_active_min"]:
            fails.append(f"fit_sparse: {found} planted features active at the "
                         f"last point, fewer than {exp['planted_active_min']}")
        return fails


class CurationSnapshot(Workload):
    """One per-snapshot pass: gate a new shard against frozen artifacts,
    keep the survivors, roll every index forward into a fresh directory."""

    name = "curation_snapshot"
    steps = ("gate", "keep", "extend")
    N_DOCS = 5_000  # sf0.1 documents
    warmup_passes = 0  # the artifact build runs the pass's text operators

    def generate(self) -> None:
        self.docs = inputs.documents(self.seed, self.N_DOCS)
        ids = self.docs["doc_id"]
        self.shard_ids = ids[ids % 5 == self.docs["residue"]]
        self.passes = 0

    def load(self) -> None:
        from pyspark.sql import functions as F

        from prague_spark.pipeline.curate import CurationConfig

        d = self.docs
        pdf = pd.DataFrame({k: d[k] for k in ("doc_id", "text", "lang", "source")})
        pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
        docs = self.cache(self.spark.createDataFrame(pdf).repartition(self.cpus))
        in_shard = F.col("doc_id") % 5 == d["residue"]
        self.corpus = docs.filter(~in_shard)
        self.shard = self.cache(docs.filter(in_shard))
        self.cfg = CurationConfig(span_k=5, lang_col="lang")

    def build(self) -> None:
        from prague_spark.pipeline.curate import build_curation_artifacts

        self.art = os.path.join(self.tmp, "curation")
        build_curation_artifacts(self.corpus, self.art, "doc_id", "text", self.cfg)

    def _rows(self, directory: str) -> dict:
        from prague_spark.pipeline.curate import ARTIFACTS

        return {tier: parquet_rows(os.path.join(directory, sub))
                for tier, sub in ARTIFACTS.items()
                if tier in self.cfg.tiers}

    def run_pass(self, runner) -> list[str]:
        from prague_spark.pipeline import curate

        self.passes += 1
        out_dir = os.path.join(self.tmp, f"curation_next_{self.passes}")
        with runner.step("gate"):
            gates = curate.gate_shard(self.shard, self.art, "doc_id", "text",
                                      self.cfg)
            counts = curate.materialize_gates(gates)
        with runner.step("keep"):
            keepers = curate.select_keepers(self.shard, gates, "doc_id", "text",
                                            max_dup_token_frac=0.5)
            keepers = runner.action("pipeline.curate.select_keepers",
                                    lambda: keepers.localCheckpoint(eager=True))
        with runner.step("extend"):
            written = curate.extend_curation_artifacts(
                keepers, self.art, out_dir, "doc_id", "text", self.cfg)
        self.ops += 4
        kept = [r[0] for r in keepers.select("doc_id").collect()]
        fails = self.check(counts, kept, written, out_dir)
        keepers.unpersist(blocking=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        return fails

    def check(self, counts, kept, written, out_dir) -> list[str]:
        n_shard = len(self.shard_ids)
        fails = []
        for tier in ("exact", "cutoffs"):
            fails += checks.pinned_equal(f"{tier} gate rows", counts.get(tier), n_shard)
        fails += checks.subset("keepers", kept, self.shard_ids)
        copies = set(self.docs["exact_copies"].tolist()) & set(kept)
        if copies:
            fails.append(f"keepers: {len(copies)} exact copies of corpus "
                         "documents were kept")
        if len(set(kept)) != len(kept) or not kept:
            fails.append(f"keepers: {len(kept)} rows, {len(set(kept))} distinct")
        if sorted(written) != sorted(self.cfg.tiers):
            fails.append(f"extend wrote tiers {sorted(written)}")
        if not hasattr(self, "old_rows"):
            self.old_rows = self._rows(self.art)
        new = self._rows(out_dir)
        bands = self.cfg.minhash["bands"]
        want = {"exact": self.old_rows["exact"] + len(kept),
                "minhash": self.old_rows["minhash"] + bands * len(kept),
                "cutoffs": self.old_rows["cutoffs"]}
        for tier, rows in want.items():
            fails += checks.pinned_equal(f"successor {tier} index rows",
                                         new[tier], rows)
        if not new["spans"] >= self.old_rows["spans"]:
            fails.append("successor span index lost rows")
        return fails


class VectorSearch(Workload):
    """IVF-PQ index build over cached embeddings and a batch of queries
    answered by top-k and by the k-NN join."""

    name = "vector_search"
    steps = ("index", "query")
    N_VEC, DIM, CLUSTERS, N_QUERIES, K = 2_000, 64, 16, 8, 10  # sf0.1 embeddings

    def generate(self) -> None:
        self.emb = inputs.embeddings(self.seed, self.N_VEC, self.DIM,
                                     self.CLUSTERS, self.N_QUERIES)
        self.queries = [(int(i), self.emb["vec"][i].tolist())
                        for i in self.emb["query_ids"]]
        self.passes = 0

    def load(self) -> None:
        e = self.emb
        pdf = pd.DataFrame({"vec_id": e["vec_id"], "vec": list(e["vec"])})
        self.vec = self.cache(self.spark.createDataFrame(
            pdf, "vec_id bigint, vec array<double>").repartition(self.cpus))
        self.qdf = self.cache(self.spark.createDataFrame(
            self.queries, "query_id bigint, qvec array<double>"))

    def build(self) -> None:
        from prague_spark.pipeline import similarity

        self.C, self.books = similarity.train_ivfpq(
            self.vec, "vec", n_centroids=8, n_subvectors=8, n_codes=16,
            sample_rows=self.N_VEC, seed=self.seed)

    def run_pass(self, runner) -> list[str]:
        from prague_spark.pipeline import similarity

        self.passes += 1
        out_dir = os.path.join(self.tmp, f"ivf_{self.passes}")
        with runner.step("index"):
            idx = similarity.assign_ivfpq(self.vec, "vec", self.C, self.books)
            idx = runner.action("pipeline.similarity.assign_ivfpq",
                                lambda: idx.localCheckpoint(eager=True))
            similarity.write_ivf_index(self.vec, "vec", self.C, out_dir)
        with runner.step("query"):
            top = similarity.ivfpq_topk(
                idx, "vec_id", self.C, self.books, self.queries, k=self.K,
                nprobe=4, rerank_vec_col="vec", shortlist=100)
            top = runner.action("pipeline.similarity.ivfpq_topk", top.collect)
            knn = similarity.ivfpq_knn_join(
                self.qdf, idx, self.C, self.books, k=self.K, nprobe=4,
                rerank_vec_col="vec", shortlist=100)
            knn = runner.action("pipeline.similarity.ivfpq_knn_join", knn.collect)
        self.ops += 4
        fails = self.check(idx, top, knn, out_dir)
        idx.unpersist(blocking=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        return fails

    def check(self, idx, top, knn, out_dir) -> list[str]:
        qids = self.emb["query_ids"]
        fails = checks.pinned_equal("assigned rows", idx.count(), self.N_VEC)
        fails += checks.pinned_equal(
            "written index rows", parquet_rows(out_dir), self.N_VEC)
        for name, rows in (("ivfpq_topk", top), ("ivfpq_knn_join", knn)):
            fails += checks.topk_rows(
                name, [(r["query_id"], r["vec_id"], r["rank"]) for r in rows],
                qids, self.K)
        return fails


class Composite:
    """Several parts run back to back in one pass, on one session. A
    warm-up pass runs only the parts that warm up."""

    parts: tuple = ()

    def __init__(self, spark, seed: int, tmp: str, cpus: int):
        self.members = [p(spark, seed, tmp, cpus) for p in self.parts]
        self.steps = tuple(s for m in self.members for s in m.steps)
        self.warmup_passes = max(m.warmup_passes for m in self.members)

    @property
    def ops(self) -> int:
        return sum(m.ops for m in self.members)

    @property
    def kkt(self) -> dict:
        return {k: max(m.kkt[k] for m in self.members)
                for k in ("infeas", "rel_gap")}

    def generate(self) -> None:
        for m in self.members:
            m.generate()

    def load(self) -> None:
        for m in self.members:
            m.load()

    def build(self) -> None:
        for m in self.members:
            m.build()

    def run_pass(self, runner, warmup: bool = False) -> list[str]:
        if warmup:
            return [f for m in self.members if m.warmup_passes
                    for f in m.warmup_pass(runner)]
        return [f for m in self.members for f in m.run_pass(runner)]


class Glm(Composite):
    name = "glm"
    parts = (GlmDense, GlmSparseWide)


class Pipeline(Composite):
    name = "pipeline"
    parts = (CurationSnapshot, VectorSearch)


WORKLOADS = {w.name: w for w in (Glm, Pipeline)}
