"""Per-layer metrics of a traced run: which library functions are spanned,
and how spans and the Spark event log turn into per-pass numbers."""

from __future__ import annotations

from .tracer import Target, self_times, union_length


def _solver_passes(tracer, model) -> None:
    tracer.count("core.solver.passes", float(sum(model.passes)))


def _fit_sparse_result(tracer, model) -> None:
    _solver_passes(tracer, model)
    tracer.count("ops.sparse.scans", float(model.diagnostics["sparse_scans"]))
    tracer.count("ops.sparse.path_points", float(model.n_path))


def _kkt_result(tracer, violations) -> None:
    tracer.count("core.screening.kkt_violations", float(len(violations) > 0))


LINALG_PASSES = ("gram_xty_pass", "xtx_pass", "gram_xty_pass_keyed",
                 "glm_setup_pass", "xtv_pass")
SOLVERS = ("fista", "prox_newton", "admm_gaussian")

EAGER = (
    ("prague_spark.fit", "fit", "fit.fit", _solver_passes),
    ("prague_spark.ops.cv", "cv_fit", "ops.cv.cv_fit", None),
    ("prague_spark.ops.score", "score", "ops.score.score", None),
    ("prague_spark.ops.score", "score_path_spark", "ops.score.score_path_spark", None),
    ("prague_spark.ops.sparse", "fit_sparse", "ops.sparse.fit_sparse", _fit_sparse_result),
    ("prague_spark.pipeline.curate", "materialize_gates",
     "pipeline.curate.materialize_gates", None),
    ("prague_spark.pipeline.curate", "extend_curation_artifacts",
     "pipeline.curate.extend_curation_artifacts", None),
    ("prague_spark.pipeline.dedup", "extend_content_index",
     "pipeline.dedup.extend_content_index", None),
    ("prague_spark.pipeline.dedup", "extend_minhash_index",
     "pipeline.dedup.extend_minhash_index", None),
    ("prague_spark.pipeline.dedup", "extend_span_index",
     "pipeline.dedup.extend_span_index", None),
    ("prague_spark.pipeline.similarity", "write_ivf_index",
     "pipeline.similarity.write_ivf_index", None),
)
# functions returning an unexecuted DataFrame; the second flag says
# whether the benchmark runs an action on the result inside a step
LAZY = (
    ("prague_spark.pipeline.curate", "gate_shard", "pipeline.curate.gate_shard", False),
    ("prague_spark.pipeline.curate", "select_keepers",
     "pipeline.curate.select_keepers", True),
    ("prague_spark.pipeline.similarity", "assign_ivfpq",
     "pipeline.similarity.assign_ivfpq", True),
    ("prague_spark.pipeline.similarity", "ivfpq_topk",
     "pipeline.similarity.ivfpq_topk", True),
    ("prague_spark.pipeline.similarity", "ivfpq_knn_join",
     "pipeline.similarity.ivfpq_knn_join", True),
    ("prague_spark.ops.sparse", "sparse_xtv", "ops.sparse.sparse_xtv", False),
    ("prague_spark.ops.predict", "predict", "ops.predict.predict", False),
)


def targets() -> list[Target]:
    out = [Target(m, a, n, on_result=hook) for m, a, n, hook in EAGER]
    out += [Target(m, a, n, lazy=True) for m, a, n, _ in LAZY]
    out += [Target("prague_spark.design.linalg", f, f"design.linalg.{f}")
            for f in LINALG_PASSES]
    for mod in ("prague_spark.design", "prague_spark.ops.sparse"):
        for meth in ("full_gradient", "eval_hessian"):
            out.append(Target(mod, meth, f"design.{meth}", method=True))
    out += [Target("prague_spark.core.solver", f, f"core.solver.{f}")
            for f in SOLVERS]
    out += [
        Target("prague_spark.core.prox", "sorted_l1_prox", "core.prox.sorted_l1_prox"),
        Target("prague_spark.core.screening", "kkt_check",
               "core.screening.kkt_check", on_result=_kkt_result),
        Target("prague_spark.core.screening", "strong_rule_active_set",
               "core.screening.strong_rule_active_set"),
        Target("prague_spark.core.gram_path", "fit_gaussian_path_from_stats",
               "core.gram_path.fit_gaussian_path_from_stats"),
    ]
    return out


SPARK = (
    ("spark.jobs", "count", "jobs"), ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"), ("spark.job_s", "s", "job_s"),
    ("spark.executor_run_s", "s", "executor_run_s"),
    ("spark.executor_cpu_s", "s", "executor_cpu_s"),
    ("spark.task_wait_s", "s", "task_wait_s"), ("spark.gc_s", "s", "gc_s"),
    ("spark.shuffle_write_mb", "MB", "shuffle_write_mb"),
    ("spark.shuffle_read_mb", "MB", "shuffle_read_mb"),
    ("spark.fetch_wait_s", "s", "fetch_wait_s"),
    ("spark.spill_mb", "MB", "spill_mb"),
    ("spark.output_mb", "MB", "output_mb"),
    ("spark.output_files", "count", "output_files"),
    ("spark.failed_tasks", "count", "failed_tasks"),
    ("arrow.python_run_s", "s", "python_run_s"),
    ("arrow.worker_start_s", "s", "worker_start_s"),
    ("arrow.to_python_mb", "MB", "to_python_mb"),
)


def metric_units() -> dict:
    """Every per-layer metric name -> (unit, better)."""
    out = {name: (unit, "lower") for name, unit, _ in SPARK}
    out.update({
        "driver.residual_s": ("s", "lower"),
        "driver.numpy_s": ("s", "lower"),
        "driver.plan_glue_s": ("s", "lower"),
    })
    for _m, _a, n, _h in EAGER:
        out[f"{n}.calls"] = ("count", "lower")
        out[f"{n}.s"] = ("s", "lower")
        out[f"{n}.self_s"] = ("s", "lower")
    for _m, _a, n, acted in LAZY:
        out[f"{n}.calls"] = ("count", "lower")
        out[f"{n}.build_s"] = ("s", "lower")
        if acted:
            out[f"{n}.action_s"] = ("s", "lower")
    out.update({
        "design.linalg.passes": ("count", "lower"),
        "design.linalg_s": ("s", "lower"),
        "design.full_gradient.calls": ("count", "lower"),
        "design.full_gradient.s": ("s", "lower"),
        "design.eval_hessian.calls": ("count", "lower"),
        "design.eval_hessian.s": ("s", "lower"),
        "core.solver.calls": ("count", "lower"),
        "core.solver.s": ("s", "lower"),
        "core.solver.self_s": ("s", "lower"),
        "core.solver.passes": ("count", "lower"),
        "core.prox.sorted_l1_prox.calls": ("count", "lower"),
        "core.prox.sorted_l1_prox.s": ("s", "lower"),
        "core.screening.kkt_checks": ("count", "lower"),
        "core.screening.kkt_violation_ratio": ("ratio", "lower"),
        "core.gram_path.s": ("s", "lower"),
        "ops.sparse.scans_per_path_point": ("count", "lower"),
        "session.get_spark_s": ("s", "lower"),
        "check.kkt_infeas_max": ("ratio", "lower"),
        "check.kkt_rel_gap_max": ("ratio", "lower"),
        "trace.overhead_frac": ("ratio", "lower"),
        "trace.coverage_min": ("ratio", "higher"),
        "jvm.peak_rss_mb": ("MB", "lower"),
    })
    return out


def step_metrics(spans, selfs, step_idx: int, job: dict) -> dict:
    """Per-layer numbers of one step span: spans below it plus the
    event-log metrics ``job`` of the Spark jobs submitted inside it."""
    step = spans[step_idx]
    below = _descendants(spans, step_idx)
    m = {name: job[key] for name, _u, key in SPARK}
    wall = step.duration
    m["driver.residual_s"] = wall - job["job_s"]
    m["driver.numpy_s"] = sum(selfs[i] for i in below
                              if spans[i].name.startswith("core."))
    m["driver.plan_glue_s"] = m["driver.residual_s"] - m["driver.numpy_s"]

    def named(name):
        return [i for i in below if spans[i].name == name]

    for _m, _a, n, _h in EAGER:
        ids = named(n)
        m[f"{n}.calls"] = float(len(ids))
        m[f"{n}.s"] = sum(spans[i].duration for i in ids)
        m[f"{n}.self_s"] = sum(selfs[i] for i in ids)
    for _m, _a, n, acted in LAZY:
        ids = named(n + ".build")
        m[f"{n}.calls"] = float(len(ids))
        m[f"{n}.build_s"] = sum(spans[i].duration for i in ids)
        if acted:
            m[f"{n}.action_s"] = sum(spans[i].duration for i in named(n + ".action"))
    linalg = [i for i in below if spans[i].name.startswith("design.linalg.")]
    outer = [i for i in linalg
             if not any(a in linalg for a in _ancestors(spans, i))]
    m["design.linalg.passes"] = float(len(outer))
    m["design.linalg_s"] = union_length([(spans[i].start, spans[i].end)
                                         for i in linalg])
    for meth in ("full_gradient", "eval_hessian"):
        ids = named(f"design.{meth}")
        m[f"design.{meth}.calls"] = float(len(ids))
        m[f"design.{meth}.s"] = sum(spans[i].duration for i in ids)
    solver = [i for i in below if spans[i].name.startswith("core.solver.")]
    m["core.solver.calls"] = float(len(solver))
    m["core.solver.s"] = sum(spans[i].duration for i in solver)
    m["core.solver.self_s"] = sum(selfs[i] for i in solver)
    prox = named("core.prox.sorted_l1_prox")
    m["core.prox.sorted_l1_prox.calls"] = float(len(prox))
    m["core.prox.sorted_l1_prox.s"] = sum(spans[i].duration for i in prox)
    m["core.screening.kkt_checks"] = float(len(named("core.screening.kkt_check")))
    m["core.gram_path.s"] = sum(
        spans[i].duration for i in named("core.gram_path.fit_gaussian_path_from_stats"))
    children = [s for s in spans if s.parent == step_idx]
    covered = union_length([(s.start, s.end) for s in children],
                           step.start, step.end)
    m["coverage"] = covered / wall if wall > 0 else 1.0
    return m


def _ancestors(spans, i):
    p = spans[i].parent
    while p is not None:
        yield p
        p = spans[p].parent


def _descendants(spans, root: int) -> list[int]:
    out = []
    for i in range(len(spans)):
        if any(a == root for a in _ancestors(spans, i)):
            out.append(i)
    return out


def pass_metrics(tracer, steps: list[int], jobs: list[dict]) -> list[dict]:
    """Per-layer numbers of each step span index in ``steps``, with its
    event-log metrics ``jobs`` (same order)."""
    selfs = self_times(tracer.spans)
    return [step_metrics(tracer.spans, selfs, s, j) for s, j in zip(steps, jobs)]
