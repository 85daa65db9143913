import sys
import types

import pytest

from perfbench.tracer import Span, Target, Tracer, install, self_times, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([]) == 0.0
    assert union_length([(3, 3), (4, 2)]) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("step", 0.0, 10.0),
        Span("fit", 1.0, 7.0, parent=0),
        Span("solver", 2.0, 4.0, parent=1),
        Span("prox", 3.0, 5.0, parent=1),  # overlaps solver: a pool thread
        Span("score", 8.0, 9.0, parent=0),
    ]
    assert self_times(spans) == pytest.approx([3.0, 3.0, 2.0, 2.0, 1.0])


def test_child_spilling_past_its_parent_is_clipped():
    spans = [Span("a", 0.0, 2.0), Span("b", 1.0, 5.0, parent=0)]
    assert self_times(spans) == pytest.approx([1.0, 4.0])


def test_install_wraps_every_binding_and_uninstall_restores(monkeypatch):
    core = types.ModuleType("fakepkg.core")
    user = types.ModuleType("fakepkg.user")

    def kkt(x):
        return [x] if x else []

    core.kkt = kkt
    user.kkt = kkt  # a `from .core import kkt` copy made at import time

    def call_time_import(x):
        return sys.modules["fakepkg.core"].kkt(x)

    user.run = call_time_import

    class Design:
        def grad(self):
            return 1

    core.Design = Design
    Design.__module__ = "fakepkg.core"
    monkeypatch.setitem(sys.modules, "fakepkg", types.ModuleType("fakepkg"))
    monkeypatch.setitem(sys.modules, "fakepkg.core", core)
    monkeypatch.setitem(sys.modules, "fakepkg.user", user)

    seen = []
    tracer = Tracer()
    patches = install(tracer, [
        Target("fakepkg.core", "kkt", "core.kkt",
               on_result=lambda t, r: seen.append(len(r))),
        Target("fakepkg.core", "grad", "design.grad", method=True),
    ], package="fakepkg")
    with tracer.span("step.fit"):
        user.kkt(1)
        user.run(0)
        Design().grad()
    names = [s.name for s in tracer.spans]
    assert names == ["step.fit", "core.kkt", "core.kkt", "design.grad"]
    assert all(s.parent == 0 for s in tracer.spans[1:])
    assert seen == [1, 0]
    patches.uninstall()
    assert core.kkt is kkt and user.kkt is kkt
    assert Design.__dict__["grad"].__name__ == "grad"
    assert not hasattr(Design.__dict__["grad"], "__perfbench_wrapped__")


def test_lazy_target_spans_build_only():
    mod = types.ModuleType("lazypkg")
    mod.make = lambda: "frame"
    sys.modules["lazypkg"] = mod
    try:
        tracer = Tracer()
        patches = install(tracer, [Target("lazypkg", "make", "ops.make", lazy=True)],
                          package="lazypkg")
        assert mod.make() == "frame"
        patches.uninstall()
    finally:
        del sys.modules["lazypkg"]
    assert [s.name for s in tracer.spans] == ["ops.make.build"]


def test_pool_thread_span_parents_to_the_driving_thread():
    import threading

    tracer = Tracer()
    with tracer.span("step.extend"):
        t = threading.Thread(target=lambda: tracer.close(tracer.open("dedup.extend")))
        t.start()
        t.join()
    assert tracer.spans[1].parent == 0
