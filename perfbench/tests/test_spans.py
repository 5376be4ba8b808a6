import sys
import types

import pytest

from spans import Span, Tracer, descendants, span_tree_stats


class FakeContext:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


@pytest.fixture
def fake_module():
    mod = types.ModuleType("perfbench_fake_engine")

    def inner(x):
        return x + 1

    def outer(x):
        # looks ``inner`` up on the module at call time, like a caller that
        # imports a function by name and is patched where it looks
        return mod.inner(x) * 2

    class Thing:
        def work(self, x):
            return outer(x)

    mod.inner, mod.outer, mod.Thing = inner, outer, Thing
    sys.modules[mod.__name__] = mod
    yield mod
    del sys.modules[mod.__name__]


TARGETS = (
    ("perfbench_fake_engine", "Thing.work", "layer.work"),
    ("perfbench_fake_engine", "inner", "layer.inner"),
)


def test_wrappers_nest_and_set_the_span_property(fake_module):
    sc = FakeContext()
    tr = Tracer(sc)
    tr.install(TARGETS)
    tr.enabled = True
    assert fake_module.Thing().work(1) == 4
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"layer.work", "layer.inner"}
    assert names["layer.inner"].parent == names["layer.work"].id
    assert names["layer.work"].parent is None
    work, inner = names["layer.work"].id, names["layer.inner"].id
    assert sc.props == [
        ("perfbench.span", str(work)),
        ("perfbench.span", str(inner)),
        ("perfbench.span", str(work)),  # restored to the parent on exit
        ("perfbench.span", None),
    ]


def test_disabled_tracer_records_nothing_and_uninstall_restores(fake_module):
    original = fake_module.inner
    tr = Tracer(FakeContext())
    tr.install(TARGETS)
    assert fake_module.inner is not original
    assert fake_module.Thing().work(1) == 4
    assert tr.spans == []
    tr.uninstall()
    assert fake_module.inner is original


def test_span_closes_when_the_call_raises(fake_module):
    tr = Tracer(FakeContext())
    tr.enabled = True
    with pytest.raises(RuntimeError):
        with tr.span("boom"):
            raise RuntimeError
    assert [s.name for s in tr.spans] == ["boom"]
    assert tr._stack == []


def test_span_tree_stats_self_time():
    spans = [
        Span(1, "batch", None, 0.0, 10.0),
        Span(2, "merge", 1, 1.0, 5.0),
        Span(3, "write", 2, 2.0, 4.0),
        Span(4, "read", 1, 4.0, 6.0),  # overlaps merge on [4, 5]
        Span(5, "batch", None, 20.0, 21.0),
    ]
    st = span_tree_stats(spans)
    assert st["batch"]["calls"] == 2
    assert st["batch"]["busy_s"] == pytest.approx(11.0)
    assert st["batch"]["self_s"] == pytest.approx(5.0 + 1.0)
    assert st["merge"]["self_s"] == pytest.approx(2.0)
    assert descendants(spans)[1] == {1, 2, 3, 4}
    assert descendants(spans)[2] == {2, 3}
