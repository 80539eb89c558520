"""Tracer span tree, self time and alias patching. No Spark needed."""

from __future__ import annotations

import sys
import time
import types

from perfbench.tracer import PACKAGE, Tracer


def _fake_package():
    base = types.ModuleType(f"{PACKAGE}._pb_a")
    other = types.ModuleType(f"{PACKAGE}._pb_b")

    def leaf(x):
        time.sleep(0.02)
        return x + 1

    def outer(x):
        time.sleep(0.01)
        return other.leaf(x) * 2

    base.leaf = leaf
    other.leaf = leaf  # a `from ._pb_a import leaf` alias
    other.outer = outer
    sys.modules[base.__name__] = base
    sys.modules[other.__name__] = other
    return base, other


def test_alias_patching_self_time_and_undo():
    base, other = _fake_package()
    try:
        orig = base.leaf
        t = Tracer()
        t.wrap_function(base, "leaf", "lay")
        t.wrap_function(other, "outer", "top")
        assert other.leaf is base.leaf and other.leaf is not orig
        with t.request("r1"):
            assert other.outer(1) == 4
        outer, leaf = t.named("top.outer")[0], t.named("lay.leaf")[0]
        assert leaf.parent == outer.id and outer.parent is None
        assert leaf.rid == outer.rid == "r1"
        assert abs(outer.self_s - (outer.dur - leaf.dur)) < 1e-9
        by_layer = t.self_time_by_layer()
        assert by_layer["lay"] >= 0.02 and 0.01 <= by_layer["top"] < 0.02 + 0.05
        t.uninstall()
        assert base.leaf is orig and other.leaf is orig
    finally:
        del sys.modules[base.__name__], sys.modules[other.__name__]


def test_methods_and_on_return_hook(tmp_path):
    class Box:
        def put(self, xs):
            return len(xs)

        def _private(self):
            return 0

    t = Tracer()
    t.wrap_methods(Box, "box", on_return={"put": lambda a, k, out: {"n": out}})
    assert Box().put([1, 2, 3]) == 3
    assert Box()._private() == 0
    (s,) = t.spans
    assert s.name == "box.put" and s.extra["n"] == 3
    t.dump(str(tmp_path / "spans.jsonl"))
    assert (tmp_path / "spans.jsonl").read_text().count("\n") == 1
    t.uninstall()
    assert not hasattr(Box.put, "__wrapped__")


def test_span_records_exception_path():
    t = Tracer()
    try:
        with t.span("x.y", "x"):
            raise ValueError("boom")
    except ValueError:
        pass
    assert t.named("x.y") and t._stack() == []
