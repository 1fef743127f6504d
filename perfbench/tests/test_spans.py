"""Span bookkeeping: self time, outermost-only recording, install/undo."""

import pytest

from spans import Tracer, covered, has_ancestor, self_times


class span:
    """Open a span on ``tracer`` for the ``with`` block."""

    def __init__(self, tracer, name):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.s = self.tracer.open(self.name)

    def __exit__(self, *exc):
        self.tracer.close(self.s)


class Clock:
    """A manual clock: each read returns the next scripted time."""

    def __init__(self, times):
        self.times = list(times)

    def __call__(self):
        return self.times.pop(0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2)
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_direct_children_only():
    t = Tracer(clock=Clock([0, 1, 2, 3, 5, 5, 6, 10]))
    with span(t, "root"):           # 0 .. 10
        with span(t, "a"):          # 1 .. 5
            with span(t, "a.x"):    # 2 .. 3
                pass
        with span(t, "b"):          # 5 .. 6
            pass
    by = {s.name: s for s in t.spans}
    st = self_times(t.spans)
    assert st[by["root"].sid] == pytest.approx(10 - 4 - 1)
    assert st[by["a"].sid] == pytest.approx(4 - 1)
    assert st[by["a.x"].sid] == pytest.approx(1)
    index = {s.sid: s for s in t.spans}
    assert has_ancestor(by["a.x"], index, "root") is by["root"]
    assert has_ancestor(by["b"], index, "a") is None


def test_overlapping_children_are_not_double_counted():
    t = Tracer()
    t.spans = []
    from spans import Span

    root = Span(0, "root", 0.0, None, None)
    root.end = 10.0
    kids = []
    for sid, (a, b) in enumerate([(1.0, 4.0), (2.0, 6.0)], start=1):
        k = Span(sid, "k", a, 0, None)
        k.end = b
        kids.append(k)
    assert self_times([root, *kids])[0] == pytest.approx(10 - 5)


class Engine:
    """Recursive compile, like LocalSearchEngine.compile over a query tree."""

    def compile(self, q):
        return [self.compile(c) for c in q.get("kids", [])]


def test_outermost_only_records_one_span_per_tree():
    t = Tracer()
    t.wrap(Engine, "compile", "compile", outermost=True)
    try:
        tree = {"kids": [{"kids": [{}, {}]}, {}]}
        Engine().compile(tree)
        Engine().compile({})
    finally:
        t.uninstall()
    assert [s.name for s in t.spans] == ["compile", "compile"]
    assert Engine.compile.__name__ == "compile" and not hasattr(Engine.compile, "__wrapped__")


def test_every_call_recorded_without_outermost():
    t = Tracer()
    t.wrap(Engine, "compile", "compile")
    try:
        Engine().compile({"kids": [{"kids": [{}]}]})
    finally:
        t.uninstall()
    assert len(t.spans) == 3
    parents = sorted((s.parent is None) for s in t.spans)
    assert parents == [False, False, True]


def test_local_engine_compile_is_wrapped_outermost(monkeypatch):
    """The installed wrapper reaches LocalSearchEngine.compile's own
    recursion through the class attribute and records the outermost call
    only."""
    import layers
    from semadb_spark.plans import local_engine

    lse = local_engine.LocalSearchEngine
    monkeypatch.setattr(lse, "_compile_id", lambda self, q: ("id", q))
    monkeypatch.setattr(lse, "_compile_bool", lambda self, kids, conj: kids)
    eng = object.__new__(lse)
    t = Tracer()
    layers.install(t)
    try:
        t.set_request("r1", shape="tree")
        leaf = {"property": "_id", "string": {"operator": "equals", "value": "x"}}
        eng.compile({"property": "_and", "_and": [
            leaf, {"property": "_or", "_or": [leaf, leaf]}]})
    finally:
        t.uninstall()
    compiles = [s for s in t.spans if s.name == "local_engine.compile"]
    assert len(compiles) == 1
    assert compiles[0].req == "r1" and compiles[0].attrs == {"shape": "tree"}
    assert not hasattr(lse.compile, "__wrapped__")


def test_reinstall_reuses_the_same_wrapper():
    import types

    mod = types.ModuleType("m")
    mod.f = lambda x: x + 1
    t = Tracer()
    t.wrap(mod, "f", "f")
    first = mod.f
    t.uninstall()
    t.wrap(mod, "f", "f")
    assert mod.f is first and mod.f(1) == 2
    t.uninstall()
    assert mod.f is not first


def test_tracer_pickles_to_a_fresh_tracer():
    import pickle

    t = Tracer()
    with span(t, "x"):
        pass
    copy = pickle.loads(pickle.dumps(t))
    assert isinstance(copy, Tracer) and copy.spans == []
