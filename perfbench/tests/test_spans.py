"""Span attribution: deferred materialisation is charged to its producer."""

import types

from spans import ORPHAN, Tracer


class FakeFrame:
    """Stands in for a pyspark DataFrame (the tracer keys on ``_jdf``)."""

    _jdf = None


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _layer_module(clock):
    mod = types.SimpleNamespace()

    def produce():
        clock.t += 1.0  # building the lazy plan is cheap
        return FakeFrame()

    def produce_nested():
        clock.t += 1.0
        return types.SimpleNamespace(coarse=types.SimpleNamespace(edges=FakeFrame()))

    def truncate(df):
        clock.t += 10.0  # materialising runs the producer's jobs
        return FakeFrame()

    mod.produce, mod.produce_nested, mod.truncate = produce, produce_nested, truncate
    return mod


def _tracer(clock):
    return Tracer(clock=clock, cpu_clock=clock)


def test_materialisation_is_a_child_of_its_producer():
    clock = Clock()
    mod = _layer_module(clock)
    tr = _tracer(clock)
    tr.wrap(mod, "produce", "coarsen.contract")
    tr.wrap_materializer(mod, "truncate")
    with tr.span("refine") as refine:
        df = mod.produce()
        clock.t += 2.0
        mod.truncate(df)
    tr.restore()

    produce, mat = (s for s in tr.spans if s is not refine)
    assert mat.parent is produce and mat in produce.children
    assert mat.layer == "coarsen.contract"
    assert mat.name == "coarsen.contract/materialize"
    layers = tr.layers()
    assert layers["coarsen.contract"]["self_s"] == 11.0  # 1 s call + 10 s deferred
    assert layers["coarsen.contract"]["calls"] == 1
    # the deferred work ran while "refine" was innermost, so it is not
    # refine's self time either
    assert layers["refine"]["self_s"] == 2.0
    assert tr.coverage(refine.start, refine.end, [produce, mat]) == 11.0 / 13.0
    assert mod.produce.__name__ == "produce" and not hasattr(mod.produce, "__wrapped__")


def test_nested_results_and_rematerialisation_keep_the_producer():
    clock = Clock()
    mod = _layer_module(clock)
    tr = _tracer(clock)
    tr.wrap(mod, "produce_nested", "coarsen.contract")
    tr.wrap_materializer(mod, "truncate")
    res = mod.produce_nested()
    once = mod.truncate(res.coarse.edges)
    mod.truncate(once)
    producer = tr.spans[0]
    assert [s.parent for s in tr.spans[1:]] == [producer, producer]


def test_untagged_argument_goes_to_the_running_span_or_orphan():
    clock = Clock()
    mod = _layer_module(clock)
    tr = _tracer(clock)
    tr.wrap_materializer(mod, "truncate")
    with tr.span("uncoarsen.refine") as refine:
        mod.truncate(FakeFrame())
    mod.truncate(FakeFrame())
    inside, orphan = tr.spans[1:]
    assert inside.parent is refine and inside.layer == "uncoarsen.refine"
    assert orphan.parent is None and orphan.name == orphan.layer == ORPHAN


def test_hooks_see_the_resumed_span():
    seen = []
    tr = Tracer(
        on_enter=lambda sp: seen.append(("enter", sp.name)),
        on_exit=lambda sp, resumed: seen.append(("exit", sp.name, resumed and resumed.name)),
    )
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert seen == [
        ("enter", "outer"), ("enter", "inner"), ("exit", "inner", "outer"), ("exit", "outer", None)
    ]
