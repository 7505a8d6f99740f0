"""Span arithmetic of the tracer and the layer cover (no Spark needed)."""

import pytest

from kgbench import layers, spans


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.covered([(4, 4), (6, 5)], 0, 10) == 0


def test_layer_cover_is_parent_minus_uncovered_gaps():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    with tr.span("iteration"), tr.span("job"):
        clock.now = 1
        with tr.span("checkpoint.waves"):
            clock.now = 4
            with tr.span("pipeline.run"), tr.span("checkpoint.write"):
                clock.now = 6
            clock.now = 7
        clock.now = 8
        with tr.span("job.curation_write"):
            clock.now = 10
        clock.now = 10.5
    root = tr.spans[0]
    assert [s.name for s in tr.spans if s.name not in layers.LAYER_SPANS] == ["iteration", "job", "pipeline.run"]
    # nested layer spans count once; the catch-all "job" span and the
    # gaps [0, 1], [7, 8], [10, 10.5] between layers do not count
    assert layers.layer_cover(tr, root.start, root.end) == 10.5 - 1 - 1 - 0.5
    assert tr.current is None


def test_repeated_names_accumulate():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    with tr.span("iteration"):
        for _ in range(3):
            with tr.span("w"):
                assert tr.current == "w"
                clock.now += 2
            clock.now += 1
        assert tr.current == "iteration"
    assert tr.total("w") == 6
    assert tr.spans[0].duration == 9


def test_wrap_records_each_call():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)

    def f(x):
        clock.now += x
        return x * 2

    g = tr.wrap(f, "layer.f")
    assert g(3) == 6 and g(1) == 2
    assert g.__wrapped__ is f
    assert [s.name for s in tr.spans] == ["layer.f", "layer.f"]
    assert tr.total("layer.f") == 4


def test_metric_names_and_units_come_from_benchmark_json():
    spec = layers.declared("end_to_end")
    assert spec["setup_s"] == "s"
    values = {k: 1.0 for k in spec}
    assert layers.select("end_to_end", values) == {k: (1.0, u) for k, u in spec.items()}
    del values["setup_s"]
    with pytest.raises(KeyError, match="setup_s"):
        layers.select("end_to_end", values)
