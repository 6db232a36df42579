import threading
import types

import pytest

from spans import Span, Tracer, covered_length, self_times


def test_covered_length_merges_overlaps_and_clips():
    assert covered_length([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered_length([(0, 4), (6, 12)], 2, 10) == pytest.approx(6)
    assert covered_length([], 0, 10) == 0


def test_self_time_counts_concurrent_children_once():
    spans = [
        Span(1, "parent", None, 0.0, 10.0),
        Span(2, "a", 1, 1.0, 5.0),
        Span(3, "b", 1, 2.0, 6.0),  # overlaps a: union 1..6
        Span(4, "c", 1, 8.0, 9.0),
        Span(5, "grandchild", 2, 1.5, 2.5),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - 5 - 1)
    assert own[2] == pytest.approx(4 - 1)
    assert own[5] == pytest.approx(1)


class FakeClock:
    def __init__(self):
        self.t = 0.0
        self.lock = threading.Lock()

    def __call__(self):
        with self.lock:
            return self.t

    def advance(self, dt):
        with self.lock:
            self.t += dt


def test_pool_thread_spans_parent_to_client_span_and_self_time():
    clock = FakeClock()
    tracer = Tracer(clock=clock)
    started = threading.Barrier(3)
    release = threading.Event()

    def commit(name):
        with tracer.span(name):
            started.wait(timeout=5)
            release.wait(timeout=5)

    with tracer.span("run"):
        clock.advance(1)
        workers = [threading.Thread(target=commit, args=(n,)) for n in ("x", "y")]
        for w in workers:
            w.start()
        started.wait(timeout=5)  # both children open concurrently
        clock.advance(4)
        release.set()
        for w in workers:
            w.join(timeout=5)
            assert not w.is_alive()
        clock.advance(2)

    by_name = {s.name: s for s in tracer.spans}
    run = by_name["run"]
    assert by_name["x"].parent == run.id and by_name["y"].parent == run.id
    own = self_times(tracer.spans)
    assert run.duration == pytest.approx(7)
    assert own[run.id] == pytest.approx(3)  # the 4 s both children cover counts once


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("x") as span:
        assert span is None
    assert tracer.spans == []


def test_wrappers_patch_lookup_site_and_unpatch_restores():
    module = types.SimpleNamespace(
        build=lambda df: types.SimpleNamespace(source=df),
        run=lambda x: x * 2,
    )
    originals = (module.build, module.run)
    tracer = Tracer()
    tracer.wrap_factory(module, "build", "layer.build")
    tracer.wrap_call(module, "run", "layer.run")

    source = object()
    tracer.tag(source, "layer.source")
    out = module.build(source)
    assert tracer.tags_of(out) == ("layer.build", "layer.source")
    assert module.run(3) == 6
    assert [s.name for s in tracer.spans] == ["layer.run"]

    tracer.unpatch()
    assert (module.build, module.run) == originals


def test_spans_set_and_restore_spark_local_property():
    calls = []
    sc = types.SimpleNamespace(setLocalProperty=lambda k, v: calls.append((k, v)))
    tracer = Tracer(spark_context=sc)
    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner:
            pass
    assert [v for _, v in calls] == [str(outer.id), str(inner.id), str(outer.id), None]


def test_wall_accounting_splits_pipeline_wall():
    import layers

    spans = [
        Span(1, "pipeline.incremental_add", None, 0.0, 10.0),
        Span(2, "sources.catalog.commit", 1, 1.0, 4.0),
        Span(3, "sources.catalog.commit", 1, 2.0, 5.0),  # concurrent with 2
        Span(4, "operators.delta_link.delta_relink", 1, 6.0, 9.0),
        Span(5, "sources.catalog.commit", 4, 7.0, 8.0),
        Span(6, "plans.queries.lookup_entity", None, 11.0, 12.0),
    ]
    acc = layers.wall_accounting(spans)
    assert acc["pipeline_wall_s"] == pytest.approx(10)
    assert acc["unattributed_s"] == pytest.approx(3)
    assert acc["unattributed_s"] + acc["children_union_s"] == pytest.approx(10)
    assert acc["descendant_self_s"] == pytest.approx(3 + 3 + 2 + 1)


def test_per_layer_metrics_from_spans_and_samples():
    import layers

    spans = [
        Span(1, "pipeline.incremental_add", None, 0.0, 10.0),
        Span(2, "sources.catalog.commit", 1, 1.0, 2.0,
             attrs={"table": "text", "tags": ("operators.extract_text",)}),
        Span(3, "operators.delta_link.delta_relink", 1, 3.0, 9.0),
        Span(4, "sources.catalog.commit", 3, 4.0, 5.0,
             attrs={"table": "id_map", "tags": ("operators.link.id_map",),
                    "bytes": 100, "files": 2}),
        Span(5, "sources.catalog.read", 3, 5.0, 5.5, attrs={"dirs": 3, "deletes": 2}),
    ]
    samples = {"add_touched_entities": [400], "doc_entities": [1600],
               "delta_link.relink_touched": [1.5]}
    out = layers.per_layer(spans, {}, samples, {"pages_extracted": 20})
    assert set(out) == {name for name, _ in layers.PER_LAYER}
    assert out["pipeline.wall_s"] == pytest.approx(10)
    assert out["pipeline.unattributed_s"] == pytest.approx(3)
    assert out["operators.extract_text.busy_s"] == pytest.approx(1)
    assert out["operators.extract_text.pages_per_s"] == pytest.approx(20)
    assert out["operators.link.id_map_s"] == pytest.approx(1)
    assert out["operators.delta_link.relink_s"] == pytest.approx(6)
    assert out["operators.delta_link.touched_ratio"] == pytest.approx(0.25)
    assert out["operators.delta_link.relink_touched_s"] == pytest.approx(1.5)
    assert out["sources.catalog.commits"] == 2
    assert out["sources.catalog.bytes_written"] == 100
    assert out["sources.catalog.read_dirs_max"] == 3
    assert out["sources.catalog.delete_chain_max"] == 2
    assert out["operators.dedup.s"] == 0
