"""Tests of the benchmark's own helpers (no Spark session is started).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import corpus  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _span(name, parent, start, end, lo=0, hi=0):
    return spans.Span(name, parent, start, end, lo, hi)


def _tree():
    """iteration [0,10) → job [1,4) → manifest.commit [2,3); check [5,6).
    Stage ids: iteration 0..9, job 2..4, commit 3, check 7."""
    s = [
        _span("iteration", None, 0.0, 10.0, 0, 10),
        _span("job", 0, 1.0, 4.0, 2, 5),
        _span("manifest.commit", 1, 2.0, 3.0, 3, 4),
        _span("check", 0, 5.0, 6.0, 7, 8),
    ]
    s[0].children = [1, 3]
    s[1].children = [2]
    return s


def test_self_times_subtract_children_and_sum_to_root():
    st = spans.self_times(_tree())
    assert st == {"iteration": 6.0, "job": 2.0, "manifest.commit": 1.0, "check": 1.0}
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_times_merge_spans_of_one_name():
    s = _tree()
    s[3].name = "job"
    assert spans.self_times(s)["job"] == 3.0


def test_span_self_stage_ids_by_span():
    assert spans.span_self_stage_ids(_tree()) == [[0, 1, 5, 6, 8, 9], [2, 4], [3], [7]]


def test_self_stage_ids_exclude_child_ranges():
    ids = spans.self_stage_ids(_tree())
    assert ids == {
        "iteration": [0, 1, 5, 6, 8, 9],
        "job": [2, 4],
        "manifest.commit": [3],
        "check": [7],
    }


def test_stage_totals_skip_ids_without_data():
    stage = {f: 0 for f in spans.STAGE_FIELDS}
    stages = {
        1: dict(stage, numTasks=4, executorRunTime=1500, executorCpuTime=5 * 10**8,
                shuffleReadBytes=2 * 1024 * 1024, memoryBytesSpilled=1024 * 1024),
        2: dict(stage, numTasks=1, executorRunTime=500, shuffleWriteBytes=1024 * 1024,
                diskBytesSpilled=1024 * 1024),
    }
    t = spans.stage_totals(stages, [1, 2, 3])
    assert t == {
        "stages": 2, "tasks": 5, "executor_run_s": 2.0, "executor_cpu_s": 0.5,
        "shuffle_read_mb": 2.0, "shuffle_write_mb": 1.0, "spill_mb": 2.0,
    }


def test_tracer_records_nesting_and_stage_ranges():
    counter = iter(range(100))
    t = spans.Tracer(lambda: next(counter))
    with t.span("iteration"):
        with t.span("job"):
            pass
        with pytest.raises(ValueError):
            with t.span("check"):
                raise ValueError("closed anyway")
    root, job, check = t.spans
    assert (root.parent, job.parent, check.parent) == (None, 0, 0)
    assert root.children == [1, 2]
    assert (root.stage_lo, job.stage_lo, job.stage_hi, check.stage_lo,
            check.stage_hi, root.stage_hi) == (0, 1, 2, 3, 4, 5)
    assert check.end >= check.start > 0


def test_tracer_wrap_spans_calls_and_restores():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    t = spans.Tracer(lambda: 0)
    undo = t.wrap(Owner, "work", "layer.work")
    assert Owner.work(1) == 2
    assert [s.name for s in t.spans] == ["layer.work"]
    undo()
    Owner.work(1)
    assert len(t.spans) == 1


def test_summarize_uses_exclusive_quartiles():
    s = stats.summarize([5.0, 1.0, 4.0, 2.0, 3.0])
    assert s == {"median": 3.0, "q1": 1.5, "q3": 4.5, "n": 5}
    assert stats.summarize([2.0]) == {"median": 2.0, "q1": 2.0, "q3": 2.0, "n": 1}
    with pytest.raises(ValueError):
        stats.summarize([])


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 10, 0, 0]
    after = [200, 0, 100, 1600, 0, 0, 0, 60, 0, 0]
    assert stats.steal_share(before, after) == pytest.approx(50 / 1000)
    assert stats.steal_share(before, before) == 0.0


def test_rss_of_this_process_is_positive():
    assert stats.rss_mb([os.getpid()]) > 0
    assert os.getpid() not in stats.descendants(os.getpid())


def test_iteration_metrics_from_spans_and_stages():
    import layers

    stage = {f: 0 for f in spans.STAGE_FIELDS}
    stages = {i: dict(stage, numTasks=1, executorRunTime=1000) for i in range(10)}
    m = layers.iteration_metrics(_tree(), stages, n_jobs=3, cores=4)
    assert m["trace.wall_s"] == 10.0
    assert m["trace.unattributed_s"] == 6.0
    assert m["job.extract_write_s"] == 2.0
    assert (m["manifest.commits"], m["manifest.commit_s"]) == (1, 1.0)
    assert m["manifest.commit_ms_per_bucket"] == 1000.0
    assert (m["job.stages"], m["manifest.stages"], m["graph.stages"]) == (2, 1, 0)
    assert (m["scheduler.stages"], m["scheduler.spark_jobs"]) == (10, 3)
    assert m["scheduler.sched_overhead_share"] == pytest.approx(1 - 10.0 / 40.0)
    # job: self stages 2 and 4 (1 s each) in 2 s of self time on 4 cores
    assert m["job.executor_run_s"] == 2.0
    assert m["job.sched_overhead_share"] == pytest.approx(1 - 2.0 / 8.0)
    assert (m["graph.executor_run_s"], m["graph.sched_overhead_share"]) == (0.0, 0.0)


def test_span_scheduler_uses_each_spans_self_stages():
    import layers

    stage = {f: 0 for f in spans.STAGE_FIELDS}
    stages = {i: dict(stage, numTasks=i) for i in range(10)}
    per_span = layers.span_scheduler(_tree(), stages)
    assert [t["stages"] for t in per_span] == [6, 2, 1, 1]
    assert [t["tasks"] for t in per_span] == [0 + 1 + 5 + 6 + 8 + 9, 2 + 4, 3, 7]


def test_task_metrics():
    import layers

    m = layers.task_metrics([(10, 1.0, 9, 1, 3, 1), (10, 3.0, 10, 0, 1, 3)])
    assert m == {
        "extract.doc_memo_hit_rate": 0.5,
        "extract.ctx_memo_hit_rate": 0.95,
        "extract.task_skew": 1.5,
    }
    assert layers.task_metrics([]) == {}


def test_documents_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    def read(seed, name):
        corpus.write_documents(str(tmp_path / name), 50, seed)
        return pq.read_table(tmp_path / name / "documents.parquet").to_pydict()

    a, b, c = read(1, "a"), read(1, "b"), read(2, "c")
    assert a == b
    assert a["text"] == c["text"]
    assert a["doc_id"] != c["doc_id"]
    assert len(set(c["doc_id"])) == 50


def test_graph_mirrors_on_small_graphs():
    cycle = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "a")]
    ranks = oracle.pagerank(cycle, n_iters=3)
    assert len(set(ranks.values())) == 1
    # triangle a-b-c with a tail c-d: the 2-core drops d
    tail = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    assert oracle.kcore(tail, k=2) == {"a": 2, "b": 2, "c": 2}
    # a star adopts the centre's label, the centre the least leaf label
    star = [("h", "x"), ("h", "y"), ("h", "z")]
    assert oracle.label_propagation(star, n_iters=1) == {
        "h": "x", "x": "h", "y": "h", "z": "h",
    }


def _triple(subj, pred, obj, kind="iri", error=None):
    return ("c", 0, subj, pred, kind, obj, None, None, None, None, error)


def test_canonicalize_mirror():
    ex, d = "http://ex.org/", "http://ex.org/d/"
    rows = [
        _triple(ex + "person-1", ex + "knows", ex + "person-2"),
        _triple(d + "person-1", ex + "knows", ex + "person-2"),
        _triple(ex + "person-1", ex + "name", "Agent 1", kind="literal"),
        # rdf:type edges, blank nodes, W3C ids and quarantined rows make no
        # edge and no entity
        _triple(ex + "person-2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "http://www.w3.org/2002/07/owl#Thing"),
        _triple("_:b0", ex + "knows", ex + "person-1"),
        _triple(ex + "org-9", ex + "knows", ex + "org-9", error="bad"),
    ]
    nodes, edges = oracle.canonicalize(rows)
    # person-1 has two ids in one block: the least is the canonical one
    assert sorted(nodes) == [
        (d + "person-1", d + "person-1", "person", 2),
        (ex + "person-2", ex + "person-2", "person", 1),
    ]
    assert edges == [(d + "person-1", ex + "knows", ex + "person-2", 2)]


def test_expected_triples_quarantine_bad_documents():
    from json_ld_spark.contexts import ContextDict

    ctx = ContextDict()
    rows = oracle.expected_triples(
        [("c", 0, "see <jsonld>{not json</jsonld>", None)], ctx.raw, ctx.document_iri
    )
    assert rows == [("c", 0) + (None,) * 8 + ("loading document failed",)]


def test_benchmark_json_lists_what_run_reports():
    import harness

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(harness.workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER


def test_traced_loop_puts_each_traced_iteration_between_untraced_ones():
    import argparse

    import harness
    import workloads

    calls = []

    def fake(kind):
        def fn(i):
            calls.append(kind)
            return workloads.Result(rows=1, outputs=())
        return fn

    class FakeTracer:
        iterate = staticmethod(fake("traced"))

    args = argparse.Namespace(workload="graph_iter", seed=1, seconds=0.0, trace=1,
                              scale=1, buckets=None)
    bench = harness.Bench(args, HERE)
    done, samples = bench._traced_loop(FakeTracer(), fake("untraced"))
    assert calls == ["traced", "untraced", "traced", "untraced"]
    assert len(done) == 1 and len(samples) == 1
    assert bench.n_iter == 4
