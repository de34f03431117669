"""Per-layer measurements of a traced run.

Everything here is measured from outside the pipeline: spans around the
benchmark's own calls and around public methods of the manifest and CC
layers, the ``task_metrics_acc`` hook of ``extract_triples``, Spark's
status store, and Spark-free timings of the public kernel calls.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from json_ld_spark.contexts import ContextDict
from json_ld_spark.kernel import (
    Context,
    ProcessorOptions,
    expand_document,
    expanded_to_triples,
    process_context,
)
from json_ld_spark.pipeline import entity, job, manifest
from json_ld_spark.pipeline.extract import extract_triples, iter_turn_documents

import spans as tracing
from workloads import candidate_turns, fingerprint

# (module or class, attribute, span name) of the public calls wrapped in a
# traced run; the pipeline makes these calls itself, so they are wrapped
# where it looks them up
WRAPPED = (
    (manifest.ParquetManifest, "bucket_stats", "manifest.bucket_stats"),
    (manifest.ParquetManifest, "commit_bucket", "manifest.commit"),
    (manifest.ParquetManifest, "pending_buckets", "manifest.pending"),
    (manifest.ParquetManifest, "pinned_snapshot", "manifest.pending"),
    (manifest.ParquetManifest, "read_triples", "manifest.read"),
    (entity, "connected_components", "cc.connected_components"),
)


# layers whose self stages get scheduler totals in a traced iteration
LAYERS = ("job", "manifest", "entity", "cc", "graph")


class Instrumented:
    """Installs the wrapped calls and routes ``extract_triples`` inside the
    job through the task-metrics accumulator; ``close`` undoes both."""

    def __init__(self, tracer: tracing.Tracer) -> None:
        self.acc = None
        self._restore = [tracer.wrap(o, a, n) for o, a, n in WRAPPED]
        original = job.extract_triples

        def with_metrics(*args, **kwargs):
            return original(*args, task_metrics_acc=self.acc, **kwargs)

        job.extract_triples = with_metrics
        self._restore.append(lambda: setattr(job, "extract_triples", original))

    def close(self) -> None:
        for undo in reversed(self._restore):
            undo()


def task_metrics(samples: list[tuple]) -> dict[str, float]:
    """Memo hit rates and task skew from ``TaskMetricsParam`` samples
    ``(rows, kernel_s, ctx_hits, ctx_misses, doc_hits, doc_misses)``."""
    if not samples:
        return {}
    ctx_h, ctx_m, doc_h, doc_m = (sum(s[k] for s in samples) for k in (2, 3, 4, 5))
    secs = [s[1] for s in samples]
    med = statistics.median(secs)
    return {
        "extract.doc_memo_hit_rate": doc_h / max(doc_h + doc_m, 1),
        "extract.ctx_memo_hit_rate": ctx_h / max(ctx_h + ctx_m, 1),
        "extract.task_skew": max(secs) / med if med > 0 else 0.0,
    }


def iteration_metrics(spans: list[tracing.Span], stages: dict[int, dict],
                      n_jobs: int, cores: int) -> dict[str, float]:
    """Self times per span name, self stages per layer and the scheduler
    totals of one traced iteration (its root span is ``iteration``)."""
    st = tracing.self_times(spans)
    n_commits = sum(1 for s in spans if s.name == "manifest.commit")
    m = {
        "trace.wall_s": spans[0].duration,
        "trace.unattributed_s": st.get("iteration", 0.0),
        "job.extract_write_s": st.get("job", 0.0),
        "manifest.bucket_stats_s": st.get("manifest.bucket_stats", 0.0),
        "manifest.commit_s": st.get("manifest.commit", 0.0),
        "manifest.commits": n_commits,
        "manifest.commit_ms_per_bucket":
            1e3 * st.get("manifest.commit", 0.0) / n_commits if n_commits else 0.0,
        "manifest.read_s": st.get("manifest.read", 0.0),
        "entity.canonicalize_s": st.get("entity.canonicalize", 0.0),
        "entity.write_nodes_s": st.get("entity.write_nodes", 0.0),
        "entity.write_edges_s": st.get("entity.write_edges", 0.0),
        "cc.connected_components_s": st.get("cc.connected_components", 0.0),
        "graph.pagerank_s": st.get("graph.pagerank", 0.0),
        "graph.label_propagation_s": st.get("graph.label_propagation", 0.0),
        "graph.kcore_s": st.get("graph.kcore", 0.0),
        "check.fingerprint_s": st.get("check", 0.0),
    }
    by_layer: dict[str, list[int]] = {}
    layer_s: dict[str, float] = {}
    for name, ids in tracing.self_stage_ids(spans).items():
        layer = name.split(".")[0]
        by_layer.setdefault(layer, []).extend(ids)
        layer_s[layer] = layer_s.get(layer, 0.0) + st[name]
    for layer in LAYERS:
        tot = tracing.stage_totals(stages, by_layer.get(layer, []))
        m[f"{layer}.stages"] = tot["stages"]
        m[f"{layer}.executor_run_s"] = tot["executor_run_s"]
        m[f"{layer}.shuffle_mb"] = tot["shuffle_read_mb"] + tot["shuffle_write_mb"]
        m[f"{layer}.sched_overhead_share"] = overhead_share(
            tot["executor_run_s"], layer_s.get(layer, 0.0), cores
        )
    root = spans[0]
    tot = tracing.stage_totals(stages, list(range(root.stage_lo, root.stage_hi)))
    m.update({f"scheduler.{k}": v for k, v in tot.items()})
    m["scheduler.spark_jobs"] = n_jobs
    m["scheduler.sched_overhead_share"] = overhead_share(
        tot["executor_run_s"], root.duration, cores
    )
    return m


def overhead_share(executor_run_s: float, wall_s: float, cores: int) -> float:
    """1 - executor run time / (wall time x cores): the share of the cores'
    time in a span that no task ran; 0 for a span of no time."""
    return 1.0 - executor_run_s / (wall_s * cores) if wall_s > 0 else 0.0


def span_scheduler(spans: list[tracing.Span], stages: dict[int, dict]) -> list[dict]:
    """Scheduler totals over each span's self stages, by span."""
    return [
        tracing.stage_totals(stages, ids) for ids in tracing.span_self_stage_ids(spans)
    ]


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def extract_ladder(store, reps: int = 3) -> dict[str, float]:
    """Candidate scan, plus an identity ``mapInPandas`` (the Arrow hop both
    ways), plus the kernel: each step forced by the same full-row hash,
    and each layer the difference between consecutive steps."""
    scan = _median_time(lambda: fingerprint(candidate_turns(store.read())), reps)

    def identity(batches):
        yield from batches

    def hop():
        cands = candidate_turns(store.read())
        return fingerprint(cands.mapInPandas(identity, cands.schema))

    hopped = _median_time(hop, reps)
    full = _median_time(lambda: fingerprint(extract_triples(store.read())), reps)
    return {
        "extract.scan_filter_s": scan,
        "extract.arrow_hop_s": hopped - scan,
        "extract.kernel_s": full - hopped,
    }


def payload_sample(store, n_docs: int = 1000) -> list[str]:
    """The first ``n_docs`` raw documents in (conv_id, turn_idx) order."""
    rows = (
        candidate_turns(store.read()).orderBy("conv_id", "turn_idx")
        .limit(n_docs).collect()
    )
    docs = [raw for r in rows for raw in iter_turn_documents(r["text"], r["tool"])]
    return docs[:n_docs]


def kernel_micro(docs: list[str], passes: int = 3) -> dict[str, float]:
    """Microseconds per document spent in each public kernel call, with no
    memo: ``json.loads`` → ``process_context`` → ``expand_document`` →
    ``expanded_to_triples``.  Median over ``passes`` passes."""
    ctx = ContextDict()
    base = ctx.document_iri
    processor = ProcessorOptions(document_iri=base, context_loader=dict(ctx.raw))
    per_pass: list[list[float]] = []
    for _ in range(passes):
        acc = [0.0, 0.0, 0.0, 0.0]
        for raw in docs:
            t0 = time.perf_counter()
            doc = json.loads(raw)
            t1 = time.perf_counter()
            active = process_context(
                processor, Context(base=base), doc.get("@context"), base
            )
            t2 = time.perf_counter()
            expanded = expand_document(
                processor, active, {k: v for k, v in doc.items() if k != "@context"}
            )
            t3 = time.perf_counter()
            expanded_to_triples(expanded)
            t4 = time.perf_counter()
            for k, dt in enumerate((t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
                acc[k] += dt
        per_pass.append([1e6 * a / len(docs) for a in acc])
    names = ("kernel.json_loads_us", "kernel.context_us", "kernel.expand_us",
             "kernel.emit_us")
    return {n: statistics.median(p[k] for p in per_pass) for k, n in enumerate(names)}


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024.0 * 1024.0)

