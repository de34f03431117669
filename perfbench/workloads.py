"""The benchmark's workloads: seeded set-up, one timed iteration, and the
checks of every iteration's output.

Each workload drives only the public API of ``json_ld_spark``.  The
``span`` argument of ``iterate`` is the tracer's span factory in a traced
run and a no-op otherwise; spans sit only around calls that run Spark
actions.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass, field, replace
from typing import Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.contexts import ContextDict
from json_ld_spark.operators.graph import kcore, label_propagation, pagerank_fixed_point
from json_ld_spark.pipeline.entity import canonicalize
from json_ld_spark.pipeline.extract import TRIPLE_SCHEMA, extract_triples
from json_ld_spark.pipeline.job import run_snapshot_pipeline
from json_ld_spark.pipeline.snapshots import ParquetSnapshotStore
from json_ld_spark.pipeline.transcripts import synth_transcripts

import corpus
import oracle

TRIPLE_COLS = [f.name for f in TRIPLE_SCHEMA.fields]

# transcripts are written as this many parquet files: one task per core
# and then some, as a multi-file input table would give
CORPUS_FILES = 8
PAGERANK_ITERS = 3
LPA_ITERS = 2
KCORE_K = 3


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """Row count and the XOR of every row's xxhash64: equal for equal row
    multisets whatever the order (rows here are unique)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def candidate_turns(transcripts: DataFrame) -> DataFrame:
    """The turns that carry documents (the kernel's input), pruned to the
    four columns extraction reads."""
    return transcripts.select("conv_id", "turn_idx", "text", "tool").where(
        F.col("tool").isNotNull() | F.col("text").contains("<jsonld>")
    )


@dataclass
class Inputs:
    dir: str
    store: ParquetSnapshotStore
    n_buckets: int
    triples_path: Optional[str] = None
    extra: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    n_docs: int
    n_entities: int
    iterate: Callable       # (spark, inputs, span, i) -> Result
    check: Callable         # (spark, inputs, results) -> list[str] of failures
    preextract: bool = False  # starts from a pre-extracted triples table
    n_buckets: int = 4        # the job's output buckets

    def scaled(self, scale: int, n_buckets: Optional[int]) -> "Workload":
        """This workload with ``scale`` times the documents and entities,
        and ``n_buckets`` buckets if given."""
        return replace(
            self, n_docs=self.n_docs * scale, n_entities=self.n_entities * scale,
            n_buckets=n_buckets or self.n_buckets,
        )


@dataclass
class Result:
    rows: int               # rows emitted (or, for graph_iter, consumed)
    outputs: tuple          # fingerprints compared across iterations
    written_dir: Optional[str] = None
    written_mb: float = 0.0
    wall: float = 0.0
    counts: dict = field(default_factory=dict)  # per-layer work done, by metric


def setup(spark: SparkSession, w: Workload, d: str, seed: int) -> Inputs:
    """Seeded documents → transcripts → a multi-file snapshot store, plus
    the pre-extracted triples table for workloads that start from one."""
    corpus.write_documents(d, w.n_docs, seed)
    store = ParquetSnapshotStore(spark, os.path.join(d, "store"))
    store.append(
        synth_transcripts(spark, d, n_entities=w.n_entities).repartition(CORPUS_FILES)
    )
    inp = Inputs(d, store, w.n_buckets)
    if w.preextract:
        inp.triples_path = os.path.join(d, "triples")
        extract_triples(store.read()).write.parquet(inp.triples_path)
        inp.extra["input_rows"] = spark.read.parquet(inp.triples_path).count()
    return inp


# ---- references ---------------------------------------------------------

NODE_SCHEMA = "canon_id string, iri string, kind string, n_aliases long"
EDGE_SCHEMA = "src_canon string, pred string, dst_canon string, provenance long"


def reference(spark, inp: Inputs) -> dict:
    """Spark-free references for the corpus in ``inp``, made once: the
    kernel's triples (``oracle.expected_triples``), the entity layer's
    nodes and edges over them (``oracle.canonicalize``), and the
    fingerprints of the three tables."""
    if "reference" not in inp.extra:
        turns = [tuple(r) for r in candidate_turns(inp.store.read()).collect()]
        ctx = ContextDict()
        rows = oracle.expected_triples(turns, ctx.raw, ctx.document_iri)
        nodes, edges = oracle.canonicalize(rows)
        pdf = pd.DataFrame(rows, columns=TRIPLE_COLS).astype({"turn_idx": "int32"})
        inp.extra["reference"] = {
            "edges": edges,
            "triples_fp": fingerprint(spark.createDataFrame(pdf, schema=TRIPLE_SCHEMA)),
            "nodes_fp": fingerprint(spark.createDataFrame(nodes, schema=NODE_SCHEMA)),
            "edges_fp": fingerprint(spark.createDataFrame(edges, schema=EDGE_SCHEMA)),
        }
    return inp.extra["reference"]


# ---- job_full -----------------------------------------------------------

def _job_iterate(spark, inp: Inputs, span, i: int) -> Result:
    wh = os.path.join(inp.dir, f"warehouse{i}")
    with span("job"):
        res = run_snapshot_pipeline(spark, inp.store, wh, n_buckets=inp.n_buckets)
    with span("entity.canonicalize"):
        _, nodes, edges = canonicalize(res.triples)
    with span("entity.write_nodes"):
        nodes.write.parquet(os.path.join(wh, "nodes"))
    with span("entity.write_edges"):
        edges.write.parquet(os.path.join(wh, "edges"))
    with span("check"):
        tri = fingerprint(
            spark.read.parquet(os.path.join(wh, "triples")).select(*TRIPLE_COLS)
        )
        nf = fingerprint(spark.read.parquet(os.path.join(wh, "nodes")))
        ef = fingerprint(spark.read.parquet(os.path.join(wh, "edges")))
    return Result(tri[0], (tri, nf, ef), written_dir=wh,
                  counts={"entity.nodes": nf[0], "entity.edges": ef[0]})


def _job_check(spark, inp: Inputs, results: list[Result]) -> list[str]:
    ref = reference(spark, inp)
    want = (ref["triples_fp"], ref["nodes_fp"], ref["edges_fp"])
    return [
        f"iteration {i}: {name} table {got}, reference {exp}"
        for i, r in enumerate(results)
        for name, got, exp in zip(("triples", "nodes", "edges"), r.outputs, want)
        if got != exp
    ]


def crash_and_resume(spark, inp: Inputs, span, full_dir: str) -> list[str]:
    """Run the job with a crash injected after half the buckets' manifest
    commits, then resume it inside a ``job.resume`` span.  The resumed
    triples table must hold exactly the rows, bucket column included, of
    the uninterrupted run in ``full_dir``."""
    wh = os.path.join(inp.dir, "resumed")
    try:
        run_snapshot_pipeline(
            spark, inp.store, wh, n_buckets=inp.n_buckets,
            fail_after_bucket=inp.n_buckets // 2,
        )
        return ["the injected crash did not happen"]
    except RuntimeError as e:
        if "fault injection" not in str(e):
            raise
    with span("job.resume"):
        run_snapshot_pipeline(spark, inp.store, wh, n_buckets=inp.n_buckets)

    def rows(d):
        return sorted(
            spark.read.parquet(os.path.join(d, "triples")).collect(),
            key=lambda r: tuple("" if v is None else str(v) for v in r),
        )
    if rows(full_dir) != rows(wh):
        return ["resumed triples table differs from the uninterrupted run's"]
    return []


# ---- graph_iter ---------------------------------------------------------

def _graph_edges(spark, inp: Inputs) -> DataFrame:
    _, _, edges = canonicalize(spark.read.parquet(inp.triples_path))
    return edges.select(
        F.col("src_canon").alias("src"), F.col("dst_canon").alias("dst")
    ).localCheckpoint()


def _graph_iterate(spark, inp: Inputs, span, i: int) -> Result:
    with span("entity.canonicalize"):
        e = _graph_edges(spark, inp)
    with span("graph.pagerank"):
        pr = pagerank_fixed_point(e, n_iters=PAGERANK_ITERS)
        fpr = fingerprint(pr)
    with span("graph.label_propagation"):
        lp = label_propagation(e, n_iters=LPA_ITERS)
        flp = fingerprint(lp)
    with span("graph.kcore"):
        kc = kcore(e, k=KCORE_K)
        fkc = fingerprint(kc)
    with span("check"):
        fe = fingerprint(e)
    inp.extra["last"] = (e, pr, lp, kc)
    return Result(inp.extra["input_rows"], (fe, fpr, flp, fkc),
                  counts={"entity.edges": fe[0], "graph.nodes": fpr[0]})


def _graph_check(spark, inp: Inputs, results: list[Result]) -> list[str]:
    """The last iteration's edge list equals the reference entity layer's,
    and its pagerank, label propagation and k-core equal the plain-Python
    mirrors over that reference; every other iteration's fingerprints
    equal the last one's."""
    errs = [
        f"iteration {i}: outputs {r.outputs} differ from the last iteration's"
        for i, r in enumerate(results) if r.outputs != results[-1].outputs
    ]
    e, pr, lp, kc = inp.extra["last"]
    edges = [(s, d) for s, _, d, _ in reference(spark, inp)["edges"]]
    if Counter((r["src"], r["dst"]) for r in e.collect()) != Counter(edges):
        errs.append("canonical edge list differs from the reference entity layer's")
    for name, got, want in (
        ("pagerank", {r["node"]: r["rank"] for r in pr.collect()},
         oracle.pagerank(edges, PAGERANK_ITERS)),
        ("label_propagation", {r["node"]: r["community"] for r in lp.collect()},
         oracle.label_propagation(edges, LPA_ITERS)),
        ("kcore", {r["node"]: r["core_degree"] for r in kc.collect()},
         oracle.kcore(edges, KCORE_K)),
    ):
        if got != want:
            errs.append(f"{name}: {len(got)} nodes differ from the plain-Python mirror")
    return errs


WORKLOADS = {
    w.name: w
    for w in (
        # the production job's shape; hub-skewed entities make it
        # memo-friendly, and one-row manifest commits weigh on it
        Workload("job_full", 2000, 500, _job_iterate, _job_check),
        # bypasses kernel and manifest; bound by the number of stages
        Workload("graph_iter", 2000, 500, _graph_iterate, _graph_check,
                 preextract=True),
    )
}


def remove(path: Optional[str]) -> None:
    if path:
        shutil.rmtree(path, ignore_errors=True)
