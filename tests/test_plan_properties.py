"""Physical-plan regression tests (SURVEY §4 discipline).

Pins the scale-critical plan properties the round reviews audit by hand:
pruned scans, no accidental nested-loop joins, map-only extraction, no
row-at-a-time Python anywhere. A refactor that silently degrades a plan
(e.g. re-introduces a forced broadcast, un-prunes a scan, or drops the
candidate-filter pushdown) fails here, not at 100 TB.
"""

import re

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


def test_extraction_is_map_only(spark, sf_dir, entrymod):
    """Flagship extraction: single Python stage, no exchange before the
    kernel (the only exchange allowed is the output sort), pruned scan."""
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts

    # other tests cache the transcript plan fragment; a cache hit replaces
    # the parquet scan with InMemoryTableScan and hides ReadSchema
    spark.catalog.clearCache()
    plan = _plan(extract_triples(synth_transcripts(spark, sf_dir)))
    assert len(re.findall(r"\bExchange\b", plan)) == 0, plan
    assert plan.count("MapInPandas") == 1
    # column pruning reaches the parquet scan: only doc_id + text read
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans and all(len(s.split(",")) <= 2 for s in scans), scans


def test_no_nested_loop_joins_anywhere(spark, sf_dir, entrymod):
    """Cartesian/broadcast-nested-loop joins are O(n·m) scans — none of
    the driver queries may contain one (the exact-kNN baseline's bounded
    crossJoin against a LessThan-filtered query side is the one declared
    exception)."""
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, sf_dir))
        if name == "sim_cosine_topk":
            continue  # declared exact-verification baseline, bounded query side
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_no_row_at_a_time_python(spark, sf_dir, entrymod):
    """input_hint bans per-row Python: only Arrow-batched operators
    (MapInPandas / FlatMapGroupsInPandas / ArrowEvalPython) may appear —
    never BatchEvalPython (pickled row-at-a-time UDF)."""
    for name, fn in entrymod.queries().items():
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_dims_broadcast_facts_not(spark, sf_dir, entrymod):
    """Join-strategy sanity on representative queries: small dims
    broadcast; the unbounded entity dictionary is NOT force-broadcast
    (already pinned harder in test_pipeline_entity, re-checked here at
    default conf where AQE may legitimately pick broadcast)."""
    plan = _plan(entrymod.queries()["rel_nation_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2, plan  # supplier + nation
    assert "SortMergeJoin" not in plan, plan


def test_pack_chunks_single_shuffle_no_python(spark, sf_dir, entrymod):
    plan = _plan(entrymod.queries()["train_pack_chunks"](spark, sf_dir))
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    # one shuffle by pack_group + the output sort — nothing else
    assert len(re.findall(r"\bExchange\b", plan)) <= 2, plan


@pytest.mark.parametrize("helper", ["simple_edges", "undirected"])
def test_edge_normal_form_job_budget(spark, helper):
    """Every graph operator starts from one of these helpers, so a job
    added here is a job added to every operator.  The budget is one
    shuffle (the distinct) and one checkpoint: with AQE on, the shuffle's
    map stage runs as a job of its own, so that is two jobs."""
    from json_ld_spark.pipeline import cc

    sc = spark.sparkContext
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("c", "c"), (None, "a")],
        "src string, dst string",
    )
    group = f"edge-normal-form-{helper}"
    sc.setJobGroup(group, helper)
    try:
        getattr(cc, helper)(e)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_canonicalize_job_budget(spark, tmp_path, monkeypatch):
    """The entity layer labels canonical ids with one groupBy and one join
    per pass (block minimum), not the connected-components loop: the loop
    is made to raise, and canonicalize plus a count of nodes and of edges
    over a materialized triples table runs 13 Spark jobs (41 when the
    labels came from the loop)."""
    from json_ld_spark.pipeline import entity
    from json_ld_spark.pipeline.extract import TRIPLE_SCHEMA

    def loop(*_args, **_kwargs):
        raise AssertionError("connected_components is on the entity path")

    monkeypatch.setattr(entity, "connected_components", loop)

    def t(subj, obj):
        return ("c", 0, subj, "http://ex.org/knows", "iri", obj,
                None, None, None, None, None)

    rows = [
        t("http://ex.org/person-1", "http://ex.org/d/person-2"),
        t("http://ex.org/d/person-1", "http://ex.org/person-3"),
        t("http://ex.org/person-2", "http://ex.org/event-9"),
    ]
    path = str(tmp_path / "triples")
    spark.createDataFrame(rows, TRIPLE_SCHEMA).write.parquet(path)
    triples = spark.read.parquet(path)

    sc = spark.sparkContext
    sc.setJobGroup("canonicalize-budget", "canonicalize")
    try:
        _, nodes, edges = entity.canonicalize(triples)
        counts = (nodes.count(), edges.count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts == (4, 3)
    jobs = sc.statusTracker().getJobIdsForGroup("canonicalize-budget")
    assert len(jobs) == 13, len(jobs)


def test_manifest_commit_and_resume_reads_run_no_spark_jobs(spark, tmp_path):
    """The manifest's commits and resume reads are driver-local Arrow I/O:
    on a manifest that already has rows, none of them launches a Spark
    job."""
    from json_ld_spark.pipeline.manifest import ParquetManifest

    sc = spark.sparkContext
    m = ParquetManifest(spark, str(tmp_path / "w"), 4)
    m.commit_bucket("r0", 0, 3, None, snapshot_id="5")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    stats = {"triples_out": 2, "errors": 1, "checksum": "9"}
    assert jobs("manifest-commit", lambda: m.commit_bucket("r1", 1, 4, stats)) == 0
    assert jobs("manifest-committed", m.committed_buckets) == 0
    assert jobs("manifest-pending", m.pending_buckets) == 0
    assert jobs("manifest-pinned", m.pinned_snapshot) == 0
    assert (m.pending_buckets(), m.pinned_snapshot()) == ([2, 3], "5")
    # the job-group probe itself counts: a Spark read of the rows is a job
    assert jobs("manifest-read", lambda: m.read_manifest().collect()) >= 1
