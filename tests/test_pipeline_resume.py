"""Resume/idempotence + skew tests (FIXTURES.md §5.2-5.3, SURVEY.md §7 M2)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators.skew import repartition_salted, salted_count
from json_ld_spark.pipeline.job import run_extraction_job
from json_ld_spark.pipeline.manifest import MANIFEST_SCHEMA, ParquetManifest
from json_ld_spark.pipeline.transcripts import synth_transcripts


def _sorted_triples(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "conv_id", "turn_idx", "subj", "pred", "obj_kind", "obj_value",
            "obj_type", "obj_lang", "obj_direction", "graph", "error_code",
        ).collect()
    )


def test_resume_idempotent(spark, sf_dir, tmp_path):
    transcripts = synth_transcripts(spark, sf_dir).cache()
    n_buckets = 4

    # uninterrupted baseline
    base = run_extraction_job(
        spark, transcripts, str(tmp_path / "w_base"), n_buckets
    )
    assert base.buckets_processed == n_buckets
    golden = _sorted_triples(base.triples)

    # fault-injected run: dies after exactly 2 manifest commits
    w2 = str(tmp_path / "w_resume")
    with pytest.raises(RuntimeError, match="fault injection"):
        run_extraction_job(
            spark, transcripts, w2, n_buckets, fail_after_bucket=2
        )
    m = ParquetManifest(spark, w2, n_buckets)
    assert len(m.committed_buckets()) == 2  # fail_after_bucket is exact

    # resume: processes only the pending buckets
    resumed = run_extraction_job(spark, transcripts, w2, n_buckets)
    assert resumed.buckets_processed == n_buckets - 2
    assert _sorted_triples(resumed.triples) == golden

    # a third run is a no-op
    noop = run_extraction_job(spark, transcripts, w2, n_buckets)
    assert noop.buckets_processed == 0
    assert _sorted_triples(noop.triples) == golden


def test_empty_buckets_commit_and_resume(spark, sf_dir, tmp_path):
    """Regression: a pending bucket that emits zero rows gets no partition
    directory from the dynamic-partition write — it must still commit its
    manifest row (with zero metrics) or every resume re-crashes on the
    missing path."""
    one_conv = synth_transcripts(spark, sf_dir).where(
        F.col("conv_id") == "conv-00000000"
    )
    w = str(tmp_path / "w_empty")
    res = run_extraction_job(spark, one_conv, w, n_buckets=4)
    assert res.buckets_processed == 4
    m = ParquetManifest(spark, w, 4)
    assert m.pending_buckets() == []
    rows = {r.partition_id: r for r in m.read_manifest().collect()}
    assert len(rows) == 4
    empties = [r for r in rows.values() if r.input_rows == 0]
    assert empties, "fixture conv should leave some buckets empty"
    assert all(r.triples_out == 0 and r.errors == 0 for r in empties)
    # a re-run is a clean no-op
    noop = run_extraction_job(spark, one_conv, w, n_buckets=4)
    assert noop.buckets_processed == 0


def test_manifest_metrics(spark, sf_dir, tmp_path):
    transcripts = synth_transcripts(spark, sf_dir)
    res = run_extraction_job(spark, transcripts, str(tmp_path / "w_m"), 4)
    m = ParquetManifest(spark, str(tmp_path / "w_m"), 4).read_manifest()
    rows = m.collect()
    assert len(rows) == 4
    assert sum(r.input_rows for r in rows) == transcripts.count()
    assert sum(r.triples_out for r in rows) == res.triples.where(
        F.col("error_code").isNull()
    ).count()
    assert all(r.checksum is not None for r in rows)


def test_manifest_dir_holds_only_commits(spark, sf_dir, tmp_path):
    """A commit leaves exactly its bucket_<b>.parquet behind: no temp
    files or directories, no _SUCCESS or .crc side files."""
    run_extraction_job(
        spark, synth_transcripts(spark, sf_dir), str(tmp_path / "w"), 4
    )
    assert sorted(os.listdir(tmp_path / "w" / "manifest")) == [
        f"bucket_{b}.parquet" for b in range(4)
    ]


def test_crash_between_write_and_rename_is_not_a_commit(
    spark, tmp_path, monkeypatch
):
    """A commit that dies after writing its temp file but before the
    rename leaves that bucket pending, and no reader sees the temp row."""
    m = ParquetManifest(spark, str(tmp_path / "w"), 4)
    m.commit_bucket("r1", 0, 5, None, snapshot_id="7")

    def crash(src, dst):
        raise OSError("crash before rename")

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", crash)
        with pytest.raises(OSError, match="crash before rename"):
            m.commit_bucket("r2", 1, 5, None, snapshot_id="99")
    leftovers = set(os.listdir(m.manifest_dir)) - {"bucket_0.parquet"}
    assert len(leftovers) == 1, "the crashed commit should leave its temp file"
    assert m.pending_buckets() == [1, 2, 3]
    assert m.pinned_snapshot() == "7"
    assert [r.partition_id for r in m.read_manifest().collect()] == [0]

    # the temp file alone pins nothing either
    os.remove(os.path.join(m.manifest_dir, "bucket_0.parquet"))
    assert m.pending_buckets() == [0, 1, 2, 3]
    assert m.pinned_snapshot() is None


def _recommit_with_spark_write(spark, m):
    """Rewrite every committed manifest row the way commits were made
    before they moved to Arrow: a one-row Spark write to a temp
    directory, then a rename of its part file (the directory stays)."""
    for path in m._manifest_files():
        row = pq.read_table(path).to_pylist()[0]
        os.remove(path)
        tmp = os.path.join(m.manifest_dir, f"_tmp_bucket_{row['partition_id']}")
        spark.createDataFrame([row], schema=MANIFEST_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(os.path.join(tmp, part), path)


def test_resume_over_spark_written_commits(spark, sf_dir, tmp_path):
    """A warehouse whose first commits were Spark-written resumes with
    the Arrow commits: only the pending buckets run, and read_manifest
    returns the old and the new rows under one schema."""
    transcripts = synth_transcripts(spark, sf_dir).cache()
    w = str(tmp_path / "w")
    with pytest.raises(RuntimeError, match="fault injection"):
        run_extraction_job(spark, transcripts, w, 4, fail_after_bucket=2)
    m = ParquetManifest(spark, w, 4)
    old_rows = {r.partition_id: r for r in m.read_manifest().collect()}
    _recommit_with_spark_write(spark, m)
    assert {r.partition_id: r for r in m.read_manifest().collect()} == old_rows
    pending = m.pending_buckets()
    assert len(pending) == 2

    resumed = run_extraction_job(spark, transcripts, w, 4)
    assert resumed.buckets_processed == 2
    assert m.pending_buckets() == []
    manifest = m.read_manifest()
    schema = spark.createDataFrame([], MANIFEST_SCHEMA).schema
    assert manifest.schema == schema
    # the files agree on their own: inference from any of them gives it too
    assert spark.read.parquet(*m._manifest_files()).schema == schema
    rows = {r.partition_id: r for r in manifest.collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    assert all(rows[b] == old_rows[b] for b in old_rows)
    assert {rows[b].run_id for b in pending} != {r.run_id for r in old_rows.values()}
    assert sum(r.input_rows for r in rows.values()) == transcripts.count()


def test_hot_conv_skew_fixture(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    counts = hot.groupBy("conv_id").count()
    top = counts.orderBy(F.desc("count")).first()
    total = hot.count()
    assert top["conv_id"] == "conv-hot"
    assert top["count"] >= total * 0.4
    # turn_idx stays unique inside the hot conversation
    assert (
        hot.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1).count()
        == 0
    )


def test_salted_count_matches_plain(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    plain = {
        r.conv_id: r.cnt
        for r in hot.groupBy("conv_id").agg(F.count("*").alias("cnt")).collect()
    }
    salted = {
        r.conv_id: r.cnt
        for r in salted_count(
            hot, ["conv_id"], ["turn_idx"], n_salts=8
        ).collect()
    }
    assert salted == plain


def test_repartition_salted_spreads_hot_key(spark, sf_dir):
    hot = synth_transcripts(spark, sf_dir, hot_conv=True)
    df = repartition_salted(hot, "conv_id", "turn_idx", n_partitions=8, n_salts=8)
    per_part = (
        df.where(F.col("conv_id") == "conv-hot")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # the hot conversation spans multiple partitions instead of one straggler
    assert len(per_part) >= 4


def test_salted_extraction_no_straggler(spark, sf_dir):
    """SURVEY §5.2-6: on the hot-conversation fixture, salted repartition
    must erase the single-task straggler the conv_id partitioning creates.
    The hard assertion is on per-task INPUT ROWS (deterministic; kernel cost
    is linear in rows) — wall-clock per task is also collected via the
    accumulator but only sanity-checked, because hypervisor steal bursts on
    this sandbox make time-based 2× assertions flaky."""
    from json_ld_spark.pipeline.extract import TaskMetricsParam, extract_triples

    hot = synth_transcripts(spark, sf_dir, hot_conv=True)

    # unsalted: partitioned by conv_id alone → conv-hot is one straggler task
    acc_u = spark.sparkContext.accumulator([], TaskMetricsParam())
    extract_triples(
        hot.repartition(8, F.col("conv_id")), task_metrics_acc=acc_u
    ).count()
    rows_u = sorted(m[0] for m in acc_u.value)
    median_u = rows_u[len(rows_u) // 2]
    assert rows_u[-1] > 2 * max(median_u, 1), (
        f"fixture should produce a straggler without salting: {rows_u}"
    )

    # salted: (conv_id, salt) spreading bounds every task near the median
    acc_s = spark.sparkContext.accumulator([], TaskMetricsParam())
    extract_triples(
        repartition_salted(hot, "conv_id", "turn_idx", n_partitions=8, n_salts=8),
        task_metrics_acc=acc_s,
    ).count()
    rows_s = sorted(m[0] for m in acc_s.value)
    median_s = rows_s[len(rows_s) // 2]
    assert rows_s[-1] <= 2 * max(median_s, 1), (
        f"salted straggler: max {rows_s[-1]} vs median {median_s} ({rows_s})"
    )
    assert rows_s[-1] * 2 <= rows_u[-1], "salting should at least halve the max task"
    assert all(m[1] >= 0 for m in acc_s.value)

    # memoization hit-rate surface (SURVEY parity with the reference's
    # per-run context cache, src/remote.rs:29-38): the corpus reuses a
    # handful of inline @context blobs, so across all tasks context
    # compiles (misses) must be a tiny fraction of context lookups
    ctx_hits = sum(m[2] for m in acc_s.value)
    ctx_misses = sum(m[3] for m in acc_s.value)
    assert ctx_hits + ctx_misses > 0
    assert ctx_hits / (ctx_hits + ctx_misses) > 0.9, (
        f"context memoization ineffective: {ctx_hits} hits / "
        f"{ctx_misses} misses"
    )


def test_run_full_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """spark-submit entry path: extraction via manifest buckets + entity
    layer; results must equal the direct (non-bucketed) pipeline."""
    from json_ld_spark.pipeline.job import run_full_pipeline
    from json_ld_spark.pipeline.extract import extract_triples
    from json_ld_spark.pipeline.transcripts import synth_transcripts
    from pyspark.sql import functions as F

    res = run_full_pipeline(spark, sf_dir, str(tmp_path / "wh"), n_buckets=4)
    assert res.buckets_processed == 4
    direct = extract_triples(synth_transcripts(spark, sf_dir))
    assert res.triples.count() == direct.count()
    # manifest-backed triples carry an extra `bucket` lineage column
    assert res.triples.select(*direct.columns).exceptAll(direct).count() == 0
    assert res.nodes is not None and res.edges is not None
    assert res.nodes.count() > 0
    # every edge endpoint is a known canonical node
    node_ids = res.nodes.select(F.col("canon_id").alias("src_canon"))
    dangling = res.edges.join(node_ids, "src_canon", "left_anti")
    assert dangling.count() == 0
