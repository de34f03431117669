"""The measurement loop behind ``run.py``: Spark session, seeded set-up,
closed-loop iterations, the traced run, checks and the result line."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import time
from pathlib import Path

from json_ld_spark.pipeline.extract import TaskMetricsParam
from json_ld_spark.session import get_spark

import layers
import spans
import stats
import workloads

HERE = Path(__file__).resolve().parent
CORES = 4
# the driver JVM's heap, passed as the program's ``SPARK_DRIVER_MEM`` and
# committed and touched at start.  1 GB holds the job; under the program's
# 8 GB default the collector grows the heap to 1.5-3 GB, and peak RSS then
# follows its sizing rather than the job (see README.md)
DRIVER_MEM = "1g"
SETUP_REPS = 3

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.data_s": "s",
    "extract.scan_filter_s": "s",
    "extract.arrow_hop_s": "s",
    "extract.kernel_s": "s",
    "extract.doc_memo_hit_rate": "ratio",
    "extract.ctx_memo_hit_rate": "ratio",
    "extract.task_skew": "ratio",
    "kernel.json_loads_us": "us",
    "kernel.context_us": "us",
    "kernel.expand_us": "us",
    "kernel.emit_us": "us",
    "job.extract_write_s": "s",
    "job.written_mb": "MB",
    "job.resume_s": "s",
    "job.stages": "count",
    "manifest.bucket_stats_s": "s",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "manifest.commit_ms_per_bucket": "ms",
    "manifest.pending_s": "s",
    "manifest.read_s": "s",
    "manifest.stages": "count",
    "entity.canonicalize_s": "s",
    "entity.write_nodes_s": "s",
    "entity.write_edges_s": "s",
    "entity.stages": "count",
    "entity.nodes": "count",
    "entity.edges": "count",
    "cc.connected_components_s": "s",
    "cc.stages": "count",
    "graph.pagerank_s": "s",
    "graph.label_propagation_s": "s",
    "graph.kcore_s": "s",
    "graph.stages": "count",
    "graph.nodes": "count",
    "check.fingerprint_s": "s",
    "scheduler.spark_jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.executor_run_s": "s",
    "scheduler.executor_cpu_s": "s",
    "scheduler.shuffle_read_mb": "MB",
    "scheduler.shuffle_write_mb": "MB",
    "scheduler.spill_mb": "MB",
    "scheduler.sched_overhead_share": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.warm_wall_s": "s",
    "jvm.heap_peak_mb": "MB",
    "host.cpu_steal_share": "ratio",
}
# scheduler totals over each layer's self stages
PER_LAYER.update({
    f"{layer}.{k}": u
    for layer in layers.LAYERS
    for k, u in (("executor_run_s", "s"), ("shuffle_mb", "MB"),
                 ("sched_overhead_share", "ratio"))
})


class Ops:
    """Counts attempted and failed operations: iterations and checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.errors: list[str] = []

    def run(self, what: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.errors.append(f"{what}: {type(e).__name__}: {e}")
            return None

    def check(self, what: str, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.errors.append(f"{what}: " + "; ".join(failures))


class Bench:
    """One run of one workload: Spark start, set-up, the measured loop and
    the checks; ``run`` returns the result line's object."""

    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        self.args = args
        self.work = work
        self.w = workloads.WORKLOADS[args.workload].scaled(args.scale, args.buckets)
        self.ops = Ops()
        self.results: list = []
        self.n_iter = 0

    # -- iterations -----------------------------------------------------

    def iterate(self, fn):
        """Run ``fn(i)`` as iteration ``i``; returns its result with the
        wall time set, or None if it failed."""

        i = self.n_iter
        self.n_iter += 1
        t0 = time.perf_counter()
        res = self.ops.run(f"iteration {i}", lambda: fn(i))
        wall = time.perf_counter() - t0
        if res is None:
            return None
        if res.written_dir:
            res.written_mb = layers.dir_mb(res.written_dir)
            if self.results and self.results[-1].written_dir:
                workloads.remove(self.results[-1].written_dir)
        res.wall = wall
        self.results.append(res)
        return res

    def loop(self, seconds: float, fn) -> list:
        """Closed loop: the next iteration starts when the last one ends,
        until ``seconds`` have passed (at least one iteration).  Returns
        the results of the iterations that succeeded."""
        done = []
        deadline = time.perf_counter() + seconds
        while not self.n_iter or time.perf_counter() < deadline:
            res = self.iterate(fn)
            if res is not None:
                done.append(res)
        return done

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        cpu0 = stats.cpu_times()
        with stats.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{CORES}]",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # keep every stage of a traced iteration in the status store
                    "spark.ui.retainedStages": "100000",
                    "spark.ui.retainedJobs": "100000",
                    "spark.sql.warehouse.dir": str(self.work / "spark-warehouse"),
                    # the heap is committed and touched up front, so peak
                    # RSS does not depend on when the collector grew it
                    "spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
                },
            )
            gateway = spark.sparkContext._gateway
            try:
                spark.sparkContext.setLogLevel("ERROR")
                _warm_workers(spark)
                self.session_s = time.perf_counter() - t0
                metrics = self._measure(spark)
                metrics["jvm.heap_peak_mb"] = stats.heap_peak_mb(spark.sparkContext._jvm)
                self.peak_rss_mb = rss.peak_mb
            finally:
                spark.stop()
                _stop_jvm(gateway)
        self.steal = stats.steal_share(cpu0, stats.cpu_times())
        if self.args.trace:
            metrics["host.cpu_steal_share"] = self.steal
            table = {k: (metrics.get(k, 0.0), u) for k, u in PER_LAYER.items()}
        else:
            metrics["peak_rss_mb"] = self.peak_rss_mb
            table = {k: (metrics[k], u) for k, u in END_TO_END.items()}
        self._summary(metrics)
        return {
            "correct": not self.ops.errors,
            "attempted": self.ops.attempted,
            "failed": len(self.ops.errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in table.items()},
        }

    def _measure(self, spark) -> dict:
        setup_times = []
        inp = None
        # a traced run sets up once: it reports no setup_s
        for k in range(1 if self.args.trace else SETUP_REPS):
            if inp is not None:
                workloads.remove(inp.dir)
            t = time.perf_counter()
            inp = workloads.setup(spark, self.w, str(self.work / f"setup{k}"), self.args.seed)
            setup_times.append(time.perf_counter() - t)

        def untraced(i):
            return self.w.iterate(spark, inp, spans.no_span, i)

        if self.args.trace:
            tracer = Traced(spark, self.w, inp)
            done, samples = self._traced_loop(tracer, untraced)
        else:
            done = self.loop(self.args.seconds, untraced)
        if not done:
            raise RuntimeError("no iteration succeeded: " + "; ".join(self.ops.errors))
        self.walls = [r.wall for r in done]
        data_s = statistics.median(setup_times)
        m = {
            "wall_s": statistics.median(self.walls),
            "triples_per_s": statistics.median(r.rows / r.wall for r in done),
            "setup_s": self.session_s + data_s,
            "session.start_s": self.session_s,
            "setup.data_s": data_s,
        }
        written = [r.written_mb for r in done if r.written_dir]
        if written:
            m["job.written_mb"] = statistics.median(written)
        if self.args.trace:
            m.update(done[0].counts)
            m.update(tracer.metrics(samples))
            m.update(self._extras(spark, inp, tracer))
            tracer.dump(HERE / "_out" / f"trace-{self.w.name}-{self.args.seed}.json")
        self.ops.check("outputs", self.w.check(spark, inp, self.results))
        return m

    def _traced_loop(self, tracer: "Traced", untraced):
        """The traced run's iterations.  The first is traced and cold, as
        the one iteration of an untraced run is; its spans give the
        per-layer table.  Then warm iterations alternate, untraced first,
        until ``--seconds`` have passed and at least one traced iteration
        sits between two untraced ones.  Each such traced wall time minus
        the mean of its two neighbours' is one sample of the tracing
        overhead: iterations keep getting faster (JIT, the workers' memo
        caches), and the mean cancels a steady speed-up.  Returns the
        first iteration's result (in a list) and ``(overhead, untraced
        mean)`` samples."""
        first = self.iterate(tracer.iterate)
        if first is None:
            return [], []
        samples = []
        before = self.iterate(untraced)
        deadline = time.perf_counter() + self.args.seconds
        while True:
            t = self.iterate(tracer.iterate)
            after = self.iterate(untraced)
            if before is not None and t is not None and after is not None:
                mean = (before.wall + after.wall) / 2
                samples.append((t.wall - mean, mean))
            before = after
            if time.perf_counter() >= deadline:
                return [first], samples

    def _extras(self, spark, inp, tracer: "Traced") -> dict:
        """Per-layer measurements made once, after the loop."""
        out: dict = {}
        if not self.w.preextract:  # the iteration runs the extraction kernel
            out.update(layers.extract_ladder(inp.store))
            out.update(layers.kernel_micro(layers.payload_sample(inp.store)))
        if self.w.name == "job_full" and self.results:
            t = tracer.tracer
            t.spans = []
            tracer.instrument()
            try:
                self.ops.check("resume", workloads.crash_and_resume(
                    spark, inp, t.span, self.results[-1].written_dir
                ))
            finally:
                tracer.close()
            resumed = [i for i, s in enumerate(t.spans) if s.name == "job.resume"]
            if resumed:
                out["job.resume_s"] = t.spans[resumed[0]].duration
                out["manifest.pending_s"] = sum(
                    s.duration for s in t.spans
                    if s.name == "manifest.pending" and s.parent == resumed[0]
                )
            tracer.resume_spans = t.spans
        return out

    def _summary(self, m: dict) -> None:
        s = stats.summarize(self.walls)
        print(
            f"# {self.w.name} seed={self.args.seed} trace={self.args.trace}"
            f" docs={self.w.n_docs} buckets={self.w.n_buckets}"
            f" wall_s median={s['median']:.4f} q1={s['q1']:.4f} q3={s['q3']:.4f}"
            f" n={s['n']}"
        )
        for k in ("triples_per_s", "setup_s", "peak_rss_mb", "job.written_mb",
                  "job.resume_s", "jvm.heap_peak_mb", "trace.wall_s",
                  "trace.overhead_s", "trace.warm_wall_s", "trace.unattributed_s"):
            if k in m:
                print(f"# {k}={m[k]:.4f}")
        print(
            f"# failed_ops_share={len(self.ops.errors)}/{self.ops.attempted}"
            f" cpu_steal_share={self.steal:.4f}"
        )
        for e in self.ops.errors:
            print(f"# FAILED {e}")


class Traced:
    """The traced iteration: spans around the workload's calls and the
    wrapped pipeline calls, the task-metrics accumulator, and the Spark
    job and stage ids each iteration used."""

    def __init__(self, spark, w, inp) -> None:
        self.spark, self.w, self.inp = spark, w, inp
        self.stages = spans.SparkStages(spark.sparkContext)
        self.tracer = spans.Tracer(self.stages.next_stage_id)
        self.saved: list[tuple] = []   # (spans, accumulator, spark jobs)
        self.resume_spans: list[spans.Span] = []
        self.per_iter: list[dict] = []
        self.span_sched: list[list[dict]] = []
        self.inst = None

    def instrument(self) -> None:
        if self.inst is None:
            self.inst = layers.Instrumented(self.tracer)

    def close(self) -> None:
        if self.inst is not None:
            self.inst.close()
            self.inst = None

    def iterate(self, i: int):
        self.instrument()
        try:
            self.tracer.spans = []
            acc = self.inst.acc = self.spark.sparkContext.accumulator(
                [], TaskMetricsParam()
            )
            job0 = self.stages.next_job_id()
            with self.tracer.span("iteration"):
                res = self.w.iterate(self.spark, self.inp, self.tracer.span, i)
            self.saved.append((self.tracer.spans, acc, self.stages.next_job_id() - job0))
            return res
        finally:
            self.close()

    def metrics(self, samples: list[tuple]) -> dict:
        """Per-layer metrics of the first traced iteration, and the medians
        of the ``(overhead, warm untraced wall)`` samples."""
        for sp, acc, n_jobs in self.saved:
            done = self.stages.completed(sp[0].stage_lo, sp[0].stage_hi)
            m = layers.iteration_metrics(sp, done, n_jobs, CORES)
            m.update(layers.task_metrics(acc.value))
            self.per_iter.append(m)
            self.span_sched.append(layers.span_scheduler(sp, done))
        m = dict(self.per_iter[0])
        if samples:
            m["trace.overhead_s"] = statistics.median(d for d, _ in samples)
            m["trace.warm_wall_s"] = statistics.median(u for _, u in samples)
        return m

    def dump(self, path: Path) -> None:
        """Write every recorded span, and the per-iteration metrics."""
        path.parent.mkdir(exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "workload": self.w.name,
                "iterations": [
                    [dict(vars(s), scheduler=sched) for s, sched in zip(sp, ss)]
                    for (sp, _, _), ss in zip(self.saved, self.span_sched)
                ],
                "resume": [vars(s) for s in self.resume_spans],
                "per_iteration": self.per_iter,
            }, f)


def _warm_workers(spark) -> None:
    """Fork every Python worker (pandas and pyarrow imports included)."""
    def identity(batches):
        yield from batches

    spark.range(CORES * 4).repartition(CORES).mapInPandas(identity, "id long").count()


def _stop_jvm(gateway) -> None:
    """End the Spark JVM and its Python workers, and wait for them."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while stats.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in stats.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
