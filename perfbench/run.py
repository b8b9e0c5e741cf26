"""Repo benchmark: one closed-loop client driving the engine's public API.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root.  Both workloads drain a backlog of newly
generated data in every pass, in pipeline order, so every index-memo
lookup misses and the first pass also meets a cold JVM:

* ``ingest`` -- the reference's own job at sf0.1 (5,000 docs, 100,000
  events, 150,000 orders): render, enrich, suppress, chunk, embed and
  index, each result written to a parquet sink.
* ``batch`` -- curation and IVF/PQ evaluation over sf0.001-sized docs,
  whose plans run their eager jobs while they are being built.

Each op is a call into ``__spark_entry__.queries()``; its latency is
build + ``executedPlan()`` + ``collect()`` on batch, and build + the
sink write on ingest (the write plans its own command).  After the timed
loop every op's rows are compared with the query's ``oracle_sql()`` run
in DuckDB over the same generated directory.  The last stdout line is
the result object; the line before it is a report with the load shape,
the failed ops by name and the error rate.  ``--trace 1`` runs the same
loop with job groups, wrapped operators and the Spark event log on, then
isolated layer probes, and prints the per-layer metrics instead.

Inputs, sinks, checkpoints and Spark scratch live under ``.perfbench/``
in the working directory and are removed at exit; a traced run keeps its
spans in ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import sys
import time
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    # name: (ops in pipeline order, data scale, tables, write to a sink)
    "ingest": (
        (
            "dispatch_render",
            "contact_enrich",
            "suppression_filter",
            "chunk_explode",
            "mock_embed",
            "ingest_pipeline",
            "stream_ingest_index",
        ),
        "sf0.1",
        ("documents", "events", "customer", "orders"),
        True,
    ),
    "batch": (
        ("curation_pipeline", "ivf_pq_clustered_curve", "ivf_recall_clustered"),
        "sf0.001",
        ("documents", "embeddings"),
        False,
    ),
}
# Driver heap (the engine's SPARK_GRAFT_DRIVER_MEM, 8g by default), pinned
# to bound a run's memory on a shared machine.
DRIVER_MEM = "2g"

# Printed metric names and units; BENCHMARK.json lists the same names.
END_TO_END = {"setup_s": "s", "job_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "spark_plan.plan_s": "s",
    "spark_exec.action_s": "s",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.tasks": "count",
    "spark_exec.busy_cores": "cores",
    "spark_exec.shuffle_write_bytes": "bytes",
    "spark_exec.spill_bytes": "bytes",
    "spark_exec.input_bytes": "bytes",
    "spark_exec.output_bytes": "bytes",
    "spark_exec.cached_rdds_after_op": "count",
    "ivf_index.seam_calls": "count",
    "ivf_index.seam_hit_ratio": "ratio",
    "ivf_index.heals": "count",
    "vector.kernel_ns_per_row": "ns",
    "embed.rows_per_s": "rows/s",
    "dedup.cc_s": "s",
    "dedup.cc_calls": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.input_rows_per_s": "rows/s",
    "io.tmp_bytes_left": "bytes",
    "memory.peak_rss_mb": "MB",
    "trace.job_s": "s",
}


def percentile(samples, q: float) -> float:
    """The q-th percentile of ``samples``, refused unless at least ten
    samples lie beyond it (a p90 needs 100 samples, a median 20)."""
    xs = sorted(samples)
    if len(xs) * (100 - q) / 100.0 < 10:
        need = round(1000 / (100 - q))
        raise ValueError(f"p{q:g} needs at least {need} samples, got {len(xs)}")
    return xs[min(int(len(xs) * q / 100.0), len(xs) - 1)]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, traced: bool) -> str:
    """The last stdout line.  ``metrics`` must hold exactly the names of
    the run's metric set."""
    names = PER_LAYER if traced else END_TO_END
    if set(metrics) != set(names):
        raise ValueError(f"metric names {sorted(set(metrics) ^ set(names))} out of step")
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k]} for k in names},
    })


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for process {pid}")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except FileNotFoundError:
                pass
    return total


def pin_environment(work: str, traced: bool) -> dict:
    """Fix the load shape before the JVM or any worker starts: cores,
    worker import path, worker threads, and every temp and scratch path
    inside ``work``.  Traced runs switch the event log on here, through
    the submit arguments."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        # -XX:-UsePerfData: no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        OMP_NUM_THREADS="1",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell",
    )
    return {"nproc": nproc, "SPARK_GRAFT_CPUS": nproc, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "OMP_NUM_THREADS": 1, "PYTHONPATH": ROOT}


class Bench:
    """One run: its inputs, its session, the ops it timed and their rows."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, work: str):
        import __spark_entry__
        from spans import Tracer

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.ops, self.scale, self.tables, self.sink = WORKLOADS[workload]
        self.work = work
        self.tmp = os.environ["TMPDIR"]
        self.queries = __spark_entry__.queries()
        self.tracer = Tracer()
        self.results: list[tuple[str, str, str, object]] = []  # op id, query, dir, rows | error
        self.tmp_left = 0
        self.cached_rdds = 0
        self.spark = None

    def make_data(self, tag: str, scale: str, tables, stream: int) -> str:
        import gen

        path = os.path.join(self.work, "data", tag)
        gen.generate(path, self.seed * 1000 + stream, scale, tables)
        return path

    # -- session ------------------------------------------------------
    def start(self) -> float:
        """Start the session, JVM launch included; returns its seconds."""
        from signal_messenger_vector_database_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> dict[str, float]:
        """VmHWM of the driver JVM and of this Python process, in MB."""
        from pyspark import SparkContext

        return {"jvm": vm_hwm_kb(SparkContext._gateway.proc.pid) / 1024.0, "python": vm_hwm_kb() / 1024.0}

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- ops ----------------------------------------------------------
    def run_op(self, op_id: str, name: str, data_dir: str) -> float:
        """Build, plan and run one query; returns its latency in seconds,
        up to the point it raised if it did (the error is kept for the
        check).

        ``collect()`` runs the plan ``executedPlan()`` made, so on batch
        the plan phase is timed on its own.  A sink write plans its own
        command, so on ingest planning is part of the action; traced runs
        plan the built frame once more after the op, outside its time, to
        measure the planning layer.  A sink is read back after the op, for
        the check only."""
        tracer, sink = self.tracer, os.path.join(self.work, "sinks", op_id)
        before = dir_bytes(self.tmp)
        try:
            with tracer.span("op", op_id) as op:
                op["query"] = name
                with tracer.phase("build"):
                    df = self.queries[name](self.spark, data_dir)
                if not self.sink:
                    with tracer.phase("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tracer.phase("action"):
                    if self.sink:
                        df.write.parquet(sink)
                    else:
                        rows = df.collect()
            if self.sink:
                if self.traced:
                    with tracer.span("replan", op_id), tracer.phase("plan"):
                        df._jdf.queryExecution().executedPlan()
                df = self.spark.read.parquet(sink)
                rows = df.collect()
            outcome = (list(df.columns), rows)
        except Exception as e:  # an op failure is a result, not a crash
            outcome = e
        if self.traced:
            sc = self.spark.sparkContext
            sc.setJobGroup("perfbench", "between ops")
            self.cached_rdds = max(self.cached_rdds, sc._jsc.getPersistentRDDs().size())
        self.tmp_left += max(dir_bytes(self.tmp) - before, 0)
        self.results.append((op_id, name, data_dir, outcome))
        return op["end"] - op["start"]

    def run_passes(self) -> list[float]:
        """The closed loop: whole passes over the workload's ops, each on a
        newly generated backlog, until ``seconds`` have elapsed (at least
        one).  Returns the time of each pass.  A failed op still counts
        its time up to the failure; the check reports it."""
        passes = []
        start = time.perf_counter()
        p = 0
        while True:
            data_dir = self.make_data(f"pass{p}", self.scale, self.tables, stream=10 + p)
            passes.append(sum(self.run_op(f"{self.workload}-p{p}-{i}", name, data_dir) for i, name in enumerate(self.ops)))
            p += 1
            if time.perf_counter() - start >= self.seconds:
                return passes

    def latencies(self) -> dict[str, list[float]]:
        """Latencies of the timed ops, by query."""
        out: dict[str, list[float]] = {}
        for s in self.tracer.spans_named("op"):
            out.setdefault(s["query"], []).append(s["end"] - s["start"])
        return out

    # -- correctness --------------------------------------------------
    def check(self) -> list[dict]:
        """Compare every timed op with its oracle (one DuckDB run per
        query and directory).  Returns the failures, by op and query."""
        import __spark_entry__
        from oracle import Oracle

        sql = __spark_entry__.oracle_sql()
        oracles: dict[str, Oracle] = {}
        failures = []
        for op_id, name, data_dir, outcome in self.results:
            if isinstance(outcome, Exception):
                bad = f"raised {outcome!r}"
            else:
                orc = oracles.setdefault(data_dir, Oracle(data_dir, self.tmp))
                try:
                    bad = orc.mismatch(sql[name], *outcome)
                except Exception as e:  # a broken oracle run fails the op
                    bad = f"oracle raised {e!r}"
            if bad:
                failures.append({"op": op_id, "query": name, "error": bad[:300]})
        for orc in oracles.values():
            orc.close()
        return failures

    # -- traced runs --------------------------------------------------
    def traced_passes(self) -> tuple[list[float], dict]:
        """The timed loop with the outside-in observers attached, then the
        layer probes.  Returns the pass times and the per-layer metrics."""
        import spans

        from signal_messenger_vector_database_spark.operators import dedup, ivf_index

        seams = spans.SeamStats()
        cc_durations: list[float] = []
        heals = ivf_index.memo_heal_count()
        with ExitStack() as stack:
            for attr in spans.IVF_SEAMS:
                stack.enter_context(spans.wrapped(ivf_index, attr, self.tracer, on_result=seams.record))
            stack.enter_context(spans.wrapped(dedup, "connected_components", self.tracer, durations=cc_durations))
            passes = self.run_passes()
            layer = {
                "ivf_index.seam_calls": seams.calls,
                "ivf_index.seam_hit_ratio": seams.hits / seams.calls if seams.calls else 0.0,
                "ivf_index.heals": ivf_index.memo_heal_count() - heals,
            }
            layer.update(self.layer_probes())
        layer["memory.peak_rss_mb"] = sum(self.peak_rss_mb().values())
        self.stop()  # closes the event log
        events = spans.read_event_log(os.path.join(self.work, "eventlog"))
        op_ids = [r[0] for r in self.results]
        layer.update(spans.layer_metrics(self.tracer, spans.job_metrics(events), op_ids))
        layer.update(spans.stream_metrics(events))
        layer.update({
            "dedup.cc_calls": len(cc_durations),
            "dedup.cc_s": statistics.median(cc_durations) if cc_durations else 0.0,
            "spark_exec.cached_rdds_after_op": self.cached_rdds,
            "io.tmp_bytes_left": self.tmp_left,
            "trace.job_s": statistics.median(passes),
        })
        return passes, layer

    def layer_probes(self) -> dict:
        """Isolated calls into single layers over the run's inputs, each
        under its own span and job group: the vector kernel, the embed
        crossing, connected components and a streaming drain."""
        from pyspark.sql import functions as F

        from signal_messenger_vector_database_spark.functions.vector import (
            cosine_similarity,
            l2_distance,
        )
        from signal_messenger_vector_database_spark.io.sources import load_table
        from signal_messenger_vector_database_spark.operators import dedup
        from signal_messenger_vector_database_spark.operators.embed import (
            DyadicEmbedder,
            with_embeddings,
        )
        from signal_messenger_vector_database_spark.streaming.ingest import (
            dedup_ingest_availablenow,
        )

        spark, tracer = self.spark, self.tracer
        corpus = self.make_data("probe-corpus", "sf0.001", ("documents", "embeddings"), stream=3)
        events_dir = self.make_data("probe-events", "sf0.001", ("events",), stream=2)

        def timed_noop(op_id: str, df) -> float:
            with tracer.span("probe", op_id):
                with tracer.phase("action") as rec:
                    df.write.format("noop").mode("overwrite").save()
            return rec["end"] - rec["start"]

        emb = load_table(spark, corpus, "embeddings").select("vec_id", "embedding")
        queries = emb.orderBy("vec_id").limit(16).select(F.col("embedding").alias("q"))
        scored = emb.crossJoin(F.broadcast(queries)).select(
            cosine_similarity("embedding", "q").alias("cos"), l2_distance("embedding", "q").alias("l2")
        )
        n_rows = emb.count() * 16
        kernel_s = statistics.median(timed_noop(f"probe-vector-{r}", scored) for r in range(3))

        docs = load_table(spark, corpus, "documents").select("doc_id", "text")
        embedded = with_embeddings(docs, text_col="text", embedder_factory=lambda: DyadicEmbedder(64))
        embed_s = timed_noop("probe-embed", embedded)

        # The near-duplicate pairs the generator planted: a doc and its
        # copy carrying a trailing " dup".
        keyed = docs.select("doc_id", F.regexp_replace("text", " dup$", "").alias("k"))
        near = (
            keyed.alias("a").join(keyed.alias("b"), "k")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        )
        with tracer.span("probe", "probe-dedup"):
            labels = dedup.connected_components(near)
        timed_noop("probe-dedup-write", labels)

        with tracer.span("probe", "probe-streaming"):
            with tracer.phase("action"):
                dedup_ingest_availablenow(spark, events_dir).count()
        return {
            "vector.kernel_ns_per_row": kernel_s * 1e9 / n_rows,
            "embed.rows_per_s": docs.count() / embed_s,
        }


def run(args, work: str) -> tuple[dict, int, list, dict]:
    shape = pin_environment(work, bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    import pyspark

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    steal0, total0 = cpu_ticks()
    try:
        start_s = bench.start()
        if args.trace:
            passes, metrics = bench.traced_passes()
            metrics["session.start_s"] = start_s
        else:
            passes = bench.run_passes()
            shape["rss_mb"] = bench.peak_rss_mb()
            metrics = {"setup_s": start_s, "job_s": statistics.median(passes)}
    finally:
        bench.stop()
    steal1, total1 = cpu_ticks()
    shape["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    failures = bench.check()
    attempted = len(bench.results)
    by_query = bench.latencies()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        **shape, "spark": pyspark.__version__, "python": platform.python_version(),
        "attempted": attempted, "failed": len(failures),
        "error_rate": len(failures) / attempted if attempted else 1.0,
        "failures": failures, "passes_s": passes,
        "op_median_ms": {q: statistics.median(v) * 1000 for q, v in by_query.items()},
    }
    if args.trace:
        path = os.path.join(os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json")
        bench.tracer.write(path)
        report["trace_file"] = os.path.relpath(path)
    return report, attempted, failures, metrics


def non_negative(text: str) -> int:
    value = int(text)
    if value < 0:
        raise argparse.ArgumentTypeError("must be >= 0")
    return value


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=non_negative, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: the engine is not beside perfbench/ (no __spark_entry__.py)", file=sys.stderr)
        return 2
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        report, attempted, failures, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(result_line(not failures, attempted, len(failures), metrics, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
