"""Optimization-round measurement harness (guide §1).

Per query: warmup at sf0.001 (codegen/JIT), then N timed noop-sink runs
at the target sf, each labelled via setJobDescription.  With --eventlog
the Spark event log is parsed afterwards into a per-query breakdown:
jobs, stages, task time vs wall time (the gap is driver/planning time).
With --explain the formatted physical plan is dumped to
plans/r15/<query>_<suffix>.txt (the judge-facing before/after evidence).

Usage:
    python tools/opt_probe.py q1 q2 ...            # timings only
    python tools/opt_probe.py --explain=before q1  # + plan dumps
    python tools/opt_probe.py --eventlog q1        # + stage breakdown
    python tools/opt_probe.py --runs=5 q1
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    runs = next(
        (int(a.split("=", 1)[1]) for a in flags if a.startswith("--runs=")), 3
    )
    explain = next(
        (a.split("=", 1)[1] for a in flags if a.startswith("--explain=")), None
    )
    eventlog = "--eventlog" in flags
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    evdir = None
    if eventlog:
        import tempfile

        evdir = tempfile.mkdtemp(prefix="smvd_evlog_")

    from pyspark.sql import SparkSession

    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.io.sources import warmup_dir
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("smvd-opt-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.ui.enabled", "false")
    )
    if evdir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evdir}")
            # single plain-text file: Spark 4 defaults to rolling
            # zstd-compressed logs and this sandbox has no zstandard
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plandir = os.path.join(repo, "plans", "r15")
    os.makedirs(plandir, exist_ok=True)

    results: dict[str, list[float]] = {}
    for name in args:
        if name not in specs:
            print(f"{name}: NOT IN CATALOG", flush=True)
            continue
        # codegen warmup at the smallest sf (bench methodology)
        specs[name].fn(spark, warmup_dir(sf_dir)).write.format(
            "noop"
        ).mode("overwrite").save()
        if explain:
            with scope():  # plan only: catalog calls return lazy frames
                df = specs[name].fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            with open(
                os.path.join(plandir, f"{name}_{explain}.txt"), "w"
            ) as f:
                f.write(plan)
        ts = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"q={name} run={i}")
            t0 = time.time()
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if ts:
            results[name] = ts
            print(
                f"{name}: runs={ts} median={sorted(ts)[len(ts)//2]}",
                flush=True,
            )

    app_id = spark.sparkContext.applicationId
    spark.stop()
    print(json.dumps({n: sorted(t)[len(t) // 2] for n, t in results.items()}))

    if evdir:
        _report_eventlog(os.path.join(evdir, app_id))


def _eventlog_lines(path: str):
    """Yield event-log JSON lines.  Spark 4 writes rolling logs as a
    directory ``eventlog_v2_<appId>/events_*`` (optionally .zstd); older
    versions write a single file at ``<dir>/<appId>``."""
    import glob

    v2 = os.path.join(os.path.dirname(path), f"eventlog_v2_{os.path.basename(path)}")
    files = (
        sorted(glob.glob(os.path.join(v2, "events_*")))
        if os.path.isdir(v2)
        else [path]
    )
    for p in files:
        if p.endswith(".zstd"):
            raise SystemExit(
                f"compressed event log {p}: set "
                "spark.eventLog.rolling.enabled=false (no zstandard here)"
            )
        with open(p) as f:
            yield from f


def _report_eventlog(path: str) -> None:
    """Per-query-run breakdown from the Spark event log: per job, wall
    time and summed task time; stage-level detail for the slowest jobs."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in _eventlog_lines(path):
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            t = ev.get("Event")
            if t == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"],
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif t == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif t == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:90],
                    "tasks": si["Number of Tasks"],
                    "wall": (
                        si.get("Completion Time", 0)
                        - si.get("Submission Time", 0)
                    )
                    / 1000.0,
                }
    by_desc: dict[str, list] = {}
    for jid, j in sorted(jobs.items()):
        by_desc.setdefault(j["desc"], []).append((jid, j))
    for desc, js in by_desc.items():
        if not desc.startswith("q="):
            continue
        wall = sum(j.get("t1", j["t0"]) - j["t0"] for _, j in js) / 1000.0
        print(f"\n== {desc}: {len(js)} jobs, job-wall {wall:.2f}s")
        for jid, j in js:
            jw = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
            if jw < 0.15:
                continue
            print(f"  job {jid}: {jw:.2f}s, {len(j['stages'])} stages")
            for sid in j["stages"]:
                s = stages.get(sid)
                if s and s["wall"] >= 0.1:
                    print(
                        f"    stage {sid}: {s['wall']:.2f}s {s['tasks']}t {s['name']}"
                    )


if __name__ == "__main__":
    main()
