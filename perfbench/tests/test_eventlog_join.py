"""Event-log task metrics join to the benchmark's spans on a tiny run."""

from __future__ import annotations

import json
import os
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TINY_RUN = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
log = sys.argv[2]
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log} "
    "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
    "--conf spark.ui.enabled=false pyspark-shell"
)
from pyspark.sql import SparkSession
import spans

spark = SparkSession.builder.master("local[2]").getOrCreate()
tracer = spans.Tracer()
tracer.sc = spark.sparkContext
ops = ["op-0", "op-1"]
for i, op in enumerate(ops):
    with tracer.span("op", op):
        with tracer.phase("build"):
            df = spark.range(1000 * (i + 1)).repartition(3)
            df.count()  # an eager job while the op is being built
        with tracer.phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.phase("action"):
            df.groupBy((df.id % 7).alias("k")).count().collect()
spark.stop()
jobs = spans.job_metrics(spans.read_event_log(log))
print(json.dumps({
    "jobs": {f"{g}|{d}": v for (g, d), v in jobs.items()},
    "layer": spans.layer_metrics(tracer, jobs, ops),
    "spans": tracer.spans,
}))
"""


def test_event_log_tasks_join_to_op_spans(tmp_path):
    log = tmp_path / "eventlog"
    log.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", TINY_RUN, PERFBENCH, str(log)],
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    for op in ("op-0", "op-1"):
        build, action = got["jobs"][f"{op}|build"], got["jobs"][f"{op}|action"]
        assert build["jobs"] >= 1 and build["tasks"] >= 1
        assert action["jobs"] >= 1 and action["stages"] >= 1 and action["tasks"] >= 1
        assert action["shuffle_write_bytes"] > 0
    layer = got["layer"]
    assert layer["plans.eager_jobs"] >= 1
    assert layer["spark_exec.tasks"] >= 1 and layer["spark_exec.busy_cores"] > 0
    by_id = {s["id"]: s for s in got["spans"]}
    for s in got["spans"]:
        assert s["op"] in ("op-0", "op-1") and s["end"] >= s["start"]
        if s["name"] == "op":
            assert s["parent"] is None
        else:
            parent = by_id[s["parent"]]
            assert parent["name"] == "op" and parent["op"] == s["op"]
