"""Per-query build/plan/exec decomposition (r16, the r15 method as a
committed tool): for each query, time (a) Python DataFrame construction
(py4j expression building + any driver-side collects/eager checkpoints),
(b) JVM planning (`queryExecution().executedPlan()`), (c) execution
(noop sink).  Repeats after a sf0.001 warmup.  This split separates the
two r15 bottleneck classes (driver-side build cost, interpreted exec)
that stage-level views cannot.

Usage: python tools/decomp_probe.py [--runs=N] q1 q2 ...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = next(
        (int(a.split("=", 1)[1]) for a in sys.argv[1:] if a.startswith("--runs=")),
        3,
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from signal_messenger_vector_database_spark.io.sources import warmup_dir
    from signal_messenger_vector_database_spark.plans.catalog import all_specs
    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("smvd-decomp-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    for name in args:
        if name not in specs:
            print(f"{name}: NOT IN CATALOG", flush=True)
            continue
        # codegen warmup (bench methodology)
        specs[name].fn(spark, warmup_dir(sf_dir)).write.format(
            "noop"
        ).mode("overwrite").save()
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"q={name} run={i}")
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            print(
                f"{name} run={i}: build={t1 - t0:.2f} plan={t2 - t1:.2f} "
                f"exec={t3 - t2:.2f} total={t3 - t0:.2f}",
                flush=True,
            )
            spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
