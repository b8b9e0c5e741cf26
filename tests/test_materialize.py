"""Materialize and release (io/materialize.py): builders pin frames and
scratch dirs only through the one owner module, and a catalog call
leaves behind nothing but the IVF index memo's frames."""

from __future__ import annotations

import glob
import os
import re
import subprocess
import sys
import tempfile

import pytest

from tests.conftest import SF_MED, SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "signal_messenger_vector_database_spark")

# the benchmark's ops (perfbench/run.py WORKLOADS) and the fixture scale
# each runs on here: ingest ops at sf0.01, batch ops at sf0.001
BENCH_OPS = [
    ("dispatch_render", SF_MED),
    ("contact_enrich", SF_MED),
    ("suppression_filter", SF_MED),
    ("chunk_explode", SF_MED),
    ("mock_embed", SF_MED),
    ("ingest_pipeline", SF_MED),
    ("stream_ingest_index", SF_MED),
    ("curation_pipeline", SF_SMALL),
    ("ivf_pq_clustered_curve", SF_SMALL),
    ("ivf_recall_clustered", SF_SMALL),
]


def _engine_lines(
    pattern: str, subs: tuple[str, ...] = ("plans", "operators", "streaming")
) -> list[str]:
    """``path:line: text`` of every line under the package dirs ``subs``
    (default plans/, operators/ and streaming/) that matches ``pattern``."""
    banned = re.compile(pattern)
    hits = []
    for sub in subs:
        for path in sorted(glob.glob(os.path.join(PKG, sub, "*.py"))):
            for i, line in enumerate(open(path), 1):
                if banned.search(line):
                    hits.append(f"{os.path.relpath(path, REPO)}:{i}: {line.strip()}")
    return hits


def test_only_the_owner_module_pins():
    """No code under plans/, operators/ or streaming/ persists,
    checkpoints, unpersists or makes a temp dir itself — the IVF memo
    (operators/ivf_index.py) included: its cross-query frames go through
    materialize/hold/release too."""
    hits = _engine_lines(
        r"\.persist\(|\.localCheckpoint\(|\.unpersist\(|tempfile\.mkdtemp\(|SMVD_PLAN_ONLY"
    )
    assert not hits, "\n".join(hits)


def test_constant_tables_come_from_local_rows():
    """No code under plans/, operators/ or streaming/ calls
    createDataFrame itself: a constant table built in Python is
    io.sources.local_rows, which plans as a JVM LocalRelation instead of
    a pickled parallelize read by Python worker tasks."""
    hits = _engine_lines(r"createDataFrame\(")
    assert not hits, "\n".join(hits)


def test_local_rows_is_an_exact_local_relation(spark):
    """local_rows frames plan as a LocalRelation and carry the list
    path's schema and values bit for bit — int/long/string/double/
    array<double>, nulls included — and an empty row list gives an empty
    frame of the declared schema."""
    import struct

    from signal_messenger_vector_database_spark.io.sources import local_rows

    ddl = "i int, l long, s string, d double, v array<double>"
    rows = [
        (1, 2**53 + 1, "a", 0.1, [0.1, -0.0, 5e-324, 2.0**-40]),
        (-2**31, -(2**63), "", 1.7976931348623157e308, []),
        (None, None, None, None, None),
        (7, 0, "é中", -0.0, [None, 1.0 / 3.0]),
    ]
    df = local_rows(spark, rows, ddl)
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    ref = spark.createDataFrame(rows, ddl)
    assert df.schema == ref.schema

    def bits(v):
        if isinstance(v, float):
            return struct.pack("<d", v)
        if isinstance(v, list):
            return [bits(x) for x in v]
        return v

    assert [bits(list(r)) for r in df.collect()] == [
        bits(list(r)) for r in rows
    ]

    empty = local_rows(spark, [], ddl)
    assert empty._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert empty.schema == ref.schema
    assert empty.collect() == []


def _memo_rdd_ids() -> set[int]:
    from signal_messenger_vector_database_spark.operators import ivf_index

    ids = set()
    for memo in ivf_index._SESSION_MEMO.values():
        for _stamp, _fp, val in memo.values():
            ids.update(j.id() for j in ivf_index._memo_frame_jrdds(val))
    return ids


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """A private temp dir for the builds' scratch dirs."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _smvd_dirs(scratch) -> list[str]:
    return sorted(p.name for p in scratch.glob("smvd-*"))


@pytest.mark.parametrize("name,sf_dir", BENCH_OPS, ids=[n for n, _ in BENCH_OPS])
def test_benchmark_op_releases_its_pins(spark, scratch, name, sf_dir):
    """After the op's collect(), the session's persistent RDDs are the
    ones it had before, plus the IVF memo's, plus at most the returned
    frame's own materialization; no smvd-* scratch dir is left."""
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    before = _persistent_rdd_ids(spark)
    rows = all_specs()[name].fn(spark, sf_dir).collect()
    assert rows
    left = _persistent_rdd_ids(spark) - before - _memo_rdd_ids()
    assert len(left) <= 1, sorted(left)
    assert _smvd_dirs(scratch) == []


def test_scope_block_keeps_results_lazy_and_releases_at_the_end(spark, scratch):
    """Inside a scope() block (the plan dumps' mode) a pinning catalog
    call returns its real, unmaterialized plan; the block's end releases
    every frame and dir the build pinned."""
    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    before = _persistent_rdd_ids(spark)
    with scope():
        df = all_specs()["stream_ivf_maintain"].fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" not in plan.splitlines()[0]
        assert _smvd_dirs(scratch)  # the staged stream state is still there
    assert _smvd_dirs(scratch) == []
    assert len(_persistent_rdd_ids(spark) - before - _memo_rdd_ids()) == 0


def test_scoped_result_matches_the_unscoped_build(spark):
    """The scope's materialization changes where the rows live, not the
    rows: the scoped curation funnel equals the unscoped lazy build."""
    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    spec = all_specs()["curation_attrition"]
    scoped = spec.fn(spark, SF_SMALL)
    assert scoped._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    with scope():
        lazy = spec.fn(spark, SF_SMALL).collect()
    assert scoped.collect() == lazy


def test_curation_builds_without_pinned_threads():
    """The curation build runs no helper thread of its own: it builds and
    matches its row count under PYSPARK_PIN_THREAD=false, where the old
    decontam prefetch thread crashed."""
    code = (
        "from pyspark.sql import SparkSession\n"
        "from signal_messenger_vector_database_spark.plans.catalog import all_specs\n"
        "s = (SparkSession.builder.master('local[2]')"
        ".config('spark.sql.shuffle.partitions', '4')"
        ".config('spark.ui.enabled', 'false').getOrCreate())\n"
        f"rows = all_specs()['curation_pipeline'].fn(s, {SF_SMALL!r}).collect()\n"
        "assert len(rows) == 7, rows\n"
        "s.stop()\n"
    )
    env = dict(os.environ, PYSPARK_PIN_THREAD="false", PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
