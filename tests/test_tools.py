"""Unit tests for the round-workflow tools the driver evidence depends
on: ``tools/window_rotate.py`` (generates the 50-slot verification
window from CORRECTNESS history) and bench.py's canary-normalized
cross-round comparison.  Both are pure functions — no Spark session —
so defects here would otherwise only surface as a silently-wrong
window or a misleading BENCH field a round later."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)


# --- window_rotate ----------------------------------------------------------


def r16_history():
    """window_rotate.latest_rounds over the CORRECTNESS_r01-r16 files
    only: the input state of the pinned window."""
    import glob
    import re

    hist = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rnd > 16:
            continue
        for name in json.load(open(f)):
            hist[name] = max(rnd, hist.get(name, 0))
    return hist


def test_window_rotate_matches_pinned_window(monkeypatch):
    """The committed _WINDOW must be exactly what the tool generates
    from the r01-r16 CORRECTNESS history (the documented input state in
    the catalog comment block) and the documented --changed list — the
    rotation rule is executable, so the pinned list must not drift from
    it.  History is pinned to <= r16 so the test stays true after the
    r17 driver row lands.  This regeneration check is ALSO the
    displaced-entry enforcement (ADVICE r13): adding a round's queries
    without re-rotating fails it, and the rotation rule itself puts
    last round's displaced names at the head of the stale queue.

    NEXT-ROUND NOTE: when a round re-pins _WINDOW, update this test in
    the SAME commit — copy the new --changed list from the catalog
    comment block and raise the history bound to the new round's
    inputs.  That keeps the window's provenance executable instead of
    letting the pinned list and the tool drift apart silently."""
    import window_rotate

    from signal_messenger_vector_database_spark.plans.catalog import _WINDOW

    real = window_rotate.latest_rounds
    monkeypatch.setattr(window_rotate, "latest_rounds", r16_history)
    assert real is not r16_history  # sanity: we really swapped it

    changed = [
        "pq_recall_at_k",
        "pq_recall_trained",
        "quant_recall_matrix",
        "ann_recall_at_k",
        "pq_operating_point",
        "dim_ablation_recall",
        "ivf_recall_clustered",
        "ivf_pq_clustered_curve",
        "ivf_pq_operating_curve",
        "filtered_recall_curve",
        "bitext_mining_eval",
        "topk_ivf_pq",
        "stream_static_join",
        "stream_sessionize",
        "stream_sketch_quantiles",
        "stream_lsh_dedup",
        "assoc_rules",
        "ccnet_buckets",
        "dup_span_removal",
        "centroid_outlier_prune",
        "csv_roundtrip",
        "jsonl_roundtrip",
        "orc_roundtrip",
        "schema_evolution",
        "stream_ingest_index",
        "pq_encode_trained",
        "semdedup_trained",
        "topk_l2",
        "kmeans_fit_assign",
        "kmeans_assign",
        "kmeans_lloyd3",
        "pq_encode",
        "topk_pq_adc",
        "topk_pq_rerank",
        "semdedup",
        "semdedup_uncapped",
        "semdedup_capped",
        "knn_graph_ivf",
        "knn_graph_uncapped",
        "bitext_margin_pairs",
        "ivf_maintenance",
        "topk_ivf_filtered",
        "maxsim_retrieve",
        "topk_ivf_sq8",
        "topk_ivf_binary",
        "topk_ivf_cascade",
        "topk_ivf_batch",
        "topk_ivf_pq_trained",
        "hard_negative_mining",
        "ann_ivf_hier",
    ]
    window, prov = window_rotate.compute_window(changed, 50)
    assert window == _WINDOW
    assert len(window) == 50 == len(set(window))
    # changed names lead, in the order given
    assert window[: len(changed)] == changed


def test_window_rotate_ordering_and_validation():
    import window_rotate

    # stalest-first after the changed block: every non-changed entry's
    # latest round must be <= the next one's only within the stale
    # suffix when both have history (ties broken by catalog order)
    window, prov = window_rotate.compute_window([], 50)
    hist = window_rotate.latest_rounds()
    rounds = [hist[n] for n in window if n in hist]
    assert rounds == sorted(rounds)

    with pytest.raises(SystemExit):
        window_rotate.compute_window(["no_such_query"], 50)
    # rows-only entries can never turn hash-green: no window slot.  As
    # of r14 the catalog has ZERO rows-only entries (approx_distinct
    # gained a bound-check oracle), so pin the branch with a synthetic
    # spec injected into the catalog lookup.
    import signal_messenger_vector_database_spark.plans.catalog as _cat
    from signal_messenger_vector_database_spark.plans.registry import (
        QuerySpec,
    )

    real_all_specs = _cat.all_specs
    fake = dict(real_all_specs())
    fake["_fake_rows_only"] = QuerySpec(lambda s, d: None, None, "synthetic")
    _cat.all_specs = lambda: fake
    try:
        with pytest.raises(SystemExit):
            window_rotate.compute_window(["_fake_rows_only"], 50)
    finally:
        _cat.all_specs = real_all_specs
    # an over-full changed list must be an explicit error, not a
    # silent truncation
    from signal_messenger_vector_database_spark.plans.catalog import (
        all_specs,
    )

    paired = [n for n, s in all_specs().items() if s.oracle is not None]
    with pytest.raises(SystemExit):
        window_rotate.compute_window(paired[:51], 50)


def test_window_rotate_reports_dropped_overdue_retirees(monkeypatch, capsys):
    """An overdue bench retiree that finds no slot (changed + never-run
    names fill the window) is named in the provenance and warned about
    on stderr, not dropped without a word; with room it gets its slot."""
    import window_rotate

    from bench import RETIRED_HEADLINE
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    monkeypatch.setattr(window_rotate, "latest_rounds", r16_history)
    full = [
        n
        for n, s in all_specs().items()
        if s.oracle is not None and n not in RETIRED_HEADLINE
    ][:50]

    window, prov = window_rotate.compute_window(full, 50)
    assert "topk_ivf_pq" not in window
    assert prov["overdue_retirees_dropped"] == ["topk_ivf_pq"]

    window, prov = window_rotate.compute_window(full[:10], 50)
    assert "topk_ivf_pq" in window
    assert prov["overdue_retirees_dropped"] == []

    monkeypatch.setattr(
        sys, "argv", ["window_rotate.py", "--changed=" + ",".join(full)]
    )
    window_rotate.main()
    err = capsys.readouterr().err
    assert "warning" in err and "topk_ivf_pq" in err


# --- bench shared_subset_normalized ----------------------------------------


def _mk_prev(tmp_path, round_no: int, payload: dict) -> None:
    (tmp_path / f"BENCH_r{round_no}.json").write_text(json.dumps(payload))


def test_bench_normalization_classes_and_ratios(tmp_path):
    import importlib

    bench = importlib.import_module("bench")

    prev = {
        "queries": {"fast_q": 0.5, "slow_q": 4.0, "gone_q": 1.0},
        "canary": {"sec": 0.2},
        "canary_shuffle": {"sec": 1.0},
    }
    # the driver wraps the bench line — the reader must unwrap "parsed"
    _mk_prev(tmp_path, 9, {"n": 1, "rc": 0, "parsed": prev})
    timings = {"fast_q": 1.0, "slow_q": 4.0, "new_q": 2.0}
    out = {"canary": {"sec": 0.4}, "canary_shuffle": {"sec": 1.0}}

    norm = bench._shared_subset_normalized(str(tmp_path), timings, out)
    assert norm["vs"] == "BENCH_r9.json"
    assert norm["n_shared"] == 2  # gone_q and new_q drop out
    # prev < 1 s => shuffle-bound (classed by the PREVIOUS round so this
    # round's noise cannot flip the class)
    assert norm["classes"] == {"fast_q": "shuffle", "slow_q": "compute"}
    # compute canary doubled: slow_q normalizes 4.0 -> 2.0; shuffle
    # canary flat: fast_q stays 1.0 => normalized (2.0+1.0)/4.5
    assert norm["canary_ratio_compute"] == 2.0
    assert norm["normalized_ratio"] == round(3.0 / 4.5, 3)
    assert norm["per_query_ratio"] == {"fast_q": 2.0, "slow_q": 0.5}


def test_bench_normalization_picks_newest_round_numerically(tmp_path):
    """BENCH_r9 vs BENCH_r10: numeric round order, not lexicographic
    filename order (which would pin r9 as newest forever)."""
    import importlib

    bench = importlib.import_module("bench")

    base = {
        "queries": {"q": 1.0},
        "canary": {"sec": 1.0},
        "canary_shuffle": {"sec": 1.0},
    }
    _mk_prev(tmp_path, 9, dict(base, queries={"q": 9.0}))
    _mk_prev(tmp_path, 10, dict(base, queries={"q": 10.0}))
    norm = bench._shared_subset_normalized(
        str(tmp_path),
        {"q": 5.0},
        {"canary": {"sec": 1.0}, "canary_shuffle": {"sec": 1.0}},
    )
    assert norm["vs"] == "BENCH_r10.json"
    assert norm["raw_ratio"] == 0.5


def test_bench_median_ratio_prefers_sidecar_medians(tmp_path):
    """The r15 self-adjudicating signal: median_ratio divides this run's
    per-query medians by the PRIOR round's medians — sourced from the
    same-round local sidecar when the driver artifact (first-run only)
    is the chosen prior — so a first-run memo-build spike cannot fake a
    regression in the permanent stdout record."""
    import importlib

    bench = importlib.import_module("bench")

    prev = {
        "queries": {"q1": 4.0, "q2": 1.0},  # first runs (q1 spiked)
        "canary": {"sec": 1.0},
        "canary_shuffle": {"sec": 1.0},
    }
    _mk_prev(tmp_path, 9, {"n": 1, "rc": 0, "parsed": prev})
    (tmp_path / "BENCH_local_r9.json").write_text(
        json.dumps(dict(prev, queries_median={"q1": 2.0, "q2": 1.0}))
    )
    out = {"canary": {"sec": 1.0}, "canary_shuffle": {"sec": 1.0}}
    norm = bench._shared_subset_normalized(
        str(tmp_path),
        {"q1": 4.0, "q2": 1.0},
        out,
        medians={"q1": 2.1, "q2": 0.9},
    )
    assert norm["vs"] == "BENCH_r9.json"
    # medians 3.0 vs sidecar medians 3.0 -> 1.0; first-run ratio is 5/5
    assert norm["median_ratio"] == round(3.0 / 3.0, 3)
    assert norm["raw_ratio"] == 1.0

    # fallback: no sidecar -> prior FIRST-RUN timings stand in (exact
    # for pre-r14 single-shot artifacts)
    (tmp_path / "BENCH_local_r9.json").unlink()
    norm2 = bench._shared_subset_normalized(
        str(tmp_path),
        {"q1": 4.0, "q2": 1.0},
        out,
        medians={"q1": 2.0, "q2": 0.5},
    )
    assert norm2["median_ratio"] == round(2.5 / 5.0, 3)
    # and without medians at all the field is None (old callers)
    norm3 = bench._shared_subset_normalized(
        str(tmp_path), {"q1": 4.0, "q2": 1.0}, out
    )
    assert norm3["median_ratio"] is None


def test_bench_normalization_absent_or_broken_prior(tmp_path):
    import importlib

    bench = importlib.import_module("bench")

    out = {"canary": {"sec": 1.0}, "canary_shuffle": {"sec": 1.0}}
    assert bench._shared_subset_normalized(str(tmp_path), {"q": 1.0}, out) is None
    (tmp_path / "BENCH_r3.json").write_text("not json at all")
    assert bench._shared_subset_normalized(str(tmp_path), {"q": 1.0}, out) is None


# --- parameterized fence builders (plans/ivf_sql.py) ------------------------


def test_fence_builder_defaults_are_canonical():
    """The r10 parameterization of the shared hier/capped CTE builders
    must keep the DEFAULT rendering exactly equal to the module-level
    constants every historical oracle embeds — and substituting a
    source relation must touch ONLY the corpus references, never the
    arithmetic."""
    from signal_messenger_vector_database_spark.plans.ivf_sql import (
        HIER_ASSIGN_CTES,
        capped_split_ctes,
        hier_assign_ctes,
    )

    assert hier_assign_ctes() == HIER_ASSIGN_CTES
    assert capped_split_ctes(64) == capped_split_ctes(
        64, src="embeddings", hash_expr="v.vec_id"
    )

    custom = hier_assign_ctes(src="bt_corpus")
    assert "embeddings" not in custom and "bt_corpus" in custom
    # swapping the relation back must reproduce the default byte-for-byte
    assert custom.replace("bt_corpus", "embeddings") == HIER_ASSIGN_CTES

    split = capped_split_ctes(64, src="bt_corpus", hash_expr="v.vec_id // 2")
    assert "FROM bt_corpus e JOIN hier h" in split
    assert "md5(CAST(v.vec_id // 2 AS VARCHAR))" in split


# --- connect_smoke gate ------------------------------------------------------


def test_connect_smoke_gate_and_slice_names():
    """The Connect smoke must (a) gate on exactly the grpcio+protobuf
    pair — so a box WITH the extras cannot silently skip — and (b) name
    only real catalog queries, all oracle-paired, covering the three
    Connect-fallback seams it exists to exercise."""
    import connect_smoke

    ok, reason = connect_smoke.connect_available()
    import importlib.util

    expect = all(
        importlib.util.find_spec(m) is not None
        for m in ("grpc", "google.protobuf")
    )
    assert ok == expect, reason

    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    specs = all_specs()
    missing = [n for n in connect_smoke.SLICE if n not in specs]
    assert not missing, missing
    # seam coverage: memo consumers, ensure_parallelism consumers, and
    # exact_cosine_pairs are all represented
    assert {"semdedup", "decontaminate", "embedding_neardup_exact_baseline"} <= set(
        connect_smoke.SLICE
    )


# --- warm-up fixture path ---------------------------------------------------


def test_warmup_dir_sits_beside_the_target_scale(tmp_path):
    """Warm-up passes (bench.py, tools/scaling_probe.py) read the sf0.001
    fixture beside $SPARK_GRAFT_SF_DIR, not a fixed
    path; with no such sibling they warm up on the target itself."""
    from signal_messenger_vector_database_spark.io.sources import warmup_dir

    (tmp_path / "sf0.1").mkdir()
    assert warmup_dir(str(tmp_path / "sf0.1")) == str(tmp_path / "sf0.1")
    (tmp_path / "sf0.001").mkdir()
    assert warmup_dir(str(tmp_path / "sf0.1")) == str(tmp_path / "sf0.001")
    for path in ("bench.py", "tools/scaling_probe.py"):
        assert "testdata/sf0.001" not in open(os.path.join(REPO, path)).read(), path


# --- the timing probe --------------------------------------------------------


def test_one_session_factory_and_one_event_log_parser():
    """Tools take their session from session.get_spark; the only two
    that build their own are connect_smoke.py (a Spark Connect remote)
    and oracle_check.py (the hostile local[3] layout).  The Spark event
    log has one parser, perfbench/spans.py."""
    tools = os.path.join(REPO, "tools")
    builders = sorted(
        f
        for f in os.listdir(tools)
        if f.endswith(".py")
        and "SparkSession.builder" in open(os.path.join(tools, f)).read()
    )
    assert builders == ["connect_smoke.py", "oracle_check.py"]
    marker = "SparkListener" + "JobStart"
    parsers = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "perfbench"]
        parsers += [
            os.path.relpath(os.path.join(root, f), REPO)
            for f in files
            if f.endswith(".py") and marker in open(os.path.join(root, f)).read()
        ]
    assert parsers == []


def test_probe_times_phases_through_spans(tmp_path):
    """Two runs of one cheap query at sf0.001: a build/plan/action line
    per run, then perfbench/spans.py's layer metrics as one JSON line,
    with the query's noop write among the joined jobs.  The event-log
    dir is gone when the probe exits."""
    from tests.conftest import SF_SMALL

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMALL,
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_probe.py"), "--runs=2", "tokenize"],
        env=env, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    runs = [line for line in out if line.startswith("tokenize ")]
    assert len(runs) == 2, out
    for line in runs:
        assert re.search(r"build=\S+ plan=\S+ action=\S+ total=\S+s$", line), line
    rec = json.loads(out[-1])
    assert rec["query"] == "tokenize" and rec["runs"] == 2
    assert rec["spark_exec.jobs"] >= 1 and rec["plans.build_s"] > 0
    assert not list(tmp_path.glob("smvd_probe_eventlog_*"))
