"""Recall scoring (plans/recall.py): hit counts, zero-fill and the
per-arm curve summary on tiny constant frames, and the guard that no
other plan module counts hits itself."""

from __future__ import annotations

import re

import pytest

from signal_messenger_vector_database_spark.io.sources import local_rows
from signal_messenger_vector_database_spark.plans.recall import (
    hit_counts,
    recall_curve,
    zero_filled,
)
from tests.conftest import SF_SMALL
from tests.test_materialize import _engine_lines

_HIT_COUNT = (
    r'F\.count\(F\.lit\(1\)\)(\.cast\("long"\))?'
    r'\.alias\("(n_hits|nh|hits|n_short_hits)"\)'
)


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_recall_scoring_has_one_owner():
    """Only plans/recall.py counts recall hits: the eval queries call it
    instead of spelling out their own join + count."""
    hits = _engine_lines(_HIT_COUNT)
    assert [h.split(":")[0] for h in hits] == [
        "signal_messenger_vector_database_spark/plans/recall.py"
    ], hits


def test_hit_counts_and_zero_fill(spark):
    """Per-query hits over the query grid: a query with no hit gets 0;
    disjoint sets give one global row of 0."""
    exact = local_rows(
        spark, [(0, 1), (0, 2), (1, 3), (2, 4)], "qid int, vec_id long"
    )
    approx = local_rows(
        spark, [(0, 1), (0, 9), (1, 3), (2, 5)], "qid int, vec_id long"
    )
    hits = hit_counts(approx, exact, ["qid", "vec_id"], by=("qid",))
    assert _rows(hits, "qid") == [(0, 1), (1, 1)]
    grid = local_rows(spark, [(0,), (1,), (2,)], "qid int")
    perq = zero_filled(grid, hits)
    assert perq.columns == ["qid", "nh"]
    assert _rows(perq, "qid") == [(0, 1), (1, 1), (2, 0)]

    other = local_rows(spark, [(7,), (8,)], "vec_id long")
    total = hit_counts(exact.select("vec_id"), other, "vec_id")
    assert [tuple(r) for r in total.collect()] == [(0,)]


@pytest.mark.parametrize("shape", ["np", "arm"])
def test_recall_curve(spark, shape):
    """Per arm: candidates joined on the key cand_counts shares with the
    per-query table (``np`` alone, or ``arm`` beside ``np``), an arm
    without hits reports recall_min 0.0, and one query without a hit
    pulls its arm's recall_min to 0.0."""
    # 2 queries, recall@2, 10-vector corpus; per (np, qid): hits
    hits_rows = [(1, 0, 1), (2, 0, 2), (2, 1, 2), (4, 0, 2), (4, 1, 1)]
    if shape == "np":
        grid = local_rows(
            spark,
            [(np, q) for np in (1, 2, 4, 8) for q in (0, 1)],
            "np int, qid int",
        )
        hits = local_rows(spark, hits_rows, "np int, qid int, nh long")
        cand = local_rows(
            spark,
            [(1, 4), (2, 8), (4, 12), (8, 2)],
            "np int, sum_cand long",
        )
    else:
        arm = {1: "1", 2: "2", 4: "4", 8: "all"}
        grid = local_rows(
            spark,
            [(arm[np], np, q) for np in (1, 2, 4, 8) for q in (0, 1)],
            "arm string, np int, qid int",
        )
        hits = local_rows(
            spark,
            [(arm[np], q, nh) for np, q, nh in hits_rows],
            "arm string, qid int, nh long",
        )
        cand = local_rows(
            spark,
            [("1", 4), ("2", 8), ("4", 12), ("all", 2)],
            "arm string, sum_cand long",
        )
    out = recall_curve(zero_filled(grid, hits), cand, n_q=2, k=2, n=10)
    tail = ["sum_cand", "cand_frac", "n_hits", "recall_mean", "recall_min"]
    key = ["np"] if shape == "np" else ["arm", "np"]
    assert out.columns == key + tail
    got = [r[len(key) - 1 :] for r in _rows(out, "np")]
    assert got == [
        (1, 4, 0.2, 1, 0.25, 0.0),
        (2, 8, 0.4, 4, 1.0, 1.0),
        (4, 12, 0.6, 3, 0.75, 0.5),
        (8, 2, 0.1, 0, 0.0, 0.0),
    ]


def test_pq_recall_k_has_one_owner(spark, monkeypatch):
    """Both PQ recall rows take every top-k limit and recall denominator
    from _PQ_RECALL_K, in Spark and in the oracle SQL; only the
    shortlist keeps its own length."""
    from signal_messenger_vector_database_spark.io import materialize
    from signal_messenger_vector_database_spark.plans import vectorops as v
    monkeypatch.setattr(v, "_PQ_RECALL_K", 5)
    rows = (
        (v._pq_recall_at_k, v._pq_recall_sql),
        (v._pq_recall_trained, v._pq_recall_trained_sql),
    )
    for build, render in rows:
        with materialize.scope():
            plan = build(spark, SF_SMALL)._jdf.queryExecution().analyzed().toString()
        # approx, shortlist, and the exact top-k on both sides of the row
        limits = sorted(int(n) for n in re.findall(r"GlobalLimit (\d+)", plan))
        assert limits == [5, 5, 5, 100], build.__name__
        assert re.findall(r"/ (\d+\.\d+)\)", plan) == ["5.0", "5.0"]
        sql = render()
        assert sorted(int(n) for n in re.findall(r"LIMIT (\d+)", sql)) == [5, 5, 100]
        assert re.findall(r"/ (\d+\.\d+) AS", sql) == ["5.0", "5.0"]
