"""Recall scoring: the one place the ANN eval family counts hits.

Recall@k of an approximate top-k is the number of its ids that are also
in the exact top-k, divided by k.  Every eval query builds its own
approximate and exact sides; this module owns what comes after:

* ``hit_counts``: how many approximate rows the exact side holds, per
  group (``by``) or globally (one row);
* ``zero_filled``: those counts over a full grid (queries, or arm x
  query), with 0 where nothing matched, so a query without a hit still
  counts in the mean and the minimum;
* ``recall_curve``: the per-arm summary of a zero-filled per-query table
  (candidate volume, hits, mean and worst recall), as the nprobe curves
  report it.

Each function reads its keys off the frames it is given.  The count
column is ``nh`` throughout; callers keep their own output names, casts
and ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hit_counts(
    approx: DataFrame, exact: DataFrame, on, by: tuple[str, ...] = ()
) -> DataFrame:
    """``nh``: rows of ``approx`` that join ``exact`` on ``on``, per ``by``
    group; an empty ``by`` gives one global row.  Pass ``exact`` as
    ``F.broadcast(exact)`` where the caller wants the hint."""
    return approx.join(exact, on).groupBy(*by).agg(F.count(F.lit(1)).alias("nh"))


def zero_filled(grid: DataFrame, hits: DataFrame) -> DataFrame:
    """``grid``'s columns plus ``nh``: the hit count of each grid row,
    0 where ``hits`` has no row for it.  ``hits`` is keyed by its columns
    other than ``nh``, which ``grid`` must carry; it is at most one row
    per grid row, so it broadcasts."""
    keys = [c for c in hits.columns if c != "nh"]
    return grid.join(F.broadcast(hits), keys, "left").select(
        *grid.columns, F.coalesce("nh", F.lit(0)).alias("nh")
    )


def _ratio(num: str, den: int) -> Column:
    return F.col(num).cast("double") / F.lit(float(den))


def recall_curve(
    perq: DataFrame, cand_counts: DataFrame, n_q: int, k: int, n: int
) -> DataFrame:
    """Per arm of a zero-filled ``(arm keys..., qid, nh)`` table over
    ``n_q`` queries at recall@``k`` on an ``n``-vector corpus: the arm
    keys, ``sum_cand`` (from ``cand_counts``, joined on the keys it shares
    with ``perq``), ``cand_frac`` = sum_cand / (n_q * n), ``n_hits``,
    ``recall_mean`` = n_hits / (n_q * k) and ``recall_min`` (the worst
    query's recall)."""
    arm = [c for c in perq.columns if c not in ("qid", "nh")]
    on = [c for c in cand_counts.columns if c in perq.columns]
    return (
        perq.groupBy(*arm)
        .agg(
            F.sum("nh").alias("nht"),
            F.min(_ratio("nh", k)).alias("recall_min"),
        )
        .join(F.broadcast(cand_counts), on)
        .select(
            *arm,
            "sum_cand",
            _ratio("sum_cand", n_q * n).alias("cand_frac"),
            F.col("nht").alias("n_hits"),
            _ratio("nht", n_q * k).alias("recall_mean"),
            "recall_min",
        )
    )
