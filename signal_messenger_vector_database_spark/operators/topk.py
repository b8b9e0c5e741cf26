"""E3 — vector similarity retrieval (the capability the reference declared
but never implemented; SURVEY §0, §2.7).

``cosine_topk`` is the exact brute-force path: a single narrow scan of
(id, embedding), a codegen'd cosine expression against a literal query
vector, then ``orderBy(...).limit(k)`` which Spark executes as
TakeOrderedAndProject — each partition keeps a k-row heap and only k rows
per partition cross the wire.  At 100 TB this is a full scan but with
near-zero shuffle: the reduce side sees ``k * num_partitions`` rows.

Ordering ties are broken by id so results are deterministic across engines;
similarity is rounded *before* ordering so Spark and the DuckDB oracle
agree even at float ulp boundaries.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity


def _query_vec_col(query_vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: Sequence[str] = (),
    round_digits: int = 4,
) -> DataFrame:
    q = _query_vec_col(query_vec)
    sim = F.round(cosine_similarity(F.col(vec_col), q), round_digits).alias("sim")
    return (
        df.select(id_col, *extra_cols, sim)
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: Column | Sequence[Column],
    k: int,
    rank_alias: str = "rk",
) -> DataFrame:
    """Window top-k (row_number over partitionBy) — the north-star
    'top-k similar per group' shape; shuffles once on the group key."""
    from pyspark.sql.window import Window

    cols = list(order_col) if isinstance(order_col, (list, tuple)) else [order_col]
    w = Window.partitionBy(group_col).orderBy(*cols)
    return df.withColumn(rank_alias, F.row_number().over(w)).filter(
        F.col(rank_alias) <= k
    )
