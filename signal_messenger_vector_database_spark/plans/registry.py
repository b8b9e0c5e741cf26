"""Query catalog registry.

Each implemented operator from SURVEY.md §2 is registered as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, when
the semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle query
over the same parquet tables.  The driver hash-compares the two at sf0.01
(CORRECTNESS_r{N}.json).

Determinism rules every paired query follows (so the order-insensitive
value-hash matches across engines):

- every computed float is ``ROUND``ed identically on both sides (money: 2,
  ratios/similarities: 4) — parallel summation order differs between
  engines at ulp level;
- DuckDB integer sums are CAST to BIGINT (DuckDB widens to HUGEINT);
- timestamps are rendered to strings with matching format patterns
  (sessions pinned to UTC by the loader);
- any LIMIT/top-k is fully tie-broken by a key column, ordered by the
  *rounded* measure;
- derived CONSTANT tables (lookup tables, query vectors, codebooks,
  classifier weights) are computed ONCE driver-side, quantized to the
  output grain, and inlined as IDENTICAL literals into both engines —
  never recomputed independently per engine.  The r5/r6 `topk_pq_adc`
  hash-FAILs were exactly this seam: both engines rebuilt the ADC lookup
  table from the same inputs, 1-ulp differences in the rebuild landed on
  FLOOR boundaries, and the local replica could not reproduce the
  driver's environment-specific flip.  If a constant can be a shared
  literal, make it one (rag_retrieve, topk_pq_adc, quality_classifier);
  recompute per-engine only when the constant is genuinely data-dependent
  at query time (kmeans centroids) and then keep every arithmetic step
  order-identical;
- NO query output may carry DecimalType (r8, the final topk_pq_adc root
  cause): SQL decimal literals silently type whole expressions as
  DECIMAL in Spark, which renders with trailing zeros ('1.293600') while
  DuckDB's DOUBLE renders shortest ('1.2936') — identical values, hash
  mismatch.  Wrap such expressions in CAST(... AS DOUBLE) on BOTH
  engines; test_output_shapes rejects DecimalType catalog-wide, so the
  class is unrepresentable.  DECIMAL is still the right tool *inside* a
  query for order-independent exact sums — cast back to DOUBLE before
  output;
- when a statistic is prone to landing on the rounding grain (the
  user_trend 1-in-1500 .xx5 boundary), DEFINE it over exact integer
  sufficient statistics so both engines round the identical double —
  engine independence at the implementation level, exactness at the
  arithmetic level (operators/groupedmap.py is the worked example).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..io.materialize import query_scope


@dataclass(frozen=True)
class QuerySpec:
    # every call runs in a query scope (io/materialize.py): whatever the
    # build pins is released once its result is materialized
    fn: Callable[[SparkSession, str], DataFrame]
    # str = the DuckDB SQL; zero-arg callable = built lazily on first
    # oracle_sql() access (for oracles that read snapshot fixtures —
    # ADVICE r11: an import-time build made a corrupt snapshot file
    # break import of the whole plans package, failing every query
    # instead of just the one); None = rows-only.
    oracle: str | Callable[[], str] | None = None
    description: str = ""

    def __post_init__(self):
        object.__setattr__(self, "fn", query_scope(self.fn))


def resolve_oracle(name: str, spec: QuerySpec) -> str | None:
    """Resolve a spec's oracle to its SQL string.  A lazy oracle whose
    builder THROWS (missing/corrupt snapshot fixture) is contained to
    this one query: the returned SQL raises DuckDB-side, so the driver
    records an ``err`` for exactly this entry while every other
    compare proceeds."""
    if spec.oracle is None or isinstance(spec.oracle, str):
        return spec.oracle
    try:
        return spec.oracle()
    except Exception as ex:  # noqa: BLE001 — containment is the point
        # truncate BEFORE quote-doubling: a cut that splits an escaped
        # '' would leave the SQL string unterminated and replace the
        # diagnostic with a parser error (r12 adversarial review)
        msg = f"lazy oracle for {name} failed: {ex}"[:300].replace("'", "''")
        return f"SELECT error('{msg}')"
