"""Distributed BPE tokenizer TRAINING (the train-side twin of T1).

The reference only ever ENCODES with a pretrained cl100k vocabulary
(src/rag/dataframes.rs:32-39); a training-data pipeline at 100 TB also
needs to TRAIN tokenizers on its corpus.  This is classic BPE (Sennrich
et al. 2016) re-expressed Spark-first:

- **Pre-tokenize once**: the cl100k split regex runs in an Arrow-batched
  pandas UDF (the same pattern/ranks machinery as functions/bpe.py), and
  the corpus immediately collapses to a (piece, freq) table — the
  distributed equivalent of the trainer's Counter.  This is the ONLY
  pass over the raw corpus; its size after the groupBy is the piece
  VOCABULARY, orders of magnitude smaller than the text.
- **Per merge round** (driver-looped, like kmeans' Lloyd rounds): adjacent
  symbol pairs explode from the piece table weighted by freq, a
  partial-aggregated groupBy sums pair counts, and ONE row (the argmax
  under the deterministic (count desc, left, right) tie-break) returns to
  the driver — O(1) driver state per round, exactly the kmeans-codebook
  pattern.  The merge is then applied in place by a JVM fold expression
  (no Python in the loop), reproducing the reference trainer's greedy
  left-to-right, skip-after-merge semantics.
- Lineage is cut per round with localCheckpoint (the piece table is
  vocabulary-sized, cheap to pin); without it round r's plan re-derives
  rounds 1..r-1.

Verified merge-for-merge against the sequential reference
(functions/bpe.py::bpe_merge_trace) — the trace is order-independent in
the input because the piece Counter erases document order, which is
precisely the property that makes BPE training distributable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from ..io.materialize import materialize
from ..io.sources import local_rows

_PIECE_SCHEMA = StructType(
    [
        StructField("parts", ArrayType(BinaryType()), False),
        StructField("freq", LongType(), False),
    ]
)


def piece_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(parts: array<binary>, freq) — each distinct pre-tokenized piece as
    its byte-level symbol sequence, with its corpus frequency.  One Arrow
    crossing, one shuffle (the piece groupBy)."""
    from ..functions.bpe import CL100K_PATTERN

    col = text_col

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import regex

        pat = regex.compile(CL100K_PATTERN)
        for pdf in batches:
            # local pre-aggregation: the same piece repeats heavily inside
            # a batch; shrinking here cuts the explode->shuffle volume
            local: dict[bytes, int] = {}
            for t in pdf[col]:
                for m in pat.finditer(t or ""):
                    p = m.group().encode("utf-8")
                    local[p] = local.get(p, 0) + 1
            if not local:
                # an all-null/empty batch yields NOTHING: an empty pandas
                # frame defaults its columns to float64 and Arrow cannot
                # convert an empty float column to list<binary> (found by
                # the degenerate-documents test)
                continue
            yield pd.DataFrame(
                {
                    "parts": pd.Series(
                        [[p[i : i + 1] for i in range(len(p))] for p in local],
                        dtype=object,
                    ),
                    "freq": list(local.values()),
                }
            )

    pieces = docs.select(F.col(col)).mapInPandas(run, schema=_PIECE_SCHEMA)
    return pieces.groupBy("parts").agg(F.sum("freq").alias("freq"))


def _apply_merge(a_hex: str, b_hex: str) -> str:
    """JVM fold applying ONE merge (a, b) -> a||b greedily left-to-right
    with skip-after-merge: when the accumulator ends with `a` and the
    next symbol is `b`, the tail is replaced by the merged token — so a
    run like a,a,a under merge (a,a) becomes (aa),a exactly like the
    sequential trainer's index-skipping loop."""
    m_hex = a_hex + b_hex
    return (
        "aggregate(parts, CAST(array() AS array<binary>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = unhex('{a_hex}') "
        f"AND x = unhex('{b_hex}') "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array(unhex('{m_hex}'))) "
        "ELSE concat(acc, array(x)) END)"
    )


def bpe_train_merges(
    spark: SparkSession, docs: DataFrame, n_merges: int = 16, text_col: str = "text"
) -> DataFrame:
    """Run ``n_merges`` BPE merge rounds over ``docs`` and return the
    merge table: (rank, token (lowercase hex of the merged bytes),
    pair_count).  Stops early when no pair reaches count 2 (the
    reference trainer's stopping rule)."""
    corpus = materialize(piece_frequencies(docs, text_col), "bpe corpus", "lazy")
    out: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            corpus.filter(F.size("parts") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(parts) - 1), "
                        "i -> struct(element_at(parts, i) AS a, "
                        "element_at(parts, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
        )
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best or best[0].c < 2:
            break
        a, b, c = bytes(best[0].a), bytes(best[0].b), int(best[0].c)
        out.append((rank, (a + b).hex(), c))
        corpus = materialize(
            corpus.select(F.expr(_apply_merge(a.hex(), b.hex())).alias("parts"), "freq"),
            "bpe corpus",
            "lazy",
        )
    return local_rows(
        spark,
        out, "rank int, token string, pair_count long"
    )
