"""The embeddings corpus's IVF index: the one place its conventions live.

``embeddings.parquet`` is the catalog's main vector corpus.  The session
memo (operators/ivf_index.py) builds its coarse assignment once per
session only if every consumer asks for it the same way, because the
memo key carries the input frame's vector dtype and schema, the corpus
token and the geometry.  Every plan that indexes this corpus goes
through here:

* ``full_corpus``: the whole-corpus assignment.  The seam input is the
  raw ``load_table`` scan (``array<float>``), the token is
  ``<sf_dir>/embeddings|<n>`` (``corpus_token``), the geometry is
  ``k = scaled_cluster_count(n)`` and ``ns = hier_super_count(k)``.  A
  consumer whose pair math runs in double projects its own frame and
  joins it to this assignment; it never passes that projection to the
  seam, which would key a second family with the same rows.
* ``incoming_split``: the maintenance family's incoming-batch
  convention.  The newest ``max(50, n // 10)`` ids arrive after the base
  corpus, as one delta or as three equal ingest cycles, and are
  assigned against the quantizer frozen at base geometry
  ``scaled_cluster_count(cut)``.  Base ids with ``vec_id % 37 = 5`` are
  the delete log.

Derived corpora (the clustered and bitext projections) key their own
tokens and do not come through here.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table, parquet_row_count
from ..operators.ann import hier_super_count, scaled_cluster_count
from ..operators.ivf_index import (
    shared_hier_assignment,
    shared_hier_assignment_chain,
    shared_hier_assignment_delta,
)


def corpus_token(sf_dir: str, n: int) -> str:
    """The memo token of the whole corpus at ``n`` rows; an index derived
    from it (the trained-PQ parts) appends its own ``|tag``."""
    return f"{sf_dir}/embeddings|{n}"


class FullCorpus(NamedTuple):
    emb: DataFrame  # the raw scan the assignment is keyed on
    n: int
    k: int
    ns: int
    assign: DataFrame  # (vec_id, cid), the session's one family


def full_corpus(spark: SparkSession, sf_dir: str) -> FullCorpus:
    """The corpus scan, its geometry and its shared two-level assignment."""
    n = parquet_row_count(sf_dir, "embeddings")
    k = scaled_cluster_count(n)
    ns = hier_super_count(k)
    emb = load_table(spark, sf_dir, "embeddings")
    return FullCorpus(
        emb, n, k, ns,
        shared_hier_assignment(spark, emb, corpus_token(sf_dir, n), k, ns),
    )


@dataclass(frozen=True)
class IncomingSplit:
    """Base ids ``< cut``; the incoming ids ``>= cut`` split at ``b1`` and
    ``b2`` into three ingest cycles.  ``k``/``ns`` are base geometry."""

    sf_dir: str
    n: int
    cut: int

    @property
    def b1(self) -> int:
        return self.cut + (self.n - self.cut) // 3

    @property
    def b2(self) -> int:
        return self.cut + 2 * ((self.n - self.cut) // 3)

    @property
    def k(self) -> int:
        return scaled_cluster_count(self.cut)

    @property
    def ns(self) -> int:
        return hier_super_count(self.k)

    @property
    def base_token(self) -> str:
        return f"{self.sf_dir}/embeddings|base|{self.cut}"

    @property
    def delta_token(self) -> str:
        return f"{self.sf_dir}/embeddings|delta|{self.n - self.cut}"

    def base(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col("vec_id") < self.cut)

    def delta(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col("vec_id") >= self.cut)

    def tombstones(self, df: DataFrame) -> DataFrame:
        return df.filter(
            (F.col("vec_id") < self.cut) & (F.col("vec_id") % 37 == 5)
        )

    def delta_assignment(self, spark: SparkSession, emb: DataFrame) -> DataFrame:
        """(vec_id, cid) of the whole corpus: the base part plus ONE delta."""
        return shared_hier_assignment_delta(
            spark, self.base(emb), self.delta(emb),
            self.base_token, self.delta_token, self.k, self.ns,
        )

    def chain_assignment(self, spark: SparkSession, emb: DataFrame) -> DataFrame:
        """(vec_id, cid) of the whole corpus: the base part plus the three
        ingest cycles, each its own memo part."""
        cut, b1, b2, n = self.cut, self.b1, self.b2, self.n
        return shared_hier_assignment_chain(
            spark,
            self.base(emb),
            [
                emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < b1)),
                emb.filter((F.col("vec_id") >= b1) & (F.col("vec_id") < b2)),
                emb.filter(F.col("vec_id") >= b2),
            ],
            self.base_token,
            [
                f"{self.sf_dir}/embeddings|cyc1|{cut}-{b1}",
                f"{self.sf_dir}/embeddings|cyc2|{b1}-{b2}",
                f"{self.sf_dir}/embeddings|cyc3|{b2}-{n}",
            ],
            self.k,
            self.ns,
        )


def incoming_split(sf_dir: str) -> IncomingSplit:
    """The split of the corpus as it stands.  The clamp keeps a 1-row base
    on a corpus of <= 50 rows: an empty base has no centroids, so Spark
    would emit NULL cids where the oracle's empty hier chain emits no
    rows (a planted 40-row test pins the parity)."""
    n = parquet_row_count(sf_dir, "embeddings")
    return IncomingSplit(sf_dir, n, max(1, n - max(50, n // 10)))
