"""Equivalence pins for the r16 optimization round's operator-internal
rewrites: each test asserts the NEW shape produces bit-identical values
to the form it replaced (the round's result-invariance rule)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_dup_set_minmax_matches_count_distinct(spark):
    """The dup-window filter min(doc_id) != max(doc_id) selects exactly
    the count_distinct(doc_id) >= 2 hash set on the fixture windows."""
    from signal_messenger_vector_database_spark.plans.traindata import (
        _span_docs,
        _span_windows,
    )

    wins = _span_windows(_span_docs(spark, SF_SMALL))
    via_minmax = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    via_distinct = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    assert via_minmax.exceptAll(via_distinct).count() == 0
    assert via_distinct.exceptAll(via_minmax).count() == 0


def test_fate_s2_membership_matches_window_rank(spark):
    """The fate frame's s2 flag (docs2 membership) equals the old
    row_number-based formulation s1 & (_rn == 1) for every doc."""
    from pyspark.sql import Window

    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.plans.traindata import (
        _curation_chain,
        fingerprint_md5,
    )

    with scope():  # releases the chain's stage frames at the end
        c = _curation_chain(spark, SF_SMALL)
        w_fp = Window.partitionBy(fingerprint_md5("text")).orderBy("doc_id")
        d1r_old = c["docs1"].withColumn("_rn", F.row_number().over(w_fp))
        old_s2 = (
            c["fate"]
            .select("doc_id", "s1", "s2")
            .join(d1r_old.select("doc_id", "_rn"), "doc_id", "left")
            .withColumn("s2_old", F.col("s1") & (F.col("_rn") == 1))
        )
        bad = old_s2.filter(
            ~F.col("s2").eqNullSafe(F.coalesce(F.col("s2_old"), F.lit(False)))
        ).count()
    assert bad == 0


def test_decontam_superset_changes_no_flag(spark):
    """contaminated computed over docs2's train split (r16, decoupled
    from the CC arm) only ever differs from the old docs3-based set on
    s3-DEAD docs — for which s4 is False under the s3 conjunction either
    way.  Assert the invariant directly: every fate row has
    s4 == (s3 & _train & not contaminated-member)."""
    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.plans.traindata import (
        _curation_chain,
    )

    with scope():  # releases the chain's stage frames at the end
        c = _curation_chain(spark, SF_SMALL)
        fate = c["fate"]
        joined = fate.join(
            c["contaminated"].withColumn("_c2", F.lit(True)), "doc_id", "left"
        )
        bad = joined.filter(
            ~F.col("s4").eqNullSafe(
                F.col("s3") & F.col("_train") & F.col("_c2").isNull()
            )
        ).count()
    assert bad == 0
