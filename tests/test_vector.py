"""Vector math (E3) against numpy ground truth."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from signal_messenger_vector_database_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_norm,
    squared_l2,
    squared_l2_sql,
)
from signal_messenger_vector_database_spark.operators.topk import cosine_topk
from tests.conftest import SF_SMALL
from tests.test_materialize import _engine_lines

SF = "/root/testdata/sf0.001"

# The squared-L2 kernel spelled out anywhere: a squared-difference
# lambda (the HOF fold body), Spark SQL text squaring a 0-based
# Python-loop subscript or squaring two ``{placeholder}`` operands (the
# unrolled rendering), or Column algebra squaring a getItem difference.
# DuckDB oracle text indexes from 1 inside list lambdas and matches none.
_SQUARED_L2_FORMS = (
    r"lambda \w+, \w+: \((\w+) - (\w+)\) \* \(\1 - \2\)"
    r"|\[\{\w+\}\]\) \* \("
    r"|\(\{\w+\} - \{\w+\}\) \* \("
    r"|getItem\(\w+\) - .*getItem\(\w+\)\)"
)


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_vector_ops_match_numpy(spark):
    rng = np.random.RandomState(7)
    a, b = rng.randn(16).astype(np.float32), rng.randn(16).astype(np.float32)
    df = spark.createDataFrame(
        [([float(x) for x in a], [float(x) for x in b])],
        "a array<float>, b array<float>",
    )
    row = df.select(
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        l2_distance("a", "b").alias("dist"),
        cosine_similarity("a", "b").alias("cos"),
    ).first()
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    assert abs(row.dot - ad @ bd) < 1e-9
    assert abs(row.na - np.linalg.norm(ad)) < 1e-9
    assert abs(row.dist - np.linalg.norm(ad - bd)) < 1e-9
    assert abs(row.cos - (ad @ bd) / (np.linalg.norm(ad) * np.linalg.norm(bd))) < 1e-9


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(50, 8).astype(np.float32)
    q = vecs[3]
    df = _vec_df(spark, vecs)
    got = [r.vec_id for r in cosine_topk(df, [float(x) for x in q], k=5).collect()]
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    expected = list(np.argsort(-np.round(sims, 4), kind="stable")[:5])
    assert got == [int(x) for x in expected]
    assert got[0] == 3  # self-similarity first


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from signal_messenger_vector_database_spark.plans.vectorops import (
        _COV_DIMS,
        _embedding_covariance,
    )

    got = {
        (r["i"], r["j"]): r["cov"]
        for r in _embedding_covariance(spark, SF).collect()
    }
    vecs = np.array(
        [
            r["embedding"][: _COV_DIMS]
            for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
        ],
        dtype=np.float64,
    )
    want = np.cov(vecs, rowvar=False, bias=True)
    assert len(got) == _COV_DIMS * (_COV_DIMS + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 1e-3, (i, j, v, want[i, j])
    for i in range(_COV_DIMS):
        assert got[(i, i)] >= 0.0  # variances


def test_random_projection_preserves_norms_in_expectation(spark):
    """Johnson-Lindenstrauss: E[||Px||^2] = ||x||^2 for the scaled
    Rademacher matrix; the corpus-average ratio must sit near 1."""
    import numpy as np

    from signal_messenger_vector_database_spark.plans.vectorops import (
        _random_projection,
    )

    proj = {
        r["vec_id"]: np.array([r[f"p{j}"] for j in range(8)])
        for r in _random_projection(spark, SF).collect()
    }
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    ratios = [
        float(np.sum(proj[k] ** 2) / np.sum(orig[k] ** 2))
        for k in proj
        if np.sum(orig[k] ** 2) > 0
    ]
    mean_ratio = sum(ratios) / len(ratios)
    assert 0.7 < mean_ratio < 1.3, mean_ratio


def test_pq_adc_preserves_distance_ranking(spark):
    """PQ is lossy by design, and the r7 query vector is the fixed
    data-independent literal (the rag_retrieve pattern), an off-data point
    for which untrained seeded codebooks give no top-10 recall guarantee.
    The property that MUST hold is distance-rank preservation: ADC
    estimates correlate with exact L2 across the corpus (measured 0.525
    Spearman at sf0.001) and the ADC top-50 beats chance overlap (~5/50)
    with the exact top-50 (measured 11).  Plus basic sanity: nonnegative,
    sorted, and the reported top-10 are the global ADC argmins."""
    import numpy as np

    from signal_messenger_vector_database_spark.plans.vectorops import (
        _PQ_M,
        _pq_encode,
        _pq_lut,
        _pq_query_vec,
        _topk_pq_adc,
    )

    adc_rows = _topk_pq_adc(spark, SF).collect()
    dists = [r["adc_dist"] for r in adc_rows]
    assert all(d >= 0 for d in dists)
    assert dists == sorted(dists)

    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    codes = {
        r["vec_id"]: [r[f"c{j}"] for j in range(_PQ_M)]
        for r in _pq_encode(spark, SF).collect()
    }
    lut = _pq_lut()
    q = np.array(_pq_query_vec(), dtype=np.float64)
    ids = sorted(vecs)
    adc = np.array([sum(lut[j][codes[i][j]] for j in range(_PQ_M)) for i in ids])
    exact = np.array([float(np.sum((vecs[i] - q) ** 2)) for i in ids])

    # the returned top-10 must be the true ADC argmins — compare at the
    # query's 1e-4 output grain (ties broken by vec_id, as the query does)
    want_top = [i for _, i in sorted(zip(np.round(adc, 4), ids))[:10]]
    assert [r["vec_id"] for r in adc_rows] == want_top

    def rank(a):
        order = np.argsort(a)
        r = np.empty(len(a))
        r[order] = np.arange(len(a))
        return r

    rho = float(np.corrcoef(rank(adc), rank(exact))[0, 1])
    assert rho > 0.35, rho
    top50_adc = set(np.array(ids)[np.argsort(adc)][:50])
    top50_exact = set(np.array(ids)[np.argsort(exact)][:50])
    assert len(top50_adc & top50_exact) >= 8  # chance is ~5


def test_ivf_pq_prunes_to_probed_cluster(spark):
    """IVF-PQ composition invariants: every returned id belongs to the
    query's coarse cluster, the result is exactly the ADC top-10 WITHIN
    that cluster (the pruning is what distinguishes it from topk_pq_adc),
    sorted ascending, and rerun-deterministic."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ann import ivf_assign
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _topk_ivf_pq,
        _topk_pq_adc,
    )

    rows = _topk_ivf_pq(spark, SF).collect()
    assert len(rows) == 10
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists) and all(d >= 0 for d in dists)

    emb = load_table(spark, SF, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = {r["vec_id"]: r["cid"] for r in ivf_assign(emb, centroids).collect()}
    qcid = assign[0]
    assert all(assign[r["vec_id"]] == qcid for r in rows)

    # within-cluster ADC ranking agrees with the unpruned ADC ranking
    # restricted to the cluster: take the global ADC ordering, keep only
    # probed-cluster members, and the prefix must equal our result set
    global_adc = _topk_pq_adc(spark, SF).collect()
    in_cluster = [r for r in global_adc if assign[r["vec_id"]] == qcid]
    prefix = [(r["vec_id"], r["adc_dist"]) for r in in_cluster]
    ours = [(r["vec_id"], r["adc_dist"]) for r in rows][: len(prefix)]
    assert prefix == ours[: len(prefix)]

    again = [(r["vec_id"], r["adc_dist"]) for r in _topk_ivf_pq(spark, SF).collect()]
    assert again == [(r["vec_id"], r["adc_dist"]) for r in rows]


def test_capped_cell_split_bounds_and_keep_superset(spark):
    """capped_cell_split invariants (SCALING.md wave 14): (a) sub = 0
    exactly for cells at/under the cap; (b) every (cell, sub) group in
    the split is at most ~cap/2 * overshoot (hash-balanced — we assert
    the hard structural bound: no group exceeds the ORIGINAL cell and
    oversized cells are genuinely split); (c) the capped default keeps a
    SUPERSET of the uncapped baseline's keepers — splitting can only
    remove candidate pairs, never add drops."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        capped_cell_split,
        hier_super_count,
        ivf_assign_hier,
        ivf_seed_centroids,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _SEMDEDUP_CAP,
        _semdedup,
        _semdedup_uncapped,
    )

    sf = "/root/testdata/sf0.001"
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = ivf_assign_hier(
        emb, ivf_seed_centroids(emb, k), hier_super_count(k)
    ).withColumnRenamed("cid", "cluster")
    sizes = {r.cluster: r["count"] for r in assigned.groupBy("cluster").count().collect()}
    split = capped_cell_split(assigned, cap=_SEMDEDUP_CAP)
    rows = split.collect()
    assert len(rows) == n
    subs_by_cell = {}
    for r in rows:
        subs_by_cell.setdefault(r.cluster, []).append(r.sub)
    split_live = False
    for cell, subs in subs_by_cell.items():
        if sizes[cell] <= _SEMDEDUP_CAP:
            assert set(subs) == {0}
        else:
            split_live = True
            assert len(set(subs)) > 1  # genuinely split
            from collections import Counter

            worst = max(Counter(subs).values())
            assert worst < sizes[cell]  # no sub-cell re-absorbs the cell
    assert split_live  # the fixture must exercise the split arm

    keep_plain = {r.vec_id for r in _semdedup_uncapped(spark, sf).collect() if r.keep}
    keep_capped = {r.vec_id for r in _semdedup(spark, sf).collect() if r.keep}
    assert keep_capped >= keep_plain


def test_ivf_hier_sharded_matches_packed(spark):
    """ADVICE r9: the packed single-row hier state grows O(k) and hits
    Spark's single-row/broadcast limits under the scaled-k rule; the
    sharded formulation (per-sid member rows, one broadcast join per
    probe rank) must return BIT-IDENTICAL assignments — same routing
    comparator, same (negsim, cid) argmin over the same candidate set.
    Forced here via shard_threshold=0 on the fixture; also exercises
    the short-top-list arm (n_super=2 < nprobe=3 at sf0.001's k=8)."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_assign_hier,
        ivf_seed_centroids,
        scaled_cluster_count,
    )

    sf = "/root/testdata/sf0.001"
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = ivf_seed_centroids(emb, k)
    packed = {
        (r.vec_id, r.cid)
        for r in ivf_assign_hier(emb, cents, hier_super_count(k)).collect()
    }
    sharded = {
        (r.vec_id, r.cid)
        for r in ivf_assign_hier(
            emb,
            cents,
            hier_super_count(k),
            n_centroids=k,
            shard_threshold=0,
        ).collect()
    }
    assert sharded == packed
    assert len(packed) == n


def test_route_query_cells_replays_the_build_rule(spark):
    """r13 query-time multi-cell router: with n_cells=1, routing a
    corpus member's own vector must land EXACTLY on the cell
    ``ivf_assign_hier`` stored for it — the router and the build path
    share one level-1 state (centroid_super_map) and one comparator,
    so disagreement would mean the serving probe searches a different
    cell than the index filed the vector under.  With n_cells=2 the
    first cell is that same argmax and the second is distinct — the
    widened-probe contract topk_ivf_filtered serves with."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_assign_hier,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )

    sf = "/root/testdata/sf0.001"
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = ivf_seed_centroids(emb, k)
    ns = hier_super_count(k)
    assigned = {
        r.vec_id: r.cid
        for r in ivf_assign_hier(
            emb, cents, ns, n_centroids=k
        ).collect()
    }
    assert len(assigned) == n
    for vid in (0, 1, 7, 13, 29, n - 1):
        q = emb.filter(F.col("vec_id") == vid).select(
            F.col("embedding").alias("qv")
        )
        got = [r.cid for r in route_query_cells(q, cents, ns).collect()]
        assert got == [assigned[vid]], (vid, got, assigned[vid])

    q0 = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    two = [r.cid for r in route_query_cells(q0, cents, ns, n_cells=2).collect()]
    assert len(two) == 2 and len(set(two)) == 2
    assert two[0] == assigned[0]


def test_topk_ivf_filtered_respects_predicate_and_rank(spark):
    """The filtered serving query: every hit satisfies the predicate,
    and the result IS the exact filtered top-k over the widened
    2-cell candidate union (structural: filter-then-rank, never
    rank-then-filter)."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _topk_ivf_filtered,
    )

    sf = "/root/testdata/sf0.001"
    rows = _topk_ivf_filtered(spark, sf).collect()
    assert 0 < len(rows) <= 5
    assert [r.vec_id for r in rows] == sorted(
        [r.vec_id for r in rows],
        key=lambda v: (-[r.sim for r in rows if r.vec_id == v][0], v),
    )

    emb = load_table(spark, sf, "embeddings")
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.vec_id] == 3 for r in rows)

    # recompute the exact filtered rank over the 2-cell union
    assign = shared_hier_assignment(
        spark, emb, f"{sf}/embeddings|{n}", k, hier_super_count(k)
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(q, ivf_seed_centroids(emb, k), hier_super_count(k), n_cells=2)
    want = (
        emb.join(assign.join(F.broadcast(qcells), "cid").select("vec_id"), "vec_id")
        .filter(F.col("label") == 3)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
        .collect()
    )
    assert [(r.vec_id, r.sim) for r in rows] == [(r.vec_id, r.sim) for r in want]


def test_route_query_cells_matches_independent_python_model(spark):
    """Circularity breaker for the r13 router (the numpy-Lloyd
    discipline): `route_query_cells` is pinned above against
    `ivf_assign_hier`, but both share `centroid_super_map` — this test
    replays the WHOLE two-level routing rule in pure Python (sequential
    left-fold dot products, exactly the functions/vector.py summation
    order, so every double is bit-identical) and requires the router's
    ranked multi-cell output to match it for a batch of queries."""
    import math

    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )

    sf = "/root/testdata/sf0.01"  # k=16 > n_super=4: two real levels
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    ns = hier_super_count(k)
    nprobe, n_cells = 3, 4
    emb = load_table(spark, sf, "embeddings")
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < max(k, 8)).collect()
    }

    def dot(a, b):  # sequential left fold — the Spark expression's order
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    cents = {c: vecs[c] for c in range(k)}
    supers = {s: vecs[s] for s in range(ns)}
    # level-1: each centroid -> nearest super (max cos, sid tie-break)
    c2s = {
        c: min(supers, key=lambda s: (-cos(cents[c], supers[s]), s))
        for c in cents
    }

    def model_route(qv):
        sids = sorted(supers, key=lambda s: (-cos(qv, supers[s]), s))[:nprobe]
        cells = [c for c in cents if c2s[c] in sids]
        return sorted(cells, key=lambda c: (-cos(qv, cents[c]), c))[:n_cells]

    qids = [0, 3, 17, 29, 42]
    qt = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = {}
    for r in route_query_cells(
        qt, ivf_seed_centroids(emb, k), ns, nprobe=nprobe,
        n_cells=n_cells, id_col="qid", with_rank=True,
    ).collect():
        got.setdefault(r.qid, []).append((r.cell_rank, r.cid))
    qvecs = {
        r.qid: [float(x) for x in r.qv] for r in qt.collect()
    }
    for qid in qids:
        want = model_route(qvecs[qid])
        assert [c for _, c in sorted(got[qid])] == want, (qid, got[qid], want)


def test_squared_l2_has_one_owner():
    """functions/vector.py is the only code that spells out squared L2:
    nothing under plans/, operators/ or streaming/ defines a fold or an
    unrolled rendering of its own, and the package holds exactly one of
    each, both in functions/vector.py."""
    hits = _engine_lines(_SQUARED_L2_FORMS)
    assert not hits, "\n".join(hits)
    owner = _engine_lines(_SQUARED_L2_FORMS, subs=("functions", "io"))
    assert [h.split(":")[0] for h in owner] == [
        "signal_messenger_vector_database_spark/functions/vector.py"
    ] * 2, owner


@pytest.mark.parametrize("d", [4, 8, 16, 64])
def test_squared_l2_sql_matches_hof_fold(spark, d):
    """squared_l2_sql (flat codegen arithmetic) == the squared_l2 fold,
    bit for bit, at every dimension a caller unrolls: the fixture's
    embeddings cut to d dims against their own per-row reversal
    (negative diffs), plus equal operands (every term +0.0), 0.0/-0.0
    operands in all four sign pairs and a null element."""
    from signal_messenger_vector_database_spark.io.sources import load_table

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        F.slice(F.col("embedding").cast("array<double>"), 1, d).alias("a")
    )
    n = emb.select(F.size("a").alias("n")).agg(F.min("n"), F.max("n")).first()
    assert n[0] == n[1] == d, "fixture embeddings must be at least d wide"
    v = [0.1 * (i + 1) - 0.35 for i in range(d)]
    edge = spark.createDataFrame(
        [
            (v, v),
            ([0.0] * d, [0.0] * d),
            ([0.0] * d, [-0.0] * d),
            ([-0.0] * d, [0.0] * d),
            ([-0.0] * d, [-0.0] * d),
            ([None] + v[1:], v),
        ],
        "a array<double>, b array<double>",
    )
    df = emb.withColumn("b", F.reverse(F.col("a"))).unionByName(edge)
    unrolled = squared_l2_sql(
        [f"a[{i}]" for i in range(d)], [f"b[{i}]" for i in range(d)]
    )
    cmp = df.select(
        squared_l2("a", "b").alias("hof"), F.expr(unrolled).alias("unrolled")
    )
    assert cmp.filter(~F.col("hof").eqNullSafe(F.col("unrolled"))).count() == 0
    # eqNullSafe calls 0.0 and -0.0 equal: the sign bit is pinned here
    rows = cmp.collect()
    assert len(rows) == emb.count() + 6
    for r in rows:
        if r.hof is None:
            assert r.unrolled is None
        else:
            assert struct.pack("<d", r.hof) == struct.pack("<d", r.unrolled)
