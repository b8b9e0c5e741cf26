"""Tests for the build-once shared IVF/PQ index parts
(operators/ivf_index.py): memoized results must be bit-identical to the
inline path, the memo must be corpus-, content- and geometry-keyed, the
second consumer must READ instead of rebuilding, and the delta and
chain seams must assign only the deltas they have not seen."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _load(spark):
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        scaled_cluster_count,
    )

    n = parquet_row_count(SF, "embeddings")
    k = scaled_cluster_count(n)
    return load_table(spark, SF, "embeddings"), n, k, hier_super_count(k)


def test_second_consumer_reads_not_rebuilds(spark, monkeypatch):
    """After the first consumer's action, a second call must come back as
    the memo's materialized frame: the same handle, checkpointed, whose
    plan is a plain scan of its blocks (no groupBy/aggregate or join
    from the two-level assignment)."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|{n}"

    first = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    first.count()
    second = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    assert second is first
    assert all(j.isCheckpointed() for j in ivf_index._memo_frame_jrdds(second))
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert "Scan ExistingRDD" in plan


def test_cached_pq_parts_bit_identical_to_inline(spark, monkeypatch):
    """The memoized trained-PQ parts must be the identical final
    assignment and codebooks as the inline Lloyd build, and a second
    call must hand back the same materialized frames, never retrain."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _op_sub_rows,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs = _op_sub_rows(emb).localCheckpoint(eager=False)

    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    af_i, cb_i = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    af_inline = {(r.vec_id, r.sub_j): r.code for r in af_i.collect()}
    cb_inline = {(r.sub_j, r.code): list(r.cw) for r in cb_i.collect()}

    monkeypatch.delenv("SMVD_IVF_MEMO")
    af_c, cb_c = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    assert {(r.vec_id, r.sub_j): r.code for r in af_c.collect()} == af_inline
    assert {(r.sub_j, r.code): list(r.cw) for r in cb_c.collect()} == cb_inline
    # second call reads, never retrains
    af_c2, cb_c2 = shared_pq_parts(spark, subs, "t", _OPD, 16, 1)
    assert af_c2 is af_c and cb_c2 is cb_c
    plan = af_c2._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan
    assert "Scan ExistingRDD" in plan


def _split(emb, n):
    """Base / incoming-batch split: the newest max(50, n/10) ids are the
    delta (the ivf_delta_assign convention)."""
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    return cut, base, emb.filter(F.col("vec_id") >= cut)


def test_delta_seam_assigns_only_the_delta(spark, monkeypatch):
    """With the base index built, the delta seam adds exactly ONE memo
    family, and that family's frame holds only the delta's rows — the
    base part is the base seam's own entry, never re-assigned — while
    the composed result equals the memo-off full assignment of base
    UNION delta (one job at base geometry: the seeds are the k lowest
    ids, which live in the base)."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    emb, n, k, ns = _load(spark)
    cut, base, delta = _split(emb, n)
    bt = f"{SF}/embeddings|only-base|{cut}"
    dt = f"{SF}/embeddings|only-delta|{n - cut}"

    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    want = {
        r.vec_id: r.cid
        for r in ivf_index.shared_hier_assignment(
            spark, emb, f"{SF}/embeddings|only-full|{n}", k, ns
        ).collect()
    }
    assert len(want) == n

    monkeypatch.delenv("SMVD_IVF_MEMO")
    base_part = ivf_index.shared_hier_assignment(spark, base, bt, k, ns)
    memo = ivf_index._SESSION_MEMO[spark]
    before = set(memo)
    got = ivf_index.shared_hier_assignment_delta(
        spark, base, delta, bt, dt, k, ns
    )
    (fam,) = [f for f in memo if f not in before]
    part = memo[fam][2]
    assert {r.vec_id for r in part.collect()} == set(range(cut, n))
    assert part.count() == n - cut
    assert {r.vec_id: r.cid for r in got.collect()} == want
    base_fam = next(f for f in memo if f[0] == "hier" and f[1] == bt)
    assert memo[base_fam][2] is base_part


def test_delta_assignment_second_read_is_scan_only(spark, monkeypatch):
    """A repeat delta call after the first action reads the memo parts:
    its plan is a union of block scans with no assignment work left."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    cut, base, delta = _split(emb, n)
    bt, dt = f"{SF}/embeddings|base|{cut}", f"{SF}/embeddings|delta|{n - cut}"
    delta_seam = ivf_index.shared_hier_assignment_delta
    delta_seam(spark, base, delta, bt, dt, k, ns).count()
    second = delta_seam(spark, base, delta, bt, dt, k, ns)
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert plan.count("Scan ExistingRDD") == 2
    assert {r.vec_id for r in second.collect()} == set(range(n))


def test_delta_assign_query_degenerate_small_corpus(spark, tmp_path):
    """r12 adversarial review: a corpus of <= 50 rows makes the
    'incoming batch' convention consume everything — the un-clamped cut
    left an EMPTY base (Spark emitted NULL cids, the oracle zero rows).
    The clamp keeps a 1-row base on BOTH engines; this planted 40-row
    corpus pins their parity on that degenerate arm (the fixtures'
    smallest scale is 500 rows, so no sweep reaches it)."""
    import duckdb

    from signal_messenger_vector_database_spark.plans.catalog import all_specs
    from signal_messenger_vector_database_spark.plans.registry import (
        resolve_oracle,
    )

    rows = [
        (i, [float((7 * i + d) % 13) / 13.0 for d in range(8)], 0)
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )

    spec = all_specs()["ivf_delta_assign"]
    got = {
        (r.vec_id, r.cid, r.n_delta_in_cell)
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    assert got and all(cid is not None for _, cid, _ in got)

    con = duckdb.connect()
    con.execute(  # Spark writes a parquet DIRECTORY; glob its parts
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = {
        (r[0], r[1], r[2])
        for r in con.execute(resolve_oracle("ivf_delta_assign", spec)).fetchall()
    }
    assert got == want
    assert len(got) == 39  # everything but the 1-row clamped base


def test_session_memo_reuses_and_is_bit_identical(spark, monkeypatch):
    """r12 session memo: the second consumer of the same (token,
    geometry) key in one session gets the SAME checkpointed frame (no
    retrain), and SMVD_IVF_MEMO=0 restores the per-call recompute the
    scaling probes measure."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|memo-test|{n}"
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)

    first = shared_hier_assignment(spark, emb, token, k, ns)
    second = shared_hier_assignment(spark, emb, token, k, ns)
    assert second is first  # memo hit: the very same frame
    assert second.columns == ["vec_id", "cid"]
    rows = {r.vec_id: r.cid for r in second.collect()}
    assert len(rows) == n

    # memo-off: a fresh plan per call (the probe's inline baseline)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    fresh = shared_hier_assignment(spark, emb, token, k, ns)
    assert fresh is not first
    assert {r.vec_id: r.cid for r in fresh.collect()} == rows


def test_session_memo_is_key_and_content_sensitive(spark, tmp_path, monkeypatch):
    """A different token or geometry must miss the memo, and an
    in-place corpus file change mid-session must too (same file-stat
    stamp discipline as the disk key), REPLACING the superseded entry
    rather than accumulating it (one live entry per family)."""
    import shutil

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    t1 = f"{SF}/embeddings|memo-key|{n}"
    a = shared_hier_assignment(spark, emb, t1, k, ns)
    assert shared_hier_assignment(spark, emb, t1, k, ns + 1) is not a
    assert shared_hier_assignment(spark, emb, t1 + "x", k, ns) is not a

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = corpus / "embeddings.parquet"
    shutil.copyfile(f"{SF}/embeddings.parquet", src)
    t2 = f"{corpus}/embeddings|{n}"
    from signal_messenger_vector_database_spark.operators import ivf_index

    b = shared_hier_assignment(spark, emb, t2, k, ns)
    assert shared_hier_assignment(spark, emb, t2, k, ns) is b
    n_fams = len(ivf_index._SESSION_MEMO[spark])
    os.utime(src, ns=(os.stat(src).st_mtime_ns + 10**9,) * 2)
    c = shared_hier_assignment(spark, emb, t2, k, ns)
    assert c is not b
    # the stale entry was SUPERSEDED in place, not accumulated — the
    # family count is unchanged and the live value is the new frame
    assert len(ivf_index._SESSION_MEMO[spark]) == n_fams
    fam = next(
        f for f in ivf_index._SESSION_MEMO[spark] if f[1] == t2
    )
    assert ivf_index._SESSION_MEMO[spark][fam][2] is c


def test_session_memo_purges_stopped_sessions(spark, monkeypatch):
    """The memoized frames strongly reference their session, so weak
    collection alone can never fire (r12 code review): a session whose
    context reports stopped must be PURGED on the next seam access."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    class _StoppedCtx:
        _jsc = None

    class _FakeSession:
        sparkContext = _StoppedCtx()

    fake = _FakeSession()
    ivf_index._SESSION_MEMO[fake] = {("hier", "zombie"): ("stamp", object())}
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    shared_hier_assignment_call = ivf_index.shared_hier_assignment
    shared_hier_assignment_call(
        spark, emb, f"{SF}/embeddings|purge-test|{n}", k, ns
    )
    assert fake not in ivf_index._SESSION_MEMO  # zombie purged
    assert spark in ivf_index._SESSION_MEMO  # live session kept


def test_session_memo_pq_parts(spark, monkeypatch):
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _OPM,
        _op_sub_rows,
    )

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs = _op_sub_rows(emb).localCheckpoint(eager=False)
    af1, cb1 = shared_pq_parts(spark, subs, "memo-pq", _OPD, 16, 1)
    af2, cb2 = shared_pq_parts(spark, subs, "memo-pq", _OPD, 16, 1)
    assert af2 is af1 and cb2 is cb1
    # k=16 codewords per subspace x _OPM subspaces
    assert af1.count() > 0 and cb1.count() == 16 * _OPM


def test_maintain_policy_composes_delta_and_flags(spark, monkeypatch):
    """ivf_index.maintain (r12): assignment == the delta path,
    per-cell accounting matches an independent Python recompute of the
    exact-integer ivf_maintenance rules with the operator's contract
    (duplicate delete-log ids deduplicated; same-cycle insert+delete
    counts TOMB), and the rebuild decision is DENOM * n_flagged > the
    CONFIGURED k."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        _REBUILD_DENOM,
        maintain,
        shared_hier_assignment_delta,
    )

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    # planted delete log: every 37th base id, PLUS one delta id (a
    # same-cycle insert+delete), PLUS the whole thing duplicated (an
    # at-least-once log repeats entries)
    tombs1 = base.select("vec_id").filter(F.col("vec_id") % 37 == 5)
    tombs = tombs1.unionAll(
        delta.select("vec_id").filter(F.col("vec_id") == cut)
    ).unionAll(tombs1)
    bt = f"{SF}/embeddings|mt-base|{cut}"
    dt = f"{SF}/embeddings|mt-delta|{n - cut}"

    out = maintain(spark, base, delta, bt, dt, k, ns, tombstones=tombs)
    got_assign = {r.vec_id: r.cid for r in out["assignment"].collect()}
    # want computed with the memo OFF — otherwise this collects the
    # very frame maintain memoized and the parity check is vacuous
    # (r12 code review)
    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    want_assign = {
        r.vec_id: r.cid
        for r in shared_hier_assignment_delta(
            spark, base, delta, bt, dt, k, ns
        ).collect()
    }
    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    assert got_assign == want_assign and len(got_assign) == n

    # independent recompute of the accounting + flags in plain Python
    from collections import defaultdict

    st = {}
    for vid, cid in got_assign.items():
        if vid % 37 == 5 and vid < cut or vid == cut:
            s = "tomb"  # tomb wins over new for the same-cycle id
        elif vid >= cut:
            s = "new"
        else:
            s = "live"
        st[vid] = (cid, s)
    counts = defaultdict(lambda: [0, 0, 0])  # live, tomb, new
    for cid, s in st.values():
        counts[cid][("live", "tomb", "new").index(s)] += 1
    total = sum(c[0] + c[2] for c in counts.values())
    kk = len(counts)  # non-empty cells: the split rule's mean
    want_cells = {
        cid: (
            c[0],
            c[1],
            c[2],
            10 * (c[0] + c[2]) * kk > 11 * total,
            50 * c[0] < 49 * (c[0] + c[1]),
        )
        for cid, c in counts.items()
    }
    got_cells = {
        r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
        for r in out["cells"].collect()
    }
    assert got_cells == want_cells
    # the accounting must balance: every assigned row counted once
    assert sum(sum(c) for c in counts.values()) == n

    n_flagged = sum(1 for c in want_cells.values() if c[3] or c[4])
    drow = out["decision"].collect()
    assert len(drow) == 1
    # the decision denominator is the CONFIGURED k, not non-empty cells
    assert drow[0].k == k and drow[0].n_flagged == n_flagged
    assert drow[0].rebuild_recommended == (
        _REBUILD_DENOM * n_flagged > k
    )


def test_maintain_without_tombstones(spark):
    """No delete log: n_tomb must be 0 everywhere and live+new == n."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    out = maintain(
        spark,
        emb.filter(F.col("vec_id") < cut),
        emb.filter(F.col("vec_id") >= cut),
        f"{SF}/embeddings|mt2-base|{cut}",
        f"{SF}/embeddings|mt2-delta|{n - cut}",
        k,
        ns,
    )
    rows = out["cells"].collect()
    assert all(r.n_tomb == 0 for r in rows)
    assert sum(r.n_live + r.n_new for r in rows) == n


def test_maintain_empty_corpus_decision_is_total(spark):
    """A cycle before first ingest (empty base+delta) must yield a
    TOTAL decision row — (k, 0, False), never NULLs (the SUM over an
    empty cells frame is NULL without the coalesce; r12 code review)."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = maintain(spark, empty, empty, "e|base|0", "e|delta|0", 1, 1)
    row = out["decision"].collect()
    assert row == [(1, 0, False)] or (
        row[0].k == 1
        and row[0].n_flagged == 0
        and row[0].rebuild_recommended is False
    )
    assert out["cells"].count() == 0


# --- r13: memo LRU bound, self-heal, fingerprint guard ---------------------


def test_memo_is_the_only_switch():
    """The index tier has one switch: the module reads no environment
    variable but SMVD_IVF_MEMO."""
    import re

    from signal_messenger_vector_database_spark.operators import ivf_index

    src = open(ivf_index.__file__).read()
    assert re.findall(r"\benviron\b|\bgetenv\b", src) == ["environ"]
    assert re.findall(r"environ\.get\(\"(\w+)\"", src) == ["SMVD_IVF_MEMO"]


def test_memo_lru_bounds_families_and_unpersists(spark, monkeypatch):
    """VERDICT r12 #6: the (N+1)th distinct family must evict the
    least-recently-used one AND explicitly free its checkpoint blocks
    (observable via the context's RDD storage info)."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    monkeypatch.setattr(ivf_index, "_MEMO_MAX", 2)
    # isolate: purge this session's memo so earlier tests' families
    # don't occupy slots
    ivf_index._SESSION_MEMO.pop(spark, None)

    emb, n, k, ns = _load(spark)

    def build(tag):
        f = ivf_index.shared_hier_assignment(
            spark, emb, f"{SF}/embeddings|lru-{tag}|{n}", k, ns
        )
        f.count()  # materialize the checkpoint blocks
        return f

    def stored_rdds():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def rdd_ids(f):
        return {j.id() for j in ivf_index._memo_frame_jrdds(f)}

    a, b = build("a"), build("b")
    assert rdd_ids(a) <= stored_rdds()
    memo = ivf_index._SESSION_MEMO[spark]
    assert len(memo) == 2

    c = build("c")  # third family: cap 2 -> family 'a' evicted
    assert len(ivf_index._SESSION_MEMO[spark]) == 2
    tokens = [fam[1] for fam in ivf_index._SESSION_MEMO[spark]]
    assert not any("lru-a" in t for t in tokens)
    assert any("lru-b" in t for t in tokens)
    assert any("lru-c" in t for t in tokens)
    # a's blocks were EXPLICITLY unpersisted, not just dereferenced (the
    # test still holds `a`, so no GC cleanup can have freed them); ids,
    # not a count, because the context cleaner may free earlier tests'
    # dropped frames at any moment
    assert rdd_ids(a) and not rdd_ids(a) & stored_rdds()
    assert rdd_ids(b) | rdd_ids(c) <= stored_rdds()

    # LRU, not FIFO: touching 'b' then inserting 'd' evicts 'c'
    ivf_index.shared_hier_assignment(
        spark, emb, f"{SF}/embeddings|lru-b|{n}", k, ns
    )
    build("d")
    tokens = [fam[1] for fam in ivf_index._SESSION_MEMO[spark]]
    assert any("lru-b" in t for t in tokens)
    assert not any("lru-c" in t for t in tokens)


def test_memo_lru_never_evicts_a_calls_own_parts(spark, monkeypatch):
    """A chain call composes 1 + len(deltas) memo parts.  With more
    parts than the LRU cap, inserting a later part must not evict (and
    unpersist) a part the same call has already unioned into its
    result: the base part here is materialized and least recently used
    when the second delta's part is inserted, and the result must still
    collect.  A repeat call then hits every part."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    monkeypatch.setattr(ivf_index, "_MEMO_MAX", 2)
    ivf_index._SESSION_MEMO.pop(spark, None)

    emb, n, k, ns = _load(spark)
    c1, c2 = n // 2, (3 * n) // 4
    base = emb.filter(F.col("vec_id") < c1)
    deltas = [
        emb.filter((F.col("vec_id") >= c1) & (F.col("vec_id") < c2)),
        emb.filter(F.col("vec_id") >= c2),
    ]
    bt = f"{SF}/embeddings|own-base|{c1}"
    dts = [f"{SF}/embeddings|own-d1|{c2 - c1}", f"{SF}/embeddings|own-d2|{n - c2}"]
    ivf_index.shared_hier_assignment(spark, base, bt, k, ns).count()

    chain = ivf_index.shared_hier_assignment_chain
    got = chain(spark, base, deltas, bt, dts, k, ns)
    memo = ivf_index._SESSION_MEMO[spark]
    assert len(memo) == 3
    assert {r.vec_id for r in got.collect()} == set(range(n))
    assert all(ivf_index._memo_value_healthy(v[2]) for v in memo.values())

    parts = [v[2] for v in memo.values()]
    again = chain(spark, base, deltas, bt, dts, k, ns)
    assert [v[2] for v in ivf_index._SESSION_MEMO[spark].values()] == parts
    assert {r.vec_id for r in again.collect()} == set(range(n))


def test_memo_self_heals_lost_checkpoint_blocks(spark, monkeypatch):
    """ADVICE r12 cluster caveat, made recoverable (r13): a memoized
    frame whose localCheckpoint blocks vanish (executor loss; here
    simulated by unpersisting the blocks out from under the handle) is
    a DEAD handle — collecting it raises
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  The seam must detect that at
    the next access, drop the entry, and rebuild from the caller's
    still-lineaged input instead of serving the corpse."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|heal-test|{n}"

    first = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    rows = {r.vec_id: r.cid for r in first.collect()}  # materialize
    assert ivf_index.shared_hier_assignment(spark, emb, token, k, ns) is first

    # simulate executor loss: the blocks disappear, the handle stays
    for jrdd in ivf_index._memo_frame_jrdds(first):
        jrdd.unpersist(True)
    assert not ivf_index._memo_value_healthy(first)

    heals_before = ivf_index.memo_heal_count()
    healed = ivf_index.shared_hier_assignment(spark, emb, token, k, ns)
    assert healed is not first  # rebuilt, not the dead handle
    assert {r.vec_id: r.cid for r in healed.collect()} == rows
    # the heal is OBSERVABLE (ADVICE r13): exactly one rebuild counted
    assert ivf_index.memo_heal_count() == heals_before + 1
    # the healed entry replaced the dead one in place and is served on
    # the next hit
    assert ivf_index.shared_hier_assignment(spark, emb, token, k, ns) is healed

    # a never-materialized lazy checkpoint reports healthy (lineage
    # intact, nothing to lose)
    lazy = emb.localCheckpoint(eager=False)
    assert ivf_index._memo_value_healthy(lazy)


def test_memo_fingerprint_guards_token_reuse(spark, monkeypatch):
    """ADVICE r12: a consumer that reuses a token for a
    DIFFERENTLY-SHAPED projection must not silently receive the other
    query's index — a schema-fingerprint mismatch rebuilds."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|fp|{n}"
    a = shared_hier_assignment(spark, emb, token, k, ns)
    # same token + geometry, but a double-cast projection: the vec
    # dtype key component AND the fingerprint both change -> rebuild
    emb2 = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    b = shared_hier_assignment(spark, emb2, token, k, ns)
    assert b is not a
    # an EXTRA column with the same vec dtype: only the fingerprint
    # catches it
    emb3 = emb.withColumn("extra", F.lit(1))
    c = shared_hier_assignment(spark, emb3, token, k, ns)
    assert c is not a and c is not b


# --- r13: deletion-aware serving + cell compaction --------------------------


def _tiny_assignment(spark):
    """A hand-built (vec_id, cid) assignment: 3 cells x 4 rows."""
    rows = [(cid * 10 + i, cid) for cid in (0, 1, 2) for i in range(4)]
    return spark.createDataFrame(rows, "vec_id long, cid long")


def test_maintain_live_assignment_excludes_tombstones(spark):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    tombs = base.filter(F.col("vec_id") % 37 == 5).select("vec_id")
    out = maintain(
        spark, base, delta,
        f"{SF}/embeddings|base|{cut}", f"{SF}/embeddings|delta|{n - cut}",
        k, ns, tombstones=tombs,
    )
    tomb_ids = {r.vec_id for r in tombs.collect()}
    assert tomb_ids  # the convention plants some at this scale
    all_ids = {r.vec_id for r in out["assignment"].collect()}
    live_ids = {r.vec_id for r in out["live_assignment"].collect()}
    assert live_ids == all_ids - tomb_ids


def test_serving_never_returns_a_tombstoned_vector(spark):
    """The seam itself, on planted data: the nearest neighbor is
    tombstoned — it must vanish from the shortlist while every other
    candidate survives."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        exclude_tombstones,
    )

    shortlist = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], "vec_id long, cid long"
    )
    # at-least-once delete log: duplicates must not multiply rows
    tombs = spark.createDataFrame([(2,), (2,)], "vec_id long")
    live = exclude_tombstones(shortlist, tombs)
    assert {r.vec_id for r in live.collect()} == {1, 3}
    # None = no delete log: the shortlist passes through untouched
    assert exclude_tombstones(shortlist, None) is shortlist


def test_compact_cells_rewrites_only_flagged(spark, tmp_path):
    """compact_cells must (a) drop tombstones from flagged cells,
    (b) never open — let alone rewrite — unflagged cells' files,
    (c) remove a fully-emptied flagged cell's directory, and
    (d) report exact per-cell stats."""
    import os

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        read_cell_index,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)

    # tombstones: one row of cell 0, ALL of cell 2, one row of the
    # UNFLAGGED cell 1 (must survive — cell 1 is not compacted)
    tombs = spark.createDataFrame(
        [(0,), (20,), (21,), (22,), (23,), (11,)], "vec_id long"
    )
    unflagged_dir = os.path.join(path, "cid=1")
    before = {
        f: os.stat(os.path.join(unflagged_dir, f)).st_mtime_ns
        for f in os.listdir(unflagged_dir)
    }

    stats = compact_cells(spark, path, tombs, [0, 2])
    srows = {r.cid: (r.n_before, r.n_removed, r.n_after) for r in stats.collect()}
    assert srows == {0: (4, 1, 3), 2: (4, 4, 0)}

    after = read_cell_index(spark, path)
    got = {(r.vec_id, r.cid) for r in after.select("vec_id", "cid").collect()}
    # cell 0: one tombstone dropped; cell 1 untouched (11 still there);
    # cell 2 gone entirely
    assert got == {(1, 0), (2, 0), (3, 0), (10, 1), (11, 1), (12, 1), (13, 1)}
    assert not os.path.exists(os.path.join(path, "cid=2"))
    # byte-level proof cell 1 was never rewritten
    assert {
        f: os.stat(os.path.join(unflagged_dir, f)).st_mtime_ns
        for f in os.listdir(unflagged_dir)
    } == before


def test_compact_cells_empty_flag_list_is_noop(spark, tmp_path):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)
    tombs = spark.createDataFrame([(0,)], "vec_id long")
    stats = compact_cells(spark, path, tombs, [])
    assert stats.count() == 0


def test_compact_cells_accepts_cells_frame(spark, tmp_path):
    """The natural caller passes maintain()['cells'] filtered on
    needs_compact — a frame with a cid column."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)
    tombs = spark.createDataFrame([(0,), (10,)], "vec_id long")
    flagged = spark.createDataFrame([(0,)], "cid long")
    stats = compact_cells(spark, path, tombs, flagged)
    assert {r.cid: r.n_removed for r in stats.collect()} == {0: 1}


def test_chained_cycles_match_inline_full_assignment(spark, monkeypatch):
    """VERDICT r12 #2 done-criterion: after 3 chained ingest cycles the
    assignment equals the inline full assignment of base UNION all
    deltas at base geometry — and cycle N's call assigns ONLY its own
    delta (one new memo family per cycle, holding that delta's rows;
    the base and earlier cycles are memo hits)."""
    from signal_messenger_vector_database_spark.operators import ivf_index

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    s = (n - cut) // 3
    b1, b2 = cut + s, cut + 2 * s
    base = emb.filter(F.col("vec_id") < cut)
    bounds = [(cut, b1), (b1, b2), (b2, n)]
    deltas = [
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        for lo, hi in bounds
    ]
    bt = f"{SF}/embeddings|chain-base|{cut}"
    dts = [
        f"{SF}/embeddings|chain-c1|{cut}-{b1}",
        f"{SF}/embeddings|chain-c2|{b1}-{b2}",
        f"{SF}/embeddings|chain-c3|{b2}-{n}",
    ]

    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    inline = ivf_index.shared_hier_assignment_chain(
        spark, base, deltas, bt, dts, k, ns
    )
    inline_rows = {r.vec_id: r.cid for r in inline.collect()}
    assert len(inline_rows) == n

    monkeypatch.delenv("SMVD_IVF_MEMO")
    ivf_index.shared_hier_assignment(spark, base, bt, k, ns)
    memo = ivf_index._SESSION_MEMO[spark]
    for i, (lo, hi) in enumerate(bounds, start=1):
        before = set(memo)
        c = ivf_index.shared_hier_assignment_chain(
            spark, base, deltas[:i], bt, dts[:i], k, ns
        )
        (fam,) = [f for f in memo if f not in before]
        assert {r.vec_id for r in memo[fam][2].collect()} == set(range(lo, hi))
        assert {r.vec_id for r in c.collect()} == set(range(hi))
    # cycle 3: full parity with the inline one-shot assignment
    assert {r.vec_id: r.cid for r in c.collect()} == inline_rows

    # a repeat call adds no family and reuses the same part frames
    before = {f: v[2] for f, v in memo.items()}
    again = ivf_index.shared_hier_assignment_chain(
        spark, base, deltas, bt, dts, k, ns
    )
    assert set(memo) == set(before)
    assert all(memo[f][2] is v for f, v in before.items())
    assert {r.vec_id: r.cid for r in again.collect()} == inline_rows


def test_chain_with_no_deltas_is_the_base_assignment(spark, monkeypatch):
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
        shared_hier_assignment_chain,
    )

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    emb, n, k, ns = _load(spark)
    token = f"{SF}/embeddings|chain-empty|{n}"
    a = shared_hier_assignment_chain(spark, emb, [], token, [], k, ns)
    b = shared_hier_assignment(spark, emb, token, k, ns)
    assert a is b  # same memo family: the chain degenerates exactly


def test_pq_encode_delta_tiers_bit_identical(spark, monkeypatch):
    """shared_pq_encode_delta (r13): the incoming batch encoded against
    base-frozen codebooks must be bit-identical inline and memoized; with
    the base trained, the memoized call adds exactly ONE family (the
    delta codes, only the delta's rows), and a repeat call reads scans
    of the memo parts."""
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators import ivf_index
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_pq_encode_delta,
        shared_pq_parts,
    )
    from signal_messenger_vector_database_spark.plans.pq_trained import (
        _OPD,
        _op_sub_rows,
    )

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    cut = n - max(50, n // 10)
    subs_all = _op_sub_rows(emb)
    base_subs = subs_all.filter(F.col("vec_id") < cut).localCheckpoint(
        eager=False
    )
    delta_subs = subs_all.filter(F.col("vec_id") >= cut)
    bt, dt = f"{SF}/embeddings|pqd-base|{cut}", f"{SF}/embeddings|pqd-delta|{n - cut}"

    monkeypatch.setenv("SMVD_IVF_MEMO", "0")
    inline_codes, inline_cb = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    want = {(r.vec_id, r.sub_j): r.code for r in inline_codes.collect()}
    assert {v for v, _ in want} == set(range(n))  # base ∪ delta covered

    # the base part must equal shared_pq_parts(base) exactly (frozen
    # codebooks = the base training's own output)
    af_base, _cb = shared_pq_parts(spark, base_subs, bt, _OPD, 16, 1)
    base_part = {(r.vec_id, r.sub_j): r.code for r in af_base.collect()}
    assert base_part == {k: v for k, v in want.items() if k[0] < cut}

    monkeypatch.delenv("SMVD_IVF_MEMO")
    # pre-train the base the way a deployment's build step would
    shared_pq_parts(spark, base_subs, bt, _OPD, 16, 1)[0].count()
    memo = ivf_index._SESSION_MEMO[spark]
    before = set(memo)
    memo_codes, _ = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    assert {(r.vec_id, r.sub_j): r.code for r in memo_codes.collect()} == want
    (fam,) = [f for f in memo if f not in before]  # ONLY the delta codes
    assert {r.vec_id for r in memo[fam][2].collect()} == set(range(cut, n))

    again, _ = shared_pq_encode_delta(
        spark, base_subs, delta_subs, bt, dt, _OPD, 16, 1
    )
    plan = again._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan and "Join" not in plan
    assert plan.count("Scan ExistingRDD") == 2


def test_cell_candidates_prunes_to_the_routed_directories(spark, tmp_path):
    """Serving off the stored index must be O(routed cells) IO end to
    end.  r13 direct-path arm (local index): the routed ``cid=<n>``
    paths are CONSTRUCTED, so nothing else is even LISTED — the scan's
    whole relation (inputFiles) is confined to the routed directories,
    closing the wave-24 k-proportional-listing residual.  Fallback arm
    (non-local URI): the cid filter is a PARTITION filter, so only the
    routed directories' files are opened even when the store's own
    listing discovers every partition."""
    from signal_messenger_vector_database_spark.operators import ivf_index
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        write_cell_index,
    )

    path = str(tmp_path / "idx")
    write_cell_index(_tiny_assignment(spark), path)

    one = cell_candidates(spark, path, 1)
    # direct-path: the relation itself contains ONLY cid=1 files
    assert one.inputFiles() and all("cid=1" in f for f in one.inputFiles())
    assert {r.vec_id for r in one.collect()} == {10, 11, 12, 13}
    assert {r.cid for r in one.collect()} == {1}  # basePath keeps cid

    two = cell_candidates(spark, path, [0, 2])
    assert two.inputFiles() and all(
        "cid=0" in f or "cid=2" in f for f in two.inputFiles()
    )
    assert {r.vec_id for r in two.collect()} == {0, 1, 2, 3, 20, 21, 22, 23}

    # a flagged cid with no directory contributes nothing, not an error
    assert {r.vec_id for r in cell_candidates(spark, path, [1, 99]).collect()} == {
        10, 11, 12, 13,
    }

    # ALL routed cells absent: provably-empty answer must NOT fall back
    # to the k-listing root read — schema borrowed from a donor cell
    # dir, zero rows, relation confined to that one directory
    gone = cell_candidates(spark, path, [97, 99])
    assert gone.collect() == []
    assert set(gone.columns) == set(
        ivf_index.read_cell_index(spark, path).columns
    )
    assert all("cid=" in f for f in gone.inputFiles())

    # object-store URIs decline direct construction
    assert ivf_index._cell_paths(spark, "s3://bucket/idx", [1]) is None

    # an unqualified path in a session whose fs.defaultFS is NOT local
    # must decline too: Spark would resolve it against the cluster FS
    # while os.path probes the driver's local disk (r13 code review)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_fs = hconf.get("fs.defaultFS")
    try:
        hconf.set("fs.defaultFS", "hdfs://nn:8020")
        assert ivf_index._cell_paths(spark, path, [1]) is None
    finally:
        hconf.set("fs.defaultFS", old_fs)
    assert ivf_index._cell_paths(spark, path, [1]) is not None

    # fallback arm (forced): the root read prunes via a PARTITION
    # filter on the scan node
    import re
    from unittest import mock

    with mock.patch.object(ivf_index, "_cell_paths", return_value=None):
        fb = cell_candidates(spark, path, 1)
    plan = fb._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and re.search(r"cid#\d+L? = 1", m.group(1)), plan[:2000]
    assert {r.vec_id for r in fb.collect()} == {10, 11, 12, 13}


def test_index_lifecycle_end_to_end(spark, tmp_path):
    """The whole r12+r13 lifecycle on one corpus, composed the way a
    scheduler would run it: build base index -> ingest a delta ->
    delete some ids -> maintain (accounting + live frame) -> serve
    WITHOUT the deleted ids -> materialize the cell index -> compact
    the flagged cells -> the compacted disk index equals the live
    frame exactly."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        compact_cells,
        exclude_tombstones,
        maintain,
        read_cell_index,
        write_cell_index,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    tombs = emb.filter(
        (F.col("vec_id") % 37 == 5) & (F.col("vec_id") < cut)
    ).select("vec_id")
    tomb_ids = {r.vec_id for r in tombs.collect()}

    out = maintain(
        spark, base, delta,
        f"{SF}/embeddings|lc-base|{cut}", f"{SF}/embeddings|lc-delta|{n - cut}",
        k, ns, tombstones=tombs,
    )
    live = {(r.vec_id, r.cid) for r in out["live_assignment"].collect()}
    assert tomb_ids and not {v for v, _ in live} & tomb_ids

    # serving: the query's cell shortlist, deletion-aware
    assign = out["assignment"]
    qcid = assign.filter(F.col("vec_id") == 0).collect()[0].cid
    shortlist = assign.filter(F.col("cid") == qcid)
    served = {
        r.vec_id for r in exclude_tombstones(shortlist, tombs).collect()
    }
    assert served == {v for v, c in live if c == qcid}

    # storage: materialize, compact ONLY the flagged cells, then verify
    # the disk index serves the same live rows for those cells
    idx = str(tmp_path / "idx")
    write_cell_index(assign, idx)
    flagged = out["cells"].filter(F.col("needs_compact"))
    flagged_ids = {r.cid for r in flagged.select("cid").collect()}
    assert flagged_ids  # the %37 tombstones flag cells at this scale
    stats = compact_cells(spark, idx, tombs, flagged)
    assert {r.cid for r in stats.collect()} == flagged_ids

    disk = {
        (r.vec_id, r.cid)
        for r in read_cell_index(spark, idx).select("vec_id", "cid").collect()
    }
    for cid in flagged_ids:  # compacted cells: tombstones physically gone
        assert {v for v, c in disk if c == cid} == {
            v for v, c in live if c == cid
        }
    # unflagged cells still carry their tombstones on disk (the policy:
    # physical reclaim is for flagged cells; serving reads compose
    # cell_candidates + exclude_tombstones until then)
    still = {
        r.vec_id
        for r in exclude_tombstones(
            cell_candidates(spark, idx, sorted(flagged_ids | {qcid})), tombs
        ).collect()
    }
    assert not still & tomb_ids


def test_composed_filtered_tombstone_serving(spark, tmp_path):
    """The full r13 serving stack in ONE query, composed off the STORED
    index the way a production point query runs: widened 2-cell probe
    (route_query_cells) -> direct-path candidate read (cell_candidates)
    -> tombstone anti-join (exclude_tombstones) -> attribute predicate
    -> exact cosine re-rank.  Must equal the exact recompute over the
    surviving, predicate-matching members of the routed cells — every
    seam composes without changing the answer."""
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        exclude_tombstones,
        shared_hier_assignment,
        write_cell_index,
    )

    sf = "/root/testdata/sf0.01"  # big enough that each cell has labels
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )

    emb = load_table(spark, sf, "embeddings")
    n = parquet_row_count(sf, "embeddings")
    k = scaled_cluster_count(n)
    ns = hier_super_count(k)
    assign = shared_hier_assignment(
        spark, emb, f"{sf}/embeddings|composed|{n}", k, ns
    )
    idx = str(tmp_path / "idx")
    write_cell_index(assign, idx)

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cids = [
        r.cid
        for r in route_query_cells(
            q, ivf_seed_centroids(emb, k), ns, n_cells=2
        ).collect()
    ]
    assert len(cids) == 2
    tombs = emb.filter(F.col("vec_id") % 37 == 5).select("vec_id")

    served = (
        exclude_tombstones(cell_candidates(spark, idx, cids), tombs)
        .join(emb, "vec_id")
        .filter(F.col("label") == 3)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
        .collect()
    )
    assert served  # the composed stack returns hits at this scale

    # exact recompute over the surviving, label-matching routed members
    tomb_ids = {r.vec_id for r in tombs.collect()}
    members = {
        r.vec_id
        for r in assign.filter(F.col("cid").isin([int(c) for c in cids])).collect()
    }
    want = (
        emb.filter(
            F.col("vec_id").isin([int(v) for v in members - tomb_ids])
            & (F.col("label") == 3)
        )
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(5)
        .collect()
    )
    assert [(r.vec_id, r.sim) for r in served] == [
        (r.vec_id, r.sim) for r in want
    ]
    assert not {r.vec_id for r in served} & tomb_ids


def test_maintain_accepts_chained_cycles(spark):
    """r13 policy-layer completion: `maintain` over N chained cycles.
    The assignment must equal the single-delta form over the union
    (frozen quantizer: per-row assignment is chain-invariant), and the
    occupancy convention is cycle-correct — cycles 1..N-1 count LIVE
    (the established index), only the newest batch counts NEW.  Pinned
    against the equivalent re-based single-delta call (base' = base ∪
    d1 ∪ d2, delta = d3): same k, same seeds (the lowest-k ids live in
    base), so cells and decision must match exactly."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    emb, n, k, ns = _load(spark)
    cut = n - max(50, n // 10)
    s = (n - cut) // 3
    b1, b2 = cut + s, cut + 2 * s
    base = emb.filter(F.col("vec_id") < cut)
    d1 = emb.filter((F.col("vec_id") >= cut) & (F.col("vec_id") < b1))
    d2 = emb.filter((F.col("vec_id") >= b1) & (F.col("vec_id") < b2))
    d3 = emb.filter(F.col("vec_id") >= b2)
    tombs = emb.filter(
        (F.col("vec_id") < cut) & (F.col("vec_id") % 37 == 5)
    ).select("vec_id")

    chain = maintain(
        spark, base, [d1, d2, d3],
        f"{SF}/embeddings|mc-base|{cut}",
        [
            f"{SF}/embeddings|mc-c1|{cut}-{b1}",
            f"{SF}/embeddings|mc-c2|{b1}-{b2}",
            f"{SF}/embeddings|mc-c3|{b2}-{n}",
        ],
        k, ns, tombstones=tombs,
    )
    rebased = maintain(
        spark, emb.filter(F.col("vec_id") < b2), d3,
        f"{SF}/embeddings|mc-rebase|{b2}",
        f"{SF}/embeddings|mc-c3b|{b2}-{n}",
        k, ns, tombstones=tombs,
    )
    assert {
        (r.vec_id, r.cid) for r in chain["assignment"].collect()
    } == {(r.vec_id, r.cid) for r in rebased["assignment"].collect()}
    cells_c = {r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
               for r in chain["cells"].collect()}
    cells_r = {r.cid: (r.n_live, r.n_tomb, r.n_new, r.needs_split, r.needs_compact)
               for r in rebased["cells"].collect()}
    assert cells_c == cells_r
    assert [tuple(r) for r in chain["decision"].collect()] == [
        tuple(r) for r in rebased["decision"].collect()
    ]
    # live frame excludes the tombstones in the chain form too
    tomb_ids = {r.vec_id for r in tombs.collect()}
    live = {r.vec_id for r in chain["live_assignment"].collect()}
    assert tomb_ids and not live & tomb_ids
    assert live == set(range(n)) - tomb_ids


def test_maintain_empty_delta_list_is_the_no_ingest_cycle(spark):
    """r13 code review: `maintain(spark, base, [], ..., [])` used to
    IndexError on `deltas[-1]`.  It is a legitimate scheduler call —
    a cycle with deletes but no ingest: base-only assignment, zero
    'new' rows, tombstone accounting and the rebuild decision intact."""
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )

    emb, n, k, ns = _load(spark)
    tombs = emb.filter(F.col("vec_id") % 37 == 5).select("vec_id")
    out = maintain(
        spark, emb, [], f"{SF}/embeddings|noing|{n}", [], k, ns,
        tombstones=tombs,
    )
    assert out["assignment"].count() == n
    cells = out["cells"].collect()
    assert sum(r.n_new for r in cells) == 0
    assert sum(r.n_tomb for r in cells) == len(
        {r.vec_id for r in tombs.collect()}
    )
    dec = out["decision"].collect()[0]
    assert dec.k == k and isinstance(dec.rebuild_recommended, bool)


def test_cell_candidates_fully_compacted_index_is_empty_not_error(
    spark, tmp_path
):
    """ADVICE r13: when EVERY cid= directory of a local index has been
    compacted away (no schema donor remains), the contract's answer is
    an empty frame with the canonical (vec_id, cid) schema — the old
    fall-through to the root read threw 'unable to infer schema'.  A
    root that does not exist at all is a caller bug and must fail
    loudly instead of masquerading as an empty index."""
    import pytest as _pytest

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
    )

    from signal_messenger_vector_database_spark.operators.ivf_index import (
        write_cell_index,
    )

    root = tmp_path / "compacted_away_idx"
    root.mkdir()  # index root exists, zero cid= directories remain
    got = cell_candidates(spark, str(root), [0, 1])
    assert got.count() == 0

    # the empty shape must MATCH a real donor-path read of the same
    # index layout (r14 review: vec_id long as stored, cid as the
    # partition-INFERRED int — a fabricated long cid would diverge
    # from every non-empty read)
    real_root = tmp_path / "real_idx"
    write_cell_index(
        spark.createDataFrame([(1, 0), (2, 1)], "vec_id long, cid int"),
        str(real_root),
    )
    real = cell_candidates(spark, str(real_root), [0])
    assert got.dtypes == real.dtypes, (got.dtypes, real.dtypes)

    with _pytest.raises(FileNotFoundError):
        cell_candidates(spark, str(tmp_path / "no_such_idx"), [0])


def test_batched_serving_equals_per_query_serving(spark):
    """topk_ivf_batch must return, for EVERY qid, exactly what a
    single-query routed serve of that vector returns — the batch path
    amortizes the corpus join and swaps orderBy/limit for a per-qid
    window, and neither change may move an answer.  The single-query
    side is recomputed here with the same operators but the
    SINGLE-query code shape (1-row route frame, global orderBy/limit),
    so the per-qid window keying is what this test actually pins."""
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import load_table
    from signal_messenger_vector_database_spark.operators.ann import (
        ivf_seed_centroids,
        route_query_cells,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        shared_hier_assignment,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _BATCH_K,
        _BATCH_Q,
        _topk_ivf_batch,
    )

    batch = _topk_ivf_batch(spark, SF).collect()
    assert len(batch) == _BATCH_Q * _BATCH_K
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r.qid, []).append((r.vec_id, r.sim))

    emb, n, k, ns = _load(spark)
    assign = shared_hier_assignment(spark, emb, f"{SF}/embeddings|{n}", k, ns)
    for qid in range(_BATCH_Q):
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qv")
        )
        qcells = route_query_cells(
            q, ivf_seed_centroids(emb, k), ns, n_cells=2
        )
        single = (
            emb.join(
                assign.join(F.broadcast(qcells), "cid").select("vec_id"),
                "vec_id",
            )
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                F.floor(cosine_similarity("embedding", "qv") * 10000 + 0.5)
                .cast("long")
                .alias("s"),
            )
            .orderBy(F.desc("s"), "vec_id")
            .limit(_BATCH_K)
            .collect()
        )
        expected = [(r.vec_id, r.s / 10000) for r in single]
        assert by_qid[qid] == expected, qid


def test_full_corpus_consumers_share_one_family(spark, monkeypatch):
    """The double-precision pair queries (semdedup, knn_graph_ivf,
    bitext_margin_pairs) and a float serving query (topk_ivf_filtered)
    take their assignment from ONE hier family for the embeddings
    corpus token: the seam input is the raw scan for all of them, so
    the vector dtype no longer splits the corpus into two builds."""
    from signal_messenger_vector_database_spark.operators import ivf_index
    from signal_messenger_vector_database_spark.plans.catalog import all_specs

    monkeypatch.delenv("SMVD_IVF_MEMO", raising=False)
    # isolate: earlier tests' families must not count here
    ivf_index._SESSION_MEMO.pop(spark, None)
    specs = all_specs()
    for name in (
        "semdedup", "knn_graph_ivf", "bitext_margin_pairs", "topk_ivf_filtered"
    ):
        assert specs[name].fn(spark, SF).collect(), name
    _emb, n, _k, _ns = _load(spark)
    token = f"{SF}/embeddings|{n}"
    families = [
        fam for fam in ivf_index._SESSION_MEMO[spark]
        if fam[0] == "hier" and fam[1] == token
    ]
    assert len(families) == 1, families


def test_embeddings_index_conventions_have_one_owner():
    """plans/embeddings_index.py is the only plan code that spells the
    embeddings corpus's memo token or the clamped incoming-batch cut; a
    plan that re-derived either by hand could key a second index."""
    from tests.test_materialize import _engine_lines

    forms = r"sf_dir\}/embeddings\||max\(1, \w+ - max\(50, \w+ // 10\)\)"
    hits = _engine_lines(forms, subs=("plans",))
    owner = "signal_messenger_vector_database_spark/plans/embeddings_index.py"
    assert hits and {h.split(":")[0] for h in hits} == {owner}, hits
