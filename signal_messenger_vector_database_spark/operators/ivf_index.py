"""Build-once shared IVF assignment (VERDICT r10 #3).

The x64 probe showed the two-level coarse assignment's n*(1+nprobe)*
sqrt(k) term as the dominant superlinear cost of the whole IVF family —
and SEVEN catalog consumers (semdedup, knn_graph_ivf, ivf_maintenance,
ann_recall_at_k, hard_negative_mining, both bitext queries) each
recompute the IDENTICAL assignment over the same corpus.  At 100 TB
the assignment must be a materialized index build amortized across
consumers, not a per-query recompute: build once, write (vec_id, cid)
to parquet keyed by the corpus, and let every consumer equi-join
against the stored index — per-query marginal cost linear in n.

Design — three tiers, cheapest honest one wins:

* **Session memo (default, r12)**: within one SparkSession the first
  inline build of a given (corpus token, content stamp, geometry) key
  is localCheckpoint'ed and handed — the SAME frame, so results are
  bit-identical by construction — to every later consumer of that key.
  A driver's queries run sequentially in one session (the bench, the
  correctness sweep, a notebook), so this is the index-manager
  behavior a production engine has anyway: build once per session,
  serve many.  Plan construction still never runs a job (the
  checkpoint is lazy) and every oracle string is untouched.
  ``SMVD_IVF_MEMO=0`` restores the per-call recompute — the scaling
  probes set it so their "inline" baseline keeps measuring the
  unamortized cost.  Retention: keyed per-session; STOPPED sessions
  are purged on the next seam access (the frames reference their
  session, so weakness alone can never fire — r12 code review); one
  live entry per (kind, token, geometry) family, superseded in place
  when the file-stat content stamp or the input frame's schema
  fingerprint changes, and the whole memo is LRU-bounded at
  ``SMVD_IVF_MEMO_MAX`` families (default 16) with the evicted
  frame's checkpoint blocks EXPLICITLY unpersisted — a long-lived
  notebook session over many corpora cannot pin unbounded storage
  (VERDICT r12 #6).

  **Cluster caveat (ADVICE r12)**: ``localCheckpoint`` truncates
  lineage, and its blocks are UNRECOVERABLE after executor loss — on
  a real cluster with dynamic allocation or preemption, a later seam
  consumer's action can fail mid-session with a missing-block error.
  That is acceptable in this repo's single-JVM local[n] harness (no
  executor ever leaves); a cluster deployment should point the seam
  at the durable tier instead (``SMVD_IVF_CACHE_DIR`` on shared
  storage — the memo never shadows it), or accept re-running the
  failed query with ``SMVD_IVF_MEMO=0``.  Since r13 the seam also
  SELF-HEALS at the next access (``_memo_value_healthy``): a memo hit
  whose checkpoint blocks are gone — executor loss, or a handle whose
  blocks were unpersisted out from under it — is detected driver-side
  (materialized-but-zero-cached-partitions in the block manager),
  dropped, and rebuilt from the caller's still-lineaged input instead
  of being served dead.  Only the action already in flight when the
  blocks vanish can still fail; every subsequent seam consumer gets a
  live frame.
* **Opt-in disk cache by environment** (``SMVD_IVF_CACHE_DIR``):
  when set (the scaling probe, a production deployment's index-build
  step, the bench's ``--warm-index`` arm), the first consumer
  materializes the assignment to parquet and later consumers —
  including other processes — read it.  The memo never shadows this
  tier: cache-dir mode behaves exactly as in r11.
* **Corpus-keyed** (the ``tokenize_cl100k`` snapshot pattern): the
  cache key hashes the caller's corpus token (source path + row
  count), the source files' (mtime_ns, size) stats, and the full
  assignment geometry (k, n_super, nprobe) — a row-count, geometry,
  or source-file change (including an in-place update that preserves
  row count, via the file stats — ADVICE r11) misses to a fresh
  build.  The residual blind spot is an in-place rewrite that forges
  identical mtime+size; a deployment needing cryptographic staleness
  guarantees would swap ``_content_stamp`` for a content hash at
  build-pipeline cost.
* **Bit-identical by construction**: the cached frame is the parquet
  round-trip of the very DataFrame the inline path returns; (long,
  long) columns round-trip exactly, so consumers' results — and their
  DuckDB oracles — are unchanged either way (pinned by
  test_ivf_index).

Reference parity note: the reference installs pgvectorscale
(src/rag/sqlx.rs:22-29) whose DiskANN index IS a persisted build-once
structure — it just never builds one.  This operator is that missing
build step, Spark-shaped.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession

from ..io.materialize import hold, materialize, release
from ..io.sources import local_rows

_log = logging.getLogger(__name__)

# observable self-heal tally (ADVICE r13): a healthy deployment sees 0
# or the occasional executor-loss blip; a count climbing once per seam
# access is a false-positive heal loop silently defeating the memo.
_MEMO_HEAL_COUNT = 0


def memo_heal_count() -> int:
    """Number of memo self-heal rebuilds this process has performed."""
    return _MEMO_HEAL_COUNT

from .ann import ivf_assign_hier


def ivf_cache_dir() -> str | None:
    """The shared-index cache root, or None (inline path) when the
    deployment has not opted in."""
    return os.environ.get("SMVD_IVF_CACHE_DIR") or None


def _atomic_publish(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet at ``path`` via temp-dir + atomic rename
    (VERDICT r12 #5): two processes building the same cache key used to
    interleave ``mode=overwrite`` writes into ONE directory — a reader
    could see a half-replaced index with a _SUCCESS marker from the
    earlier write.  Now each builder writes its own sibling temp dir
    (same filesystem, so POSIX rename is atomic) and publishes with one
    rename; the destination is either absent or COMPLETE, never
    partial.

    Loser semantics: if the rename fails because another builder
    already published, our temp copy is discarded and the winner's
    index is used — safe because every build of a given key is
    DETERMINISTIC (seeded centroids, fixed geometry, exact-integer /
    dyadic-grid arithmetic), so any two builders' outputs are
    row-identical.  A crashed pre-atomic partial (directory present,
    no _SUCCESS) is removed before publishing; a crashed builder's
    stale temp dir is inert (never read — readers only open ``path``)
    and is cleaned up opportunistically here."""
    parent, name = os.path.dirname(path), os.path.basename(path)
    tmp = os.path.join(parent, f"{name}.__tmp_{os.getpid()}_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError(f"parquet write produced no _SUCCESS: {tmp}")
    # a partial destination (crashed writer predating the atomic
    # protocol) can never become complete — clear it so rename can land
    if os.path.isdir(path) and not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # lost the publish race: another builder's COMPLETE copy is in
        # place (deterministic build — identical content); drop ours
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise
    # NOTE: stale temp dirs from CRASHED builders are left in place —
    # they are inert (readers only ever open ``path``) and removing
    # them here could race a live concurrent builder mid-write; a
    # deployment reclaims them with any age-based sweep of
    # ``*.__tmp_*`` under the cache root.


# --- session-scoped memo (the default tier; module docstring) -------------
# One dict per SparkSession.  Retention discipline (r12 code review):
# the memoized DataFrames strongly reference their session, so a weak
# map alone can never collect an entry — instead every access PURGES
# sessions whose context reports stopped (sc._jsc is None after
# SparkContext.stop()), which breaks the value->key cycle and frees the
# frames.  Within a live session each (kind, token, geometry) FAMILY
# holds at most ONE entry: a content-stamp change supersedes in place,
# dropping the stale frame's last reference so its checkpoint blocks
# are reclaimable, instead of pinning every superseded assignment for
# the session's lifetime.

_SESSION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _memo_enabled() -> bool:
    return os.environ.get("SMVD_IVF_MEMO", "1") != "0"


def _session_stopped(spark: SparkSession) -> bool:
    """True only when the context AFFIRMATIVELY reports stopped
    (SparkContext.stop() sets _jsc = None).  'Context unavailable'
    (e.g. Spark Connect raises on .sparkContext) is NOT stopped —
    classifying it stopped would purge live sessions on every access
    and silently disable the memo tier (r12 code review)."""
    try:
        sc = spark.sparkContext
    except Exception:
        return False
    return getattr(sc, "_jsc", None) is None


def _memo(spark: SparkSession) -> dict:
    for s in list(_SESSION_MEMO.keys()):
        if _session_stopped(s):
            _SESSION_MEMO.pop(s, None)  # pop: race-free under threads
    d = _SESSION_MEMO.get(spark)
    if d is None:
        d = {}
        _SESSION_MEMO[spark] = d
    return d


def _memo_max() -> int:
    """Live-family cap per session (VERDICT r12 #6): supersede-in-place
    bounds each family to one entry, but a long-lived session over many
    corpora accumulates FAMILIES — each pinning checkpointed blocks for
    the session's lifetime.  16 is far above any one pipeline's working
    set (the whole 46-query bench touches 7 distinct families)."""
    return max(1, int(os.environ.get("SMVD_IVF_MEMO_MAX", "16")))


def _memo_frame_jrdds(val):
    """The JVM RDD handle(s) behind a memo value's localCheckpoint'ed
    frame(s): a checkpointed DataFrame's analyzed plan is a LogicalRDD
    carrying the MEMORY_AND_DISK blocks.  Yields nothing for handles
    that cannot be reached (Spark Connect has no _jdf; a plan that is
    not a LogicalRDD) — callers treat absence as 'no claim'."""
    frames = val if isinstance(val, tuple) else (val,)
    for df in frames:
        try:
            yield df._jdf.queryExecution().analyzed().rdd()
        except Exception:
            continue


def _memo_value_healthy(val) -> bool:
    """Self-heal guard on memo hits (ADVICE r12, the cluster caveat
    made recoverable): localCheckpoint truncates lineage at
    materialization, and its blocks are UNRECOVERABLE after executor
    loss — a hit handed out after the blocks vanished fails the
    consumer's action with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  Detect
    exactly that state driver-side (no job): a frame whose RDD reports
    ``isCheckpointed`` (materialization happened) but whose block-
    manager storage info shows FEWER cached partitions than the RDD
    has is a dead handle — the seam drops the entry and REBUILDS from
    the caller's still-lineaged input instead of serving it.
    Fewer-than-n, deliberately NOT zero-only (r14 review, reversing
    the first cut at ADVICE r13): losing ONE executor's share of the
    blocks leaves cached > 0 while every consumer action fails with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — Spark performs no unpersist
    cascade on the failed action, so a zero-only predicate would
    serve that dead handle until process restart.  The ADVICE's
    false-positive worry (a benign partial-caching state silently
    rebuilding on every hit, defeating the memo) is answered by
    OBSERVABILITY instead of by narrowing the predicate: every heal
    is counted (``memo_heal_count``) and logged, so a rebuild loop is
    one grep away.  A never-materialized lazy checkpoint
    (isCheckpointed False) is healthy by construction: its lineage is
    intact.  Anything unreachable (Connect, non-LogicalRDD plans) is
    assumed healthy — the pre-r13 behavior, never worse."""
    for jrdd in _memo_frame_jrdds(val):
        try:
            if not jrdd.isCheckpointed():
                continue
            n = jrdd.getNumPartitions()
            if n <= 0:
                continue
            sc = jrdd.sparkContext()
            cached = 0
            it = sc.getRDDStorageInfo()
            for info in it:
                if info.id() == jrdd.id():
                    cached = info.numCachedPartitions()
                    break
            if cached < n:
                return False
        except Exception:
            continue
    return True


def _release_memo_value(val) -> None:
    """EXPLICIT release of an evicted entry's checkpoint blocks, rather
    than waiting for GC + ContextCleaner to notice the dropped
    reference.  Values are a frame or a tuple of frames (the PQ pair)."""
    for df in val if isinstance(val, tuple) else (val,):
        release(df)


def _frame_fingerprint(df_or_tuple) -> str:
    """Cheap identity guard on memo hits (ADVICE r12): the family key
    is caller-supplied (token + geometry), so a future consumer that
    reuses a token for a DIFFERENTLY-DERIVED projection would silently
    receive another query's index.  The schema JSON catches the common
    form of that bug (different column set/types) at analysis cost
    only and is stable across localCheckpoint boundaries.  With
    ``SMVD_IVF_MEMO_ASSERT=1`` the fingerprint also mixes in
    ``semanticHash`` — a strict plan-identity check for tests/probes;
    not the default because consumers legitimately pass freshly
    localCheckpoint'ed inputs (the trained-PQ ``subs``), whose RDD-id
    plans hash differently on every call."""
    frames = df_or_tuple if isinstance(df_or_tuple, tuple) else (df_or_tuple,)
    parts = []
    for df in frames:
        try:
            parts.append(df.schema.json())
        except Exception:
            parts.append("?")
        if os.environ.get("SMVD_IVF_MEMO_ASSERT") == "1":
            try:
                parts.append(str(df.semanticHash()))
            except Exception:
                parts.append("?")
    return "|".join(parts)


def _memo_get_or_build(
    spark: SparkSession, family: tuple, stamp: str, build, fingerprint: str = ""
):
    """One live entry per family: a hit requires the stored content
    stamp AND input fingerprint to match; a mismatch rebuilds and
    REPLACES the entry (its blocks are explicitly unpersisted).  The
    memo is LRU-bounded per session (``_memo_max``): inserting past the
    cap evicts the least-recently-USED family and unpersists its
    blocks, so a long-lived notebook session over many corpora cannot
    pin unbounded checkpoint storage."""
    memo = _memo(spark)
    got = memo.get(family)
    if got is not None and got[0] == stamp and got[1] == fingerprint:
        if _memo_value_healthy(got[2]):
            memo[family] = memo.pop(family)  # LRU touch: move to newest
            return got[2]
        # dead handle (checkpoint blocks lost — executor loss, or
        # blocks externally unpersisted): fall through to rebuild,
        # which replaces the entry like any stamp mismatch.  Counted
        # and logged (ADVICE r13) so a false-positive heal LOOP —
        # which would silently defeat the memo — is observable:
        # memo_heal_count() climbing once per hit is the signature.
        global _MEMO_HEAL_COUNT
        _MEMO_HEAL_COUNT += 1
        _log.warning(
            "ivf memo self-heal #%d: dead checkpoint handle for family "
            "%s — rebuilding", _MEMO_HEAL_COUNT, family[:2],
        )
    val = build()
    # the memo's frames outlive the query that built them
    hold(*(val if isinstance(val, tuple) else (val,)))
    if got is not None:
        del memo[family]
        _release_memo_value(got[2])
    memo[family] = (stamp, fingerprint, val)
    while len(memo) > _memo_max():
        oldest = next(iter(memo))
        evicted = memo.pop(oldest)
        _release_memo_value(evicted[2])
    return val


def _vec_dtype(df: DataFrame, col: str) -> str:
    """The vector column's type, memo-key component: two callers may
    pass the same corpus token with float vs double projections — the
    assignment math casts to double internally so results are
    identical today, but the key should not BET on that staying true."""
    return df.schema[col].dataType.simpleString()


def _content_stamp(corpus_token: str) -> str:
    """File-stat component of the cache key (ADVICE r11): an in-place
    corpus content change that preserves row count (update, or
    delete+insert — exactly the ``ivf_maintenance`` regime) must MISS
    the cache, not serve a stale assignment.  By caller convention the
    token's '|'-pieces lead with the source path (``<sf_dir>/<table>``,
    parquet suffix elided); every piece that names an existing file
    (with or without ``.parquet``) or directory contributes its
    (mtime_ns, size).  Derivation-tag pieces contribute nothing — for a
    purely derived corpus the row count in the token plus the BASE
    file's stats remain the content signal.  Only ABSOLUTE paths are
    stat-probed (r12 adversarial review): a relative piece like
    'base' or a bare row count must never match a stray cwd file, or
    the key becomes cwd-dependent and churns spurious rebuilds."""
    parts: list[str] = []
    for piece in corpus_token.split("|"):
        if not os.path.isabs(piece):
            continue
        for cand in (piece, piece + ".parquet"):
            if os.path.isfile(cand):
                st = os.stat(cand)
                parts.append(f"{st.st_mtime_ns}:{st.st_size}")
                break
            if os.path.isdir(cand):
                for f in sorted(os.listdir(cand)):
                    st = os.stat(os.path.join(cand, f))
                    parts.append(f"{st.st_mtime_ns}:{st.st_size}")
                break
    return ";".join(parts)


def shared_hier_assignment(
    spark: SparkSession,
    emb: DataFrame,
    corpus_token: str,
    k: int,
    n_super: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_threshold: int = 4096,
) -> DataFrame:
    """The two-level coarse assignment, amortized: returns the same
    (id_col, cid) frame as ``ivf_assign_hier`` — from the corpus-keyed
    parquet index when ``SMVD_IVF_CACHE_DIR`` is set (building it on
    first use), else the session-memoized inline build (the first
    consumer of a key in this session pays the build, later ones reuse
    the same checkpointed frame; ``SMVD_IVF_MEMO=0`` restores per-call
    recompute).

    ``corpus_token`` must identify the corpus bytes the caller scans
    (e.g. ``f"{sf_dir}/embeddings|{n}"``); derived corpora pass their
    derivation tag so two different projections of the same table
    never share an index.

    Write discipline: the build is re-run whenever ``_SUCCESS`` is
    absent (a crashed partial write self-heals via mode=overwrite).
    Concurrent builders of the SAME key are out of scope — the cache
    is per-driver (one session's queries run sequentially); a
    multi-tenant deployment would front this with an atomic-rename or
    catalog-level lock, which parquet-on-object-store makes cheap."""

    def inline() -> DataFrame:
        from ..io.sources import ensure_parallelism

        # the assignment scan is row-local given the (broadcast)
        # centroids — spread a single-file input across the cores
        # (seeds derive from the UNSPREAD frame: an id-range filter,
        # partition-independent)
        return ivf_assign_hier(
            ensure_parallelism(emb),
            _seed(emb, k, id_col, vec_col),
            n_super,
            nprobe=nprobe,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=k,
            shard_threshold=shard_threshold,
        )

    cache = ivf_cache_dir()
    if cache is None:
        if not _memo_enabled():
            return inline()
        family = (
            "hier", corpus_token, k, n_super, nprobe, id_col, vec_col,
            shard_threshold, _vec_dtype(emb, vec_col),
        )
        return _memo_get_or_build(
            spark, family, _content_stamp(corpus_token),
            lambda: materialize(inline(), "ivf assignment", "lazy"),
            fingerprint=_frame_fingerprint(emb),
        )
    key = hashlib.md5(
        f"{corpus_token}|k={k}|ns={n_super}|np={nprobe}"
        f"|id={id_col}|vc={vec_col}|dt={_vec_dtype(emb, vec_col)}"
        f"|fs={_content_stamp(corpus_token)}".encode()
    ).hexdigest()[:20]
    path = os.path.join(cache, f"hier_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _atomic_publish(inline(), path)
    return spark.read.parquet(path).select(id_col, "cid")


def _seed(emb: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    from .ann import ivf_seed_centroids

    return ivf_seed_centroids(emb, k, id_col=id_col, vec_col=vec_col)


def shared_hier_assignment_delta(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    base_token: str,
    delta_token: str,
    k: int,
    n_super: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_threshold: int = 4096,
) -> DataFrame:
    """Incremental index maintenance through the build-once seam
    (VERDICT r11 #2): the (id, cid) assignment for ``base`` UNION
    ``delta`` with the coarse quantizer FROZEN at the base corpus —
    seeds (and therefore k, n_super) derive from ``base`` only, so an
    incoming batch never re-clusters the world.

    At 100 TB the daily reality is +0.1-1% new documents; a full
    rebuild per ingest (the shared_hier_assignment contract — a corpus
    change is a cache miss) costs the whole n*(1+nprobe)*sqrt(k)
    assignment again, while THIS path assigns only the delta:
    marginal cost linear in |delta| (probed by
    ``tools/ivf_share_probe.py --delta``).  Because the two-level
    assignment is per-row given fixed centroids, base-part rows are
    bit-identical to ``shared_hier_assignment(base, ...)`` — the delta
    path shares its cache key, so a deployment that built the base
    index pays ONLY the delta assignment here — and the whole result
    is bit-identical to the inline full assignment of base UNION delta
    at base geometry (pinned by test_ivf_index; the DuckDB twin is
    ``plans/ivf_sql.py::hier_assign_ctes(src=..., assign_src=...)``).

    Re-cluster policy stays with the caller: ``ivf_maintenance``'s
    split/compact flags (per-cell drift) are the trigger for
    scheduling a fresh ``shared_hier_assignment`` build; this operator
    is the cheap steady-state between those events."""

    def assign(df: DataFrame) -> DataFrame:
        from ..io.sources import ensure_parallelism

        return ivf_assign_hier(
            ensure_parallelism(df),
            _seed(base, k, id_col, vec_col),
            n_super,
            nprobe=nprobe,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=k,
            shard_threshold=shard_threshold,
        )

    cache = ivf_cache_dir()
    if cache is None:
        if not _memo_enabled():
            return assign(base.unionByName(delta))
        family = (
            "delta", base_token, delta_token, k, n_super, nprobe, id_col,
            vec_col, shard_threshold,
            _vec_dtype(base, vec_col), _vec_dtype(delta, vec_col),
        )
        stamp = f"{_content_stamp(base_token)};{_content_stamp(delta_token)}"
        return _memo_get_or_build(
            spark, family, stamp,
            lambda: materialize(
                assign(base.unionByName(delta)), "ivf assignment", "lazy"
            ),
            fingerprint=_frame_fingerprint((base, delta)),
        )
    base_part = shared_hier_assignment(
        spark, base, base_token, k, n_super,
        nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        shard_threshold=shard_threshold,
    )
    return base_part.unionByName(
        _delta_part(
            spark, cache, assign, base, delta, base_token, delta_token,
            k, n_super, nprobe, id_col, vec_col,
        )
    )


def _delta_part(
    spark, cache, assign, base, delta, base_token, delta_token,
    k, n_super, nprobe, id_col, vec_col,
) -> DataFrame:
    """The delta-only slice of a cached incremental assignment: read it
    if this (base, delta) pair was already assigned, else assign ONLY
    the delta (frozen base quantizer — ``assign`` closes over the base
    seeds) and publish it.  Shared by the single-delta path and the
    N-cycle chain so a chained cycle's parquet is byte-identical to
    what the single-delta call would have written."""
    dkey = hashlib.md5(
        f"{base_token}|delta|{delta_token}|k={k}|ns={n_super}|np={nprobe}"
        f"|id={id_col}|vc={vec_col}"
        f"|dt={_vec_dtype(base, vec_col)};{_vec_dtype(delta, vec_col)}"
        f"|fs={_content_stamp(base_token)};{_content_stamp(delta_token)}".encode()
    ).hexdigest()[:20]
    dpath = os.path.join(cache, f"hier_delta_{dkey}")
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
        _atomic_publish(assign(delta), dpath)
    return spark.read.parquet(dpath).select(id_col, "cid")


def shared_hier_assignment_chain(
    spark: SparkSession,
    base: DataFrame,
    deltas: list[DataFrame],
    base_token: str,
    delta_tokens: list[str],
    k: int,
    n_super: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_threshold: int = 4096,
) -> DataFrame:
    """N chained ingest cycles through the incremental seam (VERDICT
    r12 #2): the steady state at 100 TB is not base + ONE delta — it is
    delta-of-delta, cycle after cycle, until the ``maintain`` rebuild
    trigger fires.  Cycle i's "base" is the UNION of everything already
    assigned: the materialized base index plus cycles 1..i-1's delta
    parquets — never re-assigned, only READ.  The quantizer stays
    frozen at the ORIGINAL base corpus for every cycle (seeds derive
    from ``base`` only), so chaining N cycles is bit-identical to one
    full assignment of base ∪ all deltas at base geometry — pinned by
    test_ivf_index, oracle-twinned by the ``ivf_chain_assign`` catalog
    query (hier CTE chain, src=base / assign_src=whole-corpus).

    Cost shape (cached mode): calling the chain after cycle N's ingest
    assigns ONLY ``deltas[-1]`` — cycles 1..N-1's parts hit their
    parquet keys from the previous calls, the base part hits its
    build-once key.  Per-cycle cost is therefore flat in |delta|
    across cycles (probed by ``tools/ivf_share_probe.py
    --delta-chain``).  Each cycle's part is keyed by (base_token,
    delta_token_i) — the SAME key the single-delta path would use, so
    a deployment can mix single-delta and chain calls freely.

    Inline / memo mode: one job over base ∪ all deltas (bit-identical;
    the memo family keys on the full token tuple)."""
    if not deltas:
        return shared_hier_assignment(
            spark, base, base_token, k, n_super, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col, shard_threshold=shard_threshold,
        )
    if len(deltas) != len(delta_tokens):
        raise ValueError("deltas and delta_tokens must pair 1:1")

    def assign(df: DataFrame) -> DataFrame:
        from ..io.sources import ensure_parallelism

        return ivf_assign_hier(
            ensure_parallelism(df),
            _seed(base, k, id_col, vec_col),
            n_super,
            nprobe=nprobe,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=k,
            shard_threshold=shard_threshold,
        )

    def union_all() -> DataFrame:
        acc = base
        for d in deltas:
            acc = acc.unionByName(d)
        return acc

    cache = ivf_cache_dir()
    if cache is None:
        if not _memo_enabled():
            return assign(union_all())
        family = (
            "chain", base_token, tuple(delta_tokens), k, n_super, nprobe,
            id_col, vec_col, shard_threshold,
            _vec_dtype(base, vec_col),
            tuple(_vec_dtype(d, vec_col) for d in deltas),
        )
        stamp = ";".join(
            [_content_stamp(base_token)]
            + [_content_stamp(t) for t in delta_tokens]
        )
        return _memo_get_or_build(
            spark, family, stamp,
            lambda: materialize(assign(union_all()), "ivf assignment", "lazy"),
            fingerprint=_frame_fingerprint(tuple([base] + list(deltas))),
        )
    acc = shared_hier_assignment(
        spark, base, base_token, k, n_super,
        nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        shard_threshold=shard_threshold,
    )
    for d, t in zip(deltas, delta_tokens):
        acc = acc.unionByName(
            _delta_part(
                spark, cache, assign, base, d, base_token, t,
                k, n_super, nprobe, id_col, vec_col,
            )
        )
    return acc


def shared_pq_parts(
    spark: SparkSession,
    subs: DataFrame,
    corpus_token: str,
    d: int,
    k: int,
    rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """Trained-PQ parts (final assignment + codebooks), amortized the
    same way as the coarse assignment: the three trained-PQ catalog
    queries each retrain IDENTICAL codebooks over the same corpus
    (~10 s each at sf0.1 — the pq_train_inplace Lloyd rounds), and the
    residual curve trains its own set.  With ``SMVD_IVF_CACHE_DIR``
    set, the (sub_j, code, cw) codebooks and the (vec_id, sub_j, code)
    final assignment are parquet-materialized once per (corpus token,
    geometry); otherwise the session-memoized inline build (same memo
    contract as ``shared_hier_assignment``) — byte-identical every way
    (ints and 1e-4-grid doubles round-trip parquet exactly; pinned by
    test_ivf_index).  Same write discipline as the assignment cache."""
    from ..plans.pq_trained import pq_train_inplace

    cache = ivf_cache_dir()
    if cache is None:
        if not _memo_enabled():
            return pq_train_inplace(subs, d, k, rounds)
        # pq_train_inplace's outputs are already localCheckpoint'ed, so
        # memoizing the tuple reuses their materialized blocks directly.
        family = ("pq", corpus_token, d, k, rounds, _vec_dtype(subs, "sv"))
        return _memo_get_or_build(
            spark, family, _content_stamp(corpus_token),
            lambda: pq_train_inplace(subs, d, k, rounds),
            fingerprint=_frame_fingerprint(subs),
        )
    key = hashlib.md5(
        f"{corpus_token}|pq|d={d}|k={k}|r={rounds}"
        f"|dt={_vec_dtype(subs, 'sv')}"
        f"|fs={_content_stamp(corpus_token)}".encode()
    ).hexdigest()[:20]
    af_path = os.path.join(cache, f"pq_af_{key}")
    cb_path = os.path.join(cache, f"pq_cb_{key}")
    if not (
        os.path.exists(os.path.join(af_path, "_SUCCESS"))
        and os.path.exists(os.path.join(cb_path, "_SUCCESS"))
    ):
        af, cb = pq_train_inplace(subs, d, k, rounds)
        # two paths, published independently: a crash between the two
        # leaves af complete + cb absent, which the existence check
        # above treats as a miss — the retry's af publish then loses
        # its rename benignly (deterministic build, identical content)
        _atomic_publish(af, af_path)
        _atomic_publish(cb, cb_path)
    return (
        spark.read.parquet(af_path).select("vec_id", "sub_j", "code"),
        spark.read.parquet(cb_path).select("sub_j", "code", "cw"),
    )


def shared_pq_encode_delta(
    spark: SparkSession,
    base_subs: DataFrame,
    delta_subs: DataFrame,
    base_token: str,
    delta_token: str,
    d: int,
    k: int,
    rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """Incremental PQ encoding (r13): (codes for base ∪ delta,
    codebooks), with the codebooks TRAINED ON THE BASE ONLY and frozen
    — an incoming batch is encoded against them, never retrained into
    them.  The IVF twin of this seam is ``shared_hier_assignment_delta``;
    at 100 TB the daily +0.1-1% ingest must cost one encode pass over
    |delta| (a broadcast join against k tiny codewords), not the
    ``rounds``-round Lloyd retrain over the corpus.

    Tiers mirror the coarse-assignment seam: with ``SMVD_IVF_CACHE_DIR``
    set, the base parts ride ``shared_pq_parts``'s keys (a deployment
    that trained the base pays ONLY the delta encode, published to its
    own key via the atomic protocol); otherwise the session memo holds
    one entry per (base token, delta token, geometry) family; memo-off
    is one inline job.  Every arm is bit-identical: per-row encoding
    against fixed codebooks is placement-independent, and the base part
    equals ``shared_pq_parts(base)``'s assignment exactly — so the
    DuckDB twin is ``pq_train_cte_body(..., assign_src=<delta rel>)``
    unioned with the base ``af`` (the ``pq_encode_delta`` catalog
    query's oracle).  Drift policy stays with the caller: codebooks
    frozen at base go stale as the distribution moves — the
    ``embedding_drift`` monitor is the re-train trigger, exactly as
    ``maintain`` is the re-cluster trigger."""
    from ..plans.pq_trained import pq_assign_codes

    af_base, cb = shared_pq_parts(
        spark, base_subs, base_token, d, k, rounds
    )

    def encode() -> DataFrame:
        from ..io.sources import ensure_parallelism

        return pq_assign_codes(ensure_parallelism(delta_subs), cb, d)

    cache = ivf_cache_dir()
    if cache is None:
        if not _memo_enabled():
            return af_base.unionByName(encode()), cb
        family = (
            "pqdelta", base_token, delta_token, d, k, rounds,
            _vec_dtype(delta_subs, "sv"),
        )
        stamp = f"{_content_stamp(base_token)};{_content_stamp(delta_token)}"
        codes = _memo_get_or_build(
            spark, family, stamp,
            lambda: materialize(encode(), "pq delta codes", "lazy"),
            fingerprint=_frame_fingerprint(delta_subs),
        )
        return af_base.unionByName(codes), cb
    dkey = hashlib.md5(
        f"{base_token}|pqdelta|{delta_token}|d={d}|k={k}|r={rounds}"
        f"|dt={_vec_dtype(delta_subs, 'sv')}"
        f"|fs={_content_stamp(base_token)};{_content_stamp(delta_token)}".encode()
    ).hexdigest()[:20]
    dpath = os.path.join(cache, f"pq_delta_{dkey}")
    if not os.path.exists(os.path.join(dpath, "_SUCCESS")):
        _atomic_publish(encode(), dpath)
    return (
        af_base.unionByName(
            spark.read.parquet(dpath).select("vec_id", "sub_j", "code")
        ),
        cb,
    )


# --- maintenance policy: when does the delta path stop being enough? -------
# ``shared_hier_assignment_delta`` is the cheap steady-state; the
# catalog's ``ivf_maintenance`` computes the per-cell accounting that
# says when the frozen quantizer has drifted.  ``maintain`` composes
# the two into the decision a 100 TB deployment actually schedules on:
# assign the incoming batch, account occupancy, and recommend a
# re-cluster only once enough cells are flagged.  All rules are
# EXACT-INTEGER (the ivf_maintenance discipline — zero FP seams), and
# the flag expressions below are the ONE definition consumed by both
# the catalog query and this operator (shared-definition rule).


def cell_split_flag(n_live, n_new, k_col, total_col):
    """Overfull rule: occupancy > 1.1x the mean, in exact integers —
    10 * (n_live + n_new) * k > 11 * total.  Evaluated in
    decimal(38,0) (r12 code review): the occupancy x k product can
    exceed LongType at 1e11-row corpora with k ~ n/125, and with ANSI
    off Spark would wrap SILENTLY — decimal keeps the comparison exact
    at any scale and is value-identical to the bigint form wherever
    bigint doesn't overflow (so the DuckDB twin, which runs at fixture
    scale, is unchanged)."""
    from pyspark.sql import functions as F

    occ = (F.col(n_live) + F.col(n_new)).cast("decimal(38,0)")
    return occ * F.col(k_col) * 10 > F.col(total_col).cast(
        "decimal(38,0)"
    ) * 11


def cell_compact_flag(n_live, n_tomb):
    """Tombstone rule: live fraction < 0.98, in exact integers —
    50 * n_live < 49 * (n_live + n_tomb).  Long is safe here: per-cell
    counts are bounded by n, and 50n fits a long for any feasible n."""
    from pyspark.sql import functions as F

    return 50 * F.col(n_live) < 49 * (F.col(n_live) + F.col(n_tomb))


def occupancy_cells(tagged: DataFrame) -> DataFrame:
    """Per-cell occupancy accounting over a ``(cid, st)`` frame with
    st in {'live', 'tomb', 'new'}: (cid, n_live, n_tomb, n_new,
    needs_split, needs_compact).  ONE definition consumed by both the
    oracle-paired ``ivf_maintenance`` catalog query and ``maintain``
    (r12 code review: extracting only the flag expressions left the
    whole aggregate pipeline free to drift).  The split rule's mean is
    over NON-EMPTY cells (the aggregate's own row count) — the
    ivf_maintenance oracle convention."""
    from pyspark.sql import functions as F

    agg = tagged.groupBy("cid").agg(
        F.sum(F.when(F.col("st") == "live", 1).otherwise(0)).alias("n_live"),
        F.sum(F.when(F.col("st") == "tomb", 1).otherwise(0)).alias("n_tomb"),
        F.sum(F.when(F.col("st") == "new", 1).otherwise(0)).alias("n_new"),
    )
    tot = agg.agg(
        F.sum(F.col("n_live") + F.col("n_new")).alias("_total"),
        F.count(F.lit(1)).alias("_k"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("long").alias("cid"),
        F.col("n_live").cast("long").alias("n_live"),
        F.col("n_tomb").cast("long").alias("n_tomb"),
        F.col("n_new").cast("long").alias("n_new"),
        cell_split_flag("n_live", "n_new", "_k", "_total").alias(
            "needs_split"
        ),
        cell_compact_flag("n_live", "n_tomb").alias("needs_compact"),
    )


# re-cluster once more than 1 cell in _REBUILD_DENOM is flagged (exact
# integers: DENOM * n_flagged > k).  A policy constant, not a measured
# optimum — deployments tune it against their rebuild cost.
_REBUILD_DENOM = 10


def maintain(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame | list[DataFrame],
    base_token: str,
    delta_token: str | list[str],
    k: int,
    n_super: int,
    tombstones: DataFrame | None = None,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_threshold: int = 4096,
) -> dict[str, DataFrame]:
    """One ingest cycle of IVF index maintenance (the policy layer
    VERDICT r11 #2 left with the caller, made concrete):

    * ``assignment`` — (id_col, cid) for base UNION delta with the
      coarse quantizer frozen at the base corpus
      (``shared_hier_assignment_delta``: cached mode assigns ONLY the
      delta; inline is one job, bit-identical).
    * ``live_assignment`` — ``assignment`` minus the delete log (the
      ``exclude_tombstones`` anti-join): THE frame serving shortlists
      must route through (VERDICT r12 #1) — a deleted vector must stop
      being retrievable the cycle its tombstone lands, not at the next
      rebuild.
    * ``cells`` — per-cid (n_live, n_tomb, n_new, needs_split,
      needs_compact): delta rows count as new, ``tombstones`` rows
      (a frame of id_col values, e.g. the delete log — duplicates are
      deduplicated, and an id both inserted and deleted in the same
      cycle counts as TOMB) as tombstoned, the rest live — the
      exact-integer rules of the oracle-paired ``ivf_maintenance``
      catalog query via the shared ``occupancy_cells``.
    * ``decision`` — ONE row (k, n_flagged, rebuild_recommended):
      re-cluster when ``_REBUILD_DENOM * n_flagged > k``, i.e. more
      than 1 cell in 10 flagged.  ``k`` here is the CONFIGURED cell
      count (empty cells included — the index the scheduler owns),
      unlike the per-cell split rule's mean, which by the
      ivf_maintenance oracle convention is over non-empty cells.
      Below the threshold the steady state is this delta path; past
      it the caller schedules a fresh ``shared_hier_assignment``
      build (with the disk cache on, the changed corpus stamp makes
      that build a natural cache miss).

    **Identity contract (ADVICE r12)**: ``id_col`` values must be
    UNIQUE across base ∪ delta.  The tombstone tag joins on id over
    the WHOLE assignment, so modeling an update as tombstone-old +
    re-insert under the SAME id would tag the re-inserted delta row
    tomb as well (double-counting the id, hiding the live row from
    occupancy).  The supported update regime is delete + insert with
    a FRESH id — exactly what an append-only vector log (the
    reference's bigserial PK, src/rag/sqlx.rs:35) produces; tomb
    winning over new remains deliberate for a row inserted AND
    deleted under one id in the same cycle (it is dead).

    N-cycle form (r13): ``delta`` / ``delta_token`` may be LISTS — the
    chained steady state ``shared_hier_assignment_chain`` models.  The
    assignment then covers base ∪ all cycles (quantizer frozen at the
    original base; cached mode assigns only the newest batch), and the
    occupancy convention follows the cycle semantics: cycles 1..N-1
    are part of the ESTABLISHED index (``live``), only the NEWEST
    batch counts ``new`` — so split flags measure THIS cycle's ingest
    against everything already standing, exactly what the scheduler
    decides on at cycle N.  An EMPTY list is the no-ingest accounting
    cycle: base-only assignment, nothing new, tombstone/compact
    accounting still runs (r13 code review — this used to IndexError).

    Everything is returned as an unevaluated DataFrame — no driver
    action at construction (the repo rule); ``decision`` is a 1-row
    aggregate the scheduler collects."""
    from pyspark.sql import functions as F

    deltas = delta if isinstance(delta, list) else [delta]
    delta_tokens = (
        delta_token if isinstance(delta_token, list) else [delta_token]
    )
    if len(deltas) != len(delta_tokens):
        raise ValueError("delta and delta_token must pair 1:1")
    if len(deltas) == 1:
        assignment = shared_hier_assignment_delta(
            spark, base, deltas[0], base_token, delta_tokens[0], k, n_super,
            nprobe=nprobe, id_col=id_col, vec_col=vec_col,
            shard_threshold=shard_threshold,
        )
    else:
        # includes deltas == [] — the no-ingest accounting cycle (the
        # chain seam returns the base-only assignment; nothing counts
        # 'new', tombstone/compact accounting still runs)
        assignment = shared_hier_assignment_chain(
            spark, base, deltas, base_token, delta_tokens, k, n_super,
            nprobe=nprobe, id_col=id_col, vec_col=vec_col,
            shard_threshold=shard_threshold,
        )
    live_assignment = exclude_tombstones(assignment, tombstones, id_col)
    # membership sides are deduplicated (an at-least-once delete log
    # repeats ids) and NOT broadcast-hinted: both are real table
    # projections with stats (a day's delta or delete log can be
    # arbitrarily large at 100 TB) — Catalyst/AQE broadcasts them when
    # they are in fact small.
    if deltas:
        # occupancy 'new' = the NEWEST batch only (chain form: earlier
        # cycles are the established index)
        new_ids = (
            deltas[-1].select(F.col(id_col).alias("_mid"))
            .distinct()
            .withColumn("_new", F.lit(True))
        )
        tagged = assignment.join(
            new_ids, F.col(id_col) == F.col("_mid"), "left"
        ).drop("_mid")
    else:
        tagged = assignment.withColumn("_new", F.lit(None).cast("boolean"))
    if tombstones is not None:
        tomb_ids = (
            tombstones.select(F.col(id_col).alias("_mid"))
            .distinct()
            .withColumn("_tomb", F.lit(True))
        )
        tagged = tagged.join(
            tomb_ids, F.col(id_col) == F.col("_mid"), "left"
        ).drop("_mid")
    else:
        tagged = tagged.withColumn("_tomb", F.lit(None).cast("boolean"))
    # TOMB wins over NEW (r12 code review): a vector inserted and
    # deleted in the same cycle is dead — counting it 'new' would
    # inflate occupancy and hide it from the compact rule.
    tagged = tagged.select(
        "cid",
        F.when(F.col("_tomb"), "tomb")
        .when(F.col("_new"), "new")
        .otherwise("live")
        .alias("st"),
    )
    cells = occupancy_cells(tagged)
    # coalesce: SUM over an EMPTY cells frame (a cycle before first
    # ingest) is NULL — the decision contract is total (0 / False)
    decision = cells.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("needs_split") | F.col("needs_compact"), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_flagged"),
    ).select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_flagged").cast("long").alias("n_flagged"),
        (F.lit(_REBUILD_DENOM) * F.col("n_flagged") > F.lit(k)).alias(
            "rebuild_recommended"
        ),
    )
    return {
        "assignment": assignment,
        "live_assignment": live_assignment,
        "cells": cells,
        "decision": decision,
    }


# --- deletion-aware serving (VERDICT r12 #1) --------------------------------
# ``maintain`` ACCOUNTS tombstones, but until r13 no serving query
# EXCLUDED them: a deleted vector stayed retrievable from every IVF
# shortlist until the next full rebuild — at 100 TB with a daily delete
# log that is wrong answers, not slowness.  The serving fix is one
# anti-join placed INSIDE the shortlist (after the cell/probe routing
# restricts candidates, before the exact re-rank), so its cost is
# O(candidates), not O(n); the storage fix is ``compact_cells``, which
# rewrites ONLY the flagged cells of a cid-partitioned disk index.


def exclude_tombstones(
    shortlist: DataFrame,
    tombstones: DataFrame | None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Drop tombstoned ids from a candidate shortlist — THE serving
    seam for deletes (VERDICT r12 #1).  Call it on the routed
    candidate set (query-cell members), never the whole corpus: the
    anti-join is then O(candidates) x delete-log, an equi-join
    Catalyst/AQE broadcasts when the log is small and shuffles on id
    when it is not (deliberately NOT broadcast-hinted — a delete log
    can be arbitrarily large at 100 TB, the ``maintain`` discipline).
    The delete log is deduplicated (at-least-once logs repeat ids)."""
    if tombstones is None:
        return shortlist
    from pyspark.sql import functions as F

    tomb = tombstones.select(F.col(id_col)).distinct()
    return shortlist.join(tomb, id_col, "left_anti")


def write_cell_index(assignment: DataFrame, path: str) -> None:
    """Materialize an (id, cid, ...) assignment as a cid-PARTITIONED
    parquet index — one directory per coarse cell, the posting-list
    layout every disk ANN index uses (pgvectorscale's DiskANN keeps
    per-node neighborhoods the same way; the reference installs it at
    src/rag/sqlx.rs:27-29 and never builds one).  Partitioning by cell
    is what makes ``compact_cells`` proportional to FLAGGED cells: an
    unflagged cell's files are never opened, let alone rewritten.  At
    100 TB with k ~ n/125 this is many directories — the layout object
    stores are built for (a deployment shards the path by cid prefix if
    its listing layer needs it)."""
    assignment.write.mode("overwrite").partitionBy("cid").parquet(path)


def read_cell_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a cell-partitioned index back.  The partition column comes
    back as a real ``cid`` column; a cell-restricted filter
    (``cid = ?`` / ``cid IN (...)``) prunes to the named directories
    before any file is opened."""
    return spark.read.parquet(path)


def _cell_paths(spark: SparkSession, path: str, cids) -> list[str] | None:
    """Direct ``cid=<n>`` subdirectory paths for a cid list, or None
    when direct construction does not apply: an explicit non-local URI
    (object stores go through Spark's own listing; a deployment shards
    the index path by cid prefix instead, the wave-24 note), or an
    UNQUALIFIED path in a session whose ``fs.defaultFS`` is not the
    local filesystem — Spark would resolve it against HDFS/S3 while
    ``os.path`` probes the driver's local disk, and a stale same-named
    local directory could silently drop routed cells from serving
    (r13 code review).  Flagged cids whose directory no longer exists
    (already compacted empty) are skipped — they contribute no rows
    either way."""
    if "://" in path:
        return None
    try:
        fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    except Exception:
        return None  # Connect / no JVM access: cannot confirm resolution
    if fs and not fs.startswith("file:"):
        return None
    out = []
    for c in cids:
        p = os.path.join(path, f"cid={int(c)}")
        if os.path.isdir(p):
            out.append(p)
    return out


def _first_cell_dir(path: str) -> str | None:
    """Any one existing ``cid=`` directory under a local index root
    (streaming scandir — stops at the first match), or None.  Schema
    donor for the all-routed-cells-absent case."""
    try:
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith("cid=") and e.is_dir():
                    return e.path
    except OSError:
        return None
    return None


def cell_candidates(spark: SparkSession, path: str, cids) -> DataFrame:
    """The serving read of a cell-partitioned disk index: the candidate
    rows of the routed cell(s), with the paths of the named ``cid=<n>``
    directories CONSTRUCTED directly (r13, closing the wave-24
    residual: an isin-filter prune still LISTS every cell directory to
    discover partitions — k-proportional driver work; constructing the
    paths makes the read O(|routed cells|) end to end, listing
    included).  ``basePath`` keeps ``cid`` as a real column.  Non-local
    URIs fall back to the filter-pruned root read (only the routed
    directories' FILES are opened either way; pruning is asserted by
    test_ivf_index via the scan's inputFiles).  Compose with
    ``exclude_tombstones`` before the exact re-rank for deletion-aware
    serving off the stored index."""
    from pyspark.sql import functions as F

    if isinstance(cids, int):
        cids = [cids]
    cids = [int(c) for c in cids]
    paths = _cell_paths(spark, path, cids)
    if paths:
        return spark.read.option("basePath", path).parquet(*paths)
    if paths is not None:
        # [] — every routed cell's directory is absent (all compacted
        # away): the answer is provably empty, so do NOT fall back to
        # the k-listing root read (r13 code review) — borrow any one
        # existing cell dir for the schema and return zero rows
        donor = _first_cell_dir(path)
        if donor is not None:
            return (
                spark.read.option("basePath", path)
                .parquet(donor)
                .filter(F.lit(False))
            )
        # no donor either: the ENTIRE local index compacted away (zero
        # cid= directories).  The root read would throw 'unable to
        # infer schema' instead of the empty frame the contract
        # promises (ADVICE r13) — return it with the canonical shape a
        # donor-path read of a (vec_id, cid)-indexed root produces:
        # vec_id as stored (long), cid as the partition-INFERRED int
        # (r14 review — a long cid here would diverge from every
        # non-empty read of the same root).  Extra stored columns
        # cannot be reconstructed with zero directories left; indexes
        # carrying them should not compact their last cell away.  A
        # root that does not exist at all is a caller bug, not an
        # empty index: fail loudly.
        if os.path.isdir(path):
            return local_rows(spark, [], "vec_id long, cid int")
        raise FileNotFoundError(f"cell index root does not exist: {path}")
    return read_cell_index(spark, path).filter(F.col("cid").isin(cids))


def compact_cells(
    spark: SparkSession,
    path: str,
    tombstones: DataFrame,
    flagged_cids,
    id_col: str = "vec_id",
) -> DataFrame:
    """Rewrite ONLY the ``needs_compact``-flagged cells of a
    cid-partitioned disk index, dropping tombstoned ids (VERDICT r12
    #1).  Returns per-cell stats (cid, n_before, n_removed, n_after) —
    already materialized, safe to read after the rewrite.

    Cost shape: reads and rewrites the flagged cells' partitions only
    (the ``cell_candidates`` direct-path read — unflagged cells'
    directories are never listed, let alone opened; probed by
    ``tools/ivf_share_probe.py --compact``).  ``flagged_cids`` is a Python iterable of cids or a
    frame with a ``cid`` column (pass ``maintain()['cells']`` filtered
    on needs_compact); it is collected driver-side — bounded by the
    rebuild policy: past ~k/10 flagged cells the scheduler does a full
    rebuild instead of compacting (``_REBUILD_DENOM``).

    Write protocol: the survivors are localCheckpoint-materialized
    BEFORE the write (Spark refuses to overwrite a path its own plan
    reads), then published with per-write dynamic partition overwrite —
    only the partitions present in the output are replaced.  A flagged
    cell whose rows are ALL tombstoned produces no output partition, so
    its stale directory is removed explicitly.  Single-writer per index
    path (the ``maintain`` scheduler's job); concurrent compactors of
    the SAME path need a catalog-level lock, same as any dynamic
    partition overwrite."""
    from pyspark.sql import functions as F

    if hasattr(flagged_cids, "select"):
        flagged_cids = [r[0] for r in flagged_cids.select("cid").collect()]
    flagged_cids = sorted({int(c) for c in flagged_cids})
    stats_schema = "cid long, n_before long, n_removed long, n_after long"
    if not flagged_cids:
        return local_rows(spark, [], stats_schema)
    tomb = (
        tombstones.select(F.col(id_col))
        .distinct()
        .withColumn("_tomb", F.lit(True))
    )
    tagged = (
        cell_candidates(spark, path, flagged_cids)  # direct-path read:
        # only the flagged cells' directories are listed or opened
        .join(tomb, id_col, "left")
        # eager: cut lineage to `path` before rewrite
        .transform(materialize, "compaction input")
    )
    stats = (
        tagged.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.sum(F.when(F.col("_tomb"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_before",
            "n_removed",
            (F.col("n_before") - F.col("n_removed")).alias("n_after"),
        )
        .transform(materialize, "compaction stats")
    )
    survivors = tagged.filter(F.col("_tomb").isNull()).drop("_tomb")
    (
        survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cid")
        .parquet(path)
    )
    emptied = {
        r.cid for r in stats.filter(F.col("n_after") == 0).collect()
    }
    for cid in emptied:
        shutil.rmtree(os.path.join(path, f"cid={cid}"), ignore_errors=True)
    return stats
