"""Dedup & similarity operators for the LLM-training-data path.

The reference never needed these (single-user message stream), but they are
first-class for the north-star 100 TB pipeline (BASELINE.json): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, and embedding near-dup.

Design constraints honored throughout:

- **Portable hashing.** Everything hash-based uses ``md5`` (bit-identical
  in Spark and DuckDB) so even MinHash signatures and SimHash fingerprints
  are oracle-checkable — no engine-specific murmur.
- **No cross join on the scale path.**  Candidate generation is always an
  equi-join (LSH band key / shingle posting list / hyperplane bucket), so
  the shuffle key is the bucket, and only within-bucket pairs are verified.
- **Pure Catalyst expressions.**  No Python in any of these operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.materialize import materialize, release

# ---------------------------------------------------------------------------
# shingling


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(F.coalesce(c, F.lit(""))), "\\s+", " "))


def word_bigram_shingles(col: Column | str) -> Column:
    """Distinct word-bigram shingles of the normalized text; texts with a
    single word fall back to a one-element shingle set.

    Built with ``zip_with(words, shift(words))`` rather than
    ``transform(sequence(...), i -> element_at(words, i))``: interpreted
    higher-order functions get no common-subexpression elimination, so an
    element_at-per-index lambda re-evaluates the underlying regex split
    O(n) times per row — O(n^2) regex work that measured ~100 s at sf0.1.
    zip_with references the words array a constant number of times."""
    norm = normalized_text(col)
    words = F.split(norm, " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(1))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.array_distinct(
        F.when(F.size(words) >= 2, bigrams).otherwise(F.array(norm))
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) posting rows.  The explode generator evaluates the
    shingle expression exactly once per input row, and everything
    downstream is relational — the scale-safe shape for minhash/Jaccard."""
    return df.select(
        F.col(id_col), F.explode(word_bigram_shingles(text_col)).alias("shingle")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingles array) materialized THROUGH an aggregation, so the
    array is shuffled data rather than a re-evaluated expression tree."""
    return shingle_rows(df, id_col, text_col).groupBy(id_col).agg(
        F.collect_set("shingle").alias("shingles")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (md5-portable)

# 8 minhashes in 2 bands of 4: P(candidate) ~ 1-(1-s^4)^2 — steep around
# s=0.8, which is the near-dup regime.  Wider (2-row) bands collide
# quadratically on corpora with a small shingle vocabulary (any doc pair
# sharing the one globally-minimal shingle hash lands in the same bucket),
# which turns the band self-join into a skewed O(n^2) — measured 300 s vs
# 3 s at sf0.1 on the fixture.
NUM_MINHASHES = 8
LSH_BANDS = 2  # 4 minhashes per band


def _minhash_agg_cols() -> list[Column]:
    """The NUM_MINHASHES min() aggregates, four minhashes per md5:
    mh_{4j+k} = min over shingles of substr(md5("{j}|" + shingle), 8k+1, 8).

    Min over an 8-hex-char substring == min over the underlying 32-bit
    value, so each chunk is an independent 32-bit MinHash.  Slicing one
    128-bit digest into four hashes computes 4x fewer md5s on the
    exploded shingle stream — the hash was ~40% of the signature-stage
    time at sf0.1 (the digest subexpression is CSE'd by codegen, so each
    md5 runs once per row, not once per slice)."""
    cols: list[Column] = []
    for j in range(NUM_MINHASHES // 4):
        h = F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle")))
        for k in range(4):
            cols.append(F.min(F.substring(h, 8 * k + 1, 8)).alias(f"mh_{4 * j + k}"))
    return cols


def minhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """MinHash signatures as plain relational aggregates.

    Relational formulation: shingles exploded to rows, minhashes as plain
    ``min()`` aggregates — whole-stage codegen'd, one shuffle on the doc
    id, no giant per-cell expression trees.  Duplicate shingles don't
    affect a min, so no distinct pass is needed before the agg."""
    rows = shingle_rows(df, id_col, text_col)
    return rows.groupBy(id_col).agg(*_minhash_agg_cols())


def minhash_with_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Shingle sets AND minhash signatures from ONE explode pass / ONE
    shuffle: the collect_set and the NUM_MINHASHES min() aggregates share
    the same groupBy.  The LSH pipeline needs both (signatures for banding, sets
    for the exact-Jaccard verify); computing them separately re-reads and
    re-explodes the whole corpus — measurable at sf0.1 and a full extra
    corpus pass at 100 TB."""
    rows = shingle_rows(df, id_col, text_col)
    aggs = [F.collect_set("shingle").alias("shingles")] + _minhash_agg_cols()
    return rows.groupBy(id_col).agg(*aggs)


def band_key_cols() -> list[Column]:
    rows = NUM_MINHASHES // LSH_BANDS
    return [
        F.md5(F.concat(*[F.col(f"mh_{b * rows + r}") for r in range(rows)])).alias(
            f"band_{b}"
        )
        for b in range(LSH_BANDS)
    ]


def explode_band_keys(banded: DataFrame, id_col: str) -> DataFrame:
    """(id, band, key) rows from a table carrying ``band_{b}`` columns —
    THE band-explode shape (single copy; consumed by lsh_candidate_pairs
    and the streaming ingest-dedup batch function, which must stay
    bit-aligned with the batch oracle)."""
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, persist_sigs: bool = True
) -> DataFrame:
    """Docs sharing any band key.  The self-join is an equi-join on
    (band_id, band_key) — i.e. a shuffle on the bucket, never a cross
    join.  The signature table is persisted: both join sides read it, and
    at scale the signature build (a full pass over the corpus) must not
    run twice.  Callers whose ``signatures`` is already a projection of a
    frame THEY persist (curation_pipeline's combined minhash table) pass
    ``persist_sigs=False`` — the internal cache would otherwise hold a
    duplicate copy (ADVICE r14)."""
    if persist_sigs:
        signatures = materialize(signatures, "lsh signatures", "cache")
    banded = signatures.select(F.col(id_col), *band_key_cols())
    exploded = explode_band_keys(banded, id_col)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.key") == F.col(f"b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    shingle_sets: DataFrame,
    id_col: str,
    threshold: float,
    round_digits: int = 4,
    persist_sets: bool = True,
) -> DataFrame:
    """Exact Jaccard on candidate pairs (the verify stage after LSH).
    The shingle-set table feeds both sides of the pair join — persist it
    so the set build runs once.  Callers that manage their own caching
    (the streaming batch function, which would otherwise LEAK one cached
    copy per micro-batch — the internal persist is unreachable from
    outside) pass ``persist_sets=False``."""
    if persist_sets:
        shingle_sets = materialize(shingle_sets, "shingle sets", "cache")
    sa = shingle_sets.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingle_sets.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - common
    jac = common / union
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, round_digits).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-portable)

SIMHASH_BITS = 16

_HEX = "0123456789abcdef"


def _hex_to_int(h: Column, n_chars: int = 4) -> Column:
    """First ``n_chars`` hex chars of an md5 -> int in [0, 16^n_chars).
    Delegates to _hex_slice_to_int (ONE copy of the
    engine-portability-critical arithmetic)."""
    return _hex_slice_to_int(h, 1, n_chars)


def _hex_slice_to_int(h: Column, start: int, n_chars: int) -> Column:
    """Hex chars [start, start+n_chars) of an md5 (1-indexed) -> long.
    THE hex-to-long arithmetic (single copy; _hex_to_int delegates
    here).  Long arithmetic throughout: at n_chars=8 the top weight is
    16^7 ~ 2.7e8 and digit*weight tops 4e9 — an int32 ANSI overflow
    (hit at first run)."""
    val = F.lit(0).cast("long")
    for i in range(n_chars):
        weight = 16 ** (n_chars - 1 - i)
        val = val + (
            F.instr(F.lit(_HEX), F.substring(h, start + i, 1)) - 1
        ).cast("long") * F.lit(weight).cast("long")
    return val


def simhash_geometry(
    n: int, n_bands: int = 4, target_bucket: int = 8
) -> int:
    """Corpus-derived fingerprint width — the production default rule
    (the ``lsh_geometry`` pattern, closing SCALING.md wave 9's prose):
    the banded candidate join is quadratic in bucket population
    ~ n / 2^(bits/n_bands), so band width must satisfy
    2^(bits/n_bands) >= n / target_bucket.  Width is rounded up to an
    EVEN number (each half-fingerprint must cover whole hex chars),
    floored at 4 (the 16-bit fixture geometry) and capped at 16
    (64-bit total — two longs, the classic crawl-dedup width; beyond
    it you shard the corpus, not the fingerprint).

    Rungs: n=500 -> 24 bits; n=5e4 -> 56; n>=2e5 -> 64."""
    import math

    need = max(2, -(-n // target_bucket))  # ceil
    width = max(4, math.ceil(math.log2(need)))
    width += width % 2  # whole hex chars per half at any n_bands=4 split
    width = min(width, 16)
    return n_bands * width


def simhash_ham_max(bits: int) -> int:
    """Width-equivalent Hamming threshold: ~95% bit agreement at any
    width — max(1, bits // 20).  Reproduces both pinned rungs (16-bit
    -> d<=1, the fixture geometry; 64-bit -> d<=3, the classic crawl
    setting) and scales the bar with the fingerprint instead of
    silently loosening (d<=3 at 16 bits is 81% agreement — a saturated
    threshold, measured in plans/similarity.py's header)."""
    return max(1, bits // 20)


def _bit_vote(hv: Column, b: int) -> Column:
    """Vote for bit ``b`` of hash value ``hv``: EXACT integer
    extraction (shiftright + mask).  The r9 form
    ``floor(hv / 2**b) % 2`` went through IEEE double division, which
    silently rounds away the low 1-3 bits once hv >= 2^53 (ADVICE r9:
    the 56-bit single-long rung was ~53-bit effective); shiftright is
    exact at any long width.  ONE copy, shared by every fingerprint
    width; the DuckDB twin is ``(hv >> b) & 1``
    (plans/similarity.py::_sql_vote)."""
    return F.shiftright(hv, b).bitwiseAND(F.lit(1)) == 1


def _simhash_fp_parts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    parts: list[tuple[str, int, int]],
) -> DataFrame:
    """THE SimHash fingerprint core (single copy; ``simhash`` and
    ``simhash_wide`` are thin wrappers): distinct words of the
    normalized text vote +/-1 per bit, fingerprint bit b is set iff
    the sum is positive.  ``parts`` is a list of
    (name, md5_start_char, bits): each part's bit votes come from its
    own md5 hex slice, and one ``fp_{name}`` long column is emitted
    per part — a single part IS the classic SimHash; two disjoint
    parts are the two-half wide fingerprint."""
    words = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalized_text(text_col), " "))
        ).alias("w"),
    )
    # r15: hoist each part's hash value into ONE projected column (one
    # md5 + one hex-slice per word row) instead of inlining the
    # md5/instr chain into every per-bit aggregate (correct only via
    # codegen CSE), and render the per-bit sums / the fingerprint
    # reassembly as F.expr strings — the Column-composed form cost
    # seconds of py4j round-trips per build at 64 bits.  Identical
    # integer arithmetic throughout (shiftright/& bit tests, same +1/-1
    # votes, same power-of-two reassembly): values are bit-for-bit the
    # old ones.
    def _hex_slice_sql(h_sql: str, start: int, n_chars: int) -> str:
        terms = [
            f"CAST((instr('0123456789abcdef', substring({h_sql}, "
            f"{start + i}, 1)) - 1) AS BIGINT) * {16 ** (n_chars - 1 - i)}"
            for i in range(n_chars)
        ]
        return "(" + " + ".join(terms) + ")"

    hvs = words.select(
        F.col(id_col),
        *[
            F.expr(_hex_slice_sql("md5(w)", start, bits // 4)).alias(
                f"hv_{name}"
            )
            for name, start, bits in parts
        ],
    )
    # one struct-of-sums aggregate per part (a single parsed expression
    # each — 64 separate F.expr calls cost ~one ANTLR parse per bit)
    aggs = []
    for name, _start, bits in parts:
        fields = ", ".join(
            f"'s{b}', sum(CASE WHEN (shiftright(hv_{name}, {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
            for b in range(bits)
        )
        aggs.append(F.expr(f"named_struct({fields})").alias(f"ss_{name}"))
    sums = hvs.groupBy(id_col).agg(*aggs)
    outs = []
    for name, _start, bits in parts:
        terms = " + ".join(
            f"(CASE WHEN ss_{name}.s{b} > 0 THEN CAST({2 ** b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
        outs.append(F.expr(f"CAST({terms} AS BIGINT)").alias(f"fp_{name}"))
    return sums.select(F.col(id_col), *outs)


def simhash_wide(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """SimHash at widths beyond one signed long: the fingerprint is
    carried as TWO halves (``fp_hi``, ``fp_lo``), each bits/2 wide,
    votes drawn from disjoint md5 hex slices (hi = chars 1..bits/8,
    lo = the next bits/8 chars).  At the 64-bit default this is the
    classic crawl-dedup fingerprint: hi/lo are the two 32-bit halves
    of the word hash's first 16 hex chars.  Same vote construction as
    ``simhash`` (both are ``_simhash_fp_parts`` wrappers); pure JVM
    expressions, no UDF.  bits must be a multiple of 8 (whole hex
    chars per half) and <= 64."""
    if bits % 8 or not 0 < bits <= 64:
        raise ValueError(f"bits must be a multiple of 8 in (0, 64], got {bits}")
    half = bits // 2
    n_chars = half // 4
    return _simhash_fp_parts(
        df,
        id_col,
        text_col,
        [("hi", 1, half), ("lo", 1 + n_chars, half)],
    )


def _simhash_band_join(
    fp_df: DataFrame,
    id_col: str,
    specs: list[tuple[str, str, int, int]],
    ham_max: int,
) -> DataFrame:
    """THE pigeonhole band join (single copy; both pair operators are
    wrappers): ``specs`` is a list of
    (fp_col, band_label_prefix, n_bands_for_col, band_width).  Every
    (part, band) slice becomes an equi-join key; candidates sharing any
    key are deduped then verified with pure integer arithmetic —
    hamming = sum over parts of bit_count(fp_a XOR fp_b)."""
    keys = []
    for col, prefix, nb, width in specs:
        mask = (1 << width) - 1
        for b in range(nb):
            keys.append(
                F.struct(
                    F.lit(f"{prefix}{b}").alias("band"),
                    F.shiftright(F.col(col), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("val"),
                )
            )
    carry = [F.col(c).alias(f"_fp{i}") for i, (c, _, _, _) in enumerate(specs)]
    fp_names = [f"_fp{i}" for i in range(len(specs))]
    bands = fp_df.select(
        F.col(id_col).alias("id"), *carry, F.explode(F.array(*keys)).alias("bk")
    ).select(
        "id", *fp_names, F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    # r15: ROUND-ROBIN spread of the band table, pinned at the session's
    # parallelism.  The verify join's OUTPUT explodes quadratically in
    # bucket population while its INPUT is small, so AQE coalesces the
    # tiny input to one partition and the whole quadratic verify
    # serializes on one core (measured: single-task stages at sf0.1 AND
    # at the x16 probe replica — ~10 MB of band rows is under the 64 MB
    # advisory).  The spread must be KEYLESS: the broadcast-hash probe
    # distributes the quadratic pair work uniformly by INPUT row, while
    # hash-partitioning on (band, val) concentrates each bucket's full
    # m^2 work on one task (measured at the x16 replica: keyed 338 s,
    # unspread 235 s, round-robin 80 s — same box, minutes apart).  The
    # explicit partition count is what stops AQE from un-spreading it;
    # it derives from defaultParallelism, so it is scale-adaptive, and
    # the extra exchange is one linear pass of narrow rows next to the
    # quadratic verify it parallelizes.  REGIME BOUNDARY: the spread
    # only parallelizes the verify while the planner broadcasts one
    # side of the self-join; past the broadcast threshold a
    # (band, val)-keyed sort-merge join would re-concentrate each
    # bucket's m^2 work on one task and waste this exchange — at that
    # scale salt the bucket key (guide §2.5) instead of (or on top of)
    # the round-robin spread.
    bands = bands.repartition(
        bands.sparkSession.sparkContext.defaultParallelism
    )
    hamming = None
    for n in fp_names:
        t = F.bit_count(F.col(f"{n}_a").bitwiseXOR(F.col(f"{n}_b")))
        hamming = t if hamming is None else hamming + t
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{n}").alias(f"{n}_a") for n in fp_names],
            *[F.col(f"b.{n}").alias(f"{n}_b") for n in fp_names],
        )
        # r15 (guide §2.3 — filter before the shuffle): the integer
        # Hamming verify is cheaper than shuffling every banded
        # candidate into the dedup exchange, and a pair's distance is
        # the same in every band it collides in, so verify-then-distinct
        # emits exactly the distinct-then-verify pair set while the
        # distinct only ever sees qualifying pairs (thousands, not the
        # multi-million candidate stream at the fixture geometry).
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= ham_max)
        .distinct()
    )


def simhash_hamming_pairs_wide(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    hi_col: str = "fp_hi",
    lo_col: str = "fp_lo",
    ham_max: int = 3,
    n_bands: int = 4,
    fp_bits: int = 64,
) -> DataFrame:
    """``simhash_hamming_pairs`` for two-half fingerprints: the same
    pigeonhole band join (n_bands >= ham_max+1 => complete recall),
    bands split evenly across the halves, verify =
    bit_count(hi_a XOR hi_b) + bit_count(lo_a XOR lo_b) — integer-only.
    At the 64-bit 4-band default each band key has 2^16 = 65,536
    values, so bucket population (the quadratic term) is n/65,536 —
    the production geometry simhash_geometry derives."""
    if n_bands < ham_max + 1:
        raise ValueError(
            f"pigeonhole completeness needs n_bands >= ham_max+1 "
            f"(got n_bands={n_bands}, ham_max={ham_max})"
        )
    if n_bands % 2 or fp_bits % n_bands:
        raise ValueError(
            f"need an even n_bands dividing fp_bits (got {n_bands}, {fp_bits})"
        )
    half_bands = n_bands // 2
    width = fp_bits // n_bands
    return _simhash_band_join(
        fp_df,
        id_col,
        [(hi_col, "hi", half_bands, width), (lo_col, "lo", half_bands, width)],
        ham_max,
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash over the distinct words of the normalized text: per word,
    a ``bits``-wide md5-derived hash votes +1/-1 on each bit position;
    fingerprint bit b is set iff the sum is positive.  Default 16 bits
    (the oracle-pinned fixture geometry); ``bits`` widens the
    fingerprint for corpus-sized Hamming banding (simhash_hamming_pairs'
    bucket population is n / 2^(bits/n_bands), so bits is the knob that
    keeps the candidate join linear as n grows).  bits must be a
    multiple of 4 (whole hex chars) and <= 60 (long-safe)."""
    if bits % 4 or not 0 < bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in (0, 60], got {bits}")
    fp = _simhash_fp_parts(df, id_col, text_col, [("fp", 1, bits)])
    # int for the classic 16-bit geometry (oracle-pinned schema); wider
    # fingerprints don't fit int32 and carry long
    out_type = "int" if bits <= 31 else "long"
    return fp.select(F.col(id_col), F.col("fp_fp").cast(out_type).alias("simhash"))


def simhash_hamming_pairs(
    fp_df: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
    ham_max: int = 3,
    n_bands: int = 4,
    fp_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All pairs within Hamming distance ``ham_max`` of each other's
    fingerprints, WITHOUT a cross join — the near-dup *completion* step for
    SimHash (``simhash`` above only emits fingerprints).

    Pigeonhole banding makes this EXACT, not approximate: split the
    ``fp_bits``-bit fingerprint into ``n_bands`` disjoint bands; any pair
    with Hamming distance <= ham_max differs in at most ham_max bands, so
    whenever ``n_bands >= ham_max + 1`` at least one band matches exactly
    and the banded equi-join provably recalls every qualifying pair.
    Candidates are then verified with ``bit_count(fp_a XOR fp_b)`` — pure
    integer arithmetic, no floating point anywhere.

    Scale audit (SCALING.md rule: a candidate join whose equi-key
    cardinality does not grow with the corpus is a quadratic in disguise):
    the equi-key here is (band, band_value) with 2^(fp_bits/n_bands)
    values per band, FIXED by the geometry — so bucket population grows
    ~n / 2^(band_width) and the verify stage is quadratic in it.  The
    production shape at 100 TB is therefore a WIDE fingerprint sized to
    the corpus: 64-bit SimHash split 4x16 gives 65,536 buckets per band
    (vs 16 for the 4x4 fixture geometry), and band width must satisfy
    2^(fp_bits/n_bands) >= n / target_bucket_population.  This function
    is geometry-agnostic — callers pass (fp_bits, n_bands) derived from
    corpus size, exactly as lsh_geometry does for hyperplane LSH."""
    if n_bands < ham_max + 1:
        raise ValueError(
            f"pigeonhole completeness needs n_bands >= ham_max+1 "
            f"(got n_bands={n_bands}, ham_max={ham_max})"
        )
    if fp_bits % n_bands:
        raise ValueError(f"fp_bits={fp_bits} not divisible by n_bands={n_bands}")
    width = fp_bits // n_bands
    return _simhash_band_join(
        fp_df, id_col, [(fp_col, "b", n_bands, width)], ham_max
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard via posting-list (inverted index) self-join


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs Jaccard >= threshold WITHOUT a cross join: explode
    shingles into a posting list, equi-join on the shingle, count common
    shingles per pair, then combine with per-doc set sizes.

    The shuffle key is the shingle, so hot shingles are the skew risk: the
    posting-list self-join is O(df^2) per shingle, and at 100 TB a common
    bigram degenerates toward the cross join this module forbids.
    ``max_df`` is the mandatory-at-scale stop-shingle cutoff: shingles
    whose document frequency exceeds it are dropped from the similarity
    universe BEFORE the self-join (both from postings and from set sizes,
    so the semantics stay self-consistent: Jaccard over the sub-universe
    of discriminating shingles).  Trade-off: near-ubiquitous shingles
    carry almost no pairwise signal (they inflate both intersection and
    union for every pair alike), so precision/recall vs full-universe
    Jaccard degrades only for pairs whose overlap was mostly stop
    shingles — exactly the pairs dedup should NOT merge.  The hot set is
    tiny by construction (df > max_df can hold for at most
    n_postings/max_df shingles), so it broadcasts."""
    posting = shingle_rows(df, id_col, text_col).withColumnRenamed("shingle", "s")
    if max_df is not None:
        doc_freq = posting.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        hot = doc_freq.filter(F.col("df") > max_df).select("s")
        posting = posting.join(F.broadcast(hot), "s", "left_anti")
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = posting.alias("a"), posting.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return (
        common.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Near-dup PAIRS -> CLUSTERS: iterative min-label propagation.

    Dedup at scale keeps one document per duplicate *cluster*, not per
    pair (pairs (a,b),(b,c) must collapse to one survivor, not two).
    Each iteration: every vertex takes the min label among itself and its
    neighbors — converges in O(component diameter) rounds, which for
    near-dup graphs (small, dense clusters) is 2-4.

    Scale mechanics: one shuffle per iteration on the vertex id;
    ``localCheckpoint`` truncates the lineage so the plan doesn't grow
    exponentially with iterations (on a cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    fault-tolerant truncation). The convergence probe is an isEmpty()
    over the in-pass ``_changed`` flag (computed in the propagation
    round itself, skipped on round 1 where any edge guarantees a
    change), not a collect of the labels.

    Returns (id, label) where label = min doc id in the component.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    # r15 optimization (guide §5 — materialize what a loop reuses): the
    # edge list is joined EVERY iteration, and without a cut each round
    # re-evaluated the whole upstream pair pipeline (for the LSH callers:
    # band join + Jaccard verify per round — measured as the bulk of
    # curation_pipeline's cost).  One eager checkpoint of the tiny
    # (2 x n_pairs) edge list runs that pipeline exactly once.
    edges = materialize(fwd.union(rev), "cc edges")
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label")),
        "cc labels",
    )
    for it in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # min-label propagation only ever LOWERS a label, so "changed"
        # is a flag computed in the same pass — the old shape ran an
        # extra labels-vs-labels shuffle join per round just to count
        # changes; this one counts rows of the already-checkpointed
        # frame (r15, same labels bit-for-bit).
        new_labels = materialize(
            labels.join(nbr_min, labels["id"] == nbr_min["nid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("_changed"),
            ),
            "cc labels",
        )
        labels = new_labels.select("id", "label")
        # round 1 always changes a label when any edge exists (the
        # larger endpoint of any pair lowers), so its convergence probe
        # is a wasted job; isEmpty short-circuits on the first
        # non-empty checkpointed partition instead of scanning all.
        if it > 0 and new_labels.filter(F.col("_changed")).isEmpty():
            break
    return labels


def strip_boilerplate(
    docs: DataFrame,
    seg_words: int = 10,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut every disjoint ``seg_words``-word segment that appears in
    >= ``min_df`` distinct documents (CCNet/RefinedWeb boilerplate) and
    splice the remaining text back in order; the tail words after the
    last full segment always survive.  Returns (id, n_segs, n_removed,
    cleaned).  See plans/traindata.py::boilerplate_strip for the
    oracle-paired catalog entry and the scale notes."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text(F.col(text_col)), " ").alias("ws"),
    ).select("doc_id", "ws", F.size("ws").alias("nw"))
    segs = (
        base.filter(F.col("nw") >= seg_words)
        .select(
            "doc_id",
            "ws",
            "nw",
            F.explode(
                F.sequence(
                    F.lit(0), F.col("nw") - seg_words, F.lit(seg_words)
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            "start",
            F.array_join(
                F.slice("ws", F.col("start") + 1, seg_words), " "
            ).alias("seg"),
        )
        .withColumn("fp", F.md5("seg"))
        # cached: four consumers (hot, n_seg, n_rm, head) would each
        # re-run the scan + normalize + explode + md5 subtree (the
        # _span_windows lesson, r8 code review both rounds)
        .transform(materialize, "boilerplate segments", "cache")
    )
    hot = (
        segs.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_df)
        .select("fp")
    )
    n_seg = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    n_rm = (
        segs.join(hot, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    head = (
        segs.join(hot, "fp", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("start", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("head")
        )
    )
    tail = F.array_join(
        F.slice(
            "ws",
            (F.col("nw") - F.col("nw") % seg_words) + 1,
            F.col("nw") % seg_words,
        ),
        " ",
    )
    return (
        base.join(n_seg, "doc_id", "left")
        .join(n_rm, "doc_id", "left")
        .join(head, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).cast("long").alias("n_segs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.when(F.col("nw") < seg_words, F.array_join("ws", " "))
            .otherwise(
                F.trim(
                    F.concat_ws(
                        " ", F.coalesce(F.col("head"), F.lit("")), tail
                    )
                )
            )
            .alias("cleaned"),
        )
    )


def lsh_dedup_batch(
    spark,
    batch_df: DataFrame,
    index_dir: str,
    threshold: float,
    pairs_dir: str | None = None,
    collect_stats: bool = False,
) -> dict | None:
    """ONE micro-batch of the incremental LSH dedup — THE shared batch
    body (r12 adversarial review: this glue lived only inside
    ``plans/streaming_queries.py::_stream_lsh_dedup``'s foreachBatch
    closure, and ``tools/stream_probe.py`` carried a hand copy; the
    shared-definition rule says measurement and production must run the
    same code).  Steps:

      1. signatures + shingle sets for the batch (one explode pass);
      2. within-batch LSH candidates (band equi-join, lower id first);
      3. cross-batch candidates: batch band keys vs the ACCUMULATED
         signature index (read from ``index_dir`` when it exists);
      4. exact-Jaccard verify over batch sets + ONLY the history sets
         the candidates touch (semi-join — per-batch work stays
         O(batch + candidates), never O(history));
      5. append the batch's signature rows to the index.

    ``pairs_dir`` set (the streaming query): verified pairs append
    there.  ``collect_stats`` (the probe): returns
    {"n_candidates", "n_pairs"} via count() actions instead — the
    streaming hot path never pays those extra jobs."""
    import os as _os

    banded = (
        minhash_with_shingles(batch_df, id_col="doc_id", text_col="text")
        .select("doc_id", "shingles", *band_key_cols())
        .transform(materialize, "batch bands", "cache")
    )
    new_b = explode_band_keys(banded, "doc_id")

    a, b = new_b.alias("a"), new_b.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    cand = within
    hist = None
    if _os.path.isdir(index_dir):
        hist = materialize(spark.read.parquet(index_dir), "band index", "cache")
        h = explode_band_keys(hist, "doc_id").alias("h")
        n2 = new_b.alias("n")
        cross = (
            h.join(
                n2,
                (F.col("h.band") == F.col("n.band"))
                & (F.col("h.key") == F.col("n.key")),
            )
            .select(
                F.least("h.doc_id", "n.doc_id").alias("id_a"),
                F.greatest("h.doc_id", "n.doc_id").alias("id_b"),
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        cand = within.unionByName(cross).distinct()
    cand = materialize(cand, "batch candidates", "cache")

    sets = banded.select("doc_id", "shingles")
    if hist is not None:
        touched = (
            cand.select(F.col("id_a").alias("doc_id"))
            .unionByName(cand.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        sets = sets.unionByName(
            hist.select("doc_id", "shingles").join(touched, "doc_id", "semi")
        )
    sets = materialize(sets, "batch sets", "cache")
    verified = jaccard_verify(
        cand, sets, id_col="doc_id", threshold=threshold, persist_sets=False
    )
    stats = None
    if collect_stats:
        stats = {"n_candidates": cand.count(), "n_pairs": verified.count()}
    if pairs_dir is not None:
        verified.write.mode("append").parquet(pairs_dir)
    banded.write.mode("append").parquet(index_dir)
    # released per micro-batch: they would pile up across the drain
    for df in (banded, cand, sets) + ((hist,) if hist is not None else ()):
        release(df)
    return stats
