"""Deduplication operators for training-data pipelines.

All hot paths are native Catalyst (higher-order array functions, no
Python UDFs, no driver-side loops) so they scale to 100 TB:

* exact / normalized dedup — hash-groupBy with map-side partial agg;
* MinHash + LSH — per-row signatures via ``transform``/``array_min``
  (narrow, no shuffle), then ONE shuffle on (band, band_hash) for the
  candidate join: the standard sub-quadratic near-dup topology.  No
  O(n²) pair enumeration ever materializes;
* SimHash — per-row 32-bit signature from word hashes, again fully
  narrow;
* n-gram Jaccard — exact verification on a bounded candidate set.

Every near-dup grain — MinHash/Jaccard and SimHash/Hamming here,
hyperplane-LSH and k-means-cluster cosine in ``similarity.py`` — runs
one candidate topology: sketch each row into bucket keys, materialize
the sketch, equi-join on the keys (:func:`_bucket_pairs`), verify the
candidates, then drop losers (:func:`_drop_losers` within a corpus,
:func:`_subtract_flagged` across corpora).  Self mode is the ordered
special case of cross mode: the same join, keeping ``a.id < b.id``.

The sketch is materialized with an eager ``localCheckpoint`` before
the join.  Without that barrier Catalyst's projection collapse inlines
the (large) sketch expression into every bucket key on BOTH join
sides — ~8× recomputation and a codegen blowup (measured 26s → ~2s at
sf0.1).  The checkpointed blocks are freed by Spark's ContextCleaner
once the returned DataFrame is garbage-collected: no module-global
cache, so concurrent callers each own their materialization.  On a
real cluster swap ``localCheckpoint`` for a reliable ``checkpoint``
dir so the sketch survives executor loss.

Hash functions are md5-hex (lexicographic min for MinHash) so the
DuckDB oracle can reproduce signatures bit-for-bit — a deliberate
engine-agnostic choice over murmur3 (``F.hash``), which DuckDB cannot
match.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window, functions as F

# every signature pass (MinHash, SimHash) is compute-bound, so each
# first spreads a low-split input (single file / single row group)
# across the cores — a no-op whenever the scan already has enough
# splits (see skew.py)
from wikiextractor_spark.operators.skew import spread_for_compute


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def content_key(col, normalized: bool = False):
    """md5 content key; ``normalized`` lowercases and collapses
    whitespace first (near-exact dedup)."""
    if normalized:
        col = F.regexp_replace(F.lower(col), r"\s+", " ")
    return F.md5(col)


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """→ one row per distinct content: ``(content_key, n_copies,
    keep_id)`` where ``keep_id`` is the smallest id (the survivor).
    One shuffle on the content hash; partial aggregation map-side."""
    return (
        df.select(content_key(F.col(text_col), normalized).alias("content_key"),
                  F.col(id_col))
        .groupBy("content_key")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Keep exactly one row (smallest id) per distinct content."""
    w = Window.partitionBy(content_key(F.col(text_col), normalized)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _shingles_sql(text_col: str, k: int = 3) -> str:
    """Word k-shingles as a SQL array expression (falls back to the
    whole text when shorter than k words).

    ``split()`` is bound ONCE through a 1-element-array lambda
    (``transform(array(x), ws -> …)[0]``): naively inlining it makes
    Catalyst re-evaluate the split per sequence element — O(words²)
    per row (measured 12s for 10k rows at sf0.1; ~0.5s bound)."""
    return f"""
        transform(array(split({text_col}, ' ')), ws ->
          CASE WHEN size(ws) >= {k}
          THEN transform(sequence(0, size(ws) - {k}),
                         i -> concat_ws(' ', slice(ws, i + 1, {k})))
          ELSE array({text_col}) END
        )[0]
        """


# Universal-hash family for MinHash: ONE strong hash per shingle
# (md5 → first 8 hex chars as uint32, reduced mod P), then num_hashes
# cheap affine permutations h_j(x) = (a_j·x + b_j) mod P.  r2 computed
# an independent md5 per (seed, shingle) — 8× the crypto-hash work for
# the same minhash quality (profiled: the signature IS the whole LSH
# pipeline cost, 3.2 s of 3.1 s at sf0.1).  P = 2^31−1 keeps every
# product under 2^62, exact in BIGINT on any engine.
MINHASH_P = 2_147_483_647


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) per seed — Knuth-constant spacing, the
    same literals inlined into the Spark plan and the DuckDB oracle."""
    return [
        ((2654435761 * (j + 1)) % MINHASH_P, (40503 * (j + 1) + 12345) % MINHASH_P)
        for j in range(num_hashes)
    ]


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle: int = 3,
) -> DataFrame:
    """→ ``(id, sig array<bigint>)``: per seed j, the min of
    ``(a_j·H(shingle) + b_j) mod P`` over the document's shingles,
    ``H`` = md5-derived uint32.  Pure narrow higher-order expressions
    — zero shuffle, zero Python, one crypto hash per shingle.

    NB: written as ONE SQL expression with SQL lambdas.  Composing
    several Python-lambda ``F.transform`` columns over a shared
    subexpression mis-binds lambda variables (verified on 4.1.2);
    SQL-side lambda scoping is correct.  The shingle-hash array is
    bound once via the 1-element-array idiom so the md5 pass runs
    once, not once per seed.
    """
    mins = ", ".join(
        f"array_min(transform(hs, h -> pmod({a}L * h + {b}L, {MINHASH_P}L)))"
        for a, b in _minhash_coeffs(num_hashes)
    )
    sig = F.expr(
        f"""
        transform(array({_shingles_sql(text_col, shingle)}), sh ->
          transform(array(transform(sh, s ->
              pmod(cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint),
                   {MINHASH_P}L))),
            hs -> array({mins}))[0]
        )[0]
        """
    )
    return df.select(F.col(id_col), sig.alias("sig"))


def minhash_band_buckets(
    sigs: DataFrame, id_col: str = "doc_id",
    bands: int = 4, rows_per_band: int = 2,
    keep_sig: bool = False,
) -> DataFrame:
    """→ ``(id, band, band_hash)``: the LSH bucketing grain.  Documents
    sharing any (band, band_hash) are near-dup candidates.

    ``keep_sig=True`` carries the signature array through the band
    explode (``(id, sig, band, band_hash)``) — for artifact writers
    that need sig AND bands without recomputing the (expensive)
    signature expression on a second branch of the plan."""
    cols = []
    for b in range(bands):
        # sig is array<bigint>; stringify for the band hash exactly as
        # DuckDB's array_to_string renders it (plain decimal digits)
        h = F.md5(
            F.concat_ws(
                ",",
                F.expr(
                    f"transform(slice(sig, {b * rows_per_band + 1}, "
                    f"{rows_per_band}), x -> cast(x as string))"
                ),
            )
        )
        cols.append(F.struct(F.lit(b).alias("band"), h.alias("band_hash")))
    carried = [id_col, "sig"] if keep_sig else [id_col]
    return (
        sigs.select(*carried, F.explode(F.array(*cols)).alias("bb"))
        .select(*carried, "bb.band", "bb.band_hash")
    )


def _bucket_pairs(
    left: DataFrame, right: DataFrame | None, keys: tuple[str, ...],
    id_col: str, carry: dict[str, str] | None = None,
) -> DataFrame:
    """Candidate pairs from materialized bucket tables: ONE equi-join
    on ``keys``, never all-pairs — the join behind every near-dup
    grain and mode.

    One table (``right=None``) self-joins and keeps ``a.id < b.id``
    → ``(id_a, id_b)``; two tables join across → ``(left_id,
    right_id)``.  ``carry`` maps payload columns to output prefixes,
    suffixed like the ids (``{"simhash": "sim"}`` → ``sim_a``/``sim_b``
    or ``sim_left``/``sim_right``).  No distinct: each caller dedupes
    where its verify makes that cheapest."""
    a = left.alias("a")
    b = (left if right is None else right).alias("b")
    cond = None
    for k in keys:
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = eq if cond is None else cond & eq
    if right is None:
        cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        ids, sfx = ("id_a", "id_b"), ("a", "b")
    else:
        ids, sfx = ("left_id", "right_id"), ("left", "right")
    cols = [
        F.col(f"a.{id_col}").alias(ids[0]),
        F.col(f"b.{id_col}").alias(ids[1]),
    ]
    for src, prefix in (carry or {}).items():
        cols += [
            F.col(f"a.{src}").alias(f"{prefix}_{sfx[0]}"),
            F.col(f"b.{src}").alias(f"{prefix}_{sfx[1]}"),
        ]
    return a.join(b, cond).select(*cols)


def minhash_lsh_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle: int = 3,
    bands: int = 4, rows_per_band: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH: the only wide
    op is the equi-join on (band, band_hash) — sub-quadratic and
    AQE-skew-friendly at scale.  → ``(id_a, id_b)``."""
    buckets = minhash_band_rows(
        df, text_col, id_col, num_hashes, shingle, bands, rows_per_band,
        keep_sig=False,
    )
    return _bucket_pairs(buckets, None, ("band", "band_hash"), id_col).distinct()


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_sql(text_col: str, sig_bits: int) -> str:
    """SQL-lambda SimHash expression over whitespace words.

    Word value = leading md5 hex chars as an unsigned ``sig_bits``-wide
    integer (64-bit assembled from two 32-bit halves so the signed
    ``conv`` cast never overflows); signature bit i is the sign of
    Σ(±1) over words at bit i.  The assembled signature is a signed
    bigint whose BIT PATTERN is the signature — bit 63 lands on the
    sign bit (``shiftleft(1L, 63)`` = Long.MIN), which two's-complement
    addition sets exactly.  DuckDB mirrors it md5-for-md5 (see
    queries.py _DUCK_SIMHASH64).
    """
    if sig_bits == 32:
        vals = (
            f"transform(split({text_col}, ' '), "
            f"w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint))"
        )
    elif sig_bits == 64:
        # hi/lo 32-bit halves: conv() yields a decimal STRING and a
        # direct 16-hex-char cast overflows signed bigint for values
        # >= 2^63; shiftleft keeps the bit pattern and the + cannot
        # carry into already-zero low bits, so this is ANSI-safe.
        vals = (
            f"transform(split({text_col}, ' '), w -> "
            f"shiftleft(cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint), 32)"
            f" + cast(conv(substring(md5(w), 9, 8), 16, 10) as bigint))"
        )
    else:
        raise ValueError(f"sig_bits must be 32 or 64, got {sig_bits}")
    n = sig_bits
    # word hash values bound ONCE via the array-wrap trick (see
    # _shingles_sql): inlined, they'd be recomputed for each of the
    # n bit positions.  pmod(shiftright(v, i), 2) extracts bit i
    # correctly for NEGATIVE v too (arithmetic shift + positive mod).
    bits = (
        f"transform(sequence(0, {n - 1}), i -> CASE WHEN "
        "aggregate(vs, cast(0 as bigint), "
        "(acc, v) -> acc + (pmod(shiftright(v, i), 2) * 2 - 1)) > 0 "
        "THEN cast(1 as bigint) ELSE cast(0 as bigint) END)"
    )
    return (
        f"transform(array({vals}), vs -> "
        f"aggregate(zip_with({bits}, sequence(0, {n - 1}), "
        f"(b, i) -> b * shiftleft(cast(1 as bigint), i)), "
        f"cast(0 as bigint), (acc, x) -> acc + x))[0]"
    )


def simhash32(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ ``(id, simhash bigint)``: 32-bit SimHash over word md5s,
    computed per row with higher-order functions (narrow, shuffle-free).
    Kept as the small-data/teaching grain; production near-dup uses
    :func:`simhash64` (32-bit block buckets birthday-saturate past
    ~10⁵ docs)."""
    return df.select(
        F.col(id_col), F.expr(_simhash_sql(text_col, 32)).alias("simhash")
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ ``(id, simhash bigint)``: 64-bit SimHash (full bigint bit
    pattern, sign bit = signature bit 63).  The corpus-scale grain:
    with distance ≤ 3 pigeonholed into four 16-bit blocks, buckets
    stay sparse to ~10⁸ docs (birthday bound √(2^16·ln…) per idx ≫
    the 8-bit blocks' ~10⁵ saturation point)."""
    return df.select(
        F.col(id_col), F.expr(_simhash_sql(text_col, 64)).alias("simhash")
    )


def simhash_blocks(
    sigs: DataFrame, id_col: str = "doc_id", n_blocks: int = 4,
    sig_bits: int = 32,
) -> DataFrame:
    """→ ``(id, simhash, block_idx, block_val)``: the ``sig_bits``-wide
    signature split into ``n_blocks`` contiguous bit blocks (widths as
    even as possible).  Pigeonhole grain for sub-quadratic Hamming
    search: a pair differing in fewer than ``n_blocks`` bits MUST agree
    exactly on at least one block."""
    if not 1 <= n_blocks <= sig_bits:
        raise ValueError(f"need 1 <= n_blocks <= {sig_bits}, got {n_blocks}")
    widths = [sig_bits // n_blocks + (1 if i < sig_bits % n_blocks else 0)
              for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def _val(i: int) -> str:
        if widths[i] >= 64:
            # full-signature block: pmod's 1<<64 modulus would not fit
            # a bigint literal; the identity is exactly right.
            return "simhash"
        return f"pmod(shiftright(simhash, {offsets[i]}), {1 << widths[i]})"

    structs = ", ".join(
        f"struct({i} AS block_idx, {_val(i)} AS block_val)"
        for i in range(n_blocks)
    )
    return sigs.select(
        id_col, "simhash", F.explode(F.expr(f"array({structs})")).alias("b")
    ).select(id_col, "simhash", "b.block_idx", "b.block_val")


def simhash_candidate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_distance: int = 3, sig_bits: int = 64,
) -> DataFrame:
    """Verified SimHash near-dup pairs at scale: the pigeonhole
    candidate stage replaces the all-pairs join.

    With the signature split into ``max_distance + 1`` blocks
    (:func:`simhash_blocks`), any pair within the distance budget
    shares ≥ 1 exact block — so ONE equi-join on (block_idx,
    block_val) proposes a candidate superset with zero false
    negatives, and the exact ``bit_count(a XOR b)`` re-check runs only
    on candidates.  Sub-quadratic (the same topology as minhash LSH;
    plan-tested to never be a nested-loop/cartesian join).

    → ``(id_a, id_b, sim_a, sim_b, hamming)`` with
    ``hamming <= max_distance``.

    Scale note: block-bucket collision rate is birthday-bounded by the
    block width.  The default 64-bit signature with distance ≤ 3 gives
    four 16-bit blocks — buckets stay sparse to ~10⁸ docs, and DuckDB
    still mirrors it md5-for-md5 (16 leading hex chars).  The 32-bit
    grain (8-bit blocks, saturates ~10⁵ docs) is kept for small-data
    verification via ``sig_bits=32``.
    """
    return _hamming_pairs(
        _simhash_block_rows(df, text_col, id_col, max_distance, sig_bits),
        None, id_col, max_distance,
    ).distinct()


def _simhash_block_rows(
    df: DataFrame, text_col: str, id_col: str, max_distance: int,
    sig_bits: int,
) -> DataFrame:
    """Spread → signature → ``max_distance + 1`` pigeonhole blocks →
    eager checkpoint: the one SimHash sketch builder."""
    src = spread_for_compute(df.select(id_col, text_col))
    sigs = (simhash64 if sig_bits == 64 else simhash32)(src, text_col, id_col)
    return simhash_blocks(
        sigs, id_col, max_distance + 1, sig_bits
    ).localCheckpoint(eager=True)


def _hamming_pairs(
    left_blocks: DataFrame, right_blocks: DataFrame | None, id_col: str,
    max_distance: int,
) -> DataFrame:
    """Block-bucket candidates (:func:`_bucket_pairs`) with the exact
    ``bit_count(a XOR b)`` re-check, plus a ``hamming`` column.

    The re-check runs BEFORE any distinct: block buckets propose far
    more false candidates than true pairs (birthday collisions on
    small blocks), and the filter is a cheap narrow expression while
    distinct is a shuffle — callers dedup the survivors, not the
    candidate stream."""
    pairs = _bucket_pairs(
        left_blocks, right_blocks, ("block_idx", "block_val"), id_col,
        {"simhash": "sim"},
    )
    sim_a, sim_b = pairs.columns[2:]
    ham = F.bit_count(F.col(sim_a).bitwiseXOR(F.col(sim_b))).cast("int")
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_distance
    )


def simhash_hamming_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_distance: int = 4, max_id: int | None = None, sig_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance on a bounded id
    range — the exact all-pairs VERIFICATION grain only (tests use it
    to pin :func:`simhash_candidate_pairs`, the sub-quadratic scale
    path)."""
    sigs = (simhash64 if sig_bits == 64 else simhash32)(df, text_col, id_col)
    if max_id is not None:
        sigs = sigs.filter(F.col(id_col) < max_id)
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard (verification pass over candidates)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_id: int = 50, min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact word-set Jaccard for all pairs in a bounded id range —
    the verification stage normally fed by LSH candidates.  Expressed
    with explode + groupBy joins (ANSI-portable for the oracle)."""
    words = (
        df.filter(F.col(id_col) < max_id)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .distinct()
    )
    sizes = words.groupBy(id_col).agg(F.count("*").alias("n"))
    a, b = words.alias("a"), words.alias("b")
    inter = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# --------------------------------------------------------------------------
# End-to-end near-dup dedup: LSH candidates → exact verify → survivors
# --------------------------------------------------------------------------

def _exact_jaccard_over_pairs(
    pairs: DataFrame, a_src: DataFrame, b_src: DataFrame,
    a_key: str, b_key: str, text_col: str, id_col: str, threshold: float,
) -> DataFrame:
    """Exact word-set Jaccard restricted to an explicit candidate
    pair list — the ONE verification implementation behind
    :func:`near_duplicate_pairs` (self-dedup, ``a_src is b_src``) and
    :func:`cross_corpus_jaccard_pairs` (two corpora), so the grains
    cannot drift.

    Word sets are computed ONLY for docs appearing in a pair
    (semi-join before the explode): at corpus scale the
    distinct-token shuffle is the big cost, and paying it for every
    doc when candidates are a sliver is the wrong asymptotic.
    ``pairs`` should be materialized by the caller (it feeds the two
    id restrictions plus the intersection join).

    → ``(a_key, b_key, jaccard)`` with ``jaccard >= threshold``."""

    def _side_words(src: DataFrame, key: str) -> DataFrame:
        return (
            src.join(
                pairs.select(F.col(key).alias(id_col)).distinct(),
                id_col, "left_semi",
            )
            .select(
                F.col(id_col).alias(key),
                F.explode(F.split(F.col(text_col), " ")).alias("w"),
            )
            .distinct()
        )

    wa = _side_words(a_src, a_key)
    wb = _side_words(b_src, b_key)
    na = wa.groupBy(a_key).agg(F.count("*").alias("_n_a"))
    nb = wb.groupBy(b_key).agg(F.count("*").alias("_n_b"))
    inter = (
        pairs.join(wa, a_key)
        .join(wb, [b_key, "w"])
        .groupBy(a_key, b_key)
        .agg(F.count("*").alias("_ni"))
    )
    jac = F.round(
        F.col("_ni") / (F.col("_n_a") + F.col("_n_b") - F.col("_ni")), 6
    )
    return (
        inter.join(na, a_key).join(nb, b_key)
        .select(a_key, b_key, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_duplicate_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Verified near-duplicate pairs: MinHash-LSH proposes candidates
    (sub-quadratic, one (band, hash) shuffle), then exact word-set
    Jaccard is computed ONLY for candidate pairs — never all-pairs.
    The verification work is Σ|words| over candidate pairs: linear in
    the candidate list, the scale-correct topology.

    → ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``.
    """
    # materialize the (small-by-design) candidate list once: it feeds
    # three plan branches inside the verifier, and un-materialized
    # each branch would re-run the LSH band join
    cand = minhash_lsh_candidate_pairs(df, text_col, id_col).localCheckpoint(
        eager=True
    )
    return _exact_jaccard_over_pairs(
        cand, df, df, "id_a", "id_b", text_col, id_col, threshold
    )


def connected_component_labels(
    pairs: DataFrame, max_iter: int = 20, on_nonconverged: str = "warn",
) -> DataFrame:
    """→ ``(id, label)``: min-label propagation over an undirected pair
    list — every node gets the smallest id reachable through the pair
    graph (its connected component's representative).

    Bounded iterative closure: each round is (a) one neighbor-min
    equi-join + min-agg on the node key and (b) one POINTER-JUMPING
    shortcut (``label ← label(label)``), so the un-resolved distance
    to the component minimum at least halves per round — convergence
    in O(log diameter) rounds, and ``max_iter=20`` covers chains of
    ~2²⁰ hops (plain propagation needed O(diameter) and silently
    violated the one-survivor contract past ``max_iter`` hops — r3
    ADVICE).  Labels re-materialize via ``localCheckpoint`` so lineage
    stays flat; the driver-side loop reads ONE scalar per round.

    If the loop still ends unconverged, ``on_nonconverged`` picks
    ``'warn'`` (RuntimeWarning; labels are a safe over-segmentation —
    never merges two real components) or ``'raise'``.
    """
    if on_nonconverged not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconverged must be 'warn' or 'raise', got {on_nonconverged!r}"
        )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["id"] == neighbor_min["src"], "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        # pointer jumping: adopt the label of our current label-node.
        # labels form a min-monotone forest (label(x) <= x), so the
        # shortcut halves the remaining hop distance to the root.
        lut = stepped.select(
            F.col("id").alias("_lid"), F.col("label").alias("_llabel")
        )
        new_labels = (
            stepped.join(lut, stepped["label"] == lut["_lid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_llabel"), F.col("label"))
                ).alias("label"),
                "_old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_component_labels did not converge in {max_iter} "
            f"rounds ({changed} labels still moving): components may be "
            "over-segmented (multiple survivors per true component)"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def _check_survivors(survivors: str, allowed: tuple[str, ...]) -> None:
    if survivors not in allowed:
        raise ValueError(
            f"survivors must be one of {', '.join(map(repr, allowed))}, "
            f"got {survivors!r}"
        )


def _drop_losers(
    df: DataFrame, pairs: DataFrame, id_col: str, survivors: str,
    score=None,
) -> DataFrame:
    """``df`` minus the losers of the verified ``(id_a, id_b)`` pair
    graph under ``survivors`` — the one survivor policy behind every
    near-dup grain (the policies are documented on :func:`dedup_near`;
    ``score`` is the Column ``'best'`` ranks by)."""
    if survivors == "chain":
        losers = pairs.select(F.col("id_b").alias(id_col))
    elif survivors == "component":
        labels = connected_component_labels(pairs)
        losers = labels.filter(F.col("label") != F.col("id")).select(
            F.col("id").alias(id_col)
        )
    else:
        labels = connected_component_labels(pairs)
        # scores only for docs that are IN a component (inner join);
        # everything outside the pair graph survives untouched
        members = df.join(
            labels.select(F.col("id").alias(id_col), "label"), id_col
        ).select(F.col(id_col), F.col("label"), score.alias("_score"))
        w = Window.partitionBy("label").orderBy(
            F.desc_nulls_last("_score"), F.asc(id_col)
        )
        losers = (
            members.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(id_col)
        )
    return df.join(losers, id_col, "left_anti")


def _flagged_left_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """Distinct ``left_id``s of a cross-corpus pair list, as ``id_col``."""
    return pairs.select(F.col("left_id").alias(id_col)).distinct()


def _subtract_flagged(
    left: DataFrame, pairs: DataFrame, id_col: str,
) -> DataFrame:
    """``left`` minus its flagged ids — the one cross-corpus subtract
    step: a single anti-join, AQE-broadcastable because matches are
    rare."""
    return left.join(_flagged_left_ids(pairs, id_col), id_col, "left_anti")


def dedup_near(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8, survivors: str = "chain",
    score=None,
) -> DataFrame:
    """Drop near-duplicates, keeping one survivor per duplicate group.

    ``survivors='chain'`` (default): any row with a verified near-dup
    of SMALLER id is removed — single pass, one left-anti join.  Note
    the greedy asymmetry: in a star ``2~5, 3~5`` both 2 and 3 survive
    (they are not near-dups of each other), while a transitive chain
    ``A~B~C with A≁C`` keeps only A even though C's only verified
    near-dup (B) was itself dropped.

    ``survivors='component'``: exactly ONE survivor per connected
    component of the verified pair graph (its minimum id), via bounded
    min-label propagation (:func:`connected_component_labels`).
    Stricter mix control — a chain can never leak two survivors — at
    the cost of the iterative closure.

    ``survivors='best'``: one survivor per connected component, chosen
    as the member with the HIGHEST ``score`` (default:
    ``textstats.quality_score`` over ``text_col``; pass any Column —
    document length, a pre-joined LM score — for a different keep
    policy).  Near-dup members genuinely differ (that is what makes
    them near rather than exact dups), so which copy survives matters:
    id order keeps whichever crawl happened to land first, while a
    quality argmax keeps the best-extracted copy.  Ties break on the
    smallest id for determinism.  Same closure cost as 'component'
    plus one small window over component members only.
    """
    _check_survivors(survivors, ("chain", "component", "best"))
    if score is not None and survivors != "best":
        raise ValueError("score= only applies to survivors='best'")
    pairs = near_duplicate_pairs(df, text_col, id_col, threshold)
    if survivors == "best" and score is None:
        from wikiextractor_spark.functions.textstats import quality_score

        # empty-text docs DO form components (the whole-text shingle
        # fallback gives identical signatures), and the quality ratios
        # divide by the text length — guard them to NULL, which
        # desc_nulls_last ranks below every real score
        score = F.when(
            F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) > 0,
            quality_score(text_col),
        )
    return _drop_losers(df, pairs, id_col, survivors, score)


def simhash_block_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_distance: int = 3,
) -> DataFrame:
    """Materialized pigeonhole block rows ``(id, simhash, block_idx,
    block_val)`` for a corpus — the reusable artifact of the SimHash
    candidate topology.  Persist this (16 bytes × (d+1) per doc, no
    text) for a kept corpus and hand it to
    :func:`cross_corpus_near_pairs` via ``right_blocks`` so
    incremental runs never re-signature the kept side."""
    return _simhash_block_rows(df, text_col, id_col, max_distance, 64)


def cross_corpus_near_pairs(
    left: DataFrame, right: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
    max_distance: int = 3,
    right_blocks: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora at Hamming ≤
    ``max_distance`` — the cross-corpus variant of
    :func:`simhash_candidate_pairs` (did any training doc leak into
    the new crawl?  which docs of corpus B near-copy corpus A?).

    The self-join's pigeonhole topology run ACROSS the corpora (never
    left × right); with no id ordering between sides, every (left,
    right) match is reported once.

    ``right_blocks`` accepts PRECOMPUTED block rows for the kept side
    (:func:`simhash_block_rows`, persisted once) so incremental-crawl
    callers don't re-signature a multi-TB kept corpus on every run;
    give exactly one of ``right`` / ``right_blocks``.

    → ``(left_id, right_id, sim_left, sim_right, hamming)``.
    """
    if (right is None) == (right_blocks is None):
        raise ValueError("give exactly one of right / right_blocks")

    lb = simhash_block_rows(left, text_col, id_col, max_distance)
    rb = (
        right_blocks
        if right_blocks is not None
        else simhash_block_rows(right, text_col, id_col, max_distance)
    )
    return _hamming_pairs(lb, rb, id_col, max_distance).distinct()


def subtract_near_duplicates(
    left: DataFrame, right: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
    max_distance: int = 3,
    right_blocks: DataFrame | None = None,
) -> DataFrame:
    """``left`` minus every doc with a Hamming ≤ ``max_distance``
    near-copy in ``right`` — cross-corpus dedup as a set operation
    (deduplicate a new crawl against the already-kept corpus without
    re-deduplicating the kept side).  One anti-join on the flagged-id
    set, which is AQE-broadcastable because matches are rare.

    For repeated incremental runs, persist the kept side's block rows
    once (:func:`simhash_block_rows`) and pass ``right_blocks`` — the
    kept corpus is then never re-signatured."""
    return _subtract_flagged(
        left,
        cross_corpus_near_pairs(
            left, right, text_col, id_col, max_distance,
            right_blocks=right_blocks,
        ),
        id_col,
    )


def minhash_band_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle: int = 3,
    bands: int = 4, rows_per_band: int = 2,
    keep_sig: bool = True,
) -> DataFrame:
    """Materialized MinHash-LSH band rows ``(id, sig, band,
    band_hash)`` — the Jaccard-grain analog of
    :func:`simhash_block_rows`.  Persist this for a kept corpus
    (``bands`` rows × ~(8·num_hashes + 50) bytes per doc, no text)
    and hand it to :func:`cross_corpus_jaccard_pairs` via
    ``right_bands`` so incremental crawls never re-shingle the kept
    side.  The signature rides along (default) so the
    signature-estimate verify works from the artifact alone;
    ``keep_sig=False`` drops it for callers that only need the
    candidate topology (the exact-verify path re-reads texts anyway
    and has no use for ~8·num_hashes dead bytes per band row in its
    checkpoint and join shuffle)."""
    src = spread_for_compute(df.select(id_col, text_col))
    sigs = minhash_signature(src, text_col, id_col, num_hashes, shingle)
    return minhash_band_buckets(
        sigs, id_col, bands, rows_per_band, keep_sig=keep_sig
    ).localCheckpoint(eager=True)


def cross_corpus_jaccard_pairs(
    left: DataFrame, right: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle: int = 3,
    bands: int = 4, rows_per_band: int = 2,
    threshold: float = 0.8,
    right_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora at word-set Jaccard ≥
    ``threshold`` — the Jaccard-grain sibling of
    :func:`cross_corpus_near_pairs` for callers whose near-dup
    definition is token overlap rather than SimHash-Hamming.

    The band join runs ACROSS the corpora (never left × right).
    Verification grain follows what the right side provides:

    * ``right`` (texts) → **exact** word-set Jaccard, computed only
      over candidates (Σ|words| linear in the candidate list, as in
      :func:`near_duplicate_pairs`).
    * ``right_bands`` (persisted :func:`minhash_band_rows`) → the
      **signature estimate** (matching-minhash fraction, resolution
      ``1/num_hashes`` — size the artifact's ``num_hashes``
      accordingly, e.g. 128 for ±0.09 @95%), since the kept corpus's
      text is by design not re-read.  The estimate is unbiased for
      the same shingle grain the signatures were built with.

    → ``(left_id, right_id, jaccard)``; give exactly one of
    ``right`` / ``right_bands``, whose ``num_hashes``/``shingle``/
    band shape must match the arguments."""
    if (right is None) == (right_bands is None):
        raise ValueError("give exactly one of right / right_bands")

    # signatures are verification payload only in estimate mode; the
    # exact path re-reads texts, so its band rows stay id-narrow
    estimate = right_bands is not None
    lb = minhash_band_rows(
        left, text_col, id_col, num_hashes, shingle, bands, rows_per_band,
        keep_sig=estimate,
    )
    rb = (
        right_bands
        if estimate
        else minhash_band_rows(
            right, text_col, id_col, num_hashes, shingle, bands,
            rows_per_band, keep_sig=False,
        )
    )
    pairs = _bucket_pairs(
        lb, rb, ("band", "band_hash"), id_col,
        {"sig": "sig"} if estimate else None,
    ).distinct()
    if estimate:
        # the sigs ARE the verification payload, so they ride
        # through the distinct
        est = (
            F.expr(
                "size(filter(zip_with(sig_left, sig_right, (a, b) -> a <=> b),"
                " x -> x))"
            )
            / F.lit(float(num_hashes))
        )
        return pairs.select(
            "left_id", "right_id", F.round(est, 6).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    # exact mode: materialize the pair list once (it feeds the id
    # restrictions plus the intersection join inside the shared
    # verifier; un-materialized each branch would re-run the band join)
    return _exact_jaccard_over_pairs(
        pairs.localCheckpoint(eager=True), left, right, "left_id",
        "right_id", text_col, id_col, threshold,
    )


def subtract_jaccard_duplicates(
    left: DataFrame, right: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 8, shingle: int = 3,
    bands: int = 4, rows_per_band: int = 2,
    threshold: float = 0.8,
    right_bands: DataFrame | None = None,
) -> DataFrame:
    """``left`` minus every doc with a word-set Jaccard ≥
    ``threshold`` near-copy in ``right`` — cross-corpus dedup as a
    set operation at the token-overlap grain.  Same incremental
    contract as :func:`subtract_near_duplicates`: persist the kept
    side's band rows once (:func:`minhash_band_rows`) and pass
    ``right_bands``."""
    return _subtract_flagged(
        left,
        cross_corpus_jaccard_pairs(
            left, right, text_col, id_col, num_hashes, shingle,
            bands, rows_per_band, threshold, right_bands=right_bands,
        ),
        id_col,
    )
