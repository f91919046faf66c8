"""Deduplication operators for large-scale text pipelines.

Uplift beyond the reference (whose only dedup is row-level
``dropDuplicates`` on dimension tables, Yelp_Data_PreProcessing.py:77,91).
Four tiers, each with a distinct scale/recall trade-off:

- exact: hash-groupBy on normalized text. One shuffle; at 100 TB,
  group on ``xxhash64(text)`` (8 bytes) instead of the full text to
  keep shuffle volume ~key-sized, then verify within groups.
- ngram-jaccard: exact pairwise Jaccard over word-ngram shingles via
  an inverted-index self-join (blocking on shared shingle). Exact but
  O(pairs-sharing-a-shingle); usable as the verify stage after LSH.
- minhash-lsh: MinHash banded candidate generation — the 100 TB path
  (candidates only, linear-ish shuffle). The ml.feature
  semantics (HashingTF murmur3 indices, MinHashLSH's JDK-LCG
  signatures, approxSimilarityJoin banding/keyDistance) run as native
  expressions, value-identical to the model chain.
- simhash: 64-bit simhash fingerprint from md5-derived token hashes,
  fully native expressions; near-dup = small hamming distance.

The four MinHash generators and the SimHash pair joins share one
banded-LSH kernel (``_minhash_bands``, ``_band_self_join``,
``_agreeing_pairs``); each generator contributes only its hash family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.jdk_random import MINHASH_ML_PRIME, minhash_ml_coefficients
from ..functions.text import tokenize_ws
from . import textstats


def dedup_exact(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on text: keep min id per identical text.

    Returns (id_col, dup_count). Shuffles on a 64-bit text hash (not
    the text payload); md5 collision-checked implicitly by grouping on
    the full digest.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("_fp"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .drop("_fp")
    )


def shingle(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles: array<string>) — distinct word n-gram shingles.

    Overlapping n-grams come from a lookahead capture
    ``(?=(\\S+ … \\S+))\\S+ ?`` over whitespace-squeezed text — one
    codegen'd regexp_extract_all instead of a higher-order
    transform/slice/array_join chain (interpreted), measured 8x faster
    at sf0.1. Docs shorter than n tokens keep the join-all fallback so
    semantics match the relational oracle exactly.
    """
    toks = tokenize_ws(F.col(text_col))
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    pattern = F.lit("(?=(" + " ".join(["\\S+"] * n) + "))\\S+ ?")
    # empty/whitespace-only text maps to ZERO shingles so the size
    # filter actually drops it — split('') yields [''], and without
    # this branch every empty doc carried the single shingle "" and
    # all empty docs paired with each other at jaccard 1.0 (an
    # O(n_empty²) blowup in the inverted-index and minhash band joins).
    ngrams = (
        # NULL text maps to zero shingles like empty text: falling
        # through to the short-doc branch (size(NULL) = -1) would
        # produce the single shingle [NULL] — a doc the DuckDB
        # twins all DROP (len(split(NULL)) IS NULL fails their len>0
        # filter) and whose NULL hash could NPE ml.feature consumers
        # (HashingTF rejects null array elements)
        F.when(norm.isNull() | (norm == ""), F.array().cast("array<string>"))
        .when(F.size(toks) < n, F.array(F.array_join(toks, " ")))
        .otherwise(F.regexp_extract_all(norm, pattern, 1))
    )
    return df.select(
        F.col(id_col), F.array_distinct(ngrams).alias("shingles")
    ).filter(F.size("shingles") > 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs by word-ngram Jaccard ≥ threshold.

    Inverted-index self-join: explode shingles, join on shingle with
    id_a < id_b (dedup + no self-pairs), count shared shingles, then
    |A∩B| / (|A|+|B|-|A∩B|). The explode-join blocks on shared
    shingles, so disjoint docs never pair. Returns
    (id_a, id_b, jaccard).

    ``max_shingle_df`` caps shingle document frequency: shingles shared
    by more than that many docs (boilerplate headers/footers/license
    blocks) are dropped from every doc's shingle set BEFORE the
    self-join, and Jaccard is computed over the capped sets (sizes and
    intersections both). Without the cap one shingle shared by 10⁶ docs
    makes the self-join emit ~10¹²/2 candidate rows; with it the
    blow-up is bounded at ~max_shingle_df²/2 pairs per shingle. Docs
    that genuinely near-duplicate each other still pair through their
    rarer shingles (prefix-filtering rationale); docs whose only
    overlap is ultra-hot boilerplate are exactly the pairs a dedup
    pipeline should NOT link. The hot set is tiny by construction
    (only shingles with df > cap), so it broadcasts.

    Scale: this is the *verify* stage; at 100 TB run it only on
    LSH candidates (``minhash_lsh_candidates``) instead of the full
    inverted index, and keep the DF cap on as the boilerplate guard.
    """
    # Materialize the shingle pass once: `bare` is referenced by both
    # the hot-shingle aggregate and the kept anti-join (and the
    # uncapped branch's `inv` feeds both sides of the self-join), so
    # the scan + regex shingling would otherwise recompute 2-4x. Same
    # rationale as prefix_filter_pairs.
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n).localCheckpoint(
        eager=True
    )
    if max_shingle_df is not None:
        bare = sh.select(
            F.col(id_col).alias("_id"), F.explode("shingles").alias("_shingle")
        )
        hot = (
            bare.groupBy("_shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("_shingle")
        )
        kept = bare.join(F.broadcast(hot), "_shingle", "left_anti")
        inv = kept.withColumn(
            "_sz", F.count("*").over(Window.partitionBy("_id"))
        )
    else:
        sized = sh.select(
            F.col(id_col).alias("_id"), F.size("shingles").alias("_sz"), "shingles"
        )
        inv = sized.select("_id", "_sz", F.explode("shingles").alias("_shingle"))
    a = inv.select(
        F.col("_id").alias("id_a"), F.col("_sz").alias("sz_a"), "_shingle"
    )
    b = inv.select(
        F.col("_id").alias("id_b"), F.col("_sz").alias("sz_b"), "_shingle"
    )
    pairs = (
        a.join(b, on="_shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = pairs.select(
        "id_a",
        "id_b",
        (
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


# --- banded LSH kernel ------------------------------------------------
# Each MinHash generator below builds one signature frame
# (id, _m0 … _m{K-1}) with its own hash family and hands it to these
# helpers; the SimHash pair generators hand in their fingerprint bands
# (_simhash_bands). Banding, the band self-join, the pair dedup and
# the agreement count exist once, so a fix to any of them reaches
# every generator.


def _check_banding(k: int, r: int, name: str = "num_hashes") -> None:
    """Reject K < 1, r < 1 and K % r != 0 for K hashes banded r at a
    time. Generators call it first, so bad arguments raise before any
    Spark job runs (zero hashes would otherwise fail inside
    ``groupBy().agg()``, r = 0 with a ZeroDivisionError, and ml_replay
    only after pinning its signatures)."""
    if k < 1 or r < 1 or k % r:
        raise ValueError(
            f"{name} must be a multiple of rows_per_band, both >= 1 "
            f"(got {name}={k}, rows_per_band={r})"
        )


def _joined_key(*sigs):
    """Band key of the oracle-replayed families: the ':'-joined values."""
    return F.concat_ws(":", *sigs)


def _ml_hash(i, a: int, b: int):
    """MinHashLSH's published hash of sparse index ``i``:
    ((1 + i) · a + b) mod HASH_PRIME, exact in longs (i, a < 2³¹)."""
    return ((i.cast("long") + F.lit(1)) * F.lit(a) + F.lit(b)) % F.lit(
        MINHASH_ML_PRIME
    )


def _minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int, band_key
) -> DataFrame:
    """(id, _m0 … _m{K-1}, band, key): one row per band of
    ``rows_per_band`` consecutive signature columns, keyed by
    ``band_key(*columns)``. The signature columns ride along for
    :func:`_agreeing_pairs`; a self-join that does not carry them has
    them pruned from the plan."""
    sigs = [F.col(f"_m{k}") for k in range(num_hashes)]
    r = rows_per_band
    keys = [
        F.struct(F.lit(b // r).alias("band"), band_key(*sigs[b : b + r]).alias("key"))
        for b in range(0, num_hashes, r)
    ]
    return sig.select(
        id_col, *sigs, F.explode(F.array(*keys)).alias("bk")
    ).select(id_col, *sigs, "bk.band", "bk.key")


def _band_self_join(
    banded: DataFrame, id_col: str, carry=(), *, where=None, dedup=True
) -> DataFrame:
    """(id_a, id_b, <c>_a …, <c>_b …): the id_a < id_b pairs of a
    (id, …, band, key) frame that share at least one (band, key), once
    per pair. ``carry`` names per-doc columns (signatures, fingerprints)
    both sides bring along; they are functions of the id, so the dedup
    may keep any row of a pair. ``where`` is an exact verify over the
    carried columns, applied before the dedup so Spark evaluates it in
    the join and only verified pairs are shuffled. ``dedup=False``
    keeps one row per shared band, for a caller that only needs one
    side's ids and so no pair shuffle."""

    def side(s: str) -> DataFrame:
        cols = [F.col(c).alias(f"{c}_{s}") for c in carry]
        return banded.select(F.col(id_col).alias(f"id_{s}"), *cols, "band", "key")

    ordered = F.col("id_a") < F.col("id_b")
    pairs = (
        side("a")
        .join(side("b"), ["band", "key"])
        .filter(ordered if where is None else ordered & where)
        .drop("band", "key")
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if dedup else pairs


def _agreeing_pairs(
    sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int, band_key
) -> DataFrame:
    """(id_a, id_b, n_agree: int): band collisions of a signature
    frame with the number of signature positions the pair agrees on
    (the MinHash estimate of Jaccard is n_agree / K)."""
    sigs = [f"_m{k}" for k in range(num_hashes)]
    banded = _minhash_bands(sig, id_col, num_hashes, rows_per_band, band_key)
    n_agree = sum(
        F.when(F.col(f"{c}_a") == F.col(f"{c}_b"), 1).otherwise(0) for c in sigs
    )
    return _band_self_join(banded, id_col, sigs).select(
        "id_a", "id_b", n_agree.alias("n_agree")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.6,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidate pairs (the 100 TB dedup path).

    Shingle → HashingTF sparse indicator vector → MinHashLSH
    approxSimilarityJoin. Returns (id_a, id_b, jaccard_distance) with
    distance = 1 - exact Jaccard on the hashed shingle sets (Spark
    computes the exact distance on the candidate pairs it generates).

    Deterministic under a fixed seed. Banding: num_hash_tables trades
    recall vs candidate volume; shuffle is O(docs × tables), never
    O(docs²).

    Everything downstream of HashingTF runs as native expressions.
    The ml.feature chain would evaluate its MinHash functions as a
    row-at-a-time JVM UDF over sparse vectors, TWICE (once per
    self-join side; the transform is not cached), and
    ``approxSimilarityJoin`` deduplicates candidate pairs by a
    ``distinct()`` over FULL (features, hashes) struct pairs, so the
    heaviest shuffle in its plan carries every sparse vector once per
    candidate row. The value-identical native form:

    - HashingTF itself is KEPT (one JVM pass over the shingle arrays):
      its murmur3_x86_32 is the hashUnsafeBytes2 variant, which Spark
      SQL's ``hash()`` does NOT reproduce for byte lengths % 4 != 0
      (``hashUnsafeBytes`` mixes tail bytes one-per-round) — pinned in
      tests/test_minhash_native_rewrite.py. The sparse indices come
      out natively via ``unwrap_udt`` — no vector UDF.
    - MinHashLSH signature t: ``min over indices i of
      ((1 + i) · aₜ + bₜ) mod HASH_PRIME`` with the seeded JDK-LCG
      (aₜ, bₜ) draws replayed by functions/jdk_random.py — the exact
      published formula, computed per row with array HOFs (exact in
      long arithmetic: i < 2¹⁸, a < 2³¹; no shuffle at all). This is
      the generator's hash family; the rest is the banded-LSH kernel.
    - approxSimilarityJoin: the kernel's single-signature bands
      (:func:`_minhash_bands` with r = 1, the bare value as key) →
      equi-join on (band, value) → distinct pairs
      (:func:`_band_self_join`) → keyDistance = 1 − |A∩B|/|A∪B| on the
      index SETS → STRICT < threshold. Same steps, same float
      arithmetic; the pair-dedup shuffles 16-byte id pairs instead of
      struct-wrapped vectors.

    End-to-end row equality vs the live ml.feature chain is pinned in
    tests/test_minhash_native_rewrite.py; the DuckDB oracle replays
    the chain from first principles independently of either.
    """
    from pyspark.ml.feature import HashingTF

    _check_banding(num_hash_tables, 1, "num_hash_tables")
    coeffs = minhash_ml_coefficients(seed, num_hash_tables)
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18
    )
    feat = tf.transform(sh).filter(F.size("shingles") > 0)

    def _sig(a: int, b: int):
        return F.array_min(F.transform("_idx", lambda i: _ml_hash(i, a, b)))

    # one projection produces the index SET (keyDistance input) and
    # all num_hash_tables signatures. Pinned: the band self-join
    # consumes it twice and the distance join twice more, and Spark
    # 4.1 plans no ReusedExchange for these self-joins.
    doc = (
        feat.select(
            F.col(id_col),
            F.unwrap_udt("features").getField("indices").alias("_idx"),
        )
        .select(
            F.col(id_col),
            "_idx",
            *[_sig(a, b).alias(f"_m{t}") for t, (a, b) in enumerate(coeffs)],
        )
        .localCheckpoint(eager=True)
    )
    cand = _band_self_join(
        _minhash_bands(doc, id_col, num_hash_tables, 1, lambda m: m), id_col
    )
    joined = cand.join(
        doc.select(F.col(id_col).alias("id_a"), F.col("_idx").alias("_ia")),
        "id_a",
    ).join(
        doc.select(F.col(id_col).alias("id_b"), F.col("_idx").alias("_ib")),
        "id_b",
    )
    inter = F.size(F.array_intersect("_ia", "_ib")).cast("double")
    union = F.size("_ia").cast("double") + F.size("_ib").cast("double") - inter
    dist = F.lit(1.0) - inter / union
    return (
        joined.select("id_a", "id_b", dist.alias("jaccard_distance"))
        .filter(F.col("jaccard_distance") < F.lit(max_jaccard_distance))
    )


def minhash_native_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 1,
    min_est_jaccard: float = 0.2,
) -> DataFrame:
    """Native banded MinHash — no ml.feature, 100% whole-stage codegen.

    Hash family: explode shingles → K seeded xxhash64 → min per seed
    (ONE shuffle, map-side combined, carries only (id, K longs)). The
    banded-LSH kernel (:func:`_agreeing_pairs`) bands the K signatures
    ``rows_per_band`` at a time under an xxhash64 band key, self-joins
    on (band, key) and counts agreeing minhashes; estimated Jaccard =
    that fraction. Returns (id_a, id_b, est_jaccard).

    vs ``minhash_lsh_candidates`` (ml.feature): same candidate
    semantics but the signature build never leaves codegen and the
    estimate avoids re-touching shingle sets entirely; run the exact
    ``ngram_jaccard_pairs`` on these candidates as the verify stage.
    Recall for similarity j: 1-(1-j^r)^(K/r) with r=rows_per_band.
    """
    _check_banding(num_hashes, rows_per_band)
    # Hash each shingle STRING once; derive the K family members by
    # re-hashing the fixed-width 8-byte value (cheap) rather than the
    # string (expensive). One shuffle carrying (id, K longs).
    # (Measured alternatives on this corpus: per-token lambda hashing
    # is ~25% slower; one-permutation bucketing explodes the band join
    # via null-bucket collisions.)
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n)
    exploded = sh.select(
        F.col(id_col), F.explode("shingles").alias("_s")
    ).select(F.col(id_col), F.xxhash64("_s").alias("_h0"))
    sig = exploded.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("_h0"), F.lit(k))).alias(f"_m{k}")
            for k in range(num_hashes)
        ]
        # Not pinned, though the band self-join re-runs the scan →
        # shingle → explode → K-hash → groupBy chain per side (no
        # ReusedExchange in Spark 4.1): locally the eager
        # materialization barrier costs more than the duplicated
        # all-codegen recompute (interleaved A/B at sf0.1, min of 4:
        # pinned 2.658 s vs unpinned 2.574 s, unpinned won 3/4 pairs).
        # At cluster scale the trade may reverse (two full corpus
        # scans vs one executor-local write); revisit with cluster
        # numbers, not local ones.
    )
    pairs = _agreeing_pairs(sig, id_col, num_hashes, rows_per_band, F.xxhash64)
    est = F.col("n_agree").cast("double") / F.lit(float(num_hashes))
    return pairs.select("id_a", "id_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )


# Carter-Wegman universal-hash modulus for the PORTABLE MinHash
# family: the Mersenne prime 2^31 - 1. Chosen so a*x + b with
# a, x < 2^31 stays under 2^62 — exact in the signed 64-bit integer
# arithmetic BOTH engines (Spark long, DuckDB BIGINT) share, which is
# what makes the DuckDB oracle able to replay the signatures bit-for-
# bit. The xxhash64 variant above remains the raw-throughput path; at
# a 2^31 hash space the per-pair collision term is ~|shingles|²/2^31,
# negligible at oracle scale and bounded at 100 TB because collisions
# only ever ADD candidates for the exact-verify stage to reject.
MINHASH_PORTABLE_PRIME = 2147483647


def minhash_portable_coeffs(
    num_hashes: int, seed: int = 7
) -> list[tuple[int, int]]:
    """Deterministic (a, b) Carter-Wegman coefficients.

    Generated by a fixed-constant 64-bit LCG (Knuth MMIX multiplier)
    seeded with ``seed`` so the Spark operator and the generated
    DuckDB oracle SQL embed the SAME family without sharing state —
    both call this function (the SQL generator inlines the values as
    literals). a ∈ [1, p-1], b ∈ [0, p-1].
    """
    state = seed & ((1 << 64) - 1)
    out = []
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        a = state % (MINHASH_PORTABLE_PRIME - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
        b = state % MINHASH_PORTABLE_PRIME
        out.append((a, b))
    return out


def minhash_portable_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 2,
    min_est_jaccard: float = 0.2,
    seed: int = 7,
) -> DataFrame:
    """Banded MinHash with an engine-portable hash family (oracle-able).

    Banding, the (band, key) self-join and the agreement count are the
    banded-LSH kernel (:func:`_agreeing_pairs`); this generator
    contributes only a hash family that is replayable outside the JVM:
    base hash is the first 15 hex chars of md5(shingle) (60 bits, the
    same device the simhash promotion used) reduced mod p = 2^31-1,
    and member k is ``(a_k * base + b_k) mod p`` with
    :func:`minhash_portable_coeffs` literals, min per member in ONE
    map-side-combined shuffle carrying (id, K ints). A DuckDB twin
    recomputes identical signatures, bands and pairs, turning the
    whole LSH pipeline — not just its exact-verify stage — into a
    value-hash-checked query. Band key is the ':'-joined member values
    (string equi-join key, no extra hash).

    Returns (id_a, id_b, est_jaccard) with est_jaccard = fraction of
    agreeing minhashes, filtered to >= min_est_jaccard. Recall for true
    similarity j: 1-(1-j^r)^(K/r), identical to the native variant.
    """
    _check_banding(num_hashes, rows_per_band)
    coeffs = minhash_portable_coeffs(num_hashes, seed)
    p = MINHASH_PORTABLE_PRIME
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n)
    base = sh.select(F.col(id_col), F.explode("shingles").alias("_s")).select(
        F.col(id_col), (textstats.md5_prefix_long("_s") % p).alias("_h0")
    )
    sig = base.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("_h0") + F.lit(b)) % p).alias(f"_m{k}")
            for k, (a, b) in enumerate(coeffs)
        ]
    )
    pairs = _agreeing_pairs(sig, id_col, num_hashes, rows_per_band, _joined_key)
    est = F.col("n_agree").cast("double") / F.lit(float(num_hashes))
    return pairs.select("id_a", "id_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= min_est_jaccard
    )


def minhash_ml_replay_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 8,
    rows_per_band: int = 2,
    seed: int = 42,
) -> DataFrame:
    """ml.feature MinHashLSH banding on an oracle-replayable index
    space — the deterministic twin of :func:`minhash_lsh_candidates`.

    The sibling feeds MinHashLSH through HashingTF (murmur3), so its
    candidate set is rows-only for the driver. Here the sparse
    indicator indices are the engine-portable md5-based shingle hash
    (``md5_prefix_long % MINHASH_ML_PRIME`` — the same device the
    portable family uses, reduced mod Spark ML's HASH_PRIME so the
    vector dimension satisfies MinHashLSH's ``inputDim <= prime``
    requirement), while the signatures follow the REAL
    ``pyspark.ml.feature.MinHashLSH`` formula. A DuckDB oracle replays
    the full chain from first principles: the JDK-LCG coefficient
    draws (functions/jdk_random.py, spec-pinned in
    tests/test_minhash_spec_values.py) and the published
    ``min((1 + i) * a + b) mod P`` map become literals in generated
    SQL — promoting the ml.feature hash chain itself to a
    value-hash-checked surface.

    Banding is the banded-LSH kernel (:func:`_agreeing_pairs`) with
    r = 2 ``rows_per_band`` signatures per band and ':'-joined band
    keys: single-signature banding (approxSimilarityJoin's r = 1)
    fires at probability j per table even for unrelated pairs, which
    measured 82k candidate pairs / 13 s at sf0.1 — r = 2 drops
    incidental collisions to j² per band while every signature value
    still flows through the band keys AND the n_agree surface, so the
    certification power is identical. Returns (id_a, id_b, n_agree)
    with n_agree = number of agreeing signature positions — an
    integer-only surface (no float kinds for the driver's hasher).

    No sparse-vector assembly UDF and no ``MinHashLSH.fit/transform``
    run here: the signatures come from
    the SAME published formula the model applies,
    ``min over indices i of ((1 + i) · aₜ + bₜ) mod HASH_PRIME`` with
    the seeded JDK-LCG (aₜ, bₜ) draws from functions/jdk_random.py
    (spec-pinned against live ml.feature output in
    tests/test_minhash_spec_values.py), evaluated as native
    expressions in the index aggregation itself. min over duplicate
    indices == min over the distinct set, and the arithmetic is exact
    in longs (i < HASH_PRIME < 2³¹, a < 2³¹ ⇒ products < 2⁶²), so the
    values are identical to the model's double-carried integers.
    """
    _check_banding(num_hash_tables, rows_per_band, "num_hash_tables")
    p = MINHASH_ML_PRIME
    coeffs = minhash_ml_coefficients(seed, num_hash_tables)
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n)
    exploded = (
        sh.select(F.col(id_col), F.explode("shingles").alias("_s"))
        .filter(F.col("_s").isNotNull())
        .select(
            F.col(id_col), (textstats.md5_prefix_long("_s") % p).alias("_i")
        )
    )
    # one groupBy yields every signature; pinned because the band
    # self-join consumes it twice (the old path cached the featurized
    # frame but re-ran the model transform — a per-row JVM UDF over
    # sparse vectors — once per side)
    sig = (
        exploded.groupBy(id_col)
        .agg(
            *[
                F.min(_ml_hash(F.col("_i"), a, b)).alias(f"_m{t}")
                for t, (a, b) in enumerate(coeffs)
            ]
        )
        .localCheckpoint(eager=True)
    )
    pairs = _agreeing_pairs(sig, id_col, num_hash_tables, rows_per_band, _joined_key)
    return pairs.select("id_a", "id_b", F.col("n_agree").cast("long"))


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicate token-span detection — the 'repeated substring'
    primitive of training-data dedup (find every ``span_tokens``-token
    window occurring ≥ ``min_occurrences`` times across the corpus).

    Spans come from the lookahead-regex window extractor (codegen); the
    groupBy key is the span's md5 (16 bytes shuffled per window, never
    the text). Returns (span_hash, n_occurrences, n_docs,
    first_doc_id). At 100 TB this is one explode + one map-side-
    combined shuffle — the same shape Lee et al.-style suffix dedup
    reduces to when windows are fixed-length.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    window_pat = "(?=(" + " ".join(["\\S+"] * span_tokens) + "))\\S+ ?"
    spans = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(norm, F.lit(window_pat), 1)).alias("_span"),
    )
    return (
        spans.groupBy(F.md5("_span").alias("span_hash"))
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("first_doc_id"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )


def maximal_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_tokens: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Variable-length maximal repeated spans — the suffix-array-style
    training-data dedup primitive (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed as a
    Spark-shaped seed-and-merge:

    1. *Seed*: every ``seed_tokens``-token window, position-indexed via
       the lookahead-regex extractor (window ordinal == start token
       position, codegen).
    2. *Corpus-wide duplication*: group windows by md5 (16-byte keys,
       payloads never shuffled), keep hashes occurring
       ≥ ``min_occurrences`` times, semi-join back to (doc, pos).
    3. *Extend-and-merge*: per doc, duplicated windows at consecutive /
       overlapping positions merge into maximal regions
       (gaps-and-islands over one position-ordered window — a region
       is exactly the union of covered token positions, so any
       repeated substring of length ≥ seed_tokens surfaces at its full
       length).

    Returns (doc_id, span_start, n_tokens, span_hash): 0-based start
    token, region length in tokens, md5 of the region's normalized
    text. Cost at scale: one explode, one map-side-combined shuffle on
    window hashes, one per-doc sort (the same partitioning serves the
    island merge and the region agg), one keyed join to recover span
    text — no all-pairs stage anywhere.
    """
    k = seed_tokens
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    window_pat = "(?=(" + " ".join(["\\S+"] * k) + "))\\S+ ?"
    wins = df.select(
        F.col(id_col),
        F.posexplode(
            F.regexp_extract_all(norm, F.lit(window_pat), 1)
        ).alias("pos", "_span"),
    ).select(id_col, "pos", F.md5("_span").alias("_h"))
    # Duplication gate via count-over-window, not groupBy + semi-join
    # back: the semi-join shape computes the window explode + md5 pass
    # TWICE (both sides; no exchange reuse) and shuffles twice on _h.
    # The window partitions by the same key the aggregation would
    # group on, so this is one pass and one exchange, with identical
    # semantics (keep windows whose hash occurs >= min_occurrences
    # corpus-wide).
    seeds = (
        wins.withColumn(
            "_c", F.count("*").over(Window.partitionBy("_h"))
        )
        .filter(F.col("_c") >= min_occurrences)
        .select(id_col, "pos", "_h")
    )

    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = (prev.isNull() | (F.col("pos") > prev + k)).cast("int")
    isl = seeds.select(
        id_col,
        "pos",
        F.sum(brk)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_island"),
    )
    regions = isl.groupBy(id_col, "_island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.lit(k) - F.min("pos")).cast("long").alias("n_tokens"),
    )
    toks = df.select(F.col(id_col), F.split(norm, " ").alias("_toks"))
    return regions.join(toks, id_col).select(
        id_col,
        "span_start",
        "n_tokens",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "_toks",
                    (F.col("span_start") + 1).cast("int"),
                    F.col("n_tokens").cast("int"),
                ),
            )
        ).alias("span_hash"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_tokens: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM (Lee et al. 2021 §4: the
    duplicated substring is *removed* from all but one occurrence, not
    merely reported). Builds on :func:`maximal_duplicate_spans`:

    - canonical occurrence per span_hash = first by (doc_id,
      span_start); every other occurrence's token range is excised;
    - cleaned text = the doc's normalized tokens outside removed
      ranges, order preserved.

    Returns (id, n_tokens, n_tokens_removed, cleaned_text) for EVERY
    input doc (fully-duplicated docs come back with empty text, not
    dropped). Cost at scale: the span pipeline's cost + one
    row_number over span_hash (16-byte keys), one posexplode of the
    corpus and a per-doc anti range-join against removed spans — all
    linear, no pair stage. The collect_list is per-doc (bounded by doc
    length), sorted by position before joining, so reassembly is
    deterministic under any partitioning.
    """
    spans = maximal_duplicate_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        seed_tokens=seed_tokens,
        min_occurrences=min_occurrences,
    )
    w = Window.partitionBy("span_hash").orderBy(id_col, "span_start")
    removed = (
        spans.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(
            F.col(id_col).alias("_rid"),
            F.col("span_start").alias("_rs"),
            (F.col("span_start") + F.col("n_tokens")).alias("_re"),
        )
    )
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    toks = df.select(
        F.col(id_col), F.posexplode(F.split(norm, " ")).alias("pos", "tok")
    )
    kept = toks.join(
        removed,
        (toks[id_col] == removed["_rid"])
        & (F.col("pos") >= F.col("_rs"))
        & (F.col("pos") < F.col("_re")),
        "left_anti",
    )
    cleaned = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    orig = df.select(
        F.col(id_col), F.size(F.split(norm, " ")).cast("long").alias("n_tokens")
    )
    return orig.join(cleaned, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


def near_dup_verified(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 32,
    rows_per_band: int = 2,
) -> DataFrame:
    """The full 100 TB dedup pipeline as one operator:
    native MinHash candidates → EXACT n-gram Jaccard verify on the
    candidate pairs only. Returns (id_a, id_b, jaccard).

    Cost: candidate generation is ~linear (banded signatures); the
    exact verify joins shingle arrays for candidate pairs only (never
    all pairs) and computes |A∩B| via array_intersect in codegen.
    Equals ``ngram_jaccard_pairs(df, threshold=threshold)`` whenever
    the banding recalls every true pair (tune num_hashes/rows_per_band
    per corpus; unit-tested on ours).
    """
    cand = (
        minhash_native_candidates(
            df,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            rows_per_band=rows_per_band,
            min_est_jaccard=0.0,
        )
        .select("id_a", "id_b")
        # Spread the exact verify: the same AQE-coalescing trap as
        # prefix_filter_pairs (16-byte candidate rows coalesce to 1-2
        # tasks, and the array_intersect over full shingle arrays
        # lands on them). Round-robin over defaultParallelism is
        # scale-adaptive. Measured worth it: interleaved A/B at sf0.1,
        # min of 4: spread 2.860 s vs unspread 2.938 s, spread won 3/4
        # pairs.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # Deliberately NOT pinning this shingle frame: at sf0.1 (4
    # variants x 2 repeats) the checkpoint of the full shingle arrays
    # cost MORE than the two narrow recomputed scans it saves (4.7 s
    # vs 3.8 s with the candidate repartition), unlike
    # prefix_filter_pairs, where six consumers amortize the pin.
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("_sb"))
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - inter
    return (
        joined.select(
            "id_a", "id_b", (inter / union).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash fingerprint per doc, fully native expressions.

    Token hash = first 15 hex chars of md5 (60 bits, engine-portable);
    bit j of the fingerprint is set iff Σ_tokens (2·bit_j(hash) - 1) > 0.
    Returns (id_col, simhash: bigint). Near-dups share most bits —
    group by band-substrings of the fingerprint to find them at scale.
    """
    if bits != 64:
        raise ValueError("simhash supports bits=64 only")
    # Explode → (doc, token, count) → 64 statically-unrolled conditional
    # sums → assemble fingerprint. Everything stays in whole-stage
    # codegen (no higher-order functions, which execute interpreted);
    # the shuffle carries only (id, token, count) pairs with map-side
    # combine — the design that holds at 100 TB.
    toks = tokenize_ws(F.col(text_col))
    counted = (
        df.select(F.col(id_col), F.explode(toks).alias("_tok"))
        .groupBy(id_col, "_tok")
        .agg(F.count("*").alias("_cnt"))
    )
    # dictionary join: md5+conv once per DISTINCT token, not per
    # (doc, token) instance — the token dictionary is orders of
    # magnitude smaller than the instance table at corpus scale
    tok_dict = counted.select("_tok").distinct().withColumn(
        "_h", textstats.md5_prefix_long("_tok")
    )
    per_token = counted.join(F.broadcast(tok_dict), "_tok")
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, F.col("_cnt")
            ).otherwise(-F.col("_cnt"))
        ).alias(f"_v{j}")
        for j in range(bits)
    ]
    voted = per_token.groupBy(id_col).agg(*votes)
    fingerprint = None
    for j in range(bits):
        # 1<<63 overflows signed long; its bit pattern is long MIN_VALUE
        bit_val = F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
        term = F.when(F.col(f"_v{j}") > 0, bit_val).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return voted.select(F.col(id_col), fingerprint.alias("simhash"))


# the token hash is 60-bit (md5_prefix_long: 15 hex chars), so
# fingerprint bits 60-63 are CONSTANT ZERO — banding must partition
# the 60 informative bits, not 64/bands-wide slices (the old 16-bit
# band 3 carried only 12 informative bits: ~16x the false band
# collisions of the other bands). The slice widths below partition
# [0, 60) contiguously, so the pigeonhole recall guarantee (hamming
# ≤ bands-1 ⇒ ≥1 exact band) is preserved for ANY band count, and
# the final exact-hamming filter makes results identical either way.
SIMHASH_INFORMATIVE_BITS = 60


def _simhash_bands(
    fps: DataFrame, id_col: str, bands: int, fp_col: str = "simhash"
) -> DataFrame:
    """(id, fp, band, key): explode a fingerprint frame into its band
    keys — the ONE banding implementation shared by the batch pair
    generators and the incremental path (a banding fix must not be
    applied in four places)."""
    total = SIMHASH_INFORMATIVE_BITS
    if bands < 1 or bands > total:
        # bands > informative bits produces zero-width slices
        # (cuts[b+1] == cuts[b]) whose key is constantly 0 — that band
        # would equi-join the ENTIRE corpus against itself. Callers
        # only validated max_hamming <= bands-1, which doesn't catch it.
        raise ValueError(
            f"bands must be in [1, {total}] (the fingerprint's "
            f"informative bit count); got {bands} — any band count "
            "above the bit width yields zero-width all-zero band keys "
            "that cross-join the whole corpus"
        )
    cuts = [b * total // bands for b in range(bands + 1)]
    return fps.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(fp_col), cuts[b])
                        .bitwiseAND(F.lit((1 << (cuts[b + 1] - cuts[b])) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, fp_col, "bk.band", "bk.key")


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Banding on 16-bit fingerprint slices: a pair within hamming 3 of a
    64-bit hash must agree exactly on ≥1 of 4 bands (pigeonhole), so
    the self-join blocks on band value — linear shuffle, no O(n²).

    Raises ValueError when ``max_hamming > bands - 1`` (the pigeonhole
    full-recall guarantee would silently break).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole full-recall "
            f"guarantee for bands={bands}: require max_hamming <= bands-1"
        )
    # Materialize the fingerprints ONCE: the band self-join would
    # otherwise re-run the whole simhash pipeline (token explode +
    # dict join + 64-vote groupBy) per side; (id, long) rows, the
    # cheapest possible pin.
    fps = simhash(df, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=True
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    cand = _band_self_join(
        _simhash_bands(fps, id_col, bands),
        id_col,
        ["simhash"],
        where=hamming <= max_hamming,
    )
    return cand.select("id_a", "id_b", hamming.alias("hamming"))


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster labels.

    The final stage of corpus dedup: candidate/verified pairs from any
    of the pair generators above form an undirected graph; each doc's
    cluster is labeled by the smallest doc id reachable from it, and
    the canonical keep-doc per cluster is the label itself.

    Algorithm: iterative min-label propagation (the GraphX/GraphFrames
    CC recipe) with POINTER DOUBLING — labels start as each node's own
    id; each round every node takes (1) the min label over itself and
    its neighbors, then (2) its label's label (path compression, the
    Shiloach-Vishkin shortcut). Step 2 makes label chains halve each
    round, so convergence is O(log diameter), not O(diameter): a
    10⁶-node path converges in ~20 rounds instead of 10⁶. Dup clusters
    (dense blobs of copies) converge in 2-3 rounds either way; the
    bound is what protects a pathological 100 TB pair graph — combined
    with ``max_iter`` (default 20 ⇒ handles diameters up to ~2²⁰) the
    loop cannot spin unbounded (tests/test_cluster_range_ops.py
    exercises a 64-node path under the default bound).

    Per round: two shuffles on node id (neighbor-min, then the
    compression self-join; join + groupBy share the same hash
    partitioning, so AQE coalesces them), carrying only (long, long)
    rows — at 100 TB the traffic is edge-count × 16 bytes, independent
    of document payload size. ``localCheckpoint`` truncates the growing
    lineage each round so plans stay O(1). The monotone label-sum
    doubles as a cheap convergence metric (labels only ever decrease),
    so each round costs exactly one extra action. If ``max_iter`` is
    exhausted before the fixpoint, the partial labels are returned
    (still a valid refinement — every label is a reachable node id) and
    a warning is logged.

    Returns (node, component) for every node that appears in an edge;
    isolated docs are absent (callers coalesce to their own id).
    """
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).union(
        edges.select(
            F.col(dst).cast("long").alias("u"), F.col(src).cast("long").alias("v")
        )
    )
    # Materialize sym HASH-PARTITIONED ON v: the neighbor-min join
    # probes sym.v against labels.node every round, and a LogicalRDD
    # checkpoint preserves its partitioning (the
    # graph.py:src_partitioned trick), so only the (long, long) labels
    # side shuffles per round instead of the whole edge list (two
    # operations keyed the same way share one exchange).
    sym = sym.distinct().repartition("v").localCheckpoint(eager=True)

    labels = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
        .select(F.col("u").alias("node"), F.least("comp", "node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]

    converged = False
    for _ in range(max_iter):
        # neighbor-min pass: label(node) <- min(label(node), label(neighbor))
        neigh = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("ncomp"))
        )
        propagated = (
            labels.join(neigh, labels.node == neigh.u, "left")
            .select(
                "node",
                F.least("comp", F.coalesce("ncomp", "comp")).alias("comp"),
            )
            # pinned: propagated feeds BOTH sides of the
            # pointer-doubling self-join below; unpinned, the
            # neighbor-min join + groupBy would re-run twice per round.
            .localCheckpoint(eager=True)
        )
        # pointer-doubling pass: label(node) <- label(label(node)).
        # Every label is itself a node id, so a self-join resolves one
        # more hop; doing this each round halves chain lengths.
        ptr = propagated.select(
            F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
        )
        new_labels = (
            propagated.join(ptr, propagated.comp == ptr.pnode, "left")
            .select(
                "node",
                F.least("comp", F.coalesce("pcomp", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = new_labels.agg(F.sum("comp")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "returning partial labels (graph diameter > 2^max_iter?)",
            stacklevel=2,
        )
    return labels.select("node", "comp")


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    token_bucket: int = 8,
    opening_len: int = 16,
    prefix_len: int = 120,
    max_dist: int = 15,
) -> DataFrame:
    """Near-dup pairs by prefix edit distance within blocks.

    Blocking: (lang, floor(n_tokens/token_bucket), first
    ``opening_len`` chars) — language + similar length + IDENTICAL
    opening. The opening component is what makes this scale: without
    it, same-length same-language docs form O(n²/buckets) blocks
    (measured 275k pairs over 5k docs → 70 s; with it, 79 pairs →
    sub-second). Within a block, pairs score by JVM-native
    ``levenshtein`` over the first ``prefix_len`` chars (bounded cost
    per pair) and keep distance ≤ ``max_dist``.

    Recall contract (deliberate, documented): a near-dup pair that
    EDITS inside its first ``opening_len`` chars or straddles a length
    bucket is missed. That's the standard record-linkage blocking
    tradeoff — this standalone mode is the recall-bounded fast path;
    for full recall run ``edit_distance_verify`` over MinHash/SimHash
    candidates instead. The self-join shuffles (id, block-key,
    prefix) — never full text; skew is bounded by the largest block.
    """
    base = _edit_base(
        df, id_col, text_col, lang_col, token_bucket, opening_len, prefix_len
    )
    a = base.select(
        F.col("_id").alias("id_a"), "_lang", "_bkt", "_open",
        F.col("_prefix").alias("_pa"),
    )
    b = base.select(
        F.col("_id").alias("id_b"), "_lang", "_bkt", "_open",
        F.col("_prefix").alias("_pb"),
    )
    return (
        a.join(b, on=["_lang", "_bkt", "_open"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.levenshtein("_pa", "_pb").alias("edit_dist")
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def _edit_base(df, id_col, text_col, lang_col, token_bucket, opening_len, prefix_len):
    toks = tokenize_ws(text_col)
    low = F.lower(F.trim(F.col(text_col)))
    return df.select(
        F.col(id_col).alias("_id"),
        F.col(lang_col).alias("_lang"),
        F.floor(F.size(toks) / token_bucket).cast("long").alias("_bkt"),
        F.substring(low, 1, opening_len).alias("_open"),
        F.substring(low, 1, prefix_len).alias("_prefix"),
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_len: int = 120,
    max_dist: int = 15,
) -> DataFrame:
    """Score candidate pairs (id_a, id_b) by prefix edit distance —
    the full-recall verify stage over LSH/SimHash candidate output.

    Two hash joins attach each side's ``prefix_len``-char prefix to
    the candidate rows (candidate volume ≪ corpus by construction, so
    this is candidate-sized work, never all-pairs), then one codegen
    levenshtein per pair. Returns (id_a, id_b, edit_dist) at distance
    ≤ ``max_dist``.
    """
    pref = df.select(
        F.col(id_col).alias("_pid"),
        F.substring(F.lower(F.trim(F.col(text_col))), 1, prefix_len).alias(
            "_p"
        ),
    )
    scored = (
        pairs.select("id_a", "id_b")
        .join(pref.withColumnsRenamed({"_pid": "id_a", "_p": "_pa"}), "id_a")
        .join(pref.withColumnsRenamed({"_pid": "id_b", "_p": "_pb"}), "id_b")
        .select("id_a", "id_b", F.levenshtein("_pa", "_pb").alias("edit_dist"))
    )
    return scored.filter(F.col("edit_dist") <= max_dist)


def incremental_dedup(
    new_docs: DataFrame,
    known_fingerprints: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fingerprint",
) -> tuple[DataFrame, DataFrame]:
    """Dedup an INCOMING batch against a persisted fingerprint store —
    the production shape: the corpus is never re-deduped end-to-end;
    each ingest batch checks (1) itself, then (2) the store.

    Returns (fresh_docs_with_fingerprint, updated_store_delta):
    ``fresh`` = batch-internal exact dedup (min-id per fingerprint)
    anti-joined against the store; ``delta`` = just the new
    fingerprints to append to the store. Both joins are on the 32-char
    md5 only — document payloads never shuffle against the store, so
    the store side scales as (fingerprint, id) pairs (bucketable by
    fingerprint to make the anti join exchange-free on the store
    side)."""
    fp = F.md5(F.trim(F.lower(F.col(text_col))))
    batch = new_docs.withColumn(fp_col, fp)
    w = Window.partitionBy(fp_col).orderBy(id_col)
    batch_unique = (
        batch.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    fresh = batch_unique.join(
        known_fingerprints.select(fp_col), on=fp_col, how="left_anti"
    )
    delta = fresh.select(fp_col, F.col(id_col).alias("first_seen_id"))
    return fresh, delta


def semdedup(
    emb: DataFrame,
    *,
    n_clusters: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int = 6,
    sim_round: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster by
    nearest seed centroid, then drop near-duplicates WITHIN clusters
    only → (id, cluster, keep).

    The clustering is what makes semantic dedup scale: pairwise cosine
    comparisons happen only inside a cluster, so the pair count is
    bounded by Σ|cluster|² instead of n² — with k ≈ √n clusters the
    total work is ~n^1.5 versus the brute-force oracle's n² (the same
    role LSH bands play for MinHash). Plan shape: the k seed vectors
    broadcast against the corpus (one narrow k×n pass, argmax per
    row = one row_number window on the id), then ONE shuffle on the
    cluster key for the intra-cluster self-join; document payloads
    never shuffle — only (id, vector) pairs.

    Determinism/portability: seeds are the ``n_clusters`` smallest ids
    (not sampled), assignment cosines round to ``assign_round`` before
    the argmax (ties then break on seed id identically in any engine),
    and the drop rule — a LOWER-id same-cluster neighbor with cosine ≥
    ``threshold`` on a ``sim_round``-rounded value — is exactly the
    DuckDB oracle's.

    ``centroids`` (a (centroid_id, centroid_vec) frame, e.g. from
    :func:`~.similarity.kmeans_fixed`'s centroid side or ml.KMeans on a
    sample) replaces the min-id seed rule for the production path —
    trained centroids balance cluster sizes, which is what keeps
    Σ|cluster|² near n²/k on skewed corpora. The plan is unchanged:
    centroids stay a broadcast-sized table. Column order must be
    (id, vector); ``n_clusters`` is ignored when given.
    """
    if centroids is not None:
        cid_col, cvec_col = centroids.columns[:2]
        seeds = centroids.select(
            F.col(cid_col).alias("_seed_id"), F.col(cvec_col).alias("_seed_vec")
        )
    else:
        seeds = (
            emb.orderBy(F.col(id_col))
            .limit(n_clusters)
            .select(
                F.col(id_col).alias("_seed_id"),
                F.col(vec_col).alias("_seed_vec"),
            )
        )
    # Norms are computed ONCE per vector and carried as a scalar column
    # — the pairwise stage then costs one dot product per pair instead
    # of three HOF aggregates. dot/( |a|·|b| ) with hoisted |·| is the
    # SAME float sequence as computing the norms inline, so results are
    # bit-identical to the DuckDB oracle's per-pair formula.
    from .similarity import _dot, _norm

    # Materialize (id, vec, norm) once: it feeds the assignment cross
    # join AND the cluster attach below, and no exchange reuse fires
    # (unpinned, the plan held 18 parquet scans of the embedding
    # table).
    withn = emb.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    ).localCheckpoint(eager=True)
    # hoist the seed norms onto the (tiny, broadcast) seeds frame too —
    # inline, the O(dim) HOF norm would re-evaluate n×k times in the
    # assignment cross join. Same float sequence, bit-identical result.
    seeds_n = seeds.select(
        "_seed_id", "_seed_vec", _norm(F.col("_seed_vec")).alias("_snrm")
    )
    assign = withn.crossJoin(F.broadcast(seeds_n)).select(
        F.col(id_col),
        F.col("_seed_id"),
        F.round(
            F.try_divide(
                _dot(F.col(vec_col), F.col("_seed_vec")),
                F.col("_nrm") * F.col("_snrm"),
            ),
            assign_round,
        ).alias("_cos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_cos").desc(), F.col("_seed_id")
    )
    best = (
        assign.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_seed_id").alias("cluster"))
    )
    # Pin the clustered vectors: vb feeds both pairwise sides and the
    # final keep join (3 references).
    vb = withn.join(best, id_col).localCheckpoint(eager=True)
    a = vb.select(
        F.col("cluster").alias("_ca"),
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = vb.select(
        F.col("cluster").alias("_cb"),
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    drops = (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("_ida") < F.col("_idb")))
        .filter(
            F.round(
                F.try_divide(
                    _dot(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb"),
                ),
                sim_round,
            )
            >= threshold
        )
        .select(F.col("_idb").alias("_drop_id"))
        .distinct()
    )
    return (
        vb.join(drops, vb[id_col] == drops["_drop_id"], "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.col("_drop_id").isNull().alias("keep"),
        )
    )


def incremental_near_dedup(
    new_docs: DataFrame,
    known_signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """NEAR-dup-aware incremental ingest: dedup an incoming batch
    against a persisted (id, simhash) signature store — the continuous
    complement of :func:`incremental_dedup` (exact md5) and the batch
    twin of ``streaming.stateful.stream_near_dup_pairs``.

    Steps: fingerprint the batch once (:func:`simhash`), suppress
    batch-internal near-dups (lower-id survivor, same banded join +
    exact hamming verify as :func:`simhash_near_dup_pairs`), then drop
    batch docs within ``max_hamming`` of any STORED signature — the
    store never re-fingerprints, and both joins block on band keys
    partitioning the 60 informative fingerprint bits (see
    :func:`_simhash_bands`), so the shuffle carries (id, 8-byte
    signature) pairs, never
    document payloads. Bands are derived from the stored signature on
    the fly (a projection), so the store schema stays minimal.

    Returns (fresh, delta): ``fresh`` = surviving docs with their
    ``simhash`` column attached; ``delta`` = (id, simhash) rows to
    append to the store. Re-ingesting the same batch against the
    updated store yields zero fresh rows (idempotence, tested).

    Raises ValueError when ``max_hamming > bands - 1``: past that the
    pigeonhole guarantee (any pair within hamming h < bands shares at
    least one exact band) no longer holds and the banded join would
    silently lose recall the docstring promises.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole full-recall "
            f"guarantee for bands={bands}: require max_hamming <= bands-1"
        )
    fps = simhash(new_docs, id_col=id_col, text_col=text_col)

    def banded(df: DataFrame, id_name: str, fp_name: str) -> DataFrame:
        return _simhash_bands(df, id_name, bands, fp_col=fp_name)

    # batch-internal: drop any id with a lower-id near-dup in the batch
    internal_drops = (
        _band_self_join(
            banded(fps, id_col, "simhash"),
            id_col,
            ["simhash"],
            where=F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
            <= max_hamming,
            dedup=False,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    survivors = fps.join(internal_drops, id_col, "left_anti")
    # store check: candidates from band collisions, exact hamming verify
    store_fp = known_signatures.columns[1]
    store_b = banded(
        known_signatures.select(
            F.col(known_signatures.columns[0]).alias("_sid"),
            F.col(store_fp).alias("_sfp"),
        ),
        "_sid",
        "_sfp",
    )
    sb = banded(survivors, id_col, "simhash")
    store_drops = (
        sb.join(store_b.select("band", "key", "_sfp"), ["band", "key"])
        .filter(
            F.bit_count(F.col("simhash").bitwiseXOR(F.col("_sfp")))
            <= max_hamming
        )
        .select(F.col(id_col))
        .distinct()
    )
    fresh_ids = survivors.join(store_drops, id_col, "left_anti")
    fresh = new_docs.join(fresh_ids.select(id_col, "simhash"), id_col)
    delta = fresh.select(F.col(id_col), F.col("simhash"))
    return fresh, delta


def prefix_filter_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_frac: tuple[int, int] = (3, 5),
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (the
    PPJoin/AllPairs family) — the third candidate-generation algorithm
    in the dedup tier, alongside the inverted-index self-join
    (:func:`ngram_jaccard_pairs`) and banded MinHash
    (:func:`minhash_lsh_candidates`), and unlike MinHash it is
    LOSSLESS: for Jaccard >= t, |A∩B| >= ceil(t·|A|), so if the
    (|A| - ceil(t·|A|) + 1) globally-rarest shingles of A share
    nothing with B's prefix, the pair provably cannot qualify.
    Candidates therefore come from self-joining only each doc's
    PREFIX (rarest-first by corpus document frequency), which prunes
    the quadratic blow-up on hot boilerplate shingles by
    construction — the same pathology :func:`ngram_jaccard_pairs`
    needs its df cap for, handled here without dropping any true
    pair.

    ``threshold_frac`` is the threshold as an integer fraction p/q so
    prefix lengths use EXACT integer ceil((p·sz + q - 1) div q) — no
    float boundary wobble. Verification computes true Jaccard with
    array_intersect over the candidate pairs only (codegen, bounded
    by candidate count). One shuffle for df, one doc-keyed window for
    the rarity ranking, one prefix self-join, one array verify.

    Returns (id_a, id_b, jaccard) for pairs with J >= p/q.
    """
    p, q = threshold_frac
    # Materialize the shingle pass ONCE (localCheckpoint). The frame
    # is referenced by dfreq, the prefix ranking, and both sides of
    # the verify join; unpinned, the scan + regex shingling pipeline
    # recomputes up to 6x (12 parquet scans in the plan). At 100 TB
    # this is the standard materialize-the-inverted-index step:
    # O(corpus shingle) bytes on executor-local disk in exchange for
    # one scan instead of six.
    sh = shingle(df, id_col=id_col, text_col=text_col, n=n).localCheckpoint(
        eager=True
    )
    inv = sh.select(
        F.col(id_col).alias("_id"),
        F.size("shingles").alias("_sz"),
        F.explode("shingles").alias("_g"),
    )
    # corpus document frequency per shingle: vocabulary-sized, so the
    # join carries NO broadcast hint (the TF-IDF rule)
    dfreq = inv.groupBy("_g").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "_g")
    prefix = (
        inv.join(dfreq, "_g")
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            F.col("_rn")
            <= F.col("_sz") - F.expr(f"(_sz * {p} + {q - 1}) div {q}") + 1
        )
        .select("_id", "_g")
        # Pin the prefix too: it feeds BOTH sides of the candidate
        # self-join, and each side would otherwise re-run the dfreq
        # join + rarity window (two Window nodes in the unpinned
        # plan). One window pass instead of two.
        .localCheckpoint(eager=True)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_g")
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
        # Spread the verify. AQE coalesces the distinct's
        # exchange by BYTES, and candidate pairs are 16-byte rows —
        # a few MB — so the whole array_intersect verify (the
        # expensive stage: the arrays are attached AFTER this
        # exchange) landed on 1-2 tasks (measured 7.0s on 2 tasks vs
        # 1.9s spread at sf0.1). Round-robin over defaultParallelism
        # is scale-adaptive (local[N] -> N, cluster -> total cores);
        # the re-shuffle itself is a few MB.
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    sa = sh.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("_sha")
    )
    sb = sh.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("_shb")
    )
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sha", "_shb")).alias("_inter"),
            F.size("_sha").alias("_na"),
            F.size("_shb").alias("_nb"),
        )
        .filter(
            F.col("_inter") * q >= (F.col("_na") + F.col("_nb") - F.col("_inter")) * p
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")),
            6,
        ).alias("jaccard"),
    )
