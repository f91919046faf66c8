"""The banded-LSH kernel shared by the MinHash and SimHash pair generators.

- The kernel (signature bands → (band, key) self-join → pair dedup →
  agreement count) equals a brute-force Python band-collision
  reference row for row, over seeded random signature frames.
- Bad banding arguments raise ValueError before any Spark job runs.
- Each kernel caller runs no more Spark jobs per call than before the
  generators shared the kernel: a kernel that adds a pin or a shuffle
  fails here.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark.operators import (
    dedup,
)

K = 8
# a small value pool makes unrelated docs collide at r = 1; the
# extremes check that band keys and agreement keep full 64-bit values
POOL = [0, 1, 7, -1, -(1 << 63), (1 << 63) - 1]
BAND_KEYS = {
    "bare": lambda m: m,
    "xxhash64": F.xxhash64,
    "joined": dedup._joined_key,
}


def _ids(rng: random.Random, n: int, kind: str) -> list:
    if kind == "long":
        ids = rng.sample(range(-(10**12), 10**12), n)
    else:
        # 'ü' sorts after every ASCII byte in both Python and Spark
        ids = [
            f"{'üd' if i % 5 == 0 else 'd'}{rng.randrange(10**6)}-{i}"
            for i in range(n)
        ]
    rng.shuffle(ids)
    return ids


def _signatures(seed: int, n: int, kind: str) -> list[tuple]:
    """(id, sig tuple) rows: random signatures plus near-copies that
    collide with their source in several bands."""
    rng = random.Random(seed)
    ids = _ids(rng, n, kind)
    rows = []
    for i, doc_id in enumerate(ids):
        if rows and i % 4 == 0:
            sig = list(rng.choice(rows)[1])
            for pos in rng.sample(range(K), rng.randrange(4)):
                sig[pos] = rng.choice(POOL)
        else:
            sig = [rng.choice(POOL) for _ in range(K)]
        rows.append((doc_id, tuple(sig)))
    return rows


def _frame(spark, rows, kind):
    schema = f"doc_id {kind}, " + ", ".join(f"_m{k} long" for k in range(K))
    return spark.createDataFrame([(i, *s) for i, s in rows], schema)


def _reference(rows, r):
    """{(id_a, id_b): (shared bands, agreeing positions)} by brute force."""
    out = {}
    for (ia, sa), (ib, sb) in itertools.permutations(rows, 2):
        shared = sum(sa[b : b + r] == sb[b : b + r] for b in range(0, K, r))
        if ia < ib and shared:
            out[(ia, ib)] = (shared, sum(x == y for x, y in zip(sa, sb)))
    return out


CASES = [
    (r, key, kind)
    for r in (1, 2, 4)
    # the bare value is a band key only for single-signature bands
    for key in (["bare"] if r == 1 else []) + ["xxhash64", "joined"]
    for kind in ("long", "string")
]


@pytest.mark.parametrize("r,key,kind", CASES)
def test_kernel_matches_brute_force_band_collisions(spark, r, key, kind):
    rows = _signatures(seed=1000 + 10 * r + len(key) + len(kind), n=40, kind=kind)
    want = _reference(rows, r)
    assert any(shared > 1 for shared, _ in want.values())  # multi-band pairs
    sig = _frame(spark, rows, kind)

    got = dedup._agreeing_pairs(sig, "doc_id", K, r, BAND_KEYS[key]).collect()
    assert sorted((g["id_a"], g["id_b"], g["n_agree"]) for g in got) == sorted(
        (a, b, agree) for (a, b), (_, agree) in want.items()
    )
    # without dedup the join yields one row per shared band
    banded = dedup._minhash_bands(sig, "doc_id", K, r, BAND_KEYS[key])
    raw = dedup._band_self_join(banded, "doc_id", dedup=False).collect()
    assert Counter((g["id_a"], g["id_b"]) for g in raw) == {
        pair: shared for pair, (shared, _) in want.items()
    }


@pytest.mark.parametrize("n", [0, 1])
@pytest.mark.parametrize("kind", ["long", "string"])
def test_kernel_on_empty_and_single_doc_frames(spark, n, kind):
    sig = _frame(spark, _signatures(seed=7, n=n, kind=kind), kind)
    pairs = dedup._agreeing_pairs(sig, "doc_id", K, 2, dedup._joined_key)
    assert pairs.collect() == []
    assert dedup._band_self_join(
        dedup._minhash_bands(sig, "doc_id", K, 1, BAND_KEYS["bare"]), "doc_id"
    ).collect() == []


def _jobs(spark, group, fn):
    """Spark jobs run by ``fn()`` (the statusTracker job-group count);
    returns (fn's result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _near_dup_corpus(spark):
    """50 reviews: five base texts, each repeated with one word swapped
    or one appended, ids scattered."""
    base = [
        "the food was great and the service was friendly and fast",
        "terrible experience the waiter ignored us for an hour",
        "best pizza in town with a crispy crust and fresh toppings",
        "the hotel room was clean but the walls were very thin",
        "would not recommend this place to anyone at all",
    ]
    rows = []
    for i in range(50):
        words = base[i % 5].split()
        rep = i // 5
        if rep % 3 == 1:
            words[rep % len(words)] = "extra"
        elif rep % 3 == 2:
            words.append("indeed")
        rows.append((i * 7 % 53, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


BAD_BANDING = {
    "lsh_zero_tables": (dedup.minhash_lsh_candidates, {"num_hash_tables": 0}),
    "native_zero_rows": (dedup.minhash_native_candidates, {"rows_per_band": 0}),
    "native_zero_hashes": (dedup.minhash_native_candidates, {"num_hashes": 0}),
    "native_indivisible": (
        dedup.minhash_native_candidates,
        {"num_hashes": 16, "rows_per_band": 3},
    ),
    "portable_zero_hashes": (dedup.minhash_portable_candidates, {"num_hashes": 0}),
    "portable_indivisible": (
        dedup.minhash_portable_candidates,
        {"num_hashes": 16, "rows_per_band": 3},
    ),
    "ml_replay_indivisible": (
        dedup.minhash_ml_replay_candidates,
        {"num_hash_tables": 7, "rows_per_band": 2},
    ),
    "ml_replay_zero_rows": (dedup.minhash_ml_replay_candidates, {"rows_per_band": 0}),
    "verified_indivisible": (
        dedup.near_dup_verified,
        {"num_hashes": 30, "rows_per_band": 4},
    ),
}


@pytest.mark.parametrize("name", list(BAD_BANDING))
def test_bad_banding_raises_before_any_spark_job(spark, name):
    fn, kwargs = BAD_BANDING[name]
    df = _near_dup_corpus(spark)

    def run():
        with pytest.raises(ValueError, match="must be a multiple of rows_per_band"):
            fn(df, **kwargs)

    assert _jobs(spark, f"bad-banding-{name}", run)[1] == 0


# (build jobs, collect jobs) per call on _near_dup_corpus, measured on
# the generators' own copies of the band join before they shared the
# kernel, in this session setup (local[8], 8 shuffle partitions):
# the eager signature pins are lsh's one build job and ml_replay's two,
# and simhash's fingerprint pin is five.
JOB_BUDGET = {
    "minhash_lsh_candidates": (dedup.minhash_lsh_candidates, 1, 6),
    "minhash_native_candidates": (dedup.minhash_native_candidates, 0, 3),
    "minhash_portable_candidates": (dedup.minhash_portable_candidates, 0, 3),
    "minhash_ml_replay_candidates": (dedup.minhash_ml_replay_candidates, 2, 4),
    "near_dup_verified": (dedup.near_dup_verified, 0, 6),
    "simhash_near_dup_pairs": (dedup.simhash_near_dup_pairs, 5, 4),
}


@pytest.mark.parametrize("name", list(JOB_BUDGET))
def test_kernel_callers_job_budget(spark, name):
    fn, build_budget, collect_budget = JOB_BUDGET[name]
    df = _near_dup_corpus(spark)
    out, build = _jobs(spark, f"budget-build-{name}", lambda: fn(df))
    rows, collect = _jobs(spark, f"budget-collect-{name}", out.collect)
    assert rows, "the corpus must produce pairs"
    assert build <= build_budget and collect <= collect_budget, (build, collect)
