"""Unit tests: vectorized numpy kernels ≡ pure-Python scalar oracle.

The analogue of reproducing the reference's cluster assignments at an
identical configuration (SURVEY §5.2 item 2): at the pinned SketchConfig the
production kernels must match the independent oracle bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pytest

from localitysensitivesketch_spark import oracle as O
from localitysensitivesketch_spark.config import SketchConfig
from localitysensitivesketch_spark.functions import hashing as H
from localitysensitivesketch_spark.functions.text import tokenize

CFG = SketchConfig()

TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "The QUICK brown fox jumps over the lazy dog again and again today",
    "completely different content with no overlap whatsoever here now ok",
    "short",
    "",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z " * 5,
]


def _np_shingles(text: str, cfg: SketchConfig) -> np.ndarray:
    toks = tokenize(text, cfg.normalization)
    return H.shingle_hashes(H.hash_tokens(toks), cfg.shingle_k)


@pytest.mark.parametrize("text", TEXTS)
def test_shingles_match_oracle(text):
    got = set(int(x) for x in _np_shingles(text, CFG))
    assert got == O.oracle_shingles(text, CFG)


def test_seeds_match_oracle():
    got = [int(x) for x in H.minhash_seeds(CFG.n_hashes, CFG.seed)]
    assert got == O.oracle_seeds(CFG)


@pytest.mark.parametrize("text", TEXTS)
def test_minhash_matches_oracle(text):
    sh = _np_shingles(text, CFG)
    sig = H.minhash_signature(sh, H.minhash_seeds(CFG.n_hashes, CFG.seed))
    assert [int(x) for x in sig] == O.oracle_minhash(
        O.oracle_shingles(text, CFG), CFG
    )


def test_minhash_is_min_over_family():
    """MinHash slot i == brute-force min over splitmix64(s ^ seed_i)."""
    sh = _np_shingles(TEXTS[0], CFG)
    seeds = H.minhash_seeds(CFG.n_hashes, CFG.seed)
    sig = H.minhash_signature(sh, seeds)
    for i in (0, 7, 127):
        brute = min(
            int(H.splitmix64(np.array([int(s) ^ int(seeds[i])], dtype=np.uint64))[0])
            for s in sh
        )
        assert int(sig[i]) == brute


@pytest.mark.parametrize("text", TEXTS[:3])
def test_band_keys_match_oracle(text):
    sh = _np_shingles(text, CFG)
    sig = H.minhash_signature(sh, H.minhash_seeds(CFG.n_hashes, CFG.seed))
    got = [int(x) for x in H.band_keys(sig, CFG.bands, CFG.rows)]
    want = O.oracle_band_keys(
        O.oracle_minhash(O.oracle_shingles(text, CFG), CFG), CFG
    )
    assert got == want
    # batch variant agrees with the per-doc variant
    batch = H.band_keys_batch(sig[None, :], CFG.bands, CFG.rows)[0]
    assert [int(x) for x in batch] == got


@pytest.mark.parametrize("text", TEXTS)
def test_simhash_matches_oracle(text):
    toks = tokenize(text, CFG.normalization)
    got = H.simhash64(H.hash_tokens(toks))
    assert got == O.oracle_simhash(text, CFG)


def test_identical_texts_identical_signatures():
    a = _np_shingles(TEXTS[0], CFG)
    b = _np_shingles(TEXTS[1], CFG)  # differs only by case → same after lower
    assert set(a.tolist()) == set(b.tolist())


def test_hamming_ball_pigeonhole():
    """Two fps within Hamming distance ≤ radius share ≥1 segment key."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        fp1 = int(rng.integers(0, 1 << 63))
        flip = rng.choice(64, size=int(rng.integers(0, CFG.hamming_radius + 1)),
                          replace=False)
        fp2 = fp1
        for b in flip:
            fp2 ^= 1 << int(b)
        k1 = set(H.hamming_ball_keys(fp1, CFG.hamming_radius))
        k2 = set(H.hamming_ball_keys(fp2, CFG.hamming_radius))
        assert k1 & k2, f"no shared segment for dist={len(flip)}"


def test_minhash_estimates_jaccard():
    """Chernoff-style sanity: |est - true| small at n_hashes=128 (SURVEY §5.2 item 6)."""
    from localitysensitivesketch_spark.fixtures import generate_corpus

    corpus = generate_corpus(n_docs=60, seed=11)
    seeds = H.minhash_seeds(CFG.n_hashes, CFG.seed)
    # pick a near-dup pair from truth
    near = [(a, b) for a, b, k in corpus.truth_pairs if k == "near"][:10]
    assert near
    for a, b in near:
        sa = _np_shingles(corpus.text[a], CFG)
        sb = _np_shingles(corpus.text[b], CFG)
        true_j = len(np.intersect1d(sa, sb)) / len(np.union1d(sa, sb))
        siga = H.minhash_signature(sa, seeds)
        sigb = H.minhash_signature(sb, seeds)
        est = float((siga == sigb).mean())
        assert abs(est - true_j) < 0.15


def test_kmeans_centers_match_pure_python_oracle():
    """The numpy trainer and the independent loop-based oracle must produce
    BIT-IDENTICAL centers (fsum means + deterministic max-D² seeding) —
    this is what de-circularizes the value_cluster_stats golden oracle."""
    from localitysensitivesketch_spark.operators.valuecluster import kmeans_pp_1d
    from localitysensitivesketch_spark.oracle import oracle_kmeans_1d

    rng = np.random.default_rng(21)
    for n, k in ((1000, 8), (257, 3), (5, 8), (0, 4)):
        vals = np.sort(
            np.concatenate(
                [rng.normal(m, s, n // 3 + 1) for m, s in ((5, 1), (80, 4), (900, 30))]
            )[:n]
        )
        got = [float(c) for c in kmeans_pp_1d(vals, k=k)]
        want = oracle_kmeans_1d([float(v) for v in vals], k=k)
        assert got == want, (n, k)


def test_hyperplanes_match_pure_python_oracle():
    """Production plane matrix (splitmix64 + Box-Muller, numpy container)
    equals the pure-python oracle entry-for-entry, and the sign-bit buckets
    agree — no numpy RNG anywhere in either path."""
    from localitysensitivesketch_spark.operators.similarity import _make_planes
    from localitysensitivesketch_spark.oracle import (
        oracle_hyperplane_bucket,
        oracle_hyperplanes,
    )

    dim, n_bits, seed = 16, 12, 42
    prod = _make_planes(dim, n_bits, seed)
    orac = oracle_hyperplanes(dim, n_bits, seed)
    for i in range(dim):
        for j in range(n_bits):
            assert float(prod[i, j]) == orac[i][j], (i, j)
    # plausible standard-normal marginals (not a constant/degenerate matrix)
    flat = prod.ravel()
    assert abs(float(flat.mean())) < 0.3 and 0.7 < float(flat.std()) < 1.3
    rng = np.random.default_rng(9)
    vec = [float(x) for x in rng.standard_normal(dim)]
    bits = (np.array([vec]) @ prod) > 0
    bucket_np = int(sum(1 << j for j in range(n_bits) if bits[0, j]))
    assert bucket_np == oracle_hyperplane_bucket(vec, orac)


def test_recommended_shuffle_partitions_policy():
    from localitysensitivesketch_spark.session import (
        recommended_shuffle_partitions as rsp,
    )

    mb = 1024 * 1024
    # ~7 GB span shuffle (the measured 800k funnel case): ~56 partitions
    # of ~128 MB — between the two measured failure modes (16 and 256)
    assert 50 <= rsp(7 * 1024 * mb) <= 64
    # small input still feeds every core when parallelism is known
    assert rsp(10 * mb, parallelism=32) == 64
    # empty/tiny input never returns zero
    assert rsp(0) == 1
    # scale check: 100 TB at 128 MB target is ~800k partitions — the
    # count a real cluster job would use, independent of executor count
    assert rsp(100 * 1024**4) == 819200
    with pytest.raises(ValueError):
        rsp(-1)


def test_estimated_plan_bytes_and_auto_prefilter_floor(spark, tmp_path):
    from localitysensitivesketch_spark.functions.bloom import (
        AUTO_PREFILTER_MIN_BYTES,
        auto_prefilter_enabled,
        bloom_supported,
    )
    from localitysensitivesketch_spark.session import estimated_plan_bytes

    # parquet scan: Catalyst stats = file bytes (no job runs)
    p = str(tmp_path / "tiny.parquet")
    spark.range(100).selectExpr(
        "id as doc_id", "repeat('tok ', 20) as text"
    ).write.parquet(p)
    est = estimated_plan_bytes(spark.read.parquet(p))
    assert est is not None and 0 < est < AUTO_PREFILTER_MIN_BYTES
    assert not auto_prefilter_enabled(spark.read.parquet(p))
    # python createDataFrame plans as a LogicalRDD with the
    # unknown-stats sentinel → None, which callers treat as "large" so
    # the scale paths stay on by default
    est2 = estimated_plan_bytes(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    )
    assert est2 is None
    assert auto_prefilter_enabled(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ) == bloom_supported(spark)


def test_partition_policy_scopes_and_restores_conf(spark, tmp_path):
    """partition_policy sets shuffle partitions to the data-sized count
    (ceil(bytes/128MB) floored at 2x parallelism) inside the block and
    restores the session value after — and leaves the conf untouched for
    un-estimable inputs."""
    from localitysensitivesketch_spark.session import (
        estimated_plan_bytes,
        partition_policy,
        recommended_shuffle_partitions,
    )

    p = str(tmp_path / "sized.parquet")
    spark.range(2000).selectExpr(
        "id as doc_id", "repeat('tok ', 40) as text"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    want = recommended_shuffle_partitions(
        estimated_plan_bytes(df),
        parallelism=spark.sparkContext.defaultParallelism,
    )
    with partition_policy(spark, df) as n:
        assert n == want
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(want)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # unknown-size input: no-op, yields None
    local = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with partition_policy(spark, local) as n:
        assert n is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_dedup_pipeline_auto_partition(spark, tmp_path):
    """auto_partition=True runs the funnel under the policy count and
    restores the session conf; results match a non-auto run."""
    from localitysensitivesketch_spark.plans.pipeline import DedupPipeline

    docs = [(i, f"alpha beta gamma delta {i} " * 5) for i in range(40)]
    docs += [(100 + i, docs[i][1]) for i in range(10)]  # exact dups
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(p)
    df = spark.read.parquet(p)
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    r_auto = DedupPipeline(spark, str(tmp_path / "s1")).run(
        df, auto_partition=True
    )
    got_auto = sorted(
        (r["doc_id"], r["cluster_id"]) for r in r_auto.clusters.collect()
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    r_plain = DedupPipeline(spark, str(tmp_path / "s2")).run(df)
    got_plain = sorted(
        (r["doc_id"], r["cluster_id"]) for r in r_plain.clusters.collect()
    )
    assert got_auto == got_plain
