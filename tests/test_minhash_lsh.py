"""End-to-end MinHash LSH over DataFrames: corpus5 semantics, query
variants, removal, the F4 clone-with-changes recall gate, centroid."""

import pytest
from pyspark.sql import functions as F

from gaoya_spark.config import MinHashConfig, TokenizerSpec
from gaoya_spark.fixtures import corpus5_df, token_vectors_pdf
from gaoya_spark.operators.minhash_lsh import MinHashLSH
from gaoya_spark.params import calculate_b_and_r

WORD = TokenizerSpec(kind="word", n_from=1, n_to=1, lowercase=True)


@pytest.fixture(scope="module")
def corpus5(spark):
    cfg = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(corpus5_df(spark), "id", "text").cache()
    sigs.count()
    return lsh, sigs


def _matches(df, qid):
    return sorted(r["id"] for r in df.where(F.col("qid") == qid).collect())


def test_corpus5_query_groups(spark, corpus5):
    """The canonical 5-doc corpus (minhash_index.rs:892-917, README):
    docs 0-3 mutually match; doc 4 matches only itself."""
    lsh, sigs = corpus5
    res = lsh.query(sigs, sigs)  # self-probe
    for qid in range(4):
        assert _matches(res, qid) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]


def test_corpus5_remove(spark, corpus5):
    """After removing ids 0 and 4: query(doc1) = {1,2,3}, query(doc4) = {}
    (reference test behavior incl. bucket cleanup, W3)."""
    lsh, sigs = corpus5
    remaining = lsh.remove(sigs, spark.createDataFrame([(0,), (4,)], "id long"))
    res = lsh.query(remaining, sigs)
    assert _matches(res, 1) == [1, 2, 3]
    assert _matches(res, 4) == []


def test_corpus5_dedup_pairs(spark, corpus5):
    lsh, sigs = corpus5
    pairs = lsh.dedup_pairs(sigs)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    expected = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert got == expected


def test_dedup_pairs_broadcast_sigs_identical(spark, corpus5):
    """broadcast_sigs is a pure plan hint (build side of the verify
    joins); the pair set must be identical with and without it, for both
    keep_sim settings."""
    lsh, sigs = corpus5
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    hinted = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, broadcast_sigs=True).collect()
    }
    assert hinted == base
    fast = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False, broadcast_sigs=True).collect()
    }
    assert fast == base


def test_dedup_pairs_raw_candidates_identical(spark, corpus5):
    """raw_candidates skips the candidate aggregation (pairs repeat per
    band, verified map-side, deduped at the end) — the pair set must be
    identical to the aggregated + m-prefilter path."""
    lsh, sigs = corpus5
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    raw = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(
            sigs, keep_sim=False, raw_candidates=True
        ).collect()
    }
    assert raw == base


def test_dedup_pairs_numpy_verify_identical(spark, corpus5):
    """numpy_verify replaces the signature-verify joins with the
    vectorized broadcast kernel — exact same eq-count semantics, so the
    pair set must be identical in both aggregated (m-prefilter) and
    raw-candidates modes."""
    lsh, sigs = corpus5
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    np_agg = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=True).collect()
    }
    assert np_agg == base
    np_raw = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify=True, raw_candidates=True
        ).collect()
    }
    assert np_raw == base


def test_dedup_pairs_numpy_verify_nonascii_ids(spark):
    """The numpy kernel orders each output pair by comparing original ids
    in Python (code-point order), claiming equality with Spark's binary
    UTF8 least/greatest — UTF-8 is order-preserving, so the claim must
    hold beyond ASCII. Clone docs carry ids mixing accents, CJK, and
    astral-plane emoji (surrogate-pair territory in UTF-16, where naive
    orderings diverge), and the numpy pair set must equal the default
    JVM path's exactly."""
    ids = ["zz~ascii", "é-accent", "中文-cjk", "\U0001f600-emoji", "Zupper"]
    rows = [(i, "common shared near duplicate text body here") for i in ids]
    df = spark.createDataFrame(rows, "id string, text string")
    cfg = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(df, "id", "text").cache()
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    assert len(base) == 10  # all 5 clones pair up
    for raw in (False, True):
        got = {
            (r["src"], r["dst"])
            for r in lsh.dedup_pairs(
                sigs, keep_sim=False, numpy_verify=True, raw_candidates=raw
            ).collect()
        }
        assert got == base


@pytest.mark.parametrize("hash_size", [32, 64])
def test_dedup_pairs_numpy_verify_random_corpus(spark, hash_size):
    """Seeded random corpus equivalence: the numpy kernel must produce
    the default JVM path's exact pair set for BOTH matrix dtypes —
    hash_size<64 runs the int32 branch, hash_size=64 the int64 branch
    (the 2^61-1 MinHasher64V1 formula, values above 2^32) — and for
    long (non-string) ids, over a graph with partial overlaps around
    the threshold rather than clean clone groups."""
    import random

    rng = random.Random(97 + hash_size)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(80):
        if i % 3 == 0 or not rows:
            words = rng.sample(vocab, 12)
        else:  # mutate a recent doc: overlap hovers near threshold
            base = rows[-1][1].split()
            k = rng.randint(1, 6)
            words = base[: 12 - k] + rng.sample(vocab, k)
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "id long, text string")
    cfg = MinHashConfig(
        num_bands=42, band_width=3, threshold=0.5, hash_size=hash_size,
        tokenizer=WORD,
    )
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(df, "id", "text").cache()
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    assert base  # the mutation chain must create some near-dup pairs
    for raw in (False, True):
        got = {
            (r["src"], r["dst"])
            for r in lsh.dedup_pairs(
                sigs, keep_sim=False, numpy_verify=True, raw_candidates=raw
            ).collect()
        }
        assert got == base


def test_upsert_overwrites(spark, corpus5):
    """W8: re-inserting an id replaces its signature cleanly (documented
    divergence from the reference's stale-band-entry behavior, test #19)."""
    lsh, sigs = corpus5
    new_doc = spark.createDataFrame(
        [(0, "completely different text about zebras and xylophones")],
        "id long, text string",
    )
    new_sigs = lsh.signatures(new_doc, "id", "text")
    updated = lsh.upsert(sigs, new_sigs)
    assert updated.count() == 5
    res = lsh.query(updated, updated)
    assert _matches(res, 1) == [1, 2, 3]
    assert _matches(res, 0) == [0]


@pytest.fixture(scope="module")
def vectors(spark):
    """F4: 300 token vectors, 3 groups of 100 (base + 99 clones with
    100/50/10 of 1000 positions mutated)."""
    b, r = calculate_b_and_r(0.5, 128)
    cfg = MinHashConfig(num_bands=b, band_width=r, threshold=0.5)
    lsh = MinHashLSH(cfg)
    pdf = token_vectors_pdf()
    df = spark.createDataFrame(pdf, schema="id long, tokens array<long>")
    sigs = lsh.signatures(df, "id", text_col=None, tokens_col="tokens").cache()
    sigs.count()
    return lsh, sigs


def test_recall_vectors_query_groups(spark, vectors):
    """Recall gate ported from minhash_index.rs:1033-1083: querying each
    base vector returns exactly its own group of 100."""
    lsh, sigs = vectors
    probes = sigs.where(F.col("id").isin([0, 100, 200]))
    res = lsh.query(sigs, probes)
    assert _matches(res, 0) == list(range(0, 100))
    assert _matches(res, 100) == list(range(100, 200))
    assert _matches(res, 200) == list(range(200, 300))


def test_recall_vectors_top_k(spark, vectors):
    lsh, sigs = vectors
    probes = sigs.where(F.col("id") == 0)
    res = lsh.query_top_k(sigs, probes, 10)
    rows = res.collect()
    assert len(rows) == 10
    assert all(0 <= r["id"] < 100 for r in rows)
    # the exact-match base must rank first
    assert sorted(rows, key=lambda r: -r["sim"])[0]["id"] == 0


def test_recall_vectors_bulk_remove(spark, vectors):
    """bulk-removing the even ids of group 1 halves it (reference test)."""
    lsh, sigs = vectors
    evens = spark.createDataFrame([(i,) for i in range(0, 100, 2)], "id long")
    remaining = lsh.remove(sigs, evens)
    probes = sigs.where(F.col("id") == 0)
    res = lsh.query(remaining, probes)
    assert _matches(res, 0) == list(range(1, 100, 2))


def test_query_one_argmax(spark, vectors):
    lsh, sigs = vectors
    probes = sigs.where(F.col("id") == 100)
    row = lsh.query_one(sigs, probes).collect()[0]
    assert row["id"] == 100 and row["sim"] == 1.0


def test_minhash_centroid_recovers_group_signature(spark, vectors):
    """P18: the per-position mode over a group of noisy clones should be
    close to the base vector's signature (most positions agree)."""
    lsh, sigs = vectors
    grouped = sigs.withColumn("grp", (F.col("id") / 100).cast("int"))
    cent = lsh.minhash_centroid(grouped.where("grp = 2"), "grp")
    c = cent.collect()[0]["centroid"]
    base = sigs.where("id = 200").collect()[0]["sig"]
    agree = sum(1 for x, y in zip(c, base) if x == y)
    assert agree / len(base) > 0.9


def test_query_by_id(spark, corpus5):
    """Q7: probe by id — group members match the group, the singleton only
    itself, unknown ids return nothing (minhash_index.rs:565-578)."""
    lsh, sigs = corpus5
    ids = spark.createDataFrame([(0,), (4,), (99,)], "id long")
    res = lsh.query_by_id(sigs, ids)
    assert _matches(res, 0) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]
    assert _matches(res, 99) == []


def test_minhash_band_centroid_known_vectors(spark):
    """P19 (mod.rs:188-214): per-band most frequent SLICE, concatenated.
    b=2, r=2: band0 slices [1,2],[1,2],[9,9] -> [1,2]; band1 slices
    [3,4],[30,40],[30,40] -> [30,40]; centroid = [1,2,30,40]."""
    cfg = MinHashConfig(num_bands=2, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    rows = [
        ("g", [1, 2, 3, 4]),
        ("g", [1, 2, 30, 40]),
        ("g", [9, 9, 30, 40]),
    ]
    sigs = spark.createDataFrame(rows, "grp string, sig array<int>")
    c = lsh.minhash_band_centroid(sigs, "grp").collect()[0]["centroid"]
    assert list(c) == [1, 2, 30, 40]


def test_minhash_band_centroid_beats_pointwise_recall(spark, vectors):
    """The property calculate_centroid optimizes (minhash_index.rs:746-753):
    the band centroid co-buckets with every group member in at least one
    band (its slices are, per band, the group's most popular bucket)."""
    lsh, sigs = vectors
    grouped = sigs.withColumn("grp", (F.col("id") / 100).cast("int")).where("grp = 2")
    cent = lsh.minhash_band_centroid(grouped, "grp").select(
        F.lit(-1).cast("long").alias("id"), F.col("centroid").alias("sig")
    )
    hits = lsh.query(grouped.select("id", "sig"), cent, threshold=0.0).count()
    assert hits >= grouped.count() * 0.9


def test_band_stats_shape(spark, corpus5):
    lsh, sigs = corpus5
    stats = lsh.band_stats(lsh.bands(sigs)).collect()
    assert len(stats) == 42
    assert all(r["max_bucket"] <= 5 for r in stats)


def test_hot_bucket_blocking_exact(spark):
    """Triangle blocking must produce exactly the same pair set as the
    naive self-join when a bucket exceeds max_bucket_size."""
    cfg = MinHashConfig(num_bands=4, band_width=2, threshold=0.0, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    # 40 identical docs -> every band bucket has 40 members
    df = spark.createDataFrame([(i, "same text here") for i in range(40)], "id long, text string")
    sigs = lsh.signatures(df, "id", "text")
    pairs_blocked = lsh.candidate_pairs(sigs, max_bucket_size=8, block_groups=4)
    got = {(r["src"], r["dst"]) for r in pairs_blocked.collect()}
    expected = {(a, b) for a in range(40) for b in range(40) if a < b}
    assert got == expected


def test_corpus5_with_superminhash_scheme(spark):
    """P10 end-to-end: the SuperMinHash scheme plugs into the same banded
    LSH and reproduces the canonical corpus5 query groups."""
    cfg = MinHashConfig(
        num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD,
        scheme="superminhash",
    )
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(corpus5_df(spark), "id", "text")
    res = lsh.query(sigs, sigs)
    assert _matches(res, 0) == [0, 1, 2, 3]
    assert _matches(res, 4) == [4]


def test_dedup_pairs_keep_sim_false_same_pairs(spark):
    """keep_sim=False (m-band prefilter: m*r disjoint equal positions =>
    sim >= m*r/k skips verify) returns exactly the same pair set as the
    verified keep_sim=True path, minus the sim column. The caption fixture
    has both near-identical pairs (clear the m bound) and borderline
    ones."""
    from gaoya_spark.fixtures import make_images_pdf

    cfg = MinHashConfig(
        num_bands=16, band_width=2, threshold=0.5,
        tokenizer=TokenizerSpec(kind="char", n_from=3, n_to=3, lowercase=True),
    )
    lsh = MinHashLSH(cfg)
    pdf, _ = make_images_pdf(400, seed=9, dup_frac=0.4, with_bytes=False)
    docs = spark.createDataFrame(pdf[["image_id", "caption"]])
    sigs = lsh.signatures(docs, "image_id", "caption").cache()
    with_sim = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    fast = lsh.dedup_pairs(sigs, keep_sim=False)
    assert fast.columns == ["src", "dst"]
    assert {(r["src"], r["dst"]) for r in fast.collect()} == with_sim
    assert len(with_sim) > 0


def test_query_sorted_by_similarity(spark, corpus5):
    """Q4's similarity-descending return (minhash_index.rs:637) as an
    explicit orderBy."""
    lsh, sigs = corpus5
    probe = sigs.where("id = 0")
    rows = lsh.query(sigs, probe, sorted_by_similarity=True).collect()
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert rows[0]["id"] == 0 and rows[0]["sim"] == 1.0


def test_packed_verify_matches_unpacked(spark):
    """pack_signature_col + minhash_eq_count_packed must count exactly the
    same equal positions as the unpacked zip_with expression — including
    odd k (phantom tail half) and u32 values with the high bit set (stored
    as negative int32)."""
    import numpy as np
    from pyspark.sql import functions as F

    from gaoya_spark.functions.similarity import (
        minhash_eq_count_packed,
        minhash_similarity_col,
        pack_signature_col,
    )

    rng = np.random.default_rng(5)
    # 1031 exceeds _FLAT_KERNEL_MAX_WORDS (516 words) — exercises the
    # aggregate-fold fallback incl. its odd-k phantom-half correction
    for k in (7, 8, 200, 201, 1031):
        # u32 range incl. > 2^31 (negative as int32); force some equalities
        a = rng.integers(0, 2**32, size=k, dtype=np.uint64)
        b = a.copy()
        flip = rng.random(k) < 0.5
        b[flip] = rng.integers(0, 2**32, size=int(flip.sum()), dtype=np.uint64)
        expected = int((a == b).sum())
        to_i32 = lambda v: [int(x) - (1 << 32) if x >= 1 << 31 else int(x) for x in v]
        df = spark.createDataFrame(
            [(to_i32(a), to_i32(b))], "sa array<int>, sb array<int>"
        )
        row = df.select(
            minhash_eq_count_packed(
                pack_signature_col(F.col("sa"), k),
                pack_signature_col(F.col("sb"), k),
                k,
            ).alias("packed"),
            (minhash_similarity_col("sa", "sb", k) * k).cast("int").alias("unpacked"),
        ).collect()[0]
        assert row["packed"] == expected == row["unpacked"], (k, row, expected)


def test_packed_verify_hash_size_64_full_width(spark):
    """hash_size=64 signatures (values up to 2^61-1) cannot share a long:
    pack_signature_col must keep one position per word and the eq-count
    must compare FULL words. Regression: the u32 two-per-long packing
    truncated each position to its low 32 bits, so positions agreeing in
    the low half but differing above (here: differing ONLY in bits
    32-60) counted as equal. Covers both the flat tree and the
    beyond-_FLAT_KERNEL_MAX_WORDS fallback."""
    from pyspark.sql import functions as F

    from gaoya_spark.functions.similarity import (
        minhash_eq_count_packed,
        pack_signature_col,
    )

    for k in (4, 600):
        base = [(7 << 35) + i for i in range(k)]
        b = list(base)
        b[0] += 1 << 36          # differs above bit 32, low 32 bits equal
        b[1] = (b[1] + 1) & ((1 << 61) - 1)  # differs in low bits too
        expected = k - 2
        df = spark.createDataFrame([(base, b)], "sa array<long>, sb array<long>")
        got = df.select(
            minhash_eq_count_packed(
                pack_signature_col(F.col("sa"), k, 64),
                pack_signature_col(F.col("sb"), k, 64),
                k,
                64,
            ).alias("eq")
        ).collect()[0]["eq"]
        assert got == expected, (k, got, expected)


def test_min_eq_count_float_boundaries():
    """need = smallest e with e/k >= t under double division. ceil(t*k)
    alone over-requires at thresholds whose product rounds up in binary
    (0.07*100 = 7.000000000000001): a pair with exactly 7/100 equal
    positions DOES satisfy the JVM's 7/100 >= 0.07."""
    from gaoya_spark.operators.minhash_lsh import (
        _m_sure_bands,
        _min_eq_count,
    )

    for t, k, want in [(0.07, 100, 7), (0.5, 200, 100), (0.14, 100, 14),
                       (0.33, 3, 1), (1.0, 10, 10), (0.0, 10, 0)]:
        got = _min_eq_count(t, k)
        assert got == want, (t, k, got, want)
        # definitional check: got passes, got-1 does not
        assert got / k >= t
        assert got == 0 or (got - 1) / k < t
    for t, k, r in [(0.07, 100, 4), (0.5, 200, 4), (0.7, 222, 6)]:
        m = _m_sure_bands(t, k, r)
        assert (m * r) / k >= t
        assert m == 0 or ((m - 1) * r) / k < t


def test_numpy_verify_guards_fall_back_to_jvm(spark, corpus5):
    """_numpy_verify returns None (-> dedup_pairs takes the JVM shuffle
    verify) when the signature table exceeds the broadcast-safe row bound;
    dedup_pairs with numpy_verify=True must still yield the exact JVM-path
    pair set in that case (the guard changes the PLAN, never the result)."""
    import warnings

    lsh, sigs = corpus5
    cand = lsh.sid_candidates(sigs)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = lsh._numpy_verify(cand, sigs, 0.5, with_m=True, max_rows=2)
    assert out is None
    assert any("max_rows" in str(x.message) for x in w)
    jvm = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False).collect()
    }
    np_pairs = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=True).collect()
    }
    assert jvm == np_pairs and jvm


def test_arrow_bands_jvm_bands_same_pairs(spark, corpus5):
    """The Arrow band kernel (splitmix64 fold) and the JVM banding
    (xxhash64 of slices) use different key functions but identical
    semantics: equal slices in the same band collide. Candidate sets —
    and therefore verified pair sets AND m multiplicities — must agree
    (a divergence would mean a key collision, ~2^-64)."""
    lsh, sigs = corpus5
    arrow = {
        (r["src"], r["dst"], r["m"])
        for r in lsh.sid_candidates(sigs, arrow_bands=True).collect()
    }
    jvm = {
        (r["src"], r["dst"], r["m"])
        for r in lsh.sid_candidates(sigs, arrow_bands=False).collect()
    }
    assert arrow == jvm and arrow


def test_fused_dedup_matches_jvm_all_tiers(spark):
    """numpy_verify='fused' (bucket -> pair-gen -> verify in one kernel)
    must produce the exact JVM-path pair set, including when tiny tier
    limits force buckets through the medium (collapsed) and triangle
    (block join + rowwise verify) tiers."""
    from gaoya_spark.fixtures import corpus5_df

    cfg = MinHashConfig(num_bands=42, band_width=3, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    sigs = lsh.signatures(corpus5_df(spark), "id", "text").cache()
    sigs.count()
    jvm = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False).collect()
    }
    fused = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify="fused").collect()
    }
    assert fused == jvm and jvm
    forced = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(
            sigs, keep_sim=False, numpy_verify="fused",
            max_bucket_size=2, medium_bucket_size=3,
        ).collect()
    }
    assert forced == jvm


def test_bucket_cap_hard_excludes_identically_across_strategies(spark):
    """Buckets over bucket_cap_hard are excluded by every strategy (and
    counted as n_dropped by band_stats): with the cap below a planted
    family's size, the replicated, fused and JVM paths must return the
    same pair set, and it must lack the family's pairs."""
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(6)]
    rows += [(10 + i, "red green blue cyan magenta yellow black white") for i in range(3)]
    rows += [(20, "one two three four five six seven eight"),
             (21, "one two three four five six seven nine"),
             (30, "a lone document about volcanoes and lava")]
    sigs = lsh.signatures(
        spark.createDataFrame(rows, "id long, text string"), "id", "text"
    ).cache()
    family = {(a, b) for a in range(6) for b in range(6) if a < b}

    def pairs(small, **kw):
        out = lsh.dedup_pairs(
            sigs, keep_sim=False, bucket_cap_hard=4, max_bucket_size=small, **kw
        )
        return {(r["src"], r["dst"]) for r in out.collect()}

    # the cap above and below the direct-pairing tier's size limit
    for small in (2, 16):
        jvm = pairs(small)
        assert pairs(small, numpy_verify="replicated") == jvm, small
        assert pairs(small, numpy_verify="fused") == jvm, small
        assert not (jvm & family), small
        assert {(10, 11), (10, 12), (11, 12)} <= jvm, small
    dropped = lsh.band_stats(lsh.bands(sigs), bucket_cap_hard=4).agg(
        F.sum("n_dropped")
    ).collect()[0][0]
    assert dropped == cfg.num_bands


def test_replicated_bucket_bound_routes_hot_family_to_fused(spark, monkeypatch):
    """The replicated kernel builds a bucket's whole triangle in one
    flush, so the adaptive rule must not run it when a kept bucket has
    more pairs than _REPL_MAX_FLUSH_PAIRS. With the bound lowered below a
    planted identical family's pair count, the pipeline's call falls to
    the fused path (family in its JVM triangle hot tier) and still
    returns the JVM pair set; buckets over bucket_cap_hard don't count."""
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(12)]
    rows += [(20, "one two three four five six seven eight"),
             (21, "one two three four five six seven nine"),
             (30, "a lone document about volcanoes and lava")]
    sigs = lsh.signatures(
        spark.createDataFrame(rows, "id long, text string"), "id", "text"
    ).cache()
    family = {(a, b) for a in range(12) for b in range(12) if a < b}

    calls = []
    real_repl, real_fused = MinHashLSH._replicated_dedup, MinHashLSH._fused_dedup

    def repl(self, *a, **k):
        out = real_repl(self, *a, **k)
        calls.append(("replicated", out is not None))
        return out

    def fused(self, *a, **k):
        calls.append(("fused", True))
        return real_fused(self, *a, **k)

    monkeypatch.setattr(MinHashLSH, "_replicated_dedup", repl)
    monkeypatch.setattr(MinHashLSH, "_fused_dedup", fused)

    def pairs(cap, **kw):
        out = lsh.dedup_pairs(
            sigs, max_bucket_size=4, medium_bucket_size=8, bucket_cap_hard=cap, **kw
        )
        return {(r["src"], r["dst"]) for r in out.collect()}

    jvm = pairs(100_000)
    assert family | {(20, 21)} <= jvm
    assert pairs(100_000, keep_sim=False, numpy_verify=True) == jvm
    assert calls == [("replicated", True)]

    calls.clear()
    monkeypatch.setattr(MinHashLSH, "_REPL_MAX_FLUSH_PAIRS", len(family) - 1)
    assert pairs(100_000, keep_sim=False, numpy_verify=True) == jvm
    assert calls == [("replicated", False), ("fused", True)]

    calls.clear()
    assert pairs(8, keep_sim=False, numpy_verify=True) == pairs(8) == {(20, 21)}
    assert calls == [("replicated", True)]


@pytest.mark.parametrize("strategy", [
    {}, {"numpy_verify": True}, {"numpy_verify": "fused"},
    {"numpy_verify": True, "raw_candidates": True},
    {"numpy_verify": "replicated"},
])
def test_dedup_strategies_empty_and_singleton(spark, strategy):
    """Every dedup strategy must return an empty (src, dst) frame — with
    the id-typed schema — on an empty corpus and on a single-doc corpus
    (no pair can exist), without erroring in broadcast build, banding,
    bucket kernels, or verify."""
    cfg = MinHashConfig(num_bands=8, band_width=2, threshold=0.5, tokenizer=WORD)
    lsh = MinHashLSH(cfg)
    empty = spark.createDataFrame([], "id string, text string")
    one = spark.createDataFrame([("a", "lone document text")], "id string, text string")
    for df in (empty, one):
        sigs = lsh.signatures(df, "id", "text")
        out = lsh.dedup_pairs(sigs, keep_sim=False, **strategy)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields][:2] == ["src", "dst"]
        assert dict(out.dtypes)["src"] == "string"


def test_query_with_precomputed_index_bands(spark, corpus5):
    """query(index_bands=sid_bands(index)) — the maintained-band-table
    path (the reference's insert-updates-tables / query-probes-tables
    contract) — must return exactly the re-banding path's matches, and
    stale EXTRA band rows (a removed doc) must be harmless: their
    candidates find no signature in the verify join."""
    lsh, sigs = corpus5
    bands = lsh.sid_bands(sigs)
    base = {(r["qid"], r["id"]) for r in lsh.query(sigs, sigs).collect()}
    with_tbl = {
        (r["qid"], r["id"])
        for r in lsh.query(sigs, sigs, index_bands=bands).collect()
    }
    assert with_tbl == base and base
    # removal: drop doc 0's signatures but leave its band rows stale
    kept = sigs.where("id <> 0")
    after_rm = {
        (r["qid"], r["id"])
        for r in lsh.query(kept, kept, index_bands=bands).collect()
    }
    want_rm = {(q, i) for q, i in base if q != 0 and i != 0}
    assert after_rm == want_rm


@pytest.mark.parametrize("strategy", [
    {"numpy_verify": True},
    {"numpy_verify": "fused"},
    {"numpy_verify": True, "raw_candidates": True},
    {"numpy_verify": "replicated"},
])
def test_broadcast_guard_boundary_identical_pairs(spark, corpus5, strategy):
    """Pin the broadcast row bound below the corpus size THROUGH THE
    PUBLIC API (numpy_max_rows): every numpy/fused strategy must trip its
    guard, warn, fall back to the JVM shuffle verify, and produce the
    IDENTICAL pair set — the silent-divergence class the guards exist to
    prevent, now boundary-tested, not just warning-tested."""
    import warnings

    lsh, sigs = corpus5
    normal = {
        (r["src"], r["dst"])
        for r in lsh.dedup_pairs(sigs, keep_sim=False, **strategy).collect()
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        guarded = {
            (r["src"], r["dst"])
            for r in lsh.dedup_pairs(
                sigs, keep_sim=False, numpy_max_rows=1, **strategy
            ).collect()
        }
    assert any("broadcast-safe" in str(x.message) for x in w)
    assert guarded == normal and normal


def test_sketch_prefilter_identical_results(spark, corpus5):
    """The 4-bit sketch prefilter changes the JVM verify PLAN, never the
    results — pairs, sims, and the query path must all be identical with
    it on and off."""
    lsh, sigs = corpus5
    on = {
        (r["src"], r["dst"], round(r["sim"], 9))
        for r in lsh.dedup_pairs(sigs, sketch_prefilter=True).collect()
    }
    off = {
        (r["src"], r["dst"], round(r["sim"], 9))
        for r in lsh.dedup_pairs(sigs, sketch_prefilter=False).collect()
    }
    assert on == off and on
    q_on = {(r["qid"], r["id"]) for r in lsh.query(sigs, sigs).collect()}
    q_off = {
        (r["qid"], r["id"])
        for r in lsh._query_scored(sigs, sigs)
        .where(F.col("sim") >= 0.5)
        .select("qid", "id")
        .collect()
    }
    assert q_on == q_off and q_on


def test_sketch_eq_upper_bound_expression():
    """sketch_eq_upper_bound must be >= the exact equal count for random
    arrays and == k for identical arrays (the exact-bound property the
    prefilter's correctness rests on), across odd/even k and both int
    widths."""
    import numpy as np

    from gaoya_spark.functions.similarity import (
        sketch_eq_upper_bound,
        sketch_signature_col,
    )
    from gaoya_spark.session import get_spark

    spark = get_spark("sketch_test", cores=2, shuffle_partitions=2)
    rng = np.random.default_rng(7)
    for k, width in [(16, 31), (33, 31), (200, 31), (50, 60)]:
        rows = []
        for _ in range(50):
            a = rng.integers(0, 2 ** width, size=k).tolist()
            b = [
                x if rng.random() < 0.4 else int(y)
                for x, y in zip(a, rng.integers(0, 2 ** width, size=k))
            ]
            rows.append((a, b, sum(1 for x, y in zip(a, b) if x == y)))
        rows.append((rows[0][0], rows[0][0], k))  # identical arrays
        df = spark.createDataFrame(
            rows, "a array<long>, b array<long>, exact int"
        )
        out = df.select(
            sketch_eq_upper_bound(
                sketch_signature_col(F.col("a"), k),
                sketch_signature_col(F.col("b"), k),
                k,
            ).alias("bound"),
            "exact",
        ).collect()
        for r in out:
            assert r["bound"] >= r["exact"], (k, width, r)
            assert r["bound"] <= k
        assert out[-1]["bound"] == k


def test_numpy_strategy_values_identical(spark, corpus5):
    """numpy_verify accepts True (adaptive by key count: replicated while
    rows * num_bands <= _REPL_PREFER_KEYS, fused above) and explicit
    "agg" | "raw" | "fused" | "replicated" — every value must yield the
    exact JVM-path pair set, and an unknown value must raise."""
    import pytest

    lsh, sigs = corpus5
    base = {(r["src"], r["dst"]) for r in lsh.dedup_pairs(sigs).collect()}
    for nv in (True, "agg", "raw", "fused", "replicated"):
        got = {
            (r["src"], r["dst"])
            for r in lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify=nv).collect()
        }
        assert got == base, nv
    with pytest.raises(ValueError, match="numpy_verify"):
        lsh.dedup_pairs(sigs, keep_sim=False, numpy_verify="bogus")


def test_emissions_per_doc_density_probe(spark):
    """The adaptive-strategy density probe must rank a dense corpus
    (every doc in one near-identical family -> every band bucket holds
    all docs) far above a sparse one (distinct random docs -> singleton
    buckets), and be deterministic across calls (strided sampling, no
    RNG)."""
    import numpy as np

    from gaoya_spark.config import MinHashConfig
    from gaoya_spark.operators.minhash_lsh import MinHashLSH

    lsh = MinHashLSH(MinHashConfig(num_bands=8, band_width=4, threshold=0.5))
    rng = np.random.default_rng(11)
    n, k = 200, 32
    dense = np.broadcast_to(
        rng.integers(0, 2**31, size=k, dtype=np.int64), (n, k)
    ).copy()
    sparse = rng.integers(0, 2**31, size=(n, k), dtype=np.int64)
    e_dense = lsh._emissions_per_doc(dense)
    e_sparse = lsh._emissions_per_doc(sparse)
    # identical signatures: every band bucket holds all n docs ->
    # exactly b * C(n, 2) / n emissions per doc
    assert e_dense == 8 * (n * (n - 1) // 2) / n
    assert e_sparse < 1.0
    assert lsh._emissions_per_doc(dense) == e_dense
    assert lsh._emissions_per_doc(np.zeros((1, k), dtype=np.int64)) == 0.0
