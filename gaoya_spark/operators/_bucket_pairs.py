"""Shared bucket -> candidate-pair machinery (MinHash bands, substring
grams — any "equi-key blocking" operator).

Input: (bk, sid) membership rows — an 8-byte bucket key and an 8-byte id
surrogate. Output: (src, dst, m) with src < dst (sid order) and m = number
of buckets the pair co-occurs in (exact: every path emits a pair at most
once per bucket).

One groupBy materializes buckets as sorted sid arrays; pair generation for
buckets <= array_bucket_limit is JVM array combinatorics fused into the
same stage (no self-join, no dropDuplicates — measured 2.5x faster than
the former sizes-groupBy + broadcast-tag + self-join + dropDuplicates plan
at both local[8] and local[32]). Over-limit buckets are first collapsed by
identical member set (boilerplate families repeat the same bucket in every
band — one emission with multiplicity nb); distinct sets up to
medium_bucket_limit then use the same array combinatorics, and only
genuinely huge buckets are exploded back to rows and triangle-blocked via
an equi-join, which spreads one bucket's pair generation across
block_groups reducers. Buckets beyond drop_cap (the all-identical-key
pathology at 10^12 scale) are excluded — callers record the count via
their stats helpers (band_stats / gram_stats), never silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_BLOCK_SALT = 0x5A17


def pairs_from_sorted_ids(ids):
    """All i<j pairs of a sorted array as struct(src, dst) — pure JVM
    combinatorics, one emission per pair."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )


def sid_cross_pairs_from_buckets(
    probe_members: DataFrame,
    index_members: DataFrame,
    array_bucket_limit: int = 256,
    drop_cap: int = 100_000,
    block_groups: int = 16,
    persist: bool = True,
    medium_bucket_limit: int = 1024,
    gate: bool = False,
) -> DataFrame:
    """(qid, id, m) probe-vs-index candidates from two (bk, sid) membership
    frames — the cross (bipartite) variant of sid_pairs_from_buckets for
    query workloads. One groupBy over the union (side-tagged) collects each
    bucket's probe and index members; the cross product is JVM array
    combinatorics for small buckets (probe x index product within
    array_bucket_limit^2 — per-bucket output is bounded, so point lookups
    into a big bucket still match), a block join for hot ones; hot buckets
    whose index side also exceeds drop_cap are excluded (the cap guards
    the quadratic product, not bounded lookups). A probe that is also in
    the index meets itself (reference query() includes self-matches)."""
    tagged = probe_members.select(
        "bk", "sid", F.lit(True).alias("is_probe")
    ).unionByName(index_members.select("bk", "sid", F.lit(False).alias("is_probe")))
    buckets = (
        tagged.groupBy("bk")
        .agg(
            F.array_sort(
                F.collect_list(F.when(F.col("is_probe"), F.col("sid")))
            ).alias("qs"),
            F.array_sort(
                F.collect_list(F.when(~F.col("is_probe"), F.col("sid")))
            ).alias("is"),
        )
        .where((F.size("qs") >= 1) & (F.size("is") >= 1))
    )
    if persist:
        buckets = buckets.persist()
    qs, is_ = F.col("qs"), F.col("is")
    cross = F.flatten(
        F.transform(
            qs,
            lambda q: F.transform(is_, lambda i: F.struct(q.alias("qid"), i.alias("id"))),
        )
    )
    # cast BEFORE multiplying: with ANSI off a pathological bucket
    # (50k x 50k ~ 2.5e9) wraps a 32-bit product negative, sneaking past
    # the small-path filter and building a multi-billion-element array
    cross_n = F.size("qs").cast("long") * F.size("is").cast("long")
    # small path: emit per bucket instance (nb=1); the identical-set
    # collapse costs a second full shuffle of every bucket and measured a
    # net loss (see sid_pairs_from_buckets) — the final groupBy sums m
    # identically either way
    small = buckets.where(cross_n <= (array_bucket_limit * array_bucket_limit))
    raw = small.select(
        F.lit(1).cast("long").alias("nb"), F.explode(cross).alias("p")
    ).select("p.qid", "p.id", "nb")
    # halved vs medium^2 so the worst-case per-row cross array matches the
    # symmetric variant's C(medium, 2) bound
    med_cap = (medium_bucket_limit * medium_bucket_limit) // 2
    lim_sq = array_bucket_limit * array_bucket_limit
    if persist and gate:
        droppable = F.size("is") <= drop_cap
        tri_cap = max(med_cap, lim_sq)
        st = buckets.agg(
            F.sum(((cross_n > lim_sq) & droppable).cast("int")).alias("n_over"),
            F.sum(((cross_n > tri_cap) & droppable).cast("int")).alias("n_tri"),
        ).collect()[0]
        has_hot = (st["n_over"] or 0) > 0
        has_huge = (st["n_tri"] or 0) > 0
    else:
        has_hot = has_huge = True
    if has_hot:
        # upper tiers keep the identical-(probe-set, index-set) collapse —
        # the boilerplate family that forms the same bucket in every band
        # is exactly the hot case, and the collapse shuffle now carries
        # only over-limit buckets. 128-bit bucket identity (two
        # independently-seeded xxhash64 words, same scheme as the
        # substring gram fingerprints) so an hb collision can't merge two
        # hot member sets and inflate m.
        collapsed = (
            buckets.where(
                (cross_n > (array_bucket_limit * array_bucket_limit))
                & (F.size("is") <= drop_cap)
            )
            .groupBy("qs", "is")
            .agg(F.count("*").alias("nb"))
        )
        if persist and has_huge:
            collapsed = collapsed.persist()
        # medium tier: collapsed products small enough for single-row
        # cross generation — skips the block join's extra shuffles
        raw = raw.unionByName(
            collapsed.where(cross_n <= med_cap)
            .select("nb", F.explode(cross).alias("p"))
            .select("p.qid", "p.id", "nb")
        )
        if has_huge:
            hot = collapsed.where(cross_n > med_cap).select(
                F.struct(
                    F.xxhash64("qs", "is").alias("w0"),
                    F.xxhash64("qs", "is", F.lit(1)).alias("w1"),
                ).alias("hb"),
                "nb", "qs", "is",
            )
            # bipartite block join: probes replicate to every index group
            left = hot.select(
                "hb", "nb", F.explode("qs").alias("qid")
            ).withColumn(
                "g2", F.explode(F.sequence(F.lit(0), F.lit(block_groups - 1)))
            )
            right = hot.select("hb", F.explode("is").alias("id")).withColumn(
                "g2", F.pmod(F.xxhash64("id", F.lit(_BLOCK_SALT)), F.lit(block_groups))
            )
            pairs_hot = left.join(right, ["hb", "g2"]).select("qid", "id", "nb")
            raw = raw.unionByName(pairs_hot)
    return raw.groupBy("qid", "id").agg(F.sum("nb").alias("m"))


def sid_pairs_from_buckets(
    members: DataFrame,
    array_bucket_limit: int = 16,
    drop_cap: int = 100_000,
    block_groups: int = 16,
    persist: bool = True,
    medium_bucket_limit: int = 1024,
    gate: bool = False,
    aggregate: bool = True,
) -> DataFrame:
    """(src, dst, m) candidate pairs from (bk, sid) membership rows.

    aggregate=False skips the final (src, dst) groupBy and returns the
    raw emissions — (src, dst) with one row per bucket INSTANCE for the
    small tier and per distinct member set for the collapsed tiers, so a
    pair may repeat (up to once per band). Callers that only FILTER
    per-pair (e.g. an exact verify whose survivors are then deduped)
    save the full-candidate-set shuffle this way; callers that need the
    exact band-match multiplicity m must aggregate.

    Three size tiers (measured on the dense sf0.1 document corpus, whose
    52 over-256 buckets emit 13.7M raw pairs):
      - <= array_bucket_limit: direct JVM array pair-gen per bucket
        instance (no collapse — a collapse shuffle of EVERY bucket
        measured a net loss; per-bucket emission is bounded anyway).
      - <= medium_bucket_limit: identical-member-set collapse (boilerplate
        families form the same bucket in every band; one emission with
        multiplicity nb), then the SAME array pair-gen on the distinct
        sets — the collapse shuffle carries only over-limit buckets, and
        skipping the triangle join's two extra shuffles measured ~20%
        off the dense-corpus dedup stage. Worst-case per-row array:
        C(1024,2) structs ~ 8 MB, safely inside executor task memory.
      - <= drop_cap: collapse + triangle blocking across block_groups
        reducers — bounded per-task work for genuinely huge buckets.
      - > drop_cap: excluded; callers record the count via their stats
        helpers (band_stats / gram_stats), never silently.
    """
    buckets = (
        members.groupBy("bk")
        .agg(F.array_sort(F.collect_list("sid")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if persist:
        # buckets feed the small path and (maybe) the upper tiers; the
        # tier gate below forces them once, so the gate action is nearly
        # free. No explicit unpersist: once the returned frame is consumed
        # and this reference is GC'd, Spark's ContextCleaner drops the
        # blocks (and LRU eviction handles the interim).
        buckets = buckets.persist()
    raw = (
        buckets.where(F.size("ids") <= min(array_bucket_limit, drop_cap))
        .select(
            F.lit(1).cast("long").alias("nb"),
            F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p"),
        )
        .select("p.src", "p.dst", "nb")
    )
    # gate=True runs one stats pass over the persisted buckets to prune
    # empty upper tiers from the plan — but the blocking collect serializes
    # the pipeline and measured a consistent ~1-4s net LOSS on the bench
    # corpora (dedup 7.0s ungated vs 8.0s gated, EXPERIMENTS.md ledger, MIN
    # of 3), because the always-on tiers cost only near-empty AQE stages.
    # Default is therefore gate=False (tiers always in the plan, exactness
    # unaffected); gate=True remains for configs whose tier filters are
    # expensive to even scan.
    if persist and gate:
        sz = F.size("ids")
        tri_lim = max(medium_bucket_limit, array_bucket_limit)
        st = buckets.agg(
            F.sum(((sz > array_bucket_limit) & (sz <= drop_cap)).cast("int")).alias("n_over"),
            F.sum(((sz > tri_lim) & (sz <= drop_cap)).cast("int")).alias("n_tri"),
        ).collect()[0]
        has_hot = (st["n_over"] or 0) > 0
        has_huge = (st["n_tri"] or 0) > 0
    else:
        has_hot = has_huge = True
    if has_hot:
        # both upper tiers share the identical-member-set collapse:
        # m stays exact via sum(nb).
        # hb = 128-bit hash of the member set (two independently-seeded
        # xxhash64 words): the distinct bucket's identity. A collision here
        # would merge two hot sets and inflate m (breaking the sim >= m/b
        # lower bound), so it gets the same 128-bit treatment as the
        # substring gram fingerprints rather than a single 64-bit word.
        collapsed = (
            buckets.where(
                (F.size("ids") > array_bucket_limit) & (F.size("ids") <= drop_cap)
            )
            .groupBy("ids")
            .agg(F.count("*").alias("nb"))
        )
        if persist and has_huge:
            # both tiers read collapsed; with no triangle tier it is
            # consumed once and caching would only cost memory
            collapsed = collapsed.persist()
        # medium tier: distinct sets small enough for single-row pair-gen
        raw = raw.unionByName(
            collapsed.where(F.size("ids") <= medium_bucket_limit)
            .select(
                "nb", F.explode(pairs_from_sorted_ids(F.col("ids"))).alias("p")
            )
            .select("p.src", "p.dst", "nb")
        )
        if not has_huge:
            if not aggregate:
                return raw.select("src", "dst")
            return raw.groupBy("src", "dst").agg(F.sum("nb").alias("m"))
        hot = (
            collapsed.where(F.size("ids") > medium_bucket_limit)
            .select(
                F.struct(
                    F.xxhash64("ids").alias("w0"),
                    F.xxhash64("ids", F.lit(1)).alias("w1"),
                ).alias("hb"),
                "nb", F.explode("ids").alias("sid"),
            )
        )
        g = F.pmod(F.xxhash64("sid", F.lit(_BLOCK_SALT)), F.lit(block_groups))
        hot_g = hot.withColumn("g", g)
        left = hot_g.withColumn(
            "g2", F.explode(F.sequence(F.col("g"), F.lit(block_groups - 1)))
        ).select(
            "hb", "nb", F.col("sid").alias("lid"), F.col("g").alias("g1"), "g2"
        )
        right = hot_g.select("hb", F.col("sid").alias("rid"), F.col("g").alias("g2"))
        # left replicates upward (g2 >= own g), right stays at its own group:
        # a co-bucketed pair meets exactly in block (min(g), max(g)); the
        # same-block half-condition keeps one emission per bucket, so m
        # stays exact across both paths.
        pairs_hot = (
            left.join(right, ["hb", "g2"])
            .where(
                (F.col("g1") < F.col("g2"))
                | ((F.col("g1") == F.col("g2")) & (F.col("lid") < F.col("rid")))
            )
            .select(
                F.least("lid", "rid").alias("src"),
                F.greatest("lid", "rid").alias("dst"),
                "nb",
            )
        )
        raw = raw.unionByName(pairs_hot)
    if not aggregate:
        return raw.select("src", "dst")
    return raw.groupBy("src", "dst").agg(F.sum("nb").alias("m"))
