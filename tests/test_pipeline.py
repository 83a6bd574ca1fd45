"""Flagship pipeline: dup-pair recall >= 0.99 on the planted fixture,
stage checkpointing + resume, metrics tables, invariant checks."""

import pytest
from pyspark.sql import functions as F

from gaoya_spark.fixtures import make_images_df
from gaoya_spark.operators.cluster import duplicate_pair_recall
from gaoya_spark.plans.pipeline import DedupPipeline, PipelineConfig


@pytest.fixture(scope="module")
def images(spark):
    df, truth = make_images_df(spark, 600, seed=42, dup_frac=0.25)
    df = df.cache()
    df.count()
    return df, truth


@pytest.fixture(scope="module")
def default_run(spark, images, tmp_path_factory):
    """One default-config pipeline run over the fixture, shared by the
    tests that only read its tables."""
    df, _ = images
    pipe = DedupPipeline(spark, str(tmp_path_factory.mktemp("wh_default")))
    clusters = pipe.run(df)
    return pipe, clusters


def test_pipeline_recall_gate(spark, images, default_run):
    """BASELINE.md acceptance: dup-pair recall >= 0.99 against the planted
    near-duplicate groups at the reference band config."""
    df, truth = images
    pipe, clusters = default_run
    labels = pipe.wh.read("labels")
    recall = duplicate_pair_recall(
        labels, truth.withColumnRenamed("image_id", "id"), "id", "group_id"
    )
    assert recall >= 0.99, f"dup-pair recall {recall} < 0.99"
    # clusters table shape
    assert clusters.columns == ["id", "component", "cluster_size"]
    assert clusters.where("cluster_size >= 2").count() > 0


def test_pipeline_twophase_clustering_same_labels(spark, images, tmp_path_factory):
    """cluster_algorithm='twophase' must yield the exact same labels table
    as the default label propagation (checkpointed through the warehouse
    either way)."""
    df, truth = images
    wh_a = str(tmp_path_factory.mktemp("wh_lp"))
    wh_b = str(tmp_path_factory.mktemp("wh_tp"))
    DedupPipeline(spark, wh_a).run(df)
    cfg = PipelineConfig(cluster_algorithm="twophase")
    DedupPipeline(spark, wh_b, cfg).run(df)
    la = DedupPipeline(spark, wh_a).wh.read("labels")
    lb = DedupPipeline(spark, wh_b, cfg).wh.read("labels")
    a = {(r["id"], r["component"]) for r in la.select("id", "component").collect()}
    b = {(r["id"], r["component"]) for r in lb.select("id", "component").collect()}
    assert a == b


def test_minhash_edges_match_jvm_verify(spark, default_run):
    """The minhash_edges stage runs on the broadcast numpy kernels; its
    pair set must equal the JVM join verify (dedup_pairs with the default
    keep_sim=True) over the stage's own minhash_signatures table, on
    string ids."""
    from gaoya_spark.operators.minhash_lsh import MinHashLSH

    pipe, _ = default_run
    sigs = pipe.wh.read("minhash_signatures")
    assert dict(sigs.dtypes)["id"] == "string"
    jvm = MinHashLSH(pipe.cfg.minhash).dedup_pairs(
        sigs,
        max_bucket_size=pipe.cfg.max_bucket_size,
        bucket_cap_hard=pipe.cfg.bucket_cap_hard,
    )
    want = {(r["src"], r["dst"]) for r in jvm.collect()}
    got = {(r["src"], r["dst"]) for r in pipe.wh.read("minhash_edges").collect()}
    assert got == want and want


def test_pipeline_precision_sanity(spark, images, default_run):
    """Not a gaoya gate, but guard against everything collapsing into one
    blob: predicted duplicate pairs should be mostly true pairs."""
    df, truth = images
    pipe, _ = default_run
    labels = pipe.wh.read("labels")
    t = truth.withColumnRenamed("image_id", "id")
    joined = labels.join(t, "id")
    # pairs co-clustered
    a, b = joined.alias("a"), joined.alias("b")
    pred_pairs = (
        a.join(b, F.col("a.component") == F.col("b.component"))
        .where(F.col("a.id") < F.col("b.id"))
    )
    stats = pred_pairs.agg(
        F.count("*").alias("n"),
        F.sum((F.col("a.group_id") == F.col("b.group_id")).cast("int")).alias("tp"),
    ).collect()[0]
    assert stats["n"] > 0
    precision = stats["tp"] / stats["n"]
    assert precision > 0.8, f"precision collapsed: {precision}"


def test_pipeline_resume_skips_stages(spark, images, tmp_path_factory):
    df, truth = images
    wh = str(tmp_path_factory.mktemp("wh_resume"))
    p1 = DedupPipeline(spark, wh)
    c1 = p1.run(df).collect()
    # second run over the same warehouse must resume every stage
    p2 = DedupPipeline(spark, wh)
    c2 = p2.run(df).collect()
    assert sorted(map(str, c1)) == sorted(map(str, c2))
    assert all(m["resumed"] for m in p2._stage_meta), p2._stage_meta
    # metrics tables exist and carry rows/sec + skew
    stages = p2.wh.read("metrics_stages").collect()
    assert {r["stage"] for r in stages} >= {"minhash_signatures", "edges", "labels"}
    skew = p2.wh.read("metrics_band_skew")
    assert skew.columns == [
        "band_idx", "n_buckets", "max_bucket", "avg_bucket", "n_hot", "n_dropped",
    ]
    # the hard cap drops nothing at this scale — and the metric proves it
    # (the "never silent" claim in candidate_pairs' docstring)
    agg = skew.agg(F.sum("n_dropped").alias("d")).collect()[0]
    assert agg["d"] == 0
    lineage = p2.wh.read("metrics_lineage").collect()
    assert sum(r["rows"] for r in lineage) == df.count()


def test_pipeline_mid_resume_after_stage_invalidation(spark, images, tmp_path_factory):
    """Simulate a crash after the edges stage: wipe later stages' manifest
    entries; the rerun recomputes only those."""
    df, truth = images
    wh = str(tmp_path_factory.mktemp("wh_mid"))
    p1 = DedupPipeline(spark, wh)
    p1.run(df)
    p1.wh.reset_stage("labels")
    p1.wh.reset_stage("clusters")
    p2 = DedupPipeline(spark, wh)
    p2.run(df)
    meta = {m["stage"]: m["resumed"] for m in p2._stage_meta}
    assert meta["minhash_signatures"] and meta["edges"]
    assert not meta["labels"] and not meta["clusters"]


def test_invariants_hold(spark, images, tmp_path_factory):
    """input_hint per-row invariant: the pipeline never mutates images —
    caption equality + decoded-pixel PSNR (raw => exact)."""
    df, _ = images
    wh = str(tmp_path_factory.mktemp("wh_inv"))
    pipe = DedupPipeline(spark, wh)
    res = pipe.verify_invariants(df, df, sample_frac=0.2)
    assert res["caption_ok"] and res["psnr_ok"]


def test_pipeline_with_substring_stage(spark, images, tmp_path_factory):
    """All three edge sources enabled; substring stage contributes its
    table and the pipeline still resumes cleanly."""
    from gaoya_spark.plans.pipeline import DedupPipeline, PipelineConfig

    df, truth = images
    wh = str(tmp_path_factory.mktemp("wh_sub"))
    cfg = PipelineConfig(use_substring=True, substring_min_len=24)
    pipe = DedupPipeline(spark, wh, cfg)
    clusters = pipe.run(df)
    assert clusters.count() > 0
    assert pipe.wh.exists("substring_edges")
    stages = {m["stage"] for m in pipe._stage_meta}
    assert "substring_edges" in stages
