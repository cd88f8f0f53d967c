"""Kernel correctness properties: the blocked mapInPandas kernel must
agree exactly with the declarative crossJoin baseline, with and without
blocking; self-similarity of a normalized vector is 1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_crossjoin,
    l2_normalize,
)
from tests.conftest import SF_SMOKE


def _normalized(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    return l2_normalize(emb, "embedding", "vec")


def _pairs(df):
    return {
        (r.tgt_id, r.nbr_id, round(r.score, 9)) for r in df.collect()
    }


def test_kernel_equals_crossjoin(spark):
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    kern = cosine_topk(left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True)
    base = cosine_topk_crossjoin(
        left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True
    )
    assert _pairs(kern) == _pairs(base)


def test_blocked_kernel_equals_single_block(spark):
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    one = cosine_topk(left, right, "tgt_id", "nbr_id", "vec", k=7, exclude_self=True)
    four = cosine_topk(
        left, right, "tgt_id", "nbr_id", "vec", k=7, exclude_self=True, n_blocks=4
    )
    assert _pairs(one) == _pairs(four)


def test_self_similarity_is_one(spark):
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    top1 = cosine_topk(left, right, "tgt_id", "nbr_id", "vec", k=1)
    rows = top1.collect()
    assert all(r.tgt_id == r.nbr_id for r in rows)
    assert all(abs(r.score - 1.0) < 1e-9 for r in rows)


def test_topk_bound_per_group(spark):
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    out = cosine_topk(left, right, "tgt_id", "nbr_id", "vec", k=3, exclude_self=True)
    counts = out.groupBy("tgt_id").count().agg(F.max("count")).first()[0]
    assert counts <= 3


def test_ann_lsh_recall_vs_brute_force(spark):
    """Multi-probe sign-LSH must recover most true top-5 neighbours;
    with 6 planes + 7 probes on this corpus recall is high but the
    guarantee we assert is a conservative floor."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ann_lsh_topk,
        random_hyperplane_tables,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    tables = random_hyperplane_tables(64, 4, 4, seed=7)
    ann = ann_lsh_topk(
        corpus, qs, "nbr_id", "tgt_id", "embedding", k=5, tables=tables
    )
    norm = _normalized(spark)
    left = norm.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("tgt_id"), "vec"
    )
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    truth = cosine_topk_crossjoin(
        left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True
    )
    ann_set = {(r.tgt_id, r.nbr_id) for r in ann.collect()}
    true_set = {(r.tgt_id, r.nbr_id) for r in truth.collect()}
    recall = len(ann_set & true_set) / len(true_set)
    assert recall >= 0.7, f"ANN recall too low: {recall:.3f}"
    # every query returns at most k rows
    import collections

    per_q = collections.Counter(t for t, _ in ann_set)
    assert max(per_q.values()) <= 5


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF with a corpus-sample centroid set and n_probe=4 must recover
    a solid fraction of true top-5 neighbours."""
    from prod_recommendation_pyspark_spark.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    ann = ann_ivf_topk(
        corpus, qs, "nbr_id", "tgt_id", "embedding", k=5,
        centroids=centroids, n_probe=4,
    )
    norm = _normalized(spark)
    left = norm.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("tgt_id"), "vec"
    )
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    truth = cosine_topk_crossjoin(
        left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True
    )
    ann_set = {(r.tgt_id, r.nbr_id) for r in ann.collect()}
    true_set = {(r.tgt_id, r.nbr_id) for r in truth.collect()}
    recall = len(ann_set & true_set) / len(true_set)
    assert recall >= 0.3, f"IVF recall too low: {recall:.3f}"


def test_auto_blocking_matches_single_block(spark):
    """Auto-sized blocking (forced small cap => multiple blocks) must
    return exactly the single-block kernel result."""
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select(F.col("vec_id").alias("nbr_id"), "vec")
    single = cosine_topk(left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True)
    # tiny cap: 64-dim doubles = 512 B/row; cap at 8 KiB => ~16 rows/block
    auto = cosine_topk(
        left, right, "tgt_id", "nbr_id", "vec", k=5, exclude_self=True,
        max_block_bytes=8 * 1024,
    )
    assert _pairs(single) == _pairs(auto)


def test_blocked_kernel_with_negative_ids(spark):
    """pmod slicing: signed block keys (e.g. xxhash64 ids) must land in
    exactly one block — Spark's `%` keeps the dividend's sign, so a
    `% n_blocks == b` filter over b in 0..n-1 silently drops every
    negative id (the round-1 advisory's high finding)."""
    norm = _normalized(spark)
    left = norm.select(F.col("vec_id").alias("tgt_id"), "vec")
    right = norm.select((F.col("vec_id") - 1000).alias("nbr_id"), "vec")
    one = cosine_topk(
        left, right, "tgt_id", "nbr_id", "vec", k=5, n_blocks=1
    )
    four = cosine_topk(
        left, right, "tgt_id", "nbr_id", "vec", k=5, n_blocks=4
    )
    assert _pairs(one) == _pairs(four)
    # negative ids actually appear in the output (the regression shape)
    assert any(n < 0 for _, n, _ in _pairs(four))


def test_nan_vector_parity_kernel_vs_crossjoin(spark):
    """A NaN component yields a NaN cosine; both paths must DROP the
    pair (SQL would otherwise rank NaN first desc while numpy drops it
    — the round-1 advisory's divergence)."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.6, 0.8]),
        (3, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    left = df.select(F.col("id").alias("tgt_id"), "vec")
    right = df.select(F.col("id").alias("nbr_id"), "vec")
    kern = cosine_topk(
        left, right, "tgt_id", "nbr_id", "vec", k=3, threshold=-10.0,
        exclude_self=True, n_blocks=1,
    )
    base = cosine_topk_crossjoin(
        left, right, "tgt_id", "nbr_id", "vec", k=3, threshold=-10.0,
        exclude_self=True,
    )
    kp, bp = _pairs(kern), _pairs(base)
    assert kp == bp
    # no NaN-scored pair survives in either path
    import math as _math

    assert not any(_math.isnan(s) for _, _, s in kp | bp)
    # id 3 (NaN vec) produces no pairs at all
    assert not any(t == 3 for t, _, _ in kp)


def test_embedding_near_dup_lsh_recall(spark):
    """The LSH-bucketed near-dup pair set must recover most of the
    brute-force pair set at the same threshold (4 tables × 6 planes on
    near-identical vectors ⇒ high bucket-collision probability)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        random_hyperplane_tables,
        sign_lsh_self_pairs,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    brute = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45, brute=True
        ).collect()
    }
    tables = random_hyperplane_tables(64, 5, 6, seed=11)
    cands = sign_lsh_self_pairs(emb, "vec_id", "embedding", tables)
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            emb, "vec_id", "embedding", threshold=0.45, candidates=cands
        ).collect()
    }
    assert lsh <= brute  # candidates only prune, never invent
    if brute:
        recall = len(lsh & brute) / len(brute)
        assert recall >= 0.6, f"LSH near-dup recall too low: {recall:.3f}"


def test_seq_kernels_bit_identical_to_fold_expressions(spark):
    """seq_dot_kernel / seq_cosine_kernel must be BIT-identical to the
    interpreted aggregate(zip_with(...)) folds on null-free vectors —
    the contract that makes use_kernel a pure physical-plan choice
    (operators/similarity.py `_fold_pair_scores`)."""
    import struct

    from prod_recommendation_pyspark_spark.operators.similarity import (
        seq_cosine_kernel,
        seq_dot_kernel,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").cast("array<double>").alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").cast("array<double>").alias("vb"),
    )
    pairs = a.crossJoin(b).filter(
        (F.col("ia") % 11 == 0) & (F.col("ib") % 7 == 0)
    )
    qn = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    cn = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rows = pairs.select(
        (dot / (qn * cn)).alias("ec"),
        seq_cosine_kernel("va", "vb").alias("kc"),
        dot.alias("ed"),
        seq_dot_kernel("va", "vb").alias("kd"),
    ).collect()
    assert rows
    for r in rows:
        assert struct.pack("d", r.ec) == struct.pack("d", r.kc)
        assert struct.pack("d", r.ed) == struct.pack("d", r.kd)


def test_seq_kernels_null_contract(spark):
    """Kernel poison cases all funnel to NULL: null side, length
    mismatch, zero vector (cosine), NaN element.  Dot of empty arrays
    is the 0.0 fold seed."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        seq_cosine_kernel,
        seq_dot_kernel,
    )

    edge = spark.createDataFrame(
        [
            (1, [1.0, 2.0], [3.0, 4.0]),
            (2, None, [1.0, 2.0]),
            (3, [1.0, 2.0, 5.0], [1.0, 2.0]),
            (4, [0.0, 0.0], [1.0, 2.0]),
            (5, [], []),
            (6, [float("nan"), 1.0], [1.0, 1.0]),
        ],
        "id int, va array<double>, vb array<double>",
    )
    got = {
        r["id"]: (r["k"], r["kd"])
        for r in edge.select(
            "id",
            seq_cosine_kernel("va", "vb").alias("k"),
            seq_dot_kernel("va", "vb").alias("kd"),
        ).collect()
    }
    assert got[1] == (pytest.approx(11.0 / (5.0**0.5 * 25.0**0.5)), 11.0)
    assert got[2] == (None, None)
    assert got[3] == (None, None)
    assert got[4] == (None, 0.0)
    assert got[5] == (None, 0.0)
    assert got[6] == (None, None)


def test_ann_use_kernel_matches_expression_path(spark):
    """ann_lsh_topk / ann_ivf_topk produce identical rows under both
    physical scoring strategies."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ann_ivf_topk,
        ann_lsh_topk,
        random_hyperplane_tables,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    tables = random_hyperplane_tables(64, 4, 2, 7)
    cent = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    for fn in (
        lambda uk: ann_lsh_topk(
            corpus, qs, "nbr_id", "tgt_id", "embedding",
            k=5, tables=tables, use_kernel=uk,
        ),
        lambda uk: ann_ivf_topk(
            corpus, qs, "nbr_id", "tgt_id", "embedding",
            k=5, centroids=cent, n_probe=2, use_kernel=uk,
        ),
    ):
        expr_rows = sorted(map(tuple, fn(False).collect()))
        kern_rows = sorted(map(tuple, fn(True).collect()))
        assert expr_rows == kern_rows


def test_sq8_quantization_error_bound_and_recall(spark):
    """Dequantization error is bounded by scale/254 per component, and
    SQ8 shortlist→rescore top-5 achieves high recall vs exact brute
    top-5 on the smoke corpus."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        quantize_vectors,
    )
    from prod_recommendation_pyspark_spark.queries import QUERIES
    from prod_recommendation_pyspark_spark.sources.catalog import Catalog
    from tests.conftest import SF_SMOKE

    emb = (
        Catalog(spark, SF_SMOKE)
        .table("embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    q = quantize_vectors(emb, "v")
    err = q.select(
        F.array_max(
            F.zip_with(
                "v",
                "qvec",
                lambda x, qv: F.abs(x - qv * F.col("qscale") / 127.0),
            )
        ).alias("e"),
        (F.col("qscale") / 254.0 + 1e-12).alias("bound"),
    )
    assert err.filter(F.col("e") > F.col("bound")).count() == 0

    sq8 = {
        (r.tgt_id, r.nbr_id)
        for r in QUERIES["sq8_quantized_topk_embeddings"](
            spark, SF_SMOKE
        ).collect()
    }
    # exact brute top-5 for the same probes (vec_id % 20 == 0)
    a = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("tgt_id"), F.col("v").alias("tv")
    )
    b = emb.select(F.col("vec_id").alias("nbr_id"), F.col("v").alias("nv"))
    dot = F.aggregate(
        F.zip_with("tv", "nv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("tgt_id").orderBy(
        F.col("score").desc(), F.col("nbr_id")
    )
    exact = {
        (r.tgt_id, r.nbr_id)
        for r in a.crossJoin(b)
        .filter(F.col("tgt_id") != F.col("nbr_id"))
        .withColumn("score", dot / (nrm("tv") * nrm("nv")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    recall = len(sq8 & exact) / len(exact)
    assert recall >= 0.9, recall


def test_mmr_prefers_diversity_over_redundancy(spark):
    """Hand-built case: two near-duplicate high-relevance candidates
    and one orthogonal mid-relevance one.  Pure relevance would rank
    the twins 1-2; MMR (λ=0.5) must pick the orthogonal candidate at
    step 2 because the twin's similarity penalty sinks it."""
    from pyspark.sql import functions as F
    from prod_recommendation_pyspark_spark.operators.similarity import (
        mmr_rerank,
    )

    rows = [
        (1, 10, 0.90, [1.0, 0.0]),
        (1, 11, 0.89, [0.999, 0.0447]),  # near-dup of 10 (cos ≈ 0.999)
        (1, 12, 0.50, [0.0, 1.0]),       # orthogonal
    ]
    df = spark.createDataFrame(rows, ["qid", "cid", "rel", "cv"])
    got = [
        (r.step, r.cid, round(r.score, 6))
        for r in mmr_rerank(df, "qid", "cid", "rel", "cv", k=3, lam=0.5)
        .orderBy("step")
        .collect()
    ]
    assert [g[1] for g in got] == [10, 12, 11]
    assert got[0] == (1, 10, 0.9)            # step 1 = raw relevance
    assert got[1] == (2, 12, round(0.5 * 0.5 - 0.5 * 0.0, 6))
    # step 3: the twin, penalized by its ~0.999 similarity to cid 10
    assert got[2][2] == round(0.5 * 0.89 - 0.5 * 0.999, 6)


def test_sign_projection_matrix_quality():
    """The generator must produce distinct, near-balanced,
    low-correlation rows (the cheap arithmetic hashes failed this:
    repeated rows / row-dots of 56/64)."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        sign_projection_matrix,
    )

    m = sign_projection_matrix(16, 64)
    rows = [tuple(r) for r in m]
    assert len(set(rows)) == 16
    assert all(v in (1.0, -1.0) for r in m for v in r)
    assert max(abs(sum(r)) for r in m) <= 20  # near-balanced
    dots = [
        abs(sum(a * b for a, b in zip(m[i], m[j])))
        for i in range(16)
        for j in range(i + 1, 16)
    ]
    assert max(dots) <= 32  # no near-duplicate row pair
    assert sum(dots) / len(dots) < 10  # E|dot| ~ sqrt(64) = 8


def test_random_project_hand_computed(spark):
    from prod_recommendation_pyspark_spark.operators.similarity import (
        random_project,
    )

    mat = [[1.0, -1.0, 1.0], [-1.0, 1.0, 1.0]]
    df = spark.createDataFrame([(1, [2.0, 3.0, 5.0])], "id long, v array<double>")
    r = random_project(df, "v", "p", k=2, matrix=mat).first()
    assert r.p == [2.0 - 3.0 + 5.0, -2.0 + 3.0 + 5.0]


def test_random_projection_preserves_cosine_roughly(spark):
    """JL sanity at k=16: over the audit query's pairs the mean
    absolute cosine error stays well under the 1/sqrt(k) scale."""
    from prod_recommendation_pyspark_spark.queries.registry import QUERIES

    rows = QUERIES["random_projection_cosine_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    mean_err = sum(r.abs_err for r in rows) / len(rows)
    assert mean_err < 0.25


def test_projected_recall_measures_the_veto(spark):
    """The recall harness's verdict on this corpus is NEGATIVE (JL
    distortion at k=16 exceeds the tiny cosine gaps — measured mean
    overlap ~1.3/10): pin that the harness emits sane per-query
    counts and that the measured value stays in the regime that
    vetoes projected retrieval, so a dataset change that flips the
    verdict is surfaced rather than silently absorbed."""
    from prod_recommendation_pyspark_spark.queries.registry import QUERIES

    rows = QUERIES["projected_topk_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) >= 5  # one row per sampled query
    assert all(0 <= r.n_overlap <= 10 for r in rows)
    mean = sum(r.n_overlap for r in rows) / len(rows)
    assert mean < 4  # the documented veto regime for this corpus


def test_spread_small_input_spreads_checkpoint_backed_plans(spark):
    """LogicalRDD-backed plans (localCheckpoint output) report the
    defaultSizeInBytes SENTINEL, not a real size — the helper must
    fall back to the real partition probe and still spread them
    (round-7 review: the size-only test silently no-op'd here)."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        spread_small_input,
    )

    par = spark.sparkContext.defaultParallelism
    narrow = (
        spark.range(1000).coalesce(1).localCheckpoint(eager=True)
    )
    assert narrow.rdd.getNumPartitions() == 1
    spread = spread_small_input(narrow)
    assert spread.rdd.getNumPartitions() == par
    # and rows survive intact
    assert spread.count() == 1000


def test_spread_small_input_leaves_wide_checkpoint_alone(spark):
    """A checkpoint-backed plan that is ALREADY at parallelism must
    not gain a repartition shuffle."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        spread_small_input,
    )

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par).localCheckpoint(eager=True)
    out = spread_small_input(wide)
    assert out.rdd.getNumPartitions() == wide.rdd.getNumPartitions()
    assert out.count() == 1000


def test_ivf_index_parquet_roundtrip_probe_parity(spark, tmp_path):
    """The nightly-ANN deployment contract: build the IVF artifact,
    WRITE it partitioned by list, reload cold, probe — the served
    top-k must match the in-session ``ann_ivf_topk`` pair for pair,
    and the reloaded scan must be dynamically partition-pruned (the
    probe touches list directories, not the corpus)."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_index,
        ivf_probe,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    path = str(tmp_path / "ivf_index")
    ivf_index(corpus, "nbr_id", "embedding", centroids).write.partitionBy(
        "ivf_list"
    ).parquet(path)
    artifact = spark.read.parquet(path)
    probed = ivf_probe(
        qs, artifact, "tgt_id", "nbr_id", centroids,
        vec_col="embedding", k=5, n_probe=4,
    )
    direct = ann_ivf_topk(
        corpus, qs, "nbr_id", "tgt_id", "embedding",
        k=5, centroids=centroids, n_probe=4,
    )
    assert _pairs(probed) == _pairs(direct)
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "dynamicpruning" in plan, (
        "reloaded artifact scan is not partition-pruned — the probe "
        "would read every inverted list"
    )


def test_ivf_incremental_insert_equals_rebuild(spark):
    """With FROZEN centroids, list assignment is a pure per-row
    function of the centroid table — so inserting arrivals into an
    existing index must equal a full rebuild over the grown corpus
    ROW FOR ROW, and the served top-k off either index must match."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
        ivf_index,
        ivf_probe,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    nightly = corpus.filter(F.col("nbr_id") % 10 != 7)
    arrivals = corpus.filter(F.col("nbr_id") % 10 == 7)
    centroids = ivf_auto_centroids(nightly, "nbr_id", "embedding")

    grown = ivf_index(nightly, "nbr_id", "embedding", centroids).unionByName(
        ivf_index(arrivals, "nbr_id", "embedding", centroids)
    )
    rebuilt = ivf_index(corpus, "nbr_id", "embedding", centroids)
    key = lambda df: {(r["nbr_id"], r["ivf_list"]) for r in
                      df.select("nbr_id", "ivf_list").collect()}
    assert key(grown) == key(rebuilt) and grown.count() == rebuilt.count()

    qs = emb.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    serve = lambda idx: {
        (r["tgt_id"], r["nbr_id"], round(r["score"], 9))
        for r in ivf_probe(
            qs, idx, "tgt_id", "nbr_id", centroids,
            vec_col="embedding", k=5, n_probe=4,
        ).collect()
    }
    assert serve(grown) == serve(rebuilt) and len(serve(grown)) > 0


def test_ivf_empty_inputs_are_well_defined(spark):
    """Empty corpus / empty batch degrade to empty results, not
    errors: auto-centroids on an empty corpus derive mod 1 and yield
    no lists; a probe with an empty query batch returns zero rows
    with the right schema."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
        ivf_index,
        ivf_probe,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    empty_corpus = corpus.filter(F.lit(False))
    assert ivf_auto_centroids(empty_corpus, "nbr_id", "embedding").count() == 0
    assert ivf_index(
        empty_corpus, "nbr_id", "embedding",
        ivf_auto_centroids(empty_corpus, "nbr_id", "embedding"),
    ).count() == 0

    centroids = ivf_auto_centroids(corpus, "nbr_id", "embedding")
    index = ivf_index(corpus, "nbr_id", "embedding", centroids)
    empty_batch = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    out = ivf_probe(
        empty_batch, index, "tgt_id", "nbr_id", centroids,
        vec_col="embedding", k=5, n_probe=4,
    )
    assert out.count() == 0
    assert set(out.columns) == {"tgt_id", "nbr_id", "score"}


def test_ivf_assign_blocked_equals_crossjoin(spark):
    """The corpus-scale blocked (BLAS block-product) assignment must
    pick the same lists as the crossJoin-HOF formulation the oracle
    replays — per (id, rank) pair, at n_probe 1 and 4."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    for n_probe in (1, 4):
        a = {
            (r.vec_id, r.ivf_list)
            for r in ivf_assign(
                emb, "vec_id", "embedding", centroids, n_probe=n_probe
            ).collect()
        }
        b = {
            (r.vec_id, r.ivf_list)
            for r in ivf_assign(
                emb, "vec_id", "embedding", centroids, n_probe=n_probe,
                blocked=True,
            ).collect()
        }
        assert a == b and len(a) > 0
