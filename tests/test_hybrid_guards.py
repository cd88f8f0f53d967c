"""Guard-rail tests for the pruned hybrid peer search and the LSH dim
probe (round-4 verdict items 5-7): a null leading vector must not
poison LSH sizing, the default candidate generator must keep the
cosine arm (cross-industry peers reachable), and the NAICS skew guard
must change task layout only — never the candidate set."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.hybrid import (
    hybrid_candidates,
    hybrid_topk_pruned,
)
from prod_recommendation_pyspark_spark.operators.similarity import probe_dim


def _firmo(spark, n=60, naics_of=None, vec_of=None):
    naics_of = naics_of or (lambda i: f"52{i % 3}100")
    vec_of = vec_of or (lambda i: [1.0, float(i % 7), 2.0])
    rows = [
        (i, naics_of(i), vec_of(i), float(i % 50), float(i % 80))
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )


def test_probe_dim_skips_null_and_empty_leading_vectors(spark):
    df = spark.createDataFrame(
        [(0, None), (1, []), (2, [1.0, 2.0, 3.0, 4.0])],
        "id long, vec array<double>",
    )
    assert probe_dim(df, "vec") == 4


def test_probe_dim_raises_when_no_valid_vector(spark):
    df = spark.createDataFrame([(0, None), (1, [])], "id long, vec array<double>")
    with pytest.raises(ValueError, match="cannot infer"):
        probe_dim(df, "vec")


def test_probe_dim_empty_relation_and_default(spark):
    empty = spark.createDataFrame([], "id long, vec array<double>")
    assert probe_dim(empty, "vec") is None  # empty input: defined answer
    assert probe_dim(empty, "vec", default=7) == 7


def test_empty_inputs_yield_empty_results(spark):
    """Empty relations must flow through the LSH-defaulted paths as
    empty outputs, not dim-probe crashes (round-5 review)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    empty = spark.createDataFrame([], "id long, vec array<double>")
    assert embedding_near_dup_pairs(empty, "id", "vec").count() == 0
    left = spark.createDataFrame(
        [], "lid long, naics string, vec array<double>"
    )
    right = spark.createDataFrame(
        [], "rid long, naics string, vec array<double>"
    )
    assert hybrid_candidates(left, right, "lid", "rid", vec_col="vec").count() == 0


def test_embedding_near_dup_survives_null_first_vector(spark):
    """Default (LSH) near-dup path with a null leading vector: the dim
    probe must find the real dim and the known duplicate pair must
    surface (a dim-1 fallback would collapse signatures instead)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    base = [(i, [1.0 * (i % 5), 1.0, float(i)]) for i in range(1, 20)]
    rows = [(0, None)] + base + [(99, [0.0, 1.0, 1.0]), (100, [0.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(df, "id", "vec", threshold=0.999).collect()
    }
    assert (99, 100) in got


def test_pruned_default_keeps_cross_industry_cosine_arm(spark):
    """tables=None must derive seeded LSH tables, so a high-cosine pair
    in a DIFFERENT industry survives pruning (the round-4 default
    silently degraded to NAICS-only blocking and lost such pairs)."""
    # ids 0..9 industry A, 10..19 industry B; identical vectors across
    # industries → every cross-industry pair has cosine 1
    df = _firmo(
        spark,
        n=20,
        naics_of=lambda i: "521000" if i < 10 else "639900",
        vec_of=lambda i: [1.0, 2.0, 3.0],
    )
    left = df.select(F.col("id").alias("lid"), "naics", "vec", "lat", "lon")
    right = df.select(F.col("id").alias("rid"), "naics", "vec", "lat", "lon")
    out = hybrid_topk_pruned(
        left, right, "lid", "rid", vec_col="vec", k=15, threshold=0.0,
        candidates=hybrid_candidates(left, right, "lid", "rid", vec_col="vec"),
    )
    cross = [
        r for r in out.collect() if (r.lid < 10) != (r.rid < 10)
    ]
    assert cross, "no cross-industry pair survived pruning with default tables"


def test_skew_guard_preserves_candidate_set(spark):
    """A dominant NAICS prefix split across sub-blocks must yield
    EXACTLY the same candidate pairs as the unsplit join — the guard
    changes task layout, not semantics."""
    # 50 of 60 rows share one 4-digit prefix (dominant block)
    df = _firmo(
        spark, n=60, naics_of=lambda i: "521100" if i < 50 else f"60{i % 5}000"
    )
    left = df.select(F.col("id").alias("lid"), "naics", "vec")
    right = df.select(F.col("id").alias("rid"), "naics", "vec")

    def cand(cap):
        return {
            (r.lid, r.rid)
            for r in hybrid_candidates(
                left, right, "lid", "rid", vec_col="vec",
                tables=[], max_block_rows=cap,
            ).collect()
        }

    salted = cand(7)  # dominant block → ceil(50/7) = 8 sub-blocks
    unsplit = cand(10**6)
    assert salted == unsplit and len(unsplit) == 50 * 50 + 10 * 2


def test_quantile_arm_covers_cross_industry_cosine(spark):
    """The equi-depth quantile arm (round-7 replacement for sign-LSH
    on low-dim vectors) must surface a high-cosine pair in a DIFFERENT
    industry — same contract the LSH arm was added for."""
    df = _firmo(
        spark,
        n=40,
        naics_of=lambda i: "521000" if i < 20 else "639900",
        # a spread of angles; ids i and i+20 share the identical vector
        vec_of=lambda i: [1.0 + (i % 20) * 0.3, 2.0],
    )
    left = df.select(F.col("id").alias("lid"), "naics", "vec", "lat", "lon")
    right = df.select(F.col("id").alias("rid"), "naics", "vec", "lat", "lon")
    got = {
        (r.lid, r.rid)
        for r in hybrid_candidates(
            left, right, "lid", "rid", vec_col="vec",
            tables=[], quantile_buckets=8,
        ).collect()
    }
    # every identical-vector cross-industry pair must be a candidate:
    # identical vectors share a bucket, and ±1 probing cannot miss it
    for i in range(20):
        assert (i, i + 20) in got, f"cross-industry twin {i} lost"


def test_quantile_arm_actually_prunes(spark):
    """On angularly spread vectors the quantile arm must NOT return
    the all-pairs product (the sign-LSH failure mode this replaces):
    with B buckets and ±1 probing, a left row pairs with ~3/B of the
    right side, not all of it."""
    import math

    n = 200
    df = _firmo(
        spark,
        n=n,
        # unique PREFIX-4 per row → the NAICS arm contributes only the
        # 200 self-pairs, isolating the quantile arm's volume
        naics_of=lambda i: f"{1000 + i}00",
        # all angles inside the first quadrant: v0 > 0, so v1 = sin θ
        # is the monotone proxy the arm's contract requires
        vec_of=lambda i: [
            math.cos(0.1 + 1.3 * i / n),
            math.sin(0.1 + 1.3 * i / n),
        ],
    )
    left = df.select(F.col("id").alias("lid"), "naics", "vec")
    right = df.select(F.col("id").alias("rid"), "naics", "vec")
    n_cand = hybrid_candidates(
        left, right, "lid", "rid", vec_col="vec",
        tables=[], quantile_buckets=20,
    ).count()
    # ~3/20 of all pairs (+ bucket-boundary slack); all-pairs = 40000
    assert n_cand < 0.3 * n * n, f"quantile arm did not prune: {n_cand}"


def _sf_sides(spark, sf_dir):
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )

    firmo = _firmographics(spark, sf_dir)
    pros = firmo.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt_custkey"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src_custkey"), "vec", "naics", "lat", "lon"
    )
    return pros, clis


def test_rank_window_matches_exact_kernel(spark, sf_dir):
    """The round-9 linear-candidate path (rank_window_candidates →
    scored top-15) must return the IDENTICAL pair set as the exact
    blocked kernel — the level-decomposition containment argument,
    pinned end-to-end.  (At sf1 the ±64 geo slack is outgrown and
    recall is 0.9924 — measured in SCALE.md; at test scales it is
    exact.)"""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk,
        rank_window_candidates,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        THRESHOLD,
        TOPK_PEERS,
        W_HAVS,
        W_HOPS,
    )

    pros, clis = _sf_sides(spark, sf_dir)
    cand = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", window=64
    )
    # linear candidate bound: (code_len + 2) arms (malformed, global,
    # 6 prefix levels) x 2·window per prospect; on this clean-code
    # data the malformed arm is empty so 7 arms suffice
    n_pros = pros.count()
    assert cand.count() <= 8 * n_pros * 128
    ranked = hybrid_topk_pruned(
        pros, clis, "tgt_custkey", "src_custkey",
        k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS,
        candidates=cand, dim=2,
    )
    exact = hybrid_topk(
        pros, clis, "tgt_custkey", "src_custkey",
        k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS,
    )
    a = {(r[0], r[1]) for r in ranked.select("tgt_custkey", "src_custkey").collect()}
    b = {(r[0], r[1]) for r in exact.select("tgt_custkey", "src_custkey").collect()}
    assert a == b and len(a) > 0


def test_unrolled_dot_bit_identical_to_hof_fold(spark, sf_dir):
    """hybrid_topk_pruned(dim=2) must score BIT-identically to the
    HOF zip_with/aggregate fold (same left-to-right accumulation;
    0.0 + x == x in IEEE) — the codegen fast path may not move a
    single score."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        THRESHOLD,
        TOPK_PEERS,
        W_HAVS,
        W_HOPS,
    )

    pros, clis = _sf_sides(spark, sf_dir)
    cand = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", window=64
    ).cache()
    kw = dict(
        k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS,
        candidates=cand,
    )
    fast = hybrid_topk_pruned(
        pros, clis, "tgt_custkey", "src_custkey", dim=2, **kw
    ).collect()
    hof = hybrid_topk_pruned(
        pros, clis, "tgt_custkey", "src_custkey", **kw
    ).collect()
    key = lambda r: (r["tgt_custkey"], r["src_custkey"])  # noqa: E731
    fast, hof = sorted(fast, key=key), sorted(hof, key=key)
    assert len(fast) == len(hof) > 0
    for a, b in zip(fast, hof):
        assert key(a) == key(b)
        assert a["score"] == b["score"]  # bit-exact, not approx
    cand.unpersist()


def test_rank_window_covers_malformed_codes(spark):
    """Malformed industry codes score hops = −1 against everyone —
    a CONSTANT level — so the malformed-client arm plus the global
    arm must keep rank-window results identical to the exact
    crossjoin even when codes are missing/short/long."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk_crossjoin,
        rank_window_candidates,
    )

    import math

    def naics(i):
        if i % 11 == 0:
            return None  # missing
        if i % 7 == 0:
            return "52"  # too short
        if i % 5 == 0:
            return "5201234"  # too long
        return f"52{i % 3}1{i % 4}0"

    # UNIQUE, well-separated angles: neighbor dot-gaps (~0.01) exceed
    # the geo slack (w_geo/w_dot ~ 0.0017), so the containment
    # argument needs window only slightly above k.  (Data with heavy
    # angle TIES needs window >= the tie count - that density
    # dependence is the documented knob, not a defect.)
    rows = [
        (
            i,
            naics(i),
            [math.cos(0.1 + 1.3 * i / 120), math.sin(0.1 + 1.3 * i / 120)],
            float(i % 50),
            float(i % 80),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    cand = rank_window_candidates(pros, clis, "tgt", "src", window=16)
    got = hybrid_topk_pruned(
        pros, clis, "tgt", "src", k=5, threshold=-10.0,
        candidates=cand, dim=2,
    )
    want = hybrid_topk_crossjoin(pros, clis, "tgt", "src", k=5, threshold=-10.0)
    a = {(r[0], r[1]) for r in got.select("tgt", "src").collect()}
    b = {(r[0], r[1]) for r in want.select("tgt", "src").collect()}
    assert a == b and len(a) > 0


def test_rank_window_empty_sides(spark):
    """Empty prospect or client relations must flow through the
    rank-window path as empty outputs (window functions over empty
    frames, no crashes)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
    )

    schema = "id long, naics string, vec array<double>, lat double, lon double"
    full = spark.createDataFrame(
        [(1, "520100", [0.6, 0.8], 1.0, 2.0)], schema
    )
    empty = spark.createDataFrame([], schema)
    assert rank_window_candidates(empty, full, "id", "id").count() == 0
    assert rank_window_candidates(full, empty, "id", "id").count() == 0
    assert rank_window_candidates(empty, empty, "id", "id").count() == 0


def test_index_probe_matches_batch_candidates(spark, sf_dir):
    """The serving-path split (rank_window_index + rank_window_probe)
    must produce the IDENTICAL candidate set as the one-shot batch
    rank_window_candidates, and be invariant to splitting the
    prospect set across probe batches (per-row independence — the
    micro-batch contract)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
        rank_window_index,
        rank_window_probe,
    )

    pros, clis = _sf_sides(spark, sf_dir)
    batch = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", window=64
    )
    index = rank_window_index(clis, "src_custkey", window=64).cache()
    probe = rank_window_probe(
        pros, index, "tgt_custkey", "src_custkey", window=64
    )
    a = {(r[0], r[1]) for r in batch.collect()}
    b = {(r[0], r[1]) for r in probe.collect()}
    assert a == b and len(a) > 0
    # split invariance: two half-batches probe to the same union
    h1 = rank_window_probe(
        pros.filter(F.col("tgt_custkey") % 2 == 0), index,
        "tgt_custkey", "src_custkey", window=64,
    )
    h2 = rank_window_probe(
        pros.filter(F.col("tgt_custkey") % 2 != 0), index,
        "tgt_custkey", "src_custkey", window=64,
    )
    c = {(r[0], r[1]) for r in h1.collect()} | {
        (r[0], r[1]) for r in h2.collect()
    }
    assert c == a
    index.unpersist()


def test_index_probe_matches_batch_on_malformed_codes(spark):
    """Index/probe parity must hold with NULL/short/long codes too —
    the malformed arm and the ins=0 (prospect-before-all-clients)
    edge both live in this fixture."""
    import math

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
        rank_window_index,
        rank_window_probe,
    )

    def naics(i):
        if i % 11 == 0:
            return None
        if i % 7 == 0:
            return "52"
        return f"52{i % 3}1{i % 4}0"

    rows = [
        (
            i,
            naics(i),
            [math.cos(0.1 + 1.3 * i / 90), math.sin(0.1 + 1.3 * i / 90)],
            float(i % 50),
            float(i % 80),
        )
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    batch = rank_window_candidates(pros, clis, "tgt", "src", window=8)
    index = rank_window_index(clis, "src", window=8)
    probe = rank_window_probe(pros, index, "tgt", "src", window=8)
    a = {(r[0], r[1]) for r in batch.collect()}
    b = {(r[0], r[1]) for r in probe.collect()}
    assert a == b and len(a) > 0


def test_rank_window_rejects_non_2d_vectors(spark):
    """Round-10 advice: the angle proxy (element_at(vec, 2)/norm) is a
    total order matching dot only for 2-D non-negative vectors.  A
    caller handing 3-D+ vectors to any rank-window entry point must
    get a LOUD ValueError at plan-build time — not silently low-recall
    candidates."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
        rank_window_index,
        rank_window_probe,
    )

    df = _firmo(spark, 24)  # 3-dim vectors
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    with pytest.raises(ValueError, match="dim=3"):
        rank_window_candidates(pros, clis, "tgt", "src")
    with pytest.raises(ValueError, match="dim=3"):
        rank_window_index(clis, "src")
    empty_index = spark.createDataFrame(
        [],
        "__rid long, __v1n double, __lvl int, __blk string, "
        "__cpos long, __wb long",
    )
    with pytest.raises(ValueError, match="dim=3"):
        rank_window_probe(pros, empty_index, "tgt", "src")
    # the error must route users somewhere useful
    with pytest.raises(ValueError, match="ANN operators"):
        rank_window_index(clis, "src")


def test_pruned_dim_mismatch_raises(spark):
    """Round-10 advice: hybrid_topk_pruned(dim=N) must validate N
    against the actual vector length — a too-small dim silently
    truncated the dot, a too-large dim NULLed every score."""
    df = _firmo(spark, 24)  # 3-dim vectors
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    cand = pros.select(F.col("tgt")).crossJoin(clis.select("src")).limit(5)
    with pytest.raises(ValueError, match="truncate"):
        hybrid_topk_pruned(
            pros, clis, "tgt", "src", dim=2, candidates=cand
        )
    with pytest.raises(ValueError, match="NULL every score"):
        hybrid_topk_pruned(
            pros, clis, "tgt", "src", dim=7, candidates=cand
        )
    # matching dim still works
    out = hybrid_topk_pruned(
        pros, clis, "tgt", "src", dim=3, candidates=cand, k=3
    )
    assert out.count() > 0


# ---------------------------------------------------------------------
# Round-11: the window=None derivation under evidence (r10 verdict #1)


def test_ladder_window_rungs_stability_and_overflow():
    """The derived window snaps UP a power-of-two ladder: a ±1 wobble
    in the sampled statistic almost never changes the window (only at
    an exact rung edge, where both values exceed the true need anyway),
    and a target beyond the ladder max raises LOUDLY instead of
    planning a silently quadratic window."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        RANK_WINDOW_LADDER,
        _ladder_window,
    )

    assert _ladder_window(1) == 64
    assert _ladder_window(63) == 64
    assert _ladder_window(64) == 64
    assert _ladder_window(65) == 128
    assert _ladder_window(129) == 256
    # stability: every target strictly inside a rung's half-open span
    # maps to that rung, so ±1 moves the window only at the edge
    for rung in RANK_WINDOW_LADDER[1:4]:
        lo = rung // 2 + 1
        assert _ladder_window(lo) == rung
        assert _ladder_window(lo + 1) == rung
        assert _ladder_window(rung - 1) == rung
        assert _ladder_window(rung) == rung
    with pytest.raises(ValueError, match="exact kernel"):
        _ladder_window(RANK_WINDOW_LADDER[-1] + 1)


def _tie_heavy_sides(spark, n=240):
    """Fixture whose ANGLE-TIE DENSITY defeats the 64 floor: every row
    shares one vector (one giant tie run in the angle order) and one
    NAICS block, while lat/lon scatter decides the true top-k — so a
    true top-k client can sit ~|run| positions from the prospect's
    insertion point and the required window grows to the tie count."""
    rows = [
        (
            i,
            "520100",
            [0.6, 0.8],
            float((i * 37) % 90),
            float((i * 53) % 180),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    return pros, clis


def test_derived_window_beats_floor_and_matches_exact(spark):
    """On a tie-heavy corpus the derivation must (a) RAISE the window
    above the 64 floor (the floor would miss true top-k pairs here —
    that is the scale landmine the derivation exists for) and (b) make
    rank_window_candidates(window=None) reproduce the exact crossjoin
    top-k, end to end."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        derive_rank_window_stats,
        hybrid_topk_crossjoin,
        rank_window_candidates,
    )

    pros, clis = _tie_heavy_sides(spark)
    stats = derive_rank_window_stats(
        pros, clis, "tgt", "src", k=5, threshold=-10.0
    )
    assert stats["n_sampled"] >= 8  # the mod auto-widened
    assert stats["sample_mod"] < 500
    assert stats["n_pairs"] == 5 * stats["n_sampled"]
    assert stats["max_needed"] is not None and stats["max_needed"] > 32
    assert stats["window"] > 64
    assert stats["window"] >= 2 * stats["max_needed"]
    cand = rank_window_candidates(
        pros, clis, "tgt", "src", window=None, k=5, threshold=-10.0
    )
    got = hybrid_topk_pruned(
        pros, clis, "tgt", "src", k=5, threshold=-10.0,
        candidates=cand, dim=2,
    )
    want = hybrid_topk_crossjoin(pros, clis, "tgt", "src", k=5, threshold=-10.0)
    a = {(r[0], r[1]) for r in got.select("tgt", "src").collect()}
    b = {(r[0], r[1]) for r in want.select("tgt", "src").collect()}
    assert a == b and len(a) > 0
    # and the floor REALLY would have missed pairs (the derivation is
    # load-bearing, not a no-op on this fixture)
    floor_cand = rank_window_candidates(
        pros, clis, "tgt", "src", window=64
    )
    floored = hybrid_topk_pruned(
        pros, clis, "tgt", "src", k=5, threshold=-10.0,
        candidates=floor_cand, dim=2,
    )
    c = {(r[0], r[1]) for r in floored.select("tgt", "src").collect()}
    assert c != b


def test_derivation_min_window_floor(spark, sf_dir):
    """min_window floors the derived window — the production
    derive-then-floor hybrid can only RAISE the window above the
    proven constant, never lower it."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        derive_rank_window_stats,
    )

    pros, clis = _sf_sides(spark, sf_dir)
    stats = derive_rank_window_stats(
        pros, clis, "tgt_custkey", "src_custkey", min_window=256
    )
    assert stats["window"] >= 256


def test_derivation_sample_widens_and_raises_on_null_ids(spark):
    """left_id % 500 picks ≤1 row at small scales — the sample must
    auto-widen to ≥8 prospects; and all-NULL ids (the % filter nulls
    out) must raise loudly instead of deriving the floor from an
    empty sample."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        _derivation_sample,
    )

    schema = "id long, naics string, vec array<double>, lat double, lon double"
    small = spark.createDataFrame(
        [(i, "520100", [0.6, 0.8], 1.0, 2.0) for i in range(1, 61)], schema
    )
    sample, n, mod = _derivation_sample(small, "id", 500)
    assert n >= 8 and mod < 500
    nulls = spark.createDataFrame(
        [(None, "520100", [0.6, 0.8], 1.0, 2.0) for _ in range(10)], schema
    )
    with pytest.raises(ValueError, match="numeric ids"):
        _derivation_sample(nulls, "id", 500)
    # empty left: no raise, empty sample (downstream floors the window)
    empty = spark.createDataFrame([], schema)
    _, n0, _ = _derivation_sample(empty, "id", 500)
    assert n0 == 0


def test_index_parquet_roundtrip_probe_parity(spark):
    """The nightly-deployment contract: build the index, WRITE it to
    parquet (partitioned by __lvl — NOT __blk, whose empty-string
    global-arm value would Hive-roundtrip as NULL), read it back, and
    probe with window=None (derived from the persisted __w metadata) —
    candidates must equal the in-memory probe's exactly."""
    import shutil
    import tempfile

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_probe,
    )

    pros, clis = _tie_heavy_sides(spark, n=120)
    index = rank_window_index(clis, "src", window=16)
    d = tempfile.mkdtemp(prefix="rank_window_index_")
    try:
        index.write.mode("overwrite").partitionBy("__lvl").parquet(d)
        back = spark.read.parquet(d)
        assert {r["__w"] for r in back.select("__w").distinct().collect()} == {16}
        mem = rank_window_probe(pros, index, "tgt", "src", window=16)
        disk = rank_window_probe(pros, back, "tgt", "src")  # window derived
        a = {(r[0], r[1]) for r in mem.collect()}
        b = {(r[0], r[1]) for r in disk.collect()}
        assert a == b and len(a) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_probe_window_mismatch_raises(spark):
    """Round-10 advice: probing with a window ≠ the index's build
    window silently fetched wrong neighborhoods — now it raises."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_probe,
    )

    pros, clis = _tie_heavy_sides(spark, n=60)
    index = rank_window_index(clis, "src", window=8)
    with pytest.raises(ValueError, match="does not match"):
        rank_window_probe(pros, index, "tgt", "src", window=16)
    # matching + derived both fine and identical
    a = {(r[0], r[1]) for r in
         rank_window_probe(pros, index, "tgt", "src", window=8).collect()}
    b = {(r[0], r[1]) for r in
         rank_window_probe(pros, index, "tgt", "src").collect()}
    assert a == b and len(a) > 0
    # legacy index (no __w) + window=None must raise, not guess
    with pytest.raises(ValueError, match="pre-round-11"):
        rank_window_probe(pros, index.drop("__w"), "tgt", "src")


def test_index_time_window_derivation(spark):
    """The nightly-build story end to end: rank_window_index
    (window=None, calibration=prospects) derives the build window from
    the corpus' tie density, stamps it into __w, and window-less
    probes reproduce the batch candidates at that window exactly."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        derive_rank_window_stats,
        rank_window_candidates,
        rank_window_index,
        rank_window_probe,
    )

    pros, clis = _tie_heavy_sides(spark)
    with pytest.raises(ValueError, match="calibration"):
        rank_window_index(clis, "src", window=None)
    index = rank_window_index(
        clis, "src", window=None, calibration=pros, calibration_id="tgt",
        k=5, threshold=-10.0,
    )
    w = index.select("__w").first()["__w"]
    stats = derive_rank_window_stats(
        pros, clis, "tgt", "src", k=5, threshold=-10.0
    )
    assert w == stats["window"] > 64  # deterministic estimator, same answer
    probe = rank_window_probe(pros, index, "tgt", "src")
    batch = rank_window_candidates(pros, clis, "tgt", "src", window=w)
    a = {(r[0], r[1]) for r in probe.collect()}
    b = {(r[0], r[1]) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_probe_mixed_window_index_raises(spark):
    """Code-review r11: an index path holding MIXED builds (a rebuild
    appended over an old artifact) must raise at probe time — an
    arbitrary row's __w would validate while half the rows follow the
    other window's position arithmetic (silent wrong neighborhoods)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_probe,
    )

    pros, clis = _tie_heavy_sides(spark, n=60)
    mixed = rank_window_index(clis, "src", window=8).unionByName(
        rank_window_index(clis, "src", window=16)
    )
    with pytest.raises(ValueError, match="MIXED"):
        rank_window_probe(pros, mixed, "tgt", "src")
    with pytest.raises(ValueError, match="MIXED"):
        rank_window_probe(pros, mixed, "tgt", "src", window=8)


def test_hybrid_topk_pinned_chunks_equals_auto(spark):
    """The calibration fast path (n_left_chunks=1 pinned, right-side
    blocks auto-sized without the left geometry probe) must be
    pair-for-pair identical to the fully-auto grid — the branch only
    changes job count, never the result."""
    from prod_recommendation_pyspark_spark.operators.hybrid import hybrid_topk
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )
    from tests.conftest import SF_SMOKE

    firmo = _firmographics(spark, SF_SMOKE).localCheckpoint()
    pros = firmo.filter(F.col("c_custkey") % 50 == 0).select(
        F.col("c_custkey").alias("tgt"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"), "vec", "naics", "lat", "lon"
    )
    key = lambda df: {
        (r["tgt"], r["src"], round(r["score"], 9)) for r in df.collect()
    }
    auto = hybrid_topk(pros, clis, "tgt", "src", k=5)
    pinned = hybrid_topk(pros, clis, "tgt", "src", k=5, n_left_chunks=1)
    assert key(auto) == key(pinned) and len(key(auto)) > 0


def test_rank_window_cache_hit_and_miss(spark, sf_dir):
    """The per-snapshot derivation memo (round-12): a MISS derives and
    stores the window; a HIT is used verbatim — the candidate set must
    equal the explicit-window call, proving the calibration was
    skipped rather than re-run (a re-derivation would ignore the
    seeded value)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_candidates,
    )

    pros, clis = _sf_sides(spark, sf_dir)
    cache = {}
    derived = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey",
        window=None, window_cache=cache, cache_key="snapA",
    )
    assert derived.count() > 0
    assert isinstance(cache.get("snapA"), int) and cache["snapA"] >= 64

    pairs = lambda df: {(r[0], r[1]) for r in df.collect()}
    seeded = {"snapB": 16}  # deliberately NOT the derived value
    hit = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey",
        window=None, window_cache=seeded, cache_key="snapB",
    )
    explicit = rank_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", window=16
    )
    assert pairs(hit) == pairs(explicit)
    assert seeded == {"snapB": 16}  # hit neither re-derives nor mutates


def test_projection_window_derivation_and_memo(spark):
    """9-D projection window (round 13): (a) a window covering the
    whole corpus makes the candidate-pruned result equal the exact
    kernel pair-for-pair; (b) ``window=None`` derives a ladder window
    ≥ the floor and memoizes it per cache key; (c) a seeded cache hit
    is used verbatim (no re-derivation)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk,
        hybrid_topk_pruned,
        projection_window_candidates,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _FD_DIM,
        _FD_DIRECTION,
        _fd_sides,
    )

    pros, clis = _fd_sides(spark, "/root/testdata/sf0.001")
    pros, clis = pros.persist(), clis.persist()
    n_clis = clis.count()
    pairs = lambda df: {  # noqa: E731
        (r["tgt_custkey"], r["src_custkey"]) for r in df.collect()
    }
    wide = projection_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", _FD_DIRECTION,
        window=n_clis,
    )
    via_wide = hybrid_topk_pruned(
        pros, clis, "tgt_custkey", "src_custkey",
        candidates=wide, dim=_FD_DIM, k=15,
    )
    exact = hybrid_topk(pros, clis, "tgt_custkey", "src_custkey", k=15)
    assert pairs(via_wide) == pairs(exact) and len(pairs(exact)) > 0

    cache = {}
    derived = projection_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", _FD_DIRECTION,
        window=None, min_window=128, window_cache=cache, cache_key="s1",
    )
    assert derived.count() > 0
    assert isinstance(cache.get("s1"), int) and cache["s1"] >= 128

    seeded = {"s2": 32}  # deliberately NOT the derived value
    hit = projection_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", _FD_DIRECTION,
        window=None, window_cache=seeded, cache_key="s2",
    )
    explicit = projection_window_candidates(
        pros, clis, "tgt_custkey", "src_custkey", _FD_DIRECTION,
        window=32,
    )
    assert pairs(hit) == pairs(explicit)
    assert seeded == {"s2": 32}


def test_fulldim_candidate_operators_handle_empty_sides(spark):
    """Empty prospect/client relations must flow through the
    general-dim candidate generator as empty outputs — no dim-probe
    crashes, no degenerate windows (same contract the 2-D paths pin)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_candidates,
    )

    schema = (
        "tgt_custkey long, vec array<double>, naics string, "
        "lat double, lon double"
    )
    empty_l = spark.createDataFrame([], schema)
    empty_r = spark.createDataFrame(
        [], schema.replace("tgt_custkey", "src_custkey")
    )
    full_r = spark.createDataFrame(
        [(i, [0.6, 0.1, 0.1, 0.1, 0.05, 0.0, 0.0, 0.0, 0.0],
          f"52{i:04d}", 1.0, 2.0) for i in range(1, 8)],
        schema.replace("tgt_custkey", "src_custkey"),
    )
    direction = [0.8] + [0.05] * 8
    assert projection_window_candidates(
        empty_l, full_r, "tgt_custkey", "src_custkey", direction
    ).count() == 0
    assert projection_window_candidates(
        empty_l, full_r, "tgt_custkey", "src_custkey", direction,
        window=None,  # empty-left derivation: floor window, no crash
    ).count() == 0
    full_l = spark.createDataFrame(
        [(10, [0.7, 0.1, 0.1, 0.1, 0.05, 0.0, 0.0, 0.0, 0.0],
          "520001", 1.0, 2.0)],
        schema,
    )
    assert projection_window_candidates(
        full_l, empty_r, "tgt_custkey", "src_custkey", direction
    ).count() == 0


def test_pruned_post_rank_threshold_nan_equivalence(spark):
    """Round-15 reorder pin: `hybrid_topk_pruned` now ranks FIRST
    (NaN sunk via nanvl(score, -inf) in the sort key) and applies the
    isnan/threshold guards AFTER the window — which must select
    exactly the filter-then-rank set the crossjoin oracle computes,
    including groups with NaN-scored pairs (NaN vec entries) and a
    binding nonzero threshold."""
    import math

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk_crossjoin,
        hybrid_topk_pruned,
    )

    def vec(i):
        if i % 9 == 4:  # NaN-poisoned vectors -> NaN scores
            return [float("nan"), 0.5]
        return [math.cos(0.1 + 1.1 * i / 80), math.sin(0.1 + 1.1 * i / 80)]

    rows = [
        (i, f"52{i % 3}1{i % 4}0", vec(i), float(i % 50), float(i % 80))
        for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    all_pairs = pros.select("tgt").crossJoin(clis.select("src"))
    for th in (-10.0, 0.0, 0.55, 0.8):
        got = hybrid_topk_pruned(
            pros, clis, "tgt", "src", k=5, threshold=th,
            candidates=all_pairs, dim=2,
        )
        want = hybrid_topk_crossjoin(
            pros, clis, "tgt", "src", k=5, threshold=th
        )
        a = {(r[0], r[1], r[2]) for r in got.collect()}
        b = {(r[0], r[1], r[2]) for r in want.collect()}
        assert a == b, th
    # the binding-threshold case actually bound (fewer than k rows in
    # some group) and NaN rows truly exist in the scored pairs
    assert clis.filter(F.isnan(F.element_at("vec", 1))).count() > 0


def test_warm_start_derivation_keeps_and_escalates(spark):
    """prev_window warm-start (optimization r15): when the previous
    snapshot's window still covers the corpus' measured need, the
    small-sample warm pass KEEPS it (warm_start=True, window ==
    prev); when prev is below the need (corpus drifted / bogus prev),
    the derivation ESCALATES to the full pass and returns exactly the
    cold full-sample window."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        derive_rank_window_stats,
    )

    pros, clis = _tie_heavy_sides(spark)
    cold = derive_rank_window_stats(
        pros, clis, "tgt", "src", k=5, threshold=-10.0
    )
    assert cold["window"] > 64  # the fixture defeats the floor

    kept = derive_rank_window_stats(
        pros, clis, "tgt", "src", k=5, threshold=-10.0,
        prev_window=cold["window"],
    )
    assert kept["warm_start"] is True
    assert kept["window"] == cold["window"]
    # the warm pass derived a window and it fits under prev
    assert kept["warm_window"] <= cold["window"]

    escalated = derive_rank_window_stats(
        pros, clis, "tgt", "src", k=5, threshold=-10.0,
        prev_window=64,
    )
    assert escalated["warm_start"] is False
    assert escalated["warm_window"] > 64  # the check that failed
    assert escalated["window"] == cold["window"]  # full pass reproduced


def test_warm_start_projection_index_threads_prev_window(spark):
    """projection_window_index(prev_window=yesterday's __w) builds at
    the kept window without re-paying the full calibration — the
    artifact's __w equals the cold-derived __w (nightly warm rebuild
    == cold rebuild, pytest-pinned at fixture scale)."""
    from pyspark.sql import functions as F

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        derive_projection_window_stats,
        projection_window_index,
    )

    pros, clis = _tie_heavy_sides(spark)
    direction = [0.6, 0.8]
    cold = derive_projection_window_stats(
        pros, clis, "tgt", "src", direction, k=5, threshold=-10.0
    )
    warm_index = projection_window_index(
        clis, "src", direction, window=None,
        calibration=pros, calibration_id="tgt",
        k=5, threshold=-10.0, prev_window=cold["window"],
    )
    got_w = warm_index.select(F.max("__w")).first()[0]
    assert got_w == cold["window"]
