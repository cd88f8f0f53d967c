"""Projection-window SERVING artifact (round-13 verdict #2): the
general-dim peer search gets the same nightly index / intraday probe /
CRUD lifecycle the 2-D rank-window artifact has — same machinery
(`_window_key(vec_col, direction)`, `_distributed_rank`,
`_projection_probe_resolved`), with the projection DIRECTION stamped as ``__dir`` metadata next to the
``__w`` window so a probe/insert/compact can never silently use a
different key than the corpus was ranked by.

Also pins the kernel-vs-window DISPATCH rule (round-13 verdict #1):
`projection_window_wins` routes the production full-dim query to the
exact blocked kernel when the derived window's predicted candidate
volume is no longer a real prune (measured 636 s window vs 51 s kernel
at sf1 on uniform data — SCALE.md round-13)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DIRECTION = [0.6, 0.2, 0.1, 0.07, 0.03]


def _pw_fixture(spark):
    def naics(i):
        if i % 11 == 0:
            return None  # malformed arm must survive the lifecycle too
        return f"52{i % 3}1{i % 4}0"

    rows = [
        (
            i,
            naics(i),
            [float((i * 7 + d * 13) % 29) / 29.0 for d in range(5)],
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
    tombs = clis.filter(F.col("src") % 5 == 1).select("src")
    return pros, clis, tombs


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_projection_probe_equals_batch_candidates(spark):
    """Index/probe split ≡ the batch candidate generator at the same
    window, on GENERAL-dim vectors — including batch-split invariance
    (two probe batches union to the one-shot batch result) and the
    metadata defaults (probe reads __w AND __dir off the artifact)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_candidates,
        projection_window_index,
        projection_window_probe,
    )

    pros, clis, _ = _pw_fixture(spark)
    batch = projection_window_candidates(
        pros, clis, "tgt", "src", DIRECTION, window=8
    )
    index = projection_window_index(
        clis, "src", DIRECTION, window=8
    ).localCheckpoint()
    assert index.select("__dir").distinct().count() == 1
    b0 = pros.filter(F.col("tgt") % 3 == 0)
    b1 = pros.filter(F.col("tgt") % 3 != 0)
    probed = projection_window_probe(
        b0, index, "tgt", "src"
    ).unionByName(projection_window_probe(b1, index, "tgt", "src"))
    assert _pairs(probed) == _pairs(batch)
    assert batch.count() > 0


def test_projection_metadata_guards(spark):
    """Mismatched or wrong-family probes raise LOUDLY: a projection
    probe with a different direction, a 2-D probe against a projection
    artifact, a projection probe against a 2-D artifact, and a
    mixed-direction artifact (two builds unioned)."""
    import math

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        projection_window_probe,
        rank_window_index,
        rank_window_probe,
    )

    pros, clis, _ = _pw_fixture(spark)
    index = projection_window_index(
        clis, "src", DIRECTION, window=8
    ).localCheckpoint()
    with pytest.raises(ValueError, match="does not match"):
        projection_window_probe(
            pros, index, "tgt", "src", direction=[1.0, 0.0, 0.0, 0.0, 0.0]
        )
    with pytest.raises(ValueError, match="projection_window_probe"):
        rank_window_probe(pros, index, "tgt", "src")
    mixed = index.unionByName(
        projection_window_index(
            clis, "src", [1.0, 0.0, 0.0, 0.0, 0.0], window=8
        )
    )
    with pytest.raises(ValueError, match="MIXED projection directions"):
        projection_window_probe(pros, mixed, "tgt", "src")

    rows2 = [
        (
            i,
            f"52{i % 3}1{i % 4}0",
            [math.cos(0.1 + 1.3 * i / 60), math.sin(0.1 + 1.3 * i / 60)],
            float(i % 50),
            float(i % 80),
        )
        for i in range(60)
    ]
    df2 = spark.createDataFrame(
        rows2, "src long, naics string, vec array<double>, lat double, lon double"
    )
    idx2d = rank_window_index(df2, "src", window=8)
    with pytest.raises(ValueError, match="rank_window_probe"):
        projection_window_probe(pros, idx2d, "tgt", "src")


def test_projection_insert_compact_equal_rebuild(spark):
    """The CRUD cells dispatch on the artifact's metadata:
    rank_window_insert on a __dir artifact keys the ARRIVALS with the
    stored projection (insert ≡ rebuild, intra-batch duplicates
    dropped), and rank_window_compact re-ranks stored keys and
    re-stamps __dir (compact ≡ rebuild-minus-deleted)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        rank_window_compact,
        rank_window_insert,
    )

    _, clis, tombs = _pw_fixture(spark)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w", "__dir"]
    key = lambda df: {tuple(r) for r in df.select(*cols).collect()}  # noqa: E731

    old = clis.filter(F.col("src") % 6 != 5)
    arrivals = clis.filter(F.col("src") % 6 == 5)
    index = projection_window_index(old, "src", DIRECTION, window=8)
    # same new id twice in one arrival frame: inserts exactly once
    grown = rank_window_insert(
        index, arrivals.unionByName(arrivals.limit(2)), "src"
    )
    rebuilt = projection_window_index(clis, "src", DIRECTION, window=8)
    assert key(grown) == key(rebuilt)
    assert arrivals.count() > 0

    full = projection_window_index(clis, "src", DIRECTION, window=8)
    compacted = rank_window_compact(full, tombs)
    kept = clis.join(F.broadcast(tombs), "src", "left_anti")
    rebuilt_minus = projection_window_index(kept, "src", DIRECTION, window=8)
    assert key(compacted) == key(rebuilt_minus)
    assert tombs.count() > 0


def test_projection_tombstone_probe(spark):
    """Tombstoned serving between rebuilds: the probe equals the
    un-tombstoned probe minus the deleted clients' pairs, and no
    deleted id ever surfaces."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        projection_window_probe,
    )

    pros, clis, tombs = _pw_fixture(spark)
    index = projection_window_index(
        clis, "src", DIRECTION, window=8
    ).localCheckpoint()
    plain = _pairs(projection_window_probe(pros, index, "tgt", "src"))
    tombed = _pairs(
        projection_window_probe(
            pros, index, "tgt", "src", tombstones=tombs
        )
    )
    dead = {r["src"] for r in tombs.collect()}
    assert tombed == {(t, s) for (t, s) in plain if s not in dead}
    assert len(tombed) < len(plain)


def test_projection_window_dispatch_rule(spark):
    """The kernel-vs-window cost rule and its derivation feed:
    (a) `projection_window_wins` boundaries at the measured cost
    ratio; (b) `derive_projection_window_stats` lands a ladder window
    covering 2× the sampled max-need on general-dim vectors."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        PROJECTION_WINDOW_COST_RATIO,
        RANK_WINDOW_LADDER,
        derive_projection_window_stats,
        projection_window_wins,
    )

    # (code_len+1)·2·w·ratio = 7·2·512·32 = 229,376: a 13.5k-client
    # corpus (sf0.1) is far below it -> kernel; a 1M-client corpus
    # with a small derived window (64 -> 28,672) -> window path
    assert projection_window_wins(512, 13_500) is False
    assert projection_window_wins(64, 1_000_000) is True
    # exact boundary is NOT a win (strict less)
    edge = 7 * 2 * 64 * PROJECTION_WINDOW_COST_RATIO
    assert projection_window_wins(64, edge) is False
    assert projection_window_wins(64, edge + 1) is True

    pros, clis, _ = _pw_fixture(spark)
    stats = derive_projection_window_stats(
        pros, clis, "tgt", "src", DIRECTION, sample_mod=4, min_window=64
    )
    assert stats["window"] in RANK_WINDOW_LADDER
    assert stats["n_sampled"] >= 8
    assert stats["window"] >= max(64, 2 * (stats["max_needed"] or 0))


def test_emptied_projection_artifact_compact_insert_graceful(spark):
    """Round-15 advice pin: an EMPTIED __dir artifact (every client
    tombstoned) must not brick the CRUD cells.  (a) compact degrades
    gracefully — empty result, family (__dir column) preserved;
    (b) insert into the emptied artifact accepts a caller-supplied
    fallback direction and re-seeds it equal to a fresh build;
    (c) insert WITHOUT the fallback raises an error naming
    rank_window_insert (not the probe)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        rank_window_compact,
        rank_window_insert,
    )

    _, clis, _ = _pw_fixture(spark)
    # build at 64 = the empty-index default window: metadata rides
    # rows, so a fully-emptied artifact genuinely loses its stored
    # __w/__dir and re-seeding falls back to the defaults + the
    # caller-supplied direction
    index = projection_window_index(clis, "src", DIRECTION, window=64)
    all_tombs = clis.select("src")
    emptied = rank_window_compact(index, all_tombs)
    assert emptied.count() == 0
    assert "__dir" in emptied.columns  # family survives the emptying

    arrivals = clis.filter(F.col("src") % 3 == 0)
    with pytest.raises(ValueError, match="rank_window_insert"):
        rank_window_insert(emptied, arrivals, "src")
    reseeded = rank_window_insert(
        emptied, arrivals, "src", direction=DIRECTION
    )
    rebuilt = projection_window_index(arrivals, "src", DIRECTION, window=64)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w", "__dir"]
    got = {tuple(r) for r in reseeded.select(*cols).collect()}
    want = {tuple(r) for r in rebuilt.select(*cols).collect()}
    assert got == want


def test_serving_probe_vs_kernel_dispatch_rule():
    """Round-14 verdict #1 pin, re-pinned round 16 on the ROTATED
    round-15 throughput constants (VERDICT r15 task #1):
    `serving_probe_wins` reproduces BOTH measured decade verdicts from
    the recorded throughputs (SCALE.md round-15 re-measure) — probe
    wins at the sf1 geometry (window 4096, 135k clients: 23.5s vs
    ~77s) AND now at the sf10 geometry too (window 16384, 1.35M
    clients: 172.5s vs kernel ≈239s; the r14 constants mis-routed this
    one to the kernel) — and behaves sanely around them."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        serving_cost_ratio,
        serving_probe_wins,
    )

    # the two measured geometries, exactly
    assert serving_probe_wins(4096, 135_000) is True
    assert serving_probe_wins(16384, 1_350_000) is True
    # batch size cancels (both costs are linear in it)
    assert serving_probe_wins(4096, 135_000, n_batch=1000) is True
    assert serving_probe_wins(16384, 1_350_000, n_batch=1000) is True
    # clustered corpora (small derived windows) keep the artifact
    # even at decade scale; oversized windows (the probe predicted to
    # fetch MORE pairs than the kernel scores) still lose
    assert serving_probe_wins(512, 1_350_000) is True
    assert serving_probe_wins(16384, 135_000) is False
    # ratio endpoints match the measured throughput quotients and the
    # interpolation is monotone between the decades
    assert abs(serving_cost_ratio(135_000) - 1.753e6 / 2.438e6) < 1e-9
    assert abs(serving_cost_ratio(1_350_000) - 5.649e6 / 1.330e6) < 1e-9
    assert serving_cost_ratio(1_000) == serving_cost_ratio(135_000)
    assert serving_cost_ratio(10**9) == serving_cost_ratio(1_350_000)
    mids = [serving_cost_ratio(n) for n in (200_000, 400_000, 800_000)]
    assert mids == sorted(mids)
    assert serving_cost_ratio(135_000) < mids[0] < mids[-1]
    assert mids[-1] < serving_cost_ratio(1_350_000)


def test_serve_batch_routes_agree(spark):
    """`serve_batch` answers the same batch identically through BOTH
    routes (probe+re-rank vs exact kernel) when the window covers the
    true top-k — forced via n_right on the fixture (tiny corpus →
    kernel; huge claimed corpus at small window → probe) — and both
    equal the bare exact kernel.  Also: tombstoned clients never
    surface on either route."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk,
        projection_window_index,
        serve_batch,
    )

    pros, clis, tombs = _pw_fixture(spark)
    batch = pros.filter(F.col("tgt") % 3 == 0)
    index = projection_window_index(
        clis, "src", DIRECTION, window=64
    ).localCheckpoint()
    kw = dict(vec_col="vec", naics_col="naics", lat_col="lat",
              lon_col="lon", k=5, threshold=0.0)

    def key(df):
        return {
            (r["tgt"], r["src"], round(r["score"], 9)) for r in df.collect()
        }

    want = key(hybrid_topk(batch, clis, "tgt", "src", **kw))
    # n_right=90 (true corpus) -> clamped ratio ~1.02, 14*64*1.02 > 90
    # -> KERNEL route; n_right=10M with window 64 -> probe route
    via_kernel = key(serve_batch(batch, index, clis, "tgt", "src",
                                 n_right=clis.count(), **kw))
    via_probe = key(serve_batch(batch, index, clis, "tgt", "src",
                                n_right=10_000_000, **kw))
    assert via_kernel == want
    assert via_probe == want
    # tombstones honored on both routes
    dead = {r["src"] for r in tombs.collect()}
    for forced in (clis.count(), 10_000_000):
        got = serve_batch(batch, index, clis, "tgt", "src",
                          n_right=forced, tombstones=tombs, **kw)
        assert not ({r["src"] for r in got.collect()} & dead)
