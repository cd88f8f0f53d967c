"""The blocked top-K kernel ``cosine_topk`` and ``hybrid_topk`` share.

First half: ``hybrid_topk`` equals its declarative twin
``hybrid_topk_crossjoin`` pair for pair (the cosine side has
``test_similarity.py::test_kernel_equals_crossjoin`` and the NaN-parity
test) on the edges of its scorer: malformed and NULL NAICS codes, NULL
coordinates, a NaN vector component, ties cut by the top-k boundary and
a threshold that drops pairs.  The vectors are dyadic (components 0,
±0.5, 1), so every dot product is exact and tied rows tie bit for bit
in both paths.  A NaN coordinate is missing geo on the kernel, the
crossjoin and the probe route's scorer alike.

Second half: the plan-build jobs of the grid planner.  A side is probed
only when its own split count is free, so each pinned count saves
exactly one side's probe jobs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.hybrid import (
    DEFAULT_W_HAVS,
    DEFAULT_W_HOPS,
    _score_topk,
    hybrid_topk,
    hybrid_topk_crossjoin,
)
from prod_recommendation_pyspark_spark.operators.similarity import cosine_topk
from tests.test_probe_manifest import _jobs_during

SCHEMA = "id long, naics string, vec array<double>, lat double, lon double"
NAN = float("nan")
E1, E2, E3 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]
H1, H2 = [0.5, 0.5, 0.5, 0.5], [0.5, -0.5, 0.5, -0.5]

#: prospects: one per edge case of the scorer
LEFT = [
    (1, "521110", E1, 40.0, -70.0),
    (2, "5211", H1, 41.0, -71.0),        # malformed: short code
    (3, None, E2, 42.0, -72.0),          # NULL code
    (4, "522110", H2, None, -73.0),      # NULL latitude
    (5, "521120", [NAN, 0.0, 0.0, 1.0], 44.0, -74.0),  # NaN component
    (6, "5211234", E3, 45.0, None),      # malformed: 7 chars; NULL lon
]
#: clients: 102-104 are one row under three ids (a three-way tie that
#: k=3 cuts after two), 111/112 tie through NULL coordinates
RIGHT = [
    (101, "521110", E1, 40.0, -70.0),
    (102, "521120", E1, 41.0, -71.0),
    (103, "521120", E1, 41.0, -71.0),
    (104, "521120", E1, 41.0, -71.0),
    (105, "522110", H1, 43.0, -75.0),
    (106, None, H2, 39.0, -69.0),
    (107, "52", E2, 38.0, -68.0),
    (108, "521110", [0.0, 0.0, NAN, 1.0], 40.0, -70.0),
    (109, "999999", E3, 30.0, -90.0),
    (110, "521111", H1, 47.0, -122.0),
    (111, "522120", H2, None, None),
    (112, "522120", H2, None, None),
    (113, "521110", E2, 40.5, -70.5),
]
K, THRESHOLD = 3, 0.3


def _sides(spark):
    left = spark.createDataFrame(LEFT, SCHEMA).withColumnRenamed("id", "tgt")
    right = spark.createDataFrame(RIGHT, SCHEMA).withColumnRenamed("id", "src")
    return left, right


def _scored(df):
    return sorted(
        (r["tgt"], r["src"], round(r["score"], 9)) for r in df.collect()
    )


def test_fixture_reaches_every_edge(spark):
    """The cases the parity test claims are really exercised: a tie
    straddles the k boundary, the threshold drops pairs a top-k would
    keep, and the NaN rows score nothing."""
    left, right = _sides(spark)
    every = _scored(hybrid_topk_crossjoin(
        left, right, "tgt", "src", k=100, threshold=-10.0
    ))
    by_tgt: dict[int, list[float]] = {}
    for t, _, s in every:
        by_tgt.setdefault(t, []).append(s)
    ranked = {t: sorted(v, reverse=True) for t, v in by_tgt.items()}
    assert any(v[K - 1] == v[K] for v in ranked.values() if len(v) > K)
    assert any(
        v[K - 1] < THRESHOLD for v in ranked.values() if len(v) >= K
    )
    assert 5 not in ranked
    assert not any(src == 108 for _, src, _ in every)


@pytest.mark.parametrize("n_blocks", [1, 3])
def test_hybrid_kernel_equals_crossjoin(spark, n_blocks):
    left, right = _sides(spark)
    kw = dict(k=K, threshold=THRESHOLD)
    kern = hybrid_topk(left, right, "tgt", "src", n_blocks=n_blocks, **kw)
    base = hybrid_topk_crossjoin(left, right, "tgt", "src", **kw)
    got = _scored(kern)
    assert got and got == _scored(base)


def test_nan_coordinate_is_missing_geo_on_every_route(spark):
    """A NaN latitude scores as missing geo (haversine 0.5) on the
    kernel, on the crossjoin and on the probe route's scorer, so all
    three keep both pairs."""
    left = spark.createDataFrame(
        [(1, "521110", E1, NAN, -70.0)], SCHEMA
    ).withColumnRenamed("id", "tgt")
    right = spark.createDataFrame(
        [(101, "521110", E1, 40.0, -70.0), (102, "521199", E2, None, None)],
        SCHEMA,
    ).withColumnRenamed("id", "src")
    pairs = left.select("tgt").crossJoin(right.select("src"))
    kern = _scored(hybrid_topk(left, right, "tgt", "src"))
    cross = _scored(hybrid_topk_crossjoin(left, right, "tgt", "src"))
    probe = _scored(_score_topk(
        left, right, pairs, "tgt", "src", "vec", "naics", "lat", "lon",
        k=15, threshold=0.0, w_hops=DEFAULT_W_HOPS, w_havs=DEFAULT_W_HAVS,
        dim=4, broadcast_sides=False,
    ))
    assert kern == cross == probe == [(1, 101, 0.9995), (1, 102, 0.2399)]


def test_hybrid_topk_rejects_a_shared_id_column(spark):
    left, right = _sides(spark)
    with pytest.raises(ValueError, match="'id' and right_id 'id'"):
        hybrid_topk(left.withColumnRenamed("tgt", "id"),
                    right.withColumnRenamed("src", "id"), "id", "id")


# ---------------------------------------------------------------------
# plan-build jobs of the grid planner


def _probe_sides(spark):
    rows = [
        (i, f"52{i % 3}1{i % 4}0",
         [float((i * 7 + d * 13) % 29) / 29.0 for d in range(4)],
         float(i % 50), float(i % 80))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    return (df.filter(F.col("id") % 2 == 0).withColumnRenamed("id", "tgt"),
            df.filter(F.col("id") % 2 == 1).withColumnRenamed("id", "src"))


def test_hybrid_planner_probes_only_the_free_sides(spark):
    left, right = _probe_sides(spark)

    def jobs(tag, **pin):
        _, n = _jobs_during(
            spark, lambda: hybrid_topk(left, right, "tgt", "src", k=5, **pin),
            f"hybrid-plan-{tag}",
        )
        return n

    auto = jobs("auto")
    assert auto > 0
    assert jobs("chunks", n_left_chunks=1) * 2 == auto  # right probe only
    assert jobs("blocks", n_blocks=2) * 2 == auto  # left probe only
    assert jobs("both", n_blocks=2, n_left_chunks=1) == 0


def test_cosine_planner_probes_only_the_free_sides(spark):
    left, right = _probe_sides(spark)

    def jobs(tag, **pin):
        _, n = _jobs_during(
            spark, lambda: cosine_topk(left, right, "tgt", "src", k=5, **pin),
            f"cosine-plan-{tag}",
        )
        return n

    auto = jobs("auto")
    assert auto > 0
    assert jobs("blocks", n_blocks=2) * 2 == auto  # left probe only
