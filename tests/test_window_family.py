"""The window-index family's projection key checks vector dims.

Without a check, a projection direction whose length differs from the
vectors' dim builds silently: ``element_at`` past the end is NULL with
ANSI off, so a too-long direction keys every row NULL and a too-short
one ranks by a partial projection.  ``_projection_key`` raises inside
the plan on every path that computes a key: the index build, the batch
candidate generator and an insert of arrivals of another dim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

GOOD = [0.6, 0.3, 0.1]
BAD = {"too long": [0.6, 0.2, 0.1, 0.07, 0.03], "too short": [0.7, 0.3]}


def _sides(spark, dim=3, n=60):
    rows = [
        (
            i,
            f"52{i % 3}1{i % 4}0",
            [float((i * 7 + d * 13) % 29) / 29.0 for d in range(dim)],
            float(i % 50),
            float(i % 80),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    return pros, clis


@pytest.mark.parametrize("case", sorted(BAD))
def test_projection_key_rejects_direction_of_another_dim(spark, case):
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_candidates,
        projection_window_index,
    )

    pros, clis = _sides(spark)
    direction = BAD[case]
    msg = f"dim=3, the direction has {len(direction)} components"
    with pytest.raises(Exception, match=msg):
        projection_window_index(clis, "src", direction, window=8).count()
    with pytest.raises(Exception, match=msg):
        projection_window_candidates(
            pros, clis, "tgt", "src", direction, window=8
        ).count()
    # the matching direction builds: one key per (client, arm), none NULL
    index = projection_window_index(clis, "src", GOOD, window=8)
    assert index.count() == clis.count() * 7
    assert index.filter(F.col("__v1n").isNull()).count() == 0


@pytest.mark.parametrize("arrival_dim", [2, 5])
def test_insert_rejects_arrivals_of_another_dim(spark, arrival_dim):
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        rank_window_insert,
    )

    _, clis = _sides(spark)
    index = projection_window_index(clis, "src", GOOD, window=8)
    _, odd = _sides(spark, dim=arrival_dim, n=80)
    arrivals = odd.filter(F.col("src") >= 60)
    with pytest.raises(Exception, match=f"dim={arrival_dim}, the direction"):
        rank_window_insert(index, arrivals, "src").count()
