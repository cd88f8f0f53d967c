"""Serving off a version manifest, and the one-exchange probe body.

``publish_versioned`` records each version's build metadata (``__w``,
``__dir``), schemas and artifact row count in ``_manifest.json``;
``read_published`` reads with the stored schema and attaches the
manifest to the frame it returns, so a probe of that frame launches no
metadata or dim guard job.  Every other frame keeps the aggregate
guards.  The second half pins ``_probe_fetch`` (block starts →
straddling block → one fetch → insertion count after the exchange)
against the batch candidate generators on the edge cases of its
arithmetic."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

DIRECTION = [0.6, 0.2, 0.1, 0.07, 0.03]
SCHEMA = "id long, naics string, vec array<double>, lat double, lon double"


def _naics(i):
    if i % 11 == 0:
        return None  # malformed arm
    return f"52{i % 3}1{i % 4}0"


def _rank_rows():
    return [
        (i, _naics(i),
         [math.cos(0.1 + 1.3 * i / 90), math.sin(0.1 + 1.3 * i / 90)],
         float(i % 50), float(i % 80))
        for i in range(90)
    ]


def _proj_rows():
    return [
        (i, _naics(i), [float((i * 7 + d * 13) % 29) / 29.0 for d in range(5)],
         float(i % 50), float(i % 80))
        for i in range(120)
    ]


def _sides(spark, family):
    rows = _rank_rows() if family == "rank" else _proj_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    tombs = clis.filter(F.col("src") % 5 == 1).select("src")
    return pros, clis, tombs


def _index(clis, family, window):
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_index,
        rank_window_index,
    )

    if family == "rank":
        return rank_window_index(clis, "src", window=window)
    return projection_window_index(clis, "src", DIRECTION, window=window)


def _publish(spark, base, index, clis):
    from prod_recommendation_pyspark_spark.sources.readers import read_published
    from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

    v = publish_versioned(
        index, base, partition_by=["__lvl"], companions={"features": clis}
    )
    return (read_published(spark, base, version=v),
            read_published(spark, base, version=v, companion="features"))


def _jobs_during(spark, fn, group):
    """(fn(), number of Spark jobs fn launched) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _scored(df):
    return sorted(
        (r["tgt"], r["src"], round(r["score"], 9)) for r in df.collect()
    )


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


# ---------------------------------------------------------------------
# manifest


@pytest.mark.parametrize("family", ["rank", "projection"])
def test_published_probe_launches_no_guard_jobs(spark, tmp_path, family):
    """A serve_batch probe of a published read runs no job before its
    action (no metadata agg, no limit-1 dim probe), the read itself runs
    no schema-inference job, and the answer equals the same probe on
    the in-memory artifact, which pays the guards."""
    from prod_recommendation_pyspark_spark.operators.hybrid import serve_batch
    from prod_recommendation_pyspark_spark.sources.readers import (
        MANIFEST_NAME,
        published_manifest,
        read_published,
    )

    pros, clis, tombs = _sides(spark, family)
    index = _index(clis, family, 8).localCheckpoint()
    base = str(tmp_path / "artifact")
    pub_index, pub_feats = _publish(spark, base, index, clis)
    (_, _), read_jobs = _jobs_during(
        spark,
        lambda: (read_published(spark, base),
                 read_published(spark, base, companion="features")),
        f"read-{family}",
    )
    assert read_jobs == 0
    version = os.path.join(base, "__v=1")
    assert pub_index.schema == spark.read.parquet(version).schema
    assert pub_feats.schema == spark.read.parquet(
        os.path.join(version, "__companion_features")
    ).schema
    with open(os.path.join(version, MANIFEST_NAME)) as fh:
        assert json.load(fh)["rows"] == index.count()
    m = published_manifest(pub_index)
    assert m["meta"]["__w"] == 8
    if family == "projection":
        assert m["meta"]["__dir"] == index.first()["__dir"]

    kw = dict(k=5, threshold=0.0, n_right=10_000_000, tombstones=tombs)
    published, probe_jobs = _jobs_during(
        spark,
        lambda: serve_batch(pros, pub_index, pub_feats, "tgt", "src", **kw),
        f"probe-{family}",
    )
    assert probe_jobs == 0
    in_memory, guard_jobs = _jobs_during(
        spark,
        lambda: serve_batch(pros, index, clis, "tgt", "src", **kw),
        f"guarded-{family}",
    )
    assert guard_jobs > 0
    got = _scored(published)
    assert got and got == _scored(in_memory)


def test_unmanifested_or_transformed_frames_keep_the_guards(spark, tmp_path):
    """A version published before manifests existed, and a transformed
    (``.filter()``ed) published frame, carry no manifest: the probe
    falls back to the aggregate guards and still answers the same."""
    from prod_recommendation_pyspark_spark.operators.hybrid import serve_batch
    from prod_recommendation_pyspark_spark.sources.readers import (
        MANIFEST_NAME,
        published_manifest,
        read_published,
    )

    pros, clis, _ = _sides(spark, "projection")
    index = _index(clis, "projection", 8).localCheckpoint()
    base = str(tmp_path / "artifact")
    pub_index, pub_feats = _publish(spark, base, index, clis)
    filtered = pub_index.filter(F.col("__lvl") >= -1)
    assert published_manifest(filtered) is None
    os.remove(os.path.join(base, "__v=1", MANIFEST_NAME))
    legacy = read_published(spark, base)
    assert published_manifest(legacy) is None
    assert legacy.schema == pub_index.schema

    kw = dict(k=5, threshold=0.0, n_right=10_000_000)
    want = _scored(serve_batch(pros, pub_index, pub_feats, "tgt", "src", **kw))
    for name, frame in (("legacy", legacy), ("filtered", filtered)):
        out, jobs = _jobs_during(
            spark,
            lambda frame=frame: serve_batch(pros, frame, clis, "tgt", "src", **kw),
            f"fallback-{name}",
        )
        assert jobs > 0, name
        assert _scored(out) == want, name


def test_publish_mixed_window_union_raises_before_claim(spark, tmp_path):
    """Publishing a frame that holds two builds raises at publish, and
    nothing becomes visible: no ``__v=N`` and no staging left behind."""
    from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

    _, clis, _ = _sides(spark, "rank")
    mixed = _index(clis, "rank", 8).unionByName(_index(clis, "rank", 16))
    base = str(tmp_path / "artifact")
    with pytest.raises(ValueError, match="MIXED"):
        publish_versioned(mixed, base, partition_by=["__lvl"])
    assert not [d for d in os.listdir(base) if d.startswith("__v=")]
    assert not [d for d in os.listdir(base) if d.startswith(".__staging_")]


@pytest.mark.parametrize("published", [True, False])
def test_serving_rerank_checks_dims_in_the_plan(spark, tmp_path, published):
    """The serving re-rank checks vector dims inside its plan, off a
    published artifact and an in-memory one alike: a batch of another
    dim raises at the action."""
    from prod_recommendation_pyspark_spark.operators.hybrid import serve_batch

    pros, clis, _ = _sides(spark, "projection")
    index = _index(clis, "projection", 8)
    feats = clis
    if published:
        index, feats = _publish(spark, str(tmp_path / "artifact"), index, clis)
    bad = pros.withColumn("vec", F.concat("vec", F.array(F.lit(0.5))))
    out = serve_batch(bad, index, feats, "tgt", "src", k=5, n_right=10_000_000)
    with pytest.raises(Exception, match="dim=6"):
        out.collect()


# ---------------------------------------------------------------------
# the probe body against the batch candidate generators


def _edge_prospects(spark, family, pros, clis, index, window):
    """The fixture's prospects plus (a) one whose key precedes every
    client's in every arm (no straddling block) and (b) one that ties
    the last block start of the global arm on (key, id)."""
    last_start = (
        index.filter((F.col("__lvl") == 0) & ((F.col("__cpos") - 1) % window == 0))
        .orderBy(F.col("__cpos").desc())
        .first()["__rid"]
    )
    twin = clis.filter(F.col("src") == last_start).withColumnRenamed("src", "tgt")
    low = [1.0, 0.0] if family == "rank" else [-1.0] * 5
    first = spark.createDataFrame([(1000, "520100", low, 0.0, 0.0)], SCHEMA)
    return pros.unionByName(twin).unionByName(first.withColumnRenamed("id", "tgt"))


@pytest.mark.parametrize("family", ["rank", "projection"])
@pytest.mark.parametrize("window", [4, 128])
def test_probe_fetch_matches_batch_candidates(spark, family, window):
    """Probe ≡ batch candidates at the build window, with and without
    tombstones, including a prospect before every client, a prospect
    tying a block start on (key, id) and windows wider than every arm
    (128 here)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        projection_window_candidates,
        projection_window_probe,
        rank_window_candidates,
        rank_window_probe,
    )

    pros, clis, tombs = _sides(spark, family)
    index = _index(clis, family, window).localCheckpoint()
    pros = _edge_prospects(spark, family, pros, clis, index, window)
    if family == "rank":
        batch = rank_window_candidates(pros, clis, "tgt", "src", window=window)
        probe = rank_window_probe
    else:
        batch = projection_window_candidates(
            pros, clis, "tgt", "src", DIRECTION, window=window
        )
        probe = projection_window_probe
    want = _pairs(batch)
    got = _pairs(probe(pros, index, "tgt", "src"))
    assert got == want
    assert {p for p in got if p[0] == 1000}, "edge prospect fetched nothing"
    dead = {r["src"] for r in tombs.collect()}
    tombed = _pairs(probe(pros, index, "tgt", "src", tombstones=tombs))
    assert tombed == {p for p in want if p[1] not in dead}
    assert len(tombed) < len(want)
