"""A warm session compiles a plan once.

Spark keeps the classes whole-stage codegen generates in one JVM-wide
cache (``spark.sql.codegen.cache.maxEntries``).  One serving cycle over
a published projection-window artifact (insert, publish, compaction,
publish, batch probe) needs more than Spark's default 100 entries, so
at the default the second cycle evicts and recompiles the classes of
the first.  The session factory sizes the cache to the engine's working
set, and the second cycle compiles nothing."""

from __future__ import annotations

from prod_recommendation_pyspark_spark.session import CODEGEN_CACHE_ENTRIES
from tests.test_probe_manifest import SCHEMA, _index, _proj_rows


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_carries_the_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_serving_cycle_compiles_nothing(spark, tmp_path):
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_compact,
        rank_window_insert,
        serve_batch,
    )
    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
        read_published,
    )
    from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

    base = str(tmp_path / "artifact")
    rows = _proj_rows()
    prospects = [r for r in rows if r[0] % 4 == 0]
    # the arrivals of each cycle are held back from the build; every
    # frame is built from local rows, so both cycles run one plan shape
    pools = [[r for r in rows if r[0] % 8 == c] for c in (1, 3)]
    built = [r for r in rows if r[0] % 4 != 0 and r not in pools[0] + pools[1]]

    def frame(rows, id_col="src"):
        return spark.createDataFrame(rows, SCHEMA).withColumnRenamed("id", id_col)

    def ids(keys):
        return spark.createDataFrame([(k,) for k in keys], "src long")

    def publish(index, feats):
        publish_versioned(index, base, partition_by=["__lvl"],
                          companions={"features": feats})

    def read():
        v = latest_published_version(spark, base)
        return (read_published(spark, base, version=v),
                read_published(spark, base, version=v, companion="features"))

    def cycle(arrived, deleted):
        index, feats = read()
        arrivals = frame(arrived)
        publish(rank_window_insert(index, arrivals, "src"),
                feats.unionByName(arrivals))
        index, feats = read()
        tombs = ids(deleted)
        publish(rank_window_compact(index, tombs),
                feats.join(tombs, "src", "left_anti"))
        index, feats = read()
        # a corpus size the cost rule sends to the probe route
        return serve_batch(
            frame(prospects, "tgt"), index, feats, "tgt", "src",
            n_right=10**6, tombstones=ids([-1]),
        ).collect()

    publish(_index(frame(built), "projection", 8), frame(built))
    first = cycle(pools[0], [built[0][0], built[1][0]])
    before = _compiles(spark)
    second = cycle(pools[1], [built[2][0], built[3][0]])
    assert first and second
    assert _compiles(spark) - before == 0
