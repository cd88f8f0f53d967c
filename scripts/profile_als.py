"""Stage-level breakdown of the ``als_recommend_topn`` bench row
(round 15): where do its ~10-13 s go — the ratings prep, the MLlib
``fit`` (iterative, 5 iterations), or ``recommendForAllUsers`` (the
blockify users × items GEMM + top-N)?  Then A/B the RESULT-INVARIANT
knobs only:

- ``intermediateStorageLevel`` / ``finalStorageLevel`` (storage of the
  factor RDDs between iterations — never changes the factorization);
- ``ALSModel.blockSize`` for ``recommendForAllUsers`` (GEMM batch
  size; exact top-N either way).

Model-CHANGING knobs (rank, iters, reg, seed, num_blocks) are out of
scope: ``als_recommend_topn`` is rows-only but its companion contract
and the temporal-hitrate contract pin the trained model's behavior.

Usage: python scripts/profile_als.py [sf_dir] [mode] [warmup_sf_dir]
  mode: breakdown (default) | storage | blocksize
  warmup_sf_dir: the fixture warmed up on (default: the sf0.001
  sibling of sf_dir)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.queries.recommender import _usage
from prod_recommendation_pyspark_spark.recommender.als import (
    ALSConfig,
    _auto_blocks,
    recommend_topn,
    train_als,
)
from prod_recommendation_pyspark_spark.recommender.ratings import (
    accumulated_volume,
    dense_id_ratings,
    percent_rank_ratings,
)
from prod_recommendation_pyspark_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
MODE = sys.argv[2] if len(sys.argv) > 2 else "breakdown"
# warmup fixture: third argument, defaulting to the sf0.001 sibling of SF
WARMUP = (sys.argv[3] if len(sys.argv) > 3
          else os.path.join(os.path.dirname(SF.rstrip("/")), "sf0.001"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(app_name="profile_als")
    sc = spark.sparkContext

    # warmup: worker pool + the full query once at sf0.001, matching
    # bench.py's warmup round (codegen + MLlib init paid up front)
    par = sc.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(
        lambda it: it, "id long"
    ).count()
    from prod_recommendation_pyspark_spark.queries import QUERIES

    QUERIES["als_recommend_topn"](spark, WARMUP).count()
    spark.catalog.clearCache()

    t_all = time.monotonic()
    sc.setJobDescription("als: prep (usage -> ratings -> dense ids)")
    t0 = time.monotonic()
    usage = _usage(spark, SF)
    rated = percent_rank_ratings(usage, "custkey", "partkey", "quantity")
    acc = accumulated_volume(
        rated, "custkey", "partkey", "rating", out_col="acc"
    ).persist()
    als_input, user_map, item_map = dense_id_ratings(
        acc, "custkey", "partkey", "acc"
    )
    als_input = als_input.cache()
    n = als_input.count()
    t_prep = time.monotonic() - t0
    print(f"prep: {t_prep:.2f}s  ratings={n}", flush=True)

    if MODE == "breakdown":
        sc.setJobDescription("als: fit")
        t0 = time.monotonic()
        model = train_als(als_input, ALSConfig())
        # fit() returns after the last iteration's job chain; factors
        # are lazy-ish — force them so recommend isn't charged for fit
        model.userFactors.write.format("noop").mode("overwrite").save()
        model.itemFactors.write.format("noop").mode("overwrite").save()
        t_fit = time.monotonic() - t0
        nu = model.userFactors.count()
        ni = model.itemFactors.count()
        print(f"fit: {t_fit:.2f}s  users={nu} items={ni}", flush=True)

        sc.setJobDescription("als: recommendForAllUsers(10) + maps")
        t0 = time.monotonic()
        recs = recommend_topn(model, 10, user_map, item_map)
        cnt = recs.count()
        t_rec = time.monotonic() - t0
        print(f"recommend: {t_rec:.2f}s  rows={cnt}", flush=True)
        print(
            f"TOTAL {time.monotonic() - t_all:.2f}s  "
            f"(prep {t_prep:.1f} fit {t_fit:.1f} rec {t_rec:.1f})",
            flush=True,
        )

    elif MODE == "storage":
        from pyspark.ml.recommendation import ALS

        cfg = ALSConfig()
        blocks = cfg.num_blocks or _auto_blocks(als_input, cfg)
        for inter, final in [
            ("MEMORY_AND_DISK", "MEMORY_AND_DISK"),  # MLlib default
            ("MEMORY_ONLY", "MEMORY_ONLY"),
        ]:
            t0 = time.monotonic()
            als = ALS(
                rank=cfg.rank, maxIter=cfg.max_iter, regParam=cfg.reg_param,
                implicitPrefs=cfg.implicit_prefs, nonnegative=cfg.nonnegative,
                coldStartStrategy=cfg.cold_start, seed=cfg.seed,
                numUserBlocks=blocks, numItemBlocks=blocks,
                userCol="userId", itemCol="itemId", ratingCol="rating",
                intermediateStorageLevel=inter, finalStorageLevel=final,
            )
            model = als.fit(als_input)
            model.userFactors.write.format("noop").mode("overwrite").save()
            model.itemFactors.write.format("noop").mode("overwrite").save()
            print(
                f"fit inter={inter} final={final}: "
                f"{time.monotonic() - t0:.2f}s",
                flush=True,
            )

    elif MODE == "blocksize":
        # order-controlled: sizes from argv (fresh JVM per invocation
        # kills warmup bias); each size runs twice, second run reported
        sizes = [int(s) for s in sys.argv[3:]] or [4096, 16384, 65536]
        model = train_als(als_input, ALSConfig())
        model.userFactors.write.format("noop").mode("overwrite").save()
        model.itemFactors.write.format("noop").mode("overwrite").save()
        for bs in sizes:
            model.setBlockSize(bs)
            for rep in (1, 2):
                t0 = time.monotonic()
                recs = recommend_topn(model, 10, user_map, item_map)
                cnt = recs.count()
                print(
                    f"recommend blockSize={bs} rep{rep}: "
                    f"{time.monotonic() - t0:.2f}s rows={cnt}",
                    flush=True,
                )

    spark.stop()


if __name__ == "__main__":
    main()
