"""The three reference pipeline stages, recomposed on the operator
library — the drop-in surface for a user of the reference
(SURVEY.md §3: SearchRankPeers.main → ProdRec → PostprocProdrecEngine).

Each stage is a pure function ``(SparkSession, config) -> outputs``
over declarative operators: one lazy plan per output table, actions
only at model fits and writes (the reference punctuates its plans with
collect/count/fit actions throughout — SURVEY §3.4).

Input contract (FIXTURES.md B1-B6 schemas):
* firmographics: eci, cid, coname, annual_revenue, ult, public_flag,
  company_age, L6 (6-char industry code), international, employees,
  city, state, lat, lon, jpmc_division, jpmc_class
* pup ratings: eci, sku, primary_intensity_value
* eci_map: eci, cid;  item_map: sku, itemId, pup_measure_name, ...
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.features.encode import one_hot
from prod_recommendation_pyspark_spark.features.impute import impute_median
from prod_recommendation_pyspark_spark.features.scaling import (
    log10_floor,
    min_max_scale,
)
from prod_recommendation_pyspark_spark.operators.hybrid import (
    AUX_ROW_BYTES,
    hybrid_topk,
)
from prod_recommendation_pyspark_spark.operators.relational import (
    dedup_first_by_key,
    rename_with_prefix,
)
from prod_recommendation_pyspark_spark.operators.similarity import (
    l2_normalize,
    plan_grid,
)
from prod_recommendation_pyspark_spark.recommender.als import (
    ALSConfig,
    recommend_topn,
    train_als,
)
from prod_recommendation_pyspark_spark.recommender.ratings import (
    accumulated_volume,
    dense_id_ratings,
    key_remap,
    percent_rank_ratings,
)
from prod_recommendation_pyspark_spark.recommender.reports import (
    confidence_table,
    penetration_table,
)


@dataclass
class PeerSearchConfig:
    """Driver constants of search_ranking_peers.py:604-613."""

    topk: int = 15
    threshold: float = 0.0
    w_hops: float = 0.399
    w_havs: float = 0.001
    w_rev: float = 0.80
    w_jpmc: float = 0.05
    numeric_features: tuple = ("annual_revenue_log", "company_age", "employees", "public_flag")
    jpmc_divisions: tuple = ()  # explicit one-hot values; empty → skip OHE
    # MIN_BATCH generalized (search_ranking_peers.py:606); None = size
    # blocks automatically from the client side's memory geometry
    n_blocks: int | None = None
    # Long column to use as the kernel's pair id.  None → xxhash64(eci)
    # (opaque string keys).  Passing a real numeric key makes the
    # top-K tie-break reproducible outside Spark (oracle checks).
    id_col: str | None = None


def _stage1_features(
    firmo: DataFrame, cfg: PeerSearchConfig
) -> tuple[DataFrame, int]:
    """Feature engineering of SURVEY §3.1: filter → dedup by cid →
    impute → log-floor revenue → min-max scale → weight → assemble →
    L2-normalize.  All one lazy plan (plus the impute medians fit).
    Returns ``(df, vector_dim)`` — the dim is known statically from
    the config, so kernel sizing never needs to probe the data."""
    base = (
        firmo.filter(F.col("coname") != "RST")  # P2 search_ranking_peers.py:344
        .filter(F.col("international") == 0)  # :345
        .transform(lambda df: dedup_first_by_key(df, "cid", order_by="eci"))  # A1
    )
    base = impute_median(base, ["employees", "company_age", "lat", "lon"])  # M1
    base = log10_floor(base, "annual_revenue", "annual_revenue_log")  # M7
    base = min_max_scale(base, list(cfg.numeric_features), suffix="_s")  # M6
    w_num = (1.0 - cfg.w_rev - cfg.w_jpmc) / 3.0  # search_ranking_peers.py:442
    weights = {
        "annual_revenue_log_s": cfg.w_rev,
        "company_age_s": w_num,
        "employees_s": w_num,
        "public_flag_s": w_num,
    }
    feature_cols = [f"{c}_s" for c in cfg.numeric_features]
    if cfg.jpmc_divisions:
        base = one_hot(base, "jpmc_division", list(cfg.jpmc_divisions),
                       prefix="jd", weight=cfg.w_jpmc)  # M4+M5
        feature_cols += [f"jd_{v}" for v in cfg.jpmc_divisions]
    vec = F.array(*[
        (F.coalesce(F.col(c).cast("double"), F.lit(0.0)) * weights.get(c, 1.0))
        for c in feature_cols
    ])
    normed = l2_normalize(base.withColumn("raw_vec", vec), "raw_vec", "vec")
    return normed, len(feature_cols)


def run_peer_search(
    spark: SparkSession,
    prospects: DataFrame,
    clients: DataFrame,
    cfg: PeerSearchConfig | None = None,
) -> DataFrame:
    """Stage 1 — hybrid top-K peer search
    (search_ranking_peers.py:457-571 recomposed).  Returns the peers
    table: tgt_*/src_* attribute pairs + score, ≤ topk rows per
    prospect."""
    cfg = cfg or PeerSearchConfig()
    # The feature frame below feeds four plan branches (both kernel
    # sides + both attribute join-backs); Spark re-executes an
    # unmaterialized subplan per branch.  The kernel's grid shape is
    # computed HERE analytically (dim is static; row counts are one
    # cheap grouped count) and pinned, so hybrid_topk runs zero probe
    # jobs and the feature plan is never re-executed for sizing.  The
    # operator itself persists nothing (round-4 advisory) — at survey
    # scale, persist() the prospect/client inputs before calling.
    tagged = prospects.withColumn("__side", F.lit("t")).unionByName(
        clients.withColumn("__side", F.lit("s"))
    )
    feats, dim = _stage1_features(tagged, cfg)  # scale stats over BOTH sides
    left = feats.filter(F.col("__side") == "t")
    right = feats.filter(F.col("__side") == "s")

    # One cheap grouped count sizes the whole grid — run it whether or
    # not n_blocks is pinned, so hybrid_topk never falls back to its
    # own geometry probe (which would re-execute the 4-branch feature
    # plan twice just for sizing).
    counts = {
        r["__side"]: r["cnt"]
        for r in feats.groupBy("__side")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    l_rows, r_rows = counts.get("t", 0), counts.get("s", 0)
    row_bytes = dim * 8 + AUX_ROW_BYTES
    n_blocks, n_left_chunks = plan_grid(
        (l_rows, l_rows * row_bytes),
        (r_rows, r_rows * row_bytes),
        spark.sparkContext.defaultParallelism,
        n_blocks=cfg.n_blocks,
    )

    def pair_id():
        if cfg.id_col is not None:
            return F.col(cfg.id_col).cast("long")
        return F.xxhash64("eci")

    lsel = left.select(
        pair_id().alias("tgt_id"), "vec",
        F.col("L6").alias("naics"), "lat", "lon",
    )
    rsel = right.select(
        pair_id().alias("src_id"), "vec",
        F.col("L6").alias("naics"), "lat", "lon",
    )
    pairs = hybrid_topk(
        lsel,
        rsel,
        "tgt_id",
        "src_id",
        k=cfg.topk,
        threshold=cfg.threshold,
        w_hops=cfg.w_hops,
        w_havs=cfg.w_havs,
        # pinned: ids may be signed (xxhash64), so block slicing
        # relies on hybrid_topk's pmod
        n_blocks=n_blocks,
        n_left_chunks=n_left_chunks,
    )
    tgt_attrs = rename_with_prefix(
        left.drop("vec", "raw_vec", "__side"), "tgt_"
    )
    src_attrs = rename_with_prefix(
        right.drop("vec", "raw_vec", "__side"), "src_"
    )
    if cfg.id_col is not None:
        tgt_attrs = tgt_attrs.withColumn(
            "tgt_id", F.col(f"tgt_{cfg.id_col}").cast("long")
        )
        src_attrs = src_attrs.withColumn(
            "src_id", F.col(f"src_{cfg.id_col}").cast("long")
        )
    else:
        tgt_attrs = tgt_attrs.withColumn("tgt_id", F.xxhash64("tgt_eci"))
        src_attrs = src_attrs.withColumn("src_id", F.xxhash64("src_eci"))
    return (
        pairs.join(tgt_attrs, "tgt_id", "left")  # J1
        .join(F.broadcast(src_attrs), "src_id", "left")  # J2: broadcast hint
        .drop("tgt_id", "src_id")
        .orderBy(F.col("tgt_coname").asc(), F.col("score").desc())  # O1
    )


@dataclass
class ProdRecConfig:
    als: ALSConfig = field(default_factory=ALSConfig)
    top_n: int = 10


def run_prod_rec(
    spark: SparkSession,
    pup: DataFrame,
    eci_map: DataFrame,
    cfg: ProdRecConfig | None = None,
    freeze_ratings: bool = False,
) -> DataFrame:
    """Stage 2 — implicit-feedback product recommendation
    (recommender_prod_rec.py recomposed): remap keys (J4), percent-rank
    normalize (W1), roll up volume (A2), dense ids (J5), ALS (M9),
    top-N per client flattened (M12/D3).

    ``freeze_ratings=True`` stops after the deterministic ratings hop
    and emits the accumulated implicit ratings as the product table
    (coname, product, rating) — the same shape Stage 3 consumes, minus
    the (seeded but platform-variant) ALS factorization.  This is the
    contract the end-to-end oracle query pins down; ALS itself is
    covered by its own property/contract checks."""
    cfg = cfg or ProdRecConfig()
    remapped = key_remap(pup, eci_map, "eci", "cid")
    rated = percent_rank_ratings(remapped, "cid", "sku", "primary_intensity_value")
    acc = accumulated_volume(rated, "cid", "sku", "rating", out_col="acc")
    if freeze_ratings:
        return acc.select(
            F.col("cid").alias("coname"),
            F.col("sku").alias("product"),
            F.col("acc").alias("rating"),
        )
    als_input, user_map, item_map = dense_id_ratings(acc, "cid", "sku", "acc")
    model = train_als(als_input.cache(), cfg.als)
    return recommend_topn(model, cfg.top_n, user_map, item_map)


@dataclass
class PostprocessConfig:
    num_peers: int = 30  # inference_postprocess.py:164
    topk_products: int = 20  # :165
    # decimal-space round applied to confidence before its double cast
    # (None = emit the full-precision value) — see functions/exact.py
    round_confidence: int | None = None


def run_postprocess(
    spark: SparkSession,
    peers: DataFrame,
    prod: DataFrame,
    item_map: DataFrame | None = None,
    cfg: PostprocessConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 3 — (confidence, penetration) report tables
    (inference_postprocess.py recomposed; B2/B16/B17 fixed).
    ``peers``: prospect, coname, score.  ``prod``: coname, product,
    rating.  ``item_map`` optionally trim-joined for product names."""
    cfg = cfg or PostprocessConfig()
    conf = confidence_table(
        peers,
        prod,
        num_peers=cfg.num_peers,
        topk=cfg.topk_products,
        round_to=cfg.round_confidence,
    )
    pen = penetration_table(
        peers, prod, num_peers=cfg.num_peers, topk=cfg.topk_products
    )
    if item_map is not None:
        from prod_recommendation_pyspark_spark.operators.relational import (
            trim_normalized_join,
        )

        conf = trim_normalized_join(conf, item_map, "product")  # J9
        pen = trim_normalized_join(pen, item_map, "product")
    return conf, pen
