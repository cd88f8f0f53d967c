"""Round-14 large-scale evidence for the full-dim peer search.

Three stages (pass one as argv[1]; default runs dispatch+sf10):

- ``dispatch`` (/tmp/sf1): the round-13 verdict #1 'Done' measurement
  — the production ``peer_search_fulldim_topk`` now DISPATCHES
  kernel-vs-window; at sf1 on this uniform recipe it must choose the
  kernel and its wall must sit at the kernel's ~51s warm, not the
  window arm's 636s.  Prints the dispatch-evidence row + cold/warm
  walls.

- ``sf10`` (/tmp/sf10, customer.parquet only): verdict #4 — cross the
  fourth decade on the 9-D projection-window derivation.  Does the
  max window-need keep growing ~linearly (1305 at sf1 → ~10⁴?), and
  does the dispatcher pick the kernel at the derived window?

- ``ivf`` (/tmp/sf1): verdict #3 — can a better probe-selection
  signal fix the IVF arm's 0.7962 sf1 recall plateau?  Candidate
  COVERAGE (|true top-15 pairs ∩ candidates| / |true pairs| — the
  exact re-rank preserves any covered pair, so coverage bounds final
  recall from above and equals it at 1.0) for (a) the shipped
  centroid-cosine probe order, (b) the experimental
  projection-distance order (rank lists by |proj(centroid) −
  proj(prospect)| — on the w_rev-dominated geometry the projection is
  the informative coordinate, cosine concentrates).

Big-driver required: PYSPARK_SUBMIT_ARGS="--driver-memory 24g pyspark-shell".
Prints one JSON line per stage.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.hybrid import (
    CODE_LEN,
    derive_projection_window_stats,
    hybrid_topk,
    projection_window_wins,
)
from prod_recommendation_pyspark_spark.queries.similarity import (
    _FD_DIRECTION,
    THRESHOLD,
    TOPK_PEERS,
    W_HAVS,
    W_HOPS,
    _fd_sides,
)
from prod_recommendation_pyspark_spark.session import get_spark

#: probes per (prospect, level) of the IVF arm (recall 1.0000 at sf0.01)
_FD_NPROBE = 16
KW = dict(k=TOPK_PEERS, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS)


def stage_dispatch(spark, sf_dir: str) -> dict:
    from prod_recommendation_pyspark_spark.queries import QUERIES

    out: dict = {"stage": "dispatch", "sf_dir": sf_dir}
    row = QUERIES["peer_search_fulldim_dispatch"](spark, sf_dir).first()
    out.update({k: row[k] for k in row.asDict()})
    t0 = time.time()
    n = QUERIES["peer_search_fulldim_topk"](spark, sf_dir).count()
    out["prod_wall_cold_s"] = round(time.time() - t0, 1)
    t0 = time.time()
    QUERIES["peer_search_fulldim_topk"](spark, sf_dir).count()
    out["prod_wall_warm_s"] = round(time.time() - t0, 1)
    out["rows"] = n
    return out


def stage_sf10(spark, sf_dir: str) -> dict:
    pros, clis = _fd_sides(spark, sf_dir)
    out: dict = {
        "stage": "sf10", "sf_dir": sf_dir,
        "n_pros": pros.count(), "n_clis": clis.count(),
    }
    t0 = time.time()
    stats = derive_projection_window_stats(
        pros, clis, "tgt_custkey", "src_custkey", _FD_DIRECTION,
        min_window=512, **KW,
    )
    out["derive_wall_s"] = round(time.time() - t0, 1)
    out.update(stats)
    w = stats["window"]
    out["pred_candidates"] = (CODE_LEN + 1) * 2 * w
    out["kernel_chosen"] = not projection_window_wins(w, out["n_clis"])
    return out


def _proj_expr(col: str):
    e = F.element_at(F.col(col), 1).cast("double") * float(_FD_DIRECTION[0])
    for i, wgt in enumerate(_FD_DIRECTION[1:], start=2):
        e = e + F.element_at(F.col(col), i).cast("double") * float(wgt)
    return e


def _ivf_cands(pros, clis, centroids, order: str):
    """ivf_block_candidates replayed with a pluggable probe-ranking
    signal: 'cos' = the shipped centroid-cosine order, 'proj' = the
    experimental |proj(centroid) - proj(prospect)| order."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        windowed_topk,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_assign,
    )

    def arms(df, id_col):
        return df.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lv).alias("__lvl"),
                            (
                                F.lit("")
                                if lv == 0
                                else F.substring(F.col("naics"), 1, lv)
                            ).alias("__blk"),
                        )
                        for lv in range(0, CODE_LEN + 1)
                    ]
                )
            ).alias("__a"),
        ).select(id_col, "__a.__lvl", "__a.__blk")

    r_assign = ivf_assign(
        clis.select("src_custkey", F.col("vec").alias("__v")),
        "src_custkey", "__v", centroids, n_probe=1, list_col="__list",
    )
    carm = arms(clis, "src_custkey").join(r_assign, "src_custkey")
    block_lists = carm.select("__lvl", "__blk", "__list").distinct()
    q = pros.select("tgt_custkey", F.col("vec").cast("array<double>").alias("__qv"))
    c = centroids.select(
        F.col("centroid_id").alias("__list"),
        F.col("vec").cast("array<double>").alias("__cv"),
    )
    qn = F.sqrt(F.aggregate("__qv", F.lit(0.0), lambda a, x: a + x * x))
    cn = F.sqrt(F.aggregate("__cv", F.lit(0.0), lambda a, x: a + x * x))
    dot = F.aggregate(
        F.zip_with("__qv", "__cv", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    if order == "cos":
        sig = (dot / (qn * cn)).alias("__sig")
    else:  # proj: NEGATED distance so desc-rank keeps the same shape
        sig = (-F.abs(_proj_expr("__cv") - _proj_expr("__qv"))).alias("__sig")
    scores = q.crossJoin(F.broadcast(c)).select("tgt_custkey", "__list", sig)
    pool = arms(pros, "tgt_custkey").join(block_lists, ["__lvl", "__blk"]).join(
        scores, ["tgt_custkey", "__list"]
    )
    probed = windowed_topk(
        pool, ["tgt_custkey", "__lvl"],
        [F.col("__sig").desc(), F.col("__list")], _FD_NPROBE,
    ).select("tgt_custkey", "__lvl", "__blk", "__list")
    return (
        probed.join(carm, ["__lvl", "__blk", "__list"])
        .select("tgt_custkey", "src_custkey")
        .distinct()
    )


def stage_ivf(spark, sf_dir: str) -> dict:
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
    )

    pros, clis = _fd_sides(spark, sf_dir)
    pros, clis = pros.localCheckpoint(), clis.localCheckpoint()
    out: dict = {"stage": "ivf", "sf_dir": sf_dir, "n_probe": _FD_NPROBE}
    t0 = time.time()
    exact = (
        hybrid_topk(
            pros, clis, "tgt_custkey", "src_custkey",
            vec_col="vec", naics_col="naics", lat_col="lat", lon_col="lon",
            **KW,
        )
        .select("tgt_custkey", "src_custkey")
        .localCheckpoint()
    )
    n_true = exact.count()
    out["exact_wall_s"] = round(time.time() - t0, 1)
    out["n_true_pairs"] = n_true
    centroids = ivf_auto_centroids(clis, "src_custkey", "vec").localCheckpoint()
    out["nlist"] = centroids.count()
    for order in ("cos", "proj"):
        t0 = time.time()
        cand = _ivf_cands(pros, clis, centroids, order)
        covered = exact.join(
            cand, ["tgt_custkey", "src_custkey"], "left_semi"
        ).count()
        out[f"{order}_coverage"] = round(covered / max(n_true, 1), 4)
        out[f"{order}_candidates"] = cand.count()
        out[f"{order}_wall_s"] = round(time.time() - t0, 1)
    return out


def main() -> None:
    stages = sys.argv[1:] or ["dispatch", "sf10"]
    spark = get_spark()
    for st in stages:
        sf_dir = "/tmp/sf10" if st == "sf10" else "/tmp/sf1"
        fn = {"dispatch": stage_dispatch, "sf10": stage_sf10, "ivf": stage_ivf}[st]
        print(json.dumps(fn(spark, sf_dir)), flush=True)


if __name__ == "__main__":
    main()
