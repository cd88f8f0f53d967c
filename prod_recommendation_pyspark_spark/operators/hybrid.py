"""Hybrid-score top-K peer search — Stage 1's core semantics
(SURVEY.md §2.10; search_ranking_peers.py:246-325).

``score = (1 - w_hops - w_havs)·cosine + w_hops·naics_hops +
w_havs·haversine`` blended over *all* pairs, then threshold + top-K per
left row (driver constants th=0.0, topK=15, w_hops=0.399, w_havs=0.001
at search_ranking_peers.py:606-613).

Two exact scorers and one candidate family, with identical semantics:

* ``hybrid_topk_crossjoin`` — fully declarative: crossJoin + native
  dot-product/when-ladder/trig expressions + windowed top-K.  Exact,
  whole-stage-codegen, zero Python.  The right fit when one side is
  broadcastable and the pair count (n·m) is tolerable.
* ``hybrid_topk`` — the blocked kernel: a cogrouped block product
  over the (left-chunk × right-block) grid; per group cosine is one
  BLAS matmul, hops/haversine are vectorized, and only k rows per
  left id leave the worker.  This is the 100 TB path: two bounded
  shuffles, zero driver transit — neither the reference's
  driver-collected closure lists (:538-549) nor a driver-relayed
  broadcast of the right side.  Grid planner and cogroup body are
  ``similarity.plan_grid`` / ``similarity._blocked_topk``, shared with
  ``cosine_topk``; only the per-chunk hybrid scorer lives here.
* the WINDOW-INDEX family + ``hybrid_topk_pruned(candidates=...)`` —
  the LINEAR-candidate production path (round 9): per-NAICS-level
  sorted-neighborhood candidates, exact scoring on candidates only.
  One body per stage — derivation, candidates, index, probe, insert,
  compact, ``serve_batch`` — parametrized by the within-arm sort key
  (``_window_key``): the 2-D angle (``rank_window_*``; 9-23× faster
  than the exact kernel at sf1 with measured recall 1.0000 at
  window=256) or a fixed-direction projection at any dim (the
  ``projection_window_*`` forwarders).  The kernel stays as the oracle
  baseline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.geo import (
    EARTH_RADIUS_KM,
    HALF_EARTH_KM,
    haversine_score,
)
from prod_recommendation_pyspark_spark.operators.naics import (
    CODE_LEN,
    naics_hops_score,
)
from prod_recommendation_pyspark_spark.operators.relational import (
    drop_tombstoned,
    windowed_topk,
)
from prod_recommendation_pyspark_spark.operators.similarity import (
    DEFAULT_MAX_BLOCK_BYTES,
    _blocked_topk,
    hyperplane_signature,
    probe_dim,
    random_hyperplane_tables,
)
from prod_recommendation_pyspark_spark.sources.readers import published_manifest

DEFAULT_W_HOPS = 0.399  # search_ranking_peers.py:608
DEFAULT_W_HAVS = 0.001  # search_ranking_peers.py:609

#: NAICS shared-prefix depth (0..6) → hops score, the kernel's LUT
#: twin of ``naics_hops_score``'s when-ladder: built from the exact
#: expression the former per-pair where/maximum chain evaluated, so
#: the gathered doubles are bit-identical (depth 0 → 0.0 is the
#: p == 0 override; depths 1..5 → max(1 − 2·(6−p)/10, 0); 6 → 1.0).
_HOPS_LUT = np.array(
    [0.0]
    + [max(1.0 - 2.0 * (6 - p) / 10.0, 0.0) for p in range(1, 6)]
    + [1.0],
    dtype=np.float64,
)


def hybrid_score_expr(
    dot: Column,
    hops: Column,
    havs: Column,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
) -> Column:
    return (1.0 - w_hops - w_havs) * dot + w_hops * hops + w_havs * havs


def hybrid_topk_crossjoin(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
) -> DataFrame:
    lhs = left.select(
        F.col(left_id),
        F.col(vec_col).alias("__lvec"),
        F.col(naics_col).alias("__lnaics"),
        F.col(lat_col).alias("__llat"),
        F.col(lon_col).alias("__llon"),
    )
    rhs = right.select(
        F.col(right_id),
        F.col(vec_col).alias("__rvec"),
        F.col(naics_col).alias("__rnaics"),
        F.col(lat_col).alias("__rlat"),
        F.col(lon_col).alias("__rlon"),
    )
    dot = F.aggregate(
        F.zip_with("__lvec", "__rvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        lhs.crossJoin(F.broadcast(rhs))
        .withColumn(
            "score",
            hybrid_score_expr(
                dot,
                naics_hops_score(F.col("__lnaics"), F.col("__rnaics")),
                haversine_score(
                    F.col("__llat"), F.col("__llon"), F.col("__rlat"), F.col("__rlon")
                ),
                w_hops,
                w_havs,
            ),
        )
        # NaN parity with the kernel (which drops NaN via >= threshold):
        # SQL would rank NaN first desc — drop it here too
        .filter(~F.isnan("score"))
        .filter(F.col("score") >= threshold)
        .select(left_id, right_id, "score")
    )
    return windowed_topk(scored, left_id, [F.col("score").desc(), F.col(right_id)], k)


#: Left rows the blocked kernel scores at once: bounds the per-chunk
#: (chunk × m) grids (cosine, prefix depth, haversine) a worker holds.
LEFT_CHUNK = 512

#: Aux bytes per row riding on each vector (naics bytes + 2 doubles +
#: id) in the kernel's grid sizing.
AUX_ROW_BYTES = 40


def hybrid_topk(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    n_blocks: int | None = None,
    max_block_bytes: int = DEFAULT_MAX_BLOCK_BYTES,
    n_left_chunks: int | None = None,
) -> DataFrame:
    """Blocked hybrid top-K: ``similarity._blocked_topk`` (the
    cogrouped block product ``cosine_topk`` runs too) with the hybrid
    per-chunk scorer.  :data:`LEFT_CHUNK` bounds the per-chunk
    (chunk × m) score grids so worker memory stays flat regardless of
    Arrow batch size.

    ``n_blocks=None`` / ``n_left_chunks=None`` (default) pick the grid
    shape from the sides' memory geometry + cluster parallelism
    (``similarity.plan_grid``: bounded per-task memory, ~parallelism
    cells, approx-minimal shuffle volume; each side it needs is probed
    with two tiny uncached jobs — a pinned ``n_left_chunks`` probes
    only the right side, a pinned ``n_blocks`` only the left).  Left
    rows hash into ``n_left_chunks`` chunks replicated across right
    blocks, right rows pmod into ``n_blocks`` blocks on ``right_id``
    (pmod so signed xxhash64-style keys are not dropped) replicated
    across left chunks — the reference's MIN_BATCH loop
    (search_ranking_peers.py:489-494,606) re-expressed as one
    shuffle-native job with NO driver collect/broadcast; exact for
    any grid shape (blocks > 1 re-ranked by one windowed top-K)."""
    w_cos = 1.0 - w_hops - w_havs
    # fresh side-specific aliases: see _replicate_grid's contract
    lhs = left.select(
        F.col(left_id).alias("__lid"),
        F.col(vec_col).alias("__lvec"),
        F.col(naics_col).alias("__lnaics"),
        F.col(lat_col).alias("__llat"),
        F.col(lon_col).alias("__llon"),
    )
    rhs = right.select(
        F.col(right_id).alias("__rid"),
        F.col(vec_col).alias("__rvec"),
        F.col(naics_col).alias("__rnaics"),
        F.col(lat_col).alias("__rlat"),
        F.col(lon_col).alias("__rlon"),
    )

    def block_scorer(r: pd.DataFrame, ids: np.ndarray):
        rn_str = [(x or "") for x in r["__rnaics"].tolist()]
        # 6-byte-truncated codes packed into big-endian uint64 (first
        # byte most significant, zero-padded): prefix-p equality is
        # then ONE (b, m) compare of `code >> 8·(8−p)` per depth —
        # the S6 truncation must happen BEFORE the S8 pad so 7+-char
        # codes keep the byte-compare semantics of the original
        # (b, m, 6) path
        rn64 = (
            np.array(rn_str, dtype="S6").astype("S8").view(">u8").reshape(-1)
        )
        r_bad = np.array([len(x) for x in rn_str]) != 6
        rlat_r = np.radians(r["__rlat"].to_numpy(dtype=np.float64))
        rlon_r = np.radians(r["__rlon"].to_numpy(dtype=np.float64))
        m = ids.shape[0]

        def score(chunk, lids, cos):
            # NAICS hops: shared-prefix depth as Σ_p 1[first p bytes
            # equal] over p = 1..6 (prefix-p equality implies every
            # shorter prefix, so the sum IS the depth) — 6 flat (b, m)
            # uint64 compares accumulated into an int8 grid, replacing
            # the former (b, m, 6) byte tensor + int64 cumprod + sum,
            # whose 6× intermediates dominated the kernel's non-GEMM
            # wall (bit-identical depths; optimization r15, guide
            # §4.2).  The depth→score ladder becomes one float64 LUT
            # gather — same IEEE values as the original where/maximum
            # chain (the LUT is built from the identical expression).
            lcodes = chunk["__lnaics"].fillna("").to_numpy()
            lnlen = np.array([len(c) for c in lcodes])
            ln64 = (
                np.array(
                    [c.encode()[:6].ljust(6) for c in lcodes], dtype="S6"
                )
                .astype("S8")
                .view(">u8")
                .reshape(-1)
            )
            p = np.zeros((len(chunk), m), dtype=np.int8)
            for pre in range(1, 7):
                sh = np.uint64(8 * (8 - pre))
                p += (ln64 >> sh)[:, None] == (rn64 >> sh)[None, :]
            hops = _HOPS_LUT[p]
            bad = (lnlen != 6)[:, None] | r_bad[None, :]
            hops = np.where(bad, -1.0, hops)

            # Haversine score; missing coords → 0.5
            llat = chunk["__llat"].to_numpy(dtype=np.float64)
            llon = chunk["__llon"].to_numpy(dtype=np.float64)
            llat_r, llon_r = np.radians(llat), np.radians(llon)
            dlat = (rlat_r[None, :] - llat_r[:, None]) / 2
            dlon = (rlon_r[None, :] - llon_r[:, None]) / 2
            a = np.sin(dlat) ** 2 + (
                np.cos(llat_r)[:, None] * np.cos(rlat_r)[None, :] * np.sin(dlon) ** 2
            )
            dist = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
            havs = 1.0 - dist / HALF_EARTH_KM
            havs = np.where(np.isnan(havs), 0.5, havs)
            return w_cos * cos + w_hops * hops + w_havs * havs

        return score

    return _blocked_topk(
        lhs, rhs, left_id, right_id, k, threshold, n_blocks, n_left_chunks,
        max_block_bytes, AUX_ROW_BYTES, LEFT_CHUNK, block_scorer,
    )


#: NAICS-arm skew guard: right rows per (prefix-block × sub-block) task
DEFAULT_MAX_BLOCK_ROWS = 100_000


def hybrid_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    tables: list[list[list[float]]] | None = None,
    naics_prefix_len: int = 4,
    max_block_rows: int = DEFAULT_MAX_BLOCK_ROWS,
    quantile_buckets: int | None = None,
) -> DataFrame:
    """Candidate (left, right) pairs for pruned peer search: the union
    of an industry-prefix block join (pairs sharing the first
    ``naics_prefix_len`` code chars — the pairs the hops term rewards)
    and a vector-blocking join (pairs the cosine term rewards).
    Together the two blocks cover both routes by which a pair can
    reach a high hybrid score, WITHOUT the all-pairs product: each arm
    is an equi-join whose build side is a scan-level projection, so at
    100 TB this is two shuffles on bounded keys instead of an O(L×R)
    score matrix.

    Two cosine-arm strategies, chosen by the vectors' geometry:

    * ``quantile_buckets=B`` — equi-depth blocking on the normalized
      second component (a monotone angle proxy when first components
      are non-negative, as scaled nonneg features are): B exact
      quantile splits of the RIGHT side (one aggregate, broadcast),
      each right row in its bucket, each left row probing its bucket
      ±1.  Equal-depth buckets make per-bucket pair counts uniform BY
      CONSTRUCTION (the skew guard is built in), the right rows per
      bucket is |R|/B (the scale knob: grow B with density), and ±1
      neighbor probing makes bucket-boundary placement robust to
      last-ulp split drift — which is what keeps an external SQL
      replay hash-stable.  This is the arm for LOW-dimensional
      vectors, where sign-LSH degenerates: d-dim sign-LSH yields at
      most 2·n_planes regions in 2-D, and angularly concentrated data
      (all-positive features) collapses into a handful of giant
      buckets — measured on the sf0.1 firmographics, 2×4-plane LSH
      left 19.2M of 20.25M pairs as "candidates" (95% — no pruning).
    * ``tables=[...]`` — multi-table sign-LSH buckets, the arm for
      high-dimensional embeddings (see ``sign_lsh_self_pairs``).

    ``tables=None`` with no ``quantile_buckets`` derives 4 seeded
    sign-LSH tables × 8 planes from a dim probe of the left vectors,
    so a cosine arm is ALWAYS on by default — a pruned search without
    one silently loses every cross-industry high-cosine peer.  Pass
    ``tables=[]`` to explicitly request NAICS-only blocking.

    Skew guard (NAICS arm): one dominant NAICS prefix would otherwise
    become one giant join bucket (a single straggler task computing
    |L|×|R| pairs at scale).  Blocks whose right side exceeds
    ``max_block_rows`` are salted — right rows hash into
    ceil(count/cap) sub-blocks, left rows in that block fan out across
    them.  The per-prefix split table is tiny (≤10⁴ NAICS prefixes)
    and broadcast; the candidate SET is unchanged, only its task
    layout.

    Pure Catalyst (substring block keys, exact-percentile splits,
    seeded hyperplane signature literals) — reproducible in ANSI SQL
    for oracle checks."""
    if tables is None and quantile_buckets is None:
        dim = probe_dim(left, vec_col)
        # empty left relation → no queries → the NAICS arm alone
        # already yields the correct empty candidate set
        tables = [] if dim is None else random_hyperplane_tables(dim, 8, 4, seed=7)
    tables = tables or []
    naics_l = left.select(
        F.col(left_id),
        F.substring(F.col(naics_col), 1, naics_prefix_len).alias("__blk"),
    )
    naics_r = right.select(
        F.col(right_id),
        F.substring(F.col(naics_col), 1, naics_prefix_len).alias("__blk"),
    )
    splits = naics_r.groupBy("__blk").agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count(F.lit(1)) / F.lit(max_block_rows)),
        )
        .cast("int")
        .alias("__ns")
    )
    r_sub = naics_r.join(F.broadcast(splits), "__blk").withColumn(
        "__sub", F.pmod(F.xxhash64(F.col(right_id)), F.col("__ns")).cast("int")
    )
    l_sub = naics_l.join(F.broadcast(splits), "__blk").withColumn(
        "__sub", F.explode(F.sequence(F.lit(0), F.col("__ns") - 1))
    )
    cand = l_sub.join(r_sub, ["__blk", "__sub"]).select(left_id, right_id)
    if tables:
        dvec = F.col(vec_col).cast("array<double>")

        def banded(df: DataFrame, id_col: str) -> DataFrame:
            sigs = df.select(
                F.col(id_col),
                *[
                    hyperplane_signature(dvec, t).alias(f"__sig{i}")
                    for i, t in enumerate(tables)
                ],
            )
            return sigs.select(
                id_col,
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("tbl"), F.col(f"__sig{i}").alias("sig")
                            )
                            for i in range(len(tables))
                        ]
                    )
                ).alias("__k"),
            ).select(
                id_col,
                F.col("__k.tbl").alias("__tbl"),
                F.col("__k.sig").alias("__sig"),
            )

        lsh = banded(left, left_id).join(
            banded(right, right_id), ["__tbl", "__sig"]
        ).select(left_id, right_id)
        cand = cand.unionByName(lsh)
    if quantile_buckets:
        b = quantile_buckets
        nrm = F.sqrt(
            F.aggregate(
                F.col(vec_col).cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
        )
        v1n = (F.element_at(F.col(vec_col), 2).cast("double") / nrm).alias(
            "__v1"
        )
        splits = right.agg(
            F.percentile(
                F.element_at(F.col(vec_col), 2).cast("double")
                / F.sqrt(
                    F.aggregate(
                        F.col(vec_col).cast("array<double>"),
                        F.lit(0.0),
                        lambda a, x: a + x * x,
                    )
                ),
                F.array(*[F.lit(i / b) for i in range(1, b)]),
            ).alias("__splits")
        )
        # bucket = |{splits ≤ v}| — a codegen'd HOF over the broadcast
        # (B−1)-element split array; identical expression both sides
        bucket = F.size(
            F.filter("__splits", lambda s: s <= F.col("__v1"))
        ).alias("__qb")
        r_q = (
            right.select(F.col(right_id), v1n)
            .crossJoin(F.broadcast(splits))
            .select(right_id, bucket)
        )
        l_q = (
            left.select(F.col(left_id), v1n)
            .crossJoin(F.broadcast(splits))
            .select(left_id, bucket)
            .select(
                left_id,
                F.explode(
                    F.array(
                        F.col("__qb") - 1, F.col("__qb"), F.col("__qb") + 1
                    )
                ).alias("__qb"),
            )
        )
        qcand = l_q.join(r_q, "__qb").select(left_id, right_id)
        cand = cand.unionByName(qcand)
    return cand.distinct()


#: Allowed derived-window values: powers of two from 64 up.  A ladder
#: (not raw 2·max_needed) keeps the derivation STABLE — a ±1 wobble in
#: the sampled statistic (e.g. an oracle replaying the same derivation
#: with ULP-different scores) almost never crosses a rung, and when it
#: does both windows exceed the true need so the final top-k is
#: identical anyway.
RANK_WINDOW_LADDER = tuple(64 << i for i in range(15))


def _ladder_window(target: int) -> int:
    for w in RANK_WINDOW_LADDER:
        if w >= target:
            return w
    raise ValueError(
        f"derived rank window target {target} exceeds the ladder max "
        f"{RANK_WINDOW_LADDER[-1]} — the corpus' tie density makes the "
        "sorted-neighborhood prune degenerate; use the exact kernel "
        "(hybrid_topk) for this data."
    )


def _derivation_sample(
    left: DataFrame, left_id: str, sample_mod: int, min_sample: int = 8
) -> tuple[DataFrame, int, int]:
    """Deterministic calibration sample for the window derivation:
    ``left_id % mod == 0``, WIDENED (mod halved) until it holds at
    least ``min_sample`` prospects (or all of them) — at small corpora
    ``left_id % 500 == 0`` picks 1-3 rows, and a max-statistic
    estimated from a near-empty sample is noise, not evidence.

    Returns ``(sample, n_sampled, used_mod)``.  Fails LOUDLY when the
    sample stays empty at mod 1 on a non-empty left — ids that are
    NULL or non-numeric make ``% mod`` null out the filter silently,
    which would otherwise masquerade as "derived window = floor":
    pass an explicit ``window=`` for such ids instead.

    ONE job: the whole halving ladder (≤ ~10 rungs) is counted in a
    single aggregation (one conditional count per rung) instead of a
    count job per attempted mod — the widening loop's cost does not
    depend on how far it has to widen."""
    mods, m = [], max(1, sample_mod)
    while True:
        mods.append(m)
        if m == 1:
            break
        m = max(1, m // 2)
    counts = left.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.count(F.when(F.col(left_id) % m == 0, 1)).alias(f"__c{m}")
            for m in mods
        ],
    ).first()
    n_left = int(counts["__n"])
    if n_left == 0:
        return left, 0, sample_mod
    for m in mods:
        n = int(counts[f"__c{m}"])
        # mod 1 is the terminal rung: accept whatever non-null ids
        # exist (partially-null ids yield a smaller-than-asked sample,
        # same as the pre-single-pass widening loop)
        if n >= min(min_sample, n_left) or (m == 1 and n > 0):
            return left.filter(F.col(left_id) % m == 0), n, m
    raise ValueError(
        f"window derivation sample is EMPTY at mod=1 on a "
        f"{n_left}-row left — '{left_id}' % mod is null for every "
        "row (NULL or non-numeric ids). The derivation needs "
        "numeric ids; pass an explicit window= instead."
    )


def _calibrated_rank(
    spark, u: DataFrame, sample, right: DataFrame,
    left_id: str, right_id: str, **scoring,
):
    """Rank ``u`` and read the window need off it, with the distributed
    rank and the calibration pass running as CONCURRENT driver jobs
    (guide §2.6: actions are only sequential because the driver calls
    them sequentially).  The two are independent by construction — the
    rank shuffles the armed union, the calibration exact-scores the
    sample against the corpus — and only ``_needed_window_stats`` needs
    both, so the cold derivation's wall drops from rank + calibration
    to ~max(rank, calibration).  Two driver threads, FIFO scheduling
    (the later job back-fills the earlier one's task tail).

    ``sample`` is a thunk returning ``(sample frame, n_sampled)``; it
    runs on the calibration thread.  Both sides are materialized: the
    rank is consumed by the stats job and (on the candidate path) both
    sides of the window fetch, the calibration pairs by the stats job.
    Returns ``(clis, pros, n_pairs, max_needed)`` — the rank's two side
    projections (:func:`_rank_sides`) and the need statistics
    (``(0, None)`` on an empty sample).

    The calibration's exact top-k is ALWAYS the blocked kernel,
    deliberately: ``hybrid_topk_crossjoin`` looks cheaper at tiny×big
    shape but broadcasts the CORPUS side and shuffles every scored
    pair into its top-k window, both of which break at real corpus
    sizes; the kernel bounds worker memory and map-side-reduces each
    block to k candidates per prospect, so the pass stays
    |sample|·k-shaped on the wire at any |R|.  ``n_left_chunks=1`` is
    pinned: the sample is ≥8-to-~hundreds of rows by construction
    (:func:`_derivation_sample`), always one chunk — pinning it skips
    the left-side geometry probe's two jobs."""
    from concurrent.futures import ThreadPoolExecutor

    def calibrate():
        frame, n_sampled = sample()
        if not n_sampled:
            return None  # empty left: any window yields empty
        exact = hybrid_topk(
            frame, right, left_id, right_id, n_left_chunks=1, **scoring
        )
        return exact.select(
            F.col(left_id).alias("__tid"), F.col(right_id).alias("__rid")
        ).localCheckpoint()

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_rank = pool.submit(_distributed_rank, u, spark, True)
        fut_pairs = pool.submit(calibrate)
        ranked, pairs = fut_rank.result(), fut_pairs.result()
    clis, pros = _rank_sides(ranked)
    if pairs is None:
        return clis, pros, 0, None
    return (clis, pros, *_needed_window_stats(pairs, pros, clis))


def _needed_window_stats(
    pairs: DataFrame, pros_ins: DataFrame, clis_pos: DataFrame
) -> tuple[int, int | None]:
    """(n_pairs, max_needed) over calibration pairs: for each true
    top-k pair, the MINIMUM window (over every arm where prospect and
    client co-occur — global, each shared-prefix level, malformed)
    that would make the client a candidate: the pair is fetched iff
    cpos ∈ [ins − w + 1, ins + w] at SOME shared arm, i.e.
    w ≥ min over arms of max(ins − cpos + 1, cpos − ins).

    The small side is broadcast at BOTH joins (hints don't propagate
    through a join, so each gets its own): ``pairs`` is ≤ |sample|·k
    rows BY CONSTRUCTION (the calibration sample's top-k) and the
    first join's output ≤ |pairs|·(CODE_LEN+2) arm hits — both
    bounded at any corpus size, while the rank frames are
    (CODE_LEN+2)·(|L|+|R|) rows — without the hints Catalyst sees
    only an applyInPandas output of unknown size and
    sort-merge-shuffles the big rank frames instead."""
    need = (
        F.broadcast(F.broadcast(pairs).join(pros_ins, "__tid"))
        .join(clis_pos.drop("__wb"), ["__rid", "__lvl", "__blk"])
        .groupBy("__tid", "__rid")
        .agg(
            F.min(
                F.greatest(
                    F.col("__ins") - F.col("__cpos") + 1,
                    F.col("__cpos") - F.col("__ins"),
                )
            ).alias("__need")
        )
    )
    row = need.agg(
        F.count(F.lit(1)).alias("n"), F.max("__need").alias("mx")
    ).first()
    return int(row["n"]), (None if row["mx"] is None else int(row["mx"]))


def rank_window_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    window: int | None = 64,
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    sample_mod: int = 500,
    min_window: int = 64,
    window_cache: dict | None = None,
    cache_key=None,
    direction: list[float] | None = None,
) -> DataFrame:
    """LINEAR-candidate generation for the hybrid peer score — the
    asymptotic replacement for :func:`hybrid_candidates`, whose two
    arms are constant-factor prunes (a full p-prefix block product is
    pairs/#blocks; B fixed quantile buckets are 3·pairs/B — both stay
    QUADRATIC, which is why the measured sf1 wall of the block/bucket
    path exceeded the exact kernel's: 672s vs 166s on 2.02e9 pairs).

    Level decomposition (exactness argument): the hybrid score is
    ``w_dot·dot + w_hops·hops + w_geo·hav`` and ``naics_hops_score``
    is CONSTANT on each level.  The levels, and the arm covering
    each:

    - malformed codes (NULL / wrong length) score the constant −1
      against EVERYONE → one arm holds the malformed clients, and
      every prospect probes it.  This arm is load-bearing, not
      belt-and-braces: malformed clients beat a well-formed pair on
      (dot, hav) while losing on the full score, so they may not
      crowd the well-formed arms' windows — which is also why the
      prefix/global arms hold WELL-FORMED clients only.
    - shared p-prefix, p ≥ 1 → the p-prefix block arms.
    - no shared prefix (hops 0.0, the well-formed minimum) → the
      global arm (all well-formed clients): any well-formed pair has
      hops ≥ 0, so a true top-k pair at this level is top-k in the
      arm by (dot, hav).

    For a true top-k pair (t, s) at level ℓ: fewer than k pairs beat
    it on the full score, and every client in its arm pairs with t at
    hops ≥ the level's score, so fewer than k clients in the arm beat
    s on ``w_dot·dot + w_geo·hav``.  Hence per-prospect top-k within
    each arm contains every true top-k pair.  In 2-D non-negative
    vector space dot = cos(Δθ) is monotone in the angle gap, so an
    arm's top-k by dot lies within the ±k sorted-neighborhood around
    the prospect's angle-insertion position.  ``window`` ≫ k pads
    that neighborhood to absorb w_geo-driven reorderings: hav shifts
    the within-level rank by at most w_geo/w_dot in dot units, so the
    window must cover the clients within that dot-margin of the k-th
    within-level dot — a count that grows with ANGLE-TIE DENSITY
    (measured sf1: window 64 → recall 0.9924, 256 → 1.0000; a corpus
    of heavily repeated vectors needs window ≥ its tie counts).
    Parity with the exact kernel is pinned by pytest and the
    registered recall query.

    Mechanics: clients explode to their arms (lvl −1 = malformed
    sentinel, else lvl 0 = global + lvl p = p-prefix block);
    prospects probe every arm (−1, 0, 1..CODE_LEN).  Positions and
    insertion points come from a DISTRIBUTED rank — the
    ``dense_ids`` construction, not a per-(lvl, blk) window (whose
    corpus-sized blocks would sort on a single task): range-partition
    the union by (lvl, blk, angle, id, side), running-count clients
    locally per partition, and add each (partition, lvl, blk)'s
    exclusive prefix of client counts (a ≤(partitions + blocks)-row
    broadcast).  A client is "before" a prospect iff strictly less by
    (angle, id) — prospects sort before clients on full ties, exactly
    the SQL oracle's strict-less comparator.  Candidates are the
    clients in positions [ins−window+1, ins+window], fetched by an
    equi-join on (lvl, blk, ⌊pos/window⌋) with the prospect exploded
    to the ≤3 covering position blocks.

    Scale: candidates ≤ (CODE_LEN+2)·|L|·2·window — linear in the
    prospect count, independent of |R| (measured sf0.1→sf1: candidate
    volume grows 10×, not 100×).  The rank pass shuffles
    (CODE_LEN+2)·(|L|+|R|) slim rows via one range partitioning (no
    single-task sort at any block size); the candidate join's skew
    cap is the equal-depth position-block key ⌊pos/window⌋.

    ``window=None`` DERIVES the window from the data instead of
    pinning a constant (the round-9 pinned 256 was a scale landmine of
    the same species as round 8's bucket count — the exact-recall
    window grows with angle-tie density, so any constant is wrong at
    some corpus): a deterministic prospect sample
    (``left_id % sample_mod == 0`` — numeric ids; the mod HALVES
    itself until the sample holds ≥8 prospects, and an empty sample
    on a non-empty left raises instead of silently deriving the
    floor) is exact-scored against the whole corpus (ONE linear pass,
    |sample|·|R| dots — the cost of the exact kernel on a tiny left
    side), each true top-k pair's minimum required window across its
    shared arms is read off the already-built rank, and the window is
    max-need × 2 (out-of-sample safety pad) rounded up the
    power-of-two ladder, floor ``min_window`` (default 64; production
    callers floor at the measured-exact 256 so derivation can only
    RAISE the window, never lower it below the proven constant).
    Measured (SCALE.md round-11 appendix): sampled max-need
    15 → 16 → 78 at sf0.01/0.1/1, deriving window 64 → 64 → 256 —
    landing exactly on the measured-exact 256 at sf1, where the
    pinned-64 floor reads recall 0.9924 — with end-to-end recall
    1.0000 vs the exact kernel at all three scales; the derivation is
    an ESTIMATOR with measured margin, not a worst-case bound — the
    worst case (every client tied at one angle) degenerates to
    corpus-sized windows, which ``_ladder_window`` turns into a loud
    error instead of a silent quadratic plan (tie-heavy fixture +
    overflow pytests in test_hybrid_guards.py).

    ``window_cache``/``cache_key`` AMORTIZE the derivation across
    invocations against the same corpus snapshot (round-11 verdict
    #2: the production query re-ran the calibration on every call):
    pass a caller-owned mutable dict and a key that identifies the
    SNAPSHOT + scoring params — on a hit the cached window is used
    and the calibration jobs never run (the candidate build still
    shares its single rank pass either way); on a miss the derived
    window is stored after derivation.  The derived window is a pure
    function of (corpus, params), so a hit changes no results —
    staleness is the caller's contract: key by snapshot identity
    (path + version/date), never by table NAME across reloads, and
    drop the entry when the corpus is rebuilt (the nightly rhythm
    re-derives at index build instead — :func:`rank_window_index`).

    ``direction`` (fixed literals) swaps the 2-D angle key for the
    vectors' projection onto it — the projection family at any dim
    (:func:`projection_window_candidates`); everything else above
    applies unchanged, except that exactness becomes measured recall."""
    spark = left.sparkSession
    if direction is None:
        _require_dim2(right, vec_col, "rank_window_candidates(right)")
        _require_dim2(left, vec_col, "rank_window_candidates(left)")
    if (
        window is None
        and window_cache is not None
        and cache_key in window_cache
    ):
        window = int(window_cache[cache_key])
    cli = _arm_clients(right, right_id, vec_col, naics_col, direction)
    pro = _arm_prospects(left, left_id, vec_col, naics_col, direction)
    u = cli.unionByName(pro)
    if window is None:
        # COLD derivation: the calibration pass (sample agg + exact
        # |sample|·|R| kernel) overlaps the rank build, and the rank is
        # materialized — it is consumed by the derivation stats AND
        # both sides of the window-fetch join (guide §2.4).
        clis_base, pros_ins, _, mx = _calibrated_rank(
            spark, u,
            lambda: _derivation_sample(left, left_id, sample_mod)[:2],
            right, left_id, right_id,
            vec_col=vec_col, naics_col=naics_col,
            lat_col=lat_col, lon_col=lon_col,
            k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
        )
        window = _ladder_window(max(min_window, 2 * (mx or 0)))
        if window_cache is not None:
            window_cache[cache_key] = int(window)
    else:
        # warm path (window known): the rank's two consumers sit in ONE
        # job (both sides of the window-fetch), whose subtrees execute
        # as parallel stages off the checkpointed layout — an eager
        # materialization pass here would SERIALIZE that (measured
        # +0.3-0.5s at sf0.1), so only the cold path materializes
        clis_base, pros_ins = _rank_sides(_distributed_rank(u, spark))
    clis_pos = clis_base.withColumn(
        "__wb", F.floor((F.col("__cpos") - 1) / window)
    )
    return _window_fetch(pros_ins, clis_pos, window, left_id, right_id)


def _require_dim2(df: DataFrame, vec_col: str, who: str) -> None:
    """Fail LOUDLY when the rank-window path is handed vectors it
    cannot order correctly.  ``_window_key`` uses component 2 of the
    normalized vector as the angle proxy — a total order that matches
    the dot product ONLY for 2-D non-negative vectors.  Before this
    guard, a caller passing 64-dim embeddings got silently wrong
    candidates (low recall, no error); now misuse raises at plan-build
    time with a pointer at the high-dim operators.  Empty inputs pass
    (``probe_dim`` returns None; downstream yields empty results)."""
    dim = probe_dim(df, vec_col)
    if dim is not None and dim != 2:
        raise ValueError(
            f"{who}: rank-window candidates order clients by "
            f"element_at({vec_col}, 2)/||{vec_col}|| — exact only for "
            f"2-D non-negative vectors, but '{vec_col}' has dim={dim}. "
            "For higher-dim embeddings use the ANN operators instead "
            "(ann_lsh_topk / ivf / ivfpq in operators/similarity.py, "
            "operators/pq.py)."
        )


def _projection_key(direction: list[float], vec_col: str):
    """The projection-window sort key: the vector's dot product with a
    FIXED ``direction``, folded strictly left-to-right so every caller
    (candidate generator, index build, probe, insert) and the SQL
    oracle compute the bit-identical key.  Aliased ``__v1n`` to ride
    the shared arm/rank machinery.

    A non-null vector whose length is not ``len(direction)`` raises
    inside the plan (``raise_error``, like :func:`_dim_guarded`; no
    extra job): ``element_at`` past the end is NULL with ANSI off, so a
    too-long direction would key every row NULL and a too-short one by
    a partial projection — both silently wrong artifacts."""
    v = F.col(vec_col)
    proj = F.element_at(v, 1).cast("double") * float(direction[0])
    for i, w in enumerate(direction[1:], start=2):
        proj = proj + F.element_at(v, i).cast("double") * float(w)
    msg = F.concat(
        F.lit(f"projection window key: a '{vec_col}' vector has dim="),
        F.size(v).cast("string"),
        F.lit(f", the direction has {len(direction)} components"),
    )
    bad = v.isNotNull() & (F.size(v) != len(direction))
    return F.when(bad, F.raise_error(msg)).otherwise(proj).alias("__v1n")


def _window_key(vec_col: str, direction: list[float] | None = None):
    """The within-arm sort key (``__v1n``) — the ONLY thing the two
    window-index families differ in.  ``direction=None``: the 2-D
    angle proxy, component 2 of the normalized vector (exact for 2-D
    non-negative vectors, guarded by the eager :func:`_require_dim2`);
    a list: the fixed-direction projection at any dim
    (:func:`_projection_key`).  Every arm, rank, derivation, candidate,
    index, probe and insert path keys through here."""
    if direction is not None:
        return _projection_key(direction, vec_col)
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col).cast("array<double>"),
            F.lit(0.0),
            lambda a, x: a + x * x,
        )
    )
    return (F.element_at(F.col(vec_col), 2).cast("double") / nrm).alias(
        "__v1n"
    )


def _direction_str(direction: list[float]) -> str:
    """Canonical metadata encoding of a projection direction — stamped
    on the artifact (``__dir``) so probes verify they use the SAME
    projection the index was ranked by (a mismatched direction would
    silently fetch wrong neighborhoods, the exact hazard ``__w``
    already guards for the window)."""
    return ",".join(repr(float(w)) for w in direction)


def _parse_direction(s: str) -> list[float]:
    return [float(x) for x in s.split(",")] if s else []


def _malformed_expr(naics_col: str):
    # null-safe: NULL codes are malformed (length(NULL) != n is NULL,
    # which F.when treats as false — the isNull arm catches it)
    return F.col(naics_col).isNull() | (
        F.length(F.col(naics_col)) != CODE_LEN
    )


def _blk_expr(naics_col: str):
    return (
        F.when(F.col("__lvl") == -1, F.lit(" __malformed"))
        .when(F.col("__lvl") == 0, F.lit(""))
        .otherwise(F.expr(f"substring({naics_col}, 1, __lvl)"))
    )


def _arm_clients(
    right: DataFrame,
    right_id: str,
    vec_col: str,
    naics_col: str,
    direction: list[float] | None = None,
) -> DataFrame:
    """Clients exploded to their arms: malformed codes go ONLY to the
    lvl −1 sentinel arm; well-formed codes to lvl 0 (global) + every
    p-prefix arm, keyed by :func:`_window_key`."""
    wf_lvls = F.array(*[F.lit(i) for i in range(CODE_LEN + 1)])
    mal_lvls = F.array(F.lit(-1))
    malformed = _malformed_expr(naics_col)
    return (
        right.select(
            F.col(right_id).alias("__id"),
            _window_key(vec_col, direction),
            F.col(naics_col),
        )
        .select(
            "__id",
            "__v1n",
            naics_col,
            F.explode(F.when(malformed, mal_lvls).otherwise(wf_lvls)).alias(
                "__lvl"
            ),
        )
        .select(
            "__id",
            "__v1n",
            "__lvl",
            _blk_expr(naics_col).alias("__blk"),
            F.lit(1).alias("__isc"),
        )
    )


def _arm_prospects(
    left: DataFrame,
    left_id: str,
    vec_col: str,
    naics_col: str,
    direction: list[float] | None = None,
) -> DataFrame:
    """Prospects probe EVERY arm (a malformed prospect's lvl>=1 probes
    carry junk/NULL prefixes — NULL keys drop from the equi-join, junk
    prefixes only add candidates; its coverage is the lvl −1 and lvl 0
    arms, where its hops is the constant −1)."""
    all_lvls = F.array(*[F.lit(i) for i in range(-1, CODE_LEN + 1)])
    return (
        left.select(
            F.col(left_id).alias("__id"),
            _window_key(vec_col, direction),
            F.col(naics_col),
        )
        .select(
            "__id", "__v1n", naics_col, F.explode(all_lvls).alias("__lvl")
        )
        .select(
            "__id",
            "__v1n",
            "__lvl",
            _blk_expr(naics_col).alias("__blk"),
            F.lit(0).alias("__isc"),
        )
        .filter(F.col("__blk").isNotNull())
    )


def _distributed_rank(
    u: DataFrame, spark, materialize: bool = False
) -> DataFrame:
    """Running client-count per (lvl, blk) in (angle, id, side) order,
    WITHOUT a per-block window (corpus-sized blocks would sort on one
    task): the dense_ids construction — one range partitioning, local
    running sums, and a ≤(partitions + blocks)-row broadcast of
    exclusive prefix offsets.  Prospects sort before clients on full
    (angle, id) ties, so a tied client is NOT counted — the SQL
    oracle's strict-less comparator.  Returns
    (__id, __v1n, __lvl, __blk, __isc, __pos) where __pos is a
    client's 1-based rank among the arm's clients, or a prospect's
    insertion count.

    ``materialize=True`` localCheckpoints the RANKED output too (one
    extra pass over the already-checkpointed layout) — for callers
    that consume the rank MORE THAN ONCE (the cold candidate path
    reads it for the derivation stats AND for both sides of the
    window-fetch join; the standalone derivations read both side
    projections in one job): each extra consumer otherwise re-runs
    the offsets join + running-sum window per subtree (guide §2.4 —
    the same keyed exchange repeated).  Single-consumer callers (the
    index builders, compact/insert) leave it False — for them the
    extra pass is pure cost."""
    from pyspark.sql import Window

    n_parts = spark.sparkContext.defaultParallelism
    # localCheckpoint (NOT persist): the collected offsets are only
    # valid against the exact partition ids the offsets pass saw.  A
    # persist()ed frame can silently RECOMPUTE on executor loss —
    # re-sampling range boundaries and reassigning spark_partition_id
    # while the already-collected offsets are stale, i.e. silently
    # wrong positions.  localCheckpoint truncates lineage: the ranked
    # layout either survives as materialized blocks or the job FAILS
    # loudly — never desynchronizes.  Blocks live outside the
    # CacheManager and are reclaimed by the ContextCleaner once the
    # result frame is garbage-collected (no clearCache dependence).
    u = (
        u.repartitionByRange(
            n_parts, "__lvl", "__blk", "__v1n", "__id", "__isc"
        )
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = (
        u.groupBy("__pid", "__lvl", "__blk")
        .agg(F.sum("__isc").alias("__c"))
        .collect()
    )
    off_rows, running, prev = [], 0, None
    for r in sorted(counts, key=lambda r: (r["__lvl"], r["__blk"], r["__pid"])):
        key = (r["__lvl"], r["__blk"])
        if key != prev:
            running, prev = 0, key
        off_rows.append((r["__pid"], r["__lvl"], r["__blk"], running))
        running += r["__c"] or 0
    offsets = spark.createDataFrame(
        off_rows or [(0, 0, "", 0)],
        "__pid int, __lvl int, __blk string, __off long",
    )
    local = Window.partitionBy("__pid", "__lvl", "__blk").orderBy(
        "__v1n", "__id", "__isc"
    )
    pos = F.col("__off") + F.sum("__isc").over(
        local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = u.join(F.broadcast(offsets), ["__pid", "__lvl", "__blk"]).select(
        "__id", "__v1n", "__lvl", "__blk", "__isc", pos.alias("__pos")
    )
    return ranked.localCheckpoint() if materialize else ranked


def _rank_sides(ranked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two side projections of a :func:`_distributed_rank` output:
    clients ``(__rid, __lvl, __blk, __cpos)`` and prospects
    ``(__tid, __lvl, __blk, __ins)``."""
    clis = ranked.filter(F.col("__isc") == 1).select(
        F.col("__id").alias("__rid"),
        "__lvl",
        "__blk",
        F.col("__pos").alias("__cpos"),
    )
    pros = ranked.filter(F.col("__isc") == 0).select(
        F.col("__id").alias("__tid"),
        "__lvl",
        "__blk",
        F.col("__pos").alias("__ins"),
    )
    return clis, pros


def _window_fetch(
    pros_ins: DataFrame,
    clis_pos: DataFrame,
    window: int,
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Fetch the clients in positions [ins−window+1, ins+window] via an
    equi-join on (lvl, blk, ⌊pos/window⌋), the prospect exploded to the
    ≤3 covering position blocks.  The batch candidate path's fetch:
    the prospect side is the full left relation, and a shuffle join on
    the bounded (lvl, blk, wb) key is the right plan at any |L| (the
    serving probe fetches in :func:`_projection_probe_resolved`)."""
    probes = pros_ins.select(
        "__tid",
        "__lvl",
        "__blk",
        "__ins",
        F.explode(
            F.array(
                F.floor(F.col("__ins") / window) - 1,
                F.floor(F.col("__ins") / window),
                F.floor(F.col("__ins") / window) + 1,
            )
        ).alias("__wb"),
    )
    return (
        probes.join(clis_pos, ["__lvl", "__blk", "__wb"])
        .filter(
            F.col("__cpos").between(
                F.col("__ins") - window + 1, F.col("__ins") + window
            )
        )
        .select(
            F.col("__tid").alias(left_id), F.col("__rid").alias(right_id)
        )
        .distinct()
    )


def derive_rank_window_stats(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    sample_mod: int = 500,
    min_window: int = 64,
    prev_window: int | None = None,
    direction: list[float] | None = None,
) -> dict:
    """STANDALONE window derivation — for :func:`rank_window_index`
    builds (derive once at index time; probes must reuse the index's
    window) and the registered derivation-evidence query.  Same
    estimator as ``rank_window_candidates(window=None)``: exact-score
    a deterministic prospect sample (``left_id % sample_mod == 0``,
    auto-widened to ≥8 prospects — :func:`_derivation_sample`)
    against the whole corpus — ONE linear |sample|·|R| pass — read
    each true top-k pair's minimum required window off a rank of the
    full client corpus plus only the sampled prospects, then pad ×2
    and round up the power-of-two ladder (floor ``min_window``).

    ``prev_window`` WARM-STARTS the derivation from the previous
    snapshot's derived window (round-14 verdict #3 / optimization
    round 15): the calibration kernel is the derivation's entire cost
    at scale (sf10: one 3,000-sample × 1.35M-client pass = 361 s of a
    ~372 s derivation), so a nightly rebuild against a corpus that
    drifted only marginally re-pays it for an answer it already has.
    With ``prev_window`` set, the derivation first runs on a ~8×
    SMALLER sample (mod ``sample_mod·8`` — the mod is the INVERSE of
    the sampling rate, so a larger mod samples fewer prospects); if
    that cheap pass derives a window ≤
    ``prev_window`` the previous window is KEPT (stability: the
    window never shrinks between nightly builds without a full pass),
    otherwise the FULL-sample derivation runs — escalation, the rare
    path, costs one wasted warm pass.  Estimator semantics are
    unchanged in kind: the full derivation is itself a sampled
    estimate with a ×2 out-of-sample pad, and the warm check replaces
    one sampled max-need with (previous full estimate + a fresh
    smaller-sample drift check against the SAME ×2 pad).  A corpus
    whose tie density grew past the previous pad fails the check and
    escalates; measured at sf1/sf10 the warm pass reproduces the
    full-pass window with the calibration cost cut ~2.5-7×
    (OPTIMIZATION_r15.md).

    SENSITIVITY LIMIT (measured, sf1 projection family): the warm
    check compares a SMALLER-sample max-need against ``prev_window``,
    and max statistics shrink with sample size (sf1: 38-prospect warm
    mx 510 vs 300-prospect full mx 1131) — so a prev sitting at or
    below the full-pass window but ON the warm ladder rung can be
    falsely kept (prev = cold/4 was kept at sf1; prev = cold/8
    escalated correctly).  In the nightly deployment prev IS
    yesterday's full-derived window, so a false keep requires the
    corpus to out-drift the ×2 pad in one rebuild cycle; still, run a
    full derivation (``prev_window=None``) on a fixed cadence (e.g.
    weekly) to bound staleness, exactly like any TTL'd estimate.  At
    decade scale the warm sample is large in absolute terms (sf10:
    375 prospects — the size of sf1's FULL sample), so the shrinkage
    narrows precisely where the calibration is expensive.

    Returns ``{"n_sampled", "n_pairs", "max_needed", "window",
    "sample_mod"}`` (``max_needed`` None when the sample yields no
    pairs — window falls to the floor; at corpora small enough to
    sample nothing, the floor is ≥ the measured exact-recall need by
    a wide margin).  With ``prev_window``, two extra keys:
    ``warm_start`` (True = previous window kept) and ``warm_window``
    (what the small-sample pass derived).

    ``direction`` derives for the projection family
    (:func:`derive_projection_window_stats`)."""
    spark = left.sparkSession
    scoring = dict(
        vec_col=vec_col, naics_col=naics_col,
        lat_col=lat_col, lon_col=lon_col,
        k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
    )
    if prev_window is not None:
        same = dict(
            scoring, min_window=min_window, direction=direction,
        )
        warm = derive_rank_window_stats(
            left, right, left_id, right_id,
            sample_mod=sample_mod * 8, **same,
        )
        if warm["window"] <= prev_window:
            return {
                **warm,
                "window": int(prev_window),
                "warm_start": True,
                "warm_window": warm["window"],
            }
        full = derive_rank_window_stats(
            left, right, left_id, right_id, sample_mod=sample_mod, **same
        )
        return {
            **full,
            "warm_start": False,
            "warm_window": warm["window"],
        }
    if direction is None:
        _require_dim2(right, vec_col, "derive_rank_window_stats(right)")
        _require_dim2(left, vec_col, "derive_rank_window_stats(left)")
    sample, n_sampled, used_mod = _derivation_sample(
        left, left_id, sample_mod
    )
    cli = _arm_clients(right, right_id, vec_col, naics_col, direction)
    pro = _arm_prospects(sample, left_id, vec_col, naics_col, direction)
    _, _, n_pairs, mx = _calibrated_rank(
        spark, cli.unionByName(pro), lambda: (sample, n_sampled),
        right, left_id, right_id, **scoring,
    )
    return {
        "n_sampled": n_sampled,
        "n_pairs": n_pairs,
        "max_needed": mx,
        "window": _ladder_window(max(min_window, 2 * (mx or 0))),
        "sample_mod": used_mod,
    }


def rank_window_index(
    right: DataFrame,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    window: int | None = 64,
    calibration: DataFrame | None = None,
    calibration_id: str | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    sample_mod: int = 500,
    min_window: int = 64,
    prev_window: int | None = None,
    direction: list[float] | None = None,
) -> DataFrame:
    """Build the PERSISTABLE client-side index of the rank-window peer
    search — the serving-path split (same pattern as the incremental
    dedup's persisted band-key index): rank the client corpus ONCE,
    write/cache the result, and let :func:`rank_window_probe` answer
    per-prospect (or per-micro-batch) lookups without re-ranking
    anything.

    Returns one row per (client, arm): ``(__rid, __v1n, __lvl, __blk,
    __cpos, __wb, __w)`` — the client's 1-based angle-rank within the
    arm, its window-block id, and the BUILD WINDOW as a constant
    metadata column.  Positions are DENSE per (lvl, blk), so every
    window block below an arm's last is exactly ``window`` rows — the
    fact the probe's offset arithmetic relies on; ``__w`` is what lets
    :func:`rank_window_probe` verify (or derive) the window it must
    use — a probe with a mismatched window silently fetches wrong
    neighborhoods, so the window travels WITH the artifact.

    Scale: (CODE_LEN+1)·|R| slim rows, ranked by the distributed
    dense_ids construction (no single-task sort); write it
    partitioned by ``__lvl`` (NOT by ``__blk``: the global arm's block
    id is the empty string, which Hive-style partition paths round-trip
    as NULL — pytest-pinned parquet round-trip) and sorted/bucketed by
    (__blk, __wb) within files for pruned probe I/O.

    ``window=None`` DERIVES the build window at index time — the
    nightly-build story end to end: pass ``calibration`` (a
    representative prospect frame, e.g. yesterday's batch) and
    ``calibration_id``, and :func:`derive_rank_window_stats` picks the
    window from the corpus' measured tie density (floor
    ``min_window``; the remaining keyword args parameterize the
    calibration scoring).  Probes then need no window at all — they
    read ``__w`` off the artifact.  ``prev_window`` (read yesterday's
    ``__w`` off the previous artifact) warm-starts that derivation —
    the nightly amortization: the calibration kernel re-runs in full
    only when the corpus drifted past the previous window (see
    :func:`derive_rank_window_stats`).

    ``direction`` builds the projection family's artifact
    (:func:`projection_window_index`), stamped with ``__dir`` too."""
    spark = right.sparkSession
    if direction is None:
        _require_dim2(right, vec_col, "rank_window_index(right)")
    if window is None:
        if calibration is None or calibration_id is None:
            raise ValueError(
                "rank_window_index: window=None derives the build "
                "window from the data — pass calibration= (a "
                "representative prospect frame) and calibration_id=, "
                "or an explicit window."
            )
        window = derive_rank_window_stats(
            calibration, right, calibration_id, right_id,
            vec_col=vec_col, naics_col=naics_col,
            lat_col=lat_col, lon_col=lon_col,
            k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
            sample_mod=sample_mod,
            min_window=min_window, prev_window=prev_window,
            direction=direction,
        )["window"]
    cli = _arm_clients(right, right_id, vec_col, naics_col, direction)
    ranked = _distributed_rank(cli, spark)
    return _index_rows(ranked, window, direction)


def _index_rows(
    ranked: DataFrame, window: int, direction: list[float] | None = None
) -> DataFrame:
    """Artifact rows from a ``_distributed_rank`` output: dense per-arm
    positions, window blocks, and the build metadata (``__w``; plus
    ``__dir`` for the projection family — ``[]`` stamps the empty form
    an emptied projection artifact keeps) — shared by the nightly
    builds, compaction, and insert so every producer stamps the same
    schema."""
    cols = [
        F.col("__id").alias("__rid"),
        "__v1n",
        "__lvl",
        "__blk",
        F.col("__pos").alias("__cpos"),
        F.floor((F.col("__pos") - 1) / window).alias("__wb"),
        F.lit(int(window)).alias("__w"),
    ]
    if direction is not None:
        cols.append(F.lit(_direction_str(direction)).alias("__dir"))
    return ranked.select(*cols)


def _meta_bounds(index: DataFrame, col: str) -> tuple:
    """(min, max) of a build-metadata column (``__w`` / ``__dir``).  A
    frame straight from ``read_published`` answers from its version
    manifest — no job; the publish already checked that the column
    holds one value.  Any other frame (in-memory builds, legacy
    versions, transformed reads) pays one small agg job; (None, None)
    when the index is empty."""
    manifest = published_manifest(index)
    if manifest is not None and col in manifest["meta"]:
        v = manifest["meta"][col]
        return v, v
    row = index.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
    return (row["lo"], row["hi"]) if row is not None else (None, None)


def _resolve_window_meta(
    index: DataFrame,
    window: int | None = None,
    direction: list[float] | None = None,
    who: str = "rank_window_probe",
    empty_ok: bool = False,
) -> tuple[int, list[float] | None]:
    """The build metadata every consumer of a window artifact MUST use
    — ``(window, direction)``, direction None for the 2-D family (no
    ``__dir`` column): the insertion count, the ``__wb`` equi-join and
    the prospect keys are silently wrong on any other value (round-10
    advice).  Read from the version manifest of a published read, else
    one small agg job per column (:func:`_meta_bounds`).  Shared by
    both probes, ``serve_batch``, insert, compact and the streaming
    loops; ``who`` names the calling operator in every error.

    Each column is checked min == max, not an arbitrary first row: an
    index path holding MIXED builds (a rebuild appended over an old
    artifact, or two builds unioned) is exactly the
    silent-wrong-neighborhood hazard this exists to catch, so it
    raises loudly.  ``window=None``/``direction=None`` take the stored
    value; explicit values are validated (a mismatch raises).
    Pre-round-11 indexes without ``__w`` require an explicit window.
    An EMPTY index (e.g. fully tombstoned) resolves to the caller's
    window (default 64) and direction; a projection artifact with no
    direction to fall back on raises, or with ``empty_ok`` resolves to
    ``[]`` — compaction keeps the emptied artifact in its family."""
    if "__dir" in index.columns:
        lo, hi = _meta_bounds(index, "__dir")
        if lo is None:
            # empty index: any direction yields the empty result
            if direction is not None:
                direction = [float(w) for w in direction]
            elif empty_ok:
                direction = []
            else:
                raise ValueError(
                    f"{who}: the index is EMPTY and no "
                    "direction was passed — prospect/arrival keys cannot "
                    "be computed; pass direction= explicitly."
                )
        elif lo != hi:
            raise ValueError(
                f"{who}: index holds MIXED projection "
                f"directions ({lo!r} vs {hi!r}) — e.g. a "
                "rebuild under a new direction appended over an old "
                "artifact. Rebuild the index path cleanly."
            )
        else:
            stored = _parse_direction(lo)
            if direction is not None and [float(w) for w in direction] != stored:
                raise ValueError(
                    f"{who}: direction={list(direction)} "
                    f"does not match the index's build direction {stored} — "
                    "probing with a mismatched projection silently fetches "
                    "wrong neighborhoods. Pass direction=None to use the "
                    "index's."
                )
            direction = stored
    else:
        direction = None
    if "__w" not in index.columns:
        if window is None:
            raise ValueError(
                f"{who}: window=None but the index carries no "
                "__w metadata column (pre-round-11 artifact) — pass the "
                "window the index was built with explicitly."
            )
        return int(window), direction
    lo, hi = _meta_bounds(index, "__w")
    if lo is None:
        # empty index: every window yields the empty result
        return (window if window is not None else 64), direction
    if int(lo) != int(hi):
        raise ValueError(
            f"{who}: index holds MIXED build windows "
            f"__w ∈ [{int(lo)}, {int(hi)}] — e.g. a "
            "rebuild appended over an old artifact. Rebuild the "
            "index path cleanly; probing mixed builds silently "
            "fetches wrong neighborhoods."
        )
    if window is not None and int(window) != int(lo):
        raise ValueError(
            f"{who}: window={window} does not match "
            f"the index's build window __w={int(lo)} — probing with a "
            "mismatched window silently fetches wrong "
            "neighborhoods. Pass window=None to use the index's."
        )
    return int(lo), direction


def rank_window_probe(
    left: DataFrame,
    index: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    window: int | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Probe a :func:`rank_window_index` with a prospect batch and
    return the SAME candidate pairs as the batch
    :func:`rank_window_candidates` (pytest-pinned set equality) —
    WITHOUT touching the client corpus beyond the probed window
    blocks.  Per-row independent, so it composes with streaming
    (``foreachBatch`` or a stream-static join per micro-batch) and
    splitting the prospect set across batches cannot change any
    prospect's candidates.

    Insertion point from the index alone
    (:func:`_projection_probe_resolved`):
    window blocks are dense (block ``wb`` holds positions
    ``wb·window+1 ..``), so the straddling block ``swb`` — the last
    block whose FIRST (key, id) ≤ the prospect's, read map-side off a
    broadcast array of block starts — pins the insertion window inside
    blocks swb−1..swb+1.  One fetch of those blocks then yields both
    the insertion count (the position of the last fetched client
    strictly below the prospect) and the ±window band.  The
    strict-less comparator on (angle, id) is the batch path's exactly.

    Scale: the block starts are |R|·(CODE_LEN+1)/window rows
    (broadcast); each prospect touches 3 window blocks of the index —
    at serving batch sizes that is an index lookup, not a corpus pass;
    two index scans and one batch-sized exchange per probe.

    ``window=None`` (the default) reads the window off the index's
    ``__w`` metadata column (the version manifest of a published read,
    else one agg job); an explicit ``window`` is VALIDATED against it
    — a mismatch raises instead of silently fetching wrong
    neighborhoods (round-10 advice).

    ``tombstones`` (a small frame carrying deleted client ids in a
    ``right_id`` column) removes clients from serving BETWEEN nightly
    rebuilds: fetched candidate pairs are anti-joined against the
    broadcast tombstone set, so a deleted client can never surface as
    a peer.  UNLIKE the IVF/dedup artifacts, positions here are
    corpus-relative: the tombstone probe equals the un-tombstoned
    probe minus deleted pairs (pytest-pinned) but NOT a rebuild — a
    deleted client still occupies its rank, so each window
    effectively covers up to |deleted ∩ window| fewer live clients
    until :func:`rank_window_compact` re-densifies (fine while
    |deleted| ≪ window slack; the derivation's ×2 pad is exactly that
    slack).  Run compaction once tombstones accumulate; the
    compacted probe IS the rebuild, value-oracled end to end
    (``rank_window_delete_e2e``).

    Every probe-derived frame is broadcast (the SERVING contract:
    probe batches are bounded), so the corpus-sized index never
    shuffles.  A CORPUS-SIZED prospect relation (bulk replays,
    backfills) belongs on :func:`rank_window_candidates`, whose
    window fetch shuffle-joins on the bounded (lvl, blk, wb) key."""
    if "__dir" in index.columns:
        raise ValueError(
            "rank_window_probe: this index carries __dir metadata — it "
            "is a PROJECTION-window artifact; probe it with "
            "projection_window_probe (the 2-D angle key would fetch "
            "wrong neighborhoods)."
        )
    _require_dim2(left, vec_col, "rank_window_probe(left)")
    window, _ = _resolve_window_meta(index, window)
    return _projection_probe_resolved(
        left, index, left_id, right_id, None, window,
        vec_col, naics_col, tombstones,
    )


def _projection_probe_resolved(
    left: DataFrame,
    index: DataFrame,
    left_id: str,
    right_id: str,
    direction: list[float] | None,
    window: int,
    vec_col: str = "vec",
    naics_col: str = "naics",
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """THE probe body of both families, AFTER metadata resolution
    (:func:`_resolve_window_meta`) — called by both public probes, and
    directly by ``serve_batch`` and the streaming loops, which resolve
    ``__w``/``__dir`` ONCE and must not re-run the metadata agg jobs
    every micro-batch.  ``direction`` picks the prospect key
    (:func:`_window_key`: None = the 2-D angle); everything after that
    is in terms of the stored ``__v1n`` sort keys.  Two index scans
    and one batch-sized exchange:

    1. BLOCK STARTS: the first row of every window block
       (``(__cpos − 1) % window == 0``, dense positions) collected into
       one array per arm — only |R|·arms/window rows reach this small
       aggregate, and it broadcasts (index-derived, bounded).
    2. STRADDLING BLOCK, map-side: ``swb`` = the last block whose first
       (key, id) is ≤ the prospect's (−1 when the prospect precedes
       every client).  The insertion window [ins−window+1, ins+window]
       lies inside blocks swb−1..swb+1, so ONE equi-join on
       (lvl, blk, wb) pulls exactly those blocks — broadcasting the
       batch-sized probe side, so the corpus-sized index never
       shuffles — and one ``repartition`` by prospect id follows.
    3. After that exchange nothing shuffles again: the insertion count
       is a window max over (prospect, arm) — ``ins`` = the position
       of the last fetched client strictly below (key, id) on the batch
       path's strict-less (angle, id) comparator (0 if none; blocks
       below swb−1 lie wholly below it, so the fetched blocks always
       contain that client) — then the position band, ``distinct``,
       the tombstone anti-join, and the caller's feature joins and
       top-K all reuse the prospect-id partitioning."""
    from pyspark.sql import Window

    pro = _arm_prospects(left, left_id, vec_col, naics_col, direction)

    k_lt = lambda a_v, a_i, b_v, b_i: (a_v < b_v) | (  # noqa: E731
        (a_v == b_v) & (a_i < b_i)
    )
    starts = (
        index.filter((F.col("__cpos") - 1) % window == 0)
        .groupBy("__lvl", "__blk")
        .agg(
            F.collect_list(
                F.struct("__wb", "__v1n", F.col("__rid").alias("__id"))
            ).alias("__starts")
        )
    )
    below = F.filter(
        "__starts",
        lambda b: ~k_lt(F.col("__v1n"), F.col("__id"), b["__v1n"], b["__id"]),
    )
    swb = F.coalesce(
        F.array_max(F.transform(below, lambda b: b["__wb"])), F.lit(-1)
    )
    probes = pro.join(F.broadcast(starts), ["__lvl", "__blk"]).select(
        F.col("__id").alias("__tid"),
        F.col("__v1n").alias("__k"),
        "__lvl",
        "__blk",
        F.explode(F.array(swb - 1, swb, swb + 1)).alias("__wb"),
    )
    fetched = F.broadcast(probes).join(
        index.select(
            "__lvl", "__blk", "__wb", "__cpos", "__rid",
            F.col("__v1n").alias("__cv"),
        ),
        ["__lvl", "__blk", "__wb"],
    ).repartition("__tid")
    arm = Window.partitionBy("__tid", "__k", "__lvl", "__blk")
    ins = F.coalesce(
        F.max(
            F.when(
                k_lt(F.col("__cv"), F.col("__rid"), F.col("__k"), F.col("__tid")),
                F.col("__cpos"),
            )
        ).over(arm),
        F.lit(0),
    )
    fetched = (
        fetched.withColumn("__ins", ins)
        .filter(
            F.col("__cpos").between(
                F.col("__ins") - window + 1, F.col("__ins") + window
            )
        )
        .select(F.col("__tid").alias(left_id), F.col("__rid").alias(right_id))
        .distinct()
    )
    if tombstones is not None:
        # re-select: a named-column join hoists the key to column 0,
        # which would silently swap (left_id, right_id) positionally
        fetched = drop_tombstoned(fetched, tombstones, right_id).select(
            left_id, right_id
        )
    return fetched


def rank_window_compact(
    index: DataFrame, tombstones: DataFrame
) -> DataFrame:
    """COMPACT a :func:`rank_window_index` artifact after deletions —
    the job that turns probe-time tombstone anti-joins back into a
    dense artifact.  Positions are corpus-relative (a client's
    ``__cpos`` counts every client ranked before it, deleted or not),
    so unlike the IVF/dedup compactions a bare filter is NOT enough:
    surviving rows are RE-RANKED per (lvl, blk) over their stored
    ``__v1n`` keys — the same distributed dense_ids construction the
    build uses, no corpus rescan, no re-normalization (``__v1n`` is
    bit-exact from the build) — and ``__cpos``/``__wb`` recomputed at
    the index's own ``__w``.  The result is EXACTLY
    ``rank_window_index(corpus minus deleted, window=__w)``
    (rebuild-equivalence pytest-pinned; ``rank_window_delete_e2e``
    pins the compacted probe against the rebuild-minus-deleted SQL
    replay).  Cost: one index scan + the offsets pass — ≪ the nightly
    build, which also re-arms and re-normalizes the corpus.

    The build window is kept, not re-derived: tie density can only
    DROP when clients are removed, so the build's ``__w`` stays
    sufficient; the nightly rebuild re-derives as usual.

    ``tombstones``: the deleted client ids in its FIRST column (any
    name — the index stores ids as ``__rid``, so there is no caller
    column name to match against).

    Works unchanged on PROJECTION-family artifacts (round 14): the
    re-rank runs over the STORED ``__v1n`` keys, which already carry
    the projection, and the ``__dir`` metadata is validated
    (mixed-direction artifacts raise) and re-stamped."""
    # an EMPTIED (fully-tombstoned) projection artifact has no stored
    # direction (round-15 advice: degrade gracefully, like the
    # empty-index window default) — it resolves to [] and re-stamps
    # the empty canonical form: values in an empty frame are
    # irrelevant, but the column keeps the artifact in the
    # projection family for a later direction-supplied insert
    w, direction = _resolve_window_meta(
        index, who="rank_window_compact", empty_ok=True
    )
    kept = index.join(
        F.broadcast(tombstones.selectExpr(
            f"{tombstones.columns[0]} AS __rid"
        )),
        "__rid",
        "left_anti",
    )
    u = kept.select(
        F.col("__rid").alias("__id"), "__v1n", "__lvl", "__blk",
        F.lit(1).alias("__isc"),
    )
    ranked = _distributed_rank(u, index.sparkSession)
    return _index_rows(ranked, w, direction)


def rank_window_insert(
    index: DataFrame,
    arrivals: DataFrame,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    direction: list[float] | None = None,
) -> DataFrame:
    """INSERT intraday client arrivals into a :func:`rank_window_index`
    artifact without re-touching the existing corpus — the last CRUD
    cell for this artifact (delete/compact: round 12 above; the IVF
    twin is ``ann_ivf_incremental_insert``).  Positions are
    corpus-relative, so unlike the IVF insert a bare union is wrong:
    an arriving client shifts every position after its angle rank.
    But the index already stores each row's full sort key
    (``__v1n``, arm) — so the merge is: arm + angle-normalize ONLY
    the arrivals, union with the stored slim rows, and re-run the
    distributed dense rank.  The result equals
    ``rank_window_index(old corpus ∪ arrivals, window=__w)`` EXACTLY
    (rebuild-equivalence pytest; ``rank_window_insert_e2e`` pins the
    probed serving under the full value oracle), at the cost of one
    index scan + |arrivals| arming — never a corpus rescan.

    The build window ``__w`` is KEPT: unlike deletion, inserts can
    RAISE the corpus' tie density, so a sustained-growth deployment
    re-derives at the next nightly build (the derivation measured the
    need trajectory 15 → 16 → 78 → 364 across four decades — density
    grows with scale); intraday arrival volumes ride the ×2
    derivation pad.  Mixed-window unions still raise at probe time
    (``_resolve_window_meta``).

    PRECONDITION — new ids only (round-13 advice): an arrival whose
    id already exists in the index would union a SECOND ``__rid`` row
    per arm and silently shift every later position, breaking the
    insert≡rebuild equivalence.  UPDATES must ride the same path as
    the IVF twin: tombstone the old row, compact, insert the new one.
    Arrivals already present are therefore dropped here (one anti-join
    of the small arrival frame against the index's distinct id set —
    an index scan that the re-rank below performs anyway), keeping the
    rebuild equivalence exact for the surviving (genuinely new)
    arrivals.  The same hazard WITHIN the arrival batch (round-14
    advice: one new id appearing twice in the same frame would union
    two ``__rid`` rows per arm past the index anti-join) is closed by
    ``dropDuplicates([right_id])`` — exactly one row per id survives;
    which one is arbitrary, so an arrival batch carrying CONFLICTING
    payloads for one id is an upstream bug (conflicting updates ride
    tombstone → compact → insert, like the IVF twin).

    PROJECTION-family artifacts (round 14) insert through here too:
    when the index carries ``__dir``, the arrivals' sort keys are
    computed with THAT stored projection (validated, re-stamped) —
    the direction travels with the artifact, so an insert can never
    rank arrivals by a different key than the corpus was built on."""
    # ``direction`` is a FALLBACK for an EMPTIED __dir artifact only
    # (round-15 advice): a non-empty index resolves — and VALIDATES
    # the caller's value against — its own stored metadata, so an
    # insert can never key arrivals differently than the corpus; an
    # emptied artifact has nothing stored, and re-seeding it requires
    # the caller to say which projection the family rides.  A 2-D
    # artifact ignores it.
    w, direction = _resolve_window_meta(
        index, direction=direction, who="rank_window_insert"
    )
    if direction is None:
        _require_dim2(arrivals, vec_col, "rank_window_insert(arrivals)")
    arrivals = arrivals.dropDuplicates([right_id]).join(
        index.select(F.col("__rid").alias(right_id)).distinct(),
        right_id,
        "left_anti",
    )
    new = _arm_clients(
        arrivals, right_id, vec_col, naics_col, direction
    )
    old = index.select(
        F.col("__rid").alias("__id"), "__v1n", "__lvl", "__blk",
        F.lit(1).alias("__isc"),
    )
    ranked = _distributed_rank(
        old.unionByName(new), index.sparkSession
    )
    return _index_rows(ranked, w, direction)


def derive_projection_window_stats(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    direction: list[float],
    **kwargs,
) -> dict:
    """:func:`derive_rank_window_stats` keyed by the fixed-``direction``
    projection — the projection family's window derivation (same
    estimator and warm start).  Consumers: :func:`projection_window_index`
    builds and the kernel-vs-window DISPATCH (round-13 verdict #1),
    which compares the derived window's predicted candidate volume
    against the exact kernel's — see :func:`projection_window_wins`."""
    return derive_rank_window_stats(
        left, right, left_id, right_id, direction=direction, **kwargs
    )


#: Measured per-candidate cost ratio of the projection-window path vs
#: the exact blocked-GEMM kernel, per scored pair: at sf1 on the
#: 9-dim firmographics recipe the window path scored 7·2·4096 = 57,344
#: candidates/prospect in 636 s where the kernel scored the full
#: 135k clients/prospect in 51 s (SCALE.md round-13) —
#: (636/57,344)/(51/135,000) ≈ 29× more wall per candidate (the rank
#: shuffle + window-fetch join + distinct vs one BLAS row).  32 is
#: that measurement rounded up: the dispatch prefers the kernel near
#: the boundary, because the kernel is exact and its cost model has
#: no data-geometry risk.
#:
#: PROVENANCE & RE-MEASUREMENT (round-14 verdict #7): the ~29× was
#: measured at sf1 (SCALE.md round-13 general-dim appendix) and
#: re-confirmed at sf10, where the kernel's 100-prospect subsample
#: throughput against the probe's fetched-pair throughput reproduces
#: the same constant ("same constant the dispatcher uses", SCALE.md
#: round-14 fourth-decade appendix) — two decades on record.  It is a
#: BATCH-path constant: both sides of the batch dispatch run the same
#: scoring over different candidate volumes, so the ratio captures
#: the candidate-generation machinery (rank shuffle + fetch join +
#: distinct) per emitted pair.  Re-measure (SCALE.md round-14
#: appendix; its script is retired, ``git show 1ee4bd4:scripts/``) if
#: the candidate fetch plan, the re-rank path, or the kernel blocking
#: changes; the serving-side twin (which has DIFFERENT overhead shape)
#: is the separate interpolated rule in :func:`serving_cost_ratio`.
#: The flip boundary is pytest-pinned at this documented value
#: (tests/test_projection_artifact.py::
#: test_projection_window_dispatch_rule).
PROJECTION_WINDOW_COST_RATIO = 32


def projection_window_wins(window: int, n_right: int) -> bool:
    """The kernel-vs-window DISPATCH RULE (round-13 verdict #1): take
    the projection-window candidate path only when its predicted
    per-prospect candidate volume — ``(CODE_LEN+1) · 2 · window``
    (well-formed arms; the malformed arm is additive noise) — costs
    less than the exact kernel's ``n_right`` pairs at the MEASURED
    per-candidate cost ratio (:data:`PROJECTION_WINDOW_COST_RATIO`).  Both sides scale with |prospects|, so
    the prospect count cancels.  On near-uniform geometries the
    derived window grows ~linearly with corpus density (measured
    133 → 1305 per ×10 data, SCALE.md round-13), so this picks the
    kernel there — at sf1 the window path measured 636 s vs the
    kernel's 51 s on identical input; on clustered real corpora the
    derivation lands small windows and the window path wins the
    asymptotics.  The deciding quantity is exactly what the
    derivation already computes, so dispatch adds no jobs beyond the
    one `count()` of the client corpus."""
    return (CODE_LEN + 1) * 2 * window * PROJECTION_WINDOW_COST_RATIO < n_right


#: Measured SERVING-path throughputs, pairs/second, at the two
#: recorded decades (SCALE.md round-15 projection-artifact re-measure,
#: OPTIMIZATION_r15.md §4 — on the ROUND-15 plans: broadcast re-rank +
#: guards-above-window on the probe side, hops-rewrite kernel;
#: local[32], 24g driver, 1,000-prospect batches, dim-9 recipe):
#:
#: ==========  ==================  ===================
#: |clients|   probe (fetch+rank)  kernel (blocked GEMM)
#: ==========  ==================  ===================
#: 135,000     57.3M / 23.5s       13.5M / 7.7s
#: 1,350,000   229.4M / 172.5s     135M / 23.9s
#: ==========  ==================  ===================
#:
#: The probe's per-fetched-pair cost still RISES with corpus while the
#: kernel's FALLS (GEMM utilization) — but after the round-15 broadcast
#: re-rank removed the probe's memory-pressure collapse, the probe now
#: wins 1k-batches at BOTH measured decades (sf10: probe 172.5s vs
#: kernel ≈239s = 10× the 23.9s subsample); the crossover moved past
#: the measured range for this geometry.  Re-measure (SCALE.md
#: round-15 re-measure appendix; its script is retired, ``git show
#: 1ee4bd4:scripts/``) whenever the recipe's dim, the re-rank path, or
#: the kernel blocking changes; the rule below interpolates BETWEEN
#: these decades and clamps outside them — it is calibrated for the
#: decade-scale regime where the choice carries real wall, and below
#: it both paths are cheap enough that either verdict is fine.
#:
#: ROTATED round 16 (optimization round 2, VERDICT r15 top task #1):
#: the round-14 values (probe 1.042e6/0.599e6, kernel 1.063e6/4.104e6)
#: encoded the pre-rewrite plans and mis-routed sf10 1k-batches to the
#: kernel (~239s) where the probe (172.5s) wins — a bounded ~1.4× loss
#: at the fourth decade.  The SQL twin of ``peer_search_serving_dispatch``
#: builds its literals FROM these constants (queries/similarity.py::
#: _srv_ratio_sql imports them at registration), so the oracle rotates
#: in lockstep by construction; re-verified hash-green at
#: sf0.001/0.01/0.1 after the rotation, and the dispatch pytest pins
#: the new decade verdicts.
SERVING_PROBE_PAIRS_PER_SEC = {135_000: 2.438e6, 1_350_000: 1.330e6}
SERVING_KERNEL_PAIRS_PER_SEC = {135_000: 1.753e6, 1_350_000: 5.649e6}


def serving_cost_ratio(n_right: int) -> float:
    """Kernel-vs-probe per-pair cost ratio at corpus size ``n_right``
    — kernel throughput over probe throughput, log-log interpolated
    between the two measured decades and clamped outside them:
    ≈0.72 at 135k clients (the probe is CHEAPER per fetched pair than
    the kernel per scored pair after the round-15 broadcast re-rank)
    rising to ≈4.25 at 1.35M (the probe pays ~4× per fetched pair but
    fetches far fewer).  The SQL twin of the dispatch-evidence query
    replays this expression bit-for-bit, so keep it a pure function of
    the two throughput tables."""
    import math

    lo_n, hi_n = 135_000, 1_350_000
    r_lo = (
        SERVING_KERNEL_PAIRS_PER_SEC[lo_n] / SERVING_PROBE_PAIRS_PER_SEC[lo_n]
    )
    r_hi = (
        SERVING_KERNEL_PAIRS_PER_SEC[hi_n] / SERVING_PROBE_PAIRS_PER_SEC[hi_n]
    )
    n = min(max(n_right, lo_n), hi_n)
    t = (math.log(n) - math.log(lo_n)) / (math.log(hi_n) - math.log(lo_n))
    return math.exp(math.log(r_lo) + t * (math.log(r_hi) - math.log(r_lo)))


def serving_probe_wins(window: int, n_right: int) -> bool:
    """The SERVING-side probe-vs-kernel dispatch rule (round-14
    verdict #1): serve an intraday batch off the window artifact only
    when the probe's predicted fetched-pair volume —
    ``(CODE_LEN+1)·2·window·|batch|`` — costs less than the exact
    kernel's ``|batch|·n_right`` pairs at the measured per-pair cost
    ratio (:func:`serving_cost_ratio`).  Both sides are linear in the
    batch size, so it cancels: the rule compares per-prospect
    volumes.

    Measured anchors (SCALE.md round-15 re-measure, pytest-pinned): at
    sf1 (window 4096, 135k clients) the probe wins ~3.3× (23.5s vs
    ~77s); at sf10 (window 16384, 1.35M clients) the probe NOW wins
    too (172.5s vs kernel ≈239s — the round-15 broadcast re-rank
    removed the memory-pressure collapse that handed r14's sf10 to the
    kernel) — the rule reproduces both verdicts from the recorded
    throughputs.  Oversized windows (≥ the corpus/14 boundary, e.g.
    window 16384 against only 135k clients) still route to the kernel;
    clustered corpora (small derived windows) and trickle batches stay
    firmly in the artifact's domain at any measured scale."""
    probe_pairs = (CODE_LEN + 1) * 2 * window
    return probe_pairs * serving_cost_ratio(n_right) < n_right


def serve_batch(
    batch: DataFrame,
    index: DataFrame,
    clients: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    n_right: int | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """THE serving entry point: answer one intraday prospect batch
    with the full scored top-K, routing probe-vs-kernel on the
    measured cost rule (:func:`serving_probe_wins`) instead of leaving
    the crossover as deployment prose — the serving twin of the batch
    query's :func:`projection_window_wins` dispatch (round-14 verdict
    #1).  Family (2-D rank window vs ``__dir`` projection) and build
    metadata are resolved off the artifact by the probes' resolver
    (:func:`_resolve_window_meta`);
    ``clients`` is the feature relation the artifact was built from
    (ideally the PUBLISHED feature snapshot — see
    ``publish_versioned(companions=...)``), used by the probe route's
    exact re-rank and by the kernel route's scoring.

    ``n_right`` is the client-corpus size for the rule; pass the
    cached/memoized count in serving loops (a ``count()`` per
    micro-batch would add a corpus job — the exact thing the probe
    route avoids).  When None, one count job runs.

    Off an index straight from ``read_published`` the call launches NO
    job before the action: ``__w``/``__dir`` come from the version
    manifest.  Any other index pays one agg per metadata column.  The
    probe route's re-rank checks vector dims inside its plan
    (``raise_error`` on a row of another length) instead of with a
    limit-1 job per side.

    Routes, both returning ``(left_id, right_id, score)`` top-K:

    - PROBE (wins on clustered windows / modest corpora): fetch
      candidate pairs from the artifact
      (the shared probe body, :func:`_projection_probe_resolved`), exact-score
      them (:func:`_score_topk`) at the family's dim —
      tombstones anti-joined at pair level, the probe contract.
    - KERNEL (wins when the derived window stops pruning): the exact
      blocked-GEMM :func:`hybrid_topk` of the batch against the LIVE
      clients (tombstones anti-joined at the relation level — the
      kernel route serves rebuild semantics, which is exactly what an
      exact pass means).

    On geometries where the derived window keeps recall 1.0 (measured
    at every decade on the firmographics recipe) the two routes return
    the SAME top-K, so the dispatch changes the plan, never the result
    — which is what lets ``peer_search_serve_batch_e2e`` pin either
    route under one value oracle.  Reference anchor: the blocked
    batching intent at search_ranking_peers.py:489-494."""
    window, direction = _resolve_window_meta(index, who="serve_batch")
    if n_right is None:
        n_right = clients.count()
    probe_wins = serving_probe_wins(window, n_right)
    if direction is None and not probe_wins:
        _require_dim2(batch, vec_col, "serve_batch(batch)")
    scoring = dict(
        vec_col=vec_col, naics_col=naics_col,
        lat_col=lat_col, lon_col=lon_col,
        k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
    )
    if probe_wins:
        return _serve_probed(
            batch, index, clients, left_id, right_id, window, direction,
            tombstones, **scoring,
        )
    live = drop_tombstoned(clients, tombstones, right_id)
    return hybrid_topk(batch, live, left_id, right_id, **scoring)


def _serve_probed(
    batch: DataFrame,
    index: DataFrame,
    clients: DataFrame,
    left_id: str,
    right_id: str,
    window: int,
    direction: list[float] | None,
    tombstones: DataFrame | None,
    **scoring,
) -> DataFrame:
    """The PROBE route of ``serve_batch`` and the streaming loops, with
    the metadata already resolved (:func:`_resolve_window_meta`): the
    shared probe body's candidates exact-scored at the artifact's dim
    (2 for the 2-D family, ``len(direction)`` for a projection
    artifact), both sides' vectors checked inside the plan
    (:func:`_dim_guarded`) rather than with
    :func:`hybrid_topk_pruned`'s limit-1 jobs."""
    vec_col = scoring["vec_col"]
    cand = _projection_probe_resolved(
        batch, index, left_id, right_id, direction, window,
        vec_col, scoring["naics_col"], tombstones,
    )
    dim = 2 if direction is None else len(direction)
    return _score_topk(
        _dim_guarded(batch, vec_col, dim, "serving re-rank (batch)"),
        _dim_guarded(clients, vec_col, dim, "serving re-rank (clients)"),
        cand, left_id, right_id,
        dim=dim, broadcast_sides=True, **scoring,
    )


def projection_window_index(
    right: DataFrame,
    right_id: str,
    direction: list[float],
    window: int | None = None,
    **kwargs,
) -> DataFrame:
    """Nightly-buildable serving artifact for the GENERAL-DIM
    projection-window peer search (round-13 verdict #2):
    :func:`rank_window_index` keyed by the fixed-``direction``
    projection, stamping BOTH build parameters — ``__w`` and ``__dir``
    (canonical string form).  A probe with a mismatched window OR
    direction raises; compaction, insert, versioned publish and
    hot-swap read both off the artifact.  ``window=None`` (the default
    here) derives the build window from ``calibration=`` /
    ``calibration_id=`` (:func:`derive_projection_window_stats`)."""
    return rank_window_index(
        right, right_id, window=window, direction=direction, **kwargs
    )


def projection_window_probe(
    left: DataFrame,
    index: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    window: int | None = None,
    direction: list[float] | None = None,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Probe a :func:`projection_window_index` with a prospect batch —
    :func:`rank_window_probe` keyed by the artifact's projection, on the
    same body (:func:`_projection_probe_resolved`).  Candidate parity
    with the batch :func:`projection_window_candidates` at the build
    window is pytest-pinned; the registered
    ``peer_search_fulldim_probe_parity`` query pins the probed serving
    result under the full value oracle.

    BOTH build parameters are read off the artifact by default
    (``window=None`` → ``__w``, ``direction=None`` → ``__dir``);
    explicit values are VALIDATED against the metadata and a mismatch
    raises — the round-13 verdict's 'mismatched-direction probes
    raise' contract.  Whether a batch should be served through the
    artifact at all is :func:`serve_batch`'s measured cost rule."""
    if "__dir" not in index.columns:
        raise ValueError(
            "projection_window_probe: index carries no __dir metadata "
            "— it is a 2-D rank-window artifact; probe it with "
            "rank_window_probe."
        )
    window, direction = _resolve_window_meta(
        index, window, direction, who="projection_window_probe"
    )
    return _projection_probe_resolved(
        left, index, left_id, right_id, direction, window,
        vec_col, naics_col, tombstones,
    )


def projection_window_candidates(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    direction: list[float],
    window: int | None = 256,
    **kwargs,
) -> DataFrame:
    """The rank-window candidate generator at ANY dimension:
    :func:`rank_window_candidates` with each arm sorted by the vectors'
    PROJECTION onto a fixed ``direction`` — same machinery, same linear
    O(|L|·levels·2·window) candidate volume, same ``window=None``
    derivation and ``window_cache``.

    At higher dims a single projection is LOSSY (two vectors can share
    a projection while differing in the complement), so this arm is an
    APPROXIMATE candidate source whose recall is measured
    (``peer_search_fulldim_recall``); the production full-dim query
    routes between it and the exact blocked kernel by
    :func:`projection_window_wins`.  The round-13 IVF arm that once
    unioned with it (IVF alone plateaued at ~0.998 recall at sf0.1) is
    retired; SCALE.md's round-13 appendix keeps its measurements.

    ``direction`` must be FIXED LITERALS (e.g. the reference's
    feature-weight profile, search_ranking_peers.py:442,608-611) so the
    projection is per-row deterministic and the SQL oracle replays it
    bit-for-bit.  Measured 9-D need (SCALE.md round-13): max-need
    96 → 133 → 1305 at sf0.01/0.1/1 — the window grows with the
    corpus' projection-shadow density, so on near-uniform high-dim data
    the candidate volume must be re-derived per corpus; the exact
    blocked kernel (``hybrid_topk``) stays the general-dim exact
    fallback."""
    return rank_window_candidates(
        left, right, left_id, right_id,
        window=window, direction=direction, **kwargs,
    )


def hybrid_topk_pruned(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    *,
    candidates: DataFrame,
    dim: int | None = None,
    broadcast_sides: bool = False,
) -> DataFrame:
    """Candidate-pruned hybrid top-K: exact hybrid scoring (same
    formula as ``hybrid_topk``) restricted to candidate pairs; the
    O(L×R) score matrix never exists.  Top-K is per left row over the
    candidate set, so results match the exact kernel whenever every
    true top-k pair is a candidate (recall is measured by the
    ``peer_search_pruned_recall`` query).

    ``broadcast_sides`` (the SERVING-path re-rank, round 15): hint
    both feature sides broadcast so the CANDIDATE frame — always the
    big relation on that path (|batch|·arms·2w pairs vs a bounded
    batch and the client dimension table) — is scored WITHOUT ever
    being shuffled: candidates stream through two BroadcastHashJoins
    straight into the map-side WindowGroupLimit, and only the ≤15·|L|
    surviving rows reach the top-K exchange.  Without the hint, sides
    materialized from checkpoints (``Scan ExistingRDD``) carry no
    size statistics, so the planner SortMergeJoins — shuffling and
    sorting the multi-million-pair candidate frame twice (measured
    2.5× the serving re-rank wall at sf0.1; at sf10 that shuffle is
    ~46 GB and was the measured re-rank memory-pressure collapse,
    0.6M pairs/s vs 1.0M at sf1).  Leave False on the BATCH path,
    where the left relation is corpus-sized and the shuffle join is
    the right plan.

    The caller supplies ``candidates`` — the candidate source is what
    matters at scale: ``hybrid_candidates`` (NAICS-block ∪
    quantile-bucket arms) is a CONSTANT-FACTOR prune, measured at sf1
    slower than the exact kernel (672s vs ~170-205s; SCALE.md round-9
    appendix), and survives only in the recall query's replay.  The
    production path passes the window-index family's candidates
    (linear in the left side) and ``dim=`` for the unrolled codegen
    dot.

    Fully declarative scoring (dot + when-ladder hops + native-trig
    haversine) — whole-stage codegen, SQL-oracle-able."""
    if dim is not None:
        # Validate dim against the ACTUAL vector length before taking
        # the unrolled path: element_at beyond the array is NULL (a
        # too-large dim would NULL every score) and a too-small dim
        # would silently TRUNCATE the dot product — both diverging
        # from the HOF fold this path claims bit-parity with.  One
        # limit-1 probe per side at plan-build time, loud on mismatch.
        # (A fused two-side union probe was tried in round 16 and
        # REVERTED: limit(1).first() short-circuits via executeTake —
        # one task, no shuffle — while the union form pays a
        # single-partition exchange + AQE stage barrier per side;
        # measured 0.14s vs 0.18s for the pair at sf0.1.)  The serving
        # re-rank checks in the plan instead (:func:`_dim_guarded`).
        for side, df_side in (("left", left), ("right", right)):
            actual = probe_dim(df_side, vec_col)
            if actual is not None and actual != dim:
                raise ValueError(
                    f"hybrid_topk_pruned: dim={dim} but the {side} "
                    f"side's '{vec_col}' vectors have dim={actual} — "
                    "the unrolled dot would "
                    + (
                        "silently truncate the product"
                        if actual > dim
                        else "NULL every score (element_at past end)"
                    )
                    + "; pass the true dim or dim=None for the HOF fold."
                )
    return _score_topk(
        left, right, candidates, left_id, right_id,
        vec_col=vec_col, naics_col=naics_col,
        lat_col=lat_col, lon_col=lon_col,
        k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
        dim=dim, broadcast_sides=broadcast_sides,
    )


def _dim_guarded(df: DataFrame, vec_col: str, dim: int, who: str) -> DataFrame:
    """``df`` with every non-null ``vec_col`` vector checked against
    ``dim`` IN the plan: a row of any other length raises
    (``raise_error``) when it is read, instead of a limit-1 probe job
    per side before planning.  Used by the serving re-rank, whose
    artifact metadata fixes the dim."""
    v = F.col(vec_col)
    msg = F.concat(
        F.lit(f"{who}: a '{vec_col}' vector has dim="),
        F.size(v).cast("string"),
        F.lit(f", the artifact's dim is {dim}"),
    )
    bad = v.isNotNull() & (F.size(v) != dim)
    return df.withColumn(vec_col, F.when(bad, F.raise_error(msg)).otherwise(v))


def _score_topk(
    left: DataFrame,
    right: DataFrame,
    candidates: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str,
    naics_col: str,
    lat_col: str,
    lon_col: str,
    k: int,
    threshold: float,
    w_hops: float,
    w_havs: float,
    dim: int | None,
    broadcast_sides: bool,
) -> DataFrame:
    """Exact hybrid score of the candidate pairs + per-left top-K — the
    body of :func:`hybrid_topk_pruned` after its dim validation."""
    lhs = left.select(
        F.col(left_id),
        F.col(vec_col).alias("__lvec"),
        F.col(naics_col).alias("__lnaics"),
        F.col(lat_col).alias("__llat"),
        F.col(lon_col).alias("__llon"),
    )
    rhs = right.select(
        F.col(right_id),
        F.col(vec_col).alias("__rvec"),
        F.col(naics_col).alias("__rnaics"),
        F.col(lat_col).alias("__rlat"),
        F.col(lon_col).alias("__rlon"),
    )
    if broadcast_sides:
        lhs, rhs = F.broadcast(lhs), F.broadcast(rhs)
    if dim is not None:
        # unrolled codegen dot: bit-identical to the HOF fold below
        # ((0.0 + x) == x in IEEE for products of reals, and both
        # accumulate strictly left-to-right) but stays inside
        # whole-stage codegen instead of per-element lambda eval —
        # the HOF path was measured ~3x slower on the 1e8-candidate
        # sf1 scoring pass.  Precondition: array<double> vectors (as
        # l2_normalize emits) — for array<float> this path casts each
        # element BEFORE the multiply (exact product) while the HOF
        # fold multiplies in float32 first, so scores could differ by
        # ULPs; the parity pytest runs on the double-typed pipeline
        dot = F.element_at("__lvec", 1).cast("double") * F.element_at(
            "__rvec", 1
        ).cast("double")
        for i in range(2, dim + 1):
            dot = dot + F.element_at("__lvec", i).cast("double") * F.element_at(
                "__rvec", i
            ).cast("double")
    else:
        dot = F.aggregate(
            F.zip_with("__lvec", "__rvec", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    scored = (
        candidates.join(lhs, left_id)
        .join(rhs, right_id)
        .withColumn(
            "score",
            hybrid_score_expr(
                dot,
                naics_hops_score(F.col("__lnaics"), F.col("__rnaics")),
                haversine_score(
                    F.col("__llat"), F.col("__llon"),
                    F.col("__rlat"), F.col("__rlon"),
                ),
                w_hops,
                w_havs,
            ),
        )
        .select(left_id, right_id, "score")
    )
    # NO filter below the top-K window (round 15): a pre-rank
    # `isnan(score)` or `score >= threshold` predicate gets pushed
    # into the join condition with the FULL ~200-node score expression
    # inlined — extra per-pair evaluations that measurably knock the
    # scoring stage off the fast path (9.8s vs ~1s on the 1.8M-pair
    # sf0.1 serving re-rank).  Instead NaN is neutralized in the SORT
    # KEY — ``nanvl(score, -inf)`` makes NaN rows order LAST (Spark
    # otherwise sorts NaN largest, where it would displace real top-K
    # rows) — and both guards run AFTER the window, on the
    # materialized column.  Exactly equivalent to filter-then-rank:
    # non-NaN rows keep their (score DESC, id) order, NaN rows rank
    # strictly after all of them, and within each group the rows with
    # score >= threshold form a prefix of that ranking — so
    # row_number <= k AND the post-filter select the same set, for
    # every threshold and k (pytest-pinned against the crossjoin
    # oracle, NaN cases included).
    ranked = windowed_topk(
        scored,
        left_id,
        [
            F.nanvl(F.col("score"), F.lit(float("-inf"))).desc(),
            F.col(right_id),
        ],
        k,
    )
    return ranked.filter(
        ~F.isnan("score") & (F.col("score") >= threshold)
    )
