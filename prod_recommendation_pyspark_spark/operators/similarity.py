"""Blocked top-K similarity join — the engine's one genuinely custom
dataflow operator (SURVEY.md §2.10).

Reference semantics (search_ranking_peers.py:234-325 ``one_batch`` +
driver loop :488-559): L2-normalize feature vectors on both sides,
broadcast the right side as a dense matrix, all-pairs cosine via
``IndexedRowMatrix.multiply``, blend NAICS-prefix and haversine
auxiliary scores per pair (side data *collected to the driver* as
Python lists, :538-549), threshold + per-left top-K via quickselect,
emit ``(tgt_idx, src_idx, score)``.

Spark-first re-design:

* vectors are plain ``array<float>`` columns — no VectorUDT, no RDDs;
* the all-pairs product is a cogrouped BLOCK MATRIX PRODUCT: left rows
  hash into chunks, right rows pmod into blocks, both sides replicate
  onto the (chunk × block) grid through ordinary shuffles, and each
  cogroup task runs one BLAS matmul + exact ``argpartition`` top-K —
  only ``k`` candidates per left row ever leave the Python worker.
  One body (``_blocked_topk``) serves both exact kernels: plain cosine
  here (``cosine_topk``) and the hybrid blend in ``operators/hybrid.py``
  (``hybrid_topk``) differ only in their side projections and a
  per-chunk scorer;
* nothing transits the driver: no ``collect()``, no
  ``sc.broadcast`` — on a 1000-executor cluster blocks move
  executor→executor through the shuffle service; total shuffle
  volume is left×n_blocks + right×n_chunks bytes, and the grid
  shape is chosen to (approximately) minimize that subject to
  per-task memory caps and cluster parallelism — one planner,
  ``plan_grid``, for both kernels and for ``run_peer_search``, which
  feeds it the row counts it already holds;
* per-block top-K unions are re-ranked with one windowed top-K —
  the reference's MIN_BATCH loop (:489-494,606) generalized.

Memory geometry (SURVEY §7 hard part 1): a right block of ``r`` rows
× ``d`` float64 ≈ ``8rd`` bytes per cogroup task.  The default cap
keeps blocks ≲ 256 MB — tune per cluster.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from prod_recommendation_pyspark_spark.operators.relational import (
    drop_tombstoned,
    windowed_topk,
)


def l2_normalize(df: DataFrame, vec_col: str, out_col: str | None = None) -> DataFrame:
    """Unit-normalize an array column with native higher-order
    functions (replaces the reference's RDD pass
    ``x.toArray()/x.norm(2)`` at search_ranking_peers.py:210-224).
    Zero vectors stay zero.

    The norm is the naive ``sqrt(sum(x²))`` — same formulation as
    DuckDB's ``list_cosine_similarity`` oracle twin; components below
    ~1e-154 underflow in the square (embedding-range inputs are far
    from this; rescale first if you have denormal data)."""
    out_col = out_col or vec_col
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return df.withColumn(
        out_col,
        F.when(norm == 0, F.col(vec_col).cast("array<double>")).otherwise(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
        ),
    )


def spread_small_input(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition — but ONLY when the plan's current
    partitioning is narrower than the target parallelism.  A few-MB
    parquet table arrives as ONE input split; any CPU-heavy projection
    or broadcast-join scoring pipelined onto that scan then runs
    serially on one core no matter how many executors exist.  On a
    real cluster big inputs get splits for free and this is a no-op
    (no shuffle added), so it is safe to leave in the 100 TB path.

    The narrowness probe is DataFrame-native: Catalyst's planning
    statistics (``optimizedPlan().stats().sizeInBytes`` — the same
    estimate the broadcast-join threshold reads) divided by
    ``spark.sql.files.maxPartitionBytes`` approximates the scan's
    split count with zero plan→RDD conversion; wide inputs therefore
    never pay an RDD lineage build.  Two cases still consult the real
    ``df.rdd.getNumPartitions()``: (a) stats at the
    ``defaultSizeInBytes`` sentinel (LogicalRDD / localCheckpoint-
    backed plans report Long.MaxValue, not a real estimate — a
    size-only test would silently no-op on exactly the small
    checkpointed graphs this helper exists for), and (b) a
    below-parallelism estimate, which must be CONFIRMED before
    injecting a shuffle because bytes/maxPartitionBytes undercounts
    many-small-files scans that are already wide.  On an estimate
    failure the input is left untouched (no shuffle is the safe
    default)."""
    spark = df.sparkSession
    par = parallelism or spark.sparkContext.defaultParallelism
    try:
        # py4j maps the Scala BigInt straight to a Python int
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        try:
            unknown = int(
                spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
            )
        except Exception:
            unknown = (1 << 63) - 1  # SQLConf default = Long.MaxValue
        if size >= unknown:
            # stats are the defaultSizeInBytes SENTINEL, not a real
            # estimate (LogicalRDD / localCheckpoint-backed plans):
            # fall back to the RDD partition probe the sentinel-blind
            # size test would silently no-op on
            n = df.rdd.getNumPartitions()
            return df.repartition(par) if n < par else df
        max_bytes = spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        est_splits = max(1, -(-size // max(1, max_bytes)))
    except Exception:
        return df
    if est_splits < par:
        # bytes/maxPartitionBytes UNDERcounts splits for many-small-
        # files inputs; confirm with the real partition count before
        # injecting a shuffle that would coalesce an already-wide scan
        try:
            n = df.rdd.getNumPartitions()
        except Exception:
            return df
        if n < par:
            return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# Vectorized pairwise scoring kernels (Arrow-batched, fold-order-exact)
#
# When to use (measured at sf0.1, local[32], bit-identical results
# either way): the interpreted HOF expression path parallelized by
# ``spread_small_input`` + the pairs repartition WINS below ~10⁶
# candidate pairs (1.2-2.3s vs 2.5-2.6s per ANN query) — Arrow
# round-trips of the vector columns cost more than the interpreted
# folds at that volume.  The kernels win when candidate volume is
# large (≥10⁷ pairs: ~0.05µs/pair·dim vectorized vs ~1µs/pair·dim
# interpreted); flip ``use_kernel=True`` on the ANN/near-dup
# operators for that regime.
# ---------------------------------------------------------------------------


def _fold_pair_scores(a: pd.Series, b: pd.Series, cosine: bool) -> pd.Series:
    """Shared kernel body: per-pair left-fold dot (and norms when
    ``cosine``), accumulated per DIMENSION across the whole Arrow
    batch.  The loop runs ``dim`` times over vectorized float64
    column slices, so every pair sees exactly the
    ``fl(acc + fl(a_d * b_d))`` sequence of the interpreted SQL
    expression ``aggregate(zip_with(a, b, *), 0.0D, +)`` — results are
    BIT-IDENTICAL to the expression path on null-free inputs (IEEE754
    addition is commutative, and in-place ``+=`` on float64 arrays is
    the same rounding as the scalar fold).

    Divergence contract (documented, not observable on the engine's
    null-free vector tables — verified empirically): the expression
    path yields NULL for a null/length-mismatched pair, NaN for a
    NaN element, and under ANSI mode (Spark 4 default) ERRORS with
    DIVIDE_BY_ZERO on a zero vector — the kernel funnels all three
    to SQL NULL (Arrow's float64 serialization reads NaN back as
    null).  Callers that must rank NaN scores (SQL sorts NaN above
    all doubles) or want the ANSI zero-vector error need the
    expression path (``use_kernel=False``)."""
    n = len(a)
    out = np.full(n, np.nan, dtype=np.float64)
    av = a.to_numpy()
    bv = b.to_numpy()
    # Series.isna is a C-level per-element null check (ndarray/list
    # elements are never "na"); everything after it is numpy — no
    # Python-per-row loop except the two lean len() fromiters.
    idxv = np.flatnonzero(
        (~a.isna()).to_numpy(dtype=bool) & (~b.isna()).to_numpy(dtype=bool)
    )
    if len(idxv) == 0:
        return pd.Series(out)
    la = np.fromiter((len(av[i]) for i in idxv), np.int64, count=len(idxv))
    lb = np.fromiter((len(bv[i]) for i in idxv), np.int64, count=len(idxv))
    eq = la == lb
    idxv = idxv[eq]
    dims = la[eq]
    for d in np.unique(dims):
        idx = idxv[dims == d]
        if d == 0:
            # fold over an empty array: dot = the 0.0 seed; cosine
            # 0/0 stays NaN -> NULL (see divergence contract)
            if not cosine:
                out[idx] = 0.0
            continue
        A = np.stack(av[idx]).astype(np.float64, copy=False)
        B = np.stack(bv[idx]).astype(np.float64, copy=False)
        m = len(idx)
        dot = np.zeros(m, dtype=np.float64)
        if cosine:
            na = np.zeros(m, dtype=np.float64)
            nb = np.zeros(m, dtype=np.float64)
        for col in range(int(d)):
            x = A[:, col]
            y = B[:, col]
            dot = dot + x * y
            if cosine:
                na = na + x * x
                nb = nb + y * y
        if cosine:
            with np.errstate(divide="ignore", invalid="ignore"):
                out[idx] = dot / (np.sqrt(na) * np.sqrt(nb))
        else:
            out[idx] = dot
    return pd.Series(out)


# NOTE: DataType object, not a DDL string — Python workers re-import
# this module to unpickle the UDF, and parsing a DDL string needs an
# active SparkContext that workers don't have.
@F.pandas_udf(DoubleType())
def seq_dot_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched pairwise dot, bit-identical to the
    ``aggregate(zip_with(...))`` fold (see ``_fold_pair_scores``).
    The interpreted higher-order-function expression costs ~µs per
    pair and — because HOFs have no codegen — runs OUTSIDE
    whole-stage codegen anyway; on a post-AQE-coalesced single
    partition it serializes the whole scoring stage onto one core.
    This kernel scores a 100k-pair batch in ~ms."""
    return _fold_pair_scores(a, b, cosine=False)


@F.pandas_udf(DoubleType())
def seq_cosine_kernel(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched pairwise cosine ``dot/(|a|·|b|)`` with the same
    fold-order bit-parity as ``seq_dot_kernel`` (norms accumulate in
    the same per-dimension sequence as the SQL expression)."""
    return _fold_pair_scores(a, b, cosine=True)


def cosine_topk_crossjoin(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    k: int = 10,
    threshold: float | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Declarative brute-force variant: crossJoin + ``zip_with``
    dot product + windowed top-K.  O(n·m) rows through the plan — the
    correctness baseline the blocked kernel is validated against, and
    perfectly fine when one side is small.  Inputs must be
    L2-normalized."""
    lhs = left.select(F.col(left_id), F.col(vec_col).alias("__lvec"))
    rhs = right.select(F.col(right_id), F.col(vec_col).alias("__rvec"))
    pairs = lhs.crossJoin(F.broadcast(rhs))
    if exclude_self:
        pairs = pairs.filter(F.col(left_id) != F.col(right_id))
    dot = F.aggregate(
        F.zip_with("__lvec", "__rvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # NaN parity with the kernel: SQL orders NaN above all doubles (a
    # NaN score would pass any threshold and rank FIRST desc); the
    # numpy kernel drops NaN (``s >= thr`` is False).  One contract:
    # NaN scores are dropped in both paths.
    scored = (
        pairs.withColumn("score", dot)
        .drop("__lvec", "__rvec")
        .filter(~F.isnan("score"))
    )
    if threshold is not None:
        scored = scored.filter(F.col("score") >= threshold)
    return windowed_topk(
        scored, left_id, [F.col("score").desc(), F.col(right_id)], k
    )


#: Per-executor broadcast cap for one right-side block (bytes).
DEFAULT_MAX_BLOCK_BYTES = 256 * 1024 * 1024


def _probe_geometry(
    df: DataFrame,
    vec_col: str,
    bytes_per_elem: int = 8,
    row_overhead: int = 0,
) -> tuple[int, int]:
    """(rows, approx bytes) of one side's dense matrix via two tiny
    jobs: a column-pruned count and a limit-1 scan for the dim.  The
    ``size > 0`` filter skips null vectors under BOTH ANSI (size(null)
    is null → predicate false) and legacy (-1) semantics, so a null or
    empty leading vector cannot poison the sizing.  Nothing is cached:
    the upstream plan runs once more for the real job — callers with
    an expensive upstream should persist their inputs themselves (the
    round-4 design persisted both full sides on every call and never
    released them, pinning executor storage for the app lifetime)."""
    n_rows = df.count()
    dim = probe_dim(df, vec_col, default=1)
    return n_rows, n_rows * (dim * bytes_per_elem + row_overhead)


def probe_dim(
    df: DataFrame, vec_col: str, default: int | None = None
) -> int | None:
    """Dimension of the first VALID vector (limit-1 scan; null vectors
    — ``size`` null under ANSI, -1 under legacy — and empty vectors
    are skipped).  When no valid vector exists: return ``default`` if
    given; else ``None`` for an EMPTY relation (an empty input has a
    well-defined empty answer downstream); else raise — silently
    guessing a dim over real rows would hand LSH a dim-1 hyperplane
    set, collapsing every signature into one giant bucket (accidental
    O(n²))."""
    row = (
        df.select(F.size(vec_col).alias("__d"))
        .filter(F.col("__d") > 0)
        .limit(1)
        .first()
    )
    if row is not None:
        return row["__d"]
    if default is not None:
        return default
    if df.isEmpty():
        return None
    raise ValueError(
        f"cannot infer vector dim: no non-empty '{vec_col}' values"
    )


def plan_grid(
    left: tuple[int, int] | None,
    right: tuple[int, int] | None,
    parallelism: int,
    max_block_bytes: int = DEFAULT_MAX_BLOCK_BYTES,
    n_blocks: int | None = None,
    n_left_chunks: int | None = None,
) -> tuple[int, int]:
    """The grid shape ``(n_blocks, n_left_chunks)`` of the cogrouped
    block product, from each side's ``(rows, bytes)`` geometry —
    probed (``_probe_geometry``) or already known to the caller — and
    whatever the caller pinned.

    A side's geometry is read only when its own count is free: the
    left geometry sizes the left chunks, the right geometry the right
    blocks.  So a pinned ``n_left_chunks`` needs only ``right``, a
    pinned ``n_blocks`` only ``left``, both pinned neither; pass None
    for a side that is not needed (and skip its probe jobs).

    With both counts free, the constraints are, in priority order:

    1. memory — each right block ≤ ``max_block_bytes`` and each left
       chunk ≤ ``max_block_bytes`` (one cogroup task materializes one
       chunk + one block);
    2. utilization — at least ~``parallelism`` grid cells so every
       core gets a task;
    3. volume — shuffle bytes are ``l_bytes·n_blocks +
       r_bytes·n_left_chunks``; among shapes satisfying 1-2 we take
       the continuous minimizer ``n_blocks ≈ sqrt(P·R/L)`` /
       ``n_left_chunks ≈ sqrt(P·L/R)``, so neither side is ever
       replicated ~``parallelism``× when the other side is tiny (the
       round-3 default pinned ``n_left_chunks = defaultParallelism``,
       replicating the whole right side once per *core* on a large
       cluster).

    With one count pinned, the other follows ``_chunks_for``: memory
    floor, enough cells to fill the cluster, capped at its side's row
    count (more chunks than rows only makes empty groups)."""
    if n_blocks is None and n_left_chunks is None:
        (l_rows, l_bytes), (r_rows, r_bytes) = left, right
        b_min = max(1, -(-r_bytes // max_block_bytes))
        if l_bytes > 0 and r_bytes > 0:
            b_opt = math.sqrt(parallelism * r_bytes / l_bytes)
        else:
            b_opt = 1.0
        n_blocks = max(b_min, math.ceil(b_opt))
        # B > P buys no utilization (n_chunks ≥ 1 already fills the
        # grid) and only over-replicates the left side — clamp at P
        n_blocks = min(n_blocks, max(b_min, parallelism))
        n_blocks = min(n_blocks, max(b_min, r_rows or 1))
    elif n_blocks is None:
        # the left count is pinned (e.g. the window-derivation
        # calibration, whose sample is one chunk by construction):
        # blocks follow the chunk rule with the sides swapped
        n_blocks = _chunks_for(n_left_chunks, *right, parallelism, max_block_bytes)
    if n_left_chunks is None:
        n_left_chunks = _chunks_for(n_blocks, *left, parallelism, max_block_bytes)
    return n_blocks, n_left_chunks


def _chunks_for(
    other: int,
    rows: int,
    nbytes: int,
    parallelism: int,
    max_block_bytes: int,
) -> int:
    """One side's split count when the other side's count is ``other``:
    memory floor, enough grid cells to fill the cluster, capped at the
    side's row count (more splits than rows only makes empty groups)."""
    c_min = max(1, -(-nbytes // max_block_bytes))
    n = max(c_min, -(-parallelism // other))
    return min(n, max(c_min, rows or 1))


def _replicate_grid(
    left: DataFrame,
    right: DataFrame,
    n_blocks: int,
    n_left_chunks: int,
) -> tuple[DataFrame, DataFrame]:
    """Tag + replicate both sides onto the (left-chunk × right-block)
    grid for a cogrouped block matmul: each left row goes to its hash
    chunk ``__lc`` (xxhash64 of ``__lid``) replicated across all
    ``n_blocks`` right blocks; each right row goes to its pmod block
    ``__rb`` (of ``__rid``) replicated across all ``n_left_chunks``
    left chunks.  Shuffle volume is left×n_blocks +
    right×n_left_chunks bytes (minimal for a dense blocked product
    only when the grid shape is chosen well — see ``plan_grid``) and
    NOTHING ever transits the driver — the round-2 kernels collected
    every right block to the driver and re-broadcast it from there,
    serializing the whole right side through one NIC.

    Callers must project the two sides onto DISJOINT column names
    first (fresh aliases): a self-cogroup where both children share
    an attribute silently drops the duplicated column from the right
    group (Spark dedups the conflicting exprId)."""
    chunk_of = F.pmod(F.xxhash64(F.col("__lid")), F.lit(n_left_chunks)).cast("int")
    # pmod (not %): Spark's % keeps the dividend's sign, so signed
    # block keys (e.g. xxhash64 ids) would match NO block in
    # 0..n_blocks-1 and be silently dropped.  Null keys land in
    # block 0 (pmod(null) is null, which would likewise vanish).
    block_of = (
        F.coalesce(
            F.pmod(F.col("__rid").cast("long"), F.lit(n_blocks)), F.lit(0)
        ).cast("int")
    )
    lrep = left.withColumn("__lc", chunk_of).withColumn(
        "__rb", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )
    rrep = right.withColumn("__rb", block_of).withColumn(
        "__lc", F.explode(F.sequence(F.lit(0), F.lit(n_left_chunks - 1)))
    )
    return lrep, rrep


def _blocked_topk(
    lhs: DataFrame,
    rhs: DataFrame,
    left_id: str,
    right_id: str,
    k: int,
    threshold: float,
    n_blocks: int | None,
    n_left_chunks: int | None,
    max_block_bytes: int,
    row_overhead: int,
    chunk_rows: int,
    block_scorer,
) -> DataFrame:
    """The blocked top-K body ``cosine_topk`` and ``hybrid_topk`` share.

    ``lhs``/``rhs`` are the side projections: ``__lid``/``__lvec`` and
    ``__rid``/``__rvec`` plus whatever the scorer reads.  The grid is
    sized by ``plan_grid`` (probing only the sides it needs, with
    ``row_overhead`` aux bytes per row), both sides are replicated
    onto it, and each cogroup task densifies its right block once and
    runs ``block_scorer(r, ids)`` — the per-block right-side
    precompute — which returns ``score(chunk, lids, cos)``: the
    per-chunk (chunk × m) score grid from the ≤``chunk_rows`` left
    slice and its BLAS cosine.  Exact per-row top-k (``argpartition``
    then a (score desc, right id asc) sort) is emitted where
    ``score >= threshold`` (NaN fails, dropped); blocks > 1 are
    re-ranked by one windowed top-K."""
    n_blocks, n_left_chunks = plan_grid(
        None if n_left_chunks is not None
        else _probe_geometry(lhs, "__lvec", row_overhead=row_overhead),
        None if n_blocks is not None
        else _probe_geometry(rhs, "__rvec", row_overhead=row_overhead),
        lhs.sparkSession.sparkContext.defaultParallelism,
        max_block_bytes,
        n_blocks,
        n_left_chunks,
    )
    lrep, rrep = _replicate_grid(lhs, rhs, n_blocks, n_left_chunks)

    def kernel(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                left_id: pd.Series(dtype="int64"),
                right_id: pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if l.empty or r.empty:
            return empty
        ids = r["__rid"].to_numpy(dtype=np.int64)
        mat_t = np.array(r["__rvec"].tolist(), dtype=np.float64).T  # (d, m)
        score = block_scorer(r, ids)
        m = ids.shape[0]
        kk = min(k, m)
        lids_all = l["__lid"].to_numpy()
        outs = []
        for s in range(0, len(l), chunk_rows):
            chunk = l.iloc[s : s + chunk_rows]
            lids = lids_all[s : s + chunk_rows]
            # densify per slice, not whole-group: peak extra memory is
            # one (chunk_rows × d) float64 block + the scorer's grids
            lvec = np.array(chunk["__lvec"].tolist(), dtype=np.float64)
            scores = score(chunk, lids, lvec @ mat_t)  # one BLAS call
            # exact top-k per row: argpartition O(m), then sort k items
            if kk < m:
                part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
            else:
                part = np.broadcast_to(np.arange(m), (scores.shape[0], m)).copy()
            # vectorized emit: per-row (score desc, right_id asc) order,
            # then one boolean mask — no Python loop over rows
            sc = np.take_along_axis(scores, part, axis=1)  # (b, kk)
            cid = ids[part]  # (b, kk)
            order = np.lexsort((cid, -sc), axis=-1)
            sc = np.take_along_axis(sc, order, axis=1)
            cid = np.take_along_axis(cid, order, axis=1)
            keep = sc >= threshold  # NaN fails >=, dropped
            lrows = np.broadcast_to(lids[:, None], sc.shape)
            outs.append(
                pd.DataFrame(
                    {
                        left_id: lrows[keep].astype("int64"),
                        right_id: cid[keep].astype("int64"),
                        "score": sc[keep].astype("float64"),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    out = (
        lrep.groupBy("__lc", "__rb")
        .cogroup(rrep.groupBy("__lc", "__rb"))
        .applyInPandas(kernel, schema=f"{left_id} long, {right_id} long, score double")
    )
    if n_blocks <= 1:
        # each left row met the whole right side in its single group —
        # the kernel's per-row top-k is already global
        return out
    return windowed_topk(out, left_id, [F.col("score").desc(), F.col(right_id)], k)


#: rows per in-kernel left slice — bounds the (slice × m) score tensor
KERNEL_CHUNK_ROWS = 4096

#: the smallest finite double: ``cosine_topk``'s score floor, below
#: which only the -inf of an excluded self-pair (and NaN) falls
_FINITE_FLOOR = -np.finfo(np.float64).max


def cosine_topk(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    vec_col: str = "vec",
    k: int = 10,
    threshold: float | None = None,
    exclude_self: bool = False,
    n_blocks: int | None = None,
    max_block_bytes: int = DEFAULT_MAX_BLOCK_BYTES,
) -> DataFrame:
    """Blocked cosine top-K (the scale path) as a cogrouped block
    matrix product — fully executor-side (``_blocked_topk``).

    The (left-chunk × right-block) grid is realized with two shuffles
    (left replicated ``n_blocks``×, right replicated
    ``n_left_chunks``×); each cogroup task runs one BLAS matmul per
    ≤``KERNEL_CHUNK_ROWS`` left slice and emits exact per-row top-k
    within its block; blocks > 1 are re-ranked with one windowed
    top-K.  No ``collect()``/driver broadcast anywhere — at 1000
    executors every block moves executor→executor through the
    shuffle, never through the driver's NIC.

    ``n_blocks=None`` (default) picks the grid shape from BOTH sides'
    memory geometry (two tiny jobs per side — a column-pruned count
    and a limit-1 dim scan; nothing persisted, so callers with
    expensive upstream plans should cache their inputs); a pinned
    ``n_blocks`` probes only the left side (``plan_grid``).  Each
    cogroup task holds ≤ ``max_block_bytes`` per side, the grid has
    ~cluster parallelism cells, and the shuffle volume
    ``L·n_blocks + R·n_left_chunks`` is approximately minimized.
    Inputs must be L2-normalized ``array<float|double>``; results are
    exact for any grid shape.
    """
    # fresh side-specific aliases: see _replicate_grid's contract
    lhs = left.select(
        F.col(left_id).alias("__lid"), F.col(vec_col).alias("__lvec")
    )
    rhs = right.select(
        F.col(right_id).alias("__rid"),
        F.col(vec_col).alias("__rvec"),
    )

    def block_scorer(r: pd.DataFrame, ids: np.ndarray):
        def score(chunk, lids, cos):
            if exclude_self:
                cos[lids[:, None] == ids[None, :]] = -np.inf
            return cos

        return score

    return _blocked_topk(
        lhs, rhs, left_id, right_id, k,
        # -inf (an excluded self-pair) is dropped at any threshold
        _FINITE_FLOOR if threshold is None else max(threshold, _FINITE_FLOOR),
        n_blocks, None, max_block_bytes, 0, KERNEL_CHUNK_ROWS, block_scorer,
    )


# ---------------------------------------------------------------------------
# Approximate nearest neighbour: random-hyperplane LSH bucketing
# ---------------------------------------------------------------------------


def random_hyperplane_tables(
    dim: int, n_planes: int, n_tables: int, seed: int = 7
) -> list[list[list[float]]]:
    """``n_tables`` independent sign-LSH tables drawn from one seeded
    stream (standard multi-table LSH: a neighbour is found if ANY table
    buckets it with the query), rounded to 6 decimals so the identical
    literals can be embedded in both the Spark plan and an ANSI-SQL
    oracle (shortest-repr round-trip makes the doubles bit-identical)."""
    rng = np.random.RandomState(seed)
    flat = rng.standard_normal((n_tables * n_planes, dim))
    return [
        [[round(float(x), 6) for x in row] for row in flat[t * n_planes:(t + 1) * n_planes]]
        for t in range(n_tables)
    ]


def _plane_dot(vec: Column, plane: list[float]) -> Column:
    """Left-folded dot(vec, plane) via ``zip_with`` + ``aggregate`` —
    codegen emits a loop (an unrolled 64-term chain overflows Janino's
    64 KB method limit when many planes share a projection) while the
    sequential left-to-right accumulation keeps the IEEE754 result
    identical to a `v[1]*w1 + v[2]*w2 + ...` SQL transliteration
    (sign must agree for bucket parity)."""
    weights = F.array(*[F.lit(w) for w in plane])
    return F.aggregate(
        F.zip_with(vec, weights, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p set iff dot(vec, plane_p) >= 0.
    Pure Catalyst expressions — computed in the scan projection, fully
    codegen'd, no UDF."""
    sig = F.lit(0)
    for p, plane in enumerate(planes):
        sig = sig + F.when(_plane_dot(vec, plane) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return sig


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int,
    tables: list[list[list[float]]],
    multi_probe: bool = True,
    use_kernel: bool = False,
) -> DataFrame:
    """ANN top-K via multi-table random-hyperplane LSH — the bucketed
    scale path next to the brute-force kernels.

    Per table: O(n) signature computation in the scan projection (pure
    Catalyst, codegen'd), one shuffle on ``(table, bucket)``, candidate
    pairs only within shared buckets.  Multi-probe additionally flips
    each signature bit on the *query* side (1 + n_planes probe keys per
    query per table), recovering neighbours lost to a single boundary
    plane without touching the corpus layout.  Candidates are
    pair-deduplicated across tables/probes before exact cosine re-rank,
    so each surviving pair is scored once.

    At 100 TB the corpus signatures are precomputed and the table is
    written bucketed by ``(tbl, sig)`` so probes become partition-pruned
    scans; the (small) query side is the broadcast side of the bucket
    join.  Recall/cost is tuned by (n_planes ↑ ⇒ smaller buckets,
    n_tables ↑ ⇒ higher recall).

    Inputs carry raw (unnormalized) ``array<float>`` vectors; bucketing
    uses the raw sign (scale-invariant), ranking uses exact cosine.
    """
    n_tables = len(tables)
    n_planes = len(tables[0])
    dvec = F.col(vec_col).cast("array<double>")
    # signature projections are pipelined onto the scans — spread
    # single-split reads so they don't evaluate on one core
    corpus = spread_small_input(corpus)
    queries = spread_small_input(queries)
    c_sigs = corpus.select(
        F.col(corpus_id).alias("__cid"),
        *[
            hyperplane_signature(dvec, t).alias(f"__sig{i}")
            for i, t in enumerate(tables)
        ],
    )
    c = c_sigs.select(
        "__cid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("tbl"), F.col(f"__sig{i}").alias("sig")
                    )
                    for i in range(n_tables)
                ]
            )
        ).alias("__k"),
    ).select("__cid", F.col("__k.tbl").alias("__tbl"), F.col("__k.sig").alias("__sig"))
    q_sigs = queries.select(
        F.col(query_id).alias("__qid"),
        *[
            hyperplane_signature(dvec, t).alias(f"__sig{i}")
            for i, t in enumerate(tables)
        ],
    )
    probe_structs = []
    for i in range(n_tables):
        base = F.col(f"__sig{i}")
        keys = [base]
        if multi_probe:
            keys += [base.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        probe_structs += [
            F.struct(F.lit(i).alias("tbl"), key.alias("sig")) for key in keys
        ]
    q = q_sigs.select(
        "__qid", F.explode(F.array(*probe_structs)).alias("__k")
    ).select("__qid", F.col("__k.tbl").alias("__tbl"), F.col("__k.sig").alias("__sig"))
    # ONE exchange for dedup + scoring + top-K (round 16, guide §2.4):
    # repartition the raw bucket-join pairs by __qid BEFORE the
    # distinct — HashPartitioning(__qid) satisfies the distinct's
    # ClusteredDistribution((__qid, __cid)) (same-qid rows are
    # co-located, hence every duplicate pair is), the scoring joins are
    # broadcast, and the top-K window's ClusteredDistribution(__qid) is
    # the same partitioning — so the dedup aggregate, both score joins
    # and the window all ride this single shuffle (was: a (qid, cid)
    # dedup exchange + this repartition = two pair-set shuffles, and
    # strictly MORE bytes on the wire: duplicates crossed the dedup
    # exchange and uniques crossed the repartition; now only the
    # duplicates cross, once).  REPARTITION_BY_NUM is exempt from AQE
    # coalescing, which would otherwise fold the byte-tiny but
    # compute-heavy pair set onto ~1 core (the original reason this
    # repartition exists); pinning it below the distinct keeps that
    # property for every downstream stage.  SKEW CAVEAT: keying on
    # __qid alone sends every raw pair of one query to one task.  A hot
    # __qid (one query inside a large near-duplicate cluster, hitting
    # thousands of corpus rows in every table) makes that task the
    # straggler, and its duplicates are no longer pre-spread by a
    # (__qid, __cid) exchange.  On such corpora re-key the dedup on
    # (__qid, __cid) and pay the second shuffle.
    pairs = (
        q.join(c, ["__tbl", "__sig"])
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid")
        .repartition(
            queries.sparkSession.sparkContext.defaultParallelism, "__qid"
        )
        .distinct()
    )
    qv = queries.select(F.col(query_id).alias("__qid"), dvec.alias("__qvec"))
    cv = corpus.select(F.col(corpus_id).alias("__cid"), dvec.alias("__cvec"))
    if use_kernel:
        score = seq_cosine_kernel("__qvec", "__cvec")
    else:
        # Norms depend on ONE side each, so compute them in the side
        # projections BELOW the pair join (round 15, guide §2.3): each
        # HOF fold then runs once per ENTITY (|Q| + |C| rows, inside
        # the broadcast build) instead of once per CANDIDATE PAIR in
        # the post-join projection — measured 2 of the 3 per-pair
        # 64-element lambda folds removed, scoring stage ~2×.  The
        # VALUE is bit-identical: same deterministic expression on the
        # same casted vector, and Catalyst never hoists a Project
        # expression from below a join into the per-pair projection.
        def _norm(col: str):
            return F.sqrt(
                F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x)
            )

        qv = qv.withColumn("__qn", _norm("__qvec"))
        cv = cv.withColumn("__cn", _norm("__cvec"))
        dot = F.aggregate(
            F.zip_with("__qvec", "__cvec", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        score = dot / (F.col("__qn") * F.col("__cn"))
    scored = (
        pairs.join(qv, "__qid")
        .join(cv, "__cid")
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            score.alias("score"),
        )
    )
    return windowed_topk(
        scored, query_id, [F.col("score").desc(), F.col(corpus_id)], k
    )


# ---------------------------------------------------------------------------
# Approximate nearest neighbour: IVF (inverted file) with fixed centroids
# ---------------------------------------------------------------------------


def _hof_cosine(a: str, b: str) -> Column:
    """``dot(a, b) / (|a|·|b|)`` of two ``array<double>`` columns as
    left-folded higher-order expressions — the IVF assignment and
    re-rank score that the SQL twins replay as
    ``list_cosine_similarity``."""
    an = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    bn = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return dot / (an * bn)


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    n_probe: int = 1,
    list_col: str = "ivf_list",
    use_kernel: bool = False,
    blocked: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by
    cosine (centroids: (centroid_id, vec) — typically a deterministic
    sample of the corpus, so the whole index is reproducible).  One
    broadcast join against the (small) centroid table + windowed
    top-n_probe; no UDFs.

    At 100 TB: corpus rows are written partitioned by their single
    nearest list (``n_probe=1``); only queries fan out to multiple
    lists, turning search into partition-pruned scans of n_probe
    lists.

    ``blocked=True`` routes the assignment through the cogrouped
    BLAS block product (``cosine_topk`` on L2-normalized sides)
    instead of the crossJoin formulations — THE corpus-scale build
    path: the crossJoin scores |corpus|·nlist pairs one row at a time
    (interpreted HOF) or Arrow-ships them all (``use_kernel``),
    both linear in the PAIR count, while the blocked product is one
    GEMM per (chunk × block) cell (measured 200k × 448: 61.8s HOF /
    84.9s kernel / ~8s blocked).  Scores are cosine either way;
    assignments can differ only on floating near-ties of
    dot-of-normalized vs dot/(|a||b|) (parity pytest on the fixture).
    The registered oracle queries keep the crossJoin-HOF formulation
    the SQL twin replays expression-for-expression.

    Zero-norm vectors carry no direction, so cosine against them is
    undefined (NaN): they are EXCLUDED from assignment — and hence
    from the index — deterministically in BOTH paths (round-11
    advice: the blocked path already dropped them via the NaN keep
    mask while the crossJoin path ranked their NaN scores FIRST under
    descending NaN ordering, assigning them to an arbitrary list).
    The filter is a norm comparison the oracle data never triggers
    (no zero embeddings in the fixtures), so registered hashes are
    unchanged."""
    nonzero = lambda vc: (  # noqa: E731
        F.aggregate(vc, F.lit(0.0), lambda a, x: a + x * x) > 0
    )
    df = df.filter(nonzero(F.col(vec_col).cast("array<double>")))
    centroids = centroids.filter(
        nonzero(F.col("vec").cast("array<double>"))
    )
    if blocked:
        lhs = l2_normalize(
            df.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
            ),
            "vec",
        )
        rhs = l2_normalize(
            centroids.select(
                "centroid_id", F.col("vec").cast("array<double>").alias("vec")
            ),
            "vec",
        )
        ranked = cosine_topk(lhs, rhs, id_col, "centroid_id", "vec", k=n_probe)
        return ranked.select(id_col, F.col("centroid_id").alias(list_col))
    c = centroids.select(
        F.col("centroid_id").alias(list_col), F.col("vec").alias("__cvec")
    )
    dvec = F.col(vec_col).cast("array<double>")
    # the broadcast-join scoring below is pipelined onto df's scan —
    # spread a single-split read or the whole assignment runs serially
    v = spread_small_input(df.select(F.col(id_col), dvec.alias("__v")))
    if use_kernel:
        csim = seq_cosine_kernel("__v", "__cvec")
    else:
        csim = _hof_cosine("__v", "__cvec")
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col, list_col, csim.alias("__csim")
    )
    ranked = windowed_topk(
        scored, id_col, [F.col("__csim").desc(), F.col(list_col)], n_probe
    )
    return ranked.select(id_col, list_col)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    query_id: str,
    vec_col: str,
    k: int,
    centroids: DataFrame,
    n_probe: int = 4,
    use_kernel: bool = False,
) -> DataFrame:
    """IVF ANN top-K: corpus vectors live in ONE inverted list (their
    nearest centroid); queries probe their ``n_probe`` nearest lists
    and rank only vectors in those lists by exact cosine.

    Complement to the sign-LSH tables (``ann_lsh_topk``): IVF adapts
    to the data distribution (lists = Voronoi cells of the centroid
    sample) where LSH is data-oblivious; recall is tuned by n_probe ×
    centroid count.  With deterministic centroids the index build is a
    pure function of the corpus — reproducible and oracle-checkable."""
    c_assign = ivf_assign(
        corpus, corpus_id, vec_col, centroids, n_probe=1, use_kernel=use_kernel
    )
    q_assign = ivf_assign(
        queries, query_id, vec_col, centroids, n_probe=n_probe, use_kernel=use_kernel
    )
    dvec = F.col(vec_col).cast("array<double>")
    cv = corpus.select(F.col(corpus_id).alias("__cid"), dvec.alias("__cvec"))
    qv = queries.select(F.col(query_id).alias("__qid"), dvec.alias("__qvec"))
    pairs = (
        q_assign.withColumnRenamed(query_id, "__qid")
        .join(c_assign.withColumnRenamed(corpus_id, "__cid"), "ivf_list")
        .filter(F.col("__qid") != F.col("__cid"))
        .select("__qid", "__cid")
        .distinct()
    )
    # AQE-coalesce guard for the compute-heavy scoring stage — see
    # ann_lsh_topk
    pairs = pairs.repartition(
        queries.sparkSession.sparkContext.defaultParallelism, "__qid"
    )
    if use_kernel:
        score = seq_cosine_kernel("__qvec", "__cvec")
    else:
        score = _hof_cosine("__qvec", "__cvec")
    scored = (
        pairs.join(qv, "__qid")
        .join(cv, "__cid")
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            score.alias("score"),
        )
    )
    return windowed_topk(
        scored, query_id, [F.col("score").desc(), F.col(corpus_id)], k
    )


def ivf_auto_centroids(
    corpus: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """DERIVE the IVF centroid set from the corpus instead of pinning
    a sampling constant — the ANN analogue of the rank-window
    derivation (any fixed centroid modulus is eventually wrong: the
    registered ``% 13`` density is already 1,539 tiny lists at sf1 —
    SCALE.md round-11 ANN appendix).  nlist ≈ sqrt(N) balances probe
    cost (n_probe·N/nlist rows per query) against assignment cost
    (N·nlist dots) and keeps the centroid table broadcastable at any
    corpus size; the sample is the deterministic
    ``id % (N // ceil(sqrt(N))) == 0`` slice, so the derived index is
    a pure function of the corpus — reproducible and
    oracle-replayable (the modulus is computable in SQL from
    ``count(*)``).  One count job at build time.

    The modulus uses FLOATING ``ceil(sqrt(n))`` — deliberately the
    same formulation as the DuckDB oracle's, so both sides compute
    the identical modulus at any count."""
    n = corpus.count()
    mod = max(1, n // max(1, int(math.ceil(math.sqrt(n)))))
    return corpus.filter(F.col(id_col) % mod == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("vec")
    )


def ivf_index(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    centroids: DataFrame,
    list_col: str = "ivf_list",
    use_kernel: bool = False,
    blocked: bool = False,
) -> DataFrame:
    """The persistable IVF ARTIFACT: every corpus vector stamped with
    its single nearest list (``ivf_assign`` n_probe=1), vectors
    carried along so serving never rejoins the raw corpus.  Write it
    ``.repartition(list_col).write.partitionBy(list_col)`` — each
    inverted list becomes ONE parquet file in its own partition
    directory (unrepartitioned, every upstream task writes a file
    into every list it touches: up to task×list tiny files), so a
    probe of n_probe lists is a partition-PRUNED scan (dynamic
    partition pruning once the probe's list set is broadcast-joined
    against it), never a full index read.  Centroid count should
    scale ~sqrt(N) (probe cost ≈ n_probe·N/nlist rows per query vs
    assignment cost ≈ N·nlist dots at build; the centroid table must
    stay broadcastable) — measured recall/latency knee in SCALE.md's
    round-11 ANN appendix.  The ANN twin of
    ``hybrid.rank_window_index``: nightly build, intraday probes."""
    assign = ivf_assign(
        corpus, corpus_id, vec_col, centroids, n_probe=1, list_col=list_col,
        use_kernel=use_kernel, blocked=blocked,
    )
    return corpus.select(
        corpus_id, F.col(vec_col).cast("array<double>").alias(vec_col)
    ).join(assign, corpus_id)


def ivf_probe(
    queries: DataFrame,
    index: DataFrame,
    query_id: str,
    corpus_id: str,
    centroids: DataFrame,
    vec_col: str = "vec",
    k: int = 10,
    n_probe: int = 4,
    list_col: str = "ivf_list",
    use_kernel: bool = False,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Serve an ANN batch off a (possibly reloaded) ``ivf_index``
    artifact: assign each query to its ``n_probe`` nearest lists (one
    broadcast join against the small centroid table), fetch ONLY those
    lists from the index — the probe side is broadcast, so on a
    ``partitionBy(list_col)`` artifact Spark's dynamic partition
    pruning skips every unprobed list directory — and exact-cosine
    re-rank the fetched vectors.  Identical math to ``ann_ivf_topk``
    (same assignment, same score, same (score DESC, id) tie order);
    the difference is WHERE the corpus side comes from: the stamped
    artifact instead of an in-session assignment, which is what makes
    the nightly-build / intraday-serve split deployable.  Probe cost
    rides the batch size × the probed lists' row count, independent
    of the corpus outside those lists.

    CONTRACT: ``queries`` is a serving BATCH — both its list
    assignment (|batch|·n_probe slim rows) and its vectors are
    broadcast, which is what lets the artifact side stream under
    dynamic partition pruning.  For corpus-sized query sets use
    ``ann_ivf_topk`` (shuffle-join formulation) instead.

    ``use_kernel=True`` scores fetched pairs (and assigns queries)
    with the Arrow-batched kernel instead of the interpreted HOF
    expression — same regime rule as the other vector operators (see
    the kernel-threshold note above ``_fold_pair_scores``): the HOF
    wins below ~10⁶ fetched pairs, the kernel above (measured 200k
    corpus × 1.2k batch × n_probe=16 ≈ 8M pairs: 44.8s HOF → kernel
    ~an order less).  Bit-identical scores either way.

    ``tombstones`` (a small frame carrying deleted ids in a
    ``corpus_id`` column) DELETES documents from serving BETWEEN
    nightly rebuilds — the takedown/GDPR half of the artifact
    lifecycle: the index side is anti-joined against the broadcast
    tombstone set before scoring, so a deleted vector can never
    surface as a neighbor.  Because assignment is per-row under
    frozen centroids, the tombstone probe is EXACTLY the probe of the
    compacted artifact (``drop_tombstoned``) and of a frozen-centroid
    rebuild without the deleted rows (equality pytest-pinned;
    ``ann_ivf_delete_e2e`` pins it against the rebuild-minus-deleted
    SQL replay).  Cost: one broadcast anti-join on the fetched lists
    — tombstone sets are takedown-sized, not corpus-sized."""
    index = drop_tombstoned(index, tombstones, corpus_id)
    q_assign = ivf_assign(
        queries, query_id, vec_col, centroids, n_probe=n_probe,
        list_col=list_col, use_kernel=use_kernel,
    )
    qv = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    )
    cv = index.select(
        F.col(list_col),
        F.col(corpus_id).alias("__cid"),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    )
    hits = (
        F.broadcast(q_assign.withColumnRenamed(query_id, "__qid"))
        .join(cv, list_col)
        .filter(F.col("__qid") != F.col("__cid"))
    )
    if use_kernel:
        score = seq_cosine_kernel("__qvec", "__cvec")
    else:
        score = _hof_cosine("__qvec", "__cvec")
    scored = (
        hits.select("__qid", "__cid", "__cvec")
        .join(F.broadcast(qv), "__qid")
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            score.alias("score"),
        )
    )
    return windowed_topk(
        scored, query_id, [F.col("score").desc(), F.col(corpus_id)], k
    )


def ivf_compact_rewrite(
    spark,
    path: str,
    tombstones: DataFrame,
    corpus_id: str,
    list_col: str = "ivf_list",
) -> int:
    """PARTIAL compaction of a written ``ivf_index`` artifact: rewrite
    ONLY the list partitions that contain tombstoned rows, leaving
    every other list's files untouched on disk (pytest-pinned via
    file mtimes).  At 100 TB this is the difference between a
    compaction that costs |affected lists| and one that rewrites the
    whole corpus: a takedown-sized tombstone set touches a
    takedown-sized number of lists.

    Mechanics: one semi-join finds the affected list ids (broadcast
    tombstones against the artifact — partition-pruned to nothing on
    the unaffected side by the later filter), the surviving rows of
    those lists (``drop_tombstoned``) are rewritten under
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` (only
    partitions present in the written data are replaced), and lists
    whose EVERY row was deleted — which dynamic overwrite cannot
    touch, since no rows are written for them — are removed through
    the Hadoop FileSystem API (portable across file://, hdfs://,
    s3a://).  Returns the number of affected lists.

    The result equals a full ``drop_tombstoned`` rewrite, which equals a
    frozen-centroid rebuild without the deleted rows (both
    pytest-pinned; ``ann_ivf_compact_rewrite_e2e`` pins the reloaded
    artifact under the rebuild-minus-deleted value oracle).

    CRASH WINDOW (round-13 advice): this rewrite edits the artifact
    IN PLACE — a failure between the dynamic partition overwrite and
    the emptied-list directory deletes (or mid-overwrite) leaves a
    partially compacted artifact, and a probe run WITHOUT the
    tombstones against it would re-serve some deleted rows.  The
    operational contract is therefore: KEEP THE TOMBSTONE SET APPLIED
    to every probe until this job has completed and been verified
    (probes over tombstones are correct against any intermediate
    state — the anti-join re-drops whatever the crash left behind),
    and only then retire the tombstones.  Deployments that want
    crash-atomicity instead of a contract should publish the
    compacted frame through ``sources/writers.py::publish_versioned``
    (serving then flips versions atomically and a half-finished
    rewrite is never resolvable) at the cost of rewriting every list,
    not just the affected ones."""
    artifact = spark.read.parquet(path)
    affected = [
        r[0]
        for r in artifact.join(
            F.broadcast(tombstones.select(corpus_id)), corpus_id, "left_semi"
        )
        .select(list_col)
        .distinct()
        .collect()
    ]
    if not affected:
        return 0
    # localCheckpoint BEFORE the write: the overwrite target is also
    # the read source, which Spark (rightly) refuses on a live plan —
    # materializing the surviving rows of the affected lists first
    # severs the lineage, and the materialized size is bounded by the
    # affected lists, not the artifact.
    kept = drop_tombstoned(
        artifact.filter(F.col(list_col).isin(affected)), tombstones, corpus_id
    ).localCheckpoint()
    survivors = {
        r[0]
        for r in kept.select(list_col).distinct().collect()
    }
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        kept.repartition(list_col).write.mode("overwrite").partitionBy(
            list_col
        ).parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    # lists emptied entirely: no rows written -> dynamic overwrite
    # left their directories in place; drop them explicitly
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in set(affected) - survivors:
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{list_col}={v}")
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)
    return len(affected)


def sign_lsh_self_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables: list[list[list[float]]],
) -> DataFrame:
    """Candidate (id_a < id_b) pairs that share a sign-LSH bucket in
    ANY table — the self-join sibling of ``ann_lsh_topk``'s
    query-vs-corpus probing, feeding the near-dup verifiers
    (``dedup.embedding_near_dup_pairs(candidates=...)``).

    One signature projection (pure Catalyst), one shuffle on
    (table, bucket), pair-dedup across tables.  At 100 TB write the
    signature table bucketed by (tbl, sig) and this becomes a
    partition-local self-join per bucket."""
    dvec = F.col(vec_col).cast("array<double>")
    sigs = df.select(
        F.col(id_col).alias("__id"),
        *[
            hyperplane_signature(dvec, t).alias(f"__sig{i}")
            for i, t in enumerate(tables)
        ],
    )
    banded = sigs.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("tbl"), F.col(f"__sig{i}").alias("sig"))
                    for i in range(len(tables))
                ]
            )
        ).alias("__k"),
    ).select("__id", F.col("__k.tbl").alias("__tbl"), F.col("__k.sig").alias("__sig"))
    a = banded.select(F.col("__id").alias("id_a"), "__tbl", "__sig")
    b = banded.select(F.col("__id").alias("id_b"), "__tbl", "__sig")
    return (
        a.join(b, ["__tbl", "__sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Scalar (int8) embedding quantization — SQ8, the FAISS-style memory path
# ---------------------------------------------------------------------------


def quantize_vectors(
    df: DataFrame,
    vec_col: str,
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization (SQ8): ``scale =
    max|v_i|``, ``q_i = floor(v_i / scale * 127 + 0.5)`` ∈ [-127, 127].
    At 100 TB of float64 embeddings this is the 8× storage / scan-IO
    reduction that makes a vector corpus fit the page cache; the
    approximate dot ``(q_a · q_b) · scale_a · scale_b / 127²`` is exact
    integer arithmetic times two floats, so ANY engine replays the
    identical shortlist (the rounding is floor(x+0.5) — half-up — on
    both sides, not banker's rounding, which differs between engines).
    All-zero vectors quantize to all-zero (scale floor guards the
    division).  Dequantization error ≤ scale/254 per component."""
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    )
    return df.withColumn(scale_col, scale).withColumn(
        q_col,
        F.transform(
            v,
            lambda x: F.floor(x / F.col(scale_col) * 127 + F.lit(0.5)).cast(
                "int"
            ),
        ),
    )


def sq8_approx_dot(
    qa: Column, sa: Column, qb: Column, sb: Column
) -> Column:
    """Approximate dot product of two SQ8-quantized vectors.  The
    integer fold is exact (|q| ≤ 127, dim ≤ 2^46 before overflow);
    only the two scale multiplies are float."""
    int_dot = F.aggregate(
        F.zip_with(qa, qb, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return int_dot * sa * sb / F.lit(127.0 * 127.0)


# ---------------------------------------------------------------------------
# MMR diversified re-ranking — retrieval post-processing
# ---------------------------------------------------------------------------


def mmr_rerank(
    cands: DataFrame,
    qid_col: str,
    cand_col: str,
    rel_col: str,
    vec_col: str,
    k: int = 5,
    lam: float = 0.5,
    round_digits: int = 4,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) over a per-query candidate set: greedily select ``k``
    items maximizing ``λ·relevance − (1−λ)·max_cosine_to_selected`` —
    the standard retrieval post-processor that trades a little
    relevance for diversity so the top-k isn't k near-duplicates.

    Input: one row per (query, candidate) with the candidate's
    relevance and its raw vector.  Output: ``(qid, step, cand, score)``
    — step 1..k in selection order; step 1's score is the relevance
    itself (nothing selected yet).

    Spark shape: greedy selection is inherently sequential per query —
    exactly the ``applyInPandas`` case (a genuine custom stateful
    operator; no Catalyst expression iterates "argmax against the
    running selection").  One shuffle groups candidates by query; each
    task then runs an O(n·k·d) NumPy loop over its ≤n candidates.  At
    100 TB of queries the parallelism is per-query — ideal — and the
    candidate sets are top-n retrieval outputs, so n is small by
    construction.

    Engine-replayable determinism (an external oracle can unroll the
    greedy loop): pairwise cosines are rounded to ``round_digits``
    BEFORE any comparison (kernel epsilon can't flip an argmax);
    ``λ = 0.5`` keeps the blend arithmetic exact in binary; ties break
    on the candidate id ascending."""
    import pandas as _pd

    # Derive id types from the input so string / int / long id columns
    # all round-trip through Arrow unchanged (a hardcoded `long` would
    # raise an Arrow type error for any non-long caller).
    qid_t = cands.schema[qid_col].dataType.simpleString()
    cand_t = cands.schema[cand_col].dataType.simpleString()
    out_schema = (
        f"{qid_col} {qid_t}, step int, {cand_col} {cand_t}, score double"
    )

    def per_query(pdf: _pd.DataFrame) -> _pd.DataFrame:
        qid = pdf[qid_col].iloc[0]
        sub = pdf.sort_values(cand_col).reset_index(drop=True)
        ids = sub[cand_col].to_numpy()
        rel = sub[rel_col].to_numpy(dtype=np.float64)
        mat = np.stack(sub[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        sims = np.round(unit @ unit.T, round_digits)
        n = len(ids)
        selected: list[int] = []
        rows = []
        for step in range(1, min(k, n) + 1):
            best_i, best_score = -1, None
            for i in range(n):
                if i in selected:
                    continue
                if not selected:
                    score = rel[i]
                else:
                    score = lam * rel[i] - (1.0 - lam) * sims[
                        i, selected
                    ].max()
                # strict > : ties keep the earlier (smaller) cand id,
                # since candidates are scanned in ascending-id order
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            rows.append((qid, step, ids[best_i], float(best_score)))
        return _pd.DataFrame(
            rows, columns=[qid_col, "step", cand_col, "score"]
        )

    return cands.groupBy(qid_col).applyInPandas(per_query, out_schema)


# ---------------------------------------------------------------------------
# Random sign projection (Johnson–Lindenstrauss / Achlioptas ±1)
# ---------------------------------------------------------------------------


def sign_projection_matrix(k: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003's database-
    friendly JL variant): sign[j][i] from the low bit of
    ``sha256("<j>:<i>")`` — seed-free, platform-free, and genuinely
    independent across cells (cheap arithmetic hashes — polynomial
    parity, one golden-ratio multiply — leave LINEAR structure across
    rows: measured max row·row up to 56/64, a near-duplicate pair
    that wrecks the JL guarantee; sha256 bits show no such
    correlation, pinned by pytest).  Generation is driver-side Python
    over k×dim cells and the result is inlined as literals into both
    the Spark plan and the SQL oracle — no engine ever evaluates the
    hash, so crypto cost is irrelevant.  k rows × dim columns."""
    import hashlib

    def bit(s: str) -> int:
        return hashlib.sha256(s.encode()).digest()[-1] & 1

    return [
        [1.0 if bit(f"{j}:{i}") else -1.0 for i in range(dim)]
        for j in range(k)
    ]


def random_project(
    df: DataFrame,
    vec_col: str,
    out_col: str,
    k: int = 16,
    dim: int | None = None,
    matrix: list[list[float]] | None = None,
) -> DataFrame:
    """Project ``vec_col`` (array<numeric>, fixed width ``dim``) to a
    ``k``-dim array via the ±1 sign matrix: out[j] = Σ_i sign[j][i]·v[i]
    — the JL dimensionality reduction that preserves pairwise
    angles/distances within ~1/√k distortion, shrinking downstream
    similarity-search shuffle volume by dim/k (64→16 = 4× less vector
    traffic into every ANN/dedup stage).

    Pure Catalyst: each output coordinate is one ``zip_with`` product
    + a SEQUENTIAL left fold (``F.aggregate``) in index order — no
    UDF, and the fold order is pinned so an external engine replaying
    the same order reproduces the doubles bit-for-bit.  The matrix is
    k×dim literals baked into the plan (~1k constants — trivial), so
    zero per-row hash cost and no join."""
    if matrix is None:
        if dim is None:
            raise ValueError("need dim when matrix is not given")
        matrix = sign_projection_matrix(k, dim)
    v = F.col(vec_col).cast("array<double>")
    coords = [
        F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(s) for s in row]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for row in matrix
    ]
    return df.withColumn(out_col, F.array(*coords))
