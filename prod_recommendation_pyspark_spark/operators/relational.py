"""Relational operator library (SURVEY.md §2.2-2.7).

Pure ``DataFrame -> DataFrame`` functions over native Catalyst
expressions — everything here stays inside whole-stage codegen; no
Python UDFs.  Reference parity citations are into ``/root/reference/``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_first_by_key(
    df: DataFrame, key: str | list[str], order_by: str | list[str] | None = None
) -> DataFrame:
    """A1 — one row per key (search_ranking_peers.py:178-188).

    The reference uses ``groupBy(key).agg({c: 'first'})`` then strips
    the ``first(...)`` names with string munging
    (search_ranking_peers.py:186, F6) — ``first`` without ordering is
    nondeterministic under shuffles.  Deterministic Spark-native form:
    ``row_number() == 1`` over an explicit sort key.  With no
    ``order_by``, falls back to ``dropDuplicates`` (same semantics as
    the reference: *some* row per key).

    Scale: the window form is a single shuffle on ``key``;
    ``WindowGroupLimit`` (Spark ≥3.5) pushes the rank filter below the
    sort so only the top row per key is buffered.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if order_by is None:
        return df.dropDuplicates(keys)
    orders = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*orders)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dense_ids(
    df: DataFrame, key: str, id_col: str = "idx", num_partitions: int | None = None
) -> DataFrame:
    """Dense 0-based ids per distinct key, equal to the key's rank in
    global sort order (J5/B20).

    Replaces ``rdd.zipWithIndex()`` (search_ranking_peers.py:201-205,
    recommender_prod_rec.py:187-191) — which severs the Catalyst plan
    and forces an extra job — WITHOUT the other classic trap, a global
    ``Window.orderBy`` (single-reducer sort).  Scalable construction:

    1. ``repartitionByRange`` the distinct keys (parallel range sort);
    2. ``row_number`` within each range partition (local sort only);
    3. add each partition's exclusive prefix-sum of counts as offset
       (the offset table has one row per partition — a broadcast join).

    Because range partitions are contiguous in key order,
    ``offset + local_rank`` IS the global rank for any boundary
    placement.  The keys are persisted between the counts pass and the
    id pass so the sampled range boundaries are identical in both.

    Cache lifetime: the persisted key set backs the RETURNED plan, so
    it stays cached after return — the caller owns it (consume the
    result, then ``spark.catalog.clearCache()`` if running many
    queries in one session; blocks are MEMORY_AND_DISK and evicted
    LRU, so creep is bounded either way).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keyed = (
        df.select(key)
        .distinct()
        .repartitionByRange(n, F.col(key))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # Exclusive prefix sum over ONE ROW PER PARTITION: ≤ parallelism
    # rows of metadata, computed driver-side (same footprint as the
    # range-boundary sampling repartitionByRange already does) — no
    # global window at all, so the WindowExec single-partition alarm
    # stays a true fact-table signal.  The collect also materializes
    # ``keyed``, pinning the sampled range boundaries for the id pass.
    counts = (
        keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")).collect()
    )
    running, off_rows = 0, []
    for row in sorted(counts, key=lambda r: r["__pid"]):
        off_rows.append((row["__pid"], running))
        running += row["__cnt"]
    offsets = spark.createDataFrame(
        off_rows or [(0, 0)], "__pid int, __off long"
    )
    w = Window.partitionBy("__pid").orderBy(key)
    return (
        keyed.withColumn("__local", F.row_number().over(w) - 1)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__local")).cast("int"))
        .select(key, id_col)
    )


def windowed_topk(
    df: DataFrame,
    partition_by: str | list[str],
    order_by: Column | str | list,
    k: int,
    rank_fn=F.row_number,
    rank_col: str | None = None,
) -> DataFrame:
    """W2/W3/O2/O4 — top-K rows per group
    (inference_postprocess.py:85-86,114-115; the in-UDF quickselect at
    search_ranking_peers.py:276-300 collapses to this too).

    Fixes defect B16: the reference's penetration rank orders
    *ascending* (bottom-K); callers here pass an explicit descending
    order.  ``rank_fn`` defaults to ``row_number`` (exactly K rows);
    pass ``F.rank`` for the reference's tie-inclusive behavior.

    Scale: Catalyst ≥3.5 rewrites rank-filter-over-window into
    ``WindowGroupLimit`` — partial top-K before the shuffle, so the
    full sort never materializes per group.
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    orders = order_by if isinstance(order_by, list) else [order_by]
    w = Window.partitionBy(*parts).orderBy(*orders)
    ranked = df.withColumn("__rank", rank_fn().over(w)).filter(F.col("__rank") <= k)
    if rank_col:
        return ranked.withColumnRenamed("__rank", rank_col)
    return ranked.drop("__rank")


def topk_by_threshold(
    df: DataFrame,
    partition_by: str | list[str],
    score_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """O2+O3 — the reference's per-record threshold + quickselect top-K
    (search_ranking_peers.py:276-316, th=0.0 K=15 at :612-613) as one
    declarative filter + windowed top-K."""
    return windowed_topk(
        df.filter(F.col(score_col) >= F.lit(threshold)),
        partition_by,
        F.col(score_col).desc(),
        k,
    )


def trim_normalized_join(
    left: DataFrame, right: DataFrame, key: str, how: str = "left"
) -> DataFrame:
    """J9 — normalize the join key with ``trim`` on both sides before an
    equi-join (inference_postprocess.py:88-90,116)."""
    lnorm = left.withColumn(key, F.trim(F.col(key)))
    rnorm = right.withColumn(key, F.trim(F.col(key)))
    return lnorm.join(rnorm, on=key, how=how)


def rename_with_prefix(df: DataFrame, prefix: str, exclude: list[str] | None = None) -> DataFrame:
    """P5 — bulk-prefix columns (``tgt_``/``src_`` pattern,
    search_ranking_peers.py:333-335) in one ``select`` (one projection
    node instead of N ``withColumnRenamed`` plan rewrites)."""
    excl = set(exclude or [])
    return df.select(
        *[F.col(c).alias(c if c in excl else f"{prefix}{c}") for c in df.columns]
    )


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """P4 — repair-by-cast after schema-on-read
    (search_ranking_peers.py:346-348,497-501), single projection."""
    return df.select(
        *[
            F.col(c).cast(casts[c]).alias(c) if c in casts else F.col(c)
            for c in df.columns
        ]
    )


#: power-of-two salt ladder; the top rung caps replication fan-out
SALT_LADDER = (1, 2, 4, 8, 16, 32, 64, 128, 256)


def derive_salt_factor(
    df: DataFrame,
    keys: list[str],
    target_rows_per_task: int = 2_000_000,
) -> int:
    """DERIVE the salt factor from the measured hot-key count instead
    of pinning a constant (the same remove-the-constant move as the
    rank-window and IVF-density derivations: a salt of 16 is wrong in
    both directions — overhead on a uniform key, a straggler when one
    key is 30% of 100 TB): one calibration pass counts rows per key,
    and the factor is the smallest ladder rung ``w`` with
    ``w · target_rows_per_task ≥ max_count`` — i.e. just enough salts
    that the hottest key's per-reducer share fits the target.

    The calibration groupBy is itself skew-SAFE: counts combine
    map-side, so the reduce stage sees one slim row per (partition,
    key), never the hot key's raw rows.  Integer arithmetic only
    (``w·target ≥ mx``, no float log2), so a DuckDB oracle replays the
    rung pick exactly.  The ladder tops out at 256: beyond that the
    stage-2 merge fan-in and (for joins) right-side replication
    dominate — the top rung is returned, not an error, because more
    salt is diminishing, not wrong."""
    row = (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c"))
        .first()
    )
    mx = int(row[0] or 0)
    for w in SALT_LADDER:
        if w * target_rows_per_task >= mx:
            return w
    return SALT_LADDER[-1]


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    final_aggs: list[Column],
    n_salts: int | None = 16,
    target_rows_per_task: int = 2_000_000,
) -> DataFrame:
    """Two-stage aggregation for skewed group keys: stage 1 aggregates
    on (keys + random-ish salt) so a hot key's rows spread over
    ``n_salts`` reducers; stage 2 merges the partials per key.

    ``aggs`` are the partial aggregates (run within each salt bucket),
    ``final_aggs`` merge the partial columns (e.g. partial
    ``sum(x) AS s`` then final ``sum(s) AS s``).  The salt is
    ``pmod(hash(all columns), n_salts)`` — deterministic per row, no
    rand(), so results are reproducible and the operator stays
    oracle-checkable.

    Catalyst already plans partial+final HashAggregates for simple
    aggs; explicit salting matters when the *shuffle key itself* is hot
    (e.g. groupBy on a key where one value is 30% of 100 TB) or the
    agg buffers are wide (collect_list/percentile).  For skewed JOINs
    prefer AQE (``spark.sql.adaptive.skewJoin``); for skewed broadcast
    candidates prefer broadcasting the small side outright.

    ``n_salts=None`` DERIVES the factor from the measured hot-key
    count (:func:`derive_salt_factor` — one skew-safe calibration
    pass; floor 1 on a uniform key, the ladder rung that fits the
    hottest key to ``target_rows_per_task`` otherwise)."""
    if n_salts is None:
        n_salts = derive_salt_factor(df, keys, target_rows_per_task)
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join for a hot join key the optimizer can't
    see: the (big, skewed) left side gets a deterministic per-row salt
    ``pmod(hash(all columns), n_salts)``; the (medium) right side is
    replicated once per salt value via ``explode(sequence(...))``;
    the join runs on ``keys + salt`` so a hot key's probe rows spread
    over ``n_salts`` reducers instead of one straggler task.

    Semantically identical to the plain join (each left row meets each
    matching right row exactly once — at its own salt's replica), for
    ``how`` in {'inner', 'left'}: a left-outer null-pad also fires
    exactly once per unmatched left row.  The salt is deterministic
    (no rand()), so results are reproducible and oracle-checkable.

    When to reach for this instead of the defaults, in order:
    broadcast the right side if it fits (no shuffle at all); let AQE's
    skew-join split handle it (``spark.sql.adaptive.skewJoin``) when
    runtime stats see the skew; salt manually ONLY when neither
    applies — e.g. the skewed side is mid-plan under a cached or
    exchange-reusing subtree AQE won't re-split, or the skew is known
    a priori (``skew_profile_*`` output) and you want a stable plan.
    Cost model: right-side shuffle volume grows ×``n_salts`` — fit for
    dimensions too big to broadcast yet ≪ the fact table; pick
    ``n_salts`` ≈ the hot key's skew_x from the profiler."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(
        F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts)
    )
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return l.join(r, [*keys, "__salt"], how).drop("__salt")


def modulo_split(
    df: DataFrame, key_col: str, n_buckets: int = 10, train_buckets: int = 8,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/test split by key arithmetic: bucket =
    ``pmod(key, n_buckets)``; buckets < ``train_buckets`` → 'train',
    rest → 'test'.  The scalable, reproducible replacement for
    ``randomSplit`` (U2): membership is a pure row-local function of
    the key — no sampling pass, no seed-vs-partitioning
    nondeterminism, stable across reruns AND across engines (the exact
    property the DuckDB oracle checks).  For keys with structure
    (sequential ids), hash first; plain modulo is used where
    cross-engine reproducibility matters more than mixing."""
    bucket = F.pmod(F.col(key_col).cast("long"), F.lit(n_buckets))
    return df.withColumn(
        split_col,
        F.when(bucket < train_buckets, F.lit("train")).otherwise(F.lit("test")),
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """CDC merge (the MERGE INTO maintenance op, engine-agnostic):
    source rows win on matched keys (update), unmatched source rows
    are inserted, unmatched target rows are kept, and — when
    ``delete_col`` names a boolean source column — flagged source rows
    delete their target match instead.

    Shape: ``target LEFT ANTI source-keys`` ∪ ``source upserts`` — two
    columnar branches, ONE shuffle each on the merge key, instead of a
    full-outer join with per-column coalesce (which would rewrite
    every column expression and break column pruning).  At 100 TB with
    the target bucketed by the key, the anti join reads bucket files
    with no target-side Exchange and only the (small) CDC batch
    shuffles — the same incremental economics as
    ``dedup.incremental_lsh_candidates``.  Deletes cost nothing extra:
    they participate in the anti join's key set and are simply absent
    from the upsert branch."""
    if delete_col is None:
        upserts = source
    else:
        upserts = source.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(upserts)


def drop_tombstoned(
    df: DataFrame, tombstones: DataFrame | None, id_col: str
) -> DataFrame:
    """The tombstone policy of every serving artifact: drop the rows of
    ``df`` whose ``id_col`` appears in ``tombstones`` (a small frame
    carrying deleted ids in an ``id_col`` column), by an anti-join
    against the broadcast tombstone set.  ``tombstones=None`` returns
    ``df`` unchanged.

    Applied at probe time it deletes documents from serving BETWEEN
    nightly rebuilds; applied to a whole artifact it is the COMPACTION
    job — rewrite the result with the artifact's layout and the
    probe-time anti-join becomes unnecessary.  For the two artifacts
    whose rows are a pure per-document function, the anti-join IS the
    rebuild, with no re-assignment or re-hashing pass
    (rebuild-equivalence pytest-pinned,
    ``tests/test_artifact_lifecycle.py``):

    - an ``ivf_index`` artifact under frozen centroids: list assignment
      is per-row, so the compacted index is exactly ``ivf_index(corpus
      minus deleted, same centroids)``.  Compaction serves the intraday
      takedown; the nightly rebuild (which also re-derives centroids
      via ``ivf_auto_centroids``) remains the steady state.
    - a ``minhash_band_keys`` store: band keys are per-document, so the
      compacted store is exactly ``minhash_band_keys(corpus minus
      deleted)``.

    Cost: one scan of ``df`` against a broadcast takedown-sized set —
    at 100 TB the cheap path vs re-assigning or re-hashing the
    surviving corpus."""
    if tombstones is None:
        return df
    return df.join(F.broadcast(tombstones.select(id_col)), id_col, "left_anti")


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation — the inverse of :func:`merge_upsert`:
    given two versions of a keyed table, emit one row per difference
    with ``diff_status`` ∈ {'added', 'removed', 'changed'} and
    ``changed_cols`` (comma-joined names of the columns whose values
    differ, null-safely compared; empty for added/removed).
    Unchanged rows are dropped — at 100 TB the diff output is the CDC
    volume, not the table.

    Shape: ONE full-outer join on the key (each side shuffles once;
    with both snapshots bucketed by the key it is a zero-Exchange
    zip), presence flags from literal markers (null after the outer
    join ⇒ absent on that side), and every column comparison a
    codegen'd ``<=>`` — no per-column joins, no collects.  This is
    the audit tool for validating a CDC feed: ``table_diff(v_n,
    merge_upsert(v_n, batch, keys), keys)`` must equal the batch's
    effect exactly."""
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c not in keys and c in new.columns
        ]
    o = old.select(
        *keys,
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(True).alias("__in_new"),
    )
    j = o.join(n, keys, "full")
    diff_flags = [
        ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        for c in compare_cols
    ]
    # key-only tables (or no shared non-key columns) still diff on
    # membership: nothing can be 'changed', only added/removed
    any_changed = F.lit(False)
    for fl in diff_flags:
        any_changed = any_changed | fl
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(any_changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    if diff_flags:
        changed_cols = F.when(
            F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull(),
            F.concat_ws(
                ",",
                *[
                    F.when(fl, F.lit(c))
                    for c, fl in zip(compare_cols, diff_flags)
                ],
            ),
        ).otherwise(F.lit(""))
    else:
        changed_cols = F.lit("")
    return (
        j.select(
            *keys,
            status.alias("diff_status"),
            changed_cols.alias("changed_cols"),
        )
        .filter(F.col("diff_status") != "unchanged")
    )
