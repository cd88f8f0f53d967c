"""Stream-stream join + streaming deduplication (SURVEY.md §2.12
stretch; absent from the reference, which is batch-only).

Two staples of a streaming training-data pipeline:

- ``streaming_click_attribution``: watermarked stream-stream interval
  join — each click is attributed to the same user's view no older
  than ``horizon``.  Both sides carry watermarks so Spark can bound
  the join state: a buffered view row is dropped once the click-side
  watermark passes ``view.ts + horizon``; symmetric for clicks.
  Without the time-range conjunct the state store would grow without
  bound — the interval is what makes the join feasible on an infinite
  stream.

- ``streaming_dedup_events``: ``dropDuplicatesWithinWatermark`` on the
  event id — the streaming twin of operators/dedup.py::exact_dedup.
  State holds one entry per key seen within the watermark horizon and
  is evicted as the watermark advances (exactly-once per key within
  the horizon; at-least-once beyond it, which downstream exact dedup
  mops up in the batch layer).

Scale notes (1000 executors): both operators shuffle by the join /
dedup key once, state is partitioned with the shuffle, and the
watermark is the only knob bounding memory — size it to the real
out-of-orderness (p99 event lateness), not to a guess.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.hybrid import (
    DEFAULT_W_HAVS,
    DEFAULT_W_HOPS,
)
from prod_recommendation_pyspark_spark.operators.relational import (
    drop_tombstoned,
)


def _start_foreach(stream: DataFrame, per_batch, checkpoint_dir: str | None):
    """Start ``per_batch(df, batch_id)`` on every micro-batch of
    ``stream`` (``foreachBatch``, update mode), restartable from
    ``checkpoint_dir`` when one is given; returns the started
    ``StreamingQuery``.  Each loop's ``per_batch`` keeps its own
    empty-batch policy."""
    writer = stream.writeStream.foreachBatch(per_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def split_clicks_views(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Project the two event-type substreams used by the attribution
    join.  Columns are prefixed per side so the joined row is
    unambiguous (the reference renames with toDF after join — here the
    rename happens before, so the join condition is self-documenting).
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
    )
    return clicks, views


def streaming_click_attribution(
    clicks: DataFrame,
    views: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner stream-stream join: click ↔ same-user view with
    ``view_ts ∈ (click_ts - horizon, click_ts]``.  Works unchanged on
    batch DataFrames (same logical plan, no state) — the parity test
    runs it both ways."""
    c = clicks.withWatermark("click_ts", watermark)
    v = views.withWatermark("view_ts", watermark)
    return c.join(
        v,
        (F.col("click_user") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") > F.col("click_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("click_id", "click_user", "click_ts", "view_id", "view_ts")


def streaming_dedup_events(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked streaming dedup: first arrival per key wins; state
    for a key is dropped once the watermark passes its event time.

    On a batch DataFrame (``dropDuplicatesWithinWatermark`` is
    streaming-only) this degrades to plain ``dropDuplicates`` — the
    same one-survivor-per-key contract with an unbounded horizon,
    which is what a batch replay of the stream means."""
    if not events.isStreaming:
        return events.dropDuplicates(keys or ["event_id"])
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_incremental_dedup(
    docs: DataFrame,
    corpus_keys: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Stream-static LSH dedup: flag arriving documents that near-
    duplicate the EXISTING corpus, inside the micro-batch.

    ``corpus_keys`` is the static corpus LSH index
    (``operators/dedup.py::minhash_band_keys``, ideally a table
    bucketed by ``(band, key)``).  The arriving doc's signature is the
    per-row HOF ``minhash_signature`` — a pure PROJECTION, which is
    what makes this streamable: no streaming aggregation, no state
    store, so the query runs in append mode and the only cost per
    micro-batch is hashing the new docs and a stream-static join
    (state-free by definition — the static side is just read).

    Emits one ``(id, corpus_id, band)`` row per band collision —
    at-least-once per (doc, corpus-doc) pair (a pair colliding in k
    bands emits k rows; dedup/exact-Jaccard verification runs
    downstream in the batch layer, the same split as the batch
    operator's candidates→verify).  Runs unchanged on a batch
    DataFrame (same plan; parity with
    ``incremental_lsh_candidates(..., max_bucket=None)`` is pytested).

    NO batch-side bucket cap: counting a band key's members within the
    micro-batch would be a streaming aggregation (state store, no
    append mode), so unlike ``minhash_band_keys(max_bucket=...)`` the
    arriving side is uncapped.  The blow-up is still bounded: the
    STORE was built with its cap, so one streamed doc emits at most
    ``bands × max_bucket`` rows — linear in the batch, never
    batch × batch (there is no self-join here).  Degenerate
    boilerplate floods should be capped upstream (store build) or in
    the batch layer's within-batch dedup.

    ``tombstones`` (round 12, the delete lifecycle's 24/7 half):
    deleted corpus docs are anti-joined out of the static store side
    before banding, identically to the batch operator
    (``incremental_lsh_candidates(tombstones=...)``) — a takedown
    stops matching new arrivals from the batch after it lands,
    without restarting the loop or rewriting the store (that is the
    nightly compaction, ``drop_tombstoned`` over the whole store)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        band_key_structs,
        minhash_signature,
        word_shingles,
    )

    corpus_keys = drop_tombstoned(corpus_keys, tombstones, id_col)

    # Spread the arriving side BEFORE hashing: a micro-batch from a
    # file source is typically ONE split, and the 64-hash signature is
    # the batch's dominant cost — unspread it runs serially on one
    # core no matter the cluster size (measured ~11.5s/batch at sf0.1
    # vs sub-second spread; `lastProgress.durationMs.addBatch` showed
    # a single-task stage).  ``spread_small_input``'s RDD probe is
    # unavailable on a streaming plan, so this is an unconditional
    # batch-sized slim shuffle — noise next to the hashing it
    # parallelizes, in batch parity mode included.
    docs = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, id_col
    )
    rows_per_band = n_hashes // bands
    hashed = F.transform(
        word_shingles(F.col(text_col), shingle_words), lambda s: F.xxhash64(s)
    )
    banded = (
        docs.withColumn("__sig", minhash_signature(hashed, n_hashes))
        .select(
            F.col(id_col),
            F.explode(
                band_key_structs("__sig", bands, rows_per_band)
            ).alias("bk"),
        )
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    store = corpus_keys.select(
        F.col(id_col).alias("corpus_id"), "band", "key"
    )
    return banded.join(store, ["band", "key"], "inner").select(
        id_col, "corpus_id", "band"
    )


def streaming_dedup_serving_full(
    docs_stream: DataFrame,
    corpus_keys: DataFrame,
    emit,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    checkpoint_dir: str | None = None,
    tombstones: DataFrame | None = None,
):
    """The COMPLETE streaming dedup loop: per micro-batch, flag
    arrivals against the static corpus store (``stream × store``, the
    :func:`streaming_incremental_dedup` join) AND against EACH OTHER
    (within-batch self-pairs) — closing the case the stream-static
    operator's docstring defers: two near-dup docs arriving in the
    SAME micro-batch never meet the store, so only a batch-layer
    self-join inside the micro-batch can pair them.  foreachBatch is
    what makes that legal: the self-join would be a stream-stream
    join (watermark state) on a streaming frame, but each micro-batch
    is a plain batch frame where ``lsh_candidate_pairs`` runs as-is.

    Emits one ``(id_a, id_b)`` frame per batch to ``emit(df,
    batch_id)`` — cross pairs oriented (corpus id, arriving id),
    within-batch pairs (smaller id, larger id); exact-Jaccard
    verification stays downstream in the batch layer, same split as
    everywhere else.  Near-dup arrivals in DIFFERENT micro-batches
    are still out of scope by design — neither side is in the store,
    so they pair at the next nightly rebuild; a serving loop that
    also ingested arrivals into the store would catch them at the
    cost of store mutation (registered evidence:
    ``streaming_dedup_within_batch``).

    Scale per batch: |batch| hashing + one bucket-join against the
    bucketed store + one |batch|²-bounded self-join that in practice
    rides the band-key collision count, never materializing
    batch × batch."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    def per_batch(batch: DataFrame, batch_id: int) -> None:
        # tombstones thread to the store half only: within-batch
        # self-pairs are between ARRIVING docs, which a corpus
        # takedown cannot name
        cross = streaming_incremental_dedup(
            batch, corpus_keys, id_col, text_col,
            shingle_words, n_hashes, bands, tombstones=tombstones,
        ).select(
            F.col("corpus_id").alias("id_a"), F.col(id_col).alias("id_b")
        )
        within = lsh_candidate_pairs(
            batch, id_col, text_col, shingle_words, n_hashes, bands,
        )
        emit(cross.unionByName(within).distinct(), batch_id)

    return _start_foreach(docs_stream, per_batch, checkpoint_dir)


def streaming_peer_serving(
    prospects_stream: DataFrame,
    index: DataFrame,
    clients: DataFrame,
    left_id: str,
    right_id: str,
    emit,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    window: int | None = None,
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    checkpoint_dir: str | None = None,
    tombstones: DataFrame | None = None,
):
    """Streaming serving loop for the rank-window peer search: per
    micro-batch of arriving prospects, probe the STATIC persisted
    client index (``operators/hybrid.py::rank_window_index`` — the
    nightly artifact), exact-score the probed candidates against the
    static client attributes, keep the per-prospect top-k, and hand
    the scored frame to ``emit(df, batch_id)`` (an idempotent sink —
    same contract as the foreachBatch CDC maintenance sink in
    ``streaming/maintenance.py``).

    Why foreachBatch and not a plain stream-static join: the probe
    aggregates the index's block starts and computes each prospect's
    insertion count as a window over its fetched blocks, and the top-k
    needs a window function too — streaming restrictions (one agg, no
    windows in append mode) rule the direct plan out, while per-batch
    the frames are static and the full batch operators run unchanged.
    CORRECTNESS under batching is free: the probe is per-row
    independent and each prospect arrives in exactly one micro-batch,
    so the union of per-batch top-k IS the batch path's top-k
    (pytest-pinned streamed≡batch parity).

    ``window=None`` (the default) resolves the window FROM the
    index's ``__w`` metadata column at start; an explicit ``window``
    is validated against it (round-10 advice: the probe's insertion
    arithmetic is silently wrong on a mismatched window — now it
    raises before the first batch).

    Scale: each micro-batch touches a broadcast array of block starts
    (|index|/window rows) plus 3 window blocks per (prospect, arm) —
    index-lookup I/O, independent of corpus size; the re-rank checks
    vector dims inside each batch's plan (``_dim_guarded``), so no
    guard job runs per batch, and the window is resolved ONCE, not per
    batch (off a published read, from its manifest with no job).
    State: NONE (no streaming aggregation, no watermark) — the index
    and client attributes are static sides, re-read (or cached) per
    batch.  Returns the started
    ``StreamingQuery``.

    ``checkpoint_dir`` makes the loop RESTARTABLE: the file-source
    offsets live in the checkpoint, so a restarted query (same landing
    dir + checkpoint) reprocesses NOTHING already served — with an
    idempotent ``emit`` that is exactly-once per prospect across
    restarts (pytest-pinned).  Without it Spark uses a temp checkpoint
    and a restart re-serves from scratch (fine for replay jobs, wrong
    for a 24/7 server).

    ``tombstones`` (round 12, the delete lifecycle's 24/7 half):
    deleted clients are anti-joined out of each batch's probed
    candidates — pre-compaction serving semantics (positions
    unchanged; run ``rank_window_compact`` + a rebuild-published
    artifact on the nightly rhythm).  The frame is re-read per
    micro-batch like every static side, so appending a takedown to
    the tombstone table takes effect from the next batch on,
    without restarting the loop (streamed ≡ batch-with-tombstones,
    pytest-pinned)."""
    # family + window + direction resolved and validated ONCE; per
    # batch the probe runs with those values, so the metadata agg jobs
    # do not re-run every micro-batch (the index is static — its build
    # params cannot change under a running query).  ROUND 14: the loop
    # is artifact-family-driven — a __dir (projection) artifact serves
    # the general-dim recipe through the same plumbing, scoring at the
    # direction's dim.
    serve = _serving_fn(
        index, clients, left_id, right_id, vec_col, naics_col, lat_col,
        lon_col, k, threshold, w_hops, w_havs, tombstones, window,
    )

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        emit(serve(batch_df), batch_id)

    return _start_foreach(prospects_stream, _serve, checkpoint_dir)


def _serving_fn(
    index: DataFrame,
    clients: DataFrame,
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
    tombstones: DataFrame | None,
    window: int | None = None,
):
    """Resolve a serving artifact's FAMILY + build metadata once, for
    the streaming loops, and return ``serve(batch) -> top-K frame``
    running the probe and the exact re-rank with the pre-validated
    window/direction (no per-batch metadata agg jobs).  2-D
    rank-window artifacts score at dim=2; ``__dir`` (projection)
    artifacts score at ``len(direction)``.  An index straight from
    ``read_published`` takes its metadata from the version manifest,
    and vector dims are checked inside each batch's plan, so a
    micro-batch launches no guard job at all."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        _resolve_window_meta,
        _serve_probed,
    )

    w, direction = _resolve_window_meta(
        index, window, who="streaming_peer_serving"
    )

    def serve(batch: DataFrame) -> DataFrame:
        return _serve_probed(
            batch, index, clients, left_id, right_id, w, direction,
            tombstones,
            vec_col=vec_col, naics_col=naics_col,
            lat_col=lat_col, lon_col=lon_col,
            k=k, threshold=threshold, w_hops=w_hops, w_havs=w_havs,
        )

    return serve


def streaming_peer_serving_published(
    prospects_stream: DataFrame,
    base: str,
    clients: DataFrame,
    left_id: str,
    right_id: str,
    emit,
    vec_col: str = "vec",
    naics_col: str = "naics",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k: int = 15,
    threshold: float = 0.0,
    w_hops: float = DEFAULT_W_HOPS,
    w_havs: float = DEFAULT_W_HAVS,
    checkpoint_dir: str | None = None,
    tombstones: DataFrame | None = None,
    dead_letter_dir: str | None = None,
):
    """HOT-SWAP serving: :func:`streaming_peer_serving` against a
    ``publish_versioned`` artifact BASE instead of a fixed index
    frame — each micro-batch re-resolves the newest COMMITTED version
    (one driver-side FileSystem listing of the version dirs, ~free),
    so tonight's rebuild takes effect from the next micro-batch after
    its ``_SUCCESS`` commit lands, with no loop restart and no
    half-written artifact ever served.  The resolved index (and its
    ``__w`` window, validated once per version) is cached until the
    version changes; tombstones compose as in the fixed-index loop —
    the full intraday story: publish nightly, tombstone takedowns
    between publishes, hot-swap on commit.

    Batch-split invariance still holds WITHIN a version; across a
    swap, batches before the commit serve version N−1 and batches
    after serve N — exactly the semantics a 24/7 server wants
    (pytest-pinned: a publish landing between two micro-batches
    flips the serving version at the boundary).

    STARTUP ORDER (round-13 advice): a non-empty batch arriving
    BEFORE any committed version is SKIPPED instead of raising inside
    foreachBatch — a raise would kill the 24/7 query on a mere
    deployment-ordering hiccup, which is strictly worse than parking
    the pre-launch prospects (the loop cannot un-crash).  The skip
    still COMMITS the batch's offsets to the checkpoint, so those
    rows will never replay on their own (round-14 advice) — which is
    why the skip is made ACTIONABLE: with ``dead_letter_dir`` set
    (recommended for production), every skipped batch is parked there
    as parquet under a batch-id-keyed partition directory
    (``__dlq_batch=N``, written with OVERWRITE so foreachBatch's
    at-least-once replays cannot double-park a batch — round-15
    advice), so an operator re-enqueues
    ``spark.read.parquet(dead_letter_dir)`` once the first artifact
    commits; without it, the warning carries the dropped row count
    and says plainly that the rows are gone.  Operationally: publish
    the first artifact, then start the server — or always set the
    dead-letter path.  Retention: run ``prune_published_versions``
    with ``keep >= 2`` on a base under hot-swap serving — a slow
    in-flight batch may still be reading version N's files after N+1
    commits (see the prune docstring)."""
    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
        read_published,
    )

    state: dict = {"version": None, "serve": None}

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        v = latest_published_version(spark, base)
        if v <= 0:
            import warnings

            if dead_letter_dir is not None:
                # batch-id-keyed subdirectory + overwrite, NOT a flat
                # append (round-15 advice): foreachBatch is
                # at-least-once — a restart after the append but
                # before the offset commit replays the batch, and a
                # second append would double-serve every parked
                # prospect on re-enqueue.  Overwriting the batch's own
                # partition directory makes the park idempotent per
                # batch id; partition discovery surfaces the id as a
                # __dlq_batch column on read.
                (
                    batch_df.write.mode("overwrite").parquet(
                        f"{dead_letter_dir}/__dlq_batch={batch_id}"
                    )
                )
                warnings.warn(
                    f"streaming_peer_serving_published: batch "
                    f"{batch_id} arrived before any committed version "
                    f"under {base} — parked in the dead-letter path "
                    f"{dead_letter_dir} for re-enqueue after the first "
                    "publish commits.",
                    stacklevel=2,
                )
                return
            n_dropped = batch_df.count()
            warnings.warn(
                f"streaming_peer_serving_published: batch {batch_id} "
                f"({n_dropped} rows) arrived before any committed "
                f"version under {base} — DROPPED PERMANENTLY (its "
                "offsets commit with the skip).  Pass dead_letter_dir "
                "to park pre-launch batches for re-enqueue, or publish "
                "the first artifact before starting the server.",
                stacklevel=2,
            )
            return
        if v != state["version"]:
            # family + metadata resolved once per version, from its
            # manifest (round 14: __dir projection artifacts hot-swap
            # through the same loop, scored at the direction's dim)
            state["serve"] = _serving_fn(
                read_published(spark, base, version=v), clients,
                left_id, right_id, vec_col, naics_col, lat_col, lon_col,
                k, threshold, w_hops, w_havs, tombstones,
            )
            state["version"] = v
        emit(state["serve"](batch_df), batch_id)

    return _start_foreach(prospects_stream, _serve, checkpoint_dir)


def streaming_ann_serving(
    queries_stream: DataFrame,
    artifact: DataFrame,
    centroids: DataFrame,
    query_id: str,
    corpus_id: str,
    emit,
    vec_col: str = "vec",
    k: int = 10,
    n_probe: int = 4,
    list_col: str = "ivf_list",
    checkpoint_dir: str | None = None,
    tombstones: DataFrame | None = None,
):
    """Streaming serving loop for the IVF ANN index — the vector twin
    of ``streaming_peer_serving``: per micro-batch of arriving query
    vectors, probe the STATIC nightly artifact
    (``operators/similarity.py::ivf_index``, typically a reloaded
    ``partitionBy(ivf_list)`` parquet) with
    ``operators/similarity.py::ivf_probe`` and hand the per-query
    top-k to ``emit(df, batch_id)`` (idempotent sink contract, same
    as the CDC maintenance sink).

    foreachBatch, not a stream-static join, for the same reason as
    the peer loop: the probe ends in a window-function top-k, which
    append-mode streaming cannot express — per batch the frames are
    static and the batch operator runs unchanged.  Batching is
    correctness-free: the probe is per-row independent and each query
    arrives in exactly one micro-batch, so the union of per-batch
    top-k IS the one-shot batch result (pytest-pinned).

    Scale: per batch, one broadcast join against the (small) centroid
    table + a fetch of the batch's probed lists — on a
    list-partitioned artifact, dynamic partition pruning keeps the
    scan to those directories, so per-batch I/O rides the batch's
    list coverage, not the corpus.  State: NONE.  ``checkpoint_dir``
    makes the loop restartable exactly-once per query, as in the peer
    loop.

    ``tombstones`` (round 12, the delete lifecycle's 24/7 half):
    takedowns landing BETWEEN nightly rebuilds are honored without
    restarting the loop — each batch's probe anti-joins the tombstone
    frame, which is re-read per micro-batch like every static side,
    so appending ids to the tombstone table takes effect from the
    next batch on.  Streamed-with-tombstones ≡
    batch-probe-with-tombstones (pytest-pinned)."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_probe,
    )

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        topk = ivf_probe(
            batch_df, artifact, query_id, corpus_id, centroids,
            vec_col=vec_col, k=k, n_probe=n_probe, list_col=list_col,
            tombstones=tombstones,
        )
        emit(topk, batch_id)

    return _start_foreach(queries_stream, _serve, checkpoint_dir)
