"""Stream-stream join and streaming dedup: each streaming run over a
static directory must match the batch computation on the same rows."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.sources.catalog import Catalog
from prod_recommendation_pyspark_spark.streaming.adapter import (
    read_events_stream,
    run_stream_to_memory,
)
from prod_recommendation_pyspark_spark.streaming.joins import (
    split_clicks_views,
    streaming_click_attribution,
    streaming_dedup_events,
)
from prod_recommendation_pyspark_spark.streaming.pipeline import replay_stream

SF_SMOKE = "/root/testdata/sf0.001"


def _stage(n_copies: int, prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    for i in range(n_copies):
        shutil.copy(f"{SF_SMOKE}/events.parquet", f"{d}/part-{i}.parquet")
    return d


def test_stream_stream_join_matches_batch(spark):
    stage_dir = _stage(1, "events_ssj_")
    clicks, views = split_clicks_views(read_events_stream(spark, stage_dir))
    joined = streaming_click_attribution(clicks, views)
    run_stream_to_memory(joined, "ssj_out", output_mode="append")
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    }

    bc, bv = split_clicks_views(Catalog(spark, SF_SMOKE).table("events"))
    want = {
        (r.click_id, r.view_id)
        for r in streaming_click_attribution(bc, bv).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_drops_cross_file_duplicates(spark):
    # two copies of the same file -> every event_id arrives twice
    stage_dir = _stage(2, "events_dedup_")
    deduped = streaming_dedup_events(read_events_stream(spark, stage_dir))
    run_stream_to_memory(deduped, "dedup_out", output_mode="append")
    rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r.event_id for r in rows]
    n_batch = (
        Catalog(spark, SF_SMOKE).table("events").select("event_id").distinct().count()
    )
    assert len(ids) == len(set(ids)) == n_batch


def test_streaming_dedup_composite_key(spark):
    stage_dir = _stage(2, "events_dedupk_")
    deduped = streaming_dedup_events(
        read_events_stream(spark, stage_dir), keys=["user_id", "event_type"]
    )
    run_stream_to_memory(deduped, "dedupk_out", output_mode="append")
    got = spark.sql("SELECT user_id, event_type FROM dedupk_out").collect()
    pairs = [(r.user_id, r.event_type) for r in got]
    want = (
        Catalog(spark, SF_SMOKE)
        .table("events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(pairs) == len(set(pairs)) == want


def test_stream_join_bounds_state_with_interval(spark):
    """The join condition must carry a time-range conjunct — that is
    what lets Spark evict state; assert the analyzed plan contains the
    range predicates rather than a pure equi-join."""
    stage_dir = _stage(1, "events_ssj_plan_")
    clicks, views = split_clicks_views(read_events_stream(spark, stage_dir))
    joined = streaming_click_attribution(clicks, views, horizon="30 minutes")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "view_ts" in plan and "click_ts" in plan
    assert "<=" in plan


def test_available_now_foreachbatch_idempotent_sink(spark, tmp_path):
    """availableNow drains the source through the foreachBatch parquet
    sink; a second run with the same checkpoint is a no-op (no
    duplicate rows), and batch replay overwrites its own batch_id
    partition instead of appending."""
    from prod_recommendation_pyspark_spark.streaming.adapter import (
        read_events_stream,
    )
    from prod_recommendation_pyspark_spark.streaming.sinks import (
        idempotent_parquet_batch_writer,
        run_available_now_to_parquet,
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stage_dir = _stage(1, "events_sink_")
    stream = read_events_stream(spark, stage_dir).select(
        "event_id", "user_id", "event_type"
    )
    run_available_now_to_parquet(stream, out, ckpt)
    n_src = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    first = spark.read.parquet(out)
    assert first.count() == n_src
    assert "batch_id" in first.columns

    # rerun with the SAME checkpoint: source already consumed -> no-op
    stream2 = read_events_stream(spark, stage_dir).select(
        "event_id", "user_id", "event_type"
    )
    run_available_now_to_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).count() == n_src

    # simulate a batch REPLAY: rewriting batch 0 by hand must overwrite
    # its partition, not append to it
    batch0 = spark.read.parquet(out).filter("batch_id = 0").drop("batch_id")
    idempotent_parquet_batch_writer(out)(batch0, 0)
    assert spark.read.parquet(out).count() == n_src


def test_read_events_stream_empty_dir_contract(spark):
    """A stream's schema is fixed at start: an un-probe-able (empty)
    staging dir must raise under auto, and a pinned ts_unit must build
    the stream without probing at all."""
    import pytest

    d = tempfile.mkdtemp(prefix="events_empty_")
    with pytest.raises(ValueError, match="ts_unit"):
        read_events_stream(spark, d)
    stream = read_events_stream(spark, d, ts_unit="us")
    assert stream.isStreaming and "ts" in stream.columns
    # pinned unit on a populated dir matches the probed read
    staged = _stage(1, "events_pinned_")
    probed = read_events_stream(spark, staged)
    # compare row counts + min/max ts between probed and explicitly
    # pinned reads of the same files
    ts_phys = __import__("pyarrow.parquet", fromlist=["pq"]).read_schema(
        f"{staged}/part-0.parquet"
    ).field("ts").type
    pinned = read_events_stream(
        spark, staged, ts_unit="ns" if str(ts_phys) == "timestamp[ns]" else "us"
    )
    run_stream_to_memory(
        probed.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
        ),
        "probe_chk",
    )
    run_stream_to_memory(
        pinned.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("lo"),
            F.max("ts").alias("hi"),
        ),
        "pin_chk",
    )
    a = spark.sql("SELECT * FROM probe_chk").collect()[0]
    b = spark.sql("SELECT * FROM pin_chk").collect()[0]
    assert (a.n, a.lo, a.hi) == (b.n, b.lo, b.hi) and a.n > 0


def test_streaming_incremental_dedup_matches_batch(spark):
    """Stream-static LSH dedup: a streamed batch of documents joined
    against the static corpus band-key index must flag exactly the
    (doc, corpus-doc) pairs the batch plan flags."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        minhash_band_keys,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_incremental_dedup,
    )

    docs = Catalog(spark, SF_SMOKE).table("documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    keys = minhash_band_keys(corpus, "doc_id", "text").persist()

    d = tempfile.mkdtemp(prefix="docs_inc_")
    batch.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(d)
    flagged = streaming_incremental_dedup(stream, keys)
    run_stream_to_memory(flagged, "inc_dedup_out", output_mode="append")
    got = {
        (r.doc_id, r.corpus_id)
        for r in spark.sql("SELECT * FROM inc_dedup_out").collect()
    }
    want = {
        (r.doc_id, r.corpus_id)
        for r in streaming_incremental_dedup(batch, keys).collect()
    }
    assert got == want and len(got) > 0
    # and the streamed collision set equals the batch incremental
    # candidate operator's pairs (same signatures, same band keys)
    from prod_recommendation_pyspark_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    # max_bucket=None: the streaming path has no batch-side bucket cap
    # (a within-batch count would be a streaming aggregation), so the
    # exact contract is parity with the uncapped operator
    cands = {
        (r.id_b, r.id_a)
        for r in incremental_lsh_candidates(
            keys, batch, "doc_id", "text", max_bucket=None
        ).collect()
    }
    assert got == cands
    keys.unpersist()


def test_stream_merge_upsert_matches_batch(spark, tmp_path):
    """foreachBatch CDC maintenance: streaming the change files into
    the merge target must yield the same final table as applying the
    batch merge_upsert over the same changes — stream/batch parity for
    the maintenance path (same operator, different driver)."""
    import pyspark.sql.functions as F
    from prod_recommendation_pyspark_spark.operators.relational import (
        merge_upsert,
    )
    from prod_recommendation_pyspark_spark.streaming.maintenance import (
        StreamMergeTarget,
        stream_merge_upsert,
    )

    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, score double",
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, False),   # update
            (4, "d", 40.0, False),    # insert
            (3, None, 0.0, True),     # delete
        ],
        "id long, name string, score double, is_delete boolean",
    )
    # stage changes as files for the stream source
    chg_dir = str(tmp_path / "changes")
    changes.coalesce(1).write.parquet(chg_dir)

    tgt = StreamMergeTarget(
        spark, str(tmp_path / "target"), keys=["id"], delete_col="is_delete"
    )
    tgt.init(initial)
    stream = spark.readStream.schema(changes.schema).parquet(chg_dir)
    q = stream_merge_upsert(stream, tgt, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {tuple(r) for r in tgt.current().collect()}
    want = {
        tuple(r)
        for r in merge_upsert(
            initial, changes, ["id"], delete_col="is_delete"
        ).collect()
    }
    assert got == want
    assert got == {(1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0)}


def test_e2e_pipeline_rerun_is_noop_and_matches_oracle(spark, duck, tmp_path):
    """The registered end-to-end pipeline (landing dir → watermarked
    hourly counts → idempotent foreachBatch sink): a rerun on the same
    checkpoint processes nothing (identical sink contents), and the
    emitted window set matches the watermark contract the DuckDB
    oracle replays (windows with end <= max(ts) - 2h)."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_util import assert_matches_oracle

    from prod_recommendation_pyspark_spark.queries import ORACLES
    from prod_recommendation_pyspark_spark.streaming.pipeline import (
        run_events_hourly_pipeline,
        stage_landing_dir,
    )

    landing = stage_landing_dir(
        f"{SF_SMOKE}/events.parquet", str(tmp_path / "landing")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = run_events_hourly_pipeline(spark, landing, out, ckpt)
    rows1 = sorted(
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in first.collect()
    )
    assert rows1, "pipeline should emit finalized windows"

    # rerun with the same checkpoint: the source offsets are already
    # committed, so nothing is reprocessed and the sink is unchanged
    second = run_events_hourly_pipeline(spark, landing, out, ckpt)
    rows2 = sorted(
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in second.collect()
    )
    assert rows2 == rows1

    assert_matches_oracle(
        first.select(
            "window_start", "event_type", "n_events", "total_value"
        ),
        duck,
        ORACLES["streaming_e2e_hourly_counts"],
    )


def test_rate_source_adapter_maps_deterministically(spark):
    """The rate-source adapter must emit the events schema with
    row-content a pure function of `value` (only timing varies):
    run a short burst into a memory sink and check the mapping."""
    import time

    from prod_recommendation_pyspark_spark.streaming.adapter import (
        rate_events_stream,
    )

    ev = rate_events_stream(spark, rows_per_second=200)
    assert set(ev.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props",
    }
    q = (
        ev.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM rate_smoke").collect()
            if len(rows) >= 50:
                break
        assert len(rows) >= 50
    finally:
        q.stop()
    for r in rows:
        assert r.user_id == (r.event_id * 31) % 997
        assert abs(r.value - ((r.event_id * 7) % 1000) / 10.0) < 1e-9
        assert r.event_type == ["view", "click", "purchase"][r.event_id % 3]


def test_stateful_ewma_matches_batch_fold(spark):
    """The incremental EWMA's final per-user value must equal the
    batch Catalyst-fold query exactly (same alpha, same (ts,
    event_id) order, exact-half arithmetic)."""
    import shutil
    import tempfile

    from prod_recommendation_pyspark_spark.queries.registry import QUERIES
    from prod_recommendation_pyspark_spark.streaming.adapter import (
        read_events_stream,
        run_stream_to_memory,
    )
    from prod_recommendation_pyspark_spark.streaming.stateful import (
        stateful_ewma,
    )

    stage_dir = tempfile.mkdtemp(prefix="events_ewma_")
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", f"{stage_dir}/part-0.parquet"
    )
    stream = read_events_stream(spark, stage_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    out = stateful_ewma(stream)
    run_stream_to_memory(out, "ewma_stateful", output_mode="update")
    rows = spark.sql("SELECT * FROM ewma_stateful").collect()
    last = {}
    for r in rows:  # update mode appends; keep the last per user
        last[r.user_id] = (r.n_events, round(r.ewma, 6))
    batch = {
        r.user_id: (r.n_events, r.ewma)
        for r in QUERIES["ewma_user_value_events"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert last == batch


def test_kafka_payload_decode_matches_events_and_flags_poison(spark):
    """The Kafka transform half decodes a value-JSON frame back to the
    exact events rows, and a poison (non-JSON) message surfaces as a
    flagged row instead of an exception."""
    import json

    from prod_recommendation_pyspark_spark.sources.catalog import Catalog
    from prod_recommendation_pyspark_spark.streaming.adapter import (
        kafka_payload_to_events,
    )

    ev = (
        Catalog(spark, "/root/testdata/sf0.001")
        .table("events")
        .orderBy("event_id")
        .limit(20)
    )
    rows = ev.collect()
    payloads = [
        (
            str(r.event_id).encode(),
            json.dumps(
                {
                    "event_id": r.event_id,
                    "ts_us": int(r.ts.timestamp() * 1_000_000),
                    "user_id": r.user_id,
                    "event_type": r.event_type,
                    "value": r.value,
                    "props": r.props,
                }
            ).encode(),
        )
        for r in rows
    ] + [(b"poison", b"{not json at all")]
    raw = spark.createDataFrame(payloads, "key binary, value binary")
    out = kafka_payload_to_events(raw)
    good = {r.event_id: r for r in out.filter(~F.col("_corrupt")).collect()}
    assert len(good) == 20
    for r in rows:
        g = good[r.event_id]
        assert (g.user_id, g.event_type, g.value, g.props) == (
            r.user_id,
            r.event_type,
            r.value,
            r.props,
        )
    corrupt = out.filter(F.col("_corrupt")).collect()
    assert len(corrupt) == 1 and corrupt[0].event_id is None


def test_streaming_pq_encode_matches_batch(spark, tmp_path):
    """PQ encode mounted on readStream (stateless mapInPandas kernel
    with the codebook as a driver-collected constant) must emit the
    SAME (id, block, code) rows as the batch join+agg form."""
    import shutil

    from prod_recommendation_pyspark_spark.operators.pq import (
        pq_encode,
        pq_encode_kernel,
        pq_fit,
    )
    from prod_recommendation_pyspark_spark.streaming.adapter import (
        run_stream_to_memory,
    )

    src = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    books = pq_fit(emb, "vec_id", "embedding", m=4, k=8, max_iter=2)
    batch = {
        (r.vec_id, r.block): r.code
        for r in pq_encode(emb, "vec_id", "embedding", books, 4, 16).collect()
    }

    stage = tmp_path / "emb_stream"
    stage.mkdir()
    shutil.copy(src, stage / "part-0.parquet")
    stream = spark.readStream.schema(emb.schema).parquet(str(stage))
    out = pq_encode_kernel(
        stream, "vec_id", "embedding", books.collect(), 4, 16
    )
    run_stream_to_memory(out, "pq_stream_codes", output_mode="append")
    streamed = {
        (r.vec_id, r.block): r.code
        for r in spark.sql("SELECT * FROM pq_stream_codes").collect()
    }
    assert streamed == batch
    assert len(streamed) == emb.count() * 4


def test_streaming_peer_serving_matches_batch(spark):
    """The foreachBatch peer-serving loop (probe the static rank-window
    index per micro-batch of prospects) must emit EXACTLY the batch
    path's per-prospect top-k — per-row independence means batching
    cannot change any prospect's result.  Multiple micro-batches are
    forced via maxFilesPerTrigger=1 over two staged files."""
    import os

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk_pruned,
        rank_window_candidates,
        rank_window_index,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_peer_serving,
    )

    firmo = _firmographics(spark, SF_SMOKE).localCheckpoint()
    pros = firmo.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"), "vec", "naics", "lat", "lon"
    )
    index = rank_window_index(clis, "src", window=32).localCheckpoint()

    # stage prospects as two files -> two micro-batches
    d = tempfile.mkdtemp(prefix="peer_serve_")
    pros.filter(F.col("tgt") % 20 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/a")
    pros.filter(F.col("tgt") % 20 != 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/b")
    flat = tempfile.mkdtemp(prefix="peer_serve_flat_")
    n = 0
    for sub in ("a", "b"):
        for f in os.listdir(f"{d}/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/{sub}/{f}", f"{flat}/part-{n}.parquet")
                n += 1
    assert n == 2

    stream = (
        spark.readStream.schema(pros.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    got_rows = []
    batch_ids = []

    def emit(df, batch_id):
        batch_ids.append(batch_id)
        got_rows.extend(df.collect())

    q = streaming_peer_serving(
        stream, index, clis, "tgt", "src", emit, window=32, k=5
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batch_ids) >= 2  # really ran as multiple micro-batches

    cand = rank_window_candidates(pros, clis, "tgt", "src", window=32)
    want = hybrid_topk_pruned(
        pros, clis, "tgt", "src", candidates=cand, dim=2, k=5
    ).collect()
    got = {(r["tgt"], r["src"], round(r["score"], 9)) for r in got_rows}
    exp = {(r["tgt"], r["src"], round(r["score"], 9)) for r in want}
    assert got == exp and len(got) > 0


def test_streaming_peer_serving_restart_is_exactly_once(spark):
    """The 24/7-server contract: a peer-serving query restarted on the
    SAME landing dir + checkpoint must reprocess NOTHING already
    served (file-source offsets live in the checkpoint), so an
    idempotent emit is exactly-once per prospect across restarts; new
    files arriving after the restart are served exactly once too."""
    import os

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_peer_serving,
    )

    firmo = _firmographics(spark, SF_SMOKE).localCheckpoint()
    pros = firmo.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"), "vec", "naics", "lat", "lon"
    )
    index = rank_window_index(clis, "src", window=32).localCheckpoint()

    base = tempfile.mkdtemp(prefix="peer_serve_restart_")
    landing, ckpt = f"{base}/landing", f"{base}/ckpt"
    pros.filter(F.col("tgt") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    pros.filter(F.col("tgt") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    served: list = []

    def emit(df, batch_id):
        served.extend(df.collect())

    def start():
        stream = (
            spark.readStream.schema(pros.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        return streaming_peer_serving(
            stream, index, clis, "tgt", "src", emit, k=5,
            checkpoint_dir=ckpt,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = {(r["tgt"], r["src"]) for r in served}
    n_first = len(served)
    assert n_first > 0

    # restart on the same checkpoint: nothing reprocessed
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(served) == n_first

    # a file landing after the restart is served exactly once
    pros.filter(F.col("tgt") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    new = {(r["tgt"], r["src"]) for r in served} - first
    new_tgts = {t for t, _ in new}
    assert new_tgts and all(t % 3 == 2 for t in new_tgts)
    # union across the restarts = every prospect served exactly once
    assert len(served) == len({(r["tgt"], r["src"]) for r in served})


def test_streaming_ann_serving_matches_batch(spark):
    """The foreachBatch ANN loop (ivf_probe of the static reloaded
    list-partitioned artifact per micro-batch of queries) must emit
    EXACTLY the one-shot probe's per-query top-k — the probe is
    per-row independent, so micro-batching cannot change any query's
    result.  Two real micro-batches via maxFilesPerTrigger=1."""
    import os

    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_index,
        ivf_probe,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_ann_serving,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    base = tempfile.mkdtemp(prefix="ann_serve_")
    ivf_index(corpus, "nbr_id", "embedding", centroids).write.partitionBy(
        "ivf_list"
    ).parquet(f"{base}/idx")
    artifact = spark.read.parquet(f"{base}/idx")

    flat = f"{base}/landing"
    os.makedirs(flat)
    for i in range(2):
        qs.filter(F.col("tgt_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(flat)
    stream = (
        spark.readStream.schema(qs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    got_rows, batch_ids = [], []

    def emit(df, batch_id):
        batch_ids.append(batch_id)
        got_rows.extend(df.collect())

    q = streaming_ann_serving(
        stream, artifact, centroids, "tgt_id", "nbr_id", emit,
        vec_col="embedding", k=5, n_probe=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batch_ids) >= 2  # really ran as multiple micro-batches

    want = ivf_probe(
        qs, artifact, "tgt_id", "nbr_id", centroids,
        vec_col="embedding", k=5, n_probe=4,
    ).collect()
    shutil.rmtree(base, ignore_errors=True)
    got = {(r["tgt_id"], r["nbr_id"], round(r["score"], 9)) for r in got_rows}
    exp = {(r["tgt_id"], r["nbr_id"], round(r["score"], 9)) for r in want}
    assert got == exp and len(got) > 0


def test_streaming_ann_serving_restart_is_exactly_once(spark):
    """The 24/7-server contract for the ANN loop: a restart on the
    SAME landing dir + checkpoint reprocesses nothing already served;
    a file landing after the restart is served exactly once."""
    import os

    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_index,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_ann_serving,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("vec")
    )
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    qs = emb.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    artifact = ivf_index(
        corpus, "nbr_id", "embedding", centroids
    ).localCheckpoint()

    base = tempfile.mkdtemp(prefix="ann_serve_restart_")
    landing, ckpt = f"{base}/landing", f"{base}/ckpt"
    for i in (0, 1):
        qs.filter(F.col("tgt_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    served: list = []

    def emit(df, batch_id):
        served.extend(df.collect())

    def start():
        stream = (
            spark.readStream.schema(qs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        return streaming_ann_serving(
            stream, artifact, centroids, "tgt_id", "nbr_id", emit,
            vec_col="embedding", k=5, n_probe=4, checkpoint_dir=ckpt,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = {(r["tgt_id"], r["nbr_id"]) for r in served}
    n_first = len(served)
    assert n_first > 0

    q = start()  # restart on the same checkpoint: nothing reprocessed
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(served) == n_first

    qs.filter(F.col("tgt_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    new = {(r["tgt_id"], r["nbr_id"]) for r in served} - first
    new_tgts = {t for t, _ in new}
    assert new_tgts and all(t % 3 == 2 for t in new_tgts)
    assert len(served) == len({(r["tgt_id"], r["nbr_id"]) for r in served})
    shutil.rmtree(base, ignore_errors=True)


def test_streaming_serving_honors_tombstones(spark):
    """Round-12 delete lifecycle, 24/7 half: all three serving loops
    accept a tombstone frame and must (a) equal their batch twin run
    with the same tombstones and (b) never serve a deleted id —
    takedowns landing between nightly rebuilds take effect without a
    loop restart."""
    import os

    from prod_recommendation_pyspark_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_keys,
    )
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk_pruned,
        rank_window_index,
        rank_window_probe,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
        ivf_index,
        ivf_probe,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_ann_serving,
        streaming_incremental_dedup,
        streaming_peer_serving,
    )

    def two_file_stream(df, prefix):
        d = tempfile.mkdtemp(prefix=prefix)
        key = df.columns[0]
        df.filter(F.col(key) % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        df.filter(F.col(key) % 2 != 0).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    def drain(q):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # --- peer loop ---
    firmo = _firmographics(spark, SF_SMOKE).localCheckpoint()
    pros = firmo.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"), "vec", "naics", "lat", "lon"
    )
    tombs = clis.filter(F.col("src") % 7 == 3).select("src")
    index = rank_window_index(clis, "src", window=32).localCheckpoint()
    got = []
    q = streaming_peer_serving(
        two_file_stream(pros, "tomb_peer_"), index, clis, "tgt", "src",
        lambda df, _bid: got.extend(df.collect()), k=5, tombstones=tombs,
    )
    drain(q)
    cand = rank_window_probe(pros, index, "tgt", "src", tombstones=tombs)
    want = hybrid_topk_pruned(
        pros, clis, "tgt", "src", candidates=cand, dim=2, k=5
    ).collect()
    key3 = lambda rows: {
        (r["tgt"], r["src"], round(r["score"], 9)) for r in rows
    }
    assert key3(got) == key3(want) and len(got) > 0
    deleted = {r["src"] for r in tombs.collect()}
    assert not {r["src"] for r in got} & deleted

    # --- ANN loop ---
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    cents = ivf_auto_centroids(corpus, "nbr_id", "embedding")
    art = ivf_index(corpus, "nbr_id", "embedding", cents).localCheckpoint()
    qs = emb.filter(F.col("vec_id") % 17 == 3).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    vtombs = corpus.filter(F.col("nbr_id") % 9 == 4).select("nbr_id")
    got_v = []
    q = streaming_ann_serving(
        two_file_stream(qs, "tomb_ann_"), art, cents, "tgt_id", "nbr_id",
        lambda df, _bid: got_v.extend(df.collect()),
        vec_col="embedding", k=5, n_probe=4, tombstones=vtombs,
    )
    drain(q)
    want_v = ivf_probe(
        qs, art, "tgt_id", "nbr_id", cents,
        vec_col="embedding", k=5, n_probe=4, tombstones=vtombs,
    ).collect()
    keyv = lambda rows: {
        (r["tgt_id"], r["nbr_id"], round(r["score"], 9)) for r in rows
    }
    assert keyv(got_v) == keyv(want_v) and len(got_v) > 0
    assert not {r["nbr_id"] for r in got_v} & {
        r["nbr_id"] for r in vtombs.collect()
    }

    # --- dedup loop (batch-parity mode: the operator runs unchanged
    #     on a batch frame) ---
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus_d = docs.filter(F.col("doc_id") % 5 != 4)
    batch_d = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    dtombs = corpus_d.filter(F.col("doc_id") % 7 == 2).select("doc_id")
    store = minhash_band_keys(corpus_d, "doc_id", "text")
    streamed = streaming_incremental_dedup(
        batch_d, store, "doc_id", "text", tombstones=dtombs
    ).select("corpus_id", "doc_id").distinct()
    want_d = incremental_lsh_candidates(
        store, batch_d, "doc_id", "text", max_bucket=None, tombstones=dtombs
    )
    a = {(r[0], r[1]) for r in streamed.collect()}
    b = {(r["id_a"], r["id_b"]) for r in want_d.collect()}
    assert a == b and len(a) > 0
    assert not {p[0] for p in a} & {r["doc_id"] for r in dtombs.collect()}


def test_streaming_peer_serving_hot_swaps_published_version(spark):
    """A nightly publish landing BETWEEN micro-batches must flip the
    serving version at the batch boundary — no restart: batch 0 is
    served from v1 (stale corpus), v2 commits during batch 0's emit,
    batch 1 must be served from v2 (full corpus)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        hybrid_topk_pruned,
        rank_window_index,
        rank_window_probe,
    )
    from prod_recommendation_pyspark_spark.queries.similarity import (
        _firmographics,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        publish_versioned,
    )
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_peer_serving_published,
    )

    firmo = _firmographics(spark, SF_SMOKE).localCheckpoint()
    pros = firmo.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("tgt"), "vec", "naics", "lat", "lon"
    )
    clis = firmo.filter(F.col("c_custkey") % 10 != 0).select(
        F.col("c_custkey").alias("src"), "vec", "naics", "lat", "lon"
    )
    stale = clis.filter(F.col("src") % 3 != 1)  # v1 misses a third
    base = tempfile.mkdtemp(prefix="hot_swap_") + "/index"
    publish_versioned(
        rank_window_index(stale, "src", window=32), base,
        partition_by=["__lvl"],
    )

    # two staged files -> two micro-batches (stable order via one
    # coalesced file per half)
    d = tempfile.mkdtemp(prefix="hot_swap_stream_")
    b0 = pros.filter(F.col("tgt") % 20 == 0)
    b1 = pros.filter(F.col("tgt") % 20 != 0)
    b0.coalesce(1).write.mode("append").parquet(d)
    import time as _t

    _t.sleep(1.1)  # file-source orders by mod time: keep b0 first
    b1.coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema(pros.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )

    per_batch: dict[int, list] = {}

    def emit(df, batch_id):
        per_batch[batch_id] = df.collect()
        if batch_id == 0:
            # tonight's rebuild commits while the stream is live
            publish_versioned(
                rank_window_index(clis, "src", window=32), base,
                partition_by=["__lvl"],
            )

    q = streaming_peer_serving_published(
        stream, base, clis, "tgt", "src", emit, k=5
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(per_batch) == [0, 1]

    def want(batch_pros, index_clis):
        idx = rank_window_index(index_clis, "src", window=32)
        cand = rank_window_probe(batch_pros, idx, "tgt", "src")
        return {
            (r["tgt"], r["src"], round(r["score"], 9))
            for r in hybrid_topk_pruned(
                batch_pros, clis, "tgt", "src", candidates=cand, dim=2, k=5
            ).collect()
        }

    got0 = {(r["tgt"], r["src"], round(r["score"], 9)) for r in per_batch[0]}
    got1 = {(r["tgt"], r["src"], round(r["score"], 9)) for r in per_batch[1]}
    assert got0 == want(b0, stale) and len(got0) > 0   # served from v1
    assert got1 == want(b1, clis) and len(got1) > 0    # served from v2
    # and the swap mattered: v1 would have answered batch 1 differently
    assert got1 != want(b1, stale)


def _collecting_loop(seen: dict):
    """``replay_stream`` start callback: a foreachBatch loop that
    records each micro-batch's rows and appends the non-empty ones to
    the sink, as the registered replays' loops do."""

    def start(stream, base):
        def emit(df, batch_id):
            seen[batch_id] = [tuple(r) for r in df.collect()]
            if seen[batch_id]:
                df.write.mode("append").parquet(f"{base}/out")

        return stream.writeStream.foreachBatch(emit).start()

    return start


def test_replay_stream_empty_frame_emits_nothing(spark):
    """An empty frame replays to no rows and no sink dir — the branch
    every replay query answers with its typed empty frame."""
    seen: dict = {}
    frame = spark.createDataFrame([], "id long, v string")
    out = replay_stream(frame, "id", _collecting_loop(seen), "replay_empty_")
    assert not any(seen.values())
    assert not os.path.isdir(out)
    assert not os.path.isdir(os.path.join(os.path.dirname(out), "landing"))


def test_replay_stream_replays_each_class_as_one_batch(spark):
    """A frame of three ``id % 3`` classes replays to exactly its own
    rows, one class per micro-batch, and the landing copies are gone."""
    seen: dict = {}
    frame = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, v string"
    )
    out = replay_stream(frame, "id", _collecting_loop(seen), "replay_three_")
    want = sorted(tuple(r) for r in frame.collect())
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == want
    classes = [{r[0] % 3 for r in rows} for rows in seen.values() if rows]
    assert sorted(classes, key=min) == [{0}, {1}, {2}]
    assert not os.path.isdir(os.path.join(os.path.dirname(out), "landing"))
