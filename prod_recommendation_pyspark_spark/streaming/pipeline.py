"""End-to-end Structured Streaming pipeline (SURVEY §7 Phase F
close-out): file source → watermarked windowed aggregate → idempotent
``foreachBatch`` parquet sink, driven to completion with the
``availableNow`` trigger.

This is the one registered query that exercises the WHOLE streaming
stack as a single pipeline rather than operator-by-operator twins:

* source — the same schema-pinned parquet file stream the parity
  tests use (``adapter.read_events_stream``), fed from a landing
  directory (files are staged in, as a real file-drop ingestion
  would);
* transform — ``adapter.streaming_windowed_counts`` (watermarked
  tumbling windows) in APPEND mode, so what reaches the sink is
  exactly what the watermark has finalized;
* sink — ``sinks.idempotent_parquet_batch_writer`` (per-batch dynamic
  partition overwrite keyed on batch_id: a replayed batch overwrites
  itself);
* restart story — checkpointed; a rerun over the same landing dir
  resumes from the checkpoint and processes nothing new (pinned by
  the replay pytest).

APPEND-mode semantics under ``availableNow`` (this IS the contract
the DuckDB oracle replays): after the final data batch, the watermark
rests at ``max(ts) − delay``; Spark then runs its no-data batch,
flushing every window whose END is ≤ that watermark.  Windows still
open at end-of-input stay in state and are NOT emitted — the oracle
therefore filters to ``window_end <= max(ts) − delay``, making the
watermark's completeness rule itself driver-verified.

Scale notes: state is bounded by (#groups × open windows) — the
watermark caps it; the sink commits through the normal parquet
committer (one file per shuffle partition per batch); swapping the
file source for Kafka changes only ``read_events_stream``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.streaming.adapter import (
    read_events_stream,
    streaming_windowed_counts,
)
from prod_recommendation_pyspark_spark.streaming.sinks import (
    idempotent_parquet_batch_writer,
)


def stage_landing_dir(src_path: str, landing_dir: str) -> str:
    """Stage parquet file(s) into a landing DIRECTORY (symlinks — no
    data copy).  The file stream source requires a directory; single-
    file tables (testdata's ``events.parquet``) are linked inside one,
    exactly how a file-drop ingestion lands shards."""
    os.makedirs(landing_dir, exist_ok=True)
    srcs = [src_path]
    if os.path.isdir(src_path):
        srcs = [
            os.path.join(src_path, f)
            for f in sorted(os.listdir(src_path))
            if f.endswith(".parquet")
        ]
    for s in srcs:
        dst = os.path.join(landing_dir, os.path.basename(s))
        if not os.path.exists(dst):
            os.symlink(os.path.abspath(s), dst)
    return landing_dir


def replay_stream(frame: DataFrame, key_col: str, start, prefix: str) -> str:
    """Replay a static ``frame`` through a real file stream — the
    harness of the registered streaming replays.  ``frame`` is staged
    as three parquet files by ``key_col % 3`` in a landing dir and read
    back with ``readStream`` at ``maxFilesPerTrigger=1``, so each class
    arrives as its own micro-batch; ``start(stream, base)`` starts the
    caller's loop, which writes its sink to ``{base}/out``.  The loop
    is drained (``processAllAvailable``) and stopped even when that
    raises, the landing dir is dropped, and the sink path is returned.

    ``base`` is a ``tempfile.mkdtemp(prefix=prefix)`` dir removed at
    interpreter exit: the sink must outlive the call, because the
    caller's read-back is lazy, and the loop may keep a checkpoint or a
    static artifact there too.  A loop that emits no batch leaves no
    sink dir, so the caller handles ``not os.path.isdir(out)``."""
    base = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    landing = f"{base}/landing"
    for i in range(3):  # three part files -> three micro-batches
        frame.filter(F.col(key_col) % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        frame.sparkSession.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = start(stream, base)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # only the (stopped) stream read the landing copies
    shutil.rmtree(landing, ignore_errors=True)
    return f"{base}/out"


def run_events_hourly_pipeline(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_unit: str = "auto",
) -> DataFrame:
    """Run the full pipeline to completion (bounded ``availableNow``
    run) and return the sink contents (without the ``batch_id``
    bookkeeping column).  Synchronous; rerunning with the same
    checkpoint resumes (a no-op if the landing dir is unchanged)."""
    events = read_events_stream(spark, landing_dir, ts_unit=ts_unit)
    agg = streaming_windowed_counts(events, duration, watermark)
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(idempotent_parquet_batch_writer(out_dir))
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).drop("batch_id")
