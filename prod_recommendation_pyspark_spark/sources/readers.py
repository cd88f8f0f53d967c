"""Source operators (SURVEY.md §2.1 S1-S4, S8).

Reference behavior re-expressed Spark-first:

* S1 pipe-delimited CSV scan — search_ranking_peers.py:153-156,
  recommender_prod_rec.py:135-138.
* S2 CSV scan with schema inference — search_ranking_peers.py:157-160.
* S3 Parquet scan — search_ranking_peers.py:161-164.
* S4 latest-partition discovery — the reference lists S3 objects with
  boto3 and rewrites a ``YYYYMMDD`` path segment driver-side
  (search_ranking_peers.py:87-151).  Here that becomes a
  partition-pruned scan on a partition column: Catalyst turns
  ``snapshot_date == max(snapshot_date)`` into ``PartitionFilters``
  so only the newest directory is read — no driver-side object-store
  calls, and it works on any Hadoop-compatible FS at any scale.
* S8 literal-row source — search_ranking_peers.py:464-468.

The reference's extension dispatch is broken (``or`` makes the
condition always-true — search_ranking_peers.py:153, defect B5); we
dispatch on the real suffix.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The version manifest ``publish_versioned`` writes into each version
#: directory (underscore-prefixed: hidden from parquet listings).
MANIFEST_NAME = "_manifest.json"
_MANIFEST_ATTR = "_published_manifest"


def read_pipe_csv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S1 — pipe-delimited CSV, all columns string (schema-on-read;
    repair-by-cast downstream as the reference does at
    search_ranking_peers.py:346-348)."""
    return (
        spark.read.format("csv")
        .option("delimiter", "|")
        .option("header", header)
        .load(path)
    )


def read_csv(
    spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True
) -> DataFrame:
    """S2 — comma CSV.  ``inferSchema`` costs an extra pass over the
    data; at scale pass an explicit schema instead."""
    return (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3 — columnar scan with predicate pushdown + column pruning."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_table(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Extension-dispatched read (fixes defect B5: the reference's
    ``'.csv' or '.tsv' in path`` is always truthy)."""
    lower = path.rstrip("/").lower()
    if lower.endswith(".parquet"):
        return read_parquet(spark, path)
    if lower.endswith(".json"):
        return read_json(spark, path, kwargs.get("schema"))
    if lower.endswith(".csv") or lower.endswith(".tsv"):
        return read_csv(spark, path, **kwargs)
    return read_pipe_csv(spark, path)


def latest_snapshot(
    df: DataFrame, snapshot_col: str = "snapshot_date", eager: bool = True
) -> DataFrame:
    """S4 — keep only the rows of the newest snapshot partition — the
    behavior the reference hand-rolls with driver-side boto3 listing
    (search_ranking_peers.py:103-137, recommender_prod_rec.py:85-133,
    minus the B4 NameError).

    ``eager=True`` (default) resolves ``max(snapshot_col)`` with one
    tiny job first and filters on the literal: on a partitioned table
    the max is answered from partition metadata (column-pruned scan
    reads no data) and the literal equality becomes a static
    ``PartitionFilter`` — the physical scan touches exactly one
    directory.  ``eager=False`` stays fully lazy via a broadcast
    max-join; correct, but Spark does not (as of 4.x) derive dynamic
    partition pruning from an aggregate-derived build side, so the
    probe scan reads all partitions.
    """
    if eager:
        latest = df.agg(F.max(snapshot_col)).first()[0]
        return df.filter(F.col(snapshot_col) == F.lit(latest))
    latest = df.select(F.max(snapshot_col).alias("__latest"))
    return (
        df.join(F.broadcast(latest), F.col(snapshot_col) == F.col("__latest"))
        .drop("__latest")
    )


def latest_published_version(spark: SparkSession, base: str) -> int:
    """Newest COMMITTED version under a ``publish_versioned`` base:
    the max N among ``base/__v=N`` directories holding a ``_SUCCESS``
    marker (Spark writes it at job commit, so a half-written or
    crashed rebuild is never resolved).  0 when none exist.  One
    driver-side FileSystem listing of the version dirs — there is one
    per publish (nightly-sized, not data-sized) — through the Hadoop
    API, so it works on file://, hdfs://, and s3a:// alike."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return 0
    best = 0
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("__v=")):
            continue
        try:
            n = int(name[4:])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(
            status.getPath(), "_SUCCESS"
        )
        if n > best and fs.exists(marker):
            best = n
    return best


def read_published(
    spark: SparkSession,
    base: str,
    version: int | None = None,
    companion: str | None = None,
) -> DataFrame:
    """Read one committed version of a ``publish_versioned`` artifact
    (default: the latest).  The read targets the single version
    directory, so no partition discovery ever lists an in-flight
    rebuild's files; pin ``version=`` for reproducible replays
    against a historical artifact.

    ``companion`` reads a side table published atomically WITH that
    version (``publish_versioned(companions=...)``) — e.g. the
    feature snapshot an index was built from.  Resolve the version
    ONCE and pass it to both reads when fetching an artifact plus its
    companion: two latest-version resolutions could straddle a
    concurrent publish and pair an index with another build's
    features.

    A version published with a ``_manifest.json`` (see
    ``publish_versioned``) is read with the schema stored there, so the
    read launches no schema-inference job, and the artifact's build
    ``meta``data (``__w``/``__dir``) is attached to the returned frame —
    :func:`published_manifest` reads it back.  Only that exact frame
    carries it: any transformation returns a new frame without one,
    so downstream operators fall back to deriving the metadata from
    the data.  Versions without a manifest are read as before."""
    n = (
        latest_published_version(spark, base)
        if version is None
        else int(version)
    )
    if n <= 0:
        raise FileNotFoundError(
            f"read_published: no committed version under {base} — "
            "publish_versioned writes _SUCCESS at job commit; either "
            "nothing was published yet or the only write crashed "
            "before committing."
        )
    path = f"{base}/__v={n}"
    entry = _read_manifest(spark, path)
    if companion is not None:
        path = f"{path}/__companion_{companion}"
        entry = (entry or {}).get("companions", {}).get(companion)
    if entry is None:
        return spark.read.parquet(path)
    df = spark.read.schema(StructType.fromJson(entry["schema"])).parquet(path)
    vars(df)[_MANIFEST_ATTR] = {"meta": entry.get("meta", {})}
    return df


def _read_manifest(spark: SparkSession, version_dir: str) -> dict | None:
    """The version's ``_manifest.json``, or None for a version
    published before manifests existed.  One driver-side FileSystem
    read, no Spark job."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{version_dir}/{MANIFEST_NAME}")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def published_manifest(df: DataFrame) -> dict | None:
    """The manifest entry :func:`read_published` attached to ``df``
    (``{"meta": {...}}``, empty for a companion), or None for any
    other frame."""
    return vars(df).get(_MANIFEST_ATTR)


def literal_rows(
    spark: SparkSession, rows: Iterable[tuple], columns: list[str]
) -> DataFrame:
    """S8 — hand-injected rows with a positional schema
    (search_ranking_peers.py:464-468; fixes B12's argless ``upper()``
    by expecting callers to pass literals)."""
    return spark.createDataFrame(list(rows), columns)
