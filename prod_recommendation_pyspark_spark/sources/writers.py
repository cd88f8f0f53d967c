"""Sink operators (SURVEY.md §2.1 S5-S7).

The reference writes every output as ``coalesce(1)`` single-file CSV
(search_ranking_peers.py:168-173, inference_postprocess.py:94-96) —
fine for small report tables, a scalability cliff otherwise (one task
writes everything).  Here ``single_file`` is an explicit opt-in and the
default is a parallel partitioned write.  Fixes defect B6
(``key_word`` vs ``keyword`` NameError at search_ranking_peers.py:171).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from prod_recommendation_pyspark_spark.sources.readers import MANIFEST_NAME

#: Build-metadata columns the index builders stamp with one constant
#: per build: the window (``__w``) and the projection direction
#: (``__dir``).  ``publish_versioned`` records their single value in
#: the version manifest.
MANIFEST_META_COLUMNS = ("__w", "__dir")


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    single_file: bool = False,
) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", header).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Hash-bucketed (optionally sorted) parquet table — the shuffle
    amortizer for repeated joins/aggregations on the same key.  Two
    tables bucketed by the same columns into the same bucket count
    join WITHOUT an Exchange on either side (and without the sort, if
    ``sort_cols`` match); at 100 TB that converts every recurring
    fact-fact join on the bucket key from a full shuffle into a local
    zip of pre-hashed files.  Bucketing requires the table catalog
    (``saveAsTable``), not a bare path write.

    ``path`` makes the table EXTERNAL at that location — use it when
    the data's lifetime is managed outside the warehouse (per-run temp
    artifacts): a managed saveAsTable into a fresh session whose
    warehouse dir still holds a previous run's files fails with
    LOCATION_ALREADY_EXISTS.  On ``mode='overwrite'`` any stale
    catalog entry under the same name is dropped first (the name is
    only a handle; the location is the data); ``mode='append'`` keeps
    the existing table — dropping there would silently destroy the
    prior data the append exists to extend (round-11 advice)."""
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def _looks_committed(fs, hpath, d) -> bool:
    """True when directory ``d`` holds a COMMITTED publish, i.e.
    carries ``_SUCCESS``.  That single check is sufficient for the
    quarantine race: a rename-publish writes ``_SUCCESS`` into staging
    BEFORE claiming, so a racing commit is never ``_SUCCESS``-less for
    even an instant at ``__v=N``.  A ``.__publisher_*`` marker alone
    (claimed dir whose ``_SUCCESS`` was stripped — an operator
    invalidating a bad artifact) deliberately does NOT count: readers
    can never resolve such a dir, so quarantining it loses nothing and
    keeps the re-publish self-heal working (pytest-pinned)."""
    return fs.exists(hpath(d, "_SUCCESS"))


def _quarantine_wreck(fs, hpath, base, target, n) -> bool:
    """Atomically move a marker-less ``__v=N`` aside; returns True when
    the caller may proceed to claim N, False to re-resolve the number.

    The bare re-check-then-rename is a TOCTOU (round-15 advice): after
    our ``_SUCCESS`` re-check, a second contender can quarantine the
    same wreck AND a third can claim + commit N — our rename then moves
    the FRESH COMMIT aside.  So the quarantine is verified AFTER the
    fact: inspect what actually landed in the aside dir; if it carries
    ``_SUCCESS`` it was a committed publish, so
    rename it straight back and let the loop move to the next number.
    Only a genuinely marker-less directory stays quarantined.

    The restore itself is verified against the Hadoop
    rename-into-existing-dir merge (same hazard ``_try_claim`` closes):
    if yet another publisher claimed N while we held the commit aside,
    the rename-back would NEST it — detected via the nested path and
    rolled back out, then raised loudly: two committed publishes now
    contend for one number, which no retry can reconcile."""
    aside_name = f".__wreck_{n}_{uuid.uuid4().hex}"
    aside = hpath(f"{base}/{aside_name}")
    if not fs.rename(target, aside):
        return False  # lost the wreck-claim race: re-resolve
    if not _looks_committed(fs, hpath, aside):
        return True  # genuine legacy wreck, kept aside for inspection
    # we displaced a committed publish — restore it, verified
    if fs.rename(aside, target):
        nested = hpath(target, aside_name)
        if not fs.exists(nested):
            return False  # restored cleanly: claim the next number
        # rename merged INTO a newer claim at N: pull ours back out
        if not fs.rename(nested, aside):
            raise RuntimeError(
                f"publish_versioned: displaced committed publish "
                f"nested under {target} and could not be recovered — "
                "manual inspection required."
            )
    raise RuntimeError(
        f"publish_versioned: quarantine displaced a committed publish "
        f"from {target} and another publisher claimed the number "
        f"before restore — the displaced artifact is preserved at "
        f"{aside}; reconcile manually (two committed publishes "
        "contend for one version number)."
    )


def _try_claim(fs, hpath, staging, staging_name, marker_name, target) -> bool:
    """One VERIFIED version-claim attempt for :func:`publish_versioned`:
    rename staging onto the target, then check the per-publish marker
    really landed at the target root.  Returns True only when the
    claim is provably ours; False means retry at the next number
    (plain rename failure, or the Hadoop rename-into-existing-dir
    merge was detected and rolled back — the nested staging renamed
    atomically back out).  Measured on RawLocalFileSystem AND per the
    FileSystem spec for HDFS: ``rename(src, existing_nonempty_dir)``
    returns TRUE and nests src inside — the exact silent-loss mode the
    marker check closes (round-14 advice)."""
    if not fs.rename(staging, target):
        return False
    if fs.exists(hpath(target, marker_name)):
        return True
    nested = hpath(target, staging_name)
    if not (fs.exists(nested) and fs.rename(nested, staging)):
        raise RuntimeError(
            f"publish_versioned: rename onto {target} reported success "
            "but the claim marker is absent and the staging directory "
            "could not be recovered — manual inspection required "
            "(possible filesystem with non-standard rename semantics)."
        )
    return False


def _staged_manifest(
    df: DataFrame,
    staged: str,
    partition_by: list[str] | None,
    companions: dict[str, DataFrame],
) -> dict:
    """The ``_manifest.json`` payload of a staged publish.  Schemas are
    the staged files read back with the written frames' data columns
    pinned (partition columns, if any, are discovered from the
    directory names and appended last, every field nullable), i.e.
    exactly what a plain read of the version would infer, without its
    inference job.  One aggregate over the staged artifact gives its
    row count and metadata bounds; raises when a metadata column holds
    more than one value."""
    spark = df.sparkSession
    parts = set(partition_by or ())
    data = StructType([f for f in df.schema.fields if f.name not in parts])
    art = spark.read.schema(data).parquet(staged)
    meta = [c for c in MANIFEST_META_COLUMNS if c in art.columns]
    top = art.agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.min(c).alias(f"lo{c}") for c in meta],
        *[F.max(c).alias(f"hi{c}") for c in meta],
    ).first()
    for c in meta:
        lo, hi = top[f"lo{c}"], top[f"hi{c}"]
        if lo != hi:
            raise ValueError(
                f"publish_versioned: the frame holds MIXED builds — "
                f"{c} ∈ [{lo!r}, {hi!r}] (e.g. a rebuild "
                "unioned with an old artifact). Publish one build; "
                "probing mixed builds silently fetches wrong "
                "neighborhoods."
            )
    return {
        "rows": top["rows"],
        "schema": art.schema.jsonValue(),
        "meta": {c: top[f"lo{c}"] for c in meta},
        "companions": {
            cname: {
                "schema": spark.read.schema(cdf.schema)
                .parquet(f"{staged}/__companion_{cname}")
                .schema.jsonValue()
            }
            for cname, cdf in companions.items()
        },
    }


def publish_versioned(
    df: DataFrame,
    base: str,
    partition_by: list[str] | None = None,
    companions: dict[str, DataFrame] | None = None,
) -> int:
    """ATOMIC-PUBLISH a nightly artifact rebuild: write the frame
    under ``base/__v=N`` (N = latest committed version + 1) and let
    readers resolve versions through
    ``sources/readers.py::read_published``, which only ever sees
    versions whose ``_SUCCESS`` marker exists.  Because Spark writes
    ``_SUCCESS`` at job COMMIT (after every task file is in place),
    the publish is atomic from the reader's side: a rebuild in
    progress — or one that died halfway — is invisible, and serving
    keeps reading version N−1 until the commit lands.  This is the
    missing glue between the nightly rebuild and the intraday CRUD
    paths: rebuilds land as a new version, tombstones/inserts ride
    within a version, nothing ever serves a half-written artifact.

    Returns the version number written.  Version directories are
    plain partition-style paths (``__v=3``), so retention is a
    directory delete and a version's files are never rewritten.

    CONCURRENCY (round-13/14 advice): each publish writes into a
    private dot-prefixed staging directory (invisible to readers and
    to ``latest_published_version``'s ``__v=`` listing) and CLAIMS its
    version number with one atomic ``FileSystem.rename`` onto
    ``__v=N``.  Rename alone is NOT a portable test-and-set: the
    Hadoop FileSystem contract (HDFS included) moves the source INTO
    an existing destination directory and returns true, so a publisher
    that lost the race between its ``exists()`` check and its
    ``rename()`` would "succeed" while its data lands invisibly nested
    as ``__v=N/.__staging_*``.  The claim is therefore VERIFIED, not
    assumed: each staging dir carries a per-publish uuid MARKER file
    (dot-prefixed — hidden from parquet readers), and only a rename
    after which the marker sits at ``__v=N/<marker>`` counts as a win.
    A rename that nested instead is rolled back (the nested staging is
    atomically renamed back out) and the publisher retries at the next
    number — its data, a later rebuild, lands as the newer version.

    A marker-less ``__v=N`` directory can only be a crashed legacy
    (pre-rename) writer — rename publishers expose ``__v=N`` only
    fully committed.  When one blocks a claim it is QUARANTINED (one
    atomic rename to a dot-prefixed ``.__wreck_*`` name), never
    deleted in place, and the quarantine is VERIFIED after the fact
    (:func:`_quarantine_wreck`, round-15 advice): the pre-rename
    ``_SUCCESS`` re-check alone is a TOCTOU — a concurrent publisher
    can commit its own version at N between the check and our rename —
    so whatever landed aside is inspected, and anything carrying
    ``_SUCCESS`` is renamed straight back with
    the loop re-resolving at the next number.  Under
    concurrency the remaining assumption is that no LEGACY writer is
    still mid-write into the wreck (legacy and rename publishers
    cannot safely share a base).  A publisher that dies mid-write
    leaves only its own staging dir;
    ``prune_published_versions(sweep_staging=True)`` clears staging
    and quarantined-wreck dirs during maintenance windows.

    ``companions`` (round-14 verdict #2) are side tables that must
    version ATOMICALLY with the artifact — above all the FEATURE
    SNAPSHOT the index was built from, so intraday probes re-rank
    against the exact corpus state the stored ranks encode instead of
    recomputing the feature subtree per probe session (the measured
    +20s per sf1 probe) or silently skewing against an
    upstream table that changed intraday.  Each frame is written
    inside the SAME staging directory under ``__companion_<name>/``
    before the claim, so one atomic rename publishes artifact and
    companions together and a crashed publish leaves neither.  The
    underscore prefix hides companion dirs from the main
    ``read_published`` parquet listing (Spark's hidden-path filter);
    read one back with ``read_published(..., companion=name)`` —
    version-pinned reads replay the artifact WITH its exact
    features.

    MANIFEST: before the claim, one aggregate over the staged
    artifact writes ``_manifest.json`` into the staging directory, so
    it publishes atomically with the data.  It records the artifact's
    schema and row count, each companion's schema, and the single
    value of every build-metadata column present
    (:data:`MANIFEST_META_COLUMNS`: the window ``__w`` and the
    projection ``__dir``).  A frame holding MIXED builds (two values
    in one metadata column) raises here, before anything becomes
    visible.  ``read_published`` reads with the stored schema (no
    schema-inference job) and hands the manifest to the serving
    operators, which then take the build metadata from it instead of
    re-aggregating the index per probe.  The leading underscore hides
    the file from parquet listings; versions published before the
    manifest existed are still read (without one)."""
    spark = df.sparkSession
    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
    )

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    fs = hpath(base).getFileSystem(hconf)
    token = uuid.uuid4().hex
    staging_name = f".__staging_{token}"
    staging = hpath(f"{base}/{staging_name}")
    marker_name = f".__publisher_{token}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{base}/{staging_name}")
    for cname, cdf in (companions or {}).items():
        if not cname.replace("_", "").isalnum():
            raise ValueError(
                f"publish_versioned: companion name {cname!r} must be "
                "alphanumeric/underscore (it becomes a directory name)."
            )
        cdf.write.mode("errorifexists").parquet(
            f"{base}/{staging_name}/__companion_{cname}"
        )
    # the claim marker rides INSIDE staging, so the atomic rename
    # carries it to the target iff the rename truly replaced the path
    fs.create(hpath(staging, marker_name)).close()
    try:
        manifest = _staged_manifest(
            df, f"{base}/{staging_name}", partition_by, companions or {}
        )
        out = fs.create(hpath(staging, MANIFEST_NAME))
        try:
            out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        for _ in range(64):  # bounded: one loser retry per contender
            n = latest_published_version(spark, base) + 1
            target = hpath(f"{base}/__v={n}")
            if fs.exists(target):
                # re-checked IMMEDIATELY before the quarantine rename
                # (round-14 advice): a committed publish landing after
                # an earlier stale listing must never be moved aside
                if fs.exists(hpath(target, "_SUCCESS")):
                    continue  # raced a committed publish: next number
                # marker-less target: quarantine-rename it aside, then
                # VERIFY what was moved (round-15 advice — the bare
                # re-check-then-rename TOCTOU): a committed publish
                # landing between the check and the rename is renamed
                # back and the loop re-resolves at the next number
                if not _quarantine_wreck(fs, hpath, base, target, n):
                    continue
            if _try_claim(fs, hpath, staging, staging_name, marker_name, target):
                return n  # verified: the claim is OURS
        raise RuntimeError(
            f"publish_versioned: could not claim a version under "
            f"{base} after 64 attempts — pathological publisher "
            "contention."
        )
    finally:
        if fs.exists(staging):
            fs.delete(staging, True)


def prune_published_versions(
    spark, base: str, keep: int = 3, sweep_staging: bool = False
) -> list[int]:
    """RETENTION for a ``publish_versioned`` base: drop all but the
    newest ``keep`` committed versions, plus any uncommitted (crashed)
    version directories older than the newest committed one.  Returns
    the version numbers removed.  A version is a directory delete —
    files within a version are immutable by construction — so
    retention cost is one FileSystem listing + one delete per expired
    version, never a data rewrite.  ``keep`` must be ≥ 1: the newest
    committed version is always retained (serving reads it).

    Under HOT-SWAP serving (``streaming_peer_serving_published``) use
    ``keep >= 2`` (round-13 advice): a slow micro-batch that resolved
    version N may still be lazily reading N's files when N+1 commits —
    ``keep=1`` would delete N out from under that batch's scan.  One
    retained predecessor covers any single in-flight batch; the swap
    itself happens at the next batch boundary.

    ``sweep_staging=True`` also removes ``.__staging_*`` directories
    left by publishers that DIED mid-write, and ``.__wreck_*``
    directories quarantined by ``publish_versioned`` when a legacy
    marker-less version dir blocked a claim.  Only enable it when no
    publisher is running against this base — a live publisher's
    staging dir looks identical to a dead one's, and deleting it
    re-creates exactly the concurrent-destruction race the staging
    design removed."""
    if keep < 1:
        raise ValueError("prune_published_versions: keep must be >= 1")
    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
    )

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return []
    latest = latest_published_version(spark, base)
    committed: list[int] = []
    uncommitted: list[int] = []
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith("__v=")):
            continue
        try:
            n = int(name[4:])
        except ValueError:
            continue
        marker = jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
        (committed if fs.exists(marker) else uncommitted).append(n)
    expire = sorted(committed)[:-keep] if len(committed) > keep else []
    expire += [n for n in uncommitted if n < latest]
    for n in sorted(expire):
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/__v={n}"), True)
    if sweep_staging:
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if status.isDirectory() and (
                name.startswith(".__staging_") or name.startswith(".__wreck_")
            ):
                fs.delete(status.getPath(), True)
    return sorted(expire)


def write_compacted(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sample_rows: int = 1000,
    mode: str = "overwrite",
) -> int:
    """Size-aware parquet write: estimate the encoded bytes-per-row
    from a small sample (written to an in-memory parquet buffer, so
    the estimate includes the target format's encoding+compression),
    then ``repartition(ceil(total / target_file_bytes))`` so output
    files land near the target size.  Returns the file count used.

    This is the small-files tool: a 1000-task job writing 5 MB files
    turns a 100 TB table into ~20M objects that throttle every
    subsequent scan's listing and open costs; compacting to
    128-512 MB files is the standard fix.  The sample pass is one
    ``limit(sample_rows)`` job; the write itself is the only full
    pass.  (For repeated incremental compaction use a lakehouse
    format's OPTIMIZE — this is the plain-parquet equivalent.)
    """
    import io
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    # persist: count, sample, and the write all consume df — uncached,
    # an expensive upstream plan would execute three times
    df = df.persist()
    try:
        n_rows = df.count()
        if n_rows == 0:
            df.coalesce(1).write.mode(mode).parquet(path)
            return 1
        sample = df.limit(min(sample_rows, n_rows)).toPandas()
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(sample), buf, compression="snappy")
        bytes_per_row = max(buf.getbuffer().nbytes / max(len(sample), 1), 1.0)
        n_files = max(1, math.ceil(n_rows * bytes_per_row / target_file_bytes))
        df.repartition(n_files).write.mode(mode).parquet(path)
        return n_files
    finally:
        df.unpersist()
