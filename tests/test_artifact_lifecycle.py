"""Artifact DELETE lifecycle (round-11 verdict #1): tombstone
anti-joins at probe time + compaction-equals-rebuild for the three
nightly serving artifacts (IVF index, dedup band-key store,
rank-window index).

The reference only ever rebuilds wholesale via
``write.mode('overwrite')`` (search_ranking_peers.py:174-176); the
incremental serving split is our extension, so the delete half is
what makes it honest — a takedown between rebuilds must remove the
document from SERVING (tombstone probe) and a compaction job must
restore the artifact to exactly what a rebuild-without-the-deleted
would produce.  The value-oracle halves live in the registered
``*_delete_e2e`` queries; these tests pin the operator-level
equalities the oracles compose."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r[0], r[1]) for r in df.collect()}


# ---------------------------------------------------------------------------
# IVF
# ---------------------------------------------------------------------------


def _ivf_parts(spark):
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
        ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    centroids = ivf_auto_centroids(corpus, "nbr_id", "embedding")
    index = ivf_index(corpus, "nbr_id", "embedding", centroids)
    tombs = corpus.filter(F.col("nbr_id") % 9 == 4).select("nbr_id")
    qs = emb.filter(
        (F.col("vec_id") % 17 == 3) & (F.col("vec_id") % 9 != 4)
    ).select(F.col("vec_id").alias("tgt_id"), "embedding")
    return corpus, centroids, index, tombs, qs


def test_ivf_compact_equals_frozen_rebuild(spark):
    """``drop_tombstoned`` over an IVF artifact (the tombstone
    anti-join as a rewrite job) must equal ``ivf_index`` over the
    surviving corpus with the SAME centroids, row for row — assignment
    is per-row under frozen centroids, so no re-assignment pass is ever
    needed."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        drop_tombstoned,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_index,
    )

    corpus, centroids, index, tombs, _ = _ivf_parts(spark)
    compacted = drop_tombstoned(index, tombs, "nbr_id")
    kept = corpus.join(F.broadcast(tombs), "nbr_id", "left_anti")
    rebuilt = ivf_index(kept, "nbr_id", "embedding", centroids)
    key = lambda df: {  # noqa: E731
        (r["nbr_id"], r["ivf_list"])
        for r in df.select("nbr_id", "ivf_list").collect()
    }
    assert key(compacted) == key(rebuilt)
    assert compacted.count() == rebuilt.count() > 0
    assert tombs.count() > 0  # the delete actually deleted something


def test_ivf_tombstone_probe_equals_compacted_probe(spark):
    """Serving BETWEEN compactions (probe with ``tombstones=``) must
    return exactly what serving off the compacted artifact returns —
    same lists, same scores, same tie order — and no deleted id may
    surface."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        drop_tombstoned,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_probe,
    )

    _, centroids, index, tombs, qs = _ivf_parts(spark)
    serve = lambda idx, tb: {  # noqa: E731
        (r["tgt_id"], r["nbr_id"], round(r["score"], 9))
        for r in ivf_probe(
            qs, idx, "tgt_id", "nbr_id", centroids,
            vec_col="embedding", k=5, n_probe=4, tombstones=tb,
        ).collect()
    }
    tomb_served = serve(index, tombs)
    compact_served = serve(drop_tombstoned(index, tombs, "nbr_id"), None)
    assert tomb_served == compact_served and len(tomb_served) > 0
    deleted = {r["nbr_id"] for r in tombs.collect()}
    assert not {t[1] for t in tomb_served} & deleted


# ---------------------------------------------------------------------------
# Dedup band-key store
# ---------------------------------------------------------------------------


def test_dedup_store_compact_equals_rebuild_and_probe_parity(spark):
    """``drop_tombstoned`` over a band-key store (its compaction) must
    equal ``minhash_band_keys`` over the surviving corpus (band keys
    are per-document), and the tombstone probe must equal the probe of
    the compacted store — with no deleted id among the candidates."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_band_keys,
    )
    from prod_recommendation_pyspark_spark.operators.relational import (
        drop_tombstoned,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    tombs = corpus.filter(F.col("doc_id") % 7 == 2).select("doc_id")

    store = minhash_band_keys(corpus, "doc_id", "text")
    compacted = drop_tombstoned(store, tombs, "doc_id")
    kept = corpus.join(F.broadcast(tombs), "doc_id", "left_anti")
    rebuilt = minhash_band_keys(kept, "doc_id", "text")
    key = lambda df: {  # noqa: E731
        (r["doc_id"], r["band"], r["key"])
        for r in df.select("doc_id", "band", "key").collect()
    }
    assert key(compacted) == key(rebuilt)
    assert compacted.count() == rebuilt.count() > 0

    tomb_probe = incremental_lsh_candidates(
        store, batch, "doc_id", "text", tombstones=tombs
    )
    compact_probe = incremental_lsh_candidates(
        compacted, batch, "doc_id", "text"
    )
    assert _pairs(tomb_probe) == _pairs(compact_probe)
    deleted = {r["doc_id"] for r in tombs.collect()}
    assert not {p[0] for p in _pairs(tomb_probe)} & deleted


# ---------------------------------------------------------------------------
# Rank-window index
# ---------------------------------------------------------------------------


def _rw_fixture(spark):
    def naics(i):
        if i % 11 == 0:
            return None  # malformed arm must survive the lifecycle too
        return f"52{i % 3}1{i % 4}0"

    rows = [
        (
            i,
            naics(i),
            [math.cos(0.1 + 1.3 * i / 90), math.sin(0.1 + 1.3 * i / 90)],
            float(i % 50),
            float(i % 80),
        )
        for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "id long, naics string, vec array<double>, lat double, lon double"
    )
    pros = df.filter(F.col("id") % 4 == 0).withColumnRenamed("id", "tgt")
    clis = df.filter(F.col("id") % 4 != 0).withColumnRenamed("id", "src")
    tombs = clis.filter(F.col("src") % 5 == 1).select("src")
    return pros, clis, tombs


def test_rank_window_compact_equals_rebuild(spark):
    """``rank_window_compact`` re-ranks surviving rows over their
    stored ``__v1n`` keys — the result must equal
    ``rank_window_index`` rebuilt on the surviving clients at the
    same window, row for row (positions re-densified, ``__w``
    preserved), across well-formed AND malformed arms."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_compact,
        rank_window_index,
    )

    _, clis, tombs = _rw_fixture(spark)
    index = rank_window_index(clis, "src", window=8)
    compacted = rank_window_compact(index, tombs)
    kept = clis.join(F.broadcast(tombs), "src", "left_anti")
    rebuilt = rank_window_index(kept, "src", window=8)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w"]
    key = lambda df: {tuple(r) for r in df.select(*cols).collect()}  # noqa: E731
    assert key(compacted) == key(rebuilt)
    assert compacted.count() == rebuilt.count() > 0
    assert tombs.count() > 0


def test_rank_window_tombstone_probe_is_probe_minus_deleted(spark):
    """The BETWEEN-compactions serving mode: probe with
    ``tombstones=`` equals the un-tombstoned probe minus pairs whose
    client is deleted (positions unchanged — deliberately NOT a
    rebuild; that is compaction's job, value-oracled by
    ``rank_window_delete_e2e``)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_probe,
    )

    pros, clis, tombs = _rw_fixture(spark)
    index = rank_window_index(clis, "src", window=8)
    full = _pairs(rank_window_probe(pros, index, "tgt", "src"))
    tombed = _pairs(
        rank_window_probe(pros, index, "tgt", "src", tombstones=tombs)
    )
    deleted = {r["src"] for r in tombs.collect()}
    assert tombed == {p for p in full if p[1] not in deleted}
    assert len(tombed) > 0 and len(tombed) < len(full)


def test_ivf_compact_rewrite_is_partial_and_exact(spark, tmp_path):
    """``ivf_compact_rewrite`` must (a) produce an artifact equal to
    the frozen-centroid rebuild without the deleted rows, (b) leave
    every unaffected list's files untouched on disk (mtime-pinned),
    and (c) REMOVE the directory of a list whose every row was
    deleted — the case dynamic partition overwrite alone cannot
    express."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_auto_centroids,
        ivf_compact_rewrite,
        ivf_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("nbr_id"), "embedding")
    centroids = ivf_auto_centroids(corpus, "nbr_id", "embedding")
    path = str(tmp_path / "ivf_artifact")
    full = ivf_index(corpus, "nbr_id", "embedding", centroids)
    full.repartition("ivf_list").write.partitionBy("ivf_list").parquet(path)

    # tombstones: one ENTIRE list + a sprinkle of other ids
    lists = [r[0] for r in full.select("ivf_list").distinct().collect()]
    kill_list = sorted(lists)[0]
    whole = full.filter(F.col("ivf_list") == kill_list).select("nbr_id")
    sprinkle = corpus.filter(F.col("nbr_id") % 11 == 6).select("nbr_id")
    tombs = whole.unionByName(sprinkle).distinct().localCheckpoint()

    def mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("ivf_list="):
                full_d = os.path.join(path, d)
                out[d] = max(
                    (os.path.getmtime(os.path.join(full_d, f))
                     for f in os.listdir(full_d)),
                    default=0,
                )
        return out

    before = mtimes()
    _time.sleep(1.1)  # mtime resolution guard
    n_affected = ivf_compact_rewrite(spark, path, tombs, "nbr_id")
    after = mtimes()

    affected_dirs = {
        f"ivf_list={r[0]}"
        for r in full.join(
            F.broadcast(tombs), "nbr_id", "left_semi"
        ).select("ivf_list").distinct().collect()
    }
    assert n_affected == len(affected_dirs) > 1
    # (c) the fully-deleted list's dir is GONE
    assert f"ivf_list={kill_list}" not in after
    # (b) untouched lists: same files, same mtimes
    for d, t in before.items():
        if d not in affected_dirs:
            assert after[d] == t, f"untouched list {d} was rewritten"
    # (a) reloaded artifact == frozen-centroid rebuild minus deleted
    kept_corpus = corpus.join(F.broadcast(tombs), "nbr_id", "left_anti")
    rebuilt = ivf_index(kept_corpus, "nbr_id", "embedding", centroids)
    key = lambda df: {
        (r["nbr_id"], int(r["ivf_list"]))
        for r in df.select("nbr_id", "ivf_list").collect()
    }
    reloaded = spark.read.parquet(path)
    assert key(reloaded) == key(rebuilt) and reloaded.count() > 0


def test_rank_window_insert_equals_rebuild(spark):
    """``rank_window_insert`` merges armed arrivals into the stored
    slim rows and re-ranks — the result must equal
    ``rank_window_index`` rebuilt over the grown corpus at the same
    window, row for row, including malformed-code arrivals."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_insert,
    )

    _, clis, _ = _rw_fixture(spark)
    old = clis.filter(F.col("src") % 6 != 5)
    arrivals = clis.filter(F.col("src") % 6 == 5)
    index = rank_window_index(old, "src", window=8)
    grown = rank_window_insert(index, arrivals, "src")
    rebuilt = rank_window_index(clis, "src", window=8)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w"]
    key = lambda df: {tuple(r) for r in df.select(*cols).collect()}  # noqa: E731
    assert key(grown) == key(rebuilt)
    assert grown.count() == rebuilt.count() > 0
    assert arrivals.count() > 0


def test_versioned_publish_resolves_only_committed(spark, tmp_path):
    """``publish_versioned`` / ``read_published``: the reader resolves
    the newest version WITH a _SUCCESS commit marker — an in-flight or
    crashed rebuild (no marker) is invisible, and pinning ``version=``
    replays a historical artifact byte-for-byte."""
    import os

    import pytest

    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
        read_published,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        publish_versioned,
    )

    base = str(tmp_path / "artifact")
    with pytest.raises(FileNotFoundError):
        read_published(spark, base)

    v1_df = spark.range(10).withColumn("tag", F.lit("v1"))
    assert publish_versioned(v1_df, base) == 1
    v2_df = spark.range(20).withColumn("tag", F.lit("v2"))
    assert publish_versioned(v2_df, base) == 2
    assert latest_published_version(spark, base) == 2
    assert read_published(spark, base).count() == 20
    assert read_published(spark, base, version=1).count() == 10

    # crashed rebuild: v3 files exist but the commit marker does not
    v3_df = spark.range(30).withColumn("tag", F.lit("v3"))
    assert publish_versioned(v3_df, base) == 3
    os.remove(os.path.join(base, "__v=3", "_SUCCESS"))
    assert latest_published_version(spark, base) == 2
    assert read_published(spark, base).count() == 20
    # re-publishing self-heals: the crashed (reader-invisible) v3 dir
    # is removed and version 3 is written cleanly
    v3b = spark.range(31).withColumn("tag", F.lit("v3b"))
    assert publish_versioned(v3b, base) == 3
    assert latest_published_version(spark, base) == 3
    assert read_published(spark, base).count() == 31


def test_publish_staging_rename_and_duplicate_insert_guard(
    spark, tmp_path
):
    """Round-13 advice pins: (a) a publish never leaves its staging
    directory behind and never interleaves with a marker-less legacy
    wreck at the claimed version; (b) ``prune_published_versions``
    sweeps orphaned staging dirs only when asked; (c)
    ``rank_window_insert`` DROPS arrivals whose id already exists in
    the index (new-ids-only precondition) instead of silently
    double-ranking them."""
    import os

    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_index,
        rank_window_insert,
    )
    from prod_recommendation_pyspark_spark.sources.readers import (
        read_published,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        prune_published_versions,
        publish_versioned,
    )

    base = str(tmp_path / "artifact")
    publish_versioned(spark.range(5), base)
    # legacy wreck: a marker-less NON-EMPTY __v=2 dir blocking the
    # next claim — it must be QUARANTINED aside (round-14 advice), not
    # deleted in place: a delete racing another publisher's fresh
    # commit at the same path would destroy committed data
    os.makedirs(os.path.join(base, "__v=2"))
    with open(os.path.join(base, "__v=2", "legacy.dat"), "w") as f:
        f.write("legacy")
    assert publish_versioned(spark.range(7), base) == 2
    assert read_published(spark, base).count() == 7
    # the wreck's bytes survived, moved aside under .__wreck_2_*
    wrecks = [d for d in os.listdir(base) if d.startswith(".__wreck_2_")]
    assert len(wrecks) == 1
    assert os.path.isfile(os.path.join(base, wrecks[0], "legacy.dat"))
    # the committed version carries its publisher's claim marker
    assert [
        f
        for f in os.listdir(os.path.join(base, "__v=2"))
        if f.startswith(".__publisher_")
    ]
    # no staging residue after successful publishes
    assert not [d for d in os.listdir(base) if d.startswith(".__staging_")]
    # a dead publisher's staging dir: invisible to readers, swept only
    # under sweep_staging=True (which also clears quarantined wrecks)
    os.makedirs(os.path.join(base, ".__staging_deadbeef"))
    assert read_published(spark, base).count() == 7
    prune_published_versions(spark, base, keep=2)
    assert os.path.isdir(os.path.join(base, ".__staging_deadbeef"))
    assert os.path.isdir(os.path.join(base, wrecks[0]))
    prune_published_versions(spark, base, keep=2, sweep_staging=True)
    assert not os.path.isdir(os.path.join(base, ".__staging_deadbeef"))
    assert not os.path.isdir(os.path.join(base, wrecks[0]))

    # (b2) the VERIFIED claim: Hadoop rename onto an existing
    # non-empty dir returns TRUE and NESTS the source (measured on
    # RawLocalFileSystem; the FileSystem spec gives HDFS the same
    # semantics) — _try_claim must detect the merge via the missing
    # marker, atomically recover its staging, and report no-win
    from prod_recommendation_pyspark_spark.sources.writers import _try_claim

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())
    st_name = ".__staging_racetest"
    st_dir = os.path.join(base, st_name)
    os.makedirs(st_dir)
    with open(os.path.join(st_dir, "part-0"), "w") as f:
        f.write("mine")
    open(os.path.join(st_dir, ".__publisher_racetest"), "w").close()
    raced = os.path.join(base, "__v=9")  # appeared between exists+rename
    os.makedirs(raced)
    with open(os.path.join(raced, "part-0"), "w") as f:
        f.write("theirs")
    won = _try_claim(
        fs, hpath, hpath(st_dir), st_name, ".__publisher_racetest",
        hpath(raced),
    )
    assert won is False
    # staging recovered intact (marker and data), raced dir untouched
    assert os.path.isfile(os.path.join(st_dir, "part-0"))
    assert os.path.isfile(os.path.join(st_dir, ".__publisher_racetest"))
    with open(os.path.join(raced, "part-0")) as f:
        assert f.read() == "theirs"
    assert not os.path.isdir(os.path.join(raced, st_name))
    import shutil

    shutil.rmtree(st_dir)
    shutil.rmtree(raced)

    # (c) duplicate-id arrivals are dropped: inserting (dups ∪ new)
    # must equal inserting new alone, and equal the rebuild
    _, clis, _ = _rw_fixture(spark)
    old = clis.filter(F.col("src") % 6 != 5)
    new = clis.filter(F.col("src") % 6 == 5)
    dups = old.limit(3)
    index = rank_window_index(old, "src", window=8)
    grown = rank_window_insert(index, new.unionByName(dups), "src")
    rebuilt = rank_window_index(clis, "src", window=8)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w"]
    key = lambda df: {tuple(r) for r in df.select(*cols).collect()}  # noqa: E731
    assert key(grown) == key(rebuilt)
    assert dups.count() == 3
    # (d) INTRA-BATCH duplicates (round-14 advice): the same NEW id
    # twice in one arrival frame passes the index anti-join but must
    # still insert exactly once — a second __rid row per arm would
    # silently shift every later position
    twice = new.unionByName(new.limit(2))
    grown2 = rank_window_insert(index, twice, "src")
    assert key(grown2) == key(rebuilt)


def test_prune_published_versions(spark, tmp_path):
    """Retention: all but the newest ``keep`` committed versions are
    dropped, crashed (uncommitted) dirs older than the newest
    committed version are swept too, and the resolved latest version
    survives untouched."""
    import os

    import pytest

    from prod_recommendation_pyspark_spark.sources.readers import (
        latest_published_version,
        read_published,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        prune_published_versions,
        publish_versioned,
    )

    base = str(tmp_path / "artifact")
    for i in range(1, 5):  # v1..v4 committed
        publish_versioned(spark.range(10 * i), base)
    # a crashed v2.5-style wreck: fake an old uncommitted dir gets
    # simulated by stripping v1's marker AFTER publishing a newer one
    os.remove(os.path.join(base, "__v=1", "_SUCCESS"))

    removed = prune_published_versions(spark, base, keep=2)
    # committed survivors: v3, v4; v2 expired; v1 (now uncommitted,
    # older than latest) swept
    assert removed == [1, 2]
    assert latest_published_version(spark, base) == 4
    assert read_published(spark, base).count() == 40
    assert read_published(spark, base, version=3).count() == 30
    assert sorted(os.listdir(base)) == ["__v=3", "__v=4"]
    with pytest.raises(ValueError):
        prune_published_versions(spark, base, keep=0)


# ---------------------------------------------------------------------------
# Property tests: lifecycle equalities under RANDOM tombstone sets
# (each example is a real Spark job — max_examples stays small)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=5, deadline=None)
@given(
    mod=st.integers(min_value=2, max_value=9),
    rem=st.integers(min_value=0, max_value=8),
)
def test_rank_window_compact_equals_rebuild_property(spark, mod, rem):
    """compaction ≡ rebuild must hold for ANY deletion set, not just
    the pinned example — including sets that empty whole arms or
    delete nothing (rem ≥ mod → empty tombstones: compact must be the
    identity re-rank)."""
    from prod_recommendation_pyspark_spark.operators.hybrid import (
        rank_window_compact,
        rank_window_index,
    )

    _, clis, _ = _rw_fixture(spark)
    tombs = clis.filter(F.col("src") % mod == rem).select("src")
    index = rank_window_index(clis, "src", window=8)
    compacted = rank_window_compact(index, tombs)
    kept = clis.join(F.broadcast(tombs), "src", "left_anti")
    rebuilt = rank_window_index(kept, "src", window=8)
    cols = ["__rid", "__lvl", "__blk", "__cpos", "__wb", "__w"]
    key = lambda df: {tuple(r) for r in df.select(*cols).collect()}  # noqa: E731
    assert key(compacted) == key(rebuilt)


@settings(max_examples=5, deadline=None)
@given(
    mod=st.integers(min_value=2, max_value=9),
    rem=st.integers(min_value=0, max_value=8),
)
def test_ivf_compact_equals_rebuild_property(spark, mod, rem):
    """The IVF anti-join-is-the-rebuild equality under any modulus
    deletion set (frozen centroids), empty sets included."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        drop_tombstoned,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        ivf_index,
    )

    corpus, centroids, index, _, _ = _ivf_parts(spark)
    tombs = corpus.filter(F.col("nbr_id") % mod == rem).select("nbr_id")
    compacted = drop_tombstoned(index, tombs, "nbr_id")
    kept = corpus.join(F.broadcast(tombs), "nbr_id", "left_anti")
    rebuilt = ivf_index(kept, "nbr_id", "embedding", centroids)
    key = lambda df: {  # noqa: E731
        (r["nbr_id"], r["ivf_list"])
        for r in df.select("nbr_id", "ivf_list").collect()
    }
    assert key(compacted) == key(rebuilt)


def test_quarantine_wreck_restores_committed_publish(spark, tmp_path):
    """Round-15 advice pin: the quarantine's pre-rename _SUCCESS
    re-check is a TOCTOU — a committed publish can land at __v=N
    between the check and the rename.  ``_quarantine_wreck`` must
    therefore verify AFTER the rename: (a) a directory that turns out
    committed (``_SUCCESS`` present) is renamed straight
    back and the claim does NOT proceed; (b) a genuine marker-less
    wreck stays quarantined and the claim proceeds."""
    import os

    from prod_recommendation_pyspark_spark.sources.writers import (
        _quarantine_wreck,
    )

    base = str(tmp_path / "artifact")
    os.makedirs(base)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())

    # (a) the dir at __v=4 is actually a COMMITTED publish (simulates
    # the commit landing after the caller's stale _SUCCESS check)
    committed = os.path.join(base, "__v=4")
    os.makedirs(committed)
    with open(os.path.join(committed, "part-0"), "w") as f:
        f.write("fresh-commit")
    open(os.path.join(committed, "_SUCCESS"), "w").close()
    assert _quarantine_wreck(fs, hpath, base, hpath(committed), 4) is False
    # restored in place, bytes intact, nothing left aside
    with open(os.path.join(committed, "part-0")) as f:
        assert f.read() == "fresh-commit"
    assert os.path.isfile(os.path.join(committed, "_SUCCESS"))
    assert not [d for d in os.listdir(base) if d.startswith(".__wreck_")]

    # (a2) marker-only variant: claim marker present, no _SUCCESS —
    # readers can NEVER resolve such a dir (an operator stripped its
    # commit marker to invalidate it), so it is quarantined like any
    # wreck, preserving the re-publish self-heal semantics
    marked = os.path.join(base, "__v=5")
    os.makedirs(marked)
    open(os.path.join(marked, ".__publisher_abc123"), "w").close()
    assert _quarantine_wreck(fs, hpath, base, hpath(marked), 5) is True
    assert not os.path.isdir(marked)
    aside5 = [d for d in os.listdir(base) if d.startswith(".__wreck_5_")]
    assert len(aside5) == 1
    import shutil

    shutil.rmtree(os.path.join(base, aside5[0]))

    # (b) a genuine legacy wreck: no _SUCCESS, no marker — quarantined
    wreck = os.path.join(base, "__v=6")
    os.makedirs(wreck)
    with open(os.path.join(wreck, "legacy.dat"), "w") as f:
        f.write("legacy")
    assert _quarantine_wreck(fs, hpath, base, hpath(wreck), 6) is True
    assert not os.path.isdir(wreck)
    asides = [d for d in os.listdir(base) if d.startswith(".__wreck_6_")]
    assert len(asides) == 1
    assert os.path.isfile(os.path.join(base, asides[0], "legacy.dat"))


def test_publish_companion_feature_snapshot(spark, tmp_path):
    """Round-14 verdict #2 pin: `publish_versioned(companions=...)`
    versions side tables atomically WITH the artifact.  (a) companion
    rides the same atomic rename and reads back exactly; (b) the main
    read never sees companion files (hidden-path filter); (c) a
    version-pinned read pairs the artifact with ITS build's
    companion, not a later one; (d) prune removes expired versions'
    companions with the version dir."""
    import os

    import pytest

    from prod_recommendation_pyspark_spark.sources.readers import (
        read_published,
    )
    from prod_recommendation_pyspark_spark.sources.writers import (
        prune_published_versions,
        publish_versioned,
    )

    base = str(tmp_path / "artifact")
    idx1 = spark.range(10).withColumn("tag", F.lit("i1"))
    feat1 = spark.range(3).withColumn("f", F.lit(1.0))
    assert publish_versioned(idx1, base, companions={"features": feat1}) == 1
    idx2 = spark.range(20).withColumn("tag", F.lit("i2"))
    feat2 = spark.range(7).withColumn("f", F.lit(2.0))
    assert publish_versioned(idx2, base, companions={"features": feat2}) == 2

    # (a)+(b): latest main read = 20 rows, unpolluted by companions
    assert read_published(spark, base).count() == 20
    assert read_published(spark, base, companion="features").count() == 7
    # (c): pinned replay pairs v1's artifact with v1's features
    assert read_published(spark, base, version=1).count() == 10
    assert (
        read_published(spark, base, version=1, companion="features").count()
        == 3
    )
    assert {
        r["f"]
        for r in read_published(
            spark, base, version=1, companion="features"
        ).collect()
    } == {1.0}
    # companion dir really lives INSIDE the version dir
    assert os.path.isdir(os.path.join(base, "__v=2", "__companion_features"))
    # (d): retention drops the version's companion with the version
    v3 = spark.range(5)
    publish_versioned(v3, base, companions={"features": feat2})
    prune_published_versions(spark, base, keep=2)
    assert not os.path.isdir(os.path.join(base, "__v=1"))
    with pytest.raises(Exception):
        read_published(spark, base, version=1, companion="features").count()
    # bad companion name is rejected before any write
    with pytest.raises(ValueError, match="companion name"):
        publish_versioned(v3, base, companions={"bad/name": feat2})
