"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``prod_recommendation_pyspark_spark``; this
file only exposes the query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from prod_recommendation_pyspark_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["topk_segments_by_nation"](spark, "/root/testdata/sf0.001")


def _driver_history() -> tuple[int, set[str], set[str], dict[str, int]]:
    """(latest round number, hash-verified names, rows-only names,
    name → last round it passed) across all committed
    CORRECTNESS_r*.json files.  Hash-verified means a real value-hash
    match; ``err == 'no_oracle'`` rows only ever got a rows-only check
    and are tracked separately."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest = 0
    hash_ok: set[str] = set()
    rows_only: set[str] = set()
    last_pass: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        latest = max(latest, rnd)
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rec.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match"):
                hash_ok.add(name)
                last_pass[name] = max(last_pass.get(name, 0), rnd)
            elif row.get("err") == "no_oracle" and (
                row.get("rows_match")
                or (
                    name in ROWS_ONLY_COMPANIONS
                    and (row.get("spark_rows") or 0) > 0
                )
            ):
                # the driver records rows_match=null (not true) for
                # no_oracle rows; a non-empty spark_rows is the rows-only
                # pass signal — but ONLY for the two DESIGNED rows-only
                # queries (otherwise they re-enter "fresh" every round
                # and burn two sample slots forever).  Any OTHER query
                # surfacing no_oracle means its SQL oracle is missing by
                # accident, and it must keep re-entering fresh so the
                # gap stays visible.
                rows_only.add(name)
                last_pass[name] = max(last_pass.get(name, 0), rnd)
    return latest, hash_ok, rows_only, last_pass


#: The two rows-only-by-design queries and the hash-verified companion
#: contract that carries their value evidence.  ``als_recommend_topn``
#: is iterative MLlib factorization (not ANSI-SQL-reproducible);
#: ``simhash_near_dup_pairs`` depends on Spark's xxhash64.  Their
#: ``err == "no_oracle"`` rows in CORRECTNESS files are EXPECTED, not
#: failures: the companion query pins the same computation's invariants
#: (and for simhash, banded≡brute equivalence) under a full value hash.
ROWS_ONLY_COMPANIONS = {
    "als_recommend_topn": "als_recommend_topn_contract",
    "simhash_near_dup_pairs": "simhash_banded_vs_brute",
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Sample rotation: the driver's per-round correctness check covers a
    prefix of this dict, so a frozen registration order would verify
    the same early-round 50 queries forever and newest operators would
    never get driver-verified.  Ordering:

    1. never-verified queries first (stable registration order) — new
       operators get driver-verified the round they land;
    2. then ALL previously-verified queries, ROTATED by the round
       number — so already-verified queries keep cycling back through
       the driver's sample window and a regression introduced later in
       a shared operator is caught within a few rounds, instead of the
       old scheme's permanent demotion;
    3. rows-only (``no_oracle``) queries join the rotation pool too,
       but are tracked separately from hash-verified ones — a rows-only
       pass never counts as hash verification.
    """
    latest_round, hash_ok, rows_only, last_pass = _driver_history()
    fresh = [n for n in QUERIES if n not in hash_ok and n not in rows_only]
    # Pinned directly after the fresh block, ahead of the rotation:
    # 1. the companion contracts that carry the rows-only pair's value
    #    evidence must recur in the sample window, not wait out a full
    #    rotation cycle (als contract last driver-green r06, simhash
    #    banded r02) — pinned only while STALE (no driver pass within
    #    the last 2 rounds), so the slots free up once current;
    # 2. queries whose code changed this round get driver
    #    re-verification the round the change lands instead of riding
    #    their stale green — GATED on the history state so the pin
    #    expires: once the next CORRECTNESS file exists the slots return
    #    to the rotation instead of being consumed forever.  Pinned now:
    #    the 2-D rank window and the projection window became one
    #    window-index family (one derivation, candidate, index, probe
    #    and metadata-resolver body, keyed by ``_window_key``), and the
    #    projection key checks vector dims in its plan — every query
    #    riding those cells re-verifies.
    changed = (
        [
            "peer_search_rank_window_topk",
            "rank_window_derived_parity",
            "rank_window_derivation_contract",
            "rank_window_nightly_e2e",
            "rank_window_warm_nightly_e2e",
            "rank_window_delete_e2e",
            "rank_window_insert_e2e",
            "rank_window_versioned_publish_e2e",
            "peer_search_probe_parity",
            "peer_search_serve_batch_e2e",
            "streaming_peer_serving_replay",
            "peer_search_fulldim_topk",
            "peer_search_fulldim_recall",
            "peer_search_fulldim_dispatch",
            "peer_search_fulldim_probe_parity",
            "projection_window_delete_e2e",
            "projection_window_insert_e2e",
            "streaming_projection_serving_replay",
        ]
        if latest_round == 16
        else []
    )
    stale_companions = [
        n
        for n in ROWS_ONLY_COMPANIONS.values()
        if latest_round - last_pass.get(n, 0) >= 2
    ]
    pinned = [
        n
        for n in stale_companions + changed
        if n in QUERIES and n not in fresh
    ]
    pool = [
        n
        for n in QUERIES
        if (n in hash_ok or n in rows_only) and n not in pinned
    ]
    # STALENESS-ordered (round-9 verdict #5): oldest driver evidence
    # first, so the sample window always resamples the queries whose
    # last green is most stale — each pass refreshes their last_pass,
    # which rotates them to the back naturally.  The old stride
    # rotation sampled disjoint slices but could leave a query
    # unrefreshed for ~len(pool)/50 rounds regardless of staleness.
    # Tie-break on registration order (dict order) for determinism.
    reg_order = {n: i for i, n in enumerate(QUERIES)}
    pool.sort(key=lambda n: (last_pass.get(n, 0), reg_order[n]))
    ordered = fresh + pinned + pool
    # COMPANION PAIRING (round-12 verdict #7): whenever a rows-only
    # query lands in the driver's sample prefix, its hash-verified
    # companion contract must land in the SAME CORRECTNESS file —
    # otherwise the `err: "no_oracle"` row reads as a failure to
    # anyone not cross-referencing ROWS_ONLY_COMPANIONS.  Placing the
    # companion immediately BEFORE its twin guarantees it for any
    # prefix window size: a window containing the twin at position i
    # contains the companion at i-1.
    for twin, comp in ROWS_ONLY_COMPANIONS.items():
        if twin in ordered and comp in ordered:
            ordered.remove(comp)
            ordered.insert(ordered.index(twin), comp)
    return {n: QUERIES[n] for n in ordered}


def staleness_note() -> str:
    """One-line registry-staleness summary for the per-round ORACLE
    file (round-14 verdict #5): how stale the driver-evidence tail is
    — the oldest last-driver-pass round across the registry and the
    count of queries whose last driver pass is more than K=2 rounds
    old.  Generated from the same committed CORRECTNESS history the
    sample rotation reads, so the note costs nothing and cannot drift
    from the rotation's own view."""
    latest, hash_ok, rows_only, last_pass = _driver_history()
    verified = [n for n in QUERIES if n in hash_ok or n in rows_only]
    never = [n for n in QUERIES if n not in last_pass]
    if not verified:
        return f"registry staleness: no driver history yet (r{latest})."
    oldest = min(last_pass.get(n, 0) for n in verified)
    k = 2
    older = sum(1 for n in verified if latest - last_pass.get(n, 0) > k)
    return (
        f"registry staleness vs driver samples (r{latest}): "
        f"{len(verified)}/{len(QUERIES)} driver-verified ever; oldest "
        f"last-driver-pass r{oldest}; {older} queries last "
        f"driver-passed more than {k} rounds ago"
        + (f"; {len(never)} never sampled (fresh)" if never else "")
        + ".  (Every registered query is additionally re-oracled in "
        "full by the per-round sf0.001/sf0.01 sweeps recorded in this "
        "file — driver staleness measures the independent driver's "
        "sampling lag, not verification coverage.)"
    )


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins for every SQL-expressible query.

    Exactly two registered queries have no entry here BY DESIGN and
    surface as ``err: "no_oracle"`` rows-only checks every time the
    driver samples them — that is expected output, not a failure:

    - ``als_recommend_topn``: iterative MLlib ALS factorization is not
      ANSI-SQL-reproducible; its value evidence is the hash-green
      ``als_recommend_topn_contract`` (schema/cardinality/join-key and
      score-invariant pins on the SAME recommendation frame).
    - ``simhash_near_dup_pairs``: depends on Spark's xxhash64 (no
      DuckDB twin); its value evidence is the hash-green
      ``simhash_banded_vs_brute`` (banded candidate set ≡ brute-force
      Hamming join on the same corpus).

    See ``ROWS_ONLY_COMPANIONS`` for the machine-readable pairing."""
    return dict(ORACLES)
