"""The workloads: the nightly build and intraday serving.

Each workload runs in one Spark session in a closed loop: one client
issues its next operation when the previous one has returned.  An
operation's answer is materialized inside its timed section and
checked after the measuring window ends.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from stats import tail

PEERS_K = 15


class Op:
    """One timed operation and its answer."""

    __slots__ = ("kind", "name", "unit", "seconds", "ok", "answer", "error", "traced")

    def __init__(self, kind, name, unit, traced):
        self.kind, self.name, self.unit, self.traced = kind, name, unit, traced
        self.seconds, self.ok, self.answer, self.error = 0.0, True, None, None


def canon(pdf):
    """The registry's oracle canonical form: sorted columns, floats
    rounded to 6 places, rows sorted, rendered as CSV text."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == "float64":
            pdf[c] = pdf[c].round(6)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True).to_csv(index=False)


def warm_worker_pool(spark) -> None:
    """Start every Python worker (each imports pandas and Arrow once)."""
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4, numPartitions=par).mapInPandas(lambda it: it, "id long").count()


def run_parallel(fn, items) -> list:
    """``fn`` over ``items`` on driver threads (Spark runs their jobs
    side by side); results in order, the first exception re-raised."""
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [pool.submit(fn, x) for x in items]
        return [f.result() for f in futures]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, hidden files excluded."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Workload:
    #: whether a unit measured while the host stole CPU time may be
    #: measured again in the same session (see ``run.STEAL_MAX``)
    REMEASURE = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.ops: list[Op] = []
        self.failures: list[str] = []
        #: failures no single op can carry (e.g. an unreadable artifact)
        self.extra_failed = 0

    # -- hooks ---------------------------------------------------------
    def prepare(self) -> None:
        """Set-up before the measuring window (timed into setup_s)."""
        warm_worker_pool(self.spark)

    def run_unit(self, i: int, traced: bool) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Verify every recorded answer; mark failed ops."""

    def details(self) -> dict:
        return {}

    def storage(self, unit: int) -> tuple[int, int, int]:
        """(bytes of the newest artifact versions, committed versions
        retained, data files written by ``unit``)."""
        return 0, 0, 0

    # -- helpers -------------------------------------------------------
    def timed(self, kind: str, name: str, unit: int, traced: bool, fn):
        """Run ``fn`` as one op; exceptions are recorded, not raised."""
        op = Op(kind, name, unit, traced)
        self.tracer.op_id = len(self.ops)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op:{name}", "op"):
                op.answer = fn()
        except Exception as ex:  # an op failure is a result, not a crash
            op.ok, op.error = False, f"{type(ex).__name__}: {ex}"
            traceback.print_exc(file=sys.stderr)
        op.seconds = time.perf_counter() - t0
        self.tracer.op_id = None
        self.ops.append(op)
        return op

    def query_op(self, name: str, unit: int, traced: bool):
        """A registered query over the run's inputs, materialized."""
        from prod_recommendation_pyspark_spark.queries import QUERIES

        def body():
            with self.tracer.span("build", "queries"):
                df = QUERIES[name](self.spark, self.ctx.data_dir)
            with self.tracer.span("action", "action"):
                return df.toPandas()

        return self.timed("query", name, unit, traced, body)

    def fail_run(self, why: str) -> None:
        self.failures.append(why)
        self.extra_failed += 1

    def fail(self, op: Op, why: str) -> None:
        if op.ok:
            op.ok = False
            op.error = why
        self.failures.append(f"{op.name}#{op.unit}: {why}")

    def clear_caches(self) -> None:
        from prod_recommendation_pyspark_spark.queries import similarity

        self.spark.catalog.clearCache()
        similarity._DERIVED_WINDOW_CACHE.clear()
        similarity._FD_NCLIENTS_CACHE.clear()

    def oracle(self, name: str) -> str:
        from prod_recommendation_pyspark_spark.queries import ORACLES

        cache = self.ctx.oracle_cache
        if name not in cache:
            cache[name] = canon(self.ctx.duck().execute(ORACLES[name]).df())
        return cache[name]

    def check_queries(self, ops: list[Op]) -> None:
        """Each answer against its registered DuckDB oracle; the ALS
        recommendations, which have no value oracle, against their
        invariants."""
        from prod_recommendation_pyspark_spark.queries import ORACLES

        for op in ops:
            if not op.ok:
                self.failures.append(f"{op.name}#{op.unit}: {op.error}")
                continue
            pdf = op.answer
            if op.name in ORACLES:
                if canon(pdf) != self.oracle(op.name):
                    self.fail(op, "differs from its DuckDB oracle")
            elif op.name == "als_recommend_topn":
                per_user = pdf.groupby("custkey").size()
                if len(pdf) == 0 or (per_user != 10).any():
                    self.fail(op, "ALS: not 10 rows per user")
                if (pdf["rating"] < 0).any():
                    self.fail(op, "ALS: negative score")
            else:
                self.fail(op, "no check registered for this query")


# ----------------------------------------------------------------------
class NightlyBuild(Workload):
    """One unit is a nightly pass: the full-dimension peer search
    (window derivation and dispatch), ALS, the report refresh, the
    day's documents deduplicated against the band-key store and the
    end-to-end pipeline, then the projection-window serving artifact
    built and published with its feature snapshot through
    ``publish_versioned``.  Caches are cleared
    first.  A nightly job starts a fresh session, so the
    pass is measured as it runs in production: first thing after the
    session starts, with no warm-up pass."""

    #: a second pass in the same session ran ~40% faster (JIT and
    #: codegen warm), so it cannot stand in for the cold first one
    REMEASURE = False

    QUERIES = [
        "peer_search_fulldim_topk",
        "als_recommend_topn",
        # the report refresh: event sessions, image features, text
        # statistics
        "session_windows_events",
        "multimodal_image_features",
        "text_stats_documents",
        # the day's documents deduplicated against the corpus's band-key
        # store
        "incremental_dedup_documents",
        # peer search, ratings and the confidence report composed
        "pipeline_e2e_confidence",
    ]

    def __init__(self, ctx):
        super().__init__(ctx)
        self.base = os.path.join(ctx.work_dir, "nightly", "projection_window")
        #: (version, bytes, data files) per publish
        self.published: list[tuple[int, int, int]] = []

    def run_unit(self, i: int, traced: bool) -> None:
        self.clear_caches()
        for name in self.QUERIES:
            self.query_op(name, i, traced)
        self.timed("publish", "publish:projection_window", i, traced, self.publish)

    def publish(self) -> tuple[int, int]:
        """Build the projection-window index over every client and
        publish it with its feature snapshot; (version, bytes)."""
        from prod_recommendation_pyspark_spark.operators.hybrid import (
            projection_window_index,
        )
        from prod_recommendation_pyspark_spark.queries.similarity import (
            _FD_DIRECTION, _FD_WINDOW, _fd_sides,
        )
        from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

        _, clients = _fd_sides(self.spark, self.ctx.data_dir)
        index = projection_window_index(
            clients, "src_custkey", _FD_DIRECTION, window=_FD_WINDOW
        )
        v = publish_versioned(index, self.base, partition_by=["__lvl"],
                              companions={"features": clients})
        size, files = dir_bytes(os.path.join(self.base, f"__v={v}"))
        self.published.append((v, size, files))
        return v, size

    def check(self) -> None:
        from prod_recommendation_pyspark_spark.sources.readers import (
            latest_published_version, read_published,
        )

        self.check_queries([op for op in self.ops if op.kind == "query"])
        for op in self.ops:
            if op.kind != "publish":
                continue
            if not op.ok:
                self.failures.append(f"{op.name}#{op.unit}: {op.error}")
            elif op.answer[0] != op.unit + 1:
                self.fail(op, f"published version {op.answer[0]}, expected {op.unit + 1}")
        # the newest version resolves and reads back
        if self.published:
            if latest_published_version(self.spark, self.base) != self.published[-1][0]:
                self.fail_run("publish: newest version not resolvable")
            elif read_published(self.spark, self.base).count() == 0:
                self.fail_run("publish: newest version is empty")

    def storage(self, unit: int) -> tuple[int, int, int]:
        if not self.published:
            return 0, 0, 0
        files = sum(f for v, _, f in self.published if v == unit + 1)
        return self.published[-1][1], len(self.published), files

    def details(self) -> dict:
        mb = [size / 1e6 for _, size, _ in self.published]
        pub = [op.seconds * 1e3 for op in self.ops if op.kind == "publish" and op.ok]
        return {
            "artifact_mb": (float(np.median(mb)) if mb else 0.0, "MB"),
            "write_ms_p50": (float(np.median(pub)) if pub else 0.0, "ms"),
        }


# ----------------------------------------------------------------------
class Intraday(Workload):
    """Serving off a published projection-window artifact
    (general-dimension peer search through ``serve_batch``) kept current
    by inserts, tombstones and compaction.

    Set-up publishes the artifact over a seeded ~90% of the clients;
    the rest is the pool of arriving rows.  One unit (a cycle) runs, in
    a fixed order, ``WRITES`` — an insert of arriving clients, a
    compaction that folds the pending tombstones into a new version
    (then keeps two), a tombstone delete — and then a batch probe and a
    trickle probe.  Every probe resolves the newest published version
    and passes the pending tombstones, so each sees an insert, a
    compaction and pending tombstones.  The order is fixed so that every
    probe meets the same kind of state at every seed; the seed picks the
    probe keys and the held-back, arriving and deleted rows."""

    TRICKLE = 10
    BATCH = 100
    ARRIVALS = 20
    DELETES = 20
    HOLD_BACK = 0.1
    #: build window; at this corpus size the serving cost rule routes
    #: every batch to the probe
    WINDOW = 256
    #: the writes of one cycle, in order
    WRITES = ["insert", "compact", "delete"]

    def __init__(self, ctx):
        super().__init__(ctx)
        self.base = os.path.join(ctx.work_dir, "intraday", "projection_window")
        self.tomb_path = os.path.join(ctx.work_dir, "intraday", "tombstones")
        self.snapshots: dict[int, tuple[frozenset, frozenset]] = {}

    # -- corpus and artifact -------------------------------------------
    def _subset(self, df, col: str, ids):
        from pyspark.sql import functions as F

        return df.join(F.broadcast(self._ids_df(ids, col)), col, "left_semi")

    def _ids_df(self, ids, col: str = "src_custkey"):
        if not ids:
            return None
        return self.spark.createDataFrame([(int(i),) for i in sorted(ids)], f"{col} long")

    def _frames(self, ids):
        """(index, feature table) built over the clients ``ids``."""
        from prod_recommendation_pyspark_spark.operators.hybrid import projection_window_index
        from prod_recommendation_pyspark_spark.queries.similarity import _FD_DIRECTION

        live = self._subset(self.clients, "src_custkey", ids)
        return projection_window_index(
            live, "src_custkey", _FD_DIRECTION, window=self.WINDOW
        ), live

    def _publish(self, index, feats) -> int:
        from prod_recommendation_pyspark_spark.sources.writers import publish_versioned

        return publish_versioned(index, self.base, partition_by=["__lvl"],
                                 companions={"features": feats})

    def _read(self):
        from prod_recommendation_pyspark_spark.sources.readers import (
            latest_published_version, read_published,
        )

        v = latest_published_version(self.spark, self.base)
        return (read_published(self.spark, self.base, version=v),
                read_published(self.spark, self.base, version=v, companion="features"))

    def prepare(self) -> None:
        """Load the corpus (the features of every customer), hold back
        the arriving pool, publish the artifact over the rest, and warm
        it with one untimed run of each op: a server is warm, and
        without this five runs of the first timed cycle spread by 22-28%,
        where four of five warmed runs lay within 2.5% (BASELINE.md).
        The warm batch probe (which warms the trickle probe too) runs
        beside the insert; the Python worker pool warms beside all of it
        (without it, two of ten runs peaked 1.5-2.6 GB higher; with it,
        none of twenty)."""
        run_parallel(lambda f: f(), [lambda: warm_worker_pool(self.spark), self._build])

    def _build(self) -> None:
        from prod_recommendation_pyspark_spark.queries.similarity import _fd_sides

        rng = np.random.default_rng([self.ctx.seed, 0])
        self.tomb: set[int] = set()
        self.prospects, self.clients = _fd_sides(self.spark, self.ctx.data_dir)
        self.prospect_ids = sorted(
            r[0] for r in self.prospects.select("tgt_custkey").collect())
        ids = np.array(sorted(r[0] for r in self.clients.select("src_custkey").collect()))
        held = rng.random(len(ids)) < self.HOLD_BACK
        self.live = {int(i) for i in ids[~held]}
        self.pool = [int(i) for i in ids[held]]
        rng.shuffle(self.pool)
        self._publish(*self._frames(self.live))
        self.delete(rng)
        warm = [self._keys(self.BATCH, rng), *self._read(), set(self.tomb),
                len(self.live - self.tomb)]
        # the probe's version stays on disk until the compaction prunes it
        run_parallel(lambda f: f(), [lambda: self.probe(*warm), self.insert])
        self.compact()
        self.delete(rng)

    # -- operations ----------------------------------------------------
    def _keys(self, n: int, rng=None) -> list[int]:
        rng = self.ctx.rng if rng is None else rng
        src = self.prospect_ids
        picked = rng.choice(len(src), size=min(n, len(src)), replace=False)
        return sorted(int(src[k]) for k in picked)

    def probe(self, keys: list[int], index, feats, tomb: set[int], n_live: int):
        """Serve one batch of prospect ``keys`` off ``index``."""
        from pyspark.sql import functions as F

        from prod_recommendation_pyspark_spark.operators.hybrid import serve_batch
        from prod_recommendation_pyspark_spark.queries.similarity import (
            THRESHOLD, W_HAVS, W_HOPS,
        )

        batch = self._subset(self.prospects, "tgt_custkey", keys)
        out = serve_batch(
            batch, index, feats, "tgt_custkey", "src_custkey",
            k=PEERS_K, threshold=THRESHOLD, w_hops=W_HOPS, w_havs=W_HAVS,
            n_right=n_live, tombstones=self._ids_df(tomb),
        )
        out = out.select("tgt_custkey", "src_custkey", F.round("score", 4).alias("score"))
        with self.tracer.span("action", "action"):
            return out.toPandas()

    def serve(self, keys: list[int], op_index: int):
        """A client probe: resolve the newest version, then probe it."""
        self.snapshots[op_index] = (frozenset(self.live), frozenset(self.tomb))
        pdf = self.probe(keys, *self._read(), self.tomb, len(self.live - self.tomb))
        if pdf.empty:
            raise RuntimeError(f"empty answer for {len(keys)} keys")
        return keys, pdf

    def insert(self) -> int:
        from prod_recommendation_pyspark_spark.operators.hybrid import rank_window_insert

        take = self.pool[: self.ARRIVALS]
        arrivals = self._subset(self.clients, "src_custkey", take)
        index, feats = self._read()
        n = self._publish(rank_window_insert(index, arrivals, "src_custkey"),
                          feats.unionByName(arrivals))
        del self.pool[: len(take)]
        self.live.update(take)
        return n

    def delete(self, rng=None) -> int:
        """Tombstone live clients and persist the tombstone set."""
        from prod_recommendation_pyspark_spark.sources.writers import write_parquet

        cand = sorted(self.live - self.tomb)
        rng = self.ctx.rng if rng is None else rng
        picked = rng.choice(len(cand), size=self.DELETES, replace=False)
        self.tomb.update(int(cand[k]) for k in picked)
        write_parquet(self._ids_df(self.tomb), self.tomb_path)
        return len(self.tomb)

    def compact(self) -> int:
        """Fold the tombstones into a new version, then keep two."""
        from prod_recommendation_pyspark_spark.operators.hybrid import rank_window_compact
        from prod_recommendation_pyspark_spark.sources.writers import prune_published_versions

        tdf = self._ids_df(self.tomb)
        index, feats = self._read()
        n = self._publish(rank_window_compact(index, tdf),
                          feats.join(tdf, "src_custkey", "left_anti"))
        self.live -= self.tomb
        self.tomb = set()
        prune_published_versions(self.spark, self.base, keep=2)
        return n

    def plan(self) -> list[tuple[str, list[int] | None]]:
        """One cycle as (kind, probe keys): the writes, then a batch and
        a trickle probe with keys drawn from the seed (the trickle last,
        so that the check re-serves ten keys, not a hundred)."""
        return [(kind, None) for kind in self.WRITES] + [
            ("batch", self._keys(self.BATCH)), ("trickle", self._keys(self.TRICKLE))]

    def run_unit(self, i: int, traced: bool) -> None:
        for kind, keys in self.plan():
            if keys is not None:
                idx = len(self.ops)
                self.timed(kind, kind, i, traced,
                           lambda keys=keys, idx=idx: self.serve(keys, idx))
            else:
                self.timed("write", kind, i, traced, getattr(self, kind))

    # -- check ---------------------------------------------------------
    def check(self) -> None:
        """Rebuild the artifact over the corpus the last timed probe saw
        (live rows minus pending tombstones), probe the rebuild with the
        same keys and require the same answer."""
        for op in self.ops:
            if not op.ok:
                self.failures.append(f"{op.name}#{op.unit}: {op.error}")
        last = max((k for k, op in enumerate(self.ops)
                    if op.ok and op.kind in ("trickle", "batch")), default=None)
        if last is None:
            self.fail_run("no probe answer to check")
            return
        live, tomb = self.snapshots[last]
        seen = live - tomb
        keys, served = self.ops[last].answer
        index, feats = self._frames(seen)
        rebuilt = self.probe(keys, index.localCheckpoint(), feats, set(), len(seen))
        if canon(served) != canon(rebuilt):
            self.fail(self.ops[last], "differs from a rebuild over the live corpus")

    def _versions(self) -> list[int]:
        return sorted(int(d[4:]) for d in os.listdir(self.base) if d.startswith("__v="))

    def storage(self, unit: int) -> tuple[int, int, int]:
        made = [op.answer for op in self.ops if op.unit == unit and op.ok
                and op.name in ("insert", "compact")]
        vs = self._versions()
        files = sum(dir_bytes(os.path.join(self.base, f"__v={v}"))[1] for v in made
                    if os.path.isdir(os.path.join(self.base, f"__v={v}")))
        return dir_bytes(os.path.join(self.base, f"__v={vs[-1]}"))[0], len(vs), files

    def details(self) -> dict:
        out = {}
        for kind, label in (("trickle", "probe_trickle"), ("batch", "probe_batch"),
                            ("write", "write")):
            ms = [op.seconds * 1e3 for op in self.ops if op.kind == kind and op.ok]
            if not ms:
                continue
            out[f"{label}_ms_p50"] = (float(np.median(ms)), "ms")
            t = tail(ms)
            out[f"{label}_ms_tail"] = (
                (t[1], f"ms p{t[0]} n={len(ms)}") if t
                else (None, f"ms (n={len(ms)}: too few samples for a tail)"))
        newest = dir_bytes(os.path.join(self.base, f"__v={self._versions()[-1]}"))[0]
        out["space_amp"] = (dir_bytes(self.base)[0] / newest if newest else 0.0, "ratio")
        rows = [len(op.answer[1]) for op in self.ops if op.ok and op.kind == "trickle"]
        out["trickle_rows_p50"] = (float(np.median(rows)) if rows else 0.0, "rows")
        return out
