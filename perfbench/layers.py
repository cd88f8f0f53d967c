"""Per-layer metrics of a traced run.

``install`` wraps the layer modules; ``after_unit`` takes the counts
that need Spark (candidate volumes, artifact storage) once a traced
unit has finished, outside its ops and spans; ``per_layer`` joins the
spans with the jobs of the event log after the session has stopped.
Every metric is a median over the traced units (or over the calls it
names), so a count repeats exactly when the work does.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time

from spans import LAYERS, attribute_jobs, parse_event_log, self_times

MB = 1e6

#: Window candidate generators: their output rows are the fetched pairs.
CANDIDATES = {
    "operators.hybrid.projection_window_candidates",
    "operators.hybrid._projection_probe_resolved",
}
#: Functions whose return value (or arguments) feed a ratio metric.
CAPTURED = CANDIDATES | {
    "operators.hybrid.serving_probe_wins",
    "operators.dedup.incremental_lsh_candidates",
}
#: Measured per layer and unit; the printed table shows them as is.
LAYER_FIELDS = [
    ("wall_s", "s"), ("jobs", "count"), ("executor_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB"),
]
#: Reported per layer.  Times are reported as shares — self time of
#: the unit's wall, executor time of the cores' capacity over it — so a
#: layer a workload never calls reads 0% rather than a constant 0 s.
REPORTED_FIELDS = [
    ("wall_pct", "%"), ("jobs", "count"), ("executor_pct", "%"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("input_mb", "MB"),
]
EXTRA = [
    ("operators.hybrid.probe_call_pct", "%"),
    ("operators.hybrid.probe_jobs", "count"),
    ("operators.hybrid.rerank_pct", "%"),
    ("operators.hybrid.candidates_per_result", "ratio"),
    ("operators.hybrid.derive_pct", "%"),
    ("operators.hybrid.derive_jobs", "count"),
    ("operators.hybrid.route_probe_share", "ratio"),
    ("operators.hybrid.insert_pct", "%"),
    ("operators.hybrid.compact_pct", "%"),
    ("operators.dedup.candidates_per_doc", "ratio"),
    ("recommender.als.train_pct", "%"),
    ("recommender.als.recommend_pct", "%"),
    ("sources.writers.publish_pct", "%"),
    ("sources.writers.write_amp", "ratio"),
    ("sources.writers.files_written", "count"),
    ("sources.writers.versions_live", "count"),
    ("sources.readers.read_published_pct", "%"),
    ("trace.overhead_pct", "%"),
    ("trace.unattributed_jobs", "count"),
]


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in report order, with its unit."""
    out = [(f"{layer}.{f}", u) for layer in LAYERS for f, u in REPORTED_FIELDS]
    return out + EXTRA


def install(tracer) -> None:
    tracer.install()
    tracer.capture_names = set(CAPTURED)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _rows(answer) -> int:
    if isinstance(answer, tuple):  # intraday probes: (keys, frame)
        answer = answer[1]
    return len(answer) if answer is not None else 0


def after_unit(ctx, w, unit: int) -> None:
    """Counts for the unit just finished; tracing is off meanwhile."""
    c = ctx.counters
    tracer = ctx.tracer
    unit_ops = {k for k, op in enumerate(w.ops) if op.unit == unit}
    mine = [cap for cap in tracer.captures if cap[1] in unit_ops]
    tracer.captures = [cap for cap in tracer.captures if cap[1] not in unit_ops]
    cand = res = dd_pairs = dd_docs = 0
    seen_ops: set[int] = set()
    for name, op_id, args, kwargs, out in mine:
        try:
            if name in CANDIDATES:
                cand += out.count()
                if op_id not in seen_ops:
                    res += _rows(w.ops[op_id].answer)
                    seen_ops.add(op_id)
            elif name.endswith("serving_probe_wins"):
                c.setdefault("route_probe", []).append(1.0 if out else 0.0)
            elif name.endswith("incremental_lsh_candidates"):
                dd_pairs += out.count()
                dd_docs += args[1].count()
        except Exception as ex:  # a pruned version: the count is skipped
            print(f"# trace: count of {name} skipped ({type(ex).__name__})",
                  file=sys.stderr)
    if res:
        c.setdefault("candidates_per_result", []).append(cand / res)
    if dd_docs:
        c.setdefault("candidates_per_doc", []).append(dd_pairs / dd_docs)
    live, versions, files = w.storage(unit)
    c.setdefault("storage", {})[unit] = (live, versions, files)


def span_cost(spark, n: int = 200) -> float:
    """Seconds one span costs the caller (open, label, close, restore),
    measured on a separate tracer bound to the same session."""
    from spans import Tracer

    probe = Tracer(spark.sparkContext)
    probe.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with probe.span("calibration", "trace"):
            pass
    return (time.perf_counter() - t0) / n


def per_layer(ctx, w, event_dir: str, span_s: float) -> dict:
    tracer, c = ctx.tracer, ctx.counters
    spans = tracer.spans
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    jobs = [j for p in logs for j in parse_event_log(p)]
    owner = attribute_jobs(jobs, spans)
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo.extend(kids.get(x, []))
        return out

    traced_units = sorted({op.unit for op in w.ops if op.traced})
    windows = []
    for u in traced_units:
        ops = [s for s in spans if s["layer"] == "op" and s["unit"] == u]
        if ops:
            windows.append((min(s["start"] for s in ops), max(s["end"] for s in ops)))

    acc: dict[tuple[int, str], dict[str, float]] = {}

    def slot(u, layer):
        return acc.setdefault((u, layer), dict.fromkeys(f for f, _ in LAYER_FIELDS), )

    for s in spans:
        d = slot(s["unit"], s["layer"])
        d["wall_s"] = (d["wall_s"] or 0.0) + selft.get(s["id"], 0.0)
    unattributed = 0
    jobs_of: dict[int, list[dict]] = {}
    out_bytes: dict[int, int] = {}
    for j in jobs:
        sid = owner[j["id"]]
        if sid is None:
            if any(a <= j["submit"] <= b for a, b in windows):
                unattributed += 1
            continue
        s = by_id[sid]
        jobs_of.setdefault(sid, []).append(j)
        out_bytes[s["unit"]] = out_bytes.get(s["unit"], 0) + j["output_b"]
        d = slot(s["unit"], s["layer"])
        for f, v in (("jobs", 1), ("executor_s", j["executor_s"]),
                     ("shuffle_write_mb", j["shuffle_write_b"] / MB),
                     ("spill_mb", j["spill_b"] / MB), ("input_mb", j["input_b"] / MB)):
            d[f] = (d[f] or 0.0) + v

    # shares: of the unit's wall, and of the cores' capacity over it
    unit_wall = {u: sum(op.seconds for op in w.ops if op.unit == u) for u in traced_units}
    cores = len(os.sched_getaffinity(0))
    metrics: dict[str, tuple[float, str]] = {}
    table = []
    for layer in list(LAYERS) + sorted({s["layer"] for s in spans} - set(LAYERS)):
        per = [acc.get((u, layer), {}) for u in traced_units]
        row = [_med((d.get(f) or 0.0) for d in per) for f, _ in LAYER_FIELDS]
        table.append((layer, row))
        if layer not in LAYERS:
            continue
        for (f, unit), v in zip(LAYER_FIELDS, row):
            if f == "wall_s":
                metrics[f"{layer}.wall_pct"] = (_med(
                    100.0 * (d.get(f) or 0.0) / unit_wall[u] for u, d in zip(traced_units, per)
                ), "%")
            elif f == "executor_s":
                metrics[f"{layer}.executor_pct"] = (_med(
                    100.0 * (d.get(f) or 0.0) / (unit_wall[u] * cores)
                    for u, d in zip(traced_units, per)
                ), "%")
            else:
                metrics[f"{layer}.{f}"] = (v, unit)

    def dur(s):
        return s["end"] - s["start"]

    def njobs(s):
        return sum(len(jobs_of.get(x, [])) for x in subtree(s["id"]))

    def per_unit(names: set[str], value) -> dict[int, float]:
        """Per traced unit, ``value(span)`` summed over the outermost
        spans named in ``names``."""
        tot = dict.fromkeys(traced_units, 0.0)
        for s in spans:
            if s["name"] not in names:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["name"] not in names:
                p = by_id[p]["parent"]
            if p is None and s["unit"] in tot:
                tot[s["unit"]] += value(s)
        return tot

    def pct_of_unit(seconds: dict[int, float]) -> float:
        return _med(100.0 * v / unit_wall[u] for u, v in seconds.items())

    serve = [s for s in spans if s["name"] == "operators.hybrid.serve_batch"]
    window_ops = {
        k for k, op in enumerate(w.ops) if op.traced and op.kind in ("trickle", "batch")
    }
    rerank = [s for s in spans if s["name"] == "action" and s["op"] in window_ops]
    derive = {"operators.hybrid.derive_projection_window_stats"}
    timed = {
        "operators.hybrid.derive": per_unit(derive, dur),
        "recommender.als.train": per_unit({"recommender.als.train_als"}, dur),
        "recommender.als.recommend": per_unit({"recommender.als.recommend_topn"}, dur),
        "sources.writers.publish": per_unit({"sources.writers.publish_versioned"}, dur),
        "sources.readers.read_published": per_unit({"sources.readers.read_published"}, dur),
    }
    for kind in ("insert", "compact"):
        sec = dict.fromkeys(traced_units, 0.0)
        for op in w.ops:
            if op.traced and op.kind == "write" and op.name == kind:
                sec[op.unit] += op.seconds
        timed[f"operators.hybrid.{kind}"] = sec
    storage = c.get("storage", {})
    live_b = {u: v[0] for u, v in storage.items()}
    # tracing overhead: the spans' own cost against the traced wall
    # (the event log's cost is outside what spans can see)
    traced_s = sum(unit_wall.values())
    n_spans = sum(1 for s in spans if s["unit"] in traced_units)

    for name, sec in timed.items():
        metrics[f"{name}_pct"] = (pct_of_unit(sec), "%")
    metrics.update({
        "operators.hybrid.probe_call_pct": (_med(
            100.0 * dur(s) / w.ops[s["op"]].seconds for s in serve), "%"),
        "operators.hybrid.probe_jobs": (_med(njobs(s) for s in serve), "count"),
        "operators.hybrid.rerank_pct": (_med(
            100.0 * dur(s) / w.ops[s["op"]].seconds for s in rerank), "%"),
        "operators.hybrid.candidates_per_result": (
            _med(c.get("candidates_per_result", [])), "ratio"),
        "operators.hybrid.derive_jobs": (_med(per_unit(derive, njobs).values()), "count"),
        "operators.hybrid.route_probe_share": (
            statistics.fmean(c["route_probe"]) if c.get("route_probe") else 0.0, "ratio"),
        "operators.dedup.candidates_per_doc": (_med(c.get("candidates_per_doc", [])), "ratio"),
        "sources.writers.write_amp": (_med(
            out_bytes.get(u, 0) / live_b[u] for u in traced_units if live_b.get(u)
        ), "ratio"),
        "sources.writers.files_written": (_med(
            storage[u][2] for u in traced_units if u in storage), "count"),
        "sources.writers.versions_live": (_med(
            storage[u][1] for u in traced_units if u in storage), "count"),
        "trace.overhead_pct": (
            100.0 * n_spans * span_s / traced_s if traced_s else 0.0, "%"),
        "trace.unattributed_jobs": (float(unattributed), "count"),
    })

    print(f"# per-layer table (median over {len(traced_units)} traced units of "
          f"{_med(unit_wall.values()):.2f}s; {len(jobs)} jobs in the event log, "
          f"{n_spans} spans at {span_s * 1e3:.3f} ms each)")
    print("# " + f"{'layer':24s}" + "".join(f"{f:>17s}" for f, _ in LAYER_FIELDS))
    for layer, row in table:
        print("# " + f"{layer:24s}" + "".join(f"{v:17.4f}" for v in row))
    for name, sec in timed.items():
        print(f"# {name}_s = {_med(sec.values()):.4f}")
    print(f"# operators.hybrid.probe_call_s = {_med(dur(s) for s in serve):.4f}")
    print(f"# operators.hybrid.rerank_s = {_med(dur(s) for s in rerank):.4f}")
    return {k: metrics[k] for k, _ in metric_names()}
