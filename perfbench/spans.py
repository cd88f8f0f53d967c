"""Spans around the engine's layer boundaries, recorded from outside.

``Tracer.install(layers)`` wraps every public function (and the public
methods of every class) defined in each layer module, and rebinds every
reference to them inside the package, so calls made through
``from module import fn`` are traced too.  A wrapped call opens a span
(name, layer, start, end, parent, op id, thread) and labels the Spark
jobs it launches with ``setJobGroup``; the previous label is restored
when it returns.  Spans stay in memory; ``write`` dumps them as JSON.

Jobs are read back from the Spark event log (``parse_event_log``).  A
job carrying a span label belongs to that span; an unlabeled job (one
launched from a driver thread the label does not reach) belongs to the
innermost main-thread span open at its submission time.

Functions shipped to Python workers are pickled by reference, so the
workers import the original, unwrapped functions.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "prod_recommendation_pyspark_spark"
GROUP_PREFIX = "pb-span-"

#: Layer name -> the package modules it covers, named after the modules.
LAYERS = {
    "sources.readers": ["sources.readers", "sources.catalog"],
    "sources.writers": ["sources.writers"],
    "features": ["features.encode", "features.impute", "features.scaling"],
    "operators.hybrid": ["operators.hybrid"],
    "operators.similarity": ["operators.similarity"],
    "operators.dedup": ["operators.dedup"],
    "operators.text": ["operators.text"],
    "operators.multimodal": ["operators.multimodal"],
    "operators.relational": ["operators.relational"],
    "operators.events": ["operators.events"],
    "recommender.ratings": ["recommender.ratings"],
    "recommender.als": ["recommender.als"],
    "recommender.reports": ["recommender.reports"],
    "plans.pipeline": ["plans.pipeline"],
}

#: Private functions that are still layer boundaries worth a span: the
#: projection family's serving probe (``serve_batch`` calls it instead
#: of the public ``projection_window_probe``).
EXTRA_FUNCTIONS = {"operators.hybrid": ["_projection_probe_resolved"]}


class Tracer:
    """In-memory span recorder with Spark job labels."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.unit: int | None = None
        self.captures: list[tuple[str, object, tuple, dict, object]] = []
        self.capture_names: set[str] = set()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _parent(self, tid: int) -> int | None:
        stack = self._stacks.get(tid) or self._stacks.get(self._main) or []
        return stack[-1] if stack else None

    def _label(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(
                f"{GROUP_PREFIX}{span_id}", self.spans[span_id]["name"]
            )

    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        tid = threading.get_ident()
        with self._lock:
            sid = len(self.spans)
            parent = self._parent(tid)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "parent": parent,
                "op": self.op_id, "unit": self.unit, "thread": 0 if tid == self._main else tid,
                "start": time.time(), "end": None,
            })
            stack = self._stacks.setdefault(tid, [])
            stack.append(sid)
        self._label(sid)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            with self._lock:
                stack.pop()
                back = stack[-1] if stack else None
            self._label(back)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if name in tracer.capture_names:
                tracer.captures.append((name, tracer.op_id, args, kwargs, out))
            return out

        return traced

    def install(self, layers: dict[str, list[str]] = LAYERS) -> int:
        """Wrap the layer modules; returns the number of wrapped callables."""
        originals: dict[int, object] = {}
        for layer, mods in layers.items():
            for short in mods:
                mod = importlib.import_module(f"{PACKAGE}.{short}")
                extra = EXTRA_FUNCTIONS.get(layer, [])
                for attr, obj in list(vars(mod).items()):
                    if getattr(obj, "__module__", None) != mod.__name__:
                        continue
                    if inspect.isfunction(obj) and (
                        not attr.startswith("_") or attr in extra
                    ):
                        w = self._wrap(obj, f"{short}.{attr}", layer)
                        originals[id(obj)] = w
                        self._patch(mod, attr, w)
                    elif inspect.isclass(obj):
                        for m, f in list(vars(obj).items()):
                            if inspect.isfunction(f) and not m.startswith("_"):
                                self._patch(
                                    obj, m,
                                    self._wrap(f, f"{short}.{attr}.{m}", layer),
                                )
        # rebind names imported elsewhere in the package
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and obj is not w:
                    self._patch(mod, attr, w)
        return len(originals)

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- event log ---------------------------------------------------------
def parse_event_log(path: str) -> list[dict]:
    """Jobs from a Spark JSON event log, with their task totals.

    Each job: ``{"id", "submit" (epoch s), "group", "stages", "tasks",
    "executor_s", "shuffle_write_b", "spill_b", "input_b", "output_b"}``.
    A stage counts toward the first job that lists it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            if '"Event":"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", [])),
                    "tasks": 0, "executor_s": 0.0, "shuffle_write_b": 0,
                    "spill_b": 0, "input_b": 0, "output_b": 0,
                }
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, jid)
            elif '"Event":"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["executor_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["shuffle_write_b"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                j["spill_b"] += m.get("Disk Bytes Spilled", 0)
                j["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                j["output_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return [jobs[k] for k in sorted(jobs)]


def attribute_jobs(jobs: list[dict], spans: list[dict]) -> dict[int, int | None]:
    """Job id -> span id: by label, else the innermost main-thread span
    open at submission (latest start wins); None when no span is open."""
    main = sorted(
        (s for s in spans if s["thread"] == 0 and s["end"] is not None),
        key=lambda s: s["start"],
    )
    out: dict[int, int | None] = {}
    for j in jobs:
        g = j["group"]
        if g and g.startswith(GROUP_PREFIX):
            out[j["id"]] = int(g[len(GROUP_PREFIX):])
            continue
        best = None
        for s in main:
            if s["start"] > j["submit"]:
                break
            if s["end"] >= j["submit"]:
                best = s["id"]
        out[j["id"]] = best
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if s["end"] is None:
            continue
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
