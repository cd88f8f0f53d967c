"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import os
import threading
import types

import numpy as np
import pytest

import datagen
import stats
from spans import Tracer, attribute_jobs, parse_event_log, self_times


# -- tail percentile ---------------------------------------------------
def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    assert stats.tail(list(range(19))) is None  # best would be p47 < median
    p, v = stats.tail([float(x) for x in range(1, 21)])
    assert (p, v) == (50, 10.0)
    p, v = stats.tail([float(x) for x in range(1, 101)])
    assert (p, v) == (90, 90.0)
    p, v = stats.tail([float(x) for x in range(1, 1001)])
    assert (p, v) == (99, 990.0)


@pytest.mark.parametrize("n", [20, 37, 100, 250, 1000])
def test_tail_always_leaves_ten_beyond(n):
    xs = list(np.random.default_rng(n).exponential(1.0, n))
    p, v = stats.tail(xs)
    assert sum(1 for x in xs if x > v) >= stats.TAIL_MIN_BEYOND
    assert p >= 50


def test_tail_of_constant_sample_is_none():
    assert stats.tail([1.0] * 50) is None


# -- spans, self time, attribution ---------------------------------------
def _span(i, parent, start, end, layer="L", thread=0):
    return {"id": i, "name": f"s{i}", "layer": layer, "parent": parent,
            "op": 0, "unit": 0, "thread": thread, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0, thread=7),  # overlaps its sibling
        _span(3, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_attribution_by_label_then_by_time():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 5.0),
             _span(2, None, 20.0, 21.0, thread=9)]
    jobs = [
        {"id": 0, "submit": 3.0, "group": "pb-span-0"},  # label wins
        {"id": 1, "submit": 3.0, "group": None},  # innermost open: 1
        {"id": 2, "submit": 7.0, "group": None},  # back in 0
        {"id": 3, "submit": 20.5, "group": None},  # only a thread span: none
        {"id": 4, "submit": 30.0, "group": "other"},  # foreign label
    ]
    assert attribute_jobs(jobs, spans) == {0: 0, 1: 1, 2: 0, 3: None, 4: None}


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("x", "L") as sid:
        assert sid is None
    assert t.spans == []


# -- seed determinism ----------------------------------------------------
def test_same_seed_same_inputs(tmp_path):
    a = datagen.write_inputs(str(tmp_path / "a"), 7, 0.1)
    b = datagen.write_inputs(str(tmp_path / "b"), 7, 0.1)
    c = datagen.write_inputs(str(tmp_path / "c"), 8, 0.1)
    assert a == b
    assert a["customer"] != c["customer"]


def test_seed_moves_layout_not_content(tmp_path):
    import pyarrow.parquet as pq

    datagen.write_inputs(str(tmp_path / "a"), 1, 0.1)
    datagen.write_inputs(str(tmp_path / "b"), 2, 0.1)
    for t in ("customer", "lineitem", "documents"):
        x = pq.read_table(str(tmp_path / "a" / f"{t}.parquet")).to_pandas()
        y = pq.read_table(str(tmp_path / "b" / f"{t}.parquet")).to_pandas()
        key = x.columns[0]
        if t == "lineitem":
            key = ["l_orderkey", "l_linenumber"]
        x = x.sort_values(key).reset_index(drop=True)
        y = y.sort_values(key).reset_index(drop=True)
        assert x.equals(y)


def _intraday(seed):
    import workloads

    ctx = types.SimpleNamespace(spark=None, tracer=Tracer(), work_dir="unused",
                                rng=np.random.default_rng(seed), seed=seed)
    w = workloads.Intraday(ctx)
    w.prospect_ids = list(range(0, 4000, 10))
    return w


def test_same_seed_same_op_stream():
    import workloads

    a, b, c = _intraday(3), _intraday(3), _intraday(4)
    stream_a = [a.plan() for _ in range(3)]
    assert stream_a == [b.plan() for _ in range(3)]
    assert stream_a != [c.plan() for _ in range(3)]
    # the writes first, in their fixed order, then a batch and a trickle probe
    kinds = [k for k, _ in stream_a[0]]
    assert kinds == workloads.Intraday.WRITES + ["batch", "trickle"]
    assert [len(keys) for _, keys in stream_a[0][-2:]] == [
        workloads.Intraday.BATCH, workloads.Intraday.TRICKLE]


# -- the event log of a tiny traced run ----------------------------------
@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    """A traced sf0.001-shaped run: a labelled job, an unlabelled job
    from a driver thread, and one registered query under wrapped layers."""
    import run

    work = str(tmp_path_factory.mktemp("traced"))
    run.pin_environment(work)
    data = os.path.join(work, "data")
    datagen.write_inputs(data, 1, 0.1)
    events = os.path.join(work, "events")
    spark = run.start_session(work, events)
    tracer = Tracer(spark.sparkContext)
    try:
        import layers
        from prod_recommendation_pyspark_spark.queries import QUERIES

        layers.install(tracer)
        tracer.enabled, tracer.unit, tracer.op_id = True, 0, 0
        with tracer.span("op:probe", "op"):
            with tracer.span("outer", "sources.readers"):
                spark.range(10).count()
                t = threading.Thread(target=lambda: spark.range(5).count())
                t.start()
                t.join(timeout=60)
                assert not t.is_alive()
            QUERIES["q1_pricing_summary"](spark, data).toPandas()
        tracer.enabled = False
    finally:
        tracer.uninstall()
        run.stop_session(spark)
    jobs = [j for p in glob.glob(os.path.join(events, "*")) for j in parse_event_log(p)]
    return tracer.spans, jobs


def test_event_log_jobs_carry_task_totals(traced_run):
    _, jobs = traced_run
    assert len(jobs) >= 3
    assert all(j["tasks"] >= 1 for j in jobs)
    assert sum(j["executor_s"] for j in jobs) > 0
    assert any(j["input_b"] > 0 for j in jobs)  # the query scans parquet


def test_every_job_of_the_op_is_attributed(traced_run):
    spans, jobs = traced_run
    op = next(s for s in spans if s["name"] == "op:probe")
    outer = next(s for s in spans if s["name"] == "outer")
    inside = [j for j in jobs if op["start"] <= j["submit"] <= op["end"]]
    owner = attribute_jobs(inside, spans)
    assert all(v is not None for v in owner.values())
    # the labelled job and the thread's job both land in "outer"
    assert sum(1 for v in owner.values() if v == outer["id"]) >= 2


def test_wrapped_layers_record_spans(traced_run):
    spans, _ = traced_run
    from spans import LAYERS

    assert any(s["layer"] in LAYERS and s["name"] != "outer" for s in spans)
    assert all(s["end"] is not None and s["end"] >= s["start"] for s in spans)
