"""Plan identity as one command: ``scripts/capture_plans.py``'s
normalizer and ``diff`` mode, checked on committed captures (text
only, no Spark).

plans/r18's before/after pairs are one plan captured twice (ids
differ only); its ``_after_guard`` file adds the in-plan dim guard to
``peer_search_fulldim_probe_parity``; plans/r17's probe-parity pair is
a real plan rewrite (the one-exchange probe fetch)."""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "capture_plans.py")
R17 = os.path.join(ROOT, "plans", "r17")
R18 = os.path.join(ROOT, "plans", "r18")

_spec = importlib.util.spec_from_file_location("capture_plans", SCRIPT)
capture_plans = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(capture_plans)


def _normalized(directory: str, name: str) -> list[str]:
    with open(os.path.join(directory, f"{name}.txt")) as f:
        return capture_plans.normalize(f.read())


def test_same_plan_captured_twice_normalizes_equal():
    before = os.path.join(R18, "peer_search_rank_window_topk_before.txt")
    after = os.path.join(R18, "peer_search_rank_window_topk_after.txt")
    with open(before) as f, open(after) as g:
        assert f.read() != g.read()  # raw captures differ in their ids
    assert _normalized(R18, "peer_search_rank_window_topk_before") == (
        _normalized(R18, "peer_search_rank_window_topk_after")
    )


def test_in_plan_dim_guard_is_a_difference():
    assert _normalized(R18, "peer_search_fulldim_probe_parity_after") != (
        _normalized(R18, "peer_search_fulldim_probe_parity_after_guard")
    )


def test_probe_fetch_rewrite_is_a_difference():
    for name in ("peer_search_probe_parity", "peer_search_fulldim_probe_parity"):
        assert _normalized(R17, f"{name}_before") != _normalized(
            R17, f"{name}_after"
        )


def test_renumbering_keeps_which_id_is_which():
    a = "# q @ sf (a)\nProject [x#7, y#9], RDD[3], [id=#12], plan_id=40\n"
    b = "# q @ sf (b)\nProject [x#20, y#21], RDD[5], [id=#2], plan_id=1\n"
    swapped = "# q @ sf (b)\nProject [x#21, y#21], RDD[5], [id=#2], plan_id=1\n"
    assert capture_plans.normalize(a) == capture_plans.normalize(b) == [
        "Project [x#n0, y#n1], RDD[n0], [id=n0], plan_id=n0"
    ]
    assert capture_plans.normalize(a) != capture_plans.normalize(swapped)


def _run_diff(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, SCRIPT, "diff", *args],
        capture_output=True, text=True, timeout=120,
    )


def test_diff_exit_codes():
    same = _run_diff(R18, "before", R18, "after")
    assert same.returncode == 0, same.stdout
    assert "0 of 6 plans differ" in same.stdout

    changed = _run_diff(R17, "before", R17, "after")
    assert changed.returncode == 1
    assert "peer_search_probe_parity:" in changed.stdout
    assert "peer_search_fulldim_probe_parity:" in changed.stdout


def test_diff_refuses_failed_captures(tmp_path):
    """Two failed captures hold the same error text; they must not
    pass as identical plans."""
    for suffix in ("before", "after"):
        (tmp_path / f"q_{suffix}.txt").write_text(
            f"# q @ sf ({suffix})\nERROR building q: boom"
        )
    shutil.copy(
        os.path.join(R18, "peer_search_rank_window_topk_before.txt"), tmp_path
    )
    shutil.copy(
        os.path.join(R18, "peer_search_rank_window_topk_after.txt"), tmp_path
    )
    out = _run_diff(str(tmp_path), "before", str(tmp_path), "after")
    assert out.returncode == 2
    assert "refused" in out.stdout and "q_before.txt" in out.stdout


def test_diff_refuses_an_empty_comparison(tmp_path):
    out = _run_diff(str(tmp_path), "before", str(tmp_path), "after")
    assert out.returncode == 2 and "no plans" in out.stdout
