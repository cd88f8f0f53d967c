"""Capture `.explain("formatted")` output for named queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence
files (the judge reads these instead of running Spark) — and compare
two captures modulo the ids Spark allocates per run.

Usage:
  python scripts/capture_plans.py <tag> <suffix> [query ...]
  python scripts/capture_plans.py diff <dir_a> <suffix_a> <dir_b> <suffix_b>

Capture defaults: all bench HEADLINE queries, sf dir from
$SPARK_GRAFT_SF_DIR (plan shape is sf-independent; default sf0.01 keeps
any plan-build-time probes cheap).  A query whose plan fails to build
still gets its file (holding the ``ERROR building`` line), and the
capture exits 1.

``diff`` pairs ``<query>_<suffix_a>.txt`` in dir_a with
``<query>_<suffix_b>.txt`` in dir_b, normalizes both (:func:`normalize`)
and prints every query whose plans still differ or that one side lacks.
Exit 0 = every plan identical, 1 = any difference, 2 = nothing to
compare or a file holds an ``ERROR building`` line (a failed capture
proves nothing).
"""

from __future__ import annotations

import difflib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ERROR_MARK = "ERROR building"

#: Per-run ids in formatted plans — exchange ``[id=N]``, ``plan_id=N``,
#: ``RDD[N]`` and expression ids ``#N`` — as (prefix, id, suffix)
#: groups.  Each kind is renumbered by first appearance, so two
#: captures of one plan compare equal while a changed reference (an
#: attribute bound to another column, one RDD read twice vs two RDDs)
#: still differs.  Exchange ids go first: ``[id=#N]`` would otherwise
#: be taken for an expression id.
_ID_PATTERNS = (
    re.compile(r"(\[id=)#?(\d+)(\])"),
    re.compile(r"(plan_id=)(\d+)()"),
    re.compile(r"(RDD\[)(\d+)(\])"),
    re.compile(r"(#)(\d+)()"),
)


def normalize(text: str) -> list[str]:
    """The plan's lines without the capture header (``# <query> @ ...``,
    which names the sf dir and suffix) and with every per-run id
    renumbered in order of first appearance (:data:`_ID_PATTERNS`)."""
    lines = text.splitlines()
    if lines and lines[0].startswith("# "):
        lines = lines[1:]
    seen: list[dict[str, int]] = [{} for _ in _ID_PATTERNS]
    out = []
    for line in lines:
        for pat, ids in zip(_ID_PATTERNS, seen):
            line = pat.sub(
                lambda m: f"{m[1]}n{ids.setdefault(m[2], len(ids))}{m[3]}",
                line,
            )
        out.append(line)
    return out


def _plans(directory: str, suffix: str) -> dict[str, str]:
    tail = f"_{suffix}.txt"
    plans = {}
    for fname in sorted(os.listdir(directory)):
        if fname.endswith(tail):
            with open(os.path.join(directory, fname)) as f:
                plans[fname[: -len(tail)]] = f.read()
    return plans


def diff(dir_a: str, suffix_a: str, dir_b: str, suffix_b: str) -> int:
    """Print each query whose normalized plans differ; the exit code
    documented in the module docstring."""
    a, b = _plans(dir_a, suffix_a), _plans(dir_b, suffix_b)
    if not a and not b:
        print(f"no plans: neither side has a *_{suffix_a}/_{suffix_b}.txt file")
        return 2
    failed = [
        f"{d}/{name}_{sfx}.txt"
        for plans, d, sfx in ((a, dir_a, suffix_a), (b, dir_b, suffix_b))
        for name, text in plans.items()
        if _ERROR_MARK in text
    ]
    if failed:
        for path in failed:
            print(f"refused: {path} holds an '{_ERROR_MARK}' line")
        return 2
    differing = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            side = f"{dir_a} ({suffix_a})" if name not in a else f"{dir_b} ({suffix_b})"
            print(f"{name}: missing in {side}")
            differing += 1
            continue
        changed = sum(
            ln[:1] in "+-" and ln[:3] not in ("+++", "---")
            for ln in difflib.unified_diff(
                normalize(a[name]), normalize(b[name]), lineterm="", n=0
            )
        )
        if changed:
            print(f"{name}: {changed} lines differ")
            differing += 1
    total = len(a.keys() | b.keys())
    print(f"{differing} of {total} plans differ")
    return 1 if differing else 0


def capture(tag: str, suffix: str, names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from prod_recommendation_pyspark_spark.queries import QUERIES

    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in QUERIES]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    failed = []
    for name in names:
        try:
            plan = (
                QUERIES[name](spark, sf)._jdf.queryExecution().explainString(mode)
            )
        except Exception as exc:
            plan = f"{_ERROR_MARK} {name}: {exc}"
            failed.append(name)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf} ({suffix})\n")
            f.write(plan)
        shuffles = sum(
            "Exchange" in ln and "Broadcast" not in ln
            for ln in plan.splitlines()
        )
        print(f"{name}: wrote {path} (non-broadcast exchanges: {shuffles})")
    spark.stop()
    if failed:
        print(f"{len(failed)} plan(s) failed to build: {', '.join(failed)}")
        return 1
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["diff"]:
        if len(argv) != 5:
            print(__doc__)
            return 2
        return diff(*argv[1:])
    tag = argv[0] if argv else "r15"
    suffix = argv[1] if len(argv) > 1 else "before"
    return capture(tag, suffix, argv[2:])


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
