"""Capture `.explain("formatted")` output for named queries into
plans/<tag>/<query>_<suffix>.txt, with each query's registered oracle
SQL next to it as <query>_<suffix>.sql — the optimization-round
evidence files (readable without running Spark) — and compare two
captures modulo the ids and temp dirs Spark and the queries allocate
per run.

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
and prints every query whose plans still differ or that one side lacks;
the ``.sql`` oracle files are paired the same way and compared with
whitespace collapsed.  Exit 0 = every plan and oracle identical, 1 =
any difference, 2 = nothing to compare or a file holds an ``ERROR
building`` line (a failed capture proves nothing).
"""

from __future__ import annotations

import difflib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ERROR_MARK = "ERROR building"

#: Per-run ids in formatted plans — exchange ``[id=N]``, ``plan_id=N``,
#: ``RDD[N]``, expression ids ``#N`` and the random tail of a
#: ``tempfile.mkdtemp`` dir (``/tmp/<prefix><8 chars>``, the landing,
#: sink and artifact dirs of the replay queries) — as (prefix, id,
#: suffix) groups.  Each kind is renumbered by first appearance, so two
#: captures of one plan compare equal while a changed reference (an
#: attribute bound to another column, one RDD read twice vs two RDDs,
#: one temp dir read twice vs two) still differs.  Exchange ids go
#: first: ``[id=#N]`` would otherwise be taken for an expression id.
_ID_PATTERNS = (
    re.compile(r"(\[id=)#?(\d+)(\])"),
    re.compile(r"(plan_id=)(\d+)()"),
    re.compile(r"(RDD\[)(\d+)(\])"),
    re.compile(r"(#)(\d+)()"),
    re.compile(r"(/tmp/[\w-]*?)([a-z0-9_]{8})(/|\]|,|$)"),
)

#: The call site Spark records for a checkpointed RDD
#: (``MapPartitionsRDD[N] at collect at /path/hybrid.py:1080``, ``... at
#: localCheckpoint at <unknown>:0``): which driver frame was on top when
#: the RDD was made — a checkout path and line number, or whichever of
#: two overlapped driver threads won — never part of the plan.
_CALLSITE = re.compile(r"(RDD\[\d+\]) at [^,]+")


def normalize(text: str) -> list[str]:
    """The plan's lines without the capture header (``# <query> @ ...``,
    which names the sf dir and suffix) and with every per-run id
    renumbered in order of first appearance (:data:`_ID_PATTERNS`), RDD
    call sites dropped (:data:`_CALLSITE`)."""
    lines = text.splitlines()
    if lines and lines[0].startswith("# "):
        lines = lines[1:]
    seen: list[dict[str, int]] = [{} for _ in _ID_PATTERNS]
    out = []
    for line in lines:
        line = _CALLSITE.sub(r"\1", line)
        for pat, ids in zip(_ID_PATTERNS, seen):
            line = pat.sub(
                lambda m: f"{m[1]}n{ids.setdefault(m[2], len(ids))}{m[3]}",
                line,
            )
        out.append(line)
    return out


def _collapsed(text: str) -> list[str]:
    """Oracle SQL with every whitespace run collapsed to one space."""
    return [" ".join(text.split())]


def _plans(directory: str, suffix: str, ext: str = "txt") -> dict[str, str]:
    tail = f"_{suffix}.{ext}"
    plans = {}
    for fname in sorted(os.listdir(directory)):
        if fname.endswith(tail):
            with open(os.path.join(directory, fname)) as f:
                plans[fname[: -len(tail)]] = f.read()
    return plans


def diff(dir_a: str, suffix_a: str, dir_b: str, suffix_b: str) -> int:
    """Print each query whose normalized plans or collapsed oracles
    differ; the exit code documented in the module docstring."""
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
    differing = _compare("plan", a, b, normalize, (dir_a, suffix_a), (dir_b, suffix_b))
    oa, ob = _plans(dir_a, suffix_a, "sql"), _plans(dir_b, suffix_b, "sql")
    if oa or ob:
        differing += _compare(
            "oracle", oa, ob, _collapsed, (dir_a, suffix_a), (dir_b, suffix_b)
        )
    return 1 if differing else 0


def _compare(kind: str, a: dict, b: dict, norm, side_a: tuple, side_b: tuple) -> int:
    """Print each name whose ``norm``-ed texts differ or that one side
    lacks, then a total line; returns the number of such names."""
    differing = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            d, sfx = side_a if name not in a else side_b
            print(f"{name}: {kind} missing in {d} ({sfx})")
            differing += 1
            continue
        changed = sum(
            ln[:1] in "+-" and ln[:3] not in ("+++", "---")
            for ln in difflib.unified_diff(
                norm(a[name]), norm(b[name]), lineterm="", n=0
            )
        )
        if changed:
            print(f"{name}: {kind} {changed} lines differ")
            differing += 1
    print(f"{differing} of {len(a.keys() | b.keys())} {kind}s differ")
    return differing


def capture(tag: str, suffix: str, names: list[str]) -> int:
    sys.path.insert(0, ROOT)
    from pyspark.sql import SparkSession

    from prod_recommendation_pyspark_spark.queries import ORACLES, QUERIES

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
        if name in ORACLES:
            with open(os.path.join(out_dir, f"{name}_{suffix}.sql"), "w") as f:
                f.write(ORACLES[name])
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
