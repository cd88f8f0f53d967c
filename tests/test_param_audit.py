"""``scripts/param_audit.py`` on a two-function fixture: source text
only, no Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "param_audit.py",
)


def test_param_audit_counts_and_unset_parameters(tmp_path):
    mod = tmp_path / "ops.py"
    mod.write_text(textwrap.dedent('''
        def blend(a, b, w=0.5, *, clip=None, trace=False):
            return a

        def _helper(x, y=1):
            return x

        def widen(df, pad=0):
            return df
    '''))
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "caller.py").write_text(textwrap.dedent('''
        import ops
        from ops import blend

        blend(1, 2, 0.25)
        ops.blend(1, 2, clip=3)
        _helper(1)
    '''))
    out = subprocess.run(
        [sys.executable, SCRIPT, str(mod), "--callers", str(pkg)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out == [
        f"{mod}: 7 public parameters in 2 public functions",
        "  blend(trace=): set by no caller",
        "  widen: uncalled",
    ]


def test_param_audit_counts_a_splat_as_setting_every_keyword(tmp_path):
    mod = tmp_path / "ops.py"
    mod.write_text("def blend(a, w=0.5, *, clip=None):\n    return a\n")
    caller = tmp_path / "caller.py"
    caller.write_text("kw = {}\nblend(1, **kw)\n")
    out = subprocess.run(
        [sys.executable, SCRIPT, str(mod), "--callers", str(caller)],
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out == [f"{mod}: 3 public parameters in 1 public functions"]
