"""Tooling guard: every ``tools/*.py`` module imports cleanly without
starting Spark, so a helper folded into another module cannot leave a
dangling import behind (e.g. a tool still importing a deleted comparator).
Runs in a fresh interpreter — the suite's own session must not mask a JVM
launched at import time."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted(p.stem for p in (REPO / "tools").glob("*.py"))


def test_every_tool_imports_without_spark():
    assert TOOLS, "no tools found"
    code = (
        "import importlib\n"
        f"for name in {TOOLS!r}:\n"
        "    importlib.import_module('tools.' + name)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None, 'a tool started a JVM'\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
