"""Fast self-test of the benchmark itself (not of the engine).

Runs ``run.py`` twice on one workload with the shortest measurement window:

1. untraced, with an injected failing query: every end-to-end metric of
   ``BENCHMARK.json`` prints with its unit, the failure is counted
   (``failed`` > 0, so fail_frac > 0), ``correct`` is false and the exit
   code is non-zero;
2. traced: every per-layer metric prints with its unit, the run is correct,
   and ``spark.jobs``/``spark.stages``/``spark.tasks``/``iterative.rounds``
   repeat exactly between the traced passes.

Usage: python3 perfbench/selftest.py
Exits 0 when every check holds; prints each failed check otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: the workload with both Spark jobs and iterative rounds to compare
WORKLOAD = "graph_iter"


def _run(trace: int, inject: bool) -> tuple[int, dict, list[str]]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if inject:
        cmd.append("--inject-fail")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        print(proc.stderr[-3000:], file=sys.stderr)
    result = json.loads(lines[-1]) if lines else {}
    return proc.returncode, result, lines


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    def units_match(result: dict, wanted: list[dict], kind: str) -> None:
        got = result.get("metrics", {})
        for m in wanted:
            rec = got.get(m["name"], {})
            expect(rec.get("unit") == m["unit"] and isinstance(rec.get("value"), (int, float)),
                   f"{kind} metric {m['name']} prints with unit {m['unit']}")

    code, result, _ = _run(trace=0, inject=True)
    units_match(result, spec["end_to_end"], "end-to-end")
    expect(result.get("failed", 0) > 0 and result.get("attempted", 0) > 0,
           f"injected failure counted (failed={result.get('failed')}, "
           f"attempted={result.get('attempted')})")
    expect(result.get("correct") is False and code != 0,
           f"injected failure makes the run incorrect (exit {code})")

    code, result, _ = _run(trace=1, inject=False)
    units_match(result, spec["per_layer"], "per-layer")
    expect(code == 0 and result.get("correct") is True, f"traced run correct (exit {code})")
    art = json.loads((HERE / ".work" / "artifacts"
                      / f"{WORKLOAD}-seed7-trace1.json").read_text())
    traced = [p for p in art["passes"] if p["traced"]]
    expect(len(traced) >= 2, f"{len(traced)} traced passes")
    for key in ("jobs", "stages", "tasks"):
        vals = [p["spark"]["totals"].get(key) for p in traced]
        expect(len(set(vals)) == 1, f"spark.{key} repeats across passes: {vals}")
    rounds = [p["counts"].get("iterative.rounds", 0) for p in traced]
    expect(len(set(rounds)) == 1, f"iterative.rounds repeats across passes: {rounds}")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
