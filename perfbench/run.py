"""Batch-client benchmark of the engine's registered queries.

One closed-loop client sends one query at a time to ``local[<cpus>]`` using
only the engine's public entry points: ``session.get_session``, the registry's
query callables and ``benchlib.materialize``. A run is:

1. set-up: imports, JVM launch and ``get_session()``, then a warm-up pass
   whose outputs are checked against the DuckDB oracles. ``setup_s`` runs
   from process start to the end of the warm-up pass, less the time spent
   in the host calibration loop and in collecting outputs for the check;
2. timed passes for ``--seconds`` (at least three). Each pass starts a fresh
   SparkContext in the same JVM, so the session-shared derivation caches are
   rebuilt every pass (the reference's per-job loadDataTime) while JIT stays
   warm. Every pass must reproduce the warm-up's row counts.

With ``--trace 1`` the timed passes run untraced and traced in ABBA order
(at least four); the traced ones record spans and per-layer counters (see
``tracing.py``), and the tracing overhead is the traced minus the untraced
median pass time.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). The full artifact — every pass, every query, host conditions and
spans — is written to ``perfbench/.work/artifacts/``.

Usage: python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: byte-identical copies of the project's read-only sf0.001 test fixtures
#: (TESTDATA.md, seed 42); the run seed only permutes the query order, so
#: oracle results stay cacheable per checkout
SF = 0.001
DATA_DIR = HERE / "fixtures" / f"sf{SF}"
DRIVER_MEM = "2g"


def _prepare_env(cpus: int) -> None:
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # initial heap = max heap: a growing heap makes pass times fall for many
    # passes (GC pressure easing), which would look like a warm-up trend
    env["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(tmp)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["TZ"] = "UTC"
    time.tzset()


class Engine:
    """The engine's public entry points plus JVM lifecycle control."""

    def __init__(self) -> None:
        sys.path.insert(0, str(ROOT))
        from spark_ml_algo_lib_master_tongji_spark import benchlib, oracles, session
        from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

        self.benchlib = benchlib
        self.session = session
        self.registry = build_registry()
        self.oracles = oracles.all_oracles()
        self.spark = None

    def cold_start(self) -> float:
        """Launch a JVM and build the session; returns seconds."""
        t0 = time.perf_counter()
        self.spark = self.session.get_session()
        return time.perf_counter() - t0

    def restart(self) -> tuple[float, float]:
        """Fresh SparkContext in the same JVM → (stop_s, get_session_s)."""
        t0 = time.perf_counter()
        self.spark.stop()
        t1 = time.perf_counter()
        self.spark = self.session.get_session()
        return t1 - t0, time.perf_counter() - t1

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _injected_failure(spark, sf_dir):
    raise RuntimeError("injected failure (self-test)")


def run_pass(eng: Engine, names, data_dir: str, tracer=None, check_outputs=False):
    """One pass over ``names``; per-query latency split into the query
    callable (build) and ``benchlib.materialize``."""
    def span(name, **kw):
        return tracer.span(name, **kw) if tracer else nullcontext()

    sc = eng.spark.sparkContext
    queries: dict[str, dict] = {}
    load0 = eng.benchlib.load_seconds()
    excluded = 0.0  # collecting outputs for the check is not timed
    t_pass = time.perf_counter()
    with span("pass"):
        for name in names:
            sc.setJobGroup(name, name)
            load_q = eng.benchlib.load_seconds()
            t0 = time.perf_counter()
            try:
                with span("query", query=name):
                    with span("operators.build"):
                        df = eng.registry[name](eng.spark, data_dir)
                    t1 = time.perf_counter()
                    with span("benchlib.materialize"):
                        rows = eng.benchlib.materialize(df)
                t2 = time.perf_counter()
                load = eng.benchlib.load_seconds() - load_q
                rec = {"latency_s": t2 - t0, "build_s": t1 - t0, "materialize_s": t2 - t1,
                       "load_s": load, "cost_s": t2 - t0 - load, "rows": rows}
                if check_outputs:
                    got = [tuple(r) for r in df.collect()]
                    rec["fingerprint"] = check.fingerprint(list(df.columns), got)
                    excluded += time.perf_counter() - t2
            except Exception as exc:  # noqa: BLE001 — one failed query must not end the run
                traceback.print_exc(file=sys.stderr)
                rec = {"latency_s": time.perf_counter() - t0,
                       "error": f"{type(exc).__name__}: {exc}"[:500]}
            queries[name] = rec
    sc.setJobGroup("perfbench", "between queries")
    return {
        "wall_s": time.perf_counter() - t_pass - excluded,
        "collect_s": excluded,
        "load_s": eng.benchlib.load_seconds() - load0,
        "queries": queries,
    }


def _median(xs):
    return statistics.median(xs) if xs else None


def measure(eng: Engine, order, data_dir: Path, digest: str, seconds: float, tracer,
            host_s: float):
    """Set-up with the checked warm-up pass, then the timed passes;
    ``host_s`` (the start calibration loop) is left out of ``setup_s``."""
    cold_start_s = eng.cold_start()
    sc = eng.spark.sparkContext
    versions = {
        "spark": eng.spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
    }
    failed = 0
    attempted = 0

    # -- warm-up pass, output checks -------------------------------------------
    warm = run_pass(eng, order, str(data_dir), check_outputs=True)
    setup_s = time.perf_counter() - T_PROCESS - host_s - warm["collect_s"]
    oracle = check.OracleCheck(data_dir, digest, WORK / "oracle-cache")
    verdicts: dict[str, str] = {}
    t_check = time.perf_counter()
    try:
        for name, rec in warm["queries"].items():
            attempted += 1
            if "error" in rec:
                failed += 1
                verdicts[name] = "ERROR " + rec["error"]
            elif name in eng.oracles:
                verdicts[name] = check.compare(rec.pop("fingerprint"),
                                               oracle.expected(eng.oracles[name]))
                failed += verdicts[name] != "MATCH"
            else:
                rec.pop("fingerprint", None)
                verdicts[name] = "rows-only"
    finally:
        oracle.close()
    check_s = time.perf_counter() - t_check
    warm_rows = {n: r.get("rows") for n, r in warm["queries"].items()}

    # -- timed passes -------------------------------------------------------------
    passes = []
    measured = 0.0
    need = 4 if tracer else 3
    while True:
        stop_s, start_s = eng.restart()
        # untraced/traced in ABBA order, so the warm-up trend cancels out
        traced = bool(tracer) and len(passes) % 4 in (1, 2)
        if traced:
            counts0 = dict(tracer.counts)
            tracer.install()
        try:
            p = run_pass(eng, order, str(data_dir), tracer if traced else None)
        finally:
            if traced:
                tracer.uninstall()
        p.update(stop_s=stop_s, get_session_s=start_s, traced=traced)
        if traced:
            p["counts"] = {k: v - counts0.get(k, 0) for k, v in tracer.counts.items()}
            p["spark"] = tracing.spark_counters(eng.spark.sparkContext)
        for name, rec in p["queries"].items():
            attempted += 1
            if "error" in rec:
                failed += 1
            elif rec["rows"] != warm_rows[name]:
                failed += 1
                rec["error"] = f"row count {rec['rows']} != warm-up {warm_rows[name]}"
        passes.append(p)
        measured += stop_s + start_s + p["wall_s"]
        if len(passes) >= need and measured + _median([q["wall_s"] for q in passes]) > seconds:
            break

    return {
        "setup_s": setup_s, "cold_start_s": cold_start_s, "versions": versions,
        "warm": warm, "verdicts": verdicts, "check_s": check_s,
        "passes": passes, "attempted": attempted, "failed": failed,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="engine batch benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail", action="store_true",
                    help="add a query that raises (benchmark self-test)")
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    hostrec = host.HostRecord()
    host_s = time.perf_counter() - t0
    cpus = host.cpus()
    _prepare_env(cpus)
    try:
        eng = Engine()
    except ImportError as exc:
        print(f"perfbench: engine not importable under {ROOT}: {exc}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    missing = [q for q in wl.queries if q not in eng.registry]
    if missing:
        print(f"perfbench: queries not registered: {missing}", file=sys.stderr)
        return 2
    order = wl.order(args.seed)
    if args.inject_fail:
        eng.registry = {**eng.registry, "inject_fail": _injected_failure}
        order.insert(args.seed % (len(order) + 1), "inject_fail")

    digest = check.digest(DATA_DIR)

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()

    try:
        m = measure(eng, order, DATA_DIR, digest, args.seconds, tracer, host_s)
    finally:
        eng.shutdown()
    warm, verdicts, passes = m["warm"], m["verdicts"], m["passes"]
    attempted, failed = m["attempted"], m["failed"]

    # -- metrics ------------------------------------------------------------------
    untraced = [p for p in passes if not p["traced"]]
    costs = [r["cost_s"] for p in untraced for r in p["queries"].values() if "error" not in r]
    checked = [v for v in verdicts.values() if v != "rows-only"]
    n_match = sum(v == "MATCH" for v in checked)
    pass_s = _median([p["wall_s"] for p in untraced])
    end_to_end = {
        "setup_s": (m["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
    }
    per_layer = {}
    if tracer:
        per_layer = layer_metrics(passes, cpus, m, len(checked), n_match)
    traced_walls = [p["wall_s"] for p in passes if p["traced"]]
    # traced minus untraced median pass time: a difference of two medians,
    # so it can read 0 or below; reported, not a metric
    overhead_s = _median(traced_walls) - pass_s if traced_walls else None
    metrics = per_layer if tracer else end_to_end

    art = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "trace": args.trace,
        "order": order,
        "sf": SF,
        "data_digest": digest,
        "cpus": cpus,
        "host_calibration_s": host_s,
        "cold_start_s": m["cold_start_s"],
        "warmup": warm,
        "oracle_check_s": m["check_s"],
        "verdicts": verdicts,
        "passes": passes,
        "cost_samples": len(costs),
        "query_cost_p50_s": _median(costs),
        "query_cost_s": {n: _median([p["queries"][n].get("cost_s") for p in untraced
                                     if "error" not in p["queries"][n]])
                         for n in order},
        "fail_frac": failed / attempted if attempted else None,
        "trace_overhead_s": overhead_s,
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
        "per_layer": {k: v for k, (v, _) in per_layer.items()},
        "host": hostrec.finish(m["versions"], ROOT),
    }
    if tracer:
        art["spans"] = tracer.spans
    art_dir = WORK / "artifacts"
    art_dir.mkdir(parents=True, exist_ok=True)
    art_path = art_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    art_path.write_text(json.dumps(art, indent=1, default=str))

    h = art["host"]
    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} cpus={cpus} "
          f"passes={len(passes)} cost_samples={len(costs)} "
          f"steal_cpus={h['steal_cpus']} calibration_drift={h['calibration_drift']} "
          f"artifact={art_path.relative_to(ROOT)}")
    bad = {n: v for n, v in verdicts.items() if v not in ("MATCH", "rows-only")}
    print(f"# oracle: {n_match}/{len(checked)} MATCH; fail_frac={art['fail_frac']:.4f}"
          + (f"; mismatches={bad}" if bad else ""))
    if tracer:
        print(f"# trace_overhead_s = {overhead_s} s (traced - untraced median pass)")
    for name, (value, unit) in metrics.items():
        print(f"# {name} = {value} {unit}")
    correct = failed == 0 and n_match == len(checked)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def layer_metrics(passes, cpus, m, n_checked, n_match) -> dict:
    """Per-layer metrics: medians over traced passes, plus the oracle
    tallies. They carry no bound, so a layer the workload bypasses reads 0."""
    traced = [p for p in passes if p["traced"]]

    def med(fn):
        return _median([fn(p) for p in traced])

    def qsum(p, key):
        return sum(r.get(key, 0.0) for r in p["queries"].values())

    def spark(key):
        return med(lambda p: p["spark"]["totals"].get(key, 0))

    def count(key):
        return med(lambda p: p["counts"].get(key, 0))

    return {
        "session.cold_start_s": (m["cold_start_s"], "s"),
        "session.start_s": (_median([p["get_session_s"] for p in passes]), "s"),
        "warmup.pass_s": (m["warm"]["wall_s"], "s"),
        "operators.build_s": (med(lambda p: qsum(p, "build_s")), "s"),
        "benchlib.materialize_s": (med(lambda p: qsum(p, "materialize_s")), "s"),
        "derive.load_s": (med(lambda p: p["load_s"]), "s"),
        "derive.builds": (count("derive.builds"), "count"),
        "iterative.loops": (count("iterative.loops"), "count"),
        "iterative.rounds": (count("iterative.rounds"), "count"),
        "iterative.s": (count("iterative.s"), "s"),
        "spark.jobs": (spark("jobs"), "count"),
        "spark.stages": (spark("stages"), "count"),
        "spark.tasks": (spark("tasks"), "count"),
        "exec.run_s": (spark("run_s"), "s"),
        "exec.cpu_s": (spark("cpu_s"), "s"),
        "exec.gc_s": (spark("gc_s"), "s"),
        "exec.slot_util": (med(lambda p: p["spark"]["totals"].get("run_s", 0.0)
                               / (cpus * p["wall_s"])), "ratio"),
        "shuffle.read_mb": (spark("shuffle_read_mb"), "MB"),
        "shuffle.write_mb": (spark("shuffle_write_mb"), "MB"),
        "sources.input_mb": (spark("input_mb"), "MB"),
        "python.sent_mb": (spark("python_sent_mb"), "MB"),
        "python.recv_mb": (spark("python_recv_mb"), "MB"),
        "oracle.checked": (n_checked, "count"),
        "oracle.match": (n_match, "count"),
    }


if __name__ == "__main__":
    sys.exit(main())
