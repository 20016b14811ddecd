"""Tracing for the traced run: spans and counters recorded from this
benchmark's own files, around the calls it makes into each engine layer.

* Spans (name, start, end, parent) are kept in memory and written into the
  run artifact at exit.
* ``iterative.*`` counters come from a wrapper installed around
  ``plans.iterative.iterate`` as bound in the modules that call it; each
  call to the loop's step function is one round.
* ``derive.builds`` counts outermost ``benchlib.load_timer`` regions — one
  per session-shared derivation build.
* Spark counters (jobs, stages, tasks, executor time, shuffle/spill/input
  bytes, Python worker bytes) are read from Spark's REST API on the live
  UI after each pass, grouped by the job group the benchmark sets for each
  query.

Nothing here is installed for untraced passes.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import re
import threading
import time
import urllib.request
from collections import Counter

#: modules whose module-level ``iterate`` binding is wrapped
ITERATE_USERS = (
    "spark_ml_algo_lib_master_tongji_spark.operators.graph",
    "spark_ml_algo_lib_master_tongji_spark.operators.graph_extra",
    "spark_ml_algo_lib_master_tongji_spark.operators.density",
)
_BENCHLIB = "spark_ml_algo_lib_master_tongji_spark.benchlib"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "start": round(time.perf_counter() - self.t0, 6),
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = round(time.perf_counter() - self.t0, 6)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        for modname in ITERATE_USERS:
            mod = importlib.import_module(modname)
            self._patch(mod, "iterate", self._wrap_iterate(mod.iterate))
        benchlib = importlib.import_module(_BENCHLIB)
        self._patch(benchlib, "load_timer", self._wrap_load_timer(benchlib.load_timer))

    def uninstall(self) -> None:
        while self._patched:
            obj, attr, orig = self._patched.pop()
            setattr(obj, attr, orig)

    def _patch(self, obj, attr: str, new) -> None:
        self._patched.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def _wrap_iterate(self, orig):
        tracer = self

        def iterate(state, step, *args, **kwargs):
            rounds = 0

            def counted(s, i):
                nonlocal rounds
                rounds += 1
                return step(s, i)

            depth = getattr(tracer._local, "iter_depth", 0)
            tracer._local.iter_depth = depth + 1
            t0 = time.perf_counter()
            try:
                with tracer.span("iterative.iterate") as rec:
                    out = orig(state, counted, *args, **kwargs)
                    rec["rounds"] = rounds
                    return out
            finally:
                tracer._local.iter_depth = depth
                tracer.count("iterative.loops")
                tracer.count("iterative.rounds", rounds)
                if depth == 0:
                    tracer.count("iterative.s", time.perf_counter() - t0)

        return iterate

    def _wrap_load_timer(self, orig):
        tracer = self

        @contextlib.contextmanager
        def load_timer(name: str):
            depth = getattr(tracer._local, "load_depth", 0)
            tracer._local.load_depth = depth + 1
            try:
                if depth:
                    with orig(name):
                        yield
                else:
                    with tracer.span("derive.build", derivation=name), orig(name):
                        yield
                    tracer.count("derive.builds")
            finally:
                tracer._local.load_depth = depth

        return load_timer


# -- Spark REST API -----------------------------------------------------------

_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_SCALE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_MB = 1e6


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def _size_bytes(text: str) -> float:
    """Total of a Spark SQL size metric ('1.5 KiB' or the multi-line
    'total (min, med, max ...)\\n1.5 KiB (...)' form)."""
    line = text.split("\n", 1)[-1]
    m = _SIZE.search(line)
    return float(m.group(1)) * _SCALE[m.group(2)] if m else 0.0


def spark_counters(sc) -> dict:
    """Per-pass Spark counters for the live SparkContext, read once every
    listener event of the pass has been processed."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    port = sc.uiWebUrl.rsplit(":", 1)[-1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(base, "/jobs")
    stages = _get(base, "/stages")
    execs = _get(base, "/sql?details=true&planDescription=false&length=100000")
    out = Counter()
    per_query: dict[str, Counter] = {}
    stage_group: dict[int, str] = {}
    for j in jobs:
        group = j.get("jobGroup") or "?"
        q = per_query.setdefault(group, Counter())
        q["jobs"] += 1
        for sid in j["stageIds"]:
            stage_group.setdefault(sid, group)
    for s in stages:
        if s["status"] != "COMPLETE":
            continue
        q = per_query.setdefault(stage_group.get(s["stageId"], "?"), Counter())
        q["stages"] += 1
        q["tasks"] += s["numCompleteTasks"]
        q["run_s"] += s["executorRunTime"] / 1e3
        q["cpu_s"] += s["executorCpuTime"] / 1e9
        q["gc_s"] += s["jvmGcTime"] / 1e3
        q["input_mb"] += s["inputBytes"] / _MB
        q["shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
        q["shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
        q["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / _MB
    job_group = {j["jobId"]: j.get("jobGroup") or "?" for j in jobs}
    for e in execs:
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        q = per_query.setdefault(job_group.get(ids[0], "?") if ids else "?", Counter())
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] == "data sent to Python workers":
                    q["python_sent_mb"] += _size_bytes(m["value"]) / _MB
                elif m["name"] == "data returned from Python workers":
                    q["python_recv_mb"] += _size_bytes(m["value"]) / _MB
    for q in per_query.values():
        out.update(q)
    out["sql_executions"] = len(execs)
    return {"totals": dict(out), "per_query": {k: dict(v) for k, v in per_query.items()}}
