"""Once-per-round 10×-scale bench slice: the top-N net-cost queries re-run
at the sf1 fixture, with per-query decade ratios against the committed
sf0.1 run.

Round-11 lesson (verdict item 4): round-over-round comparisons at sf0.1
were polluted by host drift (co-tenant load inflated untouched queries
~25%); a SAME-SESSION sf0.1-vs-sf1 ratio is immune to that — both arms see
the same host, so the ratio isolates the scaling exponent, which is the
number that actually predicts 100 TB behavior. This tool:

1. reads the committed sf0.1 artifact (default BENCH_LOCAL_LAST.json),
2. picks the TOP_N queries by cost (wall − load attribution),
3. re-times those queries at BOTH sf0.1 and the sf1 fixture in one session
   (bench.py's timing core and run order, so session-shared
   derivations attribute to loads exactly like the full bench),
4. writes BENCH_SF1_SLICE.json: per-query sf0.1 cost, sf1 cost, and the
   decade ratio (sf1/sf0.1 at 10× data — ~1× fixed-overhead, ~10× linear,
   >10× needs a named cause in PLANS.md).

Usage: python tools/bench_slice_sf1.py [--top 20] [--reps 2] [--sf01 DIR]
       [--sf1 DIR] [--from BENCH_LOCAL_LAST.json] [--out BENCH_SF1_SLICE.json]
"""

from __future__ import annotations

import argparse
import json
import sys
from functools import partial
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent


def run_subset(
    spark, names: list[str], sf_dir: str, reps: int = 2
) -> dict[str, dict]:
    """Time the named queries at sf_dir with bench.py's cost/load split.

    ``reps`` > 1 keeps the MIN-cost repetition (round-13 change): the
    min is the noise-robust timing estimator — a co-tenant load spike
    inflates a rep, never deflates it — and it also sheds the one-time
    codegen/JIT cost that does not scale with data, which is what a
    decade RATIO should exclude. Session-shared derivations are charged
    to whichever rep first touches them and subtracted as load either
    way, so rep choice does not move cost attribution. All reps are
    recorded (``cost_reps``) so the spread stays visible."""
    from spark_ml_algo_lib_master_tongji_spark import benchlib
    from spark_ml_algo_lib_master_tongji_spark.registry import declared_queries

    reg = declared_queries()
    out: dict[str, dict] = {}
    wanted = set(names)
    unknown = wanted - set(reg)
    if unknown:  # a stale artifact name would otherwise vanish silently
        print(
            f"# WARNING: {len(unknown)} requested names not in the "
            f"registry (renamed/removed since the source artifact?): "
            f"{sorted(unknown)}",
            file=sys.stderr,
        )
    for name in (n for n in reg if n in wanted):  # bench.py's run order
        attempts: list[dict] = []
        for _ in range(max(reps, 1)):
            try:
                wall, load, n_rows, _ = benchlib.timed_run(
                    partial(reg[name], spark, sf_dir)
                )
            except Exception as exc:  # noqa: BLE001 — one bad query, one entry
                attempts = [{"error": f"{type(exc).__name__}: {exc}"[:200]}]
                break
            attempts.append(
                {
                    "wall": round(wall, 2),
                    "load": round(load, 2),
                    "cost": round(wall - load, 2),
                    "rows": n_rows,
                }
            )
        if "error" in attempts[0]:
            out[name] = attempts[0]
            print(f"# {name}@{sf_dir}: ERROR {out[name]['error']}", file=sys.stderr)
            continue
        best = min(attempts, key=lambda a: a["cost"])
        if len(attempts) > 1:
            best = {**best, "cost_reps": [a["cost"] for a in attempts]}
        out[name] = best
        reps_note = (
            f", reps {best['cost_reps']}" if "cost_reps" in best else ""
        )
        print(
            f"# {name}@{Path(sf_dir).name}: cost {best['cost']:.2f}s "
            f"(load {best['load']:.2f}s{reps_note})",
            file=sys.stderr,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default=str(REPO / "testdata_sf1m"))
    ap.add_argument("--from", dest="src", default=str(REPO / "BENCH_LOCAL_LAST.json"))
    ap.add_argument("--out", default=str(REPO / "BENCH_SF1_SLICE.json"))
    args = ap.parse_args()

    src = json.load(open(args.src))
    loads = src.get("loads", {})
    costs = {
        k: v - loads.get(k, 0.0) for k, v in src.get("queries", {}).items()
    }
    top = sorted(costs, key=costs.get, reverse=True)[: args.top]
    print(f"# top-{args.top} net-cost queries from {args.src}", file=sys.stderr)

    import os

    from spark_ml_algo_lib_master_tongji_spark.session import get_session

    # both arms + both SFs' session-shared derivations live in ONE JVM;
    # the default 8g heap OOM'd mid-sf1 on the first run (node2vec walk
    # checkpoint on top of pinned sf0.1 caches killed the executor)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_session(app_name="bench-slice-sf1")
    # same-session warm-up at both SFs so neither arm pays JVM startup
    spark.read.parquet(f"{args.sf01}/lineitem.parquet").count()
    spark.read.parquet(f"{args.sf1}/lineitem.parquet").count()

    def loadavg() -> list[float]:
        # EXTERNAL host load skews even same-session ratios (round-13
        # observation: a co-tenant load spike turned unchanged rows'
        # decade ratios 1.3× → 7.5× between back-to-back runs) — record
        # conditions so a contaminated artifact is recognizable.
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]

    load_start = loadavg()
    at01 = run_subset(spark, top, args.sf01, reps=args.reps)
    # drop the sf0.1 arm's pinned derivation caches before the 10× arm:
    # each arm's loads are timed separately anyway, and JVM/JIT warmth —
    # the thing same-session exists for — survives a storage clear
    spark.catalog.clearCache()
    load_mid = loadavg()
    at1 = run_subset(spark, top, args.sf1, reps=args.reps)

    queries = {}
    for name in top:
        a, b = at01.get(name, {}), at1.get(name, {})
        entry = {"sf0.1": a, "sf1": b}
        if "cost" in a and "cost" in b:
            entry["decade_ratio"] = round(b["cost"] / max(a["cost"], 0.01), 2)
        queries[name] = entry
    doc = {
        "protocol": (
            "same-session sf0.1 vs sf1 (10x rows); cost = wall - first-touch "
            "derivation load, MIN over reps per query (noise-robust, sheds "
            "one-time codegen; all reps in cost_reps); "
            "decade_ratio = sf1_cost / sf0.1_cost"
        ),
        "reps": args.reps,
        "source_artifact": str(args.src),
        "top_n": args.top,
        "queries": queries,
        "total_cost_sf0.1": round(
            sum(v.get("cost", 0.0) for v in at01.values()), 2
        ),
        "total_cost_sf1": round(
            sum(v.get("cost", 0.0) for v in at1.values()), 2
        ),
        "host_loadavg": {
            "at_start": load_start,
            "mid": load_mid,
            "at_end": loadavg(),
            "note": (
                "co-tenant load (1/5/15-min averages; this suite uses up "
                "to 32 cpus itself mid-arm) — ratios from a run whose "
                "start/end load differs by several cores are suspect"
            ),
        },
    }
    Path(args.out).write_text(json.dumps(doc, indent=1, sort_keys=True))
    ratios = [
        v["decade_ratio"] for v in queries.values() if "decade_ratio" in v
    ]
    print(
        f"{len(queries)} queries -> {args.out}; decade ratios "
        f"min/median/max = {min(ratios)}/"
        f"{sorted(ratios)[len(ratios) // 2]}/{max(ratios)}"
        if ratios
        else f"{len(queries)} queries -> {args.out}; no ratios computed"
    )


if __name__ == "__main__":
    main()
