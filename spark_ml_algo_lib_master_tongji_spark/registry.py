"""Query registry: name → callable(spark, sf_dir) → DataFrame.

Single source of truth for the driver contract (``__spark_entry__.queries``)
and the pytest differential suite. Every operator claimed in SURVEY.md §2
appears here; SQL-expressible ones have a matching oracle in ``oracles.py``.

Ordering
--------
The round driver value-checks only the FIRST ``DRIVER_WINDOW`` (50) registry
entries against their DuckDB oracles, and an oracle goes stale when it has
no green (``hash_match``) row in the last ``STALE_AFTER`` rounds. The order
is derived from the committed ``CORRECTNESS_r*.json`` artifacts, never kept
by hand. ``build_registry`` sorts by:

1. oracles never green, then oracles at or past the staleness bound for
   the upcoming round, oldest green first (never green counts as oldest);
2. ``CHANGED``: rows whose computation the current change rewrites;
3. every other oracle, oldest green first;
4. queries without an oracle, last.

Ties break by name. Overflow rule: when more than ``DRIVER_WINDOW`` oracles
are obligated (tier 1), the oldest take the window and the rest fall just
behind it, where ``tools/rotation_audit.py`` reports them in
``missing_from_window`` — nothing is dropped silently.

``declared_queries`` keeps module declaration order; ``bench.py`` runs in
that fixed order so its per-query load attribution does not move when the
window rotates.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from spark_ml_algo_lib_master_tongji_spark.operators import (
    dedup,
    density,
    graph,
    graph_extra,
    knn,
    ml_estimators,
    ml_exact,
    relational,
    similarity,
    simrank,
    stats,
    text_analysis,
)
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

QueryFn = Callable[[SparkSession, str], DataFrame]

#: how many leading registry entries the round driver value-checks.
DRIVER_WINDOW = 50
#: rounds an oracle may go without a green CORRECTNESS row.
STALE_AFTER = 3
#: rows whose computation the current change rewrites; they follow the
#: obligated oracles into the window. Empty unless a change needs it.
CHANGED: tuple[str, ...] = (
    "graph_connected_components",
    "graph_edges",
    "graph_kcore",
    "graph_label_propagation",
    "graph_modularity",
)

REPO = Path(__file__).resolve().parent.parent


def _wrap(fn: Callable[[Catalog], DataFrame]) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(Catalog(spark, sf_dir))

    return run


def declared_queries() -> dict[str, QueryFn]:
    """name → wrapped callable for every registered query, in module
    declaration order."""
    from spark_ml_algo_lib_master_tongji_spark.multimodal import media
    from spark_ml_algo_lib_master_tongji_spark.operators import ml_extra
    from spark_ml_algo_lib_master_tongji_spark.streaming import pipeline

    out: dict[str, QueryFn] = {}
    catalog_modules = (
        relational,
        stats,
        text_analysis,
        dedup,
        similarity,
        graph,
        ml_exact,
        ml_estimators,
        density,
        simrank,
        graph_extra,
        knn,
        ml_extra,
        media,
    )
    for mod, names in ((m, getattr(m, "QUERIES")) for m in catalog_modules):
        for name in names:
            out[name] = _wrap(getattr(mod, name))
    for name in pipeline.QUERIES:  # already (spark, sf_dir) shaped
        out[name] = getattr(pipeline, name)
    return out


def freshest_green(repo: Path = REPO) -> tuple[dict[str, int], int]:
    """oracle → latest round with a hash_match row; plus the upcoming
    round number (max committed CORRECTNESS round + 1)."""
    latest: dict[str, int] = {}
    rounds = []
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        try:
            doc = json.loads(p.read_text())
        except Exception:  # noqa: BLE001 — a corrupt artifact isn't evidence
            continue
        for name, row in doc.items():
            if isinstance(row, dict) and row.get("hash_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, (max(rounds) + 1 if rounds else 1)


def build_registry(repo: Path = REPO) -> dict[str, QueryFn]:
    """Registry in driver-priority order (module docstring), derived from
    the CORRECTNESS artifacts under ``repo``."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles

    queries = declared_queries()
    unknown = sorted(set(CHANGED) - set(queries))
    if unknown:
        raise ValueError(f"CHANGED names no registered query: {unknown}")
    oracles = set(all_oracles())
    latest, upcoming = freshest_green(repo)

    def key(name: str) -> tuple[int, int, str]:
        green = latest.get(name, 0)  # never green sorts as oldest
        if name in oracles and green <= upcoming - STALE_AFTER:
            return 0, green, name
        if name in CHANGED:
            return 1, 0, name
        if name in oracles:
            return 2, green, name
        return 3, 0, name

    return {name: queries[name] for name in sorted(queries, key=key)}
