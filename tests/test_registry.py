"""Registry contract tests — no SparkSession needed, so these run in <1s.

The registry order is derived from the committed CORRECTNESS_r*.json
artifacts (``registry.build_registry``); these tests pin that derivation on
synthetic artifacts and check the committed window against the staleness
contract.
"""

from __future__ import annotations

import json

import pytest

from spark_ml_algo_lib_master_tongji_spark import registry
from spark_ml_algo_lib_master_tongji_spark.registry import (
    DRIVER_WINDOW,
    build_registry,
)


def _write_rounds(root, rounds: dict[int, list[str]]) -> None:
    """One CORRECTNESS_r{N}.json per round, with a green row per name."""
    green = {"hash_match": True}
    for rnd, names in rounds.items():
        (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: green for n in names})
        )


def test_build_registry_succeeds_and_is_ordered():
    """Against the committed artifacts the registry builds, holds every
    declared query exactly once, and sorts by the derivation key: every
    oracle ahead of every no-oracle query, with the window full of
    oracles."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles

    reg = build_registry()
    declared = registry.declared_queries()
    assert sorted(reg) == sorted(declared)
    assert len(reg) == len(set(reg)) >= DRIVER_WINDOW
    oracles = set(all_oracles())
    is_oracle = [name in oracles for name in reg]
    assert is_oracle == sorted(is_oracle, reverse=True)
    assert all(is_oracle[:DRIVER_WINDOW])


def test_missing_ordered_name_raises(monkeypatch):
    """A hand-named priority row (``CHANGED``) that no module registers
    must fail loudly instead of silently dropping out of the window."""
    monkeypatch.setattr(registry, "CHANGED", ("no_such_query",))
    with pytest.raises(ValueError, match="no_such_query"):
        build_registry()


def test_order_derives_from_correctness_artifacts(tmp_path, monkeypatch):
    """Upcoming round 6 (bound round 3): never-green first, then stale and
    at-bound oracles oldest green first, then CHANGED, then the remaining
    oracles oldest green first, then no-oracle queries; ties by name. With
    every oracle obligated, the window overflows and the audit names the
    excess."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from tools.rotation_audit import audit

    oracles = sorted(all_oracles())
    # names picked against the grain: the key, not the name, must decide
    stale, never, bound_a, bound_b, changed, *rest, older = oracles
    _write_rounds(
        tmp_path,
        {1: [stale], 3: [bound_a, bound_b], 4: [older], 5: [changed, *rest]},
    )
    monkeypatch.setattr(registry, "CHANGED", (changed,))
    order = list(build_registry(tmp_path))
    no_oracle = sorted(set(order) - set(oracles))
    assert order == [
        never, stale, bound_a, bound_b, changed, older, *rest, *no_oracle
    ]
    a = audit(tmp_path)
    assert (a["never_green"], a["already_stale"]) == ([never], [stale])
    assert a["at_bound"] == [bound_a, bound_b]
    assert not a["missing_from_window"]

    overflow = tmp_path / "overflow"
    overflow.mkdir()
    _write_rounds(overflow, {5: []})  # upcoming round 6, nothing green
    monkeypatch.setattr(registry, "CHANGED", ())
    a = audit(overflow)
    assert a["obligated"] == len(oracles) > DRIVER_WINDOW
    assert a["missing_from_window"] == oracles[DRIVER_WINDOW:]


def test_every_oracle_has_a_query():
    import __spark_entry__ as entry

    queries = set(build_registry())
    oracle_names = set(entry.oracle_sql())
    assert oracle_names <= queries, sorted(oracle_names - queries)


def test_every_oracle_output_is_driver_sortable(spark):
    """The round-8 lesson generalized: the driver canonicalizes result
    frames with pandas ``sort_values``, which raises on list/map/struct
    cells — every oracle-bearing query must emit only scalar columns
    (rows-only queries may keep arrays; they are never value-hashed)."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    from tests.conftest import SF_SMOKE

    reg = build_registry()
    oracle_names = set(all_oracles())
    offenders = []
    for name in reg:
        if name not in oracle_names:
            continue
        df = reg[name](spark, SF_SMOKE)
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if any(k in t for k in ("array", "map", "struct")):
                offenders.append((name, f.name, t))
    assert not offenders, offenders


def test_plan_census_name_lists_track_registry():
    """tools/plan_census.py's hand-maintained EAGER and KNOWN_CARTESIAN
    name lists must reference real registry queries — a renamed or
    removed query would otherwise silently un-skip (census hangs on an
    eager query) or un-allowlist (false cartesian failure)."""
    from tools.plan_census import EAGER, KNOWN_CARTESIAN

    names = set(build_registry())
    assert EAGER <= names, sorted(EAGER - names)
    assert KNOWN_CARTESIAN <= names, sorted(KNOWN_CARTESIAN - names)


def test_window_covers_every_staleness_obligation():
    """Mechanized rotation contract (the check round judges recompute by
    hand from the CORRECTNESS artifacts): the driver window must contain
    every oracle that has NEVER been driver-green and every oracle whose
    freshest green sits exactly at the 3-round staleness bound, and no
    oracle may already be stale. Runs off committed CORRECTNESS_r*.json
    — no Spark session."""
    from tools.rotation_audit import audit

    a = audit()
    assert not a["already_stale"], (
        f"oracles missed their staleness bound: {a['already_stale']}"
    )
    # NOTE: the registry order is derived from the CORRECTNESS artifacts,
    # so obligated oracles lead the window by construction; this fails
    # only when they outnumber it (registry.py's overflow rule). No
    # reorder fixes that — it needs a decision: a larger DRIVER_WINDOW or
    # a longer STALE_AFTER bound (`python tools/rotation_audit.py` prints
    # the cohort).
    assert not a["missing_from_window"], (
        f"more obligated oracles than the window holds (enlarge "
        f"registry.DRIVER_WINDOW or lengthen STALE_AFTER — see "
        f"tools/rotation_audit.py): {a['missing_from_window']}"
    )
    # the NEXT round must also be satisfiable: its inherited bound cohort
    # has to fit the window with the obligated new/changed rows on top
    assert a["next_round_cohort_size"] <= a["window_size"], a


def test_rotation_audit_detects_staleness(tmp_path):
    """The audit must actually FIRE: synthesize CORRECTNESS artifacts where
    one real oracle was last green 5 rounds before the upcoming round
    (stale) and every other oracle is fresh — the stale one must be
    flagged, and the derived order must put it at the head of the window."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from tools.rotation_audit import audit

    *fresh, target = sorted(all_oracles())
    _write_rounds(tmp_path, {1: [target], 5: fresh})
    a = audit(tmp_path)
    # upcoming round = 6: r01 green is stale (1 < 6-3)
    assert a["upcoming_round"] == 6
    assert a["already_stale"] == [target]
    assert list(build_registry(tmp_path))[0] == target
    assert not a["missing_from_window"]
