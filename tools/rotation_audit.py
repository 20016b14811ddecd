"""Rotation audit: recompute the driver-window staleness state from the
committed CORRECTNESS_r*.json files and check the registry window against it.

Contract (registry.py): the driver value-checks only the first
``DRIVER_WINDOW`` registry entries each round; an oracle goes STALE if it
has no green (hash_match) CORRECTNESS row within the last 3 rounds. So the
upcoming round's window MUST contain
  (a) every oracle that has NEVER been green (new oracles), and
  (b) every oracle whose freshest green is exactly 3 rounds old
      (at the staleness bound — one more miss and it's stale).

The registry order is derived from the same artifacts, so the window holds
these by construction unless they outnumber it (the registry's overflow
rule). This tool prints the freshest-green census, the upcoming round's
obligations, any obligated oracle the window cannot hold, and the NEXT
round's projected cohort. Exit 1 if any obligated oracle is missing from
the window.

Usage: python tools/rotation_audit.py   (no Spark session needed)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_ml_algo_lib_master_tongji_spark.registry import (  # noqa: E402
    DRIVER_WINDOW,
    REPO,
    STALE_AFTER,
    build_registry,
    freshest_green,
)


def audit(repo: Path = REPO) -> dict:
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles

    latest, upcoming = freshest_green(repo)
    oracles = set(all_oracles())
    window = set(list(build_registry(repo))[:DRIVER_WINDOW])

    never_green = sorted(oracles - set(latest))
    at_bound = sorted(
        n for n, r in latest.items()
        if n in oracles and r == upcoming - STALE_AFTER
    )
    already_stale = sorted(
        n for n, r in latest.items()
        if n in oracles and r < upcoming - STALE_AFTER
    )
    obligated = [*never_green, *at_bound, *already_stale]
    missing = sorted(n for n in obligated if n not in window)
    next_cohort = sorted(
        n for n, r in latest.items()
        if n in oracles and r == upcoming - STALE_AFTER + 1 and n not in window
    )
    return {
        "upcoming_round": upcoming,
        "oracles": len(oracles),
        "never_green": never_green,
        "at_bound": at_bound,
        "already_stale": already_stale,
        "window_size": DRIVER_WINDOW,
        "obligated": len(obligated),
        "missing_from_window": missing,
        "slack": DRIVER_WINDOW - len(obligated),
        "next_round_cohort_size": len(next_cohort),
    }


def main() -> int:
    a = audit()
    print(
        f"upcoming round r{a['upcoming_round']}: {a['oracles']} oracles, "
        f"window {a['window_size']}"
    )
    print(
        f"  obligated in window: {a['obligated']} "
        f"({len(a['never_green'])} never-green, {len(a['at_bound'])} "
        f"at the {STALE_AFTER}-round bound, {len(a['already_stale'])} "
        f"ALREADY STALE) -> slack {a['slack']}"
    )
    if a["already_stale"]:
        print(f"  !! stale oracles (missed their bound): {a['already_stale']}")
    if a["missing_from_window"]:
        print(f"  !! obligated but NOT in window: {a['missing_from_window']}")
    print(
        f"  next round (r{a['upcoming_round'] + 1}) inherits "
        f"{a['next_round_cohort_size']} bound rows + this round's "
        "new/changed"
    )
    return 1 if a["missing_from_window"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
