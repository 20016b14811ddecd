"""Differential tests: every SQL-expressible query vs the DuckDB oracle at
sf0.01 — the same check the driver runs for CORRECTNESS_r{N}.json."""

from __future__ import annotations

import pytest

from tests.compare import assert_match
from tests.conftest import SF_ORACLE


def _registry_pairs():
    """(name, query, oracle) triples for EVERY oracle, per push. The
    driver value-compares only its 50-row window; the suite compares all
    oracles so its coverage does not depend on which rows the window
    holds."""
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from spark_ml_algo_lib_master_tongji_spark.registry import build_registry

    reg = build_registry()
    oracles = all_oracles()
    # every oracle key must exist in the registry
    missing = set(oracles) - set(reg)
    assert not missing, f"oracles without queries: {missing}"
    return [pytest.param(k, reg[k], oracles[k], id=k) for k in sorted(oracles)]


@pytest.mark.parametrize("name,fn,sql", _registry_pairs())
def test_oracle_match(spark, duck, name, fn, sql):
    sdf = fn(spark, SF_ORACLE)
    assert_match(sdf, duck, sql, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0


def test_asof_join_matches_bruteforce(spark):
    """The union+window as-of composition must agree with a pure-Python
    brute force on the smoke fixture: per purchase, the matched click is
    the max-timestamp click (ties: max event_id) with ts <= purchase ts,
    and unmatched purchases truly have no prior click."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_asof_join_click_attribution,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    ev = [
        (r["event_id"], r["user_id"], r["event_type"], r["us"])
        for r in cat.events.selectExpr(
            "event_id", "user_id", "event_type", "unix_micros(ts) AS us"
        ).collect()
    ]
    clicks = {}
    for eid, uid, typ, us in ev:
        if typ == "click":
            clicks.setdefault(uid, []).append((us, eid))
    got = {
        r["purchase_id"]: (r["click_id"], r["click_us"], r["gap_us"])
        for r in q_asof_join_click_attribution(cat).collect()
    }
    assert len(got) == sum(1 for e in ev if e[2] == "purchase")
    for eid, uid, typ, us in ev:
        if typ != "purchase":
            continue
        prior = [(cus, cid) for cus, cid in clicks.get(uid, []) if cus <= us]
        want = max(prior) if prior else None
        if want is None:
            assert got[eid] == (None, None, None), (eid, got[eid])
        else:
            assert got[eid] == (want[1], want[0], us - want[0]), (eid,)


def test_range_join_tiers_partition_the_domain(spark, duck):
    """The value tiers must cover every event exactly once (tier rollup
    counts sum to the event count) — a gap or overlap in the interval
    dimension would silently drop or double rows."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        VALUE_TIERS,
        q_range_join_value_tiers,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    bounds = sorted(VALUE_TIERS, key=lambda t: t[1])
    for (_, _, hi_prev), (_, lo, _) in zip(bounds, bounds[1:]):
        assert hi_prev == lo, "tiers must tile without gap/overlap"
    cat = Catalog(spark, SF_SMOKE)
    rolled = q_range_join_value_tiers(cat).collect()
    assert sum(r["n_events"] for r in rolled) == cat.events.count()


def test_asof_tie_and_shadow_semantics_all_three_arms(spark, tmp_path):
    """Crafted events exercising what the fixture never does — a click at
    EXACTLY the purchase timestamp (must match: ts-equality counts as
    prior), a later click shadowing an earlier one, and interleaved
    users — compared across all three arms: the Spark union+window
    composition, DuckDB's native ASOF LEFT JOIN, and a pure-Python
    brute force."""
    from datetime import datetime

    import duckdb

    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_asof_join_click_attribution,
    )
    from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    rows = [
        # user 1: click at the exact purchase ts -> matches (gap 0)
        (1, "2024-01-01 00:00:10", 1, "click", 0.0, ""),
        (2, "2024-01-01 00:00:10", 1, "purchase", 1.0, ""),
        # user 2: two clicks, later one shadows; purchase after both
        (3, "2024-01-01 00:00:01", 2, "click", 0.0, ""),
        (4, "2024-01-01 00:00:05", 2, "click", 0.0, ""),
        (5, "2024-01-01 00:00:09", 2, "purchase", 1.0, ""),
        # user 3: click AFTER the purchase -> no match
        (6, "2024-01-01 00:00:20", 3, "purchase", 1.0, ""),
        (7, "2024-01-01 00:00:30", 3, "click", 0.0, ""),
        # users 4/5: long lookbacks — as-of is latest-prior with NO upper
        # bound (unlike stream_stream_join's attribution window), so an
        # hour-old and an hour-plus-1us-old click both match
        (8, "2024-01-01 00:00:00", 4, "click", 0.0, ""),
        (9, "2024-01-01 01:00:00", 4, "purchase", 1.0, ""),
        (10, "2024-01-01 00:00:00.000000", 5, "click", 0.0, ""),
        (11, "2024-01-01 01:00:00.000001", 5, "purchase", 1.0, ""),
    ]
    def _ts(s: str) -> datetime:
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in s else "%Y-%m-%d %H:%M:%S"
        return datetime.strptime(s, fmt)

    ev = spark.createDataFrame(
        [(i, _ts(ts), u, t, v, p) for i, ts, u, t, v, p in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["purchase_id"]: (r["click_id"], r["gap_us"])
        for r in q_asof_join_click_attribution(
            Catalog(spark, str(tmp_path))
        ).collect()
    }
    want = {
        2: (1, 0),
        5: (4, 4_000_000),
        6: (None, None),
        9: (8, 3_600_000_000),
        11: (10, 3_600_000_001),
    }
    assert got == want, got

    con = duckdb.connect()
    glob = str(tmp_path / "events.parquet") + "/*.parquet"
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )
    duck = {
        pid: (cid, gap)
        for pid, _, _, cid, _, gap in con.execute(
            all_oracles()["q_asof_join_click_attribution"]
        ).fetchall()
    }
    assert duck == want, duck


def test_analytics_surface_semantic_pins(spark):
    """Structural invariants of the four analytics operators beyond their
    twins: the rollup's ALL/ALL row equals the grand total and each
    region's ALL row equals the sum of its nations; pivot row sums equal
    each user's event count; the gap-filled series is hole-free and
    dense per user; the funnel is monotone non-increasing."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_funnel_conversion,
        q_pivot_event_types,
        q_resample_gapfill,
        q_rollup_revenue,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)

    roll = q_rollup_revenue(cat).collect()
    total = {
        (r["region"], r["nation"]): (r["n_orders"], r["revenue"])
        for r in roll
    }
    grand = total[("ALL", "ALL")]
    regions = {r for r, n in total if r != "ALL" and n == "ALL"}
    assert grand[0] == sum(total[(r, "ALL")][0] for r in regions)
    for r in regions:
        nations = [
            k for k in total if k[0] == r and k[1] != "ALL"
        ]
        assert total[(r, "ALL")][0] == sum(total[k][0] for k in nations)

    piv = q_pivot_event_types(cat).collect()
    per_user = {
        r["user_id"]: r["cnt"]
        for r in cat.events.groupBy("user_id").count().withColumnRenamed(
            "count", "cnt"
        ).collect()
    }
    assert len(piv) == len(per_user)
    for r in piv:
        row_sum = sum(
            r[c] for c in r.asDict() if c.startswith("n_")
        )
        assert row_sum == per_user[r["user_id"]]

    series = {}
    for r in q_resample_gapfill(cat).collect():
        series.setdefault(r["user_id"], []).append((r["day"], r["n_events"]))
    from datetime import timedelta

    for days in series.values():
        days.sort()
        for (d0, _), (d1, _) in zip(days, days[1:]):
            assert d1 - d0 == timedelta(days=1), "hole or duplicate day"
        assert days[0][1] > 0 and days[-1][1] > 0  # bounds are observed days

    f = q_funnel_conversion(cat).first()
    assert (
        f["n_users"]
        >= f["n_click"]
        >= f["n_click_view"]
        >= f["n_full_funnel"]
        >= 0
    )
    assert f["n_click"] > 0 and f["n_full_funnel"] > 0


def test_moving_average_recompute_and_hll_anchor(spark):
    """ma7 re-derived in pure Python from the daily sums must match to
    the rounding grain, and the HLL anchor's measured errors must sit
    WELL inside the floor (a floor the measurement brushes against is a
    flaky anchor)."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        MA_DAYS,
        q_moving_average,
    )
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        HLL_REL_ERR_MAX,
        HLL_RSD,
        stat_hll_accuracy,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    rows = sorted(
        (r["day"], r["daily_value"], r["ma7"])
        for r in q_moving_average(cat).collect()
    )
    daily = [v for _, v, _ in rows]
    for i, (_, _, ma7) in enumerate(rows):
        win = daily[max(0, i - (MA_DAYS - 1)) : i + 1]
        assert abs(ma7 - sum(win) / len(win)) < 1e-4, i

    a = stat_hll_accuracy(cat).first()
    assert a["hll_users_ok"]
    from pyspark.sql import functions as F

    m = cat.events.agg(
        F.approx_count_distinct("user_id", HLL_RSD).alias("au"),
    ).first()
    assert abs(m["au"] - a["exact_users"]) <= 0.5 * HLL_REL_ERR_MAX * a[
        "exact_users"
    ]


@pytest.mark.sweep
def test_hll_event_regime_at_10x(spark):
    """The event-id cardinality regime of the HLL contract (1M+ ids at
    the 10× fixture — the regime where sketch bias would actually show),
    moved here from ``stat_hll_accuracy``'s eager exact arm in round 13:
    the per-query anchor now audits only the users regime, and this
    once-per-round test keeps the high-cardinality exactness check —
    SAME band, |approx − exact| ≤ HLL_REL_ERR_MAX · exact — without
    putting a 1M-id exact countDistinct in the benched query. Marked
    ``sweep`` (it IS the once-per-round arm — a ~1M-id exact
    countDistinct has no place in the per-push default budget; round-13
    ADVICE item 3)."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        HLL_REL_ERR_MAX,
        HLL_RSD,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog

    from tests.conftest import SF_10X

    cat = Catalog(spark, SF_10X)
    m = cat.events.agg(
        F.countDistinct("event_id").alias("exact"),
        F.approx_count_distinct("event_id", HLL_RSD).alias("approx"),
    ).first()
    assert m["exact"] > 100_000  # the regime this test exists for
    assert abs(m["approx"] - m["exact"]) <= HLL_REL_ERR_MAX * m["exact"]


def test_funnel_matches_bruteforce_and_is_monotone(spark):
    """The chained-window funnel re-derived in pure Python on the smoke
    fixture: per user, t_click = min click; t_view = min view ≥ t_click;
    t_purchase = min purchase ≥ t_view — plus the structural monotone
    staircase every funnel must satisfy."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_funnel_conversion,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    ev = [
        (r["user_id"], r["event_type"], r["us"])
        for r in cat.events.selectExpr(
            "user_id", "event_type", "unix_micros(ts) AS us"
        ).collect()
    ]
    users = {u for u, _, _ in ev}

    def stage_min(typ, prev):
        out = {}
        for u, t, us in ev:
            if t == typ and prev.get(u) is not None and us >= prev[u]:
                out[u] = min(out.get(u, us), us)
        return out

    t1 = stage_min("click", {u: float("-inf") for u in users})
    t2 = stage_min("view", t1)
    t3 = stage_min("purchase", t2)

    row = q_funnel_conversion(cat).first()
    assert (
        row["n_users"],
        row["n_click"],
        row["n_click_view"],
        row["n_full_funnel"],
    ) == (len(users), len(t1), len(t2), len(t3))
    assert (
        row["n_users"]
        >= row["n_click"]
        >= row["n_click_view"]
        >= row["n_full_funnel"]
        >= 0
    )


def test_funnel_ttc_matches_bruteforce(spark):
    """q_funnel_ttc re-derived in pure Python on the smoke fixture: per
    user the same chained stage times as the funnel test, whole-second
    gaps, and discrete lower quantiles (min gap with cum ≥
    ceil(p·n/100)) — exact equality on every output cell, plus the
    structural p50 ≤ p90 ≤ p99 staircase and count consistency with
    q_funnel_conversion."""
    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        FUNNEL_TTC_PCTS,
        q_funnel_conversion,
        q_funnel_ttc,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    ev = [
        (r["user_id"], r["event_type"], r["us"])
        for r in cat.events.selectExpr(
            "user_id", "event_type", "unix_micros(ts) AS us"
        ).collect()
    ]

    def stage_min(typ, prev):
        out = {}
        for u, t, us in ev:
            if t == typ and prev.get(u) is not None and us >= prev[u]:
                out[u] = min(out.get(u, us), us)
        return out

    t1 = stage_min("click", {u: float("-inf") for u, _, _ in ev})
    t2 = stage_min("view", t1)
    t3 = stage_min("purchase", t2)
    gaps = {
        "click_to_view": sorted((t2[u] - t1[u]) // 1_000_000 for u in t2),
        "view_to_purchase": sorted(
            (t3[u] - t2[u]) // 1_000_000 for u in t3
        ),
        "click_to_purchase": sorted(
            (t3[u] - t1[u]) // 1_000_000 for u in t3
        ),
    }

    def pct(xs, p):
        tgt = (p * len(xs) + 99) // 100
        return xs[tgt - 1]

    rows = {r["stage"]: r for r in q_funnel_ttc(cat).collect()}
    assert set(rows) == {k for k, v in gaps.items() if v}
    for st, xs in gaps.items():
        if not xs:
            continue
        r = rows[st]
        assert r["n_users"] == len(xs)
        for p in FUNNEL_TTC_PCTS:
            assert r[f"p{p}_s"] == pct(xs, p), (st, p)
        assert r["p50_s"] <= r["p90_s"] <= r["p99_s"]
    conv = q_funnel_conversion(cat).first()
    assert rows["click_to_view"]["n_users"] == conv["n_click_view"]
    assert rows["click_to_purchase"]["n_users"] == conv["n_full_funnel"]


def test_freq_histogram_equi_depth(spark):
    """stat_freq_histogram vs a pure-Python equi-depth model on the
    smoke fixture: exact per-bucket (n, lo, hi, cents) equality, plus
    the structural invariants — buckets partition the non-NULL rows,
    value ranges are disjoint and ordered, and every bucket's count is
    within the heaviest tie of the ideal n/NB depth."""
    import math
    from collections import Counter

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        HIST_NBUCKETS,
        stat_freq_histogram,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    vals = [
        r["value"]
        for r in cat.events.select("value").collect()
        if r["value"] is not None
    ]
    counts = Counter(vals)
    n = len(vals)
    model = {}
    before = 0
    for v in sorted(counts):
        b = (before * HIST_NBUCKETS) // n
        nb_, lo, hi, cents = model.get(b, (0, v, v, 0))
        model[b] = (
            nb_ + counts[v],
            min(lo, v),
            max(hi, v),
            cents + math.floor(v * 100 + 0.5) * counts[v],
        )
        before += counts[v]

    rows = {r["bucket"]: r for r in stat_freq_histogram(cat).collect()}
    assert set(rows) == set(model)
    for b, (mn, mlo, mhi, mc) in model.items():
        r = rows[b]
        assert (r["n"], r["lo"], r["hi"], r["sum_value_cents"]) == (
            mn,
            mlo,
            mhi,
            mc,
        ), b
    ordered = [rows[b] for b in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert a["hi"] < b["lo"]  # value-aligned: ranges never overlap
    assert sum(r["n"] for r in ordered) == n
    heaviest = max(counts.values())
    for r in ordered:
        assert r["n"] <= n / HIST_NBUCKETS + heaviest


def test_freq_histogram_degenerates(spark):
    """All-equal values collapse to one full bucket 0; NULLs are
    excluded from counts and sums; the empty and all-NULL frames yield
    an empty histogram rather than a divide error."""
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        freq_histogram,
    )

    rows = freq_histogram(
        spark.createDataFrame([(7.5,)] * 6, "value double"), nb=4
    ).collect()
    assert len(rows) == 1
    assert (rows[0]["bucket"], rows[0]["n"], rows[0]["lo"], rows[0]["hi"]) == (
        0,
        6,
        7.5,
        7.5,
    )
    assert rows[0]["sum_value_cents"] == 6 * 750

    withnulls = freq_histogram(
        spark.createDataFrame(
            [(1.0,), (None,), (2.0,), (None,)], "value double"
        ),
        nb=2,
    ).collect()
    assert sum(r["n"] for r in withnulls) == 2
    assert freq_histogram(
        spark.createDataFrame([(None,), (None,)], "value double")
    ).count() == 0


def test_retention_cohort_invariants(spark):
    """Offset 0 is every cohort's own week, so the offset-0 cell equals
    the cohort size, later cells never exceed it, and offset-0 cells sum
    to the distinct-user total (each user lives in exactly one cohort)."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.relational import (
        q_events_retention_cohorts,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    cells = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in q_events_retention_cohorts(cat).collect()
    }
    assert cells and all(off >= 0 for _, off in cells)
    base = {cw: n for (cw, off), n in cells.items() if off == 0}
    assert set(base) == {cw for cw, _ in cells}  # every cohort has offset 0
    for (cw, off), n in cells.items():
        assert n <= base[cw], (cw, off)
    total = cat.events.agg(F.countDistinct("user_id")).first()[0]
    assert sum(base.values()) == total


def test_welch_ttest_matches_numpy(spark):
    """The one-pass conditional-moment t-test vs a numpy recompute on
    collected smoke-fixture values, to the query's own rounding grain."""
    import numpy as np

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        TTEST_GROUP_A,
        TTEST_GROUP_B,
        stat_welch_ttest,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    vals = {
        t: np.array(
            [
                r["value"]
                for r in cat.events.where(
                    f"event_type = '{t}'"
                ).collect()
            ]
        )
        for t in (TTEST_GROUP_A, TTEST_GROUP_B)
    }
    a, b = vals[TTEST_GROUP_A], vals[TTEST_GROUP_B]
    sa, sb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t_np = (a.mean() - b.mean()) / np.sqrt(sa + sb)
    df_np = (sa + sb) ** 2 / (
        sa**2 / (len(a) - 1) + sb**2 / (len(b) - 1)
    )

    row = stat_welch_ttest(cat).first()
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["mean_diff"] - (a.mean() - b.mean())) < 1e-6
    assert abs(row["t_stat"] - t_np) < 1e-3
    assert abs(row["df_welch"] - df_np) < 0.05


def test_value_histogram_partitions_the_rows(spark):
    """Bucket counts sum to the row total, ids stay in [0, NB), lower
    edges rise monotonically, and min/max land in the first/last
    occupied buckets — the equal-width histogram is a partition of the
    value column, not a sample."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        HIST_NBUCKETS,
        stat_value_histogram,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    rows = sorted(
        (r["bucket"], r["bucket_lo"], r["n"], r["sum_value"])
        for r in stat_value_histogram(cat).collect()
    )
    assert all(0 <= b < HIST_NBUCKETS for b, *_ in rows)
    lows = [lo for _, lo, _, _ in rows]
    assert lows == sorted(lows)
    stats = cat.events.agg(
        F.count("value").alias("n"),  # NULLs are excluded from buckets
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    ).first()
    assert sum(n for _, _, n, _ in rows) == stats["n"]
    width = (stats["vmax"] - stats["vmin"]) / HIST_NBUCKETS
    assert rows[0][1] <= stats["vmin"] <= rows[0][1] + width + 1e-6
    assert rows[-1][1] <= stats["vmax"]


def test_approx_quantile_anchor_holds_on_smoke(spark):
    """The rank-error audit must hold at a second SF (the driver checks
    sf0.01; this pins sf0.001), and the exact percentiles must be
    ordered p50 ≤ p90 ≤ p99."""
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_approx_quantile_accuracy,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    row = stat_approx_quantile_accuracy(Catalog(spark, SF_SMOKE)).first()
    assert row["approx_ok"]
    assert row["p50"] <= row["p90"] <= row["p99"]


def test_value_histogram_excludes_nulls(spark):
    """Round-12 ADVICE item 1: a NULL value must not fall into the last
    bucket. On a NULL-bearing frame the bucket counts cover exactly the
    non-NULL rows, the bounds come from the non-NULL min/max, and the
    all-NULL frame yields an empty histogram rather than a divide/cast
    error."""
    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        value_histogram,
    )

    df = spark.createDataFrame(
        [(0.0,), (None,), (10.0,), (None,), (5.0,), (10.0,)],
        "value double",
    )
    rows = {r["bucket"]: r for r in value_histogram(df, nb=4).collect()}
    assert sum(r["n"] for r in rows.values()) == 4  # NULLs excluded
    assert rows[3]["n"] == 2  # vmax rows only — no NULL inflation
    assert abs(sum(r["sum_value"] for r in rows.values()) - 25.0) < 1e-9
    assert value_histogram(
        spark.createDataFrame([(None,), (None,)], "value double")
    ).count() == 0


def test_chi_square_matches_numpy_and_degenerates(spark):
    """chi2/df/Cramér's V vs a numpy recompute from the collected
    contingency table at the smoke fixture, plus the degenerate
    single-level factor (df 0 → NULL effect size, chi2 0)."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        chi_square_independence,
        stat_chi_square,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    pdf = (
        cat.events.select(
            "event_type", F.dayofweek("ts").alias("dow")
        )
        .toPandas()
    )
    ct = pdf.groupby(["event_type", "dow"]).size().unstack(fill_value=0)
    o = ct.to_numpy().astype(float)
    e = o.sum(axis=1, keepdims=True) * o.sum(axis=0, keepdims=True) / o.sum()
    chi2_np = ((o - e) ** 2 / e).sum()
    r, c = o.shape

    row = stat_chi_square(cat).first()
    assert row["n"] == int(o.sum())
    assert (row["r_levels"], row["c_levels"]) == (r, c)
    assert row["df_chi"] == (r - 1) * (c - 1)
    assert abs(row["chi2"] - chi2_np) < 1e-3
    v_np = float(np.sqrt(chi2_np / (o.sum() * min(r - 1, c - 1))))
    assert abs(row["cramers_v"] - v_np) < 1e-5

    one_level = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2)], "x string, y int"
    )
    d = chi_square_independence(one_level, "x", "y").first()
    assert d["r_levels"] == 1 and d["df_chi"] == 0
    assert d["chi2"] == 0.0 and d["cramers_v"] is None


def test_group_distinct_partitions_and_audits(spark):
    """The per-group HLL rollup: groups partition the event rows
    (Σ n_events = row count), per-group exact distincts match a direct
    recompute, the audit boolean holds everywhere, and Σ exact_users
    ≥ the global distinct (a user can appear in many groups)."""
    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.operators.stats import (
        stat_group_distinct,
    )
    from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog
    from tests.conftest import SF_SMOKE

    cat = Catalog(spark, SF_SMOKE)
    rows = stat_group_distinct(cat).collect()
    assert all(r["hll_ok"] for r in rows)
    assert sum(r["n_events"] for r in rows) == cat.events.count()
    direct = {
        (r["event_type"], r["week"]): r["nu"]
        for r in cat.events.groupBy(
            "event_type",
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        )
        .agg(F.countDistinct("user_id").alias("nu"))
        .collect()
    }
    assert {
        (r["event_type"], r["week"]): r["exact_users"] for r in rows
    } == direct
    total_users = cat.events.agg(F.countDistinct("user_id")).first()[0]
    assert sum(r["exact_users"] for r in rows) >= total_users


def test_exact_decimal_sum_is_partition_order_invariant(spark):
    """``exact_decimal_sum``/``exact_decimal_avg`` (functions/rounding.py)
    must be bit-identical across partitionings and equal to an exact
    Decimal model — the whole point of the integer-unit form. The fixture
    is adversarial for the naive round-after-sum: ~1e10-magnitude values
    whose fp64 running sum's ulp exceeds the 1e-4 quantum, plus exact
    .xxxx5 half-way fractions, where summation order flips the 4th
    decimal (the class the round-14 10× sweep caught on q1 /
    q_broadcast_dim_join / q_case_conditional_agg)."""
    import decimal

    from pyspark.sql import functions as F

    from spark_ml_algo_lib_master_tongji_spark.functions.rounding import (
        exact_decimal_avg,
        exact_decimal_sum,
        round_half_up_f,
    )

    vals = [
        (1.0 + (i % 997)) * 1e7 + (i % 10000) / 1e4 + (i % 2) * 5e-5
        for i in range(4001)
    ]
    base = spark.createDataFrame([(v,) for v in vals], "v double")

    # exact model: per-row floor(v*1e4+0.5) in IEEE doubles (identical to
    # both engines' per-row form), integer sum, one division
    import math

    micro = [int(math.floor(v * 1e4 + 0.5)) for v in vals]
    want_sum = float(decimal.Decimal(sum(micro)) / 10000)
    want_avg = round_half_up_f(sum(micro) / (1e4 * len(micro)), 4)

    got = set()
    for df in (
        base.coalesce(1),
        base.repartition(7),
        base.repartition(32, F.rand(seed=1)),
    ):
        row = df.agg(
            exact_decimal_sum("v").alias("s"),
            exact_decimal_avg("v").alias("a"),
        ).first()
        got.add((row["s"], row["a"]))
    assert got == {(want_sum, want_avg)}

    # avg must mirror F.avg's NULL exclusion (count(col), not count(*))
    with_null = spark.createDataFrame(
        [(1.5,), (None,), (2.5,)], "v double"
    )
    row = with_null.agg(
        exact_decimal_sum("v").alias("s"),
        exact_decimal_avg("v").alias("a"),
    ).first()
    assert (row["s"], row["a"]) == (4.0, 2.0)
