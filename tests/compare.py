"""Differential compare mimicking the driver: row count + column names +
order-insensitive value comparison between a Spark DataFrame and a DuckDB
result on the same fixtures."""

from __future__ import annotations

import math


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and residual binary noise beyond round(…, 4..6) done in-query
        return round(v, 9) + 0.0
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def mismatch(scols, srows, dcols, drows) -> str | None:
    """The driver's verdict on a Spark result vs a DuckDB result: None when
    they match, else one line naming the first difference."""
    if sorted(scols) != sorted(dcols):
        return f"SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} duck={len(drows)}"
    ns, nd = _norm_rows(scols, srows), _norm_rows(dcols, drows)
    bad = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b]
    if bad:
        return (
            f"VALUE MISMATCH n={len(bad)} first: spark={ns[bad[0]]} "
            f"duck={nd[bad[0]]}"
        )
    return None


def assert_match(sdf, duck, sql: str, name: str = "") -> None:
    res = duck.execute(sql)
    verdict = mismatch(
        list(sdf.columns),
        [tuple(r) for r in sdf.collect()],
        [d[0] for d in res.description],
        res.fetchall(),
    )
    assert verdict is None, f"{name}: {verdict}"
