"""Output checks: every oracle-backed output of the warm-up pass is compared
with its DuckDB oracle over the same parquet inputs (row count, column
names, order-insensitive values), and every later pass must reproduce the
warm-up's row counts.

Oracle results are cached by (input digest, oracle SQL), the digest being
a hash of the parquet files themselves, so only the first run in a checkout
pays for DuckDB — the iterative-graph oracles are unrolled CTE chains and
dominate that cost.
"""

from __future__ import annotations

import hashlib
import json
import math
from decimal import Decimal
from pathlib import Path


def _cell(v):
    """JSON-stable value; numbers compare by value across engines (Spark's
    long 5 equals DuckDB's 5.0, decimals of any scale equal their float)."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return round(f, 9) + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return sorted((str(k), _cell(x)) for k, x in v.items())
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive summary of a result: sorted column names, row
    count and a hash of the normalised, column-sorted, row-sorted values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(json.dumps([_cell(r[i]) for i in order]) for r in rows)
    digest = hashlib.sha256("\n".join(norm).encode()).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "hash": digest}


def digest(data_dir: Path) -> str:
    """sha256 over the names and bytes of the directory's parquet files."""
    h = hashlib.sha256()
    for path in sorted(data_dir.glob("*.parquet")):
        h.update(path.name.encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


class OracleCheck:
    """DuckDB oracle fingerprints for one input directory, cached on disk."""

    def __init__(self, data_dir: Path, digest: str, cache_dir: Path):
        self.data_dir = data_dir
        self.digest = digest
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for path in sorted(self.data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
        return con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self.digest}\n{sql}".encode()).hexdigest()[:24]
        path = self.cache_dir / f"{key}.json"
        if path.is_file():
            return json.loads(path.read_text())
        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        fp = fingerprint([d[0] for d in res.description], res.fetchall())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(fp))
        tmp.replace(path)
        return fp

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def compare(got: dict, want: dict) -> str:
    """'MATCH' or the first difference found."""
    if got["cols"] != want["cols"]:
        return f"SCHEMA spark={got['cols']} oracle={want['cols']}"
    if got["rows"] != want["rows"]:
        return f"ROWCOUNT spark={got['rows']} oracle={want['rows']}"
    if got["hash"] != want["hash"]:
        return "VALUES differ"
    return "MATCH"
