"""Output checks: every operation's result is compared with the
program's DuckDB oracle (``registry.oracle_sql()``) on the same tables.

Both sides are reduced to the same order-insensitive digest, computed
by DuckDB: row count, sorted column names, and the sum of one hash per
row over the row's values cast to text, with NaN read as NULL. This is
the comparison ``tools/check_some.py`` makes (row count, column names,
hash of the sorted rows), done in DuckDB so that results with hundreds
of thousands of rows check in well under a second.

The incremental warehouse load is checked from what it wrote: the
counts it returns against the tables, and the fact it wrote, read
back from its parquet files, against the fact oracle.

Oracle digests depend only on the oracle SQL and the fixed tables, so
they are cached on disk, keyed by both.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

_FLOAT_TYPES = ("DOUBLE", "FLOAT")


def digest(con: duckdb.DuckDBPyConnection, table) -> dict:
    """Digest of a pyarrow table."""
    con.register("_result", table)
    try:
        desc = con.execute("DESCRIBE _result").fetchall()
        types = {row[0]: row[1] for row in desc}
        names = sorted(types)
        cells = []
        for name in names:
            col = '"' + name.replace('"', '""') + '"'
            if types[name] in _FLOAT_TYPES:
                col = f"CASE WHEN isnan({col}) THEN NULL ELSE {col} END"
            cells.append(f"coalesce(CAST({col} AS VARCHAR), chr(0))")
        row = f"concat_ws(chr(31), {', '.join(cells)})" if cells else "''"
        rows, total = con.execute(
            f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM _result"
        ).fetchone()
    finally:
        con.unregister("_result")
    return {"rows": rows, "columns": names, "hash": str(total)}


class Oracle:
    """Expected digests for registered queries on one table directory."""

    def __init__(self, sf_dir: str, cache_path: str, threads: int) -> None:
        self._cache_path = cache_path
        self._con = duckdb.connect()
        self._con.execute(f"SET threads={threads}")
        tables = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
        fingerprint = hashlib.sha256()
        for f in tables:
            path = os.path.join(sf_dir, f)
            name = f[: -len(".parquet")]
            self._con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
            fingerprint.update(f"{f}:{os.path.getsize(path)};".encode())
        self._tables = fingerprint.hexdigest()
        try:
            with open(cache_path) as fh:
                self._cache = json.load(fh)
        except FileNotFoundError:
            self._cache = {}

    def _key(self, sql: str) -> str:
        return hashlib.sha256((self._tables + "\n" + sql).encode()).hexdigest()

    def expected(self, sql: str) -> dict:
        key = self._key(sql)
        if key not in self._cache:
            self._cache[key] = digest(self._con, self._con.sql(sql).arrow())
            tmp = self._cache_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self._cache, fh)
            os.replace(tmp, self._cache_path)
        return self._cache[key]

    def matches(self, sql: str, table) -> bool:
        return digest(self._con, table) == self.expected(sql)

    def check_load(self, out_dir: str, counts: dict, fact_sql: str) -> dict:
        """Check an incremental load in ``out_dir`` that returned
        ``counts``. Returns the bytes and files on disk, and the first
        problem found or None."""
        n_bytes = n_files = 0
        for root, _, files in os.walk(out_dir):
            for f in files:
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
        (orders,) = self._con.execute("SELECT count(*) FROM orders").fetchone()
        problem = None
        if counts["initial.orders"] + counts["increment.orders"] != orders:
            problem = f"staged orders {counts} do not add up to the {orders} orders"
        elif counts["initial.fact_rows"] + counts["increment.fact_rows"] != counts["fact_total"]:
            problem = f"fact increments {counts} do not add up to the fact total"
        else:
            fact = os.path.join(out_dir, "3nf_inc", "fct_orders", "**", "*.parquet")
            written = self._con.sql(
                f"SELECT * FROM read_parquet('{fact}', hive_partitioning = true)"
            ).arrow()
            got = digest(self._con, written)
            if got != self.expected(fact_sql):
                problem = "the fact written differs from the DuckDB oracle"
            elif got["rows"] != counts["fact_total"]:
                problem = f"fact total {counts['fact_total']} is not the {got['rows']} rows written"
        return {"bytes": n_bytes, "files": n_files, "problem": problem}

    def close(self) -> None:
        self._con.close()
