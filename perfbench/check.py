"""Output checks, run outside the timed region.

- A query key with an ``oracle_sql()`` twin must return the rows DuckDB
  returns for that SQL over the input files, in any order.
- A rows-only key must return the row count recorded in ``expected.json``.
- Every table the runner landed must hold the recorded row count when read
  back from the sink.

The recorded counts do not depend on the workload seed: the seed only
permutes input rows.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import pyarrow.dataset as pads

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def _cell(v) -> str:
    if isinstance(v, float):
        # 17 significant digits round-trip a double exactly
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalized(rows, columns: list[str]) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of cell strings, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result; equal across workload seeds
    when the program's output does not depend on input row order."""
    return hashlib.sha256(repr(normalized(rows, columns)).encode()).hexdigest()[:16]


class Oracle:
    """DuckDB over the run's input files, one view per table.

    The inputs' content is fixed for a given ``content_key`` (only row order
    changes with the seed), so each oracle answer is kept in ``cache_dir``
    under a hash of the key and the SQL, and computed once per checkout.
    """

    def __init__(self, input_dir: str, tables: list[str], cache_dir: str, content_key: str, tmp_dir: str) -> None:
        self._input_dir = input_dir
        self._tables = tables
        self._cache_dir = cache_dir
        self._content_key = content_key
        self._tmp_dir = tmp_dir
        self._con = None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()

    def _answer(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self._content_key}\n{duckdb.__version__}\n{sql}".encode()).hexdigest()
        path = os.path.join(self._cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                return json.load(fh)
        if self._con is None:
            self._con = duckdb.connect(config={"temp_directory": self._tmp_dir})
            for t in self._tables:
                file = os.path.join(self._input_dir, f"{t}.parquet").replace("'", "''")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{file}'")
        res = self._con.execute(sql)
        columns = [d[0] for d in res.description]
        answer = {"columns": sorted(columns), "rows": [list(r) for r in normalized(res.fetchall(), columns)]}
        os.makedirs(self._cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(answer, fh)
        os.replace(tmp, path)
        return answer

    def mismatch(self, sql: str, columns: list[str], rows: list) -> str | None:
        """Why the Spark output differs from the oracle's, or None."""
        want = self._answer(sql)
        if sorted(columns) != want["columns"]:
            return f"columns {sorted(columns)} != oracle {want['columns']}"
        if len(rows) != len(want["rows"]):
            return f"{len(rows)} rows != oracle {len(want['rows'])}"
        if [list(r) for r in normalized(rows, columns)] != want["rows"]:
            return "values differ from oracle"
        return None


def landed_rows(path: str) -> int:
    """Row count of a landed parquet table (hive-partitioned or not), read
    back from its files."""
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()
