"""Dtype-strict twin of oracle_check.py.

The driver's correctness hash is dtype-sensitive (pandas-level): a DuckDB
HUGEINT (object/int128) column hashes differently from Spark's LONG (int64)
even when every value matches.  oracle_check.py normalizes values and so
cannot see that class of mismatch; this tool compares the per-column pandas
dtypes of ``spark_df.toPandas()`` vs ``duckdb.fetchdf()`` after sorting the
columns by name, mirroring the driver's canonicalization.  Usage::

    python tools/dtype_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from area_etl_spark.session import TABLES, get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("dtype-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        spdf = fn(spark, sf_dir).toPandas()
        dkdf = con.execute(oracles[name]).fetchdf()
        sp = {c: str(spdf[c].dtype) for c in spdf.columns}
        dk = {c: str(dkdf[c].dtype) for c in dkdf.columns}
        if sorted(sp) != sorted(dk):
            print(f"FAIL  {name}: columns differ  spark={sorted(sp)} duckdb={sorted(dk)}")
            n_fail += 1
            continue
        bad = {c: (sp[c], dk[c]) for c in sp if sp[c] != dk[c]}
        # Calibrated against r3 driver evidence: int32-vs-int64 hash the same
        # (window_rank_funcs/tpch_q5ish were green), as do datetime precision
        # differences; int-vs-float/object is exactly the HUGEINT trap (DuckDB
        # widens SUM(BIGINT) to HUGEINT, which pandas renders float64/object).
        def fam(d: str) -> str:
            if d.startswith(("int", "uint")):
                return "int"
            if d.startswith("datetime"):
                return "datetime"
            return d

        real_bad = {c: v for c, v in bad.items() if fam(v[0]) != fam(v[1])}
        if real_bad:
            print(f"FAIL  {name}: dtype mismatch {real_bad}")
            n_fail += 1
        else:
            print(f"PASS  {name}")
    print(f"\n{n_fail} dtype failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
