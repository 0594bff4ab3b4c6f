"""Replica of the driver's correctness gate: run a Spark query and its
DuckDB oracle SQL side by side, compare row count + schema + an
order-insensitive value hash (columns sorted by name, floats rounded).

Usable as a library from tests and as a CLI:
    python tests/oracle_check.py [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def connect_duckdb(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_multiset(df) -> dict:
    """pandas DataFrame -> multiset of row tuples over name-sorted columns."""
    cols = sorted(df.columns)
    out: dict = {}
    for row in df[cols].itertuples(index=False, name=None):
        key = tuple(_norm_cell(v) for v in row)
        out[key] = out.get(key, 0) + 1
    return out


def compare(name: str, got_df, want_df) -> list[str]:
    """Returns list of problem strings (empty = match)."""
    problems = []
    if sorted(got_df.columns) != sorted(want_df.columns):
        problems.append(
            f"schema: spark={sorted(got_df.columns)} oracle={sorted(want_df.columns)}"
        )
        return problems
    if len(got_df) != len(want_df):
        problems.append(f"rowcount: spark={len(got_df)} oracle={len(want_df)}")
    g, w = value_multiset(got_df), value_multiset(want_df)
    if g != w:
        only_g = [k for k in g if g[k] != w.get(k, 0)][:3]
        only_w = [k for k in w if w[k] != g.get(k, 0)][:3]
        problems.append(f"values: spark-only={only_g} oracle-only={only_w}")
    return problems


def run_all(names: list[str] | None = None, sf_dir: str = "/root/testdata/sf0.01"):
    sys.path.insert(0, str(ROOT))  # as a script, sys.path[0] is tests/
    import __spark_entry__ as E
    from tests.conftest import make_spark

    spark = make_spark("local[8]", shuffle_partitions=8)
    con = connect_duckdb(sf_dir)
    queries = E.queries()
    oracles = E.oracle_sql()
    names = names or list(queries)
    failures = 0
    for name in names:
        try:
            got = queries[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS {name}: {len(got)} rows (no oracle — rows-only check)")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        problems = compare(name, got, want)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"OK   {name}: {len(got)} rows")
    spark.stop()
    return failures


if __name__ == "__main__":
    sys.exit(1 if run_all(sys.argv[1:] or None) else 0)
