"""Side-by-side Spark-vs-DuckDB oracle checker — a local mirror of
the driver's correctness gate, at least as strict as its hash compare:
sorted column names, row count, one dtype kind per column (int of any
width, float, bool, datetime of any unit, object), no list/array/dict/
Row cells, and exactly equal values after sorting the rows.

Run all queries:   python -m crawl4ai_spark.testing.oracle_check [sf_dir]
Run one query:     python -m crawl4ai_spark.testing.oracle_check sf_dir name
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# numpy dtype kind → the kind both frames must share
_KINDS = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}


def duckdb_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _kind(s: pd.Series) -> str:
    return _KINDS.get(s.dtype.kind, "object")


def _has_nested(s: pd.Series) -> bool:
    # pyspark Rows are tuples; DuckDB lists arrive as numpy arrays
    return s.dtype == object and bool(
        s.map(lambda v: isinstance(v, (list, tuple, dict, np.ndarray))).any())


def compare_frames(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """The reasons `a` (Spark) and `b` (DuckDB) differ; [] if they match."""
    cols = sorted(a.columns)
    if cols != sorted(b.columns):
        return [f"schema mismatch: {cols} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        return [f"row count mismatch: {len(a)} vs {len(b)}"]
    problems = [f"column {c}: dtype {a[c].dtype} vs {b[c].dtype}"
                for c in cols if _kind(a[c]) != _kind(b[c])]
    problems += [f"column {c}: list cell in {side}" for c in cols
                 for side, df in (("spark", a), ("oracle", b)) if _has_nested(df[c])]
    if problems:
        return problems
    a, b = (df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
            for df in (a, b))
    for c in cols:
        bad = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
        if bad.any():
            i = int(bad.to_numpy().argmax())
            problems.append(f"column {c}: {int(bad.sum())} mismatches, first at "
                            f"row {i}: {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}")
    return problems


def check(df, con, sql: str | None) -> list[str]:
    """Run the Spark DataFrame `df` and its oracle `sql` and compare."""
    if sql is None:
        return ["no oracle"]
    return compare_frames(df.toPandas(), con.sql(sql).df())


def main(argv: list[str]) -> int:
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from crawl4ai_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb_con(sf_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = argv[1:2] or list(qs)
    failures = 0
    for name in names:
        try:
            problems = check(qs[name](spark, sf_dir), con, oracles.get(name))
        except Exception as e:  # noqa: BLE001
            problems = [f"EXCEPTION {type(e).__name__}: {str(e)[:400]}"]
        failures += bool(problems)
        print(f"FAIL  {name}: {problems[0]}" if problems else f"ok    {name}")
    print(f"\n{failures} failures / {len(names)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
