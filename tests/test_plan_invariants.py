"""Every `queries()` entry of the driver contract, checked on one
DataFrame built once per query:

- no CartesianProduct: all-pairs joins are banned everywhere — every
  join must ride a key (hash/sort-merge/bucketed) or an explicitly
  broadcast-bounded small side (BroadcastNestedLoopJoin over a
  broadcast probe set is allowed: it scales with the corpus, not
  corpus²);
- no BatchEvalPython: row-at-a-time Python UDFs are banned — Python
  reaches a plan only as Arrow-vectorized pandas UDFs
  (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas);
- its result equals its `oracle_sql()` DuckDB oracle under the strict
  comparison of `testing.oracle_check` (dtype kinds, no list cells,
  exact values); a query with no oracle fails.

This is the 100-TB smell test the per-operator tests can't give:
any future query added to `queries()` gets audited automatically.
`crawl_bfs` is included: building its DataFrame runs the whole engine
loop, and its oracle is the simulator's crawl of the same web.

`compare_frames` itself is pinned without Spark by
`test_compare_frames_is_driver_strict`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from crawl4ai_spark.testing.oracle_check import check, compare_frames, duckdb_con

_QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.fixture(scope="module")
def oracles():
    return entry_mod.oracle_sql()


@pytest.mark.parametrize("name", list(_QUERIES))
def test_no_cartesian_no_rowwise_python(spark, sf_dir, con, oracles, name):
    df = _QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: all-pairs join"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert check(df, con, oracles.get(name)) == []


def _f(**cols) -> pd.DataFrame:
    return pd.DataFrame(cols)


_TS = pd.to_datetime(["2024-01-01 10:00", "2024-01-02 11:30"])

_CASES = {
    # rejected: what the driver's hash compare rejects
    "int_vs_float": (_f(x=np.array([1, 2], "int64")),
                     _f(x=np.array([1.0, 2.0], "float64")), False),
    "list_cell": (_f(x=[[1.0, 2.0], [3.0]]), _f(x=[[1.0, 2.0], [3.0]]), False),
    "float_6th_decimal": (_f(x=[0.123456, 1.0]), _f(x=[0.123457, 1.0]), False),
    # accepted: differences the driver passes
    "int32_vs_int64": (_f(x=np.array([1, 2], "int32")),
                       _f(x=np.array([1, 2], "int64")), True),
    "datetime_ns_vs_us": (_f(t=_TS.astype("datetime64[ns]")),
                          _f(t=_TS.astype("datetime64[us]")), True),
    "reordered_rows": (_f(k=["a", "b", "c"], v=[1, 2, 3]),
                       _f(k=["c", "a", "b"], v=[3, 1, 2]), True),
    "reordered_columns": (_f(k=["a", "b"], v=[1.5, 2.5]),
                          _f(v=[1.5, 2.5], k=["a", "b"]), True),
    "nan_vs_nan": (_f(k=[1, 2], v=[np.nan, 0.5]), _f(k=[1, 2], v=[np.nan, 0.5]), True),
    "none_vs_none": (_f(k=[1, 2], s=[None, "x"]), _f(k=[1, 2], s=[None, "x"]), True),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_compare_frames_is_driver_strict(case):
    a, b, accepted = _CASES[case]
    problems = compare_frames(a, b)
    assert (problems == []) is accepted, problems
