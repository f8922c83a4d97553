"""crawl4ai_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A brand-new distributed re-expression of the crawl semantics of the
reference engine (cbwinslow/crawl4ai, studied read-only at
/root/reference — see SURVEY.md): a partitioned priority frontier,
an exact hash-anti-join URL-seen set over canonicalized and hashed
URLs, robots-aware per-host politeness, and an HTML →
markdown/media extraction pipeline implemented as vectorized pandas
UDFs emitting interleaved text+media span documents.

Everything here is DataFrame/SQL-first: state lives in snapshot-
versioned parquet tables (the Iceberg stand-in for this sandbox — the
table API is the same MERGE/snapshot shape), hot scalar work is native
Catalyst expressions, and Python appears only inside a handful of
Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from crawl4ai_spark.session import get_spark  # noqa: F401
