"""Structured Streaming surface.

The reference's "streaming" is completion-order yield of crawl
results (SURVEY §2.11) — no event time, no watermarks.  The frontier
loop itself is deliberately iterative-batch (plans/); this package
covers the places where Structured Streaming IS the right Spark tool:
a continuous fetch→extract pipeline over an arriving pages stream,
watermarked event-time metrics over the fetch log, and an always-on
crawl that feeds a seed stream to the batch engine (crawl_stream)."""
