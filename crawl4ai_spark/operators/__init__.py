"""Operators: the distributed building blocks beyond plain DataFrame
verbs — the cuckoo seen filter, frontier analytics, and the
training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing)."""
