"""Scalar function library for the curation job: text, dedup and
curation operators.

These extend the engine beyond the reference's operator set with the
operations a large-scale training-data pipeline needs (exact and
near-duplicate removal, incremental dedup against a signature store,
PII scrubbing, sampling, decontamination, chunking and packing).  The
reference's extension point for scalar logic is Jinja filter plugins
(/root/reference/lib/plugins.py:34-53); ours is plain Column
expressions (JVM, codegen) — no Python UDF on any of these paths.
"""
