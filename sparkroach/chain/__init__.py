"""The blockchain-indexer engine: a Spark-first re-expression of the
reference exporter (algorand/conduit-cockroachdb).

Modules:
  schemas     — input block schema + the nine maintained table schemas
                (setup_cockroachdb.sql:7-122 re-expressed as StructTypes)
  encoding    — canonical JSON codec, addresses, txids, pagination tokens
  transforms  — pure DataFrame fns: one block micro-batch → per-table rows
  store       — bucketed merge-on-read parquet tables with MERGE semantics
  ingest      — round-gated exactly-once ingest (batch + Structured Streaming)
  query       — the Indexer read surface (idb.go:171-387) as filter
                dataclasses compiled to DataFrames
"""
