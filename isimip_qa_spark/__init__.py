"""isimip_qa_spark — a from-scratch PySpark-native web-text QA engine.

Recasts the per-dataset check/assessment pattern of ISI-MIP/isimip-qa
(reference at /root/reference: extractions = incremental aggregations,
regions/periods = scopes, artifacts = cached results, plots = second-stage
rollups) as a partition-parallel quality-filter DAG over Common-Crawl-style
page tables, built on the DataFrame API only (no RDDs, no custom Catalyst
rules).

Layout:
  session     — tuned SparkSession factory (AQE, Arrow, UTC)
  catalog     — table IO with explicit schemas (Iceberg-swappable)
  functions/  — column-expression + pandas-UDF building blocks
  operators/  — reference-operator twins, dedup, ANN, multimodal
  queries/    — registry of (Spark query, DuckDB oracle SQL) pairs
  plans/      — QA stage DAG, checkpointing, skew salting, lineage
  sources/    — deterministic synthetic pages generator
  streaming/  — Structured Streaming variant of the metrics stage
"""

from ._lazyzip import install as _install_lazy_zip_invalidation

__version__ = "0.1.0"

# every package UDF is pickled by reference, so each Python worker that
# runs one imports this package in its first task and skips the per-task
# zip-listing re-reads in all later ones (see _lazyzip)
_install_lazy_zip_invalidation()
