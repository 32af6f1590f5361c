"""pixelspark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference daily usage-billing batch
(Trans-ltd/web-pixel-billing-batch), re-expressed Spark-first.

Layout:
  session.py        SparkSession factory (AQE on, UTC, tuned shuffle)
  schemas.py        StructType registry + testdata loaders
  io.py             sources/sinks: append w/ stamp, schema-align,
                    tableExists guard (reference: src/services/bigquery.ts)
  ops/scalar.py     scalar function pack F1-F13 (built-in expressions only)
  ops/billing.py    the domain pipeline (reference: src/services/billing.ts)
  ops/relational.py joins/aggregates/set-op helpers
  ops/windows.py    latest-state, top-N, analytic windows
  ops/external.py   rate-limited idempotent external charge sink (S8)
  ops/llm.py        LLM-data-pipeline pack: dedup, MinHash-LSH, SimHash,
                    ANN similarity, text analysis
  ops/multimodal.py binary-column plumbing (decode stubs, real Spark side)
  report.py         report aggregation (reference: src/services/slack.ts)
  storage.py        filesystem backends (local/Hadoop) + atomic-publish
                    primitive + idempotency-ledger precondition
  table.py          snapshot-commit table format: manifest-logged parquet,
                    atomic on object stores, single-scan reads, time
                    travel, exactly-once streaming txn guard
  catalog.py        name-based table catalog: CAS-versioned bindings w/
                    persisted write-side options, O(1) rename, snapshot
                    pins + multi-table transactions (commit_multi)
  streaming/        Structured Streaming variant of the daily pipeline
"""

__version__ = "0.3.0"
