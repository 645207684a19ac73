"""financial_arbitrage_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic-Spark engine with the query and data-processing
capabilities of the reference `IrishNova/financial-arbitrage-data-pipeline`
(a three-service asyncio/ZeroMQ pipeline for cross-venue prediction-market
arbitrage): streaming snapshot ingest/enrich/sink, a cross-venue stateful
pair join ("opportunity scan"), a relational trade-record store with
aggregate queries, and a time-series analytics query API — re-expressed
on the Spark DataFrame/SQL/Structured-Streaming stack, plus the
large-scale training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout:
    session     SparkSession factory tuned for the target workload
    schemas     fixed StructType schemas (reference declares schemas by
                hand; so do we — no inference)
    sources     batch/streaming readers + deterministic domain fixtures
    operators   orderbook math, arbitrage scan, relational queries,
                dedup, similarity, text stats, multimodal plumbing
    functions   reusable column-expression helpers (pure, JVM-side)
    plans       the named-query registry (single source of truth for
                __spark_entry__.queries() / oracle_sql() / bench.py)
    streaming   Structured Streaming ingest/bifurcation/latest-per-key
"""

__version__ = "0.1.0"
