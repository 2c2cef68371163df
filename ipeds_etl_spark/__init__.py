"""ipeds_etl_spark — a PySpark-native analytics engine.

Re-implements the query and data-processing capabilities of the
reference ETL pipeline (kebe3476/ipeds_etl: paginated JSON ingest →
raw page layer → typed core layer → BI views, with idempotent
hash-guarded upserts and IPEDS sentinel-null cleaning semantics) as an
idiomatic Spark DataFrame / Spark SQL engine, plus large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns) designed for 100 TB operation.

Layout:
    session     SparkSession factory (AQE, non-ANSI cast policy)
    registry    endpoint catalog: schema / PK / candidate keys
    functions/  column-expression builders (cleaning, json, text, vectors)
    sources/    raw page sink/scan, HTTP ingest util, catalog introspection
    operators/  merge (upsert), dedup, similarity, window ops
    plans/      view layer (latest-per-key, enrichment joins, KPIs), core pipeline
    streaming/  Structured Streaming operators over the events stream
    lineage     load_log / source_trace appenders
    memostore   the one store for build-once artifacts (key rule, release)
"""

__version__ = "0.1.0"
