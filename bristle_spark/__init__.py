"""bristle_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the uplol/bristle pipeline (bristle ingest
+ ClickHouse-style analytics), re-expressed Spark-first.

Layout:
    session.py    SparkSession factory (UTC, AQE, ANSI off)
    catalog.py    parquet table loaders for the synthetic star schema
    registry.py   declared-query registry (name -> QuerySpec{fn, oracle})
    queries/      Group T (transcode), R (relational), L (LLM-data), S (streaming)
    functions/    portable hashing, vector math, text helpers
    transcode.py  scalar conversion surface (reference clickhouse_table.go:249-380)
    ingest/       protobuf wire decode + binding registry + batch ingest
    streaming/    micro-batch flush, bounded-buffer drop policies, late data
    multimodal/   binary-column plumbing, decoded by each payload's meta.format
"""

__version__ = "0.1.0"
