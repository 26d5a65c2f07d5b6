"""logstream — a PySpark-native analytics engine with the query and
data-processing capabilities of ``liketic/spark-streaming-logservice``.

Everything is rebuilt idiomatically on DataFrames / Spark SQL / Structured
Streaming; nothing is ported from the reference's Scala/Java execution code.
See SURVEY.md for the capability map (reference cites use ``SQL/``, ``DS/``
etc. aliases defined there).

Layout:
    session    — tuned SparkSession factory (AQE, Arrow, broadcast thresholds)
    schema     — log-record data model: default 8-col schema, envelope
                 columns, string→typed converter battery
    offsets    — cursor/offset algebra (JSON format, sentinels, clamping)
    sources/   — the ``logstore`` Python DataSource (batch + micro-batch
                 streaming) over sharded parquet/JSON fixtures
    sinks/     — row→KV flattening writer with save-mode validation and
                 idempotent batchId commits
    operators/ — the relational query contract + LLM-data-pipeline operators
                 (dedup, similarity, text analysis, multimodal)
    streaming/ — watermarked window aggs, stream-stream joins, rate limiting
    compat/    — thin factories mirroring the reference's public API names
    worker_zipcache — stops Spark Python workers re-parsing pyspark.zip on
                 every task (CPython < 3.12 only)
"""

__version__ = "0.1.0"

from spark_streaming_logservice_spark import worker_zipcache

# Every Spark Python worker that unpickles package code imports this package
# first, so this is where the per-task zip re-scan fix reaches them.
worker_zipcache.install()

from spark_streaming_logservice_spark.session import get_spark  # noqa: E402,F401
