"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference repo ``sbuettner/logspout-kinesis-tests``.

The reference is a streaming log-ETL pipeline (logspout adapter producing
Logstash-shaped JSON into AWS Kinesis + a shard-polling consumer). This
package re-expresses that capability surface Spark-first:

- ``sources``    — batch/stream table loaders (the driver's parquet tables,
                   file-drip streaming sources standing in for Kinesis shards).
- ``functions``  — scalar/vector/text expression builders (JVM-side
                   ``pyspark.sql.functions`` compositions; no Python UDFs in
                   the hot path).
- ``operators``  — the ETL record transform (reference parity), plus the
                   LLM-data-pipeline operators (dedup, similarity search,
                   text analysis, multimodal columns) designed for 100 TB.
- ``plans``      — named query builders with matching DuckDB oracle SQL
                   (the driver's correctness surface).
- ``streaming``  — Structured Streaming wrap: micro-batch sink with
                   batching/partition-key routing/bounded retry (reference
                   producer semantics), pacing, checkpointing.

Reference parity map: see SURVEY.md §2 (operators A1-A25, C1-C13).
"""

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark"]

__version__ = "0.1.0"
