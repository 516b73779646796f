"""hive_cassandra_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the dvasilen/Hive-Cassandra Hive storage
handler (reference surveyed in SURVEY.md), rebuilt Spark-first.

Layers (see SURVEY.md §7):

- ``session``      — SparkSession builder with scale-aware defaults (AQE on,
                     shuffle partitions sized, Arrow on, UTC).
- ``catalog``      — keyspace/column-family-style catalog over parquet fixture
                     dirs (≙ CassandraStorageHandler + CassandraManager DDL).
- ``mapping``      — column-mapping spec ``:key,:column,:subcolumn,:value``
                     semantics (≙ AbstractColumnSerDe.java:182-274,373-408).
- ``codecs``       — Cassandra-validator byte codecs with the reference's
                     dual binary/text decode rule (≙ serde2/lazy/*).
- ``sources``      — read path: regular / transposed / cf-map table shapes.
- ``sinks``        — write path: batched, last-write-wins, implode.
- ``operators``    — relational surface + transpose + LLM-pipeline operators
                     (dedup, similarity search, text analysis, multimodal).
- ``streaming``    — Structured Streaming superset over the events table.
"""

from hive_cassandra_spark.session import _install_zip_cache_guard, get_spark  # noqa: F401
from hive_cassandra_spark.catalog import Catalog  # noqa: F401

# Every process that imports the engine stops re-reading unchanged zip
# archives on each importlib.invalidate_caches(). get_spark's workers
# fork from worker_daemon with it primed; workers of sessions built
# elsewhere get it when they unpickle an engine object.
_install_zip_cache_guard()

__version__ = "0.1.0"
