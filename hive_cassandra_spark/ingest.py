"""Schema-on-read text ingest: JSON-lines and CSV with corrupt-record
quarantine.

Every other read path in the engine consumes parquet or the cell store
(`source.py` / `datasource.py`); real training-data pipelines start one
step earlier, at raw text interchange formats — crawl extracts and data
drops ship as JSONL (one JSON object per line) or CSV, with a nonzero
malformed-line rate that MUST be quarantined, not dropped silently and
not allowed to kill a 100 TB job. This module is the §2.C extension
analogue of the reference's serde layer (the reference's row codec is
`serde/CassandraColumnSerDe.java` — Cassandra cells, covered by
`codecs.py`/`mapping.py`; this covers the text-interchange serdes a
Hive user would reach for instead: LazySimpleSerDe / JsonSerDe
territory, re-expressed as Spark's native json/csv readers).

Scale design
------------
* Both readers are Spark built-ins (JVM, whole-stage codegen Jackson /
  Univocity parsers) with an EXPLICIT schema — schema inference is a
  full extra pass over 100 TB and is refused here (``schema_ddl`` is a
  required argument, no default).
* PERMISSIVE mode + ``columnNameOfCorruptRecord``: malformed lines
  surface as rows whose data fields are NULL and whose quarantine
  column carries the raw line. One pass classifies good and bad
  together; FAILFAST (die at line 3 billion) and DROPMALFORMED (silent
  data loss) are both wrong at scale.
* Text files split by line across tasks exactly like any Hadoop text
  input — no single-task ingest; compression (gzip per part) keeps
  splits at file granularity, which is why fixtures write many parts.

Caveat (Spark contract): a query that references ONLY the corrupt
column over a raw json/csv scan is disallowed by Spark (it would
short-circuit parsing); always aggregate it alongside data columns —
``quarantine_summary`` does exactly that in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Serialize every row as one JSON object per line (UTF-8 text parts).

    ``to_json(struct(*))`` is a codegen JVM expression — escaping,
    unicode, and nested nulls follow the JSON spec, so a round-trip
    through ``read_jsonl`` with the matching schema is lossless for the
    primitive types the fixtures use. Parallelism: one part file per
    input partition, exactly like any distributed text sink.

    No query calls it; it stays public because it is the writer that
    ``read_jsonl``'s lossless round trip is pinned against — the JSONL
    producer side of the ingest contract (test_ingest).
    """
    df.select(F.to_json(F.struct(*df.columns)).alias("value")).write.mode(
        mode
    ).text(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV with header, standard quoting/escaping (Univocity writer)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """Schema-on-read JSONL: explicit schema (no inference pass),
    PERMISSIVE parse, malformed lines quarantined into ``_corrupt_record``.
    """
    return (
        spark.read.schema(f"{schema_ddl}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """Schema-on-read CSV with header: explicit schema, PERMISSIVE parse,
    malformed lines quarantined into ``_corrupt_record``."""
    return (
        spark.read.schema(f"{schema_ddl}, {CORRUPT_COL} string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def read_jsonl_stream(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """Streaming face of ``read_jsonl``: FileStreamSource over a JSONL
    directory with the same explicit-schema PERMISSIVE quarantine
    contract — the continuous-ingest front door (a crawler drops part
    files; the stream picks up each file exactly once and malformed
    lines land in the quarantine column, never kill the query). The
    same ``quarantine_summary`` aggregate runs as a streaming
    aggregation; with availableNow + complete mode the bounded replay
    equals the batch classification row-for-row (q167's oracle is
    q160's oracle verbatim)."""
    return (
        spark.readStream.schema(f"{schema_ddl}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def quarantine_summary(
    df: DataFrame,
    group_col: str,
    sum_col: str,
    quarantine_label: str = "__quarantined__",
) -> DataFrame:
    """One-pass good/bad classification: good rows group by ``group_col``,
    malformed rows collapse into one ``quarantine_label`` bucket (their
    data fields are NULL, so the sum contributes 0). Single hash
    aggregate — the scan is read exactly once, and the aggregate
    references data columns alongside the corrupt column, satisfying
    Spark's corrupt-column-only restriction.

    Output: (bucket, n_rows, sum_<sum_col>) — quarantined count is an
    auditable first-class row, never a silent drop.
    """
    bucket = (
        F.when(F.col(CORRUPT_COL).isNotNull(), F.lit(quarantine_label))
        .otherwise(F.coalesce(F.col(group_col).cast("string"), F.lit("?")))
        .alias("bucket")
    )
    return df.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(
                F.col(CORRUPT_COL).isNull(), F.coalesce(F.col(sum_col), F.lit(0))
            ).otherwise(F.lit(0))
        ).cast("long").alias(f"sum_{sum_col}"),
    )
