"""Measure the Python Data Source (Arrow-boundary) overhead of
``format("cassandra_cells")`` against the native parquet path on the SAME
cell data — the r05 verdict's one unmeasured headline-class property.

Four legs, each timed as median of ``--trials`` warmed runs at
$SPARK_GRAFT_SF_DIR (default sf0.1):

- write_parquet / write_dsv2: the ~600k-cell events store (encoded super
  cells with ttl) written via ``df.write.parquet`` vs the cell-store
  writer (task temp files + rename commit, batch-capped row groups).
- read_parquet / read_dsv2: full-store scan + aggregate via
  ``spark.read.parquet`` vs the cell-store reader (token-bucket splits,
  paged Arrow batches, slice pushdown path engaged by a column_name
  range filter).

Prints ONE JSON line; the recorded numbers live in BASELINE.md. At 100 TB
the same ratio governs: the DSv2 seam pays one Arrow serialization each
way per batch — acceptable for a connector seam (the live-client slot),
not for paths parquet already serves, which is why only q84 uses it.

Usage: python tools/dsv2_overhead.py [--trials N]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _median_timed(fn, trials: int) -> float:
    times = []
    for _ in range(trials):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(statistics.median(times), 3)


def main() -> None:
    from hive_cassandra_spark import codecs, datasource
    from hive_cassandra_spark.session import get_spark

    trials = 3
    if "--trials" in sys.argv:
        trials = int(sys.argv[sys.argv.index("--trials") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dsv2-overhead")
    datasource.register(spark)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    cells = ev.select(
        codecs.encode_col(F.col("user_id"), "bigint").alias("row_key"),
        codecs.encode_col(F.col("event_type"), "string").alias("column_name"),
        codecs.encode_col(F.col("event_id"), "bigint").alias("sub_column_name"),
        codecs.encode_col(F.col("user_id"), "bigint").alias("value"),
        F.lit(1).cast("long").alias("ts"),
        ((F.col("event_id") % 100) + 1).cast("int").alias("ttl_s"),
    ).repartition(8, F.col("row_key"))
    cells.cache().count()  # isolate the write legs from the encode cost
    n_rows = cells.count()

    base = tempfile.mkdtemp(prefix="dsv2_overhead_")
    pq_store, ds_store = f"{base}/pq", f"{base}/ds"

    def write_parquet():
        cells.write.mode("overwrite").parquet(pq_store)

    def write_dsv2():
        (
            cells.write.format("cassandra_cells")
            .option("batch_size", 500)
            .mode("overwrite")
            .save(ds_store)
        )

    def _agg(df):
        df.filter(F.col("column_name") >= F.lit(b"a")).agg(
            F.count(F.lit(1)), F.min("row_key"), F.max("sub_column_name")
        ).collect()

    def read_parquet():
        _agg(spark.read.parquet(ds_store))  # same files both legs

    def read_dsv2():
        _agg(spark.read.format("cassandra_cells").load(ds_store))

    # fifth leg: the STREAMING sink (q112/q91/q116's fixture cost) — same
    # cells through writeStream in ONE availableNow micro-batch, isolating
    # micro-batch-engine setup + the commit-log write from the data cost.
    import shutil
    import uuid

    src_dir = f"{base}/stream_src"
    cells.write.mode("overwrite").parquet(src_dir)
    stream_schema = spark.read.parquet(src_dir).schema

    def write_stream_dsv2():
        run = uuid.uuid4().hex[:8]
        store, ckpt = f"{base}/ss_{run}", f"{base}/ck_{run}"
        q = (
            spark.readStream.schema(stream_schema)
            .parquet(f"{src_dir}/*.parquet")
            .writeStream.format("cassandra_cells")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start(store)
        )
        q.awaitTermination()
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)

    # one warmup of each leg (codegen + JVM), then timed trials
    for leg in (
        write_parquet, write_dsv2, read_parquet, read_dsv2, write_stream_dsv2
    ):
        leg()
    out = {
        "metric": "dsv2_vs_parquet_sec",
        "sf_dir": sf_dir,
        "rows": n_rows,
        "trials": trials,
        "write_parquet": _median_timed(write_parquet, trials),
        "write_dsv2": _median_timed(write_dsv2, trials),
        "read_parquet": _median_timed(read_parquet, trials),
        "read_dsv2": _median_timed(read_dsv2, trials),
        "write_stream_dsv2": _median_timed(write_stream_dsv2, trials),
    }
    out["write_ratio"] = round(out["write_dsv2"] / out["write_parquet"], 2)
    out["read_ratio"] = round(out["read_dsv2"] / out["read_parquet"], 2)
    out["stream_write_ratio"] = round(
        out["write_stream_dsv2"] / out["write_dsv2"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
