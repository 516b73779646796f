"""Scaling evidence for the OCC index-maintenance tier (r11 verdict
item 3): the q188/q191/q196/q200/q203 bench rows all lean on the claim
"the recurring cost is one delta per micro-batch scanning ONLY that
batch" — argued from the code until now. This measures it on both
retrieval modalities:

- **delta vs batch size** (fixed corpus): the wall and shuffle of ONE
  ``update_postings_index_occ`` / ``update_ivfpq_index_occ`` commit
  must track the batch (~linearly) — the bootstrap is untimed (it is
  the nightly cost, measured separately as postings_build/ivfpq_build
  in SCALING_r12).
- **delta vs corpus size** (fixed batch): the same-size delta against
  a 1x / 5x / 10x bootstrap corpus must be ~FLAT — the maintenance
  path never rescans the corpus (its meta read is the one-row merged
  stats; its postings/codes append never touches existing parts).

The streaming faces (q196/q203) call these exact update functions once
per micro-batch (foreachBatch), so the measured delta cost IS the
per-micro-batch recurring cost; stream startup/checkpoint overhead is
a per-query constant, not a per-batch scan.

Writes MAINT_SCALING_r12.json at the repo root and prints it.
Usage: python tools/maintenance_scaling.py [--trials 3]
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import sys
import time
import urllib.request

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def shuffle_write_bytes(spark) -> int:
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{url}/api/v1/applications/{app}/stages"
    ) as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def replicate(src: DataFrame, n: int, key: str) -> DataFrame:
    return functools.reduce(
        DataFrame.unionByName,
        [
            src.withColumn(key, F.col(key) + F.lit(i * 100_000_000))
            if i
            else src
            for i in range(n)
        ],
    )


def timed_commit(spark, fn, trials: int) -> dict:
    """Median wall + shuffle of ``fn()`` (each call must be a FRESH
    delta commit — the caller varies batch_id per trial)."""
    secs, shufs, added = [], [], None
    for t in range(trials):
        spark.catalog.clearCache()
        s0 = shuffle_write_bytes(spark)
        t0 = time.perf_counter()
        res = fn(t)
        secs.append(time.perf_counter() - t0)
        shufs.append(shuffle_write_bytes(spark) - s0)
        added = res
    return {
        "sec": round(statistics.median(secs), 3),
        "shuffle_mb": round(statistics.median(shufs) / 1e6, 2),
        "added": added,
    }


def main() -> None:
    from hive_cassandra_spark.operators import retrieval, similarity
    from hive_cassandra_spark.session import get_spark

    trials = 3
    if "--trials" in sys.argv:
        trials = int(sys.argv[sys.argv.index("--trials") + 1])
    spark = get_spark(
        "maint-scaling",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "4243",
            "spark.driver.memory": "12g",
            "spark.ui.retainedStages": "100000",
        },
    )
    base = f"/tmp/hcs_maint_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out: dict = {
        "metric": "occ_maintenance_scaling",
        "trials": trials,
        "load1_at_start": round(os.getloadavg()[0], 2),
        "rows": {},
    }

    # ---- materialize delta batches once (a real incoming batch is a
    # file drop, not a live plan — read cost is part of the delta scan)
    def batch_dir(src: DataFrame, key: str, n: int, tag: str) -> str:
        d = f"{base}/batch_{tag}_{n}"
        # ids far above any replica offset so every trial's delta is new
        src.orderBy(key).limit(n).withColumn(
            key, F.col(key) + F.lit(10_000_000_000)
        ).write.parquet(d)
        return d

    # ---- postings: delta vs batch size at fixed 1x corpus
    doc_batches = {n: batch_dir(docs, "doc_id", n, "docs") for n in (250, 500, 1000)}
    rec: dict = {}
    for n, d in doc_batches.items():
        idx = f"{base}/post_b{n}"
        r = retrieval.build_postings_index_occ(spark, docs, idx)
        assert r["committed"], r
        delta = spark.read.parquet(d)
        m = timed_commit(
            spark,
            lambda t, idx=idx, delta=delta, n=n: retrieval.
            update_postings_index_occ(
                spark, idx,
                delta.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(t * 1_000_000)
                ),
                batch_id=f"b{n}-{t}",
            )["docs_added"],
            trials,
        )
        assert m["added"] == n, m
        rec[f"batch_{n}"] = m
    for n in (500, 1000):
        rec[f"sec_ratio_{n}_vs_250"] = round(
            rec[f"batch_{n}"]["sec"] / max(rec["batch_250"]["sec"], 1e-9), 2
        )
    out["rows"]["postings_delta_vs_batch"] = rec
    print(f"# postings_delta_vs_batch: {json.dumps(rec)}", file=sys.stderr)

    # ---- postings: fixed 500-doc delta vs 1x/5x/10x bootstrap corpus
    rec = {}
    for mult in (1, 5, 10):
        idx = f"{base}/post_c{mult}"
        big = replicate(docs, mult, "doc_id")
        r = retrieval.build_postings_index_occ(spark, big, idx)
        assert r["committed"], r
        delta = spark.read.parquet(doc_batches[500])
        m = timed_commit(
            spark,
            lambda t, idx=idx, delta=delta: retrieval.
            update_postings_index_occ(
                spark, idx,
                delta.withColumn(
                    "doc_id", F.col("doc_id") + F.lit(t * 1_000_000)
                ),
                batch_id=f"c-{t}",
            )["docs_added"],
            trials,
        )
        assert m["added"] == 500, m
        rec[f"corpus_{mult}x"] = m
    for mult in (5, 10):
        rec[f"sec_ratio_{mult}x_vs_1x"] = round(
            rec[f"corpus_{mult}x"]["sec"]
            / max(rec["corpus_1x"]["sec"], 1e-9),
            2,
        )
    out["rows"]["postings_delta_vs_corpus"] = rec
    print(f"# postings_delta_vs_corpus: {json.dumps(rec)}", file=sys.stderr)

    # ---- IVF-PQ: delta vs batch size at fixed 1x corpus
    emb_batches = {n: batch_dir(emb, "vec_id", n, "emb") for n in (100, 200, 400)}
    rec = {}
    for n, d in emb_batches.items():
        idx = f"{base}/ivf_b{n}"
        r = similarity.build_ivfpq_index_occ(
            spark, emb, idx, n_cells=8, m=4, k_codes=8
        )
        assert r["committed"], r
        delta = spark.read.parquet(d)
        m = timed_commit(
            spark,
            lambda t, idx=idx, delta=delta, n=n: similarity.
            update_ivfpq_index_occ(
                spark, idx,
                delta.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(t * 1_000_000)
                ),
                batch_id=f"b{n}-{t}",
            )["vecs_added"],
            trials,
        )
        assert m["added"] == n, m
        rec[f"batch_{n}"] = m
    for n in (200, 400):
        rec[f"sec_ratio_{n}_vs_100"] = round(
            rec[f"batch_{n}"]["sec"] / max(rec["batch_100"]["sec"], 1e-9), 2
        )
    out["rows"]["ivfpq_delta_vs_batch"] = rec
    print(f"# ivfpq_delta_vs_batch: {json.dumps(rec)}", file=sys.stderr)

    # ---- IVF-PQ: fixed 200-vector delta vs 1x/5x/10x bootstrap corpus
    rec = {}
    for mult in (1, 5, 10):
        idx = f"{base}/ivf_c{mult}"
        big = replicate(emb, mult, "vec_id")
        r = similarity.build_ivfpq_index_occ(
            spark, big, idx, n_cells=8, m=4, k_codes=8
        )
        assert r["committed"], r
        delta = spark.read.parquet(emb_batches[200])
        m = timed_commit(
            spark,
            lambda t, idx=idx, delta=delta: similarity.
            update_ivfpq_index_occ(
                spark, idx,
                delta.withColumn(
                    "vec_id", F.col("vec_id") + F.lit(t * 1_000_000)
                ),
                batch_id=f"c-{t}",
            )["vecs_added"],
            trials,
        )
        assert m["added"] == 200, m
        rec[f"corpus_{mult}x"] = m
    for mult in (5, 10):
        rec[f"sec_ratio_{mult}x_vs_1x"] = round(
            rec[f"corpus_{mult}x"]["sec"]
            / max(rec["corpus_1x"]["sec"], 1e-9),
            2,
        )
    out["rows"]["ivfpq_delta_vs_corpus"] = rec
    print(f"# ivfpq_delta_vs_corpus: {json.dumps(rec)}", file=sys.stderr)

    out["load1_at_end"] = round(os.getloadavg()[0], 2)
    with open(f"{_ROOT}/MAINT_SCALING_r12.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
