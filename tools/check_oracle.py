"""Local replica of the driver's correctness gate — strictly stronger.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, sorted column names, and the
full sorted value multiset.

Round-3 hardening (VERDICT r02 item 2): the r02 driver failed q64/q65 on
hash only while this gate passed them, for two reasons this version closes:

1. **Float rounding**: the old gate rounded floats to 9 digits before
   comparing — weaker than the driver's hash. Now floats compare by exact
   ``repr`` (bit-for-bit shortest decimal), no rounding.
2. **Fetch-path type skew**: DuckDB's ``sum()`` of integers returns
   HUGEINT, which ``fetchall()`` yields as a Python int (compares equal to
   Spark's long) but the driver's pandas/Arrow fetch renders as float64
   ("71.0" vs "71" → hash mismatch with rows+schema green). This gate now
   (a) REFUSES any oracle whose result schema contains HUGEINT / UHUGEINT /
   DECIMAL — cast them in the SQL — and (b) cross-checks the *type
   category* (int / float / str / bool / bytes / date / ts / array-of-X)
   of every column between the Spark result and the DuckDB result, so an
   int-vs-float skew fails locally even when the stringified values match.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--vanilla]
"""

from __future__ import annotations

import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# DuckDB result types the driver's fetch path renders differently than
# fetchall() does — ban them outright; the oracle SQL must CAST.
BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def _duck_category(t: str) -> str:
    """Map a DuckDB type string to a comparison category."""
    t = t.upper()
    if t.endswith("[]"):
        return "array<" + _duck_category(t[:-2]) + ">"
    if t.startswith("DECIMAL") or t in ("HUGEINT", "UHUGEINT"):
        return "banned"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "BLOB":
        return "bytes"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return t.lower()


def _spark_category(t: str) -> str:
    """Map a Spark simpleString dtype to the same comparison category."""
    t = t.lower()
    m = re.match(r"array<(.*)>$", t)
    if m:
        return "array<" + _spark_category(m.group(1)) + ">"
    if t.startswith("decimal"):
        return "banned"
    if t in ("tinyint", "smallint", "int", "bigint", "byte", "short", "long"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t == "binary":
        return "bytes"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "ts"
    return t


def normalize(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if v != v:
            return "nan"
        # strict: exact shortest-repr, NO rounding (driver-parity or stronger)
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


def main():
    import duckdb

    from hive_cassandra_spark.session import get_spark
    import __spark_entry__ as entrymod

    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    if vanilla:
        # driver-parity mode: a bare session with NONE of session.py's
        # confs — every query must self-pin what it needs
        # (session.ensure_session_confs via the register() wrapper)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("oracle-check-vanilla")
            .master("local[32]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            scats = {c: _spark_category(t) for c, t in sdf.dtypes}
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            continue
        bad_spark = [c for c, cat in scats.items() if "banned" in cat]
        if bad_spark:
            failures.append(name)
            print(f"FAIL {name}: spark emits decimal column(s) {bad_spark} — "
                  "cast to bigint/double (driver fetch renders these unstably)")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            ocats = {c: _duck_category(str(t)) for c, t in zip(rel.columns, rel.types)}
            orows = rel.fetchall()
        except Exception:
            failures.append(name)
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            continue
        dt = time.time() - t0
        bad = [f"{c}:{str(t)}" for c, t in zip(rel.columns, rel.types)
               if "banned" in ocats[c]]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: oracle emits {bad} — the driver's "
                  "pandas/Arrow fetch renders HUGEINT/DECIMAL as float64; "
                  "CAST(... AS BIGINT/DOUBLE) in the oracle SQL")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: schema spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        catdiff = [(c, scats[c], ocats[c]) for c in scols if scats[c] != ocats.get(c)]
        if catdiff:
            failures.append(name)
            print(f"FAIL {name}: type-category skew (col, spark, oracle): {catdiff} — "
                  "an int-vs-float skew hashes differently at the driver even "
                  "when values print equal here")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        sk, ok_ = rows_key(srows, scols), rows_key(orows, ocols)
        if sk != ok_:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sk, ok_) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs: {diff}")
            continue
        print(f"PASS {name}: rows={len(srows)} ({dt:.1f}s)")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
