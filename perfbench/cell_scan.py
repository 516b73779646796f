"""``cell_scan``: the read path over a regular-mapped cell store, its
transposed copy and a secondary-index store.

Why: ``source``, ``codecs`` decode, ``datasource`` and ``index`` do nearly
all of the work; ``sink`` is idle after set-up, so this workload is the
bypass for write-side changes.

Two read paths of the engine are known to return wrong results and stay
out of the timed mix, because a benchmark run must not fail an op:
``row_key IN (...)`` through ``cassandra_cells`` raises in the reader,
and ``handler.read_table`` reads a deleted cell back with its older
value. ``probe_defects`` runs both once per run, after the timed phase,
and the run prints what they returned.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import fixtures
from op import Op

ROWS = 4000
OVERWRITE_SHARE = 0.10  # cells rewritten later with a new value
T0, T1, T2 = 1_700_000_000_000, 1_700_000_001_000, 1_700_000_002_000
VALUE_COLS = [
    ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
    ("l_quantity", "double"), ("l_extendedprice", "double"), ("l_discount", "double"),
    ("l_returnflag", "string"), ("l_linestatus", "string"), ("l_shipdate", "timestamp"),
]
PROJECTED = ["l_quantity", "l_returnflag", "l_shipdate"]
TRANSPOSED = ["l_discount", "l_returnflag", "l_linestatus"]
INDEXED = "l_suppkey"
SLICE = ("l_discount", "l_partkey", 2)  # column-name range and cells per row
RANGE_ROWS = 40
# ops of one cycle; their order is shuffled per cycle from the seed
CYCLE = ["full", "proj", "tscan", "eq", "range", "slice", "index"]


def _key(i: int) -> str:
    return f"r{i:06d}"


class CellScan:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        rng = np.random.default_rng(ctx.seed)
        names = [c for c, _ in VALUE_COLS]
        base = fixtures.lineitem(rng, ROWS).select(names)
        fresh = fixtures.lineitem(rng, ROWS).select(names)
        over = rng.random((ROWS, len(names))) < OVERWRITE_SHARE
        keys = [_key(i) for i in range(ROWS)]

        # the rows each write pass submits, with NULL where it writes no cell
        self.base_rows = base.add_column(0, "rk", pa.array(keys))
        self.over_rows = pa.table(
            {"rk": keys} | {n: pc.if_else(pa.array(over[:, j]), fresh[n], pa.nulls(ROWS, fresh[n].type))
                            for j, n in enumerate(names)}
        )
        # raw cells as the store must hold them: (rk, column, value, ts)
        cells = []
        cols_py = {n: base[n].to_pylist() for n in names}
        fresh_py = {n: fresh[n].to_pylist() for n in names}
        final = {n: list(cols_py[n]) for n in names}
        for j, (n, t) in enumerate(VALUE_COLS):
            cn = n.encode()
            for i, k in enumerate(keys):
                rk = k.encode()
                cells.append((rk, cn, fixtures.encode(cols_py[n][i], t), T0))
                if over[i, j]:
                    cells.append((rk, cn, fixtures.encode(fresh_py[n][i], t), T1))
                    final[n][i] = fresh_py[n][i]
        self.cells = cells
        self.final = pa.table({"rk": keys} | {n: pa.array(final[n], base[n].type) for n in names})
        self.by_key: dict[bytes, list] = {}
        for c in cells:
            self.by_key.setdefault(c[0], []).append(c)
        self.winners = self._winners()
        self.expected_t = self._transposed_rows()
        self.table = None
        self.counts = {
            "store_bytes_per_live_byte": 0.0,
            "codecs.bytes_per_cell": 0.0,
        }
        types = ["string"] + [t for _, t in VALUE_COLS]
        self.table_args = (["rk"] + names, types)

    # ------------------------------------------------------------ set-up --

    def _winners(self) -> dict:
        """LWW winner per (rk, column)."""
        win = {}
        for rk, cn, v, ts in self.cells:
            cur = win.get((rk, cn))
            if cur is None or ts > cur[1]:
                win[(rk, cn)] = (v, ts)
        return win

    def build(self, i: int) -> None:
        from hive_cassandra_spark import datasource, handler, index, sink, source

        spark, tr = self.ctx.spark, self.ctx.tracer
        datasource.register(spark)
        d = os.path.join(self.ctx.workdir, f"build-{i}")
        names, types = self.table_args
        self.table = handler.define_table("lineitem_cf", os.path.join(d, "cells"), names, types)
        schema = ", ".join(f"{n} {t}" for n, t in zip(names, types))
        with tr.span("handler.write_table"):
            handler.write_table(spark.createDataFrame(self.base_rows, schema),
                                self.table, clock_millis=T0)
            handler.write_table(spark.createDataFrame(self.over_rows, schema),
                                self.table, mode="append", clock_millis=T1)

        self.ttable = handler.define_table(
            "lineitem_t", os.path.join(d, "transposed"),
            ["row_key", "column_name", "value"], ["string", "string", "string"],
        )
        with tr.span("handler.write_table"):
            handler.write_table(
                spark.createDataFrame(self.expected_t,
                                      "row_key string, column_name string, value string"),
                self.ttable, clock_millis=T0,
            )
        self.index_path = os.path.join(d, "index")
        with tr.span("index.build_value_index"):
            idx = index.build_value_index(source.read_cells(spark, self.table.path), INDEXED.encode())
            sink.write_cells(idx, self.index_path)
        live_bytes = sum(fixtures.cell_bytes(rk, cn, v)
                         for (rk, cn), (v, _) in self.winners.items() if v is not None)
        store = _dir_bytes(self.table.path)
        self.counts = {
            "store_bytes_per_live_byte": store / live_bytes,
            "codecs.bytes_per_cell": store / len(self.cells),
        }

    def final_check(self) -> bool:
        """The regular-mapped store at run end still holds exactly the
        cells set-up wrote: the read path changed nothing."""
        from hive_cassandra_spark import source

        got = source.read_cells(self.ctx.spark, self.table.path).collect()
        return _cells(got) == sorted(self.cells, key=_cell_order)

    def probe_defects(self) -> dict:
        """Run once each of the two read paths the engine is known to get
        wrong, and say what each did: "ok", "wrong result" or the error."""
        from hive_cassandra_spark import handler, sink

        spark = self.ctx.spark
        out = {"rowkey_in": _outcome(self._op_in(np.random.default_rng([self.ctx.seed, 1 << 21])))}
        # a two-row store in which one cell was deleted after it was written
        t = handler.define_table("probe_cf", os.path.join(self.ctx.workdir, "probe"),
                                 ["rk", "a", "b"], ["string", "bigint", "bigint"])
        handler.write_table(spark.createDataFrame([("k1", 1, 2), ("k2", 3, 4)],
                                                  "rk string, a bigint, b bigint"),
                            t, clock_millis=T0)
        sink.write_cells(spark.createDataFrame(
            [(b"k1", b"a", None, T2)], "row_key binary, column_name binary, value binary, ts bigint"),
            t.path, mode="append")
        want = pa.table({"rk": ["k1", "k2"], "a": pa.array([None, 3], pa.int64()),
                         "b": pa.array([2, 4], pa.int64())})
        out["read_table_tombstone"] = _outcome(Op(
            "scan", "read_table_tombstone", lambda: handler.read_table(spark, t).toArrow(),
            lambda got: _same_rows(got, want, "rk")))
        return out

    def _transposed_rows(self) -> pa.Table:
        rows = {"row_key": [], "column_name": [], "value": []}
        for n in TRANSPOSED:
            for k, v in zip(self.final["rk"].to_pylist(), self.final[n].to_pylist()):
                if v is not None:
                    rows["row_key"].append(k)
                    rows["column_name"].append(n)
                    rows["value"].append(str(v))
        return pa.table(rows)

    # --------------------------------------------------------------- ops --

    def warmup_ops(self):
        return self._ops(np.random.default_rng([self.ctx.seed, 1 << 20]))

    def cycle_ops(self, cycle: int):
        return self._ops(np.random.default_rng([self.ctx.seed, cycle]))

    def snapshot_counts(self) -> None:
        pass

    def _ops(self, rng):
        kinds = list(CYCLE)
        rng.shuffle(kinds)
        return [getattr(self, f"_op_{k}")(rng) for k in kinds]

    def _connector(self):
        return self.ctx.spark.read.format("cassandra_cells").load(self.table.path)

    def _op_full(self, rng):
        from hive_cassandra_spark import handler

        tr = self.ctx.tracer

        def run():
            with tr.span("handler.read_table"):
                df = handler.read_table(self.ctx.spark, self.table)
            with tr.span("action"):
                return df.toArrow()

        return Op("scan", "full_scan", run, lambda got: _same_rows(got, self.final, "rk"),
                  units=len(self.cells))

    def _op_proj(self, rng):
        from hive_cassandra_spark import source

        tr, (names, types) = self.ctx.tracer, self.table_args
        want = self.final.select(["rk"] + PROJECTED)
        # a row with no live cell among the wanted columns has no row
        live = pc.is_valid(want[PROJECTED[0]])
        for n in PROJECTED[1:]:
            live = pc.or_(live, pc.is_valid(want[n]))
        want = want.filter(live)
        units = sum(1 for c in self.cells if c[1].decode() in PROJECTED)

        def run():
            with tr.span("source.read_cells"):
                cells = source.read_cells(self.ctx.spark, self.table.path)
            with tr.span("source.cells_to_table"):
                df = source.cells_to_table(cells, self.table.mapping, names, types,
                                           wanted_columns=PROJECTED)
            with tr.span("action"):
                return df.toArrow()

        return Op("scan", "projected_scan", run, lambda got: _same_rows(got, want, "rk"),
                  units=units)

    def _op_tscan(self, rng):
        from hive_cassandra_spark import handler

        tr = self.ctx.tracer

        def run():
            with tr.span("handler.read_table"):
                df = handler.read_table(self.ctx.spark, self.ttable)
            with tr.span("action"):
                return df.toArrow()

        return Op("scan", "transposed_scan", run,
                  lambda got: _same_rows(got, self.expected_t, "row_key", "column_name"),
                  units=self.expected_t.num_rows)

    def _lookup(self, kind, pred, want, arg):
        tr = self.ctx.tracer

        def run():
            with tr.span("datasource.scan"):
                df = self._connector().filter(pred())
            with tr.span("action"):
                return df.collect()

        op = Op("lookup", kind, run, lambda got: _cells(got) == sorted(want, key=_cell_order),
                units=1)
        op.detail = {"arg": arg}
        return op

    def _skewed_key(self, rng) -> bytes:
        return _key(int(fixtures.skewed_index(rng, ROWS, 1)[0])).encode()

    def _op_eq(self, rng):
        from pyspark.sql import functions as F

        k = self._skewed_key(rng)
        return self._lookup("rowkey_eq", lambda: F.col("row_key") == F.lit(k), self.by_key[k],
                            k.decode())

    def _op_in(self, rng):
        from pyspark.sql import functions as F

        ks = sorted({self._skewed_key(rng) for _ in range(3)})
        want = [c for k in ks for c in self.by_key[k]]
        return self._lookup("rowkey_in", lambda: F.col("row_key").isin(*ks), want,
                            [k.decode() for k in ks])

    def _range_bounds(self, rng):
        lo = int(rng.integers(0, ROWS - RANGE_ROWS))
        return _key(lo).encode(), _key(lo + RANGE_ROWS).encode()

    def _op_range(self, rng):
        from pyspark.sql import functions as F

        a, b = self._range_bounds(rng)
        c1, c2 = SLICE[0].encode(), SLICE[1].encode()
        want = [c for c in self.cells if a <= c[0] < b and c1 <= c[1] <= c2]
        pred = lambda: ((F.col("row_key") >= F.lit(a)) & (F.col("row_key") < F.lit(b))  # noqa: E731
                        & (F.col("column_name") >= F.lit(c1)) & (F.col("column_name") <= F.lit(c2)))
        return self._lookup("column_range", pred, want, [a.decode(), b.decode()])

    def _op_slice(self, rng):
        from pyspark.sql import functions as F
        from hive_cassandra_spark import source

        tr = self.ctx.tracer
        a, b = self._range_bounds(rng)
        start, finish, count = SLICE
        per_row: dict[bytes, list] = {}
        for (rk, cn), (v, ts) in sorted(self.winners.items()):
            if a <= rk < b and start <= cn.decode() <= finish:
                per_row.setdefault(rk, []).append((rk, cn, v, ts))
        want = [c for cs in per_row.values() for c in cs[:count]]

        def run():
            with tr.span("source.read_cells"):
                cells = source.read_cells(self.ctx.spark, self.table.path).filter(
                    (F.col("row_key") >= F.lit(a)) & (F.col("row_key") < F.lit(b)))
            with tr.span("source.slice_cells"):
                df = source.slice_cells(source.lww_latest(cells), start, finish, count=count)
            with tr.span("action"):
                return df.collect()

        op = Op("lookup", "slice", run, lambda got: _cells(got) == sorted(want, key=_cell_order),
                units=1)
        op.detail = {"arg": [a.decode(), b.decode()]}
        return op

    def _op_index(self, rng):
        from hive_cassandra_spark import index

        tr = self.ctx.tracer
        supp = int(fixtures.skewed_index(rng, 100, 1)[0])
        v = fixtures.encode(supp, "bigint")
        col = INDEXED.encode()
        hit = {rk for rk, cn, val, _ in self.cells if cn == col and val == v}
        want = [c for rk in sorted(hit) for c in self.by_key[rk]]

        def run():
            with tr.span("index.index_lookup"):
                df = index.index_lookup(self.ctx.spark, self.table.path, self.index_path, v)
            with tr.span("action"):
                return df.collect()

        op = Op("lookup", "index_lookup", run, lambda got: _cells(got) == sorted(want, key=_cell_order), units=1)
        op.detail = {"arg": supp, "hit_rows": len(hit)}
        return op

    # ----------------------------------------------------------- layers --

    def layer_metrics(self, tr, recs) -> dict:
        out = dict(self.counts)
        out["handler.read_table.plan_s"] = _mean(tr.durations("handler.read_table"))
        out["source.cells_to_table.plan_s"] = _mean(tr.durations("source.cells_to_table"))
        look = [r for r in recs if r["kind"] in ("rowkey_eq", "rowkey_in", "column_range")]
        out["datasource.python_s"] = _mean([r["python_cpu_s"] for r in look])
        out["index.index_lookup.s"] = _mean(tr.durations("index.index_lookup"))
        hits = [r["hit_rows"] for r in recs if r["kind"] == "index_lookup"]
        # the semi-join scans every base row; this is what pruning would cut
        out["index.base_rows_per_hit"] = ROWS / _mean(hits) if hits else 0.0
        full = [r for r in recs if r["kind"] == "full_scan"]
        if full:
            out["source.lww.shuffle_bytes_per_cell"] = (
                _mean([r.get("shuffle_write_bytes", 0) for r in full]) / len(self.cells))
            out["source.cells_per_row"] = len(self.cells) / self.final.num_rows
        out.update(self._pruning())
        return out

    def _pruning(self) -> dict:
        """Splits a connector scan plans (footer row counts bin-packed at
        the default split size, as the reader does), and cells in the row
        groups whose row-key statistics admit a looked-up key per cell
        returned — what row-group pruning leaves the reader to decode."""
        import pyarrow.parquet as pq
        from hive_cassandra_spark import datasource

        files = [pq.ParquetFile(f) for f in sorted(
            os.path.join(self.table.path, f) for f in os.listdir(self.table.path)
            if f.endswith(".parquet"))]
        splits, cur = 0, 0
        for f in files:
            cur += f.metadata.num_rows
            if cur >= datasource.DEFAULT_SPLIT_SIZE:
                splits, cur = splits + 1, 0
        groups = []
        for f in files:
            col = f.schema_arrow.get_field_index("row_key")
            for g in range(f.metadata.num_row_groups):
                rg = f.metadata.row_group(g)
                st = rg.column(col).statistics
                groups.append((st.min, st.max, rg.num_rows))
        keys = [_key(int(i)).encode() for i in fixtures.skewed_index(
            np.random.default_rng(self.ctx.seed), ROWS, 20)]
        read = sum(n for k in keys for lo, hi, n in groups if lo <= k <= hi)
        returned = sum(len(self.by_key[k]) for k in keys)
        return {
            "datasource.splits_per_scan": float(splits + (1 if cur else 0)),
            "datasource.cells_read_per_row": read / returned,
        }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _outcome(op) -> str:
    try:
        result = op.run()
    except Exception as e:
        return f"raises {type(e).__name__}: {str(e).strip().splitlines()[-1][:200]}"
    return "ok" if op.check(result) else "wrong result"


def _cell_order(c):
    return c[0], c[1], c[3], c[2] is None, c[2] or b""


def _cells(rows) -> list:
    return sorted(((bytes(r["row_key"]), bytes(r["column_name"]),
                    None if r["value"] is None else bytes(r["value"]), r["ts"]) for r in rows),
                  key=_cell_order)


def _same_rows(got: pa.Table, want: pa.Table, *keys: str) -> bool:
    """Same rows, compared column by column after sorting on ``keys``;
    timestamps are compared as epoch microseconds."""
    if got.num_rows != want.num_rows or sorted(got.column_names) != sorted(want.column_names):
        return False
    order = [(k, "ascending") for k in keys]
    got, want = got.sort_by(order), want.sort_by(order)
    for name in want.column_names:
        a, b = got[name], want[name]
        if pa.types.is_timestamp(a.type):
            a = pc.cast(a, pa.timestamp("us")).cast(pa.int64())
            b = pc.cast(b, pa.timestamp("us")).cast(pa.int64())
        if a.to_pylist() != b.to_pylist():
            return False
    return True
