"""``occ_ingest``: delta commits through the OCC protocol, snapshot reads
beside them, and compaction plus vacuum every few commits.

Why: the OCC protocol, ``codecs`` encoding and the per-commit listing
cost do the work; that listing cost grows with store entries until
compaction resets it. The reads beside the writes expose a write-side
gain that costs reads.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa

import fixtures
from op import Op

ROWS = 4000
DELTA_CELLS = 1000  # cells per delta commit
NEW_SHARE, TOMBSTONE_SHARE = 0.25, 0.25  # the rest are updates
COMMITS_PER_CYCLE = 3  # compaction and vacuum run after this many commits
T0 = 1_700_000_000_000
VALUE_COLS = [
    ("o_custkey", "bigint"), ("o_orderstatus", "string"), ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
]
_CELL_SCHEMA = "row_key binary, column_name binary, value binary, ts bigint"


def _key(i: int) -> bytes:
    return f"o{i:07d}".encode()


class OccIngest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        rng = np.random.default_rng(ctx.seed)
        self.orders = fixtures.orders(rng, ROWS)
        self.names = ["rk"] + [n for n, _ in VALUE_COLS]
        self.types = ["string"] + [t for _, t in VALUE_COLS]
        self.counts: dict = {}

    # ------------------------------------------------------------ set-up --

    def build(self, i: int) -> None:
        from hive_cassandra_spark import handler, sink

        spark, tr = self.ctx.spark, self.ctx.tracer
        d = os.path.join(self.ctx.workdir, f"build-{i}")
        self.path, self.tables_path = os.path.join(d, "store"), os.path.join(d, "tables")
        self.table = handler.define_table("orders_cf", self.path, self.names, self.types)
        rows = self.reset()
        schema = ", ".join(f"{n} {t}" for n, t in zip(self.names, self.types))
        with tr.span("sink.to_cells"):
            cells = sink.to_cells(spark.createDataFrame(rows, schema), self.table.mapping,
                                  self.types, clock_millis=T0)
        with tr.span("sink.occ_commit"):
            res = sink.occ_commit(spark, self.path, cells, expected_version=0, snapshot=True)
        if not res["committed"] or res["version"] != 1:
            raise RuntimeError(f"snapshot commit failed: {res}")
        self.known = self._files()

    def reset(self) -> pa.Table:
        """Start the replay over from the snapshot; returns its rows."""
        rows = self.orders.rename_columns(["rk"] + self.names[1:])
        rows = rows.set_column(0, "rk", pa.array([_key(i).decode() for i in range(ROWS)]))
        self.commit_no = 0
        # the replay: (rk, column) -> (value, ts) of the LWW winner
        self.state: dict = {}
        for n, t in VALUE_COLS:
            for k, v in zip(rows["rk"].to_pylist(), rows[n].to_pylist()):
                self.state[(k.encode(), n.encode())] = (fixtures.encode(v, t), T0)
        self.next_key = ROWS
        self.raw_cells = len(self.state)
        self.version = 1
        self.tables_version = 0
        self.digests = {1: self._digest()}
        self.user_bytes = self.bytes_written = 0
        self.entries, self.files_per_commit, self.compactions = [], [], []
        self.conflicts = self.dropped = 0
        return rows

    def _files(self) -> dict:
        return {f: os.path.getsize(f)
                for p in (self.path, self.tables_path)
                for f in glob.glob(os.path.join(p, "**", "part-*.parquet"), recursive=True)}

    def _account_writes(self) -> int:
        """Bytes of part files that appeared since the last call."""
        now = self._files()
        new = sum(s for f, s in now.items() if f not in self.known)
        self.known = now
        self.bytes_written += new
        return new

    def _digest(self) -> tuple:
        """(winners, live winners, sum of CRC-32s, sum of ts) of the replay."""
        n = live = crc = ts_sum = 0
        for (rk, cn), (v, ts) in self.state.items():
            n += 1
            live += v is not None
            crc += fixtures.cell_crc(rk, cn, v)
            ts_sum += ts
        return n, live, crc, ts_sum

    # --------------------------------------------------------------- ops --

    def warmup_ops(self):
        # two cycles: CPU per cycle still fell 10-15% over the first three
        return self.cycle_ops(-2) + self.cycle_ops(-1)

    def snapshot_counts(self) -> None:
        live = sum(fixtures.cell_bytes(rk, cn, v) for (rk, cn), (v, _) in self.state.items()
                   if v is not None)
        store = sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.path, "part-*.parquet")))
        self.counts = {
            "bytes_written_per_user_byte": self.bytes_written / self.user_bytes,
            "store_bytes_per_live_byte": store / live,
            "codecs.bytes_per_cell": store / len(self.state),
            "sink.bytes_written": float(self.bytes_written),
            "sink.files_per_commit": sum(self.files_per_commit) / len(self.files_per_commit),
            "sink.store_entries": sum(self.entries) / len(self.entries),
            "sink.compact.cells_in_per_out": (
                sum(i for i, _ in self.compactions) / sum(o for _, o in self.compactions)),
        }

    def cycle_ops(self, cycle: int):
        """Ops of one cycle. The replay advances while the list is built
        (outside any op's timed window); each check compares against the
        state captured for it."""
        rng = np.random.default_rng([self.ctx.seed, cycle + 2])
        ops = [self._commit(rng), self._read(None)]
        pin = self.version
        ops += [self._commit(rng), self._commit_tables(rng)]
        ops += [self._commit(rng), self._read(pin)]
        ops += [self._compact(), self._vacuum()]
        return ops

    def _delta(self, rng):
        """The next delta's rows and tombstones, applied to the replay."""
        self.commit_no += 1
        ts = T0 + 1000 * self.commit_no
        live = [k for k, (v, _) in self.state.items() if v is not None]
        n_new_rows = int(DELTA_CELLS * NEW_SHARE) // len(VALUE_COLS)
        n_tomb = int(DELTA_CELLS * TOMBSTONE_SHARE)
        n_upd = DELTA_CELLS - n_new_rows * len(VALUE_COLS) - n_tomb
        picks = rng.choice(len(live), n_upd + n_tomb, replace=False)
        fresh = fixtures.orders(rng, n_upd + n_new_rows)
        rows: dict[str, list] = {n: [] for n in self.names}
        by_row: dict[bytes, dict] = {}
        for i, p in enumerate(picks[:n_upd]):
            rk, cn = live[p]
            by_row.setdefault(rk, {})[cn] = fresh[cn.decode()][i].as_py()
        for i in range(n_new_rows):
            rk = _key(self.next_key)
            self.next_key += 1
            by_row[rk] = {n.encode(): fresh[n][n_upd + i].as_py() for n, _ in VALUE_COLS}
        for rk, vals in by_row.items():
            rows["rk"].append(rk.decode())
            for n in self.names[1:]:
                rows[n].append(vals.get(n.encode()))
        types = dict(VALUE_COLS)
        for rk, vals in by_row.items():
            for cn, v in vals.items():
                self.state[(rk, cn)] = (fixtures.encode(v, types[cn.decode()]), ts)
        tombs = [live[p] for p in picks[n_upd:]]
        for rk, cn in tombs:
            self.state[(rk, cn)] = (None, ts)
        submitted = sum(fixtures.cell_bytes(rk, cn, self.state[(rk, cn)][0])
                        for rk, vals in by_row.items() for cn in vals)
        submitted += sum(fixtures.cell_bytes(rk, cn, None) for rk, cn in tombs)
        self.raw_cells += DELTA_CELLS
        table = pa.table({"rk": pa.array(rows["rk"])} | {
            n: pa.array(rows[n], self.orders.schema.field(n).type) for n in self.names[1:]})
        return table, tombs, ts, submitted

    def _cells_df(self, table, tombs, ts):
        from hive_cassandra_spark import sink

        spark, tr = self.ctx.spark, self.ctx.tracer
        schema = ", ".join(f"{n} {t}" for n, t in zip(self.names, self.types))
        with tr.span("sink.to_cells"):
            cells = sink.to_cells(spark.createDataFrame(table, schema), self.table.mapping,
                                  self.types, clock_millis=ts)
        dead = spark.createDataFrame([(rk, cn, None, ts) for rk, cn in tombs], _CELL_SCHEMA)
        return cells.unionByName(dead)

    def _commit(self, rng):
        from hive_cassandra_spark import sink

        table, tombs, ts, submitted = self._delta(rng)
        expected = self.version
        self.version += 1
        self.digests[self.version] = self._digest()
        tr = self.ctx.tracer

        def run():
            cells = self._cells_df(table, tombs, ts)
            with tr.span("sink.occ_commit"):
                return sink.occ_commit(self.ctx.spark, self.path, cells, expected_version=expected)

        def check(res):
            self.user_bytes += submitted
            self._account_writes()
            self.files_per_commit.append(res["files"])
            self.entries.append(len(os.listdir(self.path)))
            return res["committed"] and res["version"] == expected + 1 and not res["conflict"]

        op = Op("write", "occ_commit", run, check, units=DELTA_CELLS)
        op.detail = {"arg": self.digests[self.version]}
        return op

    def _commit_tables(self, rng):
        from hive_cassandra_spark import sink

        # a delta of its own, committed as one atomic two-table version of
        # a second store; it does not touch the main store's replay
        saved = (dict(self.state), self.next_key, self.raw_cells)
        table, tombs, ts, submitted = self._delta(rng)
        self.state, self.next_key, self.raw_cells = saved
        expected, tag = self.tables_version, f"batch-{self.commit_no}"
        self.tables_version += 1
        tr = self.ctx.tracer

        def run():
            cells = self._cells_df(table, tombs, ts)
            meta = self.ctx.spark.createDataFrame([(self.commit_no, DELTA_CELLS)],
                                                  "commit_no int, cells int")
            with tr.span("sink.occ_commit_tables"):
                return sink.occ_commit_tables(self.ctx.spark, self.tables_path,
                                              {"cells": cells, "meta": meta},
                                              expected_version=expected, tag=tag)

        def check(res):
            self.user_bytes += submitted
            self._account_writes()
            return (res["committed"] and res["version"] == expected + 1
                    and sink.store_tags(self.tables_path).get(expected + 1) == tag)

        return Op("write", "occ_commit_tables", run, check, units=DELTA_CELLS)

    def _read(self, as_of):
        from pyspark.sql import functions as F
        from hive_cassandra_spark import sink, source

        want = self.digests[as_of or self.version]
        units = self.raw_cells
        tr = self.ctx.tracer

        def run():
            with tr.span("sink.occ_read"):
                cells = sink.occ_read(self.ctx.spark, self.path, as_of_version=as_of)
            with tr.span("source.lww_latest"):
                win = source.lww_latest(cells)
            key = F.concat("row_key", "column_name", F.coalesce("value", F.lit(b"")))
            with tr.span("action"):
                return win.agg(F.count(F.lit(1)), F.count("value"),
                               F.sum(F.crc32(key)), F.sum("ts")).collect()[0]

        return Op("scan", "occ_read_as_of" if as_of else "occ_read", run,
                  lambda got: tuple(got) == want, units=units)

    def probe_defects(self) -> dict:
        return {}

    def final_check(self) -> bool:
        """The store's last-write-wins cells at run end, compared cell by
        cell with the replay of the seeded deltas."""
        from hive_cassandra_spark import sink, source

        got = source.lww_latest(sink.occ_read(self.ctx.spark, self.path)).toArrow()
        return {(rk, cn): (v, ts) for rk, cn, v, ts in zip(
            *(got[c].to_pylist() for c in ("row_key", "column_name", "value", "ts")))} == self.state

    def _compact(self):
        from hive_cassandra_spark import sink

        cells_in = self.raw_cells
        self.state = {k: v for k, v in self.state.items() if v[0] is not None}
        cells_out = self.raw_cells = len(self.state)
        self.version += 1
        self.digests = {self.version: self._digest()}
        version = self.version
        tr = self.ctx.tracer

        def run():
            with tr.span("sink.occ_compact_store"):
                return sink.occ_compact_store(self.ctx.spark, self.path)

        def check(res):
            self._account_writes()
            self.compactions.append((res["cells_in"], res["cells_out"]))
            self.conflicts += res["conflicts"]
            self.dropped += res["vacuumed"]
            return (res["cells_in"], res["cells_out"], res["version"], res["conflicts"]) == (
                cells_in, cells_out, version, 0)

        return Op("maint", "occ_compact_store", run, check, units=cells_in)

    def _vacuum(self):
        from hive_cassandra_spark import sink

        floor = self.version
        tr = self.ctx.tracer

        def run():
            with tr.span("sink.occ_vacuum"):
                return sink.occ_vacuum(self.path)

        def check(res):
            self.dropped += res["dropped_parts"]
            return res["floor"] == floor

        return Op("maint", "occ_vacuum", run, check, units=0)

    # ----------------------------------------------------------- layers --

    def layer_metrics(self, tr, recs) -> dict:
        out = dict(self.counts)
        for name in ("sink.occ_commit", "sink.occ_commit_tables", "sink.occ_read"):
            out[f"{name}.s"] = _mean(tr.durations(name))
        out["sink.compact.s"] = _mean(tr.durations("sink.occ_compact_store"))
        out["sink.conflicts"] = float(self.conflicts)
        # part files dropped per maintenance pass; compaction already
        # vacuums the parts it supersedes, so occ_vacuum finds few left
        out["sink.vacuum.dropped_parts"] = self.dropped / max(1, len(self.compactions))
        full = [r for r in recs if r["kind"] == "occ_read"]
        if full:
            out["source.lww.shuffle_bytes_per_cell"] = _mean(
                [r.get("shuffle_write_bytes", 0) / r["units"] for r in full])
        return out


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0
