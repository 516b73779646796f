"""DSv2 connector seam: the cell store as a first-class Spark data source.

``spark.read.format("cassandra_cells")`` runs the cell store through
Spark's Python Data Source API — the exact architectural slot where a live
Cassandra client would sit. The reference expressed the same seam through
Hadoop InputFormat plumbing; each piece maps one-to-one:

- split generation from the ring, sized by ``cassandra.input.split.size``
  (65,536 keys/split — AbstractColumnSerDe.java:42,69; splits built in
  HiveCassandraStandardColumnInputFormat.getSplits):
  ``CellStoreReader.partitions()`` bin-packs the store's parquet files
  (hash-buckets of row_key, i.e. token ranges — sink.write_cells
  repartitions on the key) into ``split_size``-row splits.
- per-split host placement (HiveCassandraStandardSplit.java:13-158 carries
  start/end token + preferred hosts): each ``CellSplit`` carries a
  ``preferred_hosts`` tuple. Over a file-backed store it is synthesized
  and advisory; a live implementation fills it with the range's replica
  endpoints — the Python API records it as split metadata (the engine's
  scheduler only consumes locality from JVM sources).
- batched range paging, ``cassandra.range.size`` = 1000 rows/fetch
  (AbstractColumnSerDe.java:40,70; the resumable wide-row iterator,
  ColumnFamilyWideRowRecordReader.java:240-429): ``read()`` yields Arrow
  record batches of at most ``page_size`` rows, ordered by
  (row_key, column_name) — the slice order — within each split.
- slice-predicate pushdown (SlicePredicate push,
  HiveCassandraStandardColumnInputFormat.java:73-98): ``pushFilters()``
  accepts comparisons/equality/IN on ``column_name`` and ``row_key`` plus
  the live-cell ``value IS NOT NULL`` filter and evaluates them inside
  the pyarrow scan (row-group statistics prune); everything else is
  returned to Spark to re-apply. The slice's ``reversed`` flag
  (HiveCassandraStandardColumnInputFormat.java:88-92 pushes
  ``slice_range.reversed`` into the predicate) is the reader option
  ``reversed=true``: rows stay keyed ascending, the column slice within
  each row comes back descending — the contract get_slice makes.
- batched mutation writes, ``cassandra.batchmutate.size`` = 500
  (AbstractColumnSerDe.java:47,75; consistency coercion
  output/CassandraAbstractPut.java:39-50): ``df.write.format(
  "cassandra_cells")`` streams each task's Arrow batches into row groups
  capped at ``batch_size`` with an atomic temp-file/rename commit
  protocol (``CellStoreWriter``); the store path must be shared storage,
  the same assumption every parquet sink makes.

Scale posture: one split never materializes more than ~``split_size``
cells (the same bounded-memory contract the reference's split reader
makes), footers only are read at planning time, and no driver collect
exists anywhere — at 100 TB the store is many files and splits simply
multiply.

Fixed cost: every scan through this source makes three Python-worker
calls (create the source, push filters + plan splits, read each split),
about 0.25 CPU-s each on a 4-core host even with reused workers, because
pyspark's worker set-up calls ``importlib.invalidate_caches()``, which
re-reads ``pyspark.zip``'s directory once per zipimporter. That is the
price of the connector seam and is paid per scan, not per cell, so the
engine's own read paths bypass it: ``handler.read_table`` and
``index.index_lookup`` scan the same files as JVM parquet
(``source.read_cells``; ``store_schema`` gives them this source's column
list). Callers that query through ``cassandra_cells`` keep the three
calls, which the Python Data Source API requires.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "cassandra_cells"
DEFAULT_SPLIT_SIZE = 65536  # ≙ cassandra.input.split.size
DEFAULT_PAGE_SIZE = 1000  # ≙ cassandra.range.size

_BASE_SCHEMA = "row_key binary, column_name binary, value binary, ts bigint"
_OPTIONAL_COLS = ("sub_column_name", "ttl_s")


def _store_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return sorted(glob.glob(path))


def _vacuum_watermark(path: str) -> int | None:
    """Batch id up to which the commit log was vacuumed (see
    ``sink.vacuum_commit_log``), or None for an un-vacuumed store."""
    marker = os.path.join(path, "_vacuum_watermark")
    if os.path.isdir(path) and os.path.exists(marker):
        with open(marker) as fh:
            txt = fh.read().strip()
            return int(txt) if txt else None
    return None


def store_schema(path: str) -> str:
    """The store's scan schema: ``sink.to_cells``'s columns, then each
    optional column (sub_column_name, ttl_s) that ANY sampled footer has —
    appends may have introduced it after the store was created, and
    footer-only sampling keeps planning cheap."""
    parts = [_BASE_SCHEMA]
    files = _store_files(path)
    if files:
        import pyarrow.parquet as pq

        names: set[str] = set()
        for f in files[:16]:
            names |= set(pq.read_schema(f).names)
        for c in _OPTIONAL_COLS:
            if c in names:
                parts.append(f"{c} binary" if c == "sub_column_name" else f"{c} int")
    return ", ".join(parts)


@dataclass
class CellSplit(InputPartition):
    """One scan split: a token-range bucket of the store. ``files`` are the
    parquet hash-buckets assigned to this split; ``preferred_hosts`` is the
    placement metadata a live cluster client would populate with replica
    endpoints (advisory here — see module docstring)."""

    files: tuple
    est_rows: int
    preferred_hosts: tuple


class CellStoreReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "cassandra_cells needs a store path: .load('<dir>')"
            )
        self.path = path
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        if self.split_size < 1 or self.page_size < 1:
            raise ValueError("split_size and page_size must be >= 1")
        # ≙ slice_range.reversed: column order flips, row order does not
        self.reversed = str(options.get("reversed", "false")).lower() in (
            "true",
            "1",
        )
        # time travel over the streaming sink's commit log: read the store
        # AS OF a micro-batch id (inclusive). Only meaningful for
        # stream-written stores — their part names carry the batch id that
        # defines a commit order; validated in partitions().
        aob = options.get("as_of_batch")
        self.as_of_batch = None if aob is None else int(aob)
        self.out_schema = schema
        self.pushed: list[Filter] = []

    # -- slice-predicate pushdown ---------------------------------------
    _PUSHABLE = (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
        In,
    )

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            attr = f.attribute[0] if len(f.attribute) == 1 else None
            if isinstance(f, self._PUSHABLE) and attr in (
                "column_name",
                "row_key",
                "ts",
            ):
                self.pushed.append(f)
            elif isinstance(f, IsNotNull) and attr in (
                "value",
                "row_key",
                "column_name",
            ):
                self.pushed.append(f)
            else:
                yield f  # unsupported → Spark re-applies it

    def _arrow_filter(self):
        import pyarrow.dataset as ds

        expr = None
        for f in self.pushed:
            name = f.attribute[0]
            field = ds.field(name)
            if isinstance(f, EqualTo):
                e = field == f.value
            elif isinstance(f, GreaterThan):
                e = field > f.value
            elif isinstance(f, GreaterThanOrEqual):
                e = field >= f.value
            elif isinstance(f, LessThan):
                e = field < f.value
            elif isinstance(f, LessThanOrEqual):
                e = field <= f.value
            elif isinstance(f, In):
                e = field.isin(list(f.value))
            else:  # IsNotNull
                e = field.is_valid()
            expr = e if expr is None else expr & e
        return expr

    # -- split generation -----------------------------------------------
    def partitions(self) -> list[CellSplit]:
        import pyarrow.parquet as pq

        files = _store_files(self.path)
        if not files:
            raise FileNotFoundError(f"no parquet files under {self.path}")
        if self.as_of_batch is not None:
            import re

            wm = _vacuum_watermark(self.path)
            if wm is not None and self.as_of_batch < wm:
                raise ValueError(
                    f"as_of_batch={self.as_of_batch} precedes the vacuum "
                    f"watermark {wm}: batches <= {wm} were folded into one "
                    "consolidated part (sink.vacuum_commit_log) and that "
                    "history no longer exists — fail closed rather than "
                    "return a partial snapshot"
                )
            kept = []
            for f in files:
                m = re.search(_BATCH_PART_RE, os.path.basename(f))
                if m is None:
                    raise ValueError(
                        f"{os.path.basename(f)}: as_of_batch needs a "
                        "stream-written store (batch-id part names define "
                        "the commit order); this store holds batch-job "
                        "parts with no batch id"
                    )
                if int(m.group(1)) <= self.as_of_batch:
                    kept.append(f)
            files = kept
            if not files:
                return []
        # footer-only row counts: planning never scans data
        sized = [(f, pq.read_metadata(f).num_rows) for f in files]
        splits: list[CellSplit] = []
        cur: list[str] = []
        cur_rows = 0

        def flush():
            nonlocal cur, cur_rows
            if cur:
                idx = len(splits)
                splits.append(
                    CellSplit(
                        files=tuple(cur),
                        est_rows=cur_rows,
                        # synthesized RF=3-style placement; a live client
                        # fills the range's actual replica endpoints here
                        preferred_hosts=tuple(
                            f"node-{(idx + r) % 8}" for r in range(3)
                        ),
                    )
                )
                cur, cur_rows = [], 0

        for f, n in sized:
            cur.append(f)
            cur_rows += n
            if cur_rows >= self.split_size:
                flush()
        flush()
        return splits

    # -- batched, ordered scan ------------------------------------------
    def read(self, split: CellSplit):
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        # unify per-file schemas so a store whose later jobs appended the
        # optional columns (sub_column_name/ttl_s) still scans as one
        # dataset — files lacking a column surface it as nulls, the same
        # sparse-cell semantics the store's readers already assume
        unified = pa.unify_schemas([pq.read_schema(f) for f in split.files])
        dataset = ds.dataset(list(split.files), format="parquet", schema=unified)
        avail = set(dataset.schema.names)
        wanted = [f.name for f in self.out_schema.fields]
        projected = [c for c in wanted if c in avail]
        table = dataset.scanner(
            columns=projected,
            filter=self._arrow_filter(),
        ).to_table()
        # the slice order the reference's iterator guarantees; bounded by
        # the split's ~split_size rows (same contract as the Thrift reader).
        # Only sortable over columns the projection kept — a user schema
        # may omit the key columns entirely.
        col_order = "descending" if self.reversed else "ascending"
        sort_keys = [
            (c, d)
            for c, d in (("row_key", "ascending"), ("column_name", col_order))
            if c in projected
        ]
        if sort_keys:
            table = table.sort_by(sort_keys)
        # requested columns the store lacks (e.g. ttl_s) surface as nulls
        arrays, names = [], []
        for f in self.out_schema.fields:
            names.append(f.name)
            if f.name in avail:
                arrays.append(table.column(f.name))
            else:
                arrays.append(pa.nulls(table.num_rows))
        out = pa.table(dict(zip(names, arrays)))
        # page-size Arrow batches ≙ cassandra.range.size fetch units
        yield from out.to_batches(max_chunksize=self.page_size)


DEFAULT_BATCH_SIZE = 500  # ≙ cassandra.batchmutate.size


@dataclass
class CellCommit(WriterCommitMessage):
    """One task's pending output: a hidden temp file the driver publishes
    (renames) at commit — the all-or-nothing protocol standing in for the
    reference's per-batch ``batch_mutate`` acknowledgements."""

    tmp_file: str
    rows: int


class CellStoreWriter(DataSourceArrowWriter):
    """df.write.format("cassandra_cells"): the mutation path of the seam.

    ≙ the reference's output side (output/CassandraAbstractPut.java:39-50
    consistency coercion, batch_mutate flushing sized by
    ``cassandra.batchmutate.size`` = 500): each executor task streams its
    Arrow batches into one hidden temp file whose row groups are capped at
    ``batch_size`` rows — the bounded unit of work a mutation flush ships —
    and the driver publishes all temp files atomically on commit (or
    deletes them on abort). ``consistency`` is validated with the
    reference's coercion rule (bad → ONE) and recorded; over a file store
    it has no runtime effect, exactly as SURVEY §2.A row 17 prescribes.
    """

    _REQUIRED = ("row_key", "column_name", "value", "ts")

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        import uuid

        from hive_cassandra_spark.sink import normalize_consistency

        path = options.get("path")
        if not path:
            raise ValueError("cassandra_cells needs a store path: .save('<dir>')")
        self.path = path
        self.batch_size = int(options.get("batch_size", DEFAULT_BATCH_SIZE))
        if self.batch_size < 1:
            raise ValueError("batch_size must be >= 1")
        self.consistency = normalize_consistency(options.get("consistency"))
        self.overwrite = overwrite
        # the driver constructs the writer once and pickles it to every
        # task: job_id scopes temp files AND committed names to this job,
        # so appends never clobber a prior job's parts and the stale-temp
        # sweep can't touch a concurrent job's in-flight files
        self.job_id = uuid.uuid4().hex[:12]
        names = {f.name for f in schema.fields}
        missing = [c for c in self._REQUIRED if c not in names]
        if missing:
            raise ValueError(f"cell schema missing columns: {missing}")

    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f"._tmp-{self.job_id}-{uuid.uuid4().hex}.parquet"
        )
        writer, rows = None, 0
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(tmp, batch.schema)
            # row groups capped at batch_size: the batch_mutate flush unit
            writer.write_table(
                pa.Table.from_batches([batch]), row_group_size=self.batch_size
            )
            rows += batch.num_rows
        if writer is None:  # empty task still commits (zero-row message)
            return CellCommit(tmp_file="", rows=0)
        writer.close()
        return CellCommit(tmp_file=tmp, rows=rows)

    def commit(self, messages):
        import glob as _glob

        if self.overwrite:
            for old in _glob.glob(os.path.join(self.path, "*.parquet")):
                os.remove(old)
        for i, m in enumerate(messages):
            if m and m.tmp_file:
                # committed names carry the job id + task index: appends to
                # a non-empty store never collide with earlier jobs' parts
                os.rename(
                    m.tmp_file,
                    os.path.join(
                        self.path, f"part-{self.job_id}-{i:05d}.parquet"
                    ),
                )
        self._sweep_stale_tmp()

    def abort(self, messages):
        for m in messages or []:
            if m and m.tmp_file and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)
        self._sweep_stale_tmp()

    def _sweep_stale_tmp(self):
        """Failed/speculative tasks never hand the driver a commit message,
        so their hidden temp files would otherwise litter the store forever.
        Only THIS job's prefix is swept — dot-prefixed names are invisible
        to readers, so deleting them is safe; another job's temps are not
        ours to touch."""
        import glob as _glob

        for stale in _glob.glob(
            os.path.join(self.path, f"._tmp-{self.job_id}-*.parquet")
        ):
            try:
                os.remove(stale)
            except OSError:
                pass  # a racing cleanup already removed it


class CellStoreStreamWriter(CellStoreWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("cassandra_cells")``: the streaming face of
    the mutation sink — each micro-batch lands as one atomically-committed
    set of part files, the continuous analogue of the reference's
    ``batch_mutate`` flushes (sink.stream_to_cells is the foreachBatch
    route; this is the first-class sink the Python Data Source API
    enables). Task temp files reuse the batch writer's hidden-name
    protocol; committed names additionally carry the micro-batch id, and
    ``commit(batchId)`` first sweeps any part files a previously-crashed
    attempt of the SAME batch left behind (checkpoint replay re-runs the
    batch under a new writer/job id), making replay idempotent: a batch's
    cells appear in the store exactly once however often it retries.
    Concurrent independent streams into one store are undefined, exactly
    as concurrent batch overwrites are.
    """

    # write(iterator) is inherited: same Arrow-batch → batch_size-capped
    # row-group temp file per task, streaming or not.

    def _batch_parts(self, batch_id: int) -> str:
        return os.path.join(self.path, f"part-*-b{batch_id:09d}-*.parquet")

    def commit(self, messages, batchId: int) -> None:
        import glob as _glob

        wm = _vacuum_watermark(self.path)
        if wm is not None and batchId <= wm:
            raise ValueError(
                f"micro-batch {batchId} replayed at or below the vacuum "
                f"watermark {wm}: committing would sweep the consolidated "
                "prefix part and destroy the folded history — a replay "
                "this old means the checkpoint and the store disagree; "
                "fail closed"
            )
        if self.overwrite:
            # complete/truncate output mode: each batch REPLACES the store
            # (the batch-overwrite semantics, once per micro-batch)
            for old in _glob.glob(os.path.join(self.path, "*.parquet")):
                os.remove(old)
        for stale in _glob.glob(self._batch_parts(batchId)):
            os.remove(stale)  # a crashed attempt of THIS batch half-committed
        for i, m in enumerate(messages):
            if m and m.tmp_file:
                os.rename(
                    m.tmp_file,
                    os.path.join(
                        self.path,
                        f"part-{self.job_id}-b{batchId:09d}-{i:05d}.parquet",
                    ),
                )
        self._sweep_stale_tmp()

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m and m.tmp_file and os.path.exists(m.tmp_file):
                os.remove(m.tmp_file)
        self._sweep_stale_tmp()


_BATCH_PART_RE = r"part-[0-9a-f]+-b(\d{9})-\d{5}\.parquet$"


def _commit_log_batches(path: str) -> dict[int, list[str]]:
    """Map committed micro-batch id → its part files, refusing stores whose
    parts carry no batch id (batch-job writes have no commit order a
    tailing reader can trust — read those with ``spark.read``)."""
    import re

    batches: dict[int, list[str]] = {}
    for f in _store_files(path):
        m = re.search(_BATCH_PART_RE, os.path.basename(f))
        if m is None:
            raise ValueError(
                f"{os.path.basename(f)}: cassandra_cells streaming "
                "read tails a stream-written store (batch-id part "
                "names from the streaming sink); this store holds "
                "batch-job parts — read it with spark.read instead"
            )
        batches.setdefault(int(m.group(1)), []).append(f)
    return batches


@dataclass
class CommitLogPartition(InputPartition):
    """One stream-scan split: a single committed part file plus the field
    order the scan must produce."""

    file: str
    fields: tuple


class CellStoreParallelStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("cassandra_cells")``: tail a
    STREAM-WRITTEN cell store as a streaming source — the CDC-ish read
    face of the seam. The streaming sink's commit protocol is a
    log-structured sequence of atomically-published micro-batches
    (``part-<job>-b<batchid>-<task>.parquet``), so the batch id IS the
    offset: a micro-batch covers every fully-committed batch id in
    [start, end), and a committed range replays deterministically for
    failure recovery. Offsets are a single integer — no unbounded
    seen-file lists.

    ``partitions()`` plans one split per committed part file and
    ``read()`` runs IN THE EXECUTORS, yielding Arrow record batches — so
    a tailed store scales exactly like the batch scan path. Batch-job
    parts (no batch id in the name) are refused with a pointer to
    ``spark.read``: only the streaming sink's commit log defines an
    ordering a tailing reader can trust.
    """

    def __init__(self, options: dict, schema: StructType) -> None:
        path = options.get("path")
        if not path:
            raise ValueError(
                "cassandra_cells needs a store path: .load('<dir>')"
            )
        self.path = path
        self.fields = tuple(f.name for f in schema.fields)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        batches = _commit_log_batches(self.path)
        return {"pos": (max(batches) + 1) if batches else 0}

    def partitions(self, start: dict, end: dict):
        batches = _commit_log_batches(self.path)
        return [
            CommitLogPartition(file=f, fields=self.fields)
            for b in sorted(batches)
            if start["pos"] <= b < end["pos"]
            for f in sorted(batches[b])
        ]

    def read(self, partition: CommitLogPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(partition.file)
        arrays = [
            t.column(n) if n in t.column_names else pa.nulls(t.num_rows)
            for n in partition.fields
        ]
        yield from pa.table(
            dict(zip(partition.fields, arrays))
        ).to_batches()

    def commit(self, end: dict) -> None:
        pass  # the commit log is retained; nothing to clean per offset


class CellStoreDataSource(DataSource):
    """format("cassandra_cells"): see module docstring."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return store_schema(self.options.get("path", ""))

    def reader(self, schema: StructType) -> CellStoreReader:
        return CellStoreReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> CellStoreWriter:
        return CellStoreWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> CellStoreStreamWriter:
        return CellStoreStreamWriter(dict(self.options), schema, overwrite)

    def streamReader(self, schema: StructType) -> CellStoreParallelStreamReader:
        return CellStoreParallelStreamReader(dict(self.options), schema)


def register(spark) -> None:
    """Idempotently register the format with a session."""
    spark.dataSource.register(CellStoreDataSource)
