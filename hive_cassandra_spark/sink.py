"""Write path: typed DataFrame → binary cell store (≙ the reference's
SerDe serialize + batched mutation sink).

The reference's write pipeline (SURVEY.md §3.2) is: per output row,
``TableMapping.getWritable`` serializes the key column then one
``CassandraColumn`` per mapped column
(/root/reference/src/main/java/org/apache/hadoop/hive/cassandra/serde/TableMapping.java:56-229,
RegularTableMapping.java:24-104, TransposedMapping.java:33-72), each cell
stamped with a writer-assigned ``System.currentTimeMillis()`` timestamp
(RegularTableMapping.java:84,94), and ``CassandraPut.write`` flushes
``batch_mutate`` every ``cassandra.batchmutate.size`` = 500 mutations
(output/CassandraPut.java:94-141, CassandraAbstractPut.java:61-77).

Spark-first re-expression: the cell store is a DataFrame
``(row_key binary, column_name binary, [sub_column_name binary,]
value binary, ts bigint)`` produced by one narrow projection + explode —
no shuffle at all for the regular shape; the batching/consistency knobs
become writer options (``maxRecordsPerFile`` is the parquet analogue of the
mutation batch). Timestamps come from an injectable clock so tests are
deterministic (the reference is nondeterministic there — SURVEY.md §7 risk
register).

Everything here is a narrow transform until the final write, so the plan
scales linearly: at 100 TB the cell fan-out is |rows| × |columns| rows
streamed partition-by-partition, never collected.
"""

from __future__ import annotations

import functools
import glob
import os
import re
import shutil
import time
import uuid
from types import SimpleNamespace
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, functions as F

from hive_cassandra_spark.codecs import encode_col
from hive_cassandra_spark.mapping import ColumnMapping
from hive_cassandra_spark.session import local_df

# Reference defaults carried as option schema (AbstractColumnSerDe.java:66-75).
DEFAULT_BATCH_MUTATE_SIZE = 500
CONSISTENCY_LEVELS = {
    "ONE", "TWO", "THREE", "QUORUM", "LOCAL_QUORUM", "EACH_QUORUM", "ALL", "ANY",
}


def normalize_consistency(level: str | None) -> str:
    """Bad/unknown consistency levels coerce to ONE, matching
    CassandraAbstractPut.getConsistencyLevel
    (output/CassandraAbstractPut.java:39-50)."""
    if level and level.upper() in CONSISTENCY_LEVELS:
        return level.upper()
    return "ONE"


def _ts_column(clock_millis: int | None) -> Column:
    """Writer-assigned cell timestamp: injectable for reproducible tests,
    else epoch millis at write time (≙ System.currentTimeMillis() per cell,
    RegularTableMapping.java:84,94)."""
    if clock_millis is not None:
        return F.lit(clock_millis).cast("long")
    return F.unix_millis(F.current_timestamp())


def to_cells(
    df: DataFrame,
    mapping: ColumnMapping,
    hive_types: list[str],
    clock_millis: int | None = None,
) -> DataFrame:
    """Typed relational rows → binary cells per the column mapping.

    ``hive_types[i]`` is the declared Hive type of relational column *i*
    (arity must match the mapping — CassandraColumnSerDe.java:57-63 is
    enforced upstream by ``parse_mapping``).

    Shapes:
    - regular: one cell per non-key mapped column; whole-CF ``map`` columns
      fan out one cell per entry (RegularTableMapping.java:54-91);
    - transposed: one cell per row from the ``:column``/``:value``
      (and optional ``:subcolumn``) fields (TransposedMapping.java:33-72).

    Output schema: (row_key, column_name, [sub_column_name,] value, ts),
    all binary except ts. Null values produce no cell (a null cell is a
    delete/tombstone in Cassandra; the reference likewise skips them).
    """
    if len(hive_types) != len(mapping.entries):
        raise ValueError(
            f"arity mismatch: {len(hive_types)} types vs {len(mapping.entries)} mapping entries"
        )
    cols = df.columns
    key_bytes = encode_col(F.col(cols[mapping.key_index]), hive_types[mapping.key_index])
    ts = _ts_column(clock_millis)

    if mapping.transposed:
        entry_to_idx = {e: i for i, e in enumerate(mapping.entries)}
        col_i = entry_to_idx[":column"]
        val_i = entry_to_idx[":value"]
        out = [
            key_bytes.alias("row_key"),
            encode_col(F.col(cols[col_i]), hive_types[col_i]).alias("column_name"),
        ]
        if mapping.has_subcolumn:
            sub_i = entry_to_idx[":subcolumn"]
            out.append(
                encode_col(F.col(cols[sub_i]), hive_types[sub_i]).alias("sub_column_name")
            )
        out += [
            _encode_value(F.col(cols[val_i]), hive_types[val_i]).alias("value"),
            ts.alias("ts"),
        ]
        return df.select(*out).filter(F.col("value").isNotNull())

    # regular shape: encode every plain mapped column to binary first (a
    # pandas_udf can't live inside a higher-order lambda), build the
    # (name, value) struct array from the already-binary columns, explode.
    # cf-map columns fan out via their own explode and union in — all
    # narrow transforms, no shuffle.
    cf_map_idx = set(mapping.cf_map_indexes)
    plain_idx = [
        i for i in range(len(cols)) if i != mapping.key_index and i not in cf_map_idx
    ]
    enc = df.select(
        key_bytes.alias("row_key"),
        *[_encode_value(F.col(cols[i]), hive_types[i]).alias(f"__v{i}") for i in plain_idx],
        *[F.col(cols[i]).alias(f"__m{i}") for i in cf_map_idx],
    )
    structs = [
        F.struct(
            F.lit(mapping.entries[i]).cast("binary").alias("column_name"),
            F.col(f"__v{i}").alias("value"),
        )
        for i in plain_idx
    ]
    out = (
        enc.select("row_key", F.explode(F.array(*structs)).alias("cell"))
        .select("row_key", "cell.column_name", "cell.value")
        if structs
        else None
    )
    for i in cf_map_idx:
        # map<string, T> column: one cell per entry, key utf-8, value encoded
        # per the map's declared value type ('map<string,double>' → 'double')
        vtype = _map_value_type(hive_types[i])
        m = enc.select("row_key", F.explode(F.col(f"__m{i}")).alias("k", "v")).select(
            "row_key",
            F.col("k").cast("binary").alias("column_name"),
            encode_col(F.col("v"), vtype).alias("value"),
        )
        out = m if out is None else out.unionByName(m)
    if out is None:
        raise ValueError("mapping has no value columns")
    return out.filter(F.col("value").isNotNull()).withColumn("ts", ts)


def _map_value_type(map_type: str) -> str:
    """'map<string,double>' → 'double'; bare 'map' defaults to string."""
    t = map_type.strip().lower()
    if t.startswith("map<") and t.endswith(">"):
        return t[4:-1].split(",", 1)[1].strip()
    return "string"


def is_complex_type(hive_type: str) -> bool:
    t = hive_type.strip().lower()
    return t.startswith(("struct", "array", "map", "uniontype"))


def _encode_value(col: Column, hive_type: str) -> Column:
    """Primitive → validator bytes; complex (struct/array/map) → JSON text
    bytes (≙ SerDeUtils.getJSONString under useJsonSerialize,
    TableMapping.java:101-133 — non-primitives flatten to JSON on write)."""
    if is_complex_type(hive_type):
        return F.to_json(col).cast("binary")
    return encode_col(col, hive_type)


def write_cells(
    cells: DataFrame,
    path: str,
    batch_size: int = DEFAULT_BATCH_MUTATE_SIZE,
    consistency: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a cell store, keyed for downstream locality.

    ``batch_size`` maps the reference's ``cassandra.batchmutate.size`` onto
    ``maxRecordsPerFile``-style batching semantics: it bounds the unit of
    work a writer flushes at once. ``consistency`` is validated and carried
    as table metadata only (no-op over parquet, as SURVEY.md §2.A #17
    prescribes). Rows are hash-distributed on row_key so one row's cells
    co-locate — the property the reference gets from Cassandra's
    partitioner and that the read path's implode relies on.
    """
    normalize_consistency(consistency)  # validate/coerce, reference-style
    (
        cells.repartition(F.col("row_key"))
        .write.option("maxRecordsPerFile", batch_size * 1000)
        .mode(mode)
        .parquet(path)
    )


def _next_lww_ts(last_ts: int, now_millis: int) -> int:
    """Next streaming LWW timestamp: wall clock, but never ≤ the previous
    batch's stamp — strict monotonicity is what makes last-write-wins mean
    last WRITE wins when micro-batches land within one millisecond (or the
    clock stalls or steps backwards)."""
    return max(now_millis, last_ts + 1)


def stream_to_cells(
    stream_df: DataFrame,
    mapping: ColumnMapping,
    hive_types: list[str],
    path: str,
    checkpoint: str,
    clock_millis: int | None = None,
):
    """Streaming face of the cell sink: every micro-batch encodes to cells
    and appends to the store; versions reconcile at read time via LWW
    (source.lww_latest), exactly as Cassandra reconciles the reference's
    per-cell timestamped mutations. Append-only parquet + idempotent LWW
    merge means at-least-once delivery upgrades to effectively-once
    semantics for the reader.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    # Monotone LWW clock across micro-batches: each batch stamps
    # _next_lww_ts = max(wall-clock epoch millis, previous batch's ts + 1).
    # Epoch-millis magnitude keeps cross-path LWW (a store written by both
    # this and the batch sink's _ts_column) following actual write order,
    # and the max() guarantees a later batch NEVER gets a smaller ts — the
    # previous pmod(batch_id, 1000) sub-second tiebreaker wrapped every
    # 1000 batches, so batches 1000 apart landing in the same second
    # inverted last-write-wins. foreachBatch runs driver-side, so closure
    # state is the standard place for this watermark (it survives
    # micro-batches of one streaming query; a restarted query re-bases
    # from wall clock, which is still monotone unless the clock itself
    # steps back).
    last_ts = {"v": -1}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        clk = clock_millis if clock_millis is not None else None
        cells = to_cells(batch_df, mapping, hive_types, clock_millis=clk)
        if clk is None:
            ts = _next_lww_ts(last_ts["v"], int(time.time() * 1000))
            last_ts["v"] = ts
            cells = cells.withColumn("ts", F.lit(ts).cast("long"))
        cells.write.mode("append").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _compact_winners(
    cells: DataFrame,
    drop_tombstones: bool,
    now_millis: int | None,
    gc_grace_s: int | None,
) -> DataFrame:
    """The compaction winner computation shared by ``occ_compact_store``
    and ``vacuum_commit_log``: per cell key (row_key, column_name[,
    sub_column_name]) keep the (ts, value[, ttl_s]) struct-max — highest
    ts wins, ties to the lexically greater value (Cassandra's
    reconciliation rule) — then apply the tombstone / gc_grace / TTL
    purge rules documented on ``occ_compact_store``."""
    cols = set(cells.columns)
    key = ["row_key", "column_name"] + (
        ["sub_column_name"] if "sub_column_name" in cols else []
    )
    extras = [c for c in ("ttl_s",) if c in cols]
    packed = F.struct(*(["ts", "value"] + extras))
    won = cells.groupBy(*key).agg(F.max(packed).alias("w"))
    flat = won.select(
        *key,
        F.col("w.value").alias("value"),
        F.col("w.ts").alias("ts"),
        *[F.col(f"w.{c}").alias(c) for c in extras],
    )
    if drop_tombstones:
        if gc_grace_s is not None and now_millis is not None:
            # purge only tombstones past the grace window; younger ones
            # keep suppressing late-arriving older writes
            flat = flat.filter(
                F.col("value").isNotNull()
                | (F.col("ts") + gc_grace_s * 1000 > F.lit(now_millis))
            )
        else:
            flat = flat.filter(F.col("value").isNotNull())
    if now_millis is not None and extras:
        flat = flat.filter(
            F.col("ttl_s").isNull()
            | (
                F.col("ts") + F.col("ttl_s").cast("long") * 1000
                > F.lit(now_millis)
            )
        )
    return flat


def recover_store(path: str) -> dict:
    """Crash recovery for a whole-directory compaction swap — the
    SSTable-replay analogue of Cassandra's startup cleanup of incomplete
    compactions. ``occ_compact_store`` never swaps directories (its
    recovery is ``occ_recover`` then ``occ_vacuum``); this resolves a
    store that an external rename-swap left mid-swap.

    The swap sequence is: write ``<path>.compacting-T`` → rename the live
    store to ``<path>.old-T`` → rename the compacted dir into ``path`` →
    delete the old dir. A crash leaves exactly one of three states, each
    detected and resolved here:

    1. ``path`` alive + leftover ``.compacting-*`` (crash before the
       first rename): the live store was never touched — drop the
       partial compaction output.
    2. ``path`` MISSING + ``.old-T`` + ``.compacting-T`` (crash between
       the renames): roll FORWARD — the compacted dir is complete (it
       was fully written before any rename), so it becomes the store and
       the old dir is dropped.
    3. ``path`` alive + leftover ``.old-*`` (crash after the second
       rename, before the delete): the swap finished — drop the old dir.

    Idempotent; returns {rolled_forward, dropped_partials, dropped_old}.
    """
    base = path.rstrip("/")
    rolled = dropped_partial = dropped_old = 0
    compacting = sorted(glob.glob(f"{base}.compacting-*"))
    olds = sorted(glob.glob(f"{base}.old-*"))
    if not os.path.exists(base):
        # state 2: finish the interrupted swap with the newest complete
        # compaction output; its paired .old- dir is then obsolete
        if compacting:
            os.rename(compacting[-1], base)
            rolled = 1
            compacting = compacting[:-1]
        elif olds:
            # no compacted dir survived (partial write was cleaned some
            # other way): roll BACK to the pre-compaction store
            os.rename(olds[-1], base)
            rolled = 1
            olds = olds[:-1]
    for d in compacting:  # states 1/2 leftovers: partial outputs
        shutil.rmtree(d)
        dropped_partial += 1
    for d in olds:  # state 3 leftovers: superseded pre-compaction dirs
        shutil.rmtree(d)
        dropped_old += 1
    return {
        "rolled_forward": rolled,
        "dropped_partials": dropped_partial,
        "dropped_old": dropped_old,
    }


VACUUM_MARKER = "_vacuum_watermark"


def vacuum_commit_log(spark, path: str, retain_after_batch: int) -> dict:
    """Delta-VACUUM analogue for the streaming sink's commit log: fold
    every micro-batch part with id ≤ ``retain_after_batch`` into ONE
    consolidated, LWW-compacted part stamped with that batch id, delete
    the originals, and record a vacuum watermark. Reads as-of any batch
    ≥ the watermark (and the unpinned full read) are unchanged —
    LWW over the consolidated prefix equals LWW over the raw prefix by
    construction — while time travel BEFORE the watermark now refuses
    fail-closed (the history is truncated, exactly Delta's post-VACUUM
    contract) and a replayed micro-batch ≤ the watermark is refused by
    the sink rather than silently destroying the folded history.

    Why it exists: the commit log is append-only, so a long-lived stream
    accumulates one part set per micro-batch forever — footer storms at
    read planning and unbounded time-travel surface. Tombstones are
    KEPT (they must keep suppressing late older writes; purging them is
    ``occ_compact_store``'s gc_grace job, a different decision).

    Crash safety by idempotent ordering: (1) consolidated parts land
    under final batch-stamped names while the originals still exist —
    duplicated cell VERSIONS are invisible to LWW readers; (2) the
    watermark is written; (3) originals are removed. A crash anywhere
    leaves a store that reads correctly (or refuses), and re-running
    the vacuum heals it. One maintainer per store at a time, like
    compaction. Returns {files_in, files_out, cells_in, cells_out,
    watermark}.
    """
    from hive_cassandra_spark import datasource

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {path}")
    ids: dict[str, int] = {}
    for f in files:
        m = re.search(datasource._BATCH_PART_RE, os.path.basename(f))
        if m is None:
            raise ValueError(
                f"{os.path.basename(f)}: vacuum needs a stream-written "
                "store (batch-id part names define the commit order)"
            )
        ids[f] = int(m.group(1))
    cutoff = int(retain_after_batch)
    prefix = [f for f in files if ids[f] <= cutoff]
    if not prefix:
        return {
            "files_in": len(files), "files_out": len(files),
            "cells_in": 0, "cells_out": 0, "watermark": None,
        }
    cells = spark.read.parquet(*prefix)
    cells_in = cells.count()
    flat = _compact_winners(
        cells, drop_tombstones=False, now_millis=None, gc_grace_s=None
    )
    tmp = f"{path}.vacuum-{uuid.uuid4().hex[:12]}"
    flat.write.mode("overwrite").parquet(tmp)
    tok = uuid.uuid4().hex
    renamed: list[str] = []
    for i, part in enumerate(
        sorted(glob.glob(os.path.join(tmp, "*.parquet")))
    ):
        dst = os.path.join(
            path, f"part-{tok}-b{cutoff:09d}-{i:05d}.parquet"
        )
        os.rename(part, dst)
        renamed.append(dst)
    n_out = len(renamed)
    marker = os.path.join(path, VACUUM_MARKER)
    prev = -1
    if os.path.exists(marker):
        with open(marker) as fh:
            prev = int(fh.read().strip() or -1)
    with open(marker, "w") as fh:
        fh.write(str(max(prev, cutoff)))
    for f in prefix:
        os.remove(f)
    shutil.rmtree(tmp, ignore_errors=True)
    # footer-only row counts: no Spark read (a glob read here makes
    # FileStreamSink log a spurious metadata-probe stack trace)
    cells_out = sum(_parquet_num_rows(f) for f in renamed)
    return {
        "files_in": len(files),
        "files_out": len(files) - len(prefix) + n_out,
        "cells_in": cells_in,
        "cells_out": cells_out,
        "watermark": max(prev, cutoff),
    }


# A published commit is one ``_occ-v%09d`` marker whose text is the
# claimant's token, then optional ``snapshot`` and ``tag:<t>`` lines,
# then the part counts it committed: ``files:<n>`` for a flat cell store,
# ``files:<table>=<k>`` per table of a multi-table artifact, and a
# compaction's ``replaced:<name>`` per legacy part it read. Parts land
# under names this regex parses back to their version; a root parquet
# file it cannot parse is a LEGACY part (the connector's or Spark's).
_PART_RE = re.compile(r"part-occ-v(\d{9})-\d{5}-[0-9a-f]+\.parquet$")


def _occ_log(path: str) -> dict:
    """The OCC log of a store: ``{version: {snapshot, tag, files,
    replaced}}`` for every published marker, ``files`` mapping table
    (None = the flat cell store) to the part count the commit recorded,
    ``replaced`` the names of the legacy parts it superseded. The ONE place
    markers are listed and parsed: head version, tags, the visible set,
    snapshot floors, pinned-read checks and vacuum retention all derive
    from a single call, so a read resolves its snapshot from one listing
    (Delta's log-snapshot rule) and a commit that publishes mid-read is
    wholly seen or wholly unseen. A marker that vanishes between the
    listing and its read is skipped."""
    log = {}
    for m in glob.glob(os.path.join(path, "_occ-v*")):
        try:
            with open(m) as fh:
                lines = fh.read().splitlines()[1:]
        except OSError:
            continue
        tag, files, replaced = None, {}, set()
        for ln in lines:
            if ln.startswith("tag:"):
                tag = ln[4:]
            elif ln.startswith("files:"):
                table, eq, n = ln[6:].rpartition("=")
                files.setdefault(table if eq else None, int(n))
            elif ln.startswith("replaced:"):
                replaced.add(ln[9:])
        log[int(os.path.basename(m)[6:])] = {
            "snapshot": lines[:1] == ["snapshot"], "tag": tag, "files": files,
            "replaced": replaced,
        }
    return log


def _occ_floor(log: dict, cap: int | None = None) -> int:
    """Highest snapshot version in ``log`` (0 = none): versions below it
    are superseded — invisible to latest reads, droppable by
    ``occ_vacuum``. ``cap`` bounds it to snapshots at or below a pinned
    version (a compaction published AFTER the pin must not supersede the
    pin's history)."""
    return max(
        (v for v, e in log.items()
         if e["snapshot"] and (cap is None or v <= cap)),
        default=0,
    )


def _occ_replaced(log: dict) -> dict:
    """``{legacy part name: version of the marker that replaced it}``."""
    return {n: v for v in sorted(log, reverse=True) for n in log[v]["replaced"]}


def _occ_dir(root: str, table: str | None) -> str:
    """Directory holding ``table``'s parts (None = the flat store root)."""
    return root if table is None else os.path.join(root, table)


def store_version(path: str) -> int:
    """Current committed version of an OCC-managed store: the highest
    PUBLISHED ``_occ-v%09d`` marker (0 = never committed). Markers are
    underscore-prefixed so every parquet reader ignores them."""
    return max(_occ_log(path), default=0)


class LocalFSClaimBackend:
    """Claim/publish atomics for the OCC commit protocol on a POSIX
    filesystem — the default backend, and the CONTRACT any object-store
    backend must honor (r10 verdict item 6: ``os.mkdir`` atomicity is a
    local stand-in; an S3/GCS deployment plugs in conditional-PUT here
    without touching the protocol above it):

    - ``claim(path, version, token)`` must atomically acquire EXCLUSIVE
      ownership of ``version`` for this store, recording ``token`` so
      recovery can match the claimant's part files: at most one caller
      ever returns True per (path, version), across processes and
      machines, and the claim persists until ``abandon``. Local:
      ``os.mkdir`` (atomic exactly-one-winner) + a token file. S3/GCS:
      conditional PUT (``If-None-Match: *`` / ``x-goog-if-generation-
      match: 0``) of ``_occ-claim-<v>`` with the token as body; a
      DynamoDB ``attribute_not_exists`` put works the same.
    - ``publish(path, version, content)`` makes the version marker
      visible atomically (readers either see the whole marker or no
      marker). Only the claim winner may call it. Local: the content is
      written to a dot-prefixed ``.occ-staging-*`` temp file in ``path``
      (invisible to the marker listing and to parquet readers; a crash
      leaves it for ``occ_recover`` to sweep) and ``os.replace``d onto
      the marker. The marker MUST land at ``<path>/_occ-v%09d`` on the
      same filesystem abstraction that serves ``path``'s data files —
      the one log reader (``_occ_log``, behind ``store_version``,
      ``store_tags`` and ``occ_read*``) lists markers there directly, so
      a backend that publishes markers elsewhere (e.g. only into a lock
      table) would leave readers blind to committed versions and
      recovery would sweep LIVE commits. On S3 that filesystem IS the
      bucket (an s3fs/fsspec mount or the committer's S3 client — a
      single-object PUT is atomic, which is all publish needs); the
      claim atomics are what S3 LACKS, and they are the part a backend
      replaces.
    - ``claim_token / pending_claims / claim_age_s / abandon`` serve
      ``occ_recover``: enumerate claims with no published marker, age
      them (a conditional-PUT backend uses the object's Last-Modified),
      and release a dead claimant's version for re-claim.

    Versions, markers, snapshot floors, and part-file naming stay in
    the protocol layer (``occ_commit*`` / ``occ_read*``) — a backend
    only supplies the two atomics and claim bookkeeping."""

    def claim(self, path: str, version: int, token: str) -> bool:
        claim = os.path.join(path, f"_occ-claim-{version:09d}")
        try:
            os.mkdir(claim)  # the atom: exactly one winner per version
        except FileExistsError:
            return False
        with open(os.path.join(claim, "token"), "w") as fh:
            fh.write(token)
        return True

    def publish(self, path: str, version: int, content: str) -> None:
        tmp = os.path.join(
            path, f".occ-staging-{version:09d}-{uuid.uuid4().hex[:8]}.marker"
        )
        with open(tmp, "w") as fh:
            fh.write(content)
        os.replace(tmp, os.path.join(path, f"_occ-v{version:09d}"))

    def claim_token(self, path: str, version: int) -> str:
        tok_file = os.path.join(
            path, f"_occ-claim-{version:09d}", "token"
        )
        if os.path.exists(tok_file):
            return open(tok_file).read().strip()
        return ""

    def pending_claims(self, path: str) -> list[int]:
        return sorted(
            int(os.path.basename(c)[11:])
            for c in glob.glob(os.path.join(path, "_occ-claim-*"))
        )

    def claim_age_s(self, path: str, version: int) -> float:
        try:
            return time.time() - os.path.getmtime(
                os.path.join(path, f"_occ-claim-{version:09d}")
            )
        except OSError:
            return float("inf")  # claim vanished: nothing to protect

    def abandon(self, path: str, version: int) -> None:
        shutil.rmtree(
            os.path.join(path, f"_occ-claim-{version:09d}"),
            ignore_errors=True,
        )


OCC_CLAIM_BACKEND: LocalFSClaimBackend = LocalFSClaimBackend()


def set_occ_claim_backend(backend) -> object:
    """Install a custom claim backend (see ``LocalFSClaimBackend`` for
    the contract) and return the previous one. It stays public with no
    caller in the package because it is the deployment seam: an
    object-store deployment, where mkdir atomicity doesn't exist,
    installs its conditional-PUT backend here, and tests use it to
    substitute fake backends."""
    global OCC_CLAIM_BACKEND
    prev, OCC_CLAIM_BACKEND = OCC_CLAIM_BACKEND, backend
    return prev


def _parquet_num_rows(path: str) -> int:
    """Row count from the parquet FOOTER (metadata-only, no column
    reads) — the per-staged-file check occ_commit uses to drop
    zero-row parts and count the rows it commits, and occ_compact_store's
    count of its input.
    Driver-side and O(parts), the same cost class as a part listing."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _read_parts(spark, files: list):
    """``spark.read.parquet(*files)`` that plans with no Spark job and
    keeps every column ANY part carries (Spark infers from the first
    footer only, through a job). Here ``pyarrow`` reads each footer's
    schema — the one Spark recorded there
    (``org.apache.spark.sql.parquet.row.metadata``), else the arrow
    schema (the connector's parts) — and the fields merge by name; the
    reader makes each nullable, and a part lacking one reads NULL."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    fields: dict = {}
    for f in files:
        meta = pq.read_metadata(f)
        recorded = (meta.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        schema = (
            StructType.fromJson(json.loads(recorded)) if recorded is not None
            else from_arrow_schema(meta.schema.to_arrow_schema())
        )
        for field in schema.fields:
            fields.setdefault(field.name, field)
    return spark.read.schema(StructType(list(fields.values()))).parquet(*files)


def _occ_commit(
    path: str,
    tables: dict,
    expected_version: int,
    snapshot: bool,
    tag: str | None = None,
    replaced=(),
) -> tuple[dict, int]:
    """The one commit routine behind ``occ_commit`` (``tables`` =
    ``{None: cells}``, parts at the store root) and
    ``occ_commit_tables`` (one subdir per table): version check, stage,
    claim, move the staged parts in, publish ONE marker. ``replaced``
    names the legacy root parts a snapshot supersedes (one
    ``replaced:<name>`` marker line each). Returns ({committed, version,
    conflict, claim_pending, files}, rows), ``rows`` summed from the
    committed parts' footers."""
    os.makedirs(path, exist_ok=True)
    cur = store_version(path)
    if cur != expected_version:
        return {
            "committed": False, "version": cur, "conflict": True,
            "claim_pending": False, "files": 0,
        }, 0
    v = cur + 1
    token = uuid.uuid4().hex[:8]
    staging = os.path.join(path, f".occ-staging-{v:09d}-{token}")

    # stage the tables as CONCURRENT write jobs (a small driver-side
    # thread pool): the per-table writes are independent, and Spark's
    # scheduler back-fills executors freed by one job's straggler tail
    # with the next job's tasks — serially, a 5-table IVF-PQ commit
    # paid 5 full job latencies for mostly-small tables. FIFO
    # scheduling keeps the first job's resource priority; atomicity is
    # untouched (nothing publishes until every staged write returned).
    #
    # Parts are sized by the data, not by how the input was split: every
    # table goes through one AQE rebalance, which coalesces a small
    # commit into one part and splits a partition larger than
    # spark.sql.adaptive.advisoryPartitionSizeInBytes (the optimized-
    # write shape of Delta and Iceberg). A cell frame rebalances on
    # row_key, as write_cells distributes, so one row's cells share a
    # part — unless AQE splits an over-size partition, which it does by
    # input partition. (With AQE off it is a plain exchange into
    # spark.sql.shuffle.partitions parts.) Every part costs each later
    # read and compaction a listed, opened and scheduled file.
    def _stage(item):
        tname, df = item
        df = (
            df.hint("rebalance", "row_key")
            if "row_key" in df.columns
            else df.hint("rebalance")
        )
        df.write.mode("overwrite").parquet(_occ_dir(staging, tname))

    if len(tables) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(3, len(tables))
        ) as pool:
            list(pool.map(_stage, tables.items()))
    else:
        for item in tables.items():
            _stage(item)
    # the claim/publish atomics ride the pluggable backend (the
    # deployment seam — LocalFSClaimBackend documents the contract)
    if not OCC_CLAIM_BACKEND.claim(path, v, token):
        shutil.rmtree(staging, ignore_errors=True)
        # distinguish a live racing writer (its marker will appear and
        # the version will advance) from a DEAD claim (no marker ever):
        # a caller that only refresh-and-retries would spin forever on
        # the latter — claim_pending tells it to occ_wait_claim first
        log = _occ_log(path)
        return {
            "committed": False, "version": max(log, default=0),
            "conflict": True, "claim_pending": v not in log, "files": 0,
        }, 0
    lines = [token]
    if snapshot:
        lines.append("snapshot")
    if tag:
        lines.append(f"tag:{tag}")
    lines += [f"replaced:{name}" for name in sorted(replaced)]
    n = rows = 0
    for tname in tables:
        dst = _occ_dir(path, tname)
        os.makedirs(dst, exist_ok=True)
        k = 0
        for f in sorted(
            glob.glob(os.path.join(_occ_dir(staging, tname), "*.parquet"))
        ):
            # drop zero-row parts instead of committing them: Spark
            # writes one empty part file even for an empty DataFrame,
            # and a streaming pipeline committing many empty micro-batch
            # deltas would accumulate junk files that every later read
            # must list and open. The marker then records the truthful
            # count 0, which is what lets a pinned as-of read tell "this
            # version was legitimately empty" from "its parts were
            # vacuumed".
            k_rows = _parquet_num_rows(f)
            if k_rows == 0:
                os.remove(f)
                continue
            rows += k_rows
            os.rename(
                f,
                os.path.join(
                    dst, f"part-occ-v{v:09d}-{k:05d}-{token}.parquet"
                ),
            )
            k += 1
        n += k
        # the recorded part counts let an as-of read tell "this version
        # committed parts that were later vacuumed" (fail closed) from
        # "nothing to see" — markers are the only durable record once
        # parts are gone; a version that never carried table T stays a
        # legitimate no-op for T
        lines.append(f"files:{k}" if tname is None else f"files:{tname}={k}")
    shutil.rmtree(staging, ignore_errors=True)
    OCC_CLAIM_BACKEND.publish(path, v, "\n".join(lines))
    return {
        "committed": True, "version": v, "conflict": False,
        "claim_pending": False, "files": n,
    }, rows


def occ_commit(
    spark, path: str, cells, expected_version: int, snapshot: bool = False,
) -> dict:
    """Optimistic-concurrency commit for a cell store — the Delta /
    Iceberg commit-protocol shape (public): a writer declares the store
    version it READ its inputs at, and the commit succeeds only if it
    atomically claims ``expected_version + 1``; a concurrent writer that
    claimed it first forces this writer to REFRESH and retry against the
    new state instead of silently clobbering it (lost-update
    prevention — the transactional layer the reference's thrift
    batch_mutate, AbstractColumnSerDe.java:47,75, never had).

    Protocol (claim/publish atomics via the pluggable
    ``OCC_CLAIM_BACKEND`` seam — ``LocalFSClaimBackend`` is the default
    and documents the contract an S3/GCS conditional-PUT or lock-table
    backend must honor):
    1. stage the data files under a hidden ``.occ-staging-*`` dir,
       through one AQE rebalance (on ``row_key`` for a cell frame): the
       part count follows the data, not the input's partitioning — a
       small commit lands as one part, a partition above
       ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` splits;
    2. CLAIM the version: ``backend.claim(path, v, token)`` — atomic,
       exactly one winner per version, the claim is permanent; a loser
       cleans its staging and reports the conflict with the fresh
       version so the caller can re-derive and retry;
    3. move the staged files in under version-stamped names
       (``part-occ-v%09d-*``), then PUBLISH the ``_occ-v%09d`` marker
       (``token``, optional ``snapshot``, ``files:<n>``) — atomically:
       the marker appears whole or not at all. Every reader resolves
       the store from the published markers through one log listing
       (``_occ_log``), so a torn commit is never observed as the
       current VERSION.

    Torn-commit isolation applies to ``store_version`` and to readers
    that go through ``occ_read`` (which lists only part files whose
    version has a published marker). A raw ``spark.read.parquet(path)``
    glob over the directory sees unpublished parts too — committed
    consumers must read via ``occ_read`` (q183 does) or run
    ``occ_recover`` first.

    With ``snapshot=True`` the committed cells are a FULL REPLACEMENT of
    every version ≤ ``expected_version`` (the compaction commit shape):
    the published marker records the snapshot flag, ``occ_read`` then
    lists only parts of versions ≥ the newest snapshot, and
    ``occ_vacuum`` may physically drop the superseded parts at leisure.
    Legacy root parts (no OCC version in their name) stay visible: only
    ``occ_compact_store`` replaces them, by name. Because the snapshot
    claims the next version through the SAME mkdir atom, a concurrent
    append that wins the race forces the compactor to refresh (re-read,
    now including the new append) and retry — the lost-update window of
    a rename-swap compaction is gone.

    A crash between claim and publish leaves a claim without a marker:
    ``occ_recover`` sweeps those (drops the claim's token-matched part
    files) so the version becomes claimable again. A loser whose mkdir
    failed against a claim that has NO published marker gets
    ``claim_pending=True`` in its result: the claimant is either still
    in flight or dead, and a refresh-and-retry loop alone will spin
    forever on a dead claim. ``occ_update`` is that loop: one attempt
    reads ONE snapshot of the marker log, detects a retried batch from
    its tags, commits at its version and waits out a pending claim
    (``occ_wait_claim``). Returns
    {committed, version, conflict, claim_pending, files}.
    """
    return _occ_commit(path, {None: cells}, expected_version, snapshot)[0]


def occ_commit_tables(
    spark,
    path: str,
    tables: dict,
    expected_version: int,
    snapshot: bool = False,
    tag: str | None = None,
) -> dict:
    """One ATOMIC versioned commit spanning several parquet tables — the
    multi-table face of ``occ_commit`` for artifacts whose consistency
    spans files (a retrieval index's postings + corpus meta, an IVF-PQ
    index's centroids + codebooks + assignments + codes). The r09
    advisor flagged ``update_postings_index``'s two-rename swap: delta
    postings appended BEFORE the meta merge, so a crash left postings
    with stale stats and a retry double-appended. Here every table's
    parts stage first, ONE mkdir claims the version, parts rename in
    under ``<path>/<table>/part-occ-v%09d-*-<token>.parquet``, and ONE
    marker publishes them together — a reader that takes every table
    from one ``occ_snapshot`` sees all of the commit or none of it.

    ``snapshot=True`` supersedes every prior version (the rebuild
    commit); an append commit layers on top (the delta commit). ``tag``
    lands in the marker (e.g. a batch id) so a crashed-then-retried
    delta can detect it already published (``occ_update`` checks the
    attempt's snapshot) instead of double-applying. Same
    conflict/claim_pending contract as ``occ_commit``."""
    return _occ_commit(path, tables, expected_version, snapshot, tag)[0]


def store_tags(path: str) -> dict:
    """{version: tag} for every published marker that carries one —
    lets a retried delta job detect its batch already landed."""
    return {
        v: e["tag"] for v, e in _occ_log(path).items() if e["tag"] is not None
    }


def _occ_read(
    spark, path: str, log: dict, table: str | None = None,
    latest_only: bool = False, as_of_version: int | None = None,
    empty_schema=None,
):
    """The one read behind ``occ_snapshot(...).read`` (and so ``occ_read``,
    ``table=None``). The snapshot's ONE log listing resolves
    the visible versions: those at or above the snapshot floor, or
    ``(floor-at-N, N]`` for a pin at N (a compaction published after the
    pin cannot rewrite its history; a never-published pin is a caller
    bug and raises ValueError). One listing of the table's parts groups
    them by version. A root read also serves each legacy part no marker
    at or below the pin names ``replaced:``.

    A PINNED read whose visible range is only partially on disk fails
    closed: every visible version's parts are counted against the
    ``files:`` count its marker durably recorded, and each legacy part a
    marker above the pin replaced must be on disk, so a version that
    lost some or all of its parts to ``occ_vacuum``, out-of-band
    deletion or a partial restore is never served as "the state at vN".
    Markers that predate the ``files:`` records cannot be checked.

    Planning runs no Spark job: the schema is merged from the visible
    parts' footers (``_read_parts``). One cliff remains: above 32 visible
    parts (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
    Spark lists the files through a parallel-listing job of its own. A
    small delta commits one part, so a store crosses it after about 32
    deltas without a compaction."""
    if as_of_version is not None and as_of_version not in log:
        raise ValueError(
            f"as_of_version={as_of_version} was never published under "
            f"{path} (published: {sorted(log)}) — cannot pin a "
            "read to a version that does not exist"
        )
    floor = _occ_floor(log, cap=as_of_version)
    visible = {
        v for v in log
        if floor <= v and (as_of_version is None or v <= as_of_version)
    }
    parts = sorted(glob.glob(os.path.join(_occ_dir(path, table), "*.parquet")))
    replaced_at = _occ_replaced(log) if table is None else {}
    cap = max(log, default=0) if as_of_version is None else as_of_version
    by_version: dict = {}
    legacy = {}
    for f in parts:
        name = os.path.basename(f)
        m = _PART_RE.search(name)
        if m is None:
            if table is None and replaced_at.get(name, cap + 1) > cap:
                legacy[name] = f
        elif int(m.group(1)) in visible:
            by_version.setdefault(int(m.group(1)), []).append(f)
    if as_of_version is not None:
        gone = {n for n, v in replaced_at.items() if v > cap} - set(legacy)
        if gone:
            raise FileNotFoundError(
                f"as_of_version={as_of_version}: replaced legacy parts "
                f"{sorted(gone)} are gone from {path} — the pinned history "
                "was vacuumed; refusing to serve partial state"
            )
        for v in sorted(visible):
            recorded = log[v]["files"].get(table)
            actual = len(by_version.get(v, ()))
            if recorded and actual < recorded:
                raise FileNotFoundError(
                    f"as_of_version={as_of_version}: version {v} committed "
                    f"{recorded} part file(s)"
                    + (f" for table '{table}'" if table else "")
                    + f" under {path} but only {actual} remain on disk — "
                    "the pinned history was vacuumed (occ_vacuum retention "
                    "window passed) or externally damaged; refusing to "
                    "serve partial state"
                )
    if latest_only and by_version:
        return _read_parts(spark, by_version[max(by_version)])
    if by_version or legacy:
        return _read_parts(
            spark, [f for fs in by_version.values() for f in fs]
            + list(legacy.values())
        )
    if table is not None:
        raise FileNotFoundError(
            f"no committed parts for table '{table}' under {path}"
            + (
                f" visible as of version {as_of_version} — the pinned "
                "history was vacuumed (or the table had no parts yet)"
                if as_of_version is not None
                else " — the artifact was never built (or every version "
                "was swept)"
            )
        )
    if as_of_version is not None and not all(
        log[v]["files"].get(None) == 0 for v in visible
    ):
        # a published pin with no visible parts — and at least one
        # visible marker that recorded parts or predates the files:
        # records — means occ_vacuum already dropped the pinned
        # history: fail closed like a table read, never silently
        # serve an empty store as "the state at vN". When EVERY visible
        # marker explicitly records files:0 (empty-DataFrame commits),
        # the pinned state genuinely IS an empty store, and it serves
        # through the same empty-schema path the latest read uses.
        raise FileNotFoundError(
            f"no parts visible as of version {as_of_version} under "
            f"{path} — the pinned history was vacuumed"
        )
    if empty_schema is not None:
        return local_df(spark, [], empty_schema)
    if parts:
        # no visible version, but the store HAS a cell shape — take
        # the schema from any part footer (metadata-only read); the
        # frame scans no file, so its inputFiles() stay the visible set
        return local_df(spark, [], _read_parts(spark, parts[-1:]).schema)
    return local_df(
        spark, [], "row_key binary, column_name binary, value binary, ts long"
    )


def occ_snapshot(spark, path: str) -> SimpleNamespace:
    """ONE listing of an OCC store's marker log, as a value: ``version``
    (the head, 0 = never committed), ``tags`` ({version: tag}) and
    ``read(table=None, latest_only=False, as_of_version=None,
    empty_schema=None)``, every read resolved from that same listing
    (Delta's log-snapshot rule). A reader that takes several tables of
    an ``occ_commit_tables`` artifact from one snapshot gets them all
    from ONE version set: a commit published after the listing is
    wholly unseen, never half seen.

    ``read()`` with no table is ``occ_read``. ``read(table)`` unions the
    table's parts of every visible version (append semantics);
    ``latest_only=True`` reads just the highest visible version carrying
    parts for it (replace semantics — the one-row meta shape).
    ``as_of_version=N`` pins the read to the state when version N was
    the head: versions in ``(floor-at-N, N]`` only, later deltas and
    later snapshots invisible (Delta/Iceberg time-travel). A table read
    with no visible parts raises FileNotFoundError — index consumers
    fail closed rather than serve an empty index — including a pin
    whose parts ``occ_vacuum`` already dropped."""
    log = _occ_log(path)
    return SimpleNamespace(
        version=max(log, default=0),
        tags={v: e["tag"] for v, e in log.items() if e["tag"] is not None},
        read=functools.partial(_occ_read, spark, path, log),
    )


def occ_read(
    spark, path: str, empty_schema=None, as_of_version: int | None = None
):
    """Snapshot-isolation read of an OCC-managed store: only part files
    whose version has a PUBLISHED ``_occ-v%09d`` marker are listed — a
    torn commit's parts (claim without marker) are invisible without
    waiting for ``occ_recover`` — and versions below the newest
    published SNAPSHOT commit (a compaction's full replacement) are
    superseded and skipped even before ``occ_vacuum`` physically drops
    them. ``as_of_version=N`` pins the read to the state as of version
    N — versions in ``(floor-at-N, N]``, later deltas and later
    snapshots invisible (time-travel; see ``occ_snapshot``). Listing
    is O(files) driver-side dirent work (the same cost class as any
    parquet file listing), zero data movement; the returned DataFrame
    scans exactly the committed, current parts.

    An empty / never-committed store reads as an empty cell DataFrame
    whose schema comes from, in order: ``empty_schema`` (a StructType)
    if given; the parquet footer of any part file present but not
    currently visible (superseded or unpublished — the store's actual
    cell shape); else the base 4-column cell layout. Without this, a
    store whose cells carry ``sub_column_name`` / ``ttl_s`` would read
    back 4-column when empty and diverge from the non-empty case in
    downstream unions and compaction key derivation."""
    return occ_snapshot(spark, path).read(
        as_of_version=as_of_version, empty_schema=empty_schema
    )


def occ_recover(path: str, min_age_s: float = 0.0) -> dict:
    """Crash recovery for ``occ_commit``: a claim whose version has no
    published marker is a torn commit — drop its token-matched part
    files and the claim itself so the version becomes claimable again
    (the in-flight writer is presumed dead; the ``recover_store``
    single-maintainer contract). Leftover staging dirs and marker temp
    files sweep unconditionally (they were never visible). Idempotent.

    ``min_age_s`` age-gates the sweep: a claim younger than it is left
    alone (counted in ``skipped_young``). "No marker at conflict time"
    does NOT prove the claimant is dead — a live writer sits in exactly
    that state between its mkdir claim and its marker publish, and
    sweeping it would delete its claim and already-renamed parts, so its
    eventually-published marker would name a version with silently
    missing files. Automated maintenance (``occ_wait_claim``) passes
    a grace period; a human-invoked recovery after a known crash may
    keep the 0 default. Returns {dropped_claims, dropped_parts,
    dropped_staging, skipped_young}."""
    dropped_claims = dropped_parts = dropped_staging = 0
    skipped_young = 0
    for stg in glob.glob(os.path.join(path, ".occ-staging-*")):
        if os.path.isdir(stg):
            shutil.rmtree(stg, ignore_errors=True)
        else:  # a marker temp file a crashed publish left behind
            os.remove(stg)
        dropped_staging += 1
    # list the log AFTER the claims: every claimant that published
    # before this listing is seen as published
    pending = OCC_CLAIM_BACKEND.pending_claims(path)
    published = _occ_log(path)
    for v in pending:
        if v in published:
            continue  # published — the claim is the permanent winner record
        if OCC_CLAIM_BACKEND.claim_age_s(path, v) < min_age_s:
            skipped_young += 1
            continue  # possibly a live writer between claim and publish
        token = OCC_CLAIM_BACKEND.claim_token(path, v)
        if token:
            # root-level cell parts AND one-level table subdirs (the
            # occ_commit_tables layout) carry the claimant's token
            for pattern in (
                os.path.join(path, f"part-occ-v{v:09d}-*-{token}.parquet"),
                os.path.join(
                    path, "*", f"part-occ-v{v:09d}-*-{token}.parquet"
                ),
            ):
                for f in glob.glob(pattern):
                    os.remove(f)
                    dropped_parts += 1
        OCC_CLAIM_BACKEND.abandon(path, v)
        dropped_claims += 1
    return {
        "dropped_claims": dropped_claims,
        "dropped_parts": dropped_parts,
        "dropped_staging": dropped_staging,
        "skipped_young": skipped_young,
    }


def occ_wait_claim(path: str, res: dict, claim_grace_s: float) -> None:
    """The conflict wait ``occ_update`` runs after a lost commit
    ``res``: a no-op unless ``res["claim_pending"]``. A pending claim
    (claim without marker) is AMBIGUOUS — a live writer sits in exactly
    that state between its claim and its publish, indistinguishable from
    a dead claimant at conflict time — so this polls for the version to
    advance (a LIVE claimant publishing turns the wait into an ordinary
    refresh-and-retry) until the claim is ``claim_grace_s`` old, and only
    then sweeps it with ``occ_recover(min_age_s=claim_grace_s)``. Claim
    age comes from the pluggable backend, never a local getmtime: under
    an object-store backend there IS no local claim dir, and bypassing
    the seam would break recovery."""
    if not res["claim_pending"]:
        return
    while store_version(path) <= res["version"]:
        age = OCC_CLAIM_BACKEND.claim_age_s(path, res["version"] + 1)
        if age == float("inf"):
            return  # claim gone (recovered elsewhere / published)
        if age >= claim_grace_s:
            occ_recover(path, min_age_s=claim_grace_s)
            return
        time.sleep(min(0.2, claim_grace_s - age))


def occ_vacuum(path: str, retain_versions: int = 0) -> dict:
    """Physically drop part files superseded by the newest published
    SNAPSHOT commit, and legacy parts a marker names ``replaced:`` (all
    already invisible to LATEST ``occ_read``s, so this is pure space
    reclamation — safe at leisure, idempotent).
    Driver-side dirent work, O(files), zero data movement.

    ``retain_versions=K`` keeps the parts of the K highest superseded
    versions on disk — the retention window that keeps
    ``as_of_version`` time-travel reads (q204) serviceable across a
    compaction, exactly Delta's ``deletedFileRetentionDuration`` /
    Iceberg's snapshot-expiry knob expressed in versions (public
    semantics). Retained versions stay invisible to latest reads (the
    marker floor governs those); a later vacuum with a smaller window
    drops them for good; a replaced legacy part stays while a retained
    version sees it. Default 0 = reclaim everything below the floor, the
    pre-round-12 behavior every maintenance pass uses. Returns
    {dropped_parts, floor, retained_versions}."""
    log = _occ_log(path)
    floor = _occ_floor(log)
    dropped = 0
    retained: set[int] = set()
    if floor:
        if retain_versions > 0:
            superseded = sorted(v for v in log if v < floor)
            retained = set(superseded[-retain_versions:])
        replaced_at = _occ_replaced(log)
        for pattern in (
            os.path.join(path, "*.parquet"),
            os.path.join(path, "*", "part-occ-v*.parquet"),
        ):
            for f in glob.glob(pattern):
                name = os.path.basename(f)
                m = _PART_RE.search(name)
                if m:
                    v = int(m.group(1))
                    gone = v < floor and v not in retained
                else:  # a legacy root part: kept while a version sees it
                    at = replaced_at.get(name)
                    gone = at is not None and not any(r < at for r in retained)
                if gone:
                    os.remove(f)
                    dropped += 1
    return {
        "dropped_parts": dropped,
        "floor": floor,
        "retained_versions": sorted(retained),
    }


def occ_update(
    spark, path: str, derive, snapshot: bool = False, tag: str | None = None,
    max_retries: int = 5, claim_grace_s: float = 10.0,
) -> dict:
    """The one OCC read-modify-commit loop. Each attempt decides
    everything from ONE ``occ_snapshot`` (Delta's log-snapshot rule): a
    ``tag`` already in its ``tags`` returns ``already_applied``; else
    ``derive(snap)`` gets the attempt's ``occ_snapshot`` — its
    ``version`` and its ``read``, resolved from that same listing — and
    returns ``(tables, out[, replaced])``: the ``{table: DataFrame}`` to
    commit at ``snap.version`` (``None`` = the store root), the caller's
    result dict, and the legacy parts a snapshot supersedes. A lost
    commit, or a table read that found its snapshot vacuumed by a newer
    snapshot commit, counts a conflict, waits out a pending claim
    (``occ_wait_claim``) and retries on a fresh listing. So a duplicate
    delivery of ``tag`` published mid-attempt loses this attempt its
    commit, and the retry sees the tag: never a second apply. Returns
    ``{**out, version, conflicts, already_applied, files, rows}``; raises
    RuntimeError after ``max_retries`` attempts."""
    conflicts = 0
    for _ in range(max_retries):
        snap = occ_snapshot(spark, path)
        if tag and tag in snap.tags.values():
            return {
                "version": snap.version, "conflicts": conflicts,
                "already_applied": True, "files": 0, "rows": 0,
            }
        try:
            tables, out, *replaced = derive(snap)
        except FileNotFoundError:
            if store_version(path) == snap.version:
                raise
            conflicts += 1
            continue
        res, rows = _occ_commit(
            path, tables, snap.version, snapshot, tag, *replaced
        )
        if res["committed"]:
            return {
                **out, "version": res["version"], "conflicts": conflicts,
                "already_applied": False, "files": res["files"], "rows": rows,
            }
        conflicts += 1
        occ_wait_claim(path, res, claim_grace_s)
    raise RuntimeError(
        f"occ_update: {max_retries} consecutive commit conflicts on {path}"
        " — a live writer is outpacing this read-modify-commit"
    )


def occ_compact_store(
    spark,
    path: str,
    now_millis: int | None = None,
    drop_tombstones: bool = True,
    gc_grace_s: int | None = None,
    max_retries: int = 5,
    claim_grace_s: float = 10.0,
) -> dict:
    """Compact a cell store in place — the Cassandra compaction analogue
    the reference's engine delegates to the server. Appends, OCC deltas
    and micro-batch commits accumulate duplicate cell versions exactly
    like SSTables do; readers stay correct via LWW, and this makes the
    store small and single-versioned again. Per cell key (row_key,
    column_name[, sub_column_name]):
    - the winner has the highest ``ts``; ties go to the lexically
      greater ``value`` (Cassandra's reconciliation rule);
    - a NULL-value winner is a tombstone: it suppresses every older
      version, then (``drop_tombstones``) vanishes. With ``gc_grace_s``
      and ``now_millis`` only tombstones older than the grace window
      purge; younger ones stay, so a late write with an older ``ts``
      still loses to the delete (Cassandra's gc_grace_seconds);
    - with ``now_millis``, TTL-expired winners drop (live while
      ts + ttl_s*1000 > now, ``source.expire_cells``);
    - every column any input part carries (``ttl_s``,
      ``sub_column_name``) is kept.

    The input is one ``occ_snapshot`` root read: the visible OCC
    versions plus the legacy parts (the connector's or Spark's writers).
    One map-side-combinable struct-max aggregation computes the winners
    (the key includes column_name, so wide rows spread), and they commit
    through ``occ_update`` as a SNAPSHOT at the version that listing
    read, the marker naming each legacy part read (``replaced:``, as
    Delta's log records a ``remove`` per replaced file). A concurrent
    OCC append that claimed the next version first forces a refresh and
    retry that re-reads it; a legacy append landing after the listing
    is not named and stays visible — no write is lost. A pending claim
    is waited out for ``claim_grace_s`` (``occ_wait_claim``).
    Superseded and replaced parts are vacuumed after the commit; after
    a crash before that, run ``occ_recover`` then ``occ_vacuum``.
    ``cells_in`` and ``cells_out`` are footer row counts of the read and
    committed parts, so no Spark job counts either. Returns {cells_in,
    cells_out, version, conflicts, vacuumed, files}.
    """

    def derive(snap):
        cells = snap.read()
        # the frame's input files are exactly the snapshot's visible parts
        files = [unquote(urlparse(f).path) for f in cells.inputFiles()]
        cells_in = sum(_parquet_num_rows(f) for f in files)
        names = [os.path.basename(f) for f in files]
        legacy = [n for n in names if not _PART_RE.search(n)]
        flat = _compact_winners(cells, drop_tombstones, now_millis, gc_grace_s)
        # materialize the winners BEFORE the claim: the commit's write
        # must not re-read store files that a racing vacuum could move
        flat = flat.localCheckpoint(eager=True)
        return {None: flat}, {"cells_in": cells_in}, legacy

    res = occ_update(
        spark, path, derive, snapshot=True, max_retries=max_retries,
        claim_grace_s=claim_grace_s,
    )
    del res["already_applied"]  # untagged: a compaction always commits
    res["cells_out"] = res.pop("rows")
    return {**res, "vacuumed": occ_vacuum(path)["dropped_parts"]}
