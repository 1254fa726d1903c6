"""Custom connector via the Python Data Source API (PySpark 4+).

The extension point real table formats plug into, exercised end to
end in pure Python: a parquet-backed source that does its OWN
partition planning (one Spark task per parquet ROW GROUP) and its own
filter pushdown (row groups whose column min/max statistics exclude a
pushed predicate are never read — the Iceberg/Delta manifest-pruning
pattern, one level below `scan_partition_prune`'s directory pruning
and the in-engine sibling of `scan_zone_map`).

Why this matters at 100 TB: `partitions()` runs ONCE at planning time
and returns only surviving row groups, so task count — and therefore
scheduler pressure — scales with data that can match, not data that
exists; each task then reads exactly one row group via Arrow, and
pushed filters are re-applied exactly (`read()` returns only matching
rows), so Spark schedules no residual filter for them. The Python
worker overhead (~Arrow serialization per batch) is the price of the
pure-Python extension point; a JVM DataSourceV2 removes it without
changing this architecture.

Everything here is driven by public API: `pyspark.sql.datasource`
(DataSource / DataSourceReader / InputPartition / pushFilters),
introduced in Spark 4.0-4.1.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

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
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from crime_data_batch_processing_spark.fixtures import acquire_lock, release_lock

#: Columns the source serves (no column-pruning hook exists in the
#: Python DS API yet, so the projection is fixed at the source).
DOC_COLUMNS = ["doc_id", "lang", "source", "n_chars"]
DOC_SCHEMA = "doc_id bigint, lang string, source string, n_chars bigint"

_PUSHABLE = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


@dataclass
class RowGroupPartition(InputPartition):
    index: int


def _stats_may_match(flt: Filter, lo, hi) -> bool:
    """May rows in [lo, hi] satisfy `flt`? Conservative (None = keep)."""
    if lo is None or hi is None:
        return True
    v = flt.value
    if isinstance(flt, EqualTo):
        return lo <= v <= hi
    if isinstance(flt, GreaterThan):
        return hi > v
    if isinstance(flt, GreaterThanOrEqual):
        return hi >= v
    if isinstance(flt, LessThan):
        return lo < v
    if isinstance(flt, LessThanOrEqual):
        return lo <= v
    return True


class RowGroupParquetReader(DataSourceReader):
    """Row-group-granular reader with statistics-based pruning."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for flt in filters:
            # Single-column comparisons are handled EXACTLY (pruned by
            # row-group stats, then re-applied row-level in read()),
            # so they are consumed; anything else goes back to Spark.
            if isinstance(flt, _PUSHABLE) and len(flt.attribute) == 1:
                self.pushed.append(flt)
            else:
                yield flt

    def _column_stats(self, rg_meta, name: str):
        for i in range(rg_meta.num_columns):
            col = rg_meta.column(i)
            if col.path_in_schema == name:
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None, None
                return st.min, st.max
        return None, None

    def partitions(self) -> list[InputPartition]:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(self.path).metadata
        keep = []
        for rg in range(meta.num_row_groups):
            rg_meta = meta.row_group(rg)
            ok = True
            for flt in self.pushed:
                lo, hi = self._column_stats(rg_meta, flt.attribute[0])
                if not _stats_may_match(flt, lo, hi):
                    ok = False
                    break
            if ok:
                keep.append(RowGroupPartition(rg))
        return keep

    def read(self, partition: RowGroupPartition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        table = pq.ParquetFile(self.path).read_row_group(
            partition.index, columns=DOC_COLUMNS
        )
        for flt in self.pushed:
            col, v = table[flt.attribute[0]], flt.value
            if isinstance(flt, EqualTo):
                mask = pc.equal(col, v)
            elif isinstance(flt, GreaterThan):
                mask = pc.greater(col, v)
            elif isinstance(flt, GreaterThanOrEqual):
                mask = pc.greater_equal(col, v)
            elif isinstance(flt, LessThan):
                mask = pc.less(col, v)
            else:
                mask = pc.less_equal(col, v)
            table = table.filter(mask)
        yield from table.to_batches()


class RowGroupParquetSource(DataSource):
    """`spark.read.format("rowgroup_parquet").option("path", ...)`."""

    @classmethod
    def name(cls) -> str:
        return "rowgroup_parquet"

    def schema(self) -> str:
        return DOC_SCHEMA

    def reader(self, schema) -> RowGroupParquetReader:
        return RowGroupParquetReader(self.options["path"])


def _pickle_self_by_value() -> None:
    """Ship this module's classes, and the `fixtures` lock protocol
    the manifest commit holds, BY VALUE to Python workers.

    A registered DataSource class is cloudpickled on the driver and
    unpickled inside Spark's Python worker processes, which do not
    have this library on their import path (the driver adds it to
    sys.path at runtime; workers inherit only PYTHONPATH). Closure
    functions (mapInPandas etc.) are pickled by value automatically,
    but module-level classes and functions default to by-reference —
    so the worker would die with ModuleNotFoundError. Registering the
    modules for by-value pickling embeds their definitions in the plan
    instead; on a real cluster the alternative is shipping the wheel
    via `spark.submit.pyFiles`. Pinned by
    tests/test_pysource.py::test_commit_runs_without_repo_on_sys_path.
    """
    import sys

    from pyspark import cloudpickle

    from crime_data_batch_processing_spark import fixtures

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(fixtures)


_pickle_self_by_value()


# ---------------------------------------------------------------------------
# Writer side of the extension point: an Arrow-native sink with a real
# two-phase commit protocol (per-task data files -> driver-side atomic
# manifest). The property under test is EXACTLY-ONCE VISIBILITY: only
# files named by the committed manifest exist as far as readers are
# concerned, so leftovers from failed/zombie/speculative tasks are
# invisible — the core idea Iceberg/Delta commits are built on, one
# level up from the FileOutputCommitter rename dance.
# ---------------------------------------------------------------------------


@dataclass
class FileCommit(WriterCommitMessage):
    filename: str
    n_rows: int


def _write_arrow_task(path: str, iterator) -> FileCommit:
    """One task's Arrow batches -> one uuid-named parquet file (shared
    by the batch and streaming writers). An empty task writes NO file;
    its no-op commit message (empty filename) is filtered at commit."""
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = list(iterator)
    name = f"data-{uuid.uuid4().hex}.parquet"
    os.makedirs(path, exist_ok=True)
    if not batches:
        return FileCommit("", 0)
    table = pa.Table.from_batches(batches)
    pq.write_table(table, os.path.join(path, name))
    return FileCommit(name, table.num_rows)


#: A commit lock older than this can only be an orphan: the critical
#: section it covers is one manifest read + one rename (milliseconds).
STALE_COMMIT_LOCK_S = 60.0


class ManifestParquetWriter(DataSourceArrowWriter):
    """Per-task Arrow->parquet writer; commit publishes the manifest."""

    def __init__(self, path: str, overwrite: bool) -> None:
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        return _write_arrow_task(self.path, iterator)

    def commit(self, messages) -> None:
        import json
        import os

        files = sorted(
            m.filename for m in messages if m is not None and m.filename
        )
        manifest = os.path.join(self.path, "_manifest.json")
        # O_EXCL commit lock: two concurrent append jobs each do a
        # read-merge-write of the manifest; without serialization both
        # could read the same prior list and the second os.replace
        # would silently un-publish the first job's files. The lock
        # covers the whole read-merge-publish cycle, so concurrent
        # appends compose. os.replace alone still protects READERS.
        lock = manifest + ".lock"
        lock_handle = acquire_lock(lock, STALE_COMMIT_LOCK_S, timeout_s=120.0)
        try:
            if not self.overwrite and os.path.exists(manifest):
                # append merges the prior committed list — a wholesale
                # rewrite would silently un-publish earlier writes
                with open(manifest) as f:
                    prior = json.load(f)["files"]
                files = sorted(set(prior) | set(files))
            tmp = manifest + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"files": files}, f)
            # atomic publish: readers either see the old manifest or the
            # new one, never a half-written file list. On overwrite the
            # previous generation's data files become unreferenced (and
            # invisible to manifest_files) rather than being deleted —
            # the table-format convention (vacuum is a separate concern).
            os.replace(tmp, manifest)
        finally:
            release_lock(lock, lock_handle)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestParquetStreamWriter(DataSourceStreamArrowWriter):
    """Streaming half of the manifest sink: per-MICRO-BATCH commit.

    Tasks write uuid-named parquet files exactly like the batch
    writer; `commit(messages, batchId)` then publishes that batch's
    file list atomically as `_batch_<id>.json`. Per-batch logs need
    no read-merge-write (each batch owns its own log file — no commit
    lock required, unlike the batch writer's shared manifest), and a
    RETRIED batch idempotently overwrites its own log: the re-run's
    files win, the failed attempt's files are never listed, so
    readers (stream_manifest_files = union of batch logs) see each
    batch exactly once. Exactly-once across RESTARTS comes from the
    engine: Spark replays only batches whose offsets are checkpointed
    but uncommitted, and skips batches this sink already committed
    (the batchId handshake this class implements).
    """

    def __init__(self, path: str) -> None:
        self.path = path

    def write(self, iterator):
        return _write_arrow_task(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        import json
        import os

        files = sorted(
            m.filename for m in messages if m is not None and m.filename
        )
        log = os.path.join(self.path, f"_batch_{batchId}.json")
        tmp = log + ".tmp"
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump({"batch": batchId, "files": files}, f)
        os.replace(tmp, log)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class ManifestParquetSink(DataSource):
    """`format("manifest_parquet")` — registered per-session; serves
    BOTH the batch writer (atomic shared manifest) and the streaming
    writer (per-batch commit logs)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_parquet"

    def writer(self, schema, overwrite: bool):
        return ManifestParquetWriter(self.options["path"], overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return ManifestParquetStreamWriter(self.options["path"])


def manifest_files(path: str) -> list[str]:
    """The committed file list — the ONLY sanctioned way to read this
    sink (directory listings see uncommitted garbage)."""
    import json
    import os

    with open(os.path.join(path, "_manifest.json")) as f:
        return [os.path.join(path, n) for n in json.load(f)["files"]]


def stream_manifest_files(path: str) -> list[str]:
    """Committed files of the STREAMING sink: the union of every
    per-batch commit log, in batch order. Data files not named by any
    log (failed-attempt leftovers, zombies) are invisible."""
    import glob
    import json
    import os

    out: list[str] = []
    for log in sorted(
        glob.glob(os.path.join(path, "_batch_*.json")),
        key=lambda p: int(os.path.basename(p)[7:-5]),
    ):
        with open(log) as f:
            out.extend(
                os.path.join(path, n) for n in json.load(f)["files"]
            )
    return out


# ---------------------------------------------------------------------------
# Streaming half of the extension point: a Python streaming SOURCE with
# offset management — the protocol a Kafka-shaped connector implements.
# `scan_pysource` covers batch read, `sink_pysource` batch write; this
# completes the family. SimpleDataSourceStreamReader is the driver-side
# simple API (read() returns rows + the next offset; readBetweenOffsets
# replays a committed range after restart — exactly-once comes from
# offsets being durable in the checkpoint, not from the source). At
# scale the partition-based DataSourceStreamReader variant below
# (PartitionedParquetStreamReader) distributes range reads across
# executors; the offset protocol is identical.
# ---------------------------------------------------------------------------


class ChunkedParquetStreamReader(SimpleDataSourceStreamReader):
    """Serve a parquet file as CHUNKS offset-ranged micro-batches.

    Offsets are row positions ({"row": n}); each read() advances one
    chunk. A caught-up stream returns an empty iterator with an
    unchanged offset, which is how a drained run
    (`run_stream(..., drain=True)`) knows to stop triggering."""

    CHUNKS = 4

    def __init__(self, path: str, columns: list[str]) -> None:
        self.path = path
        #: projection derived from the SOURCE's declared schema (the
        #: same derive-from-schema rule the partitioned reader follows)
        #: — a hardcoded list here silently drifts the moment the
        #: schema() string changes
        self.columns = columns
        self._total = None

    def _meta(self):
        import math

        import pyarrow.parquet as pq

        if self._total is None:
            self._total = pq.read_metadata(self.path).num_rows
        return self._total, math.ceil(self._total / self.CHUNKS)

    def _slice(self, lo: int, hi: int):
        import pyarrow.parquet as pq

        table = pq.read_table(self.path, columns=self.columns).slice(
            lo, hi - lo
        )
        return iter(
            zip(*(table.column(c).to_pylist() for c in self.columns))
        )

    def initialOffset(self):
        return {"row": 0}

    def read(self, start):
        total, step = self._meta()
        lo = start["row"]
        if lo >= total:
            return iter([]), start
        hi = min(lo + step, total)
        return self._slice(lo, hi), {"row": hi}

    def readBetweenOffsets(self, start, end):
        return self._slice(start["row"], end["row"])


class ChunkedParquetStreamSource(DataSource):
    """`readStream.format("chunked_events")` — registered per-session."""

    @classmethod
    def name(cls) -> str:
        return "chunked_events"

    def schema(self) -> str:
        return "event_id bigint, event_type string, value double"

    def simpleStreamReader(self, schema):
        return ChunkedParquetStreamReader(
            self.options["path"], columns=[f.name for f in schema.fields]
        )


# ---------------------------------------------------------------------------
# Executor-distributed streaming source: the partition-based
# DataSourceStreamReader. SimpleDataSourceStreamReader above reads on
# the DRIVER (right for control-plane-sized streams, a scale-killer
# for a Kafka-shaped feed); here the driver only plans offsets, and
# `partitions(start, end)` splits each micro-batch's offset range into
# row-range InputPartitions whose `read()` runs INSIDE Spark tasks on
# executors — the topology a production connector must have at 100 TB.
# The offset contract is identical ({"row": n}); exactly-once still
# derives from offsets living in the checkpoint.
# ---------------------------------------------------------------------------


@dataclass
class RowRangePartition(InputPartition):
    """One executor task's slice of a micro-batch: rows [lo, hi)."""

    lo: int
    hi: int


#: Single source of truth for the partitioned events source's
#: projection: `PartitionedEventsStreamSource.schema()` and the
#: executor-side `read()` both derive from it, so extending the
#: source schema can never leave read() serving a stale column list.
PARTITIONED_EVENTS_COLUMNS = ("event_id", "event_type", "value")
PARTITIONED_EVENTS_SCHEMA = "event_id bigint, event_type string, value double"


class PartitionedParquetStreamReader(DataSourceStreamReader):
    """Serve a parquet file as offset-ranged micro-batches whose reads
    are DISTRIBUTED across executor tasks.

    Driver side: `latestOffset()` reports the available tail;
    `partitions(start, end)` splits each micro-batch's offset range
    into TASKS row-range partitions — a PURE function of
    (start, end), which is what makes crash-replay deterministic (the
    engine re-plans an uncommitted batch from its WAL'd offsets on a
    FRESH reader instance; any instance-local adjustment here would
    replay a different row set than the first attempt). Executor
    side: `read(partition)` opens the file, reads ONLY the row groups
    overlapping its [lo, hi) range (bounded per-task I/O when the
    file has many row groups — the same statistics-era pruning the
    batch RowGroupParquetReader does), slices exactly to the range,
    and yields Arrow record batches. No row is read on the driver.

    Rate limiting and restarts: serving a bounded file as MULTIPLE
    micro-batches needs a cursor, and an in-memory cursor is a
    correctness trap — a restarted query's fresh instance would
    report a tail BEHIND the checkpointed offset, the engine would
    log that regressed offset, and a later crash-replay would
    re-serve rows earlier batches already committed. So the cursor is
    DURABLE: pass `cursor_dir` (a directory owned by the query,
    created alongside its checkpoint — the stream-identity option a
    real connector keys its bookkeeping on, like a Kafka group.id)
    and `commit(end)` persists each committed offset there;
    `latestOffset()` never reports below the persisted floor, so the
    offset log can never regress. Without `cursor_dir` the reader is
    STATELESS: the tail is the file end and the whole file arrives as
    one multi-task batch — trivially restart-safe.
    """

    CHUNKS = 4  # micro-batches to serve the file in (with a cursor)
    TASKS = 4  # parallel read tasks per micro-batch

    def __init__(
        self,
        path: str,
        cursor_dir: str | None = None,
        columns: list[str] | None = None,
    ) -> None:
        self.path = path
        self.cursor_dir = cursor_dir
        # Projection comes from the SOURCE's declared schema (passed
        # through streamReader(schema)) so read() can never drift from
        # schema() if the source is extended; direct-construction
        # tests fall back to the same shared column list.
        self.columns = columns or list(PARTITIONED_EVENTS_COLUMNS)
        self._total: int | None = None
        self._planned = 0

    def _rows(self) -> int:
        import pyarrow.parquet as pq

        if self._total is None:
            self._total = pq.read_metadata(self.path).num_rows
        return self._total

    def _committed_floor(self) -> int:
        import json
        import os

        if not self.cursor_dir:
            return 0
        try:
            with open(os.path.join(self.cursor_dir, "offset.json")) as f:
                return json.load(f)["row"]
        except (FileNotFoundError, ValueError):
            return 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        import math

        total = self._rows()
        if not self.cursor_dir:
            return {"row": total}  # stateless: the real tail
        step = math.ceil(total / self.CHUNKS)
        base = max(self._planned, self._committed_floor())
        self._planned = min(base + step, total)
        return {"row": self._planned}

    def partitions(self, start: dict, end: dict):
        # PURE in (start, end): replay of a WAL'd batch on a fresh
        # instance must plan the identical row set
        lo, hi = start["row"], end["row"]
        if hi <= lo:
            return []
        import math

        stride = math.ceil((hi - lo) / self.TASKS)
        return [
            RowRangePartition(p_lo, min(p_lo + stride, hi))
            for p_lo in range(lo, hi, stride)
        ]

    def read(self, partition: RowRangePartition):
        # Runs INSIDE a Spark task on an executor — the point of the
        # partition-based API. Only row groups overlapping the task's
        # range are read; the batch is sliced exactly to the range.
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(self.path)
        lo, hi = partition.lo, partition.hi
        acc = 0
        for i in range(pf.metadata.num_row_groups):
            n = pf.metadata.row_group(i).num_rows
            g_lo, g_hi = acc, acc + n
            acc = g_hi
            if g_hi <= lo or g_lo >= hi:
                continue
            table = pf.read_row_group(i, columns=self.columns).slice(
                max(lo, g_lo) - g_lo, min(hi, g_hi) - max(lo, g_lo)
            )
            yield from table.to_batches()

    def commit(self, end: dict) -> None:
        # Durable source-side bookkeeping: persist the committed
        # offset so a restarted instance's latestOffset never reports
        # behind it. Atomic publish (tmp + rename); monotone guard so
        # an out-of-order commit cannot move the floor backwards.
        import json
        import os

        if not self.cursor_dir:
            return
        if end["row"] <= self._committed_floor():
            return
        os.makedirs(self.cursor_dir, exist_ok=True)
        tmp = os.path.join(self.cursor_dir, "offset.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"row": end["row"]}, f)
        os.replace(tmp, os.path.join(self.cursor_dir, "offset.json"))


class PartitionedEventsStreamSource(DataSource):
    """`readStream.format("chunked_events_partitioned")` — the
    executor-distributed leg of the streaming source family."""

    @classmethod
    def name(cls) -> str:
        return "chunked_events_partitioned"

    def schema(self) -> str:
        return PARTITIONED_EVENTS_SCHEMA

    def streamReader(self, schema):
        return PartitionedParquetStreamReader(
            self.options["path"],
            self.options.get("cursor_dir"),
            columns=[f.name for f in schema.fields],
        )
