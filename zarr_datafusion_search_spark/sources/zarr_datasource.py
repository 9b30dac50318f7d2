"""Spark Python Data Source for Zarr v3 groups: ``format("zarr")``.

This is the Spark-native rebuild of the reference's ``ZarrTableProvider`` +
``ZarrExec`` (reference: src/table_provider.rs:224-300). Differences are
deliberate scale upgrades over the reference's single-partition,
whole-table-in-one-batch scan (src/table_provider.rs:193-220,237):

- **Chunk-aligned partitions**: ``partitions()`` maps row ranges aligned to
  Zarr chunk boundaries to Spark ``InputPartition``s, so a 100 TB store scans
  in parallel across executors and no task materializes the whole table.
  By default the chunks that survive pruning are dealt out as one wave of
  near-equal ranges, one per task slot (see :func:`plan_partitions`).
  (This is the design the reference's orphaned ``FileSource`` experiment was
  reaching for — src/source.rs:28-33.)
- **Column pruning at the source**: only the Zarr arrays named in the read
  schema are fetched and decoded (``option("columns", "a,b")`` or via
  ``ZarrTable.to_df(columns=...)``); the reference stores the projection but
  never uses it (src/table_provider.rs:228-229).
- **Filter pushdown**: ``pushFilters`` claims simple comparison predicates
  and evaluates them on decoded Arrow batches before shipping rows to the
  JVM; comparisons on float columns only prune chunks and are left to Spark
  (NaN semantics). The reference ignores ``_filters`` entirely
  (src/table_provider.rs:85).

Usage::

    spark.dataSource.register(ZarrDataSource)
    df = (spark.read.format("zarr")
          .option("group", "/meta")
          .load("/path/to/store.zarr"))
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import DoubleType, FloatType, StructType

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import (
    group_schema,
    spark_to_zarr_spec,
    zarr_to_arrow_type,
)

# Largest default input partition. Chosen so a partition of a wide-ish table
# of scalar columns stays well under executor memory; an explicit
# option("partition_rows", ...) replaces the default plan.
DEFAULT_PARTITION_ROWS = 1 << 21  # ~2M rows


@dataclass
class RowRange(InputPartition):
    start: int
    stop: int


def plan_partitions(
    spans: Sequence[tuple[int, int]],
    chunk_rows: int,
    partition_rows: int | None,
    slots: int,
) -> list[RowRange]:
    """Group ``spans`` — ascending row ranges of the lead chunks to read —
    into input partitions (shared by the batch and the stream reader).

    By default (``partition_rows`` is None) the spans are dealt out as
    ``min(len(spans), slots)`` contiguous runs whose span counts differ by
    at most one, so the scan runs as one wave of tasks: each task costs a
    fixed Python-worker start-up whatever it reads, so more waves of smaller
    tasks only add that cost. Runs are split further when one would exceed
    ``DEFAULT_PARTITION_ROWS``. A run may step over chunks that pruning
    dropped; the batch reader skips those. An explicit ``partition_rows``
    coalesces adjacent spans up to that many rows (at least one chunk).
    """
    if not spans:
        return []
    if partition_rows is None:
        cap = max(1, DEFAULT_PARTITION_ROWS // chunk_rows)
        n_parts = min(len(spans), max(slots, -(-len(spans) // cap)))
        q, r = divmod(len(spans), n_parts)
        parts, i = [], 0
        for k in range(n_parts):
            j = i + q + (k < r)
            parts.append(RowRange(spans[i][0], spans[j - 1][1]))
            i = j
        return parts
    rows_per_part = max(chunk_rows, partition_rows // chunk_rows * chunk_rows)
    parts = []
    for lo, hi in spans:
        if parts and parts[-1].stop == lo and hi - parts[-1].start <= rows_per_part:
            parts[-1].stop = hi
        else:
            parts.append(RowRange(lo, hi))
    return parts


def _range_batch(group, columns, arrow_types, lo, hi):
    """Decode one chunk-local row range of the group into an Arrow batch."""
    import pyarrow as pa

    cols = []
    for c in columns:
        meta = group.arrays[c]
        vals = meta.read_values(lo, hi)
        if meta.dtype.kind == "datetime64":
            # int64 ticks in the array's unit -> reinterpret, then
            # rescale to Spark's microsecond timestamps
            arr = pa.array(vals).cast(pa.timestamp(meta.dtype.unit))
            arr = arr.cast(arrow_types[c])
        elif meta.dtype.kind == "raw":
            # numpy void arrays aren't Arrow-convertible directly
            arr = pa.array([bytes(v) for v in vals], type=pa.binary())
        else:
            arr = vals if isinstance(vals, pa.Array) else pa.array(vals)
            if arr.type != arrow_types[c]:
                arr = arr.cast(arrow_types[c])
        cols.append(arr)
    return pa.record_batch(cols, names=columns)


def _options_int(options, key: str) -> int | None:
    value = options.get(key)
    return None if value is None else int(value)


class _ZarrScan:
    """State the batch and the stream reader share: the read columns, the
    lead chunk size and the partition plan."""

    def __init__(
        self,
        path: str,
        group_path: str,
        schema: StructType,
        partition_rows: int | None = None,
        slots: int | None = None,
    ):
        self._path = path
        self._group_path = group_path
        self._schema = schema
        self._columns = [f.name for f in schema.fields]
        group = zarrv3.open_group(path, group_path)
        missing = [c for c in self._columns if c not in group.arrays]
        if missing:
            raise ValueError(f"zarr group has no arrays named {missing}")
        self._n_rows = group.n_rows
        # Partitions align to the largest chunk among the read columns so
        # most chunks are read by exactly one task; columns with smaller
        # chunks are sliced per-range (decode is still chunk-local).
        self._chunk_rows = max(group.arrays[c].chunk_rows for c in self._columns)
        self._partition_rows = partition_rows
        # without a slot count from the session, this host's usable CPUs
        # (``local[*]``'s parallelism)
        self._slots = slots or len(os.sched_getaffinity(0))

    def _plan(self, spans) -> list[RowRange]:
        return plan_partitions(
            spans, self._chunk_rows, self._partition_rows, self._slots
        )

    def _decode(self, partition: RowRange, keep=None):
        """Arrow batches of ``partition``, one per lead-chunk slice so no task
        holds its whole range; a slice starts mid-chunk when the range does.
        Slices for which ``keep(group, lo, hi)`` is false are skipped."""
        group = zarrv3.open_group(self._path, self._group_path)
        arrow_types = {
            c: zarr_to_arrow_type(group.arrays[c].dtype) for c in self._columns
        }
        step = self._chunk_rows
        lo = partition.start
        while lo < partition.stop:
            hi = min((lo // step + 1) * step, partition.stop)
            if keep is None or keep(group, lo, hi):
                yield _range_batch(group, self._columns, arrow_types, lo, hi)
            lo = hi


class ZarrDataSource(DataSource):
    """``spark.read.format("zarr")`` over a Zarr v3 group of 1-D arrays."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def _path_option(self) -> str:
        path = self.options.get("path") or self.options.get("location")
        if not path:
            raise ValueError(
                "zarr data source requires a path: .load('/store.zarr'). "
                "Note: catalog tables (CREATE TABLE ... USING zarr) do not "
                "propagate OPTIONS to Python data source readers in this "
                "Spark version — use spark.read.format('zarr').load(path) or "
                "ZarrTable(path, group).register(spark, name) instead."
            )
        return path

    def _group(self) -> zarrv3.ZarrGroup:
        return zarrv3.open_group(self._path_option(), self.options.get("group", "/"))

    def schema(self) -> StructType:
        group = self._group()
        fields = {name: meta.dtype for name, meta in group.arrays.items()}
        columns = self.options.get("columns")
        if columns:
            keep = [c.strip() for c in columns.split(",")]
            missing = [c for c in keep if c not in fields]
            if missing:
                raise ValueError(f"unknown zarr columns: {missing}")
            fields = {c: fields[c] for c in keep}
        return group_schema(fields)

    def _scan_args(self, schema: StructType) -> dict:
        # "task_slots" is not a tuning knob: ZarrTable.to_df sets it to the
        # session's defaultParallelism, which this planner process cannot see
        return dict(
            path=self._path_option(),
            group_path=self.options.get("group", "/"),
            schema=schema,
            partition_rows=_options_int(self.options, "partition_rows"),
            slots=_options_int(self.options, "task_slots"),
        )

    def reader(self, schema: StructType) -> "ZarrReader":
        return ZarrReader(**self._scan_args(schema))

    def streamReader(self, schema: StructType) -> "ZarrStreamReader":
        return ZarrStreamReader(**self._scan_args(schema))

    def writer(self, schema: StructType, overwrite: bool) -> "ZarrWriter":
        return ZarrWriter(
            path=zarrv3.normalize_store_path(self._path_option()),
            group_path=self.options.get("group", "/"),
            schema=schema,
            overwrite=overwrite,
            chunk_rows=int(self.options.get("chunk_rows", 65536)),
            zstd_level=int(self.options.get("zstd_level", 0)),
        )


class ZarrReader(_ZarrScan, DataSourceReader):
    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        #: every pushed filter on a read column; prunes chunks by stats
        self._filters: list[Filter] = []
        #: the claimed subset, evaluated on the decoded batches
        self._row_filters: list[Filter] = []

    # -- filter pushdown ----------------------------------------------------

    _SUPPORTED = (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
        In,
        IsNull,
        IsNotNull,
        StringStartsWith,
        StringEndsWith,
        StringContains,
    )
    _COMPARISONS = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In)

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Claim simple predicates; evaluate them batch-side in ``read``.

        The reference discards pushed filters (src/table_provider.rs:85); we
        apply them on the decoded Arrow batch so filtered rows never cross
        the Python->JVM boundary. Comparisons on float columns are yielded
        back after they are kept for chunk pruning: Spark orders NaN above
        every value and has ``NaN = NaN``, while in Arrow NaN compares false.
        """
        floats = {
            f.name for f in self._schema.fields if isinstance(f.dataType, (FloatType, DoubleType))
        }
        for f in filters:
            if (
                isinstance(f, self._SUPPORTED)
                and len(f.attribute) == 1
                and f.attribute[0] in self._columns
            ):
                self._filters.append(f)
                if isinstance(f, self._COMPARISONS) and f.attribute[0] in floats:
                    yield f  # chunk pruning only: Spark evaluates the rows
                else:
                    self._row_filters.append(f)
            else:
                yield f  # let Spark evaluate the rest

    # -- planning / execution -------------------------------------------------

    def partitions(self) -> Sequence[RowRange]:
        # chunk pruning: with per-chunk min/max stats (written by our sink
        # into the array attributes) and claimed filters, whole chunks that
        # cannot satisfy the conjunction are never read — the Zarr analogue
        # of parquet row-group pruning.
        group = zarrv3.open_group(self._path, self._group_path)
        n, step = self._n_rows, self._chunk_rows
        chunks = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
        survivors = [c for c in chunks if self._chunk_may_match(group, *c)]
        return self._plan(survivors) or [RowRange(0, 0)]

    def _chunk_may_match(self, group: zarrv3.ZarrGroup, lo: int, hi: int) -> bool:
        """False only when the stats PROVE no row in [lo, hi) can pass every
        claimed filter; missing/malformed stats always pass."""
        for f in self._filters:
            col = f.attribute[0]
            meta = group.arrays[col]
            stats = meta.chunk_stats
            if not stats:
                continue
            val = self._stat_comparable(f, meta)
            if val is None:
                continue
            crows = meta.chunk_rows
            first, last = lo // crows, (hi - 1) // crows
            mins = stats["min"][first : last + 1]
            maxs = stats["max"][first : last + 1]
            if len(mins) != last - first + 1:
                continue  # stats don't cover the range: don't prune
            may = False
            for mn, mx in zip(mins, maxs):
                if mn is None or mx is None or mn != mn or mx != mx:
                    may = True  # unknown (or NaN) stats: must read
                    break
                if isinstance(f, EqualTo):
                    ok = mn <= val <= mx
                elif isinstance(f, GreaterThan):
                    ok = mx > val
                elif isinstance(f, GreaterThanOrEqual):
                    ok = mx >= val
                elif isinstance(f, LessThan):
                    ok = mn < val
                elif isinstance(f, LessThanOrEqual):
                    ok = mn <= val
                elif isinstance(f, In):
                    ok = any(mn <= v <= mx for v in val)
                else:
                    ok = True
                if ok:
                    may = True
                    break
            if not may:
                return False
        return True

    @staticmethod
    def _stat_comparable(f: Filter, meta: zarrv3.ZarrArrayMeta):
        """Convert the filter's value(s) into the stats' domain; None when
        the filter shape doesn't support pruning."""
        import datetime as _dt

        if not isinstance(f, ZarrReader._COMPARISONS):
            return None

        def conv(v):
            if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
                v = _dt.datetime(v.year, v.month, v.day)
            if isinstance(v, _dt.datetime):
                # datetime stats are integer ticks in the array unit.
                # Exact integer/rational arithmetic only: float
                # total_seconds() rounds (~0.25us at us precision), which
                # could push the comparable across a chunk's true min/max
                # and wrongly prune a boundary-matching chunk.
                from fractions import Fraction

                if v.tzinfo is not None:
                    v = v.replace(tzinfo=None) - v.utcoffset()
                delta = v - _dt.datetime(1970, 1, 1)
                ticks_us = (
                    delta.days * 86_400 + delta.seconds
                ) * 10**6 + delta.microseconds
                per_us = {
                    "s": Fraction(1, 10**6),
                    "ms": Fraction(1, 10**3),
                    "us": Fraction(1),
                    "ns": Fraction(1000),
                }[meta.dtype.unit or "us"]
                ticks = ticks_us * per_us
                return int(ticks) if ticks.denominator == 1 else ticks
            if isinstance(v, (int, float, str)) and v == v:
                return v
            return None  # NaN compares false with every stat

        if isinstance(f, In):
            vals = [conv(v) for v in f.value]
            return None if any(v is None for v in vals) else vals
        v = conv(f.value)
        return v

    def read(self, partition: RowRange) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        # a partition may span chunks that pruning dropped: skip them again
        for batch in self._decode(partition, self._chunk_may_match):
            if self._row_filters:
                mask = self._eval_filters(batch)
                if mask is not None:
                    batch = batch.filter(mask)
            if batch.num_rows:
                yield batch

    def _eval_filters(self, batch: "pa.RecordBatch"):  # noqa: F821
        import pyarrow.compute as pc

        mask = None
        for f in self._row_filters:
            col = batch.column(f.attribute[0])
            if isinstance(f, EqualTo):
                m = pc.equal(col, f.value)
            elif isinstance(f, GreaterThan):
                m = pc.greater(col, f.value)
            elif isinstance(f, GreaterThanOrEqual):
                m = pc.greater_equal(col, f.value)
            elif isinstance(f, LessThan):
                m = pc.less(col, f.value)
            elif isinstance(f, LessThanOrEqual):
                m = pc.less_equal(col, f.value)
            elif isinstance(f, In):
                m = pc.is_in(col, value_set=__import__("pyarrow").array(list(f.value)))
            elif isinstance(f, IsNull):
                m = pc.is_null(col)
            elif isinstance(f, IsNotNull):
                m = pc.is_valid(col)
            elif isinstance(f, StringStartsWith):
                m = pc.starts_with(col, f.value)
            elif isinstance(f, StringEndsWith):
                m = pc.ends_with(col, f.value)
            elif isinstance(f, StringContains):
                m = pc.match_substring(col, f.value)
            else:  # pragma: no cover - pushFilters only claims supported ones
                continue
            mask = m if mask is None else pc.and_(mask, m)
        return mask


# ---------------------------------------------------------------------------
# sink: df.write.format("zarr")
# ---------------------------------------------------------------------------


@dataclass
class ZarrCommitMessage(WriterCommitMessage):
    partition_id: int
    staged_path: str
    n_rows: int


class ZarrWriter(DataSourceArrowWriter):
    """Write a DataFrame as a Zarr v3 group of parallel 1-D arrays.

    The reference engine is read-only (no ``create_writer_physical_plan``,
    commented out at reference src/file_format.rs:109-117) — this sink is a
    beyond-parity extension.

    Two-phase protocol:

    1. Each task streams its Arrow batches to a staged IPC file (parallel,
       executor-side) and reports (partition_id, path, rows).
    2. ``commit`` assembles the staged files *in partition order* into the
       final store through :class:`zarrv3.ChunkedArrayWriter` — memory is
       bounded by one chunk per column, but throughput is driver-bound.

    Zarr's regular chunk grid is why: a chunk's file name is its global row
    position / chunk_rows, unknowable per-task without a global row index.
    The scale path is :mod:`zarr_sink` (``write_zarr_distributed``): it
    assigns global row ids, shuffles on chunk id and lets each task write
    whole chunks, so its commit is metadata-only.
    """

    def __init__(
        self,
        path: str,
        group_path: str,
        schema: StructType,
        overwrite: bool,
        chunk_rows: int,
        zstd_level: int,
    ):
        self._path = path
        self._group = group_path
        self._schema = schema
        self._overwrite = overwrite
        self._chunk_rows = chunk_rows
        self._zstd_level = zstd_level
        self._staging = os.path.join(path, ".staging")
        for field in schema.fields:
            spark_to_zarr_spec(field)  # validate types eagerly (driver-side)
        # Spark's Python data sources expose only Append/Overwrite save
        # modes. This writer treats "append" as create-new-store and errors
        # when one exists; true row append (boundary-chunk merge) lives in
        # zarr_sink.append_zarr_distributed, which the DSv2 writer protocol
        # can't express (it would need the store's row count at planning).
        if os.path.exists(os.path.join(path, "zarr.json")) and not overwrite:
            raise ValueError(
                f"zarr store already exists at {path}; use mode('overwrite') "
                "to replace it, or append_zarr_distributed() to add rows"
            )

    def write(self, iterator) -> ZarrCommitMessage:
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._staging, exist_ok=True)
        staged = os.path.join(self._staging, f"part-{pid:05d}.arrow")
        n = 0
        writer = None
        for batch in iterator:
            if writer is None:
                writer = pa.ipc.new_file(staged, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
        else:
            staged = ""
        return ZarrCommitMessage(partition_id=pid, staged_path=staged, n_rows=n)

    def commit(self, messages) -> None:
        import shutil

        import numpy as np
        import pyarrow as pa

        from zarr_datafusion_search_spark.sources import zarrv3

        if self._overwrite and os.path.exists(os.path.join(self._path, "zarr.json")):
            for entry in os.listdir(self._path):
                if entry == ".staging":
                    continue
                p = os.path.join(self._path, entry)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        group_dir = zarrv3.init_group(self._path, self._group)
        writers = {
            f.name: zarrv3.ChunkedArrayWriter(
                group_dir,
                f.name,
                chunk_rows=self._chunk_rows,
                zstd_level=self._zstd_level,
                **spark_to_zarr_spec(f),
            )
            for f in self._schema.fields
        }
        for msg in sorted(messages, key=lambda m: m.partition_id):
            if not msg or not msg.staged_path:
                continue
            with pa.ipc.open_file(msg.staged_path) as reader:
                for i in range(reader.num_record_batches):
                    batch = reader.get_batch(i)
                    for f in self._schema.fields:
                        col = batch.column(f.name)
                        # the zarr table model is non-nullable: a null int/
                        # timestamp column silently degrades to float64+NaN
                        # under to_numpy (garbage bytes under int metadata),
                        # and string nulls would render as the literal
                        # 'None' — fail loudly instead. (Float NaN is a
                        # legal zarr value and passes through.)
                        if col.null_count and not pa.types.is_floating(col.type):
                            raise ValueError(
                                f"column {f.name!r} has {col.null_count} "
                                "nulls: the zarr table model is non-nullable "
                                "— drop or fill nulls before writing"
                            )
                        if pa.types.is_timestamp(col.type):
                            vals = col.cast(pa.timestamp("us")).cast(pa.int64())
                            writers[f.name].append(
                                vals.to_numpy(zero_copy_only=False)
                            )
                        elif pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
                            writers[f.name].append(col.to_pylist())
                        else:
                            writers[f.name].append(
                                col.to_numpy(zero_copy_only=False)
                            )
        lengths = {name: w.close() for name, w in writers.items()}
        if len(set(lengths.values())) > 1:  # pragma: no cover - invariant
            raise ValueError(f"column length mismatch: {lengths}")
        shutil.rmtree(self._staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._staging, ignore_errors=True)


class ZarrStreamReader(_ZarrScan, DataSourceStreamReader):
    """Streaming source that TAILS a growing Zarr store: offsets are
    committed row counts, each micro-batch reads the chunk-aligned row
    ranges appended since the last batch (``spark.readStream
    .format("zarr").load(store)``).

    Visibility is the append sink's metadata commit: chunk files written
    by an in-flight ``append_zarr_distributed`` are invisible until its
    ``zarr.json`` flips the shape, so ``latestOffset`` (the current
    ``n_rows``) only ever exposes fully committed rows — the stream can
    never observe a torn append. Offsets are monotone because append only
    grows the shape; a store REPLACED with fewer rows is a contract
    violation and fails loudly rather than silently re-reading.

    Partitions between two offsets are chunk-aligned row ranges planned by
    the batch reader's :func:`plan_partitions`, decoded executor-side with
    the identical Arrow path; the boundary chunk of a prior batch is re-read
    only for its newly appended tail rows.
    """

    def initialOffset(self) -> dict:
        # new streams start at the beginning of the store
        return {"rows": 0}

    def latestOffset(self) -> dict:
        # the append commit flips per-array zarr.json files with bare
        # renames; a read landing inside that microseconds-wide window can
        # see arrays with disagreeing shapes — retry briefly before failing
        import time

        last_err: Exception | None = None
        for _ in range(5):
            try:
                return {
                    "rows": zarrv3.open_group(
                        self._path, self._group_path
                    ).n_rows
                }
            except zarrv3.ZarrError as ex:
                last_err = ex
                time.sleep(0.05)
        raise last_err

    def partitions(self, start: dict, end: dict) -> Sequence[RowRange]:
        lo, hi = int(start["rows"]), int(end["rows"])
        if hi < lo:
            raise ValueError(
                f"zarr stream offset went backwards ({lo} -> {hi}): the "
                "store was replaced with fewer rows; streams may only tail "
                "appends"
            )
        # spans split at chunk boundaries, so no chunk is decoded by two
        # tasks of the same batch; the first starts mid-chunk when the
        # previous batch ended inside one
        step = self._chunk_rows
        spans = [
            (max(lo, c), min(c + step, hi)) for c in range(lo // step * step, hi, step)
        ]
        return self._plan(spans) or [RowRange(lo, lo)]

    def read(self, partition: RowRange) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        for batch in self._decode(partition):
            if batch.num_rows:
                yield batch

    def commit(self, end: dict) -> None:
        # offsets are externally durable (the store itself); nothing to do
        pass
