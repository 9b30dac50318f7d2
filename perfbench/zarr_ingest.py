"""``zarr_ingest``: the three write paths, on the ``zarr_search`` schema.

Seeded rows with the same schema (``date``, ``collection``, ``bbox``) are
generated as parquet, then read as DataFrames that are cached and counted
during set-up. One pass runs six write operations in seeded order:

* ``write_distributed``: ``write_zarr_distributed`` writes a fresh store;
* ``append_1`` .. ``append_4``: ``append_zarr_distributed`` adds one slice
  each to a growing store, reset to its base rows at the start of a pass;
* ``format_write``: ``df.write.format("zarr")`` through the driver-assembled
  ``ZarrWriter`` commit.

After each operation, outside the timed region, the store is read back with
``sources.zarrv3`` and its row count and an order-insensitive hash are
compared with the rows written.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import dir_bytes
from zarr_datafusion_search_spark.sources import zarrv3
from zarr_search import BOXES, CHUNK_ROWS, COLLECTIONS, Store, encode_seconds, zarrv3_metrics

WRITE_ROWS = 200_000
APPEND_ROWS = 25_000
APPENDS = 4
BASE_ROWS = 50_000


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, so the row hash below is order-insensitive but
    sensitive to every value."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def rows_hash(date_ms, coll, box) -> int:
    key = (np.asarray(date_ms, np.int64) * 8 + coll) * 128 + box
    with np.errstate(over="ignore"):
        return int(_mix(key).sum(dtype=np.uint64))


class Rows:
    """A slice of generated rows."""

    def __init__(self, store: Store, lo: int, hi: int):
        self.date = store.date[lo:hi]
        self.coll = store.coll[lo:hi]
        self.box = store.box[lo:hi]
        self.n = hi - lo
        self.hash = rows_hash(self.date.astype(np.int64), self.coll, self.box)

    def columns(self) -> dict:
        return {
            "date": self.date,
            "collection": np.array(COLLECTIONS, dtype=object)[self.coll].tolist(),
            "bbox": np.array(BOXES, dtype=object)[self.box].tolist(),
        }

    def arrow(self) -> pa.Table:
        return pa.table(
            {
                "date": pa.array(self.date.astype("datetime64[us]")),
                "collection": pa.array(np.array(COLLECTIONS, dtype=object)[self.coll]),
                "bbox": pa.array(np.array(BOXES, dtype=object)[self.box]),
            }
        )


def read_back(path: str) -> tuple[int, int]:
    """(rows, hash) of a store, decoded driver-side with ``sources.zarrv3``."""
    group = zarrv3.open_group(path, "/")
    n = group.n_rows
    dates = group.arrays["date"]
    ticks = np.asarray(dates.read_range(0, n)).astype(np.int64)
    date = ticks.view(f"datetime64[{dates.dtype.unit}]").astype("datetime64[ms]")
    coll = pc.index_in(pa.array(group.arrays["collection"].read_range(0, n)), value_set=pa.array(COLLECTIONS))
    box = pc.index_in(pa.array(group.arrays["bbox"].read_range(0, n)), value_set=pa.array(BOXES))
    if coll.null_count or box.null_count:
        return n, -1
    return n, rows_hash(
        date.astype(np.int64), coll.to_numpy(zero_copy_only=False), box.to_numpy(zero_copy_only=False)
    )


class WriteOp:
    """One write; ``expect`` gives the (rows, hash) the store must hold after it."""

    def __init__(self, name: str, path: str, write, expect):
        self.name, self.path, self._write, self._expect = name, path, write, expect

    def build(self):
        return None

    def execute(self, _):
        return self._write()

    def check(self, _out) -> tuple[bool, str]:
        want = self._expect()
        got = read_back(self.path)
        return (got == want, "" if got == want else f"read back {got}, expected {want}")


class Workload:
    name = "zarr_ingest"
    min_passes = 1

    def __init__(self, spark, work: str, seed: int, rng):
        self.spark, self.work, self.seed, self.rng = spark, work, seed, rng
        self.dist_path = os.path.join(work, "dist.zarr")
        self.append_path = os.path.join(work, "append.zarr")
        self.base_path = os.path.join(work, "append-base.zarr")
        self.format_path = os.path.join(work, "format.zarr")
        self.inputs = os.path.join(work, "inputs")

    def build_inputs(self) -> None:
        n = WRITE_ROWS + BASE_ROWS + APPENDS * APPEND_ROWS
        store = Store(self.seed, n)
        self.base_rows = Rows(store, 0, BASE_ROWS)
        self.write_rows = Rows(store, BASE_ROWS, BASE_ROWS + WRITE_ROWS)
        lo = BASE_ROWS + WRITE_ROWS
        self.slices = [
            Rows(store, lo + i * APPEND_ROWS, lo + (i + 1) * APPEND_ROWS) for i in range(APPENDS)
        ]
        shutil.rmtree(self.inputs, ignore_errors=True)
        os.makedirs(self.inputs)
        for i, rows in enumerate([self.base_rows, self.write_rows, *self.slices]):
            pq.write_table(rows.arrow(), os.path.join(self.inputs, f"part-{i}.parquet"))

    def register(self) -> None:
        from zarr_datafusion_search_spark.sources.zarr_sink import (
            append_zarr_distributed,
            write_zarr_distributed,
        )
        from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered

        _ensure_registered(self.spark)
        self.frames = []
        for i in range(2 + APPENDS):
            df = self.spark.read.parquet(os.path.join(self.inputs, f"part-{i}.parquet")).cache()
            df.count()
            self.frames.append(df)
        write_zarr_distributed(self.frames[0], self.base_path, chunk_rows=CHUNK_ROWS, overwrite=True)
        self.appended: list[Rows] = []

        def write_dist():
            return write_zarr_distributed(
                self.frames[1], self.dist_path, chunk_rows=CHUNK_ROWS, overwrite=True
            )

        def format_write():
            (
                self.frames[1].write.format("zarr")
                .option("chunk_rows", str(CHUNK_ROWS))
                .mode("overwrite")
                .save(self.format_path)
            )

        def appender(i):
            def append():
                total = append_zarr_distributed(self.frames[2 + i], self.append_path)
                self.appended.append(self.slices[i])
                return total

            return append

        def appended_expect():
            rows = [self.base_rows, *self.appended]
            with np.errstate(over="ignore"):
                h = int(np.array([r.hash for r in rows], dtype=np.uint64).sum(dtype=np.uint64))
            return sum(r.n for r in rows), h

        written = (self.write_rows.n, self.write_rows.hash)
        self.ops = [
            WriteOp("write_distributed", self.dist_path, write_dist, lambda: written),
            WriteOp("format_write", self.format_path, format_write, lambda: written),
            *[
                WriteOp(f"append_{i + 1}", self.append_path, appender(i), appended_expect)
                for i in range(APPENDS)
            ],
        ]

    def start_pass(self) -> None:
        """Reset the growing store to its base rows (untimed)."""
        shutil.rmtree(self.append_path, ignore_errors=True)
        shutil.copytree(self.base_path, self.append_path)
        self.appended = []

    def warmup(self) -> None:
        """Each kind of write once, each checked."""
        self.start_pass()
        for op in self.ops[:3]:
            self.spark.sparkContext.setJobGroup("verify", f"verify {op.name}")
            op.execute(op.build())
            ok, err = op.check(None)
            if not ok:
                raise RuntimeError(f"{op.name}: {err}")

    def verify(self) -> dict[str, str]:
        return {}  # every operation is checked right after it runs

    def rows_committed(self, name: str) -> int:
        return APPEND_ROWS if name.startswith("append") else WRITE_ROWS

    def rows_per_s(self, results, wall_s: float) -> float:
        ok = [r for r in results if r.ok]
        return sum(self.rows_committed(r.name) for r in ok) / sum(r.latency_s for r in ok)

    def bytes_per_row(self) -> float:
        paths = (self.dist_path, self.format_path, self.append_path)
        rows = WRITE_ROWS * 2 + BASE_ROWS + APPENDS * APPEND_ROWS
        return sum(dir_bytes(p)[0] for p in paths) / rows

    def sizes(self) -> dict:
        return {"write_rows": WRITE_ROWS, "base_rows": BASE_ROWS, "append_rows": APPEND_ROWS,
                "appends": APPENDS, "chunk_rows": CHUNK_ROWS}

    def layer_metrics(self, view) -> dict:
        out = zarrv3_metrics(self.dist_path, WRITE_ROWS, "/")
        out["sources.zarrv3.encode_s"] = encode_seconds(self.write_rows.columns())
        out.update(self.sink_metrics(view))
        return out

    def sink_metrics(self, view) -> dict:
        nbytes, files = dir_bytes(self.dist_path)
        return {
            **view.sink_metrics(),
            "sources.zarr_sink.bytes_written": nbytes,
            "sources.zarr_sink.files_written": files,
        }
