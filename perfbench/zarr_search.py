"""``zarr_search``: the paper's own use, SQL over a Zarr v3 group.

A 1M-row store is built from the seed with the reference generator recipe
(sorted ``date`` ms timestamps, ``collection``, ``bbox`` WKT boxes;
``chunk_rows=65536``, so 16 chunks). It is registered through
``SessionContext``/``ZarrTable`` and five queries run in seeded order: a
full ``SELECT *``, the reference's projection, a date range that chunk
stats prune, a ``GROUP BY``, and a ``bbox LIKE`` that is pushed to the
source. Every result is checked against a numpy ground truth computed from
the generator's arrays.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from harness import dir_bytes, optimized_plan
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan, StringContains
from zarr_datafusion_search_spark import SessionContext, ZarrTable
from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource
from zarr_datafusion_search_spark.testing import _box_wkt

N_ROWS = 1_000_000
CHUNK_ROWS = 65_536
YEAR_MS = 365 * 24 * 3600 * 1000
COLLECTIONS = [f"collection_{c}" for c in "abcdefgh"]
TABLE = "zarr_data"


BOXES = [_box_wkt(k) for k in range(90)]


class Store:
    """The generator's arrays and the store written from them."""

    def __init__(self, seed: int, n: int = N_ROWS):
        rng = np.random.default_rng(seed)
        base = np.datetime64("2023-01-01", "ms")
        self.date = np.sort(base + rng.integers(0, YEAR_MS, n).astype("timedelta64[ms]"))
        self.coll = rng.integers(0, len(COLLECTIONS), n)
        self.box = rng.integers(1, 90, n)
        self.n = n

    def columns(self) -> dict:
        return {
            "date": self.date,
            "collection": np.array(COLLECTIONS, dtype=object)[self.coll].tolist(),
            "bbox": np.array(BOXES, dtype=object)[self.box].tolist(),
        }

    def write(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        zarrv3.write_group(path, "meta", self.columns(), chunk_rows=CHUNK_ROWS, zstd_level=0)


def row_keys(date_ms, coll, box) -> np.ndarray:
    """One int64 per row; equal multisets of keys mean equal multisets of rows."""
    key = np.asarray(date_ms, dtype=np.int64) * 8
    if coll is not None:
        key = key + np.asarray(coll, dtype=np.int64)
    key = key * 128
    if box is not None:
        key = key + np.asarray(box, dtype=np.int64)
    return np.sort(key)


def _codes(col, values: list[str]) -> np.ndarray:
    idx = pc.index_in(col, value_set=pa.array(values))
    if idx.null_count:
        raise ValueError("unexpected string value in result")
    return idx.to_numpy(zero_copy_only=False)


def _ms(col) -> np.ndarray:
    return pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64()).to_numpy() // 1000


def result_keys(tbl: pa.Table) -> np.ndarray:
    names = tbl.column_names
    coll = _codes(tbl["collection"], COLLECTIONS) if "collection" in names else None
    box = _codes(tbl["bbox"], BOXES) if "bbox" in names else None
    return row_keys(_ms(tbl["date"]), coll, box)


class Query:
    def __init__(self, name: str, sql: str, columns: tuple, mask, filters: list):
        self.name, self.sql, self.columns, self.mask, self.filters = (
            name, sql, columns, mask, filters,
        )


def queries(store: Store, rng) -> list[Query]:
    """The five queries; the date window and the box size come from the seed."""
    day0 = int(rng.integers(0, 335))
    lo = np.datetime64("2023-01-01", "ms") + np.timedelta64(day0, "D")
    hi = lo + np.timedelta64(30, "D")
    k = int(rng.integers(1, 90))
    needle = f", -{k} -{k}, "
    lo_s, hi_s = (str(x.astype("datetime64[s]")).replace("T", " ") for x in (lo, hi))
    lo_dt, hi_dt = (dt.datetime.fromisoformat(s) for s in (lo_s, hi_s))
    everything = np.ones(store.n, dtype=bool)
    return [
        Query("full", f"SELECT * FROM {TABLE}", ("date", "collection", "bbox"), everything, []),
        Query(
            "proj",
            f"SELECT collection, date FROM {TABLE} WHERE collection = 'collection_a'",
            ("date", "collection"),
            store.coll == 0,
            [EqualTo(("collection",), "collection_a")],
        ),
        Query(
            "range",
            f"SELECT * FROM {TABLE} WHERE date >= TIMESTAMP '{lo_s}' AND date < TIMESTAMP '{hi_s}'",
            ("date", "collection", "bbox"),
            (store.date >= lo) & (store.date < hi),
            [GreaterThanOrEqual(("date",), lo_dt), LessThan(("date",), hi_dt)],
        ),
        Query(
            "group",
            f"SELECT collection, count(*) AS n, min(date) AS first_date, "
            f"max(date) AS last_date FROM {TABLE} GROUP BY collection",
            (),
            everything,
            [],
        ),
        Query(
            "like",
            f"SELECT * FROM {TABLE} WHERE bbox LIKE '%{needle}%'",
            ("date", "collection", "bbox"),
            store.box == k,
            [StringContains(("bbox",), needle)],
        ),
    ]


def check_query(q: Query, store: Store, tbl: pa.Table) -> str:
    """'' when ``tbl`` is the exact result of ``q`` over the generator's arrays."""
    m = q.mask
    if q.name == "group":
        got = {
            r["collection"]: (r["n"], r["first_date"], r["last_date"])
            for r in tbl.to_pylist()
        }
        ms = store.date.astype(np.int64)
        want = {}
        for c, name in enumerate(COLLECTIONS):
            sel = store.coll == c
            if sel.any():
                want[name] = (int(sel.sum()), int(ms[sel].min()), int(ms[sel].max()))
        got_ms = {
            k: (n, int(pa.scalar(a, pa.timestamp("us")).value) // 1000,
                int(pa.scalar(b, pa.timestamp("us")).value) // 1000)
            for k, (n, a, b) in got.items()
        }
        return "" if got_ms == want else f"group mismatch: {got_ms} != {want}"
    if sorted(tbl.column_names) != sorted(q.columns):
        return f"columns {tbl.column_names} != {q.columns}"
    want = row_keys(
        store.date[m].astype(np.int64),
        store.coll[m] if "collection" in q.columns else None,
        store.box[m] if "bbox" in q.columns else None,
    )
    got = result_keys(tbl)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    return "" if np.array_equal(got, want) else "row values differ"


class Op:
    """Register the store, then plan the query: the reference's whole UX.

    The table is registered again for every query because a view registered
    once hands the filters pushed by one query to later queries that push
    none (a ``GROUP BY`` after a date range returns only the range's rows).
    """

    def __init__(self, ctx, path: str, query: Query):
        self.ctx, self.path, self.query, self.name = ctx, path, query, query.name

    def build(self):
        self.ctx.register_table(TABLE, ZarrTable(self.path, "/meta"))
        return self.ctx.sql(self.query.sql)

    def execute(self, df):
        df.write.format("noop").mode("overwrite").save()


class Workload:
    name = "zarr_search"
    min_passes = 1

    def __init__(self, spark, work: str, seed: int, rng):
        self.spark, self.work, self.seed, self.rng = spark, work, seed, rng
        self.path = os.path.join(work, "search.zarr")
        self.store: Store | None = None
        self.collected: dict[str, tuple] = {}

    def build_inputs(self) -> None:
        self.store = Store(self.seed)
        self.store.write(self.path)

    def register(self) -> None:
        ctx = SessionContext(self.spark)
        self.queries = queries(self.store, self.rng)
        self.ops = [Op(ctx, self.path, q) for q in self.queries]

    def warmup(self) -> None:
        """Collect every query's full result once (this is the warm-up pass)."""
        for op in self.ops:
            self.spark.sparkContext.setJobGroup("verify", f"verify {op.name}")
            df = op.build()
            tbl = df.toArrow()
            self.collected[op.name] = (optimized_plan(df), optimized_plan(df.groupBy().count()), tbl)

    def verify(self) -> dict[str, str]:
        bad = {}
        for q in self.queries:
            err = check_query(q, self.store, self.collected[q.name][2])
            if err:
                bad[q.name] = err
        return bad

    def rows_per_s(self, results, wall_s: float) -> float:
        return self.store.n * len(self.ops) / wall_s

    def bytes_per_row(self) -> float:
        return dir_bytes(self.path)[0] / self.store.n

    def sizes(self) -> dict:
        nbytes, files = dir_bytes(self.path)
        return {"rows": self.store.n, "chunk_rows": CHUNK_ROWS, "store_bytes": nbytes,
                "files": files, "queries": [q.sql for q in self.queries]}

    # -- per-layer (traced runs) -------------------------------------------
    def layer_metrics(self, view) -> dict:
        out = zarrv3_metrics(self.path, self.store.n)
        out["sources.zarrv3.encode_s"] = encode_seconds(self.store.columns())
        ds = ZarrDataSource({"path": self.path, "group": "/meta"})
        full = ds.schema()
        for op, q in zip(self.ops, self.queries):
            plan = []
            for _ in range(3):
                t0 = time.perf_counter()
                op.build()._jdf.queryExecution().executedPlan()
                plan.append(time.perf_counter() - t0)
            out[f"sources.zarr_datasource.plan_s.{q.name}"] = median(plan)
            reader = ds.reader(full)
            list(reader.pushFilters(q.filters))
            parts = reader.partitions()
            out[f"sources.zarr_datasource.partitions.{q.name}"] = len(parts)
            covered = sum(p.stop - p.start for p in parts)
            out[f"sources.zarr_datasource.chunks_read_frac.{q.name}"] = covered / self.store.n
        out.update(view.scan_metrics())
        out.update(self.ingest.sink_metrics(view))
        return out

    def extra_ops(self) -> list:
        """Traced runs only: one warm pass of ``zarr_ingest``'s writes, so the
        sink layer is measured on this workload too (outside its end-to-end
        metrics)."""
        from zarr_ingest import Workload as Ingest

        self.ingest = Ingest(self.spark, self.work, self.seed, self.rng)
        self.ingest.build_inputs()
        self.ingest.register()
        self.ingest.warmup()
        self.ingest.start_pass()
        return self.ingest.ops


def zarrv3_metrics(path: str, n: int, group_path: str = "/meta") -> dict:
    """Driver-side, single-threaded calls into ``sources.zarrv3``."""
    opens = []
    for _ in range(5):
        t0 = time.perf_counter()
        group = zarrv3.open_group(path, group_path)
        opens.append(time.perf_counter() - t0)
    out = {"sources.zarrv3.open_group_s": median(opens)}
    chunk_bytes = 0
    decode_s = 0.0
    for col in ("bbox", "collection", "date"):
        t0 = time.perf_counter()
        group.arrays[col].read_range(0, n)
        dt_s = time.perf_counter() - t0
        out[f"sources.zarrv3.read_range_s.{col}"] = dt_s
        decode_s += dt_s
        chunk_bytes += dir_bytes(os.path.join(path, group_path.strip("/"), col, "c"))[0]
    out["sources.zarrv3.chunk_bytes"] = chunk_bytes
    out["sources.zarrv3.decode_mb_per_s"] = chunk_bytes / 1e6 / decode_s
    return out


def encode_seconds(columns: dict, chunk_rows: int = CHUNK_ROWS) -> float:
    """``encode_chunk_payload`` over every chunk of ``columns``."""
    t0 = time.perf_counter()
    for vals in columns.values():
        is_string = not isinstance(vals, np.ndarray)
        for lo in range(0, len(vals), chunk_rows):
            zarrv3.encode_chunk_payload(vals[lo : lo + chunk_rows], is_string, 0, 0)
    return time.perf_counter() - t0
