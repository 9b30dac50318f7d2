"""``SessionContext`` — thin engine facade mirroring the reference's UX.

The reference's whole user journey is three calls (README.md:29-42)::

    ctx = SessionContext()
    ctx.register_table_provider("zarr_data", ZarrTable(...))
    ctx.sql("SELECT * FROM zarr_data").show()

Here ``SessionContext`` wraps a ``SparkSession`` configured for this engine;
SQL execution is Spark SQL / Catalyst (the reference delegates the identical
surface to DataFusion — SURVEY.md §2b).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from zarr_datafusion_search_spark.sources.zarr_table import ZarrTable

#: Session defaults tuned for the scale story:
#: - AQE coalesces/re-plans shuffles at runtime (incl. skew-join handling)
#: - Arrow transfer for any pandas-UDF hot path
#: - NTZ timestamps as the parquet/zarr timestamp inference default
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
}


def build_session(
    app_name: str = "zarr-datafusion-search-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine defaults.

    In local mode, shuffle partitions default to the core count — at cluster
    scale leave it unset and let AQE coalesce from a higher initial value.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    # BLAS threads are pinned to 1 PER PYTHON WORKER (round 12): every
    # task slot already runs its own worker process, so an n-thread BLAS
    # pool per worker oversubscribes cores n-fold — and this numpy's
    # OpenBLAS (0.3.23.dev, pthreads) SPIN-YIELDS its pool in the kernel,
    # measured at 43 s user / 467 s SYSTEM for a 108-GFLOP dgemm loop at
    # defaults vs clean single-thread execution pinned. The blow-up only
    # engages once a GEMM crosses OpenBLAS's internal multithread
    # threshold (the SemDeDup sqrt regime's n x 4243 assignment was the
    # first shipped shape big enough, 50-60% machine-wide sys time), so
    # every earlier small-k record was unaffected. Set in the driver env
    # BEFORE the JVM forks (local-mode pyspark daemons inherit it) AND as
    # executorEnv for cluster deployments; an explicit caller export
    # wins over both.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    # glibc is told to RETAIN large buffers (round 12): numpy's vectorized
    # stages allocate/free ~100 MB temporaries per Arrow batch (GEMM
    # outputs, rounding copies, np.where masks); at glibc defaults every
    # one is a fresh mmap whose pages are first-touch-faulted and then
    # munmap'd — kernel work proportional to bytes processed, plus TLB
    # shootdowns, and on virtualized hosts each fresh fault can exit to
    # the hypervisor (measured here: 0.06 GB/s first-touch inside a taxed
    # epoch vs 3 GB/s reused heap; the within-cell SemDeDup profile ran
    # 12x faster with retention — 108 s wall / 100 s SYS -> 9.3 s / 0.1 s,
    # sandwich-controlled). Raising the mmap + trim thresholds keeps
    # those buffers on the (reused) heap: faulted once per worker, not
    # once per batch. Worker RSS retains up to the high-water mark of a
    # single stage's temporaries — bounded by the operators' own block
    # sizes (e.g. SEMDEDUP_GEMM_BLOCK_ROWS), a few hundred MB.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    builder = SparkSession.builder.appName(app_name).master(master)
    for var in (
        "OPENBLAS_NUM_THREADS",
        "MALLOC_MMAP_THRESHOLD_",
        "MALLOC_TRIM_THRESHOLD_",
    ):
        builder = builder.config(
            f"spark.executorEnv.{var}", os.environ[var]
        )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is None and master.startswith("local"):
        shuffle_partitions = os.cpu_count() or 8
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class SessionContext:
    """DataFusion-``SessionContext``-shaped facade over a SparkSession."""

    def __init__(self, spark: SparkSession | None = None, **session_kwargs):
        self.spark = spark or build_session(**session_kwargs)
        self._zarr_views: dict[str, ZarrTable] = {}
        self._used_views: set[str] = set()

    # reference: ctx.register_table_provider(name, table) — README.md:37-39
    def register_table(self, name: str, table: "ZarrTable | DataFrame | str") -> None:
        self._zarr_views.pop(name, None)
        self._used_views.discard(name)
        if isinstance(table, str) and _is_zarr_path(table):
            table = ZarrTable(table)
        if isinstance(table, ZarrTable):
            table.register(self.spark, name)
            self._zarr_views[name] = table
        elif isinstance(table, DataFrame):
            table.createOrReplaceTempView(name)
        elif isinstance(table, str):  # path to parquet/csv/json by extension
            self._read_path(table).createOrReplaceTempView(name)
        else:
            raise TypeError(f"cannot register {type(table)!r} as a table")

    # alias for 1:1 reference parity
    register_table_provider = register_table

    def register_parquet_dir(self, sf_dir: str, tables: list[str] | None = None):
        """Register every ``<name>.parquet`` in a directory as a view."""
        import glob

        paths = sorted(glob.glob(os.path.join(sf_dir, "*.parquet")))
        names = []
        for p in paths:
            name = os.path.splitext(os.path.basename(p))[0]
            if tables and name not in tables:
                continue
            self.spark.read.parquet(p).createOrReplaceTempView(name)
            names.append(name)
        return names

    def sql(self, query: str) -> DataFrame:
        self._fresh_zarr_views()
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        self._fresh_zarr_views()
        return self.spark.table(name)

    def _fresh_zarr_views(self) -> None:
        """Give each query its own relation over every registered ZarrTable.

        Spark's Python data source relation (``PythonDataSourceV2``) caches
        the reader that filter pushdown pickled, claimed filters included,
        and ``PythonScanBuilder.pushFilters`` replaces that cache only when a
        query pushes filters. A view reused after a filtered query would
        hand a query that pushes none the filtered rows, so a view some
        earlier query may have resolved is registered again first.
        """
        for name in self._used_views:
            self._zarr_views[name].register(self.spark, name)
        self._used_views = set(self._zarr_views)

    def _read_path(self, path: str) -> DataFrame:
        if path.endswith(".parquet"):
            return self.spark.read.parquet(path)
        if path.endswith(".csv"):
            return self.spark.read.option("header", "true").csv(path)
        if path.endswith((".json", ".jsonl", ".ndjson")):
            return self.spark.read.json(path)
        raise ValueError(f"cannot infer format for {path}")


def _is_zarr_path(path: str) -> bool:
    return path.endswith(".zarr") or os.path.exists(os.path.join(path, "zarr.json"))
