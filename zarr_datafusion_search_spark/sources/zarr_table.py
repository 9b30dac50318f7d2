"""``ZarrTable`` — the reference's primary user-facing object, Spark-first.

Reference API (python/src/table.rs:11-53, README.md:29-42)::

    table = ZarrTable("data/zarr_store.zarr", "/meta")
    ctx.register_table_provider("zarr_data", table)
    ctx.sql("SELECT * FROM zarr_data")

Spark rebuild::

    table = ZarrTable("data/zarr_store.zarr", "/meta")
    df = table.to_df(spark)                       # DataFrame over the store
    table.register(spark, "zarr_data")            # temp view for spark.sql(...)

Schema is inferred eagerly at construction, like the reference
(src/table_provider.rs:42-52 -> src/schema.rs:16-20), and cached.

Local (and ``file:``) stores are read by a compiled DSv2 reader, the Java
sources in ``sources/jvm/``: the reference's one native ``TableProvider``.
They are compiled at first use in a process into a jar cached under
``$XDG_CACHE_HOME/zarr_datafusion_search_spark/`` (default ``~/.cache``),
keyed by the sha256 of the sources, the Spark version and the Java version,
and added to the session with ``ADD JAR``. Remote (fsspec) stores, and every
store on a host without a Java compiler, are read by the Python data source
``format("zarr")`` instead.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import warnings
import weakref
import zipfile
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import group_schema


class ZarrTable:
    """A Zarr v3 group of parallel 1-D arrays exposed as a Spark table."""

    def __init__(self, store_path: str, group_path: str = "/"):
        self.store_path = store_path
        self.group_path = group_path
        self._group = zarrv3.open_group(store_path, group_path)
        # eager, cached schema (parity: src/table_provider.rs:35-38,73-75)
        self.schema: StructType = group_schema(
            {name: meta.dtype for name, meta in self._group.arrays.items()}
        )

    @classmethod
    def from_obstore(cls, store_path: str, group_path: str = "/") -> "ZarrTable":
        """Parity shim for the reference's async object-store constructor
        (python/src/table.rs:28-42). ``s3://``/``gs://``/... URLs route
        through fsspec inside the reader (``zarrv3``); a clear ``ZarrError``
        is raised when fsspec is not installed (it is not bundled in this
        environment). Local paths work uniformly.
        """
        return cls(store_path, group_path)

    @property
    def n_rows(self) -> int:
        return self._group.n_rows

    def column_names(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    def to_df(
        self, spark: SparkSession, columns: Sequence[str] | None = None
    ) -> DataFrame:
        """DataFrame over the store (chunk-partitioned scan, planned as one
        wave over the session's task slots): the JVM reader for a local
        store, the Python ``zarr`` data source for a remote one or when the
        host has no Java compiler."""
        jvm = _ensure_registered(spark) and not zarrv3._is_remote(self.store_path)
        reader = (
            spark.read.format(JVM_FORMAT if jvm else "zarr")
            .option("group", self.group_path)
            .option("task_slots", str(spark.sparkContext.defaultParallelism))
            .schema(self._pruned(columns))
        )
        if columns:
            reader = reader.option("columns", ",".join(columns))
        path = self.store_path
        if jvm:
            _bind_jar_loader(spark)
            path = os.path.abspath(zarrv3.normalize_store_path(path))
        return reader.load(path)

    def register(self, spark: SparkSession, name: str) -> DataFrame:
        """Register as a temp view so ``spark.sql`` can query it — the
        Spark equivalent of ``ctx.register_table_provider`` (README.md:37-41).
        """
        df = self.to_df(spark)
        df.createOrReplaceTempView(name)
        return df

    @staticmethod
    def write(
        df: DataFrame,
        store_path: str,
        group_path: str = "/",
        chunk_rows: int = 65536,
        overwrite: bool = False,
    ) -> "ZarrTable":
        """Write a DataFrame as a Zarr v3 group and return its ZarrTable.

        Sugar over ``df.write.format("zarr")`` (see
        ``zarr_datasource.ZarrWriter`` for the commit protocol).
        """
        _ensure_registered(df.sparkSession)
        (
            df.write.format("zarr")
            .option("group", group_path)
            .option("chunk_rows", str(chunk_rows))
            .mode("overwrite" if overwrite else "append")
            .save(store_path)
        )
        return ZarrTable(store_path, group_path)

    def _pruned(self, columns: Sequence[str] | None) -> StructType:
        if not columns:
            return self.schema
        by_name = {f.name: f for f in self.schema.fields}
        missing = [c for c in columns if c not in by_name]
        if missing:
            raise ValueError(f"unknown columns: {missing}")
        return StructType([by_name[c] for c in columns])


#: ``format()`` name of the JVM reader (``sources/jvm/ZarrProvider.java``)
JVM_FORMAT = "zdss.ZarrProvider"
JVM_SOURCES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")

# session -> whether the JVM reader is on it, for every session
# _ensure_registered has prepared; weak, so a stopped session is not kept
# alive by it
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, bool]" = weakref.WeakKeyDictionary()
# per Python thread: the SparkContext whose jar loader the thread uses
_THREAD = threading.local()
# (Spark version, Java version) -> the reader jar, or None without a compiler
_JARS: dict[tuple[str, str], str | None] = {}


def _ensure_registered(spark: SparkSession) -> bool:
    """Register the ``zarr`` format, turn on Python filter pushdown and add
    the JVM reader's jar, once per ``SparkSession`` object: all three are
    per-session state, and doing them again on every ``to_df`` cost about
    9 ms of py4j calls per query. Returns whether the JVM reader is on the
    session."""
    if spark in _REGISTERED:
        return _REGISTERED[spark]
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

    # Spark 4.1 checks a new data source name against the thread's ACTIVE
    # session, not the registering one: a newSession() of a session that
    # registered "zarr" is refused as a duplicate and then cannot resolve
    # format("zarr"). So register with this session active.
    jsessions = spark._jvm.org.apache.spark.sql.SparkSession
    previous = jsessions.getActiveSession()
    jsessions.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(ZarrDataSource)
    except Exception:
        # already registered on this session
        pass
    finally:
        if previous.isDefined():
            jsessions.setActiveSession(previous.get())
        else:
            jsessions.clearActiveSession()
    # The reader implements pushFilters, which Spark refuses to plan unless
    # this flag is on — sessions not built by engine.build_session (e.g. the
    # verification driver's) would otherwise fail on every zarr read. It is
    # a runtime-settable SQL conf.
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    jar = _reader_jar(spark)
    if jar is not None:
        spark.sql(f"ADD JAR '{jar}'")
    _REGISTERED[spark] = jar is not None
    return jar is not None


def _bind_jar_loader(spark: SparkSession) -> None:
    """Make the reader jar visible to this thread's ``format()`` lookups.

    ``ADD JAR`` sets the context class loader of the calling JVM thread
    only, and py4j runs each Python thread on its own JVM thread, so a
    thread that did not register the session sets it once itself."""
    sc = spark.sparkContext
    if getattr(_THREAD, "sc", None) is not sc:
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        spark._jvm.java.lang.Thread.currentThread().setContextClassLoader(loader)
        _THREAD.sc = sc


def _find_javac() -> str | None:
    """The JDK's compiler: ``$JAVA_HOME/bin/javac``, else ``javac`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _reader_jar(spark: SparkSession) -> str | None:
    """The JVM reader's jar for this session's Spark and Java, compiled once
    per process at most; None (with one warning) when there is no compiler."""
    system = spark._jvm.java.lang.System
    key = (spark.version, system.getProperty("java.version"))
    if key not in _JARS:
        javac = _find_javac()
        if javac is None:
            warnings.warn(
                "no Java compiler (javac) found: ZarrTable reads local stores "
                "through the slower Python zarr data source; install a JDK "
                "to use the JVM reader",
                RuntimeWarning,
                stacklevel=3,
            )
            _JARS[key] = None
        else:
            release = system.getProperty("java.specification.version")
            _JARS[key] = compile_reader(javac, cache_dir(), *key, release)
    return _JARS[key]


def cache_dir() -> str:
    """Where compiled reader jars are kept."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "zarr_datafusion_search_spark")


def jar_key(spark_version: str, java_version: str) -> str:
    """sha256 of the Java sources, the Spark version and the Java version:
    a changed source, Spark or JVM never reuses an old jar."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(JVM_SOURCES)):
        if name.endswith(".java"):
            with open(os.path.join(JVM_SOURCES, name), "rb") as fh:
                h.update(name.encode() + b"\0" + fh.read() + b"\0")
    h.update(f"spark {spark_version}\0java {java_version}".encode())
    return h.hexdigest()


def _spark_jars() -> str:
    """The jars Spark runs with: ``$SPARK_HOME/jars``, else pyspark's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def compile_reader(
    javac: str,
    cache: str,
    spark_version: str,
    java_version: str,
    release: str,
    javac_args: Sequence[str] = (),
) -> str:
    """The path of the reader jar in ``cache``, compiling it when absent.

    The jar is built in a temporary directory and renamed into place, so
    processes compiling at the same time each leave a whole jar. A failed
    compile raises: with a JDK present it is a bug, not a reason to fall
    back to the Python reader."""
    jar = os.path.join(cache, f"zarr-reader-{jar_key(spark_version, java_version)[:24]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    sources = sorted(
        os.path.join(JVM_SOURCES, n) for n in os.listdir(JVM_SOURCES) if n.endswith(".java")
    )
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        cmd = [
            javac, "-encoding", "UTF-8", "--release", release, *javac_args,
            "-cp", os.path.join(_spark_jars(), "*"), "-d", classes, *sources,
        ]
        done = subprocess.run(cmd, capture_output=True, text=True)
        if done.returncode != 0:
            raise RuntimeError(
                f"compiling the Zarr JVM reader failed ({' '.join(cmd)}):\n"
                f"{done.stdout}{done.stderr}"
            )
        staged = os.path.join(tmp, "reader.jar")
        with zipfile.ZipFile(staged, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _, files in os.walk(classes):
                for name in sorted(files):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, classes))
        os.replace(staged, jar)
    return jar
