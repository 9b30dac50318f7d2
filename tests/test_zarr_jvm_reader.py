"""The JVM reader (``sources/jvm``) against the Python reader (``zarrv3``):
one store, two backends, equal output.

Every store is read through ``ZarrTable.to_df`` (the JVM reader) and through
``spark.read.format("zarr")`` (the Python data source), and the two results
must be Arrow-equal, in the same order, for the full projection and for each
single-column projection. The stores: every writer recipe of
``test_zarr_layout_golden``, one column of every dtype kind (plain, sharded,
short and empty), drawn stores, sharded stores with missing inner chunks and
a crc32c index at either end, missing outer chunks, big-endian ``bytes``,
``vlen-bytes``, raw bits, and empty and multibyte strings. Corrupt chunks
must raise on both sides. For the perfbench query shapes, the JVM scan's
partition ranges must equal what ``plan_partitions`` gives the Python
reader, which is what perfbench's ``partitions.*`` and
``chunks_read_frac.*`` metrics report.
"""

import gzip
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zarr_datafusion_search_spark import SessionContext, ZarrTable
from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def jvm_df(spark, store, group="/g", columns=None):
    df = ZarrTable(store, group).to_df(spark, columns)
    assert "ZarrScan" in df._jdf.queryExecution().sparkPlan().toString()
    return df


def python_df(spark, store, group="/g", columns=None):
    return (
        spark.read.format("zarr")
        .option("group", group)
        .option("task_slots", str(spark.sparkContext.defaultParallelism))
        .schema(ZarrTable(store, group)._pruned(columns))
        .load(store)
    )


def assert_arrow_equal(got: pa.Table, want: pa.Table) -> None:
    """Equal schemas and equal values in the same order; NaN equals NaN."""
    assert got.schema == want.schema
    assert got.num_rows == want.num_rows
    for name in want.column_names:
        a, b = got[name].combine_chunks(), want[name].combine_chunks()
        if pa.types.is_floating(b.type):
            nan_a, nan_b = pc.is_nan(a), pc.is_nan(b)
            assert nan_a.equals(nan_b), name
            a, b = a.filter(pc.invert(nan_a)), b.filter(pc.invert(nan_b))
        assert a.equals(b), name


def check_parity(spark, store, group="/g"):
    """Both readers, full projection and every single-column projection."""
    names = ZarrTable(store, group).column_names()
    for columns in [None] + [[c] for c in names]:
        assert_arrow_equal(
            jvm_df(spark, store, group, columns).toArrow(),
            python_df(spark, store, group, columns).toArrow(),
        )


def check_both_raise(spark, store, group="/g"):
    with pytest.raises(Exception):
        jvm_df(spark, store, group).toArrow()
    with pytest.raises(Exception):
        python_df(spark, store, group).toArrow()


# -- hand-built arrays (codecs and dtypes no writer produces) ----------------


def write_array(group_dir, name, data_type, codecs, n, chunk_rows, chunks, fill=0, stats=None):
    """One array with a given ``zarr.json`` and chunk files (index -> bytes)."""
    arr = os.path.join(group_dir, name)
    os.makedirs(os.path.join(arr, "c"), exist_ok=True)
    doc = {
        "shape": [n],
        "data_type": data_type,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [chunk_rows]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": fill,
        "codecs": codecs,
        "attributes": {"zdss:chunk_stats": stats} if stats else {},
        "zarr_format": 3,
        "node_type": "array",
    }
    with open(os.path.join(arr, "zarr.json"), "w") as fh:
        json.dump(doc, fh)
    for i, payload in chunks.items():
        with open(os.path.join(arr, "c", str(i)), "wb") as fh:
            fh.write(payload)


def crc(payload: bytes) -> bytes:
    return payload + struct.pack("<I", zarrv3.crc32c(payload))


def zstd(payload: bytes) -> bytes:
    return zarrv3._zstd_compress(payload)


BYTES_LE = {"name": "bytes", "configuration": {"endian": "little"}}
BYTES_BE = {"name": "bytes", "configuration": {"endian": "big"}}
ZSTD = {"name": "zstd", "configuration": {"level": 0, "checksum": False}}
GZIP = {"name": "gzip", "configuration": {"level": 5}}
CRC32C = {"name": "crc32c", "configuration": {}}


def shard(pieces, index_crc, at_start, inner_codecs_encode):
    """A sharding_indexed object of inner payloads (None = missing inner chunk)."""
    n_inner = len(pieces)
    idx_size = n_inner * 16 + (4 if index_crc else 0)
    body, index = bytearray(), []
    base = idx_size if at_start else 0
    for p in pieces:
        if p is None:
            index.append((2**64 - 1, 2**64 - 1))
            continue
        seg = inner_codecs_encode(p)
        index.append((base + len(body), len(seg)))
        body += seg
    idx = b"".join(struct.pack("<QQ", o, nb) for o, nb in index)
    if index_crc:
        idx = crc(idx)
    return idx + bytes(body) if at_start else bytes(body) + idx


def sharding_codecs(inner_rows, inner, index_crc, at_start):
    return [{
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [inner_rows],
            "codecs": inner,
            "index_codecs": [BYTES_LE] + ([CRC32C] if index_crc else []),
            "index_location": "start" if at_start else "end",
        },
    }]


# -- every writer recipe of the golden layout test ---------------------------


@pytest.fixture(scope="module")
def golden_stores(spark, tmp_path_factory):
    from test_zarr_layout_golden import build_stores

    return build_stores(spark, str(tmp_path_factory.mktemp("golden")))


def test_golden_store_recipes(spark, golden_stores):
    assert len(golden_stores) == 24
    for name, path in sorted(golden_stores.items()):
        check_parity(spark, path)


# -- every dtype kind ----------------------------------------------------------


def all_kinds(n: int, seed: int = 0) -> dict:
    rng = np.random.default_rng(seed)

    def ints(dt):
        info = np.iinfo(dt)
        vals = rng.integers(info.min, info.max, n, dtype=dt, endpoint=True)
        vals[: min(n, 2)] = [info.min, info.max][: min(n, 2)]
        return vals

    floats = [np.nan, np.inf, -np.inf, -0.0, 1e-45, 5.96e-8, 65504.0, 1 / 3]
    cols = {
        "b": rng.integers(0, 2, n).astype(bool),
        **{k: ints(k) for k in ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64")},
        **{
            k: np.array([floats[i % len(floats)] if i % 3 == 0 else rng.normal() * 100 for i in range(n)], dtype=k)
            for k in ("float16", "float32", "float64")
        },
        "s": [["", "é", "日本語", "🎉 emoji", "plain", "a" * 70][i % 6] + str(i % 4) * (i % 2) for i in range(n)],
    }
    ticks = rng.integers(-(2**40), 2**40, n)
    for unit in ("s", "ms", "us", "ns"):
        cols[f"t_{unit}"] = (ticks * (1000 if unit == "ns" else 1)).astype(f"datetime64[{unit}]")
    return cols


@pytest.mark.parametrize(
    "n,chunk,inner",
    [(37, 8, None), (37, 8, 4), (5, 16, None), (5, 16, 4), (0, 4, None)],
    ids=["ragged", "sharded", "partial", "partial-sharded", "empty"],
)
def test_every_dtype_kind(spark, tmp_path, n, chunk, inner):
    store = str(tmp_path / "kinds.zarr")
    zarrv3.write_group(store, "/g", all_kinds(n), chunk_rows=chunk, inner_rows=inner)
    check_parity(spark, store)


DRAWN_KINDS = ["bool", "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
               "uint64", "float16", "float32", "float64", "string", "datetime64[ms]",
               "datetime64[ns]"]


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_drawn_stores(spark, tmp_path_factory, data):
    kind = data.draw(st.sampled_from(DRAWN_KINDS))
    n = data.draw(st.integers(0, 40))
    chunk = data.draw(st.integers(1, 12))
    inner = data.draw(st.sampled_from([None] + [d for d in (1, 2, 3) if chunk % d == 0]))
    if kind == "string":
        values = data.draw(st.lists(st.text(max_size=12), min_size=n, max_size=n))
    elif kind == "bool":
        values = np.array(data.draw(st.lists(st.booleans(), min_size=n, max_size=n)), dtype=bool)
    elif kind.startswith("float"):
        width = {"float16": 16, "float32": 32, "float64": 64}[kind]
        values = np.array(
            data.draw(st.lists(st.floats(width=width), min_size=n, max_size=n)), dtype=kind
        )
    elif kind.startswith("datetime"):
        ticks = data.draw(st.lists(st.integers(-(2**48), 2**48), min_size=n, max_size=n))
        scale = 1000 if kind.endswith("[ns]") else 1
        values = (np.array(ticks, dtype=np.int64) * scale).astype(kind)
    else:
        info = np.iinfo(kind)
        values = np.array(
            data.draw(st.lists(st.integers(int(info.min), int(info.max)), min_size=n, max_size=n)),
            dtype=kind,
        )
    store = str(tmp_path_factory.mktemp("drawn") / "s.zarr")
    zarrv3.write_group(store, "/g", {"v": values}, chunk_rows=chunk, inner_rows=inner)
    check_parity(spark, store)


# -- codecs and layouts no writer produces -------------------------------------


@pytest.mark.parametrize("at_start", [False, True], ids=["index-end", "index-start"])
def test_sharded_missing_inner_chunks_crc32c_index(spark, tmp_path, at_start):
    store = str(tmp_path / "sharded.zarr")
    group = zarrv3.init_group(store, "/g")
    inner, shard_rows, n = 4, 12, 30  # 3 shards of 3 inner chunks; the last is ragged
    ints = np.arange(n, dtype="<i8") * 11 - 50
    words = [f"w{i}-{'ü' * (i % 3)}" for i in range(n)]

    def pieces(values, encode):
        out = []
        for s in range(0, n, shard_rows):
            inner_pieces = []
            for k in range(shard_rows // inner):
                lo = s + k * inner
                missing = lo >= n or (s == 0 and k == 1)  # shard 0 misses its middle chunk
                if missing:
                    inner_pieces.append(None)
                else:
                    vals = values[lo : lo + inner]
                    inner_pieces.append(encode(vals, inner - len(vals)))
            out.append(inner_pieces)
        return out

    def enc_int(vals, pad):
        return np.concatenate([vals, np.zeros(pad, "<i8")]).tobytes()

    def enc_str(vals, pad):
        return zarrv3._encode_vlen([v.encode() for v in vals] + [b""] * pad)

    for name, dtype, inner_chain, encode, enc, fill in (
        ("i", "int64", [BYTES_LE, ZSTD], lambda p: zstd(p), enc_int, 7),
        ("s", "string", [{"name": "vlen-utf8", "configuration": {}}, GZIP, CRC32C],
         lambda p: crc(gzip.compress(p)), enc_str, "fill"),
    ):
        chunks = {
            i: shard(p, index_crc=True, at_start=at_start, inner_codecs_encode=encode)
            for i, p in enumerate(pieces(ints if name == "i" else words, enc))
        }
        write_array(group, name, dtype, sharding_codecs(inner, inner_chain, True, at_start),
                    n, shard_rows, chunks, fill=fill)
    tbl = jvm_df(spark, store).toArrow()
    assert tbl["i"].to_pylist()[4:8] == [7] * 4  # the missing inner chunk is fill
    assert tbl["s"].to_pylist()[4:8] == ["fill"] * 4
    check_parity(spark, store)


def test_missing_outer_chunks_read_as_fill(spark, tmp_path):
    store = str(tmp_path / "holes.zarr")
    n = 20
    zarrv3.write_group(
        store, "/g",
        {
            "i": np.arange(n, dtype=np.int32),
            "f": np.linspace(0, 1, n),
            "b": np.ones(n, dtype=bool),
            "s": [f"s{i}" for i in range(n)],
            "t": np.arange(n).astype("datetime64[us]"),
        },
        chunk_rows=6,
    )
    for col in ("i", "f", "b", "s", "t"):
        os.remove(os.path.join(store, "g", col, "c", "1"))
    tbl = jvm_df(spark, store).toArrow()
    assert tbl["i"].to_pylist()[6:12] == [0] * 6
    assert tbl["s"].to_pylist()[6:12] == [""] * 6
    assert tbl["b"].to_pylist()[6:12] == [False] * 6
    check_parity(spark, store)


def test_big_endian_gzip_crc32c_raw_and_vlen_bytes(spark, tmp_path):
    store = str(tmp_path / "codecs.zarr")
    group = zarrv3.init_group(store, "/g")
    n, chunk = 10, 4
    ints = np.arange(n, dtype=">i4") * -12345
    dbl = np.linspace(-2, 2, n).astype(">f8")
    u16 = np.arange(n, dtype=">u2") * 6553
    raw = [bytes([i, 255 - i]) for i in range(n)]
    blobs = [b"", b"\xff\x00\xfe", "é".encode(), b"x" * 40, b"\x00"] * 2

    def chunked(encode, values, pad_value):
        out = {}
        for i, lo in enumerate(range(0, n, chunk)):
            vals = list(values[lo : lo + chunk])
            vals += [pad_value] * (chunk - len(vals))
            out[i] = encode(vals)
        return out

    write_array(group, "be_int", "int32", [BYTES_BE, ZSTD], n, chunk,
                chunked(lambda v: zstd(np.array(v, ">i4").tobytes()), ints, 0))
    write_array(group, "be_dbl", "float64", [BYTES_BE, GZIP, CRC32C], n, chunk,
                chunked(lambda v: crc(gzip.compress(np.array(v, ">f8").tobytes())), dbl, 0.0))
    write_array(group, "be_u16", "uint16", [BYTES_BE], n, chunk,
                chunked(lambda v: np.array(v, ">u2").tobytes(), u16, 0))
    write_array(group, "raw", "r16", [BYTES_LE, CRC32C], n, chunk,
                chunked(lambda v: crc(b"".join(v)), raw, b"\x00\x00"))
    write_array(group, "blob", "bytes", [{"name": "vlen-bytes", "configuration": {}}, ZSTD], n,
                chunk, chunked(lambda v: zstd(zarrv3._encode_vlen(v)), blobs, b""), fill="")
    tbl = jvm_df(spark, store).toArrow()
    assert tbl["be_int"].to_pylist() == ints.tolist()
    assert tbl["blob"].to_pylist() == blobs
    assert tbl["raw"].to_pylist() == raw
    check_parity(spark, store)


def test_empty_and_multibyte_strings(spark, tmp_path):
    store = str(tmp_path / "strings.zarr")
    words = ["", "é", "", "日本語テキスト", "🎉🎉", "\u0000nul", "ß" * 300, "", "Ω≈ç√", "tail"]
    zarrv3.write_group(store, "/g", {"s": words * 5}, chunk_rows=7)
    assert jvm_df(spark, store).toArrow()["s"].to_pylist() == words * 5
    check_parity(spark, store)


# -- corrupt chunks --------------------------------------------------------------


def _plain_store(tmp_path, name="bad.zarr"):
    store = str(tmp_path / name)
    zarrv3.write_group(
        store, "/g", {"i": np.arange(12, dtype=np.int64), "s": [f"v{i}" for i in range(12)]},
        chunk_rows=4,
    )
    return store


def test_garbage_chunk_raises_on_both_sides(spark, tmp_path):
    store = _plain_store(tmp_path)
    with open(os.path.join(store, "g", "i", "c", "1"), "wb") as fh:
        fh.write(b"not a zstd frame at all")
    check_both_raise(spark, store)


def test_truncated_chunk_raises_on_both_sides(spark, tmp_path):
    store = _plain_store(tmp_path)
    path = os.path.join(store, "g", "s", "c", "2")
    with open(path, "rb") as fh:
        payload = fh.read()
    with open(path, "wb") as fh:
        fh.write(payload[: len(payload) // 2])
    check_both_raise(spark, store)


def flip_last(payload: bytes) -> bytes:
    return payload[:-1] + bytes([payload[-1] ^ 0xFF])


def test_bad_checksums_raise_on_both_sides(spark, tmp_path):
    store = str(tmp_path / "crc.zarr")
    group = zarrv3.init_group(store, "/g")
    good = crc(np.arange(4, dtype="<i8").tobytes())
    write_array(group, "i", "int64", [BYTES_LE, CRC32C], 8, 4, {0: good, 1: flip_last(good)})
    check_both_raise(spark, store)
    store = str(tmp_path / "shard_crc.zarr")
    group = zarrv3.init_group(store, "/g")
    payload = shard([np.arange(2, dtype="<i8").tobytes()] * 2, True, False, lambda p: p)
    write_array(group, "i", "int64", sharding_codecs(2, [BYTES_LE], True, False), 4, 4,
                {0: flip_last(payload)})
    check_both_raise(spark, store)


def test_invalid_utf8_and_unknown_codec_raise_on_both_sides(spark, tmp_path):
    store = str(tmp_path / "utf8.zarr")
    group = zarrv3.init_group(store, "/g")
    write_array(group, "s", "string", [{"name": "vlen-utf8", "configuration": {}}], 2, 2,
                {0: zarrv3._encode_vlen([b"ok", b"\xc3\x28"])}, fill="")
    check_both_raise(spark, store)
    store = str(tmp_path / "codec.zarr")
    group = zarrv3.init_group(store, "/g")
    write_array(group, "i", "int64", [BYTES_LE, {"name": "lz4"}], 2, 2,
                {0: np.arange(2, dtype="<i8").tobytes()})
    check_both_raise(spark, store)


# -- partition ranges ---------------------------------------------------------------


def _jvm_ranges(df) -> list[tuple[int, int]]:
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.length())]
    (scan,) = [s for s in scans if s.getClass().getSimpleName() == "BatchScanExec"]
    return [(p.start(), p.stop()) for p in scan.scan().toBatch().planInputPartitions()]


def _python_ranges(spark, store, group, filters) -> list[tuple[int, int]]:
    ds = ZarrDataSource({
        "path": store, "group": group,
        "task_slots": str(spark.sparkContext.defaultParallelism),
    })
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(filters))
    return [(p.start, p.stop) for p in reader.partitions()]


def test_partition_ranges_match_plan_partitions(spark, tmp_path):
    """The five perfbench zarr_search queries on the perfbench store."""
    sys.path.insert(0, PERFBENCH)
    try:
        from zarr_search import TABLE, Store, queries
    finally:
        sys.path.remove(PERFBENCH)
    store = Store(seed=5)
    path = str(tmp_path / "search.zarr")
    store.write(path)
    ctx = SessionContext(spark)
    ctx.register_table(TABLE, ZarrTable(path, "/meta"))
    seen = set()
    for q in queries(store, np.random.default_rng(5)):
        got = _jvm_ranges(ctx.sql(q.sql))
        assert got == _python_ranges(spark, path, "/meta", q.filters), q.name
        seen.add(len(got))
    assert len(seen) > 1  # the date range prunes


def test_partition_ranges_match_for_in_on_strings(spark, tmp_path):
    from pyspark.sql.datasource import In

    store = str(tmp_path / "keys.zarr")
    keys = [f"k{i:03d}" for i in range(100)]
    zarrv3.write_group(store, "/g", {"key": keys, "n": np.arange(100)}, chunk_rows=10)
    df = jvm_df(spark, store).filter("key IN ('k005', 'k071', 'k072')")
    got = _jvm_ranges(df)
    assert got == _python_ranges(spark, store, "/g", [In(("key",), ("k005", "k071", "k072"))])
    assert sum(hi - lo for lo, hi in got) < 100
    assert sorted(r.key for r in df.collect()) == ["k005", "k071", "k072"]


# -- COUNT from zarr.json -------------------------------------------------------------


def test_count_is_answered_from_metadata(spark, tmp_path):
    """An ungrouped COUNT(*) or COUNT(col) reads no chunk: with every chunk
    file overwritten with garbage it still returns n_rows, while a scan,
    a filtered count and a COUNT(DISTINCT) read chunks and raise."""
    store = _plain_store(tmp_path)
    for col in ("i", "s"):
        chunk_dir = os.path.join(store, "g", col, "c")
        for name in os.listdir(chunk_dir):
            with open(os.path.join(chunk_dir, name), "wb") as fh:
                fh.write(b"garbage")
    table = ZarrTable(store, "/g")
    table.register(spark, "garbage_chunks")
    counted = spark.sql("SELECT count(*) FROM garbage_chunks")
    scan = [l for l in counted._jdf.queryExecution().executedPlan().toString().splitlines()
            if "BatchScan zarr" in l]
    assert scan and "COUNT(*)" in scan[0], scan
    assert counted.collect()[0][0] == table.n_rows == 12
    assert tuple(spark.sql("SELECT count(i), count(*) FROM garbage_chunks").first()) == (12, 12)
    assert table.to_df(spark).count() == 12
    for sql in (
        "SELECT * FROM garbage_chunks",
        "SELECT count(*) FROM garbage_chunks WHERE i > 3",
        "SELECT count(DISTINCT i) FROM garbage_chunks",
    ):
        with pytest.raises(Exception):
            spark.sql(sql).collect()


def test_reads_from_another_python_thread(spark, tmp_path):
    """``ADD JAR`` binds the jar to the registering thread's class loader
    only; a DataFrame built on a fresh Python (so JVM) thread still finds
    the reader."""
    import threading

    store = _plain_store(tmp_path)
    ZarrTable(store, "/g").to_df(spark)  # registered on this thread
    got = {}
    worker = threading.Thread(
        target=lambda: got.update(rows=jvm_df(spark, store).toArrow().num_rows)
    )
    worker.start()
    worker.join(timeout=120)
    assert not worker.is_alive() and got == {"rows": 12}


# -- build: compile, cache key, no-compiler fallback ---------------------------------


def test_reader_build_cache_key_and_fallback(spark, tmp_path, monkeypatch):
    """The sources compile warning-free (``-path`` is off: it reports the
    Class-Path manifest entries of Spark's own jars, not this code); one
    changed byte of one source changes the cache key, so a stale jar is
    never reused; and without a compiler ``ZarrTable`` reads through
    ``format("zarr")`` and warns once."""
    import shutil
    import warnings
    import zipfile

    from zarr_datafusion_search_spark.sources import zarr_table

    javac = zarr_table._find_javac()
    system = spark._jvm.java.lang.System
    java_version = system.getProperty("java.version")
    jar = zarr_table.compile_reader(
        javac, str(tmp_path / "cache"), spark.version, java_version,
        system.getProperty("java.specification.version"),
        javac_args=("-Xlint:all,-path", "-Werror"),
    )
    assert os.path.dirname(jar) == str(tmp_path / "cache")
    assert "zdss/ZarrProvider.class" in zipfile.ZipFile(jar).namelist()

    sources = tmp_path / "jvm"
    shutil.copytree(zarr_table.JVM_SOURCES, sources)
    monkeypatch.setattr(zarr_table, "JVM_SOURCES", str(sources))
    key = zarr_table.jar_key(spark.version, java_version)
    assert key == zarr_table.jar_key(spark.version, java_version)
    reader = sources / "ZarrReader.java"
    code = bytearray(reader.read_bytes())
    code[-2] ^= 0x01
    reader.write_bytes(bytes(code))
    assert zarr_table.jar_key(spark.version, java_version) != key

    store = _plain_store(tmp_path, "fallback.zarr")
    monkeypatch.setattr(zarr_table, "_find_javac", lambda: None)
    monkeypatch.setattr(zarr_table, "_JARS", {})
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for session in (spark.newSession(), spark.newSession()):
            for _ in range(2):
                df = ZarrTable(store, "/g").to_df(session)
                assert "ZarrScan" not in df._jdf.queryExecution().sparkPlan().toString()
                assert sorted(df.toArrow()["i"].to_pylist()) == list(range(12))
    assert len([w for w in caught if "javac" in str(w.message)]) == 1


def test_nan_chunk_stats_never_prune(spark, tmp_path):
    """A float chunk holding NaN records NaN stats, which compare false
    with everything: neither reader may prune that chunk, and the JVM
    reader leaves the NaN ordering to Spark (NaN is above every double)."""
    from pyspark.sql.datasource import GreaterThan

    store = str(tmp_path / "nan.zarr")
    zarrv3.write_group(store, "/g", {"f": np.array([np.nan, 0.9, 0.1, 0.2])}, chunk_rows=2)
    df = jvm_df(spark, store).filter("f > 0.5")
    assert _jvm_ranges(df) == _python_ranges(spark, store, "/g", [GreaterThan(("f",), 0.5)])
    assert _jvm_ranges(df) == [(0, 2)]
    got = [r.f for r in df.collect()]
    assert np.isnan(got[0]) and got[1:] == [0.9]


FLOAT_FILTERS = [
    "f > CAST(0.5 AS {t})",
    "f >= CAST(0.5 AS {t})",
    "f < CAST(0.5 AS {t})",
    "f <= CAST(0.3 AS {t})",
    "f = CAST('NaN' AS {t})",
    "f = CAST(0.9 AS {t})",
    "f IN (CAST(0.9 AS {t}), CAST('NaN' AS {t}))",
]


@pytest.mark.parametrize("dtype,spark_type", [("float32", "FLOAT"), ("float64", "DOUBLE")])
def test_float_filters_follow_spark_nan_semantics(spark, tmp_path, dtype, spark_type):
    """Spark orders NaN above every value and has NaN = NaN; Arrow compares
    NaN false. Both readers must return the rows Spark returns over the same
    values, while a float filter still prunes a chunk that holds no NaN."""
    from pyspark.sql.datasource import GreaterThan
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrReader
    from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered

    _ensure_registered(spark)
    values = [0.1, np.nan, 0.9, np.nan, 0.3, 2.0, 0.2, 0.25, 0.3]
    store = str(tmp_path / f"{dtype}.zarr")
    zarrv3.write_group(
        store, "/g", {"i": np.arange(len(values)), "f": np.array(values, dtype=dtype)}, chunk_rows=3
    )
    want_df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], f"i long, f {spark_type.lower()}"
    )
    for cond in (c.format(t=spark_type) for c in FLOAT_FILTERS):
        want = sorted(r.i for r in want_df.filter(cond).collect())
        assert sorted(r.i for r in python_df(spark, store).filter(cond).collect()) == want, cond
        assert sorted(r.i for r in jvm_df(spark, store).filter(cond).collect()) == want, cond

    reader = ZarrReader(store, "/g", ZarrTable(store, "/g").schema, partition_rows=3)
    gt = GreaterThan(("f",), 0.5)
    assert list(reader.pushFilters([gt])) == [gt]  # rows are left to Spark
    assert [(p.start, p.stop) for p in reader.partitions()] == [(0, 3), (3, 6)]
