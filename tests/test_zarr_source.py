"""Ports of the reference's own tests, plus scale-path coverage.

- schema golden test (reference: src/schema.rs:134-160)
- end-to-end SQL scan: SELECT * -> 3 rows x 3 cols (src/table_provider.rs:307-325)
- projection + filter: 1 row x 2 cols, collection_a (src/table_provider.rs:327-358
  — ignored upstream, passing here)
- golden Arrow values incl. exact epoch millis (src/testing/load_into_arrow.rs:76-97)
- chunk partitioning / pruning / pushdown (the scale path the reference lacks)
"""

import datetime

import numpy as np
import pytest
from pyspark.sql import types as T

from zarr_datafusion_search_spark import ZarrTable
from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.testing import (
    GOLDEN_BBOXES,
    GOLDEN_COLLECTIONS,
    GOLDEN_EPOCH_MS,
    make_scaled_fixture,
)


def test_schema_golden(parity_store):
    """Inferred schema == hand-built expected schema, sorted field order."""
    table = ZarrTable(parity_store, "/meta")
    assert [f.name for f in table.schema.fields] == ["bbox", "collection", "date"]
    bbox, collection, date = table.schema.fields
    assert bbox.dataType == T.StringType() and not bbox.nullable
    assert bbox.metadata == {
        "geoarrow:extension": "geoarrow.wkt",
        "crs": "EPSG:4326",
    }
    assert collection.dataType == T.StringType() and not collection.nullable
    assert date.dataType == T.TimestampNTZType() and not date.nullable


def test_select_star(spark, parity_store):
    """SELECT * FROM zarr_table -> 1 batch, 3 rows, 3 cols."""
    ZarrTable(parity_store, "/meta").register(spark, "zarr_table")
    rows = spark.sql("SELECT * FROM zarr_table").collect()
    assert len(rows) == 3
    assert len(rows[0]) == 3


def test_projection_filter(spark, parity_store):
    """SELECT collection, date ... WHERE collection = 'collection_a'."""
    ZarrTable(parity_store, "/meta").register(spark, "zarr_table")
    rows = spark.sql(
        "SELECT collection, date FROM zarr_table WHERE collection = 'collection_a'"
    ).collect()
    assert len(rows) == 1
    assert len(rows[0]) == 2
    assert rows[0].collection == "collection_a"
    assert rows[0].date == datetime.datetime(2023, 1, 1)


def test_golden_values(spark, parity_store):
    df = ZarrTable(parity_store, "/meta").to_df(spark).orderBy("date")
    rows = df.collect()
    assert [r.collection for r in rows] == GOLDEN_COLLECTIONS
    assert [r.bbox for r in rows] == GOLDEN_BBOXES
    epoch = datetime.datetime(1970, 1, 1)
    ms = [int((r.date - epoch).total_seconds() * 1000) for r in rows]
    assert ms == GOLDEN_EPOCH_MS


def test_column_pruning(spark, parity_store):
    df = ZarrTable(parity_store, "/meta").to_df(spark, columns=["collection"])
    assert df.columns == ["collection"]
    assert df.count() == 3


def test_chunked_scan_partitions(spark, tmp_path):
    """A multi-chunk store scans in parallel, one partition per chunk range."""
    store = make_scaled_fixture(str(tmp_path / "big.zarr"), n_rows=10_000, chunk_rows=1000)
    df = ZarrTable(store, "/meta").to_df(spark)
    assert df.count() == 10_000
    # distinct collections bounded by generator alphabet
    n_coll = df.select("collection").distinct().count()
    assert 1 <= n_coll <= 8
    # date range filter returns a strict subset
    sub = df.filter("date >= timestamp_ntz'2023-06-01 00:00:00'").count()
    assert 0 < sub < 10_000


def test_filter_pushdown_applies(spark, tmp_path):
    store = make_scaled_fixture(str(tmp_path / "push.zarr"), n_rows=5000, chunk_rows=512)
    df = ZarrTable(store, "/meta").to_df(spark)
    got = df.filter("collection = 'collection_a'").count()
    import duckdb  # independent recount via the raw chunks

    metas = zarrv3.open_group(store, "meta")
    vals = metas.arrays["collection"].read_range(0, 5000)
    assert got == sum(1 for v in vals if v == "collection_a")


def test_uneven_last_chunk(tmp_path):
    store = str(tmp_path / "odd.zarr")
    zarrv3.write_group(store, "g", {"x": np.arange(10, dtype=np.int64)}, chunk_rows=3)
    meta = zarrv3.open_array(store, "g/x")
    assert meta.n_chunks == 4
    assert list(meta.read_range(0, 10)) == list(range(10))
    assert list(meta.read_range(2, 8)) == [2, 3, 4, 5, 6, 7]


@pytest.mark.parametrize(
    "np_dtype,spark_type",
    [
        (np.int8, T.ByteType()),
        (np.int16, T.ShortType()),
        (np.int32, T.IntegerType()),
        (np.int64, T.LongType()),
        (np.float32, T.FloatType()),
        (np.float64, T.DoubleType()),
        (np.bool_, T.BooleanType()),
        (np.uint8, T.ShortType()),
        (np.uint16, T.IntegerType()),
        (np.uint32, T.LongType()),
        (np.uint64, T.DecimalType(20, 0)),
        (np.float16, T.FloatType()),
    ],
)
def test_dtype_roundtrip(spark, tmp_path, np_dtype, spark_type):
    """One tiny array per supported dtype row of SURVEY §1.3."""
    name = np.dtype(np_dtype).name
    store = str(tmp_path / f"dt_{name}.zarr")
    if np_dtype is np.bool_:
        data = np.array([True, False, True])
    else:
        data = np.array([0, 1, 2], dtype=np_dtype)
    zarrv3.write_group(store, "g", {"x": data}, chunk_rows=3)
    df = ZarrTable(store, "g").to_df(spark)
    assert df.schema.fields[0].dataType == spark_type
    got = [r.x for r in df.orderBy("x").collect()]
    if np_dtype is np.bool_:
        assert got == [False, True, True]
    else:
        assert [int(v) for v in got] == [0, 1, 2]


def test_datetime_units(spark, tmp_path):
    for unit in ("s", "ms", "us"):
        store = str(tmp_path / f"ts_{unit}.zarr")
        data = np.array(["2023-01-01T00:00:00", "2023-06-15T12:34:56"]).astype(
            f"datetime64[{unit}]"
        )
        zarrv3.write_group(store, "g", {"t": data})
        df = ZarrTable(store, "g").to_df(spark)
        assert df.schema.fields[0].dataType == T.TimestampNTZType()
        rows = df.orderBy("t").collect()
        assert rows[0].t == datetime.datetime(2023, 1, 1)
        assert rows[1].t == datetime.datetime(2023, 6, 15, 12, 34, 56)


def test_unsupported_dtypes_error():
    """complex / extension / day-unit datetimes error (src/schema.rs:89-122)."""
    with pytest.raises(zarrv3.ZarrError):
        zarrv3.parse_dtype("complex64")
    with pytest.raises(zarrv3.ZarrError):
        zarrv3.parse_dtype({"name": "weird.ext", "configuration": {}})
    with pytest.raises(zarrv3.ZarrError):
        zarrv3.parse_dtype({"name": "numpy.datetime64", "configuration": {"unit": "D"}})


def test_bbox_requires_string(tmp_path):
    store = str(tmp_path / "badbbox.zarr")
    zarrv3.write_group(store, "g", {"bbox": np.arange(3, dtype=np.int64)})
    with pytest.raises(zarrv3.ZarrError):
        ZarrTable(store, "g")


def test_reads_reference_equivalent_layout(spark, parity_store):
    """Our writer's layout matches what the reference's zarr-python fixture
    generator produces; the raw reader returns the golden values directly."""
    group = zarrv3.open_group(parity_store, "meta")
    assert sorted(group.arrays) == ["bbox", "collection", "date"]
    assert list(group.arrays["collection"].read_range(0, 3)) == GOLDEN_COLLECTIONS
    dates = group.arrays["date"].read_range(0, 3)
    assert list(np.asarray(dates, dtype=np.int64)) == GOLDEN_EPOCH_MS


def test_gzip_codec(spark, tmp_path):
    """Chunks compressed with gzip instead of zstd decode identically."""
    import gzip as gz
    import json as js

    store = str(tmp_path / "gz.zarr")
    zarrv3.write_group(store, "g", {"x": np.arange(6, dtype=np.int64)}, chunk_rows=3)
    # rewrite array metadata + chunks with a gzip bytes->bytes codec
    meta_path = f"{store}/g/x/zarr.json"
    doc = js.load(open(meta_path))
    doc["codecs"] = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "gzip", "configuration": {"level": 5}},
    ]
    js.dump(doc, open(meta_path, "w"))
    for ci, lo in enumerate(range(0, 6, 3)):
        payload = np.arange(lo, lo + 3, dtype="<i8").tobytes()
        with open(f"{store}/g/x/c/{ci}", "wb") as f:
            f.write(gz.compress(payload, 5))
    meta = zarrv3.open_array(store, "g/x")
    assert list(meta.read_range(0, 6)) == list(range(6))
    df = ZarrTable(store, "g").to_df(spark)
    assert sorted(r.x for r in df.collect()) == list(range(6))


def test_chunk_stats_written_and_parsed(tmp_path):
    store = str(tmp_path / "st.zarr")
    zarrv3.write_group(store, "g", {"x": np.arange(100, dtype=np.int64)}, chunk_rows=10)
    meta = zarrv3.open_array(store, "g/x")
    assert meta.chunk_stats is not None
    assert meta.chunk_stats["min"][0] == 0 and meta.chunk_stats["max"][0] == 9
    assert meta.chunk_stats["min"][9] == 90 and meta.chunk_stats["max"][9] == 99


def test_chunk_pruning_skips_chunks(spark, tmp_path):
    """Pushed range filters + per-chunk stats -> fewer input partitions
    (the Zarr analogue of parquet row-group pruning)."""
    from pyspark.sql.datasource import GreaterThan, EqualTo
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrReader
    from zarr_datafusion_search_spark.sources.typemap import group_schema

    store = str(tmp_path / "prune.zarr")
    zarrv3.write_group(
        store, "g",
        {"x": np.arange(10_000, dtype=np.int64),
         "s": [f"k{i:05d}" for i in range(10_000)]},
        chunk_rows=1000,
    )
    group = zarrv3.open_group(store, "g")
    schema = group_schema({n: m.dtype for n, m in group.arrays.items()})

    def reader_with(filters):
        r = ZarrReader(store, "g", schema, partition_rows=1000)
        unsupported = list(r.pushFilters(filters))
        assert not unsupported
        return r

    base = reader_with([])
    assert len(base.partitions()) == 10
    pruned = reader_with([GreaterThan(("x",), 8999)])
    assert len(pruned.partitions()) == 1          # only the last chunk
    eq = reader_with([EqualTo(("s",), "k04500")])
    assert len(eq.partitions()) == 1              # string stats prune too
    none = reader_with([GreaterThan(("x",), 10_000_000)])
    parts = none.partitions()
    assert len(parts) == 1 and parts[0].start == parts[0].stop  # all pruned

    # end-to-end correctness through Spark with the pruned plan
    df = ZarrTable(store, "g").to_df(spark)
    assert df.filter("x > 8999").count() == 1000
    assert df.filter("x > 8999").agg({"x": "min"}).collect()[0][0] == 9000
    assert df.filter("s = 'k04500'").count() == 1


def test_chunk_pruning_datetime(spark, tmp_path):
    store = str(tmp_path / "prune_ts.zarr")
    days = np.arange(0, 1000, dtype="timedelta64[D]") + np.datetime64("2020-01-01", "D")
    zarrv3.write_group(store, "g", {"t": days.astype("datetime64[ms]")}, chunk_rows=100)
    df = ZarrTable(store, "g").to_df(spark)
    sub = df.filter("t >= timestamp_ntz'2022-09-01 00:00:00'")
    n = sub.count()
    assert n == sum(1 for d in days if d >= np.datetime64("2022-09-01"))
    # and the reader-level partition count shrinks
    from pyspark.sql.datasource import GreaterThanOrEqual
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrReader
    from zarr_datafusion_search_spark.sources.typemap import group_schema
    import datetime as dt

    group = zarrv3.open_group(store, "g")
    schema = group_schema({n2: m.dtype for n2, m in group.arrays.items()})
    r = ZarrReader(store, "g", schema, partition_rows=100)
    list(r.pushFilters([GreaterThanOrEqual(("t",), dt.datetime(2022, 9, 1))]))
    assert len(r.partitions()) < 10


def test_sharded_store_roundtrip(spark, tmp_path):
    """sharding_indexed: inner chunks packed per shard object with a
    uint64 index — the object-count-friendly layout for 100 TB stores."""
    store = str(tmp_path / "sharded.zarr")
    n = 10_000
    zarrv3.write_group(
        store, "g",
        {"x": np.arange(n, dtype=np.int64),
         "s": [f"v{i:05d}" for i in range(n)]},
        chunk_rows=2048, inner_rows=256,
    )
    meta = zarrv3.open_array(store, "g/x")
    assert meta.sharding is not None
    assert meta.chunk_rows == 2048
    # raw reader: full range and unaligned slices
    assert list(meta.read_range(0, 10)) == list(range(10))
    assert list(meta.read_range(2040, 2060)) == list(range(2040, 2060))  # shard boundary
    assert list(meta.read_range(9990, 10_000)) == list(range(9990, 10_000))  # ragged tail
    # through Spark
    from zarr_datafusion_search_spark import ZarrTable
    df = ZarrTable(store, "g").to_df(spark)
    assert df.count() == n
    import pyspark.sql.functions as F2
    assert df.agg(F2.sum("x")).collect()[0][0] == sum(range(n))
    row = df.filter("x = 7777").collect()[0]
    assert row.s == "v07777"


def test_sharded_missing_inner_chunk_fills(tmp_path):
    store = str(tmp_path / "shardfill.zarr")
    zarrv3.write_group(
        store, "g", {"x": np.arange(1000, dtype=np.int64)},
        chunk_rows=512, inner_rows=128,
    )
    # corrupt: mark inner chunk 1 of shard 0 as missing in the index
    p = f"{store}/g/x/c/0"
    raw = bytearray(open(p, "rb").read())
    n_inner = 4
    idx_off = len(raw) - n_inner * 16
    import struct as st
    raw[idx_off + 16 : idx_off + 32] = st.pack("<QQ", 2**64 - 1, 2**64 - 1)
    open(p, "wb").write(bytes(raw))
    meta = zarrv3.open_array(store, "g/x")
    vals = list(meta.read_range(0, 512))
    assert vals[:128] == list(range(128))
    assert vals[128:256] == [0] * 128  # filled
    assert vals[256:384] == list(range(256, 384))


def _write_minimal_array(store, dtype_json, chunk_payload, n, codecs=None):
    import json as js

    os = __import__("os")
    os.makedirs(f"{store}/g/x/c", exist_ok=True)
    for p in (f"{store}/zarr.json", f"{store}/g/zarr.json"):
        js.dump({"zarr_format": 3, "node_type": "group", "attributes": {}}, open(p, "w"))
    js.dump(
        {
            "shape": [n], "data_type": dtype_json,
            "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [n]}},
            "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
            "fill_value": 0,
            "codecs": codecs or [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "zstd", "configuration": {"level": 0, "checksum": False}},
            ],
            "attributes": {}, "zarr_format": 3, "node_type": "array",
            "storage_transformers": [],
        },
        open(f"{store}/g/x/zarr.json", "w"),
    )
    open(f"{store}/g/x/c/0", "wb").write(zarrv3._zstd_compress(chunk_payload, 0))


def test_raw_bits_dtype(spark, tmp_path):
    """r32 opaque fixed-width values -> BinaryType (SURVEY §1.3 RawBits row)."""
    store = str(tmp_path / "raw.zarr")
    vals = np.array([b"\x01\x02\x03\x04", b"\xff\x00\xff\x00", b"abcd"], dtype="|V4")
    _write_minimal_array(store, "r32", vals.tobytes(), 3)
    t = ZarrTable(store, "g")
    assert t.schema.fields[0].dataType.simpleString() == "binary"
    got = sorted(bytes(r.x) for r in t.to_df(spark).collect())
    assert got == sorted([b"\x01\x02\x03\x04", b"\xff\x00\xff\x00", b"abcd"])


def test_vlen_bytes_dtype(spark, tmp_path):
    """Variable-length bytes -> BinaryType via the vlen-bytes codec."""
    store = str(tmp_path / "vb.zarr")
    items = [b"\x00\x01", b"", b"longer payload \xff"]
    payload = zarrv3._encode_vlen(items)
    _write_minimal_array(
        store, "bytes", payload, 3,
        codecs=[{"name": "vlen-bytes", "configuration": {}},
                {"name": "zstd", "configuration": {"level": 0, "checksum": False}}],
    )
    t = ZarrTable(store, "g")
    got = {bytes(r.x) for r in t.to_df(spark).collect()}
    assert got == set(items)


def test_mixed_chunk_sizes_across_columns(spark, tmp_path):
    """Columns may have different chunk grids; partitions align to the
    largest, other columns decode partial chunks per range."""
    store = str(tmp_path / "mixed.zarr")
    n = 5000
    # write two arrays with different chunk sizes into the same group
    zarrv3.init_group(store, "g")
    zarrv3._write_array(f"{store}/g", "a", np.arange(n, dtype=np.int64), 700, 0)
    zarrv3._write_array(f"{store}/g", "b", [f"s{i}" for i in range(n)], 256, 0)
    df = ZarrTable(store, "g").to_df(spark)
    assert df.count() == n
    import pyspark.sql.functions as F2
    assert df.agg(F2.sum("a")).collect()[0][0] == sum(range(n))
    rows = df.filter("a IN (0, 699, 700, 4999)").orderBy("a").collect()
    assert [(r.a, r.b) for r in rows] == [(0, "s0"), (699, "s699"), (700, "s700"), (4999, "s4999")]


def test_nested_group_path(spark, tmp_path):
    store = str(tmp_path / "nested.zarr")
    zarrv3.write_group(store, "outer/inner", {"x": np.arange(10, dtype=np.int64)})
    t = ZarrTable(store, "/outer/inner")
    assert t.to_df(spark).count() == 10


def test_crc32c_known_vector():
    assert zarrv3.crc32c(b"123456789") == 0xE3069283
    assert zarrv3.crc32c(b"") == 0


def test_crc32c_codec_verifies_and_detects_corruption(tmp_path):
    import struct as st

    store = str(tmp_path / "crc.zarr")
    payload = np.arange(10, dtype="<i8").tobytes()
    _write_minimal_array(
        store, "int64", payload, 10,
        codecs=[
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "zstd", "configuration": {"level": 0, "checksum": False}},
            {"name": "crc32c", "configuration": {}},
        ],
    )
    p = f"{store}/g/x/c/0"
    comp = open(p, "rb").read()
    open(p, "wb").write(comp + st.pack("<I", zarrv3.crc32c(comp)))
    meta = zarrv3.open_array(store, "g/x")
    assert list(meta.read_range(0, 10)) == list(range(10))
    # flip one byte of the compressed body: must fail loudly, not decode
    # silently into wrong values
    raw = bytearray(open(p, "rb").read())
    raw[5] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(zarrv3.ZarrError, match="crc32c mismatch"):
        zarrv3.open_array(store, "g/x").read_range(0, 10)


def test_shard_index_crc32c_verified(tmp_path):
    import json as js
    import struct as st

    store = str(tmp_path / "shardcrc.zarr")
    zarrv3.write_group(
        store, "g", {"x": np.arange(1000, dtype=np.int64)},
        chunk_rows=512, inner_rows=128,
    )
    # retrofit a crc32c index checksum onto shard 0
    meta_path = f"{store}/g/x/zarr.json"
    doc = js.load(open(meta_path))
    cfg = doc["codecs"][0]["configuration"]
    assert cfg.get("index_location", "end") == "end"
    cfg["index_codecs"] = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "crc32c", "configuration": {}},
    ]
    js.dump(doc, open(meta_path, "w"))
    for shard in ("0", "1"):
        p = f"{store}/g/x/c/{shard}"
        raw = open(p, "rb").read()
        idx = raw[-4 * 16:]
        open(p, "wb").write(raw + st.pack("<I", zarrv3.crc32c(idx)))
    meta = zarrv3.open_array(store, "g/x")
    assert list(meta.read_range(0, 10)) == list(range(10))
    # corrupt one index byte in shard 0
    p = f"{store}/g/x/c/0"
    raw = bytearray(open(p, "rb").read())
    raw[-10] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(zarrv3.ZarrError, match="crc32c mismatch.*shard index"):
        zarrv3.open_array(store, "g/x").read_range(0, 10)


def test_datetime_pruning_exact_boundary(spark, tmp_path):
    """Integer-tick conversion: a filter equal to a chunk's true min/max
    must never prune that chunk (float total_seconds() rounding could)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrReader
    from zarr_datafusion_search_spark.sources.typemap import group_schema
    import datetime as dt

    store = str(tmp_path / "prune_us.zarr")
    # us-precision values with sub-second parts where float seconds round
    base = np.datetime64("2020-01-01T00:00:00.123456", "us")
    vals = base + np.arange(1000).astype("timedelta64[s]")
    zarrv3.write_group(store, "g", {"t": vals}, chunk_rows=100)
    group = zarrv3.open_group(store, "g")
    schema = group_schema({n: m.dtype for n, m in group.arrays.items()})

    # chunk 3 spans rows [300, 400); its min is base + 300s exactly
    boundary = dt.datetime(2020, 1, 1, 0, 5, 0, 123456)
    r = ZarrReader(store, "g", schema, partition_rows=100)
    list(r.pushFilters([EqualTo(("t",), boundary)]))
    parts = [p for p in r.partitions() if p.stop > p.start]
    assert len(parts) == 1 and parts[0].start == 300

    # s-unit array + sub-second filter value: exact rational comparison
    store2 = str(tmp_path / "prune_s.zarr")
    vals_s = np.datetime64("2020-01-01", "s") + np.arange(1000).astype("timedelta64[s]")
    zarrv3.write_group(store2, "g", {"t": vals_s}, chunk_rows=100)
    group2 = zarrv3.open_group(store2, "g")
    schema2 = group_schema({n: m.dtype for n, m in group2.arrays.items()})
    r2 = ZarrReader(store2, "g", schema2, partition_rows=100)
    list(r2.pushFilters([GreaterThanOrEqual(("t",), dt.datetime(2020, 1, 1, 0, 16, 38, 500000))]))
    parts2 = [p for p in r2.partitions() if p.stop > p.start]
    # t >= 998.5s matches only t=999 in chunk 9 (rows 900..1000)
    assert parts2 and parts2[0].start == 900
    # a filter past the true max prunes everything (fractional tick exact)
    r3 = ZarrReader(store2, "g", schema2, partition_rows=100)
    list(r3.pushFilters([GreaterThanOrEqual(("t",), dt.datetime(2020, 1, 1, 0, 16, 39, 500000))]))
    assert not [p for p in r3.partitions() if p.stop > p.start]


# -- partition planner --------------------------------------------------------


def _planner_store(tmp_path, n_chunks=16, chunk_rows=100):
    from zarr_datafusion_search_spark.sources.typemap import group_schema

    store = str(tmp_path / "plan.zarr")
    n = n_chunks * chunk_rows
    zarrv3.write_group(
        store, "g",
        {"x": np.arange(n, dtype=np.int64), "k": np.arange(n, dtype=np.int64) // chunk_rows},
        chunk_rows=chunk_rows,
    )
    group = zarrv3.open_group(store, "g")
    return store, group_schema({c: m.dtype for c, m in group.arrays.items()})


@pytest.mark.parametrize("slots", [1, 3, 4, 16, 40])
@pytest.mark.parametrize(
    "filters,survivors",
    [
        ("all", list(range(16))),
        ("ge", list(range(9, 16))),           # one contiguous run
        ("in", [0, 3, 4, 5, 11, 15]),         # scattered runs
        ("none", []),
    ],
)
def test_default_plan_is_one_balanced_wave(tmp_path, slots, filters, survivors):
    """Default options: the chunks that survive pruning are dealt out over
    min(survivors, slots) partitions whose chunk counts differ by at most
    one, and every surviving chunk lands in exactly one partition."""
    from pyspark.sql.datasource import GreaterThan, GreaterThanOrEqual, In
    from zarr_datafusion_search_spark.sources.zarr_datasource import RowRange, ZarrReader

    store, schema = _planner_store(tmp_path)
    pushed = {
        "ge": [GreaterThanOrEqual(("x",), 950)],
        "in": [In(("k",), tuple(survivors))],
        "none": [GreaterThan(("x",), 10**9)],
    }.get(filters, [])
    r = ZarrReader(store, "g", schema, slots=slots)
    assert not list(r.pushFilters(pushed))
    parts = r.partitions()
    if not survivors:
        assert parts == [RowRange(0, 0)]
        return
    assert len(parts) == min(len(survivors), slots)
    owners = [[p for p in parts if p.start <= c * 100 < p.stop] for c in survivors]
    assert all(len(o) == 1 for o in owners)
    sizes = [sum(p.start <= c * 100 < p.stop for c in survivors) for p in parts]
    assert max(sizes) - min(sizes) <= 1
    assert all(p.start % 100 == 0 and p.stop % 100 == 0 for p in parts)


def test_default_plan_skips_pruned_chunks_inside_a_partition(tmp_path, monkeypatch):
    """A balanced partition can step over chunks pruning dropped; read()
    must not decode them, and must return exactly the matching rows."""
    from pyspark.sql.datasource import In
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrReader

    store, schema = _planner_store(tmp_path)
    keep = (0, 3, 4, 5, 11, 15)
    r = ZarrReader(store, "g", schema, slots=2)
    list(r.pushFilters([In(("k",), keep)]))
    parts = r.partitions()
    assert len(parts) == 2 and parts[0].stop - parts[0].start > 3 * 100  # spans a gap
    decoded = []
    real = zarrv3.ZarrArrayMeta.decode_chunk

    def spy(self, raw, rows):
        decoded.append(self.name)
        return real(self, raw, rows)

    monkeypatch.setattr(zarrv3.ZarrArrayMeta, "decode_chunk", spy)
    got = sorted(x for p in parts for b in r.read(p) for x in b.column("x").to_pylist())
    assert got == [x for c in keep for x in range(c * 100, c * 100 + 100)]
    assert len(decoded) == len(keep) * 2  # two columns, surviving chunks only


def test_default_plan_caps_partition_rows():
    """A default partition never exceeds DEFAULT_PARTITION_ROWS (whole
    chunks), even when that needs more partitions than task slots."""
    from zarr_datafusion_search_spark.sources.zarr_datasource import (
        DEFAULT_PARTITION_ROWS,
        plan_partitions,
    )

    c = DEFAULT_PARTITION_ROWS // 2
    spans = [(i * c, (i + 1) * c) for i in range(9)]
    parts = plan_partitions(spans, c, None, slots=2)
    assert len(parts) == 5
    assert all(p.stop - p.start <= DEFAULT_PARTITION_ROWS for p in parts)
    assert [p.start for p in parts] == [0, 2 * c, 4 * c, 6 * c, 8 * c]


def test_default_plan_empty_store(tmp_path):
    from zarr_datafusion_search_spark.sources.typemap import group_schema
    from zarr_datafusion_search_spark.sources.zarr_datasource import RowRange, ZarrReader

    store = str(tmp_path / "empty.zarr")
    zarrv3.write_group(store, "g", {"x": np.arange(0, dtype=np.int64), "s": []})
    group = zarrv3.open_group(store, "g")
    schema = group_schema({c: m.dtype for c, m in group.arrays.items()})
    r = ZarrReader(store, "g", schema, slots=4)
    assert r.partitions() == [RowRange(0, 0)]
    assert list(r.read(RowRange(0, 0))) == []


def test_stream_plan_shares_the_batch_planner(tmp_path):
    """The stream reader plans with the same helper: the rows between two
    offsets (starting mid-chunk) are covered once, no chunk is split across
    partitions, and the default plan is one wave over the task slots."""
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrStreamReader

    store, schema = _planner_store(tmp_path)
    for slots in (1, 4, 32):
        r = ZarrStreamReader(store, "g", schema, slots=slots)
        parts = r.partitions({"rows": 250}, {"rows": 1430})
        assert parts[0].start == 250 and parts[-1].stop == 1430
        assert all(a.stop == b.start for a, b in zip(parts, parts[1:]))
        assert all(p.stop % 100 == 0 for p in parts[:-1])
        assert len(parts) == min(13, slots)  # 13 chunk spans in [250, 1430)
        rows = [x for p in parts for b in r.read(p) for x in b.column("x").to_pylist()]
        assert rows == list(range(250, 1430))
    explicit = ZarrStreamReader(store, "g", schema, partition_rows=300)
    parts = explicit.partitions({"rows": 0}, {"rows": 1600})
    assert [p.stop - p.start for p in parts] == [300] * 5 + [100]


def test_zarr_table_passes_session_task_slots(spark, tmp_path):
    """to_df plans over the session's defaultParallelism: a 16-chunk full
    scan runs as one task per slot, not one per chunk."""
    store, _ = _planner_store(tmp_path)
    df = ZarrTable(store, "g").to_df(spark)
    assert df.rdd.getNumPartitions() == min(16, spark.sparkContext.defaultParallelism)
    assert df.count() == 1600


# -- pushed filters must not leak into later queries --------------------------


def _dated_store(tmp_path):
    store = str(tmp_path / "dated.zarr")
    n, chunk = 16 * 256, 256
    dates = np.datetime64("2023-01-01", "ms") + (
        np.arange(n, dtype=np.int64) * 3_600_000
    ).astype("timedelta64[ms]")
    zarrv3.write_group(
        store, "meta",
        {"date": dates, "collection": [f"collection_{'abcd'[i % 4]}" for i in range(n)]},
        chunk_rows=chunk,
    )
    return store, dates


def test_sql_view_reused_after_filtered_query(spark, tmp_path):
    """A ZarrTable registered once answers every later query in full: the
    filters a date range pushed must not narrow a later count or GROUP BY,
    and the range itself still prunes to 2 of 16 chunks."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    from zarr_datafusion_search_spark import SessionContext
    from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

    store, dates = _dated_store(tmp_path)
    n = len(dates)
    ctx = SessionContext(spark)
    ctx.register_table("dated", ZarrTable(store, "/meta"))
    lo, hi = "2023-01-12 00:00:00", "2023-01-30 00:00:00"
    in_range = int(((dates >= np.datetime64(lo)) & (dates < np.datetime64(hi))).sum())
    count_all = "SELECT count(*) FROM dated"
    assert ctx.sql(count_all).collect()[0][0] == n
    ranged = ctx.sql(
        f"SELECT count(*) FROM dated WHERE date >= TIMESTAMP '{lo}' AND date < TIMESTAMP '{hi}'"
    )
    assert ranged.collect()[0][0] == in_range
    assert ctx.sql(count_all).collect()[0][0] == n
    ctx.sql(f"SELECT * FROM dated WHERE date >= TIMESTAMP '{lo}'").collect()
    groups = ctx.sql("SELECT collection, count(*) AS c FROM dated GROUP BY collection")
    assert sorted(r.c for r in groups.collect()) == [n // 4] * 4
    assert ctx.table("dated").count() == n

    reader = ZarrDataSource({"path": store, "group": "/meta"}).reader(
        ZarrTable(store, "/meta").schema
    )
    pushed = [
        GreaterThanOrEqual(("date",), dt.datetime.fromisoformat(lo)),
        LessThan(("date",), dt.datetime.fromisoformat(hi)),
    ]
    assert not list(reader.pushFilters(pushed))
    covered = sum(p.stop - p.start for p in reader.partitions())
    assert covered == 2 * 256


def test_dataframe_reused_after_filtered_action(spark, tmp_path):
    """``ZarrTable.to_df`` is the JVM reader, and DSv2 builds one scan
    builder per query: a DataFrame reused after a filtered action reads
    every row again."""
    store, dates = _dated_store(tmp_path)
    df = ZarrTable(store, "/meta").to_df(spark)
    assert df.filter("collection = 'collection_a'").count() == len(dates) // 4
    assert df.count() == len(dates)
    assert len(df.collect()) == len(dates)


@pytest.mark.xfail(
    strict=True,
    reason=(
        "Spark 4.1 PythonDataSourceV2 caches one readInfo (the pickled "
        "reader with its claimed filters, plus its partitions) per relation; "
        "PythonScanBuilder.pushFilters replaces it only when filters are "
        "pushed, so reusing a DataFrame after a filtered action reads the "
        "filtered rows. SessionContext.sql re-resolves views; a bare "
        "format('zarr') DataFrame cannot be fixed from the data source."
    ),
)
def test_python_source_dataframe_reused_after_filtered_action(spark, tmp_path):
    from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered

    store, dates = _dated_store(tmp_path)
    _ensure_registered(spark)
    df = (
        spark.read.format("zarr")
        .option("group", "/meta")
        .schema(ZarrTable(store, "/meta").schema)
        .load(store)
    )
    assert df.filter("collection = 'collection_a'").count() == len(dates) // 4
    assert df.count() == len(dates)


def test_new_session_reads_with_pushed_filter(spark, tmp_path, monkeypatch):
    """Registration runs once per SparkSession object, and a newSession is
    a new object with its own SQL conf: after the parent session has read
    (and been registered), a child session whose pushdown flag is off still
    gets the format and the flag, and reads a filtered store."""
    from pyspark.sql.datasource import DataSourceRegistration

    store, dates = _dated_store(tmp_path)
    table = ZarrTable(store, "/meta")
    assert table.to_df(spark).count() == len(dates)
    calls = []
    real_register = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration, "register",
        lambda self, ds: calls.append(ds) or real_register(self, ds),
    )
    child = spark.newSession()
    child.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    for _ in range(2):
        df = table.to_df(child)
        assert df.filter("collection = 'collection_a'").count() == len(dates) // 4
        table.to_df(spark)
    assert child.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    assert len(calls) == 1
