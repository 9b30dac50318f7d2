"""Property-based tests (hypothesis) for the pure-Python Zarr v3 codec
stack: arbitrary values x dtypes x chunk geometries x slices round-trip
exactly through write_group / write_sharded_group -> open_array ->
read_range. No Spark involved — these hammer the byte-level edge cases
(partial last chunk, single-row chunks, empty slices, NaN, dtype extremes,
unicode) that example tests tend to miss."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zarr_datafusion_search_spark.sources import zarrv3

SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

FIXED_DTYPES = [
    np.dtype("int8"),
    np.dtype("int32"),
    np.dtype("int64"),
    np.dtype("uint16"),
    np.dtype("float32"),
    np.dtype("float64"),
    np.dtype("datetime64[ms]"),
]


def _values(draw, dt: np.dtype, n: int) -> np.ndarray:
    if dt.kind == "f":
        fin = np.finfo(dt)
        elem = st.one_of(
            st.floats(
                min_value=float(-fin.max) / 2,
                max_value=float(fin.max) / 2,
                width=dt.itemsize * 8,
            ),
            st.just(float("nan")),
        )
        vals = draw(st.lists(elem, min_size=n, max_size=n))
        return np.array(vals, dtype=dt)
    if dt.kind in "iu":
        info = np.iinfo(dt)
        vals = draw(
            st.lists(
                st.integers(min_value=int(info.min), max_value=int(info.max)),
                min_size=n,
                max_size=n,
            )
        )
        return np.array(vals, dtype=dt)
    # datetime64: epoch ticks within a generous window
    vals = draw(
        st.lists(
            st.integers(min_value=-(2**48), max_value=2**48),
            min_size=n,
            max_size=n,
        )
    )
    return np.array(vals, dtype="int64").view(dt)


def _assert_equal(dt: np.dtype, got: np.ndarray, want: np.ndarray) -> None:
    if dt.kind == "M":
        # read_range returns raw epoch ticks; the Arrow assembly layer
        # applies the unit stored in array metadata
        np.testing.assert_array_equal(got, want.view("int64"))
        return
    assert got.dtype == want.dtype
    if dt.kind == "f":
        np.testing.assert_array_equal(
            np.isnan(got), np.isnan(want)
        )
        mask = ~np.isnan(want)
        np.testing.assert_array_equal(got[mask], want[mask])
    else:
        np.testing.assert_array_equal(got, want)


@settings(**SETTINGS)
@given(data=st.data())
def test_roundtrip_fixed_dtypes(data, tmp_path_factory):
    dt = data.draw(st.sampled_from(FIXED_DTYPES), label="dtype")
    n = data.draw(st.integers(min_value=1, max_value=120), label="n_rows")
    chunk = data.draw(st.integers(min_value=1, max_value=50), label="chunk")
    level = data.draw(st.sampled_from([0, 3]), label="zstd")
    arr = _values(data.draw, dt, n)
    store = str(tmp_path_factory.mktemp("prop") / "s.zarr")
    zarrv3.write_group(store, "/g", {"x": arr}, chunk_rows=chunk, zstd_level=level)
    meta = zarrv3.open_array(store, "/g/x")
    if dt.kind == "M":
        assert meta.dtype.unit == np.datetime_data(dt)[0]
    got = meta.read_range(0, n)
    _assert_equal(dt, got, arr)
    # arbitrary slice, including empty
    a = data.draw(st.integers(min_value=0, max_value=n), label="start")
    b = data.draw(st.integers(min_value=0, max_value=n), label="stop")
    got_slice = meta.read_range(a, b)
    want_slice = arr[a:b]
    if b <= a:
        assert len(got_slice) == 0
    else:
        _assert_equal(dt, got_slice, want_slice)


@settings(**SETTINGS)
@given(data=st.data())
def test_roundtrip_strings(data, tmp_path_factory):
    n = data.draw(st.integers(min_value=1, max_value=80), label="n_rows")
    chunk = data.draw(st.integers(min_value=1, max_value=30), label="chunk")
    vals = data.draw(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",)  # no lone surrogates
                ),
                max_size=20,
            ),
            min_size=n,
            max_size=n,
        ),
        label="strings",
    )
    store = str(tmp_path_factory.mktemp("prop") / "s.zarr")
    zarrv3.write_group(store, "/g", {"s": vals}, chunk_rows=chunk)
    meta = zarrv3.open_array(store, "/g/s")
    assert meta.read_range(0, n) == vals
    a = data.draw(st.integers(min_value=0, max_value=n), label="start")
    b = data.draw(st.integers(min_value=a, max_value=n), label="stop")
    assert meta.read_range(a, b) == vals[a:b]


@settings(**SETTINGS)
@given(data=st.data())
def test_roundtrip_sharded(data, tmp_path_factory):
    dt = data.draw(st.sampled_from([np.dtype("int64"), np.dtype("float64")]))
    n = data.draw(st.integers(min_value=1, max_value=200), label="n_rows")
    inner = data.draw(st.integers(min_value=1, max_value=16), label="inner")
    mult = data.draw(st.integers(min_value=1, max_value=6), label="mult")
    shard = inner * mult
    arr = _values(data.draw, dt, n)
    store = str(tmp_path_factory.mktemp("prop") / "s.zarr")
    zarrv3.write_sharded_group(
        store, "/g", {"x": arr}, shard_rows=shard, inner_rows=inner
    )
    meta = zarrv3.open_array(store, "/g/x")
    _assert_equal(dt, meta.read_range(0, n), arr)
    a = data.draw(st.integers(min_value=0, max_value=max(n - 1, 0)), label="start")
    b = data.draw(st.integers(min_value=a + 1, max_value=n), label="stop")
    _assert_equal(dt, meta.read_range(a, b), arr[a:b])


@pytest.mark.parametrize("n,chunk", [(1, 1), (1, 7), (7, 7), (8, 7), (100, 1)])
def test_chunk_geometry_edges(tmp_path, n, chunk):
    arr = np.arange(n, dtype="int64")
    store = str(tmp_path / "s.zarr")
    zarrv3.write_group(store, "/g", {"x": arr}, chunk_rows=chunk)
    meta = zarrv3.open_array(store, "/g/x")
    np.testing.assert_array_equal(meta.read_range(0, n), arr)


# -- VLen decode: the Arrow decoder against the per-item reference loop ------


def _reference_vlen(buf: bytes) -> list[bytes]:
    """numcodecs VLen layout read item by item: u32 item count, then
    (u32 length, payload) per item. The oracle for ``zarrv3._decode_vlen``."""
    import struct

    (n,) = struct.unpack_from("<I", buf, 0)
    off = 4
    out = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", buf, off)
        off += 4
        out.append(buf[off : off + ln])
        off += ln
    return out


TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
) | st.sampled_from(["", "\x00", "a\x00b", "é", "日本語", "🙂\x00🙂"])


@settings(**SETTINGS)
@given(items=st.lists(TEXT, max_size=40))
def test_vlen_utf8_decode_matches_reference(items):
    buf = zarrv3._encode_vlen([s.encode("utf-8") for s in items])
    got = zarrv3._decode_vlen(buf, binary=False)
    assert got.type == pa.string()
    assert got.to_pylist() == [b.decode("utf-8") for b in _reference_vlen(buf)]
    assert got.to_pylist() == items


@settings(**SETTINGS)
@given(items=st.lists(st.binary(max_size=12), max_size=40))
def test_vlen_bytes_decode_matches_reference(items):
    buf = zarrv3._encode_vlen(items)
    got = zarrv3._decode_vlen(buf, binary=True)
    assert got.type == pa.binary()
    assert got.to_pylist() == _reference_vlen(buf) == items


@pytest.mark.parametrize("items", [[], [""], ["\x00"], ["x" * 70_000]])
def test_vlen_zero_and_one_item_chunks(items):
    buf = zarrv3._encode_vlen([s.encode() for s in items])
    assert zarrv3._decode_vlen(buf, binary=False).to_pylist() == items


@pytest.mark.parametrize(
    "buf",
    [
        b"",                                                   # no item count
        b"\x02\x00\x00\x00" + b"\x01\x00\x00\x00a",            # count > items
        b"\x01\x00\x00\x00" + b"\x05\x00\x00\x00ab",           # length > bytes
        b"\x01\x00\x00\x00" + b"\x01\x00",                     # cut length prefix
        b"\x01\x00\x00\x00" + b"\xff\xff\xff\xff",             # negative as i32
        b"\x01\x00\x00\x00" + b"\x02\x00\x00\x00\xc3\x28",     # invalid UTF-8
        b"\x01\x00\x00\x00" + b"\x01\x00\x00\x00\xed",         # truncated sequence
    ],
)
def test_vlen_corrupt_chunk_raises(buf):
    with pytest.raises(zarrv3.ZarrError):
        zarrv3._decode_vlen(buf, binary=False)


def _write_vlen_array(store, items, chunk, dtype="string", crc=False, missing=()):
    """A 1-D VLen array written chunk by chunk with an explicit codec chain:
    ``vlen-utf8``/``vlen-bytes`` + zstd [+ crc32c]; chunks in ``missing``
    are left out, so they read as the fill value."""
    import json
    import os
    import struct

    codecs = [
        {"name": "vlen-bytes" if dtype == "bytes" else "vlen-utf8", "configuration": {}},
        {"name": "zstd", "configuration": {"level": 0, "checksum": False}},
    ]
    if crc:
        codecs.append({"name": "crc32c", "configuration": {}})
    zarrv3.init_group(store, "g")
    os.makedirs(f"{store}/g/v/c")
    with open(f"{store}/g/v/zarr.json", "w") as f:
        json.dump({
            "zarr_format": 3, "node_type": "array", "shape": [len(items)],
            "data_type": dtype,
            "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [chunk]}},
            "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
            "fill_value": "", "codecs": codecs, "attributes": {},
        }, f)
    for ci, lo in enumerate(range(0, len(items), chunk)):
        if ci in missing:
            continue
        raw = [v if dtype == "bytes" else v.encode() for v in items[lo : lo + chunk]]
        blob = zarrv3._zstd_compress(zarrv3._encode_vlen(raw))
        if crc:
            blob += struct.pack("<I", zarrv3.crc32c(blob))
        with open(f"{store}/g/v/c/{ci}", "wb") as f:
            f.write(blob)
    return zarrv3.open_array(store, "g/v")


@settings(**SETTINGS)
@given(data=st.data())
def test_vlen_arrays_read_across_chunks(data, tmp_path_factory):
    """Slices that cross chunk boundaries, through the codec chains a store
    can carry: vlen-bytes comes back binary, crc32c is verified, missing
    chunks read as the fill value."""
    dtype = data.draw(st.sampled_from(["string", "bytes"]), label="dtype")
    elem = st.binary(max_size=8) if dtype == "bytes" else TEXT
    items = data.draw(st.lists(elem, min_size=1, max_size=60), label="items")
    chunk = data.draw(st.integers(min_value=1, max_value=17), label="chunk")
    n_chunks = -(-len(items) // chunk)
    missing = data.draw(
        st.sets(st.integers(min_value=0, max_value=n_chunks - 1), max_size=2),
        label="missing",
    )
    crc = data.draw(st.booleans(), label="crc32c")
    store = str(tmp_path_factory.mktemp("vlen") / "s.zarr")
    meta = _write_vlen_array(store, items, chunk, dtype, crc, missing)
    fill = b"" if dtype == "bytes" else ""
    want = [
        fill if i // chunk in missing else v for i, v in enumerate(items)
    ]
    a = data.draw(st.integers(min_value=0, max_value=len(items)), label="start")
    b = data.draw(st.integers(min_value=a, max_value=len(items)), label="stop")
    got = meta.read_values(a, b)
    assert got.type == (pa.binary() if dtype == "bytes" else pa.string())
    assert got.to_pylist() == want[a:b]
    assert meta.read_range(a, b) == want[a:b]


@settings(**SETTINGS)
@given(data=st.data())
def test_vlen_sharded_inner_chunks(data, tmp_path_factory):
    """Strings in sharded arrays, with one inner chunk marked missing in
    its shard index (it reads as the fill value)."""
    import struct

    n = data.draw(st.integers(min_value=1, max_value=120), label="n_rows")
    inner = data.draw(st.integers(min_value=1, max_value=16), label="inner")
    shard = inner * data.draw(st.integers(min_value=1, max_value=4), label="mult")
    items = data.draw(st.lists(TEXT, min_size=n, max_size=n), label="items")
    store = str(tmp_path_factory.mktemp("vshard") / "s.zarr")
    zarrv3.write_sharded_group(store, "/g", {"s": items}, shard_rows=shard, inner_rows=inner)
    hole = data.draw(st.integers(min_value=0, max_value=(n - 1) // inner), label="hole")
    si, ii = divmod(hole, shard // inner)
    path = f"{store}/g/s/c/{si}"
    raw = bytearray(open(path, "rb").read())
    at = len(raw) - (shard // inner) * 16 + ii * 16
    raw[at : at + 16] = struct.pack("<QQ", 2**64 - 1, 2**64 - 1)
    open(path, "wb").write(bytes(raw))
    want = ["" if i // inner == hole else v for i, v in enumerate(items)]
    meta = zarrv3.open_array(store, "/g/s")
    assert meta.read_range(0, n) == want
    a = data.draw(st.integers(min_value=0, max_value=n), label="start")
    b = data.draw(st.integers(min_value=a, max_value=n), label="stop")
    assert meta.read_values(a, b).to_pylist() == want[a:b]


def test_vlen_corrupt_chunk_in_store_raises(tmp_path):
    meta = _write_vlen_array(str(tmp_path / "s.zarr"), ["ab", "cd"], 2)
    path = f"{meta.store_path}/g/v/c/0"
    body = zarrv3._zstd_decompress(open(path, "rb").read())
    open(path, "wb").write(zarrv3._zstd_compress(body[:-1]))
    with pytest.raises(zarrv3.ZarrError):
        meta.read_range(0, 2)
