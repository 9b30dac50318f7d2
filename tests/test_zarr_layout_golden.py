"""Byte-level pin of the Zarr v3 layout every writer produces.

Each writer builds small stores from fixed input: ``write_group`` (plain
and with ``inner_rows``), ``format("zarr")``, ``write_zarr_distributed``
(plain and sharded) and ``append_zarr_distributed`` (onto a chunk-aligned
store, an unaligned one and a sharded one). Every writer covers three
cases: a multi-chunk ragged tail, a single partial chunk and the empty
store. Every store has a string, an int64, a float64, a bool and a
timestamp column. ``zarr_layout_golden.json`` holds the sha256 of every
file of every store, so a change to metadata, codecs, padding or chunk
stats fails here with the files that moved.

Regenerate only for a deliberate format change::

    PYTHONPATH=. python tests/test_zarr_layout_golden.py > tests/zarr_layout_golden.json
"""

import datetime
import hashlib
import json
import os

import numpy as np
import pytest

from zarr_datafusion_search_spark.sources import zarrv3

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "zarr_layout_golden.json")
CHUNK, INNER = 4, 2
#: case -> number of rows written (appends: rows added to the base store)
CASES = {"ragged": 10, "partial": 3, "empty": 0}
SCHEMA = "s string, i long, f double, b boolean, t timestamp_ntz"
_T0 = datetime.datetime(2024, 2, 29, 23, 59, 58, 250000)


def _rows(lo: int, hi: int) -> list[tuple]:
    return [
        (
            "s" + "é" * (i % 3) + str(i),
            i * 7 - 20,
            i / 3 - 1,
            i % 3 == 0,
            _T0 + datetime.timedelta(seconds=37 * i, microseconds=i),
        )
        for i in range(lo, hi)
    ]


def _columns(n: int) -> dict:
    s, i, f, b, t = zip(*_rows(0, n)) if n else ([],) * 5
    return {
        "s": list(s),
        "i": np.array(i, dtype=np.int64),
        "f": np.array(f, dtype=np.float64),
        "b": np.array(b, dtype=bool),
        "t": np.array(t, dtype="datetime64[us]"),
    }


def build_stores(spark, root: str) -> dict[str, str]:
    """Write every (writer, case) store under ``root``; returns name -> path."""
    from zarr_datafusion_search_spark.sources.zarr_sink import (
        append_zarr_distributed,
        write_zarr_distributed,
    )
    from zarr_datafusion_search_spark.sources.zarr_table import _ensure_registered

    _ensure_registered(spark)

    def df(lo, hi):
        return spark.createDataFrame(_rows(lo, hi), SCHEMA)

    stores = {}
    for case, n in CASES.items():
        def path(writer):
            p = os.path.join(root, writer, case)
            stores[f"{writer}/{case}"] = p
            return p

        zarrv3.write_group(path("group"), "/g", _columns(n), chunk_rows=CHUNK)
        zarrv3.write_group(
            path("group_sharded"), "/g", _columns(n), chunk_rows=CHUNK, inner_rows=INNER
        )
        (
            df(0, n).write.format("zarr")
            .option("group", "/g")
            .option("chunk_rows", str(CHUNK))
            .mode("append")
            .save(path("format"))
        )
        write_zarr_distributed(df(0, n), path("dist"), "/g", chunk_rows=CHUNK)
        write_zarr_distributed(
            df(0, n), path("dist_sharded"), "/g",
            chunk_rows=CHUNK, inner_rows=INNER, zstd_level=3,
        )
        for writer, base, sharded in (
            ("append_aligned", 2 * CHUNK, False),
            ("append_unaligned", CHUNK + 2, False),
            ("append_sharded", CHUNK + 2, True),
        ):
            p = path(writer)
            if sharded:
                write_zarr_distributed(
                    df(0, base), p, "/g", chunk_rows=CHUNK, inner_rows=INNER, zstd_level=3
                )
            else:
                write_zarr_distributed(df(0, base), p, "/g", chunk_rows=CHUNK)
            append_zarr_distributed(df(base, base + n), p, "/g")
    return stores


def digest(root: str) -> dict[str, str]:
    """relative path -> sha256 of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


GOLDEN: dict = {}
if os.path.exists(GOLDEN_PATH):
    with open(GOLDEN_PATH) as _fh:
        GOLDEN = json.load(_fh)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    return build_stores(spark, str(tmp_path_factory.mktemp("golden")))


def test_every_writer_and_case_is_pinned(stores):
    assert sorted(stores) == sorted(GOLDEN)


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_store_bytes_match_golden(stores, name):
    assert digest(stores[name]) == GOLDEN[name]


if __name__ == "__main__":
    import tempfile

    from zarr_datafusion_search_spark.engine import build_session

    session = build_session(
        master="local[4]", shuffle_partitions=4, extra_conf={"spark.ui.enabled": "false"}
    )
    with tempfile.TemporaryDirectory() as tmp:
        built = build_stores(session, tmp)
        print(json.dumps({k: digest(v) for k, v in sorted(built.items())}, indent=1))
    session.stop()
