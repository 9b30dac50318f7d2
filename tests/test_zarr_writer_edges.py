"""Edge inputs of the Zarr writers: ``file:`` URIs, invalid columns that
must fail before anything is written, and empty DataFrames."""

import os

import numpy as np
import pytest

from zarr_datafusion_search_spark import ZarrTable
from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.zarr_sink import (
    append_zarr_distributed,
    write_zarr_distributed,
)


def test_distributed_write_to_file_uri(spark, tmp_path, monkeypatch):
    """A ``file://`` store path names the absolute path, not a ``file:``
    directory under the working directory."""
    monkeypatch.chdir(tmp_path)
    out = tmp_path / "out"
    uri = f"file://{out}/uri.zarr"
    assert write_zarr_distributed(spark.range(5).select("id"), uri, "/g", chunk_rows=2) == 5
    assert append_zarr_distributed(spark.range(5, 7).select("id"), uri, "/g") == 7
    back = ZarrTable(str(out / "uri.zarr"), "/g").to_df(spark)
    assert sorted(r.id for r in back.collect()) == list(range(7))
    assert not os.path.exists(tmp_path / "file:")


@pytest.mark.parametrize(
    "columns, kwargs, match",
    [
        ({"a": np.arange(3), "b": np.arange(4)}, {}, "disagree on length"),
        ({"a": np.arange(3), "b": np.arange(4)}, {"inner_rows": 2, "chunk_rows": 4}, "disagree on length"),
        ({"a": np.arange(4)}, {"inner_rows": 3, "chunk_rows": 4}, "multiple of inner_rows"),
        ({"a": np.arange(2), "b": np.array(["x", "y"])}, {}, "unsupported numpy dtype"),
    ],
)
def test_write_group_validates_before_writing(tmp_path, columns, kwargs, match):
    with pytest.raises(zarrv3.ZarrError, match=match):
        zarrv3.write_group(str(tmp_path / "bad.zarr"), "/g", columns, **kwargs)
    assert not list(tmp_path.rglob("zarr.json"))


def test_distributed_empty_input_keeps_chunk_shape(spark, tmp_path):
    store = str(tmp_path / "empty.zarr")
    schema = "id long, s string"
    assert write_zarr_distributed(spark.createDataFrame([], schema), store, "/g", chunk_rows=64) == 0
    group = zarrv3.open_group(store, "/g")
    assert group.n_rows == 0
    assert {m.chunk_rows for m in group.arrays.values()} == {64}
    assert ZarrTable(store, "/g").to_df(spark).count() == 0
    rows = [(i, f"s{i}") for i in range(70)]
    assert append_zarr_distributed(spark.createDataFrame(rows, schema), store, "/g") == 70
    assert sorted(os.listdir(os.path.join(store, "g", "id", "c"))) == ["0", "1"]
    back = ZarrTable(store, "/g").to_df(spark).orderBy("id").collect()
    assert [(r.id, r.s) for r in back] == rows
