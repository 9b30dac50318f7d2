"""Distributed (task-side) Zarr sink — the scale path for writing.

The ``zarr`` format writer (``zarr_datasource.ZarrWriter``) stages Arrow
files per task and assembles chunks serially on the driver: correct, but
throughput is driver-bound. This module implements the documented scale
shape (reference is read-only — the whole sink is a beyond-parity
extension). A fresh write and an append are one job, :func:`_write_rows`,
that adds rows to a store at row ``start``: a fresh write lays down an
empty store in the requested layout and runs the job at ``start=0``; an
append runs it at ``start=`` the store's row count.

1. **global row ids** — ``monotonically_increasing_id`` decomposes into
   (partition id, within-partition offset); one metadata-light pass counts
   rows per partition, a broadcast offset map turns the pair into a global
   contiguous row id from ``start``. The input is persisted for the
   duration of the write so both passes see the same partition layout.
2. **repartition on chunk id** — ``row_id // chunk_rows``; a single hash
   shuffle groups every row of a chunk into one task.
3. **task-side chunk writes** — ``applyInPandas`` per chunk id: each group
   IS one complete chunk; the task sorts it by row id, encodes every column
   with the same codec stack as the streaming writer
   (:func:`zarrv3.encode_chunk_payload`), writes the chunk files, and
   returns one metadata row (chunk id, rows, per-column min/max). When
   ``start`` is not chunk-aligned, the task owning the boundary chunk
   first reads the store's trailing partial rows and prepends them.
4. **metadata-only commit** — the driver verifies chunk coverage from the
   returned rows (n_chunks rows, not data), stages each array's
   ``zarr.json`` with the assembled chunk stats as ``zarr.json.pending``,
   and flips them all with renames.

Nulls: the Zarr table model is non-nullable (every chunk is a dense typed
buffer). Null-bearing columns fail loudly task-side unless ``null_fill``
supplies a per-column substitute.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from zarr_datafusion_search_spark.sources import zarrv3
from zarr_datafusion_search_spark.sources.typemap import spark_to_zarr_spec

#: monotonically_increasing_id() = partition_id << 33 | within-partition seq.
_MONO_PART_SHIFT = 33


def _series_to_vals(s, spec: dict, name: str, cid: int, null_fill: dict):
    """Convert one chunk's pandas column to the dense values the codec
    stack encodes (str list / numeric ndarray / us-tick int64), enforcing
    the non-nullable zarr table model (floats pass NaN through — a legal
    zarr float value)."""
    import pandas as pd

    is_float = (
        not spec["is_string"]
        and not spec.get("datetime_unit")
        and spec["np_dtype"].kind == "f"
    )
    if not is_float and s.isna().any():
        if name in null_fill:
            s = s.fillna(null_fill[name])
        else:
            raise ValueError(
                f"column {name!r} has {int(s.isna().sum())} nulls in "
                f"chunk {cid}: the zarr table model is non-nullable — "
                "drop/fill nulls first or pass null_fill={...}"
            )
    if spec["is_string"]:
        return s.astype(str).tolist()
    if spec.get("datetime_unit"):
        s = pd.to_datetime(s)
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.to_numpy().astype("datetime64[us]").astype("<i8")
    return s.to_numpy().astype(spec["np_dtype"])


def _assign_row_ids(df: DataFrame, chunk_rows: int, start: int):
    """Phase 1 of the write job: global contiguous row ids
    from ``start`` via monotonically_increasing_id decomposition + a
    broadcast per-partition offset map. Returns ``(rows, n_new)`` where
    ``rows`` carries ``_row_id``/``_chunk_id``. The caller must have the
    input persisted so the offset-count action and the write action see
    the same partition layout."""
    mono = df.withColumn("_mono", F.monotonically_increasing_id())
    with_pid = mono.withColumn(
        "_pid", F.shiftright("_mono", _MONO_PART_SHIFT).cast("int")
    ).withColumn(
        "_local", F.col("_mono").bitwiseAND(F.lit((1 << _MONO_PART_SHIFT) - 1))
    )
    counts = {
        r._pid: r.n
        for r in with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_new = sum(counts.values())
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # an empty input has no partitions with rows: CASE with zero WHEN
    # branches does not parse, and no row will read the expression
    offset_expr = (
        "CASE _pid "
        + " ".join(f"WHEN {pid} THEN {off}L" for pid, off in offsets.items())
        + " END"
        if offsets
        else "CAST(0 AS BIGINT)"
    )
    rows = (
        with_pid.withColumn("_row_id", F.expr(offset_expr) + F.col("_local"))
        .withColumn(
            "_chunk_id", (F.col("_row_id") / F.lit(chunk_rows)).cast("long")
        )
        .drop("_mono", "_pid", "_local")
    )
    return rows, n_new


def _write_chunk_file(group_dir: str, name: str, cid: int, payload: bytes) -> None:
    """Atomic chunk write: the append path rewrites the boundary chunk the
    CURRENT metadata references, so a crashed or torn write must never be
    visible — stage to a temp file and os.replace onto the chunk key.

    Temp names carry a per-attempt unique suffix: speculative or zombie
    task attempts of the SAME chunk must not interleave writes into one
    shared staging file (a truncated buffer renamed into place). Each
    attempt stages privately; os.replace is atomic, last writer wins with
    a complete payload either way."""
    import uuid

    final = os.path.join(group_dir, name, "c", str(cid))
    tmp = f"{final}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, final)


def write_zarr_distributed(
    df: DataFrame,
    path: str,
    group_path: str = "/",
    chunk_rows: int = 65536,
    zstd_level: int = 0,
    null_fill: dict | None = None,
    overwrite: bool = False,
    inner_rows: int | None = None,
) -> int:
    """Write ``df`` as a Zarr v3 group of parallel 1-D arrays; returns the
    row count. Executors write whole chunks in parallel; the driver commits
    metadata only.

    With ``inner_rows`` the store is ``sharding_indexed``: each task's unit
    becomes one SHARD object of ``chunk_rows`` rows packing independently
    compressed ``inner_rows`` chunks plus a crc32c-checksummed index — the
    object-count-friendly layout for 100 TB stores (same read granularity,
    ~chunk_rows/inner_rows fewer objects)."""
    if inner_rows is not None and chunk_rows % inner_rows != 0:
        raise ValueError("chunk_rows (shard size) must be a multiple of inner_rows")
    return _write_rows(
        df,
        path,
        group_path,
        null_fill,
        create={
            "chunk_rows": chunk_rows,
            "inner_rows": inner_rows,
            "zstd_level": zstd_level,
            "overwrite": overwrite,
        },
    )


def compact_zarr_stores(
    spark,
    stores: list[str],
    out_path: str,
    group_path: str = "/",
    chunk_rows: int = 65536,
    inner_rows: int | None = None,
    zstd_level: int = 0,
) -> int:
    """Rewrite many small Zarr stores (e.g. streaming landing-zone batch
    stores from ``write_stream_to_zarr``) into ONE store, optionally
    sharded. The compaction job a landing zone needs: reads are a chunk-
    partitioned union scan (parallel across stores and chunks), the write
    is the distributed sink — both ends executor-side, metadata-only on
    the driver. Schemas must match across stores. Returns rows written."""
    from functools import reduce

    from zarr_datafusion_search_spark.sources.zarr_table import ZarrTable

    if not stores:
        raise ValueError("no stores to compact")
    dfs = [ZarrTable(s, group_path).to_df(spark) for s in stores]
    union = reduce(lambda a, b: a.unionByName(b), dfs)
    return write_zarr_distributed(
        union,
        out_path,
        group_path=group_path,
        chunk_rows=chunk_rows,
        inner_rows=inner_rows,
        zstd_level=zstd_level,
    )


def append_zarr_distributed(
    df: DataFrame,
    path: str,
    group_path: str = "/",
    zstd_level: int | None = None,
    null_fill: dict | None = None,
) -> int:
    """Append rows to an existing Zarr store, task-side; returns the new
    total row count.

    Zarr's regular chunk grid has no native row append (the format writer
    refuses and says so) — but append IS implementable with bounded extra
    I/O, and a landing zone wants it: only the boundary chunk (the
    existing store's final, possibly partial, chunk) must be rewritten;
    every other existing chunk's bytes are untouched. The plan is the
    distributed writer's job run from the existing row count: the task
    that owns the boundary chunk reads the store's trailing partial rows
    through the chunk reader, prepends them to its new rows, and writes
    the merged chunk. The commit extends shape and per-chunk stats; a
    failed job leaves the old ``zarr.json`` (and therefore the old logical
    table) fully intact, because data files for chunks >= the boundary are
    not referenced until the metadata flips.

    Schema must match the store (same column names; Spark types mapping
    to each array's exact zarr dtype). ``zstd_level``/shard layout are
    inherited from the store (``zstd_level`` overrides if given).
    """
    return _write_rows(df, path, group_path, null_fill, zstd_level=zstd_level)


def _create_store(
    path: str,
    group_path: str,
    specs: dict,
    chunk_rows: int,
    inner_rows: int | None,
    zstd_level: int,
    overwrite: bool,
) -> None:
    """Lay down an empty store: the group skeleton plus 0-row metadata for
    every array in the requested layout (the fresh write appends to it)."""
    if os.path.exists(os.path.join(path, "zarr.json")):
        if not overwrite:
            raise ValueError(
                f"zarr store already exists at {path}; pass overwrite=True "
                "to replace it, or use append_zarr_distributed() to add rows"
            )
        import shutil

        shutil.rmtree(path)
    group_dir = zarrv3.init_group(path, group_path)
    for name, spec in specs.items():
        arr_dir = os.path.join(group_dir, name)
        os.makedirs(os.path.join(arr_dir, "c"), exist_ok=True)
        # this layout keeps the requested chunk grid (every partial chunk
        # is padded to full size), so the metadata must NOT clamp
        # chunk_shape to the row count — a store created from a small
        # first batch keeps its intended chunking for later appends
        zarrv3.write_array_metadata(
            arr_dir,
            n_rows=0,
            chunk_rows=chunk_rows,
            zstd_level=zstd_level,
            inner_rows=inner_rows,
            index_crc32c=inner_rows is not None,
            clamp_chunk=False,
            **spec,
        )


def _write_rows(
    df: DataFrame,
    path: str,
    group_path: str,
    null_fill: dict | None,
    zstd_level: int | None = None,
    create: dict | None = None,
) -> int:
    """The one distributed write job: add ``df``'s rows to the store at
    ``path`` after its existing rows, in the store's own layout; returns
    the new row count. ``create`` (the keyword arguments of
    :func:`_create_store` after ``specs``) first lays down a new empty
    store, so a fresh write is this job at row 0."""
    import numpy as np

    path = zarrv3.normalize_store_path(path)
    specs = {f.name: spark_to_zarr_spec(f) for f in df.schema.fields}
    null_fill = dict(null_fill or {})
    for c in null_fill:
        if c not in specs:
            raise KeyError(f"null_fill column {c!r} not in DataFrame")
    if create is not None:
        _create_store(path, group_path, specs, **create)

    group = zarrv3.open_group(path, group_path)
    names = sorted(group.arrays)
    if sorted(specs) != names:
        raise ValueError(
            f"append schema mismatch: store has {names}, DataFrame has "
            f"{sorted(specs)}"
        )
    meta0 = group.arrays[names[0]]
    chunk_rows, start = meta0.chunk_rows, meta0.n_rows
    for name in names:
        meta, want = group.arrays[name], zarrv3.spec_dtype(**specs[name])
        if meta.dtype != want:
            raise ValueError(
                f"append dtype mismatch on {name!r}: store is "
                f"{zarrv3.dtype_to_json(meta.dtype)}, DataFrame maps to "
                f"{zarrv3.dtype_to_json(want)}"
            )
        if meta.n_rows != start or meta.chunk_rows != chunk_rows:
            raise ValueError(
                f"array {name!r} disagrees on shape/chunking "
                f"({meta.n_rows}x{meta.chunk_rows} vs {start}x{chunk_rows})"
            )
    inner_rows, index_crc32c = meta0.inner_rows, meta0.index_crc32c
    if zstd_level is None:
        zstd_level = meta0.zstd_level
    group_rel = group_path.strip("/")
    group_dir = os.path.join(path, group_rel) if group_rel else path
    first = start // chunk_rows  # the boundary chunk: the first one written

    df = df.persist()
    try:
        rows, n_new = _assign_row_ids(df, chunk_rows, start)
        if n_new == 0:
            return start
        total = start + n_new
        n_chunks = -(-total // chunk_rows)

        def write_chunk(pdf):
            import pandas as pd

            cid = int(pdf["_chunk_id"].iloc[0])
            pdf = pdf.sort_values("_row_id")
            row_ids = pdf["_row_id"].to_numpy()
            lo = cid * chunk_rows  # first row of the chunk
            new_lo = max(lo, start)  # first row this job adds to it
            hi = min(lo + chunk_rows, total)
            if len(pdf) != hi - new_lo or row_ids[0] != new_lo or (np.diff(row_ids) != 1).any():
                raise ValueError(
                    f"chunk {cid}: non-contiguous row ids "
                    f"[{row_ids[0]}..{row_ids[-1]}], n={len(pdf)}, "
                    f"expected {hi - new_lo} from {new_lo}"
                )
            # the boundary chunk of an unaligned start merges the store's
            # trailing partial rows (bounded: < one chunk), read through the
            # ordinary chunk reader
            old = zarrv3.open_group(path, group_path).arrays if new_lo > lo else None
            # pad EVERY partial chunk to the full chunk_shape, including a
            # single-chunk store: the metadata says chunk_shape=chunk_rows,
            # and zarr v3 requires edge chunks to be full-size fill-padded —
            # strict readers (e.g. the zarrs crate the reference builds on)
            # fail decode on short buffers
            pad = chunk_rows - (hi - lo)
            stats = {}
            for name in names:
                spec = specs[name]
                vals = _series_to_vals(pdf[name], spec, name, cid, null_fill)
                if old is not None:
                    prev = old[name].read_range(lo, new_lo)
                    if spec["is_string"]:
                        vals = prev + vals
                    else:
                        vals = np.concatenate([np.asarray(prev).astype(spec["np_dtype"]), vals])
                if len(vals) != hi - lo:
                    raise ValueError(
                        f"chunk {cid} column {name!r}: merged {len(vals)} "
                        f"values, expected {hi - lo}"
                    )
                stats[name] = zarrv3.chunk_stats(vals, spec["is_string"])
                if inner_rows is None:
                    payload = zarrv3.encode_chunk_payload(
                        vals, spec["is_string"], pad, zstd_level
                    )
                else:
                    payload = zarrv3.encode_shard_payload(
                        vals,
                        spec["is_string"],
                        inner_rows,
                        chunk_rows,
                        zstd_level,
                        index_crc32c=index_crc32c,
                    )
                _write_chunk_file(group_dir, name, cid, payload)
            return pd.DataFrame(
                {"chunk_id": [cid], "n": [hi - lo], "stats": [json.dumps(stats)]}
            )

        done = (
            rows.groupBy("_chunk_id")
            .applyInPandas(write_chunk, "chunk_id long, n long, stats string")
            .collect()
        )
    finally:
        df.unpersist()

    # ---- metadata-only commit: extend shape + chunk stats -------------
    got = {r.chunk_id: r for r in done}
    if sorted(got) != list(range(first, n_chunks)):
        raise ValueError(
            f"chunk coverage mismatch: expected chunks {first}..{n_chunks - 1}, "
            f"got {sorted(got)}"
        )
    written = sum(r.n for r in got.values())
    if written != total - first * chunk_rows:
        raise ValueError(
            f"row count mismatch: wrote {written}, expected "
            f"{total - first * chunk_rows}"
        )
    for name in names:
        old_stats = group.arrays[name].chunk_stats
        # chunks [0, first) keep their stats verbatim
        if first == 0:
            stat_min, stat_max = [], []
        elif old_stats and len(old_stats.get("min", [])) >= first:
            stat_min = list(old_stats["min"][:first])
            stat_max = list(old_stats["max"][:first])
        else:
            stat_min = stat_max = None  # old store had no stats: drop them
        if stat_min is not None:
            for c in range(first, n_chunks):
                lo, hi = json.loads(got[c].stats)[name]
                stat_min.append(lo)
                stat_max.append(hi)
        # stage: all arrays' new metadata lands as .pending first, then a
        # bare-rename loop flips them — shrinking the multi-array commit
        # window from N encode+write cycles to N atomic renames, so a
        # concurrent open_group (the stream reader's latestOffset) has the
        # smallest possible chance of seeing disagreeing shapes
        zarrv3.write_array_metadata(
            os.path.join(group_dir, name),
            n_rows=total,
            chunk_rows=chunk_rows,
            zstd_level=zstd_level,
            stat_min=stat_min,
            stat_max=stat_max,
            inner_rows=inner_rows,
            index_crc32c=index_crc32c,
            clamp_chunk=False,
            filename="zarr.json.pending",
            **specs[name],
        )
    for name in names:
        arr_dir = os.path.join(group_dir, name)
        os.replace(
            os.path.join(arr_dir, "zarr.json.pending"),
            os.path.join(arr_dir, "zarr.json"),
        )
    return total
