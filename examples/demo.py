#!/usr/bin/env python
"""End-to-end walkthrough of the engine's main surfaces.

Run from the repo root:  python examples/demo.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from zarr_datafusion_search_spark import SessionContext, ZarrTable  # noqa: E402
from zarr_datafusion_search_spark.operators import dedup, similarity  # noqa: E402
from zarr_datafusion_search_spark.sources import zarrv3  # noqa: E402
from zarr_datafusion_search_spark.testing import make_parity_fixture  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    work = tempfile.mkdtemp(prefix="zdss_demo_")
    ctx = SessionContext(master="local[4]", extra_conf={"spark.ui.enabled": "false"})
    spark = ctx.spark
    spark.sparkContext.setLogLevel("ERROR")

    # 1. the reference's 3-call UX over a Zarr store -------------------------
    store = make_parity_fixture(f"{work}/zarr_store.zarr")
    ctx.register_table("zarr_data", ZarrTable(store, "/meta"))
    print("== SQL over a Zarr group ==")
    ctx.sql(
        "SELECT collection, date FROM zarr_data WHERE collection = 'collection_a'"
    ).show()

    # 2. zarr as a sink, chunked + stats, read back --------------------------
    df = spark.range(10_000).selectExpr("id", "cast(id % 97 as double) AS v")
    t = ZarrTable.write(df, f"{work}/numbers.zarr", chunk_rows=1024)
    print("== Zarr sink roundtrip ==")
    print(f"rows={t.n_rows}, filtered scan (chunk pruning):",
          t.to_df(spark).filter("id >= 9000").count())

    # 3. sharded store (the very-large-store layout) -------------------------
    zarrv3.write_group(
        f"{work}/sharded.zarr", "g",
        {"x": np.arange(5000, dtype=np.int64)},
        chunk_rows=1024, inner_rows=128,
    )
    print("== sharding_indexed scan ==")
    print("sum:", ZarrTable(f"{work}/sharded.zarr", "g").to_df(spark)
          .agg({"x": "sum"}).collect()[0][0])

    # 4. training-data pipeline ops over the synthetic corpus ----------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print("== MinHash-LSH near-duplicate pairs (jaccard >= 0.5) ==")
    dedup.minhash_lsh_pairs(docs).orderBy("doc_a").show(5)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    print("== ANN top-3 (multi-table SRP-LSH) for query vector 0 ==")
    similarity.lsh_topk(emb, emb.filter("vec_id = 0"), k=3).show()

    print("demo complete.")


if __name__ == "__main__":
    main()
