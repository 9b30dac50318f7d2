"""The reference's own two queries, run through our Zarr data source.

These are the direct ports of the reference's end-to-end tests
(src/table_provider.rs:317-324 full scan; :338-357 projection+filter). The
DuckDB oracle is the golden fixture as literal VALUES — the store contents
are deterministic (FIXTURES.md §A), so the oracle is exact.

The fixture store lives at ``data/zarr_store.zarr`` inside the repo (same
location as the reference's checked-in golden store) and is regenerated on
demand by ``zarr_datafusion_search_spark.testing.make_parity_fixture``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from zarr_datafusion_search_spark.plans.registry import register

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
FIXTURE_STORE = os.path.join(_REPO_ROOT, "data", "zarr_store.zarr")


def _store() -> str:
    if not os.path.exists(os.path.join(FIXTURE_STORE, "zarr.json")):
        from zarr_datafusion_search_spark.testing import make_parity_fixture

        make_parity_fixture(FIXTURE_STORE)
    return FIXTURE_STORE


_GOLDEN_VALUES = """
    (VALUES
      ('POLYGON ((10 -10, 10 10, -10 10, -10 -10, 10 -10))', 'collection_a',
       TIMESTAMP '2023-01-01 00:00:00'),
      ('POLYGON ((20 -20, 20 20, -20 20, -20 -20, 20 -20))', 'collection_b',
       TIMESTAMP '2023-01-02 00:00:00'),
      ('POLYGON ((30 -30, 30 30, -30 30, -30 -30, 30 -30))', 'collection_c',
       TIMESTAMP '2023-01-03 00:00:00')
    ) AS t(bbox, collection, date)
"""


@register(
    "zarr_full_scan",
    oracle=f"SELECT bbox, collection, date FROM {_GOLDEN_VALUES}",
    doc="SELECT * over the Zarr group scan (reference src/table_provider.rs:317).",
)
def zarr_full_scan(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark import ZarrTable

    return ZarrTable(_store(), "/meta").to_df(spark)


@register(
    "zarr_projection_filter",
    oracle=f"""
    SELECT collection, date FROM {_GOLDEN_VALUES}
    WHERE collection = 'collection_a'
    """,
    doc="Projection + equality predicate over the Zarr scan "
    "(reference src/table_provider.rs:338-357; pushed to the source here).",
)
def zarr_projection_filter(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark import ZarrTable

    df = ZarrTable(_store(), "/meta").to_df(spark)
    return df.filter(df.collection == "collection_a").select("collection", "date")


SHARDED_FIXTURE_STORE = os.path.join(_REPO_ROOT, "data", "zarr_sharded.zarr")


def _sharded_store() -> str:
    """A deterministic 1000-row sharded store (4 shards x 4 inner chunks)."""
    if not os.path.exists(os.path.join(SHARDED_FIXTURE_STORE, "zarr.json")):
        import numpy as np

        from zarr_datafusion_search_spark.sources import zarrv3

        n = 1000
        zarrv3.write_group(
            SHARDED_FIXTURE_STORE,
            "meta",
            {
                "idx": np.arange(n, dtype=np.int64),
                "collection": [f"collection_{chr(97 + i % 4)}" for i in range(n)],
            },
            chunk_rows=256,
            inner_rows=64,
        )
    return SHARDED_FIXTURE_STORE


@register(
    "zarr_sharded_scan",
    oracle="""
    SELECT collection, count(*) AS n, CAST(sum(idx) AS BIGINT) AS sum_idx
    FROM (
      SELECT (i % 4) AS m,
             'collection_' || chr(97 + (i % 4)::INTEGER) AS collection,
             i AS idx
      FROM (SELECT unnest(generate_series(0, 999)) AS i)
    )
    GROUP BY collection
    """,
    doc="Aggregate over a sharding_indexed store (inner chunks packed per "
    "shard object) — the store contents are a closed-form sequence, so the "
    "oracle regenerates them with generate_series.",
)
def zarr_sharded_scan(spark: SparkSession, sf: str) -> DataFrame:
    from zarr_datafusion_search_spark import ZarrTable

    df = ZarrTable(_sharded_store(), "/meta").to_df(spark)
    import pyspark.sql.functions as F

    return df.groupBy("collection").agg(
        F.count(F.lit(1)).alias("n"), F.sum("idx").alias("sum_idx")
    )


@register(
    "federated_zarr_parquet_join",
    oracle="""
    SELECT z.collection, count(*) AS n_matched,
           round(sum(c.c_acctbal), 6) AS total_bal
    FROM (
      SELECT i AS idx, 'collection_' || chr(97 + (i % 4)::INTEGER) AS collection
      FROM (SELECT unnest(generate_series(0, 999)) AS i)
    ) z
    JOIN customer c ON c.c_custkey = z.idx
    GROUP BY z.collection
    """,
    doc="Cross-source federation: the zarr-backed table joined against a "
    "parquet table in one Catalyst plan (the reference achieves the same "
    "by registering its provider next to DataFusion's built-ins; here both "
    "sources are first-class scan nodes).",
)
def federated_zarr_parquet_join(spark: SparkSession, sf: str) -> DataFrame:
    import pyspark.sql.functions as F

    from zarr_datafusion_search_spark import ZarrTable
    from zarr_datafusion_search_spark.plans.registry import table

    z = ZarrTable(_sharded_store(), "/meta").to_df(spark)
    c = table(spark, sf, "customer")
    return (
        z.join(c, z.idx == c.c_custkey)
        .groupBy("collection")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
        )
    )
