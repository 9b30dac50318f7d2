"""PySpark-native analytics engine with the query and data-processing
capabilities of developmentseed/zarr-datafusion-search.

The reference engine is a DataFusion ``TableProvider`` over Zarr v3 groups
(reference: ``src/table_provider.rs``); every relational operator is delegated
to the embedding SQL engine. This package mirrors that architecture
Spark-first: a custom Zarr **Python Data Source** (the only genuinely custom
piece) plus Spark SQL / Catalyst for the whole relational surface, extended
with large-scale training-data pipeline operators (dedup, similarity search,
text analysis, multimodal columns).

Public API::

    from zarr_datafusion_search_spark import ZarrTable, SessionContext

    ctx = SessionContext()                       # wraps a SparkSession
    table = ZarrTable("data/zarr_store.zarr", "/meta")
    ctx.register_table("zarr_data", table)
    ctx.sql("SELECT * FROM zarr_data").show()

mirroring the reference's 3-call UX (reference README.md:29-42).
"""

# first: stops importlib.invalidate_caches() re-reading unchanged zip
# archives such as pyspark.zip on every Python worker call (see module)
from zarr_datafusion_search_spark import _zipimport  # noqa: F401
from zarr_datafusion_search_spark.engine import SessionContext
from zarr_datafusion_search_spark.sources.zarr_table import ZarrTable
from zarr_datafusion_search_spark.sources.zarr_datasource import ZarrDataSource

__all__ = ["SessionContext", "ZarrTable", "ZarrDataSource"]

__version__ = "0.1.0"
