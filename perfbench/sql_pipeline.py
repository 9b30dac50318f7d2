"""``sql_pipeline``: the delegated Spark SQL surface, no Zarr involved.

Runs the fixed 23-query headline set (TPC-H-style joins and aggregations,
windows, dedup, ANN, text, as-of join, sessionization) from the query
registry on seeded synthetic tables. The tables are generated with a fixed
seed, so the data is the same on every run; ``--seed`` only shuffles the
order of each pass. Every query's collected result is compared with its
DuckDB oracle through the canonicalization in ``tests/oracle_utils.py``.
"""

from __future__ import annotations

import os
import re

from harness import dir_bytes, optimized_plan
from tables import write_tables

#: the headline set of ``bench.py``; fixed membership
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "broadcast_dim_join",
    "count_distinct",
    "rollup_agg",
    "window_rank",
    "window_frame_rows",
    "events_tumbling_window",
    "q4_order_priority",
    "correlated_exists",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality_score",
    "text_fingerprint",
    "asof_join_clicks_purchases",
    "sessionization",
]
SF = 0.01
DATA_SEED = 42


class Op:
    def __init__(self, spark, name: str, spec, data_dir: str):
        self.spark, self.name, self.spec, self.data_dir = spark, name, spec, data_dir

    def build(self):
        return self.spec.spark(self.spark, self.data_dir)

    def execute(self, df):
        df.write.format("noop").mode("overwrite").save()


class Workload:
    name = "sql_pipeline"
    #: a pass is 23 short queries, so one pass is too few to ride out a
    #: burst of host load; the median of two is reported
    min_passes = 2

    def __init__(self, spark, work: str, seed: int, rng):
        self.spark, self.work, self.seed, self.rng = spark, work, seed, rng
        self.data_dir = os.path.join(work, "tables")
        self.collected: dict[str, tuple] = {}

    def build_inputs(self) -> None:
        self.table_rows = write_tables(self.data_dir, SF, DATA_SEED)

    def register(self) -> None:
        from zarr_datafusion_search_spark.plans.registry import load_all

        registry = load_all()
        self.specs = {q: registry[q] for q in HEADLINE}
        self.ops = [Op(self.spark, q, self.specs[q], self.data_dir) for q in HEADLINE]

    def warmup(self) -> None:
        """Collect every query's result once (this is the warm-up pass)."""
        from oracle_utils import spark_result

        for op in self.ops:
            self.spark.sparkContext.setJobGroup("verify", f"verify {op.name}")
            df = op.build()
            result = spark_result(df)
            self.collected[op.name] = (optimized_plan(df), optimized_plan(df.groupBy().count()), result)

    def verify(self) -> dict[str, str]:
        """Hash-match every collected result against its DuckDB oracle."""
        import duckdb
        from oracle_utils import canonicalize, duckdb_result

        con = duckdb.connect()
        for t in self.table_rows:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        bad = {}
        for q, spec in self.specs.items():
            s_cols, s_rows = self.collected[q][2]
            d_cols, d_rows = duckdb_result(con, spec.oracle)
            if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
                bad[q] = f"shape {len(s_rows)}x{sorted(s_cols)} != {len(d_rows)}x{sorted(d_cols)}"
            elif canonicalize(s_cols, s_rows) != canonicalize(d_cols, d_rows):
                bad[q] = "values differ from the DuckDB oracle"
        con.close()
        return bad

    def input_rows(self, q: str) -> int:
        """Rows of the tables the query's oracle names."""
        oracle = self.specs[q].oracle
        return sum(n for t, n in self.table_rows.items() if re.search(rf"\b{t}\b", oracle))

    def rows_per_s(self, results, wall_s: float) -> float:
        return sum(self.input_rows(q) for q in HEADLINE) / wall_s

    def bytes_per_row(self) -> float:
        return dir_bytes(self.data_dir)[0] / sum(self.table_rows.values())

    def sizes(self) -> dict:
        return {"sf": SF, "data_seed": DATA_SEED, "table_rows": self.table_rows,
                "queries": HEADLINE}

    def layer_metrics(self, view) -> dict:
        return {}
