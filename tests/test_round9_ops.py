"""Round-9 hardening: the corpus-sized SemDeDup quantizer (the r8 300x
scale-killer fix), its SQL-replayed sizing rule and the lsh_topk empty-path
schema parity (ADVICE r8)."""

import os

import pytest

from tests.oracle_utils import canonicalize, duckdb_result, spark_result
from zarr_datafusion_search_spark.operators import similarity
from zarr_datafusion_search_spark.plans.curation import _semantic_oracle


# ---------------------------------------------------------------------------
# SemDeDup auto quantizer (VERDICT r08 ask #1)
# ---------------------------------------------------------------------------


def _load(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def test_semdedup_auto_rule_matches_sql_replay(duck):
    # the Python rule max(16, ceil(n/T)) and the oracle's integer replay
    # GREATEST(16, (n + T-1)//T) must agree for every n, including the
    # exact multiples where float CEIL could drift
    T = similarity.SEMDEDUP_TARGET_CELL_ROWS
    for n in [1, 499, 500, 16 * T, 16 * T + 1, 17 * T, 10**9 + 7]:
        py = max(16, -(-n // T))
        sql = duck.execute(
            f"SELECT GREATEST(16, ({n} + {T - 1}) // {T})"
        ).fetchone()[0]
        assert py == sql, n


def test_semdedup_auto_equals_pinned_below_engage_point(spark, sf_dir):
    # at sf0.001 (500 vectors) the auto rule resolves to the 16-cell
    # floor, so the auto twin must be row-for-row the pinned query
    emb = _load(spark, sf_dir, "embeddings")
    auto = similarity.semantic_dedup_pairs(
        emb, threshold=0.4, n_centroids="auto"
    )
    pinned = similarity.semantic_dedup_pairs(emb, threshold=0.4, n_centroids=16)
    ca, ra = spark_result(auto)
    cp, rp = spark_result(pinned)
    assert canonicalize(ca, ra) == canonicalize(cp, rp)
    assert len(ra) > 0


def test_semdedup_auto_engaged_matches_oracle(spark, sf_dir, duck, monkeypatch):
    # force the linear regime on the 500-row fixture: target 20 rows/cell
    # -> 25 centroids (> the 16 floor), then require the hash-identical
    # DuckDB replay. This is the at-scale shape (more cells than the
    # floor) the driver's sf0.01 run never exercises.
    monkeypatch.setattr(similarity, "SEMDEDUP_TARGET_CELL_ROWS", 20)
    emb = _load(spark, sf_dir, "embeddings")
    got = similarity.semantic_dedup_pairs(
        emb, threshold=0.4, n_centroids="auto"
    )
    cells = [
        r[0] for r in got.select("centroid_id").distinct().collect()
    ]
    sql = _semantic_oracle(n_centroids="auto", target_cell_rows=20)
    oc, orows = duckdb_result(duck, sql)
    sc, srows = spark_result(got)
    assert sorted(sc) == sorted(oc)
    assert canonicalize(sc, srows) == canonicalize(oc, orows)
    # the quantizer genuinely engaged: a 16-cell floor quantizer can only
    # emit centroid ids 0..15 (centroids are the lowest vec_ids), so a
    # pair in a cell >= 16 proves the auto rule produced >16 centroids
    # (ADVICE r9: the previous `cells > 0` never enforced engagement)
    assert cells and max(cells) >= 16
    pinned = similarity.semantic_dedup_pairs(
        emb, threshold=0.4, n_centroids=16
    )
    assert canonicalize(*spark_result(got)) != canonicalize(
        *spark_result(pinned)
    ), "target=20 on 500 rows must produce a different quantizer than 16"


def test_registered_auto_twin_is_oracled():
    from zarr_datafusion_search_spark.plans.registry import load_all

    reg = load_all()
    assert "dedup_semantic_auto" in reg
    assert reg["dedup_semantic_auto"].oracle
    assert "GREATEST(16," in reg["dedup_semantic_auto"].oracle


# ---------------------------------------------------------------------------
# lsh_topk small-path empty-queries schema parity (ADVICE r8)
# ---------------------------------------------------------------------------


def test_lsh_topk_empty_queries_keeps_input_id_types(spark):
    from pyspark.sql import functions as F

    corpus = spark.range(20).select(
        F.col("id").cast("int").alias("vec_id"),
        F.array([F.lit(float(i) / 7.0) for i in range(8)]).alias(
            "embedding"
        ),
    )
    queries = corpus.filter(F.lit(False))
    out = similarity.lsh_topk(corpus, queries, k=3, dim=8)
    assert out.count() == 0
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["query_id"] == "int"
    assert fields["neighbor_id"] == "int"
    assert fields["cosine"] == "double"
    assert fields["rank"] == "int"
