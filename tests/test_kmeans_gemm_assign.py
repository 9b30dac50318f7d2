"""Round-13 pins for the Lloyd-loop rewrite (VERDICT r12 ask #3).

``kmeans_centroids`` replaced its per-round crossJoin + rounded-cosine
window argmax with an Arrow-batched exact assignment
(``_kmeans_assign_udf``). These tests pin value identity:

- the udf's cell choice equals the RETIRED plan (rebuilt here verbatim)
  on the shipped fixtures and on adversarial vectors (zero-norm rows,
  exact rounding ties, near-tie gaps below 1e-6);
- the full refined-centroid frame equals the retired implementation's
  output bit-for-bit on the sf0.001 fixture;
- the external integer-hit-count oracle (test_ivf_numpy_reference) keeps
  covering end-to-end recall.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from zarr_datafusion_search_spark.functions.vectors import (
    dot_product,
    l2_norm,
)
from zarr_datafusion_search_spark.operators import similarity as S


def _retired_assign(corpus, cents_rows, id_col="vec_id", vec_col="embedding"):
    """The retired crossJoin + round(cos, 6) window argmax, verbatim."""
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in cents_rows],
        "centroid_id int, cent_vec array<double>",
    )
    scored = (
        corpus.select(
            F.col(id_col), F.col(vec_col).alias("_v"), l2_norm(vec_col).alias("_vn")
        )
        .crossJoin(F.broadcast(cents.withColumn("_cent_n", l2_norm("cent_vec"))))
        .select(
            id_col,
            "centroid_id",
            F.round(
                F.try_divide(
                    dot_product("_v", "cent_vec"),
                    F.col("_vn") * F.col("_cent_n"),
                ),
                6,
            ).alias("_c"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_c").desc(), F.col("centroid_id"))
    return {
        r[0]: r[1]
        for r in scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, "centroid_id")
        .collect()
    }


def _udf_assign(corpus, cents_rows, id_col="vec_id", vec_col="embedding"):
    import numpy as np

    cid = [c for c, _ in cents_rows]
    cmat = np.array([v for _, v in cents_rows], dtype=np.float64)
    udf = S._kmeans_assign_udf(cid, cmat)
    return {
        r[0]: r[1]
        for r in corpus.select(id_col, udf(F.col(vec_col)).alias("cell")).collect()
    }


def test_assignment_matches_retired_plan_on_fixture(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        (i + 1, [float(x) for x in r[1]])
        for i, r in enumerate(
            emb.select("vec_id", "embedding").orderBy("vec_id").limit(16).collect()
        )
    ]
    assert _udf_assign(emb, seeds) == _retired_assign(emb, seeds)


def test_assignment_matches_retired_plan_adversarial(spark):
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),          # zero norm: NULL cosines
        (1, [1.0, 0.0, 0.0, 0.0]),          # exact tie between c1 and c3
        (2, [1.0, 1e-9, 0.0, 0.0]),         # sub-rounding-bin gap
        (3, [-1.0, -1.0, -1.0, -1.0]),      # negative cosines everywhere
        (4, [0.7071067, 0.7071068, 0.0, 0.0]),  # near the 6dp boundary
        (5, [1e-300, 0.0, 0.0, 0.0]),       # denormal-adjacent norm
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),          # same direction as c1: exact tie
        (4, [0.5, 0.5, 0.5, 0.5]),
        (5, [0.0, 0.0, 0.0, 0.0]),          # zero-norm centroid: NULL column
    ]
    got = _udf_assign(corpus, cents)
    want = _retired_assign(corpus, cents)
    assert got == want
    assert got[1] == 1  # tie broke to the lowest centroid id
    assert got[0] == 1  # all-NULL row takes the lowest centroid id


def test_assignment_nan_centroid_and_bad_rows(spark):
    """Round-13 review fixes: a NaN centroid (a Lloyd cell whose mean
    normalized to 0/0) must rank FIRST like Spark's NaN ordering — not be
    dropped as NULL — and NULL / length-mismatched vectors must take the
    all-NULL path (lowest centroid id) instead of crashing the UDF."""
    nan = float("nan")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, None),                           # NULL vector
        (3, [1.0, 2.0]),                     # ragged: shorter than dim
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [
        (1, [0.5, 0.5, 0.5, 0.5]),
        (2, [nan, nan, nan, nan]),           # NaN centroid: NaN cosines
        (3, [1.0, 0.0, 0.0, 0.0]),
    ]
    got = _udf_assign(corpus, cents)
    want = _retired_assign(corpus, cents)
    assert got == want
    # NaN ranks first in Spark's DESC ordering -> every finite row lands
    # on the NaN centroid; NULL/ragged rows take the lowest centroid id
    assert got[0] == 2 and got[1] == 2
    assert got[2] == 1 and got[3] == 1


def test_refined_centroids_match_retired_pipeline(spark):
    """Full 3-round Lloyd on the sf0.001 fixture: the new implementation's
    (centroid_id, cent_vec) set must equal the retired one bit-for-bit."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    # retired implementation, verbatim
    cents = (
        emb.orderBy("vec_id")
        .limit(16)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("cent_vec"),
        )
    )
    for _ in range(3):
        scored = (
            emb.select(
                F.col("vec_id"),
                F.col("embedding").alias("_v"),
                l2_norm("embedding").alias("_vn"),
            )
            .crossJoin(F.broadcast(cents.withColumn("_cent_n", l2_norm("cent_vec"))))
            .select(
                "vec_id",
                "_v",
                "centroid_id",
                F.round(
                    F.try_divide(
                        dot_product("_v", "cent_vec"),
                        F.col("_vn") * F.col("_cent_n"),
                    ),
                    6,
                ).alias("_c"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("_c").desc(), F.col("centroid_id")
        )
        assigned = (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("centroid_id", array_to_vector(F.col("_v")).alias("_mv"))
        )
        means = assigned.groupBy("centroid_id").agg(
            vector_to_array(Summarizer.mean(F.col("_mv"))).alias("_mean")
        )
        norm = F.sqrt(F.aggregate("_mean", F.lit(0.0), lambda acc, x: acc + x * x))
        cents = means.select(
            "centroid_id",
            F.transform("_mean", lambda x: x / norm).alias("cent_vec"),
        ).localCheckpoint(eager=True)
    want = sorted((r[0], list(r[1])) for r in cents.collect())

    got = sorted(
        (r[0], list(r[1]))
        for r in S.kmeans_centroids(emb, n_centroids=16, n_iter=3).collect()
    )
    assert [c for c, _ in got] == [c for c, _ in want]
    for (gc, gv), (wc, wv) in zip(got, want):
        assert gv == pytest.approx(wv, abs=0.0, rel=0.0), (gc, gv, wv)


def test_rank_cosines_treats_infinite_cosines_as_values(spark):
    """±inf cosines are ranked as the values they are (Spark's ``round``
    keeps them); only a row whose every cosine is NULL takes the lowest
    centroid id. The expected cell of every row is Spark's own window
    order over the same cosines."""
    import numpy as np

    inf, nan, null = float("inf"), float("nan"), None
    rows = [
        [null, inf, 0.5],
        [null, -inf, null],
        [-inf, -inf, null],
        [null, null, null],
        [0.3, inf, inf],
        [nan, inf, 0.1],
        [-inf, 0.2, -0.2],
        [0.1234564, 0.1234565, -inf],
        [inf, null, nan],
    ]
    cid = np.array([3, 5, 7])
    val = np.array([[nan if v is None else v for v in r] for r in rows])
    valid = np.array([[v is not None for v in r] for r in rows])
    got = S._rank_cosines(val, valid, cid).tolist()
    cosines = spark.createDataFrame(
        [(i, int(cid[j]), v) for i, r in enumerate(rows) for j, v in enumerate(r)],
        "row int, centroid_id long, cos double",
    )
    w = Window.partitionBy("row").orderBy(F.round("cos", 6).desc(), F.col("centroid_id"))
    best = dict(
        cosines.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("row", "centroid_id")
        .collect()
    )
    assert got == [best[i] for i in range(len(rows))]
    assert got[:4] == [5, 5, 3, 3]
