"""Round-11 pins: LPA heavy/light split trim, probe-cache LRU,
real-UDF GEMM assignment parity.

Reference parity context: the reference repo has no graph or ANN
operators (it is a Zarr scan provider, `src/table_provider.rs`); these
pins guard the repo's own LLM-pipeline extensions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from zarr_datafusion_search_spark.operators.graph import (
    LPA_AUTO_FLOOR,
    _cap_from_hist,
    label_propagation,
)


def _star_plus_chain(spark, hub_degree=200):
    """Hub node 0 connected to 1..hub_degree plus a sparse far-away chain
    (same shape as test_round8_ops): cap lands at the floor, the hub is
    the only heavy node, and the round-11 cost gate (192r > 976) engages
    from n_rounds >= 6."""
    rows = [(0, i, 1.0 - i * 1e-6) for i in range(1, hub_degree + 1)]
    base = 10_000
    for i in range(40):
        rows.append((base + i, base + i + 1, 0.5))
    return spark.createDataFrame(
        rows, "doc_a long, doc_b long, jaccard double"
    )


def test_lpa_split_trim_equals_full_window(spark, monkeypatch):
    """The broadcast heavy/light split must produce the SAME labels as the
    original full row_number window — the split is a physical plan choice,
    not a semantics change. Forcing LPA_HEAVY_SPLIT_MAX=0 routes auto down
    the full-window fallback; default routes it down the split (the star
    fixture has exactly one heavy node). 8 rounds so the cost gate trims
    at all."""
    import zarr_datafusion_search_spark.operators.graph as graph_mod

    edges = _star_plus_chain(spark)
    seeds = spark.createDataFrame(
        [(1, "a"), (10_000, "b")], "node long, label string"
    )
    split = sorted(
        map(tuple, label_propagation(edges, seeds, n_rounds=8).collect())
    )
    monkeypatch.setattr(graph_mod, "LPA_HEAVY_SPLIT_MAX", 0)
    full = sorted(
        map(tuple, label_propagation(edges, seeds, n_rounds=8).collect())
    )
    assert split == full
    assert len(split) > 0
    # and the trim really engaged: unguarded differs (hub votes trimmed)
    unguarded = sorted(
        map(
            tuple,
            label_propagation(
                edges, seeds, n_rounds=8, degree_cap=None
            ).collect(),
        )
    )
    assert split != unguarded


def test_probe_cache_lru_eviction():
    """Overflow evicts only the least-recently-used entry (VERDICT r10
    what's-wrong #4): inserting 257 keys retains the 256 most recent, and
    a get() refreshes recency so a hot key survives an overflow."""
    from zarr_datafusion_search_spark.operators.similarity import (
        _PROBE_CACHE_MAX,
        _cache_get,
        _cache_put,
    )

    cache: dict = {}
    for i in range(_PROBE_CACHE_MAX + 1):
        _cache_put(cache, i, i * 10)
    assert len(cache) == _PROBE_CACHE_MAX
    assert 0 not in cache  # the oldest went, nothing else
    assert set(cache) == set(range(1, _PROBE_CACHE_MAX + 1))
    # a hit refreshes recency: key 1 survives the next overflow, key 2 goes
    assert _cache_get(cache, 1) == 10
    _cache_put(cache, _PROBE_CACHE_MAX + 1, 0)
    assert 1 in cache and 2 not in cache
    # miss is None; a cached falsy value (0, []) still round-trips
    assert _cache_get(cache, "absent") is None
    assert _cache_get(cache, _PROBE_CACHE_MAX + 1) == 0


def test_semdedup_auto_k_sqrt_switch_matches_duckdb():
    """The round-11 sqrt-k fallback: continuous at the target^2 boundary,
    ceil-sqrt above it, and the DuckDB oracle's +/-1-corrected
    floor(sqrt) replays it bit-for-bit on a sweep including perfect
    squares, off-by-one neighbors, and the crossover itself."""
    import duckdb

    from zarr_datafusion_search_spark.operators.similarity import (
        SEMDEDUP_LINEAR_K_MAX_ROWS,
        SEMDEDUP_TARGET_CELL_ROWS,
        semdedup_auto_n_centroids,
    )

    t = SEMDEDUP_TARGET_CELL_ROWS
    b = SEMDEDUP_LINEAR_K_MAX_ROWS
    assert b == t * t
    # continuity: both rules give k = target at the boundary
    assert semdedup_auto_n_centroids(b) == t
    assert semdedup_auto_n_centroids(b + 1) == t + 1  # ceil-sqrt side
    # linear side basics
    assert semdedup_auto_n_centroids(1) == 16
    assert semdedup_auto_n_centroids(t * 20) == 20
    # ceil-sqrt side: perfect square and its neighbors
    assert semdedup_auto_n_centroids(25_000_000) == 5000
    assert semdedup_auto_n_centroids(25_000_001) == 5001
    assert semdedup_auto_n_centroids(24_999_999) == 5000

    con = duckdb.connect()
    sweep = [
        1, 7, t, t + 1, 20 * t, b - 1, b, b + 1,
        24_999_999, 25_000_000, 25_000_001,
        10**8, 10**8 + 1, (10**5) ** 2, (10**5) ** 2 - 1,
    ]
    for n in sweep:
        sql = f"""
        SELECT CASE
          WHEN n <= {b}
            THEN GREATEST(16, (n + {t - 1}) // {t})
          WHEN (f - 1) * (f - 1) >= n THEN f - 1
          WHEN f * f >= n THEN f
          ELSE f + 1 END
        FROM (SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS f
              FROM (SELECT CAST({n} AS BIGINT) AS n))
        """
        duck_k = con.execute(sql).fetchone()[0]
        assert duck_k == semdedup_auto_n_centroids(n), n
    con.close()


def test_cap_from_hist_heavy_count():
    """heavy_nodes counts nodes STRICTLY above the cap (0 exactly when
    cap >= max degree), and the row masses feeding the cost gate are
    integer-exact sums over the histogram."""

    class R(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    # 995 nodes at degree 4, 5 nodes at degree 1000: p99.5 = 4 -> floor 8
    rows = [R(_d=4, _c=995), R(_d=1000, _c=5)]
    cap, max_deg, heavy, heavy_rows, removed, total = _cap_from_hist(rows)
    assert cap == LPA_AUTO_FLOOR and max_deg == 1000 and heavy == 5
    assert heavy_rows == 5000
    assert removed == 5 * (1000 - LPA_AUTO_FLOOR)
    assert total == 995 * 4 + 5000
    # uniform: cap == max -> no heavy nodes, nothing removed
    rows = [R(_d=12, _c=100)]
    cap, max_deg, heavy, heavy_rows, removed, total = _cap_from_hist(rows)
    assert (cap, max_deg, heavy, heavy_rows, removed) == (12, 12, 0, 0, 0)
    assert total == 1200
    assert _cap_from_hist([]) == (LPA_AUTO_FLOOR, 0, 0, 0, 0, 0)
