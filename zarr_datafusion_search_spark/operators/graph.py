"""Iterative graph ranking over edge DataFrames.

Link-graph analytics is a standard curation signal at corpus scale (domain/
page authority weighting of web crawls). :func:`pagerank` is the classic
power iteration expressed as pure DataFrame ops:

- a FIXED ``n_iter`` rounds (no data-dependent stopping) keeps the result
  deterministic and lets the DuckDB oracle replay the exact unrolled
  computation;
- each round is one equi-join of the edge list with the current rank vector
  on ``src`` plus one aggregation on ``dst`` — shuffles on edge endpoints
  only, never materializing anything driver-side except two scalar
  broadcasts (node count, per-round dangling mass);
- weighted edges are first-class (a multigraph collapses to summed weights
  up front, shrinking every later round);
- per-round ranks are rounded to a fixed grid (pins cross-engine float
  summation drift) and ``localCheckpoint``-ed so plan depth stays constant
  across iterations (same discipline as ``similarity.kmeans_centroids``);
  blocks are ContextCleaner-released on GC.

At 100 TB the rank vector is a distributed (node, rank) relation; the only
per-round synchronization is the 1-row dangling-mass aggregate, exactly the
shape the classic MapReduce/Pregel formulations use. When the COLLAPSED
graph is small (bounded by the domain's label vocabulary, not the corpus —
event-type transitions, source-to-source links), the iteration instead
runs driver-side over the collected edge list (:func:`_pagerank_driver`),
replaying the identical arithmetic and rounding grid: ten scheduler-bound
micro-jobs per query collapse into one collect.
"""

from __future__ import annotations

from zarr_datafusion_search_spark.operators.cache import (
    lineage_barrier as _lb,
)

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: per-round grid for rank values: coarse enough to absorb summation-order
#: drift between engines (~1e-16 relative), fine enough that 5 iterations
#: lose no meaningful precision before the final 6-decimal rounding
RANK_ROUND = 10

#: the driver fast path fires when the COLLAPSED graph is at most this
#: big. The collapsed (node, node) transition graph's size is a property
#: of the DOMAIN (event types, source labels), not the corpus — it stops
#: growing long before the data does — while the distributed path pays
#: ~10 tiny scheduler-bound jobs per query (2 per round: the dangling
#: broadcast and the rank checkpoint). Measured at 100x synthetic scale:
#: 14.5 s distributed vs ~4 s with the fast path, on a graph of a few
#: dozen nodes. Above the bound (doc-level graphs) the distributed
#: iteration is the only shape that works, and is kept verbatim.
PAGERANK_DRIVER_MAX_NODES = 20_000
PAGERANK_DRIVER_MAX_EDGES = 500_000


def _spark_round(x: float, scale: int) -> float:
    """Spark's ROUND on DoubleType, exactly: HALF_UP over the SHORTEST
    decimal representation of the double (Scala ``BigDecimal.decimal`` is
    ``java.math.BigDecimal.valueOf`` is ``Double.toString``; Python's
    ``repr`` produces the same shortest round-trip decimal). ``x`` is
    coerced through :class:`float` first so numpy scalars format as plain
    decimals (numpy>=2 reprs ``np.float64(0.1)`` as ``'np.float64(0.1)'``,
    which ``Decimal`` rejects)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP)
    )


def _pagerank_driver(
    e: DataFrame, nodes: DataFrame, n_nodes: int, n_iter: int, damping: float
) -> DataFrame:
    """Driver-side power iteration over the (small) collapsed edge list.

    Replays the distributed plan's arithmetic term-for-term — same
    ``base`` literal, same ``base + d * (contrib + dm/n)`` association,
    same per-round :data:`RANK_ROUND` HALF_UP grid (:func:`_spark_round`)
    — so the only divergence from the distributed path is float summation
    order inside ``contrib``/``ow``, the class the per-round grid exists
    to absorb. Output schema and values match the distributed path and
    the DuckDB oracle."""
    import numpy as np
    from decimal import Decimal

    spark = e.sparkSession
    node_rows = nodes.collect()
    node_vals = [r["node"] for r in node_rows]
    idx = {v: i for i, v in enumerate(node_vals)}
    erows = e.collect()
    src_i = np.array([idx[r["_src"]] for r in erows], dtype=np.int64)
    dst_i = np.array([idx[r["_dst"]] for r in erows], dtype=np.int64)
    w = np.array([r["_w"] for r in erows], dtype=np.float64)
    ow = np.zeros(n_nodes)
    np.add.at(ow, src_i, w)
    frac = w / ow[src_i]
    no_out = np.ones(n_nodes, dtype=bool)
    no_out[src_i] = False

    ranks = np.full(n_nodes, 1.0 / n_nodes)
    base = float(Decimal(1) - Decimal(str(damping))) / n_nodes
    for _ in range(n_iter):
        dm = float(ranks[no_out].sum()) if no_out.any() else 0.0
        contrib = np.zeros(n_nodes)
        np.add.at(contrib, dst_i, ranks[src_i] * frac)
        ranks = np.array(
            [
                _spark_round(base + damping * (c + dm / n_nodes), RANK_ROUND)
                for c in contrib
            ]
        )
    out = [(v, _spark_round(r, 6)) for v, r in zip(node_vals, ranks)]
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [
            StructField("node", nodes.schema["node"].dataType, True),
            StructField("rank", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    driver_max_nodes: int = PAGERANK_DRIVER_MAX_NODES,
    driver_max_edges: int = PAGERANK_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(node, rank) after ``n_iter`` damped power-iteration rounds.

    ``rank_{t+1}(v) = (1-d)/N + d * (sum_{u->v} rank_t(u) * w(u,v)/W(u)
    + dangling_t / N)`` where ``W(u)`` is u's total out-weight and
    ``dangling_t`` the rank mass on nodes with no out-edges (redistributed
    uniformly, the standard correction). Unweighted edges count 1 each.
    """
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    # checkpoint the collapsed edge list FIRST: the upstream edge extraction
    # (often a window over the raw corpus) executes exactly once, and every
    # derived relation below reads the snapshot instead of re-running it
    # per power-iteration round
    e = (
        edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"), w_col.alias("_w"))
        .groupBy("_src", "_dst")
        .agg(F.sum("_w").alias("_w"))
        # zero/negative collapsed weights are dropped: PageRank is defined
        # over positive weights, and a kept 0 would make the src's
        # out-weight normalization divide by zero (the oracle SQL applies
        # the identical HAVING guard)
        .filter(F.col("_w") > 0)
        .transform(_lb, eager=True)
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .transform(_lb, eager=True)
    )
    n_nodes = nodes.count()  # scalar, reused every round
    if n_nodes == 0:
        # empty edge list -> empty ranking (matches the oracle, which
        # yields zero rows), not a ZeroDivisionError at plan build
        return nodes.select("node", F.lit(0.0).alias("rank"))
    if n_nodes <= driver_max_nodes and e.count() <= driver_max_edges:
        return _pagerank_driver(e, nodes, n_nodes, n_iter, damping)
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    # out-weight folded into the edge relation once: every round's join
    # then touches a single pre-divided edge list
    enorm = (
        e.join(outw, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_ow")).alias("_frac"))
        .transform(_lb, eager=True)
    )
    has_out = enorm.select(F.col("_src").alias("node")).distinct()

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    # (1 - damping) via Decimal: Python float `1.0 - 0.85` is 1 ULP away
    # from the double nearest 0.15, which is what SQL engines produce when
    # they evaluate the DECIMAL literal — compute the same double here so
    # the oracle's grid-rounded ranks match bit-for-bit
    from decimal import Decimal

    base = float(Decimal(1) - Decimal(str(damping))) / n_nodes
    for _ in range(n_iter):
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            enorm.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("_frac")).alias("_c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + damping
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dm") / n_nodes
                    ),
                    RANK_ROUND,
                ).alias("rank"),
            )
            .transform(_lb, eager=True, iterative=True)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def event_transition_edges(events: DataFrame) -> DataFrame:
    """Weighted event-type transition graph: one edge per observed
    consecutive (type -> next type) within a user's timeline, collapsed to
    counts. The window shuffles once on user_id; the edge aggregation is
    map-side combinable."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def duckdb_pagerank_sql(
    edges_sql: str, n_iter: int = 5, damping: float = 0.85
) -> str:
    """DuckDB SQL replaying :func:`pagerank` exactly: the power iteration is
    UNROLLED into one CTE chain per round (the fixed iteration count is what
    makes the operator oraclable at all), with the same per-round
    :data:`RANK_ROUND` grid pinning. ``edges_sql`` must produce
    (src, dst, w).

    Every round-invariant CTE is declared ``MATERIALIZED``: DuckDB's
    optimizer may otherwise inline a CTE into each of its references, and
    the edge relation (potentially a window pass over the full event
    stream) is referenced by all ``n_iter`` rounds — measured 42 s -> 0.6 s
    at sf0.1 with the hint. Semantics are unchanged (it is purely a
    materialization hint)."""
    sql = f"""
WITH edges0 AS MATERIALIZED ({edges_sql}),
edges AS MATERIALIZED (
  SELECT src AS _src, dst AS _dst, CAST(sum(w) AS DOUBLE) AS _w
  FROM edges0 GROUP BY src, dst HAVING CAST(sum(w) AS DOUBLE) > 0
),
nodes AS MATERIALIZED (
  SELECT _src AS node FROM edges UNION SELECT _dst FROM edges
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outw AS MATERIALIZED (SELECT _src, sum(_w) AS _ow FROM edges GROUP BY _src),
enorm AS MATERIALIZED (
  SELECT _src, _dst, _w / _ow AS _frac FROM edges JOIN outw USING (_src)
),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    for i in range(1, n_iter + 1):
        p = i - 1
        sql += f""",
d{i} AS (
  SELECT coalesce(sum(rank), 0) AS dm FROM r{p}
  WHERE node NOT IN (SELECT _src FROM outw)
),
r{i} AS (
  SELECT nodes.node,
         round((1 - {damping}) / (SELECT n FROM nn)
               + {damping} * (coalesce(c.contrib, 0)
                              + (SELECT dm FROM d{i}) / (SELECT n FROM nn)),
               {RANK_ROUND}) AS rank
  FROM nodes LEFT JOIN (
    SELECT en._dst AS node, sum(r.rank * en._frac) AS contrib
    FROM enorm en JOIN r{p} r ON r.node = en._src
    GROUP BY en._dst
  ) c ON c.node = nodes.node
)"""
    sql += f"\nSELECT node, round(rank, 6) AS rank FROM r{n_iter}"
    return sql


#: the auto degree cap's exact discrete quantile (p99.5 of node degrees)
#: and floor — same constants and same integer-exact rule as the MinHash
#: auto bucket cap, so the two default guards share one philosophy: benign
#: sparse graphs are never trimmed (every node below the floor keeps its
#: full adjacency), and naturally dense graphs raise the cap with them so
#: only the degenerate hub tail is cut.
LPA_AUTO_Q_NUM = 995
LPA_AUTO_Q_DEN = 1000
LPA_AUTO_FLOOR = 8


#: the trim cost gate's weight (see :func:`label_propagation`): trim only
#: when ``n_rounds * removed_rows > FACTOR * (heavy_rows + kept_rows)``.
#: The factor prices one window-sorted-or-checkpointed row at FACTOR
#: per-round-join rows. Calibration on the four BENCH_LPA_GUARD shapes:
#: the dense-hub regime sits far below the gate at 2 (41M hub: est.
#: benefit/cost 0.73, where round 10's ungated trim measured 1.33x
#: WORSE) and the 10-round clique far above it (est. 3.9, measured 3x
#: win); the 6k-clique/3-round point straddles it (est. 1.18, measured
#: within the fixture's own ±20% run spread BOTH ways — trim 23.5 vs
#: unguarded 21.9 in one session, skip 29.4 vs 18.0 in another). On a
#: marginal shape the gate deliberately errs toward TRIMMING: bounded
#: worst-case join rows per round is the guard's purpose, and the
#: quadratic near-dup community is exactly the shape it exists for —
#: so the factor stays at 2 rather than a larger margin that would
#: hand marginal cliques back to unbounded growth. Round 12 measured
#: the crossover the r11 note asserted (BENCH_LPA_GUARD_clique_r5): on
#: the same 6k-clique shape at 5 rounds auto WINS 1.60x (39.3 vs
#: 62.8 s unguarded; explicit-32 26.0 s), so the trim's payoff flips
#: between 3 and 5 rounds — the err-toward-trimming loss is confined
#: to the narrow 3-round end of the marginal band, with data on both
#: sides of the factor's calibration.
LPA_TRIM_COST_FACTOR = 2

#: the heavy/light split trim (see :func:`label_propagation`) broadcasts
#: the heavy-node id set to filter the edge list without shuffling it; by
#: the p99.5 construction heavy nodes are <=0.5% of nodes, but a direct
#: caller on a billion-node graph could still exceed a sane broadcast, so
#: above this bound the trim falls back to the full row_number window
#: (identical trimmed set either way — the bound is purely physical and
#: needs no oracle replay)
LPA_HEAVY_SPLIT_MAX = 1_000_000


def _cap_from_hist(rows) -> tuple[int, int, int, int, int, int]:
    """Exact integer quantile cap from collected (degree, node-count) rows.

    Returns ``(cap, max_degree, heavy_nodes, heavy_rows, removed_rows,
    total_rows)``: ``heavy_nodes`` is the number of nodes whose degree
    EXCEEDS the cap (the population the trim window actually touches),
    ``heavy_rows`` their total adjacency rows, ``removed_rows`` how many
    of those the cap would cut. ``heavy_nodes == 0`` iff
    ``cap >= max_degree`` (the trim would keep every row). All integer
    arithmetic so the DuckDB oracle replays every derived decision
    bit-for-bit."""
    rows = sorted(rows, key=lambda r: r["_d"])
    if not rows:
        return LPA_AUTO_FLOOR, 0, 0, 0, 0, 0
    n = sum(r["_c"] for r in rows)
    q = None
    cum = 0
    for r in rows:
        cum += r["_c"]
        if cum * LPA_AUTO_Q_DEN >= n * LPA_AUTO_Q_NUM:
            q = r["_d"]
            break
    cap = max(LPA_AUTO_FLOOR, q if q is not None else LPA_AUTO_FLOOR)
    heavy = sum(r["_c"] for r in rows if r["_d"] > cap)
    heavy_rows = sum(r["_d"] * r["_c"] for r in rows if r["_d"] > cap)
    removed = sum(
        (r["_d"] - cap) * r["_c"] for r in rows if r["_d"] > cap
    )
    total = sum(r["_d"] * r["_c"] for r in rows)
    return cap, rows[-1]["_d"], heavy, heavy_rows, removed, total


def _auto_degree_cap(und: DataFrame) -> tuple[int, int]:
    """Adaptive per-node degree cap from the out-degree HISTOGRAM.

    The collect is bounded by the number of DISTINCT degree values (at
    most max-degree rows, typically a few hundred), never by node or edge
    counts — one extra aggregation job at any scale. Exact integer
    arithmetic (smallest degree whose cumulative node count covers 99.5%
    of nodes) so the DuckDB oracle replays the rule bit-for-bit.

    Returns ``(cap, max_degree)``: the max degree falls out of the same
    histogram for free, and the caller uses it to SKIP the trim window
    entirely when ``cap >= max_degree`` (the filter would keep every row).
    That skip matters on uniform-density graphs, where the percentile rule
    deliberately trims nothing — a pure C-member clique has every degree
    equal, so p99.5 == max — and the window + eager checkpoint of the
    untrimmed C^2 edge relation was measured round 10 to be strictly
    worse than the unguarded plan (C=12,000: unguarded 36 s, "guarded"
    no-op checkpoint of 144M rows died in GC on a 16 GB local heap).
    """
    hist = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    cap, max_deg = _cap_from_hist(hist.collect())[:2]
    return cap, max_deg


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 3,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    weight_col: str = "jaccard",
    degree_cap: int | str | None = "auto",
) -> DataFrame:
    """Semi-supervised label propagation over a weighted undirected graph.

    ``seeds`` is a ``(node, label)`` relation of trusted assignments;
    each synchronous round every node with at least one labeled neighbor
    takes the label with the highest incident weight sum (ties by label
    text, so the argmax is total), seeds stay clamped, and labeled nodes
    without labeled neighbors keep their label. After ``n_rounds`` the
    labeled set is returned — the cheap way to extend a small trusted
    labeling (human-reviewed sources, licensed subsets) across a
    near-duplicate graph.

    Per round: one equi-join of the edge list against the current label
    relation (shuffle bounded by labeled-incident edges), one (node,
    label) aggregation, one per-node argmax window. The label relation is
    ``localCheckpoint``-ed per round — same lineage discipline as
    :func:`pagerank` — so the plan stays flat at any round count. Weight
    sums are rounded to 6dp before the argmax so the winner is identical
    cross-engine regardless of float summation order.

    ``degree_cap`` bounds each node's out-adjacency to its ``cap``
    heaviest edges (ties by neighbor id, so the trimmed set is total and
    oracle-replayable). This is the same scale philosophy as the MinHash
    degenerate-bucket guard: a hub node of degree D contributes D rows to
    EVERY round's labeled-edge join, so dense near-dup communities (the
    quadratic cliques a template family induces) drive the measured
    superlinear growth — 10x data -> 26x time unguarded at 30x->100x.
    Capping keeps each round's join linear in node count. A node's
    heaviest neighbors dominate its weighted-majority vote anyway, so the
    argmax is usually unchanged; seeds are unaffected (clamped).

    The DEFAULT is ``"auto"`` (the same graduation the MinHash guard made
    in round 7): cap = max(:data:`LPA_AUTO_FLOOR`, exact 99.5th percentile
    of the node out-degree distribution), derived from one bounded
    histogram collect over the symmetrized edge list. A direct caller
    handing in an independently built heavy-tailed edge list is now
    protected by default, not only when the upstream minhash bucket cap
    happens to have trimmed the pairs. Pass an int for a fixed cap, or
    ``None`` to opt out entirely (exact unguarded semantics).

    The auto trim is applied as a HEAVY/LIGHT SPLIT rather than one
    global window: the degree relation (cached from the same shuffle the
    histogram needs) yields the <=0.5%-of-nodes heavy set, light rows
    bypass the sort via a broadcast anti-join, and only heavy-node rows
    are windowed. The trimmed set is bit-identical to the full window's
    (same ``(w DESC, dst)`` spec), so the oracle replay is unchanged —
    but the trim's cost becomes proportional to the tail mass instead of
    the whole graph, which is what made auto LOSE to unguarded on the
    round-10 41M-edge hub record.
    """
    from zarr_datafusion_search_spark.operators.cache import tracked_persist

    # The (possibly expensive — minhash!) pair plan is referenced TWICE by
    # the symmetrize union and then joined every round. An eager
    # localCheckpoint materializes it exactly once, up front, and truncates
    # lineage — unlike a lazy persist, whose first materialization happens
    # inside round 1's job where the two union branches race to compute the
    # same uncached plan (the source of the 9.5 s-driver vs 2.1 s-fresh
    # bench spread on label_propagation_sources). The symmetrize union off
    # the checkpointed blocks is a cheap column swap, re-run per round.
    pair3 = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).alias("w"),
    ).transform(_lb, eager=True)
    und = pair3.unionByName(
        pair3.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    if degree_cap is not None:
        if isinstance(degree_cap, str) and degree_cap != "auto":
            raise ValueError(
                "degree_cap must be an int, None, or 'auto'; got "
                f"{degree_cap!r}"
            )
        heavy = None
        if degree_cap == "auto":
            # one degree aggregation feeds BOTH the quantile histogram
            # (bounded collect, exact integer rule — oracle-replayed) and
            # the heavy-node id relation, so deriving the split below
            # costs no second shuffle over the edge list
            degs = tracked_persist(
                und.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
            )
            hist = degs.groupBy(F.col("_deg").alias("_d")).agg(
                F.count(F.lit(1)).alias("_c")
            )
            cap, max_deg, heavy_cnt, heavy_rows, removed, total = (
                _cap_from_hist(hist.collect())
            )
            # COST GATE (round 11, BENCH_LPA_GUARD_41M_hub): trim only
            # when the histogram says it pays for itself within this
            # call's rounds. Benefit = every round's join/agg skips the
            # removed rows (n_rounds * removed); marginal cost = the trim
            # window over the heavy rows + the eager checkpoint of the
            # kept rows, weighted :data:`LPA_TRIM_COST_FACTOR` (see its
            # calibration note). In the DENSE regime — hub mass raising
            # the population mean so cap ~ p50 and removal is only ~half
            # the rows — the gate skips (auto == unguarded semantics AND
            # keeps full vote coverage); on the quadratic-community
            # shapes the guard exists for (near-dup cliques: removal is
            # ~all rows, many rounds) it still trims. removed == 0
            # (uniform graph, p99.5 == max) skips trivially, subsuming
            # the round-10 trim-skip. Integer-exact, replayed in the
            # oracle CTE.
            trim = n_rounds * removed > LPA_TRIM_COST_FACTOR * (
                heavy_rows + (total - removed)
            )
            if trim and heavy_cnt <= LPA_HEAVY_SPLIT_MAX:
                heavy = degs.filter(F.col("_deg") > cap).select("src")
        else:
            cap, trim = degree_cap, True
        if trim:
            wdeg = Window.partitionBy("src").orderBy(
                F.col("w").desc(), F.col("dst")
            )
            if heavy is not None:
                # HEAVY/LIGHT SPLIT (round 11, BENCH_LPA_GUARD_41M_hub):
                # by the p99.5 construction <=0.5% of nodes exceed the
                # cap, yet the full row_number window shuffles and sorts
                # EVERY edge row to trim only theirs — on the 41M-edge
                # hub shape that 82.4M-row sort cost more than the rounds
                # it saved (auto 66 s vs 49.5 s unguarded). Light rows
                # (degree <= cap — the window would keep them all) pass
                # through a broadcast anti-join with no shuffle at all;
                # only heavy-node rows are sorted, each node one window
                # partition. The trimmed SET is identical to the full
                # window's, so the oracle replay is unchanged.
                # null-SAFE join keys (ADVICE r11): the full window
                # partitions NULL srcs into one group and trims it like
                # any other, but a plain equi anti/semi join never
                # matches NULL — a NULL-keyed heavy group would silently
                # bypass the split trim. eqNullSafe keeps the two paths
                # bit-identical on any input.
                hv = F.broadcast(heavy.withColumnRenamed("src", "_hsrc"))
                on = und["src"].eqNullSafe(hv["_hsrc"])
                light = und.join(hv, on, "left_anti")
                trimmed = (
                    und.join(hv, on, "left_semi")
                    .withColumn("_dr", F.row_number().over(wdeg))
                    .filter(F.col("_dr") <= cap)
                    .drop("_dr")
                )
                und = light.unionByName(trimmed).transform(_lb, eager=True)
            else:
                # explicit int cap (no degree relation on hand) or a
                # heavy set too big to broadcast: the original full
                # window. Checkpointed once: without it the cap window
                # (one shuffle on src) would re-run inside every round's
                # join.
                und = (
                    und.withColumn("_dr", F.row_number().over(wdeg))
                    .filter(F.col("_dr") <= cap)
                    .drop("_dr")
                    .transform(_lb, eager=True)
                )
        if degree_cap == "auto":
            degs.unpersist()
    seeds = tracked_persist(seeds.select("node", "label"))
    labels = seeds
    for _ in range(n_rounds):
        contrib = (
            und.join(labels, und["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.round(F.sum("w"), 6).alias("wsum"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("wsum").desc(), F.col("label")
        )
        best = (
            contrib.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        keep_prev = labels.join(
            contrib.select("node").distinct(), "node", "left_anti"
        ).join(seeds.select("node"), "node", "left_anti")
        labels = (
            seeds.unionByName(
                best.join(seeds.select("node"), "node", "left_anti")
            )
            .unionByName(keep_prev)
            .transform(_lb, eager=True, iterative=True)
        )
    return labels


def triangle_clustering(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    undirected simple graph — the community-density signal a near-dup
    graph audit reads (high clustering = template families, low = chains
    of borderline matches).

    Scale shape: triangle enumeration is the classic ORIENTED wedge join.
    Edges are oriented from the lower-(degree, id) endpoint to the higher
    one, wedges are built by joining oriented out-edges on their middle
    vertex, and each wedge is closed against the oriented edge set with
    one more equi-join. Orientation bounds every vertex's out-degree by
    O(sqrt(m)) on any graph (the arboricity argument behind the standard
    triangle-counting MapReduce), so the wedge join is Sum(outdeg^2) <=
    m^1.5 instead of Sum(deg^2), which a power-law hub would blow up.
    Triangles are orientation-invariant, so a plain id-ordered oracle
    enumerates the identical set.

    Returns (node, degree, triangles, clustering) with
    ``clustering = 2*T / (deg*(deg-1))`` (0 when deg < 2), rounded 6dp.
    """
    canon = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialized once: degrees, orientation, wedge join, and closure
        # all read this relation — without the snapshot the (possibly
        # minhash-expensive) pair plan runs four times
        .transform(_lb, eager=True)
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient by (degree, node): lower rank -> higher rank
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("db"))
    ranked = canon.join(da, "a").join(db, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).transform(_lb, eager=True)
    # wedges u->v, u->w (v < w by the orientation's total order is NOT
    # guaranteed, so dedupe by unordered pair via least/greatest)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u")) & (F.col("o1.v") < F.col("o2.v")),
    ).select(
        F.col("o1.u").alias("w_apex"),
        F.col("o1.v").alias("w_x"),
        F.col("o2.v").alias("w_y"),
    )
    # close each wedge: the third edge (w_x, w_y) exists in EITHER
    # orientation; oriented edges are unique per unordered pair, so match
    # on the unordered key
    closing = oriented.select(
        F.least("u", "v").alias("c_lo"), F.greatest("u", "v").alias("c_hi")
    )
    tris = wedges.join(
        closing,
        (F.least("w_x", "w_y") == F.col("c_lo"))
        & (F.greatest("w_x", "w_y") == F.col("c_hi")),
    ).select("w_apex", "w_x", "w_y")
    per_node = (
        tris.select(F.col("w_apex").alias("node"))
        .unionAll(tris.select(F.col("w_x").alias("node")))
        .unionAll(tris.select(F.col("w_y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def neighborhood_mean_2hop(
    edges: DataFrame,
    attrs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    node_col: str = "doc_id",
    value_col: str = "n_chars",
) -> DataFrame:
    """GNN-style 2-hop neighborhood aggregation without a GNN: for every
    node in the edge set, the mean of a numeric attribute over its
    distinct 1-hop neighbors and over its distinct <=2-hop neighborhood
    (nodes reachable via some middle vertex, self excluded) — the
    message-passing feature a graph-aware quality model consumes,
    expressed as two equi-joins + distinct + one attribute join.

    Scale: the 2-hop expansion is bounded by Sum(deg^2) wedges before the
    distinct; partial aggregation needs the DISTINCT neighbor set, so the
    shuffle key is (node, neighbor) — the same bound every 2-hop GNN
    sampler pays exactly.
    """
    sym = (
        edges.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d")
        )
        .unionAll(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
        .distinct()
        .transform(_lb, eager=True)
    )
    a = attrs.select(
        F.col(node_col).alias("d"), F.col(value_col).cast("double").alias("val")
    )
    hop1 = sym  # (s, d) distinct
    m1 = hop1.join(a, "d").groupBy("s").agg(
        F.count(F.lit(1)).alias("n_1hop"),
        F.round(F.avg("val"), 6).alias("mean_1hop"),
    )
    s1 = sym.alias("s1")
    s2 = sym.alias("s2")
    hop2 = (
        s1.join(s2, F.col("s1.d") == F.col("s2.s"))
        .filter(F.col("s1.s") != F.col("s2.d"))
        .select(F.col("s1.s").alias("s"), F.col("s2.d").alias("d"))
        .distinct()
    )
    m2 = hop2.join(a, "d").groupBy("s").agg(
        F.count(F.lit(1)).alias("n_2hop"),
        F.round(F.avg("val"), 6).alias("mean_2hop"),
    )
    return (
        m1.join(m2, "s", "left")
        .select(
            F.col("s").alias(node_col),
            "n_1hop",
            "mean_1hop",
            F.coalesce("n_2hop", F.lit(0)).alias("n_2hop"),
            "mean_2hop",
        )
    )
