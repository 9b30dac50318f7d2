"""Round-12 pins: the bounded components oracle, the LPA split's null-safe
keys, BLAS thread pinning and the assignment stage's banded re-check.

Reference parity context: the reference repo has no graph operators (it is
a Zarr scan provider, `src/table_provider.rs`); these pins guard the repo's
LLM-pipeline extensions.
"""

from __future__ import annotations


# ---------------------------------------------------------------------------
# bounded components oracle (VERDICT r11 ask #3)
# ---------------------------------------------------------------------------


def _run_components_oracle(pairs_values: str, n_rounds: int):
    import duckdb

    from zarr_datafusion_search_spark.plans.pipeline_ops import (
        components_oracle_ctes,
    )

    sql = (
        f"WITH pairs(doc_a, doc_b) AS (VALUES {pairs_values}),\n"
        f"{components_oracle_ctes(n_rounds)}\n"
        "SELECT node, component FROM comp ORDER BY node"
    )
    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_components_oracle_path_graph_converges():
    """A 12-node path needs 11 propagation rounds for the far end to see
    the min label; 12 rounds (11 + the equality round) converge and every
    node labels 0."""
    chain = ", ".join(f"({i}, {i + 1})" for i in range(11))
    rows = _run_components_oracle(chain, 12)
    assert rows == [(i, 0) for i in range(12)]


def test_components_oracle_sentinel_fails_loud_not_wrong():
    """Under-provisioned rounds must EMPTY the result (a loud row-count
    collapse the driver's compare cannot miss), never return
    nearly-converged labels."""
    chain = ", ".join(f"({i}, {i + 1})" for i in range(11))
    assert _run_components_oracle(chain, 11) == []
    assert _run_components_oracle(chain, 3) == []


def test_components_oracle_matches_engine_fixpoint(spark):
    """Value parity with operators.components.connected_components on a
    multi-component graph (two clusters + a bridge-free singleton pair),
    at the shipped default round count."""
    from zarr_datafusion_search_spark.operators.components import (
        connected_components,
    )
    from zarr_datafusion_search_spark.plans.pipeline_ops import (
        COMPONENTS_ORACLE_ROUNDS,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    engine = sorted(
        map(
            tuple,
            connected_components(
                spark.createDataFrame(pairs, "doc_a long, doc_b long")
            ).collect(),
        )
    )
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    oracle = _run_components_oracle(values, COMPONENTS_ORACLE_ROUNDS)
    assert engine == [(n, c) for n, c in oracle]
    assert len(engine) == 9


# ---------------------------------------------------------------------------
# LPA split null-safe keys (ADVICE r11)
# ---------------------------------------------------------------------------


def test_lpa_split_trims_null_keyed_group_like_full_window(spark, monkeypatch):
    """A NULL-src edge group above the cap must be trimmed identically by
    the broadcast split and the full row_number window — a plain equi
    anti/semi join never matches NULL and would leak the whole group
    through the split path untrimmed (ADVICE r11)."""
    import zarr_datafusion_search_spark.operators.graph as graph_mod
    from zarr_datafusion_search_spark.operators.graph import label_propagation

    # hub 0 (degree 200) + NULL hub (degree 200) + sparse chain: cap lands
    # at the floor, both hubs are heavy, the cost gate trims at 8 rounds
    rows = [(0, i, 1.0 - i * 1e-6) for i in range(1, 201)]
    rows += [(None, i, 1.0 - i * 1e-6) for i in range(1, 201)]
    base = 10_000
    for i in range(40):
        rows.append((base + i, base + i + 1, 0.5))
    edges = spark.createDataFrame(
        rows, "doc_a long, doc_b long, jaccard double"
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (10_000, "b")], "node long, label string"
    )
    split = sorted(
        map(tuple, label_propagation(edges, seeds, n_rounds=8).collect()),
        key=str,
    )
    monkeypatch.setattr(graph_mod, "LPA_HEAVY_SPLIT_MAX", 0)
    full = sorted(
        map(tuple, label_propagation(edges, seeds, n_rounds=8).collect()),
        key=str,
    )
    assert split == full
    assert len(split) > 0


# ---------------------------------------------------------------------------
# per-worker BLAS thread pinning (round 12)
# ---------------------------------------------------------------------------


def test_engine_pins_one_blas_thread_per_worker(spark):
    """Every task slot runs its own Python worker, so an n-thread BLAS
    pool per worker oversubscribes cores n-fold — and this numpy's
    OpenBLAS spin-yields that pool in the kernel (measured 43 s user /
    467 s SYSTEM on a 108-GFLOP dgemm loop). build_session must pin one
    BLAS thread per worker: driver env (local-mode daemons inherit it)
    AND executorEnv (cluster deployments)."""
    import os

    assert os.environ.get("OPENBLAS_NUM_THREADS") == "1"
    assert (
        spark.conf.get("spark.executorEnv.OPENBLAS_NUM_THREADS") == "1"
    )


# ---------------------------------------------------------------------------
# assignment-stage f32 prefilter + banded f64 re-check (round 12)
# ---------------------------------------------------------------------------


def _assign_reference_numpy(vecs, cent_ids, cents):
    """The documented assignment semantics, rederived independently:
    full-f64 cosine matrix, 6dp half-away-from-zero round, argmax with
    lowest-centroid-id tie-break (np.argmax returns the first maximum
    over the id-ascending matrix). This is the exact contract the
    crossJoin + max_by(struct(round(cos,6), -centroid_id)) plan defined
    and the retired all-f64 GEMM implemented."""
    import numpy as np

    from zarr_datafusion_search_spark.operators.similarity import NORM_EPS

    V = np.asarray(vecs, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), NORM_EPS)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), NORM_EPS)
    S = Vn @ Cn.T
    R = np.copysign(np.floor(np.abs(S) * 1e6 + 0.5), S)
    return [int(cent_ids[j]) for j in np.argmax(R, axis=1)]


def test_assignment_band_recheck_sub_f32_gaps(spark):
    """Adversarial band stress: query vectors whose top-2 centroid
    cosines differ by ~1e-7..3e-6 — below or near the worst-case f32
    dot error, so an f32-only argmax could misrank them. The shipped
    UDF's banded f64 re-check must land every one on the true
    f64-rounded winner (including true 6dp ties, which break to the
    lowest centroid id)."""
    import numpy as np

    from zarr_datafusion_search_spark.operators import similarity

    d = 8
    c1 = [1.0] + [0.0] * (d - 1)
    c2 = [0.0, 1.0] + [0.0] * (d - 2)
    rows = [(0, c1), (1, c2)]
    vecs = [c1, c2]
    # q = [1, 1 - delta, 0, ...]: cos gap to the two centroids ~ delta/2
    # (post-normalization); deltas straddle the f32 error scale and the
    # 6dp bin width in both directions
    for i, delta in enumerate(
        [0.0, 1e-7, -1e-7, 1e-6, -1e-6, 3e-6, -3e-6, 2e-5, -2e-5]
    ):
        q = [1.0, 1.0 - delta] + [0.0] * (d - 2)
        rows.append((10 + i, q))
        vecs.append(q)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    # NOTE: Spark stores array<float> as f32 — feed the reference the
    # f32-quantized values the UDF actually sees
    vecs32 = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    expected = _assign_reference_numpy(vecs32, [0, 1], vecs32[:2])
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.semantic_cell_assignments(df, n_centroids=2)
        .select("vec_id", "cell")
        .collect()
    }
    assert [got[i] for i, _ in rows] == expected
    # the constructed ties must actually exercise both outcomes
    assert expected[0] == 0 and expected[1] == 1


def test_assignment_degenerate_rows_match_f64_argmax(spark):
    """Zero vectors (NORM_EPS path) and non-finite vectors produce no
    f32 band candidates; the fallback must reproduce the retired
    all-f64 argmax behavior exactly (np.argmax over the rounded score
    matrix — first-maximum/first-NaN semantics)."""
    import math

    import numpy as np

    from zarr_datafusion_search_spark.operators import similarity

    d = 4
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (7, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (8, [math.nan, 1.0, 0.0, 0.0]),  # non-finite
        (9, [0.5, 0.5, 0.0, 0.0]),  # ordinary row alongside them
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    vecs32 = np.asarray(
        [v for _, v in rows], dtype=np.float32
    ).astype(np.float64)
    expected = _assign_reference_numpy(vecs32, [0, 1], vecs32[:2])
    got = {
        r["vec_id"]: r["cell"]
        for r in similarity.semantic_cell_assignments(df, n_centroids=2)
        .select("vec_id", "cell")
        .collect()
    }
    assert [got[i] for i, _ in rows] == expected


# ---------------------------------------------------------------------------
# tfidf postings materialization (round-12 optimization: checkpoint barrier)
# ---------------------------------------------------------------------------


def test_tfidf_postings_checkpoint_barrier(spark, sf_dir):
    """tfidf_topk's postings relation is materialized through a lazy
    localCheckpoint, not a persist: under AQE a persisted base is raced
    by the five consumers' concurrent shuffle-map stages, each re-running
    the tokenize+groupBy (measured 7.0 -> 4.3 s at the 10x bench point
    after the swap). Pin the barrier (an ExistingRDD scan in the final
    plan, no InMemoryRelation) and the unchanged values against the
    expression-level recomputation."""
    import pyspark.sql.functions as F

    from zarr_datafusion_search_spark.operators import search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = search.tfidf_topk(docs, [(0, "data quality"), (1, "zarr chunk")], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "InMemoryRelation" not in plan
    rows = out.collect()
    # ranks are 1..k per query, scores non-increasing within each query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# content_defined_segments: array-expression rewrite == windowed reference
# ---------------------------------------------------------------------------


def _segments_reference_python(doc_id, text, boundary_mod=8):
    """Independent reimplementation of the ORIGINAL windowed semantics:
    posexplode tokens, running count of boundary tokens strictly before
    each position as the segment id, ordered re-concatenation per
    (doc, segment). A boundary token is the LAST token of its segment."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", (text or "").lower()) if t]
    segs = {}
    run = 0
    for tok in toks:
        h = int(hashlib.md5(tok.encode()).hexdigest()[1:16], 16)
        segs.setdefault(run, []).append(tok)
        if h % boundary_mod == 0:
            run += 1
    out = []
    for sid in sorted(segs):
        stext = " ".join(segs[sid])
        fp = int(hashlib.md5(stext.encode()).hexdigest()[1:16], 16)
        out.append((doc_id, sid, stext, fp))
    return out


def test_content_defined_segments_matches_windowed_reference(spark):
    """The zero-token-shuffle array form (round 12 §18) must reproduce the
    original window/groupBy construction row-for-row, including the
    edges: a doc whose FINAL token is a boundary (the trailing empty
    segment never materializes), a doc with no boundary tokens (one
    segment 0), an empty doc and a NULL doc (no rows), multi-space
    separators, and 0-based sequential segment ids."""
    import hashlib

    from zarr_datafusion_search_spark.operators import dedup

    def is_boundary(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[1:16], 16) % 8 == 0

    # mine deterministic vocab for boundary and plain tokens
    vocab = [f"w{i}" for i in range(400)]
    b_toks = [t for t in vocab if is_boundary(t)]
    p_toks = [t for t in vocab if not is_boundary(t)]
    assert len(b_toks) >= 3 and len(p_toks) >= 8
    docs = [
        # generic: boundaries in the middle
        (1, f"{p_toks[0]} {b_toks[0]} {p_toks[1]} {p_toks[2]} {b_toks[1]} {p_toks[3]}"),
        # final token IS a boundary -> trailing empty segment must not appear
        (2, f"{p_toks[4]} {p_toks[5]} {b_toks[2]}"),
        # no boundary tokens -> single segment 0
        (3, f"{p_toks[6]} {p_toks[7]}"),
        # whitespace runs and case folding
        (4, f"  {p_toks[0].upper()}   {b_toks[0]}  {p_toks[1]} "),
        # empty and NULL -> no rows
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.segment_id, r.segment_text, r.segment_fp)
        for r in dedup.content_defined_segments(df).collect()
    )
    want = sorted(
        row
        for doc_id, text in docs
        for row in _segments_reference_python(doc_id, text)
    )
    assert got == want


# ---------------------------------------------------------------------------
# simhash_pairs: lowest-matching-band uniqueness == the retired distinct()
# ---------------------------------------------------------------------------


def test_simhash_pairs_multiband_match_emitted_once(spark):
    """A pair whose simhashes agree on SEVERAL bytes meets the band join
    once per matching band; the lowest-band filter (round 12 §20) must
    emit it exactly once — identical docs (all 4 bands match, hamming 0)
    are the worst case. Also pins hamming values and the max_hamming
    cut against a brute-force pair scan of the per-doc simhashes."""
    from zarr_datafusion_search_spark.operators import dedup

    docs = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # identical to 1
        (3, "alpha beta gamma delta zeta"),      # near 1/2
        (4, "one two three four five six"),      # unrelated
        (5, "alpha beta gamma delta epsilon"),   # identical to 1/2
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.simhash_pairs(df, max_hamming=3).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in out}
    # no duplicate (doc_a, doc_b) rows
    assert len(out) == len(got)
    # brute-force reference over the engine's own per-doc hashes
    hashes = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    want = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = bin(hashes[a] ^ hashes[b]).count("1")
            bands_match = any(
                (hashes[a] >> (8 * k)) & 255 == (hashes[b] >> (8 * k)) & 255
                for k in range(4)
            )
            if bands_match and ham <= 3:
                want[(a, b)] = ham
    assert got == want
    assert got[(1, 2)] == 0 and got[(1, 5)] == 0 and got[(2, 5)] == 0
