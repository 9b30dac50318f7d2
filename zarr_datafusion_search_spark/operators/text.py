"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All built-in expressions (JVM, codegen) — no
Python UDFs in the hot path.
"""

from __future__ import annotations

from zarr_datafusion_search_spark.operators.cache import (
    lineage_barrier as _lb,
)

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from zarr_datafusion_search_spark.functions.hashing import h64
from zarr_datafusion_search_spark.operators.dedup import tokens_col

#: Marker-token lists per language for the n-gram/stopword heuristic.
#: Deterministic and tiny on purpose: language ID at pipeline scale is a
#: first-pass router, not a classifier; order of the CASE chain breaks ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
}

#: BPE-ish token regex: word pieces, digit runs, single punctuation marks.
BPE_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "it", "on", "for")


def _marker_score(lang: str):
    toks = tokens_col("text")
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def language_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Predict language from marker-token counts; deterministic CASE-chain
    argmax (first language in priority order wins ties); 'und' if no
    markers matched at all.

    The tie-break convention here is replayed by DuckDB oracles AND
    mirrored by :func:`label_consistency_audit`'s best-other argmax —
    change all three together or cross-engine parity silently breaks."""
    scored = df.select(
        id_col,
        *[_marker_score(lang).alias(f"score_{lang}") for lang in LANG_MARKERS],
    )
    langs = list(LANG_MARKERS)
    pred = F.lit("und")
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(langs):
        cond = F.col(f"score_{lang}") > 0
        for other in langs:
            if langs.index(other) < langs.index(lang):
                cond = cond & (F.col(f"score_{lang}") > F.col(f"score_{other}"))
            elif other != lang:
                cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{other}"))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return scored.select(
        id_col, *[f"score_{lang}" for lang in langs], pred.alias("predicted_lang")
    )


def quality_score(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + a composite score in [0, 1]:
    token count, mean token length, punctuation ratio, stopword ratio."""
    toks = tokens_col("text")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_toks, F.lit(1))
    mean_tok_len = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_toks, F.lit(1))
    # composite: long enough, some stopwords, not punctuation soup
    score = (
        F.least(n_toks.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 10.0, F.lit(1.0))) * 0.2
    )
    return df.select(
        id_col,
        n_toks.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count and BPE-ish regex token count per document."""
    return df.select(
        id_col,
        F.size(tokens_col("text")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_measured"),
    )


def repetition_signals(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``dup_token_fraction``: 1 - distinct/total tokens (word-level spam);
    - ``top_bigram_fraction``: occurrences of the document's most frequent
      word bigram over all bigram slots (catches "buy now buy now ...");
    - ``is_repetitive``: the filter decision at the standard-ish thresholds
      (top bigram > 0.18 or duplicate tokens > 0.5).

    Shape: the bigram stats shuffle once on (doc, bigram) then once on doc;
    token stats are a narrow map; the final join is doc-keyed. NULL bigram
    fraction for docs with < 2 tokens (no bigram slots) — kept NULL, and
    treated as non-repetitive by the flag.
    """
    from zarr_datafusion_search_spark.operators.dedup import word_ngrams_col

    toks = tokens_col("text")
    # one zip_with concat per bigram instead of sequence + 2 boxed
    # element_at probes per slot (same measured swap as with_shingles;
    # identical strings)
    bigrams = word_ngrams_col(F.col("_t"), 2)
    bg = (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(id_col, F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bg"), F.sum("c").alias("total_bg"))
    )
    tok = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("_nd"),
    )
    dup_frac = F.round(
        1.0 - F.col("_nd") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
        6,
    )
    top_frac = F.round(F.col("top_bg") / F.col("total_bg").cast("double"), 6)
    return (
        tok.join(bg, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            dup_frac.alias("dup_token_fraction"),
            top_frac.alias("top_bigram_fraction"),
            (
                (F.coalesce(top_frac, F.lit(0.0)) > 0.18)
                | (dup_frac > 0.5)
            ).alias("is_repetitive"),
        )
    )


def unigram_logprob_score(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Perplexity-proxy quality score: average negative log-probability of a
    document's tokens under the corpus's own unigram distribution. High
    values = improbable token soup (mojibake, code dumps, gibberish); low =
    natural running text. The cheap stand-in for LM-perplexity filtering
    that production pipelines run when a real LM pass is too expensive.

    Shape: one shuffle to count tokens (map-side combinable), an equi-join
    of the token stream against the count table on the token key, one
    doc-keyed aggregation. The vocabulary table is bounded by natural-
    language vocabulary growth (~sublinear in corpus size), so at cluster
    scale the join stays a well-distributed hash join. Scores rounded to
    6dp (avg summation order differs across engines in the last ULPs).
    Docs with zero tokens vanish (explode of an empty array), matching the
    oracle's unnest semantics.
    """
    tok = df.select(F.col(id_col), F.explode(tokens_col("text")).alias("tok"))
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("n"))
    return (
        tok.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens_scored"),
            F.round(
                F.avg(-F.log(F.col("c") / F.col("n").cast("double"))), 6
            ).alias("avg_neg_logprob"),
        )
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic document fingerprint over normalized text (lower-cased,
    whitespace-collapsed): full md5 hex + 60-bit integer form."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return df.select(
        id_col,
        F.md5(norm.cast("binary")).alias("fp_md5"),
        h64(norm).alias("fp_int"),
    )


#: Redaction patterns for common PII shapes (emails, international-ish phone
#: numbers, IPv4). Java-regex and RE2 compatible so oracles can replicate.
REDACTION_PATTERNS: dict[str, str] = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "IP": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Replace PII-shaped substrings with ``[TYPE]`` tokens and count the
    redactions per document (audit column)."""
    out = F.col(text_col)
    n_redactions = F.lit(0)
    for label, pattern in REDACTION_PATTERNS.items():
        n_redactions = n_redactions + F.size(
            F.regexp_extract_all(out, F.lit(pattern), 0)
        )
        out = F.regexp_replace(out, pattern, f"[{label}]")
    return df.select(
        id_col,
        out.alias("redacted_text"),
        n_redactions.cast("int").alias("n_redactions"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col,
    id_col: str = "doc_id",
    rate_scale: float = 1.0,
) -> DataFrame:
    """Deterministic importance sampling: keep a row with probability
    ``weight * rate_scale`` using the portable hash as the uniform draw
    (``h64 / 2^60`` is uniform on [0,1)). Reproducible across runs and
    engines — the pipeline-safe alternative to RNG sampling.
    """
    u = h64(F.col(id_col).cast("string")).cast("double") / float(1 << 60)
    keep_p = F.least(
        (F.col(weight_col) if isinstance(weight_col, str) else weight_col)
        * rate_scale,
        F.lit(1.0),
    )
    return df.filter(u < keep_p)


def sample_per_key(
    df: DataFrame,
    key_col: str = "source",
    k: int = 20,
    seed: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic k-per-key sample ("reservoir sampling, replayable").

    Rows rank within their key by a seeded member of the portable hash
    family over the id (id as final tiebreaker); the first ``k`` survive,
    with their rank in ``sample_rank``. Distributionally this IS a
    uniform k-reservoir — every size-k subset of a key's rows is equally
    likely over the hash family — but unlike RNG reservoirs the draw is a
    pure function of (seed, id): re-running the pipeline, adding
    partitions, or replaying a subset of the data reproduces the exact
    same sample, and the DuckDB oracle can recompute it.

    One shuffle on the key (the ranking window). Per-key top-k keeps
    window state at k rows per task; a pathologically hot key salts the
    same way as stratified_split's escape hatch.
    """
    from zarr_datafusion_search_spark.functions.hashing import h64_seeded

    w = Window.partitionBy(key_col).orderBy(
        h64_seeded(F.col(id_col).cast("string"), seed), id_col
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def chunk_windows(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunks (context-window sharding).

    Each document's whitespace tokens are cut into windows of ``window``
    tokens every ``stride`` tokens (the final windows may be shorter), the
    unit a training pipeline feeds a fixed-context model or a retrieval
    index. Pure explode + slice — a narrow per-row transform with no
    shuffle, so it scales linearly with the corpus.
    """
    toks = tokens_col(text_col)
    return (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") > 0)
        .select(
            id_col,
            "_t",
            F.explode(
                F.expr(f"sequence(0, size(_t) - 1, {stride})")
            ).alias("_start"),
        )
        .select(
            F.col(id_col),
            (F.col("_start") / stride).cast("int").alias("chunk_idx"),
            F.array_join(
                F.expr(f"slice(_t, _start + 1, {window})"), " "
            ).alias("chunk_text"),
            F.least(F.size("_t") - F.col("_start"), F.lit(window))
            .cast("int")
            .alias("n_tokens"),
        )
    )


def stratified_split(
    df: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """Deterministic exact-proportion train/val/test split per stratum.

    Rows rank within their stratum by the portable 60-bit hash of the id
    (id as tiebreaker); the first ``train`` fraction is 'train', the next
    ``val`` is 'val', the rest 'test'. Exact proportions per stratum,
    reproducible across runs and engines, no RNG. One shuffle on the
    stratum key; at 100 TB strata are large, so skew only appears if one
    stratum dominates — pre-split such a stratum or fall back to the
    hash-threshold split (``h64 % 100``), which needs no window at all.
    """
    w = Window.partitionBy(strata_col).orderBy(
        h64(F.col(id_col).cast("string")), F.col(id_col)
    )
    cnt = Window.partitionBy(strata_col)
    return df.select(
        F.col(id_col),
        F.col(strata_col),
        F.when(
            F.row_number().over(w) <= train * F.count(F.lit(1)).over(cnt),
            "train",
        )
        .when(
            F.row_number().over(w)
            <= (train + val) * F.count(F.lit(1)).over(cnt),
            "val",
        )
        .otherwise("test")
        .alias("split"),
    )


def balanced_downsample(
    df: DataFrame,
    class_col: str = "lang",
    per_class: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Class-balanced downsampling: keep at most ``per_class`` rows per
    class, chosen deterministically by the portable hash (id tiebreaker) so
    the kept set is a reproducible uniform sample within each class. The
    standard rebalancing step before training on skewed corpora."""
    w = Window.partitionBy(class_col).orderBy(
        h64(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_class)
        .select(id_col, class_col)
    )


def profile_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """Single-pass data profiling: per column, row/null/exact-distinct
    counts and min/max (rendered as strings so one schema fits all types).

    All stats ride ONE aggregation job (map-side partial agg); the exact
    NDV uses Spark's expand, which multiplies intermediate rows by
    len(columns) — at 100 TB swap ``F.countDistinct`` for
    ``F.approx_count_distinct`` (HLL, no expand) and keep the same shape.
    Avoid double-typed columns if the output feeds a cross-engine compare
    (float rendering differs engine-to-engine; ints and strings don't).
    The expand's len(columns)-x amplification executes in the scan stage,
    so under-split inputs are repaired first.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    df = ensure_scan_parallelism(df)
    aggs = []
    for c in columns:
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"_nulls_{c}"),
            F.countDistinct(c).alias(f"_ndv_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _n_{c}, _nulls_{c}, _ndv_{c}, _min_{c}, _max_{c}"
        for c in columns
    )
    return row.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )


def validate_constraints(
    facts: DataFrame,
    dims: DataFrame,
    fact_key: str,
    dim_key: str,
    not_null: list[str],
    unique: list[str],
    positive: list[str],
) -> DataFrame:
    """Data-quality gate: evaluate a constraint suite and emit one row per
    constraint with its violation count (0 = pass).

    One conditional-aggregation pass covers null and range checks; the
    uniqueness check is one map-side-combinable groupBy on the key tuple;
    referential integrity is a broadcast-or-shuffle anti join. At 100 TB
    these are the three cheapest shapes the checks can take — nothing is
    recomputed per constraint, and the report is a handful of rows.
    """
    spark = facts.sparkSession
    checks = []
    for c in not_null:
        checks.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"null_violations_{c}")
        )
    for c in positive:
        checks.append(
            F.sum(F.when(F.col(c) <= 0, 1).otherwise(0))
            .cast("long")
            .alias(f"nonpositive_violations_{c}")
        )
    onepass = facts.agg(*checks)
    stack_args = ", ".join(
        f"'{c.replace('_violations_', ':')}', {c}"
        for c in onepass.columns
    )
    scalar = onepass.selectExpr(
        f"stack({len(onepass.columns)}, {stack_args}) AS (constraint, violations)"
    )
    dup = (
        facts.groupBy(*unique)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).cast("long").alias("violations"))
        .select(
            F.lit("unique:" + ",".join(unique)).alias("constraint"), "violations"
        )
    )
    orphans = (
        facts.join(dims, facts[fact_key] == dims[dim_key], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
        .select(
            F.lit(f"ref_integrity:{fact_key}->{dim_key}").alias("constraint"),
            "violations",
        )
    )
    return scalar.unionByName(dup).unionByName(orphans)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    total: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sample the corpus to a target domain mixture (data mixing).

    Training runs rarely consume the raw corpus proportions — they target a
    mixture like 60% web / 30% code / 10% reference. Given per-domain
    weights and a target row count, each domain keeps its quota
    ``floor(total * w / sum(w))``, chosen deterministically as the rows
    with the smallest portable hash of the id (id tiebreaker). Domains
    listed with weight 0 and domains absent from ``weights`` are dropped.

    One shuffle on the domain key to rank within each domain; at 100 TB a
    dominant domain serializes into one window partition, so at that scale
    swap the exact rank for the hash-threshold variant (keep when
    ``h64/2^60 < quota/domain_count``) which needs no shuffle and lands
    within sampling error of the quota.
    """
    norm = sum(weights.values())
    quota = {d: int(total * w / norm) for d, w in weights.items()}
    quota_map = F.create_map(
        *[F.lit(x) for dw in quota.items() for x in dw]
    )
    w = Window.partitionBy(domain_col).orderBy(
        h64(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.filter(F.col(domain_col).isin(*[d for d, q in quota.items() if q > 0]))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota_map[F.col(domain_col)])
        .select(id_col, domain_col)
    )


def bigram_pmi(
    df: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Collocation mining: top-k adjacent token bigrams by pointwise mutual
    information, ``pmi = ln(p(ab) / (p(a) p(b)))`` with bigram probability
    over the bigram count and unigram probabilities over the token count.
    The statistic tokenizer builders and phrase-detection passes (word2vec
    style) compute over a corpus.

    Counts are exact: one explode->groupBy per granularity, both map-side
    combinable, then two joins of the bigram table against the unigram
    table. After aggregation both sides are vocabulary-sized — orders of
    magnitude smaller than the corpus — so the joins shuffle almost
    nothing; at 100 TB the unigram side still fits a broadcast for any
    real vocabulary. PMI is rounded to 6 dp to absorb cross-engine libm
    drift in ``ln``.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    # repair under-split inputs AND let the unigram/bigram branches share
    # one tokenize via ReusedExchange (without the exchange each branch
    # re-tokenizes the corpus inside its own scan stage)
    toks = (
        ensure_scan_parallelism(df)
        .select(tokens_col(text_col).alias("_t"))
        .filter(F.size("_t") > 0)
    )
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    n_tokens = uni.agg(F.sum("c_w").alias("n")).select("n")
    bi = (
        toks.filter(F.size("_t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " i -> struct(_t[i - 1] AS w1, _t[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    n_bigrams = bi.agg(F.sum("c_ab").alias("nb")).select("nb")
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_b"))
    scored = (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("nb"))
                    / ((F.col("c_a") / F.col("n")) * (F.col("c_b") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Frequency-induced vocabulary + per-group OOV coverage.

    The tokenizer-design question at corpus scale: induce the top
    ``vocab_size`` tokens by corpus frequency (ties broken by token text so
    the vocabulary is deterministic), then measure per ``group_col`` what
    fraction of running tokens the vocabulary covers — the
    coverage/OOV-rate audit run before committing a tokenizer.

    Plan shape: one token explode feeds BOTH the global frequency
    aggregation (map-side combinable; the rank window runs on the
    token-distinct aggregate, not raw tokens) and the per-group join
    against the induced vocabulary (broadcast: ``vocab_size`` rows).
    Returns ``(group, total_tokens, covered_tokens, coverage)`` with
    coverage rounded to 6 decimals.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toks = ensure_scan_parallelism(df).select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_col(text_col)).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # orderBy+limit plans as TakeOrderedAndProject: per-partition top-N then
    # a bounded merge — never a single-partition window over the whole
    # distinct-token table
    vocab = freq.orderBy(F.col("n").desc(), "tok").limit(vocab_size).select("tok")
    marked = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left"
    )
    return (
        marked.groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.coalesce("_in", F.lit(0))).alias("covered_tokens"),
        )
        .select(
            group_col,
            "total_tokens",
            "covered_tokens",
            F.round(F.col("covered_tokens") / F.col("total_tokens"), 6).alias(
                "coverage"
            ),
        )
    )


def bigram_lm_perplexity(
    df: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document perplexity under an additively-smoothed bigram LM
    trained on the corpus itself — the KenLM-style quality filter (docs
    whose bigrams surprise the corpus LM are boilerplate/garbled/outlier
    candidates), one model tier above ``unigram_logprob_score``.

    ``P(w2|w1) = (c(w1 w2) + alpha) / (c_prefix(w1) + alpha * V)`` with
    ``c_prefix`` counting w1 as a bigram prefix and ``V`` the corpus
    vocabulary size; ``perplexity = exp(-mean ln P)`` over the doc's
    bigrams, rounded to 6 dp (libm drift).

    Scale shape: one explode -> two map-side-combinable count aggregations
    (bigram, prefix); the per-doc scoring joins the doc's bigram stream
    against the aggregated (vocabulary-sized) count tables on the bigram/
    prefix keys — shuffles bounded by token occurrences, the same budget
    the corpus tokenize already paid. V and nothing else is a scalar
    broadcast; docs with < 2 tokens drop out (no bigram exists).
    """
    from zarr_datafusion_search_spark.operators.cache import tracked_persist
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toks = ensure_scan_parallelism(df).select(
        F.col(id_col), tokens_col(text_col).alias("_t")
    )
    vocab = (
        toks.select(F.explode("_t").alias("w"))
        .agg(F.countDistinct("w").cast("double").alias("v"))
    )
    # the bigram stream feeds three consumers (bigram counts, prefix
    # counts, per-doc scoring) — materialize the tokenize+explode once
    # (tracked; released via release_operator_caches())
    bi = tracked_persist(
        toks.filter(F.size("_t") >= 2)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(1, size(_t) - 1),"
                    " i -> struct(_t[i - 1] AS w1, _t[i] AS w2))"
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    logp = (
        bi.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.col("c2") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha) * F.col("v"))
            ).alias("_lp"),
        )
    )
    return logp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.exp(-F.avg("_lp")), 6).alias("perplexity"),
    )


def bpe_merge_candidates(
    df: DataFrame,
    top_n: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-training statistics: the first BPE iteration's merge
    candidates — adjacent character-pair counts over the corpus word
    frequency table, highest first.

    The classic BPE trainer is a driver-side loop over a word-count
    table; the expensive part at corpus scale is building that table and
    the pair statistics, which is exactly what distributes: one
    vocab-sized shuffle for word counts (map-side combined), a narrow
    per-word expansion into its (length-1) character 2-grams, one
    pair-sized shuffle, then TakeOrderedAndProject for the top-N (no
    global sort). Ties break on the pair string so the ranking is total.

    Each output row: ``pair`` (the two characters), ``pair_count``
    (occurrences weighted by word frequency), ``rank``. Subsequent BPE
    iterations re-run the same statistics over re-segmented symbols —
    the per-iteration cost is this operator, which is why it must not
    shuffle raw text.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    words = (
        ensure_scan_parallelism(df)
        .select(F.explode(tokens_col(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "wc",
    )
    counted = pairs.groupBy("pair").agg(F.sum("wc").alias("pair_count"))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-N +
    # bounded merge); the rank window then runs over top_n rows only, never
    # the full pair table
    top = counted.orderBy(F.col("pair_count").desc(), "pair").limit(top_n)
    return top.select(
        "pair",
        "pair_count",
        F.row_number()
        .over(Window.orderBy(F.col("pair_count").desc(), F.col("pair")))
        .cast("int")
        .alias("rank"),
    )


def hashed_linear_score(
    df: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText-shaped quality classifier scoring: hashed bag-of-words
    features through a linear model + sigmoid.

    The production pattern for corpus-scale quality filtering is a tiny
    linear classifier over hashed token features (train offline on a few
    thousand labels, score billions of documents). The *scoring* plumbing
    is what must scale and is fully real here: portable 60-bit token
    hash -> feature bucket, mean-pooled bucket weights, sigmoid — all
    built-in expressions, zero shuffles (the fold runs per row inside
    codegen, in token order for cross-engine determinism). The weight
    table is a deterministic stand-in (``w(b) = ((b*2654435761) % 997 -
    498) / 997`` — a fixed pseudo-trained vector the oracle reproduces);
    swap in learned weights as a broadcast map or a literal array without
    touching the plan shape.
    """
    from zarr_datafusion_search_spark.functions.hashing import h64

    toks = tokens_col(text_col)
    weights = F.transform(
        toks,
        lambda t: (
            ((h64(t) % n_buckets) * 2654435761 % 997 - 498) / F.lit(997.0)
        ),
    )
    margin = F.try_divide(
        F.aggregate(weights, F.lit(0.0), lambda acc, x: acc + x),
        F.size(toks).cast("double"),
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    return df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.round(margin, 6).alias("margin"),
        F.round(score, 6).alias("quality_prob"),
    )


def quantile_calibrate(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile (rank) calibration of a score column.

    Scores from different domains are not comparable (one source's 0.7 is
    another's 0.95); rank-normalizing within each group maps every
    group's distribution onto uniform [0, 1] so a single global threshold
    means the same thing everywhere — the calibration step before
    cross-domain quality filtering or mixture re-weighting.
    ``calibrated = percent_rank`` within the group, ordered by (value,
    id) so ties are deterministic.

    One shuffle on the group key. Rank-based calibration needs a total
    order per group (a window), not a percentile cutoff — but groups are
    domains (large), so the window parallelizes across groups; a single
    giant group degrades to the two-phase prefix-sum trick used by
    shard_by_token_budget if it ever matters.
    """
    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    return df.withColumn(
        "calibrated", F.round(F.percent_rank().over(w), 6)
    )


def frequent_itemset_pairs(
    df: DataFrame,
    min_support: int = 50,
    max_items_per_doc: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Frequent token co-occurrence pairs (the A-priori first join step).

    Counts unordered pairs of DISTINCT tokens co-occurring in a document,
    keeping pairs with support >= ``min_support``. Two classic guards
    make this survive scale:

    - **A-priori pruning**: only tokens that are themselves frequent
      (singleton support >= min_support) can appear in a frequent pair,
      so the token set is filtered against the (broadcast) frequent-
      singleton table BEFORE pair expansion;
    - **basket cap**: a document contributes at most
      ``max_items_per_doc`` distinct frequent tokens (kept
      deterministically in token sort order) — one pathological page
      can't emit a quadratic pair blowup.

    Pair expansion is a self zip of the per-doc sorted item array
    (i < j), all expression-level; one shuffle on the pair key.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    # amplifying stage (distinct-token explode + quadratic-in-cap pair
    # zip) fused into the scan: a single-row-group input file would
    # otherwise run it all on one core — measured 7.3 s -> 3.9 s at the
    # 10x point from this spread alone (guide: scan parallelism)
    df = ensure_scan_parallelism(df)
    items = df.select(
        F.col(id_col),
        F.array_distinct(tokens_col(text_col)).alias("_items"),
    ).select(F.col(id_col), F.explode("_items").alias("item"))
    singles = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_support)
        .select("item")
    )
    frequent_items = (
        items.join(F.broadcast(singles), "item", "left_semi")
        .groupBy(id_col)
        .agg(F.slice(F.array_sort(F.collect_list("item")), 1, max_items_per_doc).alias("_fi"))
    )
    pairs = frequent_items.select(
        F.explode(
            F.expr(
                "flatten(transform(_fi, (a, i) -> "
                "transform(slice(_fi, i + 2, size(_fi)), b -> struct(a, b))))"
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("item_a"), F.col("_p.b").alias("item_b"))
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


def normalize_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conservative text normalization (the first transform of every
    ingest pipeline): lowercase, strip ASCII control characters, collapse
    whitespace runs to single spaces, trim. Deliberately restricted to
    regex constructs Java regex and RE2 interpret identically (character
    classes and ``\\s+``), so the DuckDB oracle is the same three
    substitutions. Narrow per-row map — no shuffle, scales linearly.

    Returns the id, normalized text, and how many characters were
    removed (a cheap corruption signal: high removal ratio = binary
    junk in a text field).
    """
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[\\x00-\\x1f\\x7f]", " "),
            "\\s+",
            " ",
        )
    )
    return df.select(
        id_col,
        cleaned.alias("norm_text"),
        (F.length(text_col) - F.length(cleaned)).cast("int").alias("chars_removed"),
    )


def skipgram_pairs(
    df: DataFrame,
    window: int = 2,
    min_count: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Skip-gram (center, context) pair counts within a +-``window`` token
    neighborhood — the pair-generation pass of word2vec-style embedding
    training, and the windowed generalization of adjacent-bigram
    statistics.

    Pair lists are built per document with ``slice``+``zip_with`` (one
    offset-d alignment per distance, both directions), so the expansion
    is a narrow expression-level map: raw text never shuffles, only
    (pair, 1) partial counts do (map-side combined, vocabulary^2-bounded
    key space further cut by ``min_count``). The 4x-window amplification
    lives in the scan stage — repair input parallelism first.
    """
    from zarr_datafusion_search_spark.operators.dedup import tokens_col
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    df = ensure_scan_parallelism(df)
    t = tokens_col(text_col)
    pair_lists = []
    for d in range(1, window + 1):
        n_d = F.greatest(F.size(t) - d, F.lit(0))
        a = F.slice(t, 1, n_d)
        b = F.slice(t, 1 + d, n_d)
        pair_lists.append(
            F.zip_with(a, b, lambda x, y: F.struct(x.alias("c"), y.alias("o")))
        )
        pair_lists.append(
            F.zip_with(b, a, lambda x, y: F.struct(x.alias("c"), y.alias("o")))
        )
    pairs = df.select(
        F.explode(F.concat(*pair_lists)).alias("_p")
    ).select(F.col("_p.c").alias("center"), F.col("_p.o").alias("context"))
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def source_term_kl(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Smoothed unigram KL divergence of each group's term distribution
    from the corpus distribution — the drift score that flags a source
    whose language shifted (new crawl snapshot, injected spam, template
    takeover) before it contaminates a training mix.

    Distributions use add-0.5 smoothing over the CORPUS vocabulary V:
    ``q(t) = (c(t)+0.5)/(n+0.5V)``, ``p_g(t) = (c_g(t)+0.5)/(n_g+0.5V)``.
    The sum over all V terms factorizes so absent terms never materialize:
    for terms absent from group g, ``p_g`` is one constant ``p0_g``, so

        KL_g = sum_{t in g}[p ln p - p ln q]
             + p0_g * [(V - V_g) ln p0_g - (L - L_g)]

    where ``L = sum_t ln q(t)`` (one corpus scalar) and ``L_g`` the same
    sum over g's present terms. One shuffle on (group, term), one on term,
    broadcast scalars — never a group x vocabulary cross join, which is
    what makes this shape hold when V is 10^8.
    """
    from zarr_datafusion_search_spark.operators.dedup import tokens_col
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toks = ensure_scan_parallelism(docs).select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_col(text_col)).alias("term"),
    )
    from zarr_datafusion_search_spark.operators.cache import tracked_persist

    # vocabulary x groups sized (metadata scale, not corpus scale); feeds
    # the corpus counts AND two per-group passes — persist or the token
    # explode over the corpus runs three times
    gcounts = tracked_persist(
        toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("cg"))
    )
    # corpus counts derived from group counts: term stream aggregates once
    ccounts = gcounts.groupBy("term").agg(F.sum("cg").alias("c"))
    scal = ccounts.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c").alias("n")
    )
    # q(t) needs the corpus scalars; fold them in via broadcast
    q = ccounts.crossJoin(F.broadcast(scal)).select(
        "term",
        "v",
        "n",
        ((F.col("c") + 0.5) / (F.col("n") + 0.5 * F.col("v"))).alias("qt"),
    )
    lsum = q.agg(
        F.sum(F.log("qt")).alias("l_all"), F.first("v").alias("v"),
        F.first("n").alias("n"),
    )
    joined = gcounts.join(q.select("term", "qt"), "term")
    per_group = joined.groupBy("grp").agg(
        F.sum("cg").alias("ng"),
        F.count(F.lit(1)).alias("vg"),
        F.sum(F.log("qt")).alias("l_g"),
    )
    present = joined.join(
        per_group.select("grp", "ng"), "grp"
    ).crossJoin(F.broadcast(lsum.select("v", "n")))
    # partition-order-insensitive present-terms sum (ADVICE r04 #4): each
    # term's contribution — itself bitwise-deterministic on both engines —
    # is rounded to fixed 1e-12 precision and summed as an exact long, so
    # the 6dp-rounded KL can never flip on a rounding boundary with the
    # combine order of the double partials. Headroom: |contrib| <= ~40
    # per term (p <= 1, |ln p/q| bounded by the smoothing floor) -> 4e13
    # scaled, and the group total is KL-bounded, so the long sum is exact
    # at any vocabulary size. The l_all/l_g log-sums below stay plain
    # double sums: their order wobble (<= ~1e-5 absolute at V = 1e5) is
    # damped by the p0_g ~ 1e-5 multiplier to < 1e-9 on the output —
    # thousands of ulps below the 6dp boundary — while a fixed-point long
    # would overflow exactness near V ~ 1e6.
    present_term = present.select(
        "grp",
        F.round(
            ((F.col("cg") + 0.5) / (F.col("ng") + 0.5 * F.col("v")))
            * (
                F.log((F.col("cg") + 0.5) / (F.col("ng") + 0.5 * F.col("v")))
                - F.log("qt")
            )
            * 1e12,
            0,
        )
        .cast("long")
        .alias("contrib_fp"),
    ).groupBy("grp").agg(
        (F.sum("contrib_fp") / F.lit(1e12)).alias("kl_present")
    )
    out = (
        per_group.join(present_term, "grp")
        .crossJoin(F.broadcast(lsum))
        .select(
            F.col("grp").alias(group_col),
            F.col("ng").alias("n_tokens"),
            F.col("vg").alias("n_terms"),
            F.round(
                F.col("kl_present")
                + (F.lit(0.5) / (F.col("ng") + 0.5 * F.col("v")))
                * (
                    (F.col("v") - F.col("vg"))
                    * F.log(F.lit(0.5) / (F.col("ng") + 0.5 * F.col("v")))
                    - (F.col("l_all") - F.col("l_g"))
                ),
                6,
            ).alias("kl_divergence"),
        )
    )
    return out


def vocab_growth_curve(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heaps'-law vocabulary growth: for each document (in ``id_col``
    order), the cumulative token count and cumulative DISTINCT vocabulary
    size after ingesting that document — the saturation curve a corpus
    builder reads to decide whether more of a source still adds new
    language.

    No sequential scan: a term's contribution to the curve is fully
    determined by its FIRST occurrence (min doc_id per term — one shuffle
    on term), so the curve is a prefix sum over per-doc (n_tokens,
    n_first_occurrences). The prefix sum itself uses the two-phase
    range-partitioned cumsum (local cumsum + broadcast partition offsets)
    from :mod:`..operators.packing` — never a single-task global window.
    """
    from zarr_datafusion_search_spark.operators.cache import tracked_persist
    from zarr_datafusion_search_spark.operators.dedup import tokens_col
    from zarr_datafusion_search_spark.operators.packing import global_cumsum
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toks = ensure_scan_parallelism(docs).select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
    )
    # ONE tokenize+shuffle pass: the (doc, term) count relation feeds both
    # the per-doc token totals and the first-occurrence reduction —
    # without it the corpus-sized explode runs twice. Persisted at
    # (doc, term) granularity (bounded by distinct-term occurrences, far
    # below the raw token stream).
    dtc = tracked_persist(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc_tokens = dtc.groupBy(id_col).agg(F.sum("c").alias("n_tokens"))
    first_seen = dtc.groupBy("term").agg(F.min(id_col).alias(id_col))
    new_terms = first_seen.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_new_terms")
    )
    per_doc = per_doc_tokens.join(new_terms, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_new_terms", F.lit(0)).alias("n_new_terms"),
    )
    cum = global_cumsum(per_doc, id_col, ["n_tokens", "n_new_terms"])
    return cum.select(
        id_col,
        F.col("cum_n_tokens").alias("cum_tokens"),
        F.col("cum_n_new_terms").alias("cum_vocab"),
    )


def crosslingual_align_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n: int = 3,
    max_df: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Translation-pair candidate mining: pairs of documents in DIFFERENT
    languages sharing at least ``min_shared`` distinct RARE word
    ``n``-grams (global document frequency <= ``max_df``) — names,
    numbers, codes, and quoted phrases survive translation verbatim, so
    shared rare anchors are the standard cheap signal for parallel-corpus
    mining before an expensive aligner runs. n-grams (not unigrams)
    because a single shared word is weak evidence while a shared rare
    trigram is nearly unique.

    Same inverted-index discipline as the n-gram dedup family: the df cap
    is applied BEFORE the self-join, bounding candidates by
    ``max_df^2 x n_rare_anchors`` — an n-gram appearing everywhere never
    generates pairs. Pairs are canonical (``doc_a < doc_b``).
    """
    from zarr_datafusion_search_spark.operators.cache import tracked_persist
    from zarr_datafusion_search_spark.operators.dedup import (
        tokens_col,
        word_ngrams_col,
    )

    toks = docs.select(
        F.col(id_col), F.col(lang_col), tokens_col(text_col).alias("_toks")
    ).select(
        id_col,
        lang_col,
        F.explode(
            F.array_distinct(word_ngrams_col(F.col("_toks"), n))
        ).alias("term"),
    )
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    rare = tracked_persist(
        toks.join(dfreq.filter(F.col("_df") <= max_df), "term").select(
            id_col, lang_col, "term"
        )
    )
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (F.col(f"a.{lang_col}") != F.col(f"b.{lang_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col(f"a.{lang_col}").alias("lang_a"),
            F.col(f"b.{lang_col}").alias("lang_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def span_corruption_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 5,
    sentinel: str = "<extra_id_0>",
) -> DataFrame:
    """T5-style span-corruption training pairs: for each document with
    more than ``2 * span_len`` tokens, mask one contiguous ``span_len``
    token span (replaced by the sentinel) and emit (input_text,
    target_text). The span start is the portable hash of the doc id
    modulo the valid range — deterministic, reproducible, NO RNG, so the
    pair set is identical across engines, runs, and partitionings (the
    property per-partition ``rand()`` cannot give you).

    Pure built-in array expressions (slice/concat/array_join); zero
    Python in the row path.
    """
    from zarr_datafusion_search_spark.functions.hashing import h64
    from zarr_datafusion_search_spark.operators.dedup import tokens_col

    t = tokens_col(text_col)
    base = docs.select(
        F.col(id_col), t.alias("t"), F.size(t).alias("n")
    ).filter(F.col("n") > 2 * span_len)
    # 0-based span start in [0, n - span_len]
    start = h64(F.col(id_col).cast("string")) % (
        F.col("n") - F.lit(span_len) + 1
    )
    return base.select(
        id_col,
        start.cast("int").alias("span_start"),
        F.array_join(
            F.concat(
                F.slice(F.col("t"), F.lit(1), start.cast("int")),
                F.array(F.lit(sentinel)),
                F.slice(
                    F.col("t"),
                    (start + span_len + 1).cast("int"),
                    (F.col("n") - start - span_len).cast("int"),
                ),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.slice(F.col("t"), (start + 1).cast("int"), span_len), " "
        ).alias("target_text"),
    )


def source_ngram_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-group n-gram diversity: distinct n-grams / total n-grams — the
    self-repetition audit that separates a genuinely varied source from
    one stamping out templates (low ratio = the same trigrams over and
    over, a proxy for low-entropy generation or boilerplate farms).

    The distinct shuffles ``xxhash64(gram)`` LONGS, not the ~80x-amplified
    gram strings: the string is built and hashed inside the scan-stage
    codegen and dropped before the exchange, so every shuffle row is a
    fixed (group, 8-byte hash, 8-byte count) triple — measured 16.4 s ->
    under the 2x gate at 100x, where the string shuffle was the entire
    over-gate cost. Distinct-counting hashes instead of strings undercounts
    only on a 64-bit collision (P ~ n^2/2^65; ~7e-5 for 50M distinct grams
    — far below any quality-audit signal); the DuckDB oracle counts the
    exact strings, so a collision would surface as a hash mismatch rather
    than hide. TRIAGE NOTE (ADVICE r8): if this query's oracle compare
    ever goes red with the Spark distinct count exactly N lower than the
    oracle's, that IS the collision mode — it means N colliding gram
    pairs, not a logic bug; verify by re-counting distinct on the exact
    strings before touching the plan. Two-step aggregation instead of
    ``countDistinct`` keeps the
    plan to ONE data-sized exchange with map-side combine (the
    distinct-rewrite would Expand every row 2x pre-shuffle): first
    (group, gram_h) partial counts, then a per-group rollup over the
    already-distinct relation. The ~80x row amplification of the gram
    explode runs in the scan stage, so an under-split input file
    serializes it — repair parallelism first.
    """
    from zarr_datafusion_search_spark.operators.dedup import (
        tokens_col,
        word_ngrams_col,
    )
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    docs = ensure_scan_parallelism(docs)
    g = (
        docs.select(
            F.col(group_col).alias("grp"), tokens_col(text_col).alias("_toks")
        )
        .select(
            "grp", F.explode(word_ngrams_col(F.col("_toks"), n)).alias("gram")
        )
        .select("grp", F.xxhash64("gram").alias("gram_h"))
    )
    per_gram = g.groupBy("grp", "gram_h").agg(F.count(F.lit(1)).alias("_c"))
    return (
        per_gram.groupBy("grp")
        .agg(
            F.sum("_c").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
        .select(
            F.col("grp").alias(group_col),
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams") / F.col("total_ngrams"), 6
            ).alias("diversity"),
        )
    )


def char_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic mojibake / binary-dump / single-char-spam detector: natural
    English runs ~4 bits, base64 blobs ~6, 'aaaa...' near 0.

    Entropy factorizes as ``log2(n) - (1/n) * sum_c k_c log2 k_c`` over
    per-char counts, so the whole thing is array expressions on the
    grouped character counts — computed per row from ONE aggregate over
    the doc's own characters, no corpus-wide shuffle at all (each row is
    independent; Catalyst keeps it in whole-stage codegen).
    """
    # counts per distinct char: sort the char array, then reduce into
    # run-lengths via aggregate (sorted => equal chars adjacent). Empty
    # elements are dropped: split('', '') yields [''], and an ''-char
    # would match the fold's '' initial state while run = 0, turning the
    # 0 * log2(0) term NULL
    chars = F.array_sort(
        F.filter(
            F.split(F.col(text_col), ""), lambda c: F.length(c) > 0
        )
    )
    n = F.size(chars)
    # sum over runs of k*log2(k): fold carrying (prev_char, run_len, acc)
    fold = F.aggregate(
        chars,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
        ),
        lambda acc, c: F.struct(
            c.alias("prev"),
            F.when(c == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(
                c == acc["prev"],
                # moving a run from k to k+1: acc += (k+1)log2(k+1)-k log2 k
                acc["acc"]
                + (acc["run"] + 1) * F.log2(acc["run"] + 1)
                - acc["run"] * F.log2(acc["run"]),
            )
            .otherwise(acc["acc"])
            .alias("acc"),
        ),
        lambda acc: acc["acc"],
    )
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_chars_text"),
        F.when(n > 0, F.round(F.log2(n) - fold / n, 6))
        .otherwise(F.lit(0.0))
        .alias("entropy_bits"),
    )


def neardup_editdist_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rel_dist: float = 0.4,
) -> DataFrame:
    """Precision audit for a near-dup pair relation: join the texts back
    and compute the exact Levenshtein distance per pair, flagging pairs
    whose distance exceeds ``max_rel_dist`` of the longer text — the
    false-positive check run on LSH output before mass deletion (MinHash
    approximates SET similarity; edit distance catches the
    shuffled-bag-of-shingles false positive class).

    Cost is O(len_a * len_b) per PAIR — bounded by the (already
    LSH-reduced) pair count, never corpus-quadratic. The join is two
    broadcast-or-shuffle equi-joins on doc id; levenshtein itself is a
    JVM built-in both engines implement identically (integer-exact)."""
    ta = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta")
    )
    tb = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb")
    )
    dist = F.levenshtein("_ta", "_tb")
    longer = F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_distance"),
            F.round(dist / longer.cast("double"), 6).alias("rel_distance"),
            (dist <= F.round(longer * max_rel_dist).cast("int")).alias(
                "verified"
            ),
        )
    )


def source_vocab_similarity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise cosine similarity between per-group unigram tf-idf
    vectors — the "which sources speak the same language" matrix that
    complements :func:`source_term_kl` (KL says WHO drifted from the
    corpus; this says which groups drift TOGETHER, the input to
    mixture-weight grouping decisions).

    Plan: one (group, term) count shuffle; idf from the term-level
    aggregate of the same relation; norms per group; the pair dot product
    is a self-join ON TERM (bounded by vocabulary x groups-per-term, never
    corpus-sized), then one (group_a, group_b) aggregation. Canonical
    pairs (a < b), 6dp rounding.
    """
    from zarr_datafusion_search_spark.operators.cache import tracked_persist
    from zarr_datafusion_search_spark.operators.dedup import tokens_col
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    toks = ensure_scan_parallelism(docs).select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_col(text_col)).alias("term"),
    )
    gc = tracked_persist(
        toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    n_groups = gc.select("grp").distinct().agg(
        F.count(F.lit(1)).alias("ng")
    )
    dfc = gc.groupBy("term").agg(F.count(F.lit(1)).alias("gdf"))
    w = tracked_persist(
        gc.join(dfc, "term")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "grp",
            "term",
            (
                F.col("tf")
                * (
                    F.log(
                        (1.0 + F.col("ng")) / (1.0 + F.col("gdf"))
                    )
                    + 1.0
                )
            ).alias("w"),
        )
    )
    norms = w.groupBy("grp").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(
            F.col("a.grp").alias("group_a"), F.col("b.grp").alias("group_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("grp").alias("group_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("grp").alias("group_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "group_a")
        .join(nb, "group_b")
        .select(
            "group_a",
            "group_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )


def label_consistency_audit(
    docs: DataFrame, id_col: str = "doc_id", lang_col: str = "lang"
) -> DataFrame:
    """Audit each document's LABELED language against the marker-token
    evidence in its text — the mislabel detector a multilingual corpus
    runs before trusting provenance metadata (wrong labels poison both
    mixing ratios and tokenizer training).

    Per doc: the marker count for its own label, the best-scoring OTHER
    language and its count, and ``is_consistent`` = own >= best other.
    Labels outside the marker set (e.g. ``zh`` with a Latin-marker table)
    and NULL labels get ``label_supported = false`` and NULL consistency
    — reported, not silently dropped (a NULL label additionally gets NULL
    best-other columns, since "other than nothing" is undefined; the
    oracle replays both conventions). The argmax-with-priority tie-break
    deliberately mirrors :func:`language_id` (the two must stay in sync —
    both are replayed exactly by DuckDB oracles). Pure per-row array
    expressions over one scan: no shuffle.
    """
    langs = list(LANG_MARKERS)
    scored = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        *[_marker_score(lang).alias(f"s_{lang}") for lang in langs],
    )
    own = F.lit(None).cast("int")
    for lang in langs:
        own = F.when(F.col("lang") == lang, F.col(f"s_{lang}")).otherwise(own)
    # best other: CASE-chain argmax excluding the labeled language, first
    # lang in priority order wins ties (same convention as language_id)
    best_name, best_score = F.lit(None).cast("string"), F.lit(None).cast("int")
    for lang in reversed(langs):
        is_best = F.col("lang") != lang
        for other in langs:
            if other == lang:
                continue
            cmp_strict = langs.index(other) < langs.index(lang)
            other_s = F.when(F.col("lang") == other, F.lit(-1)).otherwise(
                F.col(f"s_{other}")
            )
            is_best = is_best & (
                F.col(f"s_{lang}") > other_s
                if cmp_strict
                else F.col(f"s_{lang}") >= other_s
            )
        best_name = F.when(is_best, F.lit(lang)).otherwise(best_name)
        best_score = F.when(is_best, F.col(f"s_{lang}")).otherwise(best_score)
    supported = F.coalesce(F.col("lang").isin(langs), F.lit(False))
    return scored.select(
        id_col,
        "lang",
        supported.alias("label_supported"),
        F.when(supported, own).alias("own_score"),
        best_name.alias("best_other_lang"),
        best_score.alias("best_other_score"),
        F.when(supported, own >= best_score).alias("is_consistent"),
    )


def length_percentile_trim(
    docs: DataFrame,
    group_col: str = "source",
    length_col: str = "n_chars",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group length-percentile trimming report: each group's exact
    interpolated [lo, hi] length quantiles and how many documents a trim
    to that band would drop on each side — the outlier gate (truncated
    fragments below, concatenation accidents above) a corpus applies per
    SOURCE, because a 90th-percentile book chapter and a 90th-percentile
    tweet are different lengths.

    One group-by shuffle computes the exact percentiles (groups-sized
    relation, broadcast back), one more counts the trim decisions — the
    corpus itself never reshuffles. Percentiles are Spark's exact
    interpolated ``percentile``, which DuckDB's ``quantile_cont``
    reproduces bit-for-bit (the established ``percentiles`` parity).
    """
    bounds = docs.groupBy(group_col).agg(
        F.expr(f"percentile({length_col}, {lo})").alias("_plo"),
        F.expr(f"percentile({length_col}, {hi})").alias("_phi"),
    )
    joined = docs.join(F.broadcast(bounds), group_col)
    return (
        joined.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.first("_plo"), 6).alias("p_lo"),
            F.round(F.first("_phi"), 6).alias("p_hi"),
            F.sum((F.col(length_col) < F.col("_plo")).cast("long")).alias(
                "n_below"
            ),
            F.sum((F.col(length_col) > F.col("_phi")).cast("long")).alias(
                "n_above"
            ),
        )
        .select(
            group_col,
            "n_docs",
            "p_lo",
            "p_hi",
            "n_below",
            "n_above",
            F.round(
                (F.col("n_docs") - F.col("n_below") - F.col("n_above"))
                / F.col("n_docs"),
                6,
            ).alias("keep_rate"),
        )
    )


def _bpe_merge_fold(sym_col, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) symbol pairs within
    one symbol array — the per-word BPE merge step as a JVM array fold
    (a freshly merged symbol never re-matches as the left side, the
    standard greedy convention)."""
    merged = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Multi-iteration BPE tokenizer training: the ranked merge-rule table
    ``(merge_rank, lhs, rhs, pair_count)`` for the ``n_merges`` most
    frequent adjacent symbol pairs, each iteration re-counting over the
    PREVIOUS iteration's merged vocabulary (this is what distinguishes
    real BPE training from the single-iteration candidate statistics of
    :func:`bpe_merge_candidates`).

    Scale shape: the corpus is touched ONCE (tokenize + word-frequency
    shuffle); every iteration after that runs over the VOCABULARY-sized
    (word, freq) relation — pair counting is an explode + map-side-
    combinable aggregation, the argmax is a 1-row collect (bounded by
    construction), and the merge applies as a JVM array fold. Each round
    eagerly localCheckpoints the vocab relation so plan depth stays
    constant across iterations (the same device as PageRank/Lloyd).
    Ties break deterministically on (count DESC, lhs, rhs) — replayed
    exactly by the DuckDB oracle's unrolled iteration chain.
    """
    from zarr_datafusion_search_spark.operators.scanning import (
        ensure_scan_parallelism,
    )

    spark = docs.sparkSession
    words = (
        ensure_scan_parallelism(docs)
        .select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.filter(
                F.split("w", ""), lambda c: F.length(c) > 0
            ).alias("syms"),
            "freq",
        )
        .transform(_lb, eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.expr("slice(syms, 1, size(syms) - 1)"),
                        F.expr("slice(syms, 2, size(syms) - 1)"),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((rank, a, b, n))
        words = words.select(
            _bpe_merge_fold(F.col("syms"), a, b).alias("syms"), "freq"
        ).transform(_lb, eager=True, iterative=True)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )
