"""Text-analysis operators for LLM data pipelines.

All pure column expressions (whole-stage codegen; no Python in the hot
path). Designed to run as a single narrow projection pass over a 100 TB
``documents`` table — none of these shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword signals for the n-gram/stopword-ratio
# heuristic. Real pipelines would load fastText-style models via a pandas
# UDF; the heuristic keeps language ID JVM-side and dependency-free.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que"],
    "es": ["el", "la", "los", "de", "que", "es", "un", "una"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

# BPE-ish token estimate: words, numbers, or single non-space symbols
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count(text_col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(text_col), r"\s+"))


def token_count_bpe(text_col: Column) -> Column:
    """BPE-ish token estimate via regexp extraction (regexp_count avoids
    materializing the token array)."""
    return F.regexp_count(text_col, F.lit(TOKEN_REGEX))


def stopword_ratio(text_col: Column, lang: str) -> Column:
    toks = F.split(F.lower(text_col), r"\s+")
    markers = _LANG_MARKERS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def language_id(text_col: Column) -> Column:
    """Argmax language over the marker scores ('und' when all zero).

    This is an honest stopword heuristic (JVM-side, zero-shuffle) —
    adequate for coarse routing of the fixture corpus. Production
    upgrade path, same call site: a fastText-style character-n-gram
    classifier as an Arrow-batched ``pandas_udf`` (model broadcast once
    per executor, ~KB-scale; the column contract — text in, label out —
    is unchanged, so swapping implementations touches nothing
    downstream)."""
    scores = [
        (lang, stopword_ratio(text_col, lang)) for lang in _LANG_MARKERS
    ]
    best_score = F.greatest(*[s for _, s in scores])
    result = F.lit("und")
    # reversed: earlier languages win ties (deterministic)
    for lang, s in reversed(scores):
        result = F.when((s == best_score) & (best_score > 0), F.lit(lang)) \
            .otherwise(result)
    return result


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append standard quality-scoring features as columns.

    - n_chars / n_tokens / mean word length
    - punctuation ratio, digit ratio, uppercase ratio
    - repetition: distinct-token fraction
    """
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    n_tok = F.size(toks)
    return (
        df.withColumn("q_n_chars", F.length(t))
        .withColumn("q_n_tokens", n_tok)
        .withColumn(
            "q_mean_word_len",
            F.round((F.length(t) - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)), 4),
        )
        .withColumn(
            "q_punct_ratio",
            F.round(
                F.length(F.regexp_replace(t, r"[^\p{Punct}]", ""))
                / F.greatest(F.length(t), F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "q_digit_ratio",
            F.round(
                F.length(F.regexp_replace(t, r"[^0-9]", ""))
                / F.greatest(F.length(t), F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "q_upper_ratio",
            F.round(
                F.length(F.regexp_replace(t, r"[^A-Z]", ""))
                / F.greatest(F.length(t), F.lit(1)),
                4,
            ),
        )
        .withColumn(
            "q_distinct_token_frac",
            F.round(
                F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 4
            ),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single [0,1] quality score from the feature columns (simple linear
    blend; pipelines would tune weights)."""
    feats = quality_features(df, text_col)
    length_ok = F.when(
        (F.col("q_n_tokens") >= 10) & (F.col("q_n_tokens") <= 100000), 1.0
    ).otherwise(0.3)
    score = (
        0.4 * length_ok
        + 0.3 * F.least(F.col("q_distinct_token_frac") * 2, F.lit(1.0))
        + 0.3 * (1 - F.least(F.col("q_punct_ratio") * 5, F.lit(1.0)))
    )
    return feats.withColumn("quality_score", F.round(score, 4))


def doc_fingerprint(text_col: Column) -> Column:
    """64-bit content fingerprint (xxhash64 of normalized text) — the
    cheap exact-dedup key. Normalization: lowercase, collapse whitespace."""
    normalized = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    return F.xxhash64(normalized)


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    hash_mode: str = "portable",
) -> DataFrame:
    """TRUE winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD 2003) — the plagiarism/MOSS-style selection rule
    :func:`rolling_hashes` (fixed-stride sampling) approximates:

    - k-char gram hashes at stride 1;
    - from every window of ``window`` consecutive gram hashes select
      the MINIMUM, rightmost position on ties (the paper's
      deterministic tie rule);
    - the document's fingerprint set is the distinct selected
      (position, hash) pairs.

    The winnowing guarantee: any substring match of length >=
    ``window + k − 1`` chars contributes at least one SHARED selected
    fingerprint, while expected density is only ``2/(window+1)`` of
    the grams — sampling with a detection floor, which fixed-stride
    sampling cannot promise (two copies of the same text at different
    offsets sample different grams).

    Scale shape: ZERO shuffle — gram hashing and the window-min scan
    are per-row array expressions (O(n·window) JVM work per doc);
    the output explodes only the selected ~2n/window fingerprints.
    ``hash_mode='portable'`` hashes grams md5/60-bit so a SQL engine
    replays selection exactly (the twin path); ``'native'`` uses
    xxhash64. Returns ``(id_col, pos, fp)`` — pos is the 1-based gram
    position of each selected fingerprint.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if window < 1:
        raise ValueError("window must be >= 1")
    if hash_mode not in ("portable", "native"):
        raise ValueError("hash_mode must be 'portable' or 'native'")
    t = F.col(text_col)
    n = F.length(t)
    gram = (lambda i: F.conv(F.substring(F.md5(t.substr(i, F.lit(k))),
                                         1, 15), 16, 10).cast("long")) \
        if hash_mode == "portable" else \
        (lambda i: F.xxhash64(t.substr(i, F.lit(k))))
    w = int(window)
    # sequence(1, x<1) counts DOWN in Spark (the span_dedup trap), and
    # Catalyst's inferred-from-Generate predicate can evaluate these
    # expressions BEFORE the row filter below — every array expr must
    # be total over short docs, not rely on the filter
    hashes = F.when(
        n >= k + w - 1,
        F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: gram(i)),
    ).otherwise(F.expr("cast(array() as array<bigint>)"))
    # let-bind the (hash, -pos) struct array built ONCE per doc, then
    # per window start j pick the minimum struct over slice(ss, j, w)
    # = min hash, RIGHTMOST position on ties; distinct collapses
    # adjacent windows selecting the same gram. (The structs used to be
    # re-allocated inside every window — O(n·w) named_struct + sequence
    # allocations per doc; slicing the prebuilt array copies w refs and
    # compares, no allocation — measured 2.3x on the selection stage.
    # The minima, and therefore the selected fingerprints, are
    # identical.)
    picks = F.expr(
        f"""transform(array(transform(__gh, (h, i) ->
              named_struct('h', h, 'np', -(i + 1)))),
            ss -> if(size(ss) < {w},
              cast(array() as array<struct<h: bigint, np: int>>),
              array_distinct(
                transform(sequence(1, size(ss) - {w - 1}), j ->
                  array_min(slice(ss, j, {w}))))))[0]""")
    # single-row-group fixture files scan as ONE task, and this
    # operator is map-only (zero shuffle) — without a spread the whole
    # gram-hash + window-min pass runs single-threaded (measured 31 s →
    # ~3 s on the sf0.1 decontam gate at 32 cores). No-op at warehouse
    # scale where scans carry more partitions than cores.
    from deltalake_spark.operators.dedup import spread_narrow_input

    base = spread_narrow_input(df.filter(n >= k + w - 1)).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias(text_col))
    # explode_OUTER, then drop the (never-produced) null rows on the
    # generated attribute: a plain explode makes Catalyst's
    # InferFiltersFromGenerate synthesize `size(picks) > 0 AND
    # isnotnull(picks)` and push the FULL selection expression below
    # the spread exchange onto the single-task scan — the whole winnow
    # ran once on 1 core in that filter and again (parallel) in the
    # projection (measured: two 9 s single-task stages per gate run).
    # The rule skips outer generates; surviving docs always select >= 1
    # fingerprint (the row filter guarantees one full window), so the
    # null-row filter never drops anything and results are identical.
    return (
        base.withColumn("__gh", hashes)
        .withColumn("__fp", picks)
        .select("__id", F.explode_outer("__fp").alias("__s"))
        .filter(F.col("__s").isNotNull())
        .select(
            F.col("__id").alias(id_col),
            (-F.col("__s.np")).cast("long").alias("pos"),
            F.col("__s.h").alias("fp"),
        )
    )


def rolling_hashes(text_col: Column, *, window: int = 16) -> Column:
    """Array of rolling window hashes (winnowing-style fingerprints) for
    substring-level duplicate detection, computed JVM-side."""
    n = F.length(text_col)
    positions = F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1)),
                           F.lit(window // 2))
    return F.transform(
        positions, lambda i: F.xxhash64(text_col.substr(i, F.lit(window)))
    )


def unicode_normalize(text_col: Column, *, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) as an Arrow-batched
    pandas UDF — Spark has no normalization builtin, and mojibake /
    decomposed sequences are a standard web-corpus cleanup step before
    dedup or tokenization (the same grapheme must hash identically).
    Map-only, per-partition; nulls pass through."""
    import unicodedata

    import pandas  # noqa: F401 — pandas_udf resolves the hint by name
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def norm(s: pandas.Series) -> pandas.Series:
        return s.map(lambda t: unicodedata.normalize(form, t)
                     if t is not None else None)

    # annotations are evaluated eagerly here (no `from __future__`
    # string-hint indirection for the UDF signature)
    norm.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    return pandas_udf(norm, "string")(text_col)


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_cols: list,
    max_distance: int = 2,
) -> DataFrame:
    """Blocked fuzzy matching: pairs of rows within the same block whose
    ``text_col`` values are within ``max_distance`` Levenshtein edits —
    the classic record-linkage / fuzzy-dedup primitive (names,
    addresses, titles).

    Scale shape: NEVER all-pairs — the equi-join on ``block_cols``
    bounds candidates to within-block pairs (pick blocks like
    normalized prefixes / phonetic keys so true matches share one);
    the JVM ``levenshtein`` evaluates inside the join's codegen stage.
    One block-keyed shuffle. Returns
    ``(id_a, id_b, text_a, text_b, distance)`` with ``id_a < id_b``.
    """
    left = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    keys = [f"__b{i}" for i in range(len(block_cols))]
    return (
        left.join(right, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance",
                    F.levenshtein(F.col("text_a"), F.col("text_b")))
        .filter(F.col("distance") <= max_distance)
        .drop(*keys)
    )


def jaro_winkler(s1: str, s2: str, *, prefix_weight: float = 0.1,
                 boost_threshold: float = 0.7) -> float:
    """Jaro–Winkler similarity, standard definition (Winkler prefix
    bonus of up to 4 chars applied when the Jaro score exceeds the 0.7
    boost threshold). Semantics verified pair-for-pair against
    DuckDB's ``jaro_winkler_similarity`` over a 3000-case fuzz — the
    one spec ambiguity (two empty strings) follows DuckDB: 0.0."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - md), min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if j > boost_threshold:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        j += pl * prefix_weight * (1 - j)
    return j


def _jaro_winkler_batch_ascii(a_list, b_list):
    """Vectorized Jaro–Winkler over a batch of ASCII string pairs —
    numpy re-implementation of :func:`jaro_winkler` (same greedy
    smallest-j window matching, same transposition count, same 0.7
    boost / 4-char prefix rule), looping over character POSITIONS
    (≤ max_len × window ops on whole-batch vectors) instead of rows.
    ~20× the scalar throughput on the linkage gates' name batches.

    Raises ``UnicodeEncodeError`` on non-ASCII input — callers fall
    back to the scalar loop for that batch. Parity is pinned by
    tests (scalar fuzz + the DuckDB jaro_winkler_similarity fuzz).
    """
    import numpy as np

    n = len(a_list)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    l1 = np.fromiter((len(x) for x in a_list), count=n, dtype=np.int64)
    l2 = np.fromiter((len(x) for x in b_list), count=n, dtype=np.int64)
    W = int(max(1, l1.max(), l2.max()))
    A = np.array(a_list, dtype=f"S{W}").view(np.uint8).reshape(n, W)
    B = np.array(b_list, dtype=f"S{W}").view(np.uint8).reshape(n, W)

    eq = (l1 == l2) & (A == B).all(axis=1)
    out[eq & (l1 > 0)] = 1.0
    valid = (l1 > 0) & (l2 > 0) & ~eq
    if not valid.any():
        return out

    md = np.maximum(l1, l2) // 2 - 1  # can be -1: empty window
    md_max = int(max(md.max(), 0))
    m1 = np.zeros((n, W), dtype=bool)
    m2 = np.zeros((n, W), dtype=bool)
    m = np.zeros(n, dtype=np.int64)
    lo_all = np.maximum(0, np.arange(W)[:, None] - md[None, :])
    for i in range(int(l1[valid].max())):
        active = valid & (i < l1)
        if not active.any():
            continue
        unmatched = active.copy()
        lo = lo_all[i]
        hi = np.minimum(l2, i + md + 1)  # exclusive
        for j in range(max(0, i - md_max), min(W, i + md_max + 1)):
            if not unmatched.any():
                break
            cand = (unmatched & (j >= lo) & (j < hi)
                    & ~m2[:, j] & (A[:, i] == B[:, j]))
            if cand.any():
                m2[cand, j] = True
                m1[cand, i] = True
                m[cand] += 1
                unmatched &= ~cand
    has = valid & (m > 0)
    if has.any():
        # k-th matched char of A vs k-th matched char of B: nonzero is
        # (row, pos)-ordered and both sides match m[row] times, so the
        # flattened sequences align k-for-k
        r1, p1 = np.nonzero(m1)
        r2, p2 = np.nonzero(m2)
        diff = A[r1, p1] != B[r2, p2]
        t = np.bincount(r1[diff], minlength=n) // 2
        ms = m.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            j_sim = (ms / l1 + ms / l2 + (ms - t) / ms) / 3.0
        j_sim[~has] = 0.0
        P = min(4, W)
        pos = np.arange(P)[None, :]
        pref_eq = ((A[:, :P] == B[:, :P])
                   & (pos < l1[:, None]) & (pos < l2[:, None]))
        pl = np.cumprod(pref_eq, axis=1).sum(axis=1)
        boosted = j_sim + pl * 0.1 * (1.0 - j_sim)
        out[has] = np.where(j_sim[has] > 0.7, boosted[has], j_sim[has])
    return out


def jaro_winkler_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_cols: list,
    min_similarity: float = 0.9,
) -> DataFrame:
    """Blocked Jaro–Winkler record linkage: within-block pairs whose
    similarity is ≥ ``min_similarity``. Same NEVER-all-pairs shape as
    :func:`edit_distance_pairs` — the block equi-join bounds the
    candidate set — but the measure is position-tolerant JW, which
    catches transposition typos Levenshtein over-penalizes. Spark has
    no JW builtin, so the score runs in an Arrow-batched pandas UDF
    OVER THE CANDIDATE PAIRS ONLY (post-join, post-blocking — the
    Python touchpoint sees the bounded pair stream, never N²).
    Returns ``(id_a, id_b, text_a, text_b, similarity)``."""
    import pandas  # noqa: F401 — pandas_udf resolves the hint by name
    from pyspark.sql.functions import pandas_udf

    def score(a: "pandas.Series", b: "pandas.Series") -> "pandas.Series":
        import numpy as np
        import pandas as pd

        mask = a.notna() & b.notna()
        av = a[mask].tolist()
        bv = b[mask].tolist()
        try:
            vals = _jaro_winkler_batch_ascii(av, bv)
        except UnicodeEncodeError:
            # non-ASCII batch: scalar path (identical semantics)
            vals = np.array([jaro_winkler(x, y) for x, y in zip(av, bv)],
                            dtype=np.float64)
        out = pd.Series(np.full(len(a), np.nan), index=a.index,
                        dtype="float64")
        out[mask] = vals
        return out

    import pandas as pd

    score.__annotations__ = {"a": pd.Series, "b": pd.Series,
                             "return": pd.Series}
    # asNondeterministic is an OPTIMIZER FENCE, not a semantics
    # statement: without it Catalyst pushes the similarity filter
    # (and a duplicate ArrowEvalPython) below the spreading exchange,
    # so the scorer runs TWICE at file-split parallelism (measured on
    # the sf0.1 golden gate: 2x 2.5M evals on 2 cores)
    jw_udf = pandas_udf(score, "double").asNondeterministic()

    left = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    keys = [f"__b{i}" for i in range(len(block_cols))]
    cand = left.join(right, keys).filter(F.col("id_a") < F.col("id_b"))
    # spread the candidate stream before the Python scorer: a
    # broadcast block join preserves the INPUT file partitioning, so
    # without this the Arrow UDF runs at file-split parallelism (2
    # cores on a 2-file table) no matter how wide the cluster is
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    return (
        cand
        .withColumn("similarity",
                    jw_udf(F.col("text_a"), F.col("text_b")))
        .filter(F.col("similarity") >= min_similarity)
        .drop(*keys)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    window: int = 3,
    max_distance: int = 2,
) -> DataFrame:
    """Sorted-neighborhood record linkage: order rows by ``text_col``
    and compare each row with its next ``window`` neighbors — the
    blocking-free alternative when no good block key exists (catches
    near-matches blocking splits apart, misses ones that sort far
    apart; run both and union for recall).

    Scale shape: a naive ``lead() OVER (ORDER BY ...)`` (no PARTITION
    BY) funnels the whole table through ONE partition. Instead:
    range-repartition on the sort key, compute leads PARTITION-LOCALLY,
    then close the seams with a second pass over only the first/last
    ``window`` rows of each partition (``<= 2*window*partitions`` rows,
    driver-KB scale, so its single-partition window is free). A pair
    straddling a boundary has all its intervening rows inside that tiny
    frame (any fully-skipped partition must have < ``window`` rows, all
    of which are boundary rows), so the seam pass sees true gaps;
    same-partition pairs it produces are either duplicates of the local
    pass or artifacts of the excised middles — both dropped by the
    ``pid_a != pid_b`` filter. Pair count is n x window regardless of
    skew; the ranged layout is persisted + materialized so both passes
    agree on sampled partition boundaries."""
    from pyspark.sql.window import Window

    def pairs_from(frame: DataFrame, w: Window,
                   cross_only: bool) -> DataFrame:
        leads = frame.select(
            id_col, text_col, "__pid",
            *[F.lead(id_col, k).over(w).alias(f"__nid{k}")
              for k in range(1, window + 1)],
            *[F.lead(text_col, k).over(w).alias(f"__ntext{k}")
              for k in range(1, window + 1)],
            *[F.lead("__pid", k).over(w).alias(f"__npid{k}")
              for k in range(1, window + 1)],
        )
        nb = F.array(*[
            F.struct(F.col(f"__nid{k}").alias("nid"),
                     F.col(f"__ntext{k}").alias("ntext"),
                     F.col(f"__npid{k}").alias("npid"))
            for k in range(1, window + 1)
        ])
        exploded = (
            leads.select(id_col, text_col, "__pid",
                         F.explode(nb).alias("nb"))
            .filter(F.col("nb.nid").isNotNull())
        )
        if cross_only:
            exploded = exploded.filter(F.col("nb.npid") != F.col("__pid"))
        return (
            exploded.select(
                F.least(F.col(id_col), F.col("nb.nid")).alias("id_a"),
                F.greatest(F.col(id_col), F.col("nb.nid")).alias("id_b"),
                F.col(text_col).alias("text_a"),
                F.col("nb.ntext").alias("text_b"),
                F.levenshtein(F.col(text_col), F.col("nb.ntext"))
                .alias("distance"))
            .filter(F.col("distance") <= max_distance)
        )

    parts = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.select(id_col, text_col)
        .repartitionByRange(parts, F.col(text_col), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    # pin the sampled range boundaries: both passes (and the seam
    # filter) must see the same __pid assignment
    ranged.count()
    w_local = Window.partitionBy("__pid").orderBy(text_col, id_col)
    local = pairs_from(ranged, w_local, cross_only=False)

    pw = Window.partitionBy("__pid").orderBy(text_col, id_col)
    nrows = Window.partitionBy("__pid")
    boundary = (
        ranged
        .withColumn("__lr", F.row_number().over(pw))
        .withColumn("__n", F.count(F.lit(1)).over(nrows))
        .filter((F.col("__lr") <= window)
                | (F.col("__lr") > F.col("__n") - window))
        .drop("__lr", "__n")
        # KB-scale frame: global order here is exact and cheap
        .coalesce(1)
    )
    w_seam = Window.orderBy(text_col, id_col)
    seam = pairs_from(boundary, w_seam, cross_only=True)
    return local.unionByName(seam)


def collocation_pmi(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocation mining (word2vec-style phrase detection):
    score every adjacent token pair by pointwise-mutual-information
    LIFT and return per-pair counts + scores.

    ``lift(w1,w2) = p(w1 w2) / (p(w1) * p(w2))``, computed as
    ``c_xy * N_uni * N_uni / N_bi / c_x / c_y`` with that EXACT
    left-associated IEEE op order — every factor is an exact integer
    count, so the double result is bit-identical on any engine or
    partitioning (no logs; callers wanting classic PMI can take
    ``log2`` of the lift without changing the ranking).

    Scale shape: tokenization and bigram extraction are one narrow
    projection (``slice``+``arrays_zip`` — no self-join, docs with <2
    tokens yield empty slices for free); unigram and bigram counts are
    one hash-agg shuffle each; the two vocabulary joins broadcast (a
    token vocabulary is KB..MB-scale even for a 100 TB corpus); the
    two grand totals are ONE 2-scalar driver collect, compiled back as
    literals so the plan carries no crossJoin/scalar-subquery node.

    Returns ``(w1, w2, pair_count, lift)``, unfiltered order;
    callers rank with ``orderBy(desc("lift"), "w1", "w2")``.
    """
    toks = df.select(
        F.split(F.trim(F.col(text_col)), " ").alias("t"))
    toks = toks.persist()  # unigram and bigram branches both replay it

    uni = (toks.select(F.explode("t").alias("w"))
           .filter(F.col("w") != "")
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    uni = uni.persist()

    n = F.size("t")
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))").alias("w2"),
    )
    bi = (toks.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .filter((F.col("w1") != "") & (F.col("w2") != ""))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")))

    totals = uni.agg(F.sum("c").alias("n_uni")).collect()[0]
    n_uni = int(totals["n_uni"] or 0)
    n_bi = int(bi.agg(F.sum("c_xy")).collect()[0][0] or 0)
    if n_uni == 0 or n_bi == 0:
        return bi.filter(F.lit(False)).select(
            "w1", "w2", F.col("c_xy").alias("pair_count"),
            F.lit(0.0).alias("lift"))

    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.filter(F.col("c_xy") >= int(min_count))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1", "w2", F.col("c_xy").alias("pair_count"),
            (F.col("c_xy").cast("double")
             * F.lit(float(n_uni)) * F.lit(float(n_uni))
             / F.lit(float(n_bi))
             / F.col("c1") / F.col("c2")).alias("lift"),
        )
    )
    return scored


def collocation_g2(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocations by Dunning's G² log-likelihood ratio
    (Dunning 1993, "Accurate Methods for the Statistics of Surprise
    and Coincidence") — the sparse-count-robust standard next to
    :func:`collocation_pmi`: PMI lift explodes for rare pairs (a
    hapax bigram of two hapax words gets the maximum score); G²
    weights the evidence, so high-count collocations outrank lucky
    singletons without any min-count heuristics doing the real work.

    Contingency table over BIGRAM EVENTS (N = total bigrams):
    ``k11 = c(w1 w2)``, ``k12 = c(w1 ·) − k11``,
    ``k21 = c(· w2) − k11``, ``k22 = N − k11 − k12 − k21`` (row
    sums: bigrams whose FIRST word is w1; column sums: whose SECOND
    word is w2 — the strict bigram-event formulation, not unigram
    totals). ``G² = 2·Σ k·ln(k·N/(R·C))`` over the non-zero cells,
    with the FIXED evaluation order
    ``k · ln(((k·N)/R)/C)`` and cell order 11,12,21,22 — every count
    is an exact integer, the four ln terms are the only floats, so any
    engine replays the double result to well past 6 decimals.

    Scale shape: identical to :func:`collocation_pmi` — bigram
    extraction is one narrow projection, one bigram hash-agg shuffle,
    row/column totals are two aggregates of the bigram frame
    broadcast-joined back (first/second-word marginals are
    vocabulary-sized — KB..MB at any corpus scale), N is a 1-scalar
    collect folded in as a literal.

    Caching: the bigram-count frame stays persisted (three consumers
    share it and the returned plan references it); long-lived sessions
    release it via :func:`deltalake_spark.session.release_caches`.

    Returns ``(w1, w2, pair_count, g2)`` unfiltered order; callers
    rank with ``orderBy(desc("g2"), "w1", "w2")``.
    """
    toks = df.select(
        F.split(F.trim(F.col(text_col)), " ").alias("t"))

    n = F.size("t")
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))").alias("w2"),
    )
    bi = (toks.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .filter((F.col("w1") != "") & (F.col("w2") != ""))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy")))
    bi = bi.persist()  # marginals and the scored frame both replay it

    n_bi = int(bi.agg(F.sum("c_xy")).collect()[0][0] or 0)
    if n_bi == 0:
        return bi.filter(F.lit(False)).select(
            "w1", "w2", F.col("c_xy").alias("pair_count"),
            F.lit(0.0).alias("g2"))

    r1 = bi.groupBy("w1").agg(F.sum("c_xy").alias("r1"))
    c2 = bi.groupBy("w2").agg(F.sum("c_xy").alias("c2"))

    nd = F.lit(float(n_bi))

    def term(k: Column, row: Column, col: Column) -> Column:
        kd = k.cast("double")
        return F.when(
            k > 0,
            kd * F.log(kd * nd / row.cast("double") / col.cast("double")),
        ).otherwise(F.lit(0.0))

    k11 = F.col("c_xy")
    k12 = F.col("r1") - k11
    k21 = F.col("c2") - k11
    k22 = F.lit(n_bi) - F.col("r1") - F.col("c2") + k11
    row1, row2 = F.col("r1"), F.lit(n_bi) - F.col("r1")
    col1, col2 = F.col("c2"), F.lit(n_bi) - F.col("c2")
    g2 = F.lit(2.0) * (
        term(k11, row1, col1) + term(k12, row1, col2)
        + term(k21, row2, col1) + term(k22, row2, col2)
    )
    return (
        bi.filter(F.col("c_xy") >= int(min_count))
        .join(F.broadcast(r1), "w1")
        .join(F.broadcast(c2), "w2")
        .select("w1", "w2", F.col("c_xy").alias("pair_count"),
                g2.alias("g2"))
    )


def keyness_g2(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str,
    group_a: str,
    group_b: str,
    min_count: int = 5,
) -> DataFrame:
    """Per-token Dunning G² keyness between two subcorpora (Rayson &
    Garside 2000 keyword analysis) — "which words characterize corpus
    A against corpus B", the corpus-COMPARISON sibling of
    :func:`collocation_g2`'s pair mining. The workhorse behind
    source/domain contrast reports and drift investigations.

    2×2 table per token over TOKEN EVENTS: ``k11 = c(w, A)``,
    ``k12 = N_A − k11``, ``k21 = c(w, B)``, ``k22 = N_B − k21``
    (rows = corpus totals, columns = token vs rest);
    ``G² = 2·Σ k·ln(k·N/(R·C))`` with the same fixed cell order
    (11, 12, 21, 22) and op order ``k · ln(((k·N)/R)/C)`` as
    collocation_g2 — integer counts, four ln terms, replayable.
    ``overuse_a`` marks the direction (true when A's relative
    frequency exceeds B's — G² itself is symmetric), via the exact
    integer cross-product ``k11·N_B > k21·N_A``.

    Scale shape: one token-count shuffle keyed by (token, group); the
    per-group totals are a 2-scalar collect folded in as literals; the
    A/B frames re-join on the token (vocabulary-sized, broadcast).

    Caching: the token-count frame stays persisted (totals and the
    scored frame share it); release via
    :func:`deltalake_spark.session.release_caches`.

    Returns ``(token, count_a, count_b, g2, overuse_a)``.
    """
    two = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        (F.col(group_col) == group_a).alias("__a"),
        F.explode(
            F.split(F.trim(F.col(text_col)), " ")).alias("token"),
    ).filter(F.col("token") != "")
    counts = two.groupBy("token").agg(
        F.sum(F.col("__a").cast("long")).alias("count_a"),
        F.sum((~F.col("__a")).cast("long")).alias("count_b"),
    ).persist()
    tot = counts.agg(F.sum("count_a"), F.sum("count_b")).collect()[0]
    n_a, n_b = int(tot[0] or 0), int(tot[1] or 0)
    if n_a == 0 or n_b == 0:
        return counts.filter(F.lit(False)).select(
            "token", "count_a", "count_b",
            F.lit(0.0).alias("g2"), F.lit(False).alias("overuse_a"))
    n = n_a + n_b
    nd = F.lit(float(n))

    def term(k: Column, row: int, col: Column) -> Column:
        kd = k.cast("double")
        return F.when(
            k > 0,
            kd * F.log(kd * nd / F.lit(float(row)) / col.cast("double")),
        ).otherwise(F.lit(0.0))

    k11, k21 = F.col("count_a"), F.col("count_b")
    cw = k11 + k21
    g2 = F.lit(2.0) * (
        term(k11, n_a, cw) + term(F.lit(n_a) - k11, n_a, F.lit(n) - cw)
        + term(k21, n_b, cw)
        + term(F.lit(n_b) - k21, n_b, F.lit(n) - cw)
    )
    return counts.filter(cw >= int(min_count)).select(
        "token", "count_a", "count_b", g2.alias("g2"),
        (k11 * F.lit(n_b) > k21 * F.lit(n_a)).alias("overuse_a"),
    )


def damerau_levenshtein(a: str, b: str) -> int:
    """TRUE Damerau–Levenshtein distance (Lowrance–Wagner, with the
    per-character last-occurrence table) — transpositions of ADJACENT
    characters cost 1 even when later edits separate them, so
    ``("CA", "ABC") -> 2`` where the restricted OSA variant says 3.
    This matches DuckDB's ``damerau_levenshtein`` exactly
    (fuzz-pinned in tests), unlike OSA which most quick
    implementations ship."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    # (la+2) x (lb+2) matrix with the -inf sentinel row/col
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,                      # substitute/match
                d[i + 1][j] + 1,                     # insert
                d[i][j + 1] + 1,                     # delete
                d[k][l] + (i - 1 - k) + 1 + (j - 1 - l),  # transpose
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def damerau_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_cols: list,
    max_distance: int = 2,
) -> DataFrame:
    """Blocked Damerau–Levenshtein record linkage: within-block pairs
    at distance ≤ ``max_distance``. Completes the fuzzy-matching
    family (``edit_distance_pairs`` = plain Levenshtein in JVM
    codegen, ``jaro_winkler_pairs`` = position-tolerant similarity):
    DL counts adjacent-swap typos — the single most common human
    keying error — as ONE edit. Spark has no DL builtin, so the
    distance runs in an Arrow pandas UDF over the blocked candidate
    stream only (bounded by the equi-join — never N²).
    Returns ``(id_a, id_b, text_a, text_b, distance)``."""
    import pandas  # noqa: F401 — pandas_udf resolves the hint by name
    from pyspark.sql.functions import pandas_udf

    def score(a: "pandas.Series", b: "pandas.Series") -> "pandas.Series":
        import pandas as pd

        return pd.Series([
            damerau_levenshtein(x, y)
            if x is not None and y is not None else None
            for x, y in zip(a, b)
        ], dtype="Int64")

    import pandas as pd

    score.__annotations__ = {"a": pd.Series, "b": pd.Series,
                             "return": pd.Series}
    # optimizer fence — see jaro_winkler_pairs
    dl_udf = pandas_udf(score, "long").asNondeterministic()

    left = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    right = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"),
        *[F.col(c).alias(f"__b{i}") for i, c in enumerate(block_cols)])
    keys = [f"__b{i}" for i in range(len(block_cols))]
    cand = left.join(right, keys).filter(F.col("id_a") < F.col("id_b"))
    # full-parallelism scoring (see jaro_winkler_pairs): measured 7x
    # on the sf0.1 golden-records gate, where the 2.5M-pair DL stream
    # otherwise scored on the table's 2 file splits
    cand = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    return (
        cand
        .withColumn("distance", dl_udf(F.col("text_a"), F.col("text_b")))
        .filter(F.col("distance") <= max_distance)
        .drop(*keys)
    )


def textrank_keywords(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_iter: int = 2,
    min_pair_count: int = 2,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) at corpus
    scale: rank tokens by exact-integer PageRank over the adjacent-
    token co-occurrence graph — the unsupervised keyword scorer that
    needs no training data, upgraded from per-document to the whole
    corpus in one graph.

    Construction: the same narrow bigram projection as
    :func:`collocation_pmi` (slice+arrays_zip — no self-join) yields
    adjacent-token pairs; pairs seen fewer than ``min_pair_count``
    times are noise-pruned; surviving pairs are canonicalized
    (u < v, distinct) and symmetrized into an undirected token graph;
    :func:`~deltalake_spark.operators.graph.pagerank_fixed_point`
    then runs ``n_iter`` EXACT integer power iterations, so token
    ranks are bit-replayable in SQL (the whole pipeline is counts,
    floor divisions, and bigint sums — no floats anywhere).

    Scale shape: one bigram count shuffle + the PageRank rounds (one
    equi-join + one groupBy sum each, persisted); the token graph is
    vocabulary-sized — KB..MB even for a 100 TB corpus. Returns
    ``(node, rank_scaled)`` — token and its rank in 1e-12 units;
    callers take ``orderBy(desc("rank_scaled"), "node")`` heads.
    """
    from deltalake_spark.operators.graph import (
        canonical_edges,
        pagerank_fixed_point,
    )

    toks = df.select(
        F.split(F.trim(F.col(text_col)), " ").alias("t"))
    n = F.size("t")
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))").alias("w2"),
    )
    bi = (toks.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .filter((F.col("w1") != "") & (F.col("w2") != ""))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
          .filter(F.col("c") >= int(min_pair_count)))
    und = canonical_edges(bi, src="w1", dst="w2")
    edges = und.select(F.col("u").alias("src"), F.col("v").alias("dst")) \
        .unionAll(und.select(F.col("v").alias("src"),
                             F.col("u").alias("dst")))
    return pagerank_fixed_point(edges, n_iter=n_iter)


def readability_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_cols: list[str] | None = None,
    hard_threshold: float = 30.0,
) -> DataFrame:
    """Flesch reading-ease readability per group — the standard cheap
    text-difficulty screen for corpus curation (drop/flag documents a
    target audience can't parse).

    ``flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)``
    with pure-regex counts: words = whitespace tokens, sentences =
    runs of ``[.!?]`` (min 1 so fragments don't divide by zero),
    syllables = vowel-group runs ``[aeiouy]+`` over the lowercased
    text (the classic dictionary-free approximation; vowelless tokens
    contribute 0 — a documented variant, identical in both engines).

    Every count is an exact integer; the GROUP-level score is computed
    once from group total counts (no per-doc float averaging — that
    would be partition-order-dependent). The per-doc score exists only
    inside the order-independent ``n_hard`` threshold count.

    Scale shape: one narrow projection (three regex counts per row)
    + one hash aggregate. Output: ``(group..., n_docs, total_words,
    total_sentences, total_syllables, flesch_group, n_hard)``.
    """
    group_cols = group_cols or []
    t = F.col(text_col)
    words = F.size(F.split(F.trim(t), r"\s+"))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    syllables = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0)))

    def flesch(w, s, y):
        return (F.lit(206.835)
                - F.lit(1.015) * (w.cast("double") / s.cast("double"))
                - F.lit(84.6) * (y.cast("double") / w.cast("double")))

    per_doc = df.select(
        *group_cols,
        words.cast("long").alias("__w"),
        sentences.cast("long").alias("__s"),
        syllables.cast("long").alias("__y"),
    ).filter(F.col("__w") > 0)
    doc_score = flesch(F.col("__w"), F.col("__s"), F.col("__y"))
    agg = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__w").alias("total_words"),
        F.sum("__s").alias("total_sentences"),
        F.sum("__y").alias("total_syllables"),
        F.sum((doc_score < F.lit(float(hard_threshold)))
              .cast("long")).alias("n_hard"),
    )
    return agg.select(
        *group_cols, "n_docs", "total_words", "total_sentences",
        "total_syllables",
        flesch(F.col("total_words"), F.col("total_sentences"),
               F.col("total_syllables")).alias("flesch_group"),
        "n_hard",
    )


def lexical_diversity(
    df: DataFrame,
    *,
    text_col: str = "text",
    window: int = 25,
) -> DataFrame:
    """Per-document lexical-diversity measures: plain type-token ratio
    and MATTR — the Moving-Average Type-Token Ratio (Covington &
    McFall 2010, JQL), the standard length-robust diversity metric
    (raw TTR falls with document length, so it can't compare docs of
    different sizes; MATTR averages the TTR of every ``window``-token
    sliding window instead).

    Exactness contract: everything numeric is INTEGER until one final
    division — per-window distinct counts come from
    ``array_distinct(slice(...))``, and the appended columns keep the
    raw numerator/denominator (``mattr_distinct_sum``,
    ``mattr_windows``) so corpus-level aggregation can pool the
    integers across documents and divide ONCE (the gate recipe; no
    float-sum ordering anywhere). ``mattr`` is NULL for documents
    shorter than ``window`` (undefined per the paper — callers fall
    back to ``ttr``).

    Scale shape: one map-only pass; per-row cost O(n_tokens · window)
    inside codegen — no explode, no shuffle, no UDF. Appends
    ``n_tokens, n_types, ttr, mattr_distinct_sum, mattr_windows,
    mattr``.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda w: w != F.lit(""))
    n = F.size(toks)
    n_types = F.size(F.array_distinct(toks))
    wins = n - F.lit(window - 1)
    win_distinct = F.transform(
        F.sequence(F.lit(1), F.greatest(wins, F.lit(1))),
        lambda i: F.size(F.array_distinct(
            F.slice(toks, i, window))).cast("long"),
    )
    dist_sum = F.aggregate(
        win_distinct, F.lit(0).cast("long"), lambda a, x: a + x)
    has_win = wins >= 1
    return df.select(
        "*",
        F.greatest(n, F.lit(0)).cast("long").alias("n_tokens"),
        n_types.cast("long").alias("n_types"),
        F.when(n > 0, F.round(n_types / n, 6)).alias("ttr"),
        F.when(has_win, dist_sum).otherwise(F.lit(0).cast("long"))
        .alias("mattr_distinct_sum"),
        F.when(has_win, wins.cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("mattr_windows"),
        F.when(
            has_win,
            F.round(dist_sum / (wins.cast("double") * window), 6),
        ).alias("mattr"),
    )


def vocab_growth(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve with hapax tracking — the
    corpus-scaling diagnostic every tokenizer/dedup decision leans on:
    at each of ``n_checkpoints`` id cutpoints, how many documents and
    running tokens have been seen, how large the distinct vocabulary
    has grown, and how many of the corpus's hapax legomena (tokens
    occurring exactly once overall) have appeared.

    Exactness/scale contract: checkpoints are the integer cutpoints
    ``floor(max_id·k/n)`` (ONE 1-scalar collect compiled to literals —
    no rank window over the doc frame, no one-row joins); "token first
    seen" is ``min(id)`` per token — a plain aggregate; every
    checkpoint statistic is a conditional integer aggregate over the
    token/doc frames. Nothing is ordered row-by-row, so the operator
    is two hash aggregates + one conditional-agg pass regardless of
    corpus size; TTR is the only IEEE division.

    Output: one row per checkpoint —
    ``(k, cut_id, docs_seen, tokens_total, vocab, hapax_seen, ttr)``.
    """
    if n_checkpoints < 1:
        raise ValueError("n_checkpoints must be >= 1")
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                          r"\s+")).alias("__w"))
    max_id = df.groupBy().agg(
        F.max(F.col(id_col)).alias("m")).collect()[0]["m"]
    if max_id is None:
        raise ValueError("empty corpus")
    cuts = [(k, int(max_id) * k // n_checkpoints)
            for k in range(1, n_checkpoints + 1)]

    # per-token: first doc + total corpus count (hapax = total 1);
    # per-doc: token count. Both skinny frames union into ONE tagged
    # frame reduced by a single conditional aggregate — no 1x1 join
    # (which would plan as BroadcastNestedLoopJoin), no second pass
    tok_stats = toks.groupBy("__w").agg(
        F.min("__id").alias("__a"),
        F.count(F.lit(1)).alias("__b")).select(
        F.lit("w").alias("__kind"), "__a", "__b")
    per_doc = toks.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n")).select(
        F.lit("d").alias("__kind"), F.col("__id").alias("__a"),
        F.col("__n").alias("__b"))
    tagged = tok_stats.unionByName(per_doc)
    is_w = F.col("__kind") == "w"
    is_d = F.col("__kind") == "d"
    aggs = []
    for k, c in cuts:
        within = F.col("__a") <= c
        aggs += [
            F.sum((is_w & within).cast("long")).alias(f"__v{k}"),
            F.sum((is_w & within & (F.col("__b") == 1))
                  .cast("long")).alias(f"__h{k}"),
            F.sum((is_d & within).cast("long")).alias(f"__d{k}"),
            F.sum(F.when(is_d & within, F.col("__b"))
                  .otherwise(F.lit(0))).alias(f"__t{k}"),
        ]
    row = tagged.groupBy().agg(*aggs)
    cells = F.explode(F.array(*[
        F.struct(
            F.lit(k).cast("long").alias("k"),
            F.lit(c).cast("long").alias("cut_id"),
            F.col(f"__d{k}").alias("docs_seen"),
            F.col(f"__t{k}").alias("tokens_total"),
            F.col(f"__v{k}").alias("vocab"),
            F.col(f"__h{k}").alias("hapax_seen"),
        ) for k, c in cuts
    ])).alias("__c")
    out = row.select(cells).select(
        F.col("__c.k").alias("k"),
        F.col("__c.cut_id").alias("cut_id"),
        F.col("__c.docs_seen").alias("docs_seen"),
        F.col("__c.tokens_total").alias("tokens_total"),
        F.col("__c.vocab").alias("vocab"),
        F.col("__c.hapax_seen").alias("hapax_seen"),
        F.when(F.col("__c.tokens_total") > 0,
               F.col("__c.vocab").cast("double")
               / F.col("__c.tokens_total").cast("double"))
        .alias("ttr"),
    )
    return out


def zipf_fit(
    df: DataFrame,
    *,
    group_col: str,
    text_col: str,
    top_n: int = 200,
) -> DataFrame:
    """Zipf rank-frequency fit per group — the classic corpus-quality
    diagnostic (natural language sits near slope −1 on the log-log
    rank/frequency line; template spam, boilerplate floods and
    synthetic token soups bend it): OLS of ``ln(freq)`` on
    ``ln(rank)`` over the ``top_n`` most frequent tokens.

    Determinism contract: token counts are exact integers; the rank
    order is total ((freq DESC, token ASC)); each (x, y) =
    (ln(rank), ln(freq)) is a per-row deterministic IEEE pair, and the
    OLS moments are sums over the ≤ ``top_n``-row fitted frame —
    outputs round to 4 decimals (the moment-twin convention; drift
    bound ~1e-13 ≪ 1e-4).

    Scale shape: one (group, token) hash aggregate over the exploded
    corpus (map-side combined — the shuffle carries the vocabulary,
    not the text), a group-keyed rank window over the VOCABULARY
    frame, then a |groups|-row OLS aggregate. Output per group:
    ``(group, n_ranks, top_token, top_freq, slope, intercept, r2)``.
    """
    from pyspark.sql.window import Window as _W

    if top_n < 3:
        raise ValueError("top_n must be >= 3")
    tok = df.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .alias("__t"),
    ).filter(F.col("__t") != "")
    freq = tok.groupBy("g", "__t").agg(F.count(F.lit(1)).alias("__f"))
    w = _W.partitionBy("g").orderBy(F.desc("__f"), F.asc("__t"))
    top = freq.withColumn("__r", F.row_number().over(w)) \
        .filter(F.col("__r") <= int(top_n))
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__f").cast("double"))
    agg = top.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.min(F.when(F.col("__r") == 1, F.col("__t"))).alias("top_token"),
        F.max(F.when(F.col("__r") == 1, F.col("__f"))).alias("top_freq"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"),
    )
    n = F.col("n_ranks").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = cov / vx
    return agg.select(
        F.col("g").alias(group_col),
        "n_ranks", "top_token", "top_freq",
        F.round(slope, 4).alias("slope"),
        F.round((F.col("__sy") - slope * F.col("__sx")) / n, 4)
        .alias("intercept"),
        F.round((cov * cov) / (vx * vy), 4).alias("r2"),
    )
