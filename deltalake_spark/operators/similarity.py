"""Similarity search over embedding columns (``array<float>``).

The reference has no vector operators; this is north-star functionality for
LLM data pipelines at 100 TB. Two tiers:

- **Brute force** (:func:`brute_force_topk`) — exact cosine top-k against a
  query vector. The query row is broadcast; the scan is embarrassingly
  parallel; a single ``orderBy().limit(k)`` top-k (Spark plans TakeOrdered,
  no full sort shuffle).
- **LSH-bucketed** (:func:`lsh_topk`) — random-hyperplane sketches block
  the corpus so only matching buckets are scanned: the scale path where a
  full scan per query is unaffordable. Multi-probe (flipping sketch bits)
  trades recall for scan width.

All math is JVM-side (``zip_with``/``aggregate`` higher-order functions) in
double precision — no Python UDF in the hot path.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deltalake_spark.operators.dedup import spread_narrow_input


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array columns, computed in double precision."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a.cast("array<double>"), F.lit(0.0),
                    lambda acc, x: acc + x * x)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (l2_norm_expr(a) * l2_norm_expr(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k against a literal query vector.

    Catalyst plans the final ``orderBy().limit()`` as TakeOrderedAndProject
    — each partition keeps its local top-k, only k rows per partition move.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    if metric == "cosine":
        score = cosine_expr(F.col(vec_col), q)
    elif metric == "dot":
        score = dot_expr(F.col(vec_col), q)
    elif metric == "l2":
        score = -F.sqrt(
            F.aggregate(
                F.zip_with(F.col(vec_col).cast("array<double>"), q,
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    else:
        raise ValueError(f"Unknown metric {metric!r}")
    return (
        df.withColumn("score", F.round(score, 6))
        .orderBy(F.desc("score"))
        .limit(k)
    )


def _planes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def rh_sketch(vec_col: Column, *, dim: int, num_planes: int = 16,
              seed: int = 42) -> Column:
    """Random-hyperplane sign sketch as an int (bit i = sign of v·plane_i).

    Plane coefficients are literals folded into the plan — broadcast for
    free with the task binary, no join needed.
    """
    sketch = F.lit(0)
    for i, plane in enumerate(_planes(dim, num_planes, seed)):
        p = F.array(*[F.lit(c) for c in plane])
        bit = F.when(dot_expr(vec_col, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sketch = sketch + bit
    return sketch


def rh_sketch_q(vec_sql: str, *, dim: int, num_planes: int = 16,
                seed: int = 42, scale: int = 1_000_000) -> Column:
    """EXACT-integer random-hyperplane sign sketch: the vector is
    quantized to the micro-unit grid (``round(x·scale)`` longs — the
    :mod:`operators.clustering` determinism foundation) and dotted
    with INTEGER plane coefficients (``round(gauss·scale)``, from the
    same seeded planes as :func:`rh_sketch`). Every sign test is pure
    int64 arithmetic (|dot| < dim·scale²·|x|·|g| ≈ 2^48 for unit-ish
    vectors), so the bucketing is bit-replayable in any SQL engine —
    no float near-zero sign hazard. Same recall family as the float
    sketch (the quantization perturbs each hyperplane by ≤ 1e-6).

    Takes the vector as a SQL identifier (e.g. ``"`embedding`"``) and
    builds ONE JVM-parsed, memoized expression string — the
    :func:`_probe_expr` py4j-avoidance pattern (num_planes×dim literal
    ints through Column calls cost ~1s per build)."""
    planes = rh_planes_q(dim, num_planes, seed, scale)
    key = ("rhq", tuple(tuple(p) for p in planes), vec_sql)
    expr = _PROBE_CACHE.get(key)
    if expr is None:
        qv = (f"transform(cast({vec_sql} as array<double>),"
              f" x -> cast(round(x * {float(scale)!r}D) as bigint))")
        terms = []
        for i, ip in enumerate(planes):
            lits = ",".join(f"{int(c)}L" for c in ip)
            dot = (f"aggregate(zip_with(v, array({lits}),"
                   f" (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
            terms.append(f"if({dot} >= 0, {1 << i}L, 0L)")
        # let-bind the quantized vector: a lambda variable is a bound
        # VALUE, so the quantization runs once per row instead of being
        # project-collapsed into every plane's dot product
        expr = F.expr(
            f"transform(array({qv}), v -> " + " + ".join(terms) + ")[0]")
        if len(_PROBE_CACHE) > 64:
            _PROBE_CACHE.clear()
        _PROBE_CACHE[key] = expr
    return expr


def rh_planes_q(dim: int, num_planes: int, seed: int = 42,
                scale: int = 1_000_000) -> list[list[int]]:
    """The integer plane coefficients :func:`rh_sketch_q` folds into
    its plan — exposed so SQL oracles embed the SAME literals."""
    return [
        [int(round(c * scale)) for c in plane]
        for plane in _planes(dim, num_planes, seed)
    ]


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 12,
    probe_bits: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only rows whose sketch is within
    ``probe_bits`` Hamming distance of the query's sketch (multi-probe).

    At scale the table would be written bucketed/partitioned by sketch so
    the probe prunes files; here it prunes rows before the cosine math.
    """
    dim = len(query_vec)
    planes = _planes(dim, num_planes, seed)
    qsketch = 0
    for i, plane in enumerate(planes):
        if sum(c * x for c, x in zip(plane, query_vec)) >= 0:
            qsketch |= 1 << i
    probes = {qsketch}
    if probe_bits >= 1:
        for i in range(num_planes):
            probes.add(qsketch ^ (1 << i))

    sk = rh_sketch(F.col(vec_col), dim=dim, num_planes=num_planes, seed=seed)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        df.withColumn("__sk", sk)
        .filter(F.col("__sk").isin(list(probes)))
        .withColumn("score", F.round(cosine_expr(F.col(vec_col), q), 6))
        .orderBy(F.desc("score"))
        .limit(k)
        .drop("__sk")
    )


def _hash_sample(
    df: DataFrame, *, id_col: str, vec_col: str, sample: int, seed: int,
) -> DataFrame:
    """Layout-independent bounded sample: the ``sample`` rows with the
    smallest portable Knuth priorities of their ids (ties by id) — the
    ``deterministic_split`` recipe from ``operators/mixing.py``. Plans
    as a distributed TakeOrdered (no full sort, no driver hot spot),
    and unlike a bare ``.limit(n)`` the selected SET does not depend
    on partition layout, so two clusters train the same codebook."""
    from deltalake_spark.operators.sketches import KMV_MULT, _knuth32

    return (
        df.select(F.col(id_col).alias("__id"),
                  F.col(vec_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .withColumn("__pri", _knuth32(F.col("__id"), KMV_MULT, seed))
        .orderBy("__pri", "__id")
        .limit(sample)
    )


def train_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids: Lloyd's k-means on a driver-
    side sample. Centroids are k×dim floats — KB-scale metadata even for a
    100 TB corpus, so training on a bounded sample on the driver is the
    right cost model (the full corpus is only ever touched by the
    distributed assignment pass). No ``checkpoint_dir`` option, unlike
    the other iterative ops: the Lloyd loop here is driver-local numpy
    with zero executor state, so there is nothing executor loss can
    take from it.

    Pass ``id_col`` on a real cluster: the sample is then the
    ``sample`` smallest portable-hash priorities of the ids
    (:func:`_hash_sample`) in pinned (priority, id) order, so the
    trained codebook is identical across partition layouts and reruns.
    Without an id column the sample falls back to ``.limit(sample)``,
    which is deterministic on a single local parquet file but NOT
    across cluster layouts — two runs could train different codebooks
    (index-quality drift, not correctness)."""
    if id_col is not None:
        rows = _hash_sample(df, id_col=id_col, vec_col=vec_col,
                            sample=sample, seed=seed).select("__v")
    else:
        rows = (df.select(vec_col)
                .where(F.col(vec_col).isNotNull()).limit(sample))
    X = np.array([list(r[0]) for r in rows.collect()], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"need >= {k} vectors to train, got {len(X)}")
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        # argmin over squared L2 via the -2x·c + |c|² expansion (|x|² is
        # constant per row): O(n·k) memory, not O(n·k·dim)
        assign = ((X @ C.T) * -2.0 + (C * C).sum(axis=1)).argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C.tolist()


def _probe_udf(centroids: list[list[float]], nprobe: int):
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def probe(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = (X @ C.T) * -2.0 + c_sq
        if nprobe == 1:
            idx = d.argmin(axis=1)[:, None]
        else:
            part = np.argpartition(d, nprobe - 1, axis=1)[:, :nprobe]
            order = np.take_along_axis(d, part, axis=1).argsort(axis=1)
            idx = np.take_along_axis(part, order, axis=1)
        return pd.Series([row.astype("int32").tolist() for row in idx])

    return probe


_JVM_MAX_K = 64
_PROBE_CACHE: "dict[tuple, Column]" = {}


def _salted_bucket_join(
    q: DataFrame, c: DataFrame, *, n_buckets: int, c_id: str,
    key: str = "__b",
) -> DataFrame:
    """Bucket equi-join that survives a LOW-CARDINALITY bucket key.

    A coarse codebook of k buckets hash-partitions a shuffled join
    onto ≤ k tasks — the r11 sf1 finding: ivf_ann_topk's k=8 join ran
    its 4M-pair scoring on ≤ 8 of 32 cores. Standard salting with the
    guide's orientation (big side keeps its cardinality, small side
    explodes): the CORPUS side gets a deterministic salt
    ``pmod(xxhash64(id), S)`` (no row duplication of the big side);
    the QUERY side — a bounded probe batch by contract — explodes
    ×S so every (bucket, salt) cell is covered. The joined PAIR SET is
    identical, so results are bit-identical; only the partitioning of
    the pair-scoring stage changes. S is derived from the session's
    parallelism at ~2 keys/core and collapses to S=1 (plain join) once
    the codebook itself provides enough keys — at production bucket
    counts (k ≈ √N) this is a no-op."""
    sc = q.sparkSession.sparkContext
    s = max(1, -(-2 * sc.defaultParallelism // max(1, int(n_buckets))))
    if s <= 1:
        return q.join(c, key)
    cs = c.withColumn(
        "__bsalt", F.pmod(F.xxhash64(F.col(c_id)), F.lit(s)).cast("int"))
    qs = q.withColumn(
        "__bsalt", F.explode(F.sequence(F.lit(0), F.lit(int(s) - 1))))
    return qs.join(cs, [key, "__bsalt"]).drop("__bsalt")


def _probe_expr(centroids: list[list[float]], vec_sql: str,
                nprobe: int) -> Column:
    """JVM-side nearest-centroid probe: per-centroid scores
    ``x·c - |c|²/2`` (argmax ≡ argmin squared L2) as literal-folded
    zip_with/aggregate folds, ranked with sort_array — whole-stage
    codegen, no Python workers, no Arrow transfer of the vectors.

    Built as ONE SQL string parsed JVM-side: constructing the same tree
    through per-literal Column calls costs ~2 s of py4j round trips at
    k=8, dim=64 (measured) and would dominate the whole query. The
    parsed Column is memoized per (centroids, vec_sql, nprobe):
    Catalyst's parse of the ~10 KB literal tree costs ~0.2 s, paid once
    per codebook instead of per query (Columns are plain expression
    trees, reusable across DataFrames within a session)."""
    key = (tuple(tuple(c) for c in centroids), vec_sql, nprobe)
    cached = _PROBE_CACHE.get(key)
    if cached is not None:
        return cached
    v = f"cast({vec_sql} as array<double>)"
    structs = []
    for i, c in enumerate(centroids):
        lits = ",".join(f"{float(x)!r}D" for x in c)
        dot = (f"aggregate(zip_with({v}, array({lits}),"
               " (x, y) -> x * y), 0.0D, (a, x) -> a + x)")
        half_sq = repr(sum(float(x) * float(x) for x in c) / 2.0)
        structs.append(
            f"named_struct('s', {dot} - {half_sq}D, 'i', {i})"
        )
    ranked = f"reverse(array_sort(array({','.join(structs)})))"
    col = F.expr(f"transform(slice({ranked}, 1, {nprobe}), e -> e.i)")
    if len(_PROBE_CACHE) > 64:  # bounded: codebooks are few per session
        _PROBE_CACHE.clear()
    _PROBE_CACHE[key] = col
    return col


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    nprobe: int = 1,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Assign each vector its ``nprobe`` nearest coarse centroids.

    Small codebooks (k ≤ 64, the common IVF coarse level) run fully
    JVM-side (:func:`_probe_expr`); larger codebooks switch to an
    Arrow-batched pandas UDF (vectorized numpy matmul per batch — the
    expression tree would explode at k in the thousands)."""
    finite = all(
        np.isfinite(x) for c in centroids for x in c
    )
    if len(centroids) <= _JVM_MAX_K and finite:
        # non-finite components would render as 'nanD'/'infD' SQL
        # literals (parse error) — degenerate codebooks take the UDF path
        probes = _probe_expr(centroids, f"`{vec_col}`", nprobe)
    else:
        probes = _probe_udf(centroids, nprobe)(F.col(vec_col))
    if nprobe == 1:
        return df.withColumn(bucket_col, probes[0])
    return df.withColumn(bucket_col, probes)


def ivf_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate kNN join: corpus rows live in their nearest-centroid
    bucket; each query scans only its ``nprobe`` nearest buckets.

    Scale shape: the join is equi on the bucket id (hash shuffle /
    broadcast — never a cross join); candidate count per query is
    ~``nprobe/k_buckets`` of the corpus. At rest the corpus would be
    written partitioned by bucket so the probe prunes files.
    """
    from pyspark.sql.window import Window

    if query_id == corpus_id:
        raise ValueError(
            f"query_id and corpus_id must differ (both {query_id!r}); "
            "alias one side before joining so output columns are unique"
        )
    c = ivf_assign(
        spread_narrow_input(corpus.select(F.col(corpus_id).alias("__rid"),
                                          F.col(vec_col).alias("__rv"))),
        centroids, vec_col="__rv", nprobe=1, bucket_col="__b",
    )
    q = ivf_assign(
        spread_narrow_input(queries.select(F.col(query_id).alias("__lid"),
                                           F.col(vec_col).alias("__lv"))),
        centroids, vec_col="__lv", nprobe=nprobe, bucket_col="__probes",
    ).withColumn("__b", F.explode("__probes")).drop("__probes")
    joined = _salted_bucket_join(
        q, c, n_buckets=len(centroids), c_id="__rid",
    ).withColumn(
        "score", F.round(cosine_expr(F.col("__lv"), F.col("__rv")), 6)
    ).select("__lid", "__rid", "score")  # vectors never cross the window
    w = Window.partitionBy("__lid").orderBy(F.desc("score"), F.asc("__rid"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(query_id),
            F.col("__rid").alias(corpus_id),
            "score",
            F.col("__rn").alias("rank"),
        )
    )


def _probe_expr_q(int_centroids: list[list[int]], qvec_sql: str,
                  nprobe: int) -> Column:
    """EXACT-integer top-``nprobe`` centroid probe: squared L2 on the
    quantized grid as ``struct<d,i>`` candidates, ``array_sort`` ranks
    ascending by (d, i) — ties to the lowest centroid id, the same
    contract as :func:`operators.clustering.assign_to_centroids`.

    Built as ONE SQL string parsed JVM-side and memoized per codebook,
    for the same reason as :func:`_probe_expr`: pushing k×dim literal
    ints through per-literal Column calls costs seconds of py4j round
    trips PER QUERY BUILD (measured 5.2s vs 1.4s on the IVF gate's
    warm pass at k=8, dim=64 — the plan, once built, is identical).

    ``qvec_sql`` is evaluated ONCE per row via a lambda let-binding
    (``transform(array(expr), v -> body)[0]`` — lambda variables are
    bound VALUES, unlike projected columns, which Catalyst's
    project-collapse would inline k times into the per-centroid
    distances)."""
    key = ("q", tuple(tuple(c) for c in int_centroids), qvec_sql, nprobe)
    cached = _PROBE_CACHE.get(key)
    if cached is not None:
        return cached
    arrays = ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in c) + ")"
        for c in int_centroids
    )
    cands = (
        f"transform(array({arrays}), (c, i) -> named_struct("
        f"'d', aggregate(zip_with(v, c,"
        f" (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x),"
        f" 'i', i))"
    )
    col = F.expr(
        f"transform(array({qvec_sql}), v -> "
        f"transform(slice(array_sort({cands}), 1, {int(nprobe)}),"
        f" s -> s.i))[0]")
    if len(_PROBE_CACHE) > 64:  # bounded: codebooks are few per session
        _PROBE_CACHE.clear()
    _PROBE_CACHE[key] = col
    return col


def ivf_topk_join_q(
    queries: DataFrame,
    corpus: DataFrame,
    int_centroids: list[list[int]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF approximate kNN join with an EXACT-integer coarse quantizer:
    same bucket-equi-join shape as :func:`ivf_topk_join`, but corpus
    assignment (argmin) and query probes (top-``nprobe``) rank exact
    BIGINT squared distances on the micro-unit grid against INTEGER
    centroids (e.g. from :func:`operators.clustering.kmeans_fit`) —
    the whole routing is a pure integer function of the data, so a SQL
    oracle replays training + probe + join value-for-value. Cosine
    scores stay on the raw float vectors (sequential double folds,
    round 6 — the proven twin contract).

    Scale shape: identical to the float path — map-only assignment
    against KB-scale literal centroids, equi-join on the bucket id,
    per-query ranked window; never a cross join."""
    from pyspark.sql.window import Window

    if query_id == corpus_id:
        raise ValueError(
            f"query_id and corpus_id must differ (both {query_id!r}); "
            "alias one side before joining so output columns are unique"
        )

    def qv_sql(col: str) -> str:
        # quantize_to_grid as a SQL snippet, let-bound inside the probe
        # so it evaluates once per row (not once per centroid)
        return (f"transform(cast(`{col}` as array<double>),"
                f" x -> cast(round(x * {float(scale)!r}D) as bigint))")

    c = spread_narrow_input(corpus.select(
        F.col(corpus_id).alias("__rid"), F.col(vec_col).alias("__rv")
    )).withColumn(
        "__b", _probe_expr_q(int_centroids, qv_sql("__rv"), 1)[0])
    q = (
        spread_narrow_input(queries.select(
            F.col(query_id).alias("__lid"), F.col(vec_col).alias("__lv")
        ))
        .withColumn("__probes",
                    _probe_expr_q(int_centroids, qv_sql("__lv"), nprobe))
        .withColumn("__b", F.explode("__probes"))
        .drop("__probes")
    )
    joined = _salted_bucket_join(
        q, c, n_buckets=len(int_centroids), c_id="__rid",
    ).withColumn(
        "score", F.round(cosine_expr(F.col("__lv"), F.col("__rv")), 6)
    ).select("__lid", "__rid", "score")  # vectors never cross the window
    w = Window.partitionBy("__lid").orderBy(F.desc("score"), F.asc("__rid"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(query_id),
            F.col("__rid").alias(corpus_id),
            "score",
            F.col("__rn").alias("rank"),
        )
    )


def pairwise_topk_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 10,
    seed: int = 42,
    exact_sketch: bool = False,
) -> DataFrame:
    """Batch kNN: for every left row, top-k right rows by cosine, blocked
    by matching LSH sketch (bucket equi-join, shuffle on the sketch — never
    a cross join). ``exact_sketch=True`` buckets with the quantized
    integer sketch (:func:`rh_sketch_q`) instead of the float one —
    identical plan shape, and the bucketing becomes a pure integer
    function a SQL oracle replays exactly."""
    from pyspark.sql.window import Window

    if left_id == right_id:
        raise ValueError(
            f"left_id and right_id must differ (both {left_id!r}); "
            "alias one side before joining so output columns are unique"
        )
    dim = left.select(F.size(F.col(vec_col))).first()[0]
    if exact_sketch:
        lsk_expr = rh_sketch_q("`__lv`", dim=dim,
                               num_planes=num_planes, seed=seed)
        rsk_expr = rh_sketch_q("`__rv`", dim=dim,
                               num_planes=num_planes, seed=seed)
    else:
        lsk_expr = rh_sketch(F.col("__lv"), dim=dim,
                             num_planes=num_planes, seed=seed)
        rsk_expr = rh_sketch(F.col("__rv"), dim=dim,
                             num_planes=num_planes, seed=seed)
    lsk = spread_narrow_input(left.select(
        F.col(left_id).alias("__lid"), F.col(vec_col).alias("__lv")
    )).withColumn("__sk", lsk_expr)
    rsk = spread_narrow_input(right.select(
        F.col(right_id).alias("__rid"), F.col(vec_col).alias("__rv")
    )).withColumn("__sk", rsk_expr)
    joined = lsk.join(rsk, "__sk").withColumn(
        "score", F.round(cosine_expr(F.col("__lv"), F.col("__rv")), 6)
    ).select("__lid", "__rid", "score")  # vectors never cross the window
    # __rid tiebreak: equal-score neighbors rank deterministically
    w = Window.partitionBy("__lid").orderBy(F.desc("score"), F.asc("__rid"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            "score",
            F.col("__rn").alias("rank"),
        )
    )


def _nearest_struct_expr(centroids: list[list[float]], vec_col: str) -> Column:
    """JVM expression for the nearest centroid as ``struct<d, i>``:
    squared L2 via the ``|x|² − 2x·c + |c|²`` dot-product expansion,
    rounded to 6 decimals, ties broken by centroid index (array_min on
    structs compares d first, then i). Built as one JVM-parsed SQL
    string (same py4j-avoidance reasoning as :func:`_probe_expr`) and
    memoized per codebook."""
    key = ("nearest", tuple(tuple(c) for c in centroids), vec_col)
    expr = _PROBE_CACHE.get(key)
    if expr is None:
        v = f"cast(`{vec_col}` as array<double>)"
        self_dot = (f"aggregate(zip_with({v}, {v}, (x, y) -> x * y),"
                    " 0.0D, (a, x) -> a + x)")
        structs = []
        for i, c in enumerate(centroids):
            lits = ",".join(f"{float(x)!r}D" for x in c)
            dot = (f"aggregate(zip_with({v}, array({lits}),"
                   " (x, y) -> x * y), 0.0D, (a, x) -> a + x)")
            c_sq = repr(sum(float(x) * float(x) for x in c))
            structs.append(
                f"named_struct('d', round(__sd - 2.0D * {dot} + {c_sq}D, 6),"
                f" 'i', {i})"
            )
        body = f"array_min(array({','.join(structs)}))"
        # bind the shared |x|² once via a lambda so it isn't recomputed
        # per centroid (k× the fold cost otherwise)
        expr = F.expr(
            f"transform(array({self_dot}), __sd -> {body})[0]"
        )
        if len(_PROBE_CACHE) > 64:
            _PROBE_CACHE.clear()
        _PROBE_CACHE[key] = expr
    return expr


def _nearest_struct_udf(centroids: list[list[float]]):
    """Arrow-batched fallback for codebooks past the expression-tree
    ceiling (k > 64): vectorized numpy distance matrix per batch. Same
    round-to-6 + first-index tie rule; numpy's pairwise summation can
    differ from a sequential fold in the last ulp, so the UDF path is
    deterministic run-to-run but not oracle-replay exact — which is why
    the gate queries stay on small codebooks (JVM path)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    c_sq = (C * C).sum(axis=1)

    @pandas_udf("struct<d: double, i: int>")
    def nearest(vs: pd.Series) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = np.round((X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + c_sq, 6)
        idx = d.argmin(axis=1)  # first index on ties = the expr rule
        return pd.DataFrame({
            "d": d[np.arange(len(idx)), idx],
            "i": idx.astype("int32"),
        })

    return nearest


def _nearest_col(centroids: list[list[float]], vec_col: str) -> Column:
    finite = all(np.isfinite(x) for c in centroids for x in c)
    if len(centroids) <= _JVM_MAX_K and finite:
        return _nearest_struct_expr(centroids, vec_col)
    return _nearest_struct_udf(centroids)(F.col(vec_col))


def cluster_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    dist_col: str | None = None,
) -> DataFrame:
    """Exact nearest-centroid assignment with a deterministic, replayable
    rule: squared L2 via the ``|x|² − 2x·c + |c|²`` dot-product expansion,
    rounded to 6 decimals, ties broken by centroid index.

    Unlike :func:`ivf_assign` (whose un-rounded score ranking is fine for
    probe ordering), the rounding + index tie-break makes the assignment
    reproducible by any engine that computes the same three dot products
    in double precision — which is what lets the DuckDB oracle replay it
    value-for-value. Small codebooks (k ≤ 64) run as one memoized JVM
    expression (whole-stage codegen); larger ones switch to an
    Arrow-batched pandas UDF, same as :func:`ivf_assign`. Map-only:
    zero shuffle either way. Pass ``dist_col`` to also keep the distance
    to the assigned centroid (computed in the same pass, not re-derived).
    """
    nc = _nearest_col(centroids, vec_col)
    out = df.withColumn("__nc", nc).withColumn(
        cluster_col, F.col("__nc.i"))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__nc.d"))
    return out.drop("__nc")


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    out_col: str = "qvec",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector scalar quantization to int8 range — the
    standard memory-layout prep for large ANN indexes (4 bytes/dim ->
    1 byte/dim; IVF bucket scans then run on integer dot products).
    Each vector gets its own ``scale = max|x| / levels``; components
    quantize to ``round(x / scale)`` in [-levels, levels]. Appends the
    quantized array, the scale, and ``max_abs_err`` (the per-vector
    reconstruction bound, <= scale/2 by construction — asserted in
    tests and checkable by the gate oracle).

    Pure JVM array expressions, zero shuffle, no Python: at 100 TB this
    is a map-only pass you run once before index build. All-zero
    vectors keep scale 0 and quantize to zeros (guarded division)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(float(levels))
    q = F.when(scale == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int")))
    out = df.withColumn("__v", v).withColumn("scale", scale) \
        .withColumn(out_col, q)
    err = F.when(F.col("scale") == 0.0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(
                F.col("__v"), F.col(out_col),
                lambda x, qi: F.abs(x - qi * F.col("scale")),
            )
        )
    )
    return out.withColumn("max_abs_err", err).drop("__v")


def cluster_prune(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str,
    keep_per_cluster: int,
    strategy: str = "prototypical",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Cluster-based data pruning (SSL-prototypes, Sorscher et al. 2022
    arXiv:2206.14486; D4 applies it after SemDeDup): assign each row to
    its nearest centroid, rank within the cluster by distance to the
    centroid, keep ``keep_per_cluster`` rows. ``prototypical`` keeps the
    closest (easy, canonical) examples, ``hard`` keeps the farthest
    (informative outliers — the paper's pick for large corpora).

    The rank distance reuses :func:`cluster_assign`'s rounded-L2 rule
    (6-decimal round, id tie-break) so results replay exactly in any
    double-precision engine. One window shuffle on the cluster id —
    per-cluster state is a row_number counter, no pair joins. Output:
    input + ``cluster`` + ``dist`` + ``rank_in_cluster``, filtered to
    the kept rows.
    """
    from pyspark.sql.window import Window

    if strategy not in ("prototypical", "hard"):
        raise ValueError(f"Unknown strategy {strategy!r}")
    assigned = cluster_assign(df, centroids, vec_col=vec_col,
                              cluster_col=cluster_col, dist_col="dist")
    order = [F.asc("dist"), F.asc(id_col)] if strategy == "prototypical" \
        else [F.desc("dist"), F.asc(id_col)]
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        assigned.withColumn("rank_in_cluster", F.row_number().over(w))
        .filter(F.col("rank_in_cluster") <= keep_per_cluster)
    )


def train_pq_codebooks(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    id_col: str | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector splits into ``m``
    contiguous subspaces, each with its own ``k``-centroid k-means
    (Jégou et al. 2011, the IVF-PQ layout every billion-scale ANN index
    uses). Same bounded-driver cost model as :func:`train_centroids` —
    ``m·k`` subvectors of metadata regardless of corpus size. Pass
    ``id_col`` for a layout-independent training sample (same contract
    as :func:`train_centroids`)."""
    dim = df.select(F.size(F.col(vec_col))).first()[0]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        cols = [F.slice(F.col(vec_col), j * sub + 1, sub).alias("__s")]
        if id_col is not None:
            cols.insert(0, F.col(id_col))
        sliced = df.select(*cols)
        books.append(
            train_centroids(sliced, vec_col="__s", k=k, sample=sample,
                            iters=iters, seed=seed + j, id_col=id_col))
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    err_col: str | None = None,
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the nearest-centroid
    index under :func:`cluster_assign`'s deterministic rounded-L2 rule.
    Appends ``code_col`` (array<int>, one code per subspace — m bytes of
    payload per vector at k<=256 instead of 4·dim) and optionally
    ``err_col``, the rounded total squared reconstruction error
    (sum of per-subspace residuals — exactly the quantity PQ's
    asymmetric distance computation approximates).

    Map-only: m nearest-centroid expressions over array slices, zero
    shuffle, whole-stage codegen (Arrow UDF per subspace past k=64,
    same dispatch as :func:`cluster_assign`)."""
    m = len(codebooks)
    dim = df.select(F.size(F.col(vec_col))).first()[0]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    out = df
    for j, book in enumerate(codebooks):
        if any(len(c) != sub for c in book):
            raise ValueError(f"codebook {j} width != {sub}")
        out = out.withColumn(
            f"__sub{j}", F.slice(F.col(vec_col), j * sub + 1, sub))
        out = out.withColumn(f"__nc{j}", _nearest_col(book, f"__sub{j}"))
    codes = F.array(*[F.col(f"__nc{j}.i") for j in range(m)])
    out = out.withColumn(code_col, codes)
    if err_col is not None:
        err = F.col("__nc0.d")
        for j in range(1, m):
            err = err + F.col(f"__nc{j}.d")
        out = out.withColumn(err_col, F.round(err, 6))
    return out.drop(*[f"__sub{j}" for j in range(m)],
                    *[f"__nc{j}" for j in range(m)])


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    *,
    id_col: str,
    code_col: str = "pq_codes",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation over PQ codes
    (Jégou 2011): per subspace, precompute the m×k table of squared L2
    distances query-subvector → centroid (driver-side, KB of doubles),
    then score every row with pure array-literal lookups on its codes —
    the query path of an IVF-PQ index, reading only the m-byte codes,
    never the vectors.

    Map-only scoring + TakeOrderedAndProject; the distance tables fold
    into the plan as literals (no join, no broadcast var). Table entries
    use the same ``|q|² − 2q·c + |c|²`` expansion with sequential sums
    and round-to-6 as :func:`cluster_assign`, so ADC scores replay
    value-for-value in a SQL oracle. Output: ``id_col``, ``adc``
    (rounded total), ascending.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query_vec) != m * sub:
        raise ValueError(
            f"query dim {len(query_vec)} != m*sub {m * sub}")
    score = None
    for j, book in enumerate(codebooks):
        q = [float(x) for x in query_vec[j * sub:(j + 1) * sub]]
        qq = sum(x * x for x in q)
        entries = []
        for c in book:
            qc = sum(x * float(y) for x, y in zip(q, c))
            cc = sum(float(y) * float(y) for y in c)
            entries.append(round(qq - 2.0 * qc + cc, 6))
        table = F.array(*[F.lit(e) for e in entries])
        term = F.element_at(table, F.col(code_col)[j] + 1)
        score = term if score is None else score + term
    return (
        encoded.withColumn("adc", F.round(score, 6))
        .orderBy(F.asc("adc"), F.asc(id_col))
        .limit(k)
        .select(id_col, "adc")
    )


def _adc_expr(codebooks: list[list[list[float]]], qvec_sql: str,
              code_col: str) -> Column:
    """Asymmetric-distance expression for a BATCH of queries: per
    subspace j, ``round(|q_j|² − 2·q_j·c(code_j) + |c(code_j)|², 6)``
    with the centroid picked from the literal codebook by the
    candidate's code — then ``round(Σ_j term_j, 6)``. Same per-term
    arithmetic and rounding as :func:`pq_adc_topk`'s driver-built
    tables, but the query subvector folds run in the row (sequential
    ``aggregate``/``zip_with`` — the proven cross-engine contract), so
    ONE expression scores every (query, candidate) pair of a join.

    Built as one SQL string parsed JVM-side and memoized (the
    :func:`_probe_expr` lesson: k·m·sub literals through py4j Column
    calls cost seconds per plan build). ``qvec_sql`` must already be
    ``array<double>``; each subspace slice is let-bound via
    ``transform(array(...), s -> ...)[0]`` so it evaluates once."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    key = ("adc", tuple(tuple(tuple(c) for c in b) for b in codebooks),
           qvec_sql, code_col)
    cached = _PROBE_CACHE.get(key)
    if cached is not None:
        return cached
    terms = []
    for j, book in enumerate(codebooks):
        if any(len(c) != sub for c in book):
            raise ValueError(f"codebook {j} width != {sub}")
        arrays = ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in book)
        # |c|² per centroid, driver-side sequential fold — the same
        # left-to-right sum a SQL engine's list_dot_product(cv, cv)
        # produces (the pq_adc_topk contract)
        ccs = ",".join(
            f"{float(sum(float(x) * float(x) for x in c))!r}D"
            for c in book)
        code = f"element_at(`{code_col}`, {j + 1}) + 1"
        qsub = f"slice({qvec_sql}, {j * sub + 1}, {sub})"
        terms.append(
            f"transform(array({qsub}), s -> round("
            f"aggregate(zip_with(s, s, (x, y) -> x * y),"
            f" 0.0D, (a, x) -> a + x)"
            f" - 2.0D * aggregate(zip_with(s,"
            f" element_at(array({arrays}), {code}),"
            f" (x, y) -> x * y), 0.0D, (a, x) -> a + x)"
            f" + element_at(array({ccs}), {code}), 6))[0]"
        )
    col = F.expr(f"round({' + '.join(terms)}, 6)")
    if len(_PROBE_CACHE) > 64:
        _PROBE_CACHE.clear()
    _PROBE_CACHE[key] = col
    return col


def ivf_pq_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    int_centroids: list[list[int]],
    codebooks: list[list[list[float]]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ composed search — the query path a real 100 TB ANN
    deployment runs (Jégou 2011; both halves existed separately:
    :func:`ivf_topk_join_q` routes, :func:`pq_adc_topk` scores ONE
    query): route each query to its ``nprobe`` nearest coarse buckets
    (EXACT-integer squared L2 on the micro-unit grid — replayable),
    equi-join on the bucket id against the PQ-ENCODED corpus, score
    candidates by asymmetric distance over the m-byte codes (never
    touching the corpus vectors), rank top-``k`` per query ascending.

    Scale shape: corpus side is ONE map-only pass (coarse argmin +
    :func:`pq_encode`, both literal-codebook expressions in
    whole-stage codegen) — at deployment this pass is the index build,
    amortized across queries; the per-batch work is queries × nprobe
    bucket probes, a bucket equi-join (never a cross join), map-only
    ADC over codes, one per-query ranked window. Codebooks are KB
    metadata; candidate volume is bounded by bucket sizes × nprobe.

    Determinism contract: routing is pure BIGINT arithmetic; ADC
    terms round to 6 per subspace and the sum rounds to 6 (the
    :func:`pq_adc_topk` recipe); ranking ties break on ascending
    ``corpus_id`` — a SQL oracle replays encode, route, score, and
    rank value-for-value.

    Returns ``(query_id, corpus_id, adc, rank)``.
    """
    from pyspark.sql.window import Window

    if query_id == corpus_id:
        raise ValueError(
            f"query_id and corpus_id must differ (both {query_id!r}); "
            "alias one side before joining so output columns are unique"
        )

    def qv_sql(col: str) -> str:
        return (f"transform(cast(`{col}` as array<double>),"
                f" x -> cast(round(x * {float(scale)!r}D) as bigint))")

    c = pq_encode(
        spread_narrow_input(corpus.select(F.col(corpus_id).alias("__rid"),
                                          F.col(vec_col).alias("__rv"))),
        codebooks, vec_col="__rv", code_col="__code",
    ).withColumn(
        "__b", _probe_expr_q(int_centroids, qv_sql("__rv"), 1)[0]
    ).select("__rid", "__code", "__b")
    q = (
        spread_narrow_input(queries.select(
            F.col(query_id).alias("__lid"), F.col(vec_col).alias("__lv")
        ))
        .withColumn("__probes",
                    _probe_expr_q(int_centroids, qv_sql("__lv"), nprobe))
        .withColumn("__b", F.explode("__probes"))
        .drop("__probes")
    )
    joined = _salted_bucket_join(
        q, c, n_buckets=len(int_centroids), c_id="__rid",
    ).withColumn(
        "adc",
        _adc_expr(codebooks, "cast(`__lv` as array<double>)", "__code"),
    ).select("__lid", "__rid", "adc")  # codes/vectors stay pre-window
    w = Window.partitionBy("__lid").orderBy(F.asc("adc"), F.asc("__rid"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(query_id),
            F.col("__rid").alias(corpus_id),
            "adc",
            F.col("__rn").alias("rank"),
        )
    )


def exact_sqdist_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    int_centroids: list[list[int]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """EXACT squared-L2 top-k join — the ground truth an ANN deployment
    evaluates against. Exhaustive by construction: every query probes
    ALL coarse buckets (``nprobe = n_centroids``), so each (query,
    corpus) pair is scored exactly once through the SAME bucket
    equi-join shape as the approximate path — a hash join the planner
    spreads by bucket, never a CartesianProduct node. The |Q|·|C| work
    is irreducible for exact truth; run it on a bounded QUERY SAMPLE
    (recall evaluation), not the full query log.

    Distance = ``round(|q|² − 2·q·c + |c|², 6)`` with sequential
    double folds — the :func:`pq_adc_topk` expansion, so a SQL oracle
    (``list_dot_product``) replays scores value-for-value; ranking
    ties break ascending on ``corpus_id``. Returns ``(query_id,
    corpus_id, sqdist, rank)``.
    """
    from pyspark.sql.window import Window

    if query_id == corpus_id:
        raise ValueError(
            f"query_id and corpus_id must differ (both {query_id!r}); "
            "alias one side before joining so output columns are unique"
        )

    def qv_sql(col: str) -> str:
        return (f"transform(cast(`{col}` as array<double>),"
                f" x -> cast(round(x * {float(scale)!r}D) as bigint))")

    c = spread_narrow_input(corpus.select(
        F.col(corpus_id).alias("__rid"), F.col(vec_col).alias("__rv")
    )).withColumn("__b", _probe_expr_q(int_centroids, qv_sql("__rv"), 1)[0])
    q = (
        spread_narrow_input(queries.select(
            F.col(query_id).alias("__lid"), F.col(vec_col).alias("__lv")))
        .withColumn(
            "__probes",
            _probe_expr_q(int_centroids, qv_sql("__lv"),
                          len(int_centroids)))
        .withColumn("__b", F.explode("__probes"))
        .drop("__probes")
    )
    lv, rv = F.col("__lv"), F.col("__rv")
    sqd = F.round(
        dot_expr(lv, lv) - 2.0 * dot_expr(lv, rv) + dot_expr(rv, rv), 6)
    joined = _salted_bucket_join(
        q, c, n_buckets=len(int_centroids), c_id="__rid",
    ).withColumn("sqdist", sqd).select("__lid", "__rid", "sqdist")
    w = Window.partitionBy("__lid").orderBy(F.asc("sqdist"), F.asc("__rid"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__lid").alias(query_id),
            F.col("__rid").alias(corpus_id),
            "sqdist",
            F.col("__rn").alias("rank"),
        )
    )


def ivf_pq_recall_join(
    queries: DataFrame,
    corpus: DataFrame,
    int_centroids: list[list[int]],
    codebooks: list[list[list[float]]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """Recall@k of the IVF-PQ path against exact squared-L2 ground
    truth — the quality number a real deployment tunes (nprobe,
    codebook size) against; determinism gates alone can't see a
    recall regression (r8 verdict ask #4).

    Composes the two existing halves: :func:`ivf_pq_topk_join`
    (approximate top-k over PQ codes) and
    :func:`exact_sqdist_topk_join` (exhaustive exact top-k via the
    same bucket machinery at ``nprobe = all``). Per query:
    ``hits`` = |approx top-k ∩ exact top-k|, ``recall_at_k`` =
    ``round(hits / k, 4)``. Both rankings break ties ascending on
    ``corpus_id``, so the intersection — and therefore the recall —
    is a pure function of (queries, corpus, centroids, codebooks,
    k, nprobe) that a SQL oracle replays exactly.

    Scale shape: the approximate side is the production probe (bucket
    equi-join over codes); the exact side is |Q|·|C| — bounded by the
    evaluation SAMPLE of queries, the standard recall-eval cost.
    Returns ``(query_id, hits, k, recall_at_k)``, one row per query
    (0-hit queries included).
    """
    approx = ivf_pq_topk_join(
        queries, corpus, int_centroids, codebooks,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        k=k, nprobe=nprobe, scale=scale,
    ).select(query_id, corpus_id)
    exact = exact_sqdist_topk_join(
        queries, corpus, int_centroids,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        k=k, scale=scale,
    ).select(query_id, corpus_id)
    hits = (
        approx.join(exact, [query_id, corpus_id], "left_semi")
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        queries.select(query_id).distinct()
        .join(hits, query_id, "left")
        .select(
            query_id,
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            F.lit(int(k)).cast("long").alias("k"),
            F.round(
                F.coalesce("hits", F.lit(0).cast("long"))
                / F.lit(float(k)), 4).alias("recall_at_k"),
        )
    )


def ivf_pq_rerank_join(
    queries: DataFrame,
    corpus: DataFrame,
    int_centroids: list[list[int]],
    codebooks: list[list[list[float]]],
    *,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    k_pool: int = 20,
    nprobe: int = 4,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF-PQ search with EXACT re-ranking (IVFADC+R, Jégou 2011) —
    the standard deployment refine step between the pure code-domain
    path (:func:`ivf_pq_topk_join`) and exhaustive truth
    (:func:`exact_sqdist_topk_join`): the PQ path over-fetches a
    candidate POOL of ``k_pool`` per query cheaply (codes only, never
    corpus vectors), then exact round-6 squared L2 is computed for
    ONLY those pool rows and the final top-``k`` re-ranks on it. This
    recovers most of the recall PQ quantization loses at the cost of
    fetching ``k_pool`` raw vectors per query instead of zero — and
    orders of magnitude fewer than the exhaustive |Q|·|C|.

    Scale shape: the pool stage is the production bucket equi-join;
    the refine stage joins the (queries × k_pool)-row pool — the SMALL
    side, broadcast at any realistic query-batch size — against the
    corpus on id, so raw vectors are fetched by key, never scanned per
    query. One per-query ranked window over ≤ k_pool rows closes it.

    Determinism contract: the pool is the :func:`ivf_pq_topk_join`
    ranking (round-6 ADC, ties ascending id); the refine distance is
    the same ``round(|q|²−2qc+|c|², 6)`` sequential-fold expansion as
    the exact path; final ties break ascending on ``corpus_id`` — a
    SQL oracle replays pool, refine, and rank value-for-value.

    Returns ``(query_id, corpus_id, sqdist, rank)``, ``rank <= k``.
    """
    from pyspark.sql.window import Window

    if k_pool < k:
        raise ValueError(f"k_pool ({k_pool}) must be >= k ({k})")
    pool = ivf_pq_topk_join(
        queries, corpus, int_centroids, codebooks,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        k=k_pool, nprobe=nprobe, scale=scale,
    ).select(query_id, corpus_id)
    qv = queries.select(F.col(query_id),
                        F.col(vec_col).alias("__lv"))
    cv = corpus.select(F.col(corpus_id),
                       F.col(vec_col).alias("__rv"))
    lv, rv = F.col("__lv"), F.col("__rv")
    sqd = F.round(
        dot_expr(lv, lv) - 2.0 * dot_expr(lv, rv) + dot_expr(rv, rv), 6)
    joined = (
        pool.join(qv, query_id)
        .join(cv, corpus_id)
        .withColumn("sqdist", sqd)
        .select(query_id, corpus_id, "sqdist")  # vectors stay pre-window
    )
    w = Window.partitionBy(query_id).orderBy(
        F.asc("sqdist"), F.asc(corpus_id))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id, corpus_id, "sqdist",
                F.col("__rn").alias("rank"))
    )


def margin_bitext_pairs(
    src: DataFrame,
    tgt: DataFrame,
    int_centroids: "list[list[int]] | None",
    *,
    src_id: str,
    tgt_id: str,
    vec_col: str = "embedding",
    k: int = 4,
    scale: int = 1_000_000,
    candidates: "DataFrame | None" = None,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings",
    ACL 2019) — the standard method for harvesting parallel training
    pairs from two monolingual embedding spaces, and a core
    pretraining-data pipeline task.

    Ratio margin: ``margin(x, y) = cos(x, y) / ((mean of x's k-NN
    cosines into tgt + mean of y's k-NN cosines into src) / 2)`` —
    normalizing by local neighborhood density kills the hubness false
    positives a raw cosine threshold admits. Candidates are each
    src row's FORWARD nearest neighbor; ``is_mutual`` marks pairs that
    are also the tgt row's backward nearest neighbor (the
    high-precision intersection filter).

    Determinism contract: cosines quantize once to integer micros
    (``round(cos·1e6)`` — the cents recipe), kNN sums are BIGINT, and
    the margin is pure integer arithmetic ``(c · 2k·1e6) div
    (sum_fwd + sum_bwd)`` in parts-per-million — no float summation
    order anywhere, so a SQL engine replays every value. Pairs with
    non-positive cosine or non-positive denominator are dropped
    (deterministic; mining wants positive-similarity pairs only).

    Scale shape: ONE exhaustive bucket equi-join pass scores all
    (src, tgt) pairs — |X|·|Y| work, the exact-mining cost; run it on
    bounded shards (the published pipelines mine per language-pair
    shard). Both directions' rankings and kNN sums derive from the
    SAME pair frame via two windows — no second join pass.

    For web-scale |Y| pass ``candidates``: a DataFrame of UNIQUE
    (``src_id``, ``tgt_id``) pairs (e.g. from
    :func:`ivf_pq_topk_join` over-fetched to k' ≥ k per src) — the
    scale path is then a call-site parameter, not a rewrite. True
    cosines are computed for ONLY the candidate pairs (vectors
    fetched by two id equi-joins, |candidates| work), and everything
    downstream is unchanged: forward/backward NN ranks, kNN means,
    and the mutual flag are all taken WITHIN the candidate pair set —
    the standard retrieve-then-margin approximation the published
    FAISS-based mining pipelines make. ``int_centroids`` may be None
    in this mode (the coarse router is only used by the exhaustive
    pass). Duplicate candidate pairs would double-count kNN sums —
    the caller contract is uniqueness (every *_topk_join here emits
    unique pairs by construction).

    Returns ``(src_id, tgt_id, cos_micro, margin_ppm, is_mutual)``,
    one row per src with a valid forward NN.
    """
    from pyspark.sql.window import Window

    if src_id == tgt_id:
        raise ValueError("src_id and tgt_id must differ")
    if k < 1:
        raise ValueError("k must be >= 1")

    def qv_sql(col: str) -> str:
        return (f"transform(cast(`{col}` as array<double>),"
                f" x -> cast(round(x * {float(scale)!r}D) as bigint))")

    cos_micro = F.round(
        cosine_expr(F.col("__sv"), F.col("__tv")) * F.lit(float(scale)),
        0).cast("long").alias("c")
    if candidates is not None:
        xs = src.select(F.col(src_id).alias("__sid"),
                        F.col(vec_col).alias("__sv"))
        ys = tgt.select(F.col(tgt_id).alias("__tid"),
                        F.col(vec_col).alias("__tv"))
        pairs = (
            spread_narrow_input(candidates.select(
                F.col(src_id).alias("__sid"), F.col(tgt_id).alias("__tid")))
            .join(xs, "__sid").join(ys, "__tid")
            .select("__sid", "__tid", cos_micro)
        )
    else:
        if int_centroids is None:
            raise ValueError(
                "int_centroids is required for the exhaustive pass "
                "(pass candidates=... for the IVF scale path)")
        y = spread_narrow_input(tgt.select(
            F.col(tgt_id).alias("__tid"), F.col(vec_col).alias("__tv")
        )).withColumn(
            "__b", _probe_expr_q(int_centroids, qv_sql("__tv"), 1)[0])
        x = (
            spread_narrow_input(src.select(F.col(src_id).alias("__sid"),
                                           F.col(vec_col).alias("__sv")))
            .withColumn("__probes",
                        _probe_expr_q(int_centroids, qv_sql("__sv"),
                                      len(int_centroids)))
            .withColumn("__b", F.explode("__probes"))
            .drop("__probes")
        )
        pairs = _salted_bucket_join(
            x, y, n_buckets=len(int_centroids), c_id="__tid",
        ).select("__sid", "__tid", cos_micro)
    wf = Window.partitionBy("__sid").orderBy(F.desc("c"), F.asc("__tid"))
    wb = Window.partitionBy("__tid").orderBy(F.desc("c"), F.asc("__sid"))
    # THREE consumers read this frame (forward kNN sums, backward kNN
    # sums, the rank-1 candidates) — unpersisted, each consumer branch
    # replayed the full pair-scoring join + both windows (measured 3x
    # the gate's wall at sf0.1, 22 s → 7 s). The pinned frame is the
    # SMALL (sid, tid, c, rf, rb) pair frame — vectors were projected
    # out before the windows. Caller releases via release_caches after
    # materializing (the prefix_jaccard_join cache contract).
    ranked = pairs.select(
        "__sid", "__tid", "c",
        F.row_number().over(wf).alias("__rf"),
        F.row_number().over(wb).alias("__rb"),
    ).persist()
    sum_f = (
        ranked.filter(F.col("__rf") <= k)
        .groupBy("__sid").agg(F.sum("c").alias("__sumf"))
    )
    sum_b = (
        ranked.filter(F.col("__rb") <= k)
        .groupBy("__tid").agg(F.sum("c").alias("__sumb"))
    )
    cand = (
        ranked.filter((F.col("__rf") == 1) & (F.col("c") > 0))
        .join(sum_f, "__sid")
        .join(sum_b, "__tid")
        .filter(F.col("__sumf") + F.col("__sumb") > 0)
    )
    return cand.select(
        F.col("__sid").alias(src_id),
        F.col("__tid").alias(tgt_id),
        F.col("c").alias("cos_micro"),
        F.expr(f"c * {2 * int(k) * int(scale)}L"
               f" div (__sumf + __sumb)").alias("margin_ppm"),
        (F.col("__rb") == 1).alias("is_mutual"),
    )


def hard_triplet_mine(
    anchors: DataFrame,
    corpus: DataFrame,
    int_centroids: "list[list[int]] | None",
    *,
    anchor_id: str,
    corpus_id: str,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    candidates: "DataFrame | None" = None,
) -> DataFrame:
    """Hard-negative / triplet mining for embedding-model training
    data (the FaceNet/SBERT curation step): per anchor, the most
    similar SAME-label item (hardest positive anchor pairing), the
    most similar DIFFERENT-label item (hardest negative), the triplet
    margin between them, and how many negatives are ACTIVE (cosine >=
    the positive's — the pairs that actually produce gradient).
    Corpora train faster on mined hard triplets than on random pairs;
    this is the query that builds that training set.

    Determinism: cosines quantize once to integer micros (the cents
    recipe); per-class argmax ranks break ties ascending on the
    corpus id; everything downstream is exact integer comparison — a
    SQL oracle replays every value.

    Scale shape: one exhaustive bucket-cover equi-join scores anchor
    x corpus (run on a bounded anchor sample — mining batches, not
    the full corpus); two (anchor, same-label?) windows rank positives
    and negatives from the SAME pair frame; the active-negative count
    is one join of pairs against the KB-scale positives frame. Anchors
    score against every OTHER row (self-pairs excluded by id).

    For web-scale corpora pass ``candidates``: UNIQUE
    (``anchor_id``, ``corpus_id``) pairs (e.g. :func:`ivf_pq_topk_join`
    over-fetched per anchor) — the same call-site swap as
    :func:`margin_bitext_pairs`. True cosines and labels are fetched
    for ONLY the candidate pairs by two id equi-joins; hardest
    positive/negative, the margin, and the active-negative count are
    all taken WITHIN the candidate set (the retrieve-then-mine
    approximation). ``int_centroids`` may be None in this mode.

    Returns ``(anchor_id, pos_id, pos_cos, neg_id, neg_cos,
    margin_micro, n_active_negatives)`` — anchors lacking a positive
    or negative candidate are dropped (deterministic).
    """
    from pyspark.sql.window import Window

    if anchor_id == corpus_id:
        raise ValueError("anchor_id and corpus_id must differ")

    def qv_sql(col: str) -> str:
        return (f"transform(cast(`{col}` as array<double>),"
                f" x -> cast(round(x * {float(scale)!r}D) as bigint))")

    pair_cols = [
        "__aid", "__alb", "__cid",
        (F.col("__clb") == F.col("__alb")).alias("__same"),
        F.round(cosine_expr(F.col("__av"), F.col("__cv"))
                * F.lit(float(scale)), 0).cast("long").alias("c"),
    ]
    if candidates is not None:
        av = anchors.select(
            F.col(anchor_id).alias("__aid"),
            F.col(label_col).alias("__alb"),
            F.col(vec_col).alias("__av"))
        cv = corpus.select(
            F.col(corpus_id).alias("__cid"),
            F.col(label_col).alias("__clb"),
            F.col(vec_col).alias("__cv"))
        pairs = (
            spread_narrow_input(candidates.select(
                F.col(anchor_id).alias("__aid"),
                F.col(corpus_id).alias("__cid")))
            .join(av, "__aid").join(cv, "__cid")
            .filter(F.col("__aid") != F.col("__cid"))
            .select(*pair_cols)
        )
    else:
        if int_centroids is None:
            raise ValueError(
                "int_centroids is required for the exhaustive pass "
                "(pass candidates=... for the IVF scale path)")
        c = spread_narrow_input(corpus.select(
            F.col(corpus_id).alias("__cid"),
            F.col(label_col).alias("__clb"),
            F.col(vec_col).alias("__cv"),
        )).withColumn(
            "__b", _probe_expr_q(int_centroids, qv_sql("__cv"), 1)[0])
        a = (
            spread_narrow_input(anchors.select(
                F.col(anchor_id).alias("__aid"),
                F.col(label_col).alias("__alb"),
                F.col(vec_col).alias("__av")))
            .withColumn("__probes",
                        _probe_expr_q(int_centroids, qv_sql("__av"),
                                      len(int_centroids)))
            .withColumn("__b", F.explode("__probes"))
            .drop("__probes")
        )
        pairs = (
            _salted_bucket_join(
                a, c, n_buckets=len(int_centroids), c_id="__cid")
            .filter(F.col("__aid") != F.col("__cid"))
            .select(*pair_cols)
        )
    w = Window.partitionBy("__aid", "__same").orderBy(
        F.desc("c"), F.asc("__cid"))
    # pos / neg / active all read the scored pair frame — unpersisted,
    # each branch replayed the bucket-cover join + cosine fold (3x the
    # gate's wall). The pinned frame is (aid, alb, cid, same, c, rn) —
    # vectors already projected out. Caller releases via
    # release_caches after materializing (the cache contract).
    ranked = pairs.withColumn("__rn", F.row_number().over(w)).persist()
    pos = ranked.filter(F.col("__same") & (F.col("__rn") == 1)).select(
        "__aid", F.col("__cid").alias("pos_id"),
        F.col("c").alias("pos_cos"))
    neg = ranked.filter(~F.col("__same") & (F.col("__rn") == 1)).select(
        "__aid", F.col("__cid").alias("neg_id"),
        F.col("c").alias("neg_cos"))
    active = (
        ranked.filter(~F.col("__same"))
        .join(pos.select("__aid", "pos_cos"), "__aid")
        .filter(F.col("c") >= F.col("pos_cos"))
        .groupBy("__aid")
        .agg(F.count(F.lit(1)).alias("n_active_negatives"))
    )
    return (
        pos.join(neg, "__aid")
        .join(active, "__aid", "left")
        .select(
            F.col("__aid").alias(anchor_id),
            "pos_id", "pos_cos", "neg_id", "neg_cos",
            (F.col("pos_cos") - F.col("neg_cos")).alias("margin_micro"),
            F.coalesce("n_active_negatives", F.lit(0).cast("long"))
            .alias("n_active_negatives"),
        )
    )
