"""Distributed k-means (Lloyd's) over embedding columns.

Engine-native north-star surface (the reference has no clustering ops;
compare ``src/query/index.ts``'s aggregate-only analytics). Clustering
is the backbone of several operators that already live here — SemDeDup
keys on cluster ids (``operators/dedup.py``), IVF/PQ ANN partitions by
centroid (``operators/similarity.py``), cluster-based pruning scores
within clusters — so a first-class, *distributed* Lloyd's loop closes
the loop: those operators can train their partitions on the full
corpus instead of a driver-side sample.

Scale shape (the part that matters at 100 TB):

- **Assignment is map-only.** Centroids are k x dim literals compiled
  into the plan (k*dim <= a few thousand values — same bounded-driver
  -state pattern as the IVF codebooks). Squared distance runs in JVM
  ``zip_with``/``aggregate`` higher-order functions inside whole-stage
  codegen; zero Python, zero shuffle, zero broadcast table.
- **The update step is ONE k-row shuffle.** Per-dimension sums are k
  independent ``SUM(qvec[i])`` aggregates in a single ``groupBy(cid)``
  pass — map-side partial aggregation reduces every partition to k
  rows of d+1 longs before anything crosses the wire. No posexplode
  (which would shuffle n*d rows), no collect of assignments.
- **Per-iteration driver state is k*(d+1) integers** — the only thing
  collected, ever.

Determinism (why this survives a correctness oracle): floating-point
Lloyd's is not reproducible across partitionings — double summation
order changes the low bits of the means, which can flip a borderline
assignment. This implementation is **fixed-point**: vectors quantize
once to integer micro-units (``round(x * scale)``, exact for float
inputs because a 24-bit float times a 20-bit scale fits double's 53
bits), all distances are exact BIGINT sums (order-independent), the
argmin tie-breaks on the lowest cluster id, and the centroid update
re-rounds to integers (``round(sum / n)`` — one IEEE division of an
exactly-represented integer sum, identical on every engine). The same
recursion is therefore replayable in ANSI SQL, numpy, or another Spark
cluster bit-for-bit; see the ``kmeans_cluster_stats`` gate twin.

Init is deterministic too: the k rows with the lowest ids seed the
centroids (callers wanting k-means++ can pass explicit ``init``).
Empty clusters keep their previous centroid (documented, tested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["quantize_to_grid", "assign_to_centroids", "kmeans_fit",
           "simplified_silhouette",
           "dbscan_2d"]

DEFAULT_SCALE = 1_000_000


def quantize_to_grid(col: Column, *, scale: int = DEFAULT_SCALE) -> Column:
    """``array<float/double>`` -> ``array<long>`` micro-unit grid.

    ``float -> double`` widening is exact and ``x * scale`` stays
    inside double's 53-bit mantissa for float inputs, so the rounding
    is a pure function of the stored value — the foundation of the
    cross-engine determinism argument above.
    """
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.round(x * float(scale)).cast("long"),
    )


_EXPR_CACHE: "dict[tuple, Column]" = {}


def _cmat_sql(centroids: list[list[int]]) -> str:
    """The k×dim integer codebook as ONE SQL array-of-arrays literal."""
    return "array(" + ",".join(
        "array(" + ",".join(f"{int(v)}L" for v in c) + ")"
        for c in centroids
    ) + ")"


def _cands_sql(centroids: list[list[int]], qvec_sql: str) -> str:
    """``(sqdist, cid)`` candidate structs against literal centroids —
    exact integer squared L2, one shared lambda (the per-centroid form
    k×-explodes the codegen tree, measured)."""
    return (
        f"transform({_cmat_sql(centroids)}, (c, i) -> named_struct("
        f"'d', aggregate(zip_with({qvec_sql}, c,"
        f" (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x),"
        f" 'i', i))"
    )


def _cached_expr(key: tuple, build) -> Column:
    expr = _EXPR_CACHE.get(key)
    if expr is None:
        expr = build()
        if len(_EXPR_CACHE) > 64:  # codebooks are few per session
            _EXPR_CACHE.clear()
        _EXPR_CACHE[key] = expr
    return expr


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[int]],
    *,
    qvec_col: str = "qvec",
    cluster_col: str = "cid",
    dist_col: str | None = "sqdist",
) -> DataFrame:
    """Nearest-centroid assignment against literal integer centroids.

    Map-only: ONE array-of-arrays literal + one indexed ``transform``
    building ``(sqdist, cid)`` structs, ``array_min`` picks the
    lexicographic minimum — exact argmin with ties broken by the
    LOWEST cluster id (struct comparison is field-ordered).

    Built as ONE JVM-parsed SQL string and memoized per codebook (the
    ``_probe_expr`` lesson from operators/similarity.py: pushing k×dim
    literals through per-literal Column calls costs ~1s of py4j round
    trips per call — kmeans_fit makes n_iter+1 calls, so the gate
    queries paid seconds of pure driver time per run).
    """
    key = ("assign", tuple(tuple(c) for c in centroids), qvec_col)
    best = _cached_expr(key, lambda: F.expr(
        f"array_min({_cands_sql(centroids, f'`{qvec_col}`')})"))
    out = df.withColumn("__best", best).withColumn(
        cluster_col, F.col("__best.i"))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.col("__best.d"))
    return out.drop("__best")


def kmeans_fit(
    df: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = DEFAULT_SCALE,
    init: list[list[int]] | None = None,
    qvec_col: str = "qvec",
) -> tuple[DataFrame, list[list[int]]]:
    """Fixed-point Lloyd's: ``n_iter`` assign+update rounds, then a
    final assignment against the last centroids.

    Returns ``(assigned, centroids)`` where ``assigned`` carries
    ``cid`` (int) and ``sqdist`` (exact BIGINT, in grid units²) and
    ``centroids`` is the final k x dim integer grid — ready to feed
    :func:`operators.similarity.cluster_prune`, SemDeDup, or an IVF
    index build.

    The quantized frame is cached: every iteration's assignment and
    the update agg replay it, and at scale re-reading the source per
    iteration would dominate the loop.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    qdf = df.withColumn(qvec_col, quantize_to_grid(F.col(vec_col),
                                                   scale=scale))
    qdf = qdf.persist()

    if init is None:
        # deterministic seed: the k lowest-id rows' quantized vectors
        seed_rows = (qdf.select(id_col, qvec_col)
                     .orderBy(id_col).limit(k).collect())
        if len(seed_rows) < k:
            raise ValueError(f"k={k} exceeds row count {len(seed_rows)}")
        centroids = [list(r[qvec_col]) for r in seed_rows]
    else:
        centroids = [list(c) for c in init]
        if len(centroids) != k:
            raise ValueError("init must supply exactly k centroids")
    # dim from the centroids — no extra inspection job against qdf
    dim = len(centroids[0])

    for _ in range(n_iter):
        assigned = assign_to_centroids(qdf, centroids,
                                       qvec_col=qvec_col, dist_col=None)
        # ONE groupBy(cid) shuffle: d per-dimension exact integer sums
        # + the member count, map-side combined to k rows per partition
        sums = (
            assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.col(qvec_col)[i]).alias(f"s{i}")
                   for i in range(dim)])
            .collect()
        )
        by_cid = {r["cid"]: r for r in sums}
        new_centroids = []
        for i, old in enumerate(centroids):
            r = by_cid.get(i)
            if r is None or r["n"] == 0:
                new_centroids.append(old)  # empty cluster: keep seed
            else:
                n = r["n"]
                # round(sum/n): sum is an exactly-represented integer
                # (|sum| << 2^53 for micro-unit grids), so the single
                # IEEE division + half-away-from-zero round is
                # identical on every engine
                new_centroids.append(
                    [int(_round_half_away(r[f"s{j}"] / n))
                     for j in range(dim)])
        centroids = new_centroids

    final = assign_to_centroids(qdf, centroids, qvec_col=qvec_col)
    return final, centroids


def _round_half_away(x: float) -> int:
    """Round half away from zero ON THE DOUBLE ITSELF — C
    ``std::round`` semantics, matching DuckDB ``round(double)`` and
    Spark ``round()`` (Python's ``round`` is banker's, and
    ``floor(x + 0.5)`` mis-rounds doubles just under a .5 boundary
    when the add rounds up)."""
    import math

    y = abs(x)
    fl = math.floor(y)
    # y - floor(y) is EXACT: floor(y)=0 for y<1, else Sterbenz applies
    # (floor(y) <= y <= 2*floor(y)). Computing on |x| matters: for x
    # just above -0.5 the subtraction x - floor(x) rounds and fakes a
    # .5 tie.
    r = fl + 1 if (y - fl) >= 0.5 else fl
    return int(-r if x < 0 else r)


def dbscan_2d(
    df: DataFrame,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
    scale: int = DEFAULT_SCALE,
    max_cc_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Grid-accelerated DBSCAN over two coordinate columns — density
    clustering to complement :func:`kmeans_fit` (finds arbitrary-shape
    clusters and explicit NOISE, no k to choose). Standard use: run on
    a 2-D reduction of an embedding column (JL / PCA from
    ``operators/reduce_dim``).

    Scale shape (the classic ε-neighborhood blow-up and its fix):
    naive DBSCAN needs an all-pairs distance test. Bucketing points
    into an ε-sized grid means any ε-neighbor lives in one of the 9
    surrounding cells, so candidate pairs come from ONE cell-keyed
    equi-join (probe side exploded to its 9 neighbor cells — a bounded
    9× map-side expansion, never N²). Per-cell population bounds the
    worst case; density defines the workload, not table size.

    Exactness: coordinates quantize once to integer micro-units, ε to
    ``qeps = round(eps·scale)``; the neighbor test is the exact
    integer ``dx² + dy² <= qeps²``; cell ids are
    ``floor(q / qeps)`` computed in double (deterministic IEEE, same
    expression cross-engine, negatives handled by FLOOR not
    truncation). Core points have ``|N_ε| >= min_pts`` (self
    included, the textbook definition); clusters are connected
    components over core-core ε-adjacency (min-label, exact); border
    points join the MINIMUM cluster id among their in-range cores —
    the one point where textbook DBSCAN is scan-order-dependent, made
    deterministic here and replayed identically by the SQL twin.

    Returns ``(id, role, cluster)`` — role in core/border/noise,
    cluster = min member id (NULL for noise).
    """
    from deltalake_spark.operators.dedup import connected_components

    qeps = int(round(float(eps) * scale))
    if qeps <= 0:
        raise ValueError("eps must be positive")
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")

    def q(c: str) -> Column:
        return F.round(F.col(c).cast("double") * float(scale)) \
            .cast("long")

    def cell(qc: Column) -> Column:
        return F.floor(qc.cast("double") / float(qeps)).cast("long")

    pts = df.select(
        F.col(id_col).alias("pid"), q(x_col).alias("qx"),
        q(y_col).alias("qy"),
    ).withColumn("cx", cell(F.col("qx"))) \
     .withColumn("cy", cell(F.col("qy"))).persist()

    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    probe = (
        pts.select(F.col("pid").alias("pid_b"),
                   F.col("qx").alias("qx_b"), F.col("qy").alias("qy_b"),
                   "cx", "cy", F.explode(offsets).alias("o"))
        .select("pid_b", "qx_b", "qy_b",
                (F.col("cx") + F.col("o.dx")).alias("cx"),
                (F.col("cy") + F.col("o.dy")).alias("cy"))
    )
    dx, dy = F.col("qx") - F.col("qx_b"), F.col("qy") - F.col("qy_b")
    pairs = (
        pts.join(probe, ["cx", "cy"])
        .filter((F.col("pid") != F.col("pid_b"))
                & (dx * dx + dy * dy <= F.lit(qeps * qeps)))
        .select("pid", "pid_b")
    ).persist()

    nbr = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_nbr"))
    flags = pts.select("pid").join(nbr, "pid", "left").select(
        "pid",
        (F.coalesce("n_nbr", F.lit(0)) + 1 >= int(min_pts))
        .alias("is_core"),
    ).persist()

    cores = flags.filter("is_core").select("pid")
    cc_edges = (
        pairs.join(cores.withColumnRenamed("pid", "pid"), "pid")
        .join(cores.withColumnRenamed("pid", "pid_b"), "pid_b")
        .filter(F.col("pid") < F.col("pid_b"))
        .select(F.col("pid").alias("src"), F.col("pid_b").alias("dst"))
    )
    labels = connected_components(
        cc_edges, max_iter=max_cc_iter, checkpoint_dir=checkpoint_dir,
    ).withColumnRenamed("component", "cluster")
    # isolated cores (no core neighbor) are singleton clusters
    core_lab = cores.join(labels, cores.pid == labels.node, "left") \
        .select("pid", F.coalesce("cluster", F.col("pid"))
                .alias("cluster"))

    border_lab = (
        pairs.join(flags.filter(~F.col("is_core")).select("pid"), "pid")
        .join(core_lab.select(F.col("pid").alias("pid_b"),
                              F.col("cluster")), "pid_b")
        .groupBy("pid").agg(F.min("cluster").alias("cluster"))
    )

    out = (
        flags.join(core_lab.withColumnRenamed("cluster", "__cc"),
                   "pid", "left")
        .join(border_lab.withColumnRenamed("cluster", "__bc"),
              "pid", "left")
        .select(
            F.col("pid").alias("id"),
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("__bc").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role"),
            F.coalesce("__cc", "__bc").alias("cluster"),
        )
    )
    return out


def simplified_silhouette(
    assigned: DataFrame,
    centroids: list[list[int]],
    *,
    qvec_col: str = "qvec",
    cluster_col: str = "cid",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the O(n·k)
    clustering-quality score (classic silhouette is O(n²), a
    non-starter at corpus scale): per point,
    ``a = ||x − c_own||``, ``b = min over other centroids ||x − c||``,
    ``s = (b − a) / max(a, b)`` (0 when both are 0).

    Determinism contract: distances are sqrt of EXACT integer squared
    distances on the quantized grid; each point's ``s`` is a fixed
    IEEE chain, and the output aggregates are all ORDER-INDEPENDENT —
    histogram bin counts (integer comparisons on deterministic
    doubles), min/max, and the exact integer sum of squared distances
    — no float summation order anywhere, so the SQL twin is
    value-level without rounding.

    Map-only over the assigned frame (one centroid-literal transform,
    shared with :func:`assign_to_centroids`'s shape) + ONE cluster
    aggregate. Output per cluster: ``(cid, n, n_neg, n_low, n_mid,
    n_high, n_top, min_s, max_s, sum_sqdist_own)``.
    """
    if len(centroids) < 2:
        # silhouette is undefined for k=1: the "other centroid" distance
        # would be array_min over an empty array (null s, rows silently
        # missing from every histogram bin) — fail loudly instead
        raise ValueError("simplified_silhouette needs >= 2 centroids")
    # ONE JVM-parsed, memoized expression (the assign_to_centroids /
    # _probe_expr py4j lesson), let-bound so the k×dim distance
    # candidates evaluate ONCE per row: `cs` is a bound VALUE, and the
    # repeated filter()/sqrt() references below run over the in-memory
    # k-struct array, not the distance computation. The old DSL form
    # project-collapsed `cands` into both `own` and `other` (2× the
    # distance work) and paid ~1s of per-literal Column calls per
    # build. `inline` emits the (down, s) pair as a one-row generator —
    # a struct column read twice would inline the whole tree twice.
    key = ("sil", tuple(tuple(c) for c in centroids), qvec_col,
           cluster_col)
    own = f"filter(cs, s_ -> s_.i = `{cluster_col}`)[0].d"
    oth = f"array_min(filter(cs, s_ -> s_.i != `{cluster_col}`)).d"
    a = f"sqrt(cast({own} as double))"
    b = f"sqrt(cast({oth} as double))"
    pair = _cached_expr(key, lambda: F.expr(
        f"inline(transform(array({_cands_sql(centroids, f'`{qvec_col}`')}),"
        f" cs -> named_struct("
        f"'__down', {own},"
        f" '__s', if(greatest({a}, {b}) > 0d,"
        f" ({b} - {a}) / greatest({a}, {b}), 0d))))"))
    enriched = assigned.select(F.col(cluster_col).alias("cid"), pair)
    return enriched.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__s") < 0).cast("long")).alias("n_neg"),
        F.sum(((F.col("__s") >= 0) & (F.col("__s") < 0.25))
              .cast("long")).alias("n_low"),
        F.sum(((F.col("__s") >= 0.25) & (F.col("__s") < 0.5))
              .cast("long")).alias("n_mid"),
        F.sum(((F.col("__s") >= 0.5) & (F.col("__s") < 0.75))
              .cast("long")).alias("n_high"),
        F.sum((F.col("__s") >= 0.75).cast("long")).alias("n_top"),
        F.min("__s").alias("min_s"),
        F.max("__s").alias("max_s"),
        F.sum("__down").alias("sum_sqdist_own"),
    )
