"""SparkSession factory with scale-oriented defaults.

Tests run on local[N] but every knob here is chosen for the 100 TB /
1000-executor design point:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting);
- shuffle partitions sized for the local fixture scale, overridable — on a
  real cluster this would be ~2-3x total cores or left to AQE;
- Arrow transfers on (pandas UDF hot paths are Arrow-batched);
- broadcast threshold left at default 10 MB so small dims (region/nation/
  supplier) broadcast automatically; big joins shuffle on their keys;
- file listing on the driver (``LISTING_THRESHOLD``): a Delta scan names
  its files from the transaction log, so Spark only has to stat them.
  Above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
  (Spark's default: 32) it runs that stat as a Spark job instead, one
  task per path. Measured on a 4-core local box, plan build of
  ``read.schema(s).parquet(*paths)``, min of 5: 40 paths 0.44 s as a
  job vs 0.027 s serial, 1,000 paths 4.1 s vs 0.17 s, 10,000 paths
  38 s vs 1.6 s; even with the job capped at 4 tasks, 10,000 paths took
  1.8 s. Serial listing won at every size, so the limit is 100,000
  paths, an order of magnitude above the largest size measured. The
  engine's write path is POSIX-only (``os.rename``/``os.walk`` in
  ``DeltaTable._stage_and_move``), so the per-path latency of an object
  store's stat, where a listing job can pay off, does not apply today.
  It is a session default, not a per-scan toggle, because scans are
  built concurrently from several threads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: paths a scan may name before Spark lists them with a job (see above)
LISTING_THRESHOLD = 100_000


def physical_gib() -> int:
    """Physical RAM of this machine in whole GiB, 0 when unknown."""
    try:
        return (os.sysconf("SC_PHYS_PAGES")
                * os.sysconf("SC_PAGE_SIZE")) // (1024 ** 3)
    except (ValueError, OSError, AttributeError):
        return 0


def default_driver_memory(cores: int, phys_gib: int) -> str:
    """Local-mode driver heap for ``cores`` task slots on a machine with
    ``phys_gib`` GiB of RAM, as a ``spark.driver.memory`` value; unknown
    RAM (0) gives the 8g floor.

    In local[N] the ONE driver JVM holds every executor thread's
    execution memory, so a fixed 8g heap at N=32 leaves ~150 MB of
    execution memory per concurrent task and the session spends its
    time in GC — measured 2-5x wall inflation on the TPC-H headline
    gates (q5 10.2 s → 1.8 s at sf0.1 after resizing). Rule: ~1 GB per
    core, bounded by a quarter of machine RAM, floor at 8 GB,
    capped at 31 GB because HotSpot turns compressed oops off at heaps
    of 32 GB and above (every object reference doubles in size).
    """
    return f"{min(31, max(8, min(cores, phys_gib // 4)))}g"


def get_spark(
    app_name: str = "deltalake-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    # Local-mode heap sizing (guide §5, see default_driver_memory).
    # SPARK_DRIVER_MEM overrides; on a real cluster the driver does no
    # data work and executors size their own heaps
    # (spark.executor.memory), so this default only governs local mode.
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(
        cpus or os.cpu_count() or 8, physical_gib())

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(LISTING_THRESHOLD))
        # events.parquet carries TIMESTAMP(NANOS). Spark 4.1 reads it as
        # timestamp_ntz truncated to microseconds whether this legacy
        # conf is true or false (older versions honored it and read
        # long nanos); ts_to_long_nanos normalizes either form
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release_caches(spark: SparkSession) -> int:
    """Unpersist every cached DataFrame/RDD in the session and return
    how many persistent RDDs were dropped.

    Several operators pin intermediate frames with ``persist()`` so
    multi-branch plans agree on sampled partition layouts (range
    boundaries, iterative lineage cuts). Those pins must outlive the
    operator call — the returned DataFrame is lazy — so the CALLER owns
    cleanup: materialize the result, then call this between queries in
    a long-lived session (bench.py does) to keep storage memory flat.
    Do NOT call it while other queries on the same session are still
    running — clearing a pin mid-flight forces a recompute that may
    resample range boundaries inconsistently between plan branches.
    """
    jsc = spark.sparkContext._jsc.sc()
    n = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    # clearCache drops CacheManager (DataFrame) entries; sweep any
    # RDD-level leftovers too so the count really reaches zero
    remaining = jsc.getPersistentRDDs()
    it = remaining.values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    return n


def cached_rdd_count(spark: SparkSession) -> int:
    """Number of persistent RDDs the JVM currently tracks (storage-leak
    probe for tests and long-session monitoring)."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def ts_to_long_nanos(df, col: str = "ts"):
    """Normalize a timestamp column to epoch nanoseconds (long).

    The fixture ``events.ts`` is parquet TIMESTAMP(NANOS). Depending on
    the Spark version it surfaces either as a long (when the legacy
    ``nanosAsLong`` conf is honored) or as ``timestamp``/``timestamp_ntz``
    truncated to microseconds (Spark ≥4.1 ignores the legacy conf). All
    engine code works in the integer-nanosecond domain, so convert the
    timestamp forms to ``unix_micros * 1000`` — the same µs truncation
    DuckDB applies when it reads the file, keeping oracle values aligned.
    """
    from pyspark.sql import functions as F

    if col not in df.columns:
        return df
    dtype = dict(df.dtypes)[col]
    if not dtype.startswith("timestamp"):
        return df  # already long nanos
    if dtype == "timestamp_ntz":
        # pure NTZ arithmetic: naive wall clock treated as UTC (exactly
        # what DuckDB's epoch_ns does) with NO session-timezone
        # dependence — a cast to TIMESTAMP would shift by the session tz
        expr = F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`) * 1000"
        )
    else:
        expr = F.unix_micros(F.col(col)) * F.lit(1000)
    return df.withColumn(col, expr)


#: absolute path -> (content fingerprint, schema); one entry per path,
#: replaced when the content changes
_SCHEMA_CACHE: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple:
    """``(mtime_ns, size)`` of a file; for a directory, the sorted
    ``(relative path, mtime_ns, size)`` of every file under it, so an
    added, removed or rewritten file changes it, partition subdirectories
    included."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    entries = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed while we listed
                continue
            entries.append((os.path.relpath(p, path), st.st_mtime_ns,
                            st.st_size))
    return tuple(sorted(entries))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of a parquet file or directory, inferred once per content.

    Inference starts one Spark job per call (~50-100 ms); a scan given
    the schema starts none. The cache holds only the ``StructType``,
    never a DataFrame: each read still builds its own plan, so two
    scans of one table (a self-join) keep distinct attribute ids.

    The file content is the whole key. The one session conf that could
    change an inferred fixture type, ``nanosAsLong``, does not on Spark
    4.1: ``events.ts`` (TIMESTAMP(NANOS)) infers as ``timestamp_ntz``
    with it on or off, and a read pinned to that schema returns the
    same values.
    """
    path = os.path.abspath(path)
    fp = _fingerprint(path)
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == fp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMA_CACHE[path] = (fp, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from
    :func:`parquet_schema`, so a repeated read starts no Spark job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load fixture tables as temp views + return dict of DataFrames."""
    tables = {}
    all_names = names or (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for name in all_names:
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events":
            df = ts_to_long_nanos(df)
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables
