"""Lineage-cut strategy for iterative operators (CC, PageRank, HITS,
LPA, BFS, k-core, BPE): local vs reliable checkpointing, with bounded
storage across rounds.

Every iterative DataFrame loop must cut its lineage each round —
otherwise round i's plan nests and REPLAYS every earlier round's
join+agg (quadratic re-execution), and past a few dozen rounds the
plan itself overwhelms the optimizer (k_core's round plan references
the previous frame 3x, so the LOGICAL tree grows 3^rounds — at
n_rounds=10 merely stringifying it OOMed a 16g driver; caught r8,
pinned by tests/test_iterative_checkpoint.py). Two cut strategies:

- ``checkpoint_dir=None`` (default): ``localCheckpoint`` /
  persist+materialize. Blocks live in EXECUTOR storage with truncated
  lineage — fast and fine on ``local[k]``, but on a real cluster an
  executor loss mid-iteration loses blocks that can no longer be
  recomputed, killing the job. This is the right default for
  interactive/local work and bounded-round loops.

- ``checkpoint_dir=<path>``: RELIABLE cut — each round's frame is
  written as parquet under the dir (HDFS/S3/shared FS on a real
  cluster) and read back, truncating the plan to a file scan that
  survives executor loss, at the cost of one distributed write per
  round. This is the 100 TB production setting.

Storage retention (r8 ADVICE): a loop that cuts every round must also
RELEASE prior rounds, or peak storage grows rounds x frame-size —
localCheckpoint blocks linger until GC + ContextCleaner get to them,
and reliable checkpoint files are never deleted by Spark at all
(``spark.cleaner.referenceTracking.cleanCheckpoints`` only covers
RDD-GC-driven cleanup and files still survive context stop). The
:class:`RoundCutter` below is loop-scoped and rotates: each cut
releases the oldest out-of-grace round (unpersist for local blocks,
filesystem delete for reliable round dirs), so steady-state storage is
<= 2 rounds regardless of round count. The LAST round is never
released — the loop's result frame reads from it; callers release it
like any operator output (``session.release_caches`` locally; delete
``checkpoint_dir`` after consuming the result in reliable mode).

Both strategies produce IDENTICAL results (pinned by
tests/test_iterative_checkpoint.py); only fault-tolerance and the
round-boundary I/O differ.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

# module-level, process-lifetime sequence so two cutters sharing a
# checkpoint_dir (e.g. HITS' hub and auth chains, or CC called twice)
# never collide on round paths
_CUTTER_SEQ = itertools.count(1)

# per-application record of the last caller-supplied checkpoint dir —
# sc.getCheckpointDir() returns the fs-qualified, UUID-suffixed dir
# Spark minted (file:/tmp/ck/<uuid>), which never prefix-matches the
# caller's raw path, so comparing against it re-runs setCheckpointDir
# (and mints a fresh UUID subdir) on every call (r8 ADVICE)
_LAST_CKPT_DIR: dict[str, str] = {}


def _release_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpointed frame's executor blocks NOW.

    ``DataFrame.unpersist`` only clears CacheManager entries; a local
    checkpoint's blocks are pinned at the RDD level inside the plan's
    LogicalRDD leaf, where they otherwise linger until Python+JVM GC
    and the ContextCleaner get around to them (r8 ADVICE). Best-effort:
    a plan shape we don't recognize just falls back to GC-based
    cleanup, it never fails the job.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FS API — works
    for any backend Spark itself can write to (file/hdfs/s3a/...)."""
    try:
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    except Exception:
        pass  # retention is hygiene, never worth failing the job over


class RoundCutter:
    """Loop-scoped lineage-cut manager: cut each round's plan AND
    release out-of-grace prior rounds, bounding both plan size and
    storage at any round count.

    One instance per iterative chain (HITS needs two — hub and auth
    alternate, so each chain's previous frame is still live when the
    other cuts). Methods:

    - ``cut(df, eager=..., keep=...)`` — localCheckpoint (local mode)
      or parquet round-trip (reliable mode). ``keep=True`` exempts the
      frame from rotation (inputs read across many rounds or after the
      loop, e.g. connected_components' canonical edge set).
    - ``materialize(df)`` — the persist+count round form (recomputable
      blocks; the PageRank recipe) in local mode; identical to an
      eager ``cut`` in reliable mode.

    Rotation grace: local ``cut`` keeps the 2 most recent rounds — a
    LAZY cut's blocks materialize only at the caller's next action
    (reading the previous round's blocks), so release must lag one
    round; the loop contract is at most one un-materialized lazy cut
    outstanding, which every loop here satisfies (each round ends in a
    count/agg). Reliable cuts and persist rounds keep 1 — the parquet
    write is eager (the read-back never touches the previous round's
    files) and persist blocks are recomputable by definition.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None,
                 label: str = "rounds"):
        self._spark = spark
        self._dir: str | None = None
        if checkpoint_dir is not None:
            self._dir = (f"{str(checkpoint_dir).rstrip('/')}/"
                         f"{label}-{next(_CUTTER_SEQ):04d}")
        self._live: list[tuple[str, object]] = []
        self._round = itertools.count(1)

    @property
    def reliable(self) -> bool:
        return self._dir is not None

    def _rotate(self, handle: tuple[str, object], grace: int) -> None:
        self._live.append(handle)
        while len(self._live) > grace:
            kind, h = self._live.pop(0)
            if kind == "df":
                h.unpersist()
            elif kind == "lc":
                _release_local_checkpoint(h)
            else:
                _hadoop_delete(self._spark, h)

    def _reliable_cut(self, df: DataFrame, keep: bool) -> DataFrame:
        kind = "keep" if keep else "r"
        path = f"{self._dir}/{kind}{next(self._round):05d}"
        df.write.mode("overwrite").parquet(path)
        # read back with the EXPLICIT schema: an all-rows-peeled round
        # writes zero part files and schema inference would fail
        out = self._spark.read.schema(df.schema).parquet(path)
        if not keep:
            self._rotate(("path", path), grace=1)
        return out

    def cut(self, df: DataFrame, *, eager: bool = True,
            keep: bool = False) -> DataFrame:
        if self._dir is not None:
            return self._reliable_cut(df, keep)
        out = df.localCheckpoint(eager=eager)
        if not keep:
            self._rotate(("lc", out), grace=2)
        return out

    def materialize(self, df: DataFrame) -> DataFrame:
        if self._dir is not None:
            return self._reliable_cut(df, keep=False)
        df = df.persist()
        df.count()
        self._rotate(("df", df), grace=1)
        return df


def cut_lineage(
    df: DataFrame,
    *,
    checkpoint_dir: str | None = None,
    eager: bool = True,
) -> DataFrame:
    """One-off lineage cut: ``localCheckpoint`` when ``checkpoint_dir``
    is None, reliable ``Dataset.checkpoint`` into ``checkpoint_dir``
    otherwise.

    This is the UNMANAGED form — nothing releases the cut frame's
    storage (and Spark never deletes reliable checkpoint files).
    Iterative loops use :class:`RoundCutter`, which rotates rounds;
    keep this for single cuts of long-lived frames only.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    if _LAST_CKPT_DIR.get(app) != str(checkpoint_dir):
        sc.setCheckpointDir(str(checkpoint_dir))
        _LAST_CKPT_DIR[app] = str(checkpoint_dir)
    return df.checkpoint(eager=eager)
