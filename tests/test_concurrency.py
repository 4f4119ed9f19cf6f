"""Concurrent-writer integration: optimistic concurrency + retry
(reference tests/integration/concurrent-writes.test.ts; OCC commit
src/delta/table.ts:450-460,795-816; retry src/delta/retry.ts:243-401).

Writers race on the same table from multiple threads of one Spark
session (the driver-side log is what's contended — commits are atomic
file creates). Every writer must land, each in its own version, with no
lost updates.
"""

import threading

import pytest
from pyspark.sql import functions as F

from deltalake_spark.delta.retry import RetryConfig, with_retry
from deltalake_spark.delta.table import DeltaTable
from deltalake_spark.errors import ConcurrencyError


def test_racing_writers_all_land(spark, tmp_path):
    t = DeltaTable(spark, str(tmp_path / "race"))
    t.write(spark.createDataFrame([(0, -1)], "writer long, seq long"))

    n_writers, per_writer = 6, 3
    errors: list[Exception] = []

    def writer(wid: int):
        try:
            for seq in range(per_writer):
                df = spark.createDataFrame(
                    [(wid, seq)], "writer long, seq long"
                )
                with_retry(
                    lambda df=df: t.write(df),
                    config=RetryConfig(max_attempts=40,
                                       initial_delay=0.005),
                )
        except Exception as e:  # surface to the main thread
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,))
        for w in range(1, n_writers + 1)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors

    # no lost updates: every (writer, seq) row present exactly once
    rows = t.to_df().groupBy("writer", "seq").count().collect()
    assert all(r["count"] == 1 for r in rows)
    assert len(rows) == n_writers * per_writer + 1
    # one commit per write: versions are dense 0..N
    assert t.version() == n_writers * per_writer


def test_conflict_without_retry_raises(spark, tmp_path):
    """A stale writer (version check against a snapshot that moved)
    must fail with ConcurrencyError, not silently overwrite."""
    import deltalake_spark.delta.log as dlog

    t = DeltaTable(spark, str(tmp_path / "c"))
    t.write(spark.createDataFrame([(1,)], "id long"))
    v = t.version()
    # simulate the losing side of a race: the version it targets is taken
    dlog.write_commit(t.path, v + 1, [dlog.commit_info_action("WRITE", {})])
    with pytest.raises(ConcurrencyError):
        dlog.write_commit(t.path, v + 1,
                          [dlog.commit_info_action("WRITE", {})])


def test_retry_metrics(spark, tmp_path):
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConcurrencyError("/tmp/simulated", calls["n"])
        return "ok"

    out = with_retry(flaky,
                     config=RetryConfig(max_attempts=5,
                                        initial_delay=0.001))
    assert out == "ok" and calls["n"] == 3


def test_retry_metrics_and_callbacks():
    """Reference retry.ts:55-72 metrics + 83-99 callbacks surface."""
    from deltalake_spark.delta.retry import RetryMetrics

    calls = {"n": 0}
    seen = {"retries": [], "success": None, "failure": None}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConcurrencyError("/tmp/simulated", calls["n"])
        return "ok"

    out, m = with_retry(
        flaky,
        config=RetryConfig(max_attempts=5, initial_delay=0.001),
        on_retry=lambda a, e: seen["retries"].append(a),
        on_success=lambda r, a: seen.update(success=(r, a)),
        return_metrics=True,
    )
    assert out == "ok"
    assert isinstance(m, RetryMetrics)
    assert m.attempts == 3 and m.retries == 2 and m.succeeded
    assert len(m.delays) == 2 and len(m.errors) == 2
    assert m.total_delay_s == sum(m.delays) and m.elapsed_s > 0
    assert seen["retries"] == [1, 2] and seen["success"] == ("ok", 3)

    def always():
        raise ConcurrencyError("/tmp/x", 0)

    with pytest.raises(ConcurrencyError):
        with_retry(always,
                   config=RetryConfig(max_attempts=2, initial_delay=0.001),
                   on_failure=lambda e, a: seen.update(failure=a))
    assert seen["failure"] == 2


def test_retry_on_retry_false_aborts():
    """on_retry returning False stops retrying (reference retry.ts:91)."""
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        raise ConcurrencyError("/tmp/x", calls["n"])

    with pytest.raises(ConcurrencyError):
        with_retry(flaky,
                   config=RetryConfig(max_attempts=10, initial_delay=0.001),
                   on_retry=lambda a, e: False)
    assert calls["n"] == 1


def test_retry_abort_signal():
    """A set abort signal raises AbortError before the next attempt
    (reference AbortSignal handling, retry.ts:330-360)."""
    import threading

    from deltalake_spark.errors import AbortError

    sig = threading.Event()
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        sig.set()  # abort mid-flight after the first failure
        raise ConcurrencyError("/tmp/x", 1)

    with pytest.raises(AbortError):
        with_retry(flaky,
                   config=RetryConfig(max_attempts=10, initial_delay=0.001),
                   abort_signal=sig)
    assert calls["n"] == 1

    sig2 = threading.Event()
    sig2.set()  # already aborted: fn never runs
    with pytest.raises(AbortError):
        with_retry(lambda: "x", abort_signal=sig2)


def test_retryable_attribute_and_predicate():
    """Errors flagged retryable=True retry without being allowlisted;
    a custom predicate extends retryability (errors.ts:393-413)."""
    from deltalake_spark.errors import (
        VersionMismatchError,
        has_retryable_property,
        is_retryable,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise VersionMismatchError("/tmp/f.json", "1", "2")
        return "ok"

    assert with_retry(flaky, config=RetryConfig(initial_delay=0.001)) == "ok"
    assert calls["n"] == 2
    assert is_retryable(VersionMismatchError("/p", "1", "2"))
    assert has_retryable_property(VersionMismatchError("/p", "1", "2"))
    assert not is_retryable(ValueError("nope"))

    # non-retryable errors surface immediately, no retry
    calls["n"] = 0

    def bad():
        calls["n"] += 1
        raise ValueError("permanent")

    with pytest.raises(ValueError):
        with_retry(bad, config=RetryConfig(max_attempts=5,
                                           initial_delay=0.001))
    assert calls["n"] == 1

    # custom predicate opts an arbitrary error class in
    calls["n"] = 0

    def flaky_io():
        calls["n"] += 1
        if calls["n"] < 2:
            raise OSError("transient")
        return "ok"

    assert with_retry(
        flaky_io, config=RetryConfig(initial_delay=0.001),
        is_retryable_fn=lambda e: isinstance(e, OSError),
    ) == "ok"
    assert calls["n"] == 2


def test_error_taxonomy_codes():
    """Stable error codes + guards (reference errors.ts:46-432)."""
    from deltalake_spark import errors as E

    assert ConcurrencyError("/p", 1).code == "CONCURRENT_UPDATE"
    assert E.DeltaFileNotFoundError("/p/x").code == "FILE_NOT_FOUND"
    assert E.DeltaFileNotFoundError("/p/x").path == "/p/x"
    assert E.StorageError("boom", "/p", "write").operation == "write"
    assert E.ValidationError("bad", field="k", value=3).field == "k"
    assert E.InvalidFilterError("bad").code == "INVALID_FILTER"
    assert E.CDCError("cdc").code == "CDC_ERROR"
    assert E.AbortError().code == "ABORTED"
    assert E.is_delta_error(E.CDCError("x"))
    assert E.is_storage_error(E.DeltaFileNotFoundError("/p"))
    assert E.is_validation_error(E.InvalidFilterError("x"))
    assert E.is_concurrency_error(ConcurrencyError("/p", 1))
    # filter/pipeline/projection errors remain catchable as before
    assert isinstance(E.InvalidFilterError("x"), E.DeltaError)
    cause = ValueError("root")
    wrapped = E.StorageError("io", "/p", "read", cause=cause)
    assert wrapped.cause is cause


# -- CommitStore seam (object-store conditional-write OCC) ---------------

def test_commit_store_seam_full_lifecycle(spark, tmp_path):
    """The whole engine runs against a ConditionalPutCommitStore whose
    put models an object store's If-None-Match PUT — proving no code
    path depends on POSIX O_EXCL beyond the seam."""
    import os

    from deltalake_spark.delta.commitstore import (
        ConditionalPutCommitStore,
        set_commit_store,
    )
    from deltalake_spark.delta.table import DeltaTable

    puts = {"n": 0}

    def put(path, payload):
        puts["n"] += 1
        if os.path.exists(path):  # precondition failed -> HTTP 412
            return False
        with open(path, "wb") as f:
            f.write(payload)
        return True

    prev = set_commit_store(ConditionalPutCommitStore(put))
    try:
        t = DeltaTable(spark, str(tmp_path / "t"))
        t.write(spark.createDataFrame([(1,), (2,)], "id long"))
        t.delete({"id": 1})
        assert [r["id"] for r in t.query({}).collect()] == [2]
        assert puts["n"] >= 2  # every commit went through the seam
    finally:
        set_commit_store(prev)


def test_commit_store_conflict_maps_to_concurrency_error(spark, tmp_path):
    """A 412-style precondition failure surfaces as ConcurrencyError
    and rolls back staged data files (no orphan adds)."""
    from deltalake_spark.delta.commitstore import (
        ConditionalPutCommitStore,
        set_commit_store,
    )
    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "id long"))

    lose = {"next": False}
    real = set_commit_store(None)  # grab a local store for the fake

    def put(path, payload):
        if lose["next"]:
            lose["next"] = False
            return False  # another writer got the version first
        try:
            real.write_if_absent(path, payload)
            return True
        except Exception:
            return False

    set_commit_store(ConditionalPutCommitStore(put))
    try:
        lose["next"] = True
        with pytest.raises(ConcurrencyError):
            t.write(spark.createDataFrame([(2,)], "id long"))
        # staged parquet was rolled back; retry commits cleanly
        t.write(spark.createDataFrame([(2,)], "id long"))
        assert sorted(r["id"] for r in t.query({}).collect()) == [1, 2]
    finally:
        set_commit_store(real)


def test_commit_store_retry_loop_resolves_race(spark, tmp_path):
    """with_retry + the seam: a conflict on the first attempt resolves
    on the second (the reference's documented OCC retry contract)."""
    from deltalake_spark.delta.commitstore import (
        ConditionalPutCommitStore,
        LocalCommitStore,
        set_commit_store,
    )
    from deltalake_spark.delta.retry import RetryConfig, with_retry
    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,)], "id long"))
    local = LocalCommitStore()
    fail_once = {"armed": True}

    def put(path, payload):
        if fail_once["armed"]:
            fail_once["armed"] = False
            return False
        try:
            local.write_if_absent(path, payload)
            return True
        except Exception:
            return False

    prev = set_commit_store(ConditionalPutCommitStore(put))
    try:
        with_retry(
            lambda: t.write(spark.createDataFrame([(2,)], "id long")),
            config=RetryConfig(initial_delay=0.001),
        )
        assert sorted(r["id"] for r in t.query({}).collect()) == [1, 2]
    finally:
        set_commit_store(prev)


def test_hard_storage_failure_leaves_table_consistent(spark, tmp_path):
    """A storage exception (not a 412) thrown mid-commit must leave the
    table at its previous version with no partial/corrupt state, and a
    later write must succeed (reference error-recovery-consistency:
    'Commit File Write Failure' / 'No Data Corruption During Error
    Scenarios')."""
    from deltalake_spark.delta.commitstore import (
        ConditionalPutCommitStore,
        set_commit_store,
    )
    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1,), (2,)], "id long"))
    v0 = t.version()

    real = set_commit_store(None)
    mode = {"fail": False}

    def put(path, payload):
        if mode["fail"]:
            raise IOError("storage quota exceeded")
        try:
            real.write_if_absent(path, payload)
            return True
        except Exception:
            return False

    set_commit_store(ConditionalPutCommitStore(put))
    try:
        mode["fail"] = True
        with pytest.raises(Exception):
            t.write(spark.createDataFrame([(3,)], "id long"))
        mode["fail"] = True
        with pytest.raises(Exception):
            t.delete({"id": 1})
        # table state: still the pre-failure snapshot, fully readable
        assert t.version() == v0
        assert sorted(r["id"] for r in t.query({}).collect()) == [1, 2]
        # recovery: the same operations succeed once storage heals
        mode["fail"] = False
        t.write(spark.createDataFrame([(3,)], "id long"))
        t.delete({"id": 1})
        assert sorted(r["id"] for r in t.query({}).collect()) == [2, 3]
    finally:
        set_commit_store(real)


def test_intermittent_failures_with_retry_converge(spark, tmp_path):
    """Transient storage failures on the first two attempts succeed on
    the third under with_retry — and every row of every attempt's batch
    lands exactly once (reference 'Intermittent Storage Failures')."""
    from deltalake_spark.delta.commitstore import (
        ConditionalPutCommitStore,
        set_commit_store,
    )
    from deltalake_spark.delta.retry import RetryConfig, with_retry
    from deltalake_spark.delta.table import DeltaTable

    real = set_commit_store(None)
    flaky = {"left": 2}

    def put(path, payload):
        if flaky["left"] > 0:
            flaky["left"] -= 1
            raise IOError("transient network error")
        try:
            real.write_if_absent(path, payload)
            return True
        except Exception:
            return False

    set_commit_store(ConditionalPutCommitStore(put))
    try:
        t = DeltaTable(spark, str(tmp_path / "t"))
        with_retry(
            lambda: t.write(spark.createDataFrame([(1,), (2,)], "id long")),
            RetryConfig(max_attempts=5, initial_delay=0.01),
            is_retryable_fn=lambda e: isinstance(e, IOError),
        )
        assert sorted(r["id"] for r in t.query({}).collect()) == [1, 2]
        assert flaky["left"] == 0
    finally:
        set_commit_store(real)


@pytest.mark.parametrize("op,dv", [
    pytest.param(op, dv, id=f"{op}-{'dv' if dv else 'cow'}")
    for op, dv in [("update", False), ("update", True), ("delete", False),
                   ("delete", True), ("merge", False), ("compact", False),
                   ("deduplicate", False), ("zorder", False)]
])
def test_dml_commits_against_the_snapshot_it_read(spark, tmp_path,
                                                  monkeypatch, op, dv):
    """A commit landing between an operation's file selection and its own
    commit makes the operation raise ConcurrencyError. It must never
    commit on top of the newer version a result computed from the older
    one: that lost the concurrent delete's effect on the count and the
    update itself, and a rewrite (OPTIMIZE, DEDUPLICATE, ZORDER) put the
    deleted rows back. The hook is the raw scan every path builds, the
    deletion-vector ones included."""
    import os

    from deltalake_spark.delta import maintenance

    t = DeltaTable(spark, str(tmp_path / "t"))
    for lo in (0, 5):  # two files, so compaction has work to do
        t.write(spark.createDataFrame([(i, 0) for i in range(lo, lo + 5)],
                                      "id long, v long").coalesce(1))
    if dv:
        t.enable_deletion_vectors()
    base = t.version()
    real = DeltaTable._keyed_scan
    raced = []

    def racing_scan(self, *args, **kwargs):
        if not raced:
            raced.append(True)
            DeltaTable(spark, self.path).delete({"id": {"$lt": 5}})
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DeltaTable, "_keyed_scan", racing_scan)
    run = {
        "update": lambda: t.update({"id": {"$gte": 0}}, {"v": "v + 1"}),
        "delete": lambda: t.delete({"id": {"$gte": 8}}),
        "merge": lambda: t.merge(
            spark.createDataFrame([(9, 7), (42, 1)], "id long, v long"),
            "t.id = s.id", when_matched_update="*"),
        "compact": lambda: maintenance.compact(t),
        "deduplicate": lambda: maintenance.deduplicate(t),
        "zorder": lambda: maintenance.z_order_cluster(t, ["id"]),
    }[op]
    with pytest.raises(ConcurrencyError):
        run()
    assert raced
    assert t.version() == base + 1  # the setup and the concurrent delete
    assert sorted((r.id, r.v) for r in t.to_df().collect()) \
        == [(i, 0) for i in range(5, 10)]
    # the losing operation's data and deletion-vector files were removed
    referenced = {f["path"] for v in range(base + 2)
                  for f in t.snapshot(v).files}
    on_disk = os.listdir(t.path)
    assert {fn for fn in on_disk if fn.endswith(".parquet")} <= referenced
    assert len([fn for fn in on_disk if fn.endswith(".bin")]) == int(dv)
