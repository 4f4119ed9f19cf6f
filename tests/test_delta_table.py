"""DeltaTable lifecycle — mirrors the reference's e2e suites
(/root/reference/tests/e2e/table-lifecycle.test.ts:107-646,
time-travel.test.ts:88-801) and unit delta tests."""

from __future__ import annotations

import json
import os

import pytest


from pyspark.sql import functions as F

from deltalake_spark.delta import log as dlog
from deltalake_spark.delta.table import DeltaTable
from deltalake_spark.errors import (
    ConcurrencyError,
    NoMatchError,
    SchemaMismatchError,
    VersionNotFoundError,
)


@pytest.fixture
def tmp_table(spark, tmp_path):
    return DeltaTable(spark, str(tmp_path / "tbl"))


def test_max_records_per_file(spark, tmp_path):
    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "sized"))
    df = spark.createDataFrame(
        [(i,) for i in range(1000)], "id long"
    ).coalesce(1)
    t.write(df, max_records_per_file=250)
    files = t.snapshot().files
    assert len(files) == 4  # 1000 rows / 250 per file
    assert t.to_df().count() == 1000


def users_df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, name string, score long, city string"
    )


BASE = [
    (1, "ann", 10, "berlin"),
    (2, "bob", 20, "paris"),
    (3, "cat", 30, "berlin"),
    (4, "dan", 40, "tokyo"),
]


def test_write_read_roundtrip(spark, tmp_table):
    v = tmp_table.write(users_df(spark, BASE))
    assert v == 0
    assert tmp_table.version() == 0
    got = sorted(r.id for r in tmp_table.to_df().collect())
    assert got == [1, 2, 3, 4]
    # append
    v = tmp_table.write(users_df(spark, [(5, "eve", 50, "paris")]))
    assert v == 1
    assert tmp_table.to_df().count() == 5


def test_time_travel(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    tmp_table.write(users_df(spark, [(5, "eve", 50, "paris")]))
    assert tmp_table.to_df(version=0).count() == 4
    assert tmp_table.to_df(version=1).count() == 5
    with pytest.raises(VersionNotFoundError):
        tmp_table.to_df(version=9)


def test_overwrite(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    tmp_table.write(users_df(spark, [(9, "zed", 0, "oslo")]),
                    mode="overwrite")
    rows = tmp_table.to_df().collect()
    assert len(rows) == 1 and rows[0].id == 9
    # old version still readable (time travel across overwrite)
    assert tmp_table.to_df(version=0).count() == 4


def test_partitioned_write_and_pruning(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE), partition_by=["city"])
    snap = tmp_table.snapshot()
    assert snap.partition_columns == ["city"]
    assert all(f["partitionValues"].get("city") for f in snap.files)
    df = tmp_table.query({"city": "berlin"})
    assert sorted(r.id for r in df.collect()) == [1, 3]
    # partition filter must prune the scan to the matching directory
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "berlin" in plan


def test_schema_merge(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    extra = spark.createDataFrame(
        [(6, "fox", 60, "rome", "x@y.z")],
        "id long, name string, score long, city string, email string",
    )
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(extra)
    tmp_table.write(extra, merge_schema=True)
    df = tmp_table.to_df()
    assert "email" in df.columns
    nulls = df.filter(F.col("email").isNull()).count()
    assert nulls == 4  # original rows null-filled


def test_schema_type_widening(spark, tmp_table):
    tmp_table.write(spark.createDataFrame([(1, 10)], "id long, v int"))
    wide = spark.createDataFrame([(2, 3.5)], "id long, v double")
    with pytest.raises(SchemaMismatchError):
        tmp_table.write(wide)
    tmp_table.write(wide, merge_schema=True)
    types = dict((f.name, f.dataType.typeName())
                 for f in tmp_table.schema().fields)
    assert types["v"] == "double"
    assert tmp_table.to_df().count() == 2


def test_delete(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    res = tmp_table.delete({"city": "berlin"})
    assert res["numDeletedRows"] == 2
    assert sorted(r.id for r in tmp_table.to_df().collect()) == [2, 4]
    with pytest.raises(NoMatchError):
        tmp_table.delete({"city": "nowhere"})


def test_delete_rewrites_only_affected_files(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE[:2]))
    tmp_table.write(users_df(spark, BASE[2:]))
    files_before = {f["path"] for f in tmp_table.snapshot().files}
    tmp_table.delete({"id": 1})  # only the first commit's file has id=1
    files_after = {f["path"] for f in tmp_table.snapshot().files}
    untouched = files_before & files_after
    assert untouched, "file without matches must survive the rewrite"


@pytest.mark.parametrize("dtype", ["DECIMAL(10,2)", "DECIMAL(30,4)"])
def test_decimal_column_writes_reads_back_and_range_deletes(
        spark, tmp_table, dtype):
    """Spark stores a DECIMAL of precision ≤ 18 as an integer whose footer
    stats pyarrow cannot decode: the file records only the null count.
    A wider one is fixed-length bytes that pyarrow reads as ``Decimal``:
    its bounds become JSON numbers."""
    from decimal import Decimal

    tmp_table.write(spark.sql(
        f"SELECT CAST(1.25 AS {dtype}) AS price, 1L AS id"
        f" UNION ALL SELECT CAST(3.50 AS {dtype}), 2L").coalesce(1))
    tmp_table.write(spark.sql(f"SELECT CAST(7.75 AS {dtype}) AS price, 3L AS id"))
    stats = [json.loads(f["stats"]) for f in tmp_table.snapshot().files]
    assert sorted(s["nullCount"]["price"] for s in stats) == [0, 0]
    bounds = sorted((s["minValues"].get("price"), s["maxValues"].get("price"))
                    for s in stats)
    if dtype == "DECIMAL(10,2)":
        assert bounds == [(None, None), (None, None)]
    else:
        assert bounds == [(1.25, 3.5), (7.75, 7.75)]
    assert sorted((r.id, r.price) for r in tmp_table.to_df().collect()) == [
        (1, Decimal("1.25")), (2, Decimal("3.50")), (3, Decimal("7.75"))]
    res = tmp_table.delete({"price": {"$gte": 3}})
    assert res["numDeletedRows"] == 2
    assert [r.id for r in tmp_table.to_df().collect()] == [1]


def test_update(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    res = tmp_table.update({"city": "berlin"}, {"score": "score + 100"})
    assert res["numUpdatedRows"] == 2
    got = {r.id: r.score for r in tmp_table.to_df().collect()}
    assert got[1] == 110 and got[3] == 130 and got[2] == 20


@pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
def test_update_assignments_read_the_row_before_the_update(
        spark, tmp_table, dv):
    """SQL SET semantics: every assignment, and the predicate, see the
    row as it was — a later assignment never reads an earlier one's
    result."""
    tmp_table.write(spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "id long, a long, b long"))
    if dv:
        tmp_table.enable_deletion_vectors()
    res = tmp_table.update({"a": {"$lt": 20}}, {"a": "a + 100", "b": "a"})
    assert res["numUpdatedRows"] == 1
    got = {r.id: (r.a, r.b) for r in tmp_table.to_df().collect()}
    assert got == {1: (110, 10), 2: (30, 40)}


def test_merge_upsert(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    src = users_df(spark, [
        (3, "cat2", 99, "berlin"),   # match → update
        (7, "gil", 70, "madrid"),    # no match → insert
    ])
    res = tmp_table.merge(
        src, "t.id = s.id",
        when_matched_update="*",
        when_not_matched_insert=True,
    )
    assert res["numUpdated"] == 1 and res["numInserted"] == 1
    got = {r.id: (r.name, r.score) for r in tmp_table.to_df().collect()}
    assert got[3] == ("cat2", 99)
    assert got[7] == ("gil", 70)
    assert len(got) == 5


def test_merge_delete(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    src = spark.createDataFrame([(2,), (4,)], "id long")
    res = tmp_table.merge(
        src, "t.id = s.id",
        when_matched_delete=True, when_not_matched_insert=False,
    )
    assert res["numDeleted"] == 2
    assert sorted(r.id for r in tmp_table.to_df().collect()) == [1, 3]


def test_merge_into_empty_table(spark, tmp_table):
    tmp_table.write(users_df(spark, []).limit(0))
    src = users_df(spark, BASE)
    res = tmp_table.merge(src, "t.id = s.id", when_matched_update="*")
    assert res["numInserted"] == 4
    assert tmp_table.to_df().count() == 4


def test_merge_insert_mapping_applies_to_empty_table(spark, tmp_table):
    tmp_table.write(spark.createDataFrame([], "id long, v long"))
    src = spark.createDataFrame([(1, 2)], "id long, v long")
    res = tmp_table.merge(src, "t.id = s.id",
                          when_not_matched_insert={"id": "s.id",
                                                   "v": "s.v * 10"})
    assert res["numInserted"] == 1
    assert [(r.id, r.v) for r in tmp_table.to_df().collect()] == [(1, 20)]


def test_concurrency_error(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    # two writers race for version 1: the loser's conditional create fails
    dlog.write_commit(tmp_table.path, 1,
                      [dlog.commit_info_action("WINNER")])
    with pytest.raises(ConcurrencyError):
        dlog.write_commit(tmp_table.path, 1,
                          [dlog.commit_info_action("LOSER")])
    # a fresh table handle sees the winner and commits after it
    v = tmp_table.write(users_df(spark, [(5, "eve", 50, "oslo")]))
    assert v == 2


def test_history(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    tmp_table.delete({"id": 1})
    hist = tmp_table.history()
    assert [h["operation"] for h in hist] == ["DELETE", "WRITE"]
    assert hist[0]["version"] == 1
    assert hist[0]["operationMetrics"]["numDeletedRows"] == 1


def test_checkpoint_cadence_and_replay(spark, tmp_table):
    for i in range(12):
        tmp_table.write(users_df(spark, [(i, f"u{i}", i, "x")]))
    cps = dlog.list_checkpoint_versions(tmp_table.path)
    assert 10 in cps
    # snapshot built from checkpoint + tail commits
    assert tmp_table.to_df().count() == 12
    assert tmp_table.to_df(version=5).count() == 6


def test_query_iterator_and_batch(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    rows = list(tmp_table.query_iterator({"score": {"$gte": 20}}))
    assert len(rows) == 3
    batches = list(tmp_table.query_batch(batch_size=2))
    assert [len(b) for b in batches] == [2, 2]


def test_update_metadata(spark, tmp_table):
    tmp_table.write(users_df(spark, BASE))
    tmp_table.update_metadata({"custom.owner": "pipeline"})
    assert tmp_table.configuration["custom.owner"] == "pipeline"
    # schema survives a metadata update
    assert tmp_table.to_df().count() == 4


def test_restore(spark, tmp_path):
    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "restore"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, v double"
    )
    t.write(df)
    t.delete({"id": {"$lt": 5}})
    t.update({"id": 7}, {"v": 999.0})
    assert t.to_df().count() == 5
    res = t.restore(0)
    assert res["restoredVersion"] == 0
    got = {(r["id"], r["v"]) for r in t.to_df().collect()}
    assert got == {(i, float(i)) for i in range(10)}
    # restore is itself a version — time travel to the mutated state works
    assert t.to_df(version=res["version"] - 1).count() == 5


def test_commit_action_validation(spark, tmp_path):
    """Malformed raw commits are rejected before touching the log
    (reference validateAction, src/delta/index.ts:353-452)."""
    import deltalake_spark.delta.log as dlog
    from deltalake_spark.errors import ValidationError

    t = DeltaTable(spark, str(tmp_path / "val"))
    t.write(spark.createDataFrame([(1,)], "id long"))
    v = t.version()

    ok = dlog.validate_action
    assert ok({"add": {"path": "p.parquet", "size": 10,
                       "modificationTime": 1}}) == []
    assert "add.path must not be empty" in ok({"add": {"path": ""}})
    assert "add.size must be non-negative" in ok(
        {"add": {"path": "x", "size": -1}})
    assert "add.stats must be valid JSON" in ok(
        {"add": {"path": "x", "stats": "{nope"}})
    assert "remove.path must not be empty" in ok({"remove": {}})
    assert "protocol.minReaderVersion must be at least 1" in ok(
        {"protocol": {"minReaderVersion": 0, "minWriterVersion": 2}})
    assert "protocol.minWriterVersion must be an integer" in ok(
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": "2"}})
    assert "commitInfo.operation must not be empty" in ok(
        {"commitInfo": {"timestamp": 5}})
    assert "txn.appId must not be empty" in ok({"txn": {"version": 3}})
    assert ok({"wat": {}}) == ["unknown action type 'wat'"]

    with pytest.raises(ValidationError, match="add.path"):
        dlog.write_commit(t.path, v + 1, [{"add": {"path": ""}}])
    # nothing was written — next version is still free
    dlog.write_commit(t.path, v + 1,
                      [dlog.commit_info_action("WRITE", {})])
    assert t.version() == v + 1
