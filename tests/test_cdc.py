"""CDC (change data feed) — mirrors the reference's CDC tests
(/root/reference/tests/unit/cdc/*.test.ts, e2e time-travel.test.ts:454-801,
cdc_users fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_spark.delta.table import DeltaTable


@pytest.fixture
def cdc_table(spark, tmp_path):
    t = DeltaTable(spark, str(tmp_path / "cdc_tbl"))
    df = spark.createDataFrame(
        [(1, "ann", 10, "a@x.io"), (2, "bob", 20, None)],
        "id long, name string, score long, email string",
    )
    t.write(df)
    t.enable_cdc()
    return t


def test_insert_changes(spark, cdc_table):
    cdc_table.write(spark.createDataFrame(
        [(3, "cat", 30, None)],
        "id long, name string, score long, email string",
    ))
    changes = cdc_table.read_changes(0)
    rows = changes.collect()
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert all(c in changes.columns for c in
               ("_change_type", "_commit_version", "_commit_timestamp"))
    # the insert happened at version 2 (v0 write pre-CDC, v1 enable)
    assert {r["_commit_version"] for r in rows} == {2}


def test_update_changes_pre_and_post(spark, cdc_table):
    cdc_table.update({"id": 1}, {"score": "score + 5"})
    changes = cdc_table.read_changes(0).collect()
    by_type = {}
    for r in changes:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert len(by_type["update_preimage"]) == 1
    assert len(by_type["update_postimage"]) == 1
    assert by_type["update_preimage"][0]["score"] == 10
    assert by_type["update_postimage"][0]["score"] == 15


def test_delete_changes(spark, cdc_table):
    cdc_table.delete({"id": 2})
    changes = cdc_table.read_changes(0).collect()
    dels = [r for r in changes if r["_change_type"] == "delete"]
    assert len(dels) == 1 and dels[0]["id"] == 2


def test_merge_changes(spark, cdc_table):
    src = spark.createDataFrame(
        [(1, "ann2", 11, None), (9, "zed", 90, None)],
        "id long, name string, score long, email string",
    )
    cdc_table.merge(src, "t.id = s.id", when_matched_update="*")
    changes = cdc_table.read_changes(0).collect()
    types = sorted({r["_change_type"] for r in changes})
    assert types == ["insert", "update_postimage", "update_preimage"]
    ins = [r for r in changes if r["_change_type"] == "insert"]
    assert [r["id"] for r in ins] == [9]


def test_read_changes_version_range(spark, cdc_table):
    cdc_table.write(spark.createDataFrame(
        [(3, "cat", 30, None)],
        "id long, name string, score long, email string",
    ))  # v2
    cdc_table.delete({"id": 3})  # v3
    only_v3 = cdc_table.read_changes(3, 3).collect()
    assert {r["_change_type"] for r in only_v3} == {"delete"}
    all_changes = cdc_table.read_changes(0).collect()
    assert len(all_changes) == 2


def test_read_changes_by_timestamp(spark, cdc_table):
    cdc_table.write(spark.createDataFrame(
        [(3, "cat", 30, None)],
        "id long, name string, score long, email string",
    ))
    df = cdc_table.read_changes_by_timestamp(starting_ts="2000-01-01")
    assert df.count() == 1
    df2 = cdc_table.read_changes_by_timestamp(ending_ts="2000-01-01")
    assert df2.count() == 0


def test_subscribe_stream(spark, cdc_table, tmp_path):
    from deltalake_spark.delta.cdc import subscribe_stream

    cdc_table.write(spark.createDataFrame(
        [(3, "cat", 30, None), (4, "dan", 40, None)],
        "id long, name string, score long, email string",
    ))
    seen: list[int] = []

    def handler(batch_df, batch_id):
        seen.extend(r["id"] for r in batch_df.collect())

    q = subscribe_stream(cdc_table, str(tmp_path / "ckpt"), handler)
    q.awaitTermination(60)
    assert sorted(seen) == [3, 4]


def test_json_cdc_files_from_foreign_writer(spark, tmp_path):
    """JSON CDC files dropped by another writer are read alongside our
    parquet CDC (reference dual-format parse, src/cdc/index.ts:1462-1558)."""
    import json
    import os

    from deltalake_spark.delta.table import DeltaTable

    t = DeltaTable(spark, str(tmp_path / "jcdc"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    t.enable_cdc()
    t.delete({"id": 1})  # our parquet CDC at some version

    # foreign writer drops a JSON CDC file for a later version
    cdc_dir = os.path.join(t.path, "_change_data")
    v = t.version() + 1
    with open(os.path.join(cdc_dir, f"cdc-{v:020d}-{'ab' * 8}.json"),
              "w") as f:
        f.write(json.dumps({"id": 9, "s": "z", "_change_type": "insert",
                            "_commit_version": v,
                            "_commit_timestamp": None}) + "\n")
    from deltalake_spark.delta import log as dlog

    dlog.write_commit(t.path, v, [dlog.commit_info_action("WRITE", {})])

    ch = t.read_changes(0)
    got = {(r["id"], r["_change_type"]) for r in ch.collect()}
    assert (1, "delete") in got and (9, "insert") in got


def test_update_cdc_postimage_when_filter_on_updated_column(spark, tmp_path):
    """Regression: updating the very column the filter tests must still
    emit the postimage (it no longer matches the predicate AFTER the
    assignment — the feed used to lose it silently)."""
    t = DeltaTable(spark, str(tmp_path / "postimg"))
    t.write(spark.createDataFrame([], "k string, v double"))
    t.enable_cdc()
    t.write(spark.createDataFrame(
        [("a", 5.0), ("b", 7.0)], "k string, v double"))
    t.update({"v": 5.0}, {"v": "2.5"})
    feed = t.read_changes().filter(
        F.col("_change_type").startswith("update")).collect()
    images = {r["_change_type"]: (r["k"], r["v"]) for r in feed}
    assert images["update_preimage"] == ("a", 5.0)
    assert images["update_postimage"] == ("a", 2.5)
    assert len(feed) == 2


def test_multi_partition_commit_writes_many_cdc_files(spark, tmp_path):
    """r3 verdict item 4: write_cdc_file no longer coalesce(1)s — a
    commit whose change set spans several partitions writes several
    cdc-<version>-<uuid> files, and every reader still returns the
    exact record set (the reference likewise reads a LIST of
    _change_data files, src/cdc/index.ts:1403-1421)."""
    import glob
    import os

    from deltalake_spark.streaming.consumer import CDCConsumer

    t = DeltaTable(spark, str(tmp_path / "multifile"))
    t.write(spark.createDataFrame([], "id long, v double"))
    t.enable_cdc()
    v_before = t.version()
    # 8-partition insert: one CDC file per non-empty partition
    df = spark.range(0, 400, 1, 8).select(
        F.col("id"), (F.col("id") * 1.5).alias("v"))
    t.write(df)
    v_ins = t.version()
    assert v_ins == v_before + 1
    cdc_files = glob.glob(
        os.path.join(str(tmp_path / "multifile"), "_change_data",
                     f"cdc-{v_ins:020d}-*"))
    assert len(cdc_files) > 1, "expected one CDC file per partition"

    changes = t.read_changes(v_ins, v_ins)
    got = sorted((r["id"], r["v"], r["_change_type"])
                 for r in changes.collect())
    assert got == [(i, i * 1.5, "insert") for i in range(400)]
    assert changes.filter(
        F.col("_commit_version") != v_ins).count() == 0

    # a wide DELETE also fans out and reads back exactly
    t.delete({"id": {"$lt": 100}})
    v_del = t.version()
    dels = t.read_changes(v_del, v_del).collect()
    assert sorted(r["id"] for r in dels) == list(range(100))
    assert {r["_change_type"] for r in dels} == {"delete"}

    # timestamp reader and consumer see the identical record set
    import datetime

    by_ts = t.read_changes_by_timestamp(
        datetime.datetime(1970, 1, 1)).collect()
    assert len(by_ts) == 500
    consumer = CDCConsumer(t, "multifile-group",
                           starting_version=v_ins)
    polled = consumer.poll().collect()
    assert len(polled) == 500
    assert sorted(r["id"] for r in polled if r["_change_type"] == "delete") \
        == list(range(100))


def test_consumer_crash_resume_exactly_once(spark, tmp_path):
    """Pins the cdc_consumer_exactly_once gate's crash/resume split:
    the first bounded poll must deliver ONLY the first change commit,
    a fresh consumer in the same group must resume at the next version
    (no replay, no gap), and the union must be the whole feed exactly
    once (reference commitOffset/resume, src/cdc/index.ts:1090-1204)."""
    from deltalake_spark.streaming.consumer import (
        CDCConsumer,
        FileOffsetStorage,
    )

    t = DeltaTable(spark, str(tmp_path / "eo_tbl"))
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(40)],
        "id long, grp long, v double",
    )
    t.write(df)                              # v0
    t.enable_cdc()                           # v1
    t.delete({"grp": 0})                     # v2
    t.update({"grp": 1}, {"v": "v * 2"})     # v3
    t.delete({"grp": 2})                     # v4
    assert t.version() == 4

    storage = FileOffsetStorage(str(tmp_path / "offs"))
    c1 = CDCConsumer(t, "g", storage=storage, starting_version=0)
    first = c1.poll(max_versions=3).collect()        # v0..v2
    c1.commit()
    assert storage.load("g") == 2
    # split is genuinely mid-feed: only the first delete delivered
    assert {r["_change_type"] for r in first} == {"delete"}
    assert {r["_commit_version"] for r in first} == {2}
    del c1

    c2 = CDCConsumer(t, "g", storage=storage)        # crash + resume
    assert c2.position == 3                           # committed + 1
    rest = c2.poll().collect()
    c2.commit()
    assert {r["_commit_version"] for r in rest} == {3, 4}

    # exactly once: every (version, change_type, id) appears once
    seen = [(r["_commit_version"], r["_change_type"], r["id"])
            for r in first + rest]
    assert len(seen) == len(set(seen))
    by_type = {}
    for _, ct, _id in seen:
        by_type.setdefault(ct, set()).add(_id)
    assert by_type["delete"] == {i for i in range(40) if i % 7 in (0, 2)}
    assert by_type["update_preimage"] == \
        {i for i in range(40) if i % 7 == 1}
    assert by_type["update_postimage"] == by_type["update_preimage"]

    # a third consumer resumes past everything: empty poll
    c3 = CDCConsumer(t, "g", storage=storage)
    assert c3.poll().count() == 0


def test_read_changes_after_type_widening(spark, tmp_path):
    """Change files written before a schema-evolving write keep their old
    column types; the feed reads every file with the table's current
    schema instead of one file's footer."""
    t = DeltaTable(spark, str(tmp_path / "widen"))
    t.write(spark.createDataFrame([(1, 1)], "id int, v int"))
    t.enable_cdc()
    t.write(spark.createDataFrame([(2, 2)], "id int, v int"))
    t.write(spark.createDataFrame([(3, 3, "x")], "id long, v int, w string"),
            merge_schema=True)
    rows = sorted((r["id"], r["w"], r["_commit_version"])
                  for r in t.read_changes(0).collect())
    assert rows == [(2, None, 2), (3, "x", 3)]
    assert dict(t.read_changes(0).dtypes)["id"] == "bigint"
