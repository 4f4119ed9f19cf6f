"""Spark jobs the table layer starts, pinned per call.

A Delta snapshot names its files in the log, so building a scan needs no
Spark job, and a DML only scans the files its filter can match. A DML
that starts a job it does not need is a regression here even when its
result is right.
"""

from __future__ import annotations

import json

import pytest

from deltalake_spark.delta.table import DeltaTable

#: jobs one CDC-enabled upsert MERGE (update + insert) may start: a probe,
#: one data write and one change-feed write, with their shuffle stages
#: (11 here). The previous plan (two full-target scans, two data writes,
#: three change-feed writes) started 25 on the same input.
MERGE_JOB_CEILING = 14


def _range_files(spark, path, n_files, rows_per_file=10):
    """A table of ``n_files`` files, file k holding ids
    [k*rows_per_file, (k+1)*rows_per_file), so min/max stats separate
    them."""
    t = DeltaTable(spark, path)
    for k in range(n_files):
        lo = k * rows_per_file
        t.write(spark.range(lo, lo + rows_per_file).selectExpr(
            "id", "id % 3 AS v").coalesce(1))
    return t


def test_to_df_build_starts_no_job_on_many_files(spark, tmp_path,
                                                 count_jobs):
    t = DeltaTable(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 400, numPartitions=40))
    assert len(t.snapshot().files) == 40  # above Spark's listing cutoff
    df, jobs = count_jobs(t.to_df)
    assert jobs == 0
    assert df.count() == 400


def test_cdc_merge_stays_under_job_ceiling(spark, tmp_path, count_jobs):
    t = _range_files(spark, str(tmp_path / "t"), 8)
    t.enable_cdc()
    src = spark.createDataFrame(
        [(i, 7) for i in (3, 4, 15)] + [(i, 1) for i in (100, 101)],
        "id long, v long")
    res, jobs = count_jobs(lambda: t.merge(
        src, "t.id = s.id", when_matched_update="*",
        when_not_matched_insert=True))
    assert (res["numUpdated"], res["numInserted"]) == (3, 2)
    assert jobs <= MERGE_JOB_CEILING
    changes = {}
    for r in t.read_changes(res["version"]).collect():
        changes[r["_change_type"]] = changes.get(r["_change_type"], 0) + 1
    assert changes == {"update_preimage": 3, "update_postimage": 3,
                       "insert": 2}


@pytest.mark.parametrize("dv", [False, True], ids=["cow", "dv"])
def test_range_delete_scans_only_pruned_files(spark, tmp_path,
                                              monkeypatch, dv):
    t = _range_files(spark, str(tmp_path / "t"), 8)
    if dv:
        t.enable_deletion_vectors()
    target = next(f["path"] for f in t.snapshot().files
                  if json.loads(f["stats"])["minValues"]["id"] == 20)
    scanned = []
    real = DeltaTable._keyed_scan

    def recording_scan(self, snap, adds):
        df = real(self, snap, adds)
        scanned.append({p.rsplit("/", 1)[-1] for p in df.inputFiles()})
        return df

    monkeypatch.setattr(DeltaTable, "_keyed_scan", recording_scan)
    res = t.delete({"id": {"$gte": 20, "$lt": 25}})
    assert res["numDeletedRows"] == 5
    assert scanned and all(s == {target} for s in scanned)
    monkeypatch.undo()
    assert t.to_df().count() == 75
