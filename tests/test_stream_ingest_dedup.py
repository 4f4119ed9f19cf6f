"""Streaming ingest dedup against a persisted MinHash index (r9,
streaming/sink.py minhash_stream_dedup_sink): cross-micro-batch dedup
through index appends, exactly-once across the two tables, and
replay-determinism via self-exclusion."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _stage(spark, batches):
    d = tempfile.mkdtemp(prefix="sid_docs_")
    for b, rows in enumerate(batches):
        pdf = spark.createDataFrame(
            rows, "doc_id long, text string").toPandas()
        p = os.path.join(d, f"b{b}.parquet")
        pdf.to_parquet(p)
        os.utime(p, (1_600_000_000 + b, 1_600_000_000 + b))
    return d


def _fresh(spark, name):
    from deltalake_spark.delta.table import DeltaTable

    return DeltaTable(spark,
                      tempfile.mkdtemp(prefix=f"sid_{name}_") + "/t")


def _text(fam):
    return " ".join(f"w{fam}x{j}" for j in range(40))


KW = dict(id_col="doc_id", text_col="text", num_hashes=32, bands=8)


@pytest.fixture()
def setup(spark):
    from deltalake_spark.operators.dedup import minhash_index_write
    from deltalake_spark.streaming.windowed import read_parquet_stream

    corpus = spark.createDataFrame(
        [(i, _text(i)) for i in range(5)], "doc_id long, text string")
    idx = _fresh(spark, "idx")
    minhash_index_write(corpus, idx, **KW)
    dec = _fresh(spark, "dec")
    # b0: one corpus dup + one new family 100; b1: dup of the KEPT
    # family-100 doc (cross-batch!) + a new family 200
    d = _stage(spark, [
        [(10, _text(2)), (11, _text(100))],
        [(20, _text(100)), (21, _text(200))],
    ])
    return idx, dec, d, read_parquet_stream


def _run(spark, setup_vals):
    from deltalake_spark.streaming.sink import minhash_stream_dedup_sink

    idx, dec, d, rps = setup_vals
    stream = rps(spark, d, max_files_per_trigger=1)
    minhash_stream_dedup_sink(stream, idx, dec,
                              app_id="t-stream-dedup", **KW)
    return {r["doc_id"]: r for r in dec.to_df().collect()}


def test_cross_batch_dedup_through_index_appends(spark, setup):
    got = _run(spark, setup)
    assert got[10]["is_new"] is False and got[10]["match_id"] == 2
    assert got[11]["is_new"] is True          # novel family kept
    assert got[20]["is_new"] is False
    assert got[20]["match_id"] == 11          # matched batch-0 SURVIVOR
    assert got[21]["is_new"] is True
    # index now holds corpus + the two kept docs' keys
    idx = setup[0]
    ids = {r["doc_id"] for r in idx.to_df().select("doc_id")
           .distinct().collect()}
    assert ids == {0, 1, 2, 3, 4, 11, 21}


def test_replay_is_exactly_once(spark, setup):
    got = _run(spark, setup)
    idx, dec = setup[0], setup[1]
    v_idx, v_dec = idx.version(), dec.version()
    # a fresh query over the same files restarts batch ids at 0 —
    # both tables' txn watermarks must make the whole run a no-op
    again = _run(spark, setup)
    assert again == got
    assert idx.version() == v_idx and dec.version() == v_dec


def test_partial_failure_replays_to_identical_decisions(spark, setup):
    """Crash between the index append and the decisions write: batch
    0's keys are already in the index when the batch replays. The
    probe's self-exclusion must produce the SAME decisions — doc 11
    must not match its own just-appended keys."""
    from deltalake_spark.operators.dedup import minhash_band_keys
    from deltalake_spark.streaming.windowed import read_parquet_stream

    idx, dec, d, _ = setup
    b0 = spark.createDataFrame(
        [(10, _text(2)), (11, _text(100))], "doc_id long, text string")
    kept0 = b0.filter("doc_id = 11")  # what batch 0 would keep
    idx.write(
        minhash_band_keys(kept0, **KW), partition_by=["band"],
        _extra_actions=[{"txn": {"appId": "t-stream-dedup-index",
                                 "version": 0}}])
    got = _run(spark, (idx, dec, d, read_parquet_stream))
    assert got[11]["is_new"] is True   # self-keys excluded
    assert got[10]["is_new"] is False and got[10]["match_id"] == 2
    assert got[20]["match_id"] == 11   # cross-batch still works


def test_band_keys_derived_once_per_trigger(spark, setup, monkeypatch):
    """The sink derives a batch's band keys once and hands them to both
    the probe and the index append, instead of deriving them again
    from the kept docs."""
    import deltalake_spark.operators.dedup as dedup

    calls = {"keys": 0, "probe": 0}
    keys_fn = dedup.minhash_band_keys
    probe_fn = dedup.minhash_dedup_incremental

    def counting_keys(*a, **kw):
        calls["keys"] += 1
        return keys_fn(*a, **kw)

    def counting_probe(*a, **kw):
        calls["probe"] += 1
        return probe_fn(*a, **kw)

    monkeypatch.setattr(dedup, "minhash_band_keys", counting_keys)
    monkeypatch.setattr(dedup, "minhash_dedup_incremental", counting_probe)
    got = _run(spark, setup)
    assert calls["probe"] == 2                 # one probe per trigger
    assert calls["keys"] == calls["probe"]
    assert got[20]["match_id"] == 11           # cross-batch still works


def test_sink_pins_last_one_trigger(spark, setup):
    """Each trigger pins the batch's band keys and its decisions; both
    are released when the trigger ends, so a three-trigger run leaves
    the session's persistent-RDD count where it found it."""
    from deltalake_spark.session import cached_rdd_count, release_caches
    from deltalake_spark.streaming.sink import minhash_stream_dedup_sink
    from deltalake_spark.streaming.windowed import read_parquet_stream

    idx, dec, _, _ = setup
    d = _stage(spark, [[(30 + 10 * b, _text(300 + b)),
                        (31 + 10 * b, _text(b))] for b in range(3)])
    release_caches(spark)  # clean slate regardless of suite order
    before = cached_rdd_count(spark)
    stream = read_parquet_stream(spark, d, max_files_per_trigger=1)
    minhash_stream_dedup_sink(stream, idx, dec, app_id="t-stream-pins",
                              **KW)
    assert dec.to_df().count() == 6            # three triggers ran
    assert cached_rdd_count(spark) == before
