"""Incremental MinHash dedup against a persisted fingerprint index
(r8 verdict ask #3): the nightly-ingest pattern — signatures of the
already-ingested corpus live in a Delta table; a new batch computes
ITS signatures only and band-joins against the index scan.

Contracts pinned here:
- batch/index bucketing is IDENTICAL to the self-corpus path (both
  derive from minhash_band_keys), so incremental finds exactly the
  cross (batch x corpus) collisions the full-corpus run finds;
- parameters are pinned in the table config and any mismatch —
  append or probe — fails loud;
- the probe plan recomputes NO corpus signature: its only Generate
  (explode) nodes belong to the batch derivation;
- max_bucket drops boilerplate buckets deterministically.
"""

import tempfile

import pytest
from pyspark.sql import functions as F

BASE = ("the quick brown fox jumps over the lazy dog while the "
        "cat watches from the fence and the birds sing in the tree")


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _family_text(fam: int) -> str:
    # lexically disjoint families: zero shared shingles across families
    return " ".join(f"tok{fam}x{j}" for j in range(40))


@pytest.fixture(scope="module")
def corpus(spark):
    # 10 distinct doc families, 3 exact copies each
    rows = [(i, _family_text(i % 10)) for i in range(30)]
    return _docs(spark, rows)


def _fresh(spark, name):
    from deltalake_spark.delta.table import DeltaTable

    return DeltaTable(spark,
                      tempfile.mkdtemp(prefix=f"mhidx_{name}_") + "/t")


PARAMS = dict(id_col="doc_id", text_col="text", num_hashes=32, bands=8)


def test_incremental_matches_full_corpus_collisions(spark, corpus):
    from deltalake_spark.operators.dedup import (
        minhash_band_keys,
        minhash_dedup_incremental,
        minhash_index_write,
    )

    # batch = an exact copy of family 3 plus one novel doc
    batch = _docs(spark, [
        (100, _family_text(3)),
        (101, "completely different text about databases and "
              "distributed execution engines at warehouse scale"),
    ])
    t = _fresh(spark, "full")
    minhash_index_write(corpus, t, **PARAMS)
    got = {r["doc_id"]: r for r in
           minhash_dedup_incremental(batch, t, **PARAMS).collect()}
    assert got[100]["is_new"] is False
    # an exact near-copy shares every band with all 3 family members
    assert got[100]["match_bands"] == 8
    assert got[100]["n_candidates"] == 3
    assert got[100]["match_id"] == 3  # smallest family-3 member
    assert got[101]["is_new"] is True
    assert got[101]["match_id"] is None
    assert got[101]["match_bands"] == 0

    # cross-check vs the shared derivation: incremental == manual join
    # of batch keys x corpus keys (same bucketing function both sides)
    bk = minhash_band_keys(batch, **PARAMS)
    ck = minhash_band_keys(corpus, **PARAMS).withColumnRenamed(
        "doc_id", "cand")
    manual = (bk.join(ck, ["band", "band_hash"])
              .groupBy("doc_id", "cand").count())
    assert manual.filter("doc_id = 100").count() == 3
    assert manual.filter("doc_id = 101").count() == 0


def test_param_mismatch_fails_loud(spark, corpus):
    from deltalake_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_write,
    )

    t = _fresh(spark, "mismatch")
    minhash_index_write(corpus, t, **PARAMS)
    batch = _docs(spark, [(100, BASE)])
    with pytest.raises(ValueError, match="not comparable"):
        minhash_dedup_incremental(
            batch, t, id_col="doc_id", text_col="text",
            num_hashes=64, bands=8)
    with pytest.raises(ValueError, match="not comparable"):
        minhash_index_write(
            corpus, t, id_col="doc_id", text_col="text",
            num_hashes=32, bands=8, seed=7)
    # overwrite rebuild re-pins the stored params
    minhash_index_write(
        corpus, t, id_col="doc_id", text_col="text",
        num_hashes=32, bands=8, seed=7, mode="overwrite")
    out = minhash_dedup_incremental(
        batch, t, id_col="doc_id", text_col="text",
        num_hashes=32, bands=8, seed=7)
    assert out.count() == 1


def test_append_is_the_nightly_loop(spark, corpus):
    from deltalake_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_write,
    )

    t = _fresh(spark, "nightly")
    minhash_index_write(corpus, t, **PARAMS)
    batch = _docs(spark, [
        (200, "a brand new document with entirely novel content "
              "mentioning volcanoes and violins in equal measure"),
    ])
    day1 = minhash_dedup_incremental(batch, t, **PARAMS).collect()
    assert day1[0]["is_new"] is True
    # ingest: append the kept doc's keys; day 2's identical doc matches
    minhash_index_write(batch, t, **PARAMS, mode="append")
    batch2 = _docs(spark, [(201, batch.collect()[0]["text"])])
    day2 = minhash_dedup_incremental(batch2, t, **PARAMS).collect()
    assert day2[0]["is_new"] is False
    assert day2[0]["match_id"] == 200
    assert day2[0]["match_bands"] == 8


def test_max_bucket_drops_boilerplate(spark):
    from deltalake_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_write,
    )

    # 50 identical boilerplate docs: every bucket has 50 members
    boiler = _docs(spark, [(i, BASE) for i in range(50)])
    t = _fresh(spark, "boiler")
    minhash_index_write(boiler, t, **PARAMS)
    batch = _docs(spark, [(900, BASE)])
    hit = minhash_dedup_incremental(batch, t, **PARAMS).collect()[0]
    assert hit["n_candidates"] == 50
    dropped = minhash_dedup_incremental(
        batch, t, max_bucket=10, **PARAMS).collect()[0]
    assert dropped["is_new"] is True  # hot buckets skipped entirely


# Band keys of a fixed corpus per (shingle_mode, hash_mode): row count
# and sha256 of the sorted "id,band,band_hash" lines. Taken from the
# Column-API build of minhash_band_keys; the SQL-text build must
# reproduce them bit for bit. Covers short docs, whitespace runs,
# non-ASCII text, an empty string and a NULL text.
GOLDEN_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "two words"),
    (4, "single"),
    (5, "  leading and trailing   whitespace  runs  "),
    (6, "caf\u00e9 na\u00efve r\u00e9sum\u00e9 \u2014 unicode text "
        "\u00fcber alles"),
    (7, ""),
    (8, None),
    (9, BASE),
    (10, BASE),
]
GOLDEN_KEYS = {
    ("word", "portable"): (
        72, "bded3017e6e08a59b5400ba587308c18"
            "a8335d8d039fc863620f00235091599d"),
    ("word", "native"): (
        72, "4aa7baea53c6503d21cd6396dd88aa1f"
            "3e50cd1052ade4c0c049c3014eaa7541"),
    ("char", "native"): (
        80, "cd5ac3aa8a1f0da61b8e0b92bf65964072623b4f"
            "8278202c440ba16c8ab9fb6e"),
}


@pytest.mark.parametrize("shingle_mode,hash_mode", list(GOLDEN_KEYS))
def test_band_keys_match_golden_checksums(spark, shingle_mode, hash_mode):
    import hashlib

    from deltalake_spark.operators.dedup import minhash_band_keys

    keys = minhash_band_keys(
        _docs(spark, GOLDEN_DOCS), **PARAMS,
        shingle_mode=shingle_mode, hash_mode=hash_mode)
    assert keys.schema.simpleString() == (
        "struct<doc_id:bigint,band:int,band_hash:bigint>")
    rows = sorted((r["doc_id"], r["band"], r["band_hash"])
                  for r in keys.collect())
    text = "\n".join(f"{i},{b},{h}" for i, b, h in rows)
    got = (len(rows), hashlib.sha256(text.encode()).hexdigest())
    assert got == GOLDEN_KEYS[(shingle_mode, hash_mode)]


def test_probe_plan_has_no_index_side_signature_work(spark, corpus):
    from deltalake_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_index_write,
    )
    from deltalake_spark.plans import assert_plan

    t = _fresh(spark, "plan")
    minhash_index_write(corpus, t, **PARAMS)
    batch = _docs(spark, [(100, BASE)])
    out = minhash_dedup_incremental(batch, t, **PARAMS)
    s = assert_plan(out)  # no cartesian / nested-loop anywhere
    # the index side must be scan+join ONLY: the plan's Generate
    # (explode) nodes all belong to the batch signature derivation —
    # shingle explode + band explode, once each per batch branch. The
    # batch frame appears twice (probe keys + final left join), so the
    # budget is 2 explodes x 2 textual repeats; an index-side
    # recompute would add more.
    assert s.text.count("Generate explode") <= 4, s.text
    # and the index keys come from a real file scan
    assert s.scans >= 1


def test_simhash_index_guarantee_and_nightly_loop(spark):
    """r9: the banded SimHash index carries the pigeonhole guarantee —
    any batch doc within Hamming distance bands-1 of an indexed doc
    MUST be found (they share a band) — plus the same nightly append
    and param-pinning contracts as the MinHash index."""
    from deltalake_spark.operators.dedup import (
        simhash_dedup_incremental,
        simhash_fingerprints,
        simhash_index_write,
    )

    corpus = _docs(spark, [(i, _family_text(i % 10)) for i in range(30)])
    kw = dict(id_col="doc_id", text_col="text", bands=4)
    t = _fresh(spark, "sh")
    simhash_index_write(corpus, t, **kw)
    # near-copy of family 3 (one token tweaked), one novel doc, a null
    batch = _docs(spark, [
        (100, _family_text(3).replace("tok3x7", "tok3x7z")),
        (101, "completely different text about engines and volcanoes "
              "and violins and warehouses and scale"),
        (102, None),
    ])
    got = {r["doc_id"]: r for r in
           simhash_dedup_incremental(batch, t, **kw).collect()}
    assert set(got) == {100, 101}  # null-text row drops (row contract)
    assert got[100]["is_new"] is False
    assert got[100]["match_id"] == 3
    assert 0 <= got[100]["match_hamming"] <= 3
    assert got[101]["is_new"] is True
    assert got[101]["match_hamming"] == -1

    # hamming-3 guarantee cross-check vs direct fingerprints
    fa = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(
        corpus, id_col="doc_id", text_col="text").collect()}
    fb = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(
        batch, id_col="doc_id", text_col="text").collect()}
    ham = bin(fa[3] ^ fb[100]).count("1")
    assert got[100]["match_hamming"] <= ham

    # param mismatch fails loud both directions
    with pytest.raises(ValueError, match="not comparable"):
        simhash_dedup_incremental(
            batch, t, id_col="doc_id", text_col="text", bands=8)
    with pytest.raises(ValueError, match="not comparable"):
        simhash_index_write(
            corpus, t, id_col="doc_id", text_col="text", bands=8)

    # nightly append: today's kept docs match tomorrow's replays.
    # (Replay the NOVEL doc — a replay of the tweaked family-3 text
    # would tie at hamming 0 with doc 3 as well, and ties go to the
    # smallest id: SimHash absorbing a one-token tweak is the
    # operator working, first run caught exactly that.)
    simhash_index_write(
        batch.filter("text is not null"), t, mode="append", **kw)
    day2 = _docs(spark, [(200, "completely different text about "
                          "engines and volcanoes and violins and "
                          "warehouses and scale")])
    got2 = simhash_dedup_incremental(day2, t, **kw).collect()[0]
    assert got2["match_id"] == 101 and got2["match_hamming"] == 0


def test_retention_expires_ids_and_preserves_probe(spark, corpus):
    """dedup_index_retention (r11): expiry removes exactly the dropped
    ids' bands, a layout-only pass (empty drop set) leaves probe
    results IDENTICAL, and the pinned params survive the rewrite."""
    from deltalake_spark.operators.dedup import (
        _MINHASH_INDEX_CONF,
        dedup_index_retention,
        minhash_dedup_incremental,
        minhash_index_write,
    )

    t = _fresh(spark, "ret")
    minhash_index_write(corpus, t, **PARAMS)
    conf0 = dict(t.snapshot().configuration)
    assert _MINHASH_INDEX_CONF in conf0
    n_keys = t.to_df().count()          # 30 docs x 8 bands
    assert n_keys == 240

    batch = _docs(spark, [(100, _family_text(3)), (101, _family_text(7)),
                          (102, "entirely novel words only here")])
    before = {r["doc_id"]: (r["n_candidates"], r["match_id"], r["is_new"])
              for r in minhash_dedup_incremental(batch, t, **PARAMS)
              .collect()}
    assert before[100][1] is not None and before[102][2]

    # layout-only pass: no expiry, probe identical, params survive
    stats = dedup_index_retention(t, None, id_col="doc_id")
    assert stats["dropped_ids"] == 0 and stats["kept_rows"] == n_keys
    assert dict(t.snapshot().configuration) == conf0
    assert list(t.snapshot().partition_columns) == ["band"]
    mid = {r["doc_id"]: (r["n_candidates"], r["match_id"], r["is_new"])
           for r in minhash_dedup_incremental(batch, t, **PARAMS)
           .collect()}
    assert mid == before

    # expire every family-3 doc (ids 3, 13, 23): batch doc 100 goes new
    drop = spark.createDataFrame([(3,), (13,), (23,)], "doc_id long")
    stats = dedup_index_retention(t, drop, id_col="doc_id")
    assert stats["dropped_ids"] == 3
    assert stats["removed_rows"] == 3 * 8
    assert stats["kept_rows"] == n_keys - 24
    assert t.to_df().count() == n_keys - 24
    assert t.to_df().filter(F.col("doc_id").isin(3, 13, 23)).count() == 0
    assert dict(t.snapshot().configuration) == conf0

    after = {r["doc_id"]: (r["n_candidates"], r["match_id"], r["is_new"])
             for r in minhash_dedup_incremental(batch, t, **PARAMS)
             .collect()}
    assert after[100] == (0, None, True)      # its only matches expired
    assert after[101] == before[101]          # untouched family
    assert after[102] == before[102]

    # dry_run reports without mutating
    v = t.version()
    stats = dedup_index_retention(
        t, spark.createDataFrame([(7,)], "doc_id long"),
        id_col="doc_id", dry_run=True)
    assert stats["removed_rows"] == 8 and stats["version"] == v
    assert t.version() == v and t.to_df().count() == n_keys - 24

    # probe params stay enforceable after retention: mismatch is loud
    with pytest.raises(ValueError, match="not comparable"):
        minhash_dedup_incremental(batch, t, id_col="doc_id",
                                  text_col="text", num_hashes=16, bands=8)
