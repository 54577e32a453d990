"""Incremental LSH dedup against a persisted band-key store:
parity with one-shot, bucket-pruned probing, re-feed idempotence,
cap-crossing connectivity."""

import pytest
from pyspark.sql import functions as F

from aquacache_spark.operators.dedup import (
    band_key_rows, duplicate_clusters, incremental_lsh_pairs,
    lsh_candidate_pairs, minhash_signatures)
from aquacache_spark.sources.store import ParquetMergeStore


def _docs(spark, n=40):
    # duplicate pairs (2k, 2k+1) with IDENTICAL text and pair-disjoint
    # vocab: in-pair Jaccard is exactly 1 (every band collides under
    # any correct minhash family) and cross-pair Jaccard is exactly 0
    # (no band can collide). The pre-r11 fixture shared a 7-token
    # sentence across ALL docs (cross-pair J ~ 0.33) and only passed
    # because the broken never-wrapping hash family hid the legitimate
    # LSH collisions a J=0.33 pair should sometimes produce.
    rows = []
    for i in range(n):
        base = " ".join(f"tok{j}pair{i // 2}" for j in range(8)) + " "
        rows.append((i, base * 4))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _store(spark, tmp_path, n_buckets=32):
    return ParquetMergeStore(
        spark, str(tmp_path / "sigstore"),
        key_cols=["band", "key", "doc_id"], series_col="key",
        n_buckets=n_buckets)


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_two_batch_union_equals_one_shot(spark, tmp_path):
    docs = _docs(spark)
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    one_shot = _pairs_set(lsh_candidate_pairs(sig, num_hashes=8, bands=4))
    store = _store(spark, tmp_path)
    b1 = sig.where(F.col("doc_id") % 3 != 0)
    b2 = sig.where(F.col("doc_id") % 3 == 0)
    p1 = _pairs_set(incremental_lsh_pairs(store, b1))
    p2 = _pairs_set(incremental_lsh_pairs(store, b2))
    assert p1 | p2 == one_shot
    assert p1 & p2 == set()  # runs never re-emit each other's pairs


def test_probe_reads_only_hit_buckets(spark, tmp_path):
    docs = _docs(spark, 60)
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    store = _store(spark, tmp_path, n_buckets=64)
    incremental_lsh_pairs(store, sig.where(F.col("doc_id") >= 2))
    batch2 = sig.where(F.col("doc_id") < 2)
    keys2 = band_key_rows(batch2, "doc_id", 8, 4)
    hit = {r["bucket"] for r in store.bucket_of(keys2.select("key"))
           .select("bucket").distinct().collect()}
    # a 2-doc batch has <= 8 band keys -> far under 10% of 64 buckets
    assert len(hit) <= 8
    # the probe read opens ONLY the hit buckets' files (the plan the
    # operator builds internally is exactly this read)
    probe = store.read_buckets(sorted(hit))
    assert probe is not None
    read_buckets = {
        int(f.split("bucket=")[1].split("/")[0])
        for f in probe.inputFiles()}
    assert read_buckets and read_buckets <= hit, (
        sorted(read_buckets), sorted(hit))
    # and the store is genuinely wider than the probe
    all_buckets = {
        int(f.split("bucket=")[1].split("/")[0])
        for f in store.read().inputFiles()}
    assert len(read_buckets) < len(all_buckets) / 4
    pairs = incremental_lsh_pairs(store, batch2, merge=False)
    assert _pairs_set(pairs) == {(0, 1)}


def test_refed_docs_are_idempotent(spark, tmp_path):
    docs = _docs(spark)
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    store = _store(spark, tmp_path)
    p1 = _pairs_set(incremental_lsh_pairs(store, sig))
    n_rows = store.read().count()
    history = store._retained_versions()
    # feeding the same corpus again: no self-pairs, no new store rows,
    # and the pair set is exactly re-emitted (every pair has a "new"
    # endpoint again)
    p2 = _pairs_set(incremental_lsh_pairs(store, sig))
    assert p2 == p1
    assert all(a != b for a, b in p2)
    assert store.read().count() == n_rows
    # the re-fed merge changes no row, so it commits no new version
    assert store._retained_versions() == history
    assert store._load_manifest()["version"] == history[-1]


def test_cap_crossing_preserves_connectivity(spark, tmp_path):
    # 8 docs sharing one boilerplate bucket; cap=3 — batch 1 (4 docs)
    # stays under the cap, batch 2 pushes the bucket over it
    docs = spark.createDataFrame(
        [(i, "same boiler plate text repeated here " * 3)
         for i in range(8)],
        "doc_id long, text string")
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    one_shot = lsh_candidate_pairs(sig, num_hashes=8, bands=4,
                                   max_bucket=3)
    store = _store(spark, tmp_path)
    p1 = incremental_lsh_pairs(store, sig.where(F.col("doc_id") < 4),
                               max_bucket=3)
    p2 = incremental_lsh_pairs(store, sig.where(F.col("doc_id") >= 4),
                               max_bucket=3)
    inc = p1.unionByName(p2).distinct()
    # edge sets may differ (batch 1 ran uncapped), but the clusters
    # must be identical
    def clusters(pairs):
        cl = duplicate_clusters(pairs, docs.select("doc_id"))
        out = {}
        for r in cl.collect():
            out.setdefault(r["cluster_rep"], set()).add(r["doc_id"])
        return sorted(frozenset(v) for v in out.values())

    assert clusters(inc) == clusters(one_shot)
    assert _pairs_set(inc) >= _pairs_set(one_shot)


def test_first_batch_is_plain_lsh(spark, tmp_path):
    docs = _docs(spark, 20)
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    store = _store(spark, tmp_path)
    inc = _pairs_set(incremental_lsh_pairs(store, sig))
    assert inc == _pairs_set(lsh_candidate_pairs(sig, num_hashes=8,
                                                 bands=4))
    assert store.exists()


def test_store_merge_is_cdf_scoped(spark, tmp_path):
    # the daily drop's write amplification is observable and scoped:
    # the CDF between the two commits carries exactly batch 2's fresh
    # band keys as inserts, and reading it opens no untouched-bucket
    # files
    docs = _docs(spark, 30)
    sig = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    store = _store(spark, tmp_path, n_buckets=64)
    incremental_lsh_pairs(store, sig.where(F.col("doc_id") >= 4))
    v1 = store._load_manifest()["version"]
    b2 = sig.where(F.col("doc_id") < 4)
    incremental_lsh_pairs(store, b2)
    v2 = store._load_manifest()["version"]
    ch = store.changes(v1, v2)
    rows = ch.collect()
    assert all(r["_change_type"] == "insert" for r in rows)
    got = {(r["band"], r["key"], r["doc_id"]) for r in rows}
    want = {(r["band"], r["key"], r["doc_id"])
            for r in band_key_rows(b2, "doc_id", 8, 4).collect()}
    assert got == want
    touched = {b for b, v in store._load_manifest()["data"].items()
               if v == v2}
    read = {int(f.split("bucket=")[1].split("/")[0])
            for f in ch.inputFiles() if "bucket=" in f}
    assert read <= touched


def test_foreachbatch_stream_shares_the_batch_store(spark, tmp_path):
    # lambda-architecture parity: a document STREAM drives the same
    # persisted band-key store through foreachBatch +
    # incremental_lsh_pairs, so nightly batch drops and live streams
    # dedup against ONE corpus state; the accumulated pair set equals
    # the one-shot batch LSH over everything ingested
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = _store(spark, tmp_path)
    docs = _docs(spark, 36)

    # seed the store with a BATCH drop (docs 24..35)
    seed = minhash_signatures(docs.where(F.col("doc_id") >= 24),
                              num_hashes=8, shingle_k=3)
    batch_pairs = _pairs_set(incremental_lsh_pairs(store, seed))

    emitted = set()

    def process(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        sigs = minhash_signatures(batch_df, num_hashes=8, shingle_k=3)
        for r in incremental_lsh_pairs(store, sigs).collect():
            emitted.add((r["id_a"], r["id_b"]))

    stream = (spark.readStream.format("parquet")
              .schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).load(str(landing)))
    q = (stream.writeStream
         .option("checkpointLocation", ckpt)
         .foreachBatch(process).start())
    try:
        docs.where(F.col("doc_id") < 12).write.mode("append") \
            .parquet(str(landing))
        q.processAllAvailable()
        docs.where((F.col("doc_id") >= 12) & (F.col("doc_id") < 24)) \
            .write.mode("append").parquet(str(landing))
        q.processAllAvailable()
    finally:
        q.stop()

    one_shot = _pairs_set(lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes=8, shingle_k=3),
        num_hashes=8, bands=4))
    assert batch_pairs | emitted == one_shot


def test_lsh_store_hash_family_stamp(spark, tmp_path):
    """ADVICE r11: persisted LSH state carries the hash-family/banding
    props; a store built under different parameters (or a pre-stamp
    store) fails LOUDLY instead of silently producing zero
    collisions."""
    import json
    import os

    import pytest

    from aquacache_spark.operators.dedup import (
        MINHASH_FAMILY, incremental_lsh_pairs, minhash_signatures)
    from aquacache_spark.sources.store import ParquetMergeStore

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in
         range(4)], "doc_id long, text string")
    sigs = minhash_signatures(docs, num_hashes=8, shingle_k=3)
    store = ParquetMergeStore(
        spark, str(tmp_path / "lsh"), key_cols=["band", "key", "doc_id"],
        series_col="key", n_buckets=4)
    incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)
    assert store.props()["minhash_family"] == MINHASH_FAMILY
    assert store.props()["bands"] == 4
    # the store LAYOUT is stamped too: a differently-bucketed handle
    # would probe the wrong bucket= dirs (zero collisions, no error)
    assert store.props()["n_buckets"] == 4
    # same params: fine
    incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)
    # different banding: loud
    with pytest.raises(ValueError, match="different parameters"):
        incremental_lsh_pairs(store, sigs, num_hashes=8, bands=2)
    # same banding, differently-bucketed handle on the same path: loud
    store8 = ParquetMergeStore(
        spark, str(tmp_path / "lsh"), key_cols=["band", "key", "doc_id"],
        series_col="key", n_buckets=8)
    with pytest.raises(ValueError, match="different parameters"):
        incremental_lsh_pairs(store8, sigs, num_hashes=8, bands=4)
    # routine compaction must NOT strip the stamp (r12 review find:
    # optimize committed a props-less manifest, hard-failing the next
    # increment on a perfectly valid store)
    store.optimize()
    assert store.props()["minhash_family"] == MINHASH_FAMILY
    incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)
    # overwrite carries props forward by default, restamps on request
    store.overwrite(store.read())
    assert store.props()["bands"] == 4
    incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)
    # pre-stamp store (simulated by stripping props): loud, names the
    # migration path
    m_path = os.path.join(store.path, "_MANIFEST.json")
    m = json.load(open(m_path))
    m.pop("props")
    json.dump(m, open(m_path, "w"))
    with pytest.raises(ValueError, match="stamp_props"):
        incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)
    # explicit migration restores service
    store.stamp_props({"minhash_family": MINHASH_FAMILY,
                       "num_hashes": 8, "bands": 4, "n_buckets": 4})
    incremental_lsh_pairs(store, sigs, num_hashes=8, bands=4)


def test_incremental_paragraph_dedup(spark, tmp_path):
    """Cross-batch keep-first against the persisted fingerprint
    store: batch 2's repeat of a batch-1 paragraph is dropped; a
    RE-FED batch must not suppress itself (its own stored keeper ids
    are exempt); the store stamps the fingerprint construction."""
    import pytest

    from aquacache_spark.operators.dedup import (
        PARAGRAPH_FP, incremental_paragraph_dedup)
    from aquacache_spark.sources.store import ParquetMergeStore

    spark.catalog.clearCache()
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    store = ParquetMergeStore(
        spark, str(tmp_path / "para"), key_cols=["fp"],
        series_col="fp", n_buckets=4)
    b1 = spark.createDataFrame(
        [(1, "alpha body\n\nshared footer")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, "beta body\n\nshared footer")],
        "doc_id long, text string")
    o1 = {r["doc_id"]: r for r in
          incremental_paragraph_dedup(store, b1).collect()}
    assert o1[1]["cleaned_text"] == "alpha body\n\nshared footer"
    assert store.props()["paragraph_fp"] == PARAGRAPH_FP
    o2 = {r["doc_id"]: r for r in
          incremental_paragraph_dedup(store, b2).collect()}
    assert o2[2]["cleaned_text"] == "beta body"
    assert (o2[2]["n_kept"], o2[2]["n_dropped"]) == (1, 1)
    # re-feed batch 1: its own stored fingerprints must not drop it
    o1r = {r["doc_id"]: r for r in
           incremental_paragraph_dedup(store, b1).collect()}
    assert o1r[1]["cleaned_text"] == "alpha body\n\nshared footer"
    # differently-bucketed handle: loud, not silently wrong probes
    store8 = ParquetMergeStore(
        spark, str(tmp_path / "para"), key_cols=["fp"],
        series_col="fp", n_buckets=8)
    with pytest.raises(ValueError, match="different parameters"):
        incremental_paragraph_dedup(store8, b2)
    # the operator releases its internal paras cache on every call;
    # the only storage allowed to remain is the (local)checkpoint
    # block set of each call's small per-doc output (3 calls ran)
    stored = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(stored) - before <= 3, [r.name() for r in stored]


def test_incremental_paragraph_dedup_degenerate_batches(spark, tmp_path):
    """A daily drop consisting ENTIRELY of known boilerplate (kept set
    empty -> zero-row merge) and a zero-doc batch must both complete
    without error and leave the store untouched."""
    from aquacache_spark.operators.dedup import incremental_paragraph_dedup
    from aquacache_spark.sources.store import ParquetMergeStore

    store = ParquetMergeStore(
        spark, str(tmp_path / "edge"), key_cols=["fp"],
        series_col="fp", n_buckets=4)
    b1 = spark.createDataFrame([(1, "shared footer")],
                               "doc_id long, text string")
    incremental_paragraph_dedup(store, b1)
    rows_before = store.read().count()
    # all-duplicate batch: everything drops, store unchanged
    b2 = spark.createDataFrame([(2, "shared  FOOTER")],  # normalizes equal
                               "doc_id long, text string")
    out = incremental_paragraph_dedup(store, b2).collect()
    assert [(r["doc_id"], r["cleaned_text"], r["n_kept"], r["n_dropped"])
            for r in out] == [(2, "", 0, 1)]
    assert store.read().count() == rows_before
    # empty batch: no rows out, store unchanged
    b3 = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_paragraph_dedup(store, b3).count() == 0
    assert store.read().count() == rows_before
