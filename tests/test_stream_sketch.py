"""Sketch operators on a streaming input: the batch CMS and Bloom
aggregates run unchanged on a readStream and converge to the batch
sketch over the same rows."""

from pyspark.sql import functions as F


def test_stream_cms_and_bloom_equal_batch(spark, tmp_path):
    """cms_counters and bloom_words are pure groupBy aggregates over
    monotone merges (+ and |), so the BATCH operators run unchanged
    on a readStream input in update mode — the streaming state is the
    counter/lane table itself. Final state (max over update-mode
    emissions — both values are monotone nondecreasing) must equal
    the batch sketch over the same rows."""
    import time
    from ferenda_spark.operators.sketches import bloom_words, cms_counters

    src = tmp_path / "src"
    src.mkdir()
    schema = "v string"

    def rows(lo, hi):
        return [("w%d" % (i % 97),) for i in range(lo, hi)]

    def write_batch(name, r):
        spark.createDataFrame(r, schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / name))
        time.sleep(1.1)

    write_batch("b1", rows(0, 150))
    write_batch("b2", rows(100, 300))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    for name, op, keys in (
            ("cms_stream", lambda d: cms_counters(d, "v", d=2, w=64),
             ["row_i", "bucket"]),
            ("bloom_stream", lambda d: bloom_words(d, "v",
                                                   m_bits=256, k=2),
             ["word_idx"])):
        q = (op(stream).writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / ("c" + name)))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        val = [c for c in spark.table(name).columns if c not in keys][0]
        got = (spark.table(name).groupBy(*keys)
               .agg(F.max(val).alias(val)))
        whole = spark.createDataFrame(rows(0, 150) + rows(100, 300),
                                      schema)
        want = op(whole)
        sym = got.exceptAll(want).union(want.exceptAll(got))
        assert sym.count() == 0, name
