package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Text
import graft.lake.Tables
import graft.operators.Bloom

/** Streaming Bloom-prefiltered dedup: streamed micro-batches produce
  * exactly the batch-incremental novel set (bloom_hit included), the
  * fingerprint table accumulates to the distinct corpus, and the
  * additively-maintained filter is bit-identical to a from-scratch
  * rebuild over the final corpus. */
class StreamingBloomSpec extends SparkSpec {

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Int)] =
    df.select("doc_id", "fingerprint", "bloom_hit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  test("streamed deltas == batch-incremental replay; filter == rebuild over final corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("sbloom").toString
    val (fpPath, bloomPath, outPath) = (s"$tmp/fp", s"$tmp/bloom", s"$tmp/out")

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val delta1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val delta2 = docs.filter(col("doc_id") >= 400)

    // day 0: persisted fingerprint table + its Bloom filter (the filter
    // is a DeltaTable — its updates are commits, not raw overwrites)
    val corpusFps = corpus.select(Text.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    corpusFps.write.parquet(fpPath)
    graft.lake.DeltaTable(bloomPath).overwrite(Bloom.build(corpusFps))

    val mem = MemoryStream[(Long, String)]
    val q = StreamingBloom.start(
      mem.toDF().toDF("doc_id", "text"), fpPath, bloomPath, outPath)
    try {
      mem.addData(delta1.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(delta2.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = rowSet(spark.read.parquet(outPath))
    val expected = rowSet(Bloom.incrementalExactDedup(corpus, delta1)) ++
      rowSet(Bloom.incrementalExactDedup(corpus.unionByName(delta1), delta2))
    assert(streamed == expected,
      s"extra=${(streamed -- expected).take(3)} missing=${(expected -- streamed).take(3)}")

    // the fingerprint table is the distinct union of everything accepted
    val allFps = docs.select(Text.fingerprint(col("text")).as("fingerprint"))
      .distinct().collect().map(_.getString(0)).toSet
    val tableFps = spark.read.parquet(fpPath)
      .collect().map(_.getString(0)).toSet
    assert(tableFps == allFps)

    // additive OR maintenance == from-scratch rebuild, bit for bit
    def filterBits(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
      df.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val maintained = filterBits(StreamingBloom.readFilter(spark, bloomPath))
    val rebuilt = filterBits(Bloom.build(spark.read.parquet(fpPath)))
    assert(maintained == rebuilt, "maintained filter diverged from rebuild")

    // CRASH SAFETY (why the filter update is a table commit): a writer
    // dying between the merged-filter WRITE and its publish leaves the
    // previous filter snapshot live — an older filter is conservative
    // (admits more verify work) but never wrong — and a replayed batch
    // converges: its rows all probe bloom-positive, the fp anti-join
    // drops them, and the filter OR is idempotent
    val table = graft.lake.DeltaTable(bloomPath)
    val vBefore = table.latestVersion.get
    landUncommitted(Bloom.build(spark.read.parquet(fpPath)), bloomPath)
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(filterBits(StreamingBloom.readFilter(spark, bloomPath)) == maintained,
      "crashed publish torched the filter")
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingBloom.start(
      mem2.toDF().toDF("doc_id", "text"), fpPath, bloomPath, outPath)
    try {
      mem2.addData(delta2.as[(Long, String)].collect().toIndexedSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // artifacts unchanged up to outPath replay dupes (removed by distinct)
    assert(rowSet(spark.read.parquet(outPath).distinct()) == streamed,
      "replayed batch double-counted the output")
    assert(spark.read.parquet(fpPath).collect().map(_.getString(0)).toSet == allFps,
      "replayed batch double-counted the fingerprint table")
    assert(filterBits(StreamingBloom.readFilter(spark, bloomPath)) == rebuilt,
      "replayed batch corrupted the filter")
  }
}
