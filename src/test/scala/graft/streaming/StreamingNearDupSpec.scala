package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.Tables
import graft.operators.Dedup

/** Streaming near-dup twin: micro-batches probing the persisted band
  * artifact produce EXACTLY the pairs the batch-incremental operator finds
  * when replayed over the same deltas, and the band table accumulates to
  * the full corpus' bands (so no history is ever re-shingled). */
class StreamingNearDupSpec extends SparkSpec {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("streamed union of micro-batch deltas == batch-incremental replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("neardup").toString
    val (bandsPath, pairsPath) = (s"$tmp/bands", s"$tmp/pairs")

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val delta1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val delta2 = docs.filter(col("doc_id") >= 400)

    // day 0: the corpus band table is a persisted artifact (v0 commit)
    graft.lake.DeltaTable(bandsPath).overwrite(Dedup.minhashBandsOf(corpus))

    val mem = MemoryStream[(Long, String)]
    val q = StreamingNearDup.start(
      mem.toDF().toDF("doc_id", "text"), bandsPath, pairsPath)
    try {
      mem.addData(delta1.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(delta2.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = pairSet(spark.read.parquet(pairsPath))
    val expected =
      pairSet(Dedup.incrementalMinhashCandidates(corpus, delta1)) ++
      pairSet(Dedup.incrementalMinhashCandidates(
        corpus.unionByName(delta1), delta2))
    assert(streamed == expected,
      s"streamed-only=${(streamed -- expected).take(5)} " +
        s"missing=${(expected -- streamed).take(5)}")
    assert(streamed.nonEmpty, "test data must produce near-dup candidates")

    // the band artifact now covers the whole corpus — identical to
    // banding all documents in one batch
    val bandSet = StreamingNearDup.readBands(spark, bandsPath)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val fullSet = Dedup.minhashBandsOf(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(bandSet == fullSet, "accumulated band table must equal full-corpus bands")

    // CRASH SAFETY (the reason the append is a table commit): a writer
    // dying between write and publish — data files landed, commit not
    // linked — leaves the band table readable at the previous version,
    // and the replayed append lands cleanly on top
    val table = graft.lake.DeltaTable(bandsPath)
    val vBefore = table.latestVersion.get
    val extra = Dedup.minhashBandsOf(
      Seq((9999L, "crash probe text for the band table")).toDF("doc_id", "text"))
      .localCheckpoint(true)
    landUncommitted(extra, bandsPath) // died before publish
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(StreamingNearDup.readBands(spark, bandsPath).count() == fullSet.size,
      "crashed append leaked rows into the band table")
    table.append(extra) // the replay
    assert(StreamingNearDup.readBands(spark, bandsPath).count() ==
      fullSet.size + extra.count(), "replayed append did not land")
  }

  test("ensureBandTable: fresh path gets an empty readable band table") {
    val tmp = java.nio.file.Files.createTempDirectory("neardup0").toString
    StreamingNearDup.ensureBandTable(spark, s"$tmp/bands")
    val df = StreamingNearDup.readBands(spark, s"$tmp/bands")
    assert(df.schema == StreamingNearDup.BandSchema && df.count() == 0)
  }
}
