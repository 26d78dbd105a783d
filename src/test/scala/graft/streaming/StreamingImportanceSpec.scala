package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.Tables
import graft.operators.Importance

/** Streaming DSIR importance: the stream maintains slot postings, serve
  * derives the weights — streamed serve must equal the batch operator
  * over everything ingested, exactly, and a replayed batch must collapse
  * in the serve-side dedup. */
class StreamingImportanceSpec extends SparkSpec {

  test("streamed serve == batch operator over the full corpus; replay is a no-op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("simp").toString + "/postings"

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text", "lang")
    val half1 = docs.filter(col("doc_id") < 25)
    val half2 = docs.filter(col("doc_id") >= 25)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"), (col("lang") === "en").as("t"))
        .as[(Long, String, Boolean)].collect().toIndexedSeq

    val mem = MemoryStream[(Long, String, Boolean)]
    val q = StreamingImportance.start(
      mem.toDF().toDF("doc_id", "text", "is_t"), path, col("is_t"))
    try {
      mem.addData(rows(half1): _*)
      q.processAllAvailable()
      mem.addData(rows(half2): _*)
      q.processAllAvailable()
    } finally q.stop()

    def weightSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = weightSet(StreamingImportance.serve(spark, path))
    val batch = weightSet(Importance.importanceWeights(
      docs, "doc_id", "text", col("lang") === "en"))
    assert(streamed == batch,
      s"extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)}")

    // at-least-once: replay half2 as a fresh stream (its batch re-lands
    // under a new batch_id... so simulate the true replay: same batchId)
    // — re-appending the SAME batch partial must collapse in the dedup
    val replayRows = StreamingImportance.batchPostings(
        half2.select(col("doc_id"), col("text"),
          (col("lang") === "en").as("is_t")),
        batchId = 1L, isTarget = col("is_t"), dim = 64)
      .localCheckpoint(true)
    graft.lake.DeltaTable(path).append(replayRows)
    assert(weightSet(StreamingImportance.serve(spark, path)) == batch,
      "replayed batch double-counted the postings")

    // CRASH SAFETY: postings files landing without their log commit
    // never reach the serve scan — weights hold — and the replayed
    // append commits on top, collapsing in the (batch_id, doc_id, slot)
    // dedup as usual
    val table = graft.lake.DeltaTable(path)
    val vBefore = table.latestVersion.get
    landUncommitted(replayRows, path) // died before publish
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(weightSet(StreamingImportance.serve(spark, path)) == batch,
      "crashed append leaked postings into the serve path")
    table.append(replayRows)
    assert(weightSet(StreamingImportance.serve(spark, path)) == batch,
      "replay after crash double-counted")
  }
}
