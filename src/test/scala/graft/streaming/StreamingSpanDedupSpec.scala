package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.Tables
import graft.operators.SpanDedup

/** Streaming span-dedup twin: micro-batch reports probing the persisted
  * additive census equal the batch-incremental replay over the same
  * prefixes, and the census accumulates to full-corpus counts (history
  * never re-tokenized). */
class StreamingSpanDedupSpec extends SparkSpec {

  private val K = 4

  private def reportMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_dup_spans"), r.getAs[Long]("n_dup_tokens"))).toMap

  test("streamed micro-batch reports == batch-incremental replay; census accumulates") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("spandedup").toString
    val (censusPath, reportPath) = (s"$tmp/census", s"$tmp/report")

    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val delta1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val delta2 = docs.filter(col("doc_id") >= 400)

    // day 0: seed the census with the existing corpus (one batch step,
    // reports discarded — the corpus was already curated)
    StreamingSpanDedup.ensureCensus(spark, censusPath)
    StreamingSpanDedup.step(corpus, K, censusPath, append = true).collect()

    val mem = MemoryStream[(Long, String)]
    val q = StreamingSpanDedup.start(
      mem.toDF().toDF("doc_id", "text"), K, censusPath, reportPath)
    try {
      mem.addData(delta1.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(delta2.as[(Long, String)].collect().toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()

    // batch-incremental replay over the same prefixes, via a SEPARATE
    // census artifact
    val refPath = s"$tmp/census_ref"
    StreamingSpanDedup.ensureCensus(spark, refPath)
    StreamingSpanDedup.step(corpus, K, refPath, append = true).collect()
    val r1 = reportMap(StreamingSpanDedup.step(delta1, K, refPath, append = true))
    val r2 = reportMap(StreamingSpanDedup.step(delta2, K, refPath, append = true))

    val streamed = reportMap(spark.read.parquet(reportPath))
    assert(streamed == r1 ++ r2,
      s"diff=${(streamed.toSet diff (r1 ++ r2).toSet).take(5)}")
    // the deltas really collide with corpus spans (non-trivial fixture)
    assert(streamed.values.exists(_._1 > 0), "expected duplicated spans")

    // accumulated census == one-shot census over the full corpus
    val acc = StreamingSpanDedup.readCensus(spark, censusPath)
      .groupBy("span_hash").agg(sum("n").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val full = SpanDedup.spanHashes(docs, K)
      .groupBy("span_hash").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(acc == full, "accumulated census must equal full-corpus counts")

    // CRASH SAFETY: census data files landing without their log commit
    // are invisible — probes keep seeing the pre-crash counts, and the
    // replayed append commits on top
    val table = graft.lake.DeltaTable(censusPath)
    val vBefore = table.latestVersion.get
    val nBefore = StreamingSpanDedup.readCensus(spark, censusPath).count()
    val extra = SpanDedup.spanHashes(
        Seq((9999L, "crash probe span text here")).toDF("doc_id", "text"), K)
      .groupBy("span_hash").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    landUncommitted(extra, censusPath) // died before publish
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(StreamingSpanDedup.readCensus(spark, censusPath).count() == nBefore,
      "crashed append leaked rows into the census")
    table.append(extra)
    assert(StreamingSpanDedup.readCensus(spark, censusPath).count() ==
      nBefore + extra.count(), "replayed append did not land")
  }

  test("a later-batch copy is marked against the earlier one (as-of semantics)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("spandedup2").toString
    val censusPath = s"$tmp/census"
    StreamingSpanDedup.ensureCensus(spark, censusPath)
    val text = "alpha beta gamma delta epsilon zeta"
    // batch 1: the original — unique so far, clean report
    val b1 = StreamingSpanDedup.step(
      Seq((1L, text)).toDF("doc_id", "text"), K, censusPath, append = true)
    assert(reportMap(b1)(1L) == (0L, 0L))
    // batch 2: an exact copy — every span now collides with the census
    val b2 = StreamingSpanDedup.step(
      Seq((2L, text)).toDF("doc_id", "text"), K, censusPath, append = true)
    val (spans, tokens) = reportMap(b2)(2L)
    assert(spans == 3L && tokens == 6L, s"got ($spans, $tokens)")
  }
}
