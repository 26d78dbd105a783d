package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Sketches

/** Streaming CMS: streamed cell partials fold to the one-shot batch grid,
  * and a REPLAYED micro-batch (same batch_id) is collapsed by the serve
  * dedup — the additive-artifact convention, since CMS sums are not
  * replay-idempotent on their own. */
class StreamingCmsSpec extends SparkSpec {

  test("streamed partials ≡ batch grid; replayed batch_id collapses; estimates dominate exact") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("cms").toString + "/cms"

    val items = (Seq.fill(40)("hot") ++ Seq.fill(10)("warm") ++
      (1 to 60).map(i => s"cold$i")).toIndexedSeq
    val (day1, day2) = items.splitAt(items.length / 2)

    val mem = MemoryStream[String]
    val q = StreamingCms.start(mem.toDF().toDF("item"), path, "item",
      d = 3, w = 16)
    try {
      mem.addData(day1: _*)
      q.processAllAvailable()
      mem.addData(day2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val batchGrid = Sketches.cmsBuild(items.toDF("item"), "item", 3, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def grid(): Map[(Int, Long), Long] =
      StreamingCms.serveGrid(spark, path).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(grid() == batchGrid, "streamed fold must equal the batch grid")

    // replay batch 0 verbatim (same batch_id): at-least-once delivery —
    // the appended duplicate partials must collapse in the serve dedup
    graft.lake.DeltaTable(path).append(
      StreamingCms.batchCells(day1.toDF("item"), 0L, "item", 3, 16))
    assert(grid() == batchGrid, "replayed batch_id must not double-count")

    // but the same rows under a NEW batch_id are genuinely new data
    graft.lake.DeltaTable(path).append(
      StreamingCms.batchCells(Seq("hot").toDF("item"), 99L, "item", 3, 16))
    assert(grid() != batchGrid)

    // serve estimates dominate the exact counts of the ingested stream
    val exact = (items :+ "hot").groupBy(identity).view.mapValues(_.size).toMap
    val est = StreamingCms.serve(spark, path, items.toDF("item"), "item", 3, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"$k: ${est(k)} underestimates $n")
    }
  }
}
