package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.Tables
import graft.operators.Sketches

/** Streaming HLL artifact: streamed micro-batch appends serve the same
  * estimates as a one-shot batch build, replays are idempotent, and
  * compaction changes row count but not estimates. */
class StreamingSketchesSpec extends SparkSpec {

  private val cells = Seq("l_returnflag", "l_linestatus")

  private def estimates(path: String): Map[(String, String), Long] =
    Sketches.hllServe(StreamingSketches.readSketches(spark, path), cells)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("streamed appends ≡ batch build; replayed batch is a no-op; compact preserves") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("hll").toString + "/sk"

    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_partkey"))
    val rows = li.as[(String, String, Long)].collect().toIndexedSeq
    val (day1, day2) = rows.splitAt(rows.length / 2)

    val mem = MemoryStream[(String, String, Long)]
    val q = StreamingSketches.start(
      mem.toDF().toDF("l_returnflag", "l_linestatus", "l_partkey"),
      cells, "l_partkey", sketchPath = path)
    try {
      mem.addData(day1: _*)
      q.processAllAvailable()
      mem.addData(day2: _*)
      q.processAllAvailable()
      val streamed = estimates(path)
      // one-shot batch build over everything
      val full = Sketches.hllServe(
        Sketches.hllBuild(li, cells, "l_partkey"), cells).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == full, s"streamed $streamed vs batch $full")

      // replay day2 (at-least-once): register max-merge makes it a no-op
      mem.addData(day2: _*)
      q.processAllAvailable()
      assert(estimates(path) == full, "replayed batch must not move estimates")
    } finally q.stop()

    // compact: fewer rows, same estimates
    val before = StreamingSketches.readSketches(spark, path).count()
    StreamingSketches.compact(spark, path, cells)
    val after = StreamingSketches.readSketches(spark, path).count()
    assert(after < before && estimates(path).nonEmpty)
    val full = Sketches.hllServe(
      Sketches.hllBuild(li, cells, "l_partkey"), cells).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(estimates(path) == full)

    // CRASH SAFETY: sketch files landing without their log commit are
    // invisible to the serve path — estimates hold at the committed
    // snapshot — and the replayed append commits cleanly on top (then
    // merges idempotently, so estimates still don't move)
    val table = graft.lake.DeltaTable(path)
    val vBefore = table.latestVersion.get
    val extra = Sketches.hllBuild(li.limit(50), cells, "l_partkey")
      .localCheckpoint(true)
    landUncommitted(extra, path) // died before publish
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(estimates(path) == full, "crashed append moved the estimates")
    table.append(extra) // the replay: a subset re-sketch is a no-op
    assert(estimates(path) == full, "replayed subset sketch moved the estimates")
  }
}
