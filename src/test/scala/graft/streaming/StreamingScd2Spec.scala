package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Evolve

/** Streaming SCD2 ingest: streamed micro-batch merges publish the same
  * snapshot as batch-applying the merges in sequence, and a replayed
  * batch converges (merge idempotence). */
class StreamingScd2Spec extends SparkSpec {

  private val attrs = Seq("name", "seg")
  private def asOf(batchId: Long) =
    lit(s"2024-0${batchId + 2}-01").cast("timestamp")

  test("two streamed CDC batches ≡ two sequential batch merges; replay is a no-op") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("scd2").toString + "/dim"

    val seed = Seq((1L, "a", "X"), (2L, "b", "Y"), (3L, "c", "Z"))
      .toDF("k", "name", "seg")
      .select(col("k"), col("name"), col("seg"),
        lit("2024-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
    StreamingScd2.init(seed, path)

    val b0 = Seq((1L, "a2", "X"), (9L, "new", "N")) // change + new key
    val b1 = Seq((1L, "a3", "X"), (2L, "b", "Y"))   // change again + no-op

    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingScd2.start(mem.toDF().toDF("k", "name", "seg"),
      path, "k", attrs, asOf)
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      mem.addData(b1: _*)
      q.processAllAvailable()
    } finally q.stop()

    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getTimestamp(3).toString.take(10),
        Option(r.getTimestamp(4)).map(_.toString.take(10)))).toSet
    val streamed = snap(StreamingScd2.readDim(spark, path))

    // ground truth: the same merges applied as plain batch calls
    val after0 = Evolve.scd2Merge(seed, b0.toDF("k", "name", "seg"),
      "k", attrs, asOf(0)).localCheckpoint(false)
    val after1 = Evolve.scd2Merge(after0, b1.toDF("k", "name", "seg"),
      "k", attrs, asOf(1))
    assert(streamed == snap(after1), s"streamed $streamed")
    // key 1 has full lineage: two closed versions + one live
    assert(streamed.count(_._1 == 1L) == 3)

    // replaying batch b1 (at-least-once): every update equals the live
    // version -> pass-through, snapshot unchanged
    val replayed = Evolve.scd2Merge(StreamingScd2.readDim(spark, path),
      b1.toDF("k", "name", "seg"), "k", attrs, asOf(7))
    assert(snap(replayed) == streamed, "replay must be a no-op")

    // CRASH SAFETY (the reason the publish is a table commit): a writer
    // dying between merge and publish — data files landed, commit not linked —
    // leaves the previous snapshot readable, and replaying the batch
    // through the stream converges to the correct next snapshot
    val table = graft.lake.DeltaTable(path)
    val vBefore = table.latestVersion.get
    val b2 = Seq((2L, "b2", "Y"))
    val crashedMerge = Evolve.scd2Merge(StreamingScd2.readDim(spark, path),
      b2.toDF("k", "name", "seg"), "k", attrs, asOf(2))
    landUncommitted(crashedMerge, path) // died before publish
    assert(table.latestVersion.contains(vBefore), "crashed write changed the version")
    assert(snap(StreamingScd2.readDim(spark, path)) == streamed,
      "crashed publish torched or mutated the dimension")
    // replay of the same logical batch (at-least-once delivery) — a fresh
    // stream, so its first micro-batch has batchId 0 and stamps asOf(0)
    val mem2 = MemoryStream[(Long, String, String)]
    val q2 = StreamingScd2.start(mem2.toDF().toDF("k", "name", "seg"),
      path, "k", attrs, asOf)
    try { mem2.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    val afterReplay = Evolve.scd2Merge(after1, b2.toDF("k", "name", "seg"),
      "k", attrs, asOf(0))
    assert(snap(StreamingScd2.readDim(spark, path)) == snap(afterReplay),
      "replay after crash did not converge")
  }

  test("keepVersions bounds storage to the newest snapshots' files") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("scd2keep").toString + "/dim"
    StreamingScd2.init(Seq((1L, "a", "X")).toDF("k", "name", "seg")
      .select(col("k"), col("name"), col("seg"),
        lit("2024-01-01").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to")), path)

    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingScd2.start(mem.toDF().toDF("k", "name", "seg"),
      path, "k", attrs, asOf, keepVersions = 2)
    try (0 until 4).foreach { i =>
      mem.addData((1L, s"a$i", "X"), (10L + i, "new", "N"))
      q.processAllAvailable()
    } finally q.stop()

    // every batch overwrites the whole dimension; with Delta's default
    // vacuum retention all five snapshots' files would still be on disk
    val table = graft.lake.DeltaTable(path)
    val latest = table.latestVersion.get
    assert(latest == 4L)
    val referenced = (latest - 1 to latest)
      .flatMap(v => table.read(spark, Some(v)).inputFiles)
      .map(_.split('/').last).toSet
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.toString.contains("_delta_log"))
      .map(_.getFileName.toString).toSet
    assert(onDisk == referenced,
      s"unreferenced=${onDisk -- referenced} missing=${referenced -- onDisk}")
  }
}
