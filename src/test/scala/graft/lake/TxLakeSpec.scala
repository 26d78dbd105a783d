package graft.lake

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.Evolve

/** Transactional table protocol as the lake's writers use it: snapshot
  * isolation for concurrent readers, crash safety of staging data files
  * before the atomic commit publish, re-run convergence, append/
  * overwrite/time-travel semantics, the change feed, vacuum. */
class TxLakeSpec extends SparkSpec {

  private def tmpTable(): DeltaTable =
    DeltaTable(Files.createTempDirectory("txlake").toString + "/t")

  private def vals(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    df.select("k", "s").collect().map(r => (r.getInt(0), r.getString(1))).toSet

  test("overwrite commits versions; time travel reads any retained snapshot") {
    import spark.implicits._
    val t = tmpTable()
    assert(t.latestVersion.isEmpty)
    val v0 = t.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "s"))
    val v1 = t.overwrite(Seq((3, "c")).toDF("k", "s"))
    assert((v0, v1) == ((0L, 1L)) && t.latestVersion.contains(1L))
    assert(vals(t.read(spark)) == Set((3, "c")))
    assert(vals(t.read(spark, Some(0L))) == Set((1, "a"), (2, "b")))
  }

  test("append extends the snapshot; old files are never rewritten") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "a")).toDF("k", "s"))
    val before = t.read(spark, Some(0L)).inputFiles.toSet
    t.append(Seq((2, "b")).toDF("k", "s"))
    assert(vals(t.read(spark)) == Set((1, "a"), (2, "b")))
    // v1's snapshot carries v0's files forward untouched
    assert(before.nonEmpty && before.subsetOf(t.read(spark, Some(1L)).inputFiles.toSet))
  }

  test("snapshot isolation: a reader pinned before an overwrite still sees its version") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "old")).toDF("k", "s"))
    val pinned = t.read(spark) // resolves v0's immutable file list
    t.overwrite(Seq((2, "new")).toDF("k", "s"))
    assert(vals(pinned) == Set((1, "old")), "reader saw a concurrent write")
    assert(vals(t.read(spark)) == Set((2, "new")))
  }

  test("crash between WRITE and PUBLISH is invisible; re-run converges; vacuum reclaims orphans") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "live")).toDF("k", "s"))
    val dead = Seq((9, "dead")).toDF("k", "s")
    // simulate a writer dying after landing data files, before publishing
    val orphanDir = landUncommitted(dead, t.root)
    def orphans: Int = if (!Files.exists(orphanDir)) 0
      else Files.walk(orphanDir).iterator.asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
    val landed = orphans
    assert(landed > 0)
    assert(t.latestVersion.contains(0L), "unpublished write changed the version")
    assert(vals(t.read(spark)) == Set((1, "live")), "orphan files leaked into a read")
    // re-run of the same logical commit converges on a good new version
    assert(t.overwrite(dead) == 1L)
    assert(vals(t.read(spark)) == Set((9, "dead")))
    // vacuum drops the crashed attempt's orphans and v0's now-unreferenced file
    val dropped = t.vacuum(1, retentionMs = 0L)
    assert(dropped >= landed, s"vacuum removed $dropped")
    assert(orphans == 0, "vacuum left the crashed attempt's files")
    assert(vals(t.read(spark)) == Set((9, "dead")), "vacuum touched live files")
  }

  test("publish is atomic create-if-absent: racing to the same version fails loudly") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "a")).toDF("k", "s"))
    val e = intercept[IllegalStateException] {
      t.publish(0L, "WRITE", Map.empty, Map.empty, 0L, Iterator.empty)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the loser's temp commit file is cleaned up, the winner's intact
    assert(vals(t.read(spark)) == Set((1, "a")))
    assert(!Files.list(java.nio.file.Paths.get(t.root, "_delta_log")).iterator.asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")), "loser's temp file left")
  }

  test("changes: appends yield exact row-level inserts per commit; overwrite reports churn") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "a")).toDF("k", "s"))              // v0
    t.append(Seq((2, "b")).toDF("k", "s"))                 // v1
    t.append(Seq((3, "c")).toDF("k", "s"))                 // v2
    val feed = t.changes(spark, 0L, 2L)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(feed == Set((2, "b", "insert", 1L), (3, "c", "insert", 2L)),
      s"append-only CDC feed wrong: $feed")
    // an overwrite reports the outgoing snapshot as deletes, incoming as inserts
    t.overwrite(Seq((9, "z")).toDF("k", "s"))              // v3
    val churn = t.changes(spark, 2L, 3L)
      .collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("_change_type"))).toSet
    assert(churn == Set((9, "insert"), (1, "delete"), (2, "delete"), (3, "delete")))
    // a same-version range is an empty feed with the CDC schema
    val empty = t.changes(spark, 3L, 3L)
    assert(empty.isEmpty && empty.columns.contains("_change_type"))
  }

  test("schema evolution: add-column append; old snapshots keep their own schema") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "a")).toDF("k", "s"))                     // v0: (k, s)
    t.append(Seq((2, "b", 0.5)).toDF("k", "s", "score"))          // v1: (k, s, score)
    // latest snapshot: merged schema, nulls for the old file's missing column
    val latest = t.read(spark)
    assert(latest.columns.toSeq == Seq("k", "s", "score"))
    val rows = latest.collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(rows == Set((1, "a", None), (2, "b", Some(0.5))))
    // time travel returns each version's OWN schema, not today's
    assert(t.read(spark, Some(0L)).columns.toSeq == Seq("k", "s"))
    // appends may omit old columns: nulls, not failure
    t.append(Seq((3, 0.9)).toDF("k", "score"))                    // v2
    val v2 = t.read(spark).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    assert(v2 == Set((1, Some("a")), (2, Some("b")), (3, None)))
    // a type conflict on an existing column aborts instead of widening
    val conflict = intercept[IllegalStateException] {
      t.append(Seq((4, 7)).toDF("k", "score")) // score int vs double
    }
    assert(conflict.getMessage.contains("type conflict"))
  }

  test("MERGE/SCD2 ride the transactional table: read-modify-overwrite is crash-safe") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1, "init"), (2, "keep")).toDF("k", "s"))
    val source = Seq((1, "patched", false), (3, "inserted", false))
      .toDF("k", "s", "deleted")
    val merged = Evolve.mergeUpsert(t.read(spark), source, "k")
    t.overwrite(merged)
    assert(vals(t.read(spark)) ==
      Set((1, "patched"), (2, "keep"), (3, "inserted")))
    // the pre-merge snapshot is still time-travelable
    assert(vals(t.read(spark, Some(0L))) == Set((1, "init"), (2, "keep")))
  }
}
