package graft.lake

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Delta transaction-log interop: action replay semantics (last action
  * per path wins, removes tombstone), time travel, checkpoint + tail
  * stitching, Hive-layout partitioned adds, and — the interop point —
  * reading a FOREIGN log (delta-spark-shaped JSON with stats/tags/
  * unknown actions, percent-encoded paths) this writer never produced.
  * Loud-failure paths: unsupported reader version, log gaps. */
class DeltaSpec extends SparkSpec {

  private def tmpTable(): DeltaTable =
    DeltaTable(Files.createTempDirectory("deltaspec").toString + "/t")

  private def vals(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("k", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("overwrite/append/time-travel replay the log correctly") {
    import spark.implicits._
    val t = tmpTable()
    assert(t.latestVersion.isEmpty)
    val v0 = t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    val v1 = t.append(Seq((3L, "c")).toDF("k", "s"))
    val v2 = t.overwrite(Seq((9L, "z")).toDF("k", "s"))
    assert((v0, v1, v2) == ((0L, 1L, 2L)))
    assert(vals(t.read(spark)) == Set((9L, "z")))
    assert(vals(t.read(spark, Some(0L))) == Set((1L, "a"), (2L, "b")))
    assert(vals(t.read(spark, Some(1L))) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    // the overwrite emitted remove actions for every v1 file
    val lines = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"${2L}%020d.json"))
    assert(lines.toArray.count(_.toString.contains("\"remove\"")) >= 1)
  }

  test("checkpoint + JSON tail stitch to the same snapshot as pure replay") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t.append(Seq((3L, "c")).toDF("k", "s"))
    val cpv = t.checkpoint()
    assert(cpv == 1L)
    t.append(Seq((4L, "d")).toDF("k", "s"))
    assert(Files.exists(Paths.get(t.root, "_delta_log",
      f"${1L}%020d.checkpoint.parquet")))
    assert(Files.exists(Paths.get(t.root, "_delta_log", "_last_checkpoint")))
    // latest stitches checkpoint(v1) + tail(v2)
    assert(vals(t.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // time travel BEFORE the checkpoint still replays pure JSON
    assert(vals(t.read(spark, Some(0L))) == Set((1L, "a"), (2L, "b")))
    // checkpointing again at a later version replaces derived state
    t.checkpoint()
    assert(vals(t.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("partitioned writes use Hive layout + partitionValues; reads recover the column") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "x", "red"), (2L, "y", "blue"), (3L, "z", "red"))
      .toDF("k", "s", "color"), partitionBy = Seq("color"))
    val back = t.read(spark)
    assert(back.columns.toSeq == Seq("k", "s", "color"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set((1L, "red"), (2L, "blue"), (3L, "red")))
    // physical layout is Hive-style; the log records partitionValues
    assert(Files.list(Paths.get(t.root)).iterator().hasNext)
    assert(Files.isDirectory(Paths.get(t.root, "color=red")))
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"${0L}%020d.json")).toArray.mkString
    assert(log.contains("\"partitionValues\":{\"color\":"))
    // overwrite of a partitioned table removes the old partition files
    t.overwrite(Seq((4L, "w", "green")).toDF("k", "s", "color"),
      partitionBy = Seq("color"))
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("foreign delta-spark-shaped log reads: stats, tags, txn, encoded paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("deltaforeign").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    // data file with a percent-encoded char in its name
    val df = Seq((7L, "q")).toDF("k", "s")
    df.coalesce(1).write.parquet(dir + "/scratch")
    val part = Files.list(Paths.get(dir, "scratch")).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) src = p
    }
    Files.move(src, Paths.get(dir, "part-0 a.parquet"))
    val schema = df.schema.json.replace("\"", "\\\"")
    val v0 =
      s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{},"engineInfo":"Apache-Spark/3.5.0 Delta-Lake/3.1.0"}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
         |{"metaData":{"id":"x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.appendOnly":"false"},"createdTime":1}}
         |{"txn":{"appId":"someApp","version":3,"lastUpdated":1}}
         |{"add":{"path":"part-0%20a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"stats":"{\\"numRecords\\":1}","tags":{"INSERTION_TIME":"1"}}}
         |""".stripMargin
    Files.write(log.resolve(f"${0L}%020d.json"), v0.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    assert(vals(t.read(spark)) == Set((7L, "q")))
  }

  test("column-mapping NAME mode: logical reads, physical-name writes, skipping maps keys; evolution refuses") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("deltacolmap").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    // PHYSICAL-named data files under PHYSICAL-named Hive partition dirs
    // — exactly what delta-spark lays down for a name-mode table
    Seq((7L, "q", "red"), (8L, "r", "red"), (9L, "z", "blue"))
      .toDF("col-aaa", "col-bbb", "col-ppp")
      .repartition(1).write.partitionBy("col-ppp").parquet(dir + "/data")
    def moveParts(sub: String): Seq[String] = {
      val base = Paths.get(dir, "data", s"col-ppp=$sub")
      Files.createDirectories(Paths.get(dir, s"col-ppp=$sub"))
      Files.list(base).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .zipWithIndex.map { case (p, i) =>
          val rel = s"col-ppp=$sub/part-$sub$i.parquet"
          Files.move(p, Paths.get(dir, rel))
          rel
        }
    }
    val reds = moveParts("red")
    val blues = moveParts("blue")
    // logical schema whose fields carry the physicalName metadata
    def pf(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(pf("k", LongType, "col-aaa", 1),
      pf("s", StringType, "col-bbb", 2), pf("color", StringType, "col-ppp", 3)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(logical.json)
    val statsRed = m.writeValueAsString(
      """{"numRecords":2,"minValues":{"col-aaa":7},"maxValues":{"col-aaa":8},"nullCount":{"col-aaa":0}}""")
    val statsBlue = m.writeValueAsString(
      """{"numRecords":1,"minValues":{"col-aaa":9},"maxValues":{"col-aaa":9},"nullCount":{"col-aaa":0}}""")
    def addLine(rel: String, pv: String, stats: String) =
      s"""{"add":{"path":"$rel","partitionValues":{"col-ppp":"$pv"},"size":${Files.size(Paths.get(dir, rel))},"modificationTime":1,"dataChange":true,"stats":$stats}}"""
    val v0 =
      s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
         |{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"cmx","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":["color"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1}}
         |${reds.map(addLine(_, "red", statsRed)).mkString("\n")}
         |${blues.map(addLine(_, "blue", statsBlue)).mkString("\n")}
         |""".stripMargin
    Files.write(log.resolve(f"${0L}%020d.json"), v0.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    val got = t.read(spark)
    assert(got.columns.toSeq == Seq("k", "s", "color"))
    assert(got.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      Set((7L, "q", "red"), (8L, "r", "red"), (9L, "z", "blue")))
    // data skipping: the LOGICAL predicate column maps to the PHYSICAL
    // stats key, so pruning still collects survivors only
    assert(t.pruneCandidates(spark, "k", 9L, 9L).size == 1)
    assert(t.readWhere(spark, "k", 9L, 9L).collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
    // partition pruning on the logical partition column name
    assert(t.readWhere(spark, "color", "red", "red").count() == 2)
    // WRITES emit physical names (r15): an append with the table's
    // partitioning lands a physical-named file under a physical-named
    // Hive dir, with physical partitionValues keys and NO metaData
    val va = t.append(Seq((10L, "w", "green")).toDF("k", "s", "color"),
      partitionBy = Seq("color"))
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      Set(7L, 8L, 9L, 10L))
    val addLog = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$va%020d.json")).toArray.mkString
    assert(addLog.contains("\"col-ppp\":\"green\"") &&
      addLog.contains("col-ppp=green/") && !addLog.contains("metaData"),
      addLog)
    assert(!addLog.contains("\"color\"") && !addLog.contains("\"k\""))
    // the new file's FOOTER carries only physical names
    val newFile = Files.list(Paths.get(dir, "col-ppp=green")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(spark.read.parquet(newFile.toString).columns.toSeq ==
      Seq("col-aaa", "col-bbb"))
    // checkpoint preserves the configuration (mode=name) in its control
    // row: replay FROM the checkpoint still resolves physical names
    t.checkpoint()
    assert(t.read(spark).columns.toSeq == Seq("k", "s", "color"))
    assert(t.read(spark).count() == 4)
    // merge (DV form) on the name-mode table: matched row killed by
    // bitmap, source row appended physical-named
    t.merge(Seq((7L, "QQ", "red")).toDF("k", "s", "color"), "k")
    assert(t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap.apply(7L) == "QQ")
    // SCHEMA EVOLUTION (r15): a new column gets a fresh physical name
    // (col-<uuid>) + the next column id, and maxColumnId bumps in the
    // fresh metaData's configuration — the protocol's assignment scheme
    val vE = t.append(Seq((11L, "e", "red", 9L))
      .toDF("k", "s", "color", "extra"), partitionBy = Seq("color"))
    val evoLog = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$vE%020d.json")).toArray.mkString
    // the fresh metaData PRESERVES the configuration (mode stays name)
    // and records the bumped maxColumnId
    assert(evoLog.contains("metaData"), evoLog)
    assert(evoLog.contains("\"delta.columnMapping.mode\":\"name\"") &&
      evoLog.contains("\"delta.columnMapping.maxColumnId\":\"4\""), evoLog)
    assert(evoLog.contains("col-"), "fresh physical name assigned")
    val evolved = t.read(spark)
    assert(evolved.columns.toSeq == Seq("k", "s", "color", "extra"))
    assert(evolved.where("k = 11").selectExpr("extra").collect()
      .head.getLong(0) == 9L)
    assert(evolved.where("k = 7").selectExpr("extra").collect()
      .head.isNullAt(0))
    // partitioning changes still refuse on non-overwrites; overwrites
    // replacing the schema of a colmap table refuse outright
    intercept[IllegalArgumentException](
      t.append(Seq((1L, "x", "red")).toDF("k", "s", "color"))) // partitionBy mismatch
    intercept[IllegalArgumentException](
      t.overwrite(Seq((1L, "x", "red")).toDF("k", "s", "color"),
        partitionBy = Seq("color")))
    // an UNKNOWN column-mapping mode refuses on read (a fresh commit
    // past the checkpoint re-declares the mode)
    val latest = t.latestVersion.get
    Files.write(log.resolve(f"${latest + 1}%020d.json"),
      (s"""{"metaData":{"id":"cmx","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":["color"],"configuration":{"delta.columnMapping.mode":"weird"},"createdTime":1}}""" + "\n")
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](t.read(spark))
    assert(e.getMessage.contains("columnMapping.mode 'weird'"))
  }

  test("column-mapping DV DELETE kills rows in place; rewrite verbs emit physical names") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("deltacolmapdel").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    def writeFile(rows: Seq[(Long, String)], rel: String): Long = {
      val scratch = Files.createTempDirectory("cmdel")
      rows.toDF("col-aaa", "col-bbb").coalesce(1).write.mode("overwrite")
        .parquet(scratch.toString)
      val part = Files.list(scratch).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, rel))
      Files.size(Paths.get(dir, rel))
    }
    val sA = writeFile((0L to 9L).map(i => (i, s"r$i")), "fA.parquet")
    val sB = writeFile((10L to 19L).map(i => (i, s"r$i")), "fB.parquet")
    def pf(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(pf("k", LongType, "col-aaa", 1),
      pf("s", StringType, "col-bbb", 2)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(logical.json)
    val stA = m.writeValueAsString(
      """{"numRecords":10,"minValues":{"col-aaa":0},"maxValues":{"col-aaa":9},"nullCount":{"col-aaa":0}}""")
    val stB = m.writeValueAsString(
      """{"numRecords":10,"minValues":{"col-aaa":10},"maxValues":{"col-aaa":19},"nullCount":{"col-aaa":0}}""")
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
          |{"metaData":{"id":"cmd","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}
          |{"add":{"path":"fA.parquet","partitionValues":{},"size":$sA,"modificationTime":1,"dataChange":true,"stats":$stA}}
          |{"add":{"path":"fB.parquet","partitionValues":{},"size":$sB,"modificationTime":1,"dataChange":true,"stats":$stB}}
          |""").stripMargin.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    // PII-delete k ∈ [5, 12] IN PLACE: both files take DVs, no rewrite
    val v = t.delete("k", 5L, 12L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      ((0L to 4L) ++ (13L to 19L)).toSet)
    val logTxt = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$v%020d.json")).toArray.mkString
    // the upgrade keeps columnMapping ACTIVE alongside deletionVectors
    // (dropping it would make foreign readers stop resolving physical
    // names) and lists the legacy writer-implied features
    assert(logTxt.contains("\"minReaderVersion\":3"))
    assert(logTxt.contains(
      "\"readerFeatures\":[\"columnMapping\",\"deletionVectors\"]"), logTxt)
    assert(logTxt.contains("\"invariants\"") && logTxt.contains("\"appendOnly\""))
    // re-adds replay the original PHYSICAL-keyed payloads verbatim; the
    // commit emits no metaData and no logical-name stats
    assert(logTxt.contains("col-aaa") && !logTxt.contains("metaData"))
    assert(logTxt.contains("\"deletionVector\""))
    // row-level CDF over the colmap DV commit: exactly the killed rows
    val cdf = t.changesRows(spark, v - 1, v).collect()
    assert(cdf.map(r => (r.getLong(0), r.getString(2))).toSet ==
      (5L to 12L).map(_ -> "delete").toSet)
    // repeat delete UNIONs into fB's DV until every row is dead: the
    // merged DV covers the file and collapses to remove-only
    val v2 = t.delete("k", 13L, 19L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == (0L to 4L).toSet)
    val log2 = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$v2%020d.json")).toArray.mkString
    assert(!log2.contains("\"add\""),
      s"emptied colmap DV file must collapse to remove-only: $log2")
    // stats pruning still keys physical: a miss-range delete is a no-op
    assert(t.delete("k", 100L, 200L) == v2)
    // the data-writing forms emit PHYSICAL names (r15): the rewrite
    // delete replaces fA with a physical-named survivor file and
    // physical-keyed fresh stats; merge appends the physical-named
    // source row — neither emits a metaData action or a logical name
    val v3 = t.delete("k", 0L, 1L, useDeletionVectors = false)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    val log3 = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$v3%020d.json")).toArray.mkString
    assert(log3.contains("minValues") && log3.contains("col-aaa") &&
      !log3.contains("metaData") && !log3.contains("\"k\""), log3)
    val v4 = t.merge(Seq((1L, "x")).toDF("k", "s"), "k")
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))
    val newFiles = t.read(spark).inputFiles
    assert(newFiles.forall { f =>
      spark.read.parquet(f).columns.toSeq == Seq("col-aaa", "col-bbb") })
    assert(v4 == v3 + 1)
  }

  test("data skipping: stats prune files before the scan; no-stats files conservatively kept") {
    import spark.implicits._
    val t = tmpTable()
    // 100 rows range-clustered into 5 files: k in [0,19], [20,39], ...
    val rows = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(5, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"${0L}%020d.json")).toArray.mkString
    assert(log.contains("\"stats\"") && log.contains("numRecords"))
    val all = t.read(spark)
    assert(all.inputFiles.length == 5)
    // a 10-wide range intersects exactly ONE file's [min,max] envelope
    val pruned = t.readWhere(spark, "k", 25L, 34L)
    assert(pruned.inputFiles.length == 1, pruned.inputFiles.length.toString)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (25L to 34L))
    // append WITHOUT stats: skipping keeps the statless file, stays exact
    t.append(Seq((27L, "dup27")).toDF("k", "s"))
    val mixed = t.readWhere(spark, "k", 25L, 34L)
    assert(mixed.inputFiles.length == 2)
    assert(mixed.count() == 11)
    // checkpoint carries stats: post-checkpoint reads still prune down
    // to one ranged file + the statless appended file (always scanned)
    t.checkpoint()
    val post = t.readWhere(spark, "k", 85L, 99L)
    assert(post.inputFiles.length == 2)
    assert(post.count() == 15)
  }

  test("merge: upsert touches only key-envelope files; DV default marks matched rows, rewrite form still exact") {
    import spark.implicits._
    val t = tmpTable()
    val rows = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(5, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    val before = t.read(spark).inputFiles.toSet
    assert(before.size == 5)
    // update keys 25..29: the key envelope [25, 29] hits exactly one of
    // the five range-clustered files — DV default: that file's matched
    // rows are bitmap-killed, its BYTES stay, source rows append
    val src = (25 until 30).map(i => (i.toLong, s"UP$i")).toDF("k", "s")
    val v = t.merge(src, "k")
    val after = t.read(spark)
    // ALL five originals survive by identity (no rewrite at all)
    val shared = after.inputFiles.toSet.intersect(before)
    assert(shared.size == 5, s"expected 5 original files, got ${shared.size}")
    val got = after.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100)
    assert((25 until 30).forall(i => got(i.toLong) == s"UP$i"))
    assert(got(24L) == "r24" && got(30L) == "r30")
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(log.contains("\"deletionVector\"") && log.contains("\"cardinality\":5"))
    // an out-of-range insert lands via the same commit when included
    t.merge(Seq((200L, "NEW200")).toDF("k", "s"), "k")
    assert(t.read(spark).count() == 101)
    assert(v >= 1L)
    // a REPEAT merge on the same file MERGES DVs (union with existing)
    t.merge(Seq((25L, "UP25b")).toDF("k", "s"), "k")
    val got2 = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2.size == 101 && got2(25L) == "UP25b" && got2(26L) == "UP26")
    // the REWRITE form produces the identical table
    val tr = tmpTable()
    tr.overwrite(rows.repartitionByRange(5, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    tr.merge(src, "k", useDeletionVectors = false)
    val gotR = tr.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotR == got, "DV merge and rewrite merge must produce identical tables")
    // the rewrite path never writes descriptors
    assert(!Files.readAllLines(Paths.get(tr.root, "_delta_log",
      f"${1L}%020d.json")).toArray.mkString.contains("deletionVector"))
  }

  test("schema evolution: appends merge new columns; old files serve them as null; types conflict loudly") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    // append ADDS a column: merged metaData, old rows read null
    t.append(Seq((2L, "b", 7.5)).toDF("k", "s", "score"))
    val full = t.read(spark)
    assert(full.columns.toSeq == Seq("k", "s", "score"))
    val byK = full.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(byK == Map(1L -> None, 2L -> Some(7.5)))
    // append that OMITS a column: its rows serve the omission as null
    t.append(Seq((3L, 9.9)).toDF("k", "score"))
    val omit = t.read(spark).filter("k = 3").collect()(0)
    assert(omit.isNullAt(1) && omit.getDouble(2) == 9.9)
    // time travel BEFORE the evolution keeps the 2-column schema
    assert(t.read(spark, Some(0L)).columns.toSeq == Seq("k", "s"))
    // type conflict is corruption, not coercion
    val e = intercept[IllegalStateException](
      t.append(Seq((4L, 5)).toDF("k", "score")))
    assert(e.getMessage.contains("type conflict"))
  }

  test("loud failure on unsupported reader version and on log gaps") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    // a v3 protocol declaring a reader feature we do NOT implement
    // (collations; typeWidening and variantType reads are honored
    // since r17) refuses loudly; the honored set is accepted
    Files.write(Paths.get(t.root, "_delta_log", f"${1L}%020d.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","collations"],"writerFeatures":["deletionVectors","collations"]}}
        |""".stripMargin.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](t.read(spark))
    assert(e.getMessage.contains("minReaderVersion")
      && e.getMessage.contains("collations"))
    Files.write(Paths.get(t.root, "_delta_log", f"${1L}%020d.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"],"writerFeatures":["columnMapping","deletionVectors"]}}
        |""".stripMargin.getBytes("UTF-8"))
    assert(vals(t.read(spark)) == Set((1L, "a"))) // supported v3: readable
    // a gap in the chain is a corruption, not an empty diff
    val t2 = tmpTable()
    t2.overwrite(Seq((1L, "a")).toDF("k", "s"))
    t2.append(Seq((2L, "b")).toDF("k", "s"))
    Files.delete(Paths.get(t2.root, "_delta_log", f"${0L}%020d.json"))
    intercept[IllegalArgumentException](t2.read(spark))
  }

  test("delete: whole-file drops are remove-only; boundary files get DVs; misses untouched; nulls survive") {
    import spark.implicits._
    val t = tmpTable()
    // 5 appends of one file each with EXACT known key ranges [20b, 20b+19]
    (0 until 5).foreach { b =>
      t.append((b * 20 until (b + 1) * 20).map(i => (i.toLong, s"r$i"))
        .toDF("k", "s").coalesce(1), statsFor = Seq("k"))
    }
    val before = t.read(spark).inputFiles.toSet
    assert(before.size == 5)
    // delete [15, 39]: file [20,39] is provably inside -> remove-only;
    // file [0,19] is a boundary -> DELETION VECTOR over rows 15..19, the
    // SAME physical file stays; the other three untouched
    val v = t.delete("k", 15L, 39L)
    val after = t.read(spark)
    assert(after.collect().map(_.getLong(0)).toSet ==
      ((0L to 14L) ++ (40L to 99L)).toSet)
    // NO rewrite: every surviving input file is an original
    val shared = after.inputFiles.toSet.intersect(before)
    assert(shared.size == 4, s"expected 4 original files, got ${shared.size}")
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(log.contains("\"wholeFilesDropped\":\"1\""))
    assert(log.split("\"remove\"").length - 1 == 2) // whole + boundary
    assert(log.split("\"add\"").length - 1 == 1)    // boundary re-add w/ DV
    assert(log.contains("\"deletionVector\"")
      && log.contains("\"storageType\":\"i\"") // 5 rows: inline, no .bin
      && log.contains("\"cardinality\":5"))
    // the protocol upgraded to the deletionVectors table feature
    assert(log.contains("\"minReaderVersion\":3")
      && log.contains("\"readerFeatures\":[\"deletionVectors\"]"))
    // a REPEAT delete on the same file MERGES into the existing DV
    val v2 = t.delete("k", 0L, 4L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      ((5L to 14L) ++ (40L to 99L)).toSet)
    val log2 = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v2%020d.json")).toArray.mkString
    assert(log2.contains("\"cardinality\":10")) // 5 old + 5 new
    // a delete whose merged DV covers every remaining physical row
    // collapses to remove-only ([5,39] is NOT a whole-envelope match for
    // the [0,19] file, so this exercises the emptied-DV class, not the
    // contained fast path)
    val v3 = t.delete("k", 5L, 39L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      (40L to 99L).toSet)
    val log3 = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v3%020d.json")).toArray.mkString
    assert(!log3.contains("\"add\""),
      s"DV covering the whole file must collapse to remove-only: $log3")
    // NULL keys never match a range predicate: the row survives
    val tn = tmpTable()
    tn.overwrite(Seq((Option.empty[Long], "keep"), (Some(5L), "gone"))
      .toDF("k", "s"), statsFor = Seq("k"))
    tn.delete("k", 0L, 10L)
    assert(tn.read(spark).collect().map(_.getString(1)).toSeq == Seq("keep"))
    // the legacy rewrite path still works and purges rather than DVs
    val tr = tmpTable()
    tr.append((0 until 20).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    val vr = tr.delete("k", 15L, 25L, useDeletionVectors = false)
    assert(tr.read(spark).collect().map(_.getLong(0)).toSet == (0L to 14L).toSet)
    val logr = Files.readAllLines(
      Paths.get(tr.root, "_delta_log", f"$vr%020d.json")).toArray.mkString
    assert(!logr.contains("deletionVector"))
  }

  test("deletion vectors survive checkpoints, purge on OPTIMIZE, restore by (path,dv), vacuum stale bins") {
    import spark.implicits._
    val t = tmpTable()
    // 600-row files so the boundary bitmaps exceed InlineMaxBytes and
    // the "u" file lifecycle (checkpoint/restore/vacuum) is exercised
    t.append((0 until 600).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    t.append((600 until 1200).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    val vDel = t.delete("k", 300L, 899L) // boundary DVs on BOTH files
    val expect = ((0L to 299L) ++ (900L to 1199L)).toSet
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
    // the over-inline-ceiling bitmaps land in shared "u" files — one per
    // executor task that built them (the distributed build serializes
    // where the rows live), bounded by the task count, never per-file
    val bins = Files.list(Paths.get(t.root)).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin")).toSeq
    assert(bins.nonEmpty && bins.size <= 2,
      s"expected at most one shared DV file per build task, got $bins")

    // CHECKPOINT: the add.deletionVector struct rides the parquet census;
    // post-checkpoint replay (checkpoint-only, no JSON tail) still drops
    // the deleted rows, and the protocol row carries the feature lists
    t.checkpoint()
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
    val cp = spark.read.parquet(
      Paths.get(t.root, "_delta_log", f"$vDel%020d.checkpoint.parquet").toString)
    assert(cp.where(org.apache.spark.sql.functions.col(
      "add.deletionVector.cardinality").isNotNull).count() == 2)
    assert(cp.selectExpr("protocol.readerFeatures").na.drop().collect()
      .map(_.getSeq[String](0)).exists(_.contains("deletionVectors")))

    // readWhere applies DVs on survivors of the stats prune
    assert(t.readWhere(spark, "k", 250L, 950L).collect()
      .map(_.getLong(0)).toSet == ((250L to 299L) ++ (900L to 950L)).toSet)

    // CDC: the delete commit's insert slice is the files' LIVE rows
    val cdc = t.changes(spark, vDel - 1, vDel)
    assert(cdc.where("_change_type = 'insert'").collect()
      .map(_.getLong(0)).toSet == expect)

    // OPTIMIZE purges the DVs: physical rewrite, same logical snapshot,
    // new adds carry no descriptor
    t.compact()
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
    assert(t.livePathsFrame(spark).collect().forall(_.isNullAt(1)))

    // RESTORE to the DV'd snapshot: the (path, dv) diff re-adds the
    // descriptor-bearing entries and the read honors them again
    t.restore(vDel)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
    assert(t.livePathsFrame(spark).collect().count(!_.isNullAt(1)) == 2)

    // VACUUM: the referenced DV bin survives even at zero retention;
    // after compacting again (DVs purged) it ages out as stale
    t.vacuum(1, retentionMs = 0L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
    t.compact()
    t.vacuum(1, retentionMs = 0L)
    val binsAfter = Files.list(Paths.get(t.root)).iterator.asScala
      .map(_.getFileName.toString).filter(_.startsWith("deletion_vector_")).toSeq
    assert(binsAfter.isEmpty, s"stale DV bins survived vacuum: $binsAfter")
    assert(t.read(spark).collect().map(_.getLong(0)).toSet == expect)
  }

  test("DV write path: driver payload is descriptors, not row indexes; many-matched merge ≡ rewrite twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = tmpTable()
    val rows = (0 until 4000).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(4, col("k")), statsFor = Seq("k"))
    // upsert 2000 keys spanning two whole files + two boundaries: the
    // bitmaps exceed the inline ceiling, so the "u" files are written by
    // the EXECUTOR tasks and the driver handles descriptors only
    val src = (900 until 2900).map(i => (i.toLong, s"UP$i")).toDF("k", "s")
    t.merge(src, "k")
    val got = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 4000)
    assert(got(899L) == "r899" && got(900L) == "UP900"
      && got(2899L) == "UP2899" && got(2900L) == "r2900")
    // the rewrite twin is bit-identical
    val tr = tmpTable()
    tr.overwrite(rows.repartitionByRange(4, col("k")), statsFor = Seq("k"))
    tr.merge(src, "k", useDeletionVectors = false)
    assert(tr.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == got)
    // THE DRIVER-PAYLOAD PROOF: the exact frame buildDvs collects is
    // (canonical path, descriptor JSON, cardinality) — three SCALAR
    // columns, no array-of-row-indexes anywhere in its schema; the
    // matched indexes are grouped, merged and serialized inside
    // mapPartitions and never reach the driver
    val probe = Seq(("p", 0L)).toDF("_fp", "_ri")
    val frame = t.dvBuildFrame(spark, probe, Nil)
    assert(frame.schema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType),
      s"DV build driver payload must be scalar descriptors, got ${frame.schema}")
    // a repeat merge unions into the executor-built DVs (old DV read
    // back inside the task) and still matches the rewrite twin
    val src2 = (2000 until 2100).map(i => (i.toLong, s"UQ$i")).toDF("k", "s")
    t.merge(src2, "k")
    tr.merge(src2, "k", useDeletionVectors = false)
    assert(t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == tr.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("DV row-index join canonicalizes percent/space partition paths on both sides") {
    import spark.implicits._
    val t = tmpTable()
    // partition values Spark escapes in dir names (':' → %3A literally
    // on disk) plus a literal space and a literal '%': the scan's
    // _metadata.file_path URI-encodes the raw names (%→%25, space→%20),
    // and the driver-side join keys must go through the SAME
    // canonicalization — a divergence silently no-ops the delete
    t.overwrite(Seq((1L, "a:b"), (2L, "a:b"), (3L, "e f"), (4L, "c%d"))
      .toDF("k", "color"), partitionBy = Seq("color"), statsFor = Seq("k"))
    val v = t.delete("k", 2L, 3L)
    assert(t.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a:b"), (4L, "c%d")),
      "DV delete must kill rows inside percent-encoded partition dirs")
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(log.contains("deletionVector"), "boundary file must take a DV")
    // the read side (readFilesDv anti-join) resolves the same canonical
    // keys: checkpoint + replay, rows stay dead
    t.checkpoint()
    assert(t.read(spark).count() == 2)
    // and a DV merge through the same dirs updates, not duplicates
    t.merge(Seq((1L, "a:b")).toDF("k", "color"), "k")
    assert(t.read(spark).count() == 2)
  }

  test("row-level CDF: DV diffs emit exactly the changed rows; restore resurrects them as inserts") {
    import spark.implicits._
    val t = tmpTable()
    t.append((0 until 20).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    t.append((20 until 40).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    val vDel = t.delete("k", 15L, 24L) // DV on both files
    // file-level changes(): two whole file images (40 rows); row-level:
    // EXACTLY the 10 deleted rows
    val cdf = t.changesRows(spark, vDel - 1, vDel).collect()
    assert(cdf.map(r => (r.getLong(0), r.getString(2))).toSet ==
      (15L to 24L).map(_ -> "delete").toSet,
      s"got ${cdf.mkString(",")}")
    // a whole-file (contained) drop still emits its live rows as deletes
    val vDel2 = t.delete("k", 0L, 19L) // file1 drops whole (rows 0..14 live)
    val cdf2 = t.changesRows(spark, vDel2 - 1, vDel2).collect()
    assert(cdf2.map(_.getLong(0)).toSet == (0L to 14L).toSet)
    assert(cdf2.forall(_.getString(2) == "delete"))
    // RESTORE to the pre-delete snapshot: the DV diff runs BACKWARD —
    // resurrected rows surface as inserts, nothing fabricated
    val vR = t.restore(vDel)
    val cdf3 = t.changesRows(spark, vR - 1, vR).collect()
    assert(cdf3.map(_.getLong(0)).toSet == (0L to 14L).toSet)
    assert(cdf3.forall(_.getString(2) == "insert"))
    // dataChange=false maintenance stays silent row-level too
    t.compact()
    assert(t.changesRows(spark, vR, vR + 1).isEmpty)
    // plain appends emit their rows as inserts (descriptor-free path)
    val vA = t.append(Seq((100L, "new")).toDF("k", "s"), statsFor = Seq("k"))
    val cdf4 = t.changesRows(spark, vA - 1, vA).collect()
    assert(cdf4.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq(100L -> "insert"))
  }

  test("DV composition sweep: every verb over a table ALREADY carrying DVs ≡ the rewrite-mode twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // twin tables seeded with the same merge+delete mix — `a` carries
    // real DVs into every subsequent verb, `b` rewrites; the verbs are
    // proven verb-by-verb elsewhere, THIS test proves the composition:
    // verbs running on top of existing descriptors stay bit-identical
    def mk(useDv: Boolean): DeltaTable = {
      val t = tmpTable()
      val rows = (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      t.overwrite(rows.repartitionByRange(5, col("k")), statsFor = Seq("k"))
      t.merge((100 until 260).map(i => (i.toLong, s"M$i")).toDF("k", "s"),
        "k", useDeletionVectors = useDv)
      t.delete("k", 400L, 519L, useDeletionVectors = useDv)
      t
    }
    def snap(t: DeltaTable): Set[(Long, String)] = t.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val a = mk(true)
    val b = mk(false)
    assert(snap(a) == snap(b))
    assert(a.livePathsFrame(spark).collect().exists(!_.isNullAt(1)),
      "seed mix must leave real DVs on table a")
    // stats-pruned read over DV'd boundaries
    def rw(t: DeltaTable) = t.readWhere(spark, "k", 150L, 450L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rw(a) == rw(b))
    // MERGE over files already carrying DVs (unions in-executor)
    val m2 = (180 until 450).map(i => (i.toLong, s"N$i")).toDF("k", "s")
    a.merge(m2, "k")
    b.merge(m2, "k", useDeletionVectors = false)
    val after2 = snap(a)
    assert(after2 == snap(b))
    // DELETE over files already carrying DVs (inline→file transitions)
    val vDel2a = a.delete("k", 50L, 129L)
    b.delete("k", 50L, 129L, useDeletionVectors = false)
    assert(snap(a) == snap(b))
    // row-level CDF on the DV table: exactly the rows live-then-killed
    val cdf = a.changesRows(spark, vDel2a - 1, vDel2a).collect()
    assert(cdf.map(r => (r.getLong(0), r.getString(1))).toSet ==
      after2.filter { case (k, _) => k >= 50L && k <= 129L })
    assert(cdf.forall(_.getString(2) == "delete"))
    // CHECKPOINT with DVs in census, then replay
    a.checkpoint(); b.checkpoint()
    assert(snap(a) == snap(b))
    // HISTORY: commit cadence identical across modes
    assert(a.history(spark).select("version", "operation").collect().toSeq ==
      b.history(spark).select("version", "operation").collect().toSeq)
    // RESTORE to the seeded snapshot (v2): DV state rewinds too
    a.restore(2L); b.restore(2L)
    assert(snap(a) == snap(b))
    // OPTIMIZE purges DVs; snapshot unchanged
    a.compact(); b.compact()
    assert(snap(a) == snap(b))
    assert(a.livePathsFrame(spark).collect().forall(_.isNullAt(1)),
      "OPTIMIZE must purge every descriptor")
    // VACUUM drops dead files + stale DV bins; table still reads
    a.vacuum(1, retentionMs = 0L); b.vacuum(1, retentionMs = 0L)
    assert(snap(a) == snap(b))
  }

  test("foreign CDC: cdc actions supersede file diffs for their commit; replay + vacuum unaffected") {
    import spark.implicits._
    val t = tmpTable()
    t.append((0 until 10).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    val fileA = Paths.get(t.root).relativize(
      Paths.get(new java.net.URI(t.read(spark).inputFiles.head))).toString
    // craft a FOREIGN v1: fileA rewritten as fileB with k=5 updated, the
    // cdc action recording the row-level update_preimage/postimage pair
    // (which no add/remove file diff could recover)
    def moveIn(df: org.apache.spark.sql.DataFrame, rel: String): Long = {
      val scratch = Files.createTempDirectory("cdcscratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(t.root, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val sizeB = moveIn((0 until 10).map(i =>
      (i.toLong, if (i == 5) "UP5" else s"r$i")).toDF("k", "s"),
      "part-up-v1.parquet")
    val sizeC = moveIn(Seq((5L, "r5", "update_preimage"),
      (5L, "UP5", "update_postimage")).toDF("k", "s", "_change_type"),
      "_change_data/cdc-0.parquet")
    val v1 =
      s"""{"commitInfo":{"timestamp":2,"operation":"MERGE","operationParameters":{}}}
         |{"remove":{"path":"$fileA","deletionTimestamp":2,"dataChange":true}}
         |{"add":{"path":"part-up-v1.parquet","partitionValues":{},"size":$sizeB,"modificationTime":2,"dataChange":true}}
         |{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":$sizeC,"dataChange":false}}
         |""".stripMargin
    Files.write(Paths.get(t.root, "_delta_log", f"${1L}%020d.json"),
      v1.getBytes("UTF-8"))
    // snapshot replay ignores cdc actions: the table IS the new file
    assert(t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap.apply(5L) == "UP5")
    assert(t.read(spark).count() == 10)
    // the CDF for v1 is the cdc payload — 2 row-level rows with the
    // foreign four-valued vocabulary, NOT 20 file-image rows
    def feed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val expected = Set((5L, "r5", "update_preimage", 1L),
      (5L, "UP5", "update_postimage", 1L))
    assert(feed(t.changes(spark, 0L, 1L)) == expected)
    assert(feed(t.changesRows(spark, 0L, 1L)) == expected)
    // a range spanning v0 keeps v0's add-derived inserts alongside
    val both = t.changes(spark, -1L, 1L)
    assert(both.where("_commit_version = 0").count() == 10)
    assert(feed(both.where("_commit_version = 1")) == expected)
    // vacuum within retention keeps the change feed: _change_data is
    // CDC payload, not snapshot data — the live-set check never applies
    t.vacuum(1, retentionMs = 60_000L)
    assert(Files.exists(Paths.get(t.root, "_change_data/cdc-0.parquet")))
    assert(feed(t.changesRows(spark, 0L, 1L)) == expected)
    // past the retention horizon the feed AGES OUT (delta-spark
    // behavior: CDF over vacuumed history is unreadable anyway), and
    // dead data files (fileA) go with it
    t.vacuum(1, retentionMs = 0L)
    assert(!Files.exists(Paths.get(t.root, "_change_data/cdc-0.parquet")))
    assert(!Files.exists(Paths.get(t.root, fileA)))
  }

  test("restore: metadata-only rollback re-adds old files by identity; vacuumed target fails loudly") {
    import spark.implicits._
    val t = tmpTable()
    val v0 = t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      statsFor = Seq("k"))
    val files0 = t.read(spark).inputFiles.toSet
    t.overwrite(Seq((9L, "z")).toDF("k", "s"))
    val vr = t.restore(v0)
    assert(vr == 2L)
    assert(vals(t.read(spark)) == Set((1L, "a"), (2L, "b")))
    // the restored snapshot serves the ORIGINAL files — no data rewrite
    assert(t.read(spark).inputFiles.toSet == files0)
    // history is preserved: the overwritten intermediate still reads
    assert(vals(t.read(spark, Some(1L))) == Set((9L, "z")))
    // stats ride the re-add: skipping still prunes post-restore
    assert(t.readWhere(spark, "k", 1L, 1L).count() == 1)
    // a vacuumed-out target refuses loudly instead of half-restoring
    // (retention 0 opts OUT of the age guard — spec-only; production
    // keeps the default 7-day horizon against in-flight commits)
    t.overwrite(Seq((7L, "q")).toDF("k", "s"))
    t.vacuum(1, retentionMs = 0L)
    intercept[IllegalArgumentException](t.restore(v0))
  }

  test("vacuum: retention horizon keeps young files; .tmp-* scratch is never touched") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    t.overwrite(Seq((2L, "b")).toDF("k", "s")) // v0's file now dead
    // a scratch dir with a parquet inside simulates an in-flight commit
    val scratch = Paths.get(t.root, ".tmp-delta-race")
    Files.createDirectories(scratch)
    Files.write(scratch.resolve("part-inflight.parquet"), Array[Byte](1, 2))
    // default retention: the dead file is younger than 7 days -> kept
    assert(t.vacuum(1) == 0)
    // zero retention: dead file reclaimed, scratch and live survive
    assert(t.vacuum(1, retentionMs = 0L) == 1)
    assert(Files.exists(scratch.resolve("part-inflight.parquet")))
    assert(vals(t.read(spark)) == Set((2L, "b")))
  }

  test("vacuum: a dead writer's .tmp-* staging past the default retention is reclaimed; young staging survives") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    t.overwrite(Seq((2L, "b")).toDF("k", "s")) // v0's file now dead
    val eightDaysAgo = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis - 8L * 24 * 60 * 60 * 1000)
    def stage(dir: String, files: Seq[String], backDate: String => Boolean) = {
      val d = Paths.get(t.root, dir)
      files.foreach { f =>
        val p = d.resolve(f)
        Files.createDirectories(p.getParent)
        Files.write(p, Array[Byte](1, 2))
      }
      // files first, then their directories (writing a file touches its
      // directory's mtime)
      (files.map(d.resolve) ++ files.flatMap(f =>
          Option(Paths.get(f).getParent).map(d.resolve)) :+ d)
        .filter(p => p == d || backDate(d.relativize(p).toString))
        .foreach(Files.setLastModifiedTime(_, eightDaysAgo))
      d
    }
    // a commit whose writer was killed mid-stage, 8 days ago
    val dead = stage(".tmp-delta-dead", Seq("part-a.parquet", "k=1/part-b.parquet"),
      _ => true)
    // a checkpoint scratch still being written: one fresh file
    val mixed = stage(".tmp-cp-mixed", Seq("part-old.parquet", "part-new.parquet"),
      _ != "part-new.parquet")
    val young = stage(".tmp-delta-young", Seq("part-inflight.parquet"), _ => false)
    Files.setLastModifiedTime(young, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis))
    // zero retention: the dead data file plus the two stale staged parquet
    // files go; staging with any young entry is another writer's, kept
    assert(t.vacuum(1, retentionMs = 0L) == 3)
    assert(!Files.exists(dead))
    assert(Files.exists(mixed.resolve("part-old.parquet")))
    assert(Files.exists(young.resolve("part-inflight.parquet")))
    assert(vals(t.read(spark)) == Set((2L, "b")))
  }

  test("vacuum keepVersions=3: files and DV bitmaps live in any kept version survive; files dead before the window go") {
    import spark.implicits._
    val t = tmpTable()
    def files(v: Long): Set[String] = t.read(spark, Some(v)).inputFiles.toSet
    def exists(uri: String): Boolean = Files.exists(Paths.get(new java.net.URI(uri)))
    def bins: Set[String] = Files.list(Paths.get(t.root)).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin")).toSet
    def ks(v: Long): Set[Long] =
      t.read(spark, Some(v)).select("k").collect().map(_.getLong(0)).toSet
    def rows(keys: Seq[Long], tag: String) =
      keys.map(k => (k, s"$tag$k")).toDF("k", "s").coalesce(1)
    t.append(rows(1L to 1000L, "a"), statsFor = Seq("k"))        // v0: file A
    t.append(rows(1501L to 1505L, "d"), statsFor = Seq("k"))     // v1: file D
    val dead = files(1L) -- files(0L)
    t.delete("k", 1501L, 1505L)                                  // v2: D removed
    t.append(rows(2001L to 2010L, "w"), statsFor = Seq("k"))     // v3: file W
    val window = files(3L) -- files(2L)
    t.delete("k", 1L, 500L)                                      // v4: A's first bitmap
    val middleBins = bins
    t.delete("k", 901L, 2010L)                                   // v5: W removed, A re-bitmapped
    assert(t.latestVersion.contains(5L))
    assert(dead.size == 1 && window.size == 1 && middleBins.nonEmpty)
    // keep v3..v5: W (added v3, removed v5) and v4's bitmap stay, D goes
    t.vacuum(keepVersions = 3, retentionMs = 0L)
    assert(!exists(dead.head), "a file dead before the kept window survived")
    assert(exists(window.head), "a file live inside the kept window was deleted")
    assert(middleBins.subsetOf(bins), "a kept middle version's DV bitmap was deleted")
    assert(ks(3L) == ((1L to 1000L) ++ (2001L to 2010L)).toSet)
    assert(ks(4L) == ((501L to 1000L) ++ (2001L to 2010L)).toSet)
    assert(ks(5L) == (501L to 900L).toSet)
    // the setup is not vacuous: keeping only v5 reclaims W and v4's bitmap
    t.vacuum(keepVersions = 1, retentionMs = 0L)
    assert(!exists(window.head) && (middleBins & bins).isEmpty)
    assert(ks(5L) == (501L to 900L).toSet)
  }

  test("pruning is pushed down: the driver collects only surviving files") {
    import spark.implicits._
    val t = tmpTable()
    // 1000 rows range-clustered into 100 files: file i owns [10i, 10i+9]
    val rows = (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(100, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    t.checkpoint() // census now lives in checkpoint parquet, not the tail
    assert(t.read(spark).inputFiles.length == 100)
    // a 4-wide predicate inside one file's envelope: the driver-side
    // candidate set is ONE AddFile out of 100 — the stat-envelope
    // comparison ran as a Spark filter over the census DataFrame
    val cand = t.pruneCandidates(spark, "k", 105L, 108L)
    assert(cand.size == 1, s"driver materialized ${cand.size} files, want 1")
    assert(t.readWhere(spark, "k", 105L, 108L).collect()
      .map(_.getLong(0)).sorted.toSeq == (105L to 108L))
    // an all-NULL-column file is provably unmatchable -> pruned too
    val tn = tmpTable()
    tn.append(Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("k", "s").coalesce(1), statsFor = Seq("k"))
    tn.append(Seq((Some(5L), "v")).toDF("k", "s").coalesce(1),
      statsFor = Seq("k"))
    assert(tn.pruneCandidates(spark, "k", 0L, 10L).size == 1)
  }

  test("delete keeps NULL rows sharing a file with in-range values (nullCount gate)") {
    import spark.implicits._
    val t = tmpTable()
    // ONE stats-bearing file mixing in-range values with NULLs: min/max
    // containment alone would fast-drop it and silently lose the NULLs
    t.append(Seq((Some(5L), "gone"), (Option.empty[Long], "keep"),
        (Some(7L), "gone2")).toDF("k", "s").coalesce(1), statsFor = Seq("k"))
    val v = t.delete("k", 0L, 10L)
    assert(t.read(spark).collect().map(_.getString(1)).toSeq == Seq("keep"))
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(log.contains("\"wholeFilesDropped\":\"0\"")) // rewrite, not drop
    // and a provably NULL-free in-range file still fast-drops
    val t2 = tmpTable()
    t2.append((0 until 10).map(i => (i.toLong, s"r$i")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    t2.append(Seq((50L, "far")).toDF("k", "s").coalesce(1), statsFor = Seq("k"))
    val v2 = t2.delete("k", 0L, 10L)
    val log2 = Files.readAllLines(
      Paths.get(t2.root, "_delta_log", f"$v2%020d.json")).toArray.mkString
    assert(log2.contains("\"wholeFilesDropped\":\"1\""))
    assert(t2.read(spark).collect().map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("partition values with URI-special chars round-trip through the encoded log") {
    import spark.implicits._
    val t = tmpTable()
    // ':' and '%' are escaped by Spark in dir names (a%3Ab, c%25d); the
    // log must percent-encode the on-disk '%' so decode round-trips
    t.overwrite(Seq((1L, "a:b"), (2L, "c%d"), (3L, "e f"))
      .toDF("k", "color"), partitionBy = Seq("color"))
    def back() = t.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back() == Set((1L, "a:b"), (2L, "c%d"), (3L, "e f")))
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"${0L}%020d.json")).toArray.mkString
    assert(log.contains("%25"), "on-disk '%' must be %25-encoded in the log")
    // census decode/encode in SQL is symmetric: checkpoint + read again
    t.checkpoint()
    assert(back() == Set((1L, "a:b"), (2L, "c%d"), (3L, "e f")))
    // the overwrite's removes resolve the same on-disk files
    t.overwrite(Seq((9L, "z")).toDF("k", "color"), partitionBy = Seq("color"))
    assert(back() == Set((9L, "z")))
    assert(t.vacuum(1, retentionMs = 0L) == 3) // dead escaped paths found
  }

  test("incremental OPTIMIZE converges over capped batches; snapshot identical; CDC silent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t = tmpTable()
    val rows = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartition(10))
    val v0 = t.latestVersion.get
    assert(t.read(spark).inputFiles.length == 10)
    var commits = 0
    while (t.compactIncremental(smallBytes = 10L << 20,
        maxBatchBytes = Long.MaxValue / 2, maxBatchFiles = 4,
        statsFor = Seq("k")).isDefined && commits < 20) commits += 1
    assert(commits >= 3, s"expected multi-commit convergence, got $commits")
    assert(t.compactIncremental(smallBytes = 10L << 20).isEmpty) // converged
    assert(t.read(spark).inputFiles.length == 1)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      (0L until 100L).toSet)
    // the WHOLE maintenance sequence is dataChange=false: CDC is empty
    assert(t.changes(spark, v0, t.latestVersion.get).count() == 0)
    // partition-scoped: each partition-value group compacts separately
    val tp = tmpTable()
    tp.overwrite((0 until 40).map(i => (i.toLong, if (i % 2 == 0) "red" else "blue"))
      .toDF("k", "color").repartition(4), partitionBy = Seq("color"))
    var n = 0
    while (tp.compactIncremental(smallBytes = 10L << 20).isDefined && n < 20) n += 1
    assert(n >= 2, s"one commit per partition group minimum, got $n")
    assert(tp.read(spark).inputFiles.length == 2) // one file per color
    assert(tp.read(spark).agg(fsum(col("k"))).head.getLong(0) ==
      (0 until 40).map(_.toLong).sum)
  }

  test("incremental ZORDER converges over zcube batches; snapshot identical; CDC silent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t = tmpTable()
    val rows = (0 until 1024).map(i => (i.toLong % 32, i.toLong / 32, i.toLong))
      .toDF("a", "b", "v")
    t.overwrite(rows.repartitionByRange(8, col("b")), statsFor = Seq("a", "b"))
    val v0 = t.latestVersion.get
    var commits = 0
    while (t.optimizeZOrderIncremental("a", "b", bits = 5,
        maxBatchFiles = 3).isDefined && commits < 20) commits += 1
    assert(commits == 3, s"8 files in batches of 3 -> 3 commits, got $commits")
    // converged: every live file carries a zcube tag now
    assert(t.optimizeZOrderIncremental("a", "b", bits = 5).isEmpty)
    assert(t.read(spark).count() == 1024)
    assert(t.read(spark).agg(fsum("v")).head.getLong(0) ==
      (0 until 1024).map(_.toLong).sum)
    assert(t.changes(spark, v0, t.latestVersion.get).count() == 0)
    // two-dim stats ride the rewrite: a second-dim predicate stays exact
    assert(t.readWhere(spark, "a", 3L, 4L).count() == 64)
  }

  test("multi-part checkpoint: parallel parts stitch to one snapshot; torn part-set falls back") {
    import spark.implicits._
    val t = tmpTable()
    val rows = (0 until 200).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(10, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    t.checkpoint(parts = 4)
    val names = Files.list(Paths.get(t.root, "_delta_log")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    val partNames = names.filter(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet"""))
    assert(partNames.size >= 2, s"expected multi-part files, got $names")
    t.append(Seq((500L, "tail")).toDF("k", "s"), statsFor = Seq("k"))
    // replay stitches all parts + the JSON tail
    assert(t.read(spark).count() == 201)
    // stats ride the parts: pruning still collects survivors only
    assert(t.pruneCandidates(spark, "k", 45L, 47L).size == 1)
    // a TORN part-set (one part missing) must read as "no checkpoint",
    // not a partial census: delete a part, replay falls back to pure JSON
    Files.delete(Paths.get(t.root, "_delta_log", partNames.sorted.head))
    assert(t.read(spark).count() == 201)
  }

  test("full-scan driver payload is paths + DV descriptors ONLY (no stats/partitionValues)") {
    import spark.implicits._
    val t = tmpTable()
    val rows = (0 until 60).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartition(6), statsFor = Seq("k"))
    val frame = t.livePathsFrame(spark)
    // the documented O(files) bound is PATH STRINGS plus ~100-byte DV
    // descriptors on boundary-delete files; nothing stats-sized rides
    // to the driver on a full-table scan
    assert(frame.columns.toSeq == Seq("path", "dv"))
    assert(frame.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val got = frame.collect()
    assert(got.length == 6 && got.forall(_.getString(0).endsWith(".parquet")))
    assert(got.forall(_.isNullAt(1))) // no deletes yet: descriptors null
  }

  test("re-checkpointing with a different part count REPLACES the old file set") {
    import spark.implicits._
    val t = tmpTable()
    val rows = (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    t.overwrite(rows.repartitionByRange(8, org.apache.spark.sql.functions.col("k")),
      statsFor = Seq("k"))
    t.checkpoint(parts = 4)
    def cpNames() = Files.list(Paths.get(t.root, "_delta_log")).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint") && n.endsWith(".parquet")).toSeq
    assert(cpNames().size >= 2)
    // shrink to a single-file checkpoint at the SAME version: the part
    // files have different names, so a REPLACE_EXISTING move alone would
    // leave the stale complete part set behind and listCheckpoints could
    // keep preferring it
    t.checkpoint(parts = 1)
    val after = cpNames()
    assert(after == Seq(f"${0L}%020d.checkpoint.parquet"),
      s"stale checkpoint files survived: $after")
    assert(t.read(spark).count() == 100)
    // and back up to multi-part: the single file must vanish too
    t.checkpoint(parts = 3)
    val multi = cpNames()
    assert(!multi.contains(f"${0L}%020d.checkpoint.parquet")
      && multi.forall(_.matches("""\d{20}\.checkpoint\.\d{10}\.\d{10}\.parquet""")),
      s"single-file checkpoint survived the multi-part rewrite: $multi")
    assert(t.read(spark).count() == 100)
  }

  test("checkpoint with pre-upgrade protocol/add structs (no feature lists, no DV field) still reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct, when}
    val t = tmpTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), statsFor = Seq("k"))
    t.append(Seq((3L, "c")).toDF("k", "s"), statsFor = Seq("k"))
    t.checkpoint()
    // Rewrite the checkpoint with the NARROW pre-upgrade schema: protocol
    // carries only {minReaderVersion, minWriterVersion} (no readerFeatures/
    // writerFeatures) and add has no deletionVector — the shape every
    // checkpoint written before the DV upgrade has, and what a minimal
    // foreign writer emits. The ctrl read must resolve the missing nested
    // fields to null, not throw AnalysisException.
    val cpPath = Paths.get(t.root, "_delta_log",
      f"${1L}%020d.checkpoint.parquet")
    val cp = spark.read.parquet(cpPath.toString)
    val narrowed = cp.select(
      when(col("protocol").isNotNull, struct(
        col("protocol.minReaderVersion").as("minReaderVersion"),
        col("protocol.minWriterVersion").as("minWriterVersion")))
        .as("protocol"),
      col("metaData"),
      when(col("add").isNotNull, struct(
        col("add.path").as("path"),
        col("add.partitionValues").as("partitionValues"),
        col("add.size").as("size"),
        col("add.modificationTime").as("modificationTime"),
        col("add.dataChange").as("dataChange"),
        col("add.stats").as("stats"),
        col("add.tags").as("tags"))).as("add"),
      col("txn"), col("remove"))
    val scratch = Files.createTempDirectory("cpnarrow")
    narrowed.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, cpPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // read (checkpoint + empty tail) and a stats-pruned read both work
    assert(vals(t.read(spark)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.readWhere(spark, "k", 2L, 3L).count() == 2)
    // and the next write replays this narrow checkpoint without crashing
    t.append(Seq((4L, "d")).toDF("k", "s"))
    assert(vals(t.read(spark)).size == 4)
  }

  test("foreign multi-part checkpoint (delta-spark naming) is read whole") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .repartition(3))
    t.checkpoint() // single-file form first
    val log = Paths.get(t.root, "_delta_log")
    val single = log.resolve(f"${0L}%020d.checkpoint.parquet")
    // split our own checkpoint rows into TWO foreign-named parts:
    // control rows (add.path null) in part 1, add rows in part 2 —
    // the row distribution across parts is arbitrary per the protocol
    import org.apache.spark.sql.functions.col
    val cp = spark.read.parquet(single.toString)
    val scratch = Files.createTempDirectory("cpsplit")
    cp.where(col("add.path").isNull).coalesce(1).write.mode("overwrite")
      .parquet(scratch.resolve("p1").toString)
    cp.where(col("add.path").isNotNull).coalesce(1).write.mode("overwrite")
      .parquet(scratch.resolve("p2").toString)
    assert(cp.where(col("add.path").isNotNull).count() >= 1)
    def partOf(dir: String): java.nio.file.Path =
      Files.list(scratch.resolve(dir)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.delete(single)
    Files.copy(partOf("p1"),
      log.resolve(f"${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet"))
    Files.copy(partOf("p2"),
      log.resolve(f"${0L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    assert(vals(t.read(spark)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("partition-value pruning: readWhere/delete on a partition column are metadata-pruned") {
    import spark.implicits._
    val t = tmpTable()
    val rows = (0 until 40).map(i => (i.toLong, (i % 4).toLong)).toDF("k", "bucket")
    t.overwrite(rows, partitionBy = Seq("bucket"))
    assert(t.read(spark).inputFiles.length >= 4)
    // the typed partitionValues comparison prunes to ONE partition's files
    val cand = t.pruneCandidates(spark, "bucket", 2L, 2L)
    assert(cand.nonEmpty && cand.forall(_.partitionValues("bucket") == "2"))
    val pruned = t.readWhere(spark, "bucket", 2L, 2L)
    assert(pruned.collect().map(_.getLong(0)).toSet ==
      (0 until 40).filter(_ % 4 == 2).map(_.toLong).toSet)
    // deleting a whole partition is pure metadata: remove-only actions
    val v = t.delete("bucket", 3L, 3L)
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(!log.contains("\"add\""), "partition delete must not rewrite")
    assert(t.read(spark).collect().map(_.getLong(1)).toSet == Set(0L, 1L, 2L))
  }

  test("timestampAsOf: versionAt picks the last commit at-or-before ts, monotonic-adjusted") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    Thread.sleep(15)
    val mid = System.currentTimeMillis
    Thread.sleep(15)
    t.overwrite(Seq((2L, "b")).toDF("k", "s"))
    assert(t.versionAt(mid) == 0L)
    assert(t.versionAt(System.currentTimeMillis + 1000) == 1L)
    assert(vals(t.readAsOf(spark, mid)) == Set((1L, "a")))
    intercept[IllegalArgumentException](t.versionAt(0L)) // predates table
    // a commit whose recorded timestamp runs BACKWARD inherits its
    // predecessor's (the Delta monotonicity adjustment): the skewed v1
    // reads as "committed at t0", NOT at its bogus early clock — so it
    // neither claims a pre-table slot nor breaks the ordering
    val logPath = Paths.get(t.root, "_delta_log", f"${1L}%020d.json")
    val rewritten = new String(Files.readAllBytes(logPath), "UTF-8")
      .replaceAll("\"timestamp\":\\d+", "\"timestamp\":1")
    Files.write(logPath, rewritten.getBytes("UTF-8"))
    assert(t.versionAt(mid) == 1L,
      "skewed v1 inherits t0, so asOf(mid >= t0) serves it")
    intercept[IllegalArgumentException](t.versionAt(2L)) // not the bogus clock
  }

  test("history lists commits newest-first with operations and action counts") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t.append(Seq((3L, "c")).toDF("k", "s"))
    t.delete("k", 3L, 3L)
    val h = t.history(spark).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L)) // newest first
    assert(h.map(_.getString(2)).toSeq == Seq("DELETE", "WRITE", "WRITE"))
    val del = h.head
    assert(del.getMap[String, String](3)("predicate").contains("BETWEEN"))
    assert(del.getLong(5) >= 1L) // the delete tombstoned at least a file
    // timestamps are monotonic non-decreasing oldest->newest
    val ts = h.map(_.getLong(1)).reverse
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("checkpoint carries real add sizes and retained remove tombstones") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    t.overwrite(Seq((9L, "z")).toDF("k", "s")) // v1 tombstones v0's file
    t.checkpoint()
    val cp = spark.read.parquet(
      Paths.get(t.root, "_delta_log", f"${1L}%020d.checkpoint.parquet").toString)
    import org.apache.spark.sql.functions.col
    val sizes = cp.where(col("add.path").isNotNull)
      .select("add.size").collect().map(_.getLong(0))
    assert(sizes.nonEmpty && sizes.forall(_ > 0L),
      s"checkpoint add.size must be real, got ${sizes.mkString(",")}")
    // the v0 tombstone is within retention -> present as a remove row
    assert(cp.where(col("remove.path").isNotNull).count() >= 1)
    // tombstones are NOT live files: replay from checkpoint unchanged
    assert(vals(t.read(spark)) == Set((9L, "z")))
    // aged-out tombstones drop from the NEXT checkpoint
    Thread.sleep(5)
    t.checkpoint(tombstoneRetentionMs = 1L)
    val cp2 = spark.read.parquet(
      Paths.get(t.root, "_delta_log", f"${1L}%020d.checkpoint.parquet").toString)
    assert(cp2.where(col("remove.path").isNotNull).count() == 0)
    assert(vals(t.read(spark)) == Set((9L, "z")))
  }

  test("optimize zorder: curve rewrite prunes EITHER dim; snapshot identical; CDC silent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val t = tmpTable()
    // independent 32x32 dims: b-range-sorted files span a's full width
    val rows = (0 until 1024).map(i => (i.toLong % 32, i.toLong / 32, i.toLong))
      .toDF("a", "b", "v")
    t.overwrite(rows.repartitionByRange(8, col("b")), statsFor = Seq("a", "b"))
    assert(t.readWhere(spark, "a", 3L, 4L).inputFiles.length == 8) // no pruning
    val vz = t.optimizeZOrder("a", "b", bits = 5, numFiles = 8)
    assert(t.read(spark).count() == 1024)
    assert(t.read(spark).agg(fsum("v")).head.getLong(0) == (0 until 1024).map(_.toLong).sum)
    // each file now owns a RECTANGLE of (a, b) space: both dims prune
    val pa = t.readWhere(spark, "a", 3L, 4L)
    val pb = t.readWhere(spark, "b", 3L, 4L)
    assert(pa.inputFiles.length < 8 && pb.inputFiles.length < 8,
      s"a=${pa.inputFiles.length} b=${pb.inputFiles.length}")
    assert(pa.count() == 64 && pb.count() == 64)
    // dataChange=false: the CDC feed over the OPTIMIZE commit is empty
    assert(t.changes(spark, vz - 1, vz).count() == 0)
    // Hive-partitioned tables refuse (z-order within partitions unsupported)
    val tp = tmpTable()
    tp.overwrite(Seq((1L, "x", "red")).toDF("k", "s", "color"),
      partitionBy = Seq("color"))
    intercept[IllegalArgumentException](tp.optimizeZOrder("k", "k"))
  }

  test("restore and shallow clone re-add files with their tags: z-ordered files stay in their zcube") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = tmpTable()
    t.overwrite((0 until 256).map(i => (i.toLong % 16, i.toLong / 16, i.toLong))
      .toDF("a", "b", "v").repartitionByRange(4, col("b")), statsFor = Seq("a", "b"))
    val vz = t.optimizeZOrder("a", "b", bits = 4, numFiles = 4)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // each add action's ZCUBE_ID tag in commit v of the table at root
    def zcubes(root: String, v: Long): Seq[Option[String]] = Files.readAllLines(
      Paths.get(root, "_delta_log", f"$v%020d.json")).asScala.toSeq
      .filter(_.nonEmpty).map(m.readTree).flatMap(n => Option(n.get("add")))
      .map(a => Option(a.get("tags")).flatMap(tg =>
        Option(tg.get(DeltaTable.ZCubeTag))).map(_.asText)).sortBy(_.toString)
    val tagged = zcubes(t.root, vz)
    assert(tagged.nonEmpty && tagged.forall(_.isDefined))
    t.compact() // one untagged file replaces the zcube
    val vr = t.restore(vz)
    assert(zcubes(t.root, vr) == tagged, "RESTORE re-added the zcube untagged")
    // the restored files are back in their zcube: nothing left to z-order
    assert(t.optimizeZOrderIncremental("a", "b", bits = 4).isEmpty)
    val dstRoot = Files.createTempDirectory("deltaclonetags").toString + "/t"
    val dst = t.shallowCloneTo(dstRoot)
    assert(zcubes(dstRoot, 0L) == tagged, "CLONE v0 dropped the source's tags")
    assert(dst.optimizeZOrderIncremental("a", "b", bits = 4).isEmpty)
    assert(dst.read(spark).count() == 256)
  }

  test("concurrent commit of the same version loses loudly (atomic publish)") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite(Seq((1L, "a")).toDF("k", "s"))
    // simulate a racer that already published v1
    Files.write(Paths.get(t.root, "_delta_log", f"${1L}%020d.json"),
      "{\"commitInfo\":{}}\n".getBytes("UTF-8"))
    // wait: our writer computes v from latestVersion, so it would target
    // v2 now; instead race the tmp-link path directly
    val e = intercept[IllegalStateException] {
      // force a publish collision at v1 via a second handle that saw v0
      DeltaTable(t.root).publish(1L, "WRITE", Map.empty, Map.empty, 0L,
        Iterator.empty)
    }
    assert(e.getMessage.contains("concurrent commit"))
    // a writer failing mid-stream publishes nothing and leaves no
    // staging file in the log
    val failing = Iterator("{\"txn\":{}}") ++ Iterator.single(())
      .map[String](_ => throw new IllegalStateException("mid-stream"))
    intercept[IllegalStateException] {
      t.publish(2L, "WRITE", Map.empty, Map.empty, 0L, failing)
    }
    assert(t.latestVersion.contains(1L))
    assert(!Files.list(Paths.get(t.root, "_delta_log")).iterator.asScala
      .exists(_.getFileName.toString.startsWith(".tmp-")), "staging file left")
  }

  // ---- round 15: writer-feature gate, V2 checkpoints, CDC emission,
  // ---- column-mapping id-mode reads ----------------------------------

  /** Hand-write a one-file foreign table whose v0 declares the given
    * protocol/configuration/schema — the writer-feature fixtures. */
  private def foreignTable(protocolJson: String, configJson: String,
      schema: org.apache.spark.sql.types.StructType): DeltaTable = {
    import spark.implicits._
    val dir = Files.createTempDirectory("deltagate").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val scratch = Files.createTempDirectory("gatescratch")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(schema.json)
    val stats = m.writeValueAsString(
      """{"numRecords":2,"minValues":{"k":1},"maxValues":{"k":2},"nullCount":{"k":0}}""")
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |$protocolJson
          |{"metaData":{"id":"g","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":$configJson,"createdTime":1}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true,"stats":$stats}}
          |""").stripMargin.getBytes("UTF-8"))
    DeltaTable(dir)
  }

  test("writer-feature gate: active appendOnly refuses removes; validation features enforce; dormant tiers write; unknown features refuse everything") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val plain = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val legacy2 = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

    // ACTIVE appendOnly (legacy tier 2 declares it; config activates):
    // appends land, every row-removing/rewriting verb refuses
    val ao = foreignTable(legacy2, """{"delta.appendOnly":"true"}""", plain)
    ao.append(Seq((3L, "c")).toDF("k", "s"))
    assert(ao.read(spark).count() == 3)
    val e1 = intercept[IllegalArgumentException](ao.delete("k", 1L, 1L))
    assert(e1.getMessage.contains("append-only"))
    intercept[IllegalArgumentException](
      ao.delete("k", 1L, 1L, useDeletionVectors = false))
    intercept[IllegalArgumentException](
      ao.merge(Seq((1L, "x")).toDF("k", "s"), "k"))
    intercept[IllegalArgumentException](
      ao.overwrite(Seq((9L, "z")).toDF("k", "s")))
    intercept[IllegalArgumentException](ao.restore(0L))
    // OPTIMIZE is dataChange=false — legal on an append-only table
    ao.compact()
    assert(ao.read(spark).count() == 3)
    // DORMANT appendOnly (declared by the tier, config false/absent)
    val dormant = foreignTable(legacy2, """{"delta.appendOnly":"false"}""", plain)
    dormant.delete("k", 1L, 1L)
    assert(dormant.read(spark).count() == 1)

    // ACTIVE CHECK constraints (legacy tier 3): ENFORCED since r15 —
    // satisfying writes land, violating writes refuse row-by-row
    // (full matrix in the row-contract enforcement test below)
    val ck = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      """{"delta.constraints.c1":"k > 0"}""", plain)
    ck.append(Seq((3L, "c")).toDF("k", "s"))
    assert(ck.read(spark).count() == 3)
    val e2 = intercept[Exception](
      ck.append(Seq((0L, "z")).toDF("k", "s")))
    assert(e2.getMessage.contains("CHECK constraint c1"))
    assert(ck.read(spark).count() == 3) // violating append left no rows
    ck.merge(Seq((1L, "x")).toDF("k", "s"), "k") // satisfies k > 0
    ck.delete("k", 2L, 2L)
    assert(ck.read(spark).count() == 2)
    // tier 3 WITHOUT constraints in config: dormant, appends land
    val ck2 = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      """{}""", plain)
    ck2.append(Seq((3L, "c")).toDF("k", "s"))
    assert(ck2.read(spark).count() == 3)

    // ACTIVE generated column (tier 4: schema metadata carries the
    // generation expression): ENFORCED — matching explicit values land,
    // mismatches refuse, omission computes (matrix in the test below)
    val genSchema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType, nullable = true, new MetadataBuilder()
        .putString("delta.generationExpression", "CAST(k AS STRING)").build())))
    val gen = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      """{}""", genSchema)
    gen.append(Seq((3L, "3")).toDF("k", "s")) // matches CAST(k AS STRING)
    assert(gen.read(spark).count() == 3)
    val e3 = intercept[Exception](
      gen.append(Seq((4L, "x")).toDF("k", "s")))
    assert(e3.getMessage.contains("generated column s"))
    gen.delete("k", 1L, 1L) // removal stays legal
    assert(gen.read(spark).count() == 2)

    // ACTIVE identity column (tier 6): GENERATED ALWAYS — explicit
    // values refuse; omission assigns (matrix in the test below)
    val idSchema = StructType(Seq(StructField("k", LongType, nullable = true,
      new MetadataBuilder().putLong("delta.identity.start", 1L)
        .putLong("delta.identity.step", 1L).build()),
      StructField("s", StringType)))
    val ident = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
      """{}""", idSchema)
    val e4 = intercept[IllegalArgumentException](
      ident.append(Seq((3L, "c")).toDF("k", "s")))
    assert(e4.getMessage.contains("GENERATED ALWAYS identity column k"))

    // explicit v7 feature list with a feature OUTSIDE the implemented
    // set: EVERY commit-producing verb refuses, maintenance included
    val rt = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","icebergCompatV1"]}}""",
      """{}""", plain)
    assert(rt.read(spark).count() == 2) // reads stay fine
    val e5 = intercept[IllegalArgumentException](
      rt.append(Seq((3L, "c")).toDF("k", "s")))
    assert(e5.getMessage.contains("icebergCompatV1"))
    intercept[IllegalArgumentException](rt.delete("k", 1L, 1L))
    intercept[IllegalArgumentException](rt.compact())
    intercept[IllegalArgumentException](rt.checkpoint())
    intercept[IllegalArgumentException](
      rt.setProperties(Map("a" -> "b")))
    // explicit v7 list fully inside the implemented set, all dormant:
    // writes land
    val ok7 = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","checkConstraints","changeDataFeed"]}}""",
      """{}""", plain)
    ok7.append(Seq((3L, "c")).toDF("k", "s"))
    ok7.delete("k", 1L, 1L)
    assert(ok7.read(spark).count() == 2)

    // our own tables keep writing: the self-written protocol (2) implies
    // appendOnly+invariants, both dormant by construction
    val self = tmpTable()
    self.overwrite(Seq((1L, "a")).toDF("k", "s"))
    self.delete("k", 1L, 1L)
    assert(self.read(spark).count() == 0)
  }

  test("icebergCompatV2: dormant imposes nothing; ACTIVE accepts field-id appends with numRecords and refuses removes/rewrites/schema verbs") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val plain = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    // DORMANT (feature declared, config off): delta-spark semantics —
    // the feature imposes nothing, every implemented verb stays legal
    val dormant = foreignTable(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","columnMapping","icebergCompatV2"]}}""",
      """{}""", plain)
    dormant.append(Seq((3L, "c")).toDF("k", "s"))
    dormant.delete("k", 1L, 1L)
    assert(dormant.read(spark).count() == 2)

    // ACTIVE: name-mode column mapping with identity physical names +
    // ids (so the fixture's plain-named file stays readable)
    def mapped(f: StructField, id: Long): StructField =
      f.copy(metadata = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", f.name)
        .putLong("delta.columnMapping.id", id).build())
    val mappedSchema = StructType(Seq(
      mapped(StructField("k", LongType), 1L),
      mapped(StructField("s", StringType), 2L)))
    val activeCfg =
      """{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"2","delta.enableIcebergCompatV2":"true"}"""
    val proto =
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["appendOnly","invariants","columnMapping","icebergCompatV2"]}}"""
    val act = foreignTable(proto, activeCfg, mappedSchema)
    // append lands; the new file carries parquet field ids (footer
    // metadata Spark reads back as parquet.field.id) AND the add
    // carries numRecords stats even with no statsFor columns
    act.append(Seq((3L, "c"), (4L, "d")).toDF("k", "s").coalesce(1))
    assert(vals(act.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    val j1 = commitJson(act, 1L)
    assert(j1.contains("numRecords"))
    val newest = Files.list(Paths.get(act.root)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.maxBy(p => Files.getLastModifiedTime(p).toMillis)
    val fields = spark.read.parquet(newest.toString).schema.fields
    assert(fields.forall(_.metadata.contains("parquet.field.id")),
      fields.map(_.metadata).mkString(";"))
    // row-removing / rewriting / schema verbs refuse by name
    for (bad <- Seq(
        () => act.delete("k", 1L, 1L): Any,
        () => act.updateWhere("k = 2",
          Map("s" -> org.apache.spark.sql.functions.lit("X"))): Any,
        () => act.merge(Seq((1L, "z")).toDF("k", "s"), "k"): Any,
        () => act.compact(): Any)) {
      val e = intercept[IllegalArgumentException](bad())
      assert(e.getMessage.contains("icebergCompatV2"), e.getMessage)
    }
    assert(vals(act.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // metadata plane stays legal: checkpoint + log cleanup
    act.checkpoint()
    assert(vals(act.read(spark)).size == 4)

    // ACTIVE with an array column: the append refuses — Spark's writer
    // cannot attach Iceberg's nested element field ids
    val arrSchema = StructType(Seq(
      mapped(StructField("k", LongType), 1L),
      mapped(StructField("tags", ArrayType(StringType)), 2L)))
    val arrDir = Files.createTempDirectory("icearr").toString + "/t"
    val arrLog = Paths.get(arrDir, "_delta_log")
    Files.createDirectories(arrLog)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.write(arrLog.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"CREATE TABLE","operationParameters":{}}}
          |$proto
          |{"metaData":{"id":"ia","format":{"provider":"parquet","options":{}},"schemaString":${m.writeValueAsString(arrSchema.json)},"partitionColumns":[],"configuration":$activeCfg,"createdTime":1}}
          |""").stripMargin.getBytes("UTF-8"))
    val arr = DeltaTable(arrDir)
    val ea = intercept[IllegalArgumentException](
      arr.append(Seq((1L, Seq("x"))).toDF("k", "tags")))
    assert(ea.getMessage.contains("array/map"), ea.getMessage)

    // ACTIVE without column mapping: structurally broken table, loud
    val bad = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","icebergCompatV2"]}}""",
      """{"delta.enableIcebergCompatV2":"true"}""", plain)
    val eb = intercept[IllegalArgumentException](
      bad.append(Seq((3L, "c")).toDF("k", "s")))
    assert(eb.getMessage.contains("column mapping"), eb.getMessage)
  }

  /** Executor-side raise_error surfaces wrapped in SparkException
    * layers — collect every message in the cause chain. */
  private def chainMsg(t: Throwable): String = {
    val sb = new StringBuilder
    var c: Throwable = t
    while (c != null) {
      sb.append(Option(c.getMessage).getOrElse("")); c = c.getCause
    }
    sb.toString
  }

  test("row-contract enforcement: CHECK constraints and invariants assert per row, NULL passes, failed writes leave the table untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val plain = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val ck = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      """{"delta.constraints.kpos":"k > 0","delta.constraints.named":"s IS NOT NULL"}""",
      plain)
    ck.append(Seq((5L, "e")).toDF("k", "s"))
    val v1 = ck.latestVersion.get
    // a violating row refuses, naming the constraint and its expression;
    // the whole batch is rejected (the satisfying row 6 must not land)
    val e1 = intercept[Throwable](
      ck.append(Seq((6L, "f"), (-1L, "g")).toDF("k", "s")))
    assert(chainMsg(e1).contains("CHECK constraint kpos"))
    assert(chainMsg(e1).contains("k > 0"))
    assert(ck.latestVersion.get == v1)
    assert(ck.read(spark).count() == 3)
    // no scratch leftovers from the failed staging job
    assert(!Files.list(Paths.get(ck.root)).iterator.asScala
      .exists(_.getFileName.toString.startsWith(".tmp-delta-")))
    // SQL CHECK semantics: NULL (unknown) passes — k > 0 over null k
    ck.append(Seq[(java.lang.Long, String)]((null, "n")).toDF("k", "s"))
    assert(ck.read(spark).where(col("k").isNull).count() == 1)
    // the second constraint fires independently
    val e2 = intercept[Throwable](
      ck.append(Seq[(java.lang.Long, String)]((7L, null)).toDF("k", "s")))
    assert(chainMsg(e2).contains("CHECK constraint named"))
    // merge enforces too: a violating source row refuses the merge
    val e3 = intercept[Throwable](
      ck.merge(Seq((-2L, "m")).toDF("k", "s"), "k"))
    assert(chainMsg(e3).contains("CHECK constraint kpos"))

    // legacy column invariants (field metadata JSON) — same inline shape
    val invSchema = StructType(Seq(StructField("k", LongType, nullable = true,
      new MetadataBuilder().putString("delta.invariants",
        """{"expression":{"expression":"k < 100"}}""").build()),
      StructField("s", StringType)))
    val inv = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{}""", invSchema)
    inv.append(Seq((50L, "ok")).toDF("k", "s"))
    val e4 = intercept[Throwable](inv.append(Seq((200L, "no")).toDF("k", "s")))
    assert(chainMsg(e4).contains("column invariant on k"))
    assert(chainMsg(e4).contains("k < 100"))
    assert(inv.read(spark).count() == 3)
  }

  test("row-contract enforcement: generated columns compute when omitted, validate when provided, refuse on mismatch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val genSchema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType, nullable = true, new MetadataBuilder()
        .putString("delta.generationExpression", "CAST(k AS STRING)").build())))
    val gen = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      """{}""", genSchema)
    // omitted → computed into the files (never null-filled)
    gen.append(Seq(5L).toDF("k"))
    assert(gen.read(spark).where(col("k") === 5L)
      .select("s").as[String].head() == "5")
    // provided and matching → lands
    gen.append(Seq((6L, "6")).toDF("k", "s"))
    // mismatch → refuses, naming the column and expression
    val e1 = intercept[Throwable](gen.append(Seq((7L, "seven")).toDF("k", "s")))
    assert(chainMsg(e1).contains("generated column s"))
    assert(chainMsg(e1).contains("CAST(k AS STRING)"))
    // NULL provided where the expression computes a value → mismatch
    val e2 = intercept[Throwable](
      gen.append(Seq[(java.lang.Long, String)]((8L, null)).toDF("k", "s")))
    assert(chainMsg(e2).contains("generated column s"))
    assert(gen.read(spark).count() == 4)
    // the declaration survives an overwrite that OMITS the column
    gen.overwrite(Seq(9L).toDF("k"))
    assert(gen.read(spark).select("s").as[String].head() == "9")
    val e3 = intercept[Throwable](gen.append(Seq((10L, "x")).toDF("k", "s")))
    assert(chainMsg(e3).contains("generated column s"))
  }

  test("row-contract enforcement: identity columns assign distributed with HWM in the commit; explicit inserts sync or refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max}
    import org.apache.spark.sql.types._
    // GENERATED ALWAYS: start=100 step=10, seed row carries 100 with
    // the high-water-mark declared to cover it (as a real writer would)
    val idMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 100L)
      .putLong("delta.identity.step", 10L)
      .putLong("delta.identity.highWaterMark", 100L).build()
    val dt = tmpTable()
    dt.overwrite(Seq("a").toDF("s").select(col("s"),
      lit(100L).as("id", idMeta)))
    dt.append(Seq("b", "c", "d").toDF("s")) // assigns 110, 120, 130
    assert(dt.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(100L, 110L, 120L, 130L))
    // the commit's metaData recorded the new high-water-mark
    assert(dt.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == 130L)
    // a second append continues from it
    dt.append(Seq("e").toDF("s"))
    assert(dt.read(spark).select(max(col("id"))).as[Long].head() == 140L)
    // explicit values refuse on GENERATED ALWAYS
    val e1 = intercept[IllegalArgumentException](
      dt.append(Seq(("f", 999L)).toDF("s", "id")))
    assert(e1.getMessage.contains("GENERATED ALWAYS identity column id"))
    // the rewrite-form DELETE re-commits existing rows without refusing
    dt.delete("id", 110L, 110L, useDeletionVectors = false)
    assert(dt.read(spark).select("id").as[Long].collect().sorted.toSeq ==
      Seq(100L, 120L, 130L, 140L))

    // negative step: start=0 step=-5, no seed values
    val negMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 0L)
      .putLong("delta.identity.step", -5L).build()
    val neg = tmpTable()
    neg.overwrite(Seq("x").toDF("s").select(col("s"),
      lit(null).cast(LongType).as("id", negMeta)))
    neg.append(Seq("y", "z").toDF("s")) // assigns 0, -5
    assert(neg.read(spark).where(col("id").isNotNull)
      .select("id").as[Long].collect().sorted.toSeq == Seq(-5L, 0L))
    assert(neg.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == -5L)

    // GENERATED BY DEFAULT (allowExplicitInsert=true): explicit values
    // pass and SYNC the high-water-mark so generation cannot collide
    val byDefault = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val dflt = tmpTable()
    dflt.overwrite(Seq("x").toDF("s").select(col("s"),
      lit(null).cast(LongType).as("id", byDefault)))
    dflt.append(Seq(("e", 50L)).toDF("s", "id")) // explicit, allowed
    assert(dflt.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == 50L)
    dflt.append(Seq("f").toDF("s")) // generated: continues past 50
    assert(dflt.read(spark).where(col("s") === "f")
      .select("id").as[Long].head() == 51L)
  }

  test("r15 advisories: clone gates on writer features; explicit-list upgrades don't over-declare; below-start explicit identity leaves START assignable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    // CLONE is gated like every other commit-producing verb: a source
    // declaring an unimplemented writer feature must not be cloned into
    // a v0 log that copies the contract it cannot satisfy
    val plain = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    // (clustering is TOLERATED since r17 — the gate example must be a
    // feature the engine genuinely cannot write)
    val cl = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV1"]}}""",
      """{}""", plain)
    val e1 = intercept[IllegalArgumentException](cl.shallowCloneTo(
      Files.createTempDirectory("clonegate").toString + "/t"))
    assert(e1.getMessage.contains("icebergCompatV1"))
    assert(e1.getMessage.contains("CLONE"))

    // a table ALREADY on explicit feature lists keeps exactly its own
    // lists when a later commit declares timestampNtz — the legacy-
    // implied set (columnMapping, identityColumns, ...) must not leak in
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1),
      statsFor = Seq("k"))
    dt.delete("k", 1L, 1L) // boundary DV → explicit (3,7) lists
    dt.append(Seq((3L, "c")).toDF("k", "s").withColumn("t",
      org.apache.spark.sql.functions.expr(
        "make_timestamp_ntz(2024, 1, 1, 0, 0, 0)")))
    val protoLine = Files.readAllLines(Paths.get(dt.root, "_delta_log",
      f"${dt.latestVersion.get}%020d.json")).asScala
      .find(_.contains("\"protocol\"")).get
    assert(protoLine.contains("timestampNtz"))
    assert(protoLine.contains("deletionVectors"))
    assert(!protoLine.contains("columnMapping"))
    assert(!protoLine.contains("identityColumns"))

    // explicit identity values all BELOW start: the HWM stays unset, so
    // the declared START is the first generated value (clamping the
    // sync to start would mark it consumed and skip straight to 110)
    val byDefault = new MetadataBuilder()
      .putLong("delta.identity.start", 100L)
      .putLong("delta.identity.step", 10L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val idt = tmpTable()
    idt.overwrite(Seq("x").toDF("s").select(col("s"),
      lit(null).cast(LongType).as("id", byDefault)))
    idt.append(Seq(("e", 5L)).toDF("s", "id")) // explicit, below start
    assert(!idt.read(spark).schema("id").metadata
      .contains("delta.identity.highWaterMark"))
    idt.append(Seq("f").toDF("s"))
    assert(idt.read(spark).where(col("s") === "f")
      .select("id").as[Long].head() == 100L)
    // an explicit value BETWEEN lattice points still syncs upward
    idt.append(Seq(("g", 105L)).toDF("s", "id"))
    assert(idt.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == 110L)
    idt.append(Seq("h").toDF("s"))
    assert(idt.read(spark).where(col("s") === "h")
      .select("id").as[Long].head() == 120L)
  }

  test("UPDATE: one atomic commit — DV kill + postimage append; SET sees the pre-update row; generated recompute; identity preserved; CDC pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.types._
    // plain table, DV form: matched rows die in place, postimages land
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
      .repartitionByRange(2, col("k")), statsFor = Seq("k"))
    val v1 = dt.update("k", 2L, 3L, Map("s" -> lit("X")))
    assert(vals(dt.read(spark)) ==
      Set((1L, "a"), (2L, "X"), (3L, "X"), (4L, "d")))
    assert(dt.latestVersion.get == v1) // ONE commit
    // SET evaluates against the PRE-update row
    dt.update("k", 4L, 4L, Map("s" -> concat(col("s"), lit("!"))))
    assert(vals(dt.read(spark)).contains((4L, "d!")))
    // rewrite form, same semantics
    val dt2 = tmpTable()
    dt2.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      statsFor = Seq("k"))
    dt2.update("k", 2L, 2L, Map("s" -> lit("Y")), useDeletionVectors = false)
    assert(vals(dt2.read(spark)) == Set((1L, "a"), (2L, "Y"), (3L, "c")))
    // unknown SET column refuses
    intercept[IllegalArgumentException](
      dt2.update("k", 1L, 1L, Map("nope" -> lit(0))))

    // generated column NOT in the SET recomputes from the updated row
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "CAST(k AS STRING)").build()
    val gen = tmpTable()
    gen.overwrite(Seq(1L, 2L).toDF("k").select(col("k"),
      col("k").cast(StringType).as("s", genMeta)))
    gen.update("k", 2L, 2L, Map("k" -> (col("k") + 100L)))
    assert(vals(gen.read(spark)) == Set((1L, "1"), (102L, "102")))

    // identity values are PRESERVED through the update; SETting the
    // identity column itself refuses
    val idMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 10L)
      .putLong("delta.identity.step", 10L).build()
    val ident = tmpTable()
    ident.overwrite(Seq("a").toDF("s").select(col("s"),
      lit(null).cast(LongType).as("id", idMeta)))
    ident.append(Seq("b", "c").toDF("s")) // ids 10, 20
    ident.update("id", 10L, 10L, Map("s" -> lit("B")))
    assert(ident.read(spark).where(col("s") === "B")
      .select("id").as[Long].head() == 10L)
    intercept[IllegalArgumentException](
      ident.update("id", 10L, 10L, Map("id" -> lit(99L))))
    // the HWM is untouched: the next generated id continues from 20
    ident.append(Seq("d").toDF("s"))
    assert(ident.read(spark).where(col("s") === "d")
      .select("id").as[Long].head() == 30L)

    // CHECK constraints assert over the UPDATED rows
    val ck = tmpTable()
    ck.overwrite(Seq((5L, "e")).toDF("k", "s"))
    ck.setProperties(Map("delta.constraints.kpos" -> "k > 0"))
    val e = intercept[Throwable](
      ck.update("k", 5L, 5L, Map("k" -> lit(-1L))))
    assert(chainMsg(e).contains("CHECK constraint kpos"))
    assert(vals(ck.read(spark)) == Set((5L, "e")))

    // CDF-enabled: the update serializes the preimage/postimage pair
    val cdf = tmpTable()
    cdf.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      statsFor = Seq("k"))
    cdf.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val vu = cdf.update("k", 2L, 2L, Map("s" -> lit("Z")))
    val feed = cdf.changes(spark, vu - 1, vu)
      .select("k", "s", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set((2L, "b", "update_preimage"),
      (2L, "Z", "update_postimage")))
  }

  test("timestampNtz: the commit introducing a TIMESTAMP_NTZ column declares the feature; values roundtrip; no re-declaration") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val dt = tmpTable()
    dt.overwrite(Seq(1L, 2L, 3L).toDF("k").withColumn("ts",
      expr("make_timestamp_ntz(2024, 1, CAST(k AS INT), CAST(k AS INT), 0, 0)")))
    val log0 = new String(Files.readAllBytes(
      Paths.get(dt.root, "_delta_log", f"${0L}%020d.json")), "UTF-8")
    assert(log0.contains("\"minReaderVersion\":3"))
    assert(log0.contains("\"minWriterVersion\":7"))
    assert(log0.contains("timestampNtz"))
    val back = dt.read(spark)
    assert(back.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(back.select(expr("hour(ts)")).as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3))
    // a second append neither re-declares nor changes the protocol
    dt.append(Seq(4L).toDF("k").withColumn("ts",
      expr("make_timestamp_ntz(2024, 1, 4, 4, 0, 0)")))
    val log1 = new String(Files.readAllBytes(
      Paths.get(dt.root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(!log1.contains("\"protocol\""))
    assert(dt.read(spark).count() == 4)
    // DV delete + time travel still work on the feature-bearing table
    dt.delete("k", 2L, 2L)
    assert(dt.read(spark).select(expr("hour(ts)")).as[Int]
      .collect().sorted.toSeq == Seq(1, 3, 4))
  }

  test("inCommitTimestamp: enablement upgrades to v7, every commit carries a strictly monotonic ICT, timestamp travel prefers it") {
    import spark.implicits._
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a")).toDF("k", "s"))
    dt.setProperties(Map("delta.enableInCommitTimestamps" -> "true"))
    dt.append(Seq((2L, "b")).toDF("k", "s"))
    dt.append(Seq((3L, "c")).toDF("k", "s"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def ict(v: Long): Option[Long] = Files.readAllLines(
      Paths.get(dt.root, "_delta_log", f"$v%020d.json")).asScala
      .filter(_.nonEmpty).map(m.readTree)
      .flatMap(n => Option(n.get("commitInfo")))
      .collectFirst {
        case n if n.hasNonNull("inCommitTimestamp") =>
          n.get("inCommitTimestamp").asLong
      }
    assert(ict(0L).isEmpty) // pre-enablement commit carries none
    val Seq(i1, i2, i3) = Seq(1L, 2L, 3L).map(v => ict(v).get)
    assert(i1 < i2 && i2 < i3) // strictly monotonic by construction
    // RESTORE commits like every other verb: its ICT lands above v3's
    val vr = dt.restore(2L)
    assert(ict(vr).exists(_ > i3), s"RESTORE v$vr carries no ICT above $i3")
    // the enablement commit declared the v7 feature
    val log1 = new String(Files.readAllBytes(
      Paths.get(dt.root, "_delta_log", f"${1L}%020d.json")), "UTF-8")
    assert(log1.contains("inCommitTimestamp"))
    assert(log1.contains("\"minWriterVersion\":7"))
    // a foreign log where the ICT contradicts commitInfo.timestamp:
    // timestamp travel prefers the ICT, per the protocol
    val dir = Files.createTempDirectory("deltaict").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"${0L}%020d.json"),
      """{"commitInfo":{"timestamp":1000,"operation":"WRITE"}}
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(log.resolve(f"${1L}%020d.json"),
      """{"commitInfo":{"timestamp":2000,"inCommitTimestamp":9000,"operation":"WRITE"}}
        |""".stripMargin.getBytes("UTF-8"))
    val ft = DeltaTable(dir)
    assert(ft.versionAt(8999L) == 0L) // 2000 would have said v1
    assert(ft.versionAt(9000L) == 1L)
  }

  test("predicate DELETE/UPDATE/readWhere: conjunct envelopes prune and fast-drop; NULL predicates keep rows; opaque shapes stay correct") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    val rows = Seq(
      (1L, Some("en"), Some(0.9)), (2L, Some("en"), Some(0.2)),
      (3L, Some("fr"), Some(0.1)), (4L, Some("fr"), None),
      (5L, None, Some(0.5)))
    val dt = tmpTable()
    dt.overwrite(rows.toDF("k", "lang", "q").repartitionByRange(2, col("k")),
      statsFor = Seq("k", "lang", "q"))

    // conjunction over two columns: only the (en, 0.2) row dies; the
    // row with q NULL (predicate NULL) and the NULL-lang row survive
    dt.deleteWhere("lang = 'en' AND q < 0.3")
    assert(ks(dt.read(spark)) == Set(1L, 3L, 4L, 5L))
    dt.deleteWhere("lang = 'fr' AND q < 0.3") // (fr, NULL q) survives
    assert(ks(dt.read(spark)) == Set(1L, 4L, 5L))

    // predicate UPDATE: swap-semantics SET over the matched rows
    dt.updateWhere("q >= 0.5", Map("lang" -> lit("xx")))
    assert(dt.read(spark).where(col("lang") === "xx").count() == 2)
    assert(ks(dt.read(spark)) == Set(1L, 4L, 5L))

    // predicate reads: IN, NOT (envelope duality), IS NULL, and an
    // envelope-opaque expression (modulo) — all exact
    assert(ks(dt.readWhere(spark, "k IN (1, 4)")) == Set(1L, 4L))
    assert(ks(dt.readWhere(spark, "NOT (k < 4)")) == Set(4L, 5L))
    assert(ks(dt.readWhere(spark, "q IS NULL")) == Set(4L))
    assert(ks(dt.readWhere(spark, "q IS NOT NULL AND lang = 'xx'")) ==
      Set(1L, 5L))
    assert(ks(dt.readWhere(spark, "k % 2 = 0")) == Set(4L))

    // whole-file fast drop: a fresh range-clustered table, predicate
    // provably TRUE for every row of the low file → remove-only action
    // (no deletionVector, no rewrite); the other file never touched
    val ft = tmpTable()
    ft.overwrite(Seq((1L, "a"), (2L, "a"), (10L, "b"), (11L, "b"))
      .toDF("k", "lang").repartitionByRange(2, col("k")),
      statsFor = Seq("k", "lang"))
    val v = ft.deleteWhere("k <= 2")
    val json = commitJson(ft, v)
    assert(json.contains("\"remove\""))
    assert(!json.contains("\"deletionVector\":"))
    assert(json.split('\n').count(_.contains("\"remove\"")) == 1)
    assert(ks(ft.read(spark)) == Set(10L, 11L))

    // boundary predicate on a file that mixes matches: DV path
    val v2 = ft.deleteWhere("lang = 'b' AND k >= 11")
    assert(commitJson(ft, v2).contains("deletionVector"))
    assert(ks(ft.read(spark)) == Set(10L))

    // the envelope never fast-drops when NULLs could hide: a file whose
    // lang column holds a NULL must not be remove-only dropped by a
    // lang-range predicate even if min/max are inside it
    val nt = tmpTable()
    nt.overwrite(Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
      .toDF("k", "lang").coalesce(1), statsFor = Seq("k", "lang"))
    nt.deleteWhere("lang = 'a'")
    assert(ks(nt.read(spark)) == Set(3L))
  }

  test("NOT-envelope with NULLs: negated predicates never whole-file-drop rows that evaluate NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def ks(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("k").collect().map(_.getLong(0)).toSet
    // ONE file whose non-null q values all exceed 0.5 plus a NULL-q
    // row: stats read min 0.8 / max 0.9 / nullCount 1, so may(q < 0.5)
    // is false — the two-valued duality all(NOT x) = !may(x) would
    // whole-file fast-drop, deleting the NULL row SQL says survives
    // (NOT(NULL) is NULL; DELETE keeps NULL-predicate rows)
    def fresh(): DeltaTable = {
      val t = tmpTable()
      t.overwrite(Seq((1L, Option.empty[Double]), (2L, Some(0.9)),
        (3L, Some(0.8))).toDF("k", "q").coalesce(1),
        statsFor = Seq("k", "q"))
      t
    }
    // the two empirically-confirmed r16 data-loss shapes
    val d = fresh()
    d.deleteWhere("NOT (q < 0.5)")
    assert(ks(d.read(spark)) == Set(1L)) // NULL-q row survives
    val u = fresh()
    u.updateWhere("NOT (q < 0.5)", Map("q" -> lit(0.0)))
    assert(ks(u.read(spark)) == Set(1L, 2L, 3L)) // no row vanishes
    assert(u.read(spark).where(col("k") === 1L && col("q").isNull)
      .count() == 1) // and the NULL row is UNMODIFIED
    assert(u.read(spark).where(col("q") === 0.0).count() == 2)

    // != parses as Not(EqualTo): same hole, same survival contract
    val ne = tmpTable()
    ne.overwrite(Seq((1L, Some("fr")), (2L, Some("fr")),
      (3L, Option.empty[String])).toDF("k", "lang").coalesce(1),
      statsFor = Seq("k", "lang"))
    ne.deleteWhere("lang != 'en'") // min=max='fr' baits the fast drop
    assert(ks(ne.read(spark)) == Set(3L))

    // NOT over IN, OR, IS NULL — duality compositions over the same
    // NULL-bearing file
    val ni = fresh()
    ni.deleteWhere("NOT (q IN (0.1, 0.2))")
    assert(ks(ni.read(spark)) == Set(1L))
    val no = fresh()
    no.deleteWhere("NOT (q < 0.5 OR q > 2.0)")
    assert(ks(no.read(spark)) == Set(1L))
    val nn = fresh()
    nn.deleteWhere("NOT (q IS NULL)") // two-valued: exact, kills 2,3
    assert(ks(nn.read(spark)) == Set(1L))

    // readWhere consumes the same envelopes: negation over the
    // NULL-bearing file returns exactly the TRUE rows
    val r = fresh()
    assert(ks(r.readWhere(spark, "NOT (q < 0.85)")) == Set(2L))
    assert(ks(r.readWhere(spark, "NOT (q > 0.5)")) == Set.empty[Long])

    // and the fix must NOT cost pruning where it is sound: a provably
    // null-free file still whole-file fast-drops under NOT (remove
    // action, no deletionVector, no rewrite)
    val pf = tmpTable()
    pf.overwrite(Seq((1L, 0.9), (2L, 0.8), (10L, 0.1), (11L, 0.2))
      .toDF("k", "q").repartitionByRange(2, col("k")),
      statsFor = Seq("k", "q"))
    val v = pf.deleteWhere("NOT (q < 0.5)")
    val json = commitJson(pf, v)
    assert(json.contains("\"remove\""))
    assert(!json.contains("\"deletionVector\":"))
    assert(json.split('\n').count(_.contains("\"remove\"")) == 1)
    assert(ks(pf.read(spark)) == Set(10L, 11L))
  }

  /** A hand-written FOREIGN rowTracking table in the SUPPORTED state
    * (feature declared; `delta.enableRowTracking` per `config`): one
    * 2-row data file owning row ids [0, 1], high-water mark 1. */
  // domainConfig is the RAW bytes of the domainMetadata configuration
  // value as they appear in the commit file (JSON-string-escaped)
  private def rowTrackingTable(config: String,
      domainConfig: String = "{\\\"rowIdHighWaterMark\\\":1}"): DeltaTable = {
    import spark.implicits._
    val dir = Files.createTempDirectory("deltarowtrack").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val scratch = Files.createTempDirectory("rtscratch")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val schemaLit = m.writeValueAsString(schema.json)
    val stats = m.writeValueAsString(
      """{"numRecords":2,"minValues":{"k":1},"maxValues":{"k":2},"nullCount":{"k":0}}""")
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata","rowTracking"]}}
          |{"metaData":{"id":"rt","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":$config,"createdTime":1}}
          |{"domainMetadata":{"domain":"delta.rowTracking","configuration":"$domainConfig","removed":false}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true,"stats":$stats,"baseRowId":0,"defaultRowCommitVersion":0}}
          |""").stripMargin.getBytes("UTF-8"))
    DeltaTable(dir)
  }

  private def commitJson(dt: DeltaTable, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(dt.root, "_delta_log", f"$v%020d.json")), "UTF-8")

  test("rowTracking writes: fresh base ids above the HWM; DV re-adds preserve ids; the mark survives checkpoint + log cleanup and rides clones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dt = rowTrackingTable("""{}""")
    assert(vals(dt.read(spark)) == Set((1L, "a"), (2L, "b")))

    // append: the new file's baseRowId sits just above the foreign HWM
    // (1), defaultRowCommitVersion is THIS commit, and the advanced
    // mark rides the same commit as a delta.rowTracking domain action
    dt.append(Seq((3L, "c"), (4L, "d")).toDF("k", "s").coalesce(1))
    val v1 = commitJson(dt, 1L)
    assert(v1.contains("\"baseRowId\":2"))
    assert(v1.contains("\"defaultRowCommitVersion\":1"))
    assert(v1.contains("\"domain\":\"delta.rowTracking\""))
    assert(v1.contains("rowIdHighWaterMark\\\":3") ||
      v1.contains("rowIdHighWaterMark\":3"))

    // DV DELETE: the re-added path keeps its ORIGINAL baseRowId — the
    // physical rows (and so their ids) are untouched
    dt.delete("k", 1L, 1L)
    val v2 = commitJson(dt, 2L)
    assert(v2.contains("\"baseRowId\":0"))
    assert(v2.contains("deletionVector"))
    assert(vals(dt.read(spark)) == Set((2L, "b"), (3L, "c"), (4L, "d")))

    // UPDATE in the SUPPORTED state: the postimage file gets FRESH ids
    // continuing the mark (stability is only promised when enabled)
    dt.update("k", 2L, 2L, Map("s" -> lit("X")))
    val v3 = commitJson(dt, 3L)
    assert(v3.contains("\"baseRowId\":4"))
    assert(vals(dt.read(spark)) == Set((2L, "X"), (3L, "c"), (4L, "d")))

    // the mark persists through checkpoint + log cleanup: the next
    // append continues from the checkpoint-carried domain, never reuses
    dt.checkpoint()
    dt.cleanupExpiredLogs(0L)
    dt.append(Seq((5L, "e")).toDF("k", "s").coalesce(1))
    val v4 = commitJson(dt, 4L)
    assert(v4.contains("\"baseRowId\":5"))
    assert(v4.contains("rowIdHighWaterMark\\\":5") ||
      v4.contains("rowIdHighWaterMark\":5"))

    // a multi-file append partitions the id space by numRecords
    dt.append(Seq((6L, "f"), (7L, "g"), (8L, "h")).toDF("k", "s")
      .repartitionByRange(2, col("k")))
    val v5 = commitJson(dt, 5L)
    assert(v5.contains("\"baseRowId\":6"))
    assert(v5.contains("rowIdHighWaterMark\\\":8") ||
      v5.contains("rowIdHighWaterMark\":8"))

    // a shallow clone carries the domain state and the per-file ids
    val dstRoot = Files.createTempDirectory("rtclone").toString + "/t"
    val dst = dt.shallowCloneTo(dstRoot)
    val c0 = commitJson(dst, 0L)
    assert(c0.contains("\"domain\":\"delta.rowTracking\""))
    assert(c0.contains("\"baseRowId\""))
    dst.append(Seq((9L, "i")).toDF("k", "s").coalesce(1))
    assert(commitJson(dst, 1L).contains("\"baseRowId\":9"))
  }

  test("rowTracking ENABLED: appends and DV deletes preserve ids; the lineage read serves defaults") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dt = rowTrackingTable("""{"delta.enableRowTracking":"true"}""")
    dt.append(Seq((3L, "c")).toDF("k", "s")) // inserts are new rows: legal
    dt.delete("k", 1L, 1L) // DV delete preserves every surviving id
    assert(vals(dt.read(spark)) == Set((2L, "b"), (3L, "c")))
    // lineage via the per-file DEFAULTS (no materialized columns yet):
    // the foreign file's baseRowId=0 serves k=2 id 1; the append's
    // fresh block starts above the foreign HWM (1) at id 2
    val l = dt.readWithRowLineage(spark)
      .select(col("k"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(l == Map(2L -> ((1L, 0L)), 3L -> ((2L, 1L))))
  }

  test("rowTracking ENABLED: UPDATE/OPTIMIZE/MERGE/rewrite-DELETE preserve row ids via the materialized columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def lineage(dt: DeltaTable): Map[Long, (Long, Long)] =
      dt.readWithRowLineage(spark)
        .select(col("k"), col("_row_id"), col("_row_commit_version"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap

    val dt = rowTrackingTable("""{"delta.enableRowTracking":"true"}""")
    dt.append(Seq((3L, "c")).toDF("k", "s")) // v1
    val l0 = lineage(dt)
    assert(l0 == Map(1L -> ((0L, 0L)), 2L -> ((1L, 0L)), 3L -> ((2L, 1L))))

    // UPDATE moves the k=2 row into a new file: its id is STABLE, its
    // commit version becomes the UPDATE's commit; untouched rows keep
    // both. (The first row-moving verb also durably assigns the
    // materialized column names into the configuration.)
    dt.update("k", 2L, 2L, Map("s" -> lit("X")))
    val vUpd = dt.latestVersion.get
    val l1 = lineage(dt)
    assert(l1(2L) == ((1L, vUpd)))
    assert(l1(1L) == l0(1L) && l1(3L) == l0(3L))
    assert(vals(dt.read(spark)) == Set((1L, "a"), (2L, "X"), (3L, "c")))
    // the rewritten file physically carries a materialized row-id
    // column (protocol-shaped name), OUTSIDE the table schema
    val newest = Files.list(Paths.get(dt.root)).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.maxBy(p => Files.getLastModifiedTime(p).toMillis)
    assert(spark.read.parquet(newest.toString).schema.fieldNames
      .exists(_.startsWith("_row-id-col-")))
    assert(!dt.read(spark).schema.fieldNames
      .exists(_.startsWith("_row-id-col-")))

    // OPTIMIZE moves EVERY row without modification: ids AND commit
    // versions all stable across the full rewrite
    val before = lineage(dt)
    dt.compact()
    assert(lineage(dt) == before)

    // MERGE: the matched key inherits the id of the row it replaces
    // (an upsert IS an update of that row); the insert gets a fresh id
    dt.merge(Seq((3L, "cc"), (9L, "i")).toDF("k", "s"), "k")
    val vMrg = dt.latestVersion.get
    val l2 = lineage(dt)
    assert(l2(3L)._1 == before(3L)._1) // inherited across the merge
    assert(l2(3L)._2 == vMrg)
    assert(l2(1L) == before(1L) && l2(2L) == before(2L))
    assert(l2(9L)._1 > l2(3L)._1) // fresh, above every preserved id
    assert(vals(dt.read(spark)) ==
      Set((1L, "a"), (2L, "X"), (3L, "cc"), (9L, "i")))

    // rewrite-form DELETE: survivors move with id + version intact
    dt.delete("k", 1L, 1L, useDeletionVectors = false)
    val l3 = lineage(dt)
    assert(!l3.contains(1L))
    assert(l3(2L) == l2(2L) && l3(3L) == l2(3L) && l3(9L) == l2(9L))
    // ids stay globally distinct through every move
    assert(l3.values.map(_._1).toSeq.distinct.size == l3.size)
  }

  test("rowTracking ENABLED: MERGE with DUPLICATE source keys keeps row ids unique — one duplicate inherits, the rest take fresh ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (dv <- Seq(true, false)) {
      val dt = rowTrackingTable("""{"delta.enableRowTracking":"true"}""")
      // k=2 (target row id 1) matches THREE duplicate source rows;
      // k=9 is a plain insert
      dt.merge(Seq((2L, "x1"), (2L, "x2"), (2L, "x3"), (9L, "i"))
        .toDF("k", "s"), "k", useDeletionVectors = dv)
      val rows = dt.readWithRowLineage(spark)
        .select(col("k"), col("s"), col("_row_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      // the protocol's invariant: row ids unique within a version
      val ids = rows.map(_._3)
      assert(ids.distinct.size == ids.size, s"dv=$dv duplicate ids: $rows")
      // exactly ONE duplicate inherits the replaced row's id (1); the
      // winner is deterministic — smallest payload under the
      // all-orderable-columns ordering
      val dups = rows.filter(_._1 == 2L)
      assert(dups.size == 3)
      assert(dups.count(_._3 == 1L) == 1, s"dv=$dv inherited: $dups")
      assert(dups.find(_._3 == 1L).get._2 == "x1", s"dv=$dv winner: $dups")
      // the losers and the insert all take FRESH ids above the
      // pre-merge high-water mark
      assert((dups.filter(_._3 != 1L).map(_._3) ++
        rows.filter(_._1 == 9L).map(_._3)).forall(_ > 1L))
      // untouched row keeps its id
      assert(rows.find(_._1 == 1L).get._3 == 0L)
    }
  }

  test("rowIdHighWaterMark: empty domain config reads as unset; corrupt non-empty config fails LOUDLY on the next data-adding commit") {
    import spark.implicits._
    // empty configuration = mark unset: the append starts ids at 0
    val empty = rowTrackingTable("""{}""", domainConfig = "")
    empty.append(Seq((3L, "c")).toDF("k", "s").coalesce(1))
    assert(commitJson(empty, 1L).contains("\"baseRowId\":0"))
    // present-but-corrupt configuration: silently treating it as unset
    // would restart id blocks at 0 and REUSE assigned row ids — refuse
    for (bad <- Seq("not json", "{}", "{\\\"wrongKey\\\":5}")) {
      val dt = rowTrackingTable("""{}""", domainConfig = bad)
      val e = intercept[IllegalStateException](
        dt.append(Seq((3L, "c")).toDF("k", "s").coalesce(1)))
      assert(e.getMessage.contains("unparsable"), s"config=$bad: $e")
    }
  }

  test("typeWidening: narrow-typed old files serve the widened schema; skipping, appends and DV deletes compose") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a FOREIGN table whose column types were WIDENED after v0: the
    // old file is physically int32/float, the declared schema is
    // long/double with the protocol's delta.typeChanges history
    val dir = Files.createTempDirectory("deltatw").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val scratch = Files.createTempDirectory("twscratch")
    Seq((1, 1.5f), (2, 2.5f), (3, 3.5f)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    val schemaLit =
      """{\"type\":\"struct\",\"fields\":[
        |{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.typeChanges\":[{\"fromType\":\"integer\",\"toType\":\"long\",\"tableVersion\":1}]}},
        |{\"name\":\"v\",\"type\":\"double\",\"nullable\":true,\"metadata\":{\"delta.typeChanges\":[{\"fromType\":\"float\",\"toType\":\"double\",\"tableVersion\":1}]}}
        |]}""".stripMargin.replace("\n", "")
    val stats = """{\"numRecords\":3,\"minValues\":{\"k\":1},\"maxValues\":{\"k\":3},\"nullCount\":{\"k\":0}}"""
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}
          |{"metaData":{"id":"tw","format":{"provider":"parquet","options":{}},"schemaString":"$schemaLit","partitionColumns":[],"configuration":{},"createdTime":1}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true,"stats":"$stats"}}
          |""").stripMargin.getBytes("UTF-8"))
    val dt = DeltaTable(dir)
    // the scan serves the DECLARED (widened) types from the narrow file
    val r = dt.read(spark)
    assert(r.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(r.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r.collect().map(x => (x.getLong(0), x.getDouble(1))).toSet ==
      Set((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // stats skipping casts per the declared type across the boundary
    assert(dt.readWhere(spark, "k", 2L, 3L).count() == 2)
    // appends with the widened schema are legal; both file generations
    // serve together, and the typeChanges history survives the commit
    dt.append(Seq((9L, 9.5)).toDF("k", "v"))
    assert(dt.read(spark).count() == 4)
    val st2 = dt.read(spark).schema
    assert(st2("k").metadata.json.contains("delta.typeChanges"))
    // DV delete composes (metadata plane is type-agnostic)
    dt.delete("k", 2L, 2L)
    assert(dt.read(spark).select("k").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 9L))
  }

  test("variantType: VARIANT columns read from a foreign log, append through the engine, and DV deletes compose") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // a FOREIGN table with a VARIANT column: the file is Spark's own
    // variant parquet layout (binary-encoded metadata/value pair — the
    // same physical shape delta-spark writes), the log declares the
    // readerWriter feature
    val dir = Files.createTempDirectory("deltavar").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val scratch = Files.createTempDirectory("varscratch")
    spark.range(3).select(col("id").as("k"),
        expr("""parse_json(concat('{"a":', cast(id as string), '}'))""")
          .as("v"))
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    val schemaLit =
      """{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"variant\",\"nullable\":true,\"metadata\":{}}]}"""
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}
          |{"metaData":{"id":"var","format":{"provider":"parquet","options":{}},"schemaString":"$schemaLit","partitionColumns":[],"configuration":{},"createdTime":1}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    val dt = DeltaTable(dir)
    def as(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("k"),
          expr("variant_get(v, '$.a', 'long')").as("a"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dt.read(spark).schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    assert(as(dt.read(spark)) == Set((0L, 0L), (1L, 1L), (2L, 2L)))
    // engine append of more variant rows (standard layout via the
    // shared write path), then a DV delete — both legal on the feature
    dt.append(spark.range(9, 11).select(col("id").as("k"),
      expr("""parse_json(concat('{"a":', cast(id * 10 as string), '}'))""")
        .as("v")), statsFor = Seq("k"))
    assert(as(dt.read(spark)) ==
      Set((0L, 0L), (1L, 1L), (2L, 2L), (9L, 90L), (10L, 100L)))
    dt.delete("k", 1L, 2L)
    assert(as(dt.read(spark)) == Set((0L, 0L), (9L, 90L), (10L, 100L)))
    // an ENGINE-CREATED variant table must DECLARE the feature in the
    // commit that introduces the column (r18): foreign readers without
    // variantType would misread the binary layout as a plain struct
    val dt3 = tmpTable()
    dt3.overwrite(spark.range(3).select(col("id").as("k"),
      expr("""parse_json(concat('{"a":', cast(id as string), '}'))""")
        .as("v")))
    val j0 = new String(Files.readAllBytes(
      Paths.get(dt3.root, "_delta_log", f"${0L}%020d.json")), "UTF-8")
    assert(j0.contains("\"variantType\""))
    assert(j0.contains("\"minReaderVersion\":3"))
    assert(as(dt3.read(spark)) == Set((0L, 0L), (1L, 1L), (2L, 2L)))
  }

  test("nested-column envelopes: dotted predicates prune, fast-drop and stay NULL-safe; written stats nest protocol-shaped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    val dt = tmpTable()
    val df = Seq(
      (1L, "a", Some(0.1)), (2L, "a", Some(0.2)),
      (10L, "b", Some(0.8)), (11L, "b", Option.empty[Double]))
      .toDF("k", "lang", "q")
      .select(col("k"), struct(col("lang"), col("q")).as("meta"))
    dt.overwrite(df.repartitionByRange(2, col("k")),
      statsFor = Seq("k", "meta.lang", "meta.q"))
    def ks(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("k").collect().map(_.getLong(0)).toSet
    // the write-time stats pass NESTS dotted keys — the protocol's
    // shape, and what the read-side JSON paths expect
    val j0 = commitJson(dt, 0L)
    assert(j0.contains("\\\"meta\\\":{\\\"lang\\\"")) // stats ride escaped
    // nested equality PRUNES to the one matching file
    val pr = dt.readWhere(spark, "meta.lang = 'a'")
    assert(pr.inputFiles.length == 1)
    assert(ks(pr) == Set(1L, 2L))
    // case-insensitive resolution, exactly like top-level columns
    assert(ks(dt.readWhere(spark, "META.LANG = 'b'")) == Set(10L, 11L))
    // nested range composes with a top-level conjunct; the NULL-q row
    // never matches a range predicate
    assert(ks(dt.readWhere(spark, "meta.q >= 0.5 AND k >= 10")) ==
      Set(10L))
    // whole-file fast drop via the nested envelope (null-free file):
    // remove-only, no DV, the other file untouched
    val v = dt.deleteWhere("meta.lang = 'a'")
    val json = commitJson(dt, v)
    assert(json.contains("\"remove\""))
    assert(!json.contains("\"deletionVector\":"))
    assert(ks(dt.read(spark)) == Set(10L, 11L))
    // NOT over a nested NULLABLE field: the NULL-q row evaluates the
    // predicate NULL and must survive (the r17 NOT-envelope rule
    // applies to nested nullCounts too)
    dt.deleteWhere("NOT (meta.q < 0.5)")
    assert(ks(dt.read(spark)) == Set(11L))
  }

  test("clustering write tolerance: appends and DV verbs stay legal with the domain preserved; compaction refuses; declared-column OPTIMIZE legal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .repartitionByRange(2, col("k")), statsFor = Seq("k"))
    // a foreign engine clusters the table: protocol upgrade declaring
    // the clustering writer feature + the delta.clustering domain
    val log = Paths.get(dt.root, "_delta_log")
    Files.write(log.resolve(f"${1L}%020d.json"),
      ("""{"commitInfo":{"timestamp":2,"operation":"CLUSTER BY","operationParameters":{}}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}
         |{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"k\"]]}","removed":false}}
         |""").stripMargin.getBytes("UTF-8"))
    // the write contract is "preserve the domain, don't reorganize
    // files you don't own": appends, DV kills and predicate verbs are
    // legal, and the clustering domain survives every commit
    dt.append(Seq((9L, "z")).toDF("k", "s"))
    dt.delete("k", 2L, 2L)
    dt.updateWhere("k = 3", Map("s" -> lit("X")))
    dt.merge(Seq((9L, "zz"), (11L, "n")).toDF("k", "s"), "k")
    assert(vals(dt.read(spark)) ==
      Set((1L, "a"), (3L, "X"), (9L, "zz"), (11L, "n")))
    val doms = dt.domainMetadata(spark)
      .where(col("domain") === "delta.clustering").collect()
    assert(doms.length == 1)
    assert(doms(0).getString(1).contains("clusteringColumns"))
    // checkpoint keeps the domain as the replay floor
    dt.checkpoint()
    assert(dt.domainMetadata(spark)
      .where(col("domain") === "delta.clustering").count() == 1)
    // plain compaction / ad-hoc zorder would DESTROY the declared
    // layout — still refused naming the feature; the table untouched
    val e = intercept[IllegalArgumentException](dt.compact())
    assert(e.getMessage.contains("clustering"))
    intercept[IllegalArgumentException](dt.optimizeZOrder("k", "k"))
    intercept[IllegalArgumentException](dt.compactIncremental(
      smallBytes = Long.MaxValue))
    assert(vals(dt.read(spark)) ==
      Set((1L, "a"), (3L, "X"), (9L, "zz"), (11L, "n")))
    // the RECLUSTERING OPTIMIZE (r18) is legal: rewrite along the
    // domain's OWN declared columns in a dataChange=false commit, the
    // snapshot bit-identical and the domain intact
    val before = vals(dt.read(spark))
    dt.optimizeClustered(numFiles = 1)
    assert(vals(dt.read(spark)) == before)
    assert(dt.domainMetadata(spark)
      .where(col("domain") === "delta.clustering").count() == 1)
    val vOpt = dt.latestVersion.get
    val cj = commitJson(dt, vOpt)
    assert(cj.contains("\"dataChange\":false") && cj.contains("clusterBy"))
  }

  test("OPTIMIZE history shape: every rewrite verb commits OPTIMIZE with its exact operationParameters and an empty change feed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    var next = 0L
    def appendSmall(dt: DeltaTable, n: Int): Unit = (0 until n).foreach { _ =>
      dt.append(Seq((next, next % 3, s"r$next"), (next + 1, next % 5, s"q$next"))
        .toDF("k", "j", "s").coalesce(1))
      next += 2
    }
    def checkOptimize(dt: DeltaTable, v: Long, params: Map[String, String]) = {
      val h = dt.history(spark).where(col("version") === v).collect()
      assert(h.length == 1)
      assert(h(0).getAs[String]("operation") == "OPTIMIZE")
      val got = h(0).getMap[String, String](h(0).fieldIndex("operationParameters"))
        .toMap
      assert(got == params, s"v$v parameters")
      assert(dt.changes(spark, v - 1, v).isEmpty, s"v$v feeds changes")
      assert(dt.changesRows(spark, v - 1, v).isEmpty, s"v$v feeds row changes")
    }
    val t = tmpTable()
    appendSmall(t, 3)
    checkOptimize(t, t.compact(), Map.empty)
    appendSmall(t, 2)
    checkOptimize(t, t.compactIncremental(smallBytes = Long.MaxValue).get,
      Map("batchFiles" -> "3", "incremental" -> "true"))
    checkOptimize(t, t.optimizeZOrder("k", "j", numFiles = 2),
      Map("zOrderBy" -> "[\"k\",\"j\"]"))
    appendSmall(t, 2)
    checkOptimize(t, t.optimizeZOrderIncremental("k", "j").get,
      Map("zOrderBy" -> "[\"k\",\"j\"]", "batchFiles" -> "2",
        "incremental" -> "true"))
    assert(vals(t.read(spark)) == (0L until next).map(k =>
      (k, if (k % 2 == 0) s"r$k" else s"q${k - 1}")).toSet)

    // the clustered pair on a table declaring the delta.clustering domain
    val c = tmpTable()
    appendSmall(c, 3)
    Files.write(Paths.get(c.root, "_delta_log")
        .resolve(f"${c.latestVersion.get + 1}%020d.json"),
      ("""{"commitInfo":{"timestamp":2,"operation":"CLUSTER BY","operationParameters":{}}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}
         |{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"k\"]]}","removed":false}}
         |""").stripMargin.getBytes("UTF-8"))
    checkOptimize(c, c.optimizeClustered(numFiles = 1),
      Map("clusterBy" -> "[\"k\"]"))
    appendSmall(c, 2)
    checkOptimize(c, c.optimizeClusteredIncremental().get,
      Map("clusterBy" -> "[\"k\"]", "batchFiles" -> "2",
        "incremental" -> "true"))
  }

  test("clustered reclustering OPTIMIZE: declared Morton layout prunes EVERY clustering column; string dims; incremental converges; refusals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def declareClustering(dt: DeltaTable, cols: String): Unit = {
      val v = dt.latestVersion.get + 1
      Files.write(Paths.get(dt.root, "_delta_log").resolve(f"$v%020d.json"),
        (s"""{"commitInfo":{"timestamp":2,"operation":"CLUSTER BY","operationParameters":{}}}
            |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","invariants","domainMetadata","clustering"]}}
            |{"domainMetadata":{"domain":"delta.clustering","configuration":"{\\"clusteringColumns\\":$cols}","removed":false}}
            |""").stripMargin.getBytes("UTF-8"))
    }
    // 256 rows over a 16×16 (a, b) grid written in a-ranged stripes:
    // every file spans ALL of b, so a b-filter scans all 8 files
    val dt = tmpTable()
    val rows = (0 until 256).map(i => (i.toLong % 16, i.toLong / 16, s"r$i"))
      .toDF("a", "b", "s")
    dt.overwrite(rows.repartitionByRange(8, col("a")),
      statsFor = Seq("a", "b"))
    declareClustering(dt, "[[\\\"a\\\"],[\\\"b\\\"]]")
    assert(dt.readWhere(spark, "b", 3L, 3L).inputFiles.length == 8)
    // recluster along the DECLARED (a, b) curve: each output file owns
    // a bounded rectangle, so BOTH single-column filters now prune
    dt.optimizeClustered(bits = 4, numFiles = 8)
    val prunedB = dt.readWhere(spark, "b", 3L, 3L)
    assert(prunedB.inputFiles.length < 8,
      s"b-filter scans ${prunedB.inputFiles.length}")
    assert(prunedB.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0 until 16).map(a => (a.toLong, 3L)).toSet)
    val prunedA = dt.readWhere(spark, "a", 5L, 5L)
    assert(prunedA.inputFiles.length < 8)
    assert(prunedA.count() == 16)
    assert(dt.read(spark).count() == 256)
    // a STRING clustering column rides the locality-preserving 7-byte
    // prefix surrogate — single dim degenerates to a range layout
    val ds = tmpTable()
    ds.overwrite((0 until 100).map(i => (i.toLong, f"k$i%03d")).toDF("k", "s")
      .repartitionByRange(5, col("k")), statsFor = Seq("k", "s"))
    declareClustering(ds, "[[\\\"s\\\"]]")
    ds.optimizeClustered(numFiles = 5)
    val prunedS = ds.readWhere(spark, "s", "k010", "k019")
    assert(prunedS.inputFiles.length == 1,
      s"s-filter scans ${prunedS.inputFiles.length}")
    assert(prunedS.count() == 10)
    // INCREMENTAL reclustering: capped batches, untagged count strictly
    // decreasing, None at convergence, data exact throughout
    val di = tmpTable()
    di.overwrite((0 until 40).map(i => (i.toLong, s"x$i")).toDF("k", "s")
      .repartitionByRange(2, col("k")), statsFor = Seq("k"))
    declareClustering(di, "[[\\\"k\\\"]]")
    di.append((40 until 80).map(i => (i.toLong, s"x$i")).toDF("k", "s")
      .repartitionByRange(2, col("k")))
    var steps = 0
    while (di.optimizeClusteredIncremental(maxBatchFiles = 2).isDefined)
      steps += 1
    assert(steps == 2, s"took $steps capped steps") // 4 files / 2 per batch
    assert(di.optimizeClusteredIncremental().isEmpty) // converged
    assert(di.read(spark).count() == 80)
    // refusals: no clustering domain; nested path; unknown column
    val dn = tmpTable()
    dn.overwrite(Seq((1L, "a")).toDF("k", "s"))
    assert(intercept[IllegalArgumentException](dn.optimizeClustered())
      .getMessage.contains("clustered tables only"))
    declareClustering(dn, "[[\\\"meta\\\",\\\"x\\\"]]")
    assert(intercept[IllegalArgumentException](dn.optimizeClustered())
      .getMessage.contains("nested"))
    val du = tmpTable()
    du.overwrite(Seq((1L, "a")).toDF("k", "s"))
    declareClustering(du, "[[\\\"nope\\\"]]")
    assert(intercept[IllegalArgumentException](du.optimizeClustered())
      .getMessage.contains("not in the schema"))
  }

  test("domainMetadata: foreign domains replay, survive OPTIMIZE + checkpoint, and removed=true tombstones them") {
    import spark.implicits._
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    // plant a foreign domain (hand-appended commit, as a foreign engine
    // with liquid clustering would)
    val log = Paths.get(dt.root, "_delta_log")
    Files.write(log.resolve(f"${1L}%020d.json"),
      ("""{"commitInfo":{"timestamp":2,"operation":"FOREIGN","operationParameters":{}}}
         |{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[\"k\"]}","removed":false}}
         |""").stripMargin.getBytes("UTF-8"))
    // engine maintenance: OPTIMIZE then checkpoint — the domain must
    // survive into the checkpoint (the replay floor after log cleanup)
    dt.compact()
    dt.checkpoint()
    dt.cleanupExpiredLogs(0L)
    dt.append(Seq((3L, "c")).toDF("k", "s"))
    // read the checkpoint parquet directly: the domain row is there
    val cp = spark.read.parquet(
      log.resolve(f"${2L}%020d.checkpoint.parquet").toString)
    assert(cp.where(org.apache.spark.sql.functions
      .col("domainMetadata.domain") === "delta.clustering").count() == 1)
    // a removed=true action tombstones the domain out of later state
    val v4 = dt.latestVersion.get + 1
    Files.write(log.resolve(f"$v4%020d.json"),
      ("""{"commitInfo":{"timestamp":9,"operation":"FOREIGN","operationParameters":{}}}
         |{"domainMetadata":{"domain":"delta.clustering","configuration":"","removed":true}}
         |""").stripMargin.getBytes("UTF-8"))
    dt.checkpoint()
    val cp2 = spark.read.parquet(
      log.resolve(f"$v4%020d.checkpoint.parquet").toString)
    assert(cp2.schema.fieldNames.contains("domainMetadata"))
    assert(cp2.where(org.apache.spark.sql.functions
      .col("domainMetadata.domain") === "delta.clustering").count() == 0)
  }

  test("ADD CONSTRAINT validates existing rows: a violated constraint refuses; satisfied and NULL-evaluating ones land") {
    import spark.implicits._
    val dt = tmpTable()
    dt.overwrite(Seq((5L, "e"), (0L, "z")).toDF("k", "s"))
    // an existing row (k=0) violates k > 0 — the ALTER refuses and the
    // configuration stays unchanged
    val e = intercept[IllegalArgumentException](
      dt.setProperties(Map("delta.constraints.kpos" -> "k > 0")))
    assert(e.getMessage.contains("ADD CONSTRAINT kpos"))
    assert(e.getMessage.contains("1 existing row"))
    dt.append(Seq((-3L, "w")).toDF("k", "s")) // nothing enforced yet
    assert(dt.read(spark).count() == 3)
    // a constraint the data satisfies lands, and is enforced from then on
    dt.setProperties(Map("delta.constraints.knn" -> "k IS NOT NULL"))
    val e2 = intercept[Throwable](dt.append(
      Seq((Option.empty[Long], "n")).toDF("k", "s")))
    assert(chainMsg(e2).contains("CHECK constraint knn"))
    // NULL-evaluating predicates pass existing rows, per SQL CHECK
    dt.setProperties(Map("delta.constraints.sopt" ->
      "CASE WHEN s = 'missing' THEN NULL ELSE TRUE END"))
    assert(dt.read(spark).count() == 3)
  }

  test("RENAME/DROP COLUMN on column-mapping tables: metadata-only, physical columns stay; mode-none and referenced columns refuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    // foreign-shaped name-mode fixture: physical-named data file + a
    // logical schema carrying the physicalName/id metadata
    val dir = Files.createTempDirectory("deltarename").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val scratch = Files.createTempDirectory("renscratch")
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("col-aaa", "col-bbb", "col-ccc")
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    def pf(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(pf("k", LongType, "col-aaa", 1),
      pf("s", StringType, "col-bbb", 2), pf("n", LongType, "col-ccc", 3)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(logical.json)
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
          |{"metaData":{"id":"rn","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":1}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    val t = DeltaTable(dir)

    // RENAME: metadata-only commit, zero data movement, same physical
    val v1 = t.renameColumn("n", "amount")
    val renLog = commitJson(t, v1)
    assert(!renLog.contains("\"add\"") && !renLog.contains("\"remove\""))
    assert(renLog.contains("col-ccc")) // physical name unchanged
    val renamed = t.read(spark)
    assert(renamed.columns.toSeq == Seq("k", "s", "amount"))
    assert(renamed.select("amount").collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L))
    // the engine's own renamed log is itself the delta-spark shape: a
    // fresh reader instance resolves it from scratch
    assert(DeltaTable(dir).read(spark).columns.toSeq ==
      Seq("k", "s", "amount"))
    // writes after the rename keep emitting physical names
    t.append(Seq((3L, "c", 30L)).toDF("k", "s", "amount"))
    assert(t.read(spark).select("amount").collect()
      .map(_.getLong(0)).toSet == Set(10L, 20L, 30L))
    // stats-pruned reads on the NEW logical name work
    assert(t.readWhere(spark, "amount = 30").count() == 1)

    // DROP: metadata-only; physical column stays in the files but
    // leaves the logical schema; time travel still serves it
    val v3 = t.dropColumn("s")
    assert(!commitJson(t, v3).contains("\"add\""))
    assert(t.read(spark).columns.toSeq == Seq("k", "amount"))
    assert(t.read(spark, Some(v1)).columns.toSeq == Seq("k", "s", "amount"))
    // renaming INTO the dropped column's name is legal (it's gone)
    t.renameColumn("amount", "s")
    assert(t.read(spark).columns.toSeq == Seq("k", "s"))

    // refusals: duplicate target, unknown column, partition column,
    // mode-none tables, and constraint-referenced columns
    intercept[IllegalArgumentException](t.renameColumn("k", "s"))
    intercept[IllegalArgumentException](t.renameColumn("gone", "x"))
    t.dropColumn("s") // leaves k alone — legal
    intercept[IllegalArgumentException](t.dropColumn("k")) // empty schema
    val plain = tmpTable()
    plain.overwrite(Seq((1L, "a")).toDF("k", "s"))
    intercept[IllegalArgumentException](plain.renameColumn("s", "s2"))
    intercept[IllegalArgumentException](plain.dropColumn("s"))
    // a CHECK constraint pins its referenced column
    val ck = foreignTable(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"delta.columnMapping.mode":"name","delta.constraints.kpos":"k > 0"}""",
      StructType(Seq(pf("k", LongType, "col-aaa", 1),
        pf("s", StringType, "col-bbb", 2))))
    intercept[IllegalArgumentException](ck.renameColumn("k", "kk"))
    intercept[IllegalArgumentException](ck.dropColumn("k"))
    ck.renameColumn("s", "label") // unreferenced: legal
    assert(ck.read(spark).columns.toSeq == Seq("k", "label"))
  }

  test("vacuumProtocolCheck: declared tables read and vacuum; unknown writer features refuse VACUUM") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val plain = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val rt = foreignTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["icebergCompatV1"]}}""",
      """{}""", plain)
    intercept[IllegalArgumentException](rt.vacuum())
    val vp = foreignTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["vacuumProtocolCheck"],"writerFeatures":["appendOnly","invariants","vacuumProtocolCheck"]}}""",
      """{}""", plain)
    assert(vp.read(spark).count() == 2) // reader feature honored
    assert(vp.vacuum() == 0) // gate passes; nothing eligible
    vp.append(Seq((3L, "c")).toDF("k", "s"))
    assert(vp.read(spark).count() == 3)
  }

  test("row-contract hardening: declarations survive providing overwrites; omitted-column expressions see nulls; swap UPDATE; exact HWM lattice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    // an overwrite that PROVIDES the generated column must not strip
    // the declaration — later mismatched appends still refuse
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "CAST(k AS STRING)").build()
    val gen = tmpTable()
    gen.overwrite(Seq(1L).toDF("k").select(col("k"),
      col("k").cast(StringType).as("s", genMeta)))
    gen.overwrite(Seq((2L, "2")).toDF("k", "s")) // plain frame, matching
    val e0 = intercept[Throwable](gen.append(Seq((3L, "x")).toDF("k", "s")))
    assert(chainMsg(e0).contains("generated column s"))

    // a CHECK constraint referencing a column the frame legally OMITS
    // evaluates against NULL (and passes per SQL semantics) instead of
    // failing analysis; the written files still omit the column
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a", 5L)).toDF("k", "s", "opt"))
    dt.setProperties(Map("delta.constraints.copt" ->
      "opt IS NULL OR opt > 0"))
    dt.append(Seq((2L, "b")).toDF("k", "s")) // no opt column
    assert(dt.read(spark).where(col("k") === 2L)
      .select("opt").collect()(0).isNullAt(0))
    // and a VIOLATING provided value still refuses
    val e1 = intercept[Throwable](
      dt.append(Seq((3L, "c", -1L)).toDF("k", "s", "opt")))
    assert(chainMsg(e1).contains("CHECK constraint copt"))

    // UPDATE swap: both SET expressions see the PRE-update row
    val sw = tmpTable()
    sw.overwrite(Seq((1L, 10L, 20L)).toDF("k", "a", "b"),
      statsFor = Seq("k"))
    sw.update("k", 1L, 1L, Map("a" -> col("b"), "b" -> col("a")))
    val r = sw.read(spark).select("a", "b").collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (20L, 10L))

    // exact HWM lattice: an explicit insert beyond 2^53 syncs the
    // high-water-mark to the exact value (a Double trip would land low)
    val big = (1L << 53) + 1L
    val byDefault = new MetadataBuilder()
      .putLong("delta.identity.start", 1L)
      .putLong("delta.identity.step", 1L)
      .putBoolean("delta.identity.allowExplicitInsert", true).build()
    val idt = tmpTable()
    idt.overwrite(Seq("x").toDF("s").select(col("s"),
      lit(null).cast(LongType).as("id", byDefault)))
    idt.append(Seq(("e", big)).toDF("s", "id"))
    assert(idt.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == big)
  }

  test("row-contract enforcement: overwrites are validated too; multi-partition identity appends assign the exact dense sequence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    // a violating OVERWRITE refuses exactly like a violating append —
    // the replaced snapshot is only replaced by rows that satisfy the
    // contract (the overwrite frame flows through the same enforcement)
    val ck = tmpTable()
    ck.overwrite(Seq((5L, "e")).toDF("k", "s"))
    ck.setProperties(Map("delta.constraints.kpos" -> "k > 0"))
    val e = intercept[Throwable](
      ck.overwrite(Seq((1L, "x"), (-7L, "y")).toDF("k", "s")))
    assert(chainMsg(e).contains("CHECK constraint kpos"))
    assert(vals(ck.read(spark)) == Set((5L, "e")))

    // identity assignment over a MULTI-partition frame: values are the
    // exact dense arithmetic sequence regardless of partitioning (the
    // per-partition offsets cover every row exactly once)
    val idMeta = new MetadataBuilder()
      .putLong("delta.identity.start", 7L)
      .putLong("delta.identity.step", 3L).build()
    val dt = tmpTable()
    dt.overwrite(spark.range(0).toDF("n").select(col("n").cast(StringType)
      .as("s"), lit(null).cast(LongType).as("id", idMeta)))
    dt.append(spark.range(100).toDF("n")
      .select(col("n").cast(StringType).as("s")).repartition(8))
    val got = dt.read(spark).select("id").as[Long].collect().sorted.toSeq
    assert(got == (0 until 100).map(i => 7L + 3L * i))
    assert(dt.read(spark).schema("id").metadata
      .getLong("delta.identity.highWaterMark") == 7L + 3L * 99)
  }

  test("log cleanup: a torn V2 manifest cannot anchor the cleanup — the complete-checkpoint fallback chain survives") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a")).toDF("k", "s"))
    dt.append(Seq((2L, "b")).toDF("k", "s"))
    dt.checkpoint() // complete classic checkpoint at v1
    dt.append(Seq((3L, "c")).toDF("k", "s"))
    dt.append(Seq((4L, "d")).toDF("k", "s"))
    // hand-place a TORN v2 manifest at v3: names a sidecar that does
    // not exist (the read side's documented fallback state)
    val logDir = Paths.get(dt.root, "_delta_log")
    val scratch = Files.createTempDirectory("tornmf")
    Seq(("gone-sidecar.parquet", 1L)).toDF("path", "sizeInBytes")
      .select(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("path"),
        org.apache.spark.sql.functions.col("sizeInBytes")).as("sidecar"))
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, logDir.resolve(f"${3L}%020d.checkpoint.deadbeef.parquet"))
    // cleanup must anchor at the COMPLETE v1 checkpoint: only v0's JSON
    // ages out; v1/v2 JSONs (the torn manifest's fallback) survive
    assert(dt.cleanupExpiredLogs(0L) == 1)
    assert(Files.exists(logDir.resolve(f"${1L}%020d.json")))
    assert(Files.exists(logDir.resolve(f"${2L}%020d.json")))
    assert(vals(dt.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("shallow CLONE: zero-copy v0 with absolute paths; reads equal source; clone verbs never touch source files; refusals") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val src = tmpTable()
    src.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "s").repartitionByRange(2, col("k")), statsFor = Seq("k"))
    val dstRoot = Files.createTempDirectory("deltaclone").toString + "/t"
    val dst = src.shallowCloneTo(dstRoot)
    // zero bytes of data copied: the clone root holds only the log
    assert(!Files.list(Paths.get(dstRoot)).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".parquet")))
    assert(vals(dst.read(spark)) == vals(src.read(spark)))
    // the v0 add paths are absolute (they resolve into the source root)
    val log0 = new String(Files.readAllBytes(
      Paths.get(dstRoot, "_delta_log", f"${0L}%020d.json")), "UTF-8")
    assert(log0.contains(Paths.get(src.root).toAbsolutePath.toString))
    // data skipping carried over: stats prune on the cloned stats
    assert(vals(dst.readWhere(spark, "k", 1L, 2L)) ==
      Set((1L, "a"), (2L, "b")))
    // clone diverges independently: DV delete (bitmap under the CLONE
    // root, against the absolute source file), then an append
    dst.delete("k", 2L, 3L)
    dst.append(Seq((9L, "z")).toDF("k", "s"))
    assert(vals(dst.read(spark)) == Set((1L, "a"), (4L, "d"), (9L, "z")))
    assert(vals(src.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))) // source untouched
    // OPTIMIZE localizes the rewritten data; vacuum then walks only the
    // clone root — the source's files all survive
    dst.compact()
    dst.vacuum(keepVersions = 1, retentionMs = 0L)
    assert(vals(dst.read(spark)) == Set((1L, "a"), (4L, "d"), (9L, "z")))
    assert(vals(src.read(spark)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // a non-empty target still refuses
    intercept[IllegalArgumentException](src.shallowCloneTo(dstRoot))

    // PARTITIONED source (r16): partitionColumns + per-add
    // partitionValues ride the clone; reads recover the partition
    // column from the ACTIONS (the absolute files live in the source's
    // directory layout, which the clone root cannot join), and
    // partition-pruned predicate reads still work
    val part = tmpTable()
    part.overwrite(Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))
      .toDF("k", "s"), partitionBy = Seq("s"))
    val pDst = DeltaTable(part.root).shallowCloneTo(
      Files.createTempDirectory("deltaclone2").toString + "/t")
    assert(vals(pDst.read(spark)) ==
      Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")))
    assert(vals(pDst.readWhere(spark, "s = 'a'")) ==
      Set((1L, "a"), (2L, "a")))
    // the clone then diverges: a partition-predicate DV delete + an
    // append landing under the CLONE root in Hive layout
    pDst.deleteWhere("s = 'b'")
    pDst.append(Seq((9L, "a")).toDF("k", "s"), partitionBy = Seq("s"))
    assert(vals(pDst.read(spark)) ==
      Set((1L, "a"), (2L, "a"), (4L, "c"), (9L, "a")))
    assert(vals(part.read(spark)) ==
      Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"))) // source untouched

    // DV-BEARING source (r16): the bitmap file is LOCALIZED under the
    // clone root — the clone reads the source's logical rows, and
    // vacuuming the SOURCE's DVs away cannot strand the clone
    val dvSrc = tmpTable()
    dvSrc.overwrite((1L to 600L).map(k => (k, s"v$k")).toDF("k", "s")
      .coalesce(1), statsFor = Seq("k"))
    dvSrc.delete("k", 1L, 500L) // past the inline ceiling: a "u" file DV
    val dvDstRoot = Files.createTempDirectory("deltaclone3").toString + "/t"
    val dvDst = dvSrc.shallowCloneTo(dvDstRoot)
    assert(dvDst.read(spark).count() == 100)
    assert(Files.list(Paths.get(dvDstRoot)).iterator.asScala.exists(
      _.getFileName.toString.startsWith("deletion_vector_")))
    // a further DV delete on the clone merges under the CLONE root
    dvDst.delete("k", 501L, 550L)
    assert(dvDst.read(spark).count() == 50)
    assert(dvSrc.read(spark).count() == 100) // source untouched

    // an ICT-enabled source's clone carries an inCommitTimestamp in its
    // v0 commitInfo (every commit of an enabled table must)
    val ict = tmpTable()
    ict.overwrite(Seq((1L, "a")).toDF("k", "s"))
    ict.setProperties(Map("delta.enableInCommitTimestamps" -> "true"))
    val ictDst = Files.createTempDirectory("deltaclone4").toString + "/t"
    ict.shallowCloneTo(ictDst)
    val cl0 = new String(Files.readAllBytes(
      Paths.get(ictDst, "_delta_log", f"${0L}%020d.json")), "UTF-8")
    assert(cl0.contains("inCommitTimestamp"))
  }

  test("clone read: O(1) scan nodes regardless of source partition count (broadcast partitionValues join, not per-partition union)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def scans(d: org.apache.spark.sql.DataFrame): Int =
      d.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Scan parquet"))
    // 24 distinct partition values: the per-combination literal-attach
    // design would plan 24 parquet scan leaves in a left-deep union —
    // driver planning and codegen blow up at 10⁴ partitions long
    // before the data does. The broadcast file→partitionValues join
    // plans exactly ONE scan over every absolute-path add.
    val src = tmpTable()
    src.overwrite((1L to 240L).map(k => (k, s"p${k % 24}"))
      .toDF("k", "s"), partitionBy = Seq("s"), statsFor = Seq("k"))
    val dst = DeltaTable(src.root).shallowCloneTo(
      Files.createTempDirectory("deltacloneplan").toString + "/t")
    val df = dst.read(spark)
    assert(scans(df) == 1)
    // and the attached partition values are still exact, per action
    assert(df.count() == 240)
    assert(df.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      (0 until 24).map(i => s"p$i" -> 10L).toMap)
    assert(vals(df.where(col("s") === "p3").select(col("k"), col("s"))) ==
      (1L to 240L).filter(_ % 24 == 3).map(k => (k, "p3")).toSet)
    // divergence appends RELATIVE files: one extra scan branch total,
    // still O(1) — never O(partitions)
    dst.append(Seq((500L, "p3"), (501L, "p9")).toDF("k", "s"),
      partitionBy = Seq("s"))
    val df2 = dst.read(spark)
    assert(scans(df2) <= 2)
    assert(df2.count() == 242)
    // DV delete against the cloned absolute files composes with the
    // single-scan plan (the DV anti-join rides the same _g_fp key)
    dst.deleteWhere("s = 'p7'")
    assert(dst.read(spark).count() == 232)
    assert(dst.read(spark).where(col("s") === "p7").count() == 0)
  }

  test("log cleanup: expired commits below the newest checkpoint age out; the snapshot replays unchanged; time travel below fails loudly") {
    import spark.implicits._
    val dt = tmpTable()
    dt.overwrite(Seq((1L, "a")).toDF("k", "s"))
    dt.append(Seq((2L, "b")).toDF("k", "s"))
    dt.checkpoint() // at v1
    dt.append(Seq((3L, "c")).toDF("k", "s"))
    // within retention nothing ages out
    assert(dt.cleanupExpiredLogs() == 0)
    // retention 0: v0's JSON is below the checkpoint and expired; the
    // checkpoint-version JSON and the tail survive
    assert(dt.cleanupExpiredLogs(0L) == 1)
    assert(!Files.exists(Paths.get(dt.root, "_delta_log",
      f"${0L}%020d.json")))
    assert(Files.exists(Paths.get(dt.root, "_delta_log",
      f"${1L}%020d.json")))
    assert(vals(dt.read(spark)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(vals(dt.read(spark, Some(1L))) == Set((1L, "a"), (2L, "b")))
    intercept[Exception](dt.read(spark, Some(0L)).collect()) // gone → loud
    // a second checkpoint advances the kept version; older checkpoint
    // files age out too
    dt.checkpoint() // at v2
    assert(dt.cleanupExpiredLogs(0L) >= 1) // v1 json + v1 checkpoint
    assert(vals(dt.read(spark)) == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("V2 checkpoint: UUID manifest + sidecars read whole; torn sidecar set falls back; writes refuse") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("deltav2cp").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    val sidecarDir = log.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    def moveIn(df: org.apache.spark.sql.DataFrame, rel: String): Long = {
      val scratch = Files.createTempDirectory("v2scratch")
      df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(dir, rel)
      Files.createDirectories(dest.getParent)
      Files.move(part, dest)
      Files.size(dest)
    }
    val s1 = moveIn(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), "f1.parquet")
    val s2 = moveIn(Seq((3L, "c")).toDF("k", "s"), "f2.parquet")
    val s3 = moveIn(Seq((4L, "d")).toDF("k", "s"), "f3.parquet")
    val dataSchema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(dataSchema.json)
    val proto =
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |$proto
          |{"metaData":{"id":"v2t","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":{},"createdTime":1}}
          |{"add":{"path":"f1.parquet","partitionValues":{},"size":$s1,"modificationTime":1,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    Files.write(log.resolve(f"${1L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":2,"operation":"WRITE","operationParameters":{}}}
          |{"add":{"path":"f2.parquet","partitionValues":{},"size":$s2,"modificationTime":2,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    // V2 checkpoint at v1: one sidecar per add, control rows (and a
    // checkpointMetadata action, ignored by this reader) in the manifest
    val addType = StructType(Seq(StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val sidecarSchema = StructType(Seq(StructField("add", addType)))
    def writeSidecar(name: String, path: String, size: Long): Unit = {
      val rows = Seq(org.apache.spark.sql.Row(
        org.apache.spark.sql.Row(path, Map.empty[String, String], size, 1L, true)))
      val scratch = Files.createTempDirectory("v2sc")
      spark.createDataFrame(rows.asJava, sidecarSchema).coalesce(1)
        .write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, sidecarDir.resolve(name))
    }
    writeSidecar("sc-aaaa.parquet", "f1.parquet", s1)
    writeSidecar("sc-bbbb.parquet", "f2.parquet", s2)
    val manifestSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(StructField("provider", StringType)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType))))))
    def R(vals: Any*) = org.apache.spark.sql.Row(vals: _*)
    val manifestRows = Seq(
      R(R(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null, null),
      R(null, R("v2t", R("parquet"), dataSchema.json, Seq.empty[String],
        Map.empty[String, String], 1L), null, null),
      R(null, null, R("sc-aaaa.parquet", 1L, 1L), null),
      R(null, null, R("sc-bbbb.parquet", 1L, 1L), null),
      R(null, null, null, R(1L)))
    val scratch = Files.createTempDirectory("v2mf")
    spark.createDataFrame(manifestRows.asJava, manifestSchema).coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val mfPart = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(mfPart, log.resolve(
      f"${1L}%020d.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet"))
    // the JSON tail past the checkpoint
    Files.write(log.resolve(f"${2L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":3,"operation":"WRITE","operationParameters":{}}}
          |{"add":{"path":"f3.parquet","partitionValues":{},"size":$s3,"modificationTime":3,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    def ks = t.read(spark).collect().map(_.getLong(0)).toSet
    assert(ks == Set(1L, 2L, 3L, 4L))
    // prove the checkpoint is the census source: with v0/v1 JSON gone,
    // replay MUST come from manifest + sidecars (+ the v2 tail)
    val j0 = Files.readAllBytes(log.resolve(f"${0L}%020d.json"))
    val j1 = Files.readAllBytes(log.resolve(f"${1L}%020d.json"))
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    assert(ks == Set(1L, 2L, 3L, 4L))
    // torn sidecar set reads as "no checkpoint here": restore the JSON,
    // remove one sidecar — pure replay fallback, same snapshot
    Files.write(log.resolve(f"${0L}%020d.json"), j0)
    Files.write(log.resolve(f"${1L}%020d.json"), j1)
    Files.delete(sidecarDir.resolve("sc-bbbb.parquet"))
    assert(ks == Set(1L, 2L, 3L, 4L))
    // v2Checkpoint is an IMPLEMENTED writer feature (r15): appends land,
    // and checkpoint() writes the V2 form the feature requires — a UUID
    // manifest + sidecar files, never a classic-name checkpoint
    t.append(Seq((9L, "z")).toDF("k", "s"))
    assert(ks == Set(1L, 2L, 3L, 4L, 9L))
    val cpv = t.checkpoint()
    val v2Re = """^(\d{20})\.checkpoint\.([^.]+)\.parquet$""".r
    val manifests = Files.list(log).iterator.asScala.filter { p =>
      p.getFileName.toString match {
        case v2Re(v, uid) => v.toLong == cpv && !uid.forall(_.isDigit)
        case _ => false
      }
    }.toSeq
    assert(manifests.size == 1, s"expected one V2 manifest at v$cpv")
    assert(!Files.exists(log.resolve(f"$cpv%020d.checkpoint.parquet")))
    // the manifest carries checkpointMetadata + sidecar actions; fresh
    // sidecars exist (the torn fixture one was swept as unreferenced)
    val mf = spark.read.parquet(manifests.head.toString)
    assert(mf.schema.fieldNames.contains("checkpointMetadata"))
    val scNames = mf.where("sidecar.path IS NOT NULL")
      .select("sidecar.path").collect().map(_.getString(0))
    assert(scNames.nonEmpty &&
      scNames.forall(n => Files.exists(sidecarDir.resolve(n))))
    // the fixture's v1 manifest still exists (older checkpoints are kept
    // for time travel), so ITS sidecar stays referenced and survives the
    // sweep; only sidecars referenced by NO manifest are swept
    assert(Files.exists(sidecarDir.resolve("sc-aaaa.parquet")))
    // replay from OUR OWN v2 checkpoint: with every pre-checkpoint JSON
    // commit gone, the manifest + sidecars are the only census source
    (0L until cpv).foreach(v => Files.deleteIfExists(log.resolve(f"$v%020d.json")))
    assert(ks == Set(1L, 2L, 3L, 4L, 9L))
    // and a DV delete on the v2 table commits + feeds row-level CDF
    val vd = t.delete("k", 2L, 3L)
    assert(ks == Set(1L, 4L, 9L))
    assert(t.changesRows(spark, vd - 1, vd).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set(2L -> "delete", 3L -> "delete"))
  }

  test("CDC emission: CDF-enabled DELETE/MERGE write _change_data + cdc actions; feeds read them back exactly; OPTIMIZE stays silent") {
    import spark.implicits._
    val t = tmpTable()
    // 3 files with exact key ranges [0,9] [10,19] [20,29]
    (0 until 3).foreach { b =>
      t.append((b * 10 until (b + 1) * 10).map(i => (i.toLong, s"r$i"))
        .toDF("k", "s").coalesce(1), statsFor = Seq("k"))
    }
    val vProps = t.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    // the property commit upgraded the protocol to the CDF tier
    val propsLog = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$vProps%020d.json")).toArray.mkString
    assert(propsLog.contains("\"minWriterVersion\":4") &&
      propsLog.contains("delta.enableChangeDataFeed"))
    // DV DELETE [5, 14]: boundary DVs on two files — the cdc payload is
    // EXACTLY the killed rows, and both feed surfaces consume it
    val vDel = t.delete("k", 5L, 14L)
    val delLog = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$vDel%020d.json")).toArray.mkString
    assert(delLog.contains("\"cdc\""), delLog)
    assert(Files.list(Paths.get(t.root, "_change_data")).iterator.asScala
      .exists(_.getFileName.toString.endsWith(".parquet")))
    val expectDel = (5L to 14L).map(i => (i, s"r$i", "delete", vDel)).toSet
    def feed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(feed(t.changes(spark, vDel - 1, vDel)) == expectDel)
    assert(feed(t.changesRows(spark, vDel - 1, vDel)) == expectDel)
    // the snapshot itself is DV-correct
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      ((0L to 4L) ++ (15L to 29L)).toSet)
    // MERGE: k=20 updated, k=99 inserted — four-valued vocabulary
    val vM = t.merge(Seq((20L, "UP"), (99L, "NEW")).toDF("k", "s"), "k")
    val expectM = Set((20L, "r20", "update_preimage", vM),
      (20L, "UP", "update_postimage", vM), (99L, "NEW", "insert", vM))
    assert(feed(t.changes(spark, vM - 1, vM)) == expectM)
    assert(feed(t.changesRows(spark, vM - 1, vM)) == expectM)
    // rewrite-mode delete also feeds exact rows (not file images)
    val vR = t.delete("k", 21L, 22L, useDeletionVectors = false)
    assert(feed(t.changesRows(spark, vR - 1, vR)) ==
      Set((21L, "r21", "delete", vR), (22L, "r22", "delete", vR)))
    // OPTIMIZE on the CDF table: dataChange=false, zero cdc bytes
    val cdcCount = Files.list(Paths.get(t.root, "_change_data"))
      .iterator.asScala.size
    val vO = t.compact()
    assert(t.changes(spark, vO - 1, vO).count() == 0)
    assert(Files.list(Paths.get(t.root, "_change_data"))
      .iterator.asScala.size == cdcCount)
    // tables WITHOUT the flag write zero cdc bytes (derivation feeds)
    val plain = tmpTable()
    plain.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      statsFor = Seq("k"))
    plain.delete("k", 1L, 1L)
    assert(!Files.exists(Paths.get(plain.root, "_change_data")))
  }

  test("column-mapping NAME mode resolves NESTED physical names (structs recurse; no silent nulls)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("deltacolmapnest").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    // physical footer: top-level "col-top" struct with nested physical
    // leaf names "col-x"/"col-y", plus a scalar "col-k"
    val physSchema = StructType(Seq(
      StructField("col-k", LongType),
      StructField("col-top", StructType(Seq(
        StructField("col-x", LongType), StructField("col-y", StringType))))))
    val rows = Seq(Row(1L, Row(10L, "a")), Row(2L, Row(20L, "b")))
    val scratch = Files.createTempDirectory("nestscratch")
    spark.createDataFrame(rows.asJava, physSchema).coalesce(1)
      .write.mode("overwrite").parquet(scratch.toString)
    val part = Files.list(scratch).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "f0.parquet"))
    // logical schema: k, top{x, y} with physicalName metadata AT EVERY
    // LEVEL — the shape delta-spark writes for name-mode nested tables
    def pf(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      pf("k", LongType, "col-k", 1),
      pf("top", StructType(Seq(
        pf("x", LongType, "col-x", 3), pf("y", StringType, "col-y", 4))),
        "col-top", 2)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(logical.json)
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
          |{"metaData":{"id":"cmn","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"},"createdTime":1}}
          |{"add":{"path":"f0.parquet","partitionValues":{},"size":${Files.size(Paths.get(dir, "f0.parquet"))},"modificationTime":1,"dataChange":true}}
          |""").stripMargin.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    val got = t.read(spark)
    assert(got.columns.toSeq == Seq("k", "top"))
    // NESTED leaves resolve (the r14 advisory failure mode read them as
    // silent nulls) and rename back to logical names
    val vals = got.selectExpr("k", "top.x", "top.y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(vals == Set((1L, 10L, "a"), (2L, 20L, "b")), vals.toString)
    // an engine-written APPEND round-trips nested physical names too
    val nested = spark.createDataFrame(
      Seq(Row(3L, Row(30L, "c"))).asJava,
      StructType(Seq(StructField("k", LongType),
        StructField("top", StructType(Seq(StructField("x", LongType),
          StructField("y", StringType)))))))
    t.append(nested)
    assert(t.read(spark).selectExpr("k", "top.x", "top.y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    // the appended file's FOOTER carries physical names at BOTH levels
    val newFile = t.read(spark).inputFiles.map(f =>
      Paths.get(new java.net.URI(f))).find(
      _.getFileName.toString != "f0.parquet").get
    val footer = spark.read.parquet(newFile.toString).schema
    assert(footer.fieldNames.toSeq.sorted == Seq("col-k", "col-top"))
    assert(footer("col-top").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("col-x", "col-y"), footer.json)
  }

  test("CDC emission on a PARTITIONED CDF table: cdc actions carry partitionValues; files hold data columns only") {
    import spark.implicits._
    val t = tmpTable()
    t.overwrite((0 until 40).map(i => (i.toLong, s"r$i", s"p${i % 2}"))
      .toDF("k", "s", "part"), partitionBy = Seq("part"),
      statsFor = Seq("k"))
    t.setProperties(Map("delta.enableChangeDataFeed" -> "true"))
    val v = t.delete("k", 10L, 13L)
    val log = Files.readAllLines(
      Paths.get(t.root, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(log.contains("\"cdc\""), log)
    // each cdc action carries its Hive partition's value; the files
    // live under _change_data with partition dirs
    assert(log.contains("\"part\":\"p0\"") && log.contains("\"part\":\"p1\""),
      log)
    // the cdc FILES hold only data columns + _change_type — the
    // partition column attaches from the action's partitionValues
    val cdcFiles = Files.walk(Paths.get(t.root, "_change_data"))
      .iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq
    assert(cdcFiles.nonEmpty)
    assert(spark.read.parquet(cdcFiles.head.toString).columns.toSet ==
      Set("k", "s", "_change_type"))
    // both feed surfaces reconstruct the partition column per action
    def feed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSet
    val expected = (10L to 13L).map(i => (i, s"p${i % 2}", "delete")).toSet
    assert(feed(t.changes(spark, v - 1, v)
      .select("k", "s", "part", "_change_type")) == expected)
    assert(feed(t.changesRows(spark, v - 1, v)
      .select("k", "s", "part", "_change_type")) == expected)
    // snapshot intact
    assert(t.read(spark).count() == 36)
  }

  test("column-mapping ID mode: columns resolve by parquet field id; DV delete works; appends and merges emit field-id footers") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("deltacolmapid").toString + "/t"
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    // footers carry field ids 1/2 under names that match NEITHER the
    // logical nor the declared physical names — only id resolution can
    // read this table correctly
    def fid(name: String, dt: DataType, id: Long) =
      StructField(name, dt, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", id).build())
    val footerSchema = StructType(Seq(fid("zz1", LongType, 1),
      fid("zz2", StringType, 2)))
    def writeFile(rows: Seq[(Long, String)], rel: String): Long = {
      val scratch = Files.createTempDirectory("cmid")
      val rdd = spark.sparkContext.parallelize(rows.map {
        case (k, s) => org.apache.spark.sql.Row(k, s) }, 1)
      spark.createDataFrame(rdd, footerSchema).coalesce(1)
        .write.mode("overwrite").parquet(scratch.toString)
      val part = Files.list(scratch).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, Paths.get(dir, rel))
      Files.size(Paths.get(dir, rel))
    }
    val sA = writeFile((0L to 9L).map(i => (i, s"r$i")), "fA.parquet")
    val sB = writeFile((10L to 19L).map(i => (i, s"r$i")), "fB.parquet")
    def pf(name: String, dt: DataType, phys: String, id: Long) =
      StructField(name, dt, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(pf("k", LongType, "col-aaa", 1),
      pf("s", StringType, "col-bbb", 2)))
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaLit = m.writeValueAsString(logical.json)
    val stA = m.writeValueAsString(
      """{"numRecords":10,"minValues":{"col-aaa":0},"maxValues":{"col-aaa":9},"nullCount":{"col-aaa":0}}""")
    val stB = m.writeValueAsString(
      """{"numRecords":10,"minValues":{"col-aaa":10},"maxValues":{"col-aaa":19},"nullCount":{"col-aaa":0}}""")
    Files.write(log.resolve(f"${0L}%020d.json"),
      (s"""{"commitInfo":{"timestamp":1,"operation":"WRITE","operationParameters":{}}}
          |{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
          |{"metaData":{"id":"cmi","format":{"provider":"parquet","options":{}},"schemaString":$schemaLit,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}
          |{"add":{"path":"fA.parquet","partitionValues":{},"size":$sA,"modificationTime":1,"dataChange":true,"stats":$stA}}
          |{"add":{"path":"fB.parquet","partitionValues":{},"size":$sB,"modificationTime":1,"dataChange":true,"stats":$stB}}
          |""").stripMargin.getBytes("UTF-8"))
    val t = DeltaTable(dir)
    val got = t.read(spark)
    assert(got.columns.toSeq == Seq("k", "s"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      (0L to 19L).map(i => (i, s"r$i")).toSet)
    // skipping still keys the PHYSICAL stats names
    assert(t.pruneCandidates(spark, "k", 15L, 15L).size == 1)
    assert(t.readWhere(spark, "k", 15L, 15L).collect()
      .map(_.getLong(0)).toSeq == Seq(15L))
    // the metadata-only DV delete works — its row-index scan resolves by
    // field id too
    val v = t.delete("k", 5L, 12L)
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      ((0L to 4L) ++ (13L to 19L)).toSet)
    val logTxt = Files.readAllLines(
      Paths.get(dir, "_delta_log", f"$v%020d.json")).toArray.mkString
    assert(logTxt.contains("\"deletionVector\"") &&
      !logTxt.contains("metaData"))
    // id-mode WRITES (r15): appends land, and the new footer carries
    // REAL parquet field ids — a probe schema keyed ONLY by id, under
    // names that match nothing, resolves the appended values
    t.append(Seq((100L, "x100")).toDF("k", "s"))
    assert(t.read(spark).collect().map(_.getLong(0)).toSet ==
      ((0L to 4L) ++ (13L to 19L) ++ Seq(100L)).toSet)
    val newFile = t.read(spark).inputFiles.map(f =>
      Paths.get(new java.net.URI(f))).find { f =>
        val n = f.getFileName.toString
        n != "fA.parquet" && n != "fB.parquet"
      }.get
    val probe = StructType(Seq(
      StructField("qqq", LongType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()),
      StructField("www", StringType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build())))
    assert(spark.read.schema(probe).parquet(newFile.toString).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((100L, "x100")))
    // merge on the id-mode table: DV-kill + field-id append
    t.merge(Seq((100L, "UP"), (200L, "NEW")).toDF("k", "s"), "k")
    val after = t.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after(100L) == "UP" && after(200L) == "NEW")
  }
}
