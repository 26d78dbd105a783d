package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, min, round, sum}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.BenchProtocol
import graft.lake.DeltaTable

/** Row count and column sums of a table state: what every read is checked
  * against. */
final case class Agg(rows: Long, ids: Long, qty: Long, price: Long)

/** The paper's ingestion pipeline as Delta verbs, writes beside reads.
  *
  * Set-up seeds a table of [[SeedFiles]] files from sf0.1 `lineitem`.
  * Each pass then lands and ingests seeded batches (append, merge upsert
  * by key, updateWhere, deleteWhere), reads after the writes (latest
  * snapshot, a skipping `readWhere`, time travel and `history`), and ends
  * with one bounded compaction of the small files. A checkpoint follows
  * every [[CheckpointEvery]] commits, as its own op. Every version stays
  * readable until the run ends with a vacuum.
  *
  * Every result is checked against an independent model of the same
  * batches — a sorted map kept on the driver from the generated rows,
  * never from the table — and the final content is compared row by row. */
final class LakeWorkload(sfDir: String, work: String, seed: Long) extends Workload {
  import LakeWorkload._

  private val root = s"$work/lake/table"
  private val landing = s"$work/lake/landing"
  private val table = DeltaTable(root)

  private final case class Rec(qty: Int, price: Long, flag: String)
  private val model = new java.util.TreeMap[java.lang.Long, Rec]()
  private var agg = Agg(0, 0, 0, 0)
  private val aggAt = mutable.HashMap.empty[Long, Agg]
  private var version = -1L
  private var checkpointed = 0L
  private var nextId = FirstNewId
  private var landed = 0
  private var landedBytes = 0L
  private val ingestedRows = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)

  private def put(id: Long, r: Rec): Unit = {
    val old = model.put(id, r)
    if (old != null) agg = agg.copy(rows = agg.rows - 1, ids = agg.ids - id,
      qty = agg.qty - old.qty, price = agg.price - old.price)
    agg = agg.copy(rows = agg.rows + 1, ids = agg.ids + id,
      qty = agg.qty + r.qty, price = agg.price + r.price)
  }

  private def remove(id: Long): Unit = {
    val old = model.remove(id)
    if (old != null) agg = agg.copy(rows = agg.rows - 1, ids = agg.ids - id,
      qty = agg.qty - old.qty, price = agg.price - old.price)
  }

  private def aggOf(m: java.util.SortedMap[java.lang.Long, Rec]): Agg =
    m.asScala.foldLeft(Agg(0, 0, 0, 0)) { case (a, (id, r)) =>
      Agg(a.rows + 1, a.ids + id, a.qty + r.qty, a.price + r.price)
    }

  private def tableAgg(df: DataFrame): Agg = {
    val r = df.agg(count(lit(1)), sum(col("id")), sum(col("qty").cast("long")),
      sum(col("price_cents"))).collect()(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Agg(l(0), l(1), l(2), l(3))
  }

  /** Write a batch to the landing zone as parquet and read it back: the
    * ingest source, and the input bytes the table's size is measured
    * against. */
  private def land(c: Client, df: DataFrame): DataFrame = {
    val dir = s"$landing/b$landed"
    landed += 1
    df.coalesce(1).write.parquet(dir)
    landedBytes += dirBytes(Paths.get(dir))
    c.spark.read.schema(Schema).parquet(dir)
  }

  private def land(c: Client, rows: Seq[(Long, Rec)]): DataFrame =
    land(c, c.spark.createDataFrame(
      rows.map { case (id, r) => Row(id, r.qty, r.price, r.flag) }.asJava, Schema))

  private def check(what: String, got: Any, want: Any): Unit =
    if (got != want) throw Mismatch(s"$what: table $got, model $want")

  /** A commit verb: run it, apply the same change to the model, and check
    * the committed version; then checkpoint when it is due. */
  private def commit(c: Client, verb: String)(write: => Long)(change: => Unit): Unit = {
    c.op(verb, verb) { id =>
      val v = c.phase(id, "call")(write)
      change
      version += 1
      aggAt(version) = agg
      check(s"$verb version", v, version)
      None
    }
    if (version - checkpointed >= CheckpointEvery) c.op("checkpoint", "checkpoint") { id =>
      check("checkpoint version", c.phase(id, "call")(table.checkpoint()), version)
      checkpointed = version
      None
    }
  }

  /** A read verb: the table call (the metadata plane) and the scan of the
    * frame it returns (the data plane), checked against the model. */
  private def read(c: Client, verb: String, want: Agg)(snapshot: => DataFrame): Unit =
    c.op(verb, verb) { id =>
      val df = c.phase(id, "snapshot")(snapshot)
      check(verb, c.phase(id, "read_exec")(tableAgg(df)), want)
      None
    }

  /** `n` consecutive model keys from a seeded rank: an id range that
    * holds exactly `n` rows, drawn uniformly over the table's rows. */
  private def keyRange(rng: Random, n: Int): (Long, Long) = {
    val keys = model.keySet.iterator.asScala.drop(rng.nextInt(model.size - n + 1))
      .take(n).map(_.longValue).toSeq
    (keys.head, keys.last)
  }

  private def freshRec(rng: Random): Rec =
    Rec(1 + rng.nextInt(50), rng.nextInt(10000000).toLong, Flags(rng.nextInt(Flags.size)))

  override def setup(c: Client): Unit = {
    val spark = c.spark
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(col("l_orderkey") % 4 === 0)
      .groupBy((col("l_orderkey") * 8 + col("l_linenumber")).cast(LongType).as("id"))
      .agg(min(col("l_quantity")).cast(IntegerType).as("qty"),
        max(round(col("l_extendedprice") * 100)).cast(LongType).as("price_cents"),
        min(col("l_returnflag")).as("flag"))
    val seedDf = land(c, src)
    seedDf.collect().foreach { r =>
      put(r.getLong(0), Rec(r.getInt(1), r.getLong(2), r.getString(3)))
    }
    commit(c, "overwrite")(table.overwrite(
      seedDf.repartitionByRange(SeedFiles, col("id")), statsFor = Seq("id")))(())
  }

  def verifyPass(c: Client): Unit = pass(c, -1)

  def pass(c: Client, p: Int): Unit = {
    val rng = new Random(seed * 1000003L + p)
    val appendRows = (0 until AppendRows).map(i => (nextId + i, freshRec(rng)))
    nextId += AppendRows
    val appendDf = land(c, appendRows)
    commit(c, "append")(table.append(appendDf, statsFor = Seq("id"))) {
      appendRows.foreach { case (id, r) => put(id, r) }
    }

    val (ulo, uhi) = keyRange(rng, MergeRows / 2)
    val existing = model.subMap(ulo, true, uhi, true).keySet.asScala.map(_.longValue).toSeq
    val inserts = (0 until MergeRows / 2).map(nextId + _)
    nextId += MergeRows / 2
    val mergeRows = (existing ++ inserts).map(id => (id, freshRec(rng)))
    val mergeDf = land(c, mergeRows)
    commit(c, "merge")(table.merge(mergeDf, "id")) {
      mergeRows.foreach { case (id, r) => put(id, r) }
    }
    ingestedRows(c.pass) += appendRows.size + mergeRows.size

    val (lo, hi) = keyRange(rng, UpdateRows)
    val touched = model.subMap(lo, true, hi, true).asScala.toSeq
      .filter(_._2.flag != "R")
    commit(c, "update")(table.updateWhere(
        s"id BETWEEN $lo AND $hi AND flag <> 'R'", Map("qty" -> (col("qty") + 1)))) {
      touched.foreach { case (id, r) => put(id, r.copy(qty = r.qty + 1)) }
    }

    val (dlo, dhi) = keyRange(rng, DeleteRows)
    val gone = model.subMap(dlo, true, dhi, true).keySet.asScala.toSeq
    commit(c, "delete")(table.deleteWhere(s"id BETWEEN $dlo AND $dhi")) {
      gone.foreach(id => remove(id))
    }

    read(c, "read", agg)(table.read(c.spark))
    val (rlo, rhi) = keyRange(rng, ReadWhereRows)
    read(c, "read_where", aggOf(model.subMap(rlo, true, rhi, true)))(
      table.readWhere(c.spark, "id", rlo, rhi))
    val v = rng.nextInt(version.toInt + 1).toLong
    read(c, "read_version", aggAt(v))(table.read(c.spark, Some(v)))
    c.op("history", "history") { id =>
      check("history versions", c.phase(id, "call")(table.history(c.spark).count()),
        version + 1)
      None
    }
    commit(c, "compact")(table.compactIncremental(SmallFileBytes, statsFor = Seq("id"))
      .getOrElse(throw Mismatch("compact: fewer than two small files")))(())
  }

  /** The run's single vacuum, then the oldest version it keeps and the
    * final content, row by row, against the model. */
  override def finish(c: Client): Unit = {
    c.op("vacuum", "vacuum") { id =>
      c.phase(id, "call")(table.vacuum(KeepVersions, retentionMs = 0L))
      None
    }
    val oldest = version - KeepVersions + 1
    read(c, "final_read_version", aggAt(oldest))(table.read(c.spark, Some(oldest)))
    c.op("final_check", "final_check") { _ =>
      finalCheck(c)
      None
    }
  }

  private def finalCheck(c: Client): Unit = {
    val rows = table.read(c.spark).collect().map(r =>
      (r.getLong(0), Rec(r.getInt(1), r.getLong(2), r.getString(3)))).sortBy(_._1).toSeq
    val want = model.asScala.toSeq.map { case (id, r) => (id.longValue, r) }
    check("final row count", rows.size, want.size)
    rows.zip(want).find { case (a, b) => a != b }.foreach { case (a, b) =>
      throw Mismatch(s"final content: table row $a, model row $b")
    }
  }

  override def layerMetrics(c: Client, passWalls: Seq[Double]): Map[String, Double] = {
    val timed = c.timed
    def lat(kinds: Set[String]) = timed.filter(o => kinds(o.kind)).map(_.latencyS)
    val commits = lat(CommitVerbs)
    val reads = lat(ReadVerbs)
    val logDir = Paths.get(root, "_delta_log")
    val logFiles = Files.list(logDir).iterator.asScala.count(Files.isRegularFile(_))
    val liveFiles = table.read(c.spark).inputFiles.length
    val rowsIn = ingestedRows.collect { case (p, n) if p >= 1 => n }.sum
    Map(
      "lake.commit_p50_s" -> BenchProtocol.median(commits),
      "lake.commit_tail_s" -> Stats.percentile(commits, Main.TailQuantile),
      "lake.read_p50_s" -> BenchProtocol.median(reads),
      "lake.read_tail_s" -> Stats.percentile(reads, Main.TailQuantile),
      "lake.ingest_rows_per_s" -> rowsIn / passWalls.sum,
      "lake.stored_bytes_per_input_byte" ->
        dirBytes(Paths.get(root)).toDouble / landedBytes,
      "lake.log_files" -> logFiles.toDouble,
      "lake.live_files" -> liveFiles.toDouble)
  }
}

object LakeWorkload {
  // Batch sizes, file counts and retention are the benchmark's own
  // choice, not taken from a source: batches of a few thousand rows
  // against a table of about 115 k, so that a commit costs about as much
  // as a read.
  val FirstNewId = 100000000L
  val SeedFiles = 8
  val AppendRows = 3000
  val MergeRows = 3000
  val UpdateRows = 1200
  val DeleteRows = 600
  val ReadWhereRows = 2000
  /** every second pass: a pass commits four verbs and a compaction, so
    * reads replay one to nine commits past the last checkpoint */
  val CheckpointEvery = 10
  /** the per-pass compaction folds files below this size: the batches'
    * files, not the seed table's */
  val SmallFileBytes: Long = 64L << 10
  val KeepVersions = 8
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val CommitVerbs = Set("append", "merge", "update", "delete", "compact")
  val ReadVerbs = Set("read", "read_where", "read_version", "history")
  /** verbs run once, after the timed passes: their figures are per run */
  val RunVerbs = Set("vacuum")
  val Verbs: Seq[String] = Seq("append", "merge", "update", "delete", "read",
    "read_where", "read_version", "history", "checkpoint", "compact", "vacuum")

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("price_cents", LongType, nullable = false),
    StructField("flag", StringType, nullable = false)))

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
