package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}

import graft.{BenchProtocol, SparkEntry}

/** The registry queries the query workload runs. */
object Queries {
  /** The LLM-corpus operators: dedup tiers, candidate generation, a graph
    * sweep and retrieval. */
  val corpus: Seq[String] = Seq(
    "q_dedup_cc", "q_dedup_minhash", "q_fuzzy_pairs", "q_pagerank", "q_ann_ivf")
}

/** Order-free result fingerprint: row count and the sum of a 64-bit
  * digest of each collected row, its columns taken in name order. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => (names(i), i))
    val rows = df.collect()
    val md5 = MessageDigest.getInstance("MD5")
    val total = rows.foldLeft(BigInt(0)) { (acc, r) =>
      val line = order.map(i => render(r.get(i))).mkString("\u0001")
      acc + ByteBuffer.wrap(md5.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
    }
    s"${rows.length}:$total"
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}

/** A closed loop over registry queries. Each pass runs every query once,
  * in an order drawn from the seed; each query is one op with phases
  * build (the registry call: plan build, eager pins and collects), exec
  * (a noop-format write, so the whole plan runs) and clear
  * (`BenchProtocol.clearState`). Latency is build + exec. The verify pass
  * fingerprints every result against the recorded, DuckDB-checked value. */
final class QueryWorkload(names: Seq[String], sfDir: String,
    expected: Map[String, String], seed: Long) extends Workload {

  private val fns = names.map { n =>
    n -> SparkEntry.queries.getOrElse(n, sys.error(s"no registry query $n"))
  }.toMap

  private def order(p: Int): Seq[String] = new Random(seed * 7919L + p).shuffle(names)

  private def run(c: Client, kind: String, name: String)(
      finish: (String, DataFrame) => Unit): Unit =
    c.op(kind, name) { id =>
      val spark = c.spark
      val t0 = System.nanoTime()
      try {
        val df = c.phase(id, "build")(fns(name)(spark, sfDir))
        c.phase(id, "exec")(finish(name, df))
        Some((System.nanoTime() - t0) / 1e9)
      } finally c.phase(id, "clear")(BenchProtocol.clearState(spark))
    }

  def verifyPass(c: Client): Unit = order(-1).foreach { n =>
    run(c, "verify", n) { (name, df) =>
      val got = Fingerprint.of(df)
      val want = expected.getOrElse(name, "<none recorded>")
      if (got != want) throw Mismatch(s"$name fingerprint $got, expected $want")
    }
  }

  def pass(c: Client, p: Int): Unit = order(p).foreach { n =>
    run(c, "query", n)((_, df) => df.write.format("noop").mode("overwrite").save())
  }
}

/** Writes each query's result and fingerprint for the one-time DuckDB
  * cross-check (make_fingerprints.py).
  * Usage: Fingerprints <sfDir> <outDir> */
object Fingerprints {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.engine.Sessions.local(Runtime.getRuntime.availableProcessors())
    val lines = Queries.corpus.map { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      BenchProtocol.clearState(spark)
      val fp = Fingerprint.of(SparkEntry.queries(n)(spark, sfDir))
      BenchProtocol.clearState(spark)
      s"""    "$n": {"fingerprint": "$fp", "sql": ${Json.str(SparkEntry.oracleSql(n))}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/spark.json"),
      lines.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
