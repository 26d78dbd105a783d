package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.BenchProtocol
import graft.engine.Sessions

/** Minimal JSON via the Jackson already on Spark's classpath. */
object Json {
  private val mapper = new ObjectMapper
  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }
  def str(v: Any): String = mapper.writeValueAsString(toJava(v))
  def read(path: String): Map[String, Any] =
    mapper.readValue(Files.readString(Paths.get(path)), classOf[java.util.Map[String, Any]])
      .asScala.toMap
}

/** One benchmark run in one JVM: set up, verify (untimed, also the first
  * warm-up), [[Main.WarmupPasses]] more untimed warm-up passes, timed
  * passes for `--seconds`, final checks; writes every end-to-end and
  * per-layer number to `--out` as JSON.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *   --sf-dir DIR --fingerprints FILE --work DIR --launch-ms MS --out FILE
  *   [--spans FILE] */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val sfDir = a("sf-dir")

    val spark = Sessions.local(cpus)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val client = new Client(spark, tracer)
    lazy val fingerprints = Json.read(a("fingerprints"))("queries")
      .asInstanceOf[java.util.Map[String, java.util.Map[String, Any]]].asScala
      .map { case (k, v) => k -> v.get("fingerprint").toString }.toMap
    val wl: Workload = workload match {
      case "corpus_pipeline" => new QueryWorkload(Queries.corpus, sfDir, fingerprints, seed)
      case "lake_ingest" => new LakeWorkload(sfDir, a("work"), seed)
      case other => sys.error(s"unknown workload $other")
    }

    wl.setup(client)
    wl.verifyPass(client)
    // An untimed warm-up pass: the pass after the cold verify pass still
    // competes with JIT compilation. Later passes still vary by 10-20%,
    // which the medians over several timed passes absorb. Warm-up passes
    // draw as passes -2, -3, ...
    client.pass = 0
    for (w <- 1 to WarmupPasses) wl.pass(client, -1 - w)
    val blocks0 = tracer.map { t =>
      t.drain(); t.resetBlockPeak(); t.resetHeapPeak(); t.blockStats._1
    }
    val firstTimedMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passSteal = scala.collection.mutable.ArrayBuffer.empty[Double]
    // A further pass starts only when a pass as long as the last one would
    // end within `--seconds`, so a run's pass count does not depend on how
    // far the last pass overran.
    while (passWalls.size < MinTimedPasses ||
        System.nanoTime() + (passWalls.last * 1e9).toLong <= deadline) {
      client.pass = passWalls.size + 1
      // Every timed pass starts from a collected heap: otherwise a full
      // collection of the earlier passes' garbage lands in a random pass.
      System.gc()
      val steal0 = stealS()
      val t0 = System.nanoTime()
      wl.pass(client, client.pass)
      passWalls += (System.nanoTime() - t0) / 1e9
      passSteal += stealS() - steal0
    }
    client.pass = -1
    wl.finish(client)

    val latencies = client.timed.map(_.latencyS)
    val e2e = Map(
      "setup_s" -> (firstTimedMs - a("launch-ms").toLong) / 1e3,
      "pass_s" -> typicalPassS(client.timed, passWalls.size),
      "latency_p50_s" -> BenchProtocol.median(latencies),
      "latency_tail_s" -> Stats.percentile(latencies, TailQuantile),
      "peak_rss_mb" -> peakRssMb())
    val layers = tracer.map { t =>
      t.drain()
      Layers.metrics(t, passWalls.toSeq, cpus, blocks0.get) ++
        wl.layerMetrics(client, passWalls.toSeq)
    }
    val out = Map(
      "correct" -> (client.failed == 0),
      "attempted" -> client.attempted,
      "failed" -> client.failed,
      "failures" -> client.failures.take(20).toSeq,
      "end_to_end" -> e2e,
      "per_layer" -> layers.getOrElse(Map.empty),
      "passes" -> passWalls.toSeq,
      "pass_steal_s" -> passSteal.toSeq,
      "ops" -> client.timed.map(o =>
        Map("pass" -> o.pass, "kind" -> o.kind, "name" -> o.name,
          "latency_s" -> o.latencyS, "wall_s" -> o.wallS, "ok" -> o.ok)),
      "spark_version" -> spark.version,
      "cpus" -> cpus)
    Files.writeString(Paths.get(a("out")), Json.str(out))
    for (t <- tracer; path <- a.get("spans")) {
      t.close()
      val spans = (t.spans.toSeq ++ t.jobs).map(s => Map("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "pass" -> s.pass))
      Files.writeString(Paths.get(path), Json.str(spans))
    }
    spark.stop()
  }

  /** Untimed passes between the verify pass and the timed passes. */
  val WarmupPasses = 1

  /** Timed passes per run at least; more run while they fit in
    * `--seconds`. */
  val MinTimedPasses = 3

  /** The tail percentile: the highest with at least ten samples beyond it
    * over ten runs (15 or more query and 28 or more verb samples a run). */
  val TailQuantile = 0.9

  /** A typical pass: the sum over the ops a pass runs of each op's median
    * wall time over the timed passes, an op that runs in some passes only
    * weighted by its share of them. One slow op in one pass and another in
    * the next would make both passes slow; here neither moves the figure.
    * A pass's wall time varies by 10-20 % from pass to pass, a single
    * query's by up to 40 %, so the median of three pass walls is much less
    * steady from run to run than this. */
  def typicalPassS(timed: Seq[OpRecord], passes: Int): Double =
    timed.groupBy(o => (o.kind, o.name)).values.map { ops =>
      BenchProtocol.median(ops.map(_.wallS)) * ops.size / passes
    }.sum

  /** CPU time the hypervisor gave to other guests ("steal"), summed over
    * all CPUs since boot, in seconds; recorded per timed pass in the run
    * artifact to tell host contention from a slower program. */
  def stealS(): Double =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
}
