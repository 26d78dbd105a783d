package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{BenchProtocol, SparkEntry}

/** Self-test of the tracer's job attribution: for each named query, the
  * jobs the traced benchmark op attributes to it must equal a fresh
  * JobProbe-style census (a bare onJobStart counter around
  * `BenchProtocol.timeOnce`, read after draining the listener bus).
  * Prints one JSON line; exits 1 on any difference.
  *
  * Usage: Census <sfDir> <q1,q2,...> */
object Census {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, list) = args
    val names = list.split(",").toSeq
    val spark = graft.engine.Sessions.local(Runtime.getRuntime.availableProcessors())
    val sc = spark.sparkContext
    names.foreach(n => BenchProtocol.timeOnce(spark, sfDir, SparkEntry.queries(n)))

    val census = names.map { n =>
      var jobs = 0
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
      }
      sc.addSparkListener(l)
      BenchProtocol.timeOnce(spark, sfDir, SparkEntry.queries(n))
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(l)
      n -> l.synchronized(jobs)
    }.toMap

    val tracer = new Tracer(spark)
    val client = new Client(spark, Some(tracer))
    client.pass = 1
    new QueryWorkload(names, sfDir, Map.empty, 0L).pass(client, 1)
    tracer.drain()
    val traced = tracer.spans.filter(_.kind == "op").map { op =>
      op.name.stripPrefix("query:") -> tracer.jobs.count(_.parent.startsWith(op.id + "/"))
    }.toMap
    tracer.close()
    spark.stop()

    val ok = client.failed == 0 && names.forall(n => census(n) > 0 && traced.get(n).contains(census(n)))
    println(Json.str(Map("ok" -> ok, "queries" -> names.map(n =>
      n -> Map("census_jobs" -> census(n), "traced_jobs" -> traced.getOrElse(n, -1))).toMap)))
    if (!ok) sys.exit(1)
  }
}
