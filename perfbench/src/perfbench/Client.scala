package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An op's output disagreed with the independent expectation. */
final case class Mismatch(msg: String) extends Exception(msg)

/** One finished op: `pass` is -1 for set-up and the verify pass, 0 for
  * the untimed warm-up passes, from 1 for the timed passes. `wallS` is
  * the op's whole wall time, `latencyS` the part a caller waits for. */
final case class OpRecord(pass: Int, kind: String, name: String,
    latencyS: Double, wallS: Double, ok: Boolean)

/** The benchmark's single closed-loop client: it issues one op at a time
  * and waits for it. Every op is counted as attempted; an op that throws
  * or whose output disagrees with its expectation counts as failed. */
final class Client(val spark: SparkSession, val tracer: Option[Tracer]) {
  var pass: Int = -1
  private var nextOp = 0
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Run one op. `body` gets the op id and may return the op's latency
    * when it should exclude part of the op's wall (a query's cleanup);
    * otherwise the latency is the op's wall time. */
  def op(kind: String, name: String)(body: String => Option[Double]): Unit = {
    val id = s"op$nextOp"
    nextOp += 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (latency, ok) =
      try {
        val l = body(id)
        (l.getOrElse((System.nanoTime() - t0) / 1e9), true)
      } catch {
        case e: Throwable =>
          failures += s"pass $pass $kind $name: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300)
          ((System.nanoTime() - t0) / 1e9, false)
      }
    ops += OpRecord(pass, kind, name, latency, (System.nanoTime() - t0) / 1e9, ok)
    tracer.foreach(_.endOp(Span(id, "", "op", s"$kind:$name", ms0,
      System.currentTimeMillis(), pass)))
  }

  def phase[T](opId: String, kind: String)(body: => T): T =
    tracer.fold(body)(_.phase(opId, kind, pass)(body))

  def attempted: Long = ops.size.toLong
  def failed: Long = ops.count(!_.ok).toLong
  def timed: Seq[OpRecord] = ops.filter(_.pass >= 1).toSeq
}

/** A benchmark workload: set-up, an untimed verify pass, untimed and
  * timed passes, untimed final checks. */
trait Workload {
  def setup(c: Client): Unit = ()
  def verifyPass(c: Client): Unit
  def pass(c: Client, p: Int): Unit
  def finish(c: Client): Unit = ()
  /** Workload-specific per-layer metrics, per timed pass where additive. */
  def layerMetrics(c: Client, passWalls: Seq[Double]): Map[String, Double] = Map.empty
}

object Stats {
  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
}
