package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Sketches

/** Streaming twin of the [[Sketches]] HLL artifact — live distinct-count
  * dashboards over an event/document stream: each micro-batch sketches
  * its own rows (one map-side-combined aggregate over the DELTA only) and
  * APPENDS the resulting cell sketches to the persisted artifact. The
  * serve path ([[Sketches.hllServe]]) already merges multi-row cells with
  * `hll_union_agg`, so readers need no compaction to be correct —
  * [[compact]] is pure maintenance that bounds artifact row count at one
  * row per cell whenever convenient.
  *
  * Replay safety for free: HLL union is register-wise max — IDEMPOTENT —
  * so a replayed micro-batch (foreachBatch is at-least-once) appends
  * sketch rows that merge to the exact same state. No self-pair guard and
  * no dedup pass; estimates are identical whether a batch landed once or
  * five times (spec-asserted). This is the property that makes sketches,
  * not raw counts, the right streaming accumulator: a replayed COUNT row
  * would double-count. (Round-10: the append itself still rides a
  * [[graft.lake.DeltaTable]] commit — idempotent MERGE semantics don't
  * help against a torn part-file from a crash mid-write; the atomic log
  * commit does.)
  *
  * Executor memory is O(cells in the micro-batch); history is never
  * rescanned. */
object StreamingSketches {

  /** The accumulated sketch artifact (a [[graft.lake.DeltaTable]] —
    * readers go through the table, so a crashed append or a compaction in
    * flight is invisible). */
  def readSketches(spark: SparkSession, sketchPath: String): DataFrame =
    graft.lake.DeltaTable(sketchPath).read(spark)

  /** Start the ingest: commit each micro-batch's (cells..., sketch) rows
    * onto `sketchPath` via `append`. `incoming` must carry `cells` and
    * `value`. A first batch on a fresh path creates version 0. */
  def start(incoming: DataFrame, cells: Seq[String], value: String,
      sketchPath: String, lgK: Int = Sketches.HllLgK,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.lake.DeltaTable(sketchPath)
          .append(Sketches.hllBuild(batch, cells, value, lgK))
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** Rewrite the artifact at one row per cell (union-merge, one
    * overwrite COMMIT). Correctness never requires it; run it when the
    * appended row count is worth reclaiming. Under the commit protocol
    * the merge plan reads the live snapshot's immutable files while the
    * merged files land, so no pre-overwrite checkpoint is needed and a
    * crash mid-compaction leaves the uncompacted snapshot live. */
  def compact(spark: SparkSession, sketchPath: String,
      cells: Seq[String]): Unit = {
    val sketches = graft.lake.DeltaTable(sketchPath)
    sketches.overwrite(sketches.read(spark)
      .groupBy(cells.map(col): _*)
      .agg(org.apache.spark.sql.functions.hll_union_agg(col("sketch")).as("sketch")))
    ()
  }
}
