package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Sketches

/** Streaming twin of the [[Sketches]] Count-Min artifact — live item
  * frequencies over an unbounded stream (trending tokens, hot keys, abuse
  * fingerprints) at fixed d×w memory.
  *
  * CMS cells are SUMS, not idempotent merges — a replayed micro-batch
  * would double-count (the opposite of the HLL register-max situation in
  * [[StreamingSketches]]). So each batch appends its cell PARTIALS keyed
  * by `batch_id`, and the serve path dedups (batch_id, j, bucket) before
  * re-summing: at-least-once ingest, exactly-once serve — the
  * [[StreamingImportance]] postings convention. The artifact rides a
  * [[graft.lake.DeltaTable]] commit (crash mid-append leaves orphan files,
  * never a torn cell row). The append is a plain one, not
  * `appendIdempotent`: a restarted stream's batchIds begin again at 0,
  * so a batchId watermark would drop its first batches, and the serve
  * dedup already collapses replays.
  *
  * 100 TB shape: per batch one vocab census + a ≤ d·w-row partial; serve
  * folds partials cell-wise (map-side combinable) and probes against the
  * broadcast grid. History is never re-tokenized. */
object StreamingCms {

  /** One micro-batch's cell partials: (batch_id, j, bucket, total). */
  def batchCells(batch: DataFrame, batchId: Long, itemCol: String,
      d: Int, w: Int): DataFrame =
    Sketches.cmsBuild(batch, itemCol, d, w).withColumn("batch_id", lit(batchId))

  /** The accumulated cell-partial artifact. */
  def readCells(spark: SparkSession, cmsPath: String): DataFrame =
    graft.lake.DeltaTable(cmsPath).read(spark)

  /** The deduped, folded d×w grid — equivalent to [[Sketches.cmsBuild]]
    * over everything ingested exactly once. */
  def serveGrid(spark: SparkSession, cmsPath: String): DataFrame =
    readCells(spark, cmsPath)
      .dropDuplicates("batch_id", "j", "bucket")
      .groupBy(col("j"), col("bucket")).agg(sum(col("total")).as("total"))

  /** Point estimates for `probes` against the folded grid — the exact
    * [[Sketches.cmsEstimate]] math. */
  def serve(spark: SparkSession, cmsPath: String, probes: DataFrame,
      itemCol: String, d: Int, w: Int): DataFrame =
    Sketches.cmsEstimate(serveGrid(spark, cmsPath), probes, itemCol, d, w)

  /** Start the ingest: commit each micro-batch's cell partials. */
  def start(incoming: DataFrame, cmsPath: String, itemCol: String,
      d: Int = 3, w: Int = 64,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.lake.DeltaTable(cmsPath)
          .append(batchCells(batch, batchId, itemCol, d, w))
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
