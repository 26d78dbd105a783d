package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Text
import graft.operators.Sampling

/** Streaming twin of [[graft.operators.Importance]] — continuously
  * ingested corpus, DSIR importance weights served on demand.
  *
  * The weight is a CORPUS-level quantity (it depends on the global
  * target/source feature distributions), so a document scored at ingest
  * time would carry a stale weight the moment more data arrives. The
  * stream therefore maintains the SUFFICIENT STATISTICS, not the scores:
  * each micro-batch appends its hashed-slot postings
  * (batch_id, doc_id, is_target, slot, tf) — a map-side projection of
  * the batch, O(batch × dim) rows, history never re-tokenized — and the
  * serve step derives the slot distributions and every document's weight
  * from the postings relation with the EXACT batch algebra (same md5
  * slots, same 6-dp/micro-int rounding), so streamed serve ≡ the batch
  * operator over everything ingested, bit for bit (spec-asserted).
  *
  * Delivery semantics: postings carry their foreachBatch `batch_id`; a
  * replayed batch appends identical rows and the serve-side
  * (batch_id, doc_id, slot) dedup collapses them — at-least-once ingest,
  * exactly-once serve (the [[StreamingTrending]] convention).
  *
  * 100 TB shape: the postings artifact is the corpus sufficient
  * statistic (the BM25-postings pattern); serve runs ONE map-side-
  * combinable aggregation to the dim-row stats table, broadcasts the
  * ratio table back, and sums per-doc weights without shuffling the
  * corpus. Compact the postings like any additive census. */
object StreamingImportance {

  /** One batch's postings: (batch_id, doc_id, is_target, slot, tf). */
  def batchPostings(batch: DataFrame, batchId: Long, isTarget: Column,
      dim: Int): DataFrame =
    batch
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(Text.tokens(col("text"))).as("term"))
      .select(col("doc_id"), col("is_target"),
        Sampling.hashBucket(col("term"), dim).as("slot"))
      .groupBy(col("doc_id"), col("is_target"), col("slot"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("batch_id", lit(batchId))

  /** The accumulated postings artifact (a [[graft.lake.DeltaTable]] — a
    * crashed append leaves orphan files no commit references, never a
    * torn part-file in the serve scan). */
  def readPostings(spark: SparkSession, postingsPath: String): DataFrame =
    graft.lake.DeltaTable(postingsPath).read(spark)

  /** Serve the weights for every ingested document — the exact batch
    * algebra over the deduped postings relation. */
  def serve(spark: SparkSession, postingsPath: String,
      dim: Int = 64): DataFrame = {
    val postings = readPostings(spark, postingsPath)
      .dropDuplicates("batch_id", "doc_id", "slot")
    val stats = postings.groupBy(col("slot"))
      .agg(sum(col("tf")).as("n_src"),
        sum(when(col("is_target"), col("tf")).otherwise(0L)).as("n_tgt"))
    val totals = stats.agg(sum(col("n_src")).as("tot_src"),
      sum(col("n_tgt")).as("tot_tgt"))
    def logMicro(n: Column, tot: Column): Column =
      round(round(log((n + 1) / (tot + dim).cast("double")), 6) * 1e6)
        .cast("long")
    val ratios = stats.crossJoin(broadcast(totals))
      .select(col("slot"),
        (logMicro(col("n_tgt"), col("tot_tgt")) -
          logMicro(col("n_src"), col("tot_src"))).as("lr_micro"))
    postings.join(broadcast(ratios), "slot")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("lr_micro")).as("logw_micro"))
  }

  /** Start the ingest: `incoming` carries (doc_id, text); `isTarget`
    * marks target-distribution exemplars (evaluated per row). */
  def start(incoming: DataFrame, postingsPath: String, isTarget: Column,
      dim: Int = 64,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.lake.DeltaTable(postingsPath)
          .append(batchPostings(batch, batchId, isTarget, dim))
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
