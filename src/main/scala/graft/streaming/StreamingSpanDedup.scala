package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.operators.SpanDedup

/** Streaming twin of [[SpanDedup]] — the daily-ingest wiring for the
  * sub-document (duplicated k-span) tier: each micro-batch of incoming
  * documents
  *
  *   1. computes its span hashes once (persisted for the batch),
  *   2. probes the durable span-CENSUS artifact at `censusPath`: a batch
  *      span is duplicated when corpus occurrences + in-batch occurrences
  *      exceed one,
  *   3. appends its per-doc duplication report rows to `reportPath`, and
  *   4. appends its own per-hash counts to the census — so later batches
  *      see earlier ones without re-tokenizing history.
  *
  * The census artifact is ADDITIVE (one (span_hash, n) row per hash per
  * batch; probes SUM matching rows), so ingest never rewrites history —
  * the same append-only discipline as [[graft.operators.Retrieval]]'s
  * stats rows and [[StreamingNearDup]]'s band table. Executor state is
  * O(micro-batch); the census is a parquet table joined by hash, not
  * streaming state.
  *
  * Semantics note (inherent to ANY incremental substring dedup): a span is
  * judged against the corpus AS OF its batch — two copies arriving in
  * different batches mark the LATER doc only, where the batch census marks
  * both. The spec asserts the exact contract: streamed reports equal the
  * batch report computed against the accumulated prefix corpus.
  */
object StreamingSpanDedup {

  val CensusSchema: StructType = new StructType()
    .add("span_hash", StringType).add("n", LongType)

  /** Create an empty census at `censusPath` if none exists (a
    * [[graft.lake.DeltaTable]] whose version 0 is the empty relation —
    * census appends ride log commits, so a crash mid-append leaves orphan
    * files no commit references instead of a torn part-file that fails
    * every probe). */
  def ensureCensus(spark: SparkSession, censusPath: String): Unit = {
    val census = graft.lake.DeltaTable(censusPath)
    if (census.latestVersion.isEmpty)
      census.overwrite(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], CensusSchema))
    ()
  }

  /** The accumulated span census (readers go through the table — a
    * crashed append attempt is invisible). */
  def readCensus(spark: SparkSession, censusPath: String): DataFrame =
    graft.lake.DeltaTable(censusPath).read(spark)

  /** One batch step, also usable for batch-incremental replay: report for
    * `batch` docs against (accumulated census + in-batch counts). Returns
    * the report; appends the batch's census rows when `append` is set. */
  def step(batch: DataFrame, k: Int, censusPath: String,
      append: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val spans = SpanDedup.spanHashes(batch, k).persist()
    try {
      val batchCounts = spans.groupBy(col("span_hash")).agg(count(lit(1)).as("n"))
      val corpus = readCensus(spark, censusPath)
      // total occurrences per hash seen so far (corpus rows are additive)
      val totals = corpus.unionByName(batchCounts)
        .groupBy(col("span_hash")).agg(sum(col("n")).as("n_total"))
      val dup = spans.join(totals, "span_hash")
        .filter(col("n_total") > 1)
        .select(col("doc_id"), col("start"))
      // EAGER checkpoint: the report must materialize BEFORE the census
      // append below. (The snapshot read above is pinned to immutable
      // files, but the report consumer may collect() after this method
      // appended — keep the materialization barrier.)
      val report = SpanDedup.reportFromDuplicated(batch, dup, k).localCheckpoint()
      if (append) graft.lake.DeltaTable(censusPath).append(batchCounts)
      report
    } finally { spans.unpersist(false); () }
  }

  /** Start the ingest: `incoming` carries (doc_id, text); per-doc reports
    * land in `reportPath`, census rows accumulate at `censusPath`.
    *
    * Delivery semantics: with a `checkpointDir` the source tracks consumed
    * input, but the report write and the census append are separate
    * actions — a batch REPLAYED after a mid-batch failure finds its own
    * counts already in the census and conservatively over-marks its docs
    * (more spans flagged duplicated, never fewer). On a lake with atomic
    * multi-table commits both writes would share one transaction; see
    * [[StreamingNearDup]] for the same caveat on the band table. */
  def start(incoming: DataFrame, k: Int, censusPath: String,
      reportPath: String, checkpointDir: Option[String] = None): StreamingQuery = {
    ensureCensus(incoming.sparkSession, censusPath)
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        step(batch, k, censusPath, append = true)
          .write.mode("append").parquet(reportPath)
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
