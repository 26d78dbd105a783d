package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import graft.operators.Dedup

/** Streaming twin of [[Dedup.incrementalMinhashCandidates]] — the daily-
  * ingest wiring for the NEAR-dup tier (the exact tier's twin is
  * [[StreamingDedup]]): each micro-batch of incoming documents
  *
  *   1. computes its band table once (persisted for the batch),
  *   2. probes the durable corpus band artifact at `bandsPath` for
  *      cross candidates plus the capped within-batch expansion,
  *   3. appends the found pairs to `pairsPath`, and
  *   4. appends its own bands to `bandsPath` — so later batches see
  *      earlier ones without any re-shingling of history.
  *
  * State lives in the band TABLE, not in streaming state: the corpus side
  * is a parquet artifact bucketable by (band, bucket), so executor memory
  * is O(micro-batch), independent of corpus size — the shape that holds
  * when the corpus is 100 TB and a day's delta is a few TB. Each emitted
  * pair has >= 1 member in the current batch, so batch outputs are
  * disjoint and their union is exactly the batch-incremental result
  * replayed over the same deltas (spec-asserted).
  *
  * Delivery semantics: pass `checkpointDir` so the source tracks consumed
  * input across restarts. Within a batch the two appends are
  * at-least-once (foreachBatch can replay a failed batch); the self-pair
  * filter below keeps a replayed batch from pairing docs with their own
  * previously-appended bands, and a replay's duplicate pair/band rows are
  * removed by the downstream `distinct` the pair consumers already run —
  * on a lake with atomic multi-table commits both appends would instead
  * share one transaction.
  *
  * Round-10 change: the band TABLE (the durable corpus artifact) is a
  * [[graft.lake.DeltaTable]] and each batch's band rows land via `append`
  * — data files first, then one atomic log commit. A raw parquet append
  * that crashes mid-job can leave a torn part-file that fails EVERY later
  * probe scan; under the commit protocol a crash between write and
  * publish leaves orphan files no commit references — the table stays
  * readable and the replayed batch re-appends cleanly. `pairsPath` stays
  * a plain append sink: it is an OUTPUT, deduped by consumers, not state
  * the stream itself re-reads. */
object StreamingNearDup {

  /** Band-table schema: (doc_id, band, bucket) as produced by
    * [[Dedup.minhashBandsOf]]. */
  val BandSchema: StructType = new StructType()
    .add("doc_id", LongType).add("band", IntegerType).add("bucket", StringType)

  /** Create an empty corpus band table at `bandsPath` if none exists —
    * first deployment of a fresh corpus; thereafter the table is the
    * accumulated history (a [[graft.lake.DeltaTable]]: version 0 is the
    * empty relation with the band schema recorded). */
  def ensureBandTable(spark: SparkSession, bandsPath: String): Unit = {
    val bands = graft.lake.DeltaTable(bandsPath)
    if (bands.latestVersion.isEmpty)
      bands.overwrite(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], BandSchema))
    ()
  }

  /** The accumulated corpus band table (readers go through the table —
    * a crashed append attempt is invisible). */
  def readBands(spark: SparkSession, bandsPath: String): DataFrame =
    graft.lake.DeltaTable(bandsPath).read(spark)

  /** Start the ingest: `incoming` must carry (doc_id, text). Pairs land in
    * `pairsPath` as (doc_a, doc_b); bands accumulate in `bandsPath`. */
  def start(incoming: DataFrame, bandsPath: String, pairsPath: String,
      maxBucket: Int = Dedup.MaxBucket,
      checkpointDir: Option[String] = None): StreamingQuery = {
    ensureBandTable(incoming.sparkSession, bandsPath)
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions.col
        // bands computed ONCE per batch, used twice (probe + append)
        val incBands = Dedup.minhashBandsOf(batch).persist()
        try {
          val exBands = readBands(spark, bandsPath)
          Dedup.incrementalCandidatesFromBands(exBands, incBands, maxBucket)
            // a REPLAYED batch finds its own bands already in the corpus
            // table; never pair a doc with itself
            .filter(col("doc_a") =!= col("doc_b"))
            .write.mode("append").parquet(pairsPath)
          graft.lake.DeltaTable(bandsPath).append(incBands)
        } finally incBands.unpersist(false)
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
