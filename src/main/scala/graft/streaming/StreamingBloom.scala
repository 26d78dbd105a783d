package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

import graft.functions.Text
import graft.operators.Bloom

/** Streaming twin of [[Bloom.incrementalExactDedup]] — the exact-dedup
  * ingest wiring where the corpus summary consulted per batch is the
  * few-KB Bloom RELATION, not the fingerprint table: each micro-batch
  *
  *   1. fingerprints itself and keeps one min-id row per fingerprint,
  *   2. probes the persisted filter at `bloomPath` — bloom-negative rows
  *      are DEFINITELY novel and never touch the fingerprint table,
  *   3. verifies bloom-positive rows against the table at `fpPath`,
  *   4. appends the accepted novel rows to `outPath`, their fingerprints
  *      to `fpPath`, and ORs their bits into `bloomPath` — the union of
  *      Bloom filters over disjoint corpora IS the bitwise OR, so the
  *      filter is maintained additively, never rebuilt.
  *
  * Round-9 change: the filter lives in a [[graft.lake.DeltaTable]] and its
  * per-batch update is an overwrite COMMIT, not a raw parquet overwrite.
  * The raw pattern (merge → localCheckpoint → overwrite) deleted the old
  * filter files before the new ones landed, so a crash mid-overwrite left
  * NO filter — and a Bloom filter that vanishes silently degrades every
  * later batch to full-table verification. With the commit protocol the
  * old snapshot's files are immutable until the atomic log-commit link
  * flips, a crash at any point leaves the previous filter readable (the
  * filter is conservative state: an older filter is still CORRECT, just
  * admits more verify work), and the pre-publish localCheckpoint is
  * retired. State lives in the two artifacts, not in streaming state:
  * executor memory is O(micro-batch + bits/32).
  *
  * Delivery semantics: pass `checkpointDir` so consumed input survives
  * restarts. The three writes are at-least-once (foreachBatch can replay
  * a failed batch); a replay whose fp/bloom appends landed probes its own
  * fingerprints bloom-positive and the verify anti-join drops every row,
  * so the artifacts never double-count — only `outPath` can hold a
  * duplicate row from a replay whose out-append landed first, removed by
  * the `distinct` its consumers run (the [[StreamingNearDup]] convention;
  * an atomic multi-table commit would close even that window). */
object StreamingBloom {

  val FpSchema: StructType = new StructType().add("fingerprint", StringType)
  val FilterSchema: StructType =
    new StructType().add("word", IntegerType).add("bits", LongType)

  /** Create empty fingerprint/filter artifacts for a fresh corpus. The
    * fingerprint table is a plain append-only parquet dir; the filter is
    * a DeltaTable whose version 0 is the empty relation. */
  def ensureArtifacts(spark: SparkSession, fpPath: String,
      bloomPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(fpPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], FpSchema)
        .write.parquet(fpPath)
    val filter = graft.lake.DeltaTable(bloomPath)
    if (filter.latestVersion.isEmpty)
      filter.overwrite(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], FilterSchema))
    ()
  }

  /** The live filter snapshot (readers go through the table — a crashed
    * commit attempt is invisible). */
  def readFilter(spark: SparkSession, bloomPath: String): DataFrame =
    graft.lake.DeltaTable(bloomPath).read(spark)

  /** Start the ingest: `incoming` carries (doc_id, text). Accepted novel
    * rows land in `outPath` as (doc_id, fingerprint, bloom_hit). */
  def start(incoming: DataFrame, fpPath: String, bloomPath: String,
      outPath: String, bits: Int = Bloom.DefaultBits,
      k: Int = Bloom.DefaultHashes,
      checkpointDir: Option[String] = None,
      keepVersions: Int = 8): StreamingQuery = {
    ensureArtifacts(incoming.sparkSession, fpPath, bloomPath)
    val writer = incoming.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val inc = batch
          .withColumn("fingerprint", Text.fingerprint(col("text")))
          .groupBy(col("fingerprint")).agg(min(col("doc_id")).as("doc_id"))
          .persist()
        try {
          val bloomTable = graft.lake.DeltaTable(bloomPath)
          val filter = bloomTable.read(spark)
          val flagged = Bloom.probe(inc, filter, bits, k)
          val ex = spark.read.schema(FpSchema).parquet(fpPath)
          val novel = flagged.filter(col("bloom_hit") === 0).unionByName(
              flagged.filter(col("bloom_hit") === 1)
                .join(ex, Seq("fingerprint"), "left_anti"))
            .select(col("doc_id"), col("fingerprint"), col("bloom_hit"))
            .localCheckpoint(true) // three consumers; fp/bloom reads below
          novel.write.mode("append").parquet(outPath)
          novel.select(col("fingerprint")).write.mode("append").parquet(fpPath)
          // additive filter maintenance: OR the accepted rows' bits into
          // the persisted filter as an overwrite COMMIT — the plan reads
          // the live snapshot's immutable files while the new ones land,
          // so no pre-publish checkpoint is needed and a crash leaves the
          // previous (still-correct, merely older) filter live
          bloomTable.overwrite(filter
            .unionByName(Bloom.build(novel.select(col("fingerprint")), bits, k))
            .groupBy(col("word"))
            .agg(expr("bit_or(bits)").as("bits")))
          // every overwrite retains the prior snapshot's files: bound the
          // few-KB-per-version growth for a long-running stream. Zero
          // retention is safe because this serial foreachBatch is the
          // table's only writer (no in-flight commit to protect); Delta's
          // default 7-day horizon would keep every version's files
          bloomTable.vacuum(keepVersions, retentionMs = 0L)
        } finally inc.unpersist(false)
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
