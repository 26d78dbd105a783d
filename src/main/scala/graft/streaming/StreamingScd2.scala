package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.DeltaTable
import graft.operators.Evolve

/** Streaming twin of [[Evolve.scd2Merge]] — continuous CDC ingest into a
  * versioned dimension: each micro-batch of updates merges against the
  * persisted dimension snapshot and publishes the next snapshot through a
  * [[DeltaTable]] commit (read snapshot → merge → overwrite-commit).
  *
  * Round-9 change: the publish step rides the transactional table instead
  * of a raw parquet overwrite. A raw overwrite deletes the old files
  * before the new ones land, so a crash mid-overwrite TORCHES the
  * dimension — the exact failure a table commit protocol removes. With
  * the commit protocol, new data files land under fresh names while the
  * old snapshot's files stay untouched; only the atomic log commit flips
  * the table, so a crash at ANY point leaves the previous snapshot
  * readable and the replayed batch re-merges into a fresh commit. This
  * also retires the pre-publish `localCheckpoint` the raw pattern needed
  * (the merge plan may read the live snapshot's files while the new files
  * are written — they are never mutated), and makes every historical
  * dimension snapshot time-travelable for free.
  *
  * Replay safety comes from the merge SEMANTICS, not from bookkeeping:
  * re-merging an already-applied batch finds every update row equal to
  * the now-live version — a pass-through — so at-least-once foreachBatch
  * delivery converges to the same snapshot (spec-asserted), the property
  * that makes idempotent merge, not blind append, the right CDC
  * accumulator for dimensions.
  *
  * Contract: update batches are key-unique (compact CDC to latest-per-key
  * upstream; a duplicated key would open duplicate versions). The whole
  * snapshot is rewritten per batch — right for DIMENSION-sized tables
  * (the 100 TB side of an SCD2 star is the fact table, not the
  * dimension); at larger dimension sizes partition `current` by
  * valid_to nullness so only the live partition rewrites, as the batch
  * operator's docstring prescribes. */
object StreamingScd2 {

  /** Publish the seed snapshot (rows already in SCD2 shape: attrs +
    * valid_from / valid_to) as the table's first committed version. */
  def init(seed: DataFrame, dimPath: String): Unit = {
    DeltaTable(dimPath).overwrite(seed)
    ()
  }

  /** The current dimension snapshot (readers go through the table, not
    * the raw files — half-written commit attempts are invisible). */
  def readDim(spark: SparkSession, dimPath: String): DataFrame =
    DeltaTable(dimPath).read(spark)

  /** Start the ingest. `asOfOf` stamps each micro-batch's effective time
    * (deterministic per batchId — wall-clock stamps would break replay).
    *
    * `keepVersions` bounds retained history: every overwrite commit keeps
    * the previous snapshot's files on disk, so a long-running stream
    * would otherwise grow storage by one full dimension copy per batch —
    * each batch vacuums down to the newest `keepVersions` snapshots
    * (time travel reaches exactly that window). The vacuum runs with zero
    * retention because this serial foreachBatch is the table's only
    * writer, so no in-flight commit can lose its files; Delta's default
    * 7-day horizon would keep every batch's copy and void the bound. */
  def start(updates: DataFrame, dimPath: String, key: String,
      attrs: Seq[String], asOfOf: Long => Column,
      checkpointDir: Option[String] = None,
      keepVersions: Int = 8): StreamingQuery = {
    val spark = updates.sparkSession
    val writer = updates.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dim = DeltaTable(dimPath)
        dim.overwrite(
          Evolve.scd2Merge(dim.read(spark), batch, key, attrs, asOfOf(batchId)))
        dim.vacuum(keepVersions, retentionMs = 0L)
        ()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
