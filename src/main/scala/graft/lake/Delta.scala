package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, collect_list, concat, expr, from_json, get_json_object, lit, map, max => fmax, min => fmin, raise_error, regexp_replace, replace => freplace, sort_array, struct, to_json, url_decode, url_encode, when}
import org.apache.spark.sql.types._

/** Delta Lake TRANSACTION-LOG interop — reads and writes the actual
  * open `_delta_log` format (the public Delta protocol: newline-
  * delimited JSON action files `%020d.json`, parquet checkpoints
  * `%020d.checkpoint.parquet`, the `_last_checkpoint` pointer), so
  * tables written here are readable by any Delta reader and vice
  * versa. It is the lake's one table format: the streaming artifact
  * sinks commit through it too.
  *
  * Reference surface: the reference lake
  * (`ingestion-datalake.py:108-125`, the blob PUT) lands plain files in
  * ADLS containers; this is the north-star upgrade — an ACID table
  * format a 100 TB training-data lake actually needs for concurrent
  * ingest/compact/curate.
  *
  * Protocol subset (all public knowledge, delta.io PROTOCOL.md):
  *   - actions understood: `protocol`, `metaData`, `add`, `remove`,
  *     `commitInfo` (pass-through), `cdc` (consumed by the CDF surface
  *     [[changes]]/[[changesRows]] — a commit carrying cdc actions has
  *     its change set read from the `_change_data` files, superseding
  *     the add/remove derivation, per the protocol; snapshot replay
  *     ignores them — and EMITTED by [[delete]]/[[merge]] when
  *     `delta.enableChangeDataFeed=true`, so foreign CDF consumers read
  *     this engine's commits row-level), `sidecar` (V2 checkpoints);
  *     other unknown actions and unknown FIELDS of known actions are
  *     ignored on read, as the protocol requires.
  *   - snapshot = latest checkpoint ≤ target version (parquet, found by
  *     listing; `_last_checkpoint` is treated as a hint, not truth)
  *     replayed forward with the JSON tail — classic single-file,
  *     multi-part, AND V2 (UUID-named manifest + `_sidecars/` files,
  *     the `v2Checkpoint` feature) forms; torn part/sidecar sets fall
  *     back to an older checkpoint. Within replay the LAST action per
  *     path wins; a `remove` tombstones the path.
  *   - reader-version gate: v1 always reads; v2 (legacy column-mapping
  *     capability) and v3 read exactly when every ACTIVE capability is
  *     one this implementation honors — `deletionVectors` (applied at
  *     every read), `columnMapping` in NAME mode (physical-name
  *     indirection from `delta.columnMapping.physicalName` metadata,
  *     resolved RECURSIVELY through nested types) and ID mode (parquet
  *     field-id resolution via `parquet.field.id` read metadata), and
  *     `v2Checkpoint`. Everything else changes row visibility or
  *     physical layout, and silently mis-reading it would corrupt
  *     results — LOUD FAILURE instead, per the engine discipline.
  *   - writer-feature gate ([[DeltaTable.ImplementedWriterFeatures]]):
  *     every commit-producing verb refuses when the table declares a
  *     writer feature this engine does not implement
  *     (`delta.appendOnly=true` → removes refuse); the validation-class
  *     features are ENFORCED, not refused — active CHECK constraints /
  *     column invariants assert per row inside the write projection,
  *     generated columns are computed or validated, identity columns
  *     assigned with the high-water-mark committed alongside
  *     ([[DeltaTable.enforceRowContract]]). Name-mode
  *     column-mapping tables take appends/merges/deletes/OPTIMIZE with
  *     PHYSICAL-name emission (files, stats keys, partitionValues);
  *     schema evolution and id-mode data writes refuse loudly.
  *   - partitioned tables: `add.partitionValues` + Hive-style paths;
  *     reads recover partition columns from the directory layout
  *     (`basePath`), then cast to the `schemaString` types, so
  *     partition pruning stays a PartitionFilters push-down.
  *   - add/remove paths are RFC-2396-style percent-encoded relative
  *     URIs, encoded on EVERY emission (commit, restore, checkpoint)
  *     and decoded on every replay, so a partition value Spark escapes
  *     in directory names (`%`, `:`) round-trips, and foreign Delta
  *     readers see the encoding the protocol prescribes.
  *
  * Scale shape (the round-12 distributed metadata plane): the file
  * census is NEVER materialized unpruned on the driver. Snapshot
  * metadata (schema, partition columns, txn water-marks, protocol) is
  * recovered from column-pruned sub-selects of the checkpoint parquet
  * plus the JSON tail — both bounded by the checkpoint interval, not
  * the table. The file census itself stays a DataFrame
  * ([[fileCensus]]): checkpoint `add` rows ride a columnar scan, the
  * tail's adds/removes overlay as a broadcast anti-join, and the
  * stats-envelope comparison of [[readWhere]]/[[merge]]/[[delete]] is
  * pushed down as a Spark filter over the census so the driver collects
  * ONLY the surviving files — O(prune survivors), which is the ratio
  * the skipping index exists to exploit. Full-table scans ([[read]])
  * collect live PATHS only (no stats JSON), the minimum any multi-path
  * scan API needs. The DATA plane is one multi-path parquet scan —
  * predicate/partition pruning intact. Checkpointing compacts the log
  * so replay cost never grows with table age, and the checkpoint
  * itself is WRITTEN distributed: census rows flow from the old
  * checkpoint scan through an executor task into the new one without
  * ever landing on the driver.
  *
  * Commit publish is an atomic same-FS `createLink` ([[publish]]): two
  * racing writers of version v cannot both
  * win, which is exactly the protocol's "mutual exclusion on the
  * commit file" requirement (on S3-class stores this would ride a
  * conditional PUT / DynamoDB lock, same contract).
  */
final case class DeltaTable(root: String) {
  import DeltaTable._

  private def logDir: Path = Paths.get(root, "_delta_log")
  private def commitPath(v: Long): Path = logDir.resolve(f"$v%020d.json")
  private def checkpointPath(v: Long): Path =
    logDir.resolve(f"$v%020d.checkpoint.parquet")
  private def checkpointPartPath(v: Long, part: Int, of: Int): Path =
    logDir.resolve(f"$v%020d.checkpoint.$part%010d.$of%010d.parquet")

  private def listLog(suffix: String): Seq[(Long, Path)] =
    if (!Files.isDirectory(logDir)) Nil
    else Files.list(logDir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(suffix))
      .flatMap { p =>
        val name = p.getFileName.toString.stripSuffix(suffix)
        if (name.length == 20 && name.forall(_.isDigit)) Some(name.toLong -> p)
        else None
      }.toSeq.sortBy(_._1)

  /** One checkpoint candidate: `parts` is the file set whose union
    * carries the control rows, and for the V2 form (`v2` true) the add
    * census additionally lives in sidecar files the manifest parquet
    * names — resolved (and completeness-checked) in [[logState]],
    * since the sidecar list is inside the manifest. */
  private final case class CpRef(version: Long, parts: Seq[Path], v2: Boolean)

  /** COMPLETE checkpoints by version, in the protocol's three forms:
    * single-file (`%020d.checkpoint.parquet`), multi-part
    * (`%020d.checkpoint.%010d.%010d.parquet`, the classic large-table
    * form), and V2 (`%020d.checkpoint.<uniqueStr>.parquet`, the
    * `v2Checkpoint` table feature delta-spark 3.x writes — a UUID-named
    * manifest whose `sidecar` actions point at add/remove files under
    * `_delta_log/_sidecars/`). A multi-part checkpoint counts only when
    * ALL its declared parts are present — a torn upload must read as
    * "no checkpoint here", falling back to an older one + longer tail,
    * never a partial census; V2 sidecar completeness is checked at
    * resolution time with the same fallback. */
  private def listCheckpoints(): Seq[CpRef] = {
    val single = listLog(".checkpoint.parquet")
      .map { case (v, p) => CpRef(v, Seq(p), v2 = false) }
    val multiRe = """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
    val v2Re = """^(\d{20})\.checkpoint\.([^.]+)\.parquet$""".r
    val names =
      if (!Files.isDirectory(logDir)) Nil
      else Files.list(logDir).iterator.asScala.toSeq
    val multi = names.flatMap { p =>
        p.getFileName.toString match {
          case multiRe(v, part, of) => Some((v.toLong, part.toInt, of.toInt, p))
          case _ => None
        }
      }
      .groupBy { case (v, _, of, _) => (v, of) }
      .collect { case ((v, of), parts) if parts.map(_._2).toSet == (1 to of).toSet =>
        CpRef(v, parts.sortBy(_._2).map(_._4), v2 = false)
      }.toSeq
    val v2 = names.flatMap { p =>
      p.getFileName.toString match {
        // the unique segment is a UUID-class string; a pure-digit segment
        // is a (possibly torn) multi-part name, never a V2 manifest
        case v2Re(v, uid) if !uid.forall(_.isDigit) =>
          Some(CpRef(v.toLong, Seq(p), v2 = true))
        case _ => None
      }
    }
    (single ++ multi ++ v2).sortBy(c => (c.version, c.parts.size, c.v2))
  }

  /** Highest committed version, if any. */
  def latestVersion: Option[Long] = listLog(".json").lastOption.map(_._1)

  // ---- snapshot reconstruction (metadata plane) ------------------------

  private[lake] final case class AddFile(path: String,
      partitionValues: Map[String, String], size: Long,
      modificationTime: Long, statsJson: Option[String],
      tags: Map[String, String], dv: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  /** Tail overlay on top of the checkpoint: `adds` is the tail's final
    * live set (last action per path wins, applied driver-side — the
    * tail is bounded by the checkpoint interval), `masked` is every
    * path the tail touched (its checkpoint row, if any, is stale),
    * `tombstones` maps paths removed in the tail (and not re-added) to
    * their deletionTimestamp — carried into the next checkpoint as
    * protocol `remove` tombstone rows. */
  private final case class Tail(adds: Seq[AddFile], masked: Set[String],
      tombstones: Map[String, Long])

  /** Everything about a snapshot EXCEPT the unbounded file census:
    * schema/partitioning/txn metadata plus the (checkpoint + sidecars,
    * tail) recipe [[fileCensus]] turns into a DataFrame. */
  private final case class LogState(version: Long, schema: StructType,
      partitionColumns: Seq[String], txns: Map[String, Long],
      checkpointFiles: Seq[Path], tail: Tail,
      minReader: Int = 1, minWriter: Int = 2,
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty,
      columnMappingMode: String = "none",
      configuration: Map[String, String] = Map.empty,
      tableId: Option[String] = None,
      sidecarFiles: Seq[Path] = Nil,
      domains: Map[String, String] = Map.empty) {
    /** logical → physical column names (column-mapping name and id
      * modes): the `delta.columnMapping.physicalName` field metadata
      * delta-spark records in `schemaString`. Identity for mode `none`
      * (no metadata present). Physical names are what the parquet
      * footers, partition dir names, `partitionValues` keys and stats
      * JSON keys all carry. Nested fields resolve through
      * [[DeltaTable.physicalField]] (the scan-schema builder); this map
      * serves the TOP-LEVEL keys (stats, partitionValues, predicates). */
    val physicalNames: Map[String, String] = schema.fields.flatMap { f =>
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        Some(f.name -> f.metadata.getString("delta.columnMapping.physicalName"))
      else None
    }.toMap
    def phys(c: String): String = physicalNames.getOrElse(c, c)
    /** Change-data-feed flag: DELETE/MERGE serialize their row-level
      * change set into `_change_data` files when set. */
    def cdfEnabled: Boolean =
      configuration.get("delta.enableChangeDataFeed").contains("true")
    /** Declared writer features (explicit list at v7, legacy-implied
      * below) — the set the write contract gates on. */
    def declaredWriterFeatures: Set[String] =
      if (minWriter >= 7) writerFeatures else legacyWriterFeatures(minWriter)
    /** Row tracking states, per the protocol: SUPPORTED (the feature is
      * declared — every writer must assign fresh row ids and maintain
      * the high-water mark) vs ENABLED (delta.enableRowTracking=true —
      * row ids must additionally be PRESERVED when rows move, which
      * needs the materialized row-id column this engine does not
      * write: row-moving verbs refuse on enabled tables). */
    def rowTrackingSupported: Boolean =
      declaredWriterFeatures.contains("rowTracking")
    def rowTrackingEnabled: Boolean = rowTrackingSupported &&
      configuration.get("delta.enableRowTracking").contains("true")
    /** icebergCompatV2 (UniForm) ACTIVE state: the writer feature is
      * declared AND `delta.enableIcebergCompatV2=true`. A declared but
      * inactive feature imposes nothing (delta-spark parity); active,
      * every new data file must carry Iceberg-compatible field ids and
      * numRecords stats — see the append-time contract in [[commit]]. */
    def icebergCompatV2Active: Boolean =
      declaredWriterFeatures.contains("icebergCompatV2") &&
        configuration.get("delta.enableIcebergCompatV2").contains("true")
    /** The protocol's MATERIALIZED row-tracking column names (enabled
      * state): parquet columns — outside the table schema — where
      * row-moving writers persist each row's id and last-modified
      * commit version; on read they take precedence over the
      * baseRowId + row-index / defaultRowCommitVersion defaults. */
    def materializedRowIdCol: Option[String] =
      configuration.get(DeltaTable.MatRowIdKey)
    def materializedRowCommitVersionCol: Option[String] =
      configuration.get(DeltaTable.MatRowCommitVersionKey)
    /** The protocol's `delta.rowTracking` domain high-water mark: the
      * highest row id ever assigned (−1 before any assignment). The
      * domain configuration is a JSON string
      * `{"rowIdHighWaterMark": N}`. */
    def rowIdHighWaterMark: Long =
      domains.get(DeltaTable.RowTrackingDomain).flatMap { c =>
        // foreign tables may carry the domain with an EMPTY configuration
        // (the loader maps a missing field to ""); that is "mark unset".
        // But a present, non-empty configuration that fails to parse, or
        // parses without the mark, must fail LOUDLY: silently mapping it
        // to -1 would restart id blocks at 0 and reuse assigned row ids.
        if (c.trim.isEmpty) None
        else {
          val n = scala.util.Try(LogJson.readTree(c)).toOption
            .filter(n => n != null && n.hasNonNull("rowIdHighWaterMark"))
            .getOrElse(throw new IllegalStateException(
              s"delta.rowTracking domain carries an unparsable " +
                s"configuration ${c.take(200)}: refusing to guess the " +
                "row-id high-water mark (a wrong guess reuses row ids)"))
          Some(n.get("rowIdHighWaterMark").asLong)
        }
      }.getOrElse(-1L)
    /** Clustering columns declared by the `delta.clustering` domain —
      * one dotted path per column (the protocol stores each as a
      * field-name path array). Empty when the domain is absent; a
      * present-but-unparsable configuration fails loudly (guessing the
      * clustering key would recluster a foreign table along the wrong
      * columns). */
    def clusteringColumns: Seq[String] =
      domains.get(DeltaTable.ClusteringDomain).filter(_.trim.nonEmpty)
        .map { c =>
          val n = scala.util.Try(LogJson.readTree(c)).toOption
            .filter(n => n != null && n.has("clusteringColumns") &&
              n.get("clusteringColumns").isArray)
            .getOrElse(throw new IllegalStateException(
              s"delta.clustering domain carries an unparsable " +
                s"configuration ${c.take(200)}"))
          n.get("clusteringColumns").elements().asScala.map { p =>
            require(p.isArray && p.size >= 1,
              s"delta.clustering column path $p is not a non-empty array")
            p.elements().asScala.map(_.asText).mkString(".")
          }.toSeq
        }.getOrElse(Nil)
  }

  /** Reader features this implementation actually honors (protocol v3):
    * add.deletionVector descriptors are applied at every read, column
    * mapping is resolved on read for `name` mode (physical-name
    * indirection in the schema JSON) and `id` mode (parquet field-id
    * resolution via the read schema's `parquet.field.id` metadata), and
    * V2 checkpoints (UUID manifest + sidecars) are stitched into the
    * census. Every other feature changes row visibility or physical
    * layout, and silently mis-reading it would corrupt results — LOUD
    * FAILURE instead, per the engine discipline. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint",
      // TIMESTAMP_NTZ columns read natively (Spark TimestampNTZType);
      // vacuumProtocolCheck constrains VACUUM, which gates on the
      // writer contract before deleting anything
      "timestampNtz", "vacuumProtocolCheck",
      // typeWidening (r17): old files keep their NARROW physical type
      // and every read serves the current (widened) schema — exactly
      // what this engine's scans already do: the declared schema is
      // the explicit read schema, and Spark's parquet reader promotes
      // int8/16/32→long, int→double, float→double in the vectorized
      // path (an unpromotable pair fails the scan LOUDLY, never
      // silently). Stats envelopes cast per the declared type, so
      // skipping stays exact across the widening boundary.
      "typeWidening", "typeWideningPreview",
      // variantType (r17): VARIANT columns are stored in parquet as
      // the open binary-encoded struct<metadata, value> pair, which is
      // exactly what Spark's own VariantType parquet path reads and
      // writes — the schemaString's "variant" entries parse natively,
      // the scan serves VariantType, and variant_get works downstream
      "variantType", "variantType-preview")

  /** Per-INSTANCE snapshot memo. Every verb resolves the current
    * snapshot, and a verb that commits resolves it again inside
    * [[commit]] — on a checkpointed table each resolution paid a
    * control-row parquet read (2 Spark jobs), so a single
    * write-checkpoint-read query replayed the same immutable snapshot
    * six times (measured: q_delta_checkpoint ran 30 jobs, most of them
    * this). The key carries everything a replay depends on — target
    * version, latest version, newest candidate checkpoint version — so
    * any commit or checkpoint write (by this instance or an external
    * writer) changes the key and misses. The memo lives on the
    * DeltaTable INSTANCE: each bench run constructs a fresh one, so
    * nothing is reused across timed runs. */
  private val logStateMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, Long, Long), LogState]()

  /** Parquet footer-schema memo for the IMMUTABLE log artifacts
    * (checkpoints, manifests, sidecars — content-unique names): the
    * schema-inference pass `spark.read.parquet` runs is one Spark job
    * per call; the second and later reads of the same file set skip it.
    * Same instance-lifetime scope as [[logStateMemo]]. */
  private val footerSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def parquetCached(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    val key = paths.map(_.toString).sorted.mkString(" ")
    val cached = footerSchemaMemo.get(key)
    if (cached != null) spark.read.schema(cached).parquet(paths.map(_.toString): _*)
    else {
      val df = spark.read.parquet(paths.map(_.toString): _*)
      footerSchemaMemo.put(key, df.schema)
      df
    }
  }

  private def logState(spark: SparkSession, version: Option[Long]): LogState = {
    val latest = latestVersion.getOrElse(throw new IllegalStateException(
      s"DeltaTable $root: no _delta_log commits"))
    val target = version.getOrElse(latest)
    require(target <= latest,
      s"DeltaTable $root: version $target > latest $latest")
    val cpCandidate = listCheckpoints().filter(_.version <= target)
      .lastOption.map(_.version).getOrElse(-1L)
    val key = (target, latest, cpCandidate)
    val cached = logStateMemo.get(key)
    // serve the memo only while every file it references still exists —
    // a torn/replaced checkpoint set (same versions, different files) is
    // invisible to the version key; the existence probe is a local
    // filesystem stat, not a Spark job, so the memo's win (zero parquet
    // control reads on a hit) survives intact
    if (cached != null && cached.checkpointFiles.forall(Files.exists(_)) &&
        cached.sidecarFiles.forall(Files.exists(_))) cached
    else {
      val st = logStateUncached(spark, target)
      logStateMemo.put(key, st)
      st
    }
  }

  private def logStateUncached(spark: SparkSession, target: Long): LogState = {

    // Newest resolvable checkpoint ≤ target: a V2 manifest resolves only
    // when EVERY sidecar file it names exists (a torn sidecar set reads
    // as "no checkpoint here", exactly like a torn multi-part set) —
    // fall back to the next older candidate, then to pure JSON replay.
    val cpCandidates = listCheckpoints().filter(_.version <= target).reverse
    val cp: Option[(CpRef, Seq[Path])] = cpCandidates.view.map { c =>
      if (!c.v2) Some((c, Seq.empty[Path]))
      else {
        val sidecars = sidecarsOf(spark, c.parts.head)
        if (sidecars.forall(Files.exists(_))) Some((c, sidecars)) else None
      }
    }.collectFirst { case Some(r) => r }
    val txns = mutable.HashMap.empty[String, Long]
    var schemaJson: Option[String] = None
    var partCols: Seq[String] = Nil
    var configuration = Map.empty[String, String]
    var tableId: Option[String] = None
    var minReader = 1
    var minWriter = 2
    val readerFeats = mutable.HashSet.empty[String]
    val writerFeats = mutable.HashSet.empty[String]
    // live domainMetadata state (domain → configuration string): the
    // checkpoint's domains load first, the JSON tail overlays (last
    // action per domain wins; removed=true deletes), per the protocol
    val domains = mutable.LinkedHashMap.empty[String, String]

    cp.foreach { case (ref, _) =>
      // ONE column-pruned control-row read: metaData/protocol/txn are a
      // handful of rows, selected together and filtered to non-null so a
      // single Spark job (not three) fetches them; the (possibly
      // 10^7-row) add census is NEVER collected here — it stays behind
      // the [[fileCensus]] DataFrame. For V2 checkpoints the control
      // rows live in the manifest; sidecars carry only add/remove.
      val df = parquetCached(spark, ref.parts)
      // resolve the FULL dotted path against the parquet schema (walking
      // nested StructTypes), not just the top-level column: a checkpoint
      // written before this engine carried protocol.readerFeatures — or
      // by a minimal foreign writer — has a narrower protocol/add struct,
      // and col("protocol.readerFeatures") over it would throw
      // AnalysisException instead of reading as null
      def fld(path: String, dt: DataType): Column = {
        val resolved = path.split('.')
          .foldLeft(Option(df.schema: DataType)) {
            case (Some(s: StructType), seg) => s.find(_.name == seg).map(_.dataType)
            case _ => None
          }
        if (resolved.isDefined) col(path).cast(dt) else lit(null).cast(dt)
      }
      val ctrl = df.select(
        fld("protocol.minReaderVersion", IntegerType).as("_mr"),
        fld("metaData.schemaString", StringType).as("_schema"),
        fld("metaData.partitionColumns", ArrayType(StringType)).as("_pc"),
        fld("txn.appId", StringType).as("_app"),
        fld("txn.version", LongType).as("_tv"),
        fld("protocol.minWriterVersion", IntegerType).as("_mw"),
        fld("protocol.readerFeatures", ArrayType(StringType)).as("_rf"),
        fld("protocol.writerFeatures", ArrayType(StringType)).as("_wf"),
        fld("metaData.configuration", MapType(StringType, StringType))
          .as("_conf"),
        fld("metaData.id", StringType).as("_id"),
        fld("domainMetadata.domain", StringType).as("_dom"),
        fld("domainMetadata.configuration", StringType).as("_domConf"),
        fld("domainMetadata.removed", BooleanType).as("_domRm"))
        .na.drop("all").collect()
      ctrl.foreach { r =>
        if (!r.isNullAt(0)) minReader = math.max(minReader, r.getInt(0))
        if (!r.isNullAt(1)) schemaJson = Some(r.getString(1))
        if (!r.isNullAt(2)) partCols = r.getSeq[String](2)
        if (!r.isNullAt(3) && !r.isNullAt(4))
          txns(r.getString(3)) = math.max(
            txns.getOrElse(r.getString(3), Long.MinValue), r.getLong(4))
        if (!r.isNullAt(5)) minWriter = math.max(minWriter, r.getInt(5))
        if (!r.isNullAt(6)) readerFeats ++= r.getSeq[String](6)
        if (!r.isNullAt(7)) writerFeats ++= r.getSeq[String](7)
        if (!r.isNullAt(8))
          configuration = r.getMap[String, String](8).toMap
        if (!r.isNullAt(9)) tableId = Some(r.getString(9))
        if (!r.isNullAt(10)) {
          if (!r.isNullAt(12) && r.getBoolean(12)) domains.remove(r.getString(10))
          else domains(r.getString(10)) =
            if (r.isNullAt(11)) "" else r.getString(11)
        }
      }
    }

    val from = cp.map(_._1.version + 1).getOrElse(0L)
    val commits = listLog(".json").filter { case (v, _) => v >= from && v <= target }
    require(commits.map(_._1) == (from to target),
      s"DeltaTable $root: log gap — need versions $from..$target, " +
        s"have ${commits.map(_._1).mkString(",")}")

    val active = mutable.LinkedHashMap.empty[String, AddFile]
    val masked = mutable.HashSet.empty[String]
    val tombstones = mutable.HashMap.empty[String, Long]
    commits.foreach { case (v, _) =>
      commitActions(v).foreach { node =>
        val add = node.get("add")
        val remove = node.get("remove")
        val meta = node.get("metaData")
        val protocol = node.get("protocol")
        if (protocol != null && protocol.hasNonNull("minReaderVersion")) {
          minReader = math.max(minReader, protocol.get("minReaderVersion").asInt)
          if (protocol.hasNonNull("minWriterVersion"))
            minWriter = math.max(minWriter,
              protocol.get("minWriterVersion").asInt)
          if (protocol.hasNonNull("readerFeatures"))
            readerFeats ++= protocol.get("readerFeatures").elements.asScala
              .map(_.asText)
          if (protocol.hasNonNull("writerFeatures"))
            writerFeats ++= protocol.get("writerFeatures").elements.asScala
              .map(_.asText)
        }
        if (meta != null) {
          if (meta.hasNonNull("schemaString"))
            schemaJson = Some(meta.get("schemaString").asText)
          if (meta.hasNonNull("partitionColumns"))
            partCols = meta.get("partitionColumns").elements.asScala
              .map(_.asText).toSeq
          if (meta.hasNonNull("id")) tableId = Some(meta.get("id").asText)
          configuration = mapOf(meta, "configuration")
        }
        val dom = node.get("domainMetadata")
        if (dom != null && dom.hasNonNull("domain")) {
          if (dom.hasNonNull("removed") && dom.get("removed").asBoolean)
            domains.remove(dom.get("domain").asText)
          else domains(dom.get("domain").asText) =
            if (dom.hasNonNull("configuration"))
              dom.get("configuration").asText
            else ""
        }
        if (add != null && add.hasNonNull("path")) {
          val path = decodePath(add.get("path").asText)
          def lng(k: String): Long =
            if (add.hasNonNull(k)) add.get(k).asLong else 0L
          def optLng(k: String): Option[Long] =
            if (add.hasNonNull(k)) Some(add.get(k).asLong) else None
          val st = if (add.hasNonNull("stats")) Some(add.get("stats").asText)
                   else None
          active(path) = AddFile(path, mapOf(add, "partitionValues"),
            lng("size"), lng("modificationTime"), st, mapOf(add, "tags"),
            dvOf(add),
            optLng("baseRowId"), optLng("defaultRowCommitVersion"))
          masked += path
          tombstones.remove(path)
        }
        if (remove != null && remove.hasNonNull("path")) {
          val path = decodePath(remove.get("path").asText)
          active.remove(path)
          masked += path
          tombstones(path) =
            if (remove.hasNonNull("deletionTimestamp"))
              remove.get("deletionTimestamp").asLong
            else System.currentTimeMillis
        }
        val txn = node.get("txn")
        if (txn != null && txn.hasNonNull("appId") && txn.hasNonNull("version")) {
          val app = txn.get("appId").asText
          txns(app) = math.max(txns.getOrElse(app, Long.MinValue),
            txn.get("version").asLong)
        }
      }
    }

    // Reader gate, per the protocol's table-features contract: v1
    // always readable; v2 (legacy column-mapping capability) and v3
    // (explicit feature lists) readable exactly when every ACTIVE
    // capability is one this implementation honors — deletionVectors,
    // columnMapping (`name` mode physical-name indirection and `id`
    // mode parquet field-id resolution), and v2Checkpoint (UUID
    // manifest + sidecars). Any other feature/mode refuses loudly
    // rather than mis-read.
    val mode = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name" || mode == "id",
      s"DeltaTable $root: delta.columnMapping.mode '$mode' unsupported " +
        "(name/id-mode reads only) — refusing to mis-read the table")
    val unsupported = readerFeats.toSet -- SupportedReaderFeatures
    require(minReader <= 2 || (minReader == 3 && unsupported.isEmpty),
      s"DeltaTable $root: minReaderVersion $minReader with reader features " +
        s"${readerFeats.toSeq.sorted.mkString(",")} — unsupported: " +
        s"${unsupported.toSeq.sorted.mkString(",")}; refusing to mis-read " +
        "the table")
    val schema = schemaJson.map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"DeltaTable $root: no metaData action found up to v$target"))
    LogState(target, schema, partCols, txns.toMap,
      cp.map(_._1.parts).getOrElse(Nil),
      Tail(active.values.toSeq, masked.toSet, tombstones.toMap),
      minReader, minWriter, readerFeats.toSet, writerFeats.toSet, mode,
      configuration, tableId, cp.map(_._2).getOrElse(Nil), domains.toMap)
  }

  /** Live domainMetadata state of the snapshot (domain → configuration
    * JSON string) — the protocol's named metadata domains: the
    * row-tracking high-water mark (`delta.rowTracking`), clustering
    * state, and whatever foreign domains the table carries. O(domains)
    * driver rows, returned as a DataFrame so it composes like any
    * metadata surface. */
  def domainMetadata(spark: SparkSession, version: Option[Long] = None)
      : DataFrame = {
    val st = logState(spark, version)
    spark.createDataFrame(
      st.domains.toSeq.sortBy(_._1).map { case (d, c) => Row(d, c) }.asJava,
      StructType(Seq(StructField("domain", StringType),
        StructField("configuration", StringType))))
  }

  /** (version, data-changing add count, add bytes) per commit in
    * `(fromExclusive, toInclusive]` — the bounded driver-side parse
    * incremental consumers batch their pulls by
    * ([[graft.streaming.StreamingDelta.relay]]'s
    * maxFilesPerPull/maxBytesPerPull caps). O(commits in range), the
    * backlog being drained anyway; `dataChange=false` maintenance
    * counts nothing, matching the CDC feed it meters. */
  def commitSizes(fromExclusive: Long,
      toInclusive: Long): Seq[(Long, Int, Long)] =
    ((fromExclusive + 1) to toInclusive).map { v =>
      val adds = commitActions(v).map(_.get("add")).filter(dataChanging).toSeq
      (v, adds.size, adds.map(a =>
        if (a.hasNonNull("size")) a.get("size").asLong else 0L).sum)
    }

  /** Highest committed `txn` version for a writer appId (the protocol's
    * idempotent-write primitive), or None if the writer never committed
    * (or the table is empty). */
  def txnVersion(appId: String): Option[Long] =
    if (latestVersion.isEmpty) None
    else logState(SparkSession.active, None).txns.get(appId)

  /** Commit `v`'s actions, one parsed JSON node per non-empty line —
    * the one reader of the commit-file format. Lazy: a caller that
    * needs only the leading commitInfo stops parsing there. */
  private def commitActions(v: Long): Iterator[JsonNode] =
    Files.readAllLines(commitPath(v)).asScala.iterator.filter(_.nonEmpty)
      .map(LogJson.readTree)

  /** A data-changing file action: present, with a path, and not marked
    * `dataChange=false` (the OPTIMIZE rewrites) — what the change feed
    * and [[commitSizes]] count. */
  private def dataChanging(n: JsonNode): Boolean =
    n != null && n.hasNonNull("path") &&
      (!n.has("dataChange") || n.get("dataChange").asBoolean)

  /** An add/remove action's deletion-vector descriptor, as JSON. */
  private def dvOf(n: JsonNode): Option[String] =
    if (n.hasNonNull("deletionVector"))
      Some(LogJson.writeValueAsString(n.get("deletionVector")))
    else None

  private def mapOf(node: JsonNode, field: String): Map[String, String] = {
    val m = node.get(field)
    if (m == null || m.isNull) Map.empty
    else m.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  // ---- the file census as a DataFrame ----------------------------------

  /** The snapshot's live-file census as a DataFrame
    * (path, partitionValues, size, modificationTime, stats, tags) —
    * checkpoint add rows ride a columnar parquet scan (paths decoded by
    * native SQL `url_decode`, never a UDF), the tail's touched paths are
    * masked out via a broadcast anti-join (the tail is bounded by the
    * checkpoint interval), and the tail's own final adds overlay on
    * top. NOTHING here lands on the driver: callers filter first and
    * collect survivors. */
  private def fileCensus(spark: SparkSession, st: LogState): DataFrame = {
    val tailDF = spark.createDataFrame(
      st.tail.adds.map(f => Row(f.path, f.partitionValues, f.size,
        f.modificationTime, f.statsJson.orNull, f.tags,
        f.dv.orNull, f.baseRowId.map(Long.box).orNull,
        f.defaultRowCommitVersion.map(Long.box).orNull)).asJava, censusSchema)
    st.checkpointFiles match {
      case Nil => tailDF
      case cpPaths =>
        // V2 checkpoints split the census: the manifest MAY carry adds
        // inline, and sidecar files carry the rest — two projected scans
        // unioned (separate reads: manifest and sidecar schemas differ,
        // and a single multi-path scan would pick one file's schema)
        val main = checkpointAdds(spark, cpPaths)
        val cpDF =
          if (st.sidecarFiles.isEmpty) main
          else main.unionByName(checkpointAdds(spark, st.sidecarFiles))
        val base =
          if (st.tail.masked.isEmpty) cpDF
          else cpDF.join(broadcast(spark.createDataFrame(
            st.tail.masked.toSeq.sorted.map(Row(_)).asJava,
            StructType(Seq(StructField("path", StringType))))),
            Seq("path"), "left_anti")
        base.select(censusSchema.fieldNames.map(col): _*).unionByName(tailDF)
    }
  }

  /** Columnar add-census projection over one checkpoint/sidecar file
    * set, tolerant of narrower foreign `add` structs (absent fields
    * read as null). */
  private def checkpointAdds(spark: SparkSession, paths: Seq[Path]): DataFrame = {
    val df = parquetCached(spark, paths)
    df.schema.find(_.name == "add").map(_.dataType) match {
      case Some(at: StructType) =>
        val names = at.fieldNames.toSet
        def fld(n: String, dt: DataType): Column =
          if (names(n)) col(s"add.$n").cast(dt) else lit(null).cast(dt)
        df.where(col("add").isNotNull && col("add.path").isNotNull)
          .select(
            sqlDecodePath(col("add.path")).as("path"),
            coalesce(fld("partitionValues", MapType(StringType, StringType)),
              map().cast(MapType(StringType, StringType)))
              .as("partitionValues"),
            coalesce(fld("size", LongType), lit(0L)).as("size"),
            coalesce(fld("modificationTime", LongType), lit(0L))
              .as("modificationTime"),
            fld("stats", StringType).as("stats"),
            fld("tags", MapType(StringType, StringType)).as("tags"),
            (if (names("deletionVector"))
               to_json(col("add.deletionVector"))
             else lit(null).cast(StringType)).as("dv"),
            fld("baseRowId", LongType).as("baseRowId"),
            fld("defaultRowCommitVersion", LongType)
              .as("defaultRowCommitVersion"))
      case _ =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], censusSchema)
    }
  }

  private def rowToAdd(r: Row): AddFile = AddFile(
    r.getString(0),
    if (r.isNullAt(1)) Map.empty else r.getMap[String, String](1).toMap,
    if (r.isNullAt(2)) 0L else r.getLong(2),
    if (r.isNullAt(3)) 0L else r.getLong(3),
    if (r.isNullAt(4)) None else Some(r.getString(4)),
    if (r.isNullAt(5)) Map.empty else r.getMap[String, String](5).toMap,
    if (r.isNullAt(6)) None else Some(r.getString(6)),
    if (r.isNullAt(7)) None else Some(r.getLong(7)),
    if (r.isNullAt(8)) None else Some(r.getLong(8)))

  /** Collect a (pre-filtered!) census frame to AddFiles — every caller
    * is responsible for pruning first; the only full collects left are
    * the whole-table maintenance verbs (compact / restore-diff /
    * overwrite-removes), documented at their sites. */
  private def collectAdds(census: DataFrame): Seq[AddFile] =
    census.select(censusSchema.fieldNames.map(col): _*).collect()
      .toSeq.map(rowToAdd)

  /** (path, dv descriptor, partitionValues) triples for
    * [[readFilesDv]] — the partition values ride along so absolute-path
    * adds (shallow clones) can recover their partition columns from the
    * actions rather than the directory layout. */
  private def dvPairs(files: Seq[AddFile])
      : Seq[(String, Option[String], Map[String, String])] =
    files.map(f => (f.path, f.dv, f.partitionValues))

  /** path → dv descriptor map for [[commit]]'s remove emission, so a
    * removed DV-bearing file's descriptor rides its remove action (the
    * protocol's shape; [[changes]] needs it to read the removed rows
    * as they logically were). */
  private def dvMapOf(files: Seq[AddFile]): Map[String, String] =
    files.flatMap(f => f.dv.map(f.path -> _)).toMap

  /** Per-file numRecords from the `add.stats` JSON — the emptied-DV
    * collapse test (a DV covering every physical row becomes a plain
    * remove) for both [[delete]] and [[merge]]. */
  private def numRecordsOf(f: AddFile): Option[Long] = f.statsJson.flatMap { s =>
    val n = LogJson.readTree(s)
    if (n.hasNonNull("numRecords")) Some(n.get("numRecords").asLong) else None
  }

  /** Canonical form of `_metadata.file_path` for the local file at
    * absRoot/rel AFTER the executor-side `"^file:/+"` → `"/"`
    * normalization: Hadoop's Path.toUri percent-encodes the raw
    * on-disk name (space → %20, literal '%' → %25, non-ASCII → UTF-8
    * percent form), exactly what the scan's metadata column carries —
    * so BOTH sides of every DV row-index join derive from ONE
    * canonicalization. A divergence here would silently no-op a
    * DELETE/MERGE for the file, or let [[readFilesDv]]'s anti-join
    * resurrect DV-deleted rows; [[buildDvs]] additionally refuses
    * loudly on any key that fails to resolve. */
  private def metaPath(absRoot: String, rel: String): String =
    new org.apache.hadoop.fs.Path(dataPath(absRoot, rel)).toUri.toString

  /** Resolve an action's (decoded) `path` against the table root:
    * relative paths — the overwhelmingly common case — join the root;
    * ABSOLUTE paths, which the protocol explicitly allows and shallow
    * CLONEs ([[shallowCloneTo]]) record, resolve verbatim (file: URIs
    * reduced to plain paths). Every scan-path construction and DV join
    * key goes through here, so the two forms never diverge. */
  private def dataPath(absRoot: String, p: String): String =
    if (p.startsWith("file:")) p.replaceFirst("^file:/+", "/")
    else if (p.startsWith("/")) p
    else Paths.get(absRoot, p).toString

  /** The exact frame the distributed DV build collects — (canonical
    * file path, descriptor JSON or null when the merged DV covers every
    * physical row, merged cardinality). Package-visible so the spec can
    * prove the DV WRITE path's driver payload is ~100-byte descriptors,
    * never row indexes: each file's matched indexes are grouped, merged
    * with its existing DV, and SERIALIZED inside the executor task that
    * holds them ([[DeletionVectors.descriptorsFor]] runs in
    * mapPartitions — bitmaps over the inline ceiling land in one shared
    * "u" file per task, written where the rows live; small ones ride
    * the returned descriptor inline). */
  private[lake] def dvBuildFrame(spark: SparkSession, matchedRows: DataFrame,
      candidates: Seq[AddFile])
      : org.apache.spark.sql.Dataset[(String, String, Long)] = {
    import spark.implicits._
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val rootStr = root
    // candidate metadata (existing descriptor + numRecords) ships as a
    // small BROADCAST FRAME joined on the canonical path — never a
    // task-closure Map: a pathological unpruned merge would otherwise
    // serialize O(candidates) into EVERY task's closure (r14 nit)
    val metaDF = spark.createDataFrame(
      candidates.map(f => Row(metaPath(absRoot, f.path), f.dv.orNull,
        numRecordsOf(f).map(Long.box).orNull)).asJava,
      StructType(Seq(StructField("_fp", StringType),
        StructField("_old_dv", StringType), StructField("_nrec", LongType))))
    matchedRows
      .groupBy(col("_fp"))
      .agg(sort_array(collect_list(col("_ri"))).as("_rows"))
      .join(broadcast(metaDF), Seq("_fp"), "left")
      .select(col("_fp").as("_1"), col("_rows").as("_2"),
        col("_old_dv").as("_3"), col("_nrec").as("_4"))
      .as[(String, Array[Long], Option[String], Option[Long])]
      .mapPartitions { it =>
        // merge with the file's existing DV here (set union), so a
        // re-matched already-dead row is harmless and the driver never
        // sees a row index
        val merged = it.map { case (fp, rows, oldDvJson, nrec) =>
          val old = oldDvJson.map(j =>
            DeletionVectors.read(rootStr, DeletionVectors.fromJson(j)))
            .getOrElse(Array.emptyLongArray)
          (fp, (old ++ rows).distinct.sorted, nrec)
        }.toVector
        val (empt, targets) = merged.partition { case (_, m, nrec) =>
          nrec.contains(m.length.toLong) }
        val descs =
          if (targets.isEmpty) Nil
          else DeletionVectors.descriptorsFor(rootStr, targets.map(_._2))
        (empt.map { case (fp, m, _) => (fp, null: String, m.length.toLong) } ++
          targets.zip(descs).map { case ((fp, m, _), d) =>
            (fp, DeletionVectors.toJson(d), m.length.toLong) }).iterator
      }
  }

  /** Distributed DV construction shared by [[delete]] and [[merge]]:
    * `matchedRows` is the (canonical file path `_fp`, physical row
    * index `_ri`) frame of rows to kill; the merged bitmaps are built
    * and serialized in executor tasks ([[dvBuildFrame]]) and the driver
    * collects ONLY descriptors — O(touched files), never O(matched
    * rows): a 100 TB upsert touching 10⁹ rows costs the driver its
    * descriptor list, not 10⁹ longs. Returns (files whose merged DV
    * covers every physical row — collapse to remove-only, descriptor
    * re-adds). Refuses loudly if any executor-normalized key fails to
    * resolve into the candidate set — a canonicalization miss would
    * otherwise silently skip the file's delete. */
  private def buildDvs(spark: SparkSession, matchedRows: DataFrame,
      candidates: Seq[AddFile])
      : (Seq[AddFile], Seq[(AddFile, String)]) = {
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val byKey: Map[String, AddFile] =
      candidates.map(f => metaPath(absRoot, f.path) -> f).toMap
    val results = dvBuildFrame(spark, matchedRows, candidates).collect()
    val unknown = results.map(_._1).filterNot(byKey.contains)
    require(unknown.isEmpty,
      s"DeltaTable $root: DV path canonicalization mismatch — scanned " +
        s"file(s) ${unknown.take(3).mkString(", ")} resolve to no " +
        "candidate; a silent miss would no-op the delete for those rows")
    val emptied = results.collect { case (fp, j, _) if j == null => byKey(fp) }.toSeq
    val descs = results.collect { case (fp, j, _) if j != null =>
      byKey(fp) -> j }.toSeq
    (emptied, descs)
  }

  /** (path, deletionVector descriptor, partitionValues) triples — what
    * a full-table scan minimally needs: the path strings plus, for the
    * (few, boundary-delete-produced) DV-bearing files, a ~100-byte
    * descriptor; on PARTITIONED tables the per-file partitionValues map
    * rides too (the same strings Spark's own InMemoryFileIndex holds
    * per file — needed so absolute-path clone adds recover partition
    * columns from the actions). The stats JSON never rides along (the
    * census stays a DataFrame and only these columns are collected —
    * [[livePathsFrame]] is that projection, spec-asserted).
    *
    * DOCUMENTED DRIVER BOUND, O(live files) path strings: this is the
    * standard floor for ANY full-table scan — Spark's own
    * InMemoryFileIndex holds the identical path list on the driver
    * before planning splits, so a bounded alternative would only move
    * the same strings one layer down. Concretely: ~60 bytes/path means
    * 10⁵ files ≈ 6 MB (routine), 10⁷ files ≈ 600 MB (pathological —
    * a table that should have been compacted or partition-pruned;
    * [[readWhere]] collects survivors only and is the prescribed
    * 100 TB path, and [[compact]]/[[compactIncremental]] are the
    * maintenance fix).
    * Stats-bearing columns would multiply that by 10-100×, which is why
    * they are projected away HERE, not downstream. */
  private def livePathDvs(spark: SparkSession,
      st: LogState): Seq[(String, Option[String], Map[String, String])] =
    livePathsFrame(spark, st).collect().toSeq.map { r =>
      (r.getString(0), Option(r.getString(1)),
        if (r.length < 3 || r.isNullAt(2)) Map.empty[String, String]
        else r.getMap[String, String](2).toMap)
    }

  /** Census collect for the whole-table OPTIMIZE verbs and
    * [[readWithRowLineage]]: like [[livePathDvs]] but keeping each
    * file's baseRowId/defaultRowCommitVersion lineage, so ONE collect
    * serves both the plain and the lineage-preserving read — stats and
    * tags are dropped before the collect, so the driver holds paths
    * plus two longs per file, never the skipping index. */
  private def liveAddsLineage(spark: SparkSession,
      st: LogState): Seq[AddFile] =
    fileCensus(spark, st).select(col("path"), col("partitionValues"),
        col("dv"), col("baseRowId"), col("defaultRowCommitVersion"))
      .collect().toSeq.map(r => AddFile(r.getString(0),
        if (r.isNullAt(1)) Map.empty else r.getMap[String, String](1).toMap,
        0L, 0L, None, Map.empty,
        if (r.isNullAt(2)) None else Some(r.getString(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))

  /** Enabled-state row-tracking preamble shared by every row-moving
    * verb: resolve (assigning if needed) the materialized column names
    * and return them as the commit's `materializedCols`, or Nil when
    * the table is not in the enabled state (fresh ids are then legal —
    * the protocol only demands stability once enabled). */
  private def preserveCols(spark: SparkSession,
      st: LogState): (LogState, Seq[String]) =
    if (!st.rowTrackingEnabled) (st, Nil)
    else {
      val (s, i, v) = ensureMaterializedRowTracking(spark, st)
      (s, Seq(i, v))
    }

  /** The exact frame [[livePathDvs]] collects — package-visible so the
    * spec can prove the full-scan driver payload on an UNPARTITIONED
    * table is the path strings (plus tiny DV descriptors) and NOTHING
    * else (no stats); partitioned tables add only the partitionValues
    * column. */
  private[lake] def livePathsFrame(spark: SparkSession): DataFrame =
    livePathsFrame(spark, logState(spark, None))

  private def livePathsFrame(spark: SparkSession, st: LogState): DataFrame =
    if (st.partitionColumns.isEmpty) fileCensus(spark, st).select("path", "dv")
    else fileCensus(spark, st).select("path", "dv", "partitionValues")

  // ---- stats-envelope pruning, pushed down as Spark filters ------------

  /** Typed per-file stat bound from the `add.stats` JSON, cast to the
    * COLUMN's own Spark type — integral types compare exactly (no
    * double round-trip past 2^53) and strings compare in Spark's UTF-8
    * binary order, matching how the min/max were computed. */
  private def statBound(kind: String, column: String, dt: DataType): Column =
    get_json_object(col("stats"), s"$$.$kind.$column").cast(dt)

  private def nullCountOf(column: String): Column =
    get_json_object(col("stats"), s"$$.nullCount.$column").cast(LongType)

  private def numRecords: Column =
    get_json_object(col("stats"), "$.numRecords").cast(LongType)

  /** Envelope may intersect [lo, hi] — statless files (or bounds the
    * stats don't carry) conservatively TRUE (must scan), so pruning
    * never loses rows. A file whose stats PROVE the column is all-NULL
    * (nullCount == numRecords) can never match a range predicate and is
    * pruned — and for [[delete]] that correctly leaves it untouched,
    * because SQL NULLs never match the predicate either.
    *
    * PARTITION columns (r12) have no per-file stats — every row shares
    * the `add.partitionValues` entry, so the envelope degenerates to an
    * exact point comparison on the typed partition value: metadata
    * partition pruning for readWhere/merge/delete on the same census
    * filter path (unparseable/null values conservatively kept). */
  private def mayIntersectCol(st: LogState, column: String,
      lo: Any, hi: Any): Column = {
    val dt = st.schema(column).dataType
    // partitionValues keys and stats JSON keys carry the PHYSICAL name
    // on column-mapping tables (identity otherwise)
    val pc = st.phys(column)
    if (st.partitionColumns.contains(column)) {
      val v = col("partitionValues").getItem(pc).cast(dt)
      coalesce(v >= lit(lo).cast(dt) && v <= lit(hi).cast(dt), lit(true))
    } else {
      val mn = statBound("minValues", pc, dt)
      val mx = statBound("maxValues", pc, dt)
      val allNull = coalesce(
        nullCountOf(pc) === numRecords && numRecords > 0L, lit(false))
      coalesce(mx >= lit(lo).cast(dt) && mn <= lit(hi).cast(dt), lit(true)) &&
        !allNull
    }
  }

  /** Envelope provably inside [lo, hi] AND provably NULL-free — the
    * remove-only fast-drop guard for [[delete]]. Requiring
    * nullCount == 0 (not just min/max containment) is what keeps a
    * stats-bearing file that mixes in-range values with NULLs on the
    * rewrite path: its NULL rows must survive the delete, and min/max
    * alone cannot see them. Files without stats (or without nullCount)
    * are conservatively FALSE — always exact, never fast-dropped.
    * A PARTITION column's parsed value in range IS containment proof:
    * every row carries exactly that non-null value, so deleting a whole
    * partition is pure metadata. */
  private def containedInCol(st: LogState, column: String,
      lo: Any, hi: Any): Column = {
    val dt = st.schema(column).dataType
    val pc = st.phys(column)
    if (st.partitionColumns.contains(column)) {
      val v = col("partitionValues").getItem(pc).cast(dt)
      coalesce(v >= lit(lo).cast(dt) && v <= lit(hi).cast(dt), lit(false))
    } else {
      val mn = statBound("minValues", pc, dt)
      val mx = statBound("maxValues", pc, dt)
      coalesce(mn >= lit(lo).cast(dt) && mx <= lit(hi).cast(dt) &&
        nullCountOf(pc) === 0L, lit(false))
    }
  }

  /** (mayMatch, allMatch) census envelopes for an ARBITRARY row
    * predicate (r16), translated from the parsed expression tree:
    * `mayMatch` OVER-approximates "some row of the file may satisfy the
    * predicate" — files failing it are pruned, never opened; `allMatch`
    * UNDER-approximates "every live row provably satisfies it" — the
    * remove-only whole-file fast path. AND/OR compose envelope-wise;
    * NOT flips by duality (may(¬x) = ¬all(x), all(¬x) = ¬may(x) —
    * sound exactly because may over- and all under-approximate);
    * comparisons / equality / IN / IS [NOT] NULL against literals read
    * the typed stats envelope (partition columns compare the typed
    * partitionValues point value, like [[mayIntersectCol]]). ANY
    * unrecognized node — expressions over multiple columns, function
    * calls, subqueries — degrades to (true, false): scan the file,
    * never fast-drop it. The conservative floor keeps every predicate
    * CORRECT; selective single-column conjuncts keep the common shapes
    * (`lang = 'en' AND quality < 0.3`) pruned exactly like the range
    * forms. */
  private def predicateEnvelopes(st: LogState, predicateSql: String)
      : (Column, Column) = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def attrName(e: ce.Expression): Option[String] = e match {
      // multi-part names (nested struct fields, r17) ride the DOTTED
      // path — [[resolve]] walks the schema level by level and the
      // stats JSON paths nest the same way ($.minValues.meta.lang),
      // exactly the protocol's nested-stats shape
      case a: UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case _ => None
    }
    // resolve a (possibly dotted) attribute to its LEAF field and the
    // stats-JSON key path — each level mapped to its PHYSICAL name on
    // column-mapping tables. Parts that would break a JSON path
    // (quotes, dots inside one name, brackets) degrade to None → the
    // conservative (true, false) envelope, scan-never-fast-drop.
    def resolve(n: String): Option[(String, StructField)] = {
      val parts = n.split('.')
      def jsonSafe(s: String): Boolean =
        s.nonEmpty && s.forall(c => c.isLetterOrDigit || c == '_' || c == '-')
      def walk(fields: Seq[StructField], ps: List[String],
          acc: List[String]): Option[(String, StructField)] = ps match {
        case Nil => None
        case p :: rest =>
          fields.find(_.name.equalsIgnoreCase(p)).flatMap { f =>
            val phys =
              if (f.metadata.contains(DeltaTable.PhysNameKey))
                f.metadata.getString(DeltaTable.PhysNameKey)
              else f.name
            if (!jsonSafe(phys)) None
            else rest match {
              case Nil => Some(((phys :: acc).reverse.mkString("."), f))
              case _ => f.dataType match {
                case s: StructType => walk(s.fields.toSeq, rest, phys :: acc)
                case _ => None
              }
            }
          }
      }
      walk(st.schema.fields.toSeq, parts.toList, Nil)
    }
    def field(n: String): Option[StructField] = resolve(n).map(_._2)
    def cmp(name: String, l: ce.Literal, op: String): (Column, Column) =
      resolve(name) match {
        case None => (lit(true), lit(false))
        case Some((statsPath, f)) =>
          // the literal rides back through its own SQL form — typed
          // (DATE '...', 'str', 1.5) and cast to the COLUMN's type, so
          // integral columns compare exactly and strings binary, the
          // same discipline as statBound
          val v = expr(l.sql).cast(f.dataType)
          if (!name.contains('.') && st.partitionColumns.contains(f.name)) {
            val p = col("partitionValues").getItem(st.phys(f.name))
              .cast(f.dataType)
            val c = op match {
              case "="  => p === v
              case ">"  => p > v
              case ">=" => p >= v
              case "<"  => p < v
              case "<=" => p <= v
            }
            (coalesce(c, lit(true)), coalesce(c, lit(false)))
          } else {
            val pc = statsPath
            val mn = statBound("minValues", pc, f.dataType)
            val mx = statBound("maxValues", pc, f.dataType)
            val nc = nullCountOf(pc)
            val allNull = coalesce(
              nc === numRecords && numRecords > 0L, lit(false))
            val may = op match {
              case "="  => mx >= v && mn <= v
              case ">"  => mx > v
              case ">=" => mx >= v
              case "<"  => mn < v
              case "<=" => mn <= v
            }
            val all = op match {
              case "="  => mn === v && mx === v
              case ">"  => mn > v
              case ">=" => mn >= v
              case "<"  => mx < v
              case "<=" => mx <= v
            }
            (coalesce(may, lit(true)) && !allNull,
              coalesce(all && nc === 0L, lit(false)))
          }
      }
    def nullness(name: String, isNull: Boolean): (Column, Column) =
      resolve(name) match {
        case Some((statsPath, f))
            if name.contains('.') || !st.partitionColumns.contains(f.name) =>
          val nc = nullCountOf(statsPath)
          val allNull = coalesce(
            nc === numRecords && numRecords > 0L, lit(false))
          if (isNull) (coalesce(nc > 0L, lit(true)), allNull)
          else (!allNull, coalesce(nc === 0L, lit(false)))
        case _ => (lit(true), lit(false))
      }
    def walk(e: ce.Expression): (Column, Column) = e match {
      case ce.And(a, b) =>
        val (m1, a1) = walk(a); val (m2, a2) = walk(b)
        (m1 && m2, a1 && a2)
      case ce.Or(a, b) =>
        val (m1, a1) = walk(a); val (m2, a2) = walk(b)
        (m1 || m2, a1 || a2)
      case ce.Not(x) =>
        val (m, a) = walk(x)
        // may(¬x) = ¬all(x) is sound as-is (all's cmp/nullness sides
        // demand nullCount=0, so all(x) really means "x TRUE for every
        // row"). But all(¬x) = ¬may(x) holds in TWO-valued logic only:
        // may(x)=false proves no row makes x TRUE, yet a row where x
        // evaluates NULL makes ¬x NULL — and DELETE/UPDATE must keep a
        // NULL-predicate row, so whole-file-dropping it loses data
        // (e.g. `NOT (q < 0.5)` over a file whose q stats clear 0.5 but
        // which holds a NULL-q row). Restore soundness by additionally
        // requiring every stats-backed column referenced under x to be
        // provably null-free (nullCount=0), making x genuinely
        // two-valued on the file. Partition columns are exempt: their
        // value is a file-constant point and a NULL value already
        // degrades may(x) to true at the cmp leaf, which kills ¬may.
        val nullFree = x.collect {
            case ua: UnresolvedAttribute => ua.nameParts.mkString(".")
          }.distinct
          .flatMap(n => resolve(n).map(n -> _))
          .filterNot { case (n, (_, f)) =>
            !n.contains('.') && st.partitionColumns.contains(f.name) }
          .map { case (_, (statsPath, _)) =>
            coalesce(nullCountOf(statsPath) === 0L, lit(false)) }
          .foldLeft(lit(true))(_ && _)
        (!a, !m && nullFree)
      case ce.EqualTo(x, l: ce.Literal) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "=")
      case ce.EqualTo(l: ce.Literal, x) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "=")
      case ce.GreaterThan(x, l: ce.Literal) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, ">")
      case ce.GreaterThan(l: ce.Literal, x) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "<")
      case ce.GreaterThanOrEqual(x, l: ce.Literal) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, ">=")
      case ce.GreaterThanOrEqual(l: ce.Literal, x) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "<=")
      case ce.LessThan(x, l: ce.Literal) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "<")
      case ce.LessThan(l: ce.Literal, x) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, ">")
      case ce.LessThanOrEqual(x, l: ce.Literal) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, "<=")
      case ce.LessThanOrEqual(l: ce.Literal, x) if attrName(x).isDefined =>
        cmp(attrName(x).get, l, ">=")
      case ce.In(x, vs) if attrName(x).isDefined && vs.nonEmpty &&
          vs.forall(_.isInstanceOf[ce.Literal]) =>
        vs.map(v => cmp(attrName(x).get, v.asInstanceOf[ce.Literal], "="))
          .reduce((p, q) => (p._1 || q._1, p._2 || q._2))
      case ce.IsNull(x) if attrName(x).isDefined =>
        nullness(attrName(x).get, isNull = true)
      case ce.IsNotNull(x) if attrName(x).isDefined =>
        nullness(attrName(x).get, isNull = false)
      case _ => (lit(true), lit(false))
    }
    walk(SparkSession.active.sessionState.sqlParser
      .parseExpression(predicateSql))
  }

  /** Schema columns a predicate references — the stats the rewrite
    * forms collect on freshly-written files, so the skipping index
    * keeps covering the columns users filter by. */
  private def referencedColumns(st: LogState, predicateSql: String)
      : Seq[String] =
    SparkSession.active.sessionState.sqlParser.parseExpression(predicateSql)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          // nested references keep the dotted path — the write-time
          // stats pass nests the JSON keys the same way (protocol
          // shape), so rewrites keep covering nested predicates too
          a.nameParts.mkString(".")
      }.distinct
      .flatMap { n =>
        // resolve each (possibly dotted) reference to its case-correct
        // logical path; unresolvable references (functions over
        // aliases, array steps) just drop out of the stats set
        def walk(fields: Seq[StructField],
            ps: List[String]): Option[List[String]] = ps match {
          case Nil => None
          case p :: rest =>
            fields.find(_.name.equalsIgnoreCase(p)).flatMap { f =>
              if (rest.isEmpty) Some(f.name :: Nil)
              else f.dataType match {
                case s: StructType =>
                  walk(s.fields.toSeq, rest).map(f.name :: _)
                case _ => None
              }
            }
        }
        walk(st.schema.fields.toSeq, n.split('.').toList)
          .map(_.mkString("."))
      }.toSeq

  /** The pruned candidate set for a range predicate, collected
    * O(survivors): the envelope comparison runs as a Spark filter over
    * the census DataFrame (checkpoint scan + tail overlay), and only
    * files that MAY intersect reach the driver. Package-visible so the
    * spec can prove the driver materializes survivors, not the table. */
  private[lake] def pruneCandidates(spark: SparkSession, column: String,
      lo: Any, hi: Any, version: Option[Long] = None): Seq[AddFile] =
    pruneCandidatesOf(spark, logState(spark, version), column, lo, hi)

  /** [[pruneCandidates]] over an ALREADY-RESOLVED snapshot — callers
    * that also need the snapshot's schema/partitionColumns (readWhere,
    * merge) pass their own LogState so both planes come from ONE
    * version: resolving the log twice would let a commit landing
    * between the two calls mix schema from one snapshot with surviving
    * files from another (besides doubling the replay cost). */
  private def pruneCandidatesOf(spark: SparkSession, st: LogState,
      column: String, lo: Any, hi: Any): Seq[AddFile] =
    collectAdds(fileCensus(spark, st).where(mayIntersectCol(st, column, lo, hi)))

  // ---- read side --------------------------------------------------------

  /** Latest committed version whose commit timestamp is ≤ `ts` — the
    * Delta `timestampAsOf` contract. Timestamps follow [[commitTime]]
    * (inCommitTimestamp, then `commitInfo.timestamp`, then the commit
    * file's modification time), adjusted to be monotonically
    * non-decreasing ([[monotonicTimes]]), so the answer is
    * unambiguous. O(log) driver work — commit files are a bounded
    * metadata plane. Fails loudly when `ts` predates the first commit. */
  def versionAt(ts: Long): Long = {
    val versions = listLog(".json").map(_._1)
    require(versions.nonEmpty, s"DeltaTable $root: no _delta_log commits")
    val monotonic = versions.zip(monotonicTimes(versions.map(commitTimeOf)))
    val at = monotonic.takeWhile(_._2 <= ts).lastOption
    at.map(_._1).getOrElse(throw new IllegalArgumentException(
      s"DeltaTable $root: timestamp $ts predates the first commit " +
        s"(${monotonic.head._2})"))
  }

  /** Commit `v`'s time, the protocol's rule: its commitInfo's
    * `inCommitTimestamp` (the ICT writer feature — authoritative on
    * enabled tables) over `timestamp`, else the commit file's
    * modification time. */
  private def commitTime(v: Long, commitInfo: Option[JsonNode]): Long =
    commitInfo.flatMap(ci => Seq("inCommitTimestamp", "timestamp")
        .find(ci.hasNonNull).map(ci.get(_).asLong))
      .getOrElse(Files.getLastModifiedTime(commitPath(v)).toMillis)

  /** [[commitTime]] of commit `v`, parsed only up to its commitInfo. */
  private def commitTimeOf(v: Long): Long =
    commitTime(v, commitActions(v).map(_.get("commitInfo")).find(_ != null))

  /** Commit times in version order, adjusted to be monotonically
    * non-decreasing exactly as Delta does: a clock-skewed commit
    * inherits its predecessor's timestamp. */
  private def monotonicTimes(times: Seq[Long]): Seq[Long] =
    times.scanLeft(Long.MinValue)(math.max).tail

  /** [[read]] at the snapshot current as of wall-clock `ts`
    * (timestampAsOf time travel). */
  def readAsOf(spark: SparkSession, ts: Long): DataFrame =
    read(spark, Some(versionAt(ts)))

  /** Commit history, newest first — the DESCRIBE HISTORY surface:
    * (version, timestamp, operation, operationParameters, plus the
    * commit's add/remove action counts, the audit numbers an operator
    * reads first). Timestamps are monotonic-adjusted like [[versionAt]].
    * Driver-side parse of the commit files only — O(commits), bounded
    * metadata plane; the row set is version-count-sized, returned as a
    * DataFrame so it composes with filters/joins like any table. */
  def history(spark: SparkSession): DataFrame = {
    val raw = listLog(".json").map { case (v, _) =>
      var ci: Option[JsonNode] = None
      var adds = 0L
      var removes = 0L
      commitActions(v).foreach { node =>
        Option(node.get("commitInfo")).foreach(n => ci = Some(n))
        if (node.has("add")) adds += 1
        if (node.has("remove")) removes += 1
      }
      val op = ci.filter(_.hasNonNull("operation"))
        .map(_.get("operation").asText).getOrElse("")
      (v, commitTime(v, ci), op,
        ci.map(mapOf(_, "operationParameters")).getOrElse(Map.empty), adds,
        removes)
    }
    import spark.implicits._
    raw.zip(monotonicTimes(raw.map(_._2)))
      .map { case (r, ts) => r.copy(_2 = ts) }.reverse
      .toDF("version", "timestamp", "operation", "operationParameters",
        "n_adds", "n_removes")
  }

  /** Read the table at `version` (default: latest). Output columns are
    * exactly `schemaString`'s, in order and type — partition columns are
    * recovered from the Hive directory layout and cast back. */
  def read(spark: SparkSession, version: Option[Long] = None): DataFrame = {
    val st = logState(spark, version)
    readFilesDv(spark, st.schema, st.partitionColumns,
      livePathDvs(spark, st), st.columnMappingMode)
  }

  /** The table's rows plus their ROW-TRACKING lineage — `_row_id` and
    * `_row_commit_version` — per the protocol's read rule (materialized
    * column value when the file carries one, else baseRowId + row index
    * / defaultRowCommitVersion). The surface delta-spark exposes as the
    * `_metadata.row_id` / `row_commit_version` metadata columns; the
    * spec proves ids are STABLE across row-moving rewrites on enabled
    * tables. Requires the rowTracking feature. */
  def readWithRowLineage(spark: SparkSession): DataFrame = {
    val st = logState(spark, None)
    require(st.rowTrackingSupported,
      s"DeltaTable $root: readWithRowLineage on a table without the " +
        "rowTracking feature — row ids were never assigned")
    // a SUPPORTED-but-never-rewritten table has no materialized columns
    // (possibly no names either): scan under fresh non-colliding names,
    // which read as all-null and fall back to the per-file defaults
    val u = java.util.UUID.randomUUID.toString.take(8)
    val matId = st.materializedRowIdCol.getOrElse(s"_g_no_mat_rid_$u")
    val matVer = st.materializedRowCommitVersionCol
      .getOrElse(s"_g_no_mat_rcv_$u")
    toMaterialized(readFilesDvPreserve(spark, st,
      liveAddsLineage(spark, st), matId, matVer),
      "_row_id", "_row_commit_version")
  }

  /** [[readFiles]] with per-file deletionVector descriptors applied:
    * rows whose `_metadata.row_index` is in the file's DV are DROPPED
    * via a broadcast anti-join on (file, row index).
    *
    * DOCUMENTED DRIVER/BROADCAST BOUND, O(Σ live DV cardinality): the
    * read side decodes every live descriptor's row set on the driver
    * and broadcasts it. That sum is bounded by the maintenance
    * invariant, not by the table: DVs are only ever CREATED by
    * boundary deletes and merges (O(rows deleted since the last
    * rewrite) per file), and every OPTIMIZE/compaction/zorder rewrite
    * PURGES them (deleted rows drop physically, adds carry no
    * descriptor — see [[compact]]). A table whose Σ cardinality
    * approaches its row count is a table overdue for the incremental
    * OPTIMIZE the engine ships; the WRITE side never pays this bound
    * at all ([[buildDvs]] keeps row indexes in executor tasks and
    * collects descriptors only). Files without a DV pay NOTHING — the
    * anti-join is added only when at least one descriptor is present,
    * so the DV-free fast path is byte-identical to before. */
  private def readFilesDv(spark: SparkSession, schema: StructType,
      partitionColumns: Seq[String],
      files: Seq[(String, Option[String], Map[String, String])],
      mode: String = "none"): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val dvFiles = files.collect { case (p, Some(json), _) => (p, json) }
    // the DV-free fast path never materializes the metadata columns
    val raw = scanFiles(spark, schema, partitionColumns, mode,
      files.map(f => (f._1, f._3)), withMeta = dvFiles.nonEmpty)
    // serve the DECLARED schema including field metadata (column-mapping
    // physicalName/id ride along, as delta-spark's reads do) — rewrite
    // verbs re-commit these frames, and the metadata is what lets commit
    // prove "schema unchanged" and re-emit physical names
    dropDeleted(spark, raw, dvFiles).select(schema.map(f =>
      col(physName(schema, f.name)).cast(f.dataType).as(f.name, f.metadata)): _*)
  }

  /** `raw` (a [[scanFiles]] frame with `_g_fp`/`_g_ri`) minus the rows
    * the `(path, descriptor)` deletion vectors delete — a broadcast
    * anti-join on (file, row index). The file key goes through the SAME
    * canonicalization the scan's metadata column does ([[metaPath]]): a
    * plain path string diverges on percent/space/non-ASCII names and
    * would silently resurrect DV-deleted rows. No DVs, no join. */
  private def dropDeleted(spark: SparkSession, raw: DataFrame,
      dvFiles: Seq[(String, String)]): DataFrame =
    if (dvFiles.isEmpty) raw
    else {
      val absRoot = Paths.get(root).toAbsolutePath.toString
      val dvRows = dvFiles.flatMap { case (rel, json) =>
        val abs = metaPath(absRoot, rel)
        DeletionVectors.read(root, DeletionVectors.fromJson(json))
          .map(ri => Row(abs, ri))
      }
      val dvDF = spark.createDataFrame(dvRows.asJava, StructType(Seq(
        StructField("_dv_file", StringType), StructField("_dv_row", LongType))))
      raw.join(broadcast(dvDF),
        col("_g_fp") === col("_dv_file") && col("_g_ri") === col("_dv_row"),
        "left_anti")
    }

  /** [[readFilesDv]] plus per-row ROW-TRACKING LINEAGE (the enabled
    * state's read rule, public protocol): serves the logical schema
    * plus `_g_rid` — the row's id, the file's materialized column value
    * when present else `baseRowId + row index` — and `_g_rcv` — the
    * row's last-modified commit version, materialized value else the
    * file's `defaultRowCommitVersion`. Row-moving verbs rewrite these
    * two into the MATERIALIZED columns of the files they produce,
    * which is exactly what makes UPDATE/MERGE/OPTIMIZE/rewrite-DELETE
    * legal on `delta.enableRowTracking=true` tables: ids survive the
    * move because they ride the rows, not the file layout. Files
    * predating id assignment (no baseRowId, no materialized value)
    * serve null lineage — their rows legally re-enter as fresh. */
  private def readFilesDvPreserve(spark: SparkSession, st: LogState,
      files: Seq[AddFile], matId: String, matVer: String): DataFrame = {
    val outSchema = StructType(st.schema
      :+ StructField("_g_rid", LongType) :+ StructField("_g_rcv", LongType))
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val dvFiles = files.flatMap(f => f.dv.map(d => (f.path, d)))
    val live = dropDeleted(spark, scanFiles(spark, st.schema,
      st.partitionColumns, st.columnMappingMode,
      files.map(f => (f.path, f.partitionValues)), withMeta = true,
      extraFields = Seq(StructField(matId, LongType),
        StructField(matVer, LongType))), dvFiles)
    // per-file lineage defaults ride a broadcast map on the SAME
    // canonicalized path key the DV join uses
    val lineage: Seq[Row] = files.map(f => Row(metaPath(absRoot, f.path),
      f.baseRowId.map(Long.box).orNull,
      f.defaultRowCommitVersion.map(Long.box).orNull))
    val lineageDF = spark.createDataFrame(lineage.asJava, StructType(Seq(
      StructField("_g_ln_fp", StringType),
      StructField("_g_ln_base", LongType),
      StructField("_g_ln_dcv", LongType))))
    live.join(broadcast(lineageDF), col("_g_fp") === col("_g_ln_fp"), "left")
      .select(st.schema.map(f =>
        col(st.phys(f.name)).cast(f.dataType).as(f.name, f.metadata)) :+
        coalesce(col(s"`$matId`"), col("_g_ln_base") + col("_g_ri"))
          .as("_g_rid") :+
        coalesce(col(s"`$matVer`"), col("_g_ln_dcv")).as("_g_rcv"): _*)
  }

  /** Resolve — assigning on first need — the materialized row-tracking
    * column NAMES of an enabled table. delta-spark records them in the
    * configuration when row tracking is enabled; a foreign log that
    * carries the enabled flag without the names (or this engine's own
    * planted fixtures) gets fresh protocol-shaped names in a
    * metadata-only commit, so the assignment is durable before any
    * row-moving rewrite relies on it. */
  private def ensureMaterializedRowTracking(spark: SparkSession,
      st: LogState): (LogState, String, String) =
    (st.materializedRowIdCol, st.materializedRowCommitVersionCol) match {
      case (Some(i), Some(v)) => (st, i, v)
      case (i, v) =>
        setProperties(Map(
          DeltaTable.MatRowIdKey -> i.getOrElse(
            s"_row-id-col-${java.util.UUID.randomUUID}"),
          DeltaTable.MatRowCommitVersionKey -> v.getOrElse(
            s"_row-commit-version-col-${java.util.UUID.randomUUID}")))
        val st2 = logState(spark, None)
        (st2, st2.materializedRowIdCol.get,
          st2.materializedRowCommitVersionCol.get)
    }

  /** The preserving rewrite's frame contract, shared by every
    * row-moving verb: rename the lineage columns to the table's
    * materialized names (they ride into the parquet files, NEVER the
    * schema) — the id as-is; the commit version as-is for rows copied
    * WITHOUT modification (OPTIMIZE, DELETE survivors, unmatched MERGE
    * rows), or nulled by the caller for modified rows so the read-side
    * default (the new file's defaultRowCommitVersion = this commit)
    * takes over. */
  private def toMaterialized(df: DataFrame, matId: String,
      matVer: String): DataFrame =
    df.withColumnRenamed("_g_rid", matId).withColumnRenamed("_g_rcv", matVer)

  /** PHYSICAL-schema scan of a file set — the one scan builder every
    * read path shares. Column mapping: the parquet footers (and
    * partition dir names) carry PHYSICAL column names at EVERY nesting
    * level — scan with the physical schema ([[DeltaTable.physicalField]],
    * recursive); callers rename back to the logical schema. Mode `id`
    * rides `parquet.field.id` metadata so Spark resolves columns by
    * field id, per the protocol.
    *
    * Partitioned tables split two ways: RELATIVE paths — the table's
    * own files — ride ONE `basePath` scan with Hive-directory partition
    * recovery; ABSOLUTE paths (shallow-clone adds, which the protocol
    * allows) cannot join a foreign directory layout, so they ride ONE
    * scan over every absolute file with partition columns attached via
    * a broadcast `file → partitionValues` map (each action's own
    * `partitionValues` — the protocol's source of truth) joined on the
    * canonicalized `_metadata.file_path` (r17; O(1) scan nodes however
    * many partitions the clone touches). Both branches normalize
    * partition columns to the declared types so the union is exact.
    *
    * `withMeta` materializes `_g_fp` (canonicalized file path) and
    * `_g_ri` (row index) PER BRANCH — `_metadata` does not propagate
    * through a union — for the DV anti-join and the matched-row scans;
    * the common no-DV path skips them entirely. */
  private def scanFiles(spark: SparkSession, schema: StructType,
      partitionColumns: Seq[String], mode: String,
      files: Seq[(String, Map[String, String])],
      withMeta: Boolean,
      // parquet-only columns OUTSIDE the declared schema (the
      // materialized row-tracking columns): appended to the read
      // schema verbatim — files lacking them serve nulls
      extraFields: Seq[StructField] = Nil): DataFrame = {
    val absRoot = Paths.get(root).toAbsolutePath.toString
    def phys(n: String): String = physName(schema, n)
    val dataSchema = StructType(
      schema.filterNot(f => partitionColumns.contains(f.name))
        .map(f => DeltaTable.physicalField(f, byId = mode == "id"))
        ++ extraFields)
    def meta(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df
        // normalize "file:/..." vs "file:///..." URI forms to the bare
        // absolute path so join keys match the driver-built ones
        .withColumn("_g_fp",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("_g_ri", col("_metadata.row_index"))
    def isAbs(p: String): Boolean =
      p.startsWith("/") || p.startsWith("file:")
    if (partitionColumns.isEmpty)
      meta(spark.read.schema(dataSchema)
        .parquet(files.map(f => dataPath(absRoot, f._1)): _*))
    else {
      val (abs, rel) = files.partition(f => isAbs(f._1))
      val relDF =
        if (rel.isEmpty) Nil
        else Seq(partitionColumns.foldLeft(
          meta(spark.read.option("basePath", absRoot).schema(dataSchema)
            .parquet(rel.map(f => dataPath(absRoot, f._1)): _*))) {
          (df, c) => df.withColumn(phys(c),
            col(phys(c)).cast(schema(c).dataType))
        })
      val absDF =
        if (abs.isEmpty) Nil
        else Seq {
          // ONE scan over every absolute-path file — a shallow clone of
          // a 10⁴-partition source must not become a 10⁴-leaf union
          // (10⁴ FileSourceScanExec nodes kill driver planning and
          // codegen long before the data does). Partition values attach
          // via a broadcast file→partitionValues map joined on the
          // canonicalized metadata path (same [[metaPath]] key the DV
          // anti-join rides, so the two forms never diverge); a LEFT
          // join keeps any key-divergent row visible as NULL partitions
          // instead of silently dropping it.
          val scan = meta(spark.read.schema(dataSchema)
              .parquet(abs.map(f => dataPath(absRoot, f._1)): _*))
            .withColumn("_g_fp_abs",
              regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
          val pvSchema = StructType(
            StructField("_g_fp_abs_k", StringType) +:
              partitionColumns.map(c =>
                StructField(s"_g_pv_${phys(c)}", StringType)))
          val pvRows: Seq[Row] = abs.map { case (p, pv) =>
            Row.fromSeq(metaPath(absRoot, p) +:
              partitionColumns.map(c => pv.get(phys(c)).orNull))
          }
          val pvDF = spark.createDataFrame(pvRows.asJava, pvSchema)
          val joined = scan.join(broadcast(pvDF),
            col("_g_fp_abs") === col("_g_fp_abs_k"), "left")
          partitionColumns.foldLeft(joined) { (df, c) =>
            df.withColumn(phys(c),
              col(s"_g_pv_${phys(c)}").cast(schema(c).dataType))
          }.drop("_g_fp_abs" +: "_g_fp_abs_k" +:
            partitionColumns.map(c => s"_g_pv_${phys(c)}"): _*)
        }
      (relDF ++ absDF).reduce(_ unionByName _)
    }
  }

  /** Stats-pruned range read — Delta's DATA-SKIPPING: only files whose
    * `add.stats` [min, max] envelope for `column` intersects [lo, hi]
    * are scanned (files without stats are conservatively kept, so the
    * result is always exact); the residual predicate still applies on
    * the survivors. The envelope comparison itself runs DISTRIBUTED as
    * a filter over the census DataFrame, so on a range-clustered
    * 100 TB table both planes stay proportional to the prune ratio:
    * the scan touches 1 file in 10⁴, and the driver holds 1 path in
    * 10⁴ — never the full census. */
  def readWhere(spark: SparkSession, column: String, lo: Any, hi: Any,
      version: Option[Long] = None): DataFrame = {
    val st = logState(spark, version)
    // one snapshot for BOTH schema and census — see pruneCandidatesOf
    val survivors = pruneCandidatesOf(spark, st, column, lo, hi)
    readFilesDv(spark, st.schema, st.partitionColumns, dvPairs(survivors),
        st.columnMappingMode)
      .filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** Stats-pruned read by ARBITRARY SQL predicate (r16): file pruning
    * from [[predicateEnvelopes]] — single-column conjuncts prune like
    * the range form, unrecognized shapes degrade to a full (still
    * correct) scan — with the residual predicate applied on the
    * survivors. */
  def readWhere(spark: SparkSession, predicateSql: String): DataFrame =
    readWhere(spark, predicateSql, None)

  def readWhere(spark: SparkSession, predicateSql: String,
      version: Option[Long]): DataFrame = {
    val st = logState(spark, version)
    val (may, _) = predicateEnvelopes(st, predicateSql)
    val survivors = collectAdds(fileCensus(spark, st).where(may))
    readFilesDv(spark, st.schema, st.partitionColumns, dvPairs(survivors),
        st.columnMappingMode)
      .filter(expr(predicateSql))
  }

  // ---- write side ------------------------------------------------------

  /** Commit `df` as a full replacement snapshot (removes every live file
    * of the previous version). Returns the committed version.
    * `statsFor` columns get per-file (numRecords, minValues, maxValues,
    * nullCount) in the protocol's `add.stats` JSON — the data-skipping
    * index [[readWhere]] prunes by. */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil,
      statsFor: Seq[String] = Nil): Long = {
    // (path, dv)-only collect of the replaced snapshot (no stats ride)
    val removed = latestVersion.map { v =>
      livePathDvs(df.sparkSession, logState(df.sparkSession, Some(v)))
    }.getOrElse(Nil)
    commit(df, partitionBy, removed.map(_._1), "WRITE",
      Map("mode" -> "Overwrite"), statsFor = statsFor,
      removeDvs = removed.collect { case (p, Some(d), _) => p -> d }.toMap)
  }

  /** Append `df`'s rows as new files. Returns the committed version. */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
      statsFor: Seq[String] = Nil): Long =
    commit(df, partitionBy, Nil, "WRITE", Map("mode" -> "Append"),
      statsFor = statsFor)

  /** Exactly-once append for replayable writers (the protocol's `txn`
    * action): if `appId` has already committed a txn version ≥
    * `version`, the write is a NO-OP (returns None) — a streaming
    * `foreachBatch` replaying a landed micro-batch cannot double-append.
    * The check and the commit race window is closed by the atomic
    * publish: a racer that lands the same txn first makes THIS commit's
    * version collide and fail loudly, never double-apply silently. */
  def appendIdempotent(df: DataFrame, appId: String, version: Long,
      partitionBy: Seq[String] = Nil): Option[Long] =
    if (txnVersion(appId).exists(_ >= version)) None
    else Some(commit(df, partitionBy, Nil, "WRITE", Map("mode" -> "Append"),
      txn = Some((appId, version))))

  /** OPTIMIZE-style compaction: rewrite the current live file set into
    * `numFiles` files per partition-value combination WITHOUT changing
    * the data — removes + adds carry `dataChange=false`, so CDC
    * consumers ([[changes]]) skip the rewrite entirely, exactly as the
    * protocol prescribes. This is the WHOLE-TABLE form (one commit, one
    * full rewrite through [[optimizeRewrite]]) — right for
    * small-to-medium tables; at the 100 TB target use
    * [[compactIncremental]], which converges over size-capped batches
    * without ever holding the table in one commit. */
  def compact(numFiles: Int = 1): Long =
    optimizeRewrite(logState(SparkSession.active, None)) { st =>
      // whole-table maintenance verb: full census collect, documented
      Some(OptimizeBatch(liveAddsLineage(SparkSession.active, st), Map.empty,
        df => if (st.partitionColumns.isEmpty) df.repartition(numFiles)
              else df.repartition(numFiles, st.partitionColumns.map(col): _*)))
    }.get

  /** ONE size-capped OPTIMIZE step — the maintenance shape that
    * actually runs at 100 TB, where [[compact]]'s rewrite-the-world
    * commit cannot: pick the first partition-value group holding ≥ 2
    * files smaller than `smallBytes`, take a batch capped by
    * `maxBatchBytes`/`maxBatchFiles` (always ≥ 2 so every commit makes
    * progress), rewrite JUST that batch into one file through
    * [[optimizeRewrite]] (a `dataChange=false` commit: CDC-silent,
    * snapshot-identical), and return its version — or None
    * when CONVERGED (no group has 2 small files left). Repeated calls
    * strictly shrink the small-file count, so a periodic maintenance
    * job folds a streaming-ingested table into scan-sized files a few
    * bounded commits at a time, with readers snapshot-isolated
    * throughout. Candidate selection is itself pruned: the census
    * DataFrame filters `size < smallBytes` BEFORE the driver collects,
    * so the driver holds only small files, never the table. */
  def compactIncremental(smallBytes: Long = 128L << 20,
      maxBatchBytes: Long = 1L << 30, maxBatchFiles: Int = Int.MaxValue,
      statsFor: Seq[String] = Nil): Option[Long] = {
    require(maxBatchFiles >= 2,
      s"compactIncremental maxBatchFiles $maxBatchFiles < 2 cannot converge")
    val spark = SparkSession.active
    optimizeRewrite(logState(spark, None)) { st =>
      val small = collectAdds(
        fileCensus(spark, st).where(col("size") < smallBytes))
      small.groupBy(_.partitionValues).values
        .filter(_.size >= 2).minByOption(_.map(_.path).min).map { files =>
          // soft caps: the first 2 files always ride (else no progress)
          val capped = takeCapped(files.sortBy(_.path), minFiles = 2,
            maxBatchBytes, maxBatchFiles)
          OptimizeBatch(capped, incrementalParams(capped), _.repartition(1),
            statsFor)
        }
    }
  }

  /** One OPTIMIZE batch: the files to rewrite, the commit's
    * `operationParameters`, the layout that shapes their rows into the
    * output files, the columns to collect fresh stats on, and whether
    * the adds open a new z-cube ([[DeltaTable.ZCubeTag]]). */
  private final case class OptimizeBatch(files: Seq[AddFile],
      params: Map[String, String], layout: DataFrame => DataFrame,
      statsFor: Seq[String] = Nil, zCube: Boolean = false)

  /** The one OPTIMIZE rewrite core every compaction / z-order /
    * reclustering verb runs: resolve the enabled-rowTracking
    * materialized columns ([[preserveCols]]), let `pick` choose the
    * batch from that snapshot (None: nothing to do), read the batch —
    * with row lineage on enabled tables, so ids and commit versions of
    * the moved rows ride the materialized columns (OPTIMIZE changes
    * nothing, per the protocol) — lay it out, and commit the rewrite
    * with `dataChange=false`. DVs are PURGED by the physical rewrite
    * (deleted rows are dropped for real), so the logical snapshot is
    * unchanged: each remove carries its file's descriptor and the new
    * adds carry none. */
  private def optimizeRewrite(st0: LogState, reclusterOk: Boolean = false)(
      pick: LogState => Option[OptimizeBatch]): Option[Long] = {
    val spark = SparkSession.active
    val (st, matCols) = preserveCols(spark, st0)
    pick(st).map { b =>
      val frame = matCols match {
        case Seq(i, vv) => toMaterialized(
          readFilesDvPreserve(spark, st, b.files, i, vv), i, vv)
        case _ => readFilesDv(spark, st.schema, st.partitionColumns,
          dvPairs(b.files), st.columnMappingMode)
      }
      commit(b.layout(frame), st.partitionColumns, b.files.map(_.path),
        "OPTIMIZE", b.params, dataChange = false, statsFor = b.statsFor,
        tags = if (b.zCube) Map(ZCubeTag -> java.util.UUID.randomUUID.toString)
               else Map.empty,
        removeDvs = dvMapOf(b.files), materializedCols = matCols,
        reclusterOk = reclusterOk)
    }
  }

  /** `operationParameters` every incremental OPTIMIZE step records. */
  private def incrementalParams(batch: Seq[AddFile]): Map[String, String] =
    Map("batchFiles" -> batch.size.toString, "incremental" -> "true")

  /** Ordered prefix of `sorted` capped by bytes/files, but never fewer
    * than `minFiles` (the per-commit progress guarantee both
    * incremental OPTIMIZE forms rely on for convergence). */
  private def takeCapped(sorted: Seq[AddFile], minFiles: Int,
      maxBatchBytes: Long, maxBatchFiles: Int): Seq[AddFile] = {
    val batch = mutable.ArrayBuffer.empty[AddFile]
    var bytes = 0L
    val it = sorted.iterator
    while (it.hasNext && (batch.size < minFiles ||
        (batch.size < maxBatchFiles && bytes < maxBatchBytes))) {
      val f = it.next()
      if (batch.size < minFiles || bytes + f.size <= maxBatchBytes) {
        batch += f; bytes += f.size
      } else bytes = maxBatchBytes // byte cap hit: stop scanning
    }
    batch.toSeq
  }

  private def commit(df0: DataFrame, partitionBy: Seq[String],
      removePaths: Seq[String], op: String, opParams: Map[String, String],
      txn: Option[(String, Long)] = None, dataChange: Boolean = true,
      statsFor: Seq[String] = Nil,
      tags: Map[String, String] = Map.empty,
      removeDvs: Map[String, String] = Map.empty,
      dvReAdds: Seq[(AddFile, String)] = Nil,
      writeData: Boolean = true,
      colMapSafe: Boolean = false,
      cdcData: Option[DataFrame] = None,
      internalRewrite: Boolean = false,
      preexistingRows: Boolean = false,
      // materialized row-tracking columns riding `df0` (enabled-state
      // rewrites): written into the parquet files verbatim, EXCLUDED
      // from every schema decision — the protocol keeps them outside
      // the table schema
      materializedCols: Seq[String] = Nil,
      // set ONLY by the clustered-table OPTIMIZE verbs, which rewrite
      // along the delta.clustering domain's declared columns — the one
      // OPTIMIZE shape the clustering write contract allows
      reclusterOk: Boolean = false): Long = {
    val v = latestVersion.map(_ + 1).getOrElse(0L)
    // resolve the current snapshot BEFORE any data lands: every write
    // gate and schema-conflict check must refuse without leaving
    // orphaned part files in the table root.
    // colMapSafe marks the commit shape that is legal on ANY
    // column-mapping table (including id mode, which this writer cannot
    // emit new data files for): metadata-only (no data files, no fresh
    // stats, no metaData action) whose removes/re-adds replay EXISTING
    // action payloads verbatim — the DV delete.
    require(!colMapSafe || (!writeData && statsFor.isEmpty),
      "colMapSafe commits must be metadata-only")
    val currentState: Option[LogState] =
      if (v == 0L) None
      else Some(logState(df0.sparkSession, Some(v - 1)))
    val mode = currentState.map(_.columnMappingMode).getOrElse("none")

    // writer-feature gate + row-contract enforcement, BEFORE any other
    // schema decision: the enforced frame may ADD generated/identity
    // columns the schema-merge logic must see (an omitted generated
    // column must be COMPUTED into the files, never null-filled).
    // internalRewrite commits (the rewrite-form DELETE) re-commit a
    // SUBSET of the table's own rows — they satisfy every constraint by
    // induction and their identity values are the table's own, so
    // enforcement (and its explicit-insert refusal) must not run.
    currentState.foreach(s => requireWriterFeatures(s, op,
      removesRows = dataChange && (removePaths.nonEmpty || dvReAdds.nonEmpty),
      reclusterOk = reclusterOk))
    val (df, hwmUpdates) = currentState match {
      case Some(s) if dataChange && writeData && !internalRewrite =>
        enforceRowContract(s, df0, op, preexistingRows)
      case _ => (df0, Map.empty[String, Long])
    }

    // ---- schema & partitioning decisions, BEFORE any data lands ------
    // Schema evolution, the Delta mergeSchema contract: an append whose
    // frame adds columns records the MERGED schema in a fresh metaData
    // action — older files then serve the new columns as nulls (the
    // parquet reader fills absent footer columns); an append may also
    // OMIT existing columns (its files serve them as nulls). Type
    // conflicts fail loudly. Overwrites replace the schema outright.
    val isOverwrite = removePaths.nonEmpty && dataChange
    val currentSchema: Option[StructType] = currentState.map(_.schema)
    // schema decisions see the LOGICAL frame — materialized
    // row-tracking columns ride the files, never the schema
    val matSet = materializedCols.toSet
    val dfSchema = StructType(df.schema.filterNot(f => matSet(f.name)))
    val mergedSchema: StructType = currentSchema match {
      case None => dfSchema
      case Some(_) if isOverwrite && writeData => dfSchema
      case Some(current) =>
        current.foreach { f =>
          dfSchema.find(_.name == f.name).foreach { n =>
            // metadata-blind comparison: a frame built without the
            // table's field metadata (column-mapping ids etc.) is the
            // same type — but nested NAME or type drift still conflicts
            if (!sameType(n.dataType, f.dataType))
              throw new IllegalStateException(
                s"DeltaTable $root: column ${f.name} type conflict — table " +
                  s"has ${f.dataType.simpleString}, append has " +
                  s"${n.dataType.simpleString}")
          }
        }
        val oldNames = current.fieldNames.toSet
        StructType(current ++ dfSchema.filterNot(f => oldNames(f.name)))
    }
    // identity high-water-marks from enforceRowContract ride the commit
    // in the field metadata, per the protocol — the json drift below
    // makes the fresh metaData action emit
    val hwmSchema: StructType =
      if (hwmUpdates.isEmpty) mergedSchema
      else StructType(mergedSchema.fields.map { f =>
        hwmUpdates.get(f.name) match {
          case Some(h) => f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(DeltaTable.IdentityHwmKey, h).build())
          case None => f
        }
      })
    val rawSchemaChanged = currentSchema.exists(_.json != hwmSchema.json)
    val partChanged = currentState.exists(_.partitionColumns != partitionBy)
    // a NON-overwrite commit re-declaring table-wide partitioning would
    // break directory-based partition recovery for every pre-existing
    // file — loud failure instead of silently re-recording metaData
    require(!partChanged || isOverwrite,
      s"DeltaTable $root: $op with partitionBy " +
        s"${partitionBy.mkString("[", ",", "]")} != table partitioning " +
        s"${currentState.map(_.partitionColumns.mkString("[", ",", "]"))
          .getOrElse("[]")} — only overwrites may re-declare partitioning")
    // column-mapping SCHEMA EVOLUTION (the public protocol's assignment
    // scheme): a purely-additive append decorates each NEW field — at
    // every nesting level — with a fresh physical name (col-<uuid>) and
    // the next column id, and bumps delta.columnMapping.maxColumnId in
    // the configuration riding the fresh metaData action. Overwrites
    // replacing the schema of a column-mapping table (and partitioning
    // re-declarations) still refuse: they would drop the existing
    // fields' physical identities.
    require(mode == "none" || !(rawSchemaChanged && isOverwrite),
      s"DeltaTable $root: $op replaces the schema of a column-mapping " +
        "table — existing physical-name assignments would be lost")
    var maxColId: Long = currentState.flatMap(
      _.configuration.get("delta.columnMapping.maxColumnId"))
      .flatMap(_.toLongOption).getOrElse(0L)
    def assignColMap(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        maxColId += 1
        val meta = new MetadataBuilder()
          .putString(DeltaTable.PhysNameKey,
            s"col-${java.util.UUID.randomUUID}")
          .putLong(DeltaTable.ColIdKey, maxColId).build()
        StructField(f.name, assignColMap(f.dataType), f.nullable, meta)
      })
      case a: ArrayType => a.copy(elementType = assignColMap(a.elementType))
      case m: MapType => m.copy(keyType = assignColMap(m.keyType),
        valueType = assignColMap(m.valueType))
      case other => other
    }
    val recordedSchema: StructType =
      if (mode == "none" || !rawSchemaChanged) hwmSchema
      else {
        val oldNames = currentSchema.get.fieldNames.toSet
        StructType(hwmSchema.fields.map { f =>
          if (oldNames(f.name)) f
          else {
            maxColId += 1
            val meta = new MetadataBuilder()
              .putString(DeltaTable.PhysNameKey,
                s"col-${java.util.UUID.randomUUID}")
              .putLong(DeltaTable.ColIdKey, maxColId).build()
            StructField(f.name, assignColMap(f.dataType), f.nullable, meta)
          }
        })
      }
    val schemaChanged =
      currentSchema.exists(_.json != recordedSchema.json)
    val newConfiguration: Map[String, String] = {
      val base = currentState.map(_.configuration).getOrElse(Map.empty)
      if (mode == "none") base
      else base + ("delta.columnMapping.maxColumnId" -> maxColId.toString)
    }
    val emitMeta = v == 0L || schemaChanged || partChanged
    // structural guard (not just "happens to be false"): a colMapSafe
    // commit emitting a metaData action would drop the table's
    // configuration (delta.columnMapping.mode included) and corrupt
    // every later read
    require(!(emitMeta && colMapSafe),
      s"DeltaTable $root: internal — colMapSafe commit must not emit " +
        "metaData (concurrent schema change?)")
    // physical column names for every emitted surface on column-mapping
    // tables: file columns (at every nesting level, via the positional
    // struct cast), Hive partition dirs (→ partitionValues keys), and
    // the stats JSON keys — the read side owns the inverse indirection.
    // Mode `id` additionally rides `parquet.field.id` metadata on the
    // written frame so the parquet footers carry the column ids the
    // protocol's field-id resolution reads back.
    // icebergCompatV2 ACTIVE append contract (r18): every new data file
    // must carry Iceberg-compatible parquet field ids — possible for
    // top-level and nested STRUCT fields (their column-mapping ids ride
    // `parquet.field.id` metadata, which Spark's writer emits) but NOT
    // for array elements / map entries (Spark's writer cannot attach
    // the synthetic nested ids Iceberg assigns there) — plus numRecords
    // stats on every add (forced below). Refusing the un-writable
    // shapes loudly beats emitting files Iceberg readers mis-map.
    val icebergV2 = currentState.exists(_.icebergCompatV2Active)
    if (icebergV2 && writeData && dataChange) {
      require(mode != "none",
        s"DeltaTable $root: icebergCompatV2 active without column " +
          "mapping — the table violates the feature's own requirement")
      def hasContainer(dt: DataType): Boolean = dt match {
        case _: ArrayType | _: MapType => true
        case s: StructType => s.fields.exists(f => hasContainer(f.dataType))
        case _ => false
      }
      require(!recordedSchema.fields.exists(f => hasContainer(f.dataType)),
        s"DeltaTable $root: $op on an icebergCompatV2-active table with " +
          "array/map columns — Spark's parquet writer cannot attach " +
          "Iceberg's nested element field ids; refusing to write files " +
          "an Iceberg reader would mis-map")
      def missingId(fs: Seq[StructField]): Seq[String] = fs.flatMap { f =>
        val here =
          if (f.metadata.contains(DeltaTable.ColIdKey)) Nil else Seq(f.name)
        here ++ (f.dataType match {
          case s: StructType => missingId(s.fields.toSeq).map(f.name + "." + _)
          case _ => Nil
        })
      }
      val noId = missingId(recordedSchema.fields.toSeq)
      require(noId.isEmpty,
        s"DeltaTable $root: icebergCompatV2-active but field(s) " +
          s"${noId.mkString(",")} carry no column-mapping id — field-id " +
          "footers cannot be written")
    }
    val physOf: Map[String, String] = recordedSchema.fields.flatMap { f =>
      if (f.metadata.contains(DeltaTable.PhysNameKey))
        Some(f.name -> f.metadata.getString(DeltaTable.PhysNameKey))
      else None
    }.toMap
    def toPhys(c: String): String = physOf.getOrElse(c, c)
    def toPhysFrame(frame: DataFrame, extraCols: Seq[String]): DataFrame =
      if (physOf.isEmpty) frame
      else frame.select(frame.columns.map { c =>
        if (extraCols.contains(c)) col(c)
        else {
          // an active icebergCompatV2 contract needs field-id footers
          // in BOTH mapping modes, not just id mode
          val pf = DeltaTable.physicalField(recordedSchema(c),
            byId = mode == "id" || icebergV2)
          col(c).cast(pf.dataType).as(pf.name, pf.metadata)
        }
      }.toSeq: _*)
    val physPartitionBy = partitionBy.map(toPhys)

    val token = java.util.UUID.randomUUID.toString.take(8)

    // Stage a frame's part files into root/<sub> through the commit's
    // scratch directory ([[viaScratch]]), keeping the Hive partition
    // dirs — returns (relative path, size, partitionValues). Shared by
    // the data write and the _change_data (CDC) write.
    var staged = 0
    def stageParts(frame: DataFrame, prefix: String,
        sub: Option[String]): Seq[(String, Long, Map[String, String])] = {
      val out = mutable.ArrayBuffer.empty[(String, Long, Map[String, String])]
      val writer = if (physPartitionBy.isEmpty) frame.write
                   else frame.write.partitionBy(physPartitionBy: _*)
      def walk(dir: Path, rel: List[String], pv: Map[String, String]): Unit =
        Files.list(dir).iterator.asScala.toSeq.sortBy(_.toString).foreach { p =>
          val name = p.getFileName.toString
          if (Files.isDirectory(p) && name.contains("=")) {
            val Array(k, raw) = name.split("=", 2)
            val value = java.net.URLDecoder.decode(raw, "UTF-8")
            walk(p, name :: rel, pv + (k -> value))
          } else if (name.endsWith(".parquet")) {
            val unique = f"$prefix-$staged%05d-$token-v$v.snappy.parquet"
            staged += 1
            val relPath =
              (sub.toList ::: ((unique :: rel).reverse)).mkString("/")
            val dest = Paths.get(root, relPath)
            Files.createDirectories(dest.getParent)
            Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
            out += ((relPath, Files.size(dest), pv))
          }
        }
      viaScratch(Paths.get(root, s".tmp-delta-$token"))(
        writer.mode("overwrite").parquet(_)) { dir =>
        walk(dir, Nil, Map.empty)
        out.toSeq
      }
    }

    // move parts into the table root, keeping the Hive partition dirs.
    // writeData=false is the metadata-only commit shape (DV deletes:
    // removes + descriptor re-adds, no new data) — even an EMPTY frame
    // writes a footer-only part file Spark would then dutifully add.
    // a failed staging job (e.g. a row-contract raise_error) leaves no
    // scratch files behind — the commit throws, nothing publishes
    val moved: Seq[(String, Long, Map[String, String])] =
      if (!writeData) Nil
      else stageParts(toPhysFrame(df, materializedCols), "part", None)

    // Per-file stats for the data-skipping index: ONE map-side-combined
    // aggregate over the JUST-WRITTEN files (O(new data), grouped by
    // input_file_name) — the write-time stats pass every Delta writer
    // performs. Keyed by the part-file NAME (unique per commit token).
    // nullCount rides along: [[delete]]'s remove-only fast drop is only
    // sound on files PROVEN null-free in the predicate column.
    // A rowTracking table needs per-file numRecords even with no
    // statsFor columns — the baseRowId assignment is numRecords-summed.
    // An ACTIVE icebergCompatV2 table needs numRecords on every add
    // (the feature's stats requirement), same mechanism.
    val rowTracking = currentState.exists(_.rowTrackingSupported)
    val statsByName: Map[String, String] =
      if ((statsFor.isEmpty && !rowTracking && !icebergV2) || moved.isEmpty)
        Map.empty
      else {
        val spark = df.sparkSession
        val absRoot = Paths.get(root).toAbsolutePath.toString
        val paths = moved.map { case (rel, _, _) =>
          Paths.get(absRoot, rel).toString }
        import org.apache.spark.sql.functions.{col => fcol, count => fcount,
          input_file_name, lit => flit, max => fmax, min => fmin}
        // stats keys (and the columns read) are PHYSICAL on
        // column-mapping tables — [[statBound]] maps predicates the
        // same way on the read side. Dotted paths (nested struct
        // fields, r17) map EVERY level to its physical name and nest
        // the JSON keys below, the protocol's nested-stats shape.
        def toPhysPath(c: String): String =
          if (!c.contains('.')) toPhys(c)
          else {
            def walkP(fields: Seq[StructField],
                ps: List[String]): Option[List[String]] = ps match {
              case Nil => None
              case p :: rest =>
                fields.find(_.name.equalsIgnoreCase(p)).flatMap { f =>
                  val phys =
                    if (f.metadata.contains(DeltaTable.PhysNameKey))
                      f.metadata.getString(DeltaTable.PhysNameKey)
                    else f.name
                  if (rest.isEmpty) Some(phys :: Nil)
                  else f.dataType match {
                    case s: StructType =>
                      walkP(s.fields.toSeq, rest).map(phys :: _)
                    case _ => None
                  }
                }
            }
            walkP(recordedSchema.fields.toSeq, c.split('.').toList)
              .map(_.mkString(".")).getOrElse(c)
          }
        val physStatsFor = statsFor.map(toPhysPath)
        // explicit schema: the files were JUST written from this frame,
        // so inference (one Spark job per commit) proves nothing —
        // partition columns ride the schema and resolve from the Hive
        // dirs under basePath exactly as the inferred path did
        val writtenSchema = toPhysFrame(df, materializedCols).schema
        val reader = (if (partitionBy.isEmpty) spark.read
                      else spark.read.option("basePath", absRoot))
          .schema(writtenSchema)
        val aggs = fcount(flit(1)).as("_nrec") +: physStatsFor.flatMap(c =>
          Seq(fmin(fcol(c)).as(s"_min_$c"), fmax(fcol(c)).as(s"_max_$c"),
            fcount(fcol(c)).as(s"_cnt_$c")))
        reader.parquet(paths.toSeq: _*)
          .groupBy(input_file_name().as("_file"))
          .agg(aggs.head, aggs.tail: _*).collect()
          .map { r =>
            val st = LogJson.createObjectNode
            val nrec = r.getLong(1)
            st.put("numRecords", nrec)
            val mins = st.putObject("minValues")
            val maxs = st.putObject("maxValues")
            val nulls = st.putObject("nullCount")
            // dotted paths nest: {"meta":{"lang":...}} — what foreign
            // readers (and this engine's statBound JSON paths) expect
            def nodeAt(rootN: ObjectNode, parts: Seq[String]): ObjectNode =
              parts.foldLeft(rootN)((nd, p) =>
                if (nd.has(p) && nd.get(p).isObject)
                  nd.get(p).asInstanceOf[ObjectNode]
                else nd.putObject(p))
            physStatsFor.zipWithIndex.foreach { case (c, i) =>
              val parts = c.split('.').toSeq
              putScalar(nodeAt(mins, parts.dropRight(1)), parts.last,
                r.get(2 + 3 * i))
              putScalar(nodeAt(maxs, parts.dropRight(1)), parts.last,
                r.get(3 + 3 * i))
              nodeAt(nulls, parts.dropRight(1)).put(parts.last,
                nrec - r.getLong(4 + 3 * i))
            }
            r.getString(0).split('/').last -> LogJson.writeValueAsString(st)
          }.toMap
      }

    // Row tracking (the rowTracking writer feature, r16): every new data
    // file is assigned a fresh baseRowId block — file i's rows own ids
    // [base_i, base_i + numRecords_i) — monotonically above the table's
    // rowIdHighWaterMark, and the commit carries the advanced mark in
    // its delta.rowTracking domainMetadata action, per the protocol.
    // DV re-adds below PRESERVE their original baseRowId (same physical
    // rows, same ids); row-MOVING verbs on ENABLED tables additionally
    // persist each moved row's id in the materialized row-id column
    // ([[readFilesDvPreserve]]), which takes precedence over this block
    // on read — fresh blocks are still assigned (ids are never reused).
    val (rowIdBase: Map[String, Long], newRowIdHwm: Option[Long]) =
      if (!rowTracking || moved.isEmpty) (Map.empty[String, Long], None)
      else {
        var next = currentState.map(_.rowIdHighWaterMark).getOrElse(-1L) + 1
        val base = moved.map { case (path, _, _) =>
          // a footer-only (zero-row) part file produces no stats group
          // in the write-time aggregate — it owns an empty id block
          val n = statsByName.get(path.split('/').last)
            .map(s => LogJson.readTree(s).get("numRecords").asLong).getOrElse(0L)
          val b = next; next += n; path -> b
        }.toMap
        (base, Some(next - 1))
      }

    // Change-data-feed payload (the protocol's `cdc` action): the
    // caller-computed row-level change set lands under `_change_data/`
    // (data columns PHYSICAL on column-mapping tables + the stored
    // `_change_type`; partition columns ride each action's
    // partitionValues, not the files), superseding the add/remove
    // derivation for this commit in every CDF reader — including this
    // engine's own [[changes]]/[[changesRows]].
    val cdcStaged: Seq[(String, Long, Map[String, String])] =
      cdcData.map(cdf => stageParts(
        toPhysFrame(cdf, Seq("_change_type")), "cdc", Some("_change_data")))
        .getOrElse(Nil)

    val now = System.currentTimeMillis
    val actions = mutable.ArrayBuffer.empty[String]

    // Type-gated table features (reader AND writer, per the protocol):
    // TIMESTAMP_NTZ columns require timestampNtz, VARIANT columns
    // require variantType — foreign readers without the feature would
    // misread the physical layout (ntz as tz-adjusted micros, variant
    // as a plain binary struct). The commit that introduces such a
    // column — v0 or a schema evolution — declares the feature(s),
    // converting any legacy tier to explicit feature lists with the
    // implied features spelled out. Tables already declaring are left
    // alone.
    def hasType(dt: DataType, p: DataType => Boolean): Boolean =
      p(dt) || (dt match {
        case s: StructType => s.fields.exists(f => hasType(f.dataType, p))
        case a: ArrayType => hasType(a.elementType, p)
        case m: MapType => hasType(m.keyType, p) || hasType(m.valueType, p)
        case _ => false
      })
    val typeFeatures = Seq(
      "timestampNtz" -> hasType(recordedSchema, _ == TimestampNTZType),
      "variantType" -> hasType(recordedSchema, _ == VariantType))
      .collect { case (f, true) => f }
      .filter(f => currentState.forall(s =>
        !(s.minReader >= 3 && s.readerFeatures.contains(f))))
    if (typeFeatures.nonEmpty) {
      val (rf, wf) = upgradeFeatureLists(currentState, typeFeatures: _*)
      actions += protocolAction(3, 7, Some(rf), Some(wf))
    } else if (v == 0L) actions += protocolAction(1, 2)
    // DV re-adds require the deletionVectors table feature: upgrade the
    // protocol in the SAME commit that introduces the first descriptor.
    // Per the protocol's table-features contract, upgrading to
    // readerVersion 3 / writerVersion 7 must LIST every feature the
    // legacy versions implied (a name-mode column-mapping table at
    // (2, 5) keeps columnMapping in both lists, or foreign readers
    // would silently stop resolving physical names), plus whatever the
    // table already declared explicitly.
    if (dvReAdds.nonEmpty && currentState.forall(s =>
        s.minReader < 3 || !s.readerFeatures.contains("deletionVectors"))) {
      val (rf, wf) = upgradeFeatureLists(currentState, "deletionVectors")
      actions += protocolAction(3, 7, Some(rf), Some(wf))
    }
    // a fresh metaData action rides the commit only when the schema or
    // the partitioning actually changed (plus v0) — re-recording an
    // identical metaData on every overwrite/remove-bearing commit is
    // noise foreign readers must replay. The table's CONFIGURATION (and
    // id) is PRESERVED, never reset — dropping (say)
    // delta.enableChangeDataFeed on a schema-evolving append would
    // silently disable the feed for foreign readers.
    if (emitMeta)
      actions += metaDataAction(recordedSchema, partitionBy, now,
        newConfiguration, currentState.flatMap(_.tableId))
    txn.foreach { case (appId, tv) =>
      val tx = LogJson.createObjectNode
      tx.put("appId", appId).put("version", tv).put("lastUpdated", now)
      actions += wrap("txn", tx)
    }
    cdcStaged.foreach { case (path, size, pv) =>
      val c = LogJson.createObjectNode
      c.put("path", encodePath(path))
      val pvNode = c.putObject("partitionValues")
      pv.foreach { case (k, x) => pvNode.put(k, x) }
      c.put("size", size).put("dataChange", false)
      actions += wrap("cdc", c)
    }
    removePaths.foreach(p =>
      actions += removeAction(p, now, dataChange, removeDvs.get(p)))
    moved.foreach { case (path, size, pv) =>
      val base = rowIdBase.get(path)
      actions += addAction(AddFile(path, pv, size, now,
        statsByName.get(path.split('/').last), tags,
        baseRowId = base, defaultRowCommitVersion = base.map(_ => v)),
        dataChange)
    }
    // the advanced row-id high-water mark rides the SAME commit as the
    // adds it covers, per the protocol's domain-metadata shape
    newRowIdHwm.foreach(h => actions += domainMetadataAction(
      DeltaTable.RowTrackingDomain, s"""{"rowIdHighWaterMark":$h}"""))
    // DV re-adds: remove the old entry (its previous descriptor riding
    // the remove, for CDC) then re-add the SAME path with the merged
    // deletionVector — the file's bytes are untouched, and the same
    // physical rows keep their row ids (what makes DV DELETE legal on an
    // ENABLED table)
    dvReAdds.foreach { case (f, dv) =>
      actions += removeAction(f.path, now, dataChange, f.dv, f.baseRowId,
        f.defaultRowCommitVersion)
      actions += addAction(f.copy(dv = Some(dv)), dataChange)
    }
    publish(v, op, opParams, newConfiguration, now, actions.iterator)
    v
  }

  /** One `metaData` action line; the id defaults to the name-derived
    * UUID of the table root. */
  private def metaDataAction(schema: StructType, partitionBy: Seq[String],
      now: Long, configuration: Map[String, String],
      tableId: Option[String]): String = {
    val meta = LogJson.createObjectNode
    meta.put("id", tableId.getOrElse(
      java.util.UUID.nameUUIDFromBytes(root.getBytes("UTF-8")).toString))
    val fmt = meta.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    meta.put("schemaString", schema.json)
    val pc = meta.putArray("partitionColumns")
    partitionBy.foreach(pc.add)
    val cfg = meta.putObject("configuration")
    configuration.toSeq.sortBy(_._1).foreach { case (k, x) => cfg.put(k, x) }
    meta.put("createdTime", now)
    wrap("metaData", meta)
  }

  /** Explicit feature lists for a protocol upgrade to (3, 7) declaring
    * `extra`: a table ALREADY on explicit lists keeps exactly its own
    * lists (merging the legacy-implied set there would over-declare
    * dormant features it never had — columnMapping into readerFeatures,
    * every legacy writer tier into writerFeatures — needlessly
    * shrinking the set of foreign engines that accept the table, the
    * r15 advisory); a legacy-tier table gets its implied features
    * spelled out, per the protocol's upgrade rule. */
  private def upgradeFeatureLists(st: Option[LogState], extra: String*)
      : (Seq[String], Seq[String]) = {
    val rf = st.map(s =>
      if (s.minReader >= 3) s.readerFeatures
      else s.readerFeatures ++ legacyReaderFeatures(s.minReader))
      .getOrElse(Set.empty[String])
    val wf = st.map(s =>
      if (s.minWriter >= 7) s.writerFeatures
      else s.writerFeatures ++ legacyWriterFeatures(s.minWriter))
      .getOrElse(legacyWriterFeatures(2))
    ((rf ++ extra).toSeq.sorted, (wf ++ extra).toSeq.sorted)
  }

  /** The protocol's writer-feature contract ("writers must implement
    * every active writer feature"), gated by every commit-producing
    * verb BEFORE any data lands. Features in
    * [[DeltaTable.ImplementedWriterFeatures]] are honored outright:
    * active `appendOnly` refuses removes/rewrites here, and the
    * validation-class features (CHECK constraints, column invariants,
    * generated and identity columns) are ENFORCED row-by-row on every
    * data-adding commit by [[enforceRowContract]] — the gate itself no
    * longer refuses them. Anything outside the implemented set refuses
    * outright — silently committing to (say) a rowTracking or
    * icebergCompat table would corrupt its write contract. */
  private def requireWriterFeatures(st: LogState, op: String,
      removesRows: Boolean, reclusterOk: Boolean = false): Unit = {
    val declared: Set[String] = st.declaredWriterFeatures
    // liquid clustering (r17, recluster r18): the feature's write
    // contract is "keep the delta.clustering domain intact and don't
    // DE-organize files" — the engine preserves every domain across
    // commits/checkpoints/clones (r16), so appends, DV kills, predicate
    // verbs and metadata verbs are LEGAL on clustered foreign tables.
    // OPTIMIZE must recluster by the DECLARED columns: only
    // [[optimizeClustered]]/[[optimizeClusteredIncremental]] do (they
    // set reclusterOk after resolving the domain's columns); the plain
    // compaction/zorder verbs would destroy the declared layout and
    // keep refusing by name.
    require(!(declared("clustering") && op == "OPTIMIZE" && !reclusterOk),
      s"DeltaTable $root: OPTIMIZE on a table declaring the clustering " +
        "writer feature — a rewrite must recluster by the table's " +
        "declared clustering columns; use optimizeClustered / " +
        "optimizeClusteredIncremental (plain compaction or ad-hoc " +
        "zorder would destroy the layout); appends and DV " +
        "DELETE/UPDATE/MERGE stay legal")
    // icebergCompatV2 (r18): dormant (declared, config off) imposes
    // nothing. ACTIVE, this engine honors the append-shaped contract
    // only — data-ADDING commits whose files carry Iceberg field ids +
    // numRecords (enforced in [[commit]]) plus the metadata plane; the
    // row-removing/rewriting verbs refuse because their Iceberg
    // metadata sync (position deletes, rewritten manifests) is not
    // implemented, and schema verbs refuse because Iceberg field-id
    // evolution is not mirrored.
    if (st.icebergCompatV2Active) {
      val legal = Set("WRITE", "CHECKPOINT", "LOG CLEANUP", "VACUUM",
        "CLONE", "SET TBLPROPERTIES")
      require(legal(op) && !removesRows,
        s"DeltaTable $root: $op on a table with icebergCompatV2 ACTIVE — " +
          "this engine honors appends and the metadata plane only " +
          "(row-removing, rewriting and schema verbs would desync the " +
          "Iceberg metadata contract)")
    }
    val unknown =
      declared -- ImplementedWriterFeatures - "clustering" - "icebergCompatV2"
    require(unknown.isEmpty,
      s"DeltaTable $root: $op on a table declaring writer feature(s) " +
        s"${unknown.toSeq.sorted.mkString(",")} this engine does not " +
        "implement — refusing to violate the table's write contract")
    if (removesRows)
      require(!(declared("appendOnly") &&
          st.configuration.get("delta.appendOnly").contains("true")),
        s"DeltaTable $root: $op removes or rewrites rows of an " +
          "append-only table (delta.appendOnly=true) — refusing")
  }

  /** Row-level write-contract ENFORCEMENT for the validation-class
    * writer features, applied to every data-adding commit's frame
    * (delta-spark parity — these were refuse-when-active through r15):
    *
    *   - CHECK constraints (`delta.constraints.<name>` configuration)
    *     and legacy column invariants (`delta.invariants` field
    *     metadata, `{"expression":{"expression":"<sql>"}}`): each
    *     predicate is compiled into the write projection itself — the
    *     first data column is wrapped in a CaseWhen whose violation arm
    *     is `raise_error` naming the constraint and the violating row's
    *     JSON. ONE pass (no pre-validation scan — at 100 TB a separate
    *     validation job would double the append's read cost), loud
    *     failure before the commit publishes, staged part files swept
    *     by the existing scratch cleanup. SQL CHECK semantics: a row
    *     violates only when the expression is exactly FALSE — NULL
    *     (unknown) passes, per the SQL standard delta-spark follows.
    *   - Generated columns (`delta.generationExpression` field
    *     metadata): a frame OMITTING the column gets it computed from
    *     the expression; a frame providing it is validated per row
    *     (provided must null-safe-equal computed — Delta's "explicit
    *     values must match the generation expression" rule) with the
    *     same inline raise_error shape.
    *   - Identity columns (`delta.identity.*` field metadata): a frame
    *     omitting the column gets values assigned DISTRIBUTED via
    *     zipWithIndex (one count job over a localCheckpointed frame,
    *     then per-partition offset arithmetic — no global sort, no
    *     single-partition window): value_i = base + step·(i+1) with
    *     base = highWaterMark (or start − step on first use), and the
    *     commit's metaData records the new
    *     `delta.identity.highWaterMark` = base + step·n in the field
    *     metadata, per the protocol. GENERATED ALWAYS columns
    *     (allowExplicitInsert absent/false) refuse explicit values;
    *     allowExplicitInsert=true frames pass through with the
    *     high-water-mark SYNCed over the explicit values (rounded onto
    *     the start + k·step lattice) so later generation cannot
    *     collide.
    *
    * Returns the enforced/augmented frame plus the identity columns'
    * new high-water-marks for the metaData emission. v0 commits skip
    * enforcement (the frame DEFINES the table; enforcement begins with
    * the next write). */
  private def enforceRowContract(st: LogState, df0: DataFrame, op: String,
      preexistingRows: Boolean = false): (DataFrame, Map[String, Long]) = {
    var df = df0
    val hwmUpdates = mutable.Map.empty[String, Long]
    def metaLong(m: Metadata, k: String): Option[Long] =
      if (!m.contains(k)) None
      else try Some(m.getLong(k))
      catch { case _: ClassCastException => Some(m.getDouble(k).toLong) }

    // a frame PROVIDING a declared column usually carries no field
    // metadata — re-attach the table's, so an OVERWRITE (whose frame
    // schema REPLACES the table's) cannot silently strip the
    // generation expression / invariant / identity declaration and
    // leave every later write unvalidated
    val declKeys = Seq(DeltaTable.GenExprKey, DeltaTable.InvariantsKey,
      DeltaTable.IdentityStartKey, DeltaTable.IdentityStepKey,
      DeltaTable.IdentityHwmKey, DeltaTable.IdentityAllowKey)
    st.schema.fields
      .filter(f => declKeys.exists(f.metadata.contains))
      .filter(f => df.columns.contains(f.name))
      .foreach(f => df = df.withColumn(f.name,
        col(f.name).as(f.name, f.metadata)))

    // a validation expression may reference a column the frame legally
    // OMITS (the schema-merge contract serves omitted columns as
    // nulls): give the evaluation the same view by adding typed-null
    // stand-ins, dropped again before anything is written
    def refNames(sql: String): Seq[String] =
      SparkSession.active.sessionState.sqlParser.parseExpression(sql)
        .collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            u.nameParts.head
        }
    val validationSql: Seq[String] =
      st.configuration.collect {
        case (k, s) if k.startsWith(DeltaTable.ConstraintPrefix) => s
      }.toSeq ++
      st.schema.fields.flatMap { f =>
        (if (f.metadata.contains(DeltaTable.GenExprKey))
          Some(f.metadata.getString(DeltaTable.GenExprKey)) else None) ++
        (if (f.metadata.contains(DeltaTable.InvariantsKey))
          Some(parseInvariant(f.metadata.getString(DeltaTable.InvariantsKey)))
        else None)
      }
    val lowerCols = df.columns.map(_.toLowerCase).toSet
    val evalOnly: Seq[StructField] = validationSql.flatMap(refNames)
      .distinct
      .filterNot(n => lowerCols(n.toLowerCase))
      .flatMap(n => st.schema.fields.find(_.name.equalsIgnoreCase(n)))
      // generated/identity columns are computed/assigned by their own
      // blocks below — a null stand-in would turn them into "provided"
      .filterNot(f => f.metadata.contains(DeltaTable.GenExprKey) ||
        f.metadata.contains(DeltaTable.IdentityStartKey) ||
        f.metadata.contains(DeltaTable.IdentityStepKey))
    evalOnly.foreach(f =>
      df = df.withColumn(f.name, lit(null).cast(f.dataType)))

    // ---- generated columns: compute when absent, validate when given
    st.schema.fields.filter(_.metadata.contains(DeltaTable.GenExprKey)).foreach { f =>
      val genSql = f.metadata.getString(DeltaTable.GenExprKey)
      val gen = expr(genSql).cast(f.dataType)
      // computed columns carry the table's field metadata, so even an
      // overwrite (whose frame schema REPLACES the table's) keeps the
      // generation expression declared
      if (!df.columns.contains(f.name))
        df = df.withColumn(f.name, gen.as(f.name, f.metadata))
      else {
        val payload = to_json(struct(df.columns.map(col).toSeq: _*))
        df = df.withColumn(f.name,
          when(col(f.name) <=> gen, col(f.name)).otherwise(
            raise_error(concat(lit(s"DeltaTable $root: $op provides " +
              s"generated column ${f.name} != its generation expression " +
              s"($genSql) on row "), payload)).cast(f.dataType))
            .as(f.name, df.schema(f.name).metadata))
      }
    }

    // ---- identity columns: assign or sync, HWM rides the commit -----
    st.schema.fields.filter(f =>
        f.metadata.contains(DeltaTable.IdentityStartKey) ||
        f.metadata.contains(DeltaTable.IdentityStepKey)).foreach { f =>
      val m = f.metadata
      val start = metaLong(m, DeltaTable.IdentityStartKey).getOrElse(1L)
      val step = metaLong(m, DeltaTable.IdentityStepKey).getOrElse(1L)
      require(step != 0L,
        s"DeltaTable $root: identity column ${f.name} declares step 0")
      val hwm = metaLong(m, DeltaTable.IdentityHwmKey)
      // round v onto the start + k·step lattice, away from start, so a
      // synced high-water-mark is itself a valid identity value —
      // BigInt arithmetic: a Double round-trip loses precision past
      // 2^53 and would sync a high-water-mark BELOW the observed value.
      // A value strictly BEFORE start (in the step direction) needs no
      // coverage at all: returning start here would mark START itself
      // consumed and the declared first value would never be assigned
      // (r15 advisory) — None keeps the HWM unset, base = start − step.
      def lattice(v: Long): Option[Long] = {
        val num = BigInt(v) - BigInt(start)
        val den = BigInt(step)
        if (num.signum * den.signum < 0) None
        else {
          val q = num / den
          val ceil = if (num % den == 0) q else q + 1
          Some((BigInt(start) + ceil * den).toLong)
        }
      }
      if (df.columns.contains(f.name)) {
        // preexistingRows (UPDATE postimages): the values are the
        // table's own assignments — no explicit-insert gate, no sync
        require(preexistingRows ||
            (m.contains(DeltaTable.IdentityAllowKey) &&
              m.getBoolean(DeltaTable.IdentityAllowKey)),
          s"DeltaTable $root: $op provides explicit values for GENERATED " +
            s"ALWAYS identity column ${f.name} " +
            "(delta.identity.allowExplicitInsert is not true) — refusing")
        if (!preexistingRows) {
          // SYNC: cover the explicit values so later generation can't
          // collide — one single-column agg job over the frame
          val observed = df.agg(
            (if (step > 0) fmax(col(f.name)) else fmin(col(f.name)))
              .cast(LongType)).collect()(0)
          if (!observed.isNullAt(0)) {
            lattice(observed.getLong(0)).foreach { o =>
              val covered = hwm match {
                case Some(h) => if (step > 0) math.max(h, o) else math.min(h, o)
                case None => o
              }
              if (!hwm.contains(covered)) hwmUpdates += f.name -> covered
            }
          }
        }
      } else {
        val base = hwm.getOrElse(start - step)
        // localCheckpoint stabilizes the frame across the count job and
        // the assignment job (a recomputed nondeterministic frame could
        // otherwise shift rows between partitions mid-assignment)
        val cached = df.localCheckpoint(true)
        val n = cached.count()
        if (n == 0)
          df = cached.withColumn(f.name,
            lit(null).cast(LongType).as(f.name, f.metadata))
        else {
          // assigned columns keep the identity declaration in the field
          // metadata (overwrite frames REPLACE the table schema)
          val outSchema = StructType(cached.schema.fields :+
            StructField(f.name, LongType, nullable = false, f.metadata))
          val assigned = cached.rdd.zipWithIndex.map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ (base + step * (i + 1)))
          }
          df = cached.sparkSession.createDataFrame(assigned, outSchema)
          hwmUpdates += f.name -> (base + step * n)
        }
      }
    }

    // ---- CHECK constraints + column invariants: inline row asserts --
    val checks: Seq[(String, String)] =
      st.configuration.toSeq.sortBy(_._1).collect {
        case (k, v) if k.startsWith(DeltaTable.ConstraintPrefix) =>
          s"CHECK constraint ${k.stripPrefix(DeltaTable.ConstraintPrefix)}" -> v
      } ++
      st.schema.fields.flatMap { f =>
        if (!f.metadata.contains(DeltaTable.InvariantsKey)) None
        else Some(s"column invariant on ${f.name}" ->
          parseInvariant(f.metadata.getString(DeltaTable.InvariantsKey)))
      }
    if (checks.nonEmpty && df.columns.nonEmpty) {
      // the asserts ride a REAL output column (the first), so the
      // optimizer can never prune them; CaseWhen arms evaluate lazily,
      // so raise_error costs nothing on passing rows
      val carrier = df.columns.head
      val cf = df.schema(carrier)
      val payload = to_json(struct(df.columns.map(col).toSeq: _*))
      val wrapped = checks.foldLeft(col(carrier)) {
        case (acc, (label, sql)) =>
          when(coalesce(expr(sql).cast(BooleanType), lit(true)) === false,
            raise_error(concat(
              lit(s"DeltaTable $root: $op violates $label ($sql) on row "),
              payload)).cast(cf.dataType))
          .otherwise(acc)
      }
      df = df.withColumn(carrier, wrapped.as(carrier, cf.metadata))
    }
    // the null stand-ins were for EVALUATION only — the staged files
    // keep omitting the columns, exactly as an unvalidated append would
    if (evalOnly.nonEmpty) df = df.drop(evalOnly.map(_.name): _*)
    (df, hwmUpdates.toMap)
  }

  /** Legacy invariant metadata: `{"expression":{"expression":"<sql>"}}`
    * (the delta protocol's column-invariants JSON; delta-spark writes
    * exactly this shape). */
  private def parseInvariant(json: String): String = {
    val node = LogJson.readTree(json)
    val e = node.path("expression").path("expression")
    require(e.isTextual,
      s"DeltaTable $root: unparseable delta.invariants metadata $json")
    e.asText
  }

  /** SET TBLPROPERTIES — commit a metaData action with the updated
    * configuration (schema/partitioning/id unchanged, existing keys
    * preserved). Enabling the change data feed upgrades the protocol to
    * the tier that declares the feature (minWriterVersion 4), per the
    * protocol's activation rule — after which [[delete]]/[[merge]]
    * serialize their row-level change sets as `cdc` actions. */
  def setProperties(props: Map[String, String]): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    requireWriterFeatures(st, "SET TBLPROPERTIES",
      removesRows = false)
    // ADD CONSTRAINT validates EXISTING rows first (delta-spark's ALTER
    // TABLE ADD CONSTRAINT contract, r16): a constraint the current
    // data violates must refuse here, or every later write would assert
    // a contract the table never satisfied. One filtered count per NEW
    // constraint — the documented cost of the verb, exactly the scan
    // delta-spark performs; SQL semantics (NULL passes) as in
    // enforceRowContract. Re-declaring an unchanged key revalidates
    // nothing.
    props.toSeq.sortBy(_._1).foreach { case (k, sql) =>
      if (k.startsWith(DeltaTable.ConstraintPrefix) &&
          !st.configuration.get(k).contains(sql)) {
        val violations = read(spark)
          .filter(coalesce(expr(sql).cast(BooleanType), lit(true)) === false)
          .count()
        require(violations == 0L,
          s"DeltaTable $root: ADD CONSTRAINT " +
            s"${k.stripPrefix(DeltaTable.ConstraintPrefix)} ($sql) — " +
            s"$violations existing row(s) violate it; refusing")
      }
    }
    val conf = st.configuration ++ props
    val now = System.currentTimeMillis
    val actions = mutable.ArrayBuffer.empty[String]
    val ictOn = conf.get("delta.enableInCommitTimestamps").contains("true")
    // activation upgrades the protocol to the declaring tier, per the
    // protocol's rule: CHECK constraints → minWriter 3, CDF →
    // minWriter 4; inCommitTimestamp exists only as an EXPLICIT v7
    // feature, so enabling it converts a legacy tier to (minReader, 7)
    // with the implied features spelled out. Explicit-feature tables
    // (v7) get the missing feature NAMES added to writerFeatures.
    val activated = mutable.ArrayBuffer.empty[(Int, String)]
    if (conf.keys.exists(_.startsWith(DeltaTable.ConstraintPrefix)))
      activated += 3 -> "checkConstraints"
    if (conf.get("delta.enableChangeDataFeed").contains("true"))
      activated += 4 -> "changeDataFeed"
    val v7Only: Set[String] = if (ictOn) Set("inCommitTimestamp") else Set.empty
    if (st.minWriter >= 7) {
      val missing = (activated.map(_._2).toSet ++ v7Only) -- st.writerFeatures
      if (missing.nonEmpty)
        actions += protocolAction(st.minReader, 7,
          Some(st.readerFeatures).filter(_ => st.minReader >= 3),
          Some(st.writerFeatures ++ missing))
    } else if (v7Only.nonEmpty) {
      actions += protocolAction(st.minReader, 7,
        Some(st.readerFeatures ++ legacyReaderFeatures(st.minReader))
          .filter(_ => st.minReader >= 3),
        Some(legacyWriterFeatures(st.minWriter) ++ activated.map(_._2) ++
          v7Only))
    } else if (activated.nonEmpty &&
        activated.map(_._1).max > st.minWriter)
      actions += protocolAction(st.minReader, activated.map(_._1).max)
    actions += metaDataAction(st.schema, st.partitionColumns, now, conf,
      st.tableId)
    // enabling in-commit timestamps makes THIS commit the first to
    // carry one (the config is active as of this version)
    val v = st.version + 1
    publish(v, "SET TBLPROPERTIES", props, conf, now, actions.iterator)
    v
  }

  /** ALTER TABLE RENAME COLUMN (r16) — the operation column mapping
    * EXISTS for: one metadata-only commit rewrites the LOGICAL name
    * while the physical name (and column id) stay, so zero data files
    * move and every existing footer, stats key and partition directory
    * keeps resolving. Legal only on column-mapping tables (mode `name`
    * or `id`) — on mode `none` the logical name IS the footer name, and
    * a metadata-only rename would orphan every file (delta-spark
    * refuses identically). Renaming a partition column updates the
    * (logical-named) `partitionColumns` list in the same metaData
    * action; renaming a column referenced by a CHECK constraint,
    * column invariant or generation expression refuses — the stored
    * SQL would silently stop resolving. */
  def renameColumn(oldName: String, newName: String): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    requireWriterFeatures(st, "RENAME COLUMN", removesRows = false)
    require(st.columnMappingMode != "none",
      s"DeltaTable $root: RENAME COLUMN requires column mapping " +
        "(delta.columnMapping.mode name or id) — a mode-none rename " +
        "would orphan the physical columns; rewrite via overwrite instead")
    require(st.schema.fieldNames.contains(oldName),
      s"DeltaTable $root: RENAME COLUMN $oldName — no such column")
    require(!st.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"DeltaTable $root: RENAME COLUMN to $newName — column exists")
    requireUnreferenced(st, oldName, "RENAME COLUMN",
      excludeSelfDecls = false)
    val newSchema = StructType(st.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val newParts = st.partitionColumns.map(c =>
      if (c == oldName) newName else c)
    metadataOnlyCommit(st, "RENAME COLUMN",
      Map("oldName" -> oldName, "newName" -> newName), newSchema, newParts)
  }

  /** ALTER TABLE DROP COLUMN (r16) — metadata-only on column-mapping
    * tables: the field leaves the logical schema, the physical column
    * stays in the files (unreferenced, reclaimed by the next OPTIMIZE
    * rewrite), exactly delta-spark's drop semantics. Partition columns
    * and columns referenced by constraints / invariants / generation
    * expressions refuse. */
  def dropColumn(name: String): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    requireWriterFeatures(st, "DROP COLUMN", removesRows = false)
    require(st.columnMappingMode != "none",
      s"DeltaTable $root: DROP COLUMN requires column mapping " +
        "(delta.columnMapping.mode name or id) — rewrite via overwrite " +
        "instead")
    require(st.schema.fieldNames.contains(name),
      s"DeltaTable $root: DROP COLUMN $name — no such column")
    require(!st.partitionColumns.contains(name),
      s"DeltaTable $root: DROP COLUMN $name — partition column")
    require(st.schema.length > 1,
      s"DeltaTable $root: DROP COLUMN $name would leave an empty schema")
    // a dropped column's OWN invariant/generation expression leaves
    // with it; only declarations elsewhere pin it in place
    requireUnreferenced(st, name, "DROP COLUMN", excludeSelfDecls = true)
    val newSchema = StructType(st.schema.fields.filterNot(_.name == name))
    metadataOnlyCommit(st, "DROP COLUMN", Map("column" -> name), newSchema,
      st.partitionColumns)
  }

  /** Refuse schema surgery on a column some stored SQL references: the
    * CHECK constraints in the configuration, every column invariant,
    * and every OTHER column's generation expression. */
  private def requireUnreferenced(st: LogState, column: String,
      op: String, excludeSelfDecls: Boolean): Unit = {
    def refs(sql: String): Set[String] =
      SparkSession.active.sessionState.sqlParser.parseExpression(sql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.head.toLowerCase
        }.toSet
    val stored: Seq[(String, String)] =
      st.configuration.toSeq.collect {
        case (k, v) if k.startsWith(DeltaTable.ConstraintPrefix) =>
          s"CHECK constraint ${k.stripPrefix(DeltaTable.ConstraintPrefix)}" -> v
      } ++
      st.schema.fields.flatMap { f =>
        // DROP: the column's own invariant/generation expression
        // leaves with it; RENAME: its own invariant still stores the
        // OLD name in SQL and must refuse too
        (if ((f.name != column || !excludeSelfDecls) &&
            f.metadata.contains(DeltaTable.InvariantsKey))
          Some(s"invariant on ${f.name}" ->
            parseInvariant(f.metadata.getString(DeltaTable.InvariantsKey)))
        else None) ++
        (if (f.name != column && f.metadata.contains(DeltaTable.GenExprKey))
          Some(s"generation expression of ${f.name}" ->
            f.metadata.getString(DeltaTable.GenExprKey))
        else None)
      }
    stored.foreach { case (label, sql) =>
      require(!refs(sql)(column.toLowerCase),
        s"DeltaTable $root: $op $column — referenced by $label ($sql)")
    }
  }

  /** One metadata-only commit: commitInfo (+ICT when enabled) and a
    * fresh metaData action carrying `newSchema`/`newPartitionColumns`
    * with the configuration and table id preserved — the shape RENAME/
    * DROP COLUMN publish. */
  private def metadataOnlyCommit(st: LogState, op: String,
      params: Map[String, String], newSchema: StructType,
      newPartitionColumns: Seq[String]): Long = {
    val now = System.currentTimeMillis
    val v = st.version + 1
    publish(v, op, params, st.configuration, now, Iterator(metaDataAction(
      newSchema, newPartitionColumns, now, st.configuration, st.tableId)))
    v
  }

  /** One `protocol` action line: the reader/writer versions plus the
    * explicit feature lists, written sorted (None omits a list). */
  private def protocolAction(minReader: Int, minWriter: Int,
      readerFeatures: Option[Iterable[String]] = None,
      writerFeatures: Option[Iterable[String]] = None): String = {
    val proto = LogJson.createObjectNode
    proto.put("minReaderVersion", minReader).put("minWriterVersion", minWriter)
    Seq("readerFeatures" -> readerFeatures, "writerFeatures" -> writerFeatures)
      .foreach { case (k, fs) =>
        fs.foreach { f =>
          val arr = proto.putArray(k)
          f.toSeq.sorted.foreach(arr.add)
        }
      }
    wrap("protocol", proto)
  }

  /** One `remove` action line. The removed file's deletion-vector
    * descriptor rides along (the protocol's shape: [[changes]] reads
    * the removed rows as they logically were), and so does its row-id
    * lineage when given. */
  private def removeAction(path: String, now: Long, dataChange: Boolean,
      dv: Option[String], baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None): String = {
    val rm = LogJson.createObjectNode
    rm.put("path", encodePath(path)).put("deletionTimestamp", now)
      .put("dataChange", dataChange)
    dv.foreach(j => rm.set[ObjectNode]("deletionVector", LogJson.readTree(j)))
    baseRowId.foreach(b => rm.put("baseRowId", b))
    defaultRowCommitVersion.foreach(c => rm.put("defaultRowCommitVersion", c))
    wrap("remove", rm)
  }

  /** One `add` action line, serialising `f` as it is: path (encoded),
    * partitionValues, size, modificationTime, `dataChange`, stats,
    * tags, deletion-vector descriptor and row-id lineage. Every verb
    * that adds a file builds the [[AddFile]] it means and writes it
    * here, so no field can be dropped at one site and kept at another. */
  private def addAction(f: AddFile, dataChange: Boolean): String = {
    val add = LogJson.createObjectNode
    add.put("path", encodePath(f.path))
    val pvNode = add.putObject("partitionValues")
    f.partitionValues.foreach { case (k, x) => pvNode.put(k, x) }
    add.put("size", f.size).put("modificationTime", f.modificationTime)
      .put("dataChange", dataChange)
    f.statsJson.foreach(s => add.put("stats", s))
    if (f.tags.nonEmpty) {
      val tn = add.putObject("tags")
      f.tags.foreach { case (k, x) => tn.put(k, x) }
    }
    f.dv.foreach(j => add.set[ObjectNode]("deletionVector", LogJson.readTree(j)))
    f.baseRowId.foreach(b => add.put("baseRowId", b))
    f.defaultRowCommitVersion.foreach(c => add.put("defaultRowCommitVersion", c))
    wrap("add", add)
  }

  /** One live `domainMetadata` action line. */
  private def domainMetadataAction(domain: String, configuration: String): String = {
    val dm = LogJson.createObjectNode
    dm.put("domain", domain).put("configuration", configuration)
      .put("removed", false)
    wrap("domainMetadata", dm)
  }

  private def wrap(key: String, node: ObjectNode): String = {
    val outer = LogJson.createObjectNode
    outer.set[ObjectNode](key, node)
    LogJson.writeValueAsString(outer)
  }

  /** Publish commit `v` — the one commit envelope every verb writes
    * through. Line one is the `commitInfo` action: wall-clock
    * `timestamp` `now`, `op`, `params` (keys sorted) and, when
    * `configuration` (the table's configuration as of this commit)
    * enables in-commit timestamps, an `inCommitTimestamp` above version
    * v-1's commit time ([[commitTimeOf]]) — monotonic, so clock skew
    * cannot reorder history for timestamp time travel, and the commit
    * that enables it never precedes its predecessor. Then `actions`,
    * consumed once while the staging file is written, so a caller may
    * stream them (the clone's census does). The `.tmp-` staging file is
    * hard-linked to the commit path — atomic create-if-absent, so a
    * racing writer of the same version loses loudly — and deleted
    * whatever happens: after the link, and when writing a line or the
    * link fails, so a failed commit leaves nothing in the log. */
  private[lake] def publish(v: Long, op: String, params: Map[String, String],
      configuration: Map[String, String], now: Long,
      actions: Iterator[String]): Unit = {
    val ci = LogJson.createObjectNode
    ci.put("timestamp", now).put("operation", op)
    if (configuration.get("delta.enableInCommitTimestamps").contains("true"))
      ci.put("inCommitTimestamp",
        math.max(now, (if (v == 0L) 0L else commitTimeOf(v - 1)) + 1))
    val pn = ci.putObject("operationParameters")
    params.toSeq.sortBy(_._1).foreach { case (k, x) => pn.put(k, x) }
    Files.createDirectories(logDir)
    val tmp = logDir.resolve(s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      val w = Files.newBufferedWriter(tmp)
      try (Iterator(wrap("commitInfo", ci)) ++ actions).foreach { line =>
        w.write(line); w.write('\n')
      } finally w.close()
      Files.createLink(commitPath(v), tmp) // atomic, fails if v exists
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"DeltaTable $root: concurrent commit already published v$v", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** Write a parquet checkpoint of the CURRENT latest snapshot plus the
    * `_last_checkpoint` pointer, so future reads replay only the JSON
    * tail after it. Idempotent: re-checkpointing a version replaces the
    * derived files (checkpoints are cache, commits are truth).
    *
    * DISTRIBUTED: the add census flows from the previous checkpoint's
    * parquet scan (plus the tail overlay) straight into the new
    * checkpoint's writer task — one executor streams it; the driver
    * holds only the handful of control rows (protocol, metaData, txn
    * water-marks, and `remove` tombstones younger than
    * `tombstoneRetentionMs`, which the protocol requires checkpoints to
    * carry so foreign readers can vacuum safely). Real per-file size
    * and modificationTime ride each add row — `size` is a required add
    * field and foreign readers consume it. */
  def checkpoint(tombstoneRetentionMs: Long = DefaultRetentionMs,
      parts: Int = 1): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    // a checkpoint is derived state, not a data write — legal on
    // column-mapping tables too (the control metaData row carries the
    // table's configuration and metadata-bearing schemaString, and the
    // add census replays verbatim physical-keyed payloads); tables
    // declaring checkpoint-shape writer features this engine does not
    // implement refuse via the gate. Tables with the `v2Checkpoint`
    // feature get the V2 form the feature REQUIRES writers to produce
    // (UUID manifest + sidecars); everything else gets the classic form.
    requireWriterFeatures(st, "CHECKPOINT",
      removesRows = false)
    val now = System.currentTimeMillis
    val tableId = st.tableId.getOrElse(
      java.util.UUID.nameUUIDFromBytes(root.getBytes("UTF-8")).toString)

    // retained remove tombstones (previous checkpoint's — classic parts
    // or V2 sidecars — plus the tail's, last-wins by path; tail re-adds
    // cancel — writers never reuse file names, so a tombstoned path
    // cannot be live again)
    val horizon = now - tombstoneRetentionMs
    val prevTombstones: Map[String, Long] =
      checkpointRemoves(spark, st.checkpointFiles, horizon) ++
        checkpointRemoves(spark, st.sidecarFiles, horizon)
    val liveTail = st.tail.adds.map(_.path).toSet
    val tombstones = (prevTombstones ++ st.tail.tombstones)
      .filter { case (p, ts) => ts >= horizon && !liveTail(p) }

    // the control actions both forms carry: protocol, metaData (with the
    // configuration and the metadata-bearing schemaString), txn
    // water-marks, and live domainMetadata — which persists in
    // checkpoints per the protocol, the replay floor after log cleanup,
    // so a foreign table's domains (clustering state, row-id high-water
    // marks) survive engine maintenance
    val control: Seq[(String, Row)] =
      Seq("protocol" -> Row(st.minReader, st.minWriter,
          if (st.readerFeatures.isEmpty) null else st.readerFeatures.toSeq.sorted,
          if (st.writerFeatures.isEmpty) null else st.writerFeatures.toSeq.sorted),
        "metaData" -> Row(tableId, Row("parquet"), st.schema.json,
          st.partitionColumns, st.configuration, now)) ++
      st.txns.toSeq.sortBy(_._1).map { case (app, tv) =>
        "txn" -> Row(app, tv, 0L) } ++
      st.domains.toSeq.sortBy(_._1).map { case (dm, cfg) =>
        "domainMetadata" -> Row(dm, cfg, false) }
    val removes: Seq[(String, Row)] = tombstones.toSeq.sortBy(_._1).map {
      case (p, ts) => "remove" -> Row(encodePath(p), ts, true) }

    // NOTE a checkpoint write needs no memo invalidation: a checkpoint is
    // DERIVED state (the snapshot is unchanged, so memoized LogStates
    // stay semantically correct), and a same-version file-set REPLACEMENT
    // (different part count, regenerated sidecars) deletes the old files,
    // which the memo's per-hit existence probe already catches.
    val token = java.util.UUID.randomUUID.toString.take(8)
    val (kept, size, pointerParts) =
      if (st.readerFeatures.contains("v2Checkpoint"))
        checkpointV2(spark, st, token, now, control, removes, parts)
      else checkpointClassic(spark, st, token, control ++ removes, parts)
    // Idempotence means REPLACEMENT, in crash-safe order: the form moved
    // its NEW files in first; only now does _last_checkpoint move, and
    // only THEN do stale same-version files not in the new set go.
    // Every instant of that window holds at least one COMPLETE
    // checkpoint at this version — a foreign reader trusting the
    // pointer never finds it dangling (delete-first had a crash window
    // with _last_checkpoint aimed at nothing). A brief overlap of two
    // complete sets is harmless: both describe the same snapshot, and
    // the stale one is removed here or by the next checkpoint call.
    val lc = LogJson.createObjectNode
    lc.put("version", st.version).put("size", size)
    pointerParts.foreach(n => lc.put("parts", n))
    val tmp = logDir.resolve(s".tmp-lc-$token")
    Files.write(tmp, (LogJson.writeValueAsString(lc) + "\n").getBytes("UTF-8"))
    Files.move(tmp, logDir.resolve("_last_checkpoint"),
      StandardCopyOption.REPLACE_EXISTING)
    val vPrefix = f"${st.version}%020d.checkpoint"
    Files.list(logDir).iterator.asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith(vPrefix) && n.endsWith(".parquet") && !kept(n)
      }.toSeq.foreach(Files.deleteIfExists(_))
    // then V2 sidecars referenced by NO remaining manifest
    orphanSidecars(spark).foreach(Files.deleteIfExists(_))
    st.version
  }

  /** Rows of checkpoint file `schema`, one per (action column, action
    * struct) pair, every other action column null. */
  private def actionRows(spark: SparkSession, schema: StructType,
      actions: Seq[(String, Row)]): DataFrame =
    spark.createDataFrame(actions.map { case (name, action) =>
      Row.fromSeq(schema.fieldNames.toSeq.map(n =>
        if (n == name) action else null)) }.asJava, schema)

  /** The add census as rows of checkpoint file `schema` — the
    * protocol's `add` struct (paths re-encoded, DV descriptors
    * re-structured), every other action column null — fed from the
    * distributed census scan. */
  private def censusRows(spark: SparkSession, st: LogState,
      schema: StructType): DataFrame = {
    val add = struct(sqlEncodePath(col("path")).as("path"),
      col("partitionValues"), col("size"), col("modificationTime"),
      lit(true).as("dataChange"), col("stats"), col("tags"),
      from_json(col("dv"), dvStructType).as("deletionVector"),
      col("baseRowId"), col("defaultRowCommitVersion"))
    fileCensus(spark, st).select(schema.map(f =>
      (if (f.name == "add") add else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** The checkpoint write both forms share: `frame` lands through a
    * `.tmp-cp-<token>`-class scratch directory ([[viaScratch]]) as one
    * coalesced file, or as `parts` files written by `parts` tasks, and
    * `place` moves the written files into the log. Returns place's
    * result and the row count, OBSERVED on the write itself (one job,
    * not a second census computation). */
  private def writeCheckpointFiles[T](frame: DataFrame, parts: Int,
      scratch: Path)(place: Seq[Path] => T): (T, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = frame.observe(obs,
      org.apache.spark.sql.functions.count(lit(1)).as("rows"))
    val placed = viaScratch(scratch)(
      (if (parts <= 1) observed.coalesce(1) else observed.repartition(parts))
        .write.mode("overwrite").parquet(_)) { dir =>
      val written = Files.list(dir).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.toString)
      require(written.nonEmpty, "checkpoint write produced no part")
      place(written)
    }
    (placed, obs.get("rows").asInstanceOf[Long])
  }

  /** Retained `remove` tombstones of one checkpoint file set (classic
    * parts carry them inline; V2 checkpoints carry them in sidecars). */
  private def checkpointRemoves(spark: SparkSession, paths: Seq[Path],
      horizon: Long): Map[String, Long] =
    if (paths.isEmpty) Map.empty
    else {
      val df = parquetCached(spark, paths)
      df.schema.find(_.name == "remove").map(_.dataType) match {
        case Some(rt: StructType) if rt.fieldNames.contains("path") =>
          df.where(col("remove.path").isNotNull &&
              col("remove.deletionTimestamp") >= horizon)
            .select(sqlDecodePath(col("remove.path")),
              col("remove.deletionTimestamp"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        case _ => Map.empty[String, Long]
      }
    }

  /** The classic form: control rows, tombstones and the add census in
    * ONE file set. parts > 1: the protocol's MULTI-PART checkpoint
    * (%020d.checkpoint.%010d.%010d.parquet) — at 10^7 add actions a
    * single writer task is the bottleneck; N tasks write N parts in
    * parallel and readers union them. Part COUNT follows the files
    * Spark actually produced (empty partitions write nothing), so the
    * name always declares exactly the parts that exist — the
    * all-parts-present completeness check stays sound. A same-name
    * single-file move is REPLACE_EXISTING. Returns (the new file names,
    * row count, part count for `_last_checkpoint` when multi-part). */
  private def checkpointClassic(spark: SparkSession, st: LogState,
      token: String, actions: Seq[(String, Row)],
      parts: Int): (Set[String], Long, Option[Int]) = {
    val full = actionRows(spark, checkpointSchema, actions)
      .unionByName(censusRows(spark, st, checkpointSchema))
    val (names, size) = writeCheckpointFiles(full, parts,
        Paths.get(root, s".tmp-cp-$token")) { written =>
      val targets =
        if (written.size == 1) Seq(checkpointPath(st.version))
        else written.indices.map(i =>
          checkpointPartPath(st.version, i + 1, written.size))
      written.zip(targets).foreach { case (p, t) =>
        Files.move(p, t, StandardCopyOption.REPLACE_EXISTING) }
      targets.map(_.getFileName.toString)
    }
    (names.toSet, size, Some(names.size).filter(_ > 1))
  }

  /** The V2 checkpoint form (the `v2Checkpoint` table feature): the add
    * census + retained remove tombstones land in SIDECAR files under
    * `_delta_log/_sidecars/` (written distributed — `parts` tasks, the
    * census never lands on the driver), and a UUID-named MANIFEST
    * (`%020d.checkpoint.<uuid>.parquet`) carries the control rows
    * (protocol, metaData with configuration, txn water-marks), one
    * `sidecar` action per sidecar file, and the `checkpointMetadata`
    * action the feature requires. Same crash-safe replacement order as
    * the classic form ([[checkpoint]]): sidecars in first, then the
    * manifest (a fresh UUID — never overwrites), then
    * `_last_checkpoint`, then stale same-version manifests delete and
    * orphaned sidecars (referenced by NO remaining manifest) are swept. */
  private def checkpointV2(spark: SparkSession, st: LogState, token: String,
      now: Long, control: Seq[(String, Row)], removes: Seq[(String, Row)],
      parts: Int): (Set[String], Long, Option[Int]) = {
    val sidecarDir = logDir.resolve("_sidecars")
    Files.createDirectories(sidecarDir)
    val (sidecars, sidecarRows) = writeCheckpointFiles(
        censusRows(spark, st, sidecarSchema)
          .unionByName(actionRows(spark, sidecarSchema, removes)),
        parts, Paths.get(root, s".tmp-cp-$token")) { written =>
      written.zipWithIndex.map { case (p, i) =>
        val name = f"$token-$i%05d-${java.util.UUID.randomUUID}.parquet"
        val dest = sidecarDir.resolve(name)
        Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
        (name, Files.size(dest))
      }
    }
    // manifest: control rows + checkpointMetadata + sidecar actions
    val manifest = control ++ Seq("checkpointMetadata" -> Row(st.version)) ++
      sidecars.map { case (name, size) => "sidecar" -> Row(name, size, now) }
    val manifestName =
      f"${st.version}%020d.checkpoint.${java.util.UUID.randomUUID}.parquet"
    val (_, manifestRows) = writeCheckpointFiles(
        actionRows(spark, v2ManifestSchema, manifest), 1,
        Paths.get(root, s".tmp-cpm-$token")) { written =>
      Files.move(written.head, logDir.resolve(manifestName),
        StandardCopyOption.ATOMIC_MOVE)
    }
    (Set(manifestName), sidecarRows + manifestRows, None)
  }

  /** File-pruned DELETE of rows with `column` in [lo, hi] — the Delta
    * DELETE cost model on the stats index, three file classes in ONE
    * atomic commit:
    *   - envelope MISSES the range → untouched (never opened);
    *   - envelope provably INSIDE the range AND provably NULL-free
    *     (nullCount == 0) → remove-only action — no read, no rewrite:
    *     deleting one day from a day-clustered 100 TB table is pure
    *     metadata;
    *   - boundary files (including any file whose stats cannot prove
    *     null-freeness) → by default a DELETION VECTOR (protocol
    *     readerVersion 3, feature `deletionVectors`): the file's
    *     matching ROW INDEXES are written as a Roaring bitmap and the
    *     same path is re-added with the descriptor — a boundary delete
    *     on a 1 GB file costs a few KB of bitmap instead of a 1 GB
    *     rewrite, the dominant DELETE cost at 100 TB. A repeat delete
    *     MERGES into the existing DV (set union); a DV that comes to
    *     cover every physical row collapses to a remove-only action.
    *     With `useDeletionVectors = false`, boundary files are read,
    *     matching rows filtered out, survivors rewritten (with fresh
    *     stats) — the pre-DV shape; DV'd files keep wide-bounds stats
    *     (still-valid envelopes), which every OPTIMIZE rewrite
    *     re-tightens as it purges the DVs.
    * Rows whose `column` is NULL never match a range predicate and are
    * kept, per SQL semantics — which is exactly why the fast drop
    * demands nullCount == 0. Statless files are conservatively treated
    * as boundary files. Candidate selection runs as a Spark filter over
    * the census; the driver collects candidates only, and the bitmaps
    * are built in executor tasks ([[buildDvs]]) — the driver's DV
    * payload is O(touched files) descriptors, never row indexes. */
  def delete(column: String, lo: Any, hi: Any,
      useDeletionVectors: Boolean = true): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    deleteCore(spark, st,
      col(column) >= lit(lo) && col(column) <= lit(hi),
      mayIntersectCol(st, column, lo, hi),
      containedInCol(st, column, lo, hi),
      s"$column BETWEEN $lo AND $hi", Seq(column), useDeletionVectors)
  }

  /** DELETE by ARBITRARY SQL predicate (r16) — the shape real users hit
    * first (`DELETE WHERE lang = 'en' AND quality < 0.3`): the same
    * three-class cost model as the range form, with file pruning from
    * [[predicateEnvelopes]] — single-column conjuncts prune exactly
    * like ranges, anything the envelope can't see degrades to "scan the
    * file" (correct, never fast-dropped). SQL semantics throughout:
    * rows where the predicate is NULL survive, and the whole-file fast
    * drop fires only on files PROVABLY all-matching. The predicate is a
    * SQL string — the same currency as the reference's filter surface
    * and Delta's own constraint expressions — parsed once for the
    * envelopes and compiled once into the data-plane filter. */
  def deleteWhere(predicateSql: String,
      useDeletionVectors: Boolean = true): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    val (may, all) = predicateEnvelopes(st, predicateSql)
    deleteCore(spark, st, expr(predicateSql), may, all, predicateSql,
      referencedColumns(st, predicateSql), useDeletionVectors)
  }

  /** Shared DELETE engine for the range and predicate forms: `matchCond`
    * is the row-level predicate over LOGICAL columns; `mayEnv`/`allEnv`
    * are its census envelopes (may-intersect prune / whole-file drop).
    * The DV form is metadata-only on ANY column-mapping table: no data
    * files, no fresh stats, no metaData — removes and same-path re-adds
    * replay existing (already physical-keyed) action payloads, and the
    * bitmap is name-agnostic. A 100 TB user can PII-delete rows from a
    * foreign table IN PLACE. The rewrite form writes data files
    * (physical-named; field-id footers on id-mode tables). */
  private def deleteCore(spark: SparkSession, st: LogState,
      matchCond: Column, mayEnv: Column, allEnv: Column,
      predicate: String, statsCols: Seq[String],
      useDeletionVectors: Boolean): Long = {
    // ONE pruned collect: candidates with their whole-file-drop flag
    val candRows = fileCensus(spark, st)
      .where(mayEnv)
      .select(censusSchema.fieldNames.map(col) :+ allEnv.as("_whole"): _*)
      .collect()
    val cand = candRows.toSeq.map(rowToAdd)
    if (cand.isEmpty) return st.version
    val wholeIdx = censusSchema.fieldNames.length
    val contained = candRows.filter(_.getBoolean(wholeIdx))
      .map(_.getString(0)).toSet
    val partial = cand.filterNot(f => contained(f.path))
    // Change-data-feed payload (when delta.enableChangeDataFeed=true):
    // the rows this DELETE kills are the candidates' LIVE rows (existing
    // DVs applied) matching the predicate — evaluated lazily inside the
    // commit, against the pre-delete files, and serialized into
    // `_change_data` so row-level CDF consumers (foreign and [[changes]]
    // alike) read O(deleted rows), never two file images.
    val cdcFrame: Option[DataFrame] =
      if (!st.cdfEnabled) None
      else Some(readFilesDv(spark, st.schema, st.partitionColumns,
          dvPairs(cand), st.columnMappingMode)
        .filter(matchCond)
        .withColumn("_change_type", lit("delete")))

    if (!useDeletionVectors) {
      // the rewrite form MOVES surviving rows into new files — on
      // enabled rowTracking tables their ids AND commit versions ride
      // the materialized columns unchanged (survivors are copied
      // without modification, per the protocol)
      val (stP, matCols) = preserveCols(spark, st)
      // SQL DELETE keeps rows where the predicate is FALSE or NULL
      val survivors = (matCols match {
        case Seq(i, vv) => toMaterialized(
          readFilesDvPreserve(spark, stP, partial, i, vv), i, vv)
        case _ => readFilesDv(spark, st.schema, st.partitionColumns,
          dvPairs(partial), st.columnMappingMode)
      }).filter(!coalesce(matchCond, lit(false)))
      return commit(survivors, st.partitionColumns, cand.map(_.path), "DELETE",
        Map("predicate" -> predicate,
          "wholeFilesDropped" -> contained.size.toString),
        statsFor = statsCols, removeDvs = dvMapOf(cand),
        cdcData = cdcFrame, internalRewrite = true,
        materializedCols = matCols)
    }

    // DV path: matched PHYSICAL row indexes per boundary file, grouped
    // and serialized DISTRIBUTED ([[buildDvs]] — existing DVs are NOT
    // applied to the scan: the merged DV is a set union, so re-matching
    // an already-deleted row is harmless and saves a join)
    val (emptied, descs) =
      if (partial.isEmpty)
        (Seq.empty[AddFile], Seq.empty[(AddFile, String)])
      else buildDvs(spark,
        matchedRowsFrame(spark, st, partial, matchCond), partial)
    if (emptied.isEmpty && descs.isEmpty && contained.isEmpty)
      return st.version

    // one atomic commit through the shared emission path: whole-file
    // and emptied-DV removes (old descriptors riding for CDC), DV
    // re-adds, and the protocol upgrade on the first descriptor
    val wholeDrops = cand.filter(f => contained(f.path)) ++ emptied
    commit(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st.schema),
      st.partitionColumns, wholeDrops.map(_.path), "DELETE",
      Map("predicate" -> predicate,
        "wholeFilesDropped" -> wholeDrops.size.toString,
        "deletionVectorsWritten" -> descs.size.toString),
      removeDvs = dvMapOf(wholeDrops), dvReAdds = descs, writeData = false,
      colMapSafe = true, cdcData = cdcFrame)
  }

  /** (file path, row index) frame of the candidate files' rows matching
    * `matchCond` — the DV-build input shared by DELETE and UPDATE (range
    * and predicate forms). The scan serves the LOGICAL schema (physical
    * names renamed back, the predicate's column pruning reaches the
    * parquet footers through the projection) plus the metadata columns;
    * existing DVs are NOT applied — the DV union is idempotent, so
    * re-matching an already-dead row is harmless and saves a join. */
  private def matchedRowsFrame(spark: SparkSession, st: LogState,
      files: Seq[AddFile], matchCond: Column): DataFrame =
    scanFiles(spark, st.schema, st.partitionColumns, st.columnMappingMode,
        files.map(f => (f.path, f.partitionValues)), withMeta = true)
      .select((st.schema.map(f =>
        col(st.phys(f.name)).cast(f.dataType).as(f.name)) :+
        col("_g_fp").as("_fp") :+ col("_g_ri").as("_ri")): _*)
      .where(matchCond)
      .select(col("_fp"), col("_ri"))

  /** Metadata-retention LOG CLEANUP (delta-spark's
    * `delta.logRetentionDuration` behavior, exposed as an explicit
    * maintenance verb): commit JSONs whose version is STRICTLY below
    * the newest complete checkpoint and whose modification time is past
    * `retentionMs` are deleted, as are older checkpoint files (all
    * three forms); V2 sidecars go only when NO remaining manifest
    * references them AND they are past retention. The newest checkpoint
    * and the whole JSON tail at/above it always survive, so the latest
    * snapshot — and every version ≥ the checkpoint — replays exactly as
    * before; time travel BELOW the checkpoint fails loudly afterwards,
    * the documented trade every Delta deployment makes to bound the
    * metadata plane (a streaming table commits ~10⁵ versions/year —
    * without cleanup the log listing itself becomes the bottleneck).
    * Returns the number of files deleted. */
  def cleanupExpiredLogs(retentionMs: Long = DefaultRetentionMs): Int = {
    val spark = SparkSession.active
    requireWriterFeatures(logState(spark, None), "LOG CLEANUP",
      removesRows = false)
    // only a VERIFIED-complete checkpoint may anchor the cleanup: a V2
    // manifest with a missing sidecar still lists (the READ side falls
    // back to an older checkpoint + longer JSON tail for it) — deleting
    // that fallback below a torn manifest would brick the table
    val cps = listCheckpoints().filter(c =>
      !c.v2 || sidecarsOf(spark, c.parts.head).forall(Files.exists(_)))
    if (cps.isEmpty) return 0
    val cpV = cps.map(_.version).max
    val horizon = System.currentTimeMillis - retentionMs
    var deleted = 0
    listLog(".json").foreach { case (v, p) =>
      if (v < cpV && Files.getLastModifiedTime(p).toMillis <= horizon) {
        Files.delete(p); deleted += 1
      }
    }
    val cpRe = """^(\d{20})\.checkpoint(\..*)?\.parquet$""".r
    Files.list(logDir).iterator.asScala.toSeq.foreach { p =>
      p.getFileName.toString match {
        case cpRe(v, _) if v.toLong < cpV &&
            Files.getLastModifiedTime(p).toMillis <= horizon =>
          Files.delete(p); deleted += 1
        case _ => ()
      }
    }
    // V2 sidecars: reference-counted against every REMAINING manifest
    // (the same [[orphanSidecars]] rule checkpoint()'s replacement
    // sweep applies) + the age gate
    orphanSidecars(spark)
      .filter(p => Files.getLastModifiedTime(p).toMillis <= horizon)
      .foreach { p => Files.delete(p); deleted += 1 }
    deleted
  }

  /** Sidecar files a V2 manifest declares (empty for manifests
    * without a sidecar column). */
  private def sidecarsOf(spark: SparkSession, manifest: Path): Seq[Path] = {
    val df = parquetCached(spark, Seq(manifest))
    if (!df.schema.fieldNames.contains("sidecar")) Nil
    else df.where(col("sidecar.path").isNotNull)
      .select(col("sidecar.path")).collect()
      .map(r => logDir.resolve("_sidecars").resolve(r.getString(0))).toSeq
  }

  /** Sidecar files referenced by NO remaining V2 manifest — the one
    * reference count both [[checkpoint]]'s replacement sweep and
    * [[cleanupExpiredLogs]] delete by (one copy, so the two sweeps can
    * never drift apart on what "referenced" means). A log without a
    * `_sidecars` directory has none, and no manifest is read. */
  private def orphanSidecars(spark: SparkSession): Seq[Path] = {
    val sidecarDir = logDir.resolve("_sidecars")
    if (!Files.isDirectory(sidecarDir)) Nil
    else {
      val referenced = listCheckpoints().filter(_.v2)
        .flatMap(c => sidecarsOf(spark, c.parts.head))
        .map(_.getFileName.toString).toSet
      Files.list(sidecarDir).iterator.asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !referenced(p.getFileName.toString))
    }
  }

  /** UPDATE by key-range predicate, Delta's UPDATE command: rows with
    * `column` IN [lo, hi] get the `set` assignments applied (each
    * expression evaluated against the PRE-update row) in ONE atomic
    * commit — matched rows are killed via deletion vectors (whole-file
    * removes when every live row of a file matches) and their updated
    * versions appended as new files; files whose stats envelope cannot
    * intersect the range are never touched, so a 100 TB table updates
    * O(matched data), not O(table). The postimage flows through the
    * row-contract enforcement: CHECK constraints and invariants assert
    * over the UPDATED rows, generated columns not explicitly SET are
    * recomputed from the updated row (their expressions may reference
    * SET columns), and identity values are PRESERVED (preexistingRows —
    * the rows are the table's own, no explicit-insert gate, no HWM
    * sync). CDF-enabled tables serialize the row-level
    * update_preimage/update_postimage pair into `_change_data` in the
    * same commit. The rewrite form (useDeletionVectors=false) rewrites
    * the candidate files instead: survivors keep their rows, matched
    * rows take the updated version. */
  def update(column: String, lo: Any, hi: Any, set: Map[String, Column],
      useDeletionVectors: Boolean = true): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    updateCore(spark, st,
      col(column) >= lit(lo) && col(column) <= lit(hi),
      mayIntersectCol(st, column, lo, hi),
      containedInCol(st, column, lo, hi),
      s"$column BETWEEN $lo AND $hi", Seq(column), set, useDeletionVectors)
  }

  /** UPDATE by ARBITRARY SQL predicate (r16) — same envelope pruning,
    * cost model and SQL semantics as [[deleteWhere]], same postimage
    * pipeline (one-projection SET swap semantics, generated-column
    * recompute, row-contract enforcement, CDF pair) as the range
    * [[update]]. */
  def updateWhere(predicateSql: String, set: Map[String, Column],
      useDeletionVectors: Boolean = true): Long = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    val (may, all) = predicateEnvelopes(st, predicateSql)
    updateCore(spark, st, expr(predicateSql), may, all, predicateSql,
      referencedColumns(st, predicateSql), set, useDeletionVectors)
  }

  /** Shared UPDATE engine for the range and predicate forms (see
    * [[update]] for the cost model and enforcement contract). */
  private def updateCore(spark: SparkSession, st0: LogState,
      matchCond: Column, mayEnv: Column, allEnv: Column,
      predicate: String, statsCols: Seq[String], set: Map[String, Column],
      useDeletionVectors: Boolean): Long = {
    // enabled rowTracking: UPDATE moves rows (the postimage lands in
    // new files), so each moved row's id rides the materialized column;
    // its commit version is NULLED — the read-side default (the new
    // file's defaultRowCommitVersion = this commit) is the protocol's
    // "last modified at" for updated rows
    val (st, matCols) = preserveCols(spark, st0)
    require(set.nonEmpty, s"DeltaTable $root: UPDATE with no SET assignments")
    set.keys.foreach(k => require(st.schema.fieldNames.contains(k),
      s"DeltaTable $root: UPDATE sets unknown column $k"))
    st.schema.fields.filter(f =>
        f.metadata.contains(DeltaTable.IdentityStartKey) ||
        f.metadata.contains(DeltaTable.IdentityStepKey)).foreach(f =>
      require(!set.contains(f.name),
        s"DeltaTable $root: UPDATE sets identity column ${f.name} — refusing"))
    val candRows = fileCensus(spark, st)
      .where(mayEnv)
      .select(censusSchema.fieldNames.map(col) :+ allEnv.as("_whole"): _*)
      .collect()
    val cand = candRows.toSeq.map(rowToAdd)
    if (cand.isEmpty) return st.version
    val wholeIdx = censusSchema.fieldNames.length
    val contained = candRows.filter(_.getBoolean(wholeIdx))
      .map(_.getString(0)).toSet
    val partial = cand.filterNot(f => contained(f.path))
    val tableCols = st.schema.fieldNames.map(col).toSeq
    val candLive = matCols match {
      case Seq(i, vv) => readFilesDvPreserve(spark, st, cand, i, vv)
      case _ => readFilesDv(spark, st.schema, st.partitionColumns,
        dvPairs(cand), st.columnMappingMode)
    }
    val matched = candLive.filter(matchCond)
    // materialized columns of the POSTIMAGE rows: id preserved, commit
    // version nulled (these rows are modified NOW — the new file's
    // default is this commit's version)
    val postMat: Seq[Column] = matCols match {
      case Seq(i, vv) => Seq(col("_g_rid").as(i),
        lit(null).cast(LongType).as(vv))
      case _ => Nil
    }
    // SET first, in ONE projection so every expression sees the
    // PRE-update row (sequential withColumn would let later assignments
    // read earlier ones' results — SQL UPDATE's swap semantics forbid
    // that, and Map iteration order must never matter); generated
    // columns recompute AFTERWARDS — their expressions see SET values
    val setApplied = matched.select(st.schema.fieldNames.map { c =>
      set.get(c) match {
        case Some(e) => e.cast(st.schema(c).dataType)
          .as(c, st.schema(c).metadata)
        case None => col(c)
      }
    }.toSeq ++ postMat: _*)
    val postimage = st.schema.fields
      .filter(f => f.metadata.contains(DeltaTable.GenExprKey) &&
        !set.contains(f.name))
      .foldLeft(setApplied)((acc, f) => acc.withColumn(f.name,
        expr(f.metadata.getString(DeltaTable.GenExprKey)).cast(f.dataType)
          .as(f.name, f.metadata)))
      .select(tableCols ++ matCols.map(c => col(s"`$c`")): _*)
    val cdcFrame: Option[DataFrame] =
      if (!st.cdfEnabled) None
      else Some(matched.select(tableCols: _*)
        .withColumn("_change_type", lit("update_preimage"))
        .unionByName(postimage
          .withColumn("_change_type", lit("update_postimage"))))

    if (!useDeletionVectors) {
      // survivors: rows where the predicate is FALSE or NULL, per SQL
      // — moved without modification, so id AND commit version persist
      val survivors = (matCols match {
        case Seq(i, vv) => toMaterialized(
          candLive.filter(!coalesce(matchCond, lit(false))), i, vv)
        case _ => candLive.filter(!coalesce(matchCond, lit(false)))
      })
      return commit(survivors.unionByName(postimage), st.partitionColumns,
        cand.map(_.path), "UPDATE",
        Map("predicate" -> predicate), statsFor = statsCols,
        removeDvs = dvMapOf(cand), cdcData = cdcFrame,
        preexistingRows = true, materializedCols = matCols)
    }

    // DV path: matched PHYSICAL row indexes per boundary file (same
    // machinery as DELETE — existing DVs not applied, union is
    // idempotent), serialized DISTRIBUTED; wholly-contained files drop
    // outright
    val (emptied, descs) =
      if (partial.isEmpty)
        (Seq.empty[AddFile], Seq.empty[(AddFile, String)])
      else buildDvs(spark,
        matchedRowsFrame(spark, st, partial, matchCond), partial)
    val wholeDrops = cand.filter(f => contained(f.path)) ++ emptied
    commit(postimage, st.partitionColumns, wholeDrops.map(_.path), "UPDATE",
      Map("predicate" -> predicate,
        "wholeFilesDropped" -> wholeDrops.size.toString,
        "deletionVectorsWritten" -> descs.size.toString),
      statsFor = statsCols, removeDvs = dvMapOf(wholeDrops),
      dvReAdds = descs, cdcData = cdcFrame, preexistingRows = true,
      materializedCols = matCols)
  }

  /** Shallow CLONE, the Delta CLONE command's zero-copy form: creates a
    * NEW independent table at `dstRoot` whose v0 log references THIS
    * table's live data files by ABSOLUTE path (the protocol's add.path
    * is "a relative path or an absolute path"), carrying the source's
    * schema/configuration/protocol with a FRESH table id — metadata
    * only, zero bytes of data copied. Each add keeps the source file's
    * stats, tags, DV and row ids ([[addAction]]). The v0
    * census STREAMS through toLocalIterator into the target's
    * [[publish]] (O(1) driver memory beyond the line buffer; the log
    * file itself is the O(live files) floor every Delta writer shares),
    * which also stamps the inCommitTimestamp an ICT-enabled source's
    * configuration requires and drops its staging file if the stream
    * fails. From v0 the clone diverges freely: appends
    * land under its root, DV deletes write bitmaps under its root
    * against the absolute files, OPTIMIZE localizes rewritten data, and
    * vacuum walks only the clone's root so SOURCE files are never swept
    * — while vacuum on the SOURCE can break the clone, exactly
    * delta-spark's documented shallow-clone caveat.
    *
    * PARTITIONED sources clone too (r16): partitionColumns ride the
    * metaData and each add keeps its `partitionValues` verbatim — the
    * read side recovers partition columns of absolute-path adds from
    * the actions ([[scanFiles]]), not the directory layout. Sources
    * with live DELETION VECTORS clone too (r16): each referenced
    * `deletion_vector_*.bin` is LOCALIZED — copied (KB-sized bitmaps)
    * under the clone root at the same relative location, so the
    * verbatim descriptors resolve against the clone and vacuum on the
    * source can never strand the clone's DVs; inline ("i") descriptors
    * ride the log itself, absolute ("p") descriptors carry over. */
  def shallowCloneTo(dstRoot: String): DeltaTable = {
    val spark = SparkSession.active
    val st = logState(spark, None)
    // CLONE is a commit-producing verb like any other: the target log
    // copies the source protocol verbatim, so cloning a table declaring
    // an unimplemented writer feature would write a v0 log whose add
    // actions lack that feature's required fields — born violating its
    // own declared write contract (r15 advisory)
    requireWriterFeatures(st, "CLONE", removesRows = false)
    val dst = DeltaTable(dstRoot)
    require(dst.latestVersion.isEmpty,
      s"DeltaTable $dstRoot: shallow-clone target already has commits")
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val now = System.currentTimeMillis
    val localizedDvs = mutable.HashSet.empty[String]
    val adds = fileCensus(spark, st).toLocalIterator().asScala.map { r =>
      val f = rowToAdd(r)
      f.dv.foreach { j =>
        // localize the bitmap file under the CLONE root: the verbatim
        // "u" descriptor then resolves against the clone (one copy per
        // shared .bin — many adds may point into one file at distinct
        // offsets); "i" rides the action, "p" is already absolute
        val d = DeletionVectors.fromJson(j)
        DeletionVectors.fileFor(root, d)
          .filter(_ => d.storageType == "u").foreach { srcP =>
          val dstP = DeletionVectors.fileFor(dstRoot, d).get
          if (localizedDvs.add(dstP.toString)) {
            Files.createDirectories(dstP.getParent)
            Files.copy(srcP, dstP, StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
      // same physical rows in the clone: stats, tags, DVs and row ids
      // carry over verbatim; only the path becomes absolute
      addAction(f.copy(path = dataPath(absRoot, f.path)), dataChange = true)
    }
    // the source's configuration (an ICT-enabled one included, so v0
    // carries an inCommitTimestamp) and its live domainMetadata (row-id
    // high-water marks etc.) are table state the clone starts from
    dst.publish(0L, "CLONE", Map("source" -> absRoot), st.configuration, now,
      Iterator(
        protocolAction(st.minReader, st.minWriter,
          Some(st.readerFeatures).filter(_ => st.minReader >= 3),
          Some(st.writerFeatures).filter(_ => st.minWriter >= 7)),
        metaDataAction(st.schema, st.partitionColumns, now, st.configuration,
          Some(java.util.UUID.randomUUID.toString))) ++
      st.domains.toSeq.sortBy(_._1).iterator.map { case (dm, cfg) =>
        domainMetadataAction(dm, cfg) } ++
      adds)
    dst
  }

  /** RESTORE the table to `version` as a NEW commit (the Delta RESTORE
    * command): removes files added since the target snapshot and
    * re-adds the target's files that are no longer live — pure
    * metadata, no data rewrite, and both DIFF sets are computed as
    * distributed anti-joins between the two census frames, so the
    * driver holds O(diff), not O(table). Files being RE-ADDED must
    * still exist on disk (a vacuumed-out snapshot fails LOUDLY up
    * front, never half-restores); files shared with the current
    * snapshot are live by definition. History is preserved: the
    * restore is itself a commit, so time travel to the intermediate
    * versions still works, and a second restore can undo the first.
    * Re-added files keep their stats, tags, DVs and row ids (the one
    * [[addAction]] writes the target's [[AddFile]]), so data skipping
    * survives and a z-ordered file stays in its zcube; like every
    * commit, it carries an inCommitTimestamp on enabled tables
    * ([[publish]]). */
  def restore(version: Long): Long = {
    val spark = SparkSession.active
    val tgt = logState(spark, Some(version))
    val cur = logState(spark, None)
    val tgtCensus = fileCensus(spark, tgt)
    val curCensus = fileCensus(spark, cur)
    // diff on (path, DELETION VECTOR) pairs, null-safe: a path live in
    // both snapshots but with a different DV (a delete happened between
    // them) must be remove+re-added so the DV state restores too; a
    // plain path diff would silently keep the newer DV
    def pairDiff(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.select(col("path"), col("dv")).as("b"),
        col("a.path") === col("b.path") && (col("a.dv") <=> col("b.dv")),
        "left_anti")
    val removedAdds = collectAdds(pairDiff(curCensus, tgtCensus))
      .sortBy(_.path)
    val removed = removedAdds.map(_.path)
    val removedDvs = dvMapOf(removedAdds)
    val reAddOnly = collectAdds(pairDiff(tgtCensus, curCensus))
    val absRoot = Paths.get(root).toAbsolutePath
    def dvFileMissing(f: AddFile): Boolean = f.dv.exists { j =>
      val d = DeletionVectors.fromJson(j)
      d.storageType == "u" &&
        (try { DeletionVectors.read(root, d); false }
         catch { case _: Throwable => true })
    }
    val missing = reAddOnly.filter(f =>
      !Files.exists(absRoot.resolve(f.path)) || dvFileMissing(f))
    require(missing.isEmpty,
      s"DeltaTable $root: restore to v$version needs vacuumed-out files: " +
        missing.map(_.path).mkString(", "))
    // restore REMOVES files added since the target — gate on the
    // table's write contract (an append-only table cannot be restored)
    requireWriterFeatures(cur, "RESTORE",
      removesRows = removed.nonEmpty)
    // the restored snapshot's metadata (schema, partitioning AND
    // configuration) rides the commit when it differs; on a
    // column-mapping table the action payloads replay verbatim and the
    // schema cannot have evolved, so no metaData is ever needed there —
    // emitting one would require physical-name re-assignment
    val needMeta = tgt.schema.json != cur.schema.json ||
      tgt.partitionColumns != cur.partitionColumns ||
      tgt.configuration != cur.configuration
    require(!needMeta || cur.columnMappingMode == "none",
      s"DeltaTable $root: RESTORE of a column-mapping table across a " +
        "metadata change is not supported")
    val now = System.currentTimeMillis
    val meta =
      if (!needMeta) Iterator.empty
      else Iterator(metaDataAction(tgt.schema, tgt.partitionColumns, now,
        tgt.configuration, tgt.tableId.orElse(cur.tableId)))
    val removes = removed.iterator.map(p =>
      removeAction(p, now, dataChange = true, removedDvs.get(p)))
    // restored files are the SAME physical rows: stats, tags (a
    // z-ordered file stays in its zcube), DVs and row ids ride along
    val reAdds = reAddOnly.iterator.map(f => addAction(f.copy(
      size = if (f.size > 0) f.size else Files.size(absRoot.resolve(f.path)),
      modificationTime = now), dataChange = true))
    // the target's configuration is the table's after this commit (it
    // equals the current one unless the metaData action restores it)
    val v = cur.version + 1
    publish(v, "RESTORE", Map("version" -> version.toString),
      tgt.configuration, now, meta ++ removes ++ reAdds)
    v
  }

  /** OPTIMIZE ZORDER BY — rewrite the live file set along the Morton
    * curve of `(dimA, dimB)` ([[ZOrder.withZValueN]]) in a
    * `dataChange=false` commit with fresh per-file stats on BOTH dims
    * ([[optimizeRewrite]] with the [[zBatch]] layout): each output file
    * owns one contiguous curve segment, i.e. a bounded
    * RECTANGLE of (A, B) space in its stats envelope, so [[readWhere]]
    * prunes selective filters on EITHER dimension (a plain range sort
    * prunes only its one column). Snapshot is bit-identical — CDC
    * consumers skip the rewrite like any OPTIMIZE. Whole-table form;
    * at the 100 TB target use [[optimizeZOrderIncremental]]. */
  def optimizeZOrder(dimA: String, dimB: String, bits: Int = 12,
      numFiles: Int = 8): Long = {
    val spark = SparkSession.active
    optimizeRewrite(zOrderable(logState(spark, None))) { st =>
      Some(zBatch(liveAddsLineage(spark, st), Seq(dimA, dimB), bits,
        numFiles, "zOrderBy", incremental = false))
    }.get
  }

  /** ONE size-capped OPTIMIZE ZORDER step — the public incremental
    * clustering design (Delta's ZCube scheme): files that have never
    * been z-ordered carry no `ZCUBE_ID` tag; each call takes a
    * byte/file-capped batch of untagged files ([[untaggedBatch]]),
    * rewrites THEM along the (dimA, dimB) Morton curve through
    * [[optimizeRewrite]] in a `dataChange=false` commit whose
    * adds are tagged with a fresh zcube id, and returns the version —
    * or None when CONVERGED (every live file is tagged). The untagged
    * count strictly decreases per commit, so repeated maintenance runs
    * converge over a 100 TB table without any single rewrite-the-world
    * commit; each zcube's files own curve rectangles, so both-dim
    * pruning grows with coverage. */
  def optimizeZOrderIncremental(dimA: String, dimB: String, bits: Int = 12,
      maxBatchBytes: Long = 1L << 30, maxBatchFiles: Int = Int.MaxValue,
      targetFileBytes: Long = 128L << 20): Option[Long] = {
    val spark = SparkSession.active
    optimizeRewrite(zOrderable(logState(spark, None))) { st =>
      untaggedBatch(spark, st, maxBatchBytes, maxBatchFiles, targetFileBytes)
        .map { case (files, numFiles) =>
          zBatch(files, Seq(dimA, dimB), bits, numFiles, "zOrderBy",
            incremental = true)
        }
    }
  }

  /** The z-order verbs' precondition: the curve spans the whole table,
    * so Hive-partitioned tables refuse. */
  private def zOrderable(st: LogState): LogState = {
    require(st.partitionColumns.isEmpty,
      s"DeltaTable $root: z-order within Hive partitions not supported — " +
        "compact per partition instead")
    st
  }

  /** A Morton-curve OPTIMIZE batch along `dims` — the layout the
    * z-order and reclustering verbs share: [[ZOrder.withZValueN]], a
    * range exchange into `numFiles` curve segments, each sorted along
    * the curve; fresh stats on every dim; the adds open a new zcube.
    * `paramKey` (`zOrderBy` / `clusterBy`) records the dims. */
  private def zBatch(files: Seq[AddFile], dims: Seq[String], bits: Int,
      numFiles: Int, paramKey: String, incremental: Boolean): OptimizeBatch =
    OptimizeBatch(files,
      Map(paramKey -> dims.mkString("[\"", "\",\"", "\"]")) ++
        (if (incremental) incrementalParams(files) else Map.empty),
      df => ZOrder.withZValueN(df, dims, bits)
        .repartitionByRange(numFiles, col("zvalue"))
        .sortWithinPartitions("zvalue")
        .drop("zvalue"),
      statsFor = dims, zCube = true)

  /** The incremental z-cube batch: a byte/file-capped prefix of the
    * never-z-ordered (untagged) files, with the output file count that
    * keeps files near `targetFileBytes` — None when every live file is
    * tagged. Candidate selection is pushed down: the census filters
    * `tags[ZCUBE_ID] IS NULL` before collecting. */
  private def untaggedBatch(spark: SparkSession, st: LogState,
      maxBatchBytes: Long, maxBatchFiles: Int,
      targetFileBytes: Long): Option[(Seq[AddFile], Int)] = {
    val untagged = collectAdds(fileCensus(spark, st)
      .where(col("tags").isNull || col("tags").getItem(ZCubeTag).isNull))
    if (untagged.isEmpty) None
    else {
      val capped = takeCapped(untagged.sortBy(_.path), minFiles = 1,
        maxBatchBytes, math.max(1, maxBatchFiles))
      val batchBytes = capped.map(_.size).sum
      Some(capped -> math.max(1L,
        (batchBytes + targetFileBytes - 1) / targetFileBytes).toInt)
    }
  }

  /** Resolve the `delta.clustering` domain's declared column paths to
    * the LOGICAL names this engine's frames carry. Under column mapping
    * the domain stores PHYSICAL names (what delta-spark writes), so
    * each path matches either a field's name or its physical-name
    * metadata; anything unresolvable — including nested paths, which
    * this engine does not recluster — fails loudly. */
  private def resolveClusteringCols(st: LogState): Seq[String] = {
    val declaredPaths = st.clusteringColumns
    require(declaredPaths.nonEmpty,
      s"DeltaTable $root: no delta.clustering domain declares clustering " +
        "columns — optimizeClustered applies to clustered tables only " +
        "(use compact/optimizeZOrder elsewhere)")
    declaredPaths.map { p =>
      require(!p.contains("."),
        s"DeltaTable $root: clustering column path $p is nested — " +
          "reclustering nested clustering columns is not implemented")
      st.schema.fields.find(f => f.name == p ||
          (f.metadata.contains(DeltaTable.PhysNameKey) &&
            f.metadata.getString(DeltaTable.PhysNameKey) == p))
        .map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          s"DeltaTable $root: clustering column $p not in the schema"))
    }
  }

  /** OPTIMIZE for a table declaring the `clustering` writer feature
    * (delta-spark CLUSTER BY tables — r18): rewrite the live file set
    * along the Morton curve of the DOMAIN'S OWN declared clustering
    * columns ([[zBatch]] over [[ZOrder.withZValueN]]; one column
    * degenerates to a plain range layout at full resolution) through
    * [[optimizeRewrite]] — a `dataChange=false` commit
    * with fresh per-file stats on every clustering column — each output
    * file owns a bounded curve cell, so selective filters on ANY
    * declared column prune. This is the ONE OPTIMIZE shape the
    * clustering write contract allows (the domain names the layout; an
    * ad-hoc compaction would destroy it), so the small-file debt a
    * clustered 100 TB foreign table accumulates is finally payable by
    * this engine. The domain rides through unchanged (r16 domain
    * preservation); enabled rowTracking ids ride the materialized
    * columns like every row-moving verb. Whole-table form — at the
    * 100 TB target use [[optimizeClusteredIncremental]]. */
  def optimizeClustered(bits: Int = 12, numFiles: Int = 8): Long = {
    val spark = SparkSession.active
    val (st, dims) = clustering(logState(spark, None))
    optimizeRewrite(st, reclusterOk = true) { stP =>
      Some(zBatch(liveAddsLineage(spark, stP), dims, bits, numFiles,
        "clusterBy", incremental = false))
    }.get
  }

  /** ONE size-capped reclustering step for a clustered table — the
    * [[optimizeZOrderIncremental]] ZCube discipline pointed at the
    * domain's declared columns: each call rewrites a byte/file-capped
    * batch of never-clustered (untagged) files ([[untaggedBatch]])
    * along the declared curve, tags the adds with a fresh zcube id, and
    * returns None when every live file is tagged. Repeated maintenance
    * runs converge over a 100 TB clustered table without a
    * rewrite-the-world commit. */
  def optimizeClusteredIncremental(bits: Int = 12,
      maxBatchBytes: Long = 1L << 30, maxBatchFiles: Int = Int.MaxValue,
      targetFileBytes: Long = 128L << 20): Option[Long] = {
    val spark = SparkSession.active
    val (st, dims) = clustering(logState(spark, None))
    optimizeRewrite(st, reclusterOk = true) { stP =>
      untaggedBatch(spark, stP, maxBatchBytes, maxBatchFiles, targetFileBytes)
        .map { case (files, numFiles) =>
          zBatch(files, dims, bits, numFiles, "clusterBy", incremental = true)
        }
    }
  }

  /** The reclustering verbs' precondition and curve: an unpartitioned
    * table and its declared clustering columns. */
  private def clustering(st: LogState): (LogState, Seq[String]) = {
    require(st.partitionColumns.isEmpty,
      s"DeltaTable $root: clustering over Hive partitions not supported")
    (st, resolveClusteringCols(st))
  }

  /** File-pruned MERGE (upsert by key) — the Delta MERGE INTO cost
    * model: only files whose stats envelope for `keyCol` intersects the
    * source's [min, max] key range (plus statless files, conservatively)
    * pay anything; every other live file is untouched — on a
    * range-clustered 100 TB table an upsert of one day's keys touches
    * one day's files, not the table, and the candidate selection runs
    * as a Spark filter over the census so the driver holds candidates
    * only.
    *
    * By default matched rows are killed with DELETION VECTORS (the
    * protocol's metadata-sized form): candidate files are scanned once
    * for the ROW INDEXES whose key appears in the source (a semi-join
    * on `_metadata.row_index`), those indexes merge into each file's
    * DV (set union with any existing descriptor) INSIDE the executor
    * tasks that hold them — the driver sees ~100-byte descriptors,
    * never the matched indexes ([[buildDvs]]) — and ALL source rows
    * append as new files — so a candidate file whose envelope matched
    * but whose rows didn't is untouched entirely (the rewrite form
    * paid a full rewrite for it), and a matched 1 GB file costs a
    * few-KB bitmap. A DV covering every physical row collapses to a
    * plain remove. With `useDeletionVectors = false`, candidates are
    * rewritten (matched rows replaced, unmatched kept) — the pre-DV
    * shape. Both forms are ONE atomic commit, so readers see the old
    * or the new snapshot, never a half-merge. Source schema must match
    * the table's (use append for evolving merges). */
  def merge(source: DataFrame, keyCol: String,
      useDeletionVectors: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val spark = source.sparkSession
    // enabled rowTracking: matched source rows INHERIT the id of the
    // target row they replace (an upsert is an UPDATE of that row, so
    // its id must survive); their commit version is nulled (modified
    // now). Unmatched source rows are inserts — null lineage, fresh
    // ids from the new file's baseRowId block.
    val (st, matCols) = preserveCols(spark, logState(spark, None))
    require(source.columns.toSeq == st.schema.fieldNames.toSeq,
      s"DeltaTable $root: merge source columns ${source.columns.toSeq} " +
        s"!= table ${st.schema.fieldNames.toSeq}")
    val keyed = source.localCheckpoint(false)
    // enabled rowTracking with DUPLICATE source keys: row ids are unique
    // within a version, so the inherited id may go to only ONE source row
    // per key — the rest stay null and take fresh ids from the new file's
    // block. row_number tiebreaks over every orderable source column
    // (deterministic for distinct payloads; exact duplicates are
    // interchangeable).
    def inheritIds(keyRid: DataFrame, i: String, vv: String): DataFrame = {
      val orderables = st.schema.fields.filter(_.dataType match {
        case _: MapType | _: StructType | _: ArrayType => false
        case dt => dt.typeName != "variant"
      }).map(f => col(s"`${f.name}`"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol))
        .orderBy((if (orderables.nonEmpty) orderables
                  else Array(col(keyCol))).toSeq: _*)
      keyed
        .withColumn("_g_dup", org.apache.spark.sql.functions.row_number().over(w))
        .join(keyRid, Seq(keyCol), "left")
        .withColumn(i, when(col("_g_dup") === 1, col(s"`$i`")))
        .withColumn(vv, lit(null).cast(LongType))
        .select(st.schema.fieldNames.map(col)
          ++ Seq(i, vv).map(c => col(s"`$c`")): _*)
    }
    val Array(lo, hi) = keyed.agg(fmin(col(keyCol)), fmax(col(keyCol)))
      .collect()(0).toSeq.toArray
    if (lo == null) return st.version // empty source: no-op
    val cand = pruneCandidatesOf(spark, st, keyCol, lo, hi)
    // Change-data-feed payload (when delta.enableChangeDataFeed=true):
    // matched table rows emit `update_preimage`, their source versions
    // `update_postimage`, unmatched source rows `insert` — the
    // four-valued CDF vocabulary foreign consumers expect. Candidate
    // files bound every scan here; evaluated lazily inside the commit
    // against the pre-merge files.
    val cdcFrame: Option[DataFrame] =
      if (!st.cdfEnabled) None
      else {
        val cols = st.schema.fieldNames.map(col).toSeq
        val existingLive = readFilesDv(spark, st.schema, st.partitionColumns,
          dvPairs(cand), st.columnMappingMode)
        val matchedKeys = existingLive.select(col(keyCol)).distinct()
        val pre = existingLive
          .join(keyed.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
          .select(cols: _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = keyed.join(matchedKeys, Seq(keyCol), "left_semi")
          .select(cols: _*)
          .withColumn("_change_type", lit("update_postimage"))
        val ins = keyed.join(matchedKeys, Seq(keyCol), "left_anti")
          .select(cols: _*)
          .withColumn("_change_type", lit("insert"))
        Some(pre.unionByName(post).unionByName(ins))
      }

    if (!useDeletionVectors) {
      // matched rows take the source version; unmatched keep their row.
      // Rows in UNTOUCHED files cannot match: the key envelope proved it.
      val rewritten = matCols match {
        case Seq(i, vv) =>
          val existing = readFilesDvPreserve(spark, st, cand, i, vv)
          val srcKeys = keyed.select(col(keyCol)).distinct()
          // unmodified target rows move with id AND version intact
          val unmatchedTgt = toMaterialized(
            existing.join(srcKeys, Seq(keyCol), "left_anti"), i, vv)
          // matched source rows inherit the replaced row's id (min per
          // key when several target rows share it — deterministic; the
          // duplicates' ids retire with their rows), version nulled
          val keyRid = existing.join(srcKeys, Seq(keyCol), "left_semi")
            .groupBy(col(keyCol)).agg(fmin(col("_g_rid")).as(i))
          val srcRows = inheritIds(keyRid, i, vv)
          unmatchedTgt.unionByName(srcRows)
            .select(st.schema.fieldNames.map(col)
              ++ matCols.map(c => col(s"`$c`")): _*)
        case _ =>
          readFilesDv(spark, st.schema, st.partitionColumns,
              dvPairs(cand), st.columnMappingMode)
            .join(keyed.select(col(keyCol)).distinct(), Seq(keyCol),
              "left_anti")
            .unionByName(keyed)
            .select(st.schema.fieldNames.map(col): _*)
      }
      return commit(rewritten, st.partitionColumns, cand.map(_.path), "MERGE",
        Map("predicate" -> s"$keyCol in [${lo}, ${hi}]"),
        statsFor = Seq(keyCol), removeDvs = dvMapOf(cand),
        cdcData = cdcFrame, materializedCols = matCols)
    }

    // DV path: matched PHYSICAL row indexes per candidate file (existing
    // DVs not applied — union makes re-matching a dead row harmless),
    // grouped and serialized DISTRIBUTED ([[buildDvs]]): the driver
    // collects descriptors only, so a 100 TB upsert matching 10⁹ rows
    // never materializes them driver-side
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val (emptied, descs) =
      if (cand.isEmpty)
        (Seq.empty[AddFile], Seq.empty[(AddFile, String)])
      else {
        val dataSchema = StructType(
          st.schema.filterNot(f => st.partitionColumns.contains(f.name))
            .map(f => DeltaTable.physicalField(f,
              byId = st.columnMappingMode == "id")))
        val paths = cand.map(f => dataPath(absRoot, f.path))
        val reader =
          if (st.partitionColumns.isEmpty) spark.read.schema(dataSchema)
          else spark.read.option("basePath", absRoot).schema(dataSchema)
        val matchedRows = reader.parquet(paths: _*)
          .select(
            regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("_fp"),
            col("_metadata.row_index").as("_ri"),
            col(st.phys(keyCol)).cast(st.schema(keyCol).dataType).as("_k"))
          .join(keyed.select(col(keyCol).as("_k")).distinct(), Seq("_k"),
            "left_semi")
          .select(col("_fp"), col("_ri"))
        buildDvs(spark, matchedRows, cand)
      }
    // enabled rowTracking: the appended source rows that replace a
    // DV-killed target row inherit its id — one preserve scan of the
    // (pruned) candidates builds the key → id map; inserts stay null
    // (fresh ids from the new file's block)
    val appended = matCols match {
      case Seq(i, vv) =>
        val keyRid = readFilesDvPreserve(spark, st, cand, i, vv)
          .groupBy(col(keyCol)).agg(fmin(col("_g_rid")).as(i))
        inheritIds(keyRid, i, vv)
      case _ => keyed.select(st.schema.fieldNames.map(col): _*)
    }
    commit(appended,
      st.partitionColumns, emptied.map(_.path), "MERGE",
      Map("predicate" -> s"$keyCol in [${lo}, ${hi}]",
        "matchedFiles" -> (emptied.size + descs.size).toString,
        "deletionVectorsWritten" -> descs.size.toString),
      statsFor = Seq(keyCol),
      removeDvs = dvMapOf(emptied), dvReAdds = descs, cdcData = cdcFrame,
      materializedCols = matCols)
  }

  /** Change-data feed over `(fromVersion, toVersion]`: every row added
    * or removed by commits in the range, tagged `_change_type`
    * (`insert` | `delete`) and `_commit_version` — file-level CDC (an
    * overwrite reports the outgoing snapshot as deletes). Actions with
    * `dataChange=false` (compaction rewrites) are SKIPPED, per the
    * protocol — an OPTIMIZE between two versions contributes nothing to
    * the feed. The per-commit walk (and its foreign-`cdc` precedence)
    * is [[changeFeed]]'s, shared with [[changesRows]]. The plan reads
    * ONLY the changed files, so incremental
    * consumers process deltas, never the table. */
  def changes(spark: SparkSession, fromVersion: Long, toVersion: Long): DataFrame =
    changeFeed(spark, "changes", fromVersion, toVersion) { (st, adds, removes) =>
      // both slices apply the action's own DV: the insert slice reads
      // the add's LIVE rows, and a remove carrying its old DV reads the
      // rows as they logically were before this commit
      Seq(adds -> "insert", removes -> "delete").collect {
        case (files, kind) if files.nonEmpty => feedSlice(spark, st, files, kind)
      }
    }

  /** ROW-LEVEL change feed over `(fromVersion, toVersion]` — the Change
    * Data Feed surface for this writer's commit shapes. [[changes]] is
    * file-level (a DV commit emits two whole file images); here a DV
    * RE-ADD (remove + add of the SAME path in one commit) emits ONLY
    * the rows its bitmap DIFF touched: `newDV − oldDV` as `delete`
    * (rows this commit killed) and `oldDV − newDV` as `insert` (rows a
    * restore resurrected) — the deletion vector diff IS the row-level
    * change set, so a one-row DELETE on a 1 GB file feeds downstream
    * consumers one row. Plain adds emit their LIVE rows (descriptor
    * applied) as `insert`; plain removes emit the rows that were live
    * at remove time as `delete`; `dataChange=false` maintenance is
    * silent as ever — the same [[changeFeed]] walk as [[changes]], with
    * only the DV diff specific to this form. Exact for every shape this
    * writer produces;
    * rewrites (the non-DV forms) remain file-granular by nature. The
    * per-commit DV decode is O(cardinality) on the driver — the
    * quantity being changed, never the table. */
  def changesRows(spark: SparkSession, fromVersion: Long,
      toVersion: Long): DataFrame = {
    def rowsOf(dv: Option[String]): Set[Long] = dv.map(j =>
      DeletionVectors.read(root, DeletionVectors.fromJson(j)).toSet)
      .getOrElse(Set.empty)
    changeFeed(spark, "changesRows", fromVersion, toVersion) {
      (st, addList, removeList) =>
        // last action per path wins, in first-seen order
        def byPath(fs: Seq[FeedFile]) = mutable.LinkedHashMap.empty[String,
          (Option[String], Map[String, String])] ++=
          fs.map { case (p, dv, pv) => p -> (dv, pv) }
        val adds = byPath(addList)
        val removes = byPath(removeList)
        val both = adds.keySet.toSet intersect removes.keySet.toSet
        def pure(m: mutable.LinkedHashMap[String,
            (Option[String], Map[String, String])]): Seq[FeedFile] =
          m.toSeq.collect { case (p, (dv, pv)) if !both(p) => (p, dv, pv) }
        val full = Seq(pure(adds) -> "insert", pure(removes) -> "delete")
          .collect { case (files, kind) if files.nonEmpty =>
            feedSlice(spark, st, files, kind) }
        val diffs = both.toSeq.sorted.flatMap { p =>
          val oldRows = rowsOf(removes(p)._1)
          val newRows = rowsOf(adds(p)._1)
          Seq((newRows -- oldRows) -> "delete", (oldRows -- newRows) -> "insert")
            .collect { case (rows, kind) if rows.nonEmpty =>
              readRowsAt(spark, st.schema, st.partitionColumns, p,
                rows.toArray.sorted, st.columnMappingMode, adds(p)._2)
                .withColumn("_change_type", lit(kind))
            }
        }
        full ++ diffs
    }
  }

  /** A change-feed file: (path, deletion-vector descriptor, partitionValues). */
  private type FeedFile = (String, Option[String], Map[String, String])

  /** The change-feed walk [[changes]] and [[changesRows]] share: range
    * checks, then per commit in `(fromVersion, toVersion]` its
    * data-changing adds and removes (in log order) and its `cdc`
    * actions. FOREIGN CDC: when a commit carries `cdc` actions, its
    * `_change_data` files ARE the change set per the protocol — the
    * add/remove derivation is superseded for that commit (delta-spark
    * writes update_preimage/postimage rows there that a file diff could
    * never recover row-level) — otherwise `derive` turns the commit's
    * adds and removes into `_change_type`-tagged frames. Every slice
    * gets `_commit_version`; an empty range serves the target
    * version's schema. */
  private def changeFeed(spark: SparkSession, verb: String,
      fromVersion: Long, toVersion: Long)(
      derive: (LogState, Seq[FeedFile], Seq[FeedFile]) => Seq[DataFrame])
      : DataFrame = {
    require(fromVersion <= toVersion,
      s"DeltaTable $root: $verb($fromVersion, $toVersion) reversed")
    val latest = latestVersion.getOrElse(throw new IllegalStateException(
      s"DeltaTable $root: no _delta_log commits"))
    require(toVersion <= latest,
      s"DeltaTable $root: $verb to v$toVersion > latest $latest")
    def feedFile(n: JsonNode): FeedFile =
      (decodePath(n.get("path").asText), dvOf(n), mapOf(n, "partitionValues"))
    val slices = ((fromVersion + 1) to toVersion).flatMap { v =>
      val adds = mutable.ArrayBuffer.empty[FeedFile]
      val removes = mutable.ArrayBuffer.empty[FeedFile]
      val cdcs = mutable.ArrayBuffer.empty[(String, Map[String, String])]
      commitActions(v).foreach { node =>
        Option(node.get("add")).filter(dataChanging)
          .foreach(n => adds += feedFile(n))
        Option(node.get("remove")).filter(dataChanging)
          .foreach(n => removes += feedFile(n))
        val cdc = node.get("cdc")
        if (cdc != null && cdc.hasNonNull("path"))
          cdcs += decodePath(cdc.get("path").asText) -> mapOf(cdc, "partitionValues")
      }
      val st = logState(spark, Some(v))
      (if (cdcs.nonEmpty) Seq(readCdcFiles(spark, st, cdcs.toSeq))
       else derive(st, adds.toSeq, removes.toSeq))
        .map(_.withColumn("_commit_version", lit(v)))
    }
    slices.reduceOption(_ unionByName _).getOrElse {
      val schema = logState(spark, Some(toVersion)).schema
        .add("_change_type", StringType).add("_commit_version", LongType)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** One change-feed slice: `files` read with their own DVs applied,
    * tagged `_change_type` = `kind`. */
  private def feedSlice(spark: SparkSession, st: LogState,
      files: Seq[FeedFile], kind: String): DataFrame =
    readFilesDv(spark, st.schema, st.partitionColumns, files,
      st.columnMappingMode).withColumn("_change_type", lit(kind))

  /** Read a commit's `_change_data` files (the protocol's `cdc` action
    * payload): table data columns plus the STORED `_change_type`
    * (insert | delete | update_preimage | update_postimage — the
    * four-valued foreign CDF vocabulary is passed through verbatim).
    * Partition columns don't ride the files; each cdc action's
    * `partitionValues` (physical keys on column-mapping tables) attach
    * as typed literals per action group. Used by [[changes]] and
    * [[changesRows]]: when a commit carries cdc actions the protocol
    * says they ARE that commit's change set — the add/remove derivation
    * is superseded for that version. */
  private def readCdcFiles(spark: SparkSession, st: LogState,
      cdcs: Seq[(String, Map[String, String])]): DataFrame = {
    val absRoot = Paths.get(root).toAbsolutePath.toString
    val dataFields = st.schema.filterNot(f =>
      st.partitionColumns.contains(f.name))
    val readSchema = StructType(dataFields.map(f =>
      DeltaTable.physicalField(f, byId = st.columnMappingMode == "id"))
      :+ StructField("_change_type", StringType))
    val frames = cdcs.groupBy(_._2).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pv, files) =>
        val paths = files.map { case (rel, _) =>
          Paths.get(absRoot, rel).toString }
        val raw = spark.read.schema(readSchema).parquet(paths: _*)
        st.partitionColumns.foldLeft(raw) { (df, c) =>
          df.withColumn(st.phys(c),
            lit(pv.get(st.phys(c)).orNull).cast(st.schema(c).dataType))
        }
      }
    frames.reduce(_ unionByName _)
      .select((st.schema.map(f =>
        col(st.phys(f.name)).cast(f.dataType).as(f.name, f.metadata))
        :+ col("_change_type")): _*)
  }

  /** Read EXACTLY the rows of one data file at the given row indexes —
    * the inverse selection of [[readFilesDv]]'s anti-join (a broadcast
    * SEMI-join on `_metadata.row_index`). O(|rows|) driver payload. */
  private def readRowsAt(spark: SparkSession, schema: StructType,
      partitionColumns: Seq[String], relPath: String,
      rows: Array[Long],
      mode: String = "none",
      partitionValues: Map[String, String] = Map.empty): DataFrame = {
    if (rows.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val raw = scanFiles(spark, schema, partitionColumns, mode,
      Seq((relPath, partitionValues)), withMeta = true)
    val wanted = spark.createDataFrame(
      rows.toSeq.map(Row(_)).asJava,
      StructType(Seq(StructField("_dv_row", LongType))))
    raw
      .join(broadcast(wanted), col("_g_ri") === col("_dv_row"), "left_semi")
      .select(schema.map(f =>
        col(physName(schema, f.name)).cast(f.dataType).as(f.name, f.metadata)): _*)
  }

  /** Delete data files referenced by NONE of the newest `keepVersions`
    * snapshots AND older than `retentionMs` (modification-time check —
    * the protocol's tombstone-retention VACUUM contract). The age
    * horizon is the concurrency guard: a racing in-flight commit's
    * just-moved files are younger than any sane retention, so vacuum
    * cannot eat a commit that hasn't published yet. Root-level `.tmp-*`
    * scratch directories (the [[viaScratch]] staging of commits and
    * checkpoints) are deleted whole once EVERY entry in them is older
    * than [[DeltaTable.DefaultRetentionMs]] — whatever `retentionMs`
    * says: a caller's retention covers committed history, not another
    * writer's in-flight staging, which only a writer killed mid-stage
    * leaves that old. Commits stay (the log is small and
    * checkpoint-compacted); reading a vacuumed-out old version fails at
    * scan time on the missing file, never returns partial data
    * silently. The live set is ONE census: a file is live in some kept
    * version exactly when it is live in the oldest one or added by a
    * later kept commit, so vacuum collects the oldest kept snapshot's
    * paths (plus DV descriptors) and reads the adds of the newer kept
    * commits from their commit files — never a census per version.
    * Returns files deleted (parquet files of reclaimed scratch
    * included). */
  def vacuum(keepVersions: Int = 1,
      retentionMs: Long = DefaultRetentionMs): Int = {
    require(keepVersions >= 1, s"vacuum keepVersions $keepVersions < 1")
    val spark = SparkSession.active
    val latest = latestVersion.getOrElse(return 0)
    // the vacuumProtocolCheck contract: VACUUM verifies the writer
    // protocol before deleting anything — a table declaring features
    // this engine can't honor must not have its files swept by it
    requireWriterFeatures(logState(spark, None), "VACUUM",
      removesRows = false)
    val keepFrom = math.max(0L, latest - keepVersions + 1)
    val liveAdds: Seq[(String, Option[String])] =
      livePathDvs(spark, logState(spark, Some(keepFrom)))
        .map { case (p, dv, _) => (p, dv) } ++
      ((keepFrom + 1) to latest).flatMap(v => commitActions(v)
        .map(_.get("add")).filter(a => a != null && a.hasNonNull("path"))
        .map(a => (decodePath(a.get("path").asText), dvOf(a))))
    val live = liveAdds.map(_._1).toSet
    // DELETION VECTOR files referenced by any kept snapshot's adds are
    // live too; superseded DV files (a repeat delete re-wrote the merged
    // bitmap into a fresh file) age out like data files
    val liveDvFiles: Set[String] = liveAdds.flatMap(_._2).flatMap { j =>
      DeletionVectors.fileFor(root, DeletionVectors.fromJson(j))
        .map(_.getFileName.toString)
    }.toSet
    val now = System.currentTimeMillis
    val horizon = now - retentionMs
    val rootPath = Paths.get(root)
    var deleted = 0
    def walk(dir: Path): Unit =
      Files.list(dir).iterator.asScala.toSeq.foreach { p =>
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) {
          // _change_data files are CDC payload, not snapshot data — no
          // snapshot references them, so the live-set check does not
          // apply; they AGE OUT past the retention horizon instead
          // (CDF over vacuumed history is unreadable anyway, so keeping
          // them forever would only accumulate a dead feed)
          if (name == "_change_data") walkCdc(p)
          else if (name.startsWith(".tmp-")) {
            if (dir == rootPath) reclaimStaging(p)
          } else if (name != "_delta_log") walk(p)
        } else if (name.endsWith(".parquet") &&
            !live.contains(rootPath.relativize(p).toString.replace('\\', '/')) &&
            Files.getLastModifiedTime(p).toMillis <= horizon) {
          Files.delete(p); deleted += 1
        } else if (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
            !liveDvFiles.contains(name) &&
            Files.getLastModifiedTime(p).toMillis <= horizon) {
          Files.delete(p); deleted += 1
        }
      }
    // the directory's own mtime counts too: a young, still-empty
    // scratch is a writer that has only just begun; entries vanishing
    // mid-walk are a live writer finishing, never stale staging
    def reclaimStaging(dir: Path): Unit = {
      val stale =
        try Files.walk(dir).iterator.asScala.forall(e =>
          Files.getLastModifiedTime(e).toMillis <= now - DefaultRetentionMs)
        catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException => false
        }
      if (stale) {
        deleted += Files.walk(dir).iterator.asScala.count(e =>
          Files.isRegularFile(e) && e.getFileName.toString.endsWith(".parquet"))
        deleteRecursively(dir)
      }
    }
    def walkCdc(dir: Path): Unit =
      Files.list(dir).iterator.asScala.toSeq.foreach { p =>
        val name = p.getFileName.toString
        if (Files.isDirectory(p)) walkCdc(p)
        else if (name.endsWith(".parquet") &&
            Files.getLastModifiedTime(p).toMillis <= horizon) {
          Files.delete(p); deleted += 1
        }
      }
    walk(rootPath)
    deleted
  }

  /** The staging step every file writer here shares (commit data and
    * CDC parts, checkpoint parts, V2 sidecars and manifests): `write`
    * runs a Spark parquet write into the root-level `scratch`
    * directory, `place` moves the written files where they belong, and
    * the scratch is deleted after — also when the write or the move
    * fails. A writer killed in between leaves the scratch to
    * [[vacuum]]'s stale-staging sweep. */
  private def viaScratch[T](scratch: Path)(write: String => Unit)(
      place: Path => T): T =
    try { write(scratch.toString); place(scratch) }
    finally deleteRecursively(scratch)

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
}

object DeltaTable {
  /** Delta's default tombstone/vacuum retention (7 days). */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** The one mapper every commit-file line is parsed and written with
    * (Jackson mappers are thread-safe once configured). */
  private val LogJson = new ObjectMapper

  /** Features a legacy minReaderVersion implies, which a protocol
    * upgrade to table features (v3) must list explicitly. */
  private def legacyReaderFeatures(minReader: Int): Set[String] =
    if (minReader >= 2) Set("columnMapping") else Set.empty

  /** Features a legacy minWriterVersion implies (cumulative tiers per
    * the public protocol), listed explicitly on upgrade to v7. */
  private def legacyWriterFeatures(minWriter: Int): Set[String] =
    Seq(2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("changeDataFeed", "generatedColumns"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
      .collect { case (v, fs) if minWriter >= v => fs }.flatten.toSet

  /** Add-action tag marking a file as belonging to a z-order cube (the
    * public incremental-clustering scheme). */
  val ZCubeTag: String = "ZCUBE_ID"

  /** The row-tracking domainMetadata domain (public protocol): its
    * configuration string carries `{"rowIdHighWaterMark": N}`. */
  private[lake] val RowTrackingDomain = "delta.rowTracking"

  /** The liquid-clustering domainMetadata domain (public protocol): its
    * configuration string carries `{"clusteringColumns": [["a"], ...]}`
    * — one entry per clustering column, each a (possibly nested)
    * field-name path. */
  private[lake] val ClusteringDomain = "delta.clustering"

  /** Configuration keys naming the MATERIALIZED row-tracking columns
    * (public protocol, enabled state): parquet-only columns — never in
    * the table schema — where row-moving writers persist each row's id
    * and last-modified commit version so moves cannot change them. */
  private[lake] val MatRowIdKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[lake] val MatRowCommitVersionKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Schema-metadata keys of the public column-mapping protocol. */
  private[lake] val PhysNameKey = "delta.columnMapping.physicalName"
  private[lake] val ColIdKey = "delta.columnMapping.id"

  /** Keys of the validation-class writer features this engine ENFORCES
    * on data-adding writes ([[DeltaTable.enforceRowContract]]):
    * configuration-level CHECK constraints, and the field-metadata keys
    * of legacy column invariants, generated columns and identity
    * columns — all from the public Delta protocol. */
  private[lake] val ConstraintPrefix = "delta.constraints."
  private[lake] val InvariantsKey = "delta.invariants"
  private[lake] val GenExprKey = "delta.generationExpression"
  private[lake] val IdentityStartKey = "delta.identity.start"
  private[lake] val IdentityStepKey = "delta.identity.step"
  private[lake] val IdentityHwmKey = "delta.identity.highWaterMark"
  private[lake] val IdentityAllowKey = "delta.identity.allowExplicitInsert"

  /** Writer features this engine implements or honors: appendOnly is
    * HONORED (active delta.appendOnly=true refuses removes), the
    * validation-class features (invariants, checkConstraints,
    * generatedColumns, identityColumns) are ENFORCED row-by-row on
    * every data-adding write — CHECK constraints and invariants as
    * inline raise_error asserts in the write projection, generated
    * columns computed-or-validated, identity columns assigned with the
    * high-water-mark recorded in the same commit
    * ([[DeltaTable.enforceRowContract]]) — changeDataFeed is
    * implemented (DELETE/MERGE serialize `cdc` actions), deletionVectors
    * is implemented end-to-end, columnMapping writes emit physical
    * names (name mode; id mode allows only the metadata-only DV
    * delete), and v2Checkpoint tables get the V2 checkpoint form the
    * feature requires. `clustering` is TOLERATED conditionally (domain
    * preserved; every verb but the reclustering OPTIMIZE — see
    * [[DeltaTable.requireWriterFeatures]]). Everything else —
    * icebergCompat*, ... — refuses outright. */
  private[lake] val ImplementedWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "identityColumns", "changeDataFeed", "deletionVectors", "columnMapping",
    "v2Checkpoint",
    // timestampNtz: TIMESTAMP_NTZ columns write natively, and a commit
    // introducing one declares the feature; inCommitTimestamp: enabled
    // tables carry a monotonic inCommitTimestamp in every commitInfo;
    // vacuumProtocolCheck: VACUUM gates on the writer contract first
    "timestampNtz", "inCommitTimestamp", "vacuumProtocolCheck",
    // domainMetadata: domain state is replayed into every snapshot,
    // persisted by checkpoints, and carried into clones; rowTracking
    // (r16): every data-adding commit assigns baseRowId /
    // defaultRowCommitVersion and maintains the delta.rowTracking
    // high-water-mark domain — DV re-adds preserve the original ids.
    // Row-MOVING verbs (UPDATE/MERGE/OPTIMIZE/rewrite-DELETE, r17)
    // are legal in the ENABLED state too: each moved row's id — and,
    // for unmodified rows, its commit version — rides the table's
    // MATERIALIZED row-tracking columns in the rewritten files
    // ([[DeltaTable.readFilesDvPreserve]]), per the protocol's
    // preservation rule.
    "domainMetadata", "rowTracking",
    // typeWidening (r17, reader+writer feature): the WRITE contract is
    // "record delta.typeChanges when widening a type and keep serving
    // both generations of files" — this engine never alters types
    // (no widening ALTER is offered), appends carry the current
    // (widened) schema, and the schemaString — typeChanges field
    // metadata included — replays verbatim through commits and
    // checkpoints, so the recorded history is preserved untouched
    "typeWidening", "typeWideningPreview",
    // variantType (r17, reader+writer): appends write VARIANT columns
    // through Spark's parquet path — the standard binary-encoded
    // layout every variant reader consumes; stats are never collected
    // on variant columns (no ordering), so the write contract holds
    "variantType", "variantType-preview")

  /** Physical read/write schema for one field of a column-mapping
    * table, applied RECURSIVELY: every nesting level (struct fields,
    * array elements, map keys/values) renames to its
    * `delta.columnMapping.physicalName` — the names the parquet footers
    * actually carry (a top-level-only rename would silently null every
    * nested leaf, the round-14 advisory finding). For mode `id`,
    * `parquet.field.id` metadata rides each field so Spark's parquet
    * reader resolves columns by field id instead of name. */
  /** Physical (column-mapping) name of top-level column `n` of
    * `schema` — its `delta.columnMapping.physicalName`, else `n`. */
  private[lake] def physName(schema: StructType, n: String): String = {
    val f = schema(n)
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else n
  }

  private[lake] def physicalField(f: StructField, byId: Boolean): StructField = {
    val name =
      if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
      else f.name
    val meta =
      if (byId && f.metadata.contains(ColIdKey))
        new MetadataBuilder()
          .putLong("parquet.field.id", f.metadata.getLong(ColIdKey)).build()
      else Metadata.empty
    StructField(name, physicalType(f.dataType, byId), f.nullable, meta)
  }

  private[lake] def physicalType(dt: DataType, byId: Boolean): DataType =
    dt match {
      case s: StructType => StructType(s.fields.map(physicalField(_, byId)))
      case a: ArrayType => a.copy(elementType = physicalType(a.elementType, byId))
      case m: MapType => m.copy(keyType = physicalType(m.keyType, byId),
        valueType = physicalType(m.valueType, byId))
      case other => other
    }

  /** Type equality ignoring nullability and field METADATA (a caller's
    * frame built without the table's column-mapping metadata is the
    * same type) but NOT field names — nested renames or type drift are
    * real append conflicts. */
  private[lake] def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
        f.name == g.name && sameType(f.dataType, g.dataType) }
    case (x: ArrayType, y: ArrayType) => sameType(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      sameType(x.keyType, y.keyType) && sameType(x.valueType, y.valueType)
    case _ => a == b
  }

  /** JSON scalar for a stats value: numbers stay numbers, null stays
    * null, everything else serializes as its string form (dates,
    * timestamps, decimals — lexically comparable where it matters). */
  private def putScalar(node: ObjectNode, key: String, v: Any): Unit = v match {
    case null                 => node.putNull(key)
    case x: java.lang.Long    => node.put(key, x.longValue)
    case x: java.lang.Integer => node.put(key, x.intValue)
    case x: java.lang.Short   => node.put(key, x.intValue)
    case x: java.lang.Byte    => node.put(key, x.intValue)
    case x: java.lang.Double  => node.put(key, x.doubleValue)
    case x: java.lang.Float   => node.put(key, x.doubleValue)
    case x: java.math.BigDecimal => node.put(key, x)
    case x                    => node.put(key, x.toString)
  }

  /** Percent-decoding for add/remove paths (the protocol stores them as
    * relative URIs). `+` is NOT a space in a URI path, so protect it
    * from URLDecoder's form semantics. */
  private[lake] def decodePath(p: String): String =
    java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** Percent-ENCODING for emitted paths — the exact inverse of
    * [[decodePath]], so a partition value Spark escapes in directory
    * names (`%`, `:`) round-trips through the log, and foreign Delta
    * readers (which URI-decode add paths) resolve the same on-disk
    * file. URLEncoder form-encodes; three fixups restore URI-path
    * semantics: space is %20 (not `+`), `/` separates segments, and
    * `=` stays literal (legal in a path segment, and what Hive-layout
    * paths conventionally show). */
  private[lake] def encodePath(p: String): String =
    java.net.URLEncoder.encode(p, "UTF-8")
      .replace("+", "%20").replace("%2F", "/").replace("%3D", "=")

  /** [[decodePath]] as a native Spark column expression (url_decode is
    * codegen'd SQL, not a UDF — the engine-wide no-UDF discipline). */
  private[lake] def sqlDecodePath(c: Column): Column =
    url_decode(freplace(c, lit("+"), lit("%2B")))

  /** [[encodePath]] as a native Spark column expression. */
  private[lake] def sqlEncodePath(c: Column): Column =
    freplace(freplace(freplace(url_encode(c),
      lit("+"), lit("%20")), lit("%2F"), lit("/")), lit("%3D"), lit("="))

  /** The file-census frame's schema (decoded paths). */
  private[lake] val censusSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("stats", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("dv", StringType), // deletionVector descriptor JSON
    StructField("baseRowId", LongType), // row tracking, when declared
    StructField("defaultRowCommitVersion", LongType)))

  /** The protocol's `add.deletionVector` struct (checkpoint add field). */
  private[lake] val dvStructType: StructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  /** Checkpoint parquet schema — the protocol's action columns, subset
    * we emit (incl. `remove` tombstone rows within retention and real
    * add sizes, which foreign readers require). Readers (ours included)
    * select fields by name and ignore the rest. */
  private[lake] val checkpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("deletionVector", dvStructType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("domainMetadata", StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType))))))

  /** V2 checkpoint SIDECAR file schema (the protocol: sidecars carry
    * only add/remove file actions). */
  private[lake] val sidecarSchema: StructType = StructType(Seq(
    checkpointSchema("add"), checkpointSchema("remove")))

  /** V2 checkpoint MANIFEST schema: control actions + `sidecar`
    * pointers + the `checkpointMetadata` action the feature requires. */
  private[lake] val v2ManifestSchema: StructType = StructType(Seq(
    checkpointSchema("protocol"),
    checkpointSchema("metaData"),
    checkpointSchema("txn"),
    StructField("sidecar", StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))),
    StructField("checkpointMetadata", StructType(Seq(
      StructField("version", LongType)))),
    checkpointSchema("domainMetadata")))
}
