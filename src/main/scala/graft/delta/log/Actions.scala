package graft.delta.log

import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode,
  ObjectMapper}

/** Delta log action model (scala ADT + the canonical Spark schema used to
  * read commit JSON and checkpoint parquet).
  *
  * Mirrors the action surface the reference consumes through delta-kernel
  * (reference: crates/datafusion/src/table_provider/delta_log.rs:43-137 —
  * add/remove/metaData/protocol/txn/commitInfo struct columns of the log
  * table), re-expressed as Spark rows. Field shapes follow the public
  * Delta protocol spec (PROTOCOL.md of delta-io/delta).
  */
object Actions {

  /** The one JSON mapper of the Delta layer: it decodes log lines
    * ([[LogSegment.readLines]]), stats and domain configurations, and
    * builds every action line. Thread-safe once configured; a value
    * followed by more tokens is malformed, not a prefix to keep. */
  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `numRecords` of an add's stats JSON; None without stats or without
    * the field. */
  def numRecords(stats: Option[String]): Option[Long] =
    stats.flatMap(s => Option(mapper.readTree(s).get("numRecords")))
      .map(_.asLong())

  /** Whether an add or remove action node changes data: `dataChange`
    * defaults to true when absent. */
  def dataChange(action: JsonNode): Boolean =
    Option(action.get("dataChange")).forall(_.asBoolean(true))

  /** Deletion vector descriptor (Delta protocol "deletionVector"). */
  case class DeletionVectorDescriptor(
      storageType: String, // "u" relative w/ uuid, "i" inline z85, "p" absolute
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long) {
    def uniqueId: String = s"$storageType$pathOrInlineDv" +
      offset.map(o => s"@$o").getOrElse("")
  }

  case class AddFile(
      path: String,
      partitionValues: Map[String, String],
      size: Long,
      modificationTime: Long,
      dataChange: Boolean,
      stats: Option[String],
      deletionVector: Option[DeletionVectorDescriptor] = None,
      // row tracking (writer feature `rowTracking`): the first fresh row
      // id / commit version of this file's rows — row i carries id
      // baseRowId + i, stable for the file's whole life (DV-masked
      // deletes and updates never move surviving rows)
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None)

  case class RemoveFile(
      path: String,
      deletionTimestamp: Option[Long],
      dataChange: Boolean,
      deletionVector: Option[DeletionVectorDescriptor] = None)

  /** Write-time CDC file reference (`cdc` action): change rows with a
    * `_change_type` column, stored under `_change_data/`. */
  case class CdcFile(
      path: String,
      partitionValues: Map[String, String],
      size: Long)

  case class Format(provider: String = "parquet",
      options: Map[String, String] = Map.empty)

  case class Metadata(
      id: String,
      name: Option[String],
      description: Option[String],
      format: Format,
      schemaString: String,
      partitionColumns: Seq[String],
      configuration: Map[String, String],
      createdTime: Option[Long]) {
    def dataSchema: StructType =
      DataType.fromJson(schemaString).asInstanceOf[StructType]
  }

  case class Protocol(
      minReaderVersion: Int = 1,
      minWriterVersion: Int = 2,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None)

  case class SetTransaction(appId: String, version: Long,
      lastUpdated: Option[Long])

  /** Named metadata domain (writer feature `domainMetadata`): system or
    * user configuration keyed by domain name; the latest action per
    * domain wins, `removed=true` tombstones it. Row tracking stores its
    * id high-water mark in the `delta.rowTracking` domain. */
  case class DomainMetadata(domain: String, configuration: String,
      removed: Boolean = false)

  /** One fully-parsed log entry (exactly one of the fields set). */
  case class Action(
      add: Option[AddFile] = None,
      remove: Option[RemoveFile] = None,
      metaData: Option[Metadata] = None,
      protocol: Option[Protocol] = None,
      txn: Option[SetTransaction] = None)

  // ---- canonical log schema (commit JSON + checkpoint parquet) -------

  val dvSchema: StructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  val addSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", dvSchema),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType)))

  val removeSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    StructField("deletionVector", dvSchema)))

  val metaDataSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("format", StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType)),
    StructField("createdTime", LongType)))

  val protocolSchema: StructType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))

  val txnSchema: StructType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)))

  val domainMetadataSchema: StructType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))

  /** V2-checkpoint actions (Delta PROTOCOL.md, "V2 Spec" checkpoints):
    * the top-level UUID-named checkpoint file carries non-file actions
    * plus `sidecar` references; the file actions (add/remove) live in
    * the referenced parquet files under `_delta_log/_sidecars/`. */
  val sidecarSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType)))

  val checkpointMetadataSchema: StructType = StructType(Seq(
    StructField("version", LongType)))

  /** Schema for reading raw commit/checkpoint action rows with Spark. */
  val logSchema: StructType = StructType(Seq(
    StructField("add", addSchema),
    StructField("remove", removeSchema),
    StructField("metaData", metaDataSchema),
    StructField("protocol", protocolSchema),
    StructField("txn", txnSchema),
    StructField("domainMetadata", domainMetadataSchema)))

  /** Schema for reading a V2 (UUID-named) top-level checkpoint file:
    * the classic actions plus the v2-only ones. Kept separate from
    * [[logSchema]] so commit JSON, classic checkpoints, and the raw
    * log-actions surface keep their exact shapes. */
  val v2CheckpointSchema: StructType = StructType(
    logSchema.fields :+
      StructField("sidecar", sidecarSchema) :+
      StructField("checkpointMetadata", checkpointMetadataSchema))
}
