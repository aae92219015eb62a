package graft.delta.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import graft.delta.DeltaTable
import graft.delta.log.LogSegment

/** `spark.read.format("graftdelta")` — data-source integration for the
  * graft Delta read path.
  *
  * READS resolve through DataSource V2 ([[GraftDeltaTable]]: native
  * vectorized ParquetScan over a log-backed FileIndex, with a composed
  * V1Scan fallback for DV/column-mapping tables). WRITES stay on the v1
  * CreatableRelationProvider — Spark routes `save()` through the v1 path
  * whenever a TableProvider also implements CreatableRelationProvider,
  * which keeps the commit-protocol write logic in one place. The v1
  * RelationProvider remains as the explicit fallback relation.
  *
  * The Spark analogue of the reference's `TableProvider` registration
  * (reference: crates/datafusion/src/table_provider/delta/mod.rs:90-149).
  *
  * Options: `path` (required), `versionAsOf` (optional time travel).
  */
class GraftDeltaSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.connector.catalog.TableProvider
    with StreamSourceProvider {

  override def shortName(): String = "graftdelta"

  // ---- streaming read path (v1 Source; table advertises BATCH_READ
  // only, so DataStreamReader falls back here) -----------------------

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdelta requires a path"))
    val cdc = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v.toBoolean
    }.getOrElse(false)
    (shortName(), schema.getOrElse(GraftDeltaStreamSource.sourceSchema(
      DeltaTable.forPath(sqlContext.sparkSession, path).schema, cdc)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdelta requires a path"))
    new GraftDeltaStreamSource(sqlContext.sparkSession, path, parameters,
      metadataPath)
  }

  // ---- DSv2 read path -----------------------------------------------

  override def supportsExternalMetadata(): Boolean = false

  private def tableFor(
      rawOptions: java.util.Map[String, String]): GraftDeltaTable = {
    // getTable receives the case-SENSITIVE properties map while
    // inferSchema gets a CaseInsensitiveStringMap; normalize here so an
    // option typed as STARTINGVERSION resolves the same table in both
    // phases (reader options are case-insensitive, as in reference Delta)
    val options =
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(rawOptions)
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graftdelta requires a path"))
    val spark = SparkSession.active
    val changeFeed =
      Option(options.get("readChangeFeed")).exists(_.toBoolean)
    // "latest" (streaming-only) is not a batch range request —
    // DataStreamReader resolves this same table for schema inference
    // before the v1 Source takes over, so fall through to the plain
    // snapshot table for it; anything else non-numeric is a typo that
    // must NOT silently degrade an incremental read into a full scan
    val startingOpt = Option(options.get("startingVersion"))
    startingOpt.foreach(sv => require(
      sv.equalsIgnoreCase("latest") || scala.util.Try(sv.toLong).isSuccess,
      s"invalid startingVersion '$sv' (a version number, or 'latest' " +
        "for streaming)"))
    // timestamp forms of the range bounds (ecosystem CDF option
    // parity): startingTimestamp = first commit AT or AFTER the time,
    // endingTimestamp = last commit AT or BEFORE it — both resolved
    // through the same ICT-aware stamps as timestamp time travel
    val startingTs = Option(options.get("startingTimestamp"))
    val endingTs = Option(options.get("endingTimestamp"))
    require(startingTs.isEmpty || startingOpt.isEmpty,
      "set either startingVersion or startingTimestamp, not both")
    require(endingTs.isEmpty || options.get("endingVersion") == null,
      "set either endingVersion or endingTimestamp, not both")
    val startingFromTs = startingTs.map { ts =>
      val millis = GraftDeltaSource.parseUtcMillis(ts)
      // version strictly before the time resolves via time travel; a
      // table whose whole history is after ts starts from version 0.
      // ONLY the empty-eligible-set error falls back — an IO failure
      // must fail the read, not silently degrade it to a full-history
      // scan that re-emits the entire table downstream.
      val sv =
        try DeltaTable.versionAtTimestamp(spark, path, millis - 1) + 1
        catch { case _: IllegalArgumentException => 0L }
      // a bound past the last commit is a caller bug (a typo'd year
      // would otherwise read as "no new data" forever) — same
      // strictness as endingTimestamp
      val tip = DeltaTable.forPath(spark, path).version
      require(sv <= tip,
        s"startingTimestamp '$ts' is after the last commit of $path " +
          s"(version $tip)")
      sv
    }
    require((options.get("endingVersion") == null && endingTs.isEmpty) ||
      startingOpt.exists(sv => scala.util.Try(sv.toLong).isSuccess) ||
      startingFromTs.isDefined || changeFeed,
      "endingVersion/endingTimestamp requires a starting bound " +
        "(startingVersion or startingTimestamp)")
    startingOpt
      .filter(sv => scala.util.Try(sv.toLong).isSuccess)
      .map(_.toLong)
      .orElse(startingFromTs)
      // readChangeFeed without a version floor = full-history CDC (the
      // create commit's rows are the first inserts); this also gives
      // DataStreamReader the CDC schema during resolution
      .orElse(if (changeFeed) Some(0L) else None) match {
      case Some(sv) =>
        // incremental batch read: rows added by commits in
        // [startingVersion, endingVersion (default latest)]
        require(options.get("versionAsOf") == null &&
          options.get("timestampAsOf") == null,
          "startingVersion cannot be combined with time travel options")
        val endV = Option(options.get("endingVersion")).map(_.toLong)
          .orElse(endingTs.map(ts =>
            // errors when NO commit is at or before ts — an empty
            // range bounded by a pre-history timestamp is a caller bug
            DeltaTable.versionAtTimestamp(spark, path,
              GraftDeltaSource.parseUtcMillis(ts))))
          .getOrElse(-1L)
        new GraftDeltaTable(spark, path, None,
          versionRange = Some((sv, endV)),
          ignoreChanges =
            Option(options.get("ignoreChanges")).exists(_.toBoolean),
          changeFeed = changeFeed)
      case None =>
        new GraftDeltaTable(spark, path,
          GraftDeltaSource.resolveVersion(spark, path,
            Option(options.get("versionAsOf")),
            Option(options.get("timestampAsOf"))))
    }
  }

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = tableFor(options).schema()

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = tableFor(properties)

  // ---- v1 read fallback ---------------------------------------------

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdelta requires a path"))
    GraftDeltaRelation(sqlContext.sparkSession, path,
      GraftDeltaSource.resolveVersion(sqlContext.sparkSession, path,
        parameters.get("versionAsOf"), parameters.get("timestampAsOf")))
  }

  /** Write path: df.write.format("graftdelta").mode(...).save(path).
    * ErrorIfExists/Ignore look for an existing _delta_log; Append adds
    * a commit; Overwrite removes the previous live files and adds the
    * new ones in one commit (logical overwrite — old versions stay
    * time-travelable until VACUUM). */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("graftdelta requires a path"))
    val partitionCols = parameters.get("partitionBy")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq.empty)
    // no table yet: no `_delta_log`, or one that holds no commit; any
    // other failure to resolve the target (a torn log) is the caller's
    val existing =
      if (!LogSegment.fs(spark, new Path(path))
          .exists(new Path(path, "_delta_log"))) None
      else try Some(DeltaTable.forPath(spark, path))
      catch { case _: LogSegment.EmptyLogException => None }

    (mode, existing) match {
      case (SaveMode.ErrorIfExists, Some(_)) =>
        throw new IllegalStateException(s"Delta table already exists: $path")
      case (SaveMode.Ignore, Some(_)) => ()
      case (_, None) =>
        val clusterCols = parameters.get("clusterBy")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        if (parameters.get("columnMapping").contains("name")) {
          require(partitionCols.isEmpty,
            "columnMapping=name supports unpartitioned tables only")
          require(clusterCols.isEmpty,
            "clusterBy is not supported with columnMapping=name " +
              "(clustered mapped tables are not implemented); a " +
              "silently-dropped layout policy would leave every " +
              "OPTIMIZE run doing plain compaction")
          graft.delta.log.CommitWriter.createTableMapped(spark, data, path)
        } else graft.delta.log.CommitWriter.createTable(spark, data, path,
          partitionColumns = partitionCols,
          clusterBy = clusterCols)
      case (SaveMode.Append, Some(_)) =>
        graft.delta.log.CommitWriter.append(spark, data, path,
          mergeSchema = mergeSchemaOpt(parameters))
      case (SaveMode.Overwrite, Some(_)) =>
        graft.delta.log.CommitWriter.overwrite(spark, data, path,
          mergeSchema = mergeSchemaOpt(parameters))
      case _ => ()
    }
    GraftDeltaRelation(spark, path, None)
  }

  /** `.option("mergeSchema", "true")` — the ecosystem-standard opt-in
    * for write-time schema evolution ([[CommitWriter.mergedWriteSchema]]
    * semantics: net-new columns append nullable, type conflicts still
    * reject). */
  private def mergeSchemaOpt(parameters: Map[String, String]): Boolean =
    parameters.get("mergeSchema").exists(_.equalsIgnoreCase("true"))
}

object GraftDeltaSource {
  /** Timestamp option → epoch millis: epoch-millis literal, or an ISO
    * local datetime interpreted in UTC — NOT the JVM default zone, which
    * would resolve the same option to different versions on different
    * machines (every session here pins spark.sql.session.timeZone=UTC). */
  private[graft] def parseUtcMillis(ts: String): Long =
    scala.util.Try(ts.toLong).getOrElse(
      java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)

  /** Time-travel option resolution shared by the v1 and v2 read paths:
    * `versionAsOf` wins outright; `timestampAsOf` (ISO local-datetime or
    * epoch millis) maps to a version via commit mtimes. */
  private[sources] def resolveVersion(spark: SparkSession, path: String,
      versionAsOf: Option[String],
      timestampAsOf: Option[String]): Option[Long] = {
    require(versionAsOf.isEmpty || timestampAsOf.isEmpty,
      "set either versionAsOf or timestampAsOf, not both")
    versionAsOf.map(_.toLong).orElse(timestampAsOf.map { ts =>
      DeltaTable.versionAtTimestamp(spark, path, parseUtcMillis(ts))
    })
  }
}

final case class GraftDeltaRelation(
    spark: SparkSession,
    path: String,
    versionAsOf: Option[Long]) extends BaseRelation with PrunedFilteredScan {

  private def snapshot = DeltaTable.forPath(spark, path, versionAsOf)

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = snapshot.schema

  /** All filters are handled best-effort (file skipping) but none are
    * guaranteed exact — Spark must re-apply everything. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pushed = filters.flatMap(toColumn)
    val snap = snapshot
    val df = if (pushed.isEmpty) snap.read else snap.readWhere(pushed.toIndexedSeq: _*)
    val projected =
      if (requiredColumns.isEmpty) df
      else df.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }

  /** public sources.Filter → Column — shared with the DSv2 scans. */
  private def toColumn(f: Filter): Option[Column] = FilterColumns.toColumn(f)
}
