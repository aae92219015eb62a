package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{LocalCatalog, TableRegistry}
import graft.commands.VacuumCommand
import graft.sqlext.GraftParser
import graft.sqlext.GraftParser._

/** Session façade: the Spark analogue of the reference's extended
  * SessionContext.
  *
  * `sql()` mirrors `ctx.sql_delta` (reference: crates/datafusion/src/
  * session.rs:306-310 + planner.rs:124-133): lakehouse extension
  * statements (VACUUM, CREATE/DROP CATALOG) are intercepted by our
  * parser front-end; anything else goes to Spark SQL untouched.
  * `registerDelta` mirrors `ctx.register_delta` (session.rs:283-303).
  */
final class GraftSession(val spark: SparkSession) {

  val tables = new TableRegistry(spark)
  GraftSession.registerFunctions(spark)

  /** Route a SQL statement: extension grammar first, Spark otherwise. */
  def sql(sqlText: String): DataFrame =
    GraftParser.parse(sqlText) match {
      case Some(stmt) => execute(stmt)
      case None => spark.sql(sqlText)
    }

  /** Register a Delta table as a queryable temp view (auto-refreshing
    * on lookup through `tables`). */
  def registerDelta(name: String, path: String): GraftSession = {
    tables.register(name, path)
    this
  }

  def execute(stmt: Statement): DataFrame = stmt match {
    case VacuumStatement(table, mode, dryRun, retain) =>
      val path = resolveTablePath(table)
      VacuumCommand.vacuum(spark, path, retain, dryRun,
        mode.getOrElse("FULL"))
    case c: CreateCatalogStatement =>
      LocalCatalog.create(spark, LocalCatalog.CatalogDef(
        c.name, c.usingShare, c.managedLocation, c.comment,
        c.defaultCollation, c.options), c.ifNotExists)
    case d: DropCatalogStatement =>
      LocalCatalog.drop(spark, d.name, d.ifExists, d.cascade)
    case OptimizeStatement(table, zorderBy, where) =>
      graft.commands.OptimizeCommand.optimize(spark,
        resolveTablePath(table), zorderBy = zorderBy,
        where = where.map(org.apache.spark.sql.functions.expr))
    case DescribeHistoryStatement(table) =>
      graft.commands.HistoryCommand.history(spark, resolveTablePath(table))
    case DescribeDetailStatement(table) =>
      graft.commands.HistoryCommand.detail(spark, resolveTablePath(table))
    case CloneStatement(target, source, version) =>
      graft.commands.CloneCommand.shallowClone(spark,
        resolveTablePath(source), resolveTablePath(target), version)
    case RestoreStatement(table, version) =>
      graft.commands.HistoryCommand.restore(spark,
        resolveTablePath(table), version)
    case RenameColumnStatement(table, from, to) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      // without column mapping the parquet files carry logical names —
      // a metadata-only rename would orphan the column's data
      require(graft.delta.scan.ColumnMapping.mode(snap.metadata) != "none",
        "RENAME COLUMN requires column mapping " +
          "(delta.columnMapping.mode=name); physical files keep their " +
          "names, so only mapped tables can rename as a metadata commit")
      val schema = snap.schema
      require(schema.fieldNames.contains(from), s"no such column: $from")
      require(!schema.fieldNames.contains(to), s"column exists: $to")
      requireNotInColumnLists(snap.metadata, from, "RENAME COLUMN")
      val renamed = org.apache.spark.sql.types.StructType(
        schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(schemaString = renamed.json))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      rows.add(org.apache.spark.sql.Row("renamed", s"$from -> $to"))
      rows.add(org.apache.spark.sql.Row("version", v.toString))
      spark.createDataFrame(rows, VacuumCommand.metricsSchema)
    case AddColumnStatement(table, name, typeDdl) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      require(!snap.schema.fieldNames.contains(name), s"column exists: $name")
      val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
      val mapped = graft.delta.scan.ColumnMapping.mode(snap.metadata) != "none"
      // ids allocate from the maxColumnId HIGH-WATER MARK, never from the
      // surviving schema's max: after DROP COLUMN the dropped field's
      // physical name still holds its data in old parquet files, and
      // reusing its id would resurrect that data under the new column
      val nextId = math.max(
        snap.metadata.configuration
          .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L),
        graft.delta.scan.ColumnMapping.maxFieldId(snap.schema)) + 1
      val newField = {
        val f = org.apache.spark.sql.types.StructField(name, dt)
        if (!mapped) f
        else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("delta.columnMapping.id", nextId)
          .putString("delta.columnMapping.physicalName", s"col-$nextId")
          .build())
      }
      val newConfig =
        if (!mapped) snap.metadata.configuration
        else snap.metadata.configuration +
          ("delta.columnMapping.maxColumnId" -> nextId.toString)
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(
          schemaString = org.apache.spark.sql.types.StructType(
            snap.schema.fields :+ newField).json,
          configuration = newConfig))
      alterMetrics(s"added $name ${dt.catalogString}", v)
    case DropColumnStatement(table, name) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      require(graft.delta.scan.ColumnMapping.mode(snap.metadata) != "none",
        "DROP COLUMN requires column mapping: on a plain table the " +
          "column's data cannot be logically erased without a rewrite")
      require(snap.schema.fieldNames.contains(name), s"no such column: $name")
      require(snap.schema.fields.length > 1, "cannot drop the last column")
      require(!snap.partitionColumns.contains(name),
        "cannot drop a partition column")
      requireNotInColumnLists(snap.metadata, name, "DROP COLUMN")
      // backfill the id high-water mark from the PRE-drop schema: for
      // tables created before maxColumnId tracking, this is the last
      // moment the dropped field's id is still visible — without it a
      // later ADD COLUMN would reuse the id and resurrect the data
      val preDropMax = math.max(
        snap.metadata.configuration
          .get("delta.columnMapping.maxColumnId").map(_.toLong).getOrElse(0L),
        graft.delta.scan.ColumnMapping.maxFieldId(snap.schema))
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(
          schemaString = org.apache.spark.sql.types.StructType(
            snap.schema.fields.filterNot(_.name == name)).json,
          configuration = snap.metadata.configuration +
            ("delta.columnMapping.maxColumnId" -> preDropMax.toString)))
      alterMetrics(s"dropped $name", v)
    case AlterColumnTypeStatement(table, name, typeDdl) =>
      // write-side type WIDENING (the typeWidening table feature):
      // metadata-only — old files keep their narrow physical type and
      // the scan's schema adapter up-casts them on read, so a 100 TB
      // table changes an int column to long without touching a byte of
      // data. Narrowing or cross-family changes are refused (they
      // would corrupt or truncate existing values).
      import org.apache.spark.sql.types._
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      val schema = snap.schema
      val resolved = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no such column: $name"))
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
        "cannot widen a partition column: partition values are strings " +
          "re-typed by the schema, and historical directory names were " +
          "rendered under the old type")
      val to = DataType.fromDDL(typeDdl)
      val from = resolved.dataType
      val widenable: Set[(DataType, DataType)] = Set(
        (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
        (ShortType, IntegerType), (ShortType, LongType),
        (IntegerType, LongType), (FloatType, DoubleType))
      require(widenable((from, to)),
        s"ALTER COLUMN TYPE supports widening only; " +
          s"${from.simpleString} -> ${to.simpleString} is not a " +
          "supported widening (byte/short/int up the integer chain, " +
          "float -> double)")
      // record the change on the field per the typeWidening spec, so
      // other readers know which files predate the widening. The
      // `tableVersion` stamp derives from the ACTUAL commit version
      // (commitMetadataAt resolves its own segment) — `snap.version + 1`
      // computed here could be stale if a commit interleaves. The
      // schema itself is derived from `snap`, so the same call pins
      // expectedCurrentVersion: an interleaved metadata commit makes
      // this throw (caller re-runs the ALTER) instead of silently
      // reverting the interleaved change with a stale schema image.
      def widened(v: Long): org.apache.spark.sql.types.Metadata = {
        val change = new MetadataBuilder()
          .putString("fromType", from.typeName)
          .putString("toType", to.typeName)
          .putLong("tableVersion", v).build()
        val prior =
          if (resolved.metadata.contains("delta.typeChanges"))
            resolved.metadata.getMetadataArray("delta.typeChanges").toSeq
          else Seq.empty
        new MetadataBuilder().withMetadata(resolved.metadata)
          .putMetadataArray("delta.typeChanges",
            (prior :+ change).toArray).build()
      }
      val newProto = graft.delta.log.ProtocolSupport
        .withReaderWriterFeature(snap.protocol, "typeWidening")
      val cv = graft.delta.log.CommitWriter.commitMetadataAt(spark, path,
        v => snap.metadata.copy(schemaString = StructType(
          schema.fields.map { f =>
            if (f.name != resolved.name) f
            else f.copy(dataType = to, metadata = widened(v))
          }).json),
        extraActions =
          newProto.map(graft.delta.log.CommitWriter.protocolJson).toSeq,
        expectedCurrentVersion = Some(snap.version))
      alterMetrics(
        s"widened ${resolved.name} ${from.simpleString} -> " +
          to.simpleString, cv)
    case AlterColumnDefaultStatement(table, name, defaultSql) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      val schema = snap.schema
      // resolve case-insensitively, like every read/write path does
      val field = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"no such column: $name"))
      require(!snap.partitionColumns.exists(_.equalsIgnoreCase(name)),
        "cannot set a DEFAULT on a partition column")
      require(!field.metadata.contains("delta.generationExpression") &&
        !field.metadata.contains("delta.identity.start"),
        s"$name is generated/identity — its values are computed, a " +
          "DEFAULT would conflict")
      import graft.delta.log.ColumnDefaults
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata)
      val (newMeta, protoUpgrade) = defaultSql match {
        case Some(sql) =>
          // the default must analyze and cast to the column's type NOW,
          // not at some future write ("abc" on an int column must fail
          // at ALTER time, named, never brick every later append). The
          // probe frame has ZERO columns: SQL defaults may not
          // reference columns, and range(1)'s `id` would let
          // "DEFAULT id" slip through to fail (or silently bind!) at
          // write time
          spark.range(1).drop("id")
            .select(org.apache.spark.sql.functions.expr(sql)
              .cast(field.dataType)).collect()
          (mb.putString(ColumnDefaults.MetadataKey, sql).build(),
            graft.delta.log.ProtocolSupport
              .withWriterFeature(snap.protocol, ColumnDefaults.Feature))
        case None =>
          require(field.metadata.contains(ColumnDefaults.MetadataKey),
            s"$name has no DEFAULT to drop")
          (mb.remove(ColumnDefaults.MetadataKey).build(), None)
      }
      val fields = schema.fields.map(f =>
        if (f.name == field.name) f.copy(metadata = newMeta) else f)
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(schemaString =
          org.apache.spark.sql.types.StructType(fields).json),
        extraActions = protoUpgrade
          .map(graft.delta.log.CommitWriter.protocolJson).toSeq)
      alterMetrics(defaultSql match {
        case Some(sql) => s"set default ${field.name} = $sql"
        case None => s"dropped default ${field.name}"
      }, v)
    case AnalyzeTableStatement(table) =>
      graft.commands.AnalyzeCommand.run(spark, resolveTablePath(table))
    case ShowPartitionsStatement(table) =>
      // distinct live partitions straight off the log inventory —
      // O(files) metadata, zero data read; on a 100 TB table this is
      // the replay cache, not a scan. Spark's display convention: one
      // `partition` string column, `k1=v1/k2=v2`, nulls shown as the
      // Hive default-partition sentinel. partitionValues keys follow
      // the protocol: PHYSICAL names under column mapping, with a
      // logical-key fallback for pre-convention writers.
      val snap = graft.delta.DeltaTable.forPath(spark,
        resolveTablePath(table))
      val partCols = snap.partitionColumns
      require(partCols.nonEmpty,
        s"SHOW PARTITIONS: ${resolveTablePath(table)} is not a " +
          "partitioned table")
      import org.apache.spark.sql.functions.{coalesce, concat, concat_ws, element_at, lit}
      val pieces = partCols.map { c =>
        val phys = graft.delta.scan.ColumnMapping
          .physicalPartitionName(snap.metadata, c)
        concat(lit(s"$c="), coalesce(
          element_at(org.apache.spark.sql.functions.col("partitionValues"), phys),
          element_at(org.apache.spark.sql.functions.col("partitionValues"), c),
          lit("__HIVE_DEFAULT_PARTITION__")))
      }
      snap.allFiles
        .select(concat_ws("/", pieces: _*).as("partition"))
        .distinct().orderBy("partition")
    case ShowTblPropertiesStatement(table) =>
      val snap = graft.delta.DeltaTable.forPath(spark,
        resolveTablePath(table))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      snap.metadata.configuration.toSeq.sortBy(_._1).foreach {
        case (k, v) => rows.add(org.apache.spark.sql.Row(k, v))
      }
      spark.createDataFrame(rows, GraftSession.tblPropertiesSchema)
    case RestoreTimestampStatement(table, ts) =>
      val path = resolveTablePath(table)
      val target = graft.delta.DeltaTable.forPathAtTimestamp(spark, path,
        graft.delta.sources.GraftDeltaSource.parseUtcMillis(ts))
      graft.commands.HistoryCommand.restore(spark, path, target.version)
    case ClusterByStatement(table, cols) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      import graft.delta.log.{Clustering, CommitWriter}
      if (cols.isEmpty) {
        // CLUSTER BY NONE: drop the layout policy (domain tombstone);
        // the declared feature stays — it never obligated readers
        require(Clustering.columnsOf(spark, snap.segment).nonEmpty,
          s"$path is not a clustered table")
        val v = CommitWriter.commitMetadata(spark, path, snap.metadata,
          extraActions = Seq(Clustering.removalJson))
        alterMetrics("cluster by none", v)
      } else {
        val canonical = Clustering.validate(cols, snap.schema,
          snap.partitionColumns)
        // takes effect from this commit; existing files re-cluster at
        // the next OPTIMIZE (metadata-only — no data rewrite here)
        val newProto = Clustering.requiredProtocol(snap.protocol)
        val v = CommitWriter.commitMetadata(spark, path, snap.metadata,
          extraActions =
            newProto.map(CommitWriter.protocolJson).toSeq :+
              Clustering.domainJson(canonical))
        alterMetrics(s"cluster by ${canonical.mkString(", ")}", v)
      }
    case AddConstraintStatement(table, name, exprSql) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      val key = s"delta.constraints.${name.toLowerCase}"
      require(!snap.metadata.configuration.contains(key),
        s"constraint already exists: $name")
      // the constraint must hold on EXISTING rows before it can bind
      // future writers — one scan, early-exit on the first violation
      require(graft.delta.log.Constraints.holdsOn(snap.read, exprSql),
        s"cannot ADD CONSTRAINT $name: existing rows violate ($exprSql)")
      // checkConstraints is a writer feature: legacy protocols need
      // minWriterVersion >= 3, feature protocols need the name declared
      val p = snap.protocol
      val newProto =
        if (p.minWriterVersion >= 7)
          Option.when(!p.writerFeatures.getOrElse(Nil)
              .contains("checkConstraints"))(
            p.copy(writerFeatures = Some((p.writerFeatures.getOrElse(Nil)
              .toSet + "checkConstraints").toSeq.sorted)))
        else if (p.minWriterVersion < 3) Some(p.copy(minWriterVersion = 3))
        else None
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(configuration =
          snap.metadata.configuration + (key -> exprSql)),
        extraActions =
          newProto.map(graft.delta.log.CommitWriter.protocolJson).toSeq)
      alterMetrics(s"added constraint $name CHECK ($exprSql)", v)
    case DropConstraintStatement(table, name) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      val key = s"delta.constraints.${name.toLowerCase}"
      require(snap.metadata.configuration.contains(key),
        s"no such constraint: $name")
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(configuration =
          snap.metadata.configuration - key))
      alterMetrics(s"dropped constraint $name", v)
    case SetTblPropertiesStatement(table, props) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      // refuse properties whose semantics this engine cannot honor —
      // the same fail-closed boundary ProtocolSupport enforces on write
      props.foreach { case (k, _) =>
        require(!k.startsWith("delta.constraints."),
          s"cannot set $k directly: use ALTER TABLE ... ADD CONSTRAINT " +
            "<name> CHECK (<expr>), which validates existing rows and " +
            "records the writer-feature requirement")
        require(!k.startsWith("delta.columnMapping."),
          s"cannot set $k: the column-mapping mode and id high-water " +
            "mark are fixed at table creation (changing them would " +
            "orphan or resurrect physical columns)")
      }
      // dataSkippingStatsColumns must name real, non-partition columns
      // NOW — a typo discovered at write time would silently stop
      // indexing stats instead of failing the ALTER
      props.collect {
        case (graft.delta.log.CommitWriter.DataSkippingStatsColumnsKey,
            spec) =>
          graft.delta.log.CommitWriter.validateStatsColumns(spec,
            snap.metadata.dataSchema, snap.partitionColumns)
      }
      // enabling row tracking mid-life takes the backfill path: one
      // metadata-only commit stamping every live file's baseRowId from
      // its stats (no data rewrite), features + mark + property atomic
      if (props.exists { case (k, v) =>
            k == graft.delta.log.RowTracking.PropKey &&
              v.equalsIgnoreCase("true") } &&
          !graft.delta.log.RowTracking.enabled(snap.metadata)) {
        val v = graft.delta.log.CommitWriter.enableRowTracking(
          spark, path,
          extraProps = props
            .filterNot(_._1 == graft.delta.log.RowTracking.PropKey).toMap)
        return alterMetrics(s"set ${props.map(_._1).mkString(", ")} " +
          "(row-id backfill)", v)
      }
      // enabling a feature-gated property upgrades the protocol IN THE
      // SAME COMMIT: the feature must be declared before any writer
      // may rely on it. Keys match EXACTLY: Delta table property keys
      // are case-sensitive, and the readers (dvEnabled/ictEnabled) look
      // up the canonical spelling — a case-insensitive match here would
      // declare the feature while never activating the behavior
      def enabling(key: String) = props.exists { case (k, v) =>
        k == key && v.equalsIgnoreCase("true") }
      val dvUpgrade =
        if (enabling("delta.enableDeletionVectors"))
          graft.delta.log.ProtocolSupport.withDeletionVectors(snap.protocol)
        else None
      val ictUpgrade =
        if (enabling("delta.enableInCommitTimestamps"))
          graft.delta.log.ProtocolSupport.withWriterFeature(
            dvUpgrade.getOrElse(snap.protocol), "inCommitTimestamp")
        else None
      // a mid-life ICT flip records WHEN it took effect, so readers
      // know to use file mtimes before this version and ICTs after;
      // the declared timestamp becomes this very commit's ICT. A table
      // that has had ICT since creation carries NO enablement props —
      // writing them now (per spec: "ICT was enabled mid-life") would
      // make compliant readers distrust every earlier commit's ICT — so
      // a redundant re-SET on an already-enabled table records nothing.
      val alreadyIct = snap.metadata.configuration
        .get("delta.enableInCommitTimestamps")
        .exists(_.equalsIgnoreCase("true"))
      val ictProps: Map[String, String] =
        if (enabling("delta.enableInCommitTimestamps") && !alreadyIct
            && !snap.metadata.configuration
              .contains("delta.inCommitTimestampEnablementVersion"))
          Map(
            "delta.inCommitTimestampEnablementVersion" ->
              (snap.version + 1).toString,
            "delta.inCommitTimestampEnablementTimestamp" ->
              graft.delta.log.CommitWriter.nextIct(spark, path).toString)
        else Map.empty
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(
          configuration = snap.metadata.configuration ++ props ++ ictProps),
        extraActions =
          (dvUpgrade.toSeq ++ ictUpgrade.toSeq)
            .map(graft.delta.log.CommitWriter.protocolJson))
      alterMetrics(s"set ${props.map(_._1).mkString(", ")}", v)
    case UnsetTblPropertiesStatement(table, keys) =>
      val path = resolveTablePath(table)
      val snap = graft.delta.DeltaTable.forPath(spark, path)
      keys.foreach { k =>
        require(!k.startsWith("delta.columnMapping."),
          s"cannot unset $k: dropping the column-mapping configuration " +
            "would detach the schema from the physical file layout")
      }
      val v = graft.delta.log.CommitWriter.commitMetadata(spark, path,
        snap.metadata.copy(
          configuration = snap.metadata.configuration -- keys))
      alterMetrics(s"unset ${keys.mkString(", ")}", v)
    case ConvertStatement(table, partCols) =>
      val n = graft.commands.ConvertCommand.convert(spark,
        resolveTablePath(table), partCols)
      graft.commands.ConvertCommand.metrics(spark, n)
    case DeleteStatement(table, whereSql) =>
      graft.commands.DmlCommands.delete(spark, resolveTablePath(table),
        whereSql.map(org.apache.spark.sql.functions.expr)
          .getOrElse(org.apache.spark.sql.functions.lit(true)))
    case UpdateStatement(table, sets, whereSql) =>
      graft.commands.DmlCommands.update(spark, resolveTablePath(table),
        whereSql.map(org.apache.spark.sql.functions.expr)
          .getOrElse(org.apache.spark.sql.functions.lit(true)),
        sets.map { case (c, e) =>
          c -> org.apache.spark.sql.functions.expr(e) }.toMap)
    case MergeStatement(table, source, keys) =>
      graft.commands.MergeCommand.upsert(spark,
        resolveTablePath(table), resolveMergeSource(source), keys)
    case ReplaceWhereStatement(table, predicate, selectSql) =>
      graft.commands.ReplaceWhereCommand.replaceWhere(spark,
        spark.sql(selectSql), resolveTablePath(table),
        org.apache.spark.sql.functions.expr(predicate))
    case FsckStatement(table, dryRun) =>
      graft.commands.FsckCommand.repair(spark, resolveTablePath(table),
        dryRun)
    case DropFeatureStatement(table, feature, truncateHistory) =>
      graft.commands.DropFeatureCommand.dropFeature(spark,
        resolveTablePath(table), feature, truncateHistory)
    case CopyIntoStatement(table, source, force) =>
      graft.commands.CopyIntoCommand.copyInto(spark,
        resolveTablePath(table), source, force)
    case GenerateManifestStatement(table) =>
      graft.commands.GenerateCommand.symlinkManifest(spark,
        resolveTablePath(table))
    case MergeDeleteStatement(table, source, keys) =>
      graft.commands.MergeCommand.deleteMatched(spark,
        resolveTablePath(table), resolveMergeSource(source), keys)
    case CtasStatement(table, partitionCols, clusterCols, props,
        selectSql, ifNotExists, orReplace) =>
      // constraints in TBLPROPERTIES are legal here (createTable
      // enforces them on the founding rows and declares the feature);
      // column mapping is not — only createTableMapped assigns the
      // field ids / physical names the mode requires
      props.keys.foreach { k =>
        require(!k.startsWith("delta.columnMapping."),
          s"cannot set $k via CTAS: column-mapping tables need field " +
            "ids and physical names assigned at creation " +
            "(CommitWriter.createTableMapped)")
      }
      val path = resolveTablePath(table)
      val logDir = new org.apache.hadoop.fs.Path(path, "_delta_log")
      val exists = graft.delta.log.LogSegment
        .fs(spark, logDir).exists(logDir)
      if (ifNotExists && exists) alterMetrics("skipped: table exists", -1)
      else if (orReplace && exists) {
        val v = graft.delta.log.CommitWriter.replaceTable(spark,
          spark.sql(selectSql), path,
          partitionColumns = partitionCols, configuration = props,
          clusterBy = clusterCols)
        alterMetrics(s"replaced $path", v)
      } else {
        // plain CREATE of an existing table fails at the v0 commit's
        // create-no-overwrite, before any log damage — but fail fast
        // here with a better message instead of writing data files
        if (exists) throw new IllegalArgumentException(
          s"Table already exists: $path (use IF NOT EXISTS to skip)")
        graft.delta.log.CommitWriter.createTable(spark,
          spark.sql(selectSql), path,
          partitionColumns = partitionCols, configuration = props,
          clusterBy = clusterCols)
        alterMetrics(s"created $path", 0)
      }
    case MergeSyncStatement(table, source, keys, deletePredicate) =>
      graft.commands.MergeCommand.sync(spark,
        resolveTablePath(table), resolveMergeSource(source), keys,
        deletePredicate.map(org.apache.spark.sql.functions.expr))
    case ShowCatalogsStatement =>
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      LocalCatalog.list().foreach(c =>
        rows.add(org.apache.spark.sql.Row(c.name,
          c.comment.orNull, c.managedLocation.orNull)))
      spark.createDataFrame(rows, GraftSession.showCatalogsSchema)
    // schema (namespace) securables: ours only when the catalog is a
    // graft securable/plugin — `spark_catalog.db` etc. re-delegates to
    // vanilla Spark DDL with the statement re-rendered
    case s: CreateSchemaStatement =>
      if (LocalCatalog.get(s.catalog).isDefined)
        LocalCatalog.createSchemaIn(spark, s.catalog, s.name,
          s.comment, s.options, s.ifNotExists)
      else spark.sql(GraftSession.renderVanillaCreateSchema(s))
    case s: DropSchemaStatement =>
      if (LocalCatalog.get(s.catalog).isDefined)
        LocalCatalog.dropSchemaIn(spark, s.catalog, s.name,
          s.ifExists, s.cascade)
      else spark.sql(
        s"DROP SCHEMA ${if (s.ifExists) "IF EXISTS " else ""}" +
          s"${quoteIdent(s.catalog)}.${quoteIdent(s.name)}" +
          (if (s.cascade) " CASCADE" else ""))
    case ShowSchemasStatement(catalog) =>
      if (LocalCatalog.get(catalog).isDefined) {
        val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        LocalCatalog.listSchemas(catalog).foreach(d =>
          rows.add(org.apache.spark.sql.Row(
            d.name, catalog, d.comment.orNull)))
        spark.createDataFrame(rows, GraftSession.showSchemasSchema)
      } else spark.sql(s"SHOW SCHEMAS IN ${quoteIdent(catalog)}")
    case s: CreateShareStatement =>
      LocalCatalog.createShare(spark,
        LocalCatalog.ShareDef(s.name, s.comment), s.ifNotExists)
    case s: DropShareStatement =>
      LocalCatalog.dropShare(spark, s.name, s.ifExists)
    case ShowSharesStatement =>
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      LocalCatalog.listShares().foreach(d =>
        rows.add(org.apache.spark.sql.Row(d.name, d.comment.orNull)))
      spark.createDataFrame(rows, GraftSession.showSharesSchema)
    case s: CreateLocationStatement =>
      LocalCatalog.createLocation(spark,
        LocalCatalog.LocationDef(s.name, s.url, s.credential, s.comment,
          s.options), s.ifNotExists)
    case s: DropLocationStatement =>
      LocalCatalog.dropLocation(spark, s.name, s.ifExists)
    case ShowLocationsStatement =>
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      LocalCatalog.listLocations().foreach(d =>
        rows.add(org.apache.spark.sql.Row(
          d.name, d.url, d.credential.orNull, d.comment.orNull)))
      spark.createDataFrame(rows, GraftSession.showLocationsSchema)
    case s: CreateConnectionStatement =>
      LocalCatalog.createConnection(spark,
        LocalCatalog.ConnectionDef(s.name, s.connectionType, s.url,
          s.comment, s.options), s.ifNotExists)
    case s: DropConnectionStatement =>
      LocalCatalog.dropConnection(spark, s.name, s.ifExists)
    case ShowConnectionsStatement =>
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      LocalCatalog.listConnections().foreach(d =>
        rows.add(org.apache.spark.sql.Row(
          d.name, d.connectionType, d.url.orNull, d.comment.orNull)))
      spark.createDataFrame(rows, GraftSession.showConnectionsSchema)
    case s: CreateForeignCatalogStatement =>
      LocalCatalog.createForeignCatalog(spark, s.name, s.connection,
        s.comment, s.options, s.ifNotExists)
    case s: AlterShareAddStatement =>
      LocalCatalog.addShareTable(spark, s.share, resolveTablePath(s.path),
        s.schema, s.table)
    case s: AlterShareRemoveStatement =>
      LocalCatalog.removeShareTable(spark, s.share, s.schema, s.table)
    case ShowShareObjectsStatement(share) =>
      val d = LocalCatalog.getShare(share).getOrElse(
        throw new IllegalArgumentException(s"Share '$share' not found"))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      d.objects.toSeq.sortBy(t => t._1).foreach { case ((sch, tbl), path) =>
        rows.add(org.apache.spark.sql.Row(s"$sch.$tbl", "TABLE", path))
      }
      spark.createDataFrame(rows, GraftSession.showShareObjectsSchema)
  }

  // one set of quoting rules — the statics in the companion (shared
  // with the extension parser's re-rendering) are the implementation
  private def quoteIdent(name: String): String =
    GraftSession.quoteIdentStatic(name)

  private def alterMetrics(what: String, version: Long): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row("altered", what))
    rows.add(org.apache.spark.sql.Row("version", version.toString))
    spark.createDataFrame(rows, VacuumCommand.metricsSchema)
  }

  /** A VACUUM target is either a registered table name or a path. */
  /** MERGE source: a view/table name, else a parquet path. */
  private def resolveMergeSource(source: String): DataFrame =
    if (source.contains("/")) spark.read.parquet(source)
    else spark.table(source)

  /** RENAME/DROP COLUMN must not leave a dangling name inside a
    * column-list table property: `dataSkippingStatsColumns` would then
    * match NOTHING — every later write silently stops indexing stats
    * and ANALYZE sees an empty target, so skipping on the renamed
    * filter column quietly dies — and a declared bloom-filter column
    * would likewise silently stop materializing. The ALTER fails
    * loudly; re-point the property first. */
  private def requireNotInColumnLists(meta: graft.delta.log.Actions.Metadata,
      column: String, op: String): Unit = {
    import graft.delta.log.CommitWriter.{BloomFilterColumnsKey, DataSkippingStatsColumnsKey}
    for (key <- Seq(DataSkippingStatsColumnsKey, BloomFilterColumnsKey);
         spec <- meta.configuration.get(key)) {
      val hit = spec.split(",").map(_.trim)
        .exists(_.equalsIgnoreCase(column))
      require(!hit, s"$op $column: the column is named in $key = " +
        s"'$spec' — update that property first (a dangling name would " +
        "silently stop indexing)")
    }
  }

  private def resolveTablePath(table: String): String =
    if (table.contains("/") || (table.contains(":") && !table.contains("`")))
      table
    else {
      // split on dots OUTSIDE backticks — a quoted identifier holding a
      // literal dot is ONE part, not a qualifier chain
      val parts = graft.catalog.GraftCatalog.splitRef(table)
      tables.names.find(n => n == table ||
          (parts.length == 1 && n == parts.head))
        .map(n => tables.snapshot(n).tablePath.toString)
        // catalog-qualified (`graft.db.tbl`): the same registry reads
        // resolve through — commands accept the names users already use
        .orElse(graft.catalog.GraftCatalog.lookupPath(parts))
        .getOrElse(table)
    }
}

object GraftSession {

  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)

  /** Re-render a parsed CREATE SCHEMA into vanilla Spark syntax —
    * OPTIONS (our grammar) becomes WITH DBPROPERTIES (Spark's). Shared
    * by the session delegation below and the extension parser
    * ([[graft.sqlext.GraftParserInterface]]) so the SAME statement
    * succeeds on a non-graft catalog through either entry point. */
  def renderVanillaCreateSchema(
      s: graft.sqlext.GraftParser.CreateSchemaStatement): String =
    s"CREATE SCHEMA ${if (s.ifNotExists) "IF NOT EXISTS " else ""}" +
      s"${quoteIdentStatic(s.catalog)}.${quoteIdentStatic(s.name)}" +
      s.comment.map(c => s" COMMENT ${quoteLiteralStatic(c)}").getOrElse("") +
      // OPTIONS carry over as namespace properties — silently
      // dropping them would create a different schema than asked
      (if (s.options.isEmpty) ""
      else s.options.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          s"${quoteLiteralStatic(k)} = ${quoteLiteralStatic(v)}" }
        .mkString(" WITH DBPROPERTIES (", ", ", ")"))

  private[graft] def quoteIdentStatic(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name
    else "`" + name.replace("`", "``") + "`"

  private[graft] def quoteLiteralStatic(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  val tblPropertiesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType, nullable = false)))

  val showPartitionsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("partition",
        org.apache.spark.sql.types.StringType, nullable = false)))

  val showSchemasSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("schema_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("catalog_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("comment",
        org.apache.spark.sql.types.StringType, nullable = true)))

  val showSharesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("share_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("comment",
        org.apache.spark.sql.types.StringType, nullable = true)))

  val showLocationsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("location_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("credential_name",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("comment",
        org.apache.spark.sql.types.StringType, nullable = true)))

  val showShareObjectsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("shared_object",
        org.apache.spark.sql.types.StringType, nullable = false)))

  val showConnectionsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("connection_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("connection_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("comment",
        org.apache.spark.sql.types.StringType, nullable = true)))

  val showCatalogsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("catalog_name",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("comment",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("managed_location",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** UDF registrations (A27): sign_storage_url dispatches per URL
    * scheme through the [[graft.functions.UrlSigning]] signer registry —
    * local passthrough live, S3/Azure/GCS as typed extension points
    * mirroring the reference's per-store signers
    * (crates/datafusion/src/functions/sign_url.rs:100-211). */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("sign_storage_url",
      (url: String) => graft.functions.UrlSigning.signUrl(url))
  }
}
