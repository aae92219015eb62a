package graft.sqlext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.StructType
import graft.GraftSession
import graft.catalog.LocalCatalog
import graft.commands._
import graft.delta.DeltaTable
import graft.delta.sources.GraftDeltaSource
import graft.ops.DirListing

/** SQL front-end for the lakehouse statement extensions.
  *
  * Mirrors the reference's HFParser: intercept the extension statements,
  * delegate everything else to the host engine (reference:
  * crates/datafusion/src/sql/parser.rs:30-491 — vacuum :158-219, create
  * catalog :246-340, drop :362-392). The securables the reference stubs
  * (CONNECTION / LOCATION / SHARE / FOREIGN CATALOG, :342-360) and its
  * SCHEMA `todo!` (:355) run against the local catalog model, SCHEMA for
  * QUALIFIED (cat.schema) names only; unqualified forms stay vanilla
  * Spark DDL.
  */
object GraftParser {

  /** A parsed extension statement. Each one declares the columns of its
    * result and runs itself, so both entry points — [[GraftSession.sql]]
    * and the injected parser's [[GraftCommand]] — share one definition:
    * a statement is its case class here plus its grammar rule below. */
  sealed trait Statement {
    /** The result's columns: the `(metric_name, metric_value)` metrics
      * frame unless the statement says otherwise. */
    def outputSchema: StructType = CommandResult.metricsSchema
    def run(g: GraftSession): DataFrame
    /** The vanilla Spark SQL that runs in this statement's place, or
      * None when graft runs it. Schema DDL on a catalog that is not a
      * graft securable delegates; both entry points ask this first. */
    def vanillaSql: Option[String] = None
  }
  final case class VacuumStatement(
      table: String,
      mode: Option[String], // FULL | LITE
      dryRun: Boolean,
      retentionHours: Option[Double]) extends Statement {
    override def outputSchema: StructType =
      if (dryRun) DirListing.schema else CommandResult.metricsSchema
    def run(g: GraftSession): DataFrame =
      VacuumCommand.vacuum(g.spark, g.resolveTablePath(table),
        retentionHours, dryRun, mode.getOrElse("FULL"))
  }
  final case class CreateCatalogStatement(
      name: String,
      ifNotExists: Boolean,
      usingShare: Option[String],
      managedLocation: Option[String],
      comment: Option[String],
      defaultCollation: Option[String],
      options: Map[String, String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.create(g.spark, LocalCatalog.CatalogDef(name, usingShare,
        managedLocation, comment, defaultCollation, options), ifNotExists)
  }
  final case class DropCatalogStatement(
      name: String,
      ifExists: Boolean,
      cascade: Boolean) extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.drop(g.spark, name, ifExists, cascade)
  }
  final case class OptimizeStatement(table: String,
      zorderBy: Seq[String] = Seq.empty,
      where: Option[String] = None) extends Statement {
    def run(g: GraftSession): DataFrame =
      OptimizeCommand.optimize(g.spark, g.resolveTablePath(table),
        zorderBy = zorderBy, where = where.map(expr))
  }
  final case class DescribeHistoryStatement(table: String) extends Statement {
    override def outputSchema: StructType = HistoryCommand.historySchema
    def run(g: GraftSession): DataFrame =
      HistoryCommand.history(g.spark, g.resolveTablePath(table))
  }
  final case class DescribeDetailStatement(table: String) extends Statement {
    override def outputSchema: StructType = HistoryCommand.detailSchema
    def run(g: GraftSession): DataFrame =
      HistoryCommand.detail(g.spark, g.resolveTablePath(table))
  }
  final case class RestoreStatement(table: String, version: Long)
      extends Statement {
    def run(g: GraftSession): DataFrame =
      HistoryCommand.restore(g.spark, g.resolveTablePath(table), version)
  }
  /** RESTORE t TO TIMESTAMP AS OF '<ts>' (ISO local-datetime, UTC, or
    * epoch millis — the read path's timestampAsOf resolution). */
  final case class RestoreTimestampStatement(table: String,
      timestamp: String) extends Statement {
    def run(g: GraftSession): DataFrame = {
      val path = g.resolveTablePath(table)
      val target = DeltaTable.forPathAtTimestamp(g.spark, path,
        GraftDeltaSource.parseUtcMillis(timestamp))
      HistoryCommand.restore(g.spark, path, target.version)
    }
  }
  final case class ConvertStatement(table: String,
      partitionColumns: Seq[String] = Seq.empty) extends Statement {
    override def outputSchema: StructType = ConvertCommand.metricsSchema
    def run(g: GraftSession): DataFrame =
      ConvertCommand.metrics(g.spark, ConvertCommand.convert(g.spark,
        g.resolveTablePath(table), partitionColumns))
  }
  /** CREATE TABLE [IF NOT EXISTS] '<path>' [PARTITIONED BY (cols)]
    * [CLUSTER BY (cols)] [TBLPROPERTIES ('k'='v', ...)] AS SELECT ... —
    * path-addressed CTAS through the graft write path (catalog-table
    * CTAS delegates to Spark untouched). */
  final case class CtasStatement(table: String,
      partitionColumns: Seq[String], clusterColumns: Seq[String],
      properties: Map[String, String], selectSql: String,
      ifNotExists: Boolean, orReplace: Boolean = false) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.createTableAsSelect(g.spark,
        g.resolveTablePath(table), partitionColumns, clusterColumns,
        properties, selectSql, ifNotExists, orReplace)
  }

  /** CREATE TABLE <target> SHALLOW CLONE <source> [VERSION AS OF n]:
    * metadata-only copy referencing the source's files absolutely. */
  final case class CloneStatement(target: String, source: String,
      version: Option[Long] = None) extends Statement {
    def run(g: GraftSession): DataFrame =
      CloneCommand.shallowClone(g.spark, g.resolveTablePath(source),
        g.resolveTablePath(target), version)
  }
  final case class RenameColumnStatement(table: String,
      from: String, to: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.renameColumn(g.spark, g.resolveTablePath(table),
        from, to)
  }
  final case class AddColumnStatement(table: String,
      name: String, typeDdl: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.addColumn(g.spark, g.resolveTablePath(table),
        name, typeDdl)
  }
  final case class DropColumnStatement(table: String,
      name: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.dropColumn(g.spark, g.resolveTablePath(table), name)
  }
  /** ALTER TABLE t ALTER COLUMN c TYPE <type> — widening only. */
  final case class AlterColumnTypeStatement(table: String,
      name: String, typeDdl: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.alterColumnType(g.spark, g.resolveTablePath(table),
        name, typeDdl)
  }
  /** ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr> | DROP DEFAULT. */
  final case class AlterColumnDefaultStatement(table: String,
      name: String, defaultSql: Option[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.alterColumnDefault(g.spark,
        g.resolveTablePath(table), name, defaultSql)
  }
  final case class AddConstraintStatement(table: String,
      name: String, exprSql: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.addConstraint(g.spark, g.resolveTablePath(table),
        name, exprSql)
  }
  final case class DropConstraintStatement(table: String,
      name: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.dropConstraint(g.spark, g.resolveTablePath(table),
        name)
  }
  /** ALTER TABLE t CLUSTER BY (c1, ...) | CLUSTER BY NONE (empty cols). */
  final case class ClusterByStatement(table: String,
      cols: Seq[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.clusterBy(g.spark, g.resolveTablePath(table), cols)
  }
  final case class SetTblPropertiesStatement(table: String,
      props: Seq[(String, String)]) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.setTblProperties(g.spark,
        g.resolveTablePath(table), props)
  }
  final case class UnsetTblPropertiesStatement(table: String,
      keys: Seq[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      AlterTableCommand.unsetTblProperties(g.spark,
        g.resolveTablePath(table), keys)
  }
  case object ShowCatalogsStatement extends Statement {
    override def outputSchema: StructType = LocalCatalog.showCatalogsSchema
    def run(g: GraftSession): DataFrame = LocalCatalog.showCatalogs(g.spark)
  }
  // schema (namespace) securables: ours only when the catalog is a
  // graft securable/plugin — `spark_catalog.db` etc. run as vanilla
  // Spark DDL with the statement re-rendered (`vanillaSql`)
  final case class CreateSchemaStatement(catalog: String, name: String,
      ifNotExists: Boolean, comment: Option[String],
      options: Map[String, String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.createSchemaIn(g.spark, catalog, name, comment, options,
        ifNotExists)
    // OPTIONS (our grammar) becomes WITH DBPROPERTIES (Spark's)
    override def vanillaSql: Option[String] =
      Option.when(LocalCatalog.get(catalog).isEmpty)(
        s"CREATE SCHEMA ${if (ifNotExists) "IF NOT EXISTS " else ""}" +
          s"${quoteIdent(catalog)}.${quoteIdent(name)}" +
          comment.map(c => s" COMMENT ${quoteLiteral(c)}").getOrElse("") +
          // OPTIONS carry over as namespace properties — silently
          // dropping them would create a different schema than asked
          (if (options.isEmpty) ""
          else options.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${quoteLiteral(k)} = ${quoteLiteral(v)}" }
            .mkString(" WITH DBPROPERTIES (", ", ", ")")))
  }
  final case class DropSchemaStatement(catalog: String, name: String,
      ifExists: Boolean, cascade: Boolean) extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.dropSchemaIn(g.spark, catalog, name, ifExists, cascade)
    override def vanillaSql: Option[String] =
      Option.when(LocalCatalog.get(catalog).isEmpty)(
        s"DROP SCHEMA ${if (ifExists) "IF EXISTS " else ""}" +
          s"${quoteIdent(catalog)}.${quoteIdent(name)}" +
          (if (cascade) " CASCADE" else ""))
  }
  final case class ShowSchemasStatement(catalog: String) extends Statement {
    override def outputSchema: StructType = LocalCatalog.showSchemasSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.showSchemas(g.spark, catalog)
    override def vanillaSql: Option[String] =
      Option.when(LocalCatalog.get(catalog).isEmpty)(
        s"SHOW SCHEMAS IN ${quoteIdent(catalog)}")
  }
  /** SHARE securable (the reference stubs parse_create_share at
    * sql/parser.rs:358; same local securable model as CATALOG/SCHEMA). */
  final case class CreateShareStatement(name: String, ifNotExists: Boolean,
      comment: Option[String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.createShare(g.spark, LocalCatalog.ShareDef(name, comment),
        ifNotExists)
  }
  final case class DropShareStatement(name: String, ifExists: Boolean)
      extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.dropShare(g.spark, name, ifExists)
  }
  case object ShowSharesStatement extends Statement {
    override def outputSchema: StructType = LocalCatalog.showSharesSchema
    def run(g: GraftSession): DataFrame = LocalCatalog.showShares(g.spark)
  }
  /** ALTER SHARE <share> ADD TABLE '<path>' AS <schema>.<table> /
    * REMOVE TABLE <schema>.<table> — share content management. Adding
    * publishes the table under the shared (schema, table) name so a
    * catalog created USING SHARE serves reads through it. */
  final case class AlterShareAddStatement(share: String, path: String,
      schema: String, table: String) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.addShareTable(g.spark, share, g.resolveTablePath(path),
        schema, table)
  }
  final case class AlterShareRemoveStatement(share: String,
      schema: String, table: String) extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.removeShareTable(g.spark, share, schema, table)
  }
  /** SHOW ALL IN SHARE <share>: the share's published objects. */
  final case class ShowShareObjectsStatement(share: String) extends Statement {
    override def outputSchema: StructType = LocalCatalog.showShareObjectsSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.showShareObjects(g.spark, share)
  }
  /** EXTERNAL LOCATION securable (the reference stubs
    * parse_create_location at sql/parser.rs:350). Both the reference's
    * bare `CREATE LOCATION` and the ecosystem's `CREATE EXTERNAL
    * LOCATION` spellings parse to this. */
  final case class CreateLocationStatement(name: String, url: String,
      ifNotExists: Boolean, credential: Option[String],
      comment: Option[String], options: Map[String, String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.createLocation(g.spark, LocalCatalog.LocationDef(name,
        url, credential, comment, options), ifNotExists)
  }
  final case class DropLocationStatement(name: String, ifExists: Boolean)
      extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.dropLocation(g.spark, name, ifExists)
  }
  case object ShowLocationsStatement extends Statement {
    override def outputSchema: StructType = LocalCatalog.showLocationsSchema
    def run(g: GraftSession): DataFrame = LocalCatalog.showLocations(g.spark)
  }
  /** CONNECTION securable (the reference stubs parse_create_connection
    * at sql/parser.rs:346): a named credential-bearing endpoint a
    * FOREIGN CATALOG mounts through. */
  final case class CreateConnectionStatement(name: String,
      connectionType: String, url: Option[String], ifNotExists: Boolean,
      comment: Option[String], options: Map[String, String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.createConnection(g.spark, LocalCatalog.ConnectionDef(
        name, connectionType, url, comment, options), ifNotExists)
  }
  final case class DropConnectionStatement(name: String, ifExists: Boolean)
      extends Statement {
    override def outputSchema: StructType = LocalCatalog.dropSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.dropConnection(g.spark, name, ifExists)
  }
  case object ShowConnectionsStatement extends Statement {
    override def outputSchema: StructType = LocalCatalog.showConnectionsSchema
    def run(g: GraftSession): DataFrame = LocalCatalog.showConnections(g.spark)
  }
  /** FOREIGN CATALOG (the reference stubs parse_create_foreign_catalog
    * at sql/parser.rs:342): a catalog mirroring an external system
    * through a CONNECTION. */
  final case class CreateForeignCatalogStatement(name: String,
      connection: String, ifNotExists: Boolean, comment: Option[String],
      options: Map[String, String]) extends Statement {
    override def outputSchema: StructType = LocalCatalog.createSchema
    def run(g: GraftSession): DataFrame =
      LocalCatalog.createForeignCatalog(g.spark, name, connection, comment,
        options, ifNotExists)
  }
  /** SHOW TBLPROPERTIES <ref>: (key, value) rows, sorted. */
  final case class ShowTblPropertiesStatement(table: String) extends Statement {
    override def outputSchema: StructType = HistoryCommand.tblPropertiesSchema
    def run(g: GraftSession): DataFrame =
      HistoryCommand.tblProperties(g.spark, g.resolveTablePath(table))
  }
  /** SHOW PARTITIONS <ref>: the distinct live partitions straight off
    * the log's file inventory — one `partition` string column in
    * Spark's `k1=v1/k2=v2` display convention, zero data files read. */
  final case class ShowPartitionsStatement(table: String) extends Statement {
    override def outputSchema: StructType = HistoryCommand.partitionsSchema
    def run(g: GraftSession): DataFrame =
      HistoryCommand.partitions(g.spark, g.resolveTablePath(table))
  }
  /** ANALYZE TABLE <ref> COMPUTE [DELTA] STATISTICS
    * ([[graft.commands.AnalyzeCommand]]). */
  final case class AnalyzeTableStatement(table: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      AnalyzeCommand.run(g.spark, g.resolveTablePath(table))
  }
  final case class DeleteStatement(table: String,
      whereSql: Option[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      DmlCommands.delete(g.spark, g.resolveTablePath(table),
        whereSql.map(expr).getOrElse(lit(true)))
  }
  final case class UpdateStatement(table: String,
      sets: Seq[(String, String)], // column -> expression SQL
      whereSql: Option[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      DmlCommands.update(g.spark, g.resolveTablePath(table),
        whereSql.map(expr).getOrElse(lit(true)),
        sets.map { case (c, e) => c -> expr(e) }.toMap)
  }
  /** Upsert-shaped MERGE: UPDATE SET * / INSERT * on key equality. */
  final case class MergeStatement(table: String, source: String,
      keys: Seq[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      MergeCommand.upsert(g.spark, g.resolveTablePath(table),
        g.resolveMergeSource(source), keys)
  }
  /** MERGE ... WHEN MATCHED THEN DELETE (delete-by-key-set). */
  final case class MergeDeleteStatement(table: String, source: String,
      keys: Seq[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      MergeCommand.deleteMatched(g.spark, g.resolveTablePath(table),
        g.resolveMergeSource(source), keys)
  }
  /** MERGE full-sync: upsert + WHEN NOT MATCHED BY SOURCE [AND pred]
    * THEN DELETE. */
  final case class MergeSyncStatement(table: String, source: String,
      keys: Seq[String], deletePredicate: Option[String]) extends Statement {
    def run(g: GraftSession): DataFrame =
      MergeCommand.sync(g.spark, g.resolveTablePath(table),
        g.resolveMergeSource(source), keys, deletePredicate.map(expr))
  }
  /** INSERT INTO <t> REPLACE WHERE <pred> SELECT ... — the selective
    * overwrite SQL shape ([[graft.commands.ReplaceWhereCommand]]). */
  final case class ReplaceWhereStatement(table: String, predicate: String,
      selectSql: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      ReplaceWhereCommand.replaceWhere(g.spark, g.spark.sql(selectSql),
        g.resolveTablePath(table), expr(predicate))
  }
  /** FSCK REPAIR TABLE <t> [DRY RUN] ([[graft.commands.FsckCommand]]). */
  final case class FsckStatement(table: String,
      dryRun: Boolean) extends Statement {
    override def outputSchema: StructType =
      if (dryRun) FsckCommand.dryRunSchema else CommandResult.metricsSchema
    def run(g: GraftSession): DataFrame =
      FsckCommand.repair(g.spark, g.resolveTablePath(table), dryRun)
  }
  /** ALTER TABLE t DROP FEATURE <name> [TRUNCATE HISTORY]
    * ([[graft.commands.DropFeatureCommand]]). */
  final case class DropFeatureStatement(table: String, feature: String,
      truncateHistory: Boolean) extends Statement {
    def run(g: GraftSession): DataFrame =
      DropFeatureCommand.dropFeature(g.spark, g.resolveTablePath(table),
        feature, truncateHistory)
  }
  /** COPY INTO <t> FROM <'dir'> [FILEFORMAT = PARQUET] [FORCE]
    * ([[graft.commands.CopyIntoCommand]]). */
  final case class CopyIntoStatement(table: String, source: String,
      force: Boolean) extends Statement {
    def run(g: GraftSession): DataFrame =
      CopyIntoCommand.copyInto(g.spark, g.resolveTablePath(table), source,
        force)
  }
  /** GENERATE symlink_format_manifest FOR TABLE <t>
    * ([[graft.commands.GenerateCommand]]). */
  final case class GenerateManifestStatement(table: String) extends Statement {
    def run(g: GraftSession): DataFrame =
      GenerateCommand.symlinkManifest(g.spark, g.resolveTablePath(table))
  }

  private def quoteIdent(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name
    else "`" + name.replace("`", "``") + "`"

  private def quoteLiteral(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  final class ParseException(msg: String) extends IllegalArgumentException(msg)

  // ---- tokenizer ----------------------------------------------------

  private sealed trait Tok { def text: String }
  private case class Word(text: String) extends Tok {
    def upper: String = text.toUpperCase
  }
  private case class Str(text: String) extends Tok // '...' literal
  private case class Quoted(text: String) extends Tok // `...` identifier
  private case class Sym(text: String) extends Tok // ( ) , .

  private def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val sb = new StringBuilder
        i += 1
        var closed = false
        while (i < n && !closed) {
          val ch = sql.charAt(i)
          if (ch == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') {
            sb += '\''; i += 2
          } else if (ch == '\'') { closed = true; i += 1 }
          else { sb += ch; i += 1 }
        }
        if (!closed) throw new ParseException("Unterminated string literal")
        out += Str(sb.toString)
      } else if (c == '`') {
        val end = sql.indexOf('`', i + 1)
        if (end < 0) throw new ParseException("Unterminated quoted identifier")
        out += Quoted(sql.substring(i + 1, end))
        i = end + 1
      } else if ("(),.".indexOf(c) >= 0) {
        out += Sym(c.toString); i += 1
      } else {
        val start = i
        while (i < n && !sql.charAt(i).isWhitespace &&
          "(),.'`".indexOf(sql.charAt(i)) < 0) i += 1
        out += Word(sql.substring(start, i))
      }
    }
    out.result()
  }

  // ---- entry --------------------------------------------------------

  /** Parse an extension statement; None = not ours (delegate to Spark). */
  def parse(sql: String): Option[Statement] = {
    val trimmed = sql.trim.stripSuffix(";")
    val toks = tokenize(trimmed)
    if (toks.isEmpty) return None
    toks.head match {
      case w: Word if w.upper == "VACUUM" => Some(parseVacuum(toks.tail))
      case w: Word if w.upper == "OPTIMIZE" =>
        Some(parseOptimize(toks.tail))
      case w: Word if w.upper == "CREATE" || w.upper == "DROP" =>
        parseCreateOrDrop(w.upper, toks.tail)
      case w: Word if w.upper == "DESCRIBE" &&
          wordAt(toks, 1).contains("HISTORY") =>
        Some(DescribeHistoryStatement(parseTableRef(toks.drop(2))))
      case w: Word if w.upper == "DESCRIBE" &&
          wordAt(toks, 1).contains("DETAIL") =>
        Some(DescribeDetailStatement(parseTableRef(toks.drop(2))))
      case w: Word if w.upper == "RESTORE" =>
        parseRestore(toks.tail)
      case w: Word if w.upper == "SHOW" &&
          wordAt(toks, 1).contains("CATALOGS") =>
        Some(ShowCatalogsStatement)
      case w: Word if w.upper == "SHOW" && toks.length == 2 &&
          wordAt(toks, 1).contains("SHARES") =>
        Some(ShowSharesStatement)
      case w: Word if w.upper == "SHOW" && toks.length == 3 &&
          wordAt(toks, 1).contains("EXTERNAL") &&
          wordAt(toks, 2).contains("LOCATIONS") =>
        Some(ShowLocationsStatement)
      case w: Word if w.upper == "SHOW" && toks.length == 2 &&
          wordAt(toks, 1).contains("CONNECTIONS") =>
        Some(ShowConnectionsStatement)
      case w: Word if w.upper == "SHOW" &&
          wordAt(toks, 1).exists(s => s == "SCHEMAS" || s == "NAMESPACES") &&
          wordAt(toks, 2).exists(s => s == "IN" || s == "FROM") &&
          toks.length == 4 &&
          (toks(3).isInstanceOf[Word] || toks(3).isInstanceOf[Quoted]) =>
        // ONLY the exact single-catalog form is ours; every other valid
        // Spark shape (LIKE patterns, multi-part namespaces, unqualified
        // SHOW SCHEMAS) keeps delegating via the None path. Execution
        // further delegates when the catalog isn't a graft securable.
        Some(ShowSchemasStatement(identText(toks(3))))
      case w: Word if w.upper == "SHOW" &&
          wordAt(toks, 1).contains("TBLPROPERTIES") =>
        Some(ShowTblPropertiesStatement(parseTableRef(toks.drop(2))))
      case w: Word if w.upper == "SHOW" &&
          wordAt(toks, 1).contains("PARTITIONS") =>
        // only PATH-addressed targets are ours — `SHOW PARTITIONS
        // db.tbl` on a catalog table is valid vanilla Spark SQL and
        // must keep delegating; a trailing PARTITION(spec) filter is
        // not supported, so refuse it rather than silently returning
        // the unfiltered listing
        val (table, rest) = parseTableRefAndRest(toks.drop(2))
        if (!table.contains("/")) None
        else if (rest.nonEmpty)
          throw new ParseException(
            "SHOW PARTITIONS takes no clauses after the table " +
              "reference (PARTITION(...) filters are not supported)")
        else Some(ShowPartitionsStatement(table))
      case w: Word if w.upper == "ANALYZE" &&
          wordAt(toks, 1).contains("TABLE") =>
        // only PATH-addressed targets are ours — `ANALYZE TABLE name
        // COMPUTE STATISTICS` on a catalog table is valid vanilla
        // Spark SQL and must keep delegating (CTAS precedent)
        val (table, rest) = parseTableRefAndRest(toks.drop(2))
        if (!table.contains("/")) None
        else {
          val tail = rest.collect { case t: Word => t.upper }
          if (tail != Seq("COMPUTE", "STATISTICS") &&
              tail != Seq("COMPUTE", "DELTA", "STATISTICS"))
            throw new ParseException(
              "expected ANALYZE TABLE <t> COMPUTE [DELTA] STATISTICS")
          Some(AnalyzeTableStatement(table))
        }
      case w: Word if w.upper == "CONVERT" =>
        Some(parseConvert(toks.tail))
      case w: Word if w.upper == "ALTER" &&
          wordAt(toks, 1).contains("TABLE") =>
        Some(parseAlter(toks.drop(2)))
      case w: Word if w.upper == "ALTER" &&
          wordAt(toks, 1).contains("SHARE") =>
        Some(parseAlterShare(toks.drop(2)))
      case w: Word if w.upper == "SHOW" && toks.length == 5 &&
          wordAt(toks, 1).contains("ALL") &&
          wordAt(toks, 2).contains("IN") &&
          wordAt(toks, 3).contains("SHARE") =>
        Some(ShowShareObjectsStatement(identText(toks(4))))
      case w: Word if w.upper == "DELETE" &&
          wordAt(toks, 1).contains("FROM") =>
        Some(parseDelete(toks.drop(2)))
      case w: Word if w.upper == "UPDATE" =>
        Some(parseUpdate(toks.tail))
      case w: Word if w.upper == "MERGE" &&
          wordAt(toks, 1).contains("INTO") =>
        Some(parseMerge(toks.drop(2)))
      case w: Word if w.upper == "INSERT" &&
          wordAt(toks, 1).contains("INTO") =>
        parseInsertReplace(toks.drop(2))
      case w: Word if w.upper == "COPY" &&
          wordAt(toks, 1).contains("INTO") =>
        val (table, rest0) = parseTableRefAndRest(toks.drop(2))
        require(wordAt(rest0, 0).contains("FROM") && rest0.length >= 2,
          "expected COPY INTO <table> FROM <'dir'> [FILEFORMAT = " +
            "PARQUET] [FORCE]")
        val (source, rest1) = parseTableRefAndRest(rest0.tail)
        // normalize the tail to canonical spacing around '=' so
        // FILEFORMAT=PARQUET / FILEFORMAT = PARQUET parse alike
        val tail = rest1.collect { case t: Word => t.upper }
          .mkString(" ").replaceAll("\\s*=\\s*", " = ").trim
        val (afterFmt, okFmt) =
          if (tail.startsWith("FILEFORMAT")) {
            val ok = tail == "FILEFORMAT = PARQUET" ||
              tail == "FILEFORMAT = PARQUET FORCE"
            (tail.stripPrefix("FILEFORMAT = PARQUET").trim, ok)
          } else (tail, true)
        require(okFmt, "COPY INTO supports FILEFORMAT = PARQUET only " +
          s"(got: $tail)")
        val force = afterFmt == "FORCE"
        require(force || afterFmt.isEmpty,
          "expected COPY INTO <table> FROM <'dir'> [FILEFORMAT = " +
            s"PARQUET] [FORCE], got trailing: $afterFmt")
        Some(CopyIntoStatement(table, source, force))
      case w: Word if w.upper == "GENERATE" =>
        require(wordAt(toks, 1).contains("SYMLINK_FORMAT_MANIFEST") &&
          wordAt(toks, 2).contains("FOR") &&
          wordAt(toks, 3).contains("TABLE"),
          "expected GENERATE symlink_format_manifest FOR TABLE <table>")
        val (table, rest) = parseTableRefAndRest(toks.drop(4))
        require(rest.isEmpty,
          "unexpected input after GENERATE ... FOR TABLE <table>: " +
            rest.map(_.text).mkString(" "))
        Some(GenerateManifestStatement(table))
      case w: Word if w.upper == "FSCK" =>
        require(wordAt(toks, 1).contains("REPAIR") &&
          wordAt(toks, 2).contains("TABLE"),
          "expected FSCK REPAIR TABLE <table> [DRY RUN]")
        val (table, rest) = parseTableRefAndRest(toks.drop(3))
        val dryRun = rest.collect { case w: Word => w.upper } == Seq("DRY", "RUN")
        require(dryRun || rest.isEmpty,
          "expected FSCK REPAIR TABLE <table> [DRY RUN]")
        Some(FsckStatement(table, dryRun))
      case _ => None
    }
  }

  // ---- DML ----------------------------------------------------------

  /** DELETE FROM <ref> [WHERE <expr>] */
  private def parseDelete(toks: Vector[Tok]): Statement = {
    val (table, rest) = parseTableRefAndRest(toks)
    rest.headOption match {
      case None => DeleteStatement(table, None)
      case Some(w: Word) if w.upper == "WHERE" && rest.length > 1 =>
        DeleteStatement(table, Some(sqlOf(rest.tail)))
      case _ => throw new ParseException(
        "expected DELETE FROM <table> [WHERE <expr>]")
    }
  }

  /** UPDATE <ref> SET a = <expr> [, b = <expr> ...] [WHERE <expr>] */
  private def parseUpdate(toks: Vector[Tok]): Statement = {
    val (table, rest) = parseTableRefAndRest(toks)
    if (!wordAt(rest, 0).contains("SET"))
      throw new ParseException(
        "expected UPDATE <table> SET <col> = <expr>[, ...] [WHERE <expr>]")
    val body = rest.tail
    // first depth-0 WHERE ends the SET list (a WHERE inside a
    // subquery-valued assignment sits at depth > 0)
    var depth = 0
    val whereIdx = body.indexWhere {
      case Sym("(") => depth += 1; false
      case Sym(")") => depth -= 1; false
      case w: Word if depth == 0 && w.upper == "WHERE" => true
      case _ => false
    }
    val (setToks, whereToks) =
      if (whereIdx < 0) (body, Vector.empty[Tok])
      else (body.take(whereIdx), body.drop(whereIdx + 1))
    if (whereIdx >= 0 && whereToks.isEmpty)
      throw new ParseException("WHERE requires a predicate")
    val sets = splitTopLevel(setToks).map(parseAssignment)
    if (sets.isEmpty) throw new ParseException("SET list is empty")
    UpdateStatement(table, sets,
      if (whereToks.isEmpty) None else Some(sqlOf(whereToks)))
  }

  /** Split a token span on depth-0 commas. */
  private def splitTopLevel(toks: Vector[Tok]): Seq[Vector[Tok]] = {
    val out = Seq.newBuilder[Vector[Tok]]
    var depth = 0
    var cur = Vector.newBuilder[Tok]
    var any = false
    toks.foreach {
      case Sym(",") if depth == 0 => out += cur.result(); cur.clear()
      case t =>
        t match {
          case Sym("(") => depth += 1
          case Sym(")") => depth -= 1
          case _ =>
        }
        cur += t; any = true
    }
    if (any) out += cur.result()
    out.result()
  }

  /** One `col = expr` assignment: split the re-assembled SQL on the
    * first `=` outside quotes (the tokenizer keeps `=` glued to
    * adjacent characters, so splitting happens on text, with literal
    * and backtick state tracked). */
  private def parseAssignment(toks: Vector[Tok]): (String, String) = {
    val sql = sqlOf(toks)
    var i = 0
    var q: Char = 0
    var at = -1
    while (i < sql.length && at < 0) {
      val c = sql.charAt(i)
      if (q != 0) { if (c == q) q = 0 }
      else if (c == '\'' || c == '`') q = c
      else if (c == '=') at = i
      i += 1
    }
    if (at <= 0 || at == sql.length - 1)
      throw new ParseException(s"expected <col> = <expr>, got: $sql")
    val colName = sql.substring(0, at).trim
    val rhs = sql.substring(at + 1).trim
    // tolerate == / => typos loudly rather than mis-assigning
    if (colName.isEmpty || rhs.isEmpty || rhs.startsWith("=") ||
        !colName.matches("[A-Za-z_][A-Za-z0-9_]*|`[^`]+`"))
      throw new ParseException(s"expected <col> = <expr>, got: $sql")
    (colName.stripPrefix("`").stripSuffix("`"), rhs)
  }

  /** INSERT INTO <ref> REPLACE WHERE <predicate> SELECT ... — only the
    * REPLACE WHERE form is intercepted; every other INSERT delegates to
    * Spark untouched (None). The predicate span ends at the first
    * depth-0 SELECT; the SELECT itself runs through the session
    * (subqueries in the predicate sit at depth > 0 and are kept). */
  private def parseInsertReplace(toks: Vector[Tok]): Option[Statement] = {
    // an unconventional INSERT target (multi-part names, column lists)
    // is not ours — delegate rather than reject
    val parsed = scala.util.Try(parseTableRefAndRest(toks)).toOption
    parsed.flatMap { case (table, rest) =>
      if (!(wordAt(rest, 0).contains("REPLACE") &&
            wordAt(rest, 1).contains("WHERE"))) None
      else {
        val body = rest.drop(2)
        var depth = 0
        val selIdx = body.indexWhere {
          case Sym("(") => depth += 1; false
          case Sym(")") => depth -= 1; false
          case w: Word if depth == 0 && w.upper == "SELECT" => true
          case _ => false
        }
        if (selIdx <= 0) throw new ParseException(
          "expected INSERT INTO <table> REPLACE WHERE <predicate> " +
            "SELECT ...")
        Some(ReplaceWhereStatement(table, sqlOf(body.take(selIdx)),
          sqlOf(body.drop(selIdx))))
      }
    }
  }

  /** MERGE INTO <ref> USING <source> ON <t.k = s.k [AND ...]>
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * —
    * the upsert shape [[graft.commands.MergeCommand]] implements.
    * Key equalities must compare the SAME column name on both sides. */
  private def parseMerge(toks: Vector[Tok]): Statement = {
    val (table, rest0) = parseTableRefAndRest(toks)
    if (!wordAt(rest0, 0).contains("USING"))
      throw new ParseException("expected MERGE INTO <table> USING <source>")
    val (source, rest1) = parseTableRefAndRest(rest0.tail)
    if (!wordAt(rest1, 0).contains("ON"))
      throw new ParseException("expected ON <key equality [AND ...]>")
    val onEnd = rest1.indexWhere {
      case w: Word => w.upper == "WHEN"
      case _ => false
    }
    if (onEnd < 0) throw new ParseException(
      "expected WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val clauseToks = rest1.drop(onEnd)
    // optional trailing WHEN NOT MATCHED BY SOURCE clause: split it off
    // before shape-matching the upsert/delete head (its predicate may
    // contain symbol tokens the word-level matcher would drop)
    def wordsOf(ts: Vector[Tok]): String =
      ts.collect { case w: Word => w.upper }.mkString(" ")
    val bySourceIdx = clauseToks.indices.find { i =>
      clauseToks(i) match {
        case w: Word => w.upper == "WHEN" &&
          wordsOf(clauseToks.slice(i, i + 5)) == "WHEN NOT MATCHED BY SOURCE"
        case _ => false
      }
    }
    val (headToks, bySourceToks) =
      clauseToks.splitAt(bySourceIdx.getOrElse(clauseToks.length))
    val tailWords = wordsOf(headToks)
    val isUpsert =
      tailWords == "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    val isDelete = tailWords == "WHEN MATCHED THEN DELETE"
    if (!isUpsert && !isDelete || (isDelete && bySourceToks.nonEmpty))
      throw new ParseException(
        "supported MERGE shapes: WHEN MATCHED THEN UPDATE SET * WHEN " +
          "NOT MATCHED THEN INSERT * (upsert, optionally followed by " +
          "WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE) | WHEN " +
          s"MATCHED THEN DELETE (got: $tailWords)")
    // WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE
    val syncPredicate: Option[Option[String]] =
      if (bySourceToks.isEmpty) None
      else {
        val afterIntro = bySourceToks.drop(5) // WHEN NOT MATCHED BY SOURCE
        if (wordsOf(bySourceToks.takeRight(2)) != "THEN DELETE" ||
            bySourceToks.length < 7)
          throw new ParseException(
            "expected WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE")
        afterIntro.headOption match {
          case Some(w: Word) if w.upper == "THEN" && afterIntro.length == 2 =>
            Some(None) // unconditional delete
          case Some(w: Word) if w.upper == "AND" && afterIntro.length > 3 =>
            Some(Some(sqlOf(afterIntro.slice(1, afterIntro.length - 2))))
          case _ => throw new ParseException(
            "expected WHEN NOT MATCHED BY SOURCE [AND <pred>] THEN DELETE")
        }
      }
    val keys = sqlOf(rest1.slice(1, onEnd)).split("(?i)\\bAND\\b").map { eq =>
      val sides = eq.split("=", 2).map(_.trim)
      if (sides.length != 2)
        throw new ParseException(s"expected <k> = <k> in ON clause, got: $eq")
      val names = sides.map(s => s.substring(s.lastIndexOf('.') + 1)
        .trim.stripPrefix("`").stripSuffix("`"))
      if (!names(0).equalsIgnoreCase(names(1)))
        throw new ParseException(
          s"ON clause must equate the same column name on both sides: $eq")
      names(0)
    }.toSeq
    if (isDelete) MergeDeleteStatement(table, source, keys)
    else syncPredicate match {
      case Some(pred) => MergeSyncStatement(table, source, keys, pred)
      case None => MergeStatement(table, source, keys)
    }
  }

  /** ALTER TABLE <ref> RENAME COLUMN a TO b | ADD COLUMN a <type> |
    * DROP COLUMN a */
  private def parseAlter(toks: Vector[Tok]): Statement = {
    val (table, rest) = parseTableRefAndRest(toks)
    (wordAt(rest, 0), wordAt(rest, 1)) match {
      case (Some("RENAME"), Some("COLUMN")) =>
        (rest.lift(2), wordAt(rest, 3), rest.lift(4)) match {
          case (Some(a: Word), Some("TO"), Some(b: Word)) if rest.length == 5 =>
            RenameColumnStatement(table, a.text, b.text)
          case _ =>
            throw new ParseException("expected RENAME COLUMN <a> TO <b>")
        }
      case (Some("ADD"), Some("COLUMN")) =>
        rest.lift(2) match {
          case Some(a: Word) if rest.length > 3 =>
            AddColumnStatement(table, a.text,
              rest.drop(3).map(_.text).mkString(" "))
          case _ => throw new ParseException("expected ADD COLUMN <a> <type>")
        }
      case (Some("DROP"), Some("COLUMN")) =>
        rest.lift(2) match {
          case Some(a: Word) if rest.length == 3 =>
            DropColumnStatement(table, a.text)
          case _ => throw new ParseException("expected DROP COLUMN <a>")
        }
      case (Some("DROP"), Some("FEATURE")) =>
        val tail = rest.drop(3).collect { case w: Word => w.upper }
        (rest.lift(2), tail) match {
          case (Some(f: Word), Seq()) =>
            DropFeatureStatement(table, f.text, truncateHistory = false)
          case (Some(f: Word), Seq("TRUNCATE", "HISTORY")) =>
            DropFeatureStatement(table, f.text, truncateHistory = true)
          case _ => throw new ParseException(
            "expected DROP FEATURE <name> [TRUNCATE HISTORY]")
        }
      case (Some("ADD"), Some("CONSTRAINT")) =>
        // ADD CONSTRAINT <name> CHECK ( <expr> ) — the expr tokens are
        // re-assembled with literals re-quoted so Spark can parse them
        (rest.lift(2), wordAt(rest, 3), rest.lift(4), rest.lastOption) match {
          case (Some(nm: Word), Some("CHECK"), Some(Sym("(")), Some(Sym(")")))
              if rest.length > 6 =>
            AddConstraintStatement(table, nm.text,
              sqlOf(rest.slice(5, rest.length - 1)))
          case _ => throw new ParseException(
            "expected ADD CONSTRAINT <name> CHECK ( <expr> )")
        }
      case (Some("ALTER"), Some("COLUMN")) =>
        (rest.lift(2), wordAt(rest, 3), wordAt(rest, 4)) match {
          case (Some(a: Word), Some("TYPE"), _) if rest.length > 4 =>
            AlterColumnTypeStatement(table, a.text,
              rest.drop(4).map(_.text).mkString(" "))
          case (Some(a: Word), Some("SET"), Some("DEFAULT"))
              if rest.length > 5 =>
            AlterColumnDefaultStatement(table, a.text,
              Some(sqlOf(rest.drop(5))))
          case (Some(a: Word), Some("DROP"), Some("DEFAULT"))
              if rest.length == 5 =>
            AlterColumnDefaultStatement(table, a.text, None)
          case _ => throw new ParseException(
            "expected ALTER COLUMN <a> TYPE <type> | SET DEFAULT <expr> " +
              "| DROP DEFAULT")
        }
      case (Some("DROP"), Some("CONSTRAINT")) =>
        rest.lift(2) match {
          case Some(nm: Word) if rest.length == 3 =>
            DropConstraintStatement(table, nm.text)
          case _ => throw new ParseException("expected DROP CONSTRAINT <name>")
        }
      case (Some("SET"), Some("TBLPROPERTIES")) =>
        SetTblPropertiesStatement(table, parsePropList(rest.drop(2)))
      case (Some("UNSET"), Some("TBLPROPERTIES")) =>
        UnsetTblPropertiesStatement(table, parseKeyList(rest.drop(2)))
      case (Some("CLUSTER"), Some("BY")) =>
        if (wordAt(rest, 2).contains("NONE") && rest.length == 3)
          ClusterByStatement(table, Seq.empty)
        else (rest.lift(2), rest.lastOption) match {
          case (Some(Sym("(")), Some(Sym(")"))) if rest.length > 4 =>
            val inner = rest.slice(3, rest.length - 1)
            // strict alternation — identifier, comma, identifier, ... —
            // so `CLUSTER BY (a b)` is malformed, not two columns
            val wellFormed = inner.length % 2 == 1 &&
              inner.zipWithIndex.forall {
                case (_: Word, idx) => idx % 2 == 0
                case (Sym(","), idx) => idx % 2 == 1
                case _ => false
              }
            if (!wellFormed) throw new ParseException(
              "expected CLUSTER BY ( <col> [, <col> ...] )")
            ClusterByStatement(table,
              inner.collect { case w: Word => w.text })
          case _ => throw new ParseException(
            "expected CLUSTER BY ( <col> [, ...] ) or CLUSTER BY NONE")
        }
      case _ => throw new ParseException(
        "supported: ALTER TABLE ... RENAME COLUMN a TO b | " +
          "ADD COLUMN a <type> | DROP COLUMN a | " +
          "ALTER COLUMN a TYPE <type> | " +
          "ADD CONSTRAINT n CHECK (expr) | DROP CONSTRAINT n | " +
          "SET TBLPROPERTIES ('k' = 'v', ...) | " +
          "UNSET TBLPROPERTIES ('k', ...) | " +
          "CLUSTER BY ( <col>, ... ) | CLUSTER BY NONE")
    }
  }

  /** Re-assemble tokens into parseable SQL: string literals re-quoted
    * (with '' escaping), quoted identifiers re-backticked, everything
    * else space-joined (Spark's grammar tolerates spaces around `.`
    * and inside call parens). */
  private def sqlOf(toks: Seq[Tok]): String = {
    val rendered = toks.map {
      case Str(s) => "'" + s.replace("'", "''") + "'"
      case Quoted(s) => "`" + s + "`"
      case t => t.text
    }
    // re-attach '.' to its neighbors: the tokenizer splits qualified
    // names (t.a) AND decimal literals (999.5) on the dot, and a
    // spaced "999 . 5" / "t . a" is invalid SQL downstream
    val sb = new StringBuilder
    rendered.zipWithIndex.foreach { case (r, i) =>
      if (i > 0 && r != "." && rendered(i - 1) != ".") sb.append(' ')
      sb.append(r)
    }
    sb.toString
  }

  private def keyText(t: Tok): String = t match {
    case Str(s) => s
    case Quoted(s) => s
    case w: Word => w.text
    case other => throw new ParseException(s"expected property key, got $other")
  }

  /** `( 'k' = 'v' [, ...] )` — keys/values as string literals, quoted
    * identifiers, or bare words. */
  private def parsePropList(toks: Vector[Tok]): Seq[(String, String)] = {
    if (toks.headOption.forall(_.text != "(") ||
        toks.lastOption.forall(_.text != ")"))
      throw new ParseException("expected ( 'k' = 'v' [, ...] )")
    val inner = toks.drop(1).dropRight(1)
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < inner.length) {
      val k = keyText(inner(i))
      if (!inner.lift(i + 1).exists(_.text == "="))
        throw new ParseException(s"expected = after property key $k")
      val v = inner.lift(i + 2).map(keyText)
        .getOrElse(throw new ParseException(s"expected value for $k"))
      out += (k -> v)
      i += 3
      if (i < inner.length) {
        if (inner(i).text != ",")
          throw new ParseException(s"expected , between properties")
        i += 1
      }
    }
    val props = out.result()
    if (props.isEmpty)
      throw new ParseException("TBLPROPERTIES requires at least one property")
    props
  }

  /** `( 'k' [, ...] )` */
  private def parseKeyList(toks: Vector[Tok]): Seq[String] = {
    if (toks.headOption.forall(_.text != "(") ||
        toks.lastOption.forall(_.text != ")"))
      throw new ParseException("expected ( 'k' [, ...] )")
    val keys = toks.drop(1).dropRight(1).filter(_.text != ",").map(keyText)
    if (keys.isEmpty)
      throw new ParseException("UNSET TBLPROPERTIES requires at least one key")
    keys
  }

  /** CONVERT TO DELTA <ref> [PARTITIONED BY (c1, c2, ...)] */
  private def parseConvert(toks: Vector[Tok]): ConvertStatement = {
    if (!wordAt(toks, 0).contains("TO") || !wordAt(toks, 1).contains("DELTA"))
      throw new ParseException("expected CONVERT TO DELTA <path>")
    val refToks = toks.drop(2)
    val (table, rest) = parseTableRefAndRest(refToks)
    if (rest.isEmpty) return ConvertStatement(table)
    if (!wordAt(rest, 0).contains("PARTITIONED") ||
        !wordAt(rest, 1).contains("BY"))
      throw new ParseException(
        s"expected PARTITIONED BY, got: ${rest.take(2)}")
    val inner = rest.drop(2)
    if (inner.headOption.forall(_.text != "(") ||
        inner.lastOption.forall(_.text != ")"))
      throw new ParseException("PARTITIONED BY requires (col, ...)")
    val cs = inner.slice(1, inner.length - 1)
      .filter(_.text != ",").collect { case w: Word => w.text }
    if (cs.isEmpty) throw new ParseException("empty PARTITIONED BY list")
    ConvertStatement(table, cs.toSeq)
  }

  /** RESTORE <table> [TO] VERSION AS OF n */
  private def parseRestore(toks: Vector[Tok]): Option[Statement] = {
    val (table, rest0) = parseTableRefAndRest(toks)
    val rest = if (wordAt(rest0, 0).contains("TO")) rest0.drop(1) else rest0
    if (wordAt(rest, 0).contains("TIMESTAMP") &&
        wordAt(rest, 1).contains("AS") && wordAt(rest, 2).contains("OF")) {
      val ts = rest.lift(3).collect {
        case t: Str => t.text
        case w: Word => w.text
      }.getOrElse(throw new ParseException("expected timestamp literal"))
      if (rest.length > 4) throw new ParseException(
        s"Unexpected trailing tokens: ${rest.drop(4)}")
      return Some(RestoreTimestampStatement(table, ts))
    }
    if (!wordAt(rest, 0).contains("VERSION") ||
        !wordAt(rest, 1).contains("AS") || !wordAt(rest, 2).contains("OF"))
      throw new ParseException(
        "RESTORE requires VERSION AS OF <n> or TIMESTAMP AS OF <ts>")
    val v = rest.lift(3).collect { case w: Word => w.text }
      .flatMap(t => scala.util.Try(t.toLong).toOption)
      .getOrElse(throw new ParseException("expected version number"))
    if (rest.length > 4)
      throw new ParseException(s"Unexpected trailing tokens: ${rest.drop(4)}")
    Some(RestoreStatement(table, v))
  }

  private def wordAt(toks: Vector[Tok], i: Int): Option[String] =
    toks.lift(i).collect { case w: Word => w.upper }

  /** table reference: delta.`p` | delta.'p' | 'p' | `p` | bare ident */
  /** Table reference at the head of `toks`, returning (ref, tokens
    * consumed). Forms: the `delta.'path'` / `delta.`path`` path
    * prefix; a bare string/quoted literal; or a DOTTED IDENTIFIER
    * CHAIN (`cat.db.tbl`) — catalog-qualified names the session layer
    * resolves through [[graft.catalog.GraftCatalog]], closing the
    * reference's own `todo!("multi-part table name support")`
    * (crates/datafusion/src/commands/vacuum/mod.rs:62). */
  private def parseTableRefN(toks: Vector[Tok]): (String, Int) =
    toks.headOption match {
      case Some(w: Word) if w.upper == "DELTA" &&
          toks.lift(1).exists(_.text == ".") &&
          toks.lift(2).exists(t =>
            t.isInstanceOf[Str] || t.isInstanceOf[Quoted]) =>
        (identText(toks(2)), 3)
      case Some(Str(p)) => (p, 1)
      case Some(first @ (_: Word | _: Quoted)) =>
        val parts = scala.collection.mutable.Buffer(identText(first))
        var i = 1
        while (toks.lift(i).exists(_.text == ".") &&
            toks.lift(i + 1).exists(t =>
              t.isInstanceOf[Word] || t.isInstanceOf[Quoted])) {
          parts += identText(toks(i + 1)); i += 2
        }
        // a part holding a literal dot or colon (quoted identifier)
        // re-renders BACKTICKED so the joined ref splits back into the
        // same parts (GraftCatalog.splitRef) instead of exploding on
        // its dots — or being mistaken for a path by the ':' heuristic
        (parts.map(p =>
          if (p.exists(c => c == '.' || c == ':')) s"`$p`" else p)
          .mkString("."), i)
      case _ => throw new ParseException("Expected a table reference")
    }

  private def parseTableRef(toks: Vector[Tok]): String = parseTableRefN(toks)._1

  /** table reference + the tokens after it (skips the optional
    * `delta . <ref>` prefix uniformly for every clause parser). */
  private def parseTableRefAndRest(toks: Vector[Tok]): (String, Vector[Tok]) = {
    val (table, n) = parseTableRefN(toks)
    (table, toks.drop(n))
  }

  /** OPTIMIZE <ref> [WHERE <partition predicate>] [ZORDER BY (cols)] */
  private def parseOptimize(toks: Vector[Tok]): OptimizeStatement = {
    val (table, afterRef) = parseTableRefAndRest(toks)
    // optional WHERE: capture tokens up to a depth-0 ZORDER
    val (where, rest) = afterRef.headOption match {
      case Some(w: Word) if w.upper == "WHERE" =>
        var depth = 0
        val body = afterRef.tail.takeWhile {
          case Sym("(") => depth += 1; true
          case Sym(")") => depth -= 1; true
          case w: Word if depth == 0 && w.upper == "ZORDER" => false
          case _ => true
        }
        if (body.isEmpty) throw new ParseException("WHERE requires a predicate")
        (Some(sqlOf(body)), afterRef.tail.drop(body.length))
      case _ => (None, afterRef)
    }
    if (rest.isEmpty) return OptimizeStatement(table, where = where)
    if (!wordAt(rest, 0).contains("ZORDER") || !wordAt(rest, 1).contains("BY"))
      throw new ParseException(s"Unexpected tokens in OPTIMIZE: $rest")
    val hasParen = rest.lift(2).exists(_.text == "(")
    var i = if (hasParen) 3 else 2
    val cols = Seq.newBuilder[String]
    var done = false
    while (!done && i < rest.length) {
      rest(i) match {
        case Sym(")") => done = true; i += 1
        case Sym(",") => i += 1
        case t => cols += identText(t); i += 1
      }
    }
    if (i < rest.length)
      throw new ParseException(s"Unexpected trailing tokens: ${rest.drop(i)}")
    val cs = cols.result()
    if (cs.isEmpty) throw new ParseException("ZORDER BY requires columns")
    OptimizeStatement(table, cs, where)
  }

  private def parseVacuum(toks: Vector[Tok]): VacuumStatement = {
    if (toks.isEmpty) throw new ParseException("VACUUM requires a table")
    // table reference: delta.`p` | delta.'p' | 'p' | `p` | dotted name
    val (table, consumed) = parseTableRefN(toks)
    var i = consumed
    var mode: Option[String] = None
    var dryRun = false
    var retain: Option[Double] = None
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("FULL") =>
          if (mode.isDefined) throw new ParseException("mode already set")
          mode = Some("FULL"); i += 1
        case Some("LITE") =>
          if (mode.isDefined) throw new ParseException("mode already set")
          mode = Some("LITE"); i += 1
        case Some("DRY") =>
          if (wordAt(toks, i + 1).contains("RUN")) { dryRun = true; i += 2 }
          else throw new ParseException("expected RUN after DRY")
        case Some("RETAIN") =>
          val num = toks.lift(i + 1).collect { case w: Word => w.text }
            .flatMap(t => scala.util.Try(t.toDouble).toOption)
            .getOrElse(throw new ParseException("expected number after RETAIN"))
          if (!wordAt(toks, i + 2).exists(u => u == "HOURS" || u == "HOUR"))
            throw new ParseException("expected HOURS after RETAIN n")
          retain = Some(num); i += 3
        case other =>
          throw new ParseException(s"Unexpected token in VACUUM: $other")
      }
    }
    VacuumStatement(table, mode, dryRun, retain)
  }

  private def parseCreateOrDrop(verb: String,
      toks: Vector[Tok]): Option[Statement] = {
    wordAt(toks, 0) match {
      case Some("CATALOG") =>
        if (verb == "CREATE") Some(parseCreateCatalog(toks.drop(1)))
        else Some(parseDropCatalog(toks.drop(1)))
      case Some("FOREIGN") if wordAt(toks, 1).contains("CATALOG") =>
        // DROP of a foreign catalog is plain DROP CATALOG; the FOREIGN
        // keyword only qualifies CREATE
        if (verb == "CREATE") Some(parseCreateForeignCatalog(toks.drop(2)))
        else Some(parseDropCatalog(toks.drop(2)))
      case Some("CONNECTION") =>
        if (verb == "CREATE") Some(parseCreateConnection(toks.drop(1)))
        else Some(parseDropConnection(toks.drop(1)))
      case Some("SCHEMA") =>
        // only QUALIFIED names (cat.schema) are ours — an unqualified
        // CREATE/DROP SCHEMA is valid vanilla Spark DDL on the session
        // catalog and must keep delegating
        if (verb == "CREATE") parseCreateSchema(toks.drop(1))
        else parseDropSchema(toks.drop(1))
      case Some("SHARE") =>
        if (verb == "CREATE") Some(parseCreateShare(toks.drop(1)))
        else Some(parseDropShare(toks.drop(1)))
      case Some("LOCATION") =>
        if (verb == "CREATE") Some(parseCreateLocation(toks.drop(1)))
        else Some(parseDropLocation(toks.drop(1)))
      case Some("EXTERNAL") if wordAt(toks, 1).contains("LOCATION") =>
        // ecosystem spelling; CREATE EXTERNAL TABLE keeps delegating
        // through the default branch below
        if (verb == "CREATE") Some(parseCreateLocation(toks.drop(2)))
        else Some(parseDropLocation(toks.drop(2)))
      case Some("OR") if verb == "CREATE" &&
          wordAt(toks, 1).contains("REPLACE") &&
          wordAt(toks, 2).contains("TABLE") =>
        // CREATE OR REPLACE TABLE '<path>' ... AS SELECT — ours only
        // for path targets; catalog RTAS delegates
        scala.util.Try(parseTableRefAndRest(toks.drop(3))).toOption
          .flatMap {
            case (target, rest) if target.contains("/") =>
              parseCtasTail(target, rest, ifNotExists = false,
                orReplace = true)
            case _ => None
          }
      case Some("TABLE") if verb == "CREATE" =>
        // ours ONLY when SHALLOW follows the target ref positionally
        // (clone) or the target is a PATH and the tail is a CTAS shape
        // — anything else (a column named shallow, catalog-table CTAS,
        // column-list DDL) is plain Spark DDL and must delegate
        val (ifNotExists, afterTable) =
          if (wordAt(toks, 1).contains("IF") &&
              wordAt(toks, 2).contains("NOT") &&
              wordAt(toks, 3).contains("EXISTS")) (true, toks.drop(4))
          else (false, toks.drop(1))
        scala.util.Try(parseTableRefAndRest(afterTable)).toOption
          .flatMap {
            case (target, rest) if wordAt(rest, 0).contains("SHALLOW") =>
              if (ifNotExists) throw new ParseException(
                "SHALLOW CLONE does not support IF NOT EXISTS")
              if (!wordAt(rest, 1).contains("CLONE") || rest.length < 3)
                throw new ParseException(
                  "expected CREATE TABLE <target> SHALLOW CLONE <source>")
              val (source, rest2) = parseTableRefAndRest(rest.drop(2))
              val version = rest2.map {
                case w: Word => w.upper
                case t => t.text
              } match {
                case Seq() => None
                case Seq("VERSION", "AS", "OF", v)
                    if scala.util.Try(v.toLong).isSuccess =>
                  Some(v.toLong)
                case _ => throw new ParseException(
                  "expected [VERSION AS OF <n>] after SHALLOW CLONE " +
                    "<source>, got: " + rest2.map(_.text).mkString(" "))
              }
              Some(CloneStatement(target, source, version))
            case (target, rest) if target.contains("/") =>
              parseCtasTail(target, rest, ifNotExists)
            case _ => None
          }
      case _ => None // plain CREATE TABLE etc → delegate
    }
  }

  /** The tail of a path-target CREATE TABLE: [PARTITIONED BY (cols)]
    * [CLUSTER BY (cols)] [TBLPROPERTIES (...)] AS SELECT ... — None
    * (delegate) when the tail is not a CTAS at all; a ParseException
    * when it starts like one and breaks halfway. */
  private def parseCtasTail(target: String, rest: Vector[Tok],
      ifNotExists: Boolean, orReplace: Boolean = false)
      : Option[Statement] = {
    // a bare column list `(...)` head means schema DDL, not ours
    var r = rest
    def colList(what: String): Seq[String] = {
      if (r.headOption.forall(_.text != "("))
        throw new ParseException(s"$what requires (col, ...)")
      val close = r.indexWhere(_.text == ")")
      if (close < 0) throw new ParseException(s"unclosed $what list")
      val cols = strictColumns(r.slice(1, close), what)
      r = r.drop(close + 1)
      cols
    }
    var partitionCols = Seq.empty[String]
    var clusterCols = Seq.empty[String]
    var props = Map.empty[String, String]
    if (wordAt(r, 0).contains("PARTITIONED") &&
        wordAt(r, 1).contains("BY")) {
      r = r.drop(2)
      partitionCols = colList("PARTITIONED BY")
    }
    if (wordAt(r, 0).contains("CLUSTER") && wordAt(r, 1).contains("BY")) {
      r = r.drop(2)
      clusterCols = colList("CLUSTER BY")
    }
    if (wordAt(r, 0).contains("TBLPROPERTIES")) {
      val inner = r.drop(1)
      val close = inner.indexWhere(_.text == ")")
      if (close < 0) throw new ParseException("unclosed TBLPROPERTIES")
      props = parsePropList(inner.take(close + 1)).toMap
      r = inner.drop(close + 1)
    }
    if (!(wordAt(r, 0).contains("AS") && wordAt(r, 1).contains("SELECT")))
      return None // not a CTAS (plain DDL, column list, ...) → delegate
    Some(CtasStatement(target, partitionCols, clusterCols, props,
      sqlOf(r.drop(1)), ifNotExists, orReplace))
  }

  /** Comma-separated simple column names (shared strictness with
    * CLUSTER BY: missing commas and duplicates are rejected). */
  private def strictColumns(inner: Vector[Tok], what: String): Seq[String] = {
    val cols = Seq.newBuilder[String]
    var expectCol = true
    for (t <- inner) t match {
      case w: Word if expectCol => cols += w.text; expectCol = false
      case Sym(",") if !expectCol => expectCol = true
      case other => throw new ParseException(
        s"$what expects (col, col, ...), got '${other.text}'")
    }
    val out = cols.result()
    if (expectCol || out.isEmpty)
      throw new ParseException(s"$what expects (col, col, ...)")
    val dups = out.groupBy(_.toLowerCase).collect {
      case (_, g) if g.size > 1 => g.head }
    if (dups.nonEmpty) throw new ParseException(
      s"$what lists duplicate columns: ${dups.mkString(", ")}")
    out
  }

  private def identText(t: Tok): String = t match {
    case Word(w) => w
    case Quoted(q) => q
    case Str(s) => s
    case Sym(s) => throw new ParseException(s"Expected identifier, got '$s'")
  }

  /** CREATE SCHEMA [IF NOT EXISTS] <catalog>.<schema>
    * [COMMENT '...'] [OPTIONS (k v, ...)] — the securable-model sibling
    * of CREATE CATALOG (the reference stubs this at sql/parser.rs:355).
    * None (delegate) when the name is unqualified: that form is plain
    * Spark DDL on the session catalog. */
  private def parseCreateSchema(toks: Vector[Tok]): Option[Statement] = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) {
      ifNotExists = true; i = 3
    }
    val cat = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE SCHEMA requires a name")))
    if (!toks.lift(i + 1).exists(_.text == ".")) return None
    val name = identText(toks.lift(i + 2).getOrElse(
      throw new ParseException("expected schema name after '.'")))
    // 3+-part names (multi-level session-catalog namespaces) are valid
    // vanilla Spark DDL, not a graft securable — delegate
    if (toks.lift(i + 3).exists(_.text == ".")) return None
    i += 3
    var comment: Option[String] = None
    var options = Map.empty[String, String]
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("COMMENT") =>
          if (comment.isDefined)
            throw new ParseException("COMMENT already set")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case Some("OPTIONS") =>
          if (options.nonEmpty) throw new ParseException("OPTIONS already set")
          val (opts, next) = parseOptionsAt(toks, i + 1, "CREATE SCHEMA")
          options = opts; i = next
        case other =>
          throw new ParseException(s"Unexpected token in CREATE SCHEMA: $other")
      }
    }
    Some(CreateSchemaStatement(cat, name, ifNotExists, comment, options))
  }

  /** DROP SCHEMA [IF EXISTS] <catalog>.<schema> [CASCADE | RESTRICT];
    * unqualified delegates (vanilla Spark DDL). */
  private def parseDropSchema(toks: Vector[Tok]): Option[Statement] = {
    var i = 0
    var ifExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("EXISTS")) {
      ifExists = true; i = 2
    }
    val cat = identText(toks.lift(i).getOrElse(
      throw new ParseException("DROP SCHEMA requires a name")))
    if (!toks.lift(i + 1).exists(_.text == ".")) return None
    val name = identText(toks.lift(i + 2).getOrElse(
      throw new ParseException("expected schema name after '.'")))
    // multi-level namespaces stay vanilla Spark DDL (see parseCreateSchema)
    if (toks.lift(i + 3).exists(_.text == ".")) return None
    i += 3
    var cascade = false
    wordAt(toks, i) match {
      case Some("CASCADE") => cascade = true; i += 1
      case Some("RESTRICT") => i += 1 // the default; accepted for symmetry
      case _ =>
    }
    if (i < toks.length)
      throw new ParseException(s"Unexpected trailing tokens: ${toks.drop(i)}")
    Some(DropSchemaStatement(cat, name, ifExists, cascade))
  }

  private def parseCreateCatalog(toks: Vector[Tok]): CreateCatalogStatement = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) { ifNotExists = true; i = 3 }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE CATALOG requires a name")))
    i += 1
    var usingShare: Option[String] = None
    var managedLocation: Option[String] = None
    var comment: Option[String] = None
    var collation: Option[String] = None
    var options = Map.empty[String, String]
    def ensureNotSet(v: Option[_], what: String): Unit =
      if (v.isDefined) throw new ParseException(s"$what already set")
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("USING") =>
          if (!wordAt(toks, i + 1).contains("SHARE"))
            throw new ParseException("expected SHARE after USING")
          ensureNotSet(usingShare, "USING SHARE")
          // provider.share (two identifiers joined by '.')
          val p = identText(toks.lift(i + 2).getOrElse(
            throw new ParseException("expected share provider")))
          if (toks.lift(i + 3).exists(_.text == ".")) {
            val s = identText(toks.lift(i + 4).getOrElse(
              throw new ParseException("expected share name")))
            usingShare = Some(s"$p.$s"); i += 5
          } else { usingShare = Some(p); i += 3 }
        case Some("MANAGED") =>
          if (!wordAt(toks, i + 1).contains("LOCATION"))
            throw new ParseException("expected LOCATION after MANAGED")
          ensureNotSet(managedLocation, "MANAGED LOCATION")
          managedLocation = Some(identText(toks.lift(i + 2).getOrElse(
            throw new ParseException("expected location url"))))
          i += 3
        case Some("COMMENT") =>
          ensureNotSet(comment, "COMMENT")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case Some("DEFAULT") =>
          if (!wordAt(toks, i + 1).contains("COLLATION"))
            throw new ParseException("expected COLLATION after DEFAULT")
          ensureNotSet(collation, "DEFAULT COLLATION")
          collation = Some(identText(toks.lift(i + 2).getOrElse(
            throw new ParseException("expected collation"))))
          i += 3
        case Some("OPTIONS") =>
          if (options.nonEmpty) throw new ParseException("OPTIONS already set")
          val (opts, next) = parseOptionsAt(toks, i + 1, "CREATE CATALOG")
          options = opts; i = next
        case other =>
          throw new ParseException(s"Unexpected token in CREATE CATALOG: $other")
      }
    }
    if (usingShare.isDefined && managedLocation.isDefined)
      throw new ParseException(
        "USING SHARE and MANAGED LOCATION are mutually exclusive.")
    CreateCatalogStatement(name, ifNotExists, usingShare, managedLocation,
      comment, collation, options)
  }

  /** CREATE SHARE [IF NOT EXISTS] <name> [COMMENT '...'] — the grammar
    * the reference stubs (parse_create_share, sql/parser.rs:358). */
  private def parseCreateShare(toks: Vector[Tok]): CreateShareStatement = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) { ifNotExists = true; i = 3 }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE SHARE requires a name")))
    i += 1
    var comment: Option[String] = None
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("COMMENT") =>
          if (comment.isDefined)
            throw new ParseException("COMMENT already set")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case other => throw new ParseException(
          s"Unexpected token in CREATE SHARE: $other")
      }
    }
    CreateShareStatement(name, ifNotExists, comment)
  }

  /** ALTER SHARE <name> ADD TABLE '<path>' AS <schema>.<table>
    * | REMOVE TABLE <schema>.<table>. */
  private def parseAlterShare(toks: Vector[Tok]): Statement = {
    val share = identText(toks.lift(0).getOrElse(
      throw new ParseException("ALTER SHARE requires a share name")))
    def sharedName(at: Int): (String, String) = {
      val sch = identText(toks.lift(at).getOrElse(
        throw new ParseException("expected <schema>.<table>")))
      if (!toks.lift(at + 1).exists(_.text == "."))
        throw new ParseException(
          "shared table names are two-part: <schema>.<table>")
      val tbl = identText(toks.lift(at + 2).getOrElse(
        throw new ParseException("expected table name after '.'")))
      if (at + 3 < toks.length)
        throw new ParseException(
          s"Unexpected trailing tokens: ${toks.drop(at + 3)}")
      (sch, tbl)
    }
    (wordAt(toks, 1), wordAt(toks, 2)) match {
      case (Some("ADD"), Some("TABLE")) =>
        val path = identText(toks.lift(3).getOrElse(
          throw new ParseException("expected table path after ADD TABLE")))
        if (!wordAt(toks, 4).contains("AS"))
          throw new ParseException(
            "ALTER SHARE ADD TABLE requires AS <schema>.<table>")
        val (sch, tbl) = sharedName(5)
        AlterShareAddStatement(share, path, sch, tbl)
      case (Some("REMOVE"), Some("TABLE")) =>
        val (sch, tbl) = sharedName(3)
        AlterShareRemoveStatement(share, sch, tbl)
      case other => throw new ParseException(
        s"expected ADD TABLE or REMOVE TABLE after ALTER SHARE, got $other")
    }
  }

  private def parseDropShare(toks: Vector[Tok]): DropShareStatement = {
    var i = 0
    var ifExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("EXISTS")) {
      ifExists = true; i = 2
    }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("DROP SHARE requires a name")))
    if (i + 1 < toks.length)
      throw new ParseException(
        s"Unexpected trailing tokens: ${toks.drop(i + 1)}")
    DropShareStatement(name, ifExists)
  }

  /** CREATE [EXTERNAL] LOCATION [IF NOT EXISTS] <name> URL '<url>'
    * [WITH ( [STORAGE] CREDENTIAL <name> )] [COMMENT '...']
    * [OPTIONS (k v, ...)] — the grammar the reference stubs
    * (parse_create_location, sql/parser.rs:350), extended with the
    * ecosystem's credential clause. */
  private def parseCreateLocation(toks: Vector[Tok])
      : CreateLocationStatement = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) { ifNotExists = true; i = 3 }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE LOCATION requires a name")))
    i += 1
    if (!wordAt(toks, i).contains("URL"))
      throw new ParseException("CREATE LOCATION requires URL '<url>'")
    val url = identText(toks.lift(i + 1).getOrElse(
      throw new ParseException("expected location url")))
    i += 2
    var credential: Option[String] = None
    var comment: Option[String] = None
    var options = Map.empty[String, String]
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("WITH") =>
          if (!toks.lift(i + 1).exists(_.text == "("))
            throw new ParseException("expected ( after WITH")
          i += 2
          if (wordAt(toks, i).contains("STORAGE")) i += 1
          if (!wordAt(toks, i).contains("CREDENTIAL"))
            throw new ParseException(
              "expected [STORAGE] CREDENTIAL <name> inside WITH (...)")
          if (credential.isDefined)
            throw new ParseException("CREDENTIAL already set")
          credential = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected credential name"))))
          i += 2
          if (!toks.lift(i).exists(_.text == ")"))
            throw new ParseException("expected ) closing WITH (...)")
          i += 1
        case Some("COMMENT") =>
          if (comment.isDefined)
            throw new ParseException("COMMENT already set")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case Some("OPTIONS") =>
          if (options.nonEmpty)
            throw new ParseException("OPTIONS already set")
          val (opts, next) = parseOptionsAt(toks, i + 1, "CREATE LOCATION")
          options = opts; i = next
        case other => throw new ParseException(
          s"Unexpected token in CREATE LOCATION: $other")
      }
    }
    CreateLocationStatement(name, url, ifNotExists, credential, comment,
      options)
  }

  private def parseDropLocation(toks: Vector[Tok]): DropLocationStatement = {
    var i = 0
    var ifExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("EXISTS")) {
      ifExists = true; i = 2
    }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("DROP LOCATION requires a name")))
    if (i + 1 < toks.length)
      throw new ParseException(
        s"Unexpected trailing tokens: ${toks.drop(i + 1)}")
    DropLocationStatement(name, ifExists)
  }

  /** CREATE CONNECTION [IF NOT EXISTS] <name> TYPE <type>
    * [URL '<url>'] [COMMENT '...'] [OPTIONS (k v, ...)] — the grammar
    * the reference stubs (parse_create_connection, sql/parser.rs:346). */
  private def parseCreateConnection(toks: Vector[Tok])
      : CreateConnectionStatement = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) { ifNotExists = true; i = 3 }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE CONNECTION requires a name")))
    i += 1
    if (!wordAt(toks, i).contains("TYPE"))
      throw new ParseException("CREATE CONNECTION requires TYPE <type>")
    val connType = identText(toks.lift(i + 1).getOrElse(
      throw new ParseException("expected connection type")))
    i += 2
    var url: Option[String] = None
    var comment: Option[String] = None
    var options = Map.empty[String, String]
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("URL") =>
          if (url.isDefined) throw new ParseException("URL already set")
          url = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected connection url"))))
          i += 2
        case Some("COMMENT") =>
          if (comment.isDefined)
            throw new ParseException("COMMENT already set")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case Some("OPTIONS") =>
          if (options.nonEmpty)
            throw new ParseException("OPTIONS already set")
          val (opts, next) = parseOptionsAt(toks, i + 1,
            "CREATE CONNECTION")
          options = opts; i = next
        case other => throw new ParseException(
          s"Unexpected token in CREATE CONNECTION: $other")
      }
    }
    CreateConnectionStatement(name, connType, url, ifNotExists, comment,
      options)
  }

  private def parseDropConnection(toks: Vector[Tok])
      : DropConnectionStatement = {
    var i = 0
    var ifExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("EXISTS")) {
      ifExists = true; i = 2
    }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("DROP CONNECTION requires a name")))
    if (i + 1 < toks.length)
      throw new ParseException(
        s"Unexpected trailing tokens: ${toks.drop(i + 1)}")
    DropConnectionStatement(name, ifExists)
  }

  /** CREATE FOREIGN CATALOG [IF NOT EXISTS] <name> USING CONNECTION
    * <conn> [COMMENT '...'] [OPTIONS (k v, ...)] — the grammar the
    * reference stubs (parse_create_foreign_catalog, sql/parser.rs:342). */
  private def parseCreateForeignCatalog(toks: Vector[Tok])
      : CreateForeignCatalogStatement = {
    var i = 0
    var ifNotExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("NOT") &&
        wordAt(toks, 2).contains("EXISTS")) { ifNotExists = true; i = 3 }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("CREATE FOREIGN CATALOG requires a name")))
    i += 1
    if (!(wordAt(toks, i).contains("USING") &&
        wordAt(toks, i + 1).contains("CONNECTION")))
      throw new ParseException(
        "CREATE FOREIGN CATALOG requires USING CONNECTION <name>")
    val conn = identText(toks.lift(i + 2).getOrElse(
      throw new ParseException("expected connection name")))
    i += 3
    var comment: Option[String] = None
    var options = Map.empty[String, String]
    while (i < toks.length) {
      wordAt(toks, i) match {
        case Some("COMMENT") =>
          if (comment.isDefined)
            throw new ParseException("COMMENT already set")
          comment = Some(identText(toks.lift(i + 1).getOrElse(
            throw new ParseException("expected comment text"))))
          i += 2
        case Some("OPTIONS") =>
          if (options.nonEmpty)
            throw new ParseException("OPTIONS already set")
          val (opts, next) = parseOptionsAt(toks, i + 1,
            "CREATE FOREIGN CATALOG")
          options = opts; i = next
        case other => throw new ParseException(
          s"Unexpected token in CREATE FOREIGN CATALOG: $other")
      }
    }
    CreateForeignCatalogStatement(name, conn, ifNotExists, comment, options)
  }

  /** OPTIONS (k v, ...) starting at `start` (which must be the `(`);
    * returns the parsed map and the index after the `)`. */
  private def parseOptionsAt(toks: Vector[Tok], start: Int,
      ctx: String): (Map[String, String], Int) = {
    if (!toks.lift(start).exists(_.text == "("))
      throw new ParseException(s"expected ( after OPTIONS in $ctx")
    var i = start + 1
    val opts = Map.newBuilder[String, String]
    var done = false
    while (!done) {
      toks.lift(i) match {
        case Some(Sym(")")) => done = true; i += 1
        case Some(Sym(",")) => i += 1
        case Some(k) =>
          val v = toks.lift(i + 1).getOrElse(
            throw new ParseException(s"expected option value in $ctx"))
          opts += identText(k) -> identText(v)
          i += 2
        case None => throw new ParseException(s"unterminated OPTIONS in $ctx")
      }
    }
    (opts.result(), i)
  }

  private def parseDropCatalog(toks: Vector[Tok]): DropCatalogStatement = {
    var i = 0
    var ifExists = false
    if (wordAt(toks, 0).contains("IF") && wordAt(toks, 1).contains("EXISTS")) {
      ifExists = true; i = 2
    }
    val name = identText(toks.lift(i).getOrElse(
      throw new ParseException("DROP CATALOG requires a name")))
    i += 1
    var cascade = false
    if (wordAt(toks, i).contains("CASCADE")) { cascade = true; i += 1 }
    if (i < toks.length)
      throw new ParseException(s"Unexpected trailing tokens: ${toks.drop(i)}")
    DropCatalogStatement(name, ifExists, cascade)
  }
}
