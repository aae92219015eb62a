package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.delta.log.CommitWriter
import graft.delta.sources.GraftDeltaTable

/** Spark `TableCatalog` plugin: catalog-qualified names over the delta
  * layer, so plain `spark.sql("SELECT ... FROM graft.db.tbl")` resolves
  * through DSv2 with no temp views. Completes the reference's catalog
  * hierarchy ergonomics (crates/datafusion/src/schema_provider.rs:16-139
  * — catalog → schema → table, with the DeltaLakeSchemaProvider's
  * refresh-on-lookup: schema_provider.rs:83-118).
  *
  * Activate with `spark.sql.catalog.<name> = graft.catalog.GraftCatalog`
  * (settable at runtime — Spark instantiates catalogs lazily on first
  * reference). Tables are POINTERS to delta table paths: every
  * `loadTable` builds a fresh [[GraftDeltaTable]], whose snapshot
  * resolves lazily at scan planning — a query issued after another
  * writer commits sees the new version with zero explicit refresh,
  * exactly the reference's provider-swap semantics.
  *
  * The registry is JVM-level (same pattern as [[LocalCatalog]]): this
  * is the metastore for a single-process session, not a durable
  * service. At cluster scale the same interface binds to a real
  * metastore; nothing here holds more than (name → path) pairs.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    GraftCatalog.pluginNames.add(name.toLowerCase)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  // Spark SQL resolution is case-insensitive by default and v2
  // catalogs own implementing it: keys normalize to lower case. Parts
  // join on NUL (impossible in an identifier part), so a quoted name
  // containing a literal dot can never collide with a multi-part
  // namespace.
  private def key(ident: Identifier): (String, String) =
    (GraftCatalog.nsKey(ident.namespace()), ident.name().toLowerCase)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = GraftCatalog.nsKey(namespace)
    if (!GraftCatalog.namespaces.containsKey(ns))
      throw new NoSuchNamespaceException(namespace)
    GraftCatalog.tables.keySet().asScala.toSeq
      .filter(_._1 == ns).map(_._2).sorted
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftCatalog.tables.containsKey(key(ident))

  override def loadTable(ident: Identifier): Table = {
    val path = Option(GraftCatalog.tables.get(key(ident))).getOrElse(
      throw new NoSuchTableException(ident))
    // fresh Table per lookup = refresh-on-access: the snapshot resolves
    // from the CURRENT log tip when the scan plans
    new GraftDeltaTable(spark, path, None)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String])
      : Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val path = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog tables are pointers to delta paths: CREATE TABLE " +
          s"${ident} requires LOCATION '<delta table path>'"))
    val logPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), "_delta_log")
    val exists = graft.delta.log.LogSegment.fs(spark, logPath).exists(logPath)
    if (exists && schema.nonEmpty) {
      // a declared schema must AGREE with the existing table — silently
      // discarding a contradicting declaration would hide schema drift
      val actual = graft.delta.DeltaTable.forPath(spark, path).schema
      val actualByName =
        actual.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      val mismatch = schema.fields.collect {
        case f if !actualByName.get(f.name.toLowerCase).contains(f.dataType) =>
          f.name
      }
      require(mismatch.isEmpty && schema.fields.length == actual.fields.length,
        s"CREATE TABLE $ident: declared schema does not match the delta " +
          s"table at $path (${if (mismatch.nonEmpty)
            s"mismatched or missing: ${mismatch.mkString(", ")}"
          else "field count differs"}); omit the column list to register " +
          "an existing table")
    }
    if (exists && partitions.nonEmpty) {
      // same loud-mismatch treatment for a declared PARTITIONED BY: a
      // clause contradicting the live layout is drift, not a no-op
      val declared = partitions.toSeq.map(
        _.references()(0).fieldNames().mkString("."))
      val actual = graft.delta.DeltaTable.forPath(spark, path)
        .partitionColumns
      require(declared.map(_.toLowerCase) == actual.map(_.toLowerCase),
        s"CREATE TABLE $ident: declared PARTITIONED BY " +
          s"(${declared.mkString(", ")}) does not match the delta table's " +
          s"partitioning (${actual.mkString(", ")}) at $path; omit the " +
          "clause to register an existing table")
    }
    if (!exists) {
      // fresh location: create an EMPTY delta table with the declared
      // schema (identity-transform partitioning only — the delta layout)
      require(schema.nonEmpty,
        s"CREATE TABLE $ident: the location holds no delta table and no " +
          "schema was declared — declare columns or point LOCATION at an " +
          "existing table")
      val partCols = partitions.toSeq.map { t =>
        require(t.name() == "identity" && t.references().length == 1,
          s"unsupported partition transform $t (delta partitions are " +
            "identity columns)")
        t.references()(0).fieldNames().mkString(".")
      }
      CommitWriter.createTable(spark,
        graft.commands.CommandResult.result(spark, schema), path,
        partitionColumns = partCols)
    }
    GraftCatalog.tables.put(key(ident), path)
    GraftCatalog.namespaces.putIfAbsent(GraftCatalog.nsKey(ident.namespace()),
      java.util.Collections.emptyMap[String, String]())
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "ALTER through the graft catalog is not supported; use the " +
        "path-addressed ALTER TABLE statements")

  /** Drop = unregister the pointer. The data is external (the catalog
    * never owns delta directories), so nothing is deleted — VACUUM and
    * filesystem lifecycle own physical removal. */
  override def dropTable(ident: Identifier): Boolean =
    GraftCatalog.tables.remove(key(ident)) != null

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val path = Option(GraftCatalog.tables.get(key(oldIdent))).getOrElse(
      throw new NoSuchTableException(oldIdent))
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    GraftCatalog.tables.put(key(newIdent), path)
    GraftCatalog.tables.remove(key(oldIdent))
  }

  // ---- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    GraftCatalog.namespaces.keySet().asScala.toSeq.sorted
      .map(_.split(GraftCatalog.NsSep)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (GraftCatalog.namespaces.containsKey(GraftCatalog.nsKey(namespace)))
      Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    GraftCatalog.namespaces.containsKey(GraftCatalog.nsKey(namespace))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    Option(GraftCatalog.namespaces.get(GraftCatalog.nsKey(namespace)))
      .getOrElse(throw new NoSuchNamespaceException(namespace))

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val prev = GraftCatalog.namespaces.putIfAbsent(
      GraftCatalog.nsKey(namespace), metadata)
    if (prev != null) throw new NamespaceAlreadyExistsException(namespace)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE is not supported by the graft catalog")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val ns = GraftCatalog.nsKey(namespace)
    val hasTables = GraftCatalog.tables.keySet().asScala.exists(_._1 == ns)
    if (hasTables && !cascade)
      throw new IllegalStateException(
        s"namespace $ns is not empty (use CASCADE)")
    if (hasTables)
      GraftCatalog.tables.keySet().asScala.filter(_._1 == ns)
        .foreach(GraftCatalog.tables.remove)
    GraftCatalog.namespaces.remove(ns) != null
  }
}

object GraftCatalog {
  /** (namespace, table) → delta table path. JVM-level, like
    * [[LocalCatalog]]'s registry. */
  private val tables = new ConcurrentHashMap[(String, String), String]()
  private val namespaces =
    new ConcurrentHashMap[String, java.util.Map[String, String]]()

  /** Spark catalog names this plugin was initialized under — the names
    * a qualified table/command reference may legitimately lead with. */
  private val pluginNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop a name from the plugin-name set (DROP CATALOG releasing a
    * securable binding); a live conf-bound catalog of the same name
    * re-registers itself on its next initialize. */
  private[catalog] def unregisterPluginName(name: String): Unit =
    pluginNames.remove(name.toLowerCase)

  /** Is `name` a catalog THIS library owns (a registered DSv2 plugin
    * instance, a CREATE CATALOG securable, or a session conf entry
    * binding the name to this plugin class)? Names of other catalogs
    * (spark_catalog, hive, ...) are NOT ours to resolve. The conf arm
    * matters because plugin instances initialize lazily on first
    * catalog LOOKUP — a command may legitimately be the first use of a
    * configured name. */
  def isGraftCatalogName(name: String): Boolean =
    pluginNames.contains(name.toLowerCase) ||
      LocalCatalog.get(name).isDefined ||
      org.apache.spark.sql.SparkSession.getActiveSession.exists(s =>
        s.conf.getOption(s"spark.sql.catalog.$name")
          .contains(classOf[GraftCatalog].getName))

  /** Namespace registration shared with CREATE SCHEMA (the registry is
    * JVM-level and flat: one namespace space across every graft catalog
    * instance, same as [[register]] uses). */
  def registerNamespace(namespace: String): Unit =
    namespaces.putIfAbsent(namespace.toLowerCase,
      java.util.Collections.emptyMap[String, String]())

  /** DROP SCHEMA's registry arm: refuse a non-empty namespace unless
    * cascade, which unregisters its tables (metadata only). */
  def dropNamespaceEntry(namespace: String, cascade: Boolean): Unit = {
    val ns = namespace.toLowerCase
    val owned = tables.keySet().asScala.filter(_._1 == ns).toSeq
    if (owned.nonEmpty && !cascade)
      throw new IllegalStateException(
        s"namespace $ns is not empty (use CASCADE)")
    owned.foreach(tables.remove)
    namespaces.remove(ns)
  }

  /** Programmatic registration (the `GraftSession.registerDelta`
    * analogue for catalog-qualified access). */
  def register(namespace: String, table: String, path: String): Unit = {
    namespaces.putIfAbsent(namespace.toLowerCase,
      java.util.Collections.emptyMap[String, String]())
    tables.put((namespace.toLowerCase, table.toLowerCase), path)
  }

  def unregister(namespace: String, table: String): Unit =
    tables.remove((namespace.toLowerCase, table.toLowerCase))

  /** Resolve a MULTI-PART name against the registry: a leading catalog
    * part is tried stripped first (`cat.ns….tbl` — the registry is
    * JVM-level, shared by every GraftCatalog instance), then the whole
    * prefix as the namespace (`ns….tbl`). Lets path-addressed commands
    * (VACUUM/OPTIMIZE/DESCRIBE/DML/MERGE) accept the same qualified
    * names reads already resolve — the reference's own
    * `todo!("multi-part table name support")`
    * (crates/datafusion/src/commands/vacuum/mod.rs:62). */
  def lookupPath(parts: Seq[String]): Option[String] = {
    def hit(ns: Seq[String], tbl: String): Option[String] =
      Option(tables.get((nsKey(ns.toArray), tbl.toLowerCase)))
    if (parts.length < 2) None
    else {
      // only strip a leading catalog part that is OURS — otherwise
      // `spark_catalog.db.tbl` would silently resolve to graft's
      // registered (db, tbl), hijacking another catalog's name
      val stripped =
        if (parts.length >= 3 && isGraftCatalogName(parts.head))
          hit(parts.slice(1, parts.length - 1), parts.last)
        else None
      stripped.orElse(hit(parts.dropRight(1), parts.last))
    }
  }

  /** Split a rendered multi-part reference on dots OUTSIDE backticks,
    * unquoting each part — the inverse of the parser's rendering, so a
    * quoted identifier containing a literal dot survives the round trip. */
  def splitRef(ref: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQ = false
    ref.foreach {
      case '`' => inQ = !inQ
      case '.' if !inQ => parts += sb.toString; sb.clear()
      case c => sb.append(c)
    }
    parts += sb.toString
    parts.result()
  }

  /** Single-level separator for namespace registry keys: NUL cannot
    * appear in an identifier part, so multi-part namespaces never
    * collide with a quoted part containing a dot. */
  private[catalog] final val NsSep = '\u0000'

  /** Namespace parts -> registry key (lower-cased, NUL-joined). */
  private[catalog] def nsKey(namespace: Array[String]): String =
    namespace.map(_.toLowerCase).mkString(NsSep.toString)

  def clear(): Unit = { tables.clear(); namespaces.clear() }
}
