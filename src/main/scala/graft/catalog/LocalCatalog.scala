package graft.catalog

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.commands.CommandResult.result

/** Local in-memory catalog registry backing CREATE/DROP CATALOG.
  *
  * The reference forwards these statements to a Unity Catalog REST
  * server (reference: crates/datafusion/src/sql/unity/catalogs.rs:10-81,
  * unity/exec.rs:25-118). This environment is zero-egress, so the same
  * command surface mutates a local registry instead (SURVEY.md §1.1 row
  * "Remote catalog"); result schemas match the reference's
  * CREATE_UC_RETURN_SCHEMA / DROP_UC_RETURN_SCHEMA
  * (sql/unity/mod.rs:24-40).
  */
object LocalCatalog {

  /** A schema (namespace) securable inside a catalog. The reference
    * leaves CREATE SCHEMA as `todo!` (sql/parser.rs:355); this follows
    * the same catalog/schema securable model its CREATE CATALOG uses. */
  final case class SchemaDef(
      name: String,
      comment: Option[String] = None,
      options: Map[String, String] = Map.empty)

  final case class CatalogDef(
      name: String,
      usingShare: Option[String],
      managedLocation: Option[String],
      comment: Option[String],
      defaultCollation: Option[String],
      options: Map[String, String],
      schemas: Map[String, SchemaDef] = Map.empty,
      usingConnection: Option[String] = None)

  /** CONNECTION securable (the reference stubs parse_create_connection
    * at sql/parser.rs:346): the credential-bearing endpoint a FOREIGN
    * CATALOG mounts through. Unlike shares (remote provider entities),
    * connections are created locally, so a foreign catalog REQUIRES
    * its connection to exist and DROP CONNECTION refuses while
    * referenced. */
  final case class ConnectionDef(
      name: String,
      connectionType: String,
      url: Option[String] = None,
      comment: Option[String] = None,
      options: Map[String, String] = Map.empty)

  /** SHARE securable (the reference stubs parse_create_share at
    * sql/parser.rs:358). Local model: a named share a catalog can be
    * created from (`CREATE CATALOG ... USING SHARE provider.share`) —
    * the delta-sharing provider half lives on the remote end the
    * sandbox cannot reach, so the share here is the local registry
    * object with the same lifecycle and securable rows. */
  // objects keyed by the (schema, table) TUPLE, not a joined
  // "schema.table" string: identifiers may legally contain dots (via
  // backticks in the parser's identText), and a string key would split
  // at the wrong boundary on retraction, leaking the registration
  final case class ShareDef(name: String, comment: Option[String] = None,
      objects: Map[(String, String), String] = Map.empty)

  /** EXTERNAL LOCATION securable (the reference stubs
    * parse_create_location at sql/parser.rs:350): a named storage URL
    * plus an optional credential reference. */
  final case class LocationDef(
      name: String,
      url: String,
      credential: Option[String] = None,
      comment: Option[String] = None,
      options: Map[String, String] = Map.empty)

  private val catalogs = new ConcurrentHashMap[String, CatalogDef]()
  private val shares = new ConcurrentHashMap[String, ShareDef]()
  private val locations = new ConcurrentHashMap[String, LocationDef]()
  private val connections = new ConcurrentHashMap[String, ConnectionDef]()

  /** Guards the cross-map invariant "a DROP SHARE never succeeds while
    * a referencing catalog exists at that moment": the users-scan and
    * the remove must not interleave with a concurrent catalog
    * registration (check-then-act over two concurrent maps is not
    * atomic by itself). Note the DELIBERATELY weaker contract than
    * referential integrity: `USING SHARE provider.share` names a
    * REMOTE provider's share in the reference's model, so CREATE
    * CATALOG never requires the share to exist locally — a catalog
    * referencing an unregistered (or since-dropped) share is a valid
    * state; the lock only keeps the refusal itself race-free. DDL is
    * rare; a plain lock is the right tool. */
  private val registryLock = new Object

  val createSchema: StructType = StructType(Seq(
    StructField("securable_name", StringType, nullable = false),
    StructField("securable_type", StringType, nullable = false),
    StructField("securable_object", StringType, nullable = false)))

  val dropSchema: StructType = StructType(Seq(
    StructField("securable_name", StringType, nullable = false),
    StructField("securable_type", StringType, nullable = false),
    StructField("status", StringType, nullable = false)))

  def get(name: String): Option[CatalogDef] = Option(catalogs.get(name))
  def clear(): Unit = {
    catalogs.clear(); shares.clear(); locations.clear(); connections.clear()
    sharePublications.clear()
  }

  def getShare(name: String): Option[ShareDef] = Option(shares.get(name))

  // ---- SHOW listings: one row per securable, in name order ----------

  val showCatalogsSchema: StructType = StructType(Seq(
    StructField("catalog_name", StringType, nullable = false),
    StructField("comment", StringType, nullable = true),
    StructField("managed_location", StringType, nullable = true)))

  def showCatalogs(spark: SparkSession): DataFrame =
    result(spark, showCatalogsSchema, catalogs.values.asScala.toSeq
      .sortBy(_.name).map(c =>
        Row(c.name, c.comment.orNull, c.managedLocation.orNull)): _*)

  val showSchemasSchema: StructType = StructType(Seq(
    StructField("schema_name", StringType, nullable = false),
    StructField("catalog_name", StringType, nullable = false),
    StructField("comment", StringType, nullable = true)))

  def showSchemas(spark: SparkSession, catalog: String): DataFrame =
    result(spark, showSchemasSchema, listSchemas(catalog).map(d =>
      Row(d.name, catalog, d.comment.orNull)): _*)

  val showSharesSchema: StructType = StructType(Seq(
    StructField("share_name", StringType, nullable = false),
    StructField("comment", StringType, nullable = true)))

  def showShares(spark: SparkSession): DataFrame =
    result(spark, showSharesSchema, shares.values.asScala.toSeq
      .sortBy(_.name).map(d => Row(d.name, d.comment.orNull)): _*)

  val showLocationsSchema: StructType = StructType(Seq(
    StructField("location_name", StringType, nullable = false),
    StructField("url", StringType, nullable = false),
    StructField("credential_name", StringType, nullable = true),
    StructField("comment", StringType, nullable = true)))

  def showLocations(spark: SparkSession): DataFrame =
    result(spark, showLocationsSchema, locations.values.asScala.toSeq
      .sortBy(_.name).map(d =>
        Row(d.name, d.url, d.credential.orNull, d.comment.orNull)): _*)

  val showConnectionsSchema: StructType = StructType(Seq(
    StructField("connection_name", StringType, nullable = false),
    StructField("connection_type", StringType, nullable = false),
    StructField("url", StringType, nullable = true),
    StructField("comment", StringType, nullable = true)))

  def showConnections(spark: SparkSession): DataFrame =
    result(spark, showConnectionsSchema, connections.values.asScala.toSeq
      .sortBy(_.name).map(d =>
        Row(d.name, d.connectionType, d.url.orNull, d.comment.orNull)): _*)

  val showShareObjectsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("shared_object", StringType, nullable = false)))

  /** SHOW ALL IN SHARE: the share's published tables. */
  def showShareObjects(spark: SparkSession, share: String): DataFrame = {
    val d = getShare(share).getOrElse(
      throw new IllegalArgumentException(s"Share '$share' not found"))
    result(spark, showShareObjectsSchema,
      d.objects.toSeq.sortBy(t => t._1).map { case ((sch, tbl), path) =>
        Row(s"$sch.$tbl", "TABLE", path) }: _*)
  }

  /** Marker conf recording that graft (not the user) created the
    * session's plugin binding for a name — flows into the plugin's
    * initialize options harmlessly, and lets DROP release exactly the
    * bindings CREATE made. */
  private def boundMarkerKey(name: String) =
    s"spark.sql.catalog.$name.graft_securable_binding"

  def create(spark: SparkSession, d: CatalogDef,
      ifNotExists: Boolean): DataFrame = {
    if (d.usingShare.isDefined && d.managedLocation.isDefined)
      throw new IllegalArgumentException(
        "USING SHARE and MANAGED LOCATION are mutually exclusive.")
    if (d.name.equalsIgnoreCase("spark_catalog") ||
        d.name.equalsIgnoreCase("system"))
      throw new IllegalArgumentException(
        s"Catalog name '${d.name}' is reserved by Spark")
    val prev = registryLock.synchronized { catalogs.putIfAbsent(d.name, d) }
    if (prev != null && !ifNotExists)
      throw new IllegalArgumentException(s"Catalog '${d.name}' already exists")
    // bind the securable name as a Spark DSv2 catalog in THIS session,
    // so vanilla `SELECT/CREATE TABLE/SHOW TABLES <name>.<schema>.<tbl>`
    // resolves through the plugin immediately after CREATE CATALOG —
    // without a manual spark.sql.catalog.* conf. (The securable
    // registry is JVM-global; the conf binding is per-session, like any
    // Spark catalog conf — and case-sensitive like any conf key, so the
    // vanilla-SQL alias resolves under the name as CREATEd. Plugin
    // instances share one table/namespace registry, so every graft
    // catalog name is an alias over it.)
    // never bind a FOREIGN catalog's name (CREATE CATALOG IF NOT EXISTS
    // over an existing foreign catalog would otherwise alias the LOCAL
    // plugin registry onto a securable that mirrors an external system)
    val effective = if (prev != null) prev else d
    if (effective.usingConnection.isEmpty &&
        spark.conf.getOption(s"spark.sql.catalog.${d.name}").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.${d.name}",
        classOf[GraftCatalog].getName)
      spark.conf.set(boundMarkerKey(d.name), "true")
    }
    result(spark, createSchema, Row(d.name, "catalog", describe(effective)))
  }

  /** Release a session binding IFF create()/createForeignCatalog() made
    * it (marker present) — a user-configured binding of the same name
    * is never touched. */
  private def unbind(spark: SparkSession, name: String): Unit =
    if (spark.conf.getOption(boundMarkerKey(name)).isDefined) {
      spark.conf.unset(s"spark.sql.catalog.$name")
      spark.conf.unset(s"spark.sql.catalog.$name.root")
      spark.conf.unset(boundMarkerKey(name))
      GraftCatalog.unregisterPluginName(name)
      // Spark's CatalogManager caches plugin instances per session and
      // never re-checks the conf; reset it so the dropped name stops
      // resolving (rare op — a DROP CATALOG pays one re-init of other
      // catalogs on next use)
      try org.apache.spark.sql.graftshim.Shims.resetCatalogManager(spark)
      catch { case _: Throwable => /* non-classic session: cache stays */ }
    }

  def drop(spark: SparkSession, name: String, ifExists: Boolean,
      cascade: Boolean): DataFrame = {
    val existing = Option(catalogs.get(name))
    existing match {
      case None if !ifExists =>
        throw new IllegalArgumentException(s"Catalog '$name' not found")
      case None =>
        // the securable may have been removed by another session while
        // THIS session still holds the binding create() made — release
        // it here too so no ghost alias survives
        unbind(spark, name)
        result(spark, dropSchema, Row(name, "catalog", "NOT_FOUND"))
      case Some(c) =>
        if (c.schemas.nonEmpty && !cascade)
          throw new IllegalArgumentException(
            s"Catalog '$name' is not empty (use CASCADE)")
        c.schemas.keys
          .filterNot(sc => schemaNameInUseElsewhere(name, sc))
          .foreach(GraftCatalog.dropNamespaceEntry(_, cascade = true))
        catalogs.remove(name)
        unbind(spark, name)
        result(spark, dropSchema, Row(name, "catalog", "DROPPED"))
    }
  }

  /** CREATE SCHEMA <catalog>.<schema>: registers the securable under
    * its parent catalog AND publishes the namespace to the DSv2 plugin
    * registry so catalog-qualified reads/writes resolve through it. */
  def createSchemaIn(spark: SparkSession, catalog: String, schema: String,
      comment: Option[String], options: Map[String, String],
      ifNotExists: Boolean): DataFrame = {
    val d = SchemaDef(schema, comment, options)
    var existed = false
    val updated = catalogs.computeIfPresent(catalog, (_, c) =>
      if (c.schemas.contains(schema)) { existed = true; c }
      else c.copy(schemas = c.schemas + (schema -> d)))
    if (updated == null)
      throw new IllegalArgumentException(s"Catalog '$catalog' not found")
    if (existed && !ifNotExists)
      throw new IllegalArgumentException(
        s"Schema '$catalog.$schema' already exists")
    GraftCatalog.registerNamespace(schema)
    result(spark, createSchema, Row(s"$catalog.$schema", "schema",
      describeSchema(catalog, updated.schemas(schema))))
  }

  /** DROP SCHEMA <catalog>.<schema> [CASCADE]: refuses when tables are
    * registered under the namespace unless CASCADE, which unregisters
    * them (paths only — no data files are touched). */
  def dropSchemaIn(spark: SparkSession, catalog: String, schema: String,
      ifExists: Boolean, cascade: Boolean): DataFrame = {
    val c = Option(catalogs.get(catalog)).getOrElse(
      throw new IllegalArgumentException(s"Catalog '$catalog' not found"))
    if (!c.schemas.contains(schema)) {
      if (!ifExists) throw new IllegalArgumentException(
        s"Schema '$catalog.$schema' not found")
      return result(spark, dropSchema,
        Row(s"$catalog.$schema", "schema", "NOT_FOUND"))
    }
    // the DSv2 namespace registry is FLAT (one namespace space across
    // every graft catalog, like the table registry): a same-named
    // schema surviving under ANOTHER catalog keeps the namespace and
    // its tables alive — only the last securable using the name drops
    // the registry entry (and enforces/cascades table cleanup)
    if (!schemaNameInUseElsewhere(catalog, schema))
      GraftCatalog.dropNamespaceEntry(schema, cascade)
    catalogs.computeIfPresent(catalog, (_, cur) =>
      cur.copy(schemas = cur.schemas - schema))
    result(spark, dropSchema, Row(s"$catalog.$schema", "schema", "DROPPED"))
  }

  /** CREATE CONNECTION: registers the securable. */
  def createConnection(spark: SparkSession, d: ConnectionDef,
      ifNotExists: Boolean): DataFrame = {
    val prev = connections.putIfAbsent(d.name, d)
    if (prev != null && !ifNotExists)
      throw new IllegalArgumentException(
        s"Connection '${d.name}' already exists")
    result(spark, createSchema,
      Row(d.name, "connection",
        describeConnection(if (prev != null) prev else d)))
  }

  /** DROP CONNECTION refuses while a foreign catalog mounts through it
    * — connections are LOCAL securables (unlike provider shares), so
    * this is real referential integrity, race-free under the registry
    * lock shared with foreign-catalog creation. */
  def dropConnection(spark: SparkSession, name: String,
      ifExists: Boolean): DataFrame = registryLock.synchronized {
    if (!connections.containsKey(name)) {
      if (!ifExists)
        throw new IllegalArgumentException(s"Connection '$name' not found")
      return result(spark, dropSchema, Row(name, "connection", "NOT_FOUND"))
    }
    // EXACT-match scan: the connection registry and USING CONNECTION
    // resolution are case-sensitive, so 'pg' and 'PG' are distinct
    // securables — a case-insensitive scan would block dropping the
    // unreferenced one
    val users = catalogs.asScala.collect {
      case (cn, c) if c.usingConnection.contains(name) => cn
    }
    if (users.nonEmpty) throw new IllegalArgumentException(
      s"Connection '$name' is referenced by foreign catalog(s) " +
        s"${users.toSeq.sorted.mkString(", ")} — drop them first")
    connections.remove(name)
    result(spark, dropSchema, Row(name, "connection", "DROPPED"))
  }

  /** CREATE FOREIGN CATALOG: a catalog securable mounted through a
    * connection. The connection must exist (checked under the registry
    * lock, so a racing DROP CONNECTION cannot interleave). A connection
    * whose URL names a LOCAL directory tree gets a read-only
    * [[ForeignCatalog]] data-plane binding (see below); any other
    * scheme gets NO binding — the mirrored system is not reachable
    * from this engine, so vanilla-SQL resolution through the name
    * would misrepresent it as local. The LOCAL registry plugin
    * ([[GraftCatalog]]) is never bound to a foreign name. */
  def createForeignCatalog(spark: SparkSession, name: String,
      connection: String, comment: Option[String],
      options: Map[String, String],
      ifNotExists: Boolean): DataFrame = registryLock.synchronized {
    // IF NOT EXISTS over an existing catalog is a no-op on the
    // REGISTRY — an idempotent re-run must not fail on a connection
    // that was since dropped or renamed — but the DATA-PLANE binding
    // is SESSION-LOCAL conf: a second session's re-run must still get
    // the mount (best-effort, via the catalog's recorded connection)
    // or its reads through the mounted name would fail despite the
    // create "succeeding"
    val existing = Option(catalogs.get(name))
    existing match {
      case Some(prev) if ifNotExists =>
        for (conn <- prev.usingConnection;
             rootPath <- localRootOf(Option(connections.get(conn)))
             if spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
          spark.conf.set(s"spark.sql.catalog.$name",
            classOf[ForeignCatalog].getName)
          spark.conf.set(s"spark.sql.catalog.$name.root", rootPath)
          spark.conf.set(boundMarkerKey(name), "true")
        }
        return result(spark, createSchema,
          Row(name, "catalog", describe(prev)))
      case Some(_) =>
        throw new IllegalArgumentException(s"Catalog '$name' already exists")
      case None =>
    }
    if (!connections.containsKey(connection))
      throw new IllegalArgumentException(
        s"Connection '$connection' not found — CREATE CONNECTION first")
    if (name.equalsIgnoreCase("spark_catalog") ||
        name.equalsIgnoreCase("system"))
      throw new IllegalArgumentException(
        s"Catalog name '$name' is reserved by Spark")
    val d = CatalogDef(name, usingShare = None, managedLocation = None,
      comment = comment, defaultCollation = None, options = options,
      usingConnection = Some(connection))
    catalogs.put(name, d)
    // DATA PLANE: when the connection's URL names a LOCAL directory
    // tree (the zero-egress stand-in for the remote system, same
    // argument as the UC REST surface), bind the name to the read-only
    // [[ForeignCatalog]] plugin so the mounted `<root>/<schema>/<table>`
    // layout serves real reads — the local analogue of the reference's
    // UC table resolution (schema_provider.rs:83-118). Non-local
    // schemes (jdbc:, https:, ...) stay unbound: vanilla-SQL resolution
    // through the name would misrepresent an unreachable system as
    // local.
    for (rootPath <- localRootOf(Option(connections.get(connection)))
         if spark.conf.getOption(s"spark.sql.catalog.$name").isEmpty) {
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[ForeignCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.root", rootPath)
      spark.conf.set(boundMarkerKey(name), "true")
    }
    result(spark, createSchema, Row(name, "catalog", describe(d)))
  }

  /** The connection URL's local filesystem root, when it has one:
    * `file:` URIs and bare absolute paths qualify; any other scheme is
    * a genuinely remote endpoint this sandbox cannot reach. */
  private[catalog] def localRootOf(conn: Option[ConnectionDef])
      : Option[String] =
    conn.flatMap(_.url).flatMap { u =>
      if (u.startsWith("file:"))
        scala.util.Try(
          java.nio.file.Paths.get(new java.net.URI(u)).toString).toOption
      else if (u.startsWith("/")) Some(u)
      else None
    }

  /** CREATE SHARE: registers the securable; returns the same
    * (name, type, object) row shape as CREATE CATALOG/SCHEMA
    * (sql/unity/mod.rs:24-31). */
  def createShare(spark: SparkSession, d: ShareDef,
      ifNotExists: Boolean): DataFrame = {
    val prev = shares.putIfAbsent(d.name, d)
    if (prev != null && !ifNotExists)
      throw new IllegalArgumentException(s"Share '${d.name}' already exists")
    result(spark, createSchema,
      Row(d.name, "share",
        describeShare(if (prev != null) prev else d)))
  }

  /** DROP SHARE refuses while a catalog references the share through
    * USING SHARE (either as the bare share name or as the
    * `<provider>.<share>` two-part form — the share half must match). */
  def dropShare(spark: SparkSession, name: String,
      ifExists: Boolean): DataFrame = registryLock.synchronized {
    if (!shares.containsKey(name)) {
      if (!ifExists)
        throw new IllegalArgumentException(s"Share '$name' not found")
      return result(spark, dropSchema, Row(name, "share", "NOT_FOUND"))
    }
    val users = catalogs.asScala.collect {
      case (cn, c) if c.usingShare.exists(s =>
        s.equalsIgnoreCase(name) ||
          s.toLowerCase.endsWith("." + name.toLowerCase)) => cn
    }
    if (users.nonEmpty) throw new IllegalArgumentException(
      s"Share '$name' is referenced by catalog(s) " +
        s"${users.toSeq.sorted.mkString(", ")} — drop them first")
    val dropped = shares.remove(name)
    // retract the dropped share's claims through the publication
    // ledger — another share still publishing the same name, or a
    // pre-existing (adopted) registration, keeps resolving
    for ((sch, tbl) <- dropped.objects.keys) unpublishShareTable(sch, tbl)
    result(spark, dropSchema, Row(name, "share", "DROPPED"))
  }

  /** ALTER SHARE ADD TABLE: record the object on the share AND publish
    * it to the DSv2 registry under the shared (schema, table) name —
    * the registry is flat across graft catalog names, so a catalog
    * created USING SHARE (or any bound graft catalog) serves reads
    * through `<catalog>.<schema>.<table>` immediately. This is the
    * local stand-in for the delta-sharing data plane (the remote
    * provider's presigned-URL protocol is unreachable zero-egress,
    * the same argument as the UC REST surface). */
  /** Share-publication ownership ledger, keyed by the LOWERCASED
    * (schema, table) the registry itself uses: (path, number of shares
    * publishing it, whether the mapping pre-existed the first share
    * publication). Shares only retract registry entries they own —
    * the last un-publish of a non-adopted mapping unregisters; an
    * adopted (pre-existing) mapping is never removed. All mutations
    * run under [[registryLock]] together with dropShare, so ADD racing
    * DROP SHARE cannot leak a registration. */
  private val sharePublications =
    new ConcurrentHashMap[(String, String), (String, Int, Boolean)]()

  def addShareTable(spark: SparkSession, share: String, path: String,
      schema: String, table: String): DataFrame = registryLock.synchronized {
    val key = s"${schema.toLowerCase}.${table.toLowerCase}"
    val regKey = (schema.toLowerCase, table.toLowerCase)
    val existing = GraftCatalog.lookupPath(Seq(schema, table))
    val pub = Option(sharePublications.get(regKey))
    // a duplicate ADD of the same shared name to the same share must
    // fail BEFORE the ledger mutates (the objects map would stay one
    // entry while the refcount incremented — after the single REMOVE
    // the registration would then leak forever), matching
    // removeShareTable's contains check
    val prev = Option(shares.get(share)).getOrElse(
      throw new IllegalArgumentException(s"Share '$share' not found"))
    if (prev.objects.contains(regKey))
      throw new IllegalArgumentException(
        s"Share '$share' already contains table '$key'")
    // a shared name must not silently redirect an existing registration
    // (another share's object with a different path, a schema-securable
    // table, or a registerDelta entry)
    if (existing.exists(_ != path))
      throw new IllegalArgumentException(
        s"'$key' already resolves to '${existing.get}' — a shared table " +
          "cannot redirect an existing registration")
    val updated = shares.computeIfPresent(share, (_, s) =>
      s.copy(objects = s.objects + (regKey -> path)))
    pub match {
      case Some((p, n, adopted)) =>
        sharePublications.put(regKey, (p, n + 1, adopted))
      case None =>
        sharePublications.put(regKey,
          (path, 1, existing.isDefined)) // adopted = was already there
        GraftCatalog.register(schema, table, path)
    }
    result(spark, createSchema,
      Row(s"$share.$key", "shared_table", describeShare(updated)))
  }

  /** Retract one share's claim on a published name: decrement the
    * ledger, unregister only when this was the LAST share publishing it
    * and the mapping did not pre-exist the shares. Caller holds
    * [[registryLock]]. */
  private def unpublishShareTable(schema: String, table: String): Unit = {
    val regKey = (schema.toLowerCase, table.toLowerCase)
    Option(sharePublications.get(regKey)) match {
      case Some((p, n, adopted)) if n > 1 =>
        sharePublications.put(regKey, (p, n - 1, adopted))
      case Some((p, _, adopted)) =>
        sharePublications.remove(regKey)
        if (!adopted && GraftCatalog.lookupPath(Seq(schema, table))
            .contains(p))
          GraftCatalog.unregister(schema, table)
      case None => // nothing published (stale object entry): no-op
    }
  }

  /** ALTER SHARE REMOVE TABLE: drop the object and retract this
    * share's claim on the published name (see the ledger above). */
  def removeShareTable(spark: SparkSession, share: String,
      schema: String, table: String): DataFrame = registryLock.synchronized {
    val key = s"${schema.toLowerCase}.${table.toLowerCase}"
    val regKey = (schema.toLowerCase, table.toLowerCase)
    val prev = Option(shares.get(share)).getOrElse(
      throw new IllegalArgumentException(s"Share '$share' not found"))
    if (!prev.objects.contains(regKey))
      throw new IllegalArgumentException(
        s"Share '$share' does not contain table '$key'")
    shares.computeIfPresent(share, (_, s) =>
      s.copy(objects = s.objects - regKey))
    unpublishShareTable(schema, table)
    result(spark, dropSchema, Row(s"$share.$key", "shared_table", "REMOVED"))
  }

  def createLocation(spark: SparkSession, d: LocationDef,
      ifNotExists: Boolean): DataFrame = {
    val prev = locations.putIfAbsent(d.name, d)
    if (prev != null && !ifNotExists)
      throw new IllegalArgumentException(
        s"External location '${d.name}' already exists")
    result(spark, createSchema,
      Row(d.name, "external_location",
        describeLocation(if (prev != null) prev else d)))
  }

  def dropLocation(spark: SparkSession, name: String,
      ifExists: Boolean): DataFrame = {
    if (locations.remove(name) == null) {
      if (!ifExists) throw new IllegalArgumentException(
        s"External location '$name' not found")
      return result(spark, dropSchema,
        Row(name, "external_location", "NOT_FOUND"))
    }
    result(spark, dropSchema, Row(name, "external_location", "DROPPED"))
  }

  /** JSON string (quoted + escaped) for the securable_object payloads —
    * a quote or backslash in a comment/url/option must not produce
    * malformed JSON. Jackson (already on the classpath for log JSON)
    * owns the escaping rules. */
  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def js(s: String): String = jsonMapper.writeValueAsString(s)

  private def describeConnection(d: ConnectionDef): String = {
    val fields = Seq(
      Some(s""""name":${js(d.name)}"""),
      Some(s""""connection_type":${js(d.connectionType)}"""),
      d.url.map(v => s""""url":${js(v)}"""),
      d.comment.map(v => s""""comment":${js(v)}""")
    ).flatten ++ (if (d.options.nonEmpty)
      Seq(s""""options":{${d.options.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")}}""")
    else Seq.empty)
    fields.mkString("{", ",", "}")
  }

  private def describeShare(d: ShareDef): String =
    ((Seq(Some(s""""name":${js(d.name)}""")) :+
      d.comment.map(v => s""""comment":${js(v)}""")).flatten ++
      (if (d.objects.isEmpty) Seq.empty
      else Seq(s""""objects":{${d.objects.toSeq.sortBy(t => t._1)
        .map { case ((sch, tbl), v) => s"${js(s"$sch.$tbl")}:${js(v)}" }
        .mkString(",")}}""")))
      .mkString("{", ",", "}")

  private def describeLocation(d: LocationDef): String = {
    val fields = Seq(
      Some(s""""name":${js(d.name)}"""),
      Some(s""""url":${js(d.url)}"""),
      d.credential.map(v => s""""credential_name":${js(v)}"""),
      d.comment.map(v => s""""comment":${js(v)}""")
    ).flatten ++ (if (d.options.nonEmpty)
      Seq(s""""options":{${d.options.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")}}""")
    else Seq.empty)
    fields.mkString("{", ",", "}")
  }

  // Case-insensitive on the SCHEMA name: the DSv2 namespace registry
  // lowercases its keys (GraftCatalog.registerNamespace /
  // dropNamespaceEntry), so catalogs holding 'ML' and 'ml' share one
  // registry namespace — the in-use check must see them as the same
  // name or DROP SCHEMA a.ML CASCADE would unregister b.ml's tables.
  private def schemaNameInUseElsewhere(catalog: String,
      schema: String): Boolean =
    catalogs.asScala.exists { case (n, c) =>
      n != catalog && c.schemas.keys.exists(_.equalsIgnoreCase(schema))
    }

  def listSchemas(catalog: String): Seq[SchemaDef] =
    Option(catalogs.get(catalog)) match {
      case None =>
        throw new IllegalArgumentException(s"Catalog '$catalog' not found")
      case Some(c) => c.schemas.values.toSeq.sortBy(_.name)
    }

  private def describeSchema(catalog: String, d: SchemaDef): String = {
    val fields = Seq(
      Some(s""""name":${js(d.name)}"""),
      Some(s""""catalog_name":${js(catalog)}"""),
      d.comment.map(v => s""""comment":${js(v)}""")
    ).flatten ++ (if (d.options.nonEmpty)
      Seq(s""""options":{${d.options.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")}}""")
    else Seq.empty)
    fields.mkString("{", ",", "}")
  }

  private def describe(d: CatalogDef): String = {
    val fields = Seq(
      Some(s""""name":${js(d.name)}"""),
      d.usingShare.map(v => s""""using_share":${js(v)}"""),
      d.usingConnection.map(v => s""""using_connection":${js(v)}"""),
      d.managedLocation.map(v => s""""managed_location":${js(v)}"""),
      d.comment.map(v => s""""comment":${js(v)}"""),
      d.defaultCollation.map(v => s""""default_collation":${js(v)}""")
    ).flatten ++ (if (d.options.nonEmpty)
      Seq(s""""options":{${d.options.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")}}""")
    else Seq.empty)
    fields.mkString("{", ",", "}")
  }
}
