package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.TableRegistry
import graft.sqlext.GraftParser

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

  val tables = new TableRegistry(spark, GraftSession.namesOf(spark))

  /** Route a SQL statement: extension grammar first, Spark otherwise. */
  def sql(sqlText: String): DataFrame =
    GraftParser.parse(sqlText) match {
      case Some(stmt) => stmt.vanillaSql.fold(stmt.run(this))(spark.sql)
      case None => spark.sql(sqlText)
    }

  /** Register a Delta table as a queryable temp view (auto-refreshing
    * on lookup through `tables`). */
  def registerDelta(name: String, path: String): GraftSession = {
    tables.register(name, path)
    this
  }

  /** A MERGE source: a view/table name, else a parquet path. */
  private[graft] def resolveMergeSource(source: String): DataFrame =
    if (source.contains("/")) spark.read.parquet(source)
    else spark.table(source)

  /** A statement's target table: a registered table name, a
    * catalog-qualified name, or a path. */
  private[graft] def resolveTablePath(table: String): String =
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

  /** UDF registrations (A27): sign_storage_url dispatches per URL
    * scheme through the [[graft.functions.UrlSigning]] signer registry —
    * local passthrough live, S3/Azure/GCS as typed extension points
    * mirroring the reference's per-store signers
    * (crates/datafusion/src/functions/sign_url.rs:100-211). */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("sign_storage_url",
      (url: String) => graft.functions.UrlSigning.signUrl(url))
  }

  /** Each SparkSession's table names, shared like the temp views they
    * publish; making them registers the session's functions. Weak keys
    * (the names hold no reference back), so they go with the session. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession, TableRegistry.Names]()

  private def namesOf(spark: SparkSession): TableRegistry.Names =
    sessions.synchronized {
      sessions.computeIfAbsent(spark, { s =>
        registerFunctions(s)
        new TableRegistry.Names()
      })
    }
}
