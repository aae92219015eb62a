package graft.sqlext

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType
import graft.sqlext.GraftParser.Statement

/** `SparkSessionExtensions` registration: injects the lakehouse parser
  * so plain `spark.sql("VACUUM …")` / `CREATE CATALOG …` work on any
  * session built with
  * `.config("spark.sql.extensions", "graft.sqlext.GraftExtensions")`.
  *
  * This is the Spark analogue of the reference's parser + extension
  * planner wiring (reference: crates/datafusion/src/sql/parser.rs:30-49
  * front-end interception; planner.rs:20-84 extension planning): our
  * statements become a `LeafRunnableCommand`, everything else falls
  * through to the delegate parser untouched.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectParser((_, delegate) => new GraftParserInterface(delegate))
    // scalar extension functions (SQL-callable): vector_dot(a, b)
    extensions.injectFunction((
      FunctionIdentifier("vector_dot"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.VectorDot].getCanonicalName, "vector_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"vector_dot expects 2 arguments, got ${children.length}")
        graft.functions.VectorDot(children.head, children(1))
      }))
    // table-valued function (ecosystem-standard CDF syntax):
    //   SELECT * FROM table_changes('/path', startV [, endV])
    // resolves to the same derived change feed as
    // spark.read.option("readChangeFeed", ...) — _change_type,
    // _commit_version, _commit_timestamp columns included.
    extensions.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        getClass.getCanonicalName, "table_changes"),
      GraftExtensions.tableChangesBuilder))
  }
}

object GraftExtensions {

  /** The `table_changes` TVF plan builder — shared by the
    * `SparkSessionExtensions` injection above and
    * [[registerTableChanges]] for sessions built without the
    * extension. */
  private[graft] val tableChangesBuilder: Seq[Expression] => LogicalPlan =
    (args: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      def const(e: Expression, what: String): Any = e match {
        case Literal(v, _) if v != null => v match {
          case u: org.apache.spark.unsafe.types.UTF8String => u.toString
          case other => other
        }
        case _ => throw new IllegalArgumentException(
          s"table_changes: $what must be a non-null literal, got $e")
      }
      require(args.length == 2 || args.length == 3,
        "table_changes(path, startVersion [, endVersion]) expects " +
          s"2 or 3 arguments, got ${args.length}")
      val path = const(args.head, "path").toString
      def version(e: Expression, what: String): Long =
        const(e, what) match {
          case n: Number => n.longValue()
          case s: String if s.matches("-?\\d+") => s.toLong
          case other => throw new IllegalArgumentException(
            s"table_changes: $what must be a version number, got $other")
        }
      val spark = SparkSession.active
      var reader = spark.read.format("graftdelta")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", version(args(1), "startVersion"))
      if (args.length == 3)
        reader = reader.option("endingVersion",
          version(args(2), "endVersion"))
      reader.load().queryExecution.analyzed
    }

  /** Register the `table_changes` TVF into a LIVE session (the
    * injection path above only reaches sessions built with
    * `spark.sql.extensions`). Idempotent — re-registration replaces
    * the same builder. */
  def registerTableChanges(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("table_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        getClass.getCanonicalName, "table_changes"),
      tableChangesBuilder)
}

final class GraftParserInterface(delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    try GraftParser.parse(sqlText) match {
      // the output schema is fixed at parse time, so a statement that
      // runs as vanilla Spark SQL (schema DDL on a non-graft catalog)
      // is handed to the delegate HERE, as the text GraftSession.sql runs
      case Some(stmt) =>
        stmt.vanillaSql.fold[LogicalPlan](GraftCommand(stmt))(
          delegate.parsePlan)
      case None => delegate.parsePlan(sqlText)
    } catch {
      case pe: GraftParser.ParseException =>
        // extension grammar first, Spark otherwise — but if the
        // delegate ALSO rejects the text, our (specific) diagnosis
        // rides along instead of vanishing behind the generic one
        try delegate.parsePlan(sqlText)
        catch {
          case e: Exception => e.addSuppressed(pe); throw e
        }
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Runnable command wrapping a parsed lakehouse statement (the UDLN +
  * extension-planner pair collapses to one node in Spark). The
  * statement declares its own columns and runs itself: this node adds
  * no per-statement knowledge, so every parsed statement plans and
  * runs here exactly as through `GraftSession.sql`. */
final case class GraftCommand(stmt: Statement) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(stmt.outputSchema)

  override def run(session: SparkSession): Seq[Row] =
    stmt.run(new graft.GraftSession(session)).collect().toSeq
}
