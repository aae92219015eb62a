package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal

/** Bridge to `private[sql]` Column internals (Spark 4 moved Column onto
  * ColumnNode; both the node classes and the classic Catalyst converters
  * are sql-package-private). Lives under org.apache.spark.sql on purpose
  * — the standard technique for Spark extension libraries. */
object Shims {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `DataType.sameType` (case/nullability-insensitive equality) is
    * private[sql]; the write-schema validator needs exactly its
    * semantics, matching name-based scan resolution. */
  def sameType(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = a.sameType(b)

  /** Catalyst predicate → public sources.Filter (DataSourceStrategy's
    * translator is protected[sql]); used by the DSv2 file index to route
    * pushed data filters into the shared stats-skipping engine. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Re-flag a batch DataFrame as a streaming one — the v1 `Source`
    * contract requires `getBatch` to return a plan with
    * isStreaming=true. `internalCreateDataFrame` is public on the
    * classic session; this wrapper just centralizes the classic casts. */
  def asStreamingDF(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Hadoop conf with the session's SQL->Hadoop option propagation
    * (what FileSourceScanExec hands the parquet reader factory);
    * `sessionState` is private[sql]. */
  def hadoopConfWithOptions(spark: org.apache.spark.sql.SparkSession,
      options: Map[String, String]): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options)

  /** DataFrame over an RDD of InternalRow with a known schema (the
    * surgical DV scan produces rows straight from the parquet reader
    * factory); `internalCreateDataFrame` lives on the classic session. */
  def dataFrameFromInternalRows(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Version-stable view of a Column's node tree, for predicate
    * translation (file skipping). */
  sealed trait PredNode
  final case class Fn(name: String, args: Seq[PredNode]) extends PredNode
  final case class Attr(name: String) extends PredNode
  final case class Lit(value: Any) extends PredNode
  case object Opaque extends PredNode

  /** The bloom-filter expression pair Spark itself uses for runtime
    * row-level filtering (not exposed in the public functions API):
    * `bloom_filter_agg` builds the serialized filter, `might_contain`
    * probes it with full codegen. Pairing the two catalyst expressions
    * guarantees the hash and serialization formats agree — a hand-built
    * sketch + UDF probe could silently mismatch. */
  def bloomFilterAgg(child: Column, estimatedItems: Long,
      numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(child),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  def bloomMightContain(serializedBloom: Column, value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(expression(serializedBloom),
        expression(value)))

  /** Parquet DataFrame over a `HadoopFsRelation` on `index` (the Delta
    * scan's log-backed [[graft.delta.sources.GraftDeltaFileIndex]]): the
    * same FileSourceScanExec as `spark.read.parquet` (pushdown, column
    * pruning, `_metadata` columns), without its listing of the paths.
    * `baseRelationToDataFrame` lives on the classic session. */
  def parquetRelation(spark: org.apache.spark.sql.SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }

  /** CatalogManager caches plugin instances per session and never
    * re-checks the conf; DROP CATALOG needs the cache dropped so an
    * unbound name stops resolving. `reset()` is private[sql]. */
  def resetCatalogManager(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.reset()

  def predNode(c: Column): PredNode = conv(c.node)


  private def conv(n: internal.ColumnNode): PredNode = n match {
    case f: internal.UnresolvedFunction =>
      Fn(f.functionName.toLowerCase, f.arguments.map(conv))
    case a: internal.UnresolvedAttribute if a.nameParts.length == 1 =>
      Attr(a.nameParts.head)
    case l: internal.Literal => Lit(l.value)
    case _ => Opaque
  }
}
