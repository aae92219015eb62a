package graft.commands

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The small in-memory result frames SQL commands return. */
object CommandResult {

  /** The `(metric_name, metric_value)` result most commands return. */
  val metricsSchema: StructType = StructType(Seq(
    StructField("metric_name", StringType, nullable = false),
    StructField("metric_value", StringType, nullable = false)))

  /** `rows` under `schema`, in order. */
  def result(spark: SparkSession, schema: StructType, rows: Row*): DataFrame = {
    val l = new java.util.ArrayList[Row](rows.size)
    rows.foreach(l.add)
    spark.createDataFrame(l, schema)
  }

  /** The metrics result: one `(metric_name, metric_value)` row per
    * pair, in order. */
  def metrics(spark: SparkSession, pairs: (String, String)*): DataFrame =
    result(spark, metricsSchema,
      pairs.map { case (name, value) => Row(name, value) }: _*)
}
