package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared query: Spark implementation + optional DuckDB oracle SQL.
  *
  * Determinism contract (driver hash-compares Spark parquet output vs the
  * DuckDB oracle result):
  *  - aggregate arithmetic over doubles goes through DECIMAL casts so the
  *    result is independent of Spark's partial/final aggregation order;
  *  - every query is totally ordered (unique tie-break keys) with NULLS
  *    LAST spelled out on both sides;
  *  - column names are aliased identically on both sides.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))
}

/** Table loading helpers shared by all query groups. */
object T {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts as epoch-NANOSECOND longs regardless of the fixture's
    * physical type: older data drops carry TIMESTAMP(NANOS) (readable
    * only as raw longs via nanosAsLong), newer drops carry
    * timestamp[us] (read as TIMESTAMP_NTZ). Downstream query
    * arithmetic is written against epoch-ns longs, and the DuckDB
    * oracle's epoch_ns(ts) yields the same nanos for either physical
    * resolution, so one normalization keeps both sides agreeing. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // TIMESTAMP(NANOS) drop, already raw nanos
      case TimestampNTZType | TimestampType =>
        // NTZ -> LTZ cast follows spark.sql.session.timeZone; every
        // session in this project pins UTC, making it shift-free and
        // equal to DuckDB's naive-as-UTC epoch_ns
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type $other")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** Exact decimal view of a double column (for order-independent sums). */
  def dec(c: Column, scale: Int): Column = c.cast(DecimalType(18, scale))

  /** sum(decimal) rendered as DOUBLE — deterministic across engines. */
  def dsum(c: Column, scale: Int): Column =
    sum(dec(c, scale)).cast(DoubleType)

  /** Deterministic average: exact decimal sum divided by count, in
    * doubles (one IEEE division — identical on both engines). */
  def davg(c: Column, scale: Int): Column =
    sum(dec(c, scale)).cast(DoubleType) / count(c).cast(DoubleType)
}
