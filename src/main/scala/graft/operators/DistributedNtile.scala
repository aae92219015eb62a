package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact SQL `ntile(k)` over a (key, tie) total order WITHOUT the
  * single-partition window Spark plans for `Window.orderBy(...)` — the
  * classic scale trap: a global ORDER BY window funnels every row
  * through one task, so a 100 TB curriculum sort would run on one core.
  *
  * Two passes instead:
  *  1. a distributed histogram `key -> count` (bounded by the DISTINCT
  *     key count — for difficulty proxies like token counts, thousands
  *     of values, not rows), prefix-summed on the driver into each
  *     key's global starting rank;
  *  2. a broadcast join of those offsets + a window PARTITIONED by key
  *     (scales with key cardinality) ranking ties, so
  *     `global rank = key offset + within-key rank`.
  *
  * The bucket for a 1-based rank r over n rows follows SQL ntile
  * remainder semantics exactly: the first n % k buckets hold
  * ceil(n / k) rows, the rest floor(n / k) — so results are
  * bit-identical to `ntile(k) OVER (ORDER BY key, tie)` on any engine.
  */
object DistributedNtile {

  /** Driver-side histogram cap: the offsets table is O(distinct key
    * values), which is the operator's stated contract (difficulty
    * proxies — token counts, score grains — have thousands of values).
    * A CONTINUOUS key would make the collect unbounded, so the
    * histogram is fetched through a limit and the operator fails fast
    * past the cap instead of silently OOMing the driver. */
  final val MaxKeyCardinality = 1000000

  /** @param key  orderable non-null column name (the primary sort key)
    * @param tie  unique non-null column name breaking ties (total order)
    * @param out  name of the produced bucket column (IntegerType)
    * @param maxKeys  distinct-key cap for the driver histogram */
  def apply(df: DataFrame, buckets: Int, key: String, tie: String,
      out: String, maxKeys: Int = MaxKeyCardinality): DataFrame = {
    require(buckets > 0, s"ntile buckets must be positive, got $buckets")
    val spark = df.sparkSession

    // limit + collect keeps the fetch bounded even when the check will
    // fail: per-partition top-(maxKeys+1) merges on the driver, never
    // the full distinct set
    val hist = df.groupBy(key).agg(count(lit(1)).as("__cnt"))
      .orderBy(key).limit(maxKeys + 1).collect()
    require(hist.length <= maxKeys,
      s"DistributedNtile: key '$key' exceeds $maxKeys distinct values — " +
        "the driver-side offset histogram is O(distinct keys) by design. " +
        "Pre-bin the key to a coarser grain (round/cast/bucketize) first.")
    var acc = 0L
    val offRows = new java.util.ArrayList[Row](hist.length)
    hist.foreach { r =>
      offRows.add(Row(r.get(0), acc))
      acc += r.getLong(1)
    }
    val n = acc
    if (n == 0) return df.withColumn(out, lit(null).cast("int"))
    val offSchema = StructType(Seq(
      df.schema(key).copy(name = key), StructField("__start", LongType)))
    val offsets = spark.createDataFrame(offRows, offSchema)

    val q = n / buckets
    val rem = n % buckets
    val bigSpan = rem * (q + 1) // rows living in the ceil-sized buckets
    val rank = col("__start") +
      row_number().over(Window.partitionBy(key).orderBy(tie)).cast(LongType)
    val bin =
      if (q == 0) rank // n < buckets: bucket i holds exactly row i
      else when(rank <= bigSpan, (rank - 1) / (q + 1) + 1)
        .otherwise((rank - bigSpan - 1) / q + 1 + rem)
    df.join(broadcast(offsets), Seq(key))
      .withColumn(out, bin.cast("int"))
      .drop("__start")
  }
}
