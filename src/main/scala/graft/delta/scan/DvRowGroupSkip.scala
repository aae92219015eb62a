package graft.delta.scan

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Surgical deletion-vector scan: skip parquet ROW GROUPS that a DV
  * deletes entirely, instead of decoding them and masking every row
  * afterwards.
  *
  * The reference builds a per-row-group access plan (Skip / Scan /
  * RowSelection) inside its Delta scan
  * (crates/datafusion/src/table_provider/delta/mod.rs:244-325). Spark's
  * equivalent lever is the split: the parquet readers decode exactly
  * the row groups whose byte MIDPOINT falls inside the split's
  * [start, start+length) range, so handing the reader factory
  * byte-ranges that cover only the live row groups skips the dead ones
  * at the decoder — a 90%-masked file costs ~10% of its IO/decode
  * instead of 100% + mask.
  *
  * Only files whose DV is heavy enough to matter
  * (`spark.lakehouse.dv.rowGroupSkip.minDeleted`, default 65536 rows)
  * pay the footer read; files where no row group is fully dead fall
  * back to the normal whole-file scan. Partially-deleted row groups
  * still go through the regular mask (the surgical frame carries the
  * same provenance columns).
  */
object DvRowGroupSkip {

  /** Test observability: row groups skipped / decoded by the LAST scan
    * that engaged the surgical path. */
  private[graft] val lastSkipped = new java.util.concurrent.atomic.AtomicLong
  private[graft] val lastDecoded = new java.util.concurrent.atomic.AtomicLong

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.lakehouse.dv.rowGroupSkip.enabled")
      .forall(_.equalsIgnoreCase("true"))

  /** Minimum DV cardinality before a file pays the footer read. */
  def minDeleted(spark: SparkSession): Long =
    spark.conf.getOption("spark.lakehouse.dv.rowGroupSkip.minDeleted")
      .map(_.toLong).getOrElse(65536L)

  /** Byte ranges of `absPath` covering every row group NOT fully
    * deleted by `bitmap`, or None when no row group is fully dead (the
    * normal whole-file scan is then strictly better — no footer-driven
    * split fragmentation). Also returns (skipped, total) group counts. */
  def liveRanges(fs: FileSystem, absPath: Path, bitmap: DvBitmap.Bitmap,
      conf: Configuration): Option[(Seq[(Long, Long)], Int, Int)] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(absPath, conf))
    val blocks = try reader.getFooter.getBlocks.asScala.toIndexedSeq
      finally reader.close()
    if (blocks.size <= 1) return None
    // cumulative row-index offset per block (parquet row indexes are
    // file positions, so block i spans [offsets(i), offsets(i+1)))
    val offsets = blocks.scanLeft(0L)(_ + _.getRowCount)
    // one pass over the DV's set bits, binned per block
    val deleted = new Array[Long](blocks.size)
    bitmap.iterator.foreach { idx =>
      var lo = 0
      var hi = blocks.size - 1
      while (lo < hi) { // last block with offset <= idx
        val mid = (lo + hi + 1) >>> 1
        if (offsets(mid) <= idx) lo = mid else hi = mid - 1
      }
      if (idx >= 0 && idx < offsets.last) deleted(lo) += 1
    }
    val live = blocks.indices.filter(i => deleted(i) < blocks(i).getRowCount)
    if (live.size == blocks.size) return None
    // merge consecutive live blocks into maximal byte ranges
    val ranges = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < live.size) {
      var j = i
      while (j + 1 < live.size && live(j + 1) == live(j) + 1) j += 1
      val first = blocks(live(i))
      val last = blocks(live(j))
      ranges += ((first.getStartingPos,
        last.getStartingPos + last.getCompressedSize - first.getStartingPos))
      i = j + 1
    }
    Some((ranges.result(), blocks.size - live.size, blocks.size))
  }

  /** Scan `files` (absolute path, normalized key, byte ranges, mtime,
    * size, partition row) through Spark's own parquet reader factory,
    * returning a frame with the PHYSICAL data columns plus `__row_index`
    * (global parquet row index), the `partitionSchema` columns (each
    * file's partition row) and `__fkey` (the normalized path) — the same
    * columns and provenance contract as the normal scan. */
  def scan(spark: SparkSession, physicalDataSchema: StructType,
      partitionSchema: StructType,
      files: Seq[(Path, String, Seq[(Long, Long)], Long, Long, InternalRow)])
      : DataFrame = {
    val fmt = new ParquetFileFormat()
    // the readers generate indexes for the column NAMED with the
    // temporary name (ParquetRowIndexUtil matches name + LongType); it
    // must be NULLABLE so the missing-column check routes it to the
    // generator instead of failing the file
    val requiredSchema = StructType(physicalDataSchema.fields :+
      StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true))
    val readerFn = fmt.buildReaderWithPartitionValues(
      spark,
      dataSchema = physicalDataSchema,
      partitionSchema = partitionSchema,
      requiredSchema = requiredSchema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = Shims.hadoopConfWithOptions(spark, Map.empty))
    val parts: Seq[(String, PartitionedFile)] = files.flatMap {
      case (abs, key, ranges, modTime, fileSize, partitionRow) =>
        ranges.map { case (start, len) =>
          key -> PartitionedFile(partitionRow, SparkPath.fromPath(abs),
            start, len, Array.empty, modTime, fileSize)
        }
    }
    // the reader appends the partition row after the required columns
    val outSchema = StructType(requiredSchema.fields ++
      partitionSchema.fields :+
      StructField("__fkey", StringType, nullable = false))
    val rdd = spark.sparkContext
      .parallelize(parts, math.max(parts.size, 1))
      .flatMap { case (key, pf) =>
        val keyRow = InternalRow(UTF8String.fromString(key))
        // rows from the vectorized reader are REUSED buffers and must
        // be materialized; an UnsafeProjection + UnsafeRow.copy (one
        // flat byte-array copy, codegen'd field writes) beats
        // JoinedRow.copy's boxed GenericInternalRow per row. Decode
        // itself is already vectorized inside the reader — a full
        // columnar passthrough would additionally need a columnar plan
        // node just to re-materialize rows at the RDD boundary anyway.
        val proj = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(outSchema)
        val joined = new JoinedRow()
        readerFn(pf).flatMap {
          case b: ColumnarBatch =>
            b.rowIterator.asScala.map(r =>
              proj(joined(r, keyRow)).copy(): InternalRow)
          case r: InternalRow =>
            Iterator.single(proj(joined(r, keyRow)).copy(): InternalRow)
        }
      }
    Shims.dataFrameFromInternalRows(spark, rdd, outSchema)
      .withColumnRenamed(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, "__row_index")
  }

}
