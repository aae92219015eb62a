package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.delta.log.{Actions, CommitWriter, LogSegment}

/** CONVERT TO DELTA: bootstrap a `_delta_log` over an EXISTING parquet
  * directory in place — no data rewrite, no data movement. The files
  * become version 0's add actions, with per-file stats computed in one
  * distributed pass and hive-style partition values parsed from the
  * directory layout.
  *
  * This is the adoption path for a 100 TB parquet lake: converting is
  * O(metadata) — one listing + one stats aggregation over the files —
  * after which every graft capability (snapshot isolation, time travel,
  * skipping, DML, streaming source) applies to data that never moved.
  */
object ConvertCommand {

  /** @param partitionColumns hive partition columns encoded in the
    *   directory layout (`col=value/...`), in nesting order; their types
    *   are taken from `partitionSchema` when provided, else StringType.
    * @return the number of files converted. */
  def convert(spark: SparkSession, dir: String,
      partitionColumns: Seq[String] = Seq.empty,
      partitionSchema: Option[StructType] = None): Long = {
    val table = new Path(dir)
    val fs = LogSegment.fs(spark, table)
    require(fs.exists(table), s"No such directory: $dir")
    require(!fs.exists(new Path(table, "_delta_log")),
      s"Already a Delta table: $dir")

    val qualified = fs.makeQualified(table)
    val rootLen = qualified.toUri.getPath.length + 1
    val files = CommitWriter.listRecursive(fs, table)
      .filter { st =>
        // every path SEGMENT must be visible: a crashed write's
        // _temporary/.../part-*.parquet has a clean file name but lives
        // under a hidden dir, and converting it would serve partial rows
        val rel = st.getPath.toUri.getPath.drop(rootLen)
        rel.endsWith(".parquet") && rel.split('/').forall(seg =>
          !seg.startsWith(".") && !seg.startsWith("_"))
      }
    require(files.nonEmpty, s"No parquet files under $dir")

    // data schema from the files themselves; partition columns ride the
    // directory names, typed via partitionSchema (defaulting to string)
    val dataSchema = spark.read.parquet(
      files.map(_.getPath.toString): _*).schema
    val partFields = partitionColumns.map { c =>
      partitionSchema.flatMap(s => s.fields.find(_.name == c))
        .getOrElse(StructField(c, StringType))
    }
    val fullSchema = StructType(dataSchema.fields ++ partFields)

    val statsByFile = CommitWriter.computeStats(spark, dir,
      dataSchema.fieldNames.toIndexedSeq, dataSchema)

    val adds = files.map { st =>
      val rel = st.getPath.toUri.getPath.drop(rootLen)
      Actions.AddFile(
        path = rel,
        partitionValues = CommitWriter.parsePartitionValues(rel),
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = statsByFile.get(st.getPath.toUri.getPath))
    }

    val meta = Actions.Metadata(
      id = java.util.UUID.randomUUID().toString,
      name = None, description = None, format = Actions.Format(),
      schemaString = fullSchema.json,
      partitionColumns = partitionColumns,
      configuration = Map.empty,
      createdTime = Some(System.currentTimeMillis()))
    CommitWriter.commit(spark, dir, 0L,
      Seq(CommitWriter.protocolJson(Actions.Protocol()),
        CommitWriter.metadataJson(meta)) ++
        adds.map(CommitWriter.addJson),
      operation = "CONVERT")
    adds.length.toLong
  }

  val metricsSchema: StructType = StructType(Seq(
    StructField("metric", StringType), StructField("value", StringType)))

  def metrics(spark: SparkSession, filesConverted: Long): DataFrame = {
    CommandResult.result(spark, metricsSchema,
      Row("files_converted", filesConverted.toString))
  }
}
