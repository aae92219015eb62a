package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.commands.CommandResult

/** Directory listing as a DataFrame.
  *
  * Mirrors the reference's DirectoryListingExec leaf operator — schema
  * (path, length, is_dir, modification_time) with millisecond UTC
  * timestamps (reference: crates/datafusion/src/execution/
  * directory_listing.rs:29-45, stream at :166-221).
  */
object DirListing {

  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = true),
    StructField("is_dir", BooleanType, nullable = false),
    StructField("modification_time", TimestampType, nullable = true)))

  private def ts(millis: Long): java.sql.Timestamp =
    new java.sql.Timestamp(millis)

  /** Invocation counter for [[listRecursive]] — lets specs pin that a
    * log-only path (VACUUM LITE) issues ZERO full listings. */
  val recursiveListings = new java.util.concurrent.atomic.AtomicLong(0)

  /** One-level listing (files + directories), like the reference's
    * delimiter listing. Driver-side: one RPC, small result. */
  def list(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = fs.listStatus(p).toSeq.map { st =>
      Row(st.getPath.toString, if (st.isDirectory) null else st.getLen,
        st.isDirectory,
        if (st.isDirectory) null else ts(st.getModificationTime))
    }
    CommandResult.result(spark, schema, rows: _*)
  }

  /** Recursive file listing, parallelized: the driver lists the first
    * level, subdirectories fan out to executors (at 100 TB a table dir
    * holds millions of files — never list them all on the driver). */
  def listRecursive(spark: SparkSession, dir: String): DataFrame = {
    recursiveListings.incrementAndGet()
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val top = fs.listStatus(p).toSeq
    val topFiles = top.filterNot(_.isDirectory).map { st =>
      Row(st.getPath.toString, st.getLen, false, ts(st.getModificationTime))
    }
    val subDirs = top.filter(_.isDirectory).map(_.getPath.toString)

    val topDF = CommandResult.result(spark, schema, topFiles: _*)

    if (subDirs.isEmpty) topDF
    else {
      // rows stay distributed — the candidate set is never collected.
      // Recursion is a manual listStatus walk, NOT fs.listFiles(_,
      // recursive=true): listFiles materializes LocatedFileStatus —
      // per-file block locations — which the 1M-file VACUUM rehearsal
      // (SCALE.md, round 16) measured at ~3 ms/file on LocalFileSystem
      // (250x the plain status listing); this operator never needs
      // block locations.
      val rdd = spark.sparkContext
        .parallelize(subDirs, math.min(subDirs.size, 64))
        .flatMap { d =>
          val path = new Path(d)
          val efs = path.getFileSystem(new Configuration())
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          val stack = scala.collection.mutable.ArrayBuffer(path)
          while (stack.nonEmpty) {
            val cur = stack.remove(stack.length - 1)
            efs.listStatus(cur).foreach { st =>
              if (st.isDirectory) stack += st.getPath
              else buf += Row(st.getPath.toString, st.getLen, false,
                ts(st.getModificationTime))
            }
          }
          buf
        }
      topDF.union(spark.createDataFrame(rdd, schema))
    }
  }
}
