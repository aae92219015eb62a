package graft.commands

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.DeltaTable
import graft.delta.log.LogSegment

/** GENERATE symlink_format_manifest FOR TABLE — the ecosystem's
  * Presto/Trino/Athena/Hive interop surface: one `manifest` text file
  * per partition directory under `_symlink_format_manifest/`, each
  * listing the absolute URIs of that partition's LIVE data files, so
  * symlink-input readers see exactly the current snapshot.
  *
  * Manifest directory names reuse each data file's OWN path prefix
  * (the partition directory the writer produced), so the manifest
  * layout can never drift from the data layout's value escaping.
  * Manifests are written DISTRIBUTED (one task writes a partition's
  * manifest with its own FS handle — the VACUUM delete shape). Live
  * manifests are overwritten in place — external readers never see an
  * empty tree mid-run or after a crash — and directories for
  * partitions that no longer exist are swept AFTERWARDS.
  *
  * Deletion-vector tables refuse: a symlink reader consumes raw
  * parquet and would resurrect every masked row.
  */
object GenerateCommand {

  final val ManifestDir = "_symlink_format_manifest"

  def symlinkManifest(spark: SparkSession, tablePath: String): DataFrame = {
    val snap = DeltaTable.forPath(spark, tablePath)
    val fs = LogSegment.fs(spark, snap.tablePath)
    val root = fs.makeQualified(snap.tablePath)

    require(graft.delta.scan.ColumnMapping.mode(snap.metadata) == "none",
      s"cannot generate a symlink manifest for $tablePath: the table is " +
        "column-mapped, and a symlink reader would see the physical " +
        "col-N names instead of the logical schema")
    val dvCount = snap.allFiles.where(col("deletionVector").isNotNull).count()
    require(dvCount == 0,
      s"cannot generate a symlink manifest for $tablePath: $dvCount live " +
        "file(s) carry deletion vectors — a symlink reader consumes raw " +
        "parquet and would resurrect the masked rows. Rewrite them first " +
        "(OPTIMIZE) or disable DVs")

    // Shallow clones reference the SOURCE's files by absolute path — a
    // manifest tree derived from those prefixes would land inside the
    // source's directories, so refuse and point at the source. The
    // check runs DISTRIBUTED; only the (at most one) sample offender
    // ever reaches the driver.
    import spark.implicits._
    val paths = snap.allFiles.select("path").as[String]
    val absOffender = paths
      .mapPartitions(it => it.filter(rel => new Path(rel).isAbsolute).take(1))
      .take(1)
    require(absOffender.isEmpty,
      s"cannot generate a symlink manifest for $tablePath: its log " +
        s"references files by absolute path (e.g. ${absOffender.headOption
          .getOrElse("")} — a shallow clone); generate the manifest on " +
        "the source table instead")
    val manifestRoot = new Path(root, ManifestDir)
    val rootStr = root.toString

    // (manifest-relative dir, absolute data file URI); the dir is the
    // data file's own partition prefix. End-to-end DataFrame shape: the
    // driver never materializes the file list — rows hash to tasks by
    // dir, each task streams its dirs' sorted URIs straight into the
    // open manifest file (O(1) task memory even for a billion-file
    // partition), switching files on dir change.
    val entries = paths.map { rel =>
      val cut = rel.lastIndexOf('/')
      (if (cut < 0) "" else rel.substring(0, cut),
        new Path(new Path(rootStr), rel).toString)
    }.toDF("dir", "uri")
    // each task returns the dirs IT wrote — the live-dir set for the
    // sweep comes as a by-product of the write job (no separate
    // distinct pass over a fresh log replay); the collected state is
    // O(partition dirs), the same order as the snapshot's own metadata
    val writtenDirs: Array[String] = entries
      .repartition(col("dir"))
      .sortWithinPartitions("dir", "uri")
      .as[(String, String)]
      .mapPartitions { it =>
        var efs: org.apache.hadoop.fs.FileSystem = null
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var current: String = null
        val dirs = Seq.newBuilder[String]
        def open(dir: String): Unit = {
          val base = new Path(new Path(rootStr), ManifestDir)
          val mdir = if (dir.isEmpty) base else new Path(base, dir)
          if (efs == null) efs = mdir.getFileSystem(new Configuration())
          out = efs.create(new Path(mdir, "manifest"), true)
          current = dir
          dirs += dir
        }
        try {
          it.foreach { case (dir, uri) =>
            if (current == null || current != dir) {
              if (out != null) out.close()
              open(dir)
            }
            out.write((uri + "\n").getBytes("UTF-8"))
          }
        } finally if (out != null) out.close()
        dirs.result().iterator
      }.collect()
    val written = writtenDirs.length.toLong

    // sweep AFTER writing: each live manifest was overwritten in place
    // (external readers never see an empty tree mid-run or after a
    // crash); only directories for partitions that no longer exist are
    // removed now
    val live = writtenDirs.toSet
    def walkManifests(p: Path): Seq[Path] = {
      if (!fs.exists(p)) return Seq.empty
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walkManifests(st.getPath)
        else if (st.getPath.getName == "manifest") Seq(st.getPath)
        else Seq.empty
      }
    }
    walkManifests(manifestRoot).foreach { mf =>
      val dir = manifestRoot.toUri.relativize(mf.getParent.toUri).getPath
        .stripSuffix("/")
      if (!live.contains(dir)) fs.delete(mf.getParent, true)
    }

    CommandResult.metrics(spark,
      "operation" -> "GENERATE symlink_format_manifest",
      "manifests_written" -> written.toString)
  }
}
