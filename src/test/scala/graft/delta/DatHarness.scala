package graft.delta

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.TestSpark
import graft.delta.log.{Actions, CommitWriter, LogSegment}
import graft.delta.scan.DvBitmap

/** DAT-style acceptance corpus generator (FIXTURES.md §1.1): each case is
  *
  *   <case>/test_case_info.json
  *   <case>/delta/                       the Delta table
  *   <case>/expected/latest/table_version_metadata.json
  *   <case>/expected/v<N>/table_version_metadata.json
  *   <case>/expected/latest/table_content/  (golden parquet)
  *   (+ per-version content where the case covers time travel)
  *
  * Golden content is written straight from the source DataFrames —
  * never through the graft reader — so the acceptance assertions are
  * independent of the code under test (mirrors the reference harness,
  * crates/acceptance/src/{meta,data}.rs).
  */
object DatHarness {
  private val mapper = new ObjectMapper()

  val root = "/root/repo/target/dat"

  case class Case(name: String, description: String) {
    def dir = s"$root/$name"
    def tablePath = s"$dir/delta"
  }

  private def writeInfo(c: Case): Unit = {
    val n = mapper.createObjectNode()
    n.put("name", c.name)
    n.put("description", c.description)
    write(s"${c.dir}/test_case_info.json", n.toString)
  }

  private def write(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, content)
  }

  /** Record expected metadata for one version label ("latest" / "v0"…). */
  private def writeMeta(c: Case, label: String, version: Long,
      properties: Map[String, String], minReader: Int, minWriter: Int): Unit = {
    val n = mapper.createObjectNode()
    n.put("version", version)
    val p = n.putObject("properties")
    properties.foreach { case (k, v) => p.put(k, v) }
    n.put("min_reader_version", minReader)
    n.put("min_writer_version", minWriter)
    write(s"${c.dir}/expected/$label/table_version_metadata.json", n.toString)
  }

  private def writeContent(c: Case, label: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite")
      .parquet(s"${c.dir}/expected/$label/table_content")

  /** Generate the full corpus (idempotent: skips existing cases). */
  def generate(spark: SparkSession): Seq[Case] = synchronized {
    val sf = TestSpark.sf
    val region = spark.read.parquet(s"$sf/region.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")

    val cases = Seq.newBuilder[Case]
    def build(name: String, description: String)(f: Case => Unit): Unit = {
      val c = Case(name, description)
      cases += c
      if (!new File(c.dir, "test_case_info.json").exists()) {
        new scala.reflect.io.Directory(new File(c.dir)).deleteRecursively()
        f(c)
        writeInfo(c)
      }
    }

    build("basic_append", "two append commits") { c =>
      CommitWriter.createTable(spark, region.filter(col("r_regionkey") < 3),
        c.tablePath)
      CommitWriter.append(spark, region.filter(col("r_regionkey") >= 3),
        c.tablePath)
      writeMeta(c, "latest", 1, Map.empty, 1, 2)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeContent(c, "latest", region)
    }

    build("partitioned", "hive-partitioned by o_orderstatus") { c =>
      CommitWriter.createTable(spark, orders, c.tablePath,
        partitionColumns = Seq("o_orderstatus"))
      writeMeta(c, "latest", 0, Map.empty, 1, 2)
      writeContent(c, "latest", orders)
    }

    build("with_checkpoint", "12 commits, classic checkpoint, tail") { c =>
      val parts = (0 until 12).map(i => nation.filter(col("n_nationkey") % 12 === i))
      CommitWriter.createTable(spark, parts.head, c.tablePath)
      parts.tail.take(9).foreach(p => CommitWriter.append(spark, p, c.tablePath))
      CommitWriter.checkpoint(spark, c.tablePath) // at v10... (0-based: v9)
      parts.drop(10).foreach(p => CommitWriter.append(spark, p, c.tablePath))
      writeMeta(c, "latest", 11, Map.empty, 1, 2)
      writeContent(c, "latest", nation)
    }

    build("schema_evolution", "column added mid-log, nulls imputed") { c =>
      val narrow = orders.select("o_orderkey", "o_totalprice")
      CommitWriter.createTable(spark,
        narrow.filter(col("o_orderkey") % 2 === 0), c.tablePath)
      val meta0 = DeltaTable.forPath(spark, c.tablePath).metadata
      val evolved = narrow.schema.add(StructField("o_orderstatus", StringType))
      CommitWriter.commitMetadata(spark, c.tablePath,
        meta0.copy(schemaString = evolved.json))
      CommitWriter.append(spark,
        orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
          .filter(col("o_orderkey") % 2 === 1), c.tablePath)
      writeMeta(c, "latest", 2, Map.empty, 1, 2)
      writeContent(c, "latest", orders
        .select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_orderkey") % 2 === 1, col("o_orderstatus"))
            .otherwise(lit(null)).as("o_orderstatus")))
    }

    build("column_mapping", "physical col-N names via field metadata") { c =>
      val physical = region.toDF("col-1", "col-2")
      val adds = CommitWriter.writeFiles(spark, physical, c.tablePath, Seq.empty)
      val mapped = StructType(Seq(
        StructField("r_regionkey", IntegerType, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", "col-1")
            .putLong("delta.columnMapping.id", 1).build()),
        StructField("r_name", StringType, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", "col-2")
            .putLong("delta.columnMapping.id", 2).build())))
      val meta = Actions.Metadata(
        id = java.util.UUID.randomUUID().toString, name = None,
        description = None, format = Actions.Format(),
        schemaString = mapped.json, partitionColumns = Seq.empty,
        configuration = Map("delta.columnMapping.mode" -> "name"),
        createdTime = Some(0L))
      CommitWriter.commit(spark, c.tablePath, 0L,
        Seq(CommitWriter.protocolJson(Actions.Protocol(2, 5)),
          CommitWriter.metadataJson(meta)) ++ adds.map(CommitWriter.addJson),
        "CREATE")
      writeMeta(c, "latest", 0,
        Map("delta.columnMapping.mode" -> "name"), 2, 5)
      writeContent(c, "latest", region)
    }

    build("deletion_vectors", "file-stored roaring DV masks rows") { c =>
      val sorted = region.repartition(1).sortWithinPartitions("r_regionkey")
      CommitWriter.createTable(spark, sorted, c.tablePath)
      val snap0 = DeltaTable.forPath(spark, c.tablePath)
      val add0 = snap0.allFiles.collect().head
      val fs = LogSegment.fs(spark, new Path(c.tablePath))
      val dv = DvBitmap.writeDvFile(fs, new Path(c.tablePath), Seq(1L, 3L))
      CommitWriter.commit(spark, c.tablePath, 1L, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          add0.getAs[String]("path"), Some(0L), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE")
      writeMeta(c, "latest", 1, Map.empty, 1, 2)
      // rows at sorted positions 1 and 3 are deleted
      val keys = sorted.select("r_regionkey").collect().map(_.getInt(0))
      val deleted = Set(keys(1), keys(3))
      writeContent(c, "latest",
        region.filter(!col("r_regionkey").isin(deleted.toSeq: _*)))
    }

    build("time_travel", "three versions, per-version goldens") { c =>
      CommitWriter.createTable(spark,
        orders.filter(col("o_totalprice") <= 150000), c.tablePath)
      CommitWriter.append(spark, orders.filter(
        col("o_totalprice") > 150000 && col("o_totalprice") <= 300000),
        c.tablePath)
      CommitWriter.append(spark,
        orders.filter(col("o_totalprice") > 300000), c.tablePath)
      writeMeta(c, "latest", 2, Map.empty, 1, 2)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeMeta(c, "v1", 1, Map.empty, 1, 2)
      writeContent(c, "latest", orders)
      writeContent(c, "v0", orders.filter(col("o_totalprice") <= 150000))
      writeContent(c, "v1", orders.filter(col("o_totalprice") <= 300000))
    }

    build("type_widening", "int->long, float->double across commits") { c =>
      val narrow = nation
        .select(col("n_nationkey").cast(ShortType).as("n_nationkey"),
          col("n_name"))
      CommitWriter.createTable(spark,
        narrow.filter(col("n_nationkey") < 12), c.tablePath)
      val meta0 = DeltaTable.forPath(spark, c.tablePath).metadata
      val wide = StructType(Seq(
        StructField("n_nationkey", IntegerType), StructField("n_name", StringType)))
      CommitWriter.commitMetadata(spark, c.tablePath,
        meta0.copy(schemaString = wide.json))
      CommitWriter.append(spark,
        nation.select(col("n_nationkey"), col("n_name"))
          .filter(col("n_nationkey") >= 12), c.tablePath)
      writeMeta(c, "latest", 2, Map.empty, 1, 2)
      writeContent(c, "latest", nation.select("n_nationkey", "n_name"))
    }

    // ---- composite histories: several protocol features interleaved in
    // ONE table's version history, asserted at every recorded version
    // (the combinatorial depth of the published DAT corpus the container
    // cannot download — reference crates/acceptance/src/meta.rs:78-116,
    // data.rs:20-154) -------------------------------------------------

    build("composite_widen_cp_restore",
      "widen short->int, append, multipart checkpoint, append, RESTORE") { c =>
      val narrow = nation
        .select(col("n_nationkey").cast(ShortType).as("n_nationkey"),
          col("n_name"))
      CommitWriter.createTable(spark,
        narrow.filter(col("n_nationkey") < 8), c.tablePath) // v0
      val meta0 = DeltaTable.forPath(spark, c.tablePath).metadata
      CommitWriter.commitMetadata(spark, c.tablePath, meta0.copy(
        schemaString = StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType))).json)) // v1: widen
      val wide = nation.select(col("n_nationkey"), col("n_name"))
      CommitWriter.append(spark,
        wide.filter(col("n_nationkey") >= 8 && col("n_nationkey") < 16),
        c.tablePath) // v2
      CommitWriter.checkpoint(spark, c.tablePath, parts = 2) // cp @ v2
      CommitWriter.append(spark,
        wide.filter(col("n_nationkey") >= 16), c.tablePath) // v3
      graft.commands.HistoryCommand.restore(spark, c.tablePath, 2L) // v4
      writeMeta(c, "latest", 4, Map.empty, 1, 2)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeMeta(c, "v2", 2, Map.empty, 1, 2)
      writeMeta(c, "v3", 3, Map.empty, 1, 2)
      writeContent(c, "v0", narrow.filter(col("n_nationkey") < 8))
      writeContent(c, "v2", wide.filter(col("n_nationkey") < 16))
      writeContent(c, "v3", wide)
      writeContent(c, "latest", wide.filter(col("n_nationkey") < 16))
    }

    build("composite_mapping_dv",
      "column-mapped table masked by a deletion vector") { c =>
      val physical = region.repartition(1).sortWithinPartitions("r_regionkey")
        .toDF("col-1", "col-2")
      val adds = CommitWriter.writeFiles(spark, physical, c.tablePath, Seq.empty)
      val mapped = StructType(Seq(
        StructField("r_regionkey", IntegerType, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", "col-1")
            .putLong("delta.columnMapping.id", 1).build()),
        StructField("r_name", StringType, nullable = true,
          new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", "col-2")
            .putLong("delta.columnMapping.id", 2).build())))
      val meta = Actions.Metadata(
        id = java.util.UUID.randomUUID().toString, name = None,
        description = None, format = Actions.Format(),
        schemaString = mapped.json, partitionColumns = Seq.empty,
        configuration = Map("delta.columnMapping.mode" -> "name"),
        createdTime = Some(0L))
      CommitWriter.commit(spark, c.tablePath, 0L,
        Seq(CommitWriter.protocolJson(Actions.Protocol(2, 5)),
          CommitWriter.metadataJson(meta)) ++ adds.map(CommitWriter.addJson),
        "CREATE") // v0
      val add0 = DeltaTable.forPath(spark, c.tablePath).allFiles.collect().head
      val fs = LogSegment.fs(spark, new Path(c.tablePath))
      val dv = DvBitmap.writeDvFile(fs, new Path(c.tablePath), Seq(1L, 3L))
      CommitWriter.commit(spark, c.tablePath, 1L, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          add0.getAs[String]("path"), Some(0L), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE") // v1
      writeMeta(c, "latest", 1,
        Map("delta.columnMapping.mode" -> "name"), 2, 5)
      writeMeta(c, "v0", 0,
        Map("delta.columnMapping.mode" -> "name"), 2, 5)
      writeContent(c, "v0", region)
      // sorted positions 1 and 3 = r_regionkey 1 and 3
      writeContent(c, "latest",
        region.filter(!col("r_regionkey").isin(1, 3)))
    }

    build("composite_dv_checkpoint",
      "DV descriptor must survive checkpoint replay + later appends") { c =>
      val sorted = nation.filter(col("n_nationkey") < 12)
        .repartition(1).sortWithinPartitions("n_nationkey")
      CommitWriter.createTable(spark, sorted, c.tablePath) // v0
      val add0 = DeltaTable.forPath(spark, c.tablePath).allFiles.collect().head
      val fs = LogSegment.fs(spark, new Path(c.tablePath))
      val dv = DvBitmap.writeDvFile(fs, new Path(c.tablePath), Seq(1L, 3L))
      CommitWriter.commit(spark, c.tablePath, 1L, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          add0.getAs[String]("path"), Some(0L), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE") // v1
      CommitWriter.checkpoint(spark, c.tablePath) // cp @ v1 carries the DV
      CommitWriter.append(spark,
        nation.filter(col("n_nationkey") >= 12), c.tablePath) // v2
      val masked = nation.filter(!col("n_nationkey").isin(1, 3))
      writeMeta(c, "latest", 2, Map.empty, 1, 2)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeMeta(c, "v1", 1, Map.empty, 1, 2)
      writeContent(c, "v0", nation.filter(col("n_nationkey") < 12))
      writeContent(c, "v1",
        masked.filter(col("n_nationkey") < 12))
      writeContent(c, "latest", masked)
    }

    build("composite_dv_dml",
      "merge-on-read DML: DV DELETE + UPDATE, OPTIMIZE clears, " +
        "checkpoint carries the final state") { c =>
      val o = orders.select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(spark, o.repartition(3), c.tablePath,
        configuration =
          Map("delta.enableDeletionVectors" -> "true")) // v0, proto (3,7)
      graft.commands.DmlCommands.delete(spark, c.tablePath,
        col("o_orderkey") % 10 === 3) // v1: DVs, no rewrite
      graft.commands.DmlCommands.update(spark, c.tablePath,
        col("o_orderkey") % 10 === 7,
        Map("o_totalprice" -> (col("o_totalprice") + 100))) // v2: DVs + adds
      graft.commands.OptimizeCommand.optimize(spark, c.tablePath) // v3
      CommitWriter.checkpoint(spark, c.tablePath) // checkpoint w/o DVs
      val afterDelete = o.filter(col("o_orderkey") % 10 =!= 3)
      val afterUpdate = afterDelete.withColumn("o_totalprice",
        when(col("o_orderkey") % 10 === 7, col("o_totalprice") + 100)
          .otherwise(col("o_totalprice")))
      val dvProps = Map("delta.enableDeletionVectors" -> "true")
      writeMeta(c, "v0", 0, dvProps, 3, 7)
      writeMeta(c, "v1", 1, dvProps, 3, 7)
      writeMeta(c, "v2", 2, dvProps, 3, 7)
      writeMeta(c, "latest", 3, dvProps, 3, 7)
      writeContent(c, "v0", o)
      writeContent(c, "v1", afterDelete)
      writeContent(c, "v2", afterUpdate)
      writeContent(c, "latest", afterUpdate)
    }

    build("composite_full_history",
      "DV + widen + append + multipart checkpoint + append + RESTORE") { c =>
      val narrow = nation
        .select(col("n_nationkey").cast(ShortType).as("n_nationkey"),
          col("n_name"))
      CommitWriter.createTable(spark,
        narrow.filter(col("n_nationkey") < 8)
          .repartition(1).sortWithinPartitions("n_nationkey"),
        c.tablePath) // v0
      val add0 = DeltaTable.forPath(spark, c.tablePath).allFiles.collect().head
      val fs = LogSegment.fs(spark, new Path(c.tablePath))
      val dv = DvBitmap.writeDvFile(fs, new Path(c.tablePath), Seq(1L, 3L))
      CommitWriter.commit(spark, c.tablePath, 1L, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          add0.getAs[String]("path"), Some(0L), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE") // v1: DV masks keys 1,3
      val meta1 = DeltaTable.forPath(spark, c.tablePath).metadata
      CommitWriter.commitMetadata(spark, c.tablePath, meta1.copy(
        schemaString = StructType(Seq(StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType))).json)) // v2: widen
      val wide = nation.select(col("n_nationkey"), col("n_name"))
      CommitWriter.append(spark,
        wide.filter(col("n_nationkey") >= 8 && col("n_nationkey") < 16),
        c.tablePath) // v3
      CommitWriter.checkpoint(spark, c.tablePath, parts = 2) // cp @ v3
      CommitWriter.append(spark,
        wide.filter(col("n_nationkey") >= 16), c.tablePath) // v4
      graft.commands.HistoryCommand.restore(spark, c.tablePath, 3L) // v5
      val maskedNarrow = narrow
        .filter(col("n_nationkey") < 8 && !col("n_nationkey").isin(1, 3))
      val maskedWide = wide.filter(!col("n_nationkey").isin(1, 3))
      writeMeta(c, "latest", 5, Map.empty, 1, 2)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeMeta(c, "v1", 1, Map.empty, 1, 2)
      writeMeta(c, "v3", 3, Map.empty, 1, 2)
      writeMeta(c, "v4", 4, Map.empty, 1, 2)
      writeContent(c, "v0", narrow.filter(col("n_nationkey") < 8))
      writeContent(c, "v1",
        maskedNarrow)
      writeContent(c, "v3", maskedWide.filter(col("n_nationkey") < 16))
      writeContent(c, "v4", maskedWide)
      writeContent(c, "latest", maskedWide.filter(col("n_nationkey") < 16))
    }

    build("composite_cluster_widen",
      "clustered create + append + ALTER COLUMN TYPE widen + append + " +
        "bare OPTIMIZE + checkpoint") { c =>
      val narrow = nation
        .select(col("n_nationkey").cast(ShortType).as("n_nationkey"),
          col("n_name"))
      CommitWriter.createTable(spark,
        narrow.filter(col("n_nationkey") < 8), c.tablePath,
        clusterBy = Seq("n_nationkey")) // v0: clustering + domainMetadata
      CommitWriter.append(spark,
        narrow.filter(col("n_nationkey") >= 8 && col("n_nationkey") < 16),
        c.tablePath) // v1
      val g = new graft.GraftSession(spark)
      g.sql(s"ALTER TABLE '${c.tablePath}' " +
        "ALTER COLUMN n_nationkey TYPE INT") // v2: widen (typeWidening)
      val wide = nation.select(col("n_nationkey"), col("n_name"))
      CommitWriter.append(spark,
        wide.filter(col("n_nationkey") >= 16), c.tablePath) // v3
      // bare OPTIMIZE: layout comes from the recorded clustering policy;
      // dataChange=false so content is identical at v4
      graft.commands.OptimizeCommand.optimize(spark, c.tablePath) // v4
      // the clustering domain + widened schema must survive a checkpoint
      CommitWriter.checkpoint(spark, c.tablePath)
      val seg = LogSegment.forTable(spark, new Path(c.tablePath))
      require(seg.checkpointVersion.contains(4L), "checkpoint missing")
      require(graft.delta.log.Clustering.columnsOf(spark, seg) ==
        Seq("n_nationkey"), "clustering domain lost at the checkpoint")
      writeMeta(c, "v0", 0, Map.empty, 1, 7)
      writeMeta(c, "v1", 1, Map.empty, 1, 7)
      writeMeta(c, "v3", 3, Map.empty, 3, 7)
      writeMeta(c, "latest", 4, Map.empty, 3, 7)
      writeContent(c, "v0", narrow.filter(col("n_nationkey") < 8))
      writeContent(c, "v1", narrow.filter(col("n_nationkey") < 16))
      writeContent(c, "v3", wide)
      writeContent(c, "latest", wide)
    }

    build("composite_guards_restore",
      "CHECK constraint + generated column enforced through appends, " +
        "refused violating write, CoW DELETE, RESTORE, DROP CONSTRAINT") { c =>
      val base = nation.select(col("n_nationkey"), col("n_name"))
      val empty = base.limit(0)
        .withColumn("n_key2", lit(null).cast(LongType))
      CommitWriter.createTable(spark, empty, c.tablePath,
        configuration = Map("delta.constraints.key_range" ->
          "n_nationkey BETWEEN 0 AND 24")) // v0: (1,3) checkConstraints
      val meta0 = DeltaTable.forPath(spark, c.tablePath).metadata
      val tagged = meta0.dataSchema.fields.map { f =>
        if (f.name == "n_key2")
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("delta.generationExpression", "n_nationkey * 2")
            .build())
        else f
      }
      // v1: generation expression + the protocol that implies it (writer 4
      // implies checkConstraints AND generatedColumns) in ONE commit
      CommitWriter.commit(spark, c.tablePath, 1L,
        Seq(CommitWriter.protocolJson(Actions.Protocol(1, 4)),
          CommitWriter.metadataJson(meta0.copy(
            schemaString = StructType(tagged).json))),
        "SET METADATA")
      CommitWriter.append(spark,
        base.filter(col("n_nationkey") < 15), c.tablePath) // v2: computed
      // a violating write must abort leaving NO commit
      require(scala.util.Try(CommitWriter.append(spark,
          base.limit(1).withColumn("n_nationkey", lit(99L)),
          c.tablePath)).isFailure,
        "constraint-violating append must be refused")
      require(DeltaTable.forPath(spark, c.tablePath).version == 2L,
        "refused append must not commit")
      CommitWriter.append(spark,
        base.filter(col("n_nationkey") >= 15), c.tablePath) // v3: full
      graft.commands.DmlCommands.delete(spark, c.tablePath,
        col("n_nationkey") % 5 === 0) // v4: CoW rewrite recomputes n_key2
      graft.commands.HistoryCommand.restore(spark, c.tablePath, 3L) // v5
      new graft.GraftSession(spark).sql(
        s"ALTER TABLE '${c.tablePath}' DROP CONSTRAINT key_range") // v6
      val withGen = base.withColumn("n_key2", col("n_nationkey") * 2)
      writeMeta(c, "v0", 0, Map("delta.constraints.key_range" ->
        "n_nationkey BETWEEN 0 AND 24"), 1, 3)
      writeMeta(c, "v3", 3, Map("delta.constraints.key_range" ->
        "n_nationkey BETWEEN 0 AND 24"), 1, 4)
      writeMeta(c, "v4", 4, Map.empty, 1, 4)
      writeMeta(c, "latest", 6, Map.empty, 1, 4)
      writeContent(c, "v0", empty)
      writeContent(c, "v3", withGen)
      writeContent(c, "v4", withGen.filter(col("n_nationkey") % 5 =!= 0))
      writeContent(c, "latest", withGen)
    }

    build("composite_replacewhere_cdf",
      "CDF-enabled partitioned table: partition replaceWhere, " +
        "checkpoint, append — content + protocol at every label") { c =>
      val base = nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      CommitWriter.createTable(spark,
        base.filter(col("n_nationkey") < 20), c.tablePath,
        partitionColumns = Seq("n_regionkey"),
        configuration = Map("delta.enableChangeDataFeed" -> "true")) // v0
      // v1: one atomic commit replaces the n_regionkey=2 slice with
      // upper-cased names (partition fast path: replaced files decided
      // from partitionValues alone, CDC delete+insert rows recorded)
      val r2new = base
        .filter(col("n_regionkey") === 2 && col("n_nationkey") < 20)
        .withColumn("n_name", upper(col("n_name")))
      graft.commands.ReplaceWhereCommand.replaceWhere(spark, r2new,
        c.tablePath, col("n_regionkey") === 2)
      CommitWriter.checkpoint(spark, c.tablePath) // cp @ v1
      CommitWriter.append(spark,
        base.filter(col("n_nationkey") >= 20), c.tablePath) // v2 over cp
      val afterReplace = base.filter(col("n_nationkey") < 20)
        .filter(col("n_regionkey") =!= 2)
        .unionByName(r2new)
      writeMeta(c, "v0", 0,
        Map("delta.enableChangeDataFeed" -> "true"), 1, 7)
      writeMeta(c, "v1", 1,
        Map("delta.enableChangeDataFeed" -> "true"), 1, 7)
      writeMeta(c, "latest", 2,
        Map("delta.enableChangeDataFeed" -> "true"), 1, 7)
      writeContent(c, "v0", base.filter(col("n_nationkey") < 20))
      writeContent(c, "v1", afterReplace)
      writeContent(c, "latest",
        afterReplace.unionByName(base.filter(col("n_nationkey") >= 20)))
    }

    build("composite_props_protocol",
      "TBLPROPERTIES change + supported protocol upgrade mid-history") { c =>
      CommitWriter.createTable(spark,
        region.filter(col("r_regionkey") < 3), c.tablePath) // v0 (1,2)
      // v1: properties through the DDL surface (appendOnly goes live)
      new graft.GraftSession(spark).sql(s"ALTER TABLE '${c.tablePath}' " +
        "SET TBLPROPERTIES ('delta.appendOnly' = 'true', 'team' = 'ml')")
      // v2: upgrade to table-features protocol, all features supported —
      // reads AND writes must keep working, and time travel must see the
      // legacy protocol before the upgrade
      CommitWriter.commit(spark, c.tablePath, 2L,
        Seq(CommitWriter.protocolJson(Actions.Protocol(3, 7,
          Some(Seq("deletionVectors", "columnMapping")),
          Some(Seq("appendOnly", "deletionVectors", "columnMapping"))))),
        operation = "UPGRADE PROTOCOL")
      // v3: append under the upgraded protocol (appendOnly allows it)
      CommitWriter.append(spark,
        region.filter(col("r_regionkey") >= 3), c.tablePath)
      val props = Map("delta.appendOnly" -> "true", "team" -> "ml")
      writeMeta(c, "latest", 3, props, 3, 7)
      writeMeta(c, "v0", 0, Map.empty, 1, 2)
      writeMeta(c, "v1", 1, props, 1, 2)
      writeMeta(c, "v2", 2, props, 3, 7)
      writeContent(c, "v0", region.filter(col("r_regionkey") < 3))
      writeContent(c, "v1", region.filter(col("r_regionkey") < 3))
      writeContent(c, "latest", region)
    }

    build("composite_mapping_evolve",
      "column mapping + DV + RENAME/ADD COLUMN + multipart checkpoint " +
        "in one history") { c =>
      val g = new graft.GraftSession(spark)
      val sorted = region.repartition(1).sortWithinPartitions("r_regionkey")
      CommitWriter.createTableMapped(spark, sorted, c.tablePath) // v0
      // v1: DV masks physical positions 1,3 (= r_regionkey 1,3 sorted)
      val add0 = DeltaTable.forPath(spark, c.tablePath).allFiles.collect().head
      val fs = LogSegment.fs(spark, new Path(c.tablePath))
      val dv = DvBitmap.writeDvFile(fs, new Path(c.tablePath), Seq(1L, 3L))
      CommitWriter.commit(spark, c.tablePath, 1L, Seq(
        CommitWriter.removeJson(Actions.RemoveFile(
          add0.getAs[String]("path"), Some(0L), dataChange = false)),
        CommitWriter.addJson(Actions.AddFile(
          add0.getAs[String]("path"), Map.empty, add0.getAs[Long]("size"),
          add0.getAs[Long]("modificationTime"), dataChange = false,
          stats = Option(add0.getAs[String]("stats")),
          deletionVector = Some(dv)))), "DELETE")
      // v2: metadata-only rename (the whole point of mapping at 100 TB)
      g.sql(s"ALTER TABLE '${c.tablePath}' " +
        "RENAME COLUMN r_name TO region_name")
      // v3: ADD COLUMN allocates id 3 / col-3; pre-existing files serve
      // null for it through the per-file schema adapter
      g.sql(s"ALTER TABLE '${c.tablePath}' ADD COLUMN note string")
      // v4: append under the LOGICAL post-evolution names
      val extra = region.select(
        (col("r_regionkey") + 100).as("r_regionkey"),
        col("r_name").as("region_name"),
        concat(lit("note-"), col("r_regionkey")).as("note"))
      CommitWriter.append(spark, extra, c.tablePath)
      CommitWriter.checkpoint(spark, c.tablePath, parts = 2) // cp @ v4
      // v5: tail commit after the checkpoint — replay must stitch
      // multipart checkpoint + tail with mapping, DV and adapter intact
      val extra2 = region.select(
        (col("r_regionkey") + 200).as("r_regionkey"),
        col("r_name").as("region_name"),
        concat(lit("late-"), col("r_regionkey")).as("note"))
      CommitWriter.append(spark, extra2, c.tablePath)
      val masked = region.filter(!col("r_regionkey").isin(1, 3))
      val renamed = masked.select(col("r_regionkey"),
        col("r_name").as("region_name"))
      val withNote = renamed.withColumn("note", lit(null).cast("string"))
      val mapProps = Map("delta.columnMapping.mode" -> "name")
      writeMeta(c, "v0", 0,
        mapProps + ("delta.columnMapping.maxColumnId" -> "2"), 2, 5)
      writeMeta(c, "v1", 1, mapProps, 2, 5)
      writeMeta(c, "v2", 2, mapProps, 2, 5)
      writeMeta(c, "v3", 3,
        mapProps + ("delta.columnMapping.maxColumnId" -> "3"), 2, 5)
      writeMeta(c, "v4", 4, mapProps, 2, 5)
      writeMeta(c, "latest", 5, mapProps, 2, 5)
      writeContent(c, "v0", region)
      writeContent(c, "v1", masked)
      writeContent(c, "v2", renamed)
      writeContent(c, "v3", withNote)
      writeContent(c, "v4", withNote.unionByName(extra))
      writeContent(c, "latest",
        withNote.unionByName(extra).unionByName(extra2))
    }

    cases.result()
  }
}
