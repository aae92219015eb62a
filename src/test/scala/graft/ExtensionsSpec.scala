package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.delta.DeltaTable
import graft.delta.log.CommitWriter

/** spark.sql("VACUUM …") / CREATE CATALOG through the injected parser
  * (GraftExtensions): built on a sibling session that shares the
  * SparkContext but carries the extensions. */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val extSpark: SparkSession = {
    TestSpark.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.sqlext.GraftExtensions)
      .getOrCreate()
    // restore the shared session as default for other suites
    SparkSession.setDefaultSession(TestSpark.spark)
    SparkSession.setActiveSession(TestSpark.spark)
    s
  }

  test("plain spark.sql runs CREATE/DROP CATALOG via injected parser") {
    graft.catalog.LocalCatalog.clear()
    val row = extSpark.sql("CREATE CATALOG ext_cat COMMENT 'via ext'")
      .collect().head
    assert(row.getString(0) == "ext_cat")
    assert(extSpark.sql("DROP CATALOG ext_cat").collect()
      .head.getString(2) == "DROPPED")
  }

  test("plain spark.sql runs schema DDL via injected parser; foreign delegates") {
    graft.catalog.LocalCatalog.clear()
    extSpark.sql("CREATE CATALOG ext_sch_cat")
    try {
      val created = extSpark.sql("CREATE SCHEMA ext_sch_cat.ml")
        .collect().head
      assert(created.getString(0) == "ext_sch_cat.ml")
      assert(created.getString(1) == "schema")
      assert(extSpark.sql("SHOW SCHEMAS IN ext_sch_cat").collect()
        .map(_.getString(0)).toSeq == Seq("ml"))
      assert(extSpark.sql("DROP SCHEMA ext_sch_cat.ml").collect()
        .head.getString(2) == "DROPPED")
      // a NON-graft catalog's schema DDL must delegate at PARSE time
      // (the extension fixes output schemas when wrapping) — vanilla
      // Spark then fails its own way on the unknown catalog, rather
      // than a graft MatchError or a wrong-shaped result
      val e = intercept[Exception] {
        extSpark.sql("CREATE SCHEMA no_such_cat.ml").collect()
      }
      assert(!e.toString.contains("MatchError"), e.toString)
    } finally extSpark.sql("DROP CATALOG IF EXISTS ext_sch_cat CASCADE")
  }

  test("catalog-qualified 3-part name resolves through DSv2 with " +
    "snapshot refresh on lookup") {
    val d = Files.createTempDirectory("graft_cat_tbl").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = TestSpark.spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(extSpark, region, p)
    extSpark.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    graft.catalog.GraftCatalog.register("db", "region_tbl", p)
    val n0 = extSpark
      .sql("SELECT count(*) AS n FROM graft_cat.db.region_tbl")
      .head.getLong(0)
    assert(n0 == region.count())
    // SQL resolution is case-insensitive (the v2 catalog contract)
    assert(extSpark
      .sql("SELECT count(*) AS n FROM graft_cat.DB.Region_TBL")
      .head.getLong(0) == n0)
    // another writer commits — the NEXT lookup must see the new version
    // with zero explicit refresh (the reference's provider-swap)
    CommitWriter.append(extSpark, region.limit(2), p)
    val n1 = extSpark
      .sql("SELECT count(*) AS n FROM graft_cat.db.region_tbl")
      .head.getLong(0)
    assert(n1 == n0 + 2)
    // SQL CREATE TABLE ... LOCATION registers a pointer to the same data
    extSpark.sql("CREATE TABLE graft_cat.db.region2 USING graftdelta " +
      s"LOCATION '$p'")
    assert(extSpark.sql("SELECT count(*) AS n FROM graft_cat.db.region2")
      .head.getLong(0) == n1)
    // DROP unregisters the pointer; the data stays
    extSpark.sql("DROP TABLE graft_cat.db.region2")
    val cat = new graft.catalog.GraftCatalog
    cat.initialize("graft_cat",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "region2")))
    assert(DeltaTable.forPath(extSpark, p).read.count() == n1)
  }

  test("plain spark.sql runs DESCRIBE DETAIL and SET TBLPROPERTIES via injected parser") {
    val d = Files.createTempDirectory("graft_ext_detail").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = TestSpark.spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(extSpark, region, p)
    // every parseable statement plans through the injected parser:
    // GraftCommand's columns are the statement's own outputSchema
    val detail = extSpark.sql(s"DESCRIBE DETAIL '$p'").collect().head
    assert(detail.getAs[Long]("numFiles") >= 1L)
    extSpark.sql(
      s"ALTER TABLE '$p' SET TBLPROPERTIES ('delta.appendOnly' = 'true')")
    assert(DeltaTable.forPath(extSpark, p)
      .metadata.configuration("delta.appendOnly") == "true")
  }

  test("plain spark.sql runs SHOW PARTITIONS via injected parser " +
    "(metadata-only listing, mapped tables use physical keys)") {
    val d = Files.createTempDirectory("graft_ext_showpart").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = TestSpark.spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
    CommitWriter.createTable(extSpark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    val parts = extSpark.sql(s"SHOW PARTITIONS '$p'").collect()
      .map(_.getString(0))
    val expected = nation.select("n_regionkey").distinct().collect()
      .map(r => s"n_regionkey=${r.get(0)}").sorted
    assert(parts.toSeq == expected.toSeq)
    // column-mapped partitioned table: partitionValues are keyed by
    // physical col-N names in the log; the listing must still show
    // logical names and the same values
    val pm = new java.io.File(d, "tbl_cm").getAbsolutePath
    CommitWriter.createTableMapped(extSpark, nation, pm,
      partitionColumns = Seq("n_regionkey"))
    assert(extSpark.sql(s"SHOW PARTITIONS '$pm'").collect()
      .map(_.getString(0)).toSeq == expected.toSeq)
    // unpartitioned tables refuse rather than returning an empty list
    val up = new java.io.File(d, "tbl_up").getAbsolutePath
    CommitWriter.createTable(extSpark, nation, up)
    val e = intercept[Exception] {
      extSpark.sql(s"SHOW PARTITIONS '$up'").collect()
    }
    assert(e.getMessage.contains("not a partitioned table"))
    // a catalog NAME keeps delegating to vanilla Spark (its own
    // TABLE_OR_VIEW_NOT_FOUND proves our parser stayed out of the way)
    val ce = intercept[Exception] {
      extSpark.sql("SHOW PARTITIONS graft_no_such_showpart")
    }
    assert(ce.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      ce.getMessage.contains("cannot be found"))
    // trailing clauses refuse instead of silently ignoring the filter
    val pe = intercept[Exception] {
      graft.GraftSession(extSpark)
        .sql(s"SHOW PARTITIONS '$p' PARTITION (n_regionkey = 1)")
    }
    assert(pe.getMessage.contains("no clauses after"))
  }

  test("plain spark.sql runs VACUUM DRY RUN via injected parser") {
    val d = Files.createTempDirectory("graft_ext_vac").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = TestSpark.spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(extSpark, region.repartition(2), p)
    val f = DeltaTable.forPath(extSpark, p).allFiles
      .select("path").collect().head.getString(0)
    CommitWriter.commitRemoves(extSpark, p, Seq(f))
    val dry = extSpark.sql(s"VACUUM '$p' RETAIN 0 HOURS DRY RUN").collect()
    assert(dry.length == 1 && dry.head.getString(0).endsWith(f))
    val metrics = extSpark.sql(s"VACUUM '$p' RETAIN 0 HOURS").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(metrics("files_deleted") == "1")
  }

  test("spark.sql resolves a name registered with registerDelta on the " +
      "same session") {
    val d = Files.createTempDirectory("graft_ext_reg").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = TestSpark.spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(extSpark, region.repartition(2), p)
    val f = DeltaTable.forPath(extSpark, p).allFiles
      .select("path").collect().head.getString(0)
    CommitWriter.commitRemoves(extSpark, p, Seq(f))
    new GraftSession(extSpark).registerDelta("ext_reg_vac", p)
    val dry = extSpark.sql("VACUUM ext_reg_vac RETAIN 0 HOURS DRY RUN")
      .collect()
    assert(dry.length == 1 && dry.head.getString(0).endsWith(f),
      dry.mkString("; "))
    assert(dry.head.getString(0).contains(p), dry.head.getString(0))
  }

  test("non-extension SQL still parses normally") {
    assert(extSpark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // VACUUM with bad grammar falls back to Spark's parser error
    intercept[Exception] { extSpark.sql("VACUUM") }
  }

  test("every extension statement resolves through spark.sql (no MatchError)") {
    // invariant: every statement the parser produces plans and runs
    // through the injected-extension path exactly as through
    // GraftSession.sql (which specs usually exercise) — its columns
    // and its executor are declared on the statement itself
    val d = Files.createTempDirectory("graft_ext_all").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val orders = extSpark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select(col("o_orderkey"),
        col("o_custkey").cast("int").as("o_custkey"))
    CommitWriter.createTable(extSpark, orders.limit(50), p)
    // CLUSTER BY / ALTER COLUMN TYPE / MERGE DELETE via spark.sql
    extSpark.sql(s"ALTER TABLE '$p' CLUSTER BY (o_custkey)")
    extSpark.sql(s"ALTER TABLE '$p' ALTER COLUMN o_custkey TYPE BIGINT")
    val srcDir = new java.io.File(d, "src").getAbsolutePath
    orders.limit(50).where(col("o_orderkey") % 2 === 0)
      .select("o_orderkey").write.mode("overwrite").parquet(srcDir)
    extSpark.sql(s"MERGE INTO '$p' USING '$srcDir' " +
      "ON t.o_orderkey = s.o_orderkey WHEN MATCHED THEN DELETE")
    val snap = DeltaTable.forPath(extSpark, p)
    assert(snap.read.where(col("o_orderkey") % 2 === 0).count() == 0)
    assert(snap.schema("o_custkey").dataType ==
      org.apache.spark.sql.types.LongType)
    extSpark.sql(s"ALTER TABLE '$p' CLUSTER BY NONE")
    // SHOW TBLPROPERTIES + SET DEFAULT also resolve through the
    // injected wiring
    extSpark.sql(s"ALTER TABLE '$p' ALTER COLUMN o_custkey SET DEFAULT 1")
    assert(extSpark.sql(s"SHOW TBLPROPERTIES '$p'").collect() != null)
    // ANALYZE on a PATH is ours (idempotent here: stats were written)
    val an = extSpark.sql(s"ANALYZE TABLE '$p' COMPUTE DELTA STATISTICS")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(an("files_analyzed").toInt == 0)
    // ...but a catalog NAME keeps delegating to vanilla Spark (whose
    // own error proves our parser did not intercept it)
    val e = intercept[Exception] {
      extSpark.sql("ANALYZE TABLE graft_no_such_tbl COMPUTE STATISTICS")
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.contains("cannot be found"))
  }

  test("a statement's columns agree across both entry points and its " +
    "declared outputSchema") {
    // the injected parser plans with the statement's declared schema;
    // GraftSession.sql returns the frame the statement's run builds —
    // all three must be the same StructType, nullability included
    val d = Files.createTempDirectory("graft_ext_parity").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val nation = TestSpark.spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
    CommitWriter.createTable(extSpark, nation, p,
      partitionColumns = Seq("n_regionkey"))
    def parquetDir(name: String): String = {
      val dir = new java.io.File(d, name).getAbsolutePath
      nation.write.parquet(dir)
      dir
    }
    val session = GraftSession(extSpark)
    session.sql("CREATE CATALOG IF NOT EXISTS parity_cat")
    session.sql("CREATE SHARE IF NOT EXISTS parity_share")
    try {
      // (extension text, session text): the same statement, except
      // CONVERT, which needs a fresh directory per run
      val cases = Seq(
        s"VACUUM '$p' DRY RUN",
        s"FSCK REPAIR TABLE '$p' DRY RUN",
        s"DESCRIBE HISTORY '$p'",
        s"DESCRIBE DETAIL '$p'",
        "SHOW CATALOGS",
        "SHOW SCHEMAS IN parity_cat",
        "SHOW SHARES",
        "SHOW EXTERNAL LOCATIONS",
        "SHOW CONNECTIONS",
        s"SHOW TBLPROPERTIES '$p'",
        s"SHOW PARTITIONS '$p'",
        "SHOW ALL IN SHARE parity_share",
        "CREATE CATALOG IF NOT EXISTS parity_cat",
        "DROP CATALOG IF EXISTS parity_no_such_cat",
        s"OPTIMIZE '$p'" // a metrics-schema statement
      ).map(sql => sql -> sql) :+
        (s"CONVERT TO DELTA '${parquetDir("cv_ext")}'" ->
          s"CONVERT TO DELTA '${parquetDir("cv_session")}'")
      for ((extSql, sessionSql) <- cases) {
        val declared = graft.sqlext.GraftParser.parse(extSql).get.outputSchema
        assert(extSpark.sql(extSql).schema == declared, extSql)
        assert(session.sql(sessionSql).schema == declared, sessionSql)
      }
    } finally {
      session.sql("DROP SHARE IF EXISTS parity_share")
      session.sql("DROP CATALOG IF EXISTS parity_cat")
    }
  }

  test("INSERT INTO ... REPLACE WHERE runs through the injected parser; " +
    "plain INSERT INTO still delegates to Spark") {
    val d = Files.createTempDirectory("graft_ext_rw").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val orders = extSpark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumn("bucket", (col("o_orderkey") % 2).cast("int"))
    CommitWriter.createTable(extSpark, orders.limit(40), p,
      partitionColumns = Seq("bucket"))
    val before = DeltaTable.forPath(extSpark, p).read
    val keepCount = before.where(col("bucket") =!= 1).count()
    val m = extSpark.sql(s"INSERT INTO '$p' REPLACE WHERE bucket = 1 " +
      "SELECT CAST(9000001 AS BIGINT) AS o_orderkey, " +
      "CAST(5.5 AS DOUBLE) AS o_totalprice, CAST(1 AS INT) AS bucket")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("operation") == "REPLACE WHERE")
    val after = DeltaTable.forPath(extSpark, p).read
    assert(after.where(col("bucket") === 1).count() == 1)
    assert(after.where(col("bucket") =!= 1).count() == keepCount)
    // a plain INSERT INTO (no REPLACE WHERE) is NOT intercepted: it
    // falls through to Spark's parser, which rejects the non-catalog
    // path target (proving delegation, not a graft parse error)
    val e = intercept[Exception] {
      extSpark.sql(s"INSERT INTO '$p' VALUES (1, 2.0, 0)")
    }
    assert(!e.getMessage.contains("REPLACE WHERE"))
  }

  test("round-8 statements (FSCK, DROP FEATURE, COPY INTO, GENERATE) " +
    "resolve through the injected extension path") {
    val d = Files.createTempDirectory("graft_ext_r8").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val orders = extSpark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    CommitWriter.createTable(extSpark, orders.limit(20).repartition(1), p,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // FSCK both output schemas (FsckStatement.outputSchema follows dryRun)
    assert(extSpark.sql(s"FSCK REPAIR TABLE '$p' DRY RUN").collect()
      .isEmpty)
    assert(extSpark.sql(s"FSCK REPAIR TABLE '$p'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("entries_removed") == "0")
    // DROP FEATURE after disablement
    extSpark.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableChangeDataFeed' = 'false')")
    extSpark.sql(s"ALTER TABLE '$p' DROP FEATURE changeDataFeed")
    // COPY INTO
    val srcDir = new java.io.File(d, "src").getAbsolutePath
    orders.limit(5).withColumn("o_orderkey", col("o_orderkey") + 8000000L)
      .repartition(1).write.mode("overwrite").parquet(srcDir)
    assert(extSpark.sql(s"COPY INTO '$p' FROM '$srcDir'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("files_loaded") == "1")
    // GENERATE
    assert(extSpark.sql(
      s"GENERATE symlink_format_manifest FOR TABLE '$p'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply("manifests_written") == "1")
    assert(DeltaTable.forPath(extSpark, p).read.count() == 25)
  }

  test("CTAS and sync MERGE resolve through the injected extension path") {
    val d = Files.createTempDirectory("graft_ext_ctas").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    // path-addressed CTAS: partitioned, with properties, via spark.sql
    val m = extSpark.sql(
      s"CREATE TABLE '$p' PARTITIONED BY (bucket) " +
        "TBLPROPERTIES ('delta.checkpointInterval' = '100') AS " +
        s"SELECT o_orderkey, o_totalprice, " +
        s"CAST(o_orderkey % 2 AS INT) AS bucket " +
        s"FROM parquet.`${TestSpark.sf}/orders.parquet` " +
        "WHERE o_orderkey <= 100")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("altered").startsWith("created"))
    val snap = DeltaTable.forPath(extSpark, p)
    assert(snap.partitionColumns == Seq("bucket"))
    assert(snap.metadata.configuration
      .get("delta.checkpointInterval").contains("100"))
    val created = snap.read.count()
    assert(created > 0)
    // IF NOT EXISTS on an existing table: a no-op, not an error
    val skip = extSpark.sql(
      s"CREATE TABLE IF NOT EXISTS '$p' AS SELECT 1 AS x")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(skip("altered").startsWith("skipped"))
    assert(DeltaTable.forPath(extSpark, p).read.count() == created)
    // plain CREATE without IF NOT EXISTS fails fast
    val e = intercept[Exception] {
      extSpark.sql(s"CREATE TABLE '$p' AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("already exists"))
    // catalog-table CTAS (no path) still delegates to Spark untouched
    extSpark.sql("CREATE TABLE graft_ext_ctas_plain AS SELECT 1 AS a")
    try assert(extSpark.table("graft_ext_ctas_plain").count() == 1)
    finally extSpark.sql("DROP TABLE graft_ext_ctas_plain")
    // full-sync MERGE through the injected path
    extSpark.read.format("graftdelta").option("path", p).load()
      .where(col("o_orderkey") <= 40)
      .createOrReplaceTempView("graft_ext_sync_src")
    extSpark.sql(s"MERGE INTO '$p' USING graft_ext_sync_src " +
      "ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(DeltaTable.forPath(extSpark, p).read.count() ==
      extSpark.table("graft_ext_sync_src").count())
    // CREATE OR REPLACE: schema + partitioning replaced wholesale in
    // one commit, history intact
    val preReplace = DeltaTable.forPath(extSpark, p).version
    extSpark.sql(s"CREATE OR REPLACE TABLE '$p' AS " +
      "SELECT CAST(7 AS BIGINT) AS only_col")
    val replaced = DeltaTable.forPath(extSpark, p)
    assert(replaced.schema.fieldNames.toSeq == Seq("only_col"))
    assert(replaced.partitionColumns.isEmpty)
    assert(replaced.read.count() == 1)
    // the pre-replace version still reads with its own schema
    val old = DeltaTable.forPath(extSpark, p, Some(preReplace))
    assert(old.schema.fieldNames.contains("o_orderkey"))
    assert(old.read.count() ==
      extSpark.table("graft_ext_sync_src").count())
  }

  test("table_changes TVF serves the derived change feed through SQL") {
    val d = Files.createTempDirectory("graft_ext_tc").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = TestSpark.spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(extSpark, region.limit(3), p) // v0
    CommitWriter.append(extSpark, region.limit(2), p) // v1
    // v1-only span: exactly the appended rows, labeled insert
    val changes = extSpark.sql(
      s"SELECT _change_type, _commit_version FROM table_changes('$p', 1)")
      .collect()
    assert(changes.length == 2)
    assert(changes.forall(r =>
      r.getString(0) == "insert" && r.getLong(1) == 1L))
    // explicit end version + aggregation over the TVF relation
    val n = extSpark.sql(
      s"SELECT count(*) FROM table_changes('$p', 0, 1)").head().getLong(0)
    assert(n == 5L)
    // bad arity / non-literal args fail with the function's message
    val e = intercept[Exception] {
      extSpark.sql(s"SELECT * FROM table_changes('$p')").collect()
    }
    assert(e.getMessage.contains("table_changes"))
  }

  test("registerTableChanges brings the TVF to a session built " +
      "WITHOUT the extension") {
    val plain = TestSpark.spark // no GraftExtensions configured
    val d = Files.createTempDirectory("graft_reg_tc").toFile
    d.deleteOnExit()
    val p = new java.io.File(d, "tbl").getAbsolutePath
    val region = plain.read.parquet(s"${TestSpark.sf}/region.parquet")
    CommitWriter.createTable(plain, region.limit(3), p) // v0
    CommitWriter.append(plain, region.limit(2), p) // v1
    graft.sqlext.GraftExtensions.registerTableChanges(plain)
    val changes = plain.sql(
      s"SELECT _change_type, _commit_version FROM table_changes('$p', 1)")
      .collect()
    assert(changes.length == 2)
    assert(changes.forall(r =>
      r.getString(0) == "insert" && r.getLong(1) == 1L))
    // idempotent: a second registration replaces the same builder
    graft.sqlext.GraftExtensions.registerTableChanges(plain)
    assert(plain.sql(s"SELECT count(*) FROM table_changes('$p', 0, 1)")
      .head().getLong(0) == 5L)
  }

  test("vector_dot is SQL-callable through the injected function") {
    val d = extSpark.sql(
      """SELECT vector_dot(
        |  CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |  CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d""".stripMargin)
      .head().getDouble(0)
    assert(d == 11.0)
  }
}
