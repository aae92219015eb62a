package graft.queries

import java.io.File
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.delta.{DeltaTable, Snapshot}
import graft.delta.log.{Actions, CommitWriter, LogSegment, Replay}
import graft.delta.scan.DvBitmap

/** Tier A Delta-layer queries (SURVEY.md §2 A1-A12, A28): each builds a
  * real Delta table fixture from the driver parquet testdata (cached on
  * disk, deterministic), reads it through the graft Delta layer, and is
  * oracle-checked against equivalent SQL over the raw parquet.
  */
object DeltaQueries {

  /** Fixture root, keyed by scale factor so sf0.001/sf0.01/sf0.1 coexist. */
  private def fixtureDir(sfDir: String, name: String): String = {
    val sf = new File(sfDir).getName
    s"/root/repo/target/delta_fixtures/$sf/$name"
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_delta_log")
    LogSegment.fs(spark, p).exists(p)
  }

  /** Identity of the source parquet drop under sfDir: sorted
    * (name, size, content-sha256) tuples. The driver regenerates
    * /root/testdata between rounds, and a fixture built from a previous
    * drop would silently diverge from the oracle (which always reads
    * the live parquet). CONTENT hashes — not (size, mtime) — catch
    * even a regeneration that preserves both timestamp and byte count
    * (cp -p / rsync -a of an equal-length drop). Hashes memoize per
    * (path, size, mtime) within the process, so repeated ensure() calls
    * re-stat but do not re-read; a fresh JVM (every round boundary,
    * where regeneration actually happens) re-hashes from bytes. */
  private val hashMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Simulate a fresh JVM (the round boundary, where regeneration
    * actually happens) in specs: the memo intentionally trusts
    * (path, size, mtime) WITHIN a process. */
  private[graft] def resetHashMemoForTest(): Unit = hashMemo.clear()
  private[graft] def contentSha(f: File): String = {
    val memoKey = s"${f.getAbsolutePath}:${f.length()}:${f.lastModified()}"
    hashMemo.computeIfAbsent(memoKey,
      _ => graft.delta.log.Digests.sha256HexOf(f))
  }
  private def sourceSig(sfDir: String): String =
    Option(new File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getName}:${f.length()}:${contentSha(f)}")
      .sorted.mkString("\n")

  // SIBLING of the fixture dir, never inside it: the dir_listing /
  // sign_url oracles assume the table dir holds only log-determined
  // content
  private def stampFile(path: String) =
    new File(path.stripSuffix("/") + "_src_sig")

  /** Record, next to the fixture dir, the exact source drop it was
    * built from. Every fixture build site must call this LAST. */
  private[graft] def writeStamp(path: String, sfDir: String): Unit =
    java.nio.file.Files.write(stampFile(path).toPath,
      sourceSig(sfDir).getBytes("UTF-8"))

  /** A fixture is stale when it carries no source signature or the
    * signature no longer matches the live testdata drop. */
  private[graft] def stale(path: String, sfDir: String): Boolean = {
    val f = stampFile(path)
    !f.exists() || new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") !=
      sourceSig(sfDir)
  }

  /** Build-once guard. Fixtures are deterministic functions of the
    * testdata, so rebuild only when absent or older than the testdata. */
  private def ensure(spark: SparkSession, sfDir: String, name: String)(
      build: String => Unit): String = {
    val path = fixtureDir(sfDir, name)
    this.synchronized {
      if (!exists(spark, path) || stale(path, sfDir)) {
        val dir = new File(path)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        build(path)
        writeStamp(path, sfDir)
      }
    }
    path
  }

  private def li(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/customer.parquet")

  /** Disjoint key shift for fixture re-inserts: max(o_orderkey)+1, so
    * shifted keys can never collide with real orderkeys at ANY scale
    * factor (a fixed constant collides once keys pass it — orderkeys
    * reach ~6M x SF). The oracle SQL mirrors it as a subselect. */
  private def keyShift(o: DataFrame): Long =
    o.agg(max("o_orderkey")).head.get(0) match {
      case n: Number => n.longValue + 1
    }

  // ---- fixture builders ---------------------------------------------

  def basicTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "basic") { p =>
      CommitWriter.createTable(s, li(s, sfDir), p)
    }

  /** SF-INDEPENDENT log fixture (nation.parquet is byte-identical at
    * every sf), living at a FIXED absolute path: this is what lets the
    * static oracle SQL read the `_delta_log` JSON directly via DuckDB
    * read_json_auto — the log-surface queries (delta_log, log_replay,
    * describe_history) get REAL content oracles instead of rows-only
    * checks. Recipe (fully deterministic: partition-by-column writes,
    * lexicographically-first file removed): create partitioned by
    * n_regionkey (5 adds) -> append regions 0-1 (2 adds) -> remove the
    * first file (1 remove). NEVER checkpoint or mutate this fixture:
    * the oracles read `*.json` commits only, and the Spark side must
    * keep replaying the identical action set (vacuum runs DRY RUN
    * only). */
  final val LogDemoPath = "/root/repo/target/delta_fixtures/shared/logdemo"

  /** DuckDB source over the fixture's log: every action column pinned to
    * JSON (inference would type sparse keys inconsistently across
    * sample windows), extracted with ->> in the oracles. */
  private[queries] val logJsonSrc: String =
    s"""read_json('$LogDemoPath/_delta_log/*.json', filename=true,
       |    format='newline_delimited',
       |    columns={"add": 'JSON', "remove": 'JSON', "metaData": 'JSON',
       |             "protocol": 'JSON', "commitInfo": 'JSON'})""".stripMargin

  /** SF-independent CHECKPOINTED fixture: create nation partitioned by
    * n_regionkey (5 adds) -> idempotent append of regions 0-1 under
    * appId "writer-1" txn 5 -> remove the lexicographically-first file
    * -> checkpoint. The post-checkpoint segment starts AT the
    * checkpoint, so everything q_checkpoint_state reads (live files,
    * row counts, tombstones, txn state) must survive through checkpoint
    * retention — the round-2 protocol work, visible to the driver gate. */
  final val LogDemoCpPath = "/root/repo/target/delta_fixtures/shared/logdemo_cp"

  def checkpointedTable(s: SparkSession, sfDir: String): String = {
    this.synchronized {
      if (!exists(s, LogDemoCpPath) || stale(LogDemoCpPath, sfDir)) {
        val dir = new File(LogDemoCpPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
        CommitWriter.createTable(s, n, LogDemoCpPath,
          partitionColumns = Seq("n_regionkey"))
        CommitWriter.appendIfAbsent(s, n.where(col("n_regionkey") < 2),
          LogDemoCpPath, appId = "writer-1", txnVersion = 5L)
        val first = DeltaTable.forPath(s, LogDemoCpPath).allFiles
          .select("path").orderBy("path").limit(1).collect()(0).getString(0)
        CommitWriter.commitRemoves(s, LogDemoCpPath, Seq(first))
        CommitWriter.checkpoint(s, LogDemoCpPath)
        writeStamp(LogDemoCpPath, sfDir)
      }
    }
    LogDemoCpPath
  }

  /** SF-independent V2-CHECKPOINTED fixture: same recipe as
    * [[checkpointedTable]] (create partitioned nation -> idempotent
    * append under appId "writer-2" txn 7 -> remove first file) but the
    * table declares the v2Checkpoint feature, so [[CommitWriter.checkpoint]]
    * writes a native UUID-named manifest + 2 parquet sidecars. The
    * oracle reads the sidecar / manifest parquet DIRECTLY, so the round gate verifies the v2
    * artifact's layout, not just that graft can read its own work. */
  final val LogDemoV2CpPath =
    "/root/repo/target/delta_fixtures/shared/logdemo_v2cp"

  def v2CheckpointedTable(s: SparkSession, sfDir: String): String = {
    this.synchronized {
      val ok = exists(s, LogDemoV2CpPath) &&
        !stale(LogDemoV2CpPath, sfDir) &&
        DeltaTable.forPath(s, LogDemoV2CpPath).segment.checkpointIsV2
      if (!ok) {
        val dir = new File(LogDemoV2CpPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
        CommitWriter.createTable(s, n, LogDemoV2CpPath,
          partitionColumns = Seq("n_regionkey"))
        CommitWriter.appendIfAbsent(s, n.where(col("n_regionkey") < 2),
          LogDemoV2CpPath, appId = "writer-2", txnVersion = 7L)
        val proto = graft.delta.log.ProtocolSupport.withReaderWriterFeature(
          DeltaTable.forPath(s, LogDemoV2CpPath).protocol, "v2Checkpoint").get
        CommitWriter.commit(s, LogDemoV2CpPath,
          DeltaTable.forPath(s, LogDemoV2CpPath).version + 1,
          Seq(CommitWriter.protocolJson(proto)), "UPGRADE PROTOCOL")
        val first = DeltaTable.forPath(s, LogDemoV2CpPath).allFiles
          .select("path").orderBy("path").limit(1).collect()(0).getString(0)
        CommitWriter.commitRemoves(s, LogDemoV2CpPath, Seq(first))
        CommitWriter.checkpoint(s, LogDemoV2CpPath, parts = 2)
        writeStamp(LogDemoV2CpPath, sfDir)
      }
    }
    LogDemoV2CpPath
  }

  /** SF-independent AUTO-COMPACTED fixture (nation is byte-identical at
    * every sf): create with `delta.autoOptimize.autoCompact` (1 file)
    * -> three single-file appends with the qualification threshold at
    * 4 -> the 4th small file triggers post-commit compaction to ONE
    * file -> VACUUM RETAIN 0 removes the superseded originals, so the
    * table dir's top-level parquet IS the live file set and the oracle
    * verifies the compaction from DISK (file count + full content),
    * not from graft's own log replay. */
  final val AutoCompactDemoPath =
    "/root/repo/target/delta_fixtures/shared/autocompact"

  def autoCompactDemoTable(s: SparkSession, sfDir: String): String = {
    this.synchronized {
      if (!exists(s, AutoCompactDemoPath) ||
          stale(AutoCompactDemoPath, sfDir)) {
        val dir = new File(AutoCompactDemoPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
          .orderBy("n_nationkey")
        s.conf.set("spark.lakehouse.autoCompact.minNumFiles", "4")
        try {
          CommitWriter.createTable(s, n.limit(10).coalesce(1),
            AutoCompactDemoPath,
            configuration = Map(CommitWriter.AutoCompactPropKey -> "true"))
          CommitWriter.append(s,
            n.where(col("n_nationkey") >= 10 && col("n_nationkey") < 15)
              .coalesce(1), AutoCompactDemoPath)
          CommitWriter.append(s,
            n.where(col("n_nationkey") >= 15 && col("n_nationkey") < 20)
              .coalesce(1), AutoCompactDemoPath)
          CommitWriter.append(s,
            n.where(col("n_nationkey") >= 20).coalesce(1),
            AutoCompactDemoPath) // 4th small file -> compaction commit
        } finally s.conf.unset("spark.lakehouse.autoCompact.minNumFiles")
        graft.commands.VacuumCommand.vacuum(s, AutoCompactDemoPath,
          retentionHours = Some(0.0), dryRun = false)
        writeStamp(AutoCompactDemoPath, sfDir)
      }
    }
    AutoCompactDemoPath
  }

  def logDemoTable(s: SparkSession, sfDir: String): String = {
    this.synchronized {
      if (!exists(s, LogDemoPath) || stale(LogDemoPath, sfDir)) {
        val dir = new File(LogDemoPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
        CommitWriter.createTable(s, n, LogDemoPath,
          partitionColumns = Seq("n_regionkey"))
        CommitWriter.append(s, n.where(col("n_regionkey") < 2), LogDemoPath)
        val first = DeltaTable.forPath(s, LogDemoPath).allFiles
          .select("path").orderBy("path").limit(1).collect()(0).getString(0)
        CommitWriter.commitRemoves(s, LogDemoPath, Seq(first))
        writeStamp(LogDemoPath, sfDir)
      }
    }
    LogDemoPath
  }

  /** SF-independent IDENTITY fixture (nation is byte-identical at every
    * sf): v0 empty create (id BIGINT, n_nationkey, n_name) -> v1 tags
    * `id` as GENERATED ALWAYS AS IDENTITY (START 1000 STEP 10) -> v2
    * appends nations 0-11 across 3 partitions (engine allocates ids,
    * high-water mark rides the commit) -> v3 appends the rest (allocated
    * strictly past the recorded mark). The oracle reads the table's OWN
    * parquet files, so the invariant columns (count, distinct, >= start,
    * congruence mod step) are genuine content checks of what the
    * allocator baked into the files. */
  final val IdentityDemoPath =
    "/root/repo/target/delta_fixtures/shared/identity"

  def identityDemoTable(s: SparkSession, sfDir: String): String = {
    this.synchronized {
      if (!exists(s, IdentityDemoPath)) {
        val dir = new File(IdentityDemoPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
          .select(col("n_nationkey").cast(LongType), col("n_name"))
        val empty = n.limit(0)
          .withColumn("id", lit(null).cast(LongType))
          .select("id", "n_nationkey", "n_name")
        CommitWriter.createTable(s, empty, IdentityDemoPath)
        val meta = DeltaTable.forPath(s, IdentityDemoPath).metadata
        val tagged = meta.dataSchema.fields.map { f =>
          if (f.name == "id")
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong("delta.identity.start", 1000L)
              .putLong("delta.identity.step", 10L).build())
          else f
        }
        CommitWriter.commitMetadata(s, IdentityDemoPath,
          meta.copy(schemaString = StructType(tagged).json))
        CommitWriter.append(s,
          n.where(col("n_nationkey") < 12).repartition(3), IdentityDemoPath)
        CommitWriter.append(s,
          n.where(col("n_nationkey") >= 12), IdentityDemoPath)
      }
    }
    IdentityDemoPath
  }

  /** CHECK-constraint lifecycle fixture (writer feature
    * `checkConstraints`): v0 creates WITH a declared constraint, then
    * two refusals that must leave NO commit behind — a violating append
    * (inline raise_error guard aborts the write job) and an ADD
    * CONSTRAINT whose validation scan finds existing violations — then
    * v1 adds a second constraint, v2 appends rows satisfying both, v3
    * drops the original. The builder itself asserts both refusals, so
    * the durable log (exactly 4 commits) is evidence they committed
    * nothing. */
  def constrainedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "constrained") { p =>
      val n = s.read.parquet(s"$sfDir/nation.parquet")
      CommitWriter.createTable(s, n.where(col("n_nationkey") < 12), p,
        configuration = Map(
          "delta.constraints.region_range" -> "n_regionkey BETWEEN 0 AND 4"))
      val bad = n.limit(1).withColumn("n_regionkey",
        lit(99).cast(n.schema("n_regionkey").dataType))
      require(scala.util.Try(CommitWriter.append(s, bad, p)).isFailure,
        "violating append must be rejected by the inline guard")
      require(DeltaTable.forPath(s, p).version == 0L,
        "rejected append must not commit")
      val g = graft.GraftSession(s)
      require(scala.util.Try(g.sql(s"ALTER TABLE '$p' ADD CONSTRAINT " +
          "impossible CHECK (n_nationkey >= 5)")).isFailure,
        "ADD CONSTRAINT over violating rows must be refused")
      require(DeltaTable.forPath(s, p).version == 0L,
        "refused ADD CONSTRAINT must not commit")
      g.sql(s"ALTER TABLE '$p' ADD CONSTRAINT key_nonneg " +
        "CHECK (n_nationkey >= 0)")
      CommitWriter.append(s, n.where(col("n_nationkey") >= 12), p)
      g.sql(s"ALTER TABLE '$p' DROP CONSTRAINT region_range")
    }

  /** Stable alias for the constraint fixture (ClusterOracleAlias
    * pattern). */
  final val ConstraintOracleAlias =
    "/root/repo/target/delta_fixtures/constrained_current"

  /** Generated-column fixture (writer feature `generatedColumns`):
    * v0 empty create, v1 tags `o_year` with
    * `delta.generationExpression=year(o_orderdate)`, v2 appends WITHOUT
    * the column (the engine computes it inline), v3 appends WITH a
    * consistent provided value (validated null-safe-equal). A write
    * providing an INCONSISTENT value must abort uncommitted — asserted
    * here so v3 being the head is durable evidence. */
  def generatedColsTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "generated_cols") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val empty = o.limit(0)
        .withColumn("o_year", lit(null).cast(IntegerType))
      CommitWriter.createTable(s, empty, p)
      val meta = DeltaTable.forPath(s, p).metadata
      val tagged = meta.dataSchema.fields.map { f =>
        if (f.name == "o_year")
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("delta.generationExpression", "year(o_orderdate)")
            .build())
        else f
      }
      CommitWriter.commitMetadata(s, p,
        meta.copy(schemaString = StructType(tagged).json))
      CommitWriter.append(s, o.where(col("o_orderkey") % 2 === 0), p)
      CommitWriter.append(s, o.where(col("o_orderkey") % 2 === 1)
        .withColumn("o_year", year(col("o_orderdate"))), p)
      val bad = o.limit(1).withColumn("o_year", lit(1900))
      require(scala.util.Try(CommitWriter.append(s, bad, p)).isFailure,
        "inconsistent generated value must be rejected")
      require(DeltaTable.forPath(s, p).version == 3L,
        "rejected write must not commit")
    }

  /** RESTORE fixture: v0 half of orders, v1 the rest (full content),
    * v2 a DELETE diverges, v3 RESTORE TO VERSION AS OF 1 reverts to the
    * full content without touching data files. */
  def restoredTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "restored") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.where(col("o_orderkey") % 2 === 0), p)
      CommitWriter.append(s, o.where(col("o_orderkey") % 2 === 1), p)
      val g = graft.GraftSession(s)
      g.sql(s"DELETE FROM '$p' WHERE o_custkey % 10 = 3")
      g.sql(s"RESTORE '$p' TO VERSION AS OF 1")
    }

  /** Shallow-clone source: v0 even orderkeys, v1 the rest. Its own
    * fixture so the clone's absolute file references stay valid across
    * rebuilds (both stamp off the same source drop). */
  def cloneSrcTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "clone_src") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.where(col("o_orderkey") % 2 === 0), p)
      CommitWriter.append(s, o.where(col("o_orderkey") % 2 === 1), p)
    }

  /** GENERATE fixture: a partitioned table whose per-partition file
    * sets were REWRITTEN by OPTIMIZE (the originals still sit in the
    * directories, removed-but-unvacuumed), then one GENERATE. The
    * manifests must enumerate exactly the post-OPTIMIZE live set — a
    * reader of stale paths would double-count every compacted row. */
  def manifestTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "manifested") { p =>
      val n = s.read.parquet(s"$sfDir/nation.parquet")
      CommitWriter.createTable(s, n.repartition(3), p,
        partitionColumns = Seq("n_regionkey"))
      graft.commands.OptimizeCommand.optimize(s, p, minFiles = 2)
      graft.GraftSession(s).sql(
        s"GENERATE symlink_format_manifest FOR TABLE '$p'")
    }

  /** Stable alias for the GENERATE fixture. */
  final val ManifestOracleAlias =
    "/root/repo/target/delta_fixtures/manifested_current"

  /** OPTIMIZE WHERE fixture: three mod-3 slices of nation land 2-3
    * files in EVERY n_regionkey partition (5 keys over 3 residues —
    * pigeonhole guarantees >=2 nonempty slices per region), then one
    * partition-scoped OPTIMIZE compacts region 2 alone. */
  def optimizeWhereTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "optimize_where") { p =>
      val n = s.read.parquet(s"$sfDir/nation.parquet")
      CommitWriter.createTable(s, n.where(col("n_nationkey") % 3 === 0), p,
        partitionColumns = Seq("n_regionkey"))
      CommitWriter.append(s, n.where(col("n_nationkey") % 3 === 1), p)
      CommitWriter.append(s, n.where(col("n_nationkey") % 3 === 2), p)
      graft.GraftSession(s).sql(s"OPTIMIZE '$p' WHERE n_regionkey = 2")
    }

  /** Stable alias for the OPTIMIZE WHERE fixture. */
  final val OptWhereOracleAlias =
    "/root/repo/target/delta_fixtures/optimize_where_current"

  /** Catalog-qualified maintenance + DML: OPTIMIZE and DELETE are
    * issued against `graft.db.catalog_dml` — never a path — closing
    * the reference's `todo!("multi-part table name support")`
    * (crates/datafusion/src/commands/vacuum/mod.rs:62). Three mod-3
    * slices of nation give OPTIMIZE real work; the DELETE then drops
    * every fifth nationkey. */
  def catalogDmlTable(s: SparkSession, sfDir: String): String = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    ensure(s, sfDir, "catalog_dml") { p =>
      val n = s.read.parquet(s"$sfDir/nation.parquet")
      CommitWriter.createTable(s, n.where(col("n_nationkey") % 3 === 0), p)
      CommitWriter.append(s, n.where(col("n_nationkey") % 3 === 1), p)
      CommitWriter.append(s, n.where(col("n_nationkey") % 3 === 2), p)
      graft.catalog.GraftCatalog.register("db", "catalog_dml", p)
      val gs = graft.GraftSession(s)
      gs.sql("OPTIMIZE graft.db.catalog_dml")
      gs.sql("DELETE FROM graft.db.catalog_dml WHERE n_nationkey % 5 = 0")
    }
  }

  /** Shallow clone pinned at source v0 (even keys only), then a local
    * append of the odd keys with o_totalprice DOUBLED — the clone's
    * content provably diverges from both the source and raw orders,
    * and the source must be untouched by the clone-side write. */
  def clonedTable(s: SparkSession, sfDir: String): String = {
    val src = cloneSrcTable(s, sfDir)
    ensure(s, sfDir, "cloned") { p =>
      graft.GraftSession(s).sql(
        s"CREATE TABLE '$p' SHALLOW CLONE '$src' VERSION AS OF 0")
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.append(s, o.where(col("o_orderkey") % 2 === 1)
        .withColumn("o_totalprice", col("o_totalprice") * 2), p)
      require(DeltaTable.forPath(s, src).version == 1L,
        "clone-side append must not touch the source table")
    }
  }

  /** A stats-less history repaired by ANALYZE: ranged commits written
    * under dataSkippingNumIndexedCols=0 (numRecords-only stats — the
    * foreign/minimal-writer shape), the cap then lifted and
    * ANALYZE TABLE recollecting column stats without rewriting data. */
  def analyzedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "analyzed") { p =>
      val o = orders(s, sfDir)
      val mid = o.agg(expr("percentile(o_orderkey, 0.5)")).head().getDouble(0)
      CommitWriter.createTable(s,
        o.filter(col("o_orderkey") <= mid).repartition(2), p,
        configuration = Map(
          CommitWriter.DataSkippingNumIndexedColsKey -> "0"))
      CommitWriter.append(s,
        o.filter(col("o_orderkey") > mid).repartition(2), p)
      val g = new graft.GraftSession(s)
      g.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
        s"('${CommitWriter.DataSkippingNumIndexedColsKey}' = '32')")
      g.sql(s"ANALYZE TABLE '$p' COMPUTE DELTA STATISTICS")
    }

  /** 4 commits with disjoint o_orderkey ranges → 4+ files with disjoint
    * min/max stats (file-skipping target). */
  def rangedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "ranged") { p =>
      val o = orders(s, sfDir)
      val q1 = o.agg(expr("percentile(o_orderkey, 0.25)")).head().getDouble(0)
      val q2 = o.agg(expr("percentile(o_orderkey, 0.5)")).head().getDouble(0)
      val q3 = o.agg(expr("percentile(o_orderkey, 0.75)")).head().getDouble(0)
      CommitWriter.createTable(s, o.filter(col("o_orderkey") <= q1).repartition(1), p)
      CommitWriter.append(s, o.filter(col("o_orderkey") > q1 && col("o_orderkey") <= q2).repartition(1), p)
      CommitWriter.append(s, o.filter(col("o_orderkey") > q2 && col("o_orderkey") <= q3).repartition(1), p)
      CommitWriter.append(s, o.filter(col("o_orderkey") > q3).repartition(1), p)
      CommitWriter.checkpoint(s, p)
    }

  def partitionedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "partitioned") { p =>
      CommitWriter.createTable(s, orders(s, sfDir), p,
        partitionColumns = Seq("o_orderstatus"))
    }

  /** v0: totalprice <= 250000 rows; v1: the rest (time-travel target). */
  def versionedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "versioned") { p =>
      val o = orders(s, sfDir)
      CommitWriter.createTable(s, o.filter(col("o_totalprice") <= 250000), p)
      CommitWriter.append(s, o.filter(col("o_totalprice") > 250000), p)
    }

  /** v0 create (cheap orders) -> v1 append (expensive) -> v2 DELETE of
    * every 7th orderkey -> v3 UPDATE (+50 on every 11th) -> v4 MERGE
    * (source = every 13th key with totalprice+1000; matched keys
    * update, keys deleted at v2 re-insert) — the change-feed fixture:
    * the span exercises insert, delete, update_preimage/postimage from
    * an UPDATE, AND the key-paired labels of a derived (non-CDF) MERGE
    * commit. */
  def cdcTable(s: SparkSession, sfDir: String): String = {
    val path = fixtureDir(sfDir, "cdc")
    this.synchronized {
      // version-aware guard (like mergedTable): the recipe grew a v4
      // MERGE, so a shorter fixture from an earlier build must rebuild
      // even when it postdates the testdata
      val done = new File(path, "_delta_log").exists() &&
        !stale(path, sfDir) &&
        DeltaTable.forPath(s, path).version >= 4
      if (!done) {
        if (new File(path).exists())
          scala.reflect.io.Directory(new File(path)).deleteRecursively()
        val o = orders(s, sfDir)
        CommitWriter.createTable(s, o.filter(col("o_totalprice") <= 250000), path)
        CommitWriter.append(s, o.filter(col("o_totalprice") > 250000), path)
        graft.commands.DmlCommands.delete(s, path, col("o_orderkey") % 7 === 0)
        graft.commands.DmlCommands.update(s, path, col("o_orderkey") % 11 === 0,
          Map("o_totalprice" -> (col("o_totalprice") + 50)))
        graft.commands.MergeCommand.upsert(s, path,
          o.filter(col("o_orderkey") % 13 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 1000),
          Seq("o_orderkey"))
        writeStamp(path, sfDir)
      }
    }
    path
  }

  /** Write-time CDC fixture: orders (3 key columns) with
    * `delta.enableChangeDataFeed=true`, so every DML/MERGE commit
    * writes labeled cdc files under `_change_data/` — v1 DELETE (every
    * 7th key), v2 UPDATE (+50 on every 11th), v3 MERGE (+1000 upsert on
    * every 100th, plus shifted inserts of keys < 10). The MERGE commit
    * is the payoff: per-row insert-vs-update labels no derived diff can
    * reconstruct. */
  def cdfWriteTable(s: SparkSession, sfDir: String): String = {
    val path = fixtureDir(sfDir, "cdf_write")
    this.synchronized {
      val done = new File(path, "_delta_log").exists() &&
        !stale(path, sfDir) &&
        DeltaTable.forPath(s, path).version >= 3
      if (!done) {
        if (new File(path).exists())
          scala.reflect.io.Directory(new File(path)).deleteRecursively()
        val o = orders(s, sfDir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        CommitWriter.createTable(s, o.repartition(4), path,
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        graft.commands.DmlCommands.delete(s, path,
          col("o_orderkey") % 7 === 0)
        graft.commands.DmlCommands.update(s, path,
          col("o_orderkey") % 11 === 0,
          Map("o_totalprice" -> (col("o_totalprice") + 50)))
        val src = o.where(col("o_orderkey") % 100 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .unionByName(o.where(col("o_orderkey") < 10)
            .withColumn("o_orderkey", col("o_orderkey") + keyShift(o)))
        graft.commands.MergeCommand.upsert(s, path, src, Seq("o_orderkey"))
        writeStamp(path, sfDir)
      }
    }
    path
  }

  /** Commit 0 lacks o_orderstatus (even keys); schema evolves; commit 2
    * has it (odd keys). Old files impute null. */
  def evolvedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "evolved") { p =>
      val o = orders(s, sfDir)
      val oldCols = o.select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, oldCols.filter(col("o_orderkey") % 2 === 0), p)
      val meta0 = DeltaTable.forPath(s, p).metadata
      val newSchema = StructType(oldCols.schema.fields :+
        StructField("o_orderstatus", StringType))
      CommitWriter.commitMetadata(s, p, meta0.copy(schemaString = newSchema.json))
      CommitWriter.append(s,
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .filter(col("o_orderkey") % 2 === 1), p)
    }

  /** Nested-struct table whose inner struct gains a field mid-log:
    * commit 0 writes info=struct(status) (even keys), schema evolves to
    * struct(status, price), commit 2 writes both (odd keys). Old files
    * must impute the missing NESTED field as null (A8 apply_schema
    * semantics). */
  def nestedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "nested") { p =>
      val o = orders(s, sfDir)
      val narrow = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status")).as("info"))
      CommitWriter.createTable(s, narrow, p)
      val meta0 = DeltaTable.forPath(s, p).metadata
      val evolved = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("info", StructType(Seq(
          StructField("status", StringType),
          StructField("price", DoubleType))))))
      CommitWriter.commitMetadata(s, p, meta0.copy(schemaString = evolved.json))
      CommitWriter.append(s,
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"),
            struct(col("o_orderstatus").as("status"),
              col("o_totalprice").as("price")).as("info")), p)
    }

  /** Type-widening table: commit 0 writes o_custkey as INT (narrow,
    * even keys), schema widens to LONG, commit 2 writes LONG (odd keys).
    * Old files widen at read time (Spark 4 parquet widening; the
    * reference does this in its NestedSchemaAdapter — apply_schema.rs
    * cast path). */
  def widenedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "widened") { p =>
      val o = orders(s, sfDir)
      CommitWriter.createTable(s,
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"),
            col("o_custkey").cast(IntegerType).as("o_custkey"),
            col("o_totalprice").cast(FloatType).as("o_totalprice")), p)
      val meta0 = DeltaTable.forPath(s, p).metadata
      val wide = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType)))
      CommitWriter.commitMetadata(s, p, meta0.copy(schemaString = wide.json))
      CommitWriter.append(s,
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice"), p)
    }

  /** Orders table (3 key columns) with one MERGE applied: keys % 100 == 0
    * get o_totalprice + 1000, keys < 10 are re-inserted shifted by
    * 10,000,000 with o_totalprice + 5. Built once (version 1 = merged). */
  def mergedTable(s: SparkSession, sfDir: String): String = {
    val path = fixtureDir(sfDir, "merged")
    this.synchronized {
      val exists = new File(path, "_delta_log").exists()
      val merged = exists && !stale(path, sfDir) &&
        DeltaTable.forPath(s, path).version >= 1
      if (!merged) {
        if (new File(path).exists())
          scala.reflect.io.Directory(new File(path)).deleteRecursively()
        val o = orders(s, sfDir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        CommitWriter.createTable(s, o.repartition(4), path)
        val updates = o.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        val inserts = o.filter(col("o_orderkey") < 10)
          .withColumn("o_orderkey", col("o_orderkey") + keyShift(o))
          .withColumn("o_totalprice", col("o_totalprice") + 5)
        graft.commands.MergeCommand.upsert(s, path,
          updates.unionByName(inserts), Seq("o_orderkey"))
        writeStamp(path, sfDir)
      }
    }
    path
  }

  /** Orders table with a column DEFAULT set mid-life: even keys at
    * create carry real prices, odd keys appended WITHOUT the column
    * get the default materialized at write time. */
  def defaultedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "defaulted") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 2 === 0), p)
      new graft.GraftSession(s).sql(
        s"ALTER TABLE '$p' ALTER COLUMN o_totalprice SET DEFAULT 999.5")
      CommitWriter.append(s,
        o.where(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey"), p)
    }

  /** Orders table after MERGE ... WHEN MATCHED THEN DELETE with the
    * key set `o_orderkey % 7 == 0` supplied as a source TABLE (the
    * retention/GDPR shape). */
  def mergeDeletedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "merge_deleted") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.repartition(4), p)
      graft.commands.MergeCommand.deleteMatched(s, p,
        o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey"),
        Seq("o_orderkey"))
    }

  /** Orders table after a FULL-SYNC MERGE issued through the SQL
    * surface (upsert + WHEN NOT MATCHED BY SOURCE AND o_custkey % 2 =
    * 0 THEN DELETE): keys % 3 == 0 are updated to o_totalprice + 7,
    * keys < 10 are re-inserted shifted, and target rows absent from
    * the source lose their even-custkey members. */
  def syncedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "merge_synced") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.repartition(4), p)
      val source = o.filter(col("o_orderkey") % 3 === 0)
        .unionByName(o.filter(col("o_orderkey") < 10)
          .withColumn("o_orderkey", col("o_orderkey") + keyShift(o)))
        .withColumn("o_totalprice", col("o_totalprice") + 7)
      source.createOrReplaceTempView("graft_sync_src")
      new graft.GraftSession(s).sql(
        s"""MERGE INTO '$p' USING graft_sync_src
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND o_custkey % 2 = 0 THEN DELETE"""
          .stripMargin)
    }

  /** Orders table whose log is minor-compacted
    * (`graft.logCompaction.interval` = 3, checkpoints off): seven
    * commits — five %5 slices plus two DELETEs — yield compactions
    * [1,3] and [4,6], so the snapshot resolves through three log files
    * (the creation commit plus two spans). */
  def logCompactedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "log_compacted") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.where(col("o_orderkey") % 5 === 0), p,
        configuration = Map(
          graft.delta.log.LogCompaction.IntervalPropKey -> "3",
          CommitWriter.CheckpointIntervalPropKey -> "1000"))
      for (r <- 1 to 4)
        CommitWriter.append(s, o.where(col("o_orderkey") % 5 === r), p)
      graft.commands.DmlCommands.delete(s, p, col("o_orderkey") % 11 === 0)
      graft.commands.DmlCommands.delete(s, p, col("o_orderkey") % 13 === 0)
    }

  /** Table created by SQL CTAS (partitioned) straight from the driver
    * parquet through the session extension path. */
  def ctasTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "ctas") { p =>
      new graft.GraftSession(s).sql(
        s"CREATE TABLE '$p' PARTITIONED BY (bucket) " +
          "TBLPROPERTIES ('delta.checkpointInterval' = '1000') AS " +
          "SELECT o_orderkey, o_custkey, o_totalprice, " +
          "CAST(o_orderkey % 4 AS INT) AS bucket " +
          s"FROM parquet.`$sfDir/orders.parquet`")
    }

  /** Table created then REPLACED through SQL RTAS: v0 holds two
    * columns of even orderkeys; the replace swaps in three columns of
    * %3 orderkeys partitioned by bucket. History stays readable. */
  def rtasTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "rtas") { p =>
      val g = new graft.GraftSession(s)
      g.sql(s"CREATE TABLE '$p' AS " +
        "SELECT o_orderkey, o_custkey " +
        s"FROM parquet.`$sfDir/orders.parquet` WHERE o_orderkey % 2 = 0")
      g.sql(s"CREATE OR REPLACE TABLE '$p' PARTITIONED BY (bucket) AS " +
        "SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderkey % 5 AS INT) AS bucket " +
        s"FROM parquet.`$sfDir/orders.parquet` WHERE o_orderkey % 3 = 0")
    }

  /** Orders table filled by COPY INTO run TWICE over the same source
    * directory (two parquet files of the remaining thirds): the second
    * run must be a complete no-op — per-file SetTransaction identities
    * make ingestion exactly-once, so the end state equals the plain
    * union with zero duplicates. */
  def copyIntoTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "copy_into") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 3 === 0).repartition(1), p)
      val srcDir = p + "_src"
      o.where(col("o_orderkey") % 3 === 1).repartition(1)
        .write.mode("overwrite").parquet(srcDir)
      o.where(col("o_orderkey") % 3 === 2).repartition(1)
        .write.mode("append").parquet(srcDir)
      graft.commands.CopyIntoCommand.copyInto(s, p, srcDir)
      graft.commands.CopyIntoCommand.copyInto(s, p, srcDir) // no-op
    }

  /** Orders table whose changeDataFeed writer feature was DROPPED after
    * disablement (ALTER TABLE ... DROP FEATURE), then appended to — the
    * downgrade must leave a fully usable table. */
  def droppedFeatureTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "drop_feature") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 2 === 0).repartition(1), p,
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      val session = new graft.GraftSession(s)
      session.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
        "('delta.enableChangeDataFeed' = 'false')")
      session.sql(s"ALTER TABLE '$p' DROP FEATURE changeDataFeed")
      CommitWriter.append(s,
        o.where(col("o_orderkey") % 2 === 1).repartition(1), p)
    }

  /** Orders table that LOST a data file out of band and was repaired
    * with FSCK: even keys landed in one file, odd keys in another, the
    * odd-keys file was deleted from disk (simulating a lifecycle-rule
    * mishap) and FSCK REPAIR TABLE dropped its log entry — the table
    * reads again, serving exactly the surviving file. */
  def fsckTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "fsck") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 2 === 0).repartition(1), p)
      CommitWriter.append(s,
        o.where(col("o_orderkey") % 2 === 1).repartition(1), p)
      val lostRel = DeltaTable.forPath(s, p).allFiles.select("path")
        .collect().map(_.getString(0))
        .find(rel => s.read.parquet(s"$p/$rel")
          .where(col("o_orderkey") % 2 === 1).count() > 0).get
      require(new File(p, lostRel).delete(), s"could not delete $lostRel")
      graft.commands.FsckCommand.repair(s, p, dryRun = false)
    }

  /** Partitioned orders table after a partition-scoped replaceWhere:
    * bucket 1 is atomically rebuilt from a deterministic subset with
    * shifted prices — the backfill staple. The remove set is decided
    * from partitionValues only (never reading the replaced partition);
    * ReplaceWhereSpec asserts the mechanics, this fixture gates the
    * end state against the relational oracle. */
  def replaceWhereTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "replace_where") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("bucket", (col("o_orderkey") % 4).cast("int"))
      CommitWriter.createTable(s, o.repartition(2), p,
        partitionColumns = Seq("bucket"))
      val fresh = o
        .where(col("bucket") === 1 && col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 0.5)
      graft.commands.ReplaceWhereCommand.replaceWhere(s, fresh, p,
        col("bucket") === 1)
    }

  /** DV-enabled orders table with a merge-on-read DELETE then UPDATE
    * applied: no data file is ever rewritten — the delete became a
    * deletion vector, the update a DV plus new row-image files. */
  def dvDmlTable(s: SparkSession, sfDir: String): String = {
    val path = fixtureDir(sfDir, "dv_dml")
    this.synchronized {
      val done = new File(path, "_delta_log").exists() &&
        !stale(path, sfDir) &&
        DeltaTable.forPath(s, path).version >= 2
      if (!done) {
        if (new File(path).exists())
          scala.reflect.io.Directory(new File(path)).deleteRecursively()
        val o = orders(s, sfDir)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        CommitWriter.createTable(s, o.repartition(4), path,
          configuration = Map("delta.enableDeletionVectors" -> "true"))
        graft.commands.DmlCommands.delete(s, path,
          col("o_orderkey") % 10 === 3)
        graft.commands.DmlCommands.update(s, path,
          col("o_orderkey") % 10 === 7,
          Map("o_totalprice" -> (col("o_totalprice") + 100)))
        writeStamp(path, sfDir)
      }
    }
    path
  }

  /** Orders table built by four writers RACING from the same base
    * version: three partition-disjoint appends and one DELETE, released
    * together on a barrier so every commit after the first loses at
    * least one race and goes through the conflict-checked rebase
    * (ConflictChecker). The profiles make every interleaving converge
    * to the same end state — appends are blind, and the DELETE's
    * `p = 0` conjunct provably rules out the appended partitions — so
    * the final table is a deterministic function of the testdata even
    * though the commit ORDER is not. The build asserts the version
    * count (nothing lost, nothing doubled); the oracle recomputes the
    * end state relationally. */
  def concurrentTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "concurrent") { p =>
      import java.util.concurrent.{Callable, CyclicBarrier, Executors}
      val o = orders(s, sfDir).select("o_orderkey", "o_totalprice")
        .withColumn("p", (col("o_orderkey") % 4).cast("int"))
      CommitWriter.createTable(s,
        o.where(col("p") === 0).repartition(1), p,
        partitionColumns = Seq("p"))
      val pool = Executors.newFixedThreadPool(4)
      val barrier = new CyclicBarrier(4)
      try {
        def task[T](body: => T): java.util.concurrent.Future[T] =
          pool.submit(new Callable[T] {
            def call(): T = { barrier.await(); body }
          })
        val writers =
          (1 to 3).map { i =>
            task(CommitWriter.append(s,
              o.where(col("p") === i).repartition(1), p, maxRetries = 64))
          } :+
          task {
            graft.commands.DmlCommands.delete(s, p,
              col("p") === 0 && col("o_totalprice") < 100000)
            0L
          }
        writers.foreach(_.get())
      } finally pool.shutdown()
      val v = DeltaTable.forPath(s, p).version
      require(v == 4,
        s"concurrent fixture: expected 4 racing commits to all land " +
          s"(version 4), got version $v")
    }

  /** Row-tracked orders table (writer features rowTracking +
    * domainMetadata, DVs on): even keys at create (file row order =
    * key order), odd keys appended, then a DV DELETE — the surviving
    * rows must keep the exact fresh ids (baseRowId + physical index)
    * they were born with, because the masked file never moves. */
  def rowTrackedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "row_tracked") { p =>
      val o = orders(s, sfDir).select("o_orderkey", "o_totalprice")
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 2 === 0)
          .repartition(1).sortWithinPartitions("o_orderkey"),
        p, configuration = Map(
          graft.delta.log.RowTracking.PropKey -> "true",
          "delta.enableDeletionVectors" -> "true"))
      CommitWriter.append(s,
        o.where(col("o_orderkey") % 2 === 1)
          .repartition(1).sortWithinPartitions("o_orderkey"), p)
      graft.commands.DmlCommands.delete(s, p, col("o_orderkey") % 10 < 2)
    }

  /** Clustered orders table (the `clustering` writer feature):
    * scrambled create — 4 files each spanning the full o_custkey
    * range — then ONE bare OPTIMIZE whose layout comes from the
    * recorded `delta.clustering` policy, not from arguments. The small
    * targetFileSize forces a multi-file clustered rewrite so file
    * stats become prunable. */
  def clusteredTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "clustered") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.repartition(4, col("o_orderkey")), p,
        clusterBy = Seq("o_custkey"))
      graft.commands.OptimizeCommand.optimize(s, p,
        targetFileSize = 64 * 1024, minFiles = 2)
    }

  /** Hilbert-curve sibling of [[clusteredTable]]: CLUSTER BY two
    * columns with `graft.clustering.curve=hilbert`, one bare OPTIMIZE
    * laying files along the continuous curve (tighter per-file
    * bounding boxes than z-order's interleave — HilbertSpec measures
    * ~0.7x the bbox area on a uniform grid). */
  def hilbertTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "hilbert_clustered") { p =>
      val o = orders(s, sfDir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      CommitWriter.createTable(s, o.repartition(4, col("o_orderkey")), p,
        configuration = Map(
          graft.commands.OptimizeCommand.ClusteringCurveKey -> "hilbert"),
        clusterBy = Seq("o_custkey", "o_totalprice"))
      graft.commands.OptimizeCommand.optimize(s, p,
        targetFileSize = 64 * 1024, minFiles = 2)
    }

  /** Stable alias for the clustered fixture (the IvfOracleAlias
    * pattern): the static oracle SQL reads one fixed path, the query
    * re-points it at whatever sf's fixture it just built. */
  final val ClusterOracleAlias =
    "/root/repo/target/delta_fixtures/clustered_current"

  private[queries] def refreshAlias(alias: String, target: String): Unit = {
    val a = java.nio.file.Paths.get(alias)
    val t = java.nio.file.Paths.get(target)
    val stale = !java.nio.file.Files.isSymbolicLink(a) ||
      java.nio.file.Files.readSymbolicLink(a) != t
    if (stale) {
      java.nio.file.Files.deleteIfExists(a)
      java.nio.file.Files.createSymbolicLink(a, t)
    }
  }

  /** SF-INDEPENDENT "remote system" tree for the FOREIGN CATALOG data
    * plane (q_foreign_read): a directory layout `<root>/<schema>/<table>`
    * holding one delta table built from nation (byte-identical at every
    * sf, so the oracle's path literal is stable). ONE commit only — every
    * parquet file under the table dir is live, so DuckDB can glob them
    * directly. The tree is what a CONNECTION's file: URL mounts. */
  final val ForeignRootPath =
    "/root/repo/target/delta_fixtures/shared/foreign_root"

  def foreignSystemRoot(s: SparkSession, sfDir: String): String = {
    val tbl = s"$ForeignRootPath/analytics/nations_live"
    this.synchronized {
      if (!exists(s, tbl) || stale(ForeignRootPath, sfDir)) {
        val dir = new File(ForeignRootPath)
        if (dir.exists()) scala.reflect.io.Directory(dir).deleteRecursively()
        val n = s.read.parquet(s"$sfDir/nation.parquet")
          .select("n_nationkey", "n_name", "n_regionkey")
        CommitWriter.createTable(s, n, tbl,
          partitionColumns = Seq("n_regionkey"))
        writeStamp(ForeignRootPath, sfDir)
      }
    }
    ForeignRootPath
  }

  /** Write-time schema evolution fixture: a two-column table, then a
    * mergeSchema append carrying a third column — evolution and data
    * in the same commit. */
  def schemaMergeTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "schema_merge") { p =>
      val o = orders(s, sfDir)
      CommitWriter.createTable(s,
        o.where(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey"), p)
      CommitWriter.append(s,
        o.where(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice"), p,
        mergeSchema = true)
    }

  /** Plain-parquet copy of orders CONVERTED in place to a Delta table
    * (no data rewrite) — the adoption-path fixture. */
  def convertedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "converted") { p =>
      orders(s, sfDir).repartition(3).write.mode("overwrite").parquet(p)
      graft.commands.ConvertCommand.convert(s, p)
    }

  /** Column-mapped customer table: logical names live only in the log,
    * data files carry col-N physical names (A8/A20 write-side). */
  def mappedTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "mapped") { p =>
      CommitWriter.createTableMapped(s,
        customer(s, sfDir).select("c_custkey", "c_name", "c_acctbal"), p)
    }

  /** Single-file customer table sorted by key, with a deletion vector
    * masking every row whose c_custkey % 10 == 0. */
  def dvTable(s: SparkSession, sfDir: String): String =
    ensure(s, sfDir, "dv") { p =>
      val c = customer(s, sfDir).repartition(1)
        .sortWithinPartitions("c_custkey")
      CommitWriter.createTable(s, c, p)
      val snap = DeltaTable.forPath(s, p)
      val add0 = snap.allFiles.collect().head
      val relPath = add0.getAs[String]("path")
      // row index == position in sort order; mask keys % 10 == 0. The
      // positions are derived with a rank window and filtered BEFORE
      // the collect, so the driver sees only the masked 10% — never the
      // full key column (the window is single-partition, matching the
      // one-file layout the fixture writes)
      val masked = c.select(col("c_custkey"))
        .withColumn("__pos", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("c_custkey"))
          .cast(LongType) - 1L)
        .where(col("c_custkey") % 10 === 0)
        .select("__pos")
        .collect().map(_.getLong(0)).toSeq
      val fs = LogSegment.fs(s, new Path(p))
      val dv = DvBitmap.writeDvFile(fs, new Path(p), masked)
      val remove = CommitWriter.removeJson(Actions.RemoveFile(
        relPath, Some(0L), dataChange = false))
      val add = CommitWriter.addJson(Actions.AddFile(
        path = relPath, partitionValues = Map.empty,
        size = add0.getAs[Long]("size"),
        modificationTime = add0.getAs[Long]("modificationTime"),
        dataChange = false, stats = Option(add0.getAs[String]("stats")),
        deletionVector = Some(dv)))
      // per the protocol, DV-bearing tables must advertise the
      // deletionVectors table feature (reader 3 / writer 7) — external
      // readers rely on the gate to reject what they can't decode
      val proto = CommitWriter.protocolJson(Actions.Protocol(
        minReaderVersion = 3, minWriterVersion = 7,
        readerFeatures = Some(Seq("deletionVectors")),
        writerFeatures = Some(Seq("deletionVectors"))))
      CommitWriter.commit(s, p, 1L, Seq(proto, remove, add), "DELETE")
    }

  // ---- declared queries ---------------------------------------------

  val all: Seq[Q] = Seq(
    // A1/A2: full snapshot scan through log replay
    Q("delta_scan",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        | l_returnflag, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, basicTable(s, dir))
      snap.read
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // catalog-qualified SQL: the GraftCatalog TableCatalog plugin
    // resolves `graft.db.tbl` through DSv2 with refresh-on-lookup
    // (reference schema-provider ergonomics,
    // crates/datafusion/src/schema_provider.rs:83-118)
    Q("q_catalog_sql",
      """SELECT l_returnflag,
        | count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS LAST""".stripMargin) { (s, dir) =>
      val path = basicTable(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      graft.catalog.GraftCatalog.register("db", "lineitem_basic", path)
      s.sql(
        """SELECT l_returnflag,
          | count(*) AS n,
          | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM graft.db.lineitem_basic GROUP BY l_returnflag
          |ORDER BY l_returnflag NULLS LAST""".stripMargin)
    },

    // catalog-qualified COMMANDS: OPTIMIZE/DELETE ran against
    // `graft.db.catalog_dml` at fixture build; DESCRIBE HISTORY /
    // DESCRIBE DETAIL / VACUUM DRY RUN resolve the same qualified name
    // here at query time. The oracle recomputes the surviving rows
    // from raw nation (every fifth nationkey deleted).
    Q("q_catalog_dml",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 5 <> 0
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val path = catalogDmlTable(s, dir)
      // bind the plugin name in THIS session too (queries must not
      // depend on q_catalog_sql having run first)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      graft.catalog.GraftCatalog.register("db", "catalog_dml", path)
      val gs = graft.GraftSession(s)
      val hist = gs.sql("DESCRIBE HISTORY graft.db.catalog_dml")
        .select("operation").collect().map(_.getString(0)).toSet
      require(hist.contains("OPTIMIZE") && hist.contains("DELETE"),
        s"qualified-name history missing OPTIMIZE/DELETE: $hist")
      require(gs.sql("DESCRIBE DETAIL graft.db.catalog_dml")
        .select("numFiles").head().getLong(0) >= 1L,
        "qualified-name DESCRIBE DETAIL resolved nothing")
      // dry-run VACUUM through the qualified name: OPTIMIZE + DELETE
      // left removed-but-unvacuumed files behind
      gs.sql("VACUUM graft.db.catalog_dml RETAIN 0 HOURS DRY RUN")
      s.sql(
        """SELECT n_nationkey, n_name, n_regionkey
          |FROM graft.db.catalog_dml
          |ORDER BY n_nationkey""".stripMargin)
    },

    // A4: stats-based file skipping (result equality; pruning itself is
    // asserted in DeltaSpec + the plan audit)
    Q("file_skipping",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 100 OR o_orderkey >= 14900
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, rangedTable(s, dir))
      snap.readWhere(col("o_orderkey") <= 100 || col("o_orderkey") >= 14900)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ANALYZE TABLE COMPUTE STATISTICS: a table whose history carries
    // numRecords-only stats (dataSkippingNumIndexedCols=0 at write — the
    // foreign/minimal-writer shape) has its column stats recollected by
    // one metadata commit, no data rewritten; the oracle gates the full
    // read path over the repaired end state (stats-driven pruning
    // itself is asserted in AnalyzeSpec).
    Q("q_analyze",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, analyzedTable(s, dir))
      snap.readWhere(col("o_orderkey") <= 200)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // partition pruning on a partitioned Delta table
    Q("partition_pruning",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, partitionedTable(s, dir))
      snap.readWhere(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // SHOW PARTITIONS: the distinct live partitions straight off the
    // log's file inventory (Spark's `k=v` display convention) — zero
    // data files read, O(files) metadata; the oracle recomputes the
    // same listing relationally from the raw table.
    Q("q_show_partitions",
      """SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS "partition"
        |FROM orders ORDER BY "partition" NULLS LAST""".stripMargin) { (s, dir) =>
      val path = partitionedTable(s, dir)
      new graft.GraftSession(s).sql(s"SHOW PARTITIONS '$path'")
    },

    // Dynamic partition pruning through the native DSv2 path: the fact
    // side's partitions prune at RUNTIME from the dim side's surviving
    // join keys (RuntimeFilteredParquetScan — Spark's own ParquetScan
    // has no runtime filtering). The dim must be parquet-backed with a
    // selective filter for the PartitionPruning rule to engage; the
    // oracle recomputes the same join relationally.
    Q("q_dpp_join",
      """SELECT o.o_orderstatus, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |   AS total
        |FROM orders o
        |JOIN (SELECT DISTINCT o_orderstatus AS status_key FROM orders
        |      WHERE o_orderstatus = 'F') d
        |  ON o.o_orderstatus = d.status_key
        |GROUP BY o.o_orderstatus
        |ORDER BY o.o_orderstatus""".stripMargin) { (s, dir) =>
      val path = partitionedTable(s, dir)
      val fact = s.read.format("graftdelta").option("path", path).load()
      val dim = orders(s, dir)
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderstatus").as("status_key")).distinct()
      fact.join(broadcast(dim), fact("o_orderstatus") === dim("status_key"))
        .groupBy(fact("o_orderstatus"))
        .agg(count(lit(1)).as("n"), T.dsum(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    },

    // A6/A8: schema evolution with null imputation for pre-evolution files
    Q("schema_evolution",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, evolvedTable(s, dir))
      snap.read.orderBy("o_orderkey")
    },

    // A8: nested schema evolution — missing nested field imputed null
    Q("nested_schema",
      """SELECT o_orderkey, o_orderstatus AS status,
        | CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_totalprice END AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, nestedTable(s, dir))
      snap.read
        .select(col("o_orderkey"), col("info.status").as("status"),
          col("info.price").as("price"))
        .orderBy("o_orderkey")
    },

    // A8 (cast path): int->long / float->double widening across commits.
    // Floats widen to the same doubles in both engines (exact cast), but
    // the narrow files went through double->float->double, so the oracle
    // replicates that round-trip with CAST(...AS REAL).
    Q("type_widening",
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 2 = 0
        |      THEN CAST(CAST(o_totalprice AS REAL) AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, widenedTable(s, dir))
      snap.read.orderBy("o_orderkey")
    },

    // A5: deletion vectors → row-level skipping
    Q("deletion_vectors",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 10 <> 0 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, dvTable(s, dir))
      snap.read.select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // time travel (versionAsOf) — reference meta.rs:102-116 assertions
    Q("time_travel",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice <= 250000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, versionedTable(s, dir), Some(0L))
      snap.read.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // metadata-only count: the row counts of two delta tables (one
    // DV-masked) answered from log stats ALONE — numRecords sums minus
    // DV cardinalities, no data file opened. The oracle recomputes the
    // same counts the slow way, from the source parquet.
    Q("q_meta_count",
      """SELECT 'basic' AS tbl, count(*) AS n_rows FROM lineitem
        |UNION ALL
        |SELECT 'dv' AS tbl, count(*) AS n_rows FROM customer
        |WHERE c_custkey % 10 <> 0
        |ORDER BY tbl""".stripMargin) { (s, dir) =>
      import s.implicits._
      val basic = DeltaTable.forPath(s, basicTable(s, dir)).statsRowCount
      val dv = DeltaTable.forPath(s, dvTable(s, dir)).statsRowCount
      Seq(("basic", basic.getOrElse(-1L)), ("dv", dv.getOrElse(-1L)))
        .toDF("tbl", "n_rows").orderBy("tbl")
    },

    // incremental version-range batch read (the incremental-ETL shape:
    // "give me what landed since version N" without a streaming
    // checkpoint). Commit 1 of versionedTable appended the
    // o_totalprice > 250000 slice, so the [1, 1] range read returns
    // exactly those rows — which is what the oracle states.
    Q("q_version_diff",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 250000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val path = versionedTable(s, dir)
      s.read.format("graftdelta")
        .option("path", path)
        .option("startingVersion", "1").option("endingVersion", "1")
        .load()
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // metadata-only min/max: global numeric column ranges answered from
    // per-file stats (min of mins / max of maxes) — zero data files
    // opened; oracle recomputes from the source parquet.
    Q("q_meta_minmax",
      """SELECT CAST(min(l_quantity) AS DOUBLE) AS min_qty,
        | CAST(max(l_quantity) AS DOUBLE) AS max_qty,
        | CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
        | CAST(max(l_extendedprice) AS DOUBLE) AS max_price
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      val snap = DeltaTable.forPath(s, basicTable(s, dir))
      val q = snap.statsNumericRange("l_quantity").get
      val p = snap.statsNumericRange("l_extendedprice").get
      Seq((q._1, q._2, p._1, p._2))
        .toDF("min_qty", "max_qty", "min_price", "max_price")
    },

    // derived row-level change feed: per-commit copy-on-write diff
    // (adds EXCEPT ALL removes = inserts; removes EXCEPT ALL adds =
    // deletes; UPDATE commits relabel the two sides as post-/pre-image;
    // MERGE commits pair updates by the commitInfo-recorded merge key).
    // Commit 1 appended the expensive orders; commit 2 deleted every
    // 7th orderkey; commit 3 updated every 11th survivor (+50);
    // commit 4 merged every 13th key with totalprice+1000 (survivors
    // update, keys deleted at v2 re-insert) — the feed over [1, 4] must
    // equal exactly that, which the oracle restates from the source
    // parquet.
    Q("q_change_feed",
      """SELECT o_orderkey, o_totalprice,
        | 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_totalprice > 250000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice,
        | 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice,
        | 'update_preimage' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 50 AS o_totalprice,
        | 'update_postimage' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey,
        | o_totalprice + CASE WHEN o_orderkey % 11 = 0 THEN 50 ELSE 0 END,
        | 'update_preimage', CAST(4 AS BIGINT)
        |FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 1000,
        | 'update_postimage', CAST(4 AS BIGINT)
        |FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice + 1000,
        | 'insert', CAST(4 AS BIGINT)
        |FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 = 0
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin) { (s, dir) =>
      val path = cdcTable(s, dir)
      s.read.format("graftdelta")
        .option("path", path)
        .option("startingVersion", "1")
        .option("readChangeFeed", "true")
        .load()
        .select("o_orderkey", "o_totalprice", "_change_type",
          "_commit_version")
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    },

    // Write-time CDC feed: every label below comes from cdc files the
    // DML/MERGE commits wrote (the reader uses them EXCLUSIVELY per
    // spec), and the oracle restates the exact change set from the raw
    // parquet — including the MERGE's per-row insert-vs-update split,
    // which only write-time CDC can produce.
    Q("q_cdc_write",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | 'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
        |FROM orders WHERE o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        | 'update_preimage', 2
        |FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 50,
        | 'update_postimage', 2
        |FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        | o_totalprice + CASE WHEN o_orderkey % 11 = 0 THEN 50 ELSE 0 END,
        | 'update_preimage', 3
        |FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000,
        | 'update_postimage', 3
        |FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000,
        | 'insert', 3
        |FROM orders WHERE o_orderkey % 100 = 0 AND o_orderkey % 7 = 0
        |UNION ALL
        |SELECT o_orderkey + (SELECT max(o_orderkey)+1 FROM orders), o_custkey, o_totalprice,
        | 'insert', 3
        |FROM orders WHERE o_orderkey < 10
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin) { (s, dir) =>
      val path = cdfWriteTable(s, dir)
      s.read.format("graftdelta")
        .option("path", path)
        .option("startingVersion", "1")
        .option("readChangeFeed", "true")
        .load()
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "_change_type", "_commit_version")
        .orderBy("_commit_version", "_change_type", "o_orderkey")
    },

    // A28: snapshot refresh — re-resolving after a new commit sees it
    Q("snapshot_refresh",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val path = versionedTable(s, dir) // has v0 + v1
      val v0 = DeltaTable.forPath(s, path, Some(0L)) // stale view
      require(v0.version == 0)
      val refreshed = DeltaTable.forPath(s, path) // refresh-on-lookup
      require(refreshed.version > v0.version)
      refreshed.read.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },

    // A1 as a registered source: spark.read.format("graftdelta") with
    // projection + filter flowing through PrunedFilteredScan into file
    // skipping
    Q("format_read",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      s.read.format("graftdelta")
        .option("path", rangedTable(s, dir))
        .load()
        .where(col("o_orderkey") <= 1000)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // DSv2 aggregate pushdown: whole-table count/min/max answered from
    // log stats as a LocalTableScan (StatsAggScanBuilder) — AggPushdownSpec
    // asserts the plan shape; this gate checks the VALUES against the
    // oracle's relational recomputation.
    Q("q_agg_pushdown",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders""".stripMargin) { (s, dir) =>
      s.read.format("graftdelta")
        .option("path", rangedTable(s, dir))
        .load()
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"),
          max(col("o_orderkey")).as("mx"))
    },

    // MERGE (upsert) end state vs relational oracle over the raw table
    Q("q_merge",
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + (SELECT max(o_orderkey)+1 FROM orders) AS o_orderkey, o_custkey,
        | o_totalprice + 5 AS o_totalprice
        |FROM orders WHERE o_orderkey < 10
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, mergedTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // Column DEFAULT values: the default was materialized at write
    // time into the omitting append; the oracle recomputes the whole
    // table relationally.
    Q("q_column_defaults",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
        |       ELSE 999.5 END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, defaultedTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // MERGE ... WHEN MATCHED THEN DELETE: the key set is a TABLE, the
    // oracle recomputes the survivors relationally.
    Q("q_merge_delete",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, mergeDeletedTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // MERGE full-sync (WHEN NOT MATCHED BY SOURCE AND pred THEN
    // DELETE, via SQL): matched keys updated, shifted keys inserted,
    // unmatched rows with even custkeys deleted — the oracle
    // recomputes all three sets relationally.
    Q("q_merge_sync",
      """SELECT o_orderkey, o_custkey, o_totalprice + 7 AS o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + (SELECT max(o_orderkey)+1 FROM orders) AS o_orderkey,
        | o_custkey, o_totalprice + 7 AS o_totalprice
        |FROM orders WHERE o_orderkey < 10
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 <> 0 AND o_custkey % 2 <> 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, syncedTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // Minor log compaction: the snapshot must resolve through the two
    // <x>.<y>.compacted.json files alone (compacted_spans pins 2 — a
    // read path that falls back to raw commits mismatches the oracle
    // constant), and the reconciled state must equal the relational
    // recomputation of the six commits.
    Q("q_log_compact",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(2 AS BIGINT) AS compacted_spans
        |FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 13 <> 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val p = logCompactedTable(s, dir)
      val seg = LogSegment.forTable(s, new Path(p))
      val spans = seg.commitFiles.map(_.getPath.getName)
        .count(n => LogSegment.compactedRange(n).isDefined)
      require(seg.commitFiles.size == 3, // v0 raw + spans [1,3], [4,6]
        s"log_compacted fixture must replay through compactions, " +
          s"got ${seg.commitFiles.map(_.getPath.getName)}")
      DeltaTable.forPath(s, p).read
        .withColumn("compacted_spans", lit(spans.toLong))
        .orderBy("o_orderkey")
    },

    // SQL CTAS end state: the partitioned table created through the
    // parser extension must hold exactly the SELECT's rows (bucket is
    // a partition column, so its values round-trip through partition
    // directories, not data pages).
    Q("q_ctas",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderkey % 4 AS INTEGER) AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, ctasTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // SQL RTAS: the replaced table serves the NEW schema/partitioning
    // while version 0 still reads the old shape — v0_rows pins the
    // preserved history against a relational recomputation.
    Q("q_rtas",
      """SELECT o_orderkey, o_totalprice,
        |  CAST(o_orderkey % 5 AS INTEGER) AS bucket,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS v0_rows
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val p = rtasTable(s, dir)
      val v0 = DeltaTable.forPath(s, p, Some(0L)).read.count()
      DeltaTable.forPath(s, p).read
        .withColumn("v0_rows", lit(v0))
        .orderBy("o_orderkey")
    },

    // COPY INTO end state: two runs over the same source directory,
    // exactly-once — the oracle is the plain relational union; any
    // duplicate or lost file breaks the hash.
    Q("q_copy_into",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, copyIntoTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // DROP FEATURE end state: the changeDataFeed writer feature left
    // the protocol (the pinned cdf_features column counts its
    // occurrences in writerFeatures — must be 0) and the downgraded
    // table kept serving reads and writes; the oracle recomputes the
    // post-drop rows relationally.
    Q("q_drop_feature",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(0 AS BIGINT) AS cdf_features
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, droppedFeatureTable(s, dir))
      val n = snap.protocol.writerFeatures.getOrElse(Nil)
        .count(_ == "changeDataFeed").toLong
      snap.read.withColumn("cdf_features", lit(n))
        .orderBy("o_orderkey")
    },

    // FSCK repair end state: the odd-keys file was lost out of band
    // and its log entry dropped; the table serves exactly the
    // surviving even-keys file through the full read path.
    Q("q_fsck",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, fsckTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // Selective overwrite (replaceWhere): ONE commit swapped partition
    // bucket=1 for a rebuilt slice, deciding the remove set from
    // partitionValues alone. The oracle recomputes the end state:
    // untouched buckets verbatim, bucket 1 = the deterministic rebuild.
    Q("q_replace_where",
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(o_orderkey % 4 AS INT) AS bucket
        |FROM orders WHERE o_orderkey % 4 <> 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 0.5,
        |  CAST(1 AS INT)
        |FROM orders WHERE o_orderkey % 4 = 1 AND o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, replaceWhereTable(s, dir)).read
        .select("o_orderkey", "o_custkey", "o_totalprice", "bucket")
        .orderBy("o_orderkey")
    },

    // Merge-on-read DML: DELETE wrote a deletion vector, UPDATE wrote a
    // DV plus new row images — no original data file was rewritten. The
    // oracle recomputes the end state relationally from the raw table;
    // the scan must honor both DVs (drop deleted + old-version rows)
    // and surface the updated images for the hash to match.
    Q("q_dv_dml",
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 100
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 10 <> 3
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, dvDmlTable(s, dir)).read
        .orderBy("o_orderkey")
    },

    // Optimistic concurrency end-to-end: four writers raced from the
    // same base version (3 partition-disjoint appends + 1 DELETE); the
    // conflict-checked rebase must land ALL of them, exactly once, in
    // some order. The oracle recomputes the unique fixpoint every
    // interleaving converges to — a lost append, a doubled rebase, or a
    // DELETE applied to the wrong snapshot all break the hash.
    Q("q_concurrent_write",
      """SELECT o_orderkey, CAST(o_orderkey % 4 AS INT) AS p, o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 4 = 0 AND o_totalprice < 100000)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, concurrentTable(s, dir)).read
        .select("o_orderkey", "p", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Row tracking: fresh row ids (baseRowId + physical index) and
    // per-row commit attribution, read back through the scan and
    // preserved by a merge-on-read DELETE. The oracle recomputes every
    // id arithmetically from the fixture recipe: ids number the create
    // file's sorted even keys 0..n-1, the appended odd keys continue
    // at n, the DELETE masks rows WITHOUT renumbering the survivors.
    Q("q_row_ids",
      """WITH ids AS (
        |  SELECT o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderkey % 2
        |                       ORDER BY o_orderkey) - 1
        |      + CASE WHEN o_orderkey % 2 = 1
        |             THEN (SELECT count(*) FROM orders
        |                   WHERE o_orderkey % 2 = 0)
        |             ELSE 0 END AS row_id,
        |    CAST(o_orderkey % 2 AS BIGINT) AS row_commit_version
        |  FROM orders)
        |SELECT o_orderkey, row_id, row_commit_version FROM ids
        |WHERE o_orderkey % 10 >= 2 ORDER BY o_orderkey""".stripMargin) {
      (s, dir) =>
      DeltaTable.forPath(s, rowTrackedTable(s, dir)).readWithRowIds
        .select(col("o_orderkey"), col("_row_id").as("row_id"),
          col("_row_commit_version").as("row_commit_version"))
        .orderBy("o_orderkey")
    },

    // CONVERT TO DELTA: the converted-in-place table serves the same
    // rows as the raw parquet it was bootstrapped over, through the
    // full delta read path (log replay + stats skipping)
    Q("q_convert",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 5000 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, convertedTable(s, dir))
      snap.readWhere(col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // A8/A20: column mapping — the scan resolves col-N physical parquet
    // names back to the logical schema; the oracle reads the raw table
    // (same rows, logical names) directly
    Q("q_column_mapping",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, mappedTable(s, dir))
      snap.readWhere(col("c_acctbal") > 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    // Hilbert-clustered layout read back through the skipping engine:
    // a 2-column range predicate over the curve-ordered files — content
    // must be identical to the relational answer regardless of how the
    // curve tiled the files (layout correctness end to end; the
    // tighter-bbox advantage itself is measured in HilbertSpec).
    Q("q_cluster_hilbert",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey <= 400 AND o_totalprice <= 150000
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, hilbertTable(s, dir))
      snap.readWhere(col("o_custkey") <= 400 &&
          col("o_totalprice") <= 150000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Clustered table end-to-end: CREATE ... clusterBy records the
    // policy, a BARE OPTIMIZE re-clusters by it. The oracle recomputes
    // the row count relationally AND re-derives the file metrics from
    // the fixture's raw log JSON — the skipping engine's kept-file
    // count must equal what raw min/max stats say, an independent
    // cross-check of stats-based pruning over the clustered layout.
    Q("q_cluster_optimize",
      s"""WITH acts AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d+)\\.json', 1)
         |           AS BIGINT) AS v,
         |    "add"->>'$$.path' AS add_path,
         |    CAST(json_extract_string("add"->>'$$.stats',
         |      '$$.minValues.o_custkey') AS BIGINT) AS min_ck,
         |    domainMetadata->>'$$.domain' AS dom,
         |    domainMetadata->>'$$.configuration' AS domconf
         |  FROM read_json('$ClusterOracleAlias/_delta_log/*.json',
         |    filename=true, format='newline_delimited',
         |    columns={"add": 'JSON', "remove": 'JSON',
         |             "domainMetadata": 'JSON'})
         |), live AS (
         |  SELECT add_path, min_ck FROM acts
         |  WHERE v = 1 AND add_path IS NOT NULL
         |), cut AS (
         |  SELECT CAST(max(o_custkey) AS BIGINT) // 2 AS c FROM orders
         |)
         |SELECT * FROM (
         |  SELECT 'clustered_by_custkey' AS metric,
         |    CAST(count(*) AS BIGINT) AS value
         |  FROM acts
         |  WHERE dom = 'delta.clustering' AND domconf LIKE '%o_custkey%'
         |  UNION ALL
         |  SELECT 'files_kept_le_cut', CAST(count(*) AS BIGINT)
         |  FROM live, cut WHERE live.min_ck <= cut.c OR live.min_ck IS NULL
         |  UNION ALL
         |  SELECT 'live_files', CAST(count(*) AS BIGINT) FROM live
         |  UNION ALL
         |  SELECT 'rows', CAST(count(*) AS BIGINT) FROM orders
         |) ORDER BY metric""".stripMargin) { (s, dir) =>
      val p = clusteredTable(s, dir)
      refreshAlias(ClusterOracleAlias, p)
      val snap = DeltaTable.forPath(s, p)
      val cut = orders(s, dir)
        .agg(max(col("o_custkey")).cast("long")).head().getLong(0) / 2
      val cols = graft.delta.log.Clustering.columnsOf(s, snap.segment)
      import s.implicits._
      Seq(
        ("clustered_by_custkey",
          if (cols == Seq("o_custkey")) 1L else 0L),
        ("files_kept_le_cut", graft.delta.scan.DeltaScan
          .prunedFiles(snap, Seq(col("o_custkey") <= cut)).count()),
        ("live_files", snap.allFiles.count()),
        ("rows", snap.read.count()))
        .toDF("metric", "value").orderBy("metric")
    },

    // Write-time schema evolution: the mergeSchema append added
    // o_totalprice in the same commit as its data; pre-evolution rows
    // impute null. The oracle recomputes the whole table relationally.
    Q("q_schema_merge",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END
        |    AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      DeltaTable.forPath(s, schemaMergeTable(s, dir)).read
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Identity columns (writer feature `identityColumns`): the oracle
    // recomputes count/distinct/>=start/congruence from the table's OWN
    // parquet data files — a content check of the values the allocator
    // wrote — while the two engine-internal invariants (high-water mark
    // == max allocated, second batch strictly past the first batch's
    // mark) are computed Spark-side against the log and stated TRUE by
    // the oracle (the q_approx_distinct verdict pattern).
    Q("q_identity",
      s"""SELECT count(*) AS n_rows,
         |  count(DISTINCT id) AS n_distinct,
         |  min(id) >= 1000 AS min_ge_start,
         |  bool_and((id - 1000) % 10 = 0) AS congruent,
         |  TRUE AS hwm_equals_max,
         |  TRUE AS batches_monotonic
         |FROM read_parquet('$IdentityDemoPath/*.parquet')""".stripMargin) { (s, dir) =>
      val path = identityDemoTable(s, dir)
      val snap = DeltaTable.forPath(s, path)
      require(snap.version == 3, "identity fixture must have 4 commits")
      val spec = graft.delta.log.IdentityColumns.of(snap.metadata).head
      val full = snap.read
      val firstBatch = DeltaTable.forPath(s, path, Some(2L)).read
      val later = full.join(firstBatch.select("id"), Seq("id"), "left_anti")
      val monotonic = later.agg(min(col("id")).as("later_min"))
        .crossJoin(firstBatch.agg(max(col("id")).as("first_max")))
        .select((col("later_min") > col("first_max")).as("batches_monotonic"))
      full.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("id")).as("n_distinct"),
        (min(col("id")) >= lit(spec.start)).as("min_ge_start"),
        expr(s"bool_and((id - ${spec.start}) % ${spec.step} = 0)")
          .as("congruent"),
        (max(col("id")) === lit(spec.highWaterMark.getOrElse(-1L)))
          .as("hwm_equals_max"))
        .crossJoin(monotonic)
    },

    // CHECK-constraint lifecycle (writer feature checkConstraints): the
    // oracle audits the LOG — exactly 4 commits (the fixture's two
    // refused writes durably committed nothing) and the latest
    // metaData's delta.constraints.* key count after add+drop — plus
    // recomputes rows/floor from the source parquet the constraint
    // admitted.
    Q("q_constraints",
      s"""WITH acts AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d+)\\.json', 1)
         |           AS BIGINT) AS v,
         |    metaData->'$$.configuration' AS conf
         |  FROM read_json('$ConstraintOracleAlias/_delta_log/*.json',
         |    filename=true, format='newline_delimited',
         |    columns={"metaData": 'JSON'})
         |), latest AS (
         |  SELECT conf FROM acts WHERE conf IS NOT NULL
         |  ORDER BY v DESC LIMIT 1
         |), ck AS (
         |  SELECT count(*) AS n FROM (
         |    SELECT unnest(json_keys(conf)) AS k FROM latest)
         |  WHERE k LIKE 'delta.constraints.%'
         |)
         |SELECT * FROM (
         |  SELECT 'commits' AS metric,
         |    CAST(count(DISTINCT v) AS BIGINT) AS value FROM acts
         |  UNION ALL SELECT 'constraints_final', CAST(n AS BIGINT) FROM ck
         |  UNION ALL SELECT 'rows', CAST(count(*) AS BIGINT) FROM nation
         |  UNION ALL SELECT 'key_floor_holds',
         |    CAST(CASE WHEN min(n_nationkey) >= 0 THEN 1 ELSE 0 END
         |      AS BIGINT) FROM nation
         |) ORDER BY metric""".stripMargin) { (s, dir) =>
      val p = constrainedTable(s, dir)
      refreshAlias(ConstraintOracleAlias, p)
      val snap = DeltaTable.forPath(s, p)
      require(snap.version == 3, "constraint fixture must have 4 commits")
      val nCons = snap.metadata.configuration.keys
        .count(_.startsWith("delta.constraints."))
      import s.implicits._
      Seq(
        ("commits", snap.version + 1),
        ("constraints_final", nCons.toLong),
        ("rows", snap.read.count()),
        ("key_floor_holds",
          if (snap.read.where(col("n_nationkey") < 0).isEmpty) 1L else 0L))
        .toDF("metric", "value").orderBy("metric")
    },

    // Generated columns end to end: the engine computed o_year for the
    // no-column append, validated it for the provided append, and
    // refused an inconsistent write. The oracle recomputes the
    // generation expression over the whole source — every stored value
    // must equal it regardless of which write path produced it.
    Q("q_generated_cols",
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val p = generatedColsTable(s, dir)
      val snap = DeltaTable.forPath(s, p)
      require(snap.version == 3,
        "generated-column fixture must have 4 commits")
      snap.read.select("o_orderkey", "o_year").orderBy("o_orderkey")
    },

    // RESTORE VERSION AS OF: the restored head must serve the FULL v1
    // content (the v2 delete reverted, data files never rewritten),
    // and the diverged v2 must still time-travel smaller. Oracle: the
    // full source relation.
    Q("q_restore",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val p = restoredTable(s, dir)
      val snap = DeltaTable.forPath(s, p)
      require(snap.version == 3, "restore fixture must have 4 commits")
      require(DeltaTable.forPath(s, p, Some(2L)).read.count() <
          snap.read.count(),
        "pre-restore version must be the diverged (smaller) state")
      snap.read.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // SHALLOW CLONE pinned at source v0 + a clone-local append with
    // doubled prices: content proves the clone served the pinned
    // version (even keys at original prices) while diverging
    // independently (odd keys doubled). The builder asserts the source
    // stayed untouched. Oracle recomputes the expected mix from the
    // source relation.
    Q("q_clone",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val p = clonedTable(s, dir)
      DeltaTable.forPath(s, p).read
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // table_changes TVF (ecosystem CDF SQL surface) over a BOUNDED
    // version window [2,3] of the cdc fixture: v2's delete plus v3's
    // update pre/post images, aggregated per (type, version). The
    // oracle restates those change sets from the source relation using
    // the same predicates the fixture's DML applied.
    Q("q_table_changes",
      """SELECT * FROM (
        |  SELECT 'delete' AS _change_type,
        |    CAST(2 AS BIGINT) AS _commit_version,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT 'update_preimage', 3, count(*)
        |  FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT 'update_postimage', 3, count(*)
        |  FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
        |) ORDER BY _change_type, _commit_version""".stripMargin) { (s, dir) =>
      val path = cdcTable(s, dir)
      graft.sqlext.GraftExtensions.registerTableChanges(s)
      s.sql(s"""SELECT _change_type, _commit_version,
           |  count(*) AS n
           |FROM table_changes('$path', 2, 3)
           |GROUP BY _change_type, _commit_version
           |ORDER BY _change_type, _commit_version""".stripMargin)
    },

    // GENERATE symlink_format_manifest: the Spark side reads back the
    // MANIFEST TEXT FILES the command wrote; the oracle independently
    // replays the log and derives the live file basenames. Equal ⇒ the
    // manifests enumerate exactly the current snapshot — stale
    // pre-OPTIMIZE files (still on disk, removed in the log) excluded.
    Q("q_generate_manifest",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS path,
         |         "add" IS NOT NULL AS is_add,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1)
         |           AS BIGINT) AS v
         |  FROM read_json('$ManifestOracleAlias/_delta_log/*.json',
         |    filename=true, format='newline_delimited',
         |    columns={"add": 'JSON', "remove": 'JSON'})
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY path
         |    ORDER BY v DESC, is_add DESC) AS rn
         |  FROM acts
         |)
         |SELECT regexp_extract(path, '([^/]+)$$', 1) AS file_name
         |FROM ranked WHERE rn = 1 AND is_add
         |ORDER BY file_name""".stripMargin) { (s, dir) =>
      val p = manifestTable(s, dir)
      refreshAlias(ManifestOracleAlias, p)
      s.read.text(s"$p/${graft.commands.GenerateCommand.ManifestDir}/*/manifest")
        .select(regexp_extract(col("value"), "([^/]+)$", 1).as("file_name"))
        .orderBy("file_name")
    },

    // OPTIMIZE WHERE: partition-scoped maintenance. Region 2 compacts
    // to ONE live file; every out-of-scope live file still carries its
    // original add version (proof the scoped rewrite touched nothing
    // else); content survives. Spark computes from its OWN replay
    // engine, DuckDB from the raw log JSON.
    Q("q_optimize_where",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS path,
         |         "add" IS NOT NULL AS is_add,
         |         json_extract_string("add", '$$.partitionValues.n_regionkey')
         |           AS rk,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1)
         |           AS BIGINT) AS v
         |  FROM read_json('$OptWhereOracleAlias/_delta_log/*.json',
         |    filename=true, format='newline_delimited',
         |    columns={"add": 'JSON', "remove": 'JSON'})
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY path
         |    ORDER BY v DESC, is_add DESC) AS rn FROM acts
         |), live AS (SELECT * FROM ranked WHERE rn = 1 AND is_add)
         |SELECT * FROM (
         |  SELECT 'p2_live_files' AS metric,
         |    CAST(count(*) AS BIGINT) AS value FROM live WHERE rk = '2'
         |  UNION ALL
         |  SELECT 'others_untouched',
         |    CAST(CASE WHEN max(v) <= 2 THEN 1 ELSE 0 END AS BIGINT)
         |  FROM live WHERE rk <> '2'
         |  UNION ALL
         |  SELECT 'p2_rows', CAST(count(*) AS BIGINT) FROM nation
         |  WHERE n_regionkey = 2
         |  UNION ALL
         |  SELECT 'rows', CAST(count(*) AS BIGINT) FROM nation
         |) ORDER BY metric""".stripMargin) { (s, dir) =>
      val p = optimizeWhereTable(s, dir)
      refreshAlias(OptWhereOracleAlias, p)
      val snap = DeltaTable.forPath(s, p)
      val live = snap.allFiles
        .select(element_at(col("partitionValues"), "n_regionkey").as("rk"),
          col("commit_version"))
      import s.implicits._
      Seq(
        ("p2_live_files", live.where(col("rk") === "2").count()),
        ("others_untouched",
          if (live.where(col("rk") =!= "2")
              .agg(max(col("commit_version"))).head().getLong(0) <= 2L) 1L
          else 0L),
        ("p2_rows", snap.read.where(col("n_regionkey") === 2).count()),
        ("rows", snap.read.count()))
        .toDF("metric", "value").orderBy("metric")
    },

    // DESCRIBE DETAIL: the snapshot-metadata row every catalog UI
    // reads. The oracle recomputes numFiles/sizeInBytes from an
    // independent log replay and pins format + partitioning.
    Q("q_describe_detail",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS path,
         |         "add" IS NOT NULL AS is_add,
         |         CAST("add"->>'$$.size' AS BIGINT) AS size,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1)
         |           AS BIGINT) AS v
         |  FROM $logJsonSrc
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY path
         |    ORDER BY v DESC, is_add DESC) AS rn FROM acts
         |), live AS (SELECT * FROM ranked WHERE rn = 1 AND is_add)
         |SELECT 'parquet' AS format,
         |  'n_regionkey' AS partition_columns,
         |  CAST(count(*) AS BIGINT) AS num_files,
         |  CAST(sum(size) AS BIGINT) AS size_in_bytes
         |FROM live""".stripMargin) { (s, dir) =>
      val path = logDemoTable(s, dir)
      graft.GraftSession(s).sql(s"DESCRIBE DETAIL '$path'")
        .select(col("format"),
          // ARRAY columns break the driver's pandas sort (unhashable
          // ndarray) — project the joined string for the harness.
          array_join(col("partitionColumns"), ",").as("partition_columns"),
          col("numFiles").as("num_files"),
          col("sizeInBytes").as("size_in_bytes"))
    },

    // A11: raw delta-log actions as a queryable table. Oracle: DuckDB
    // reads the SAME _delta_log JSON (sf-independent fixture at a fixed
    // path) and counts actions per commit — a content check of the log
    // itself, not a rows-only smoke.
    Q("delta_log",
      s"""WITH acts AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
         |           AS commit_version,
         |    "add"->>'$$.path' AS add_path,
         |    remove->>'$$.path' AS remove_path,
         |    metaData->>'$$.id' AS meta_id,
         |    protocol->>'$$.minReaderVersion' AS proto_mrv
         |  FROM $logJsonSrc
         |)
         |SELECT commit_version,
         |  count(add_path) AS n_adds,
         |  count(remove_path) AS n_removes,
         |  count(meta_id) AS n_metadata,
         |  count(proto_mrv) AS n_protocol
         |FROM acts GROUP BY commit_version ORDER BY commit_version""".stripMargin) { (s, dir) =>
      val path = logDemoTable(s, dir)
      val segment = LogSegment.forTable(s, new Path(path))
      Replay.actionsDF(s, segment)
        .select(col("commit_version"),
          col("add.path").isNotNull.as("is_add"),
          col("remove.path").isNotNull.as("is_remove"),
          col("metaData.id").isNotNull.as("is_metadata"),
          col("protocol.minReaderVersion").isNotNull.as("is_protocol"))
        .groupBy("commit_version")
        .agg(sum(col("is_add").cast("long")).as("n_adds"),
          sum(col("is_remove").cast("long")).as("n_removes"),
          sum(col("is_metadata").cast("long")).as("n_metadata"),
          sum(col("is_protocol").cast("long")).as("n_protocol"))
        .orderBy("commit_version")
    },

    // A12: post-replay scan-file rows. Oracle: DuckDB REPLAYS the log
    // with the same reconciliation rule (latest action per path wins,
    // re-add beats remove within a commit) — checks replay semantics
    // end-to-end against an independent implementation.
    Q("log_replay",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS path,
         |         "add" IS NOT NULL AS is_add,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
         |           AS commit_version,
         |         CAST("add"->>'$$.size' AS BIGINT) AS size,
         |         CAST(json_extract_string("add"->>'$$.stats', '$$.numRecords')
         |           AS BIGINT) AS num_records
         |  FROM $logJsonSrc
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY path
         |    ORDER BY commit_version DESC, is_add DESC) AS rn
         |  FROM acts
         |)
         |SELECT path, size, commit_version, num_records
         |FROM ranked WHERE rn = 1 AND is_add ORDER BY path""".stripMargin) { (s, dir) =>
      val snap = DeltaTable.forPath(s, logDemoTable(s, dir))
      snap.allFiles
        .select(col("path"), col("size"), col("commit_version"),
          get_json_object(col("stats"), "$.numRecords").cast("long")
            .as("num_records"))
        .orderBy("path")
    },

    // A31/A22: checkpoint protocol exercised END-TO-END — the snapshot
    // replays from the checkpoint alone, and the oracle reads the
    // CHECKPOINT PARQUET itself: live file count, the row count the
    // engine actually serves vs the stats the checkpoint recorded,
    // retained tombstones, and the SetTransaction that must survive for
    // exactly-once writers.
    Q("q_checkpoint_state",
      s"""WITH cp AS (
         |  SELECT * FROM read_parquet('$LogDemoCpPath/_delta_log/*.checkpoint.parquet')
         |)
         |SELECT 'live_files' AS metric, count("add".path) AS value FROM cp
         |UNION ALL
         |SELECT 'live_rows',
         |  CAST(sum(CAST(json_extract_string("add".stats, '$$.numRecords')
         |    AS BIGINT)) AS BIGINT) FROM cp
         |UNION ALL
         |SELECT 'tombstones', count(remove.path) FROM cp
         |UNION ALL
         |SELECT 'txn_writer_1',
         |  max(CASE WHEN txn.appId = 'writer-1' THEN txn.version END) FROM cp
         |ORDER BY metric""".stripMargin) { (s, dir) =>
      val path = checkpointedTable(s, dir)
      val snap = DeltaTable.forPath(s, path)
      require(snap.segment.checkpointVersion.isDefined &&
        snap.segment.commitFiles.isEmpty,
        "fixture must replay from the checkpoint alone")
      val metric = (name: String, df: DataFrame) =>
        df.select(lit(name).as("metric"), col("value"))
      metric("live_files",
        snap.allFiles.agg(count(lit(1)).cast(LongType).as("value")))
        .unionAll(metric("live_rows",
          snap.read.agg(count(lit(1)).cast(LongType).as("value"))))
        .unionAll(metric("tombstones",
          Replay.tombstones(s, snap.segment)
            .agg(count(lit(1)).cast(LongType).as("value"))))
        .unionAll(metric("txn_writer_1",
          s.range(1).select(lit(CommitWriter
            .latestTxnVersion(s, path, "writer-1").getOrElse(-1L))
            .cast(LongType).as("value"))))
        .orderBy("metric")
    },

    // Post-commit auto-compaction verified FROM DISK: after the
    // fixture's vacuum the table dir's top-level parquet IS the live
    // set. `n_files_expected` pins the Spark side to the LITERAL 1 the
    // compaction must produce while the oracle derives it from disk —
    // a compaction that fails to fire leaves 4 files on disk and the
    // gate mismatches; `n_files` separately cross-checks graft's
    // replayed live count against disk (vacuum/log divergence); rows
    // and content compare in full.
    Q("q_auto_compact",
      s"""SELECT
         |  (SELECT count(DISTINCT filename)
         |   FROM read_parquet('$AutoCompactDemoPath/*.parquet',
         |     filename=true)) AS n_files_expected,
         |  (SELECT count(DISTINCT filename)
         |   FROM read_parquet('$AutoCompactDemoPath/*.parquet',
         |     filename=true)) AS n_files,
         |  (SELECT count(*)
         |   FROM read_parquet('$AutoCompactDemoPath/*.parquet')) AS n_rows,
         |  (SELECT CAST(sum(n_nationkey) AS BIGINT)
         |   FROM read_parquet('$AutoCompactDemoPath/*.parquet'))
         |    AS key_sum""".stripMargin) { (s, dir) =>
      val p = autoCompactDemoTable(s, dir)
      val snap = DeltaTable.forPath(s, p)
      val nFiles = snap.allFiles.count()
      snap.read.agg(
        count(lit(1)).cast(LongType).as("n_rows"),
        sum(col("n_nationkey")).cast(LongType).as("key_sum"))
        .select(lit(1L).cast(LongType).as("n_files_expected"),
          lit(nFiles).cast(LongType).as("n_files"),
          col("n_rows"), col("key_sum"))
    },

    // Native V2 checkpoint: the oracle reads the UUID-named manifest
    // and the _sidecars parquet directly — file actions must live in
    // the sidecars (not the manifest), txn state in the manifest, and
    // graft's replay of the same artifact must agree on all of it.
    Q("q_checkpoint_v2",
      s"""WITH sc AS (
         |  SELECT * FROM read_parquet('$LogDemoV2CpPath/_delta_log/_sidecars/*.parquet')
         |), mf AS (
         |  SELECT * FROM read_parquet('$LogDemoV2CpPath/_delta_log/*.checkpoint.*.parquet')
         |)
         |SELECT 'live_files' AS metric, count("add".path) AS value FROM sc
         |UNION ALL
         |SELECT 'live_rows',
         |  CAST(sum(CAST(json_extract_string("add".stats, '$$.numRecords')
         |    AS BIGINT)) AS BIGINT) FROM sc
         |UNION ALL
         |SELECT 'manifest_file_actions',
         |  count("add".path) + count(remove.path) FROM mf
         |UNION ALL
         |SELECT 'sidecars', count(sidecar.path) FROM mf
         |UNION ALL
         |SELECT 'tombstones', count(remove.path) FROM sc
         |UNION ALL
         |SELECT 'txn_writer_2',
         |  max(CASE WHEN txn.appId = 'writer-2' THEN txn.version END) FROM mf
         |ORDER BY metric""".stripMargin) { (s, dir) =>
      val path = v2CheckpointedTable(s, dir)
      val snap = DeltaTable.forPath(s, path)
      require(snap.segment.checkpointIsV2 &&
        snap.segment.commitFiles.isEmpty,
        "fixture must replay from the v2 checkpoint alone")
      val metric = (name: String, df: DataFrame) =>
        df.select(lit(name).as("metric"), col("value"))
      metric("live_files",
        snap.allFiles.agg(count(lit(1)).cast(LongType).as("value")))
        .unionAll(metric("live_rows",
          snap.read.agg(count(lit(1)).cast(LongType).as("value"))))
        .unionAll(metric("manifest_file_actions",
          s.range(1).select(lit(0L).cast(LongType).as("value"))))
        .unionAll(metric("sidecars",
          // the segment's own resolution of the manifest, not a literal:
          // repartition(n) is free to write fewer than n part files on
          // a small/skewed table, and the oracle counts what's on disk
          s.range(1).select(lit(Replay.sidecarPaths(s, snap.segment)
            .size.toLong).cast(LongType).as("value"))))
        .unionAll(metric("tombstones",
          Replay.tombstones(s, snap.segment)
            .agg(count(lit(1)).cast(LongType).as("value"))))
        .unionAll(metric("txn_writer_2",
          s.range(1).select(lit(CommitWriter
            .latestTxnVersion(s, path, "writer-2").getOrElse(-1L))
            .cast(LongType).as("value"))))
        .orderBy("metric")
    })
}
