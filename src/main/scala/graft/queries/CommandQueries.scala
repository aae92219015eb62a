package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.delta.DeltaTable
import graft.delta.log.CommitWriter
import graft.ops.DirListing

/** Command-surface queries (SURVEY.md §2 A13-A18, A27): exercised through
  * the SQL front-end exactly as a user would drive them. Results are
  * command outputs (metrics/listings), so these are declared rows-only
  * (no DuckDB-expressible oracle over the source tables).
  */
object CommandQueries {

  /** Stable aliases for the vacuum_full scratch (rebuilt every call —
    * the query is destructive by design, so nothing is cached). */
  final val VacuumFullAlias =
    "/root/repo/target/delta_fixtures/vacuum_full_current"
  final val VacuumFullListingAlias =
    "/root/repo/target/delta_fixtures/vacuum_full_listing_current"

  /** Fresh sacrificial table: 2 data files, then a CoW DELETE rewrites
    * both (2 tombstones + 2 live), then every data file's mtime is
    * backdated past any retention so VACUUM FULL RETAIN 0's
    * `modification_time < now` candidate filter is immune to fs
    * timestamp granularity. */
  private def vacuumFullScratch(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val sf = new java.io.File(dir).getName
    val p = s"/root/repo/target/delta_fixtures/$sf/vacuum_full_scratch"
    val d = new java.io.File(p)
    if (d.exists()) scala.reflect.io.Directory(d).deleteRecursively()
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderkey") % 97 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    CommitWriter.createTable(s, orders.repartition(2), p)
    graft.commands.DmlCommands.delete(s, p,
      col("o_orderkey") % 194 === 0)
    val old = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach(_.setLastModified(old))
    p
  }

  val all: Seq[Q] = Seq(
    // A16/A18: VACUUM ... DRY RUN through the parser, on the
    // sf-independent log fixture (read-only: DRY RUN never mutates).
    // Oracle: DuckDB replays the log — vacuum candidates are exactly the
    // paths whose latest action is a remove, with lengths from their add
    // actions (add.size == on-disk length by construction).
    Q("vacuum_dry_run",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS relpath,
         |         "add" IS NOT NULL AS is_add,
         |         CAST("add"->>'$$.size' AS BIGINT) AS add_size,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT) AS cv
         |  FROM ${DeltaQueries.logJsonSrc}
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY relpath
         |    ORDER BY cv DESC, is_add DESC) AS rn FROM acts
         |), dead AS (
         |  SELECT relpath FROM ranked WHERE rn = 1 AND NOT is_add
         |), sizes AS (
         |  SELECT relpath, any_value(add_size) AS length
         |  FROM acts WHERE is_add GROUP BY relpath
         |)
         |SELECT 'file:${DeltaQueries.LogDemoPath}/' || d.relpath AS path,
         |       s.length AS length, false AS is_dir
         |FROM dead d JOIN sizes s USING (relpath) ORDER BY path""".stripMargin) { (s, dir) =>
      val path = DeltaQueries.logDemoTable(s, dir)
      GraftSession(s).sql(s"VACUUM '$path' RETAIN 0 HOURS DRY RUN")
        .select("path", "length", "is_dir")
        .orderBy("path")
    },

    // VACUUM LITE (implemented past the reference's todo!,
    // vacuum/mod.rs:130): candidates from the log's remove tombstones,
    // zero directory listings (pinned in CommandsSpec). With RETAIN 0
    // every tombstone qualifies, so the oracle is the same dead-path
    // replay as vacuum_dry_run — the two modes must agree exactly on a
    // debris-free table.
    Q("vacuum_lite",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS relpath,
         |         "add" IS NOT NULL AS is_add,
         |         CAST("add"->>'$$.size' AS BIGINT) AS add_size,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT) AS cv
         |  FROM ${DeltaQueries.logJsonSrc}
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY relpath
         |    ORDER BY cv DESC, is_add DESC) AS rn FROM acts
         |), dead AS (
         |  SELECT relpath FROM ranked WHERE rn = 1 AND NOT is_add
         |), sizes AS (
         |  SELECT relpath, any_value(add_size) AS length
         |  FROM acts WHERE is_add GROUP BY relpath
         |)
         |SELECT 'file:${DeltaQueries.LogDemoPath}/' || d.relpath AS path,
         |       s.length AS length, false AS is_dir
         |FROM dead d LEFT JOIN sizes s USING (relpath) ORDER BY path""".stripMargin) { (s, dir) =>
      val path = DeltaQueries.logDemoTable(s, dir)
      GraftSession(s).sql(s"VACUUM '$path' LITE RETAIN 0 HOURS DRY RUN")
        .select("path", "length", "is_dir")
        .orderBy("path")
    },

    // A15: VACUUM FULL end-state over a SACRIFICIAL scratch table
    // rebuilt on every call (the query is destructive by design):
    // create 2 files, CoW-DELETE so both are rewritten (2 tombstones),
    // backdate mtimes past any retention, VACUUM FULL RETAIN 0, then
    // verify the END STATE from both engines independently — Spark
    // re-reads live rows through its replay and diffs its own listing;
    // DuckDB counts rows in the files ACTUALLY left on disk and
    // re-derives live/dead from the raw log JSON. Equal ⇒ the delete
    // sink removed exactly the tombstoned files and nothing else.
    Q("vacuum_full",
      s"""WITH acts AS (
         |  SELECT COALESCE("add"->>'$$.path', remove->>'$$.path') AS relpath,
         |         "add" IS NOT NULL AS is_add,
         |         CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT) AS cv
         |  FROM read_json('$VacuumFullAlias/_delta_log/*.json',
         |    filename=true, format='newline_delimited',
         |    columns={"add": 'JSON', "remove": 'JSON'})
         |  WHERE "add" IS NOT NULL OR remove IS NOT NULL
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY relpath
         |    ORDER BY cv DESC, is_add DESC) AS rn FROM acts
         |), live AS (
         |  SELECT relpath FROM ranked WHERE rn = 1 AND is_add
         |), dead AS (
         |  SELECT relpath FROM ranked WHERE rn = 1 AND NOT is_add
         |), listing AS (
         |  SELECT relpath FROM read_parquet('$VacuumFullListingAlias/*.parquet')
         |)
         |SELECT
         |  CAST((SELECT count(*)
         |    FROM read_parquet('$VacuumFullAlias/*.parquet')) AS BIGINT)
         |    AS live_rows,
         |  CAST((SELECT count(*) FROM listing) AS BIGINT) AS files_on_disk,
         |  CAST((SELECT count(*) FROM listing l
         |    WHERE l.relpath NOT IN (SELECT relpath FROM live)) AS BIGINT)
         |    AS stale_on_disk,
         |  CAST((SELECT count(*) FROM dead) AS BIGINT) AS files_deleted""".stripMargin) { (s, dir) =>
      import s.implicits._
      val p = vacuumFullScratch(s, dir)
      val metrics = GraftSession(s).sql(s"VACUUM '$p' RETAIN 0 HOURS")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val filesDeleted = metrics("files_deleted").toLong
      // post-state listing, written for BOTH engines to read
      val root = new java.io.File(p).getAbsolutePath
      val onDisk = DirListing.listRecursive(s, p)
        .where(!col("is_dir") && col("path").endsWith(".parquet") &&
          !col("path").contains("/_delta_log"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("relpath"))
        .collect().map(_.getString(0)).toSeq.sorted
      s.createDataset(onDisk).toDF("relpath")
        .coalesce(1).write.mode("overwrite").parquet(s"${root}_listing")
      DeltaQueries.refreshAlias(VacuumFullAlias, root)
      DeltaQueries.refreshAlias(VacuumFullListingAlias, s"${root}_listing")
      val snap = DeltaTable.forPath(s, p)
      val liveRows = snap.read.count()
      val live = snap.allFiles.select("path")
        .collect().map(_.getString(0)).toSet
      Seq((liveRows, onDisk.size.toLong,
        onDisk.count(f => !live(f)).toLong, filesDeleted))
        .toDF("live_rows", "files_on_disk", "stale_on_disk",
          "files_deleted")
    },

    // A17: CREATE/DROP CATALOG through the parser. Output is the
    // securable row the reference's catalog commands return; the VALUES
    // oracle pins that contract (name/type/serialized object).
    Q("create_catalog",
      """SELECT 'graft_demo' AS securable_name,
        |  'catalog' AS securable_type,
        |  '{"name":"graft_demo","comment":"demo","options":{"owner":"graft"}}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CATALOG IF EXISTS graft_demo CASCADE")
      val created = g.sql(
        "CREATE CATALOG graft_demo COMMENT 'demo' OPTIONS (owner graft)")
      g.sql("DROP CATALOG graft_demo")
      created
    },

    // CREATE SCHEMA under a local catalog (the reference's own todo! at
    // sql/parser.rs:355, implemented against the same securable model
    // its CREATE CATALOG returns — securable row contract from
    // sql/unity/mod.rs:24-31). The full lifecycle (duplicates, CASCADE,
    // SHOW SCHEMAS, namespace integration) is pinned in CommandsSpec.
    Q("create_schema",
      """SELECT 'graft_demo.ml' AS securable_name,
        |  'schema' AS securable_type,
        |  '{"name":"ml","catalog_name":"graft_demo","comment":"training data"}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CATALOG IF EXISTS graft_demo CASCADE")
      g.sql("CREATE CATALOG graft_demo")
      val created = g.sql(
        "CREATE SCHEMA graft_demo.ml COMMENT 'training data'")
      g.sql("DROP SCHEMA graft_demo.ml")
      g.sql("DROP CATALOG graft_demo")
      created
    },

    // SHOW SCHEMAS listing contract (name, parent catalog, comment),
    // sorted by name like SHOW CATALOGS
    Q("q_show_schemas",
      """SELECT * FROM (VALUES
        |  ('curated', 'graft_demo', NULL),
        |  ('raw', 'graft_demo', 'landing zone'))
        |  AS t(schema_name, catalog_name, comment)
        |ORDER BY schema_name""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CATALOG IF EXISTS graft_demo CASCADE")
      g.sql("CREATE CATALOG graft_demo")
      g.sql("CREATE SCHEMA graft_demo.raw COMMENT 'landing zone'")
      g.sql("CREATE SCHEMA graft_demo.curated")
      val listed = g.sql("SHOW SCHEMAS IN graft_demo")
      g.sql("DROP CATALOG graft_demo CASCADE")
      listed
    },

    // SHARE securable lifecycle (the reference's parse_create_share
    // todo! at sql/parser.rs:358, implemented like SCHEMA was): create
    // returns the securable row, SHOW SHARES lists, DROP refusal while
    // referenced is pinned in CommandsSpec.
    Q("create_share",
      """SELECT 'finance' AS securable_name,
        |  'share' AS securable_type,
        |  '{"name":"finance","comment":"quarterly tables"}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP SHARE IF EXISTS finance")
      val created = g.sql("CREATE SHARE finance COMMENT 'quarterly tables'")
      g.sql("DROP SHARE finance")
      created
    },

    Q("q_show_shares",
      """SELECT * FROM (VALUES
        |  ('analytics', NULL),
        |  ('finance', 'quarterly tables'))
        |  AS t(share_name, comment)
        |ORDER BY share_name""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP SHARE IF EXISTS finance")
      g.sql("DROP SHARE IF EXISTS analytics")
      g.sql("CREATE SHARE finance COMMENT 'quarterly tables'")
      g.sql("CREATE SHARE analytics")
      // scoped to this query's own securables (see q_show_connections)
      val listed = g.sql("SHOW SHARES")
        .where(col("share_name").isin("finance", "analytics"))
      g.sql("DROP SHARE finance")
      g.sql("DROP SHARE analytics")
      listed
    },

    // Share CONTENT management: ALTER SHARE ADD TABLE publishes the
    // table under its shared name (readable through any bound graft
    // catalog — the read path is pinned in CommandsSpec); SHOW ALL IN
    // SHARE lists the share's objects. Uses the sf-independent logdemo
    // fixture so the oracle's path literals are stable.
    Q("q_share_objects",
      s"""SELECT * FROM (VALUES
         |  ('sales.orders_live', 'TABLE', '${DeltaQueries.LogDemoPath}'),
         |  ('sales.orders_mirror', 'TABLE', '${DeltaQueries.LogDemoPath}'))
         |  AS t(name, type, shared_object)
         |ORDER BY name""".stripMargin) { (s, dir) =>
      val p = DeltaQueries.logDemoTable(s, dir)
      val g = GraftSession(s)
      g.sql("DROP SHARE IF EXISTS salesq")
      g.sql("CREATE SHARE salesq")
      g.sql(s"ALTER SHARE salesq ADD TABLE '$p' AS sales.orders_live")
      g.sql(s"ALTER SHARE salesq ADD TABLE '$p' AS sales.orders_mirror")
      val listed = g.sql("SHOW ALL IN SHARE salesq")
      g.sql("ALTER SHARE salesq REMOVE TABLE sales.orders_mirror")
      g.sql("ALTER SHARE salesq REMOVE TABLE sales.orders_live")
      g.sql("DROP SHARE salesq")
      listed
    },

    // EXTERNAL LOCATION securable lifecycle (the reference's
    // parse_create_location todo! at sql/parser.rs:350): both the
    // reference's bare CREATE LOCATION and the ecosystem's CREATE
    // EXTERNAL LOCATION spellings land here.
    Q("create_location",
      """SELECT 'lake_raw' AS securable_name,
        |  'external_location' AS securable_type,
        |  '{"name":"lake_raw","url":"file:///tmp/lake/raw","credential_name":"lake_cred","comment":"landing"}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP EXTERNAL LOCATION IF EXISTS lake_raw")
      val created = g.sql(
        "CREATE EXTERNAL LOCATION lake_raw URL 'file:///tmp/lake/raw' " +
          "WITH (STORAGE CREDENTIAL lake_cred) COMMENT 'landing'")
      g.sql("DROP EXTERNAL LOCATION lake_raw")
      created
    },

    Q("q_show_locations",
      """SELECT * FROM (VALUES
        |  ('lake_curated', 'file:///tmp/lake/curated', NULL, NULL),
        |  ('lake_raw', 'file:///tmp/lake/raw', 'lake_cred', 'landing'))
        |  AS t(location_name, url, credential_name, comment)
        |ORDER BY location_name""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP EXTERNAL LOCATION IF EXISTS lake_raw")
      g.sql("DROP EXTERNAL LOCATION IF EXISTS lake_curated")
      g.sql(
        "CREATE EXTERNAL LOCATION lake_raw URL 'file:///tmp/lake/raw' " +
          "WITH (STORAGE CREDENTIAL lake_cred) COMMENT 'landing'")
      // the reference's own spelling (no EXTERNAL keyword)
      g.sql("CREATE LOCATION lake_curated URL 'file:///tmp/lake/curated'")
      // scoped to this query's own securables (see q_show_connections)
      val listed = g.sql("SHOW EXTERNAL LOCATIONS")
        .where(col("location_name").isin("lake_raw", "lake_curated"))
      g.sql("DROP LOCATION lake_raw")
      g.sql("DROP EXTERNAL LOCATION lake_curated")
      listed
    },

    // CONNECTION + FOREIGN CATALOG securables (the reference's
    // parse_create_connection / parse_create_foreign_catalog todo!s at
    // sql/parser.rs:346/:342): a foreign catalog mounts through a
    // connection, which must exist and cannot drop while referenced
    // (lifecycle pinned in CommandsSpec).
    Q("create_connection",
      """SELECT 'pg_main' AS securable_name,
        |  'connection' AS securable_type,
        |  '{"name":"pg_main","connection_type":"postgresql","url":"jdbc:postgresql://db:5432/main","comment":"primary"}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CONNECTION IF EXISTS pg_main")
      val created = g.sql(
        "CREATE CONNECTION pg_main TYPE postgresql " +
          "URL 'jdbc:postgresql://db:5432/main' COMMENT 'primary'")
      g.sql("DROP CONNECTION pg_main")
      created
    },

    Q("q_foreign_catalog",
      """SELECT 'pg_cat' AS securable_name,
        |  'catalog' AS securable_type,
        |  '{"name":"pg_cat","using_connection":"pg_main","comment":"mirrored"}'
        |    AS securable_object""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CATALOG IF EXISTS pg_cat")
      g.sql("DROP CONNECTION IF EXISTS pg_main")
      g.sql("CREATE CONNECTION pg_main TYPE postgresql")
      val created = g.sql(
        "CREATE FOREIGN CATALOG pg_cat USING CONNECTION pg_main " +
          "COMMENT 'mirrored'")
      g.sql("DROP CATALOG pg_cat")
      g.sql("DROP CONNECTION pg_main")
      created
    },

    // FOREIGN CATALOG data plane: a connection whose file: URL names a
    // local directory tree (the zero-egress stand-in for the remote
    // system) mounts `<root>/<schema>/<table>` through the read-only
    // ForeignCatalog plugin, so the mounted name serves REAL reads —
    // the local analogue of the reference's UC table resolution
    // (crates/datafusion/src/schema_provider.rs:83-118). The oracle
    // reads the same delta table's (single-commit, all-live) parquet
    // files straight off the mounted tree.
    Q("q_foreign_read",
      s"""SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
         |  CAST(n_regionkey AS INTEGER) AS n_regionkey
         |FROM read_parquet(
         |  '${DeltaQueries.ForeignRootPath}/analytics/nations_live/*/*.parquet',
         |  hive_partitioning=true)
         |WHERE n_regionkey <= 2
         |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val root = DeltaQueries.foreignSystemRoot(s, dir)
      val g = GraftSession(s)
      g.sql("DROP CATALOG IF EXISTS remote_cat")
      g.sql("DROP CONNECTION IF EXISTS remote_fs")
      g.sql(s"CREATE CONNECTION remote_fs TYPE filesystem URL 'file://$root'")
      g.sql("CREATE FOREIGN CATALOG remote_cat USING CONNECTION remote_fs")
      s.sql("""SELECT n_nationkey, n_name, n_regionkey
              |FROM remote_cat.analytics.nations_live
              |WHERE n_regionkey <= 2
              |ORDER BY n_nationkey""".stripMargin)
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
    },

    Q("q_show_connections",
      """SELECT * FROM (VALUES
        |  ('kafka_events', 'kafka', NULL, NULL),
        |  ('pg_main', 'postgresql', 'jdbc:postgresql://db:5432/main',
        |   'primary'))
        |  AS t(connection_name, connection_type, url, comment)
        |ORDER BY connection_name""".stripMargin) { (s, _) =>
      val g = GraftSession(s)
      g.sql("DROP CONNECTION IF EXISTS pg_main")
      g.sql("DROP CONNECTION IF EXISTS kafka_events")
      g.sql("CREATE CONNECTION pg_main TYPE postgresql " +
        "URL 'jdbc:postgresql://db:5432/main' COMMENT 'primary'")
      g.sql("CREATE CONNECTION kafka_events TYPE kafka")
      // scope to the names this query created: the registry is shared
      // across the whole suite's session and some queries MUST leave
      // securables registered (q_foreign_read's mount serves its
      // returned frame lazily), so an unscoped SHOW would depend on
      // query execution order
      val listed = g.sql("SHOW CONNECTIONS")
        .where(col("connection_name").isin("pg_main", "kafka_events"))
      g.sql("DROP CONNECTION pg_main")
      g.sql("DROP CONNECTION kafka_events")
      listed
    },

    // table history via DESCRIBE HISTORY over the sf-independent log
    // fixture. Oracle: DuckDB derives the same rows from the raw
    // _delta_log JSON (commitInfo fields + non-commitInfo line counts).
    Q("describe_history",
      s"""SELECT
         |  CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT) AS version,
         |  any_value(commitInfo->>'$$.operation') AS operation,
         |  any_value(commitInfo->>'$$.engineInfo') AS engine_info,
         |  count(*) - count(commitInfo->>'$$.operation') AS n_actions
         |FROM ${DeltaQueries.logJsonSrc}
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val path = DeltaQueries.logDemoTable(s, dir)
      GraftSession(s).sql(s"DESCRIBE HISTORY '$path'")
        .select("version", "operation", "engine_info", "n_actions")
        .orderBy("version")
    },

    // A13: directory listing operator over the sf-independent fixture.
    // Oracle: the top level of a partitioned Delta table is fully
    // determined by the log — one dir per distinct partition value plus
    // _delta_log (no top-level files; dirs list null length).
    Q("dir_listing",
      s"""SELECT 'file:${DeltaQueries.LogDemoPath}/' || d AS path,
         |       CAST(NULL AS BIGINT) AS length, true AS is_dir
         |FROM (
         |  SELECT DISTINCT 'n_regionkey=' ||
         |    ("add"->'$$.partitionValues'->>'$$.n_regionkey') AS d
         |  FROM ${DeltaQueries.logJsonSrc}
         |  WHERE "add" IS NOT NULL
         |  UNION ALL SELECT '_delta_log'
         |) t ORDER BY path""".stripMargin) { (s, dir) =>
      DirListing.list(s, DeltaQueries.logDemoTable(s, dir))
        .select(col("path"), col("length"), col("is_dir"))
        .orderBy("path")
    },

    // A27: sign_storage_url local passthrough over the fixture's commit
    // files. Oracle: the same file set via read_json's filename column;
    // local URLs sign to themselves (the reference's LocalFileSystem arm).
    Q("sign_url",
      s"""SELECT DISTINCT 'file:' || filename AS path,
         |       'file:' || filename AS signed
         |FROM ${DeltaQueries.logJsonSrc}
         |ORDER BY path""".stripMargin) { (s, dir) =>
      GraftSession(s) // registers the session's functions once
      DirListing.list(s, DeltaQueries.logDemoTable(s, dir) + "/_delta_log")
        .where(!col("is_dir"))
        .selectExpr("path", "sign_storage_url(path) AS signed")
        .orderBy("path")
    })
}
