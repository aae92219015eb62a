package graft.delta

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{CommitWriter, LogSegment}

/** In-commit timestamps (writer feature `inCommitTimestamp`):
  * monotonic commitInfo.inCommitTimestamp stamped at the commit choke
  * point, preferred over file mtimes for timestamp time travel and the
  * change feed — the clock-skew-proof form that survives log copies. */
class IctSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_ict_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def ictOf(p: String, v: Long): Option[Long] = {
    val fs = LogSegment.fs(spark, new Path(p))
    val commit = new Path(new Path(p, "_delta_log"),
      LogSegment.commitFileName(v))
    val in = fs.open(commit)
    val first = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().find(_.nonEmpty) finally in.close()
    first.map(mapper.readTree).flatMap(n => Option(n.get("commitInfo")))
      .flatMap(ci => Option(ci.get("inCommitTimestamp")).map(_.asLong()))
  }

  test("ICT table stamps monotonic in-commit timestamps from birth") {
    val p = tmp("birth")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    CommitWriter.append(spark, region.limit(1), p)
    CommitWriter.append(spark, region.limit(1), p)

    val proto = DeltaTable.forPath(spark, p).protocol
    assert(proto.minWriterVersion == 7)
    assert(proto.writerFeatures.get.contains("inCommitTimestamp"))

    val icts = (0L to 2L).map(v => ictOf(p, v).get)
    assert(icts == icts.sorted && icts.distinct == icts,
      s"ICTs not strictly increasing: $icts")
  }

  test("timestampAsOf resolves via ICT, ignoring bogus file mtimes") {
    val p = tmp("travel")
    CommitWriter.createTable(spark, region.limit(1), p,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    Thread.sleep(5)
    CommitWriter.append(spark, region.limit(2), p)
    val ict0 = ictOf(p, 0).get
    val ict1 = ictOf(p, 1).get
    assert(ict1 > ict0)

    // corrupt the mtimes (as a log copy would): ICT must still win
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    fs.setTimes(new Path(logDir, LogSegment.commitFileName(0)), 5000L, -1)
    fs.setTimes(new Path(logDir, LogSegment.commitFileName(1)), 1000L, -1)

    assert(DeltaTable.forPathAtTimestamp(spark, p, ict0).version == 0)
    assert(DeltaTable.forPathAtTimestamp(spark, p, ict1 - 1).version == 0)
    assert(DeltaTable.forPathAtTimestamp(spark, p, ict1).version == 1)
    // the change feed's commit timestamp is the ICT too
    assert(graft.delta.scan.CommitRangeScan
      .commitTimestampMillis(spark, p, 1) == ict1)
    // and the DERIVED row feed stamps _commit_timestamp from the ICT
    // (not commitInfo.timestamp, which a log copy could skew)
    val ts = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("_commit_timestamp").distinct().collect()
      .map(_.getTimestamp(0).getTime).toSet
    assert(ts == Set(ict1), s"feed timestamps $ts != ICT $ict1")
  }

  test("without ICT the change feed and time travel share the mtime clock") {
    val p = tmp("mtime_clock")
    CommitWriter.createTable(spark, region.limit(1), p) // v0
    CommitWriter.append(spark, region.limit(2), p)      // v1
    CommitWriter.append(spark, region.limit(1), p)      // v2
    assert(ictOf(p, 1).isEmpty)
    // mtimes unrelated to commitInfo.timestamp, as a log copy leaves
    val fs = LogSegment.fs(spark, new Path(p))
    val logDir = new Path(p, "_delta_log")
    Seq(0L -> 1000000L, 1L -> 2000000L, 2L -> 3000000L).foreach {
      case (v, t) => fs.setTimes(
        new Path(logDir, LogSegment.commitFileName(v)), t, -1)
    }
    val feedTs = spark.read.format("graftdelta")
      .option("path", p).option("startingVersion", "1")
      .option("endingVersion", "1")
      .option("readChangeFeed", "true").load()
      .select("_commit_timestamp").distinct().collect()
      .map(_.getTimestamp(0).getTime).toSet
    assert(feedTs == Set(2000000L), s"feed timestamps $feedTs")
    assert(DeltaTable.forPathAtTimestamp(spark, p, feedTs.head).version == 1)
  }

  test("mid-life enablement records matching enablement properties") {
    val p = tmp("enable")
    CommitWriter.createTable(spark, region.limit(2), p) // legacy table
    CommitWriter.append(spark, region.limit(1), p)
    assert(ictOf(p, 1).isEmpty) // not enabled yet

    val g = graft.GraftSession(spark)
    g.sql(s"ALTER TABLE '$p' SET TBLPROPERTIES " +
      "('delta.enableInCommitTimestamps' = 'true')") // v2
    val snap = DeltaTable.forPath(spark, p)
    val cfg = snap.metadata.configuration
    assert(cfg("delta.inCommitTimestampEnablementVersion") == "2")
    // the declared enablement timestamp IS the enabling commit's ICT
    assert(ictOf(p, 2).contains(
      cfg("delta.inCommitTimestampEnablementTimestamp").toLong))
    assert(snap.protocol.writerFeatures.get.contains("inCommitTimestamp"))

    // later commits keep stamping
    CommitWriter.append(spark, region.limit(1), p) // v3
    assert(ictOf(p, 3).get > ictOf(p, 2).get)
  }

  test("ICT memo survives out-of-band table recreation at the same version") {
    // sequential commits memoize the ICT flag per (table, version); a
    // table deleted and recreated OUT-OF-BAND (external writer) with
    // realigned version numbers must not hit the stale memo — the memo
    // validates the parent commit file's identity before trusting it
    val p = tmp("recreate")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    CommitWriter.append(spark, region.limit(1), p) // v1, memo: (2, true)
    assert(ictOf(p, 1).isDefined)

    // external actor: wipe the table, recreate a NON-ICT table whose
    // next version realigns with the memo (versions 0 and 1 on disk)
    val dir = new java.io.File(p)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete()
    }
    wipe(dir)
    val plain = tmp("recreate_plain")
    CommitWriter.createTable(spark, region.limit(2), plain)
    CommitWriter.append(spark, region.limit(1), plain)
    // copy the plain table's files in as the "external" recreation
    def copyAll(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyAll(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath)
      }
    }
    copyAll(new java.io.File(plain), dir)

    // our next append lands at exactly the memoized version 2 — the
    // stale memo must be rejected and the fresh (non-ICT) state used
    CommitWriter.append(spark, region.limit(1), p) // v2
    assert(ictOf(p, 2).isEmpty,
      "stale ICT memo applied to a recreated non-ICT table")
  }

  test("ICT memo rejects a same-length, same-mtime parent rewrite") {
    // the adversarial recreation a (size, mtime) stat CANNOT catch: the
    // out-of-band parent commit file reproduces the original's byte
    // length and mtime exactly — only the content hash tells them apart
    val p = tmp("rewrite")
    CommitWriter.createTable(spark, region.limit(2), p,
      configuration = Map("delta.enableInCommitTimestamps" -> "true"))
    CommitWriter.append(spark, region.limit(1), p) // v1; memo for v2
    val v1 = new java.io.File(p,
      "_delta_log/" + LogSegment.commitFileName(1))
    val origLen = v1.length()
    val origMtime = v1.lastModified()

    // external recreation: a NON-ICT table with the same shape, whose
    // v1 commit is padded (inside commitInfo.engineInfo — still valid
    // JSON) to the original's exact byte length
    val plain = tmp("rewrite_plain")
    CommitWriter.createTable(spark, region.limit(2), plain)
    CommitWriter.append(spark, region.limit(1), plain)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(wipe)
      f.delete()
    }
    def copyAll(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        val t = new java.io.File(dst, f.getName)
        if (f.isDirectory) copyAll(f, t)
        else Files.copy(f.toPath, t.toPath)
      }
    }
    wipe(new java.io.File(p))
    copyAll(new java.io.File(plain), new java.io.File(p))
    val plainText = new String(Files.readAllBytes(v1.toPath), "UTF-8")
    val pad = (origLen - plainText.getBytes("UTF-8").length).toInt
    assume(pad > 0, "ICT commit expected longer than plain commit")
    val padded = plainText.replaceFirst("graft/0\\.1\\.0",
      "graft/0.1.0" + ("X" * pad))
    Files.write(v1.toPath, padded.getBytes("UTF-8"))
    assert(v1.length() == origLen, "pad failed to match byte length")
    assert(v1.setLastModified(origMtime))

    CommitWriter.append(spark, region.limit(1), p) // v2
    assert(ictOf(p, 2).isEmpty,
      "stale ICT memo trusted a byte-length/mtime-identical rewrite")
  }
}
