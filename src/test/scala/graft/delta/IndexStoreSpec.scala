package graft.delta

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.delta.log.{CommitWriter, LogSegment}

/** IndexStore.versionOf: None only for a plain-parquet layout or a
  * `_delta_log` that holds no commit yet; every other log failure
  * surfaces instead of degrading gated readers to re-reads. */
class IndexStoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_indexstore_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  test("versionOf is None for an empty _delta_log (mid-create)") {
    val p = tmp("empty")
    assert(new java.io.File(p, "_delta_log").mkdirs())
    assert(IndexStore.versionOf(spark, p).isEmpty)
  }

  test("versionOf is None for a plain-parquet dir and the version of a " +
      "Delta table") {
    val plain = tmp("plain")
    Seq((0L, 1.0)).toDF("cid", "x").write.parquet(plain)
    assert(IndexStore.versionOf(spark, plain).isEmpty)
    val p = tmp("live")
    CommitWriter.createTable(spark, Seq((0L, 1.0)).toDF("cid", "x"), p)
    CommitWriter.append(spark, Seq((1L, 2.0)).toDF("cid", "x"), p)
    assert(IndexStore.versionOf(spark, p).contains(1L))
  }

  test("versionOf throws on a log with a version gap") {
    val p = tmp("gap")
    CommitWriter.createTable(spark, Seq((0L, 1.0)).toDF("cid", "x"), p)
    CommitWriter.append(spark, Seq((1L, 2.0)).toDF("cid", "x"), p)
    CommitWriter.append(spark, Seq((2L, 3.0)).toDF("cid", "x"), p)
    assert(new java.io.File(s"$p/_delta_log",
      LogSegment.commitFileName(1L)).delete())
    val e = intercept[IllegalStateException] {
      IndexStore.versionOf(spark, p)
    }
    assert(e.getMessage.contains("Gap in _delta_log"), e.getMessage)
    assert(e.getMessage.contains("(0, 2)"), e.getMessage)
  }
}
