package graft.delta

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.commands.AlterTableCommand
import graft.delta.log.{CommitWriter, LogCompaction}

/** Integer table properties graft acts on are validated where graft sets
  * them: CREATE (`CommitWriter.createTable`'s configuration) and SET
  * TBLPROPERTIES reject a value that is not an integer or is below the
  * key's least value, with an error naming the key. */
class TablePropertySpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_props_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private lazy val region = spark.read.parquet(s"$sf/region.parquet")

  /** (key, rejected values, an accepted value) */
  private val cases = Seq(
    (CommitWriter.CheckpointIntervalPropKey, Seq("ten", "2.5", "0", "-3"), "7"),
    (LogCompaction.IntervalPropKey, Seq("x", "0", "-1"), "5"),
    (CommitWriter.DataSkippingNumIndexedColsKey, Seq("all", "1.0", "-2"), "-1"))

  private def rejects(key: String, value: String)(body: => Any): Unit = {
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(key) && e.getMessage.contains(value),
      e.getMessage)
  }

  for ((key, bad, good) <- cases) {
    test(s"CREATE rejects a bad $key") {
      val p = tmp("create")
      bad.foreach(v => rejects(key, v)(CommitWriter.createTable(spark,
        region.limit(1), p, configuration = Map(key -> v))))
      CommitWriter.createTable(spark, region.limit(1), p,
        configuration = Map(key -> good))
      assert(DeltaTable.forPath(spark, p).metadata.configuration(key) == good)
    }

    test(s"SET TBLPROPERTIES rejects a bad $key") {
      val p = tmp("alter")
      CommitWriter.createTable(spark, region.limit(1), p)
      bad.foreach(v => rejects(key, v)(
        AlterTableCommand.setTblProperties(spark, p, Seq(key -> v))))
      assert(DeltaTable.forPath(spark, p).version == 0L)
      AlterTableCommand.setTblProperties(spark, p, Seq(key -> good))
      assert(DeltaTable.forPath(spark, p).metadata.configuration(key) == good)
    }
  }
}
