package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.commands.{DmlCommands, OptimizeCommand}
import graft.delta.log.{Actions, CommitWriter, ConflictChecker}
import graft.delta.log.ConflictChecker._

/** Optimistic-concurrency conflict rules: lost commit races rebase when
  * the winners are provably disjoint and fail with TYPED conflicts
  * otherwise. Unit cases drive [[CommitWriter.commitWithRebase]] with a
  * deliberately stale base version (the winner is committed first, so
  * the race outcome is deterministic); the threaded cases race real
  * writers whose profiles make both outcomes identical regardless of
  * interleaving order. */
class ConcurrencySpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_cc_$name").toFile
    d.deleteOnExit()
    new java.io.File(d, "tbl").getAbsolutePath
  }

  private def df(p: Int, xs: Range) = {
    import spark.implicits._
    xs.map(x => (p, x)).toDF("p", "x")
  }

  private def txnAction(app: String = "probe") =
    CommitWriter.txnJson(Actions.SetTransaction(app, 1L, None))

  test("rebase lands at the new tip when winners are blind appends") {
    val p = tmp("rebase")
    CommitWriter.createTable(spark, df(1, 0 until 5), p)
    val stale = DeltaTable.forPath(spark, p).version // 0
    CommitWriter.append(spark, df(2, 0 until 3), p)  // winner: version 1
    val v = CommitWriter.commitWithRebase(spark, p, stale,
      Seq(txnAction()), "WRITE", TxnProfile())
    assert(v == 2, "the losing commit must rebase past the winner")
    assert(DeltaTable.forPath(spark, p).version == 2)
  }

  test("the rebase loop hands each attempt its parent segment: the read " +
      "segment first, then the tip holding the winner") {
    val p = tmp("parents")
    CommitWriter.createTable(spark, df(1, 0 until 5), p)
    val read = DeltaTable.forPath(spark, p).segment           // version 0
    val winner = CommitWriter.append(spark, df(2, 0 until 3), p) // version 1
    val parents = Seq.newBuilder[graft.delta.log.LogSegment]
    val v = CommitWriter.commitWithRebaseVersioned(spark, p, read,
      parent => { parents += parent; Seq(txnAction()) }, "WRITE",
      TxnProfile())
    val seen = parents.result()
    assert(seen.length == 2)
    assert(seen.head eq read,
      "the first attempt must build on the read segment")
    assert(seen(1).version == winner,
      "the rebase attempt must build on the winner's segment")
    assert(seen(1).commitFiles.map(_.getPath.getName).last ==
      graft.delta.log.LogSegment.commitFileName(winner))
    assert(v == winner + 1)
    assert(DeltaTable.forPath(spark, p).version == winner + 1)
  }

  test("a winner metadata change is a typed MetadataChangedException") {
    val p = tmp("metaconflict")
    CommitWriter.createTable(spark, df(1, 0 until 5), p)
    val stale = DeltaTable.forPath(spark, p).version
    val snap = DeltaTable.forPath(spark, p)
    CommitWriter.commitMetadata(spark, p, snap.metadata.copy(
      configuration = snap.metadata.configuration + ("custom.k" -> "v")))
    val e = intercept[MetadataChangedException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "WRITE", TxnProfile())
    }
    assert(e.getMessage.contains("changed the metadata"))
  }

  test("a winner protocol change is a typed ProtocolChangedException") {
    val p = tmp("protoconflict")
    CommitWriter.createTable(spark, df(1, 0 until 5), p)
    val stale = DeltaTable.forPath(spark, p).version
    CommitWriter.commit(spark, p, stale + 1,
      Seq(CommitWriter.protocolJson(Actions.Protocol(1, 2))), "UPGRADE")
    intercept[ProtocolChangedException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "WRITE", TxnProfile())
    }
  }

  test("two writers removing the same file: ConcurrentDeleteDelete") {
    val p = tmp("deldel")
    CommitWriter.createTable(spark, df(1, 0 until 20).repartition(1), p)
    val stale = DeltaTable.forPath(spark, p).version
    val victim = DeltaTable.forPath(spark, p).allFiles
      .select("path").head().getString(0)
    // winner: a real DELETE that rewrites (removes) the only file
    DmlCommands.delete(spark, p, col("x") === 0)
    val e = intercept[ConcurrentDeleteDeleteException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "DELETE",
        TxnProfile(readPaths = Set(victim), removePaths = Set(victim)))
    }
    assert(e.getMessage.contains(victim))
  }

  test("a winner removing a file the loser read: ConcurrentDeleteRead") {
    val p = tmp("delread")
    CommitWriter.createTable(spark, df(1, 0 until 20).repartition(1), p)
    val stale = DeltaTable.forPath(spark, p).version
    val readFile = DeltaTable.forPath(spark, p).allFiles
      .select("path").head().getString(0)
    DmlCommands.delete(spark, p, col("x") === 0) // winner rewrites it
    intercept[ConcurrentDeleteReadException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "MERGE",
        TxnProfile(readPaths = Set(readFile))) // reads it, removes nothing
    }
  }

  test("winner adds conflict with scan-dependent txns unless the " +
      "predicate rules their partition out") {
    val p = tmp("addprune")
    CommitWriter.createTable(spark, df(1, 0 until 5), p,
      partitionColumns = Seq("p"))
    val stale = DeltaTable.forPath(spark, p).version
    CommitWriter.append(spark, df(2, 0 until 3), p) // winner: adds to p=2
    val snap = DeltaTable.forPath(spark, p)
    def profile(pred: org.apache.spark.sql.Column) = TxnProfile(
      dependsOnNewData = true, predicate = Some(pred),
      schema = snap.schema, partitionColumns = Seq("p"))

    // predicate pinned to p=1: the p=2 add is provably irrelevant
    val v = CommitWriter.commitWithRebase(spark, p, stale,
      Seq(txnAction("disjoint")), "DELETE", profile(col("p") === 1))
    assert(v == 2)

    // predicate covering p=2: typed append conflict
    val stale2 = DeltaTable.forPath(spark, p).version
    CommitWriter.append(spark, df(2, 10 until 13), p)
    intercept[ConcurrentAppendException] {
      CommitWriter.commitWithRebase(spark, p, stale2,
        Seq(txnAction("hot")), "DELETE", profile(col("p") === 2))
    }

    // predicate on a NON-partition column: unknown over the add's
    // partition values -> conservative conflict
    val stale3 = DeltaTable.forPath(spark, p).version
    CommitWriter.append(spark, df(3, 0 until 2), p)
    intercept[ConcurrentAppendException] {
      CommitWriter.commitWithRebase(spark, p, stale3,
        Seq(txnAction("nonpart")), "DELETE", profile(col("x") > 100))
    }

    // no predicate at all (MERGE shape): every data add conflicts
    val stale4 = DeltaTable.forPath(spark, p).version
    CommitWriter.append(spark, df(4, 0 until 2), p)
    intercept[ConcurrentAppendException] {
      CommitWriter.commitWithRebase(spark, p, stale4,
        Seq(txnAction("merge")), "MERGE",
        TxnProfile(dependsOnNewData = true))
    }
  }

  test("dataChange=false winner adds (compaction) never trip the " +
      "append rule; their removes still conflict") {
    val p = tmp("optwinner")
    CommitWriter.createTable(spark, df(1, 0 until 10).repartition(2), p)
    val stale = DeltaTable.forPath(spark, p).version
    val preFiles = DeltaTable.forPath(spark, p).allFiles
      .select("path").collect().map(_.getString(0)).toSet
    OptimizeCommand.optimize(spark, p) // winner: remove 2 small, add 1
    // scan-dependent loser whose read set is DISJOINT from the
    // compacted files: the compaction's adds are dataChange=false, so
    // only its removes matter — and they don't overlap
    val v = CommitWriter.commitWithRebase(spark, p, stale,
      Seq(txnAction()), "DELETE",
      TxnProfile(readPaths = Set("not-a-live-file.parquet"),
        dependsOnNewData = true, predicate = None))
    assert(v == 2)
    // a loser that READ one of the compacted files conflicts
    val stale2 = stale // still pre-OPTIMIZE
    intercept[ConcurrentDeleteReadException] {
      CommitWriter.commitWithRebase(spark, p, stale2,
        Seq(txnAction("reader")), "DELETE",
        TxnProfile(readPaths = Set(preFiles.head)))
    }
  }

  test("DELETE rebases over a racing append to another partition " +
      "(threaded, end-to-end)") {
    import java.util.concurrent.{CyclicBarrier, Executors}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val p = tmp("delrace")
    CommitWriter.createTable(spark,
      df(1, 0 until 100).union(df(2, 0 until 50)), p,
      partitionColumns = Seq("p"))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(4)
    try {
      // 3 appends into p=3 race one DELETE of p=1 rows: the DELETE's
      // predicate rules partition 3 out, so EVERY interleaving ends the
      // same way — all four transactions succeed
      val appends = (0 until 3).map { i =>
        Future { barrier.await(); CommitWriter.append(
          spark, df(3, i * 10 until i * 10 + 10), p, maxRetries = 64) }
      }
      val del = Future {
        barrier.await()
        DmlCommands.delete(spark, p, col("p") === 1 && col("x") < 40)
      }
      Await.result(Future.sequence(appends :+ del.map(_ => 0L)), 120.seconds)
      val snap = DeltaTable.forPath(spark, p)
      assert(snap.version == 4, "3 appends + 1 DELETE must all commit")
      assert(snap.read.where(col("p") === 1).count() == 60)
      assert(snap.read.where(col("p") === 3).count() == 30)
      assert(snap.read.count() == 60 + 50 + 30)
    } finally pool.shutdown()
  }

  test("OPTIMIZE rebases over racing appends; ingest is never blocked " +
      "(threaded, end-to-end)") {
    import java.util.concurrent.{CyclicBarrier, Executors}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val p = tmp("optrace")
    CommitWriter.createTable(spark, df(1, 0 until 50).repartition(4), p)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(4)
    try {
      val appends = (0 until 3).map { i =>
        Future { barrier.await(); CommitWriter.append(
          spark, df(10 + i, 0 until 5), p, maxRetries = 64) }
      }
      val opt = Future {
        barrier.await()
        OptimizeCommand.optimize(spark, p)
      }
      Await.result(Future.sequence(appends :+ opt.map(_ => 0L)), 120.seconds)
      val snap = DeltaTable.forPath(spark, p)
      assert(snap.version == 4, "3 appends + OPTIMIZE must all commit")
      // compaction moved rows but lost none; racing appends stay live
      assert(snap.read.count() == 50 + 15)
      assert(snap.read.where(col("p") >= 10).count() == 15)
    } finally pool.shutdown()
  }

  test("append conflicts (typed) when racing a schema-contract change") {
    val p = tmp("appendmeta")
    CommitWriter.createTable(spark, df(1, 0 until 5), p)
    // winner flips a table property between the loser's snapshot read
    // and its commit — simulated by the stale-base unit path, since
    // append() itself re-reads the tip at entry
    val stale = DeltaTable.forPath(spark, p).version
    val snap = DeltaTable.forPath(spark, p)
    CommitWriter.commitMetadata(spark, p, snap.metadata.copy(
      configuration = snap.metadata.configuration +
        ("delta.appendOnly" -> "true")))
    intercept[MetadataChangedException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "WRITE", TxnProfile())
    }
  }

  test("OPTIMIZE losing to a DV DELETE is a delete/read conflict — " +
      "the DV swap's remove is visible to the checker") {
    val p = tmp("optdv")
    CommitWriter.createTable(spark, df(1, 0 until 30).repartition(1), p,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val stale = DeltaTable.forPath(spark, p).version
    val f = DeltaTable.forPath(spark, p).allFiles
      .select("path").head().getString(0)
    // winner: merge-on-read DELETE — emits remove(f) + re-add(f with DV)
    DmlCommands.delete(spark, p, col("x") === 3)
    // a compaction that had read f pre-delete must NOT rebase: its
    // rewritten copy would resurrect the deleted rows. (Classified
    // delete/delete — OPTIMIZE also removes f and that rule fires
    // first; a pure reader of f gets delete/read.)
    intercept[ConcurrentDeleteDeleteException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "OPTIMIZE",
        TxnProfile(readPaths = Set(f), removePaths = Set(f)))
    }
    intercept[ConcurrentDeleteReadException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction("reader")), "MERGE",
        TxnProfile(readPaths = Set(f)))
    }
  }

  test("winners spanning several commits are classified together") {
    val p = tmp("span")
    CommitWriter.createTable(spark, df(1, 0 until 5), p,
      partitionColumns = Seq("p"))
    val stale = DeltaTable.forPath(spark, p).version
    CommitWriter.append(spark, df(2, 0 until 3), p)
    CommitWriter.append(spark, df(3, 0 until 3), p)
    CommitWriter.append(spark, df(4, 0 until 3), p)
    val snap = DeltaTable.forPath(spark, p)
    // predicate rules out p=2 and p=3 but NOT p=4 -> conflict names it
    val e = intercept[ConcurrentAppendException] {
      CommitWriter.commitWithRebase(spark, p, stale,
        Seq(txnAction()), "DELETE",
        TxnProfile(dependsOnNewData = true,
          predicate = Some(col("p") === 4),
          schema = snap.schema, partitionColumns = Seq("p")))
    }
    assert(e.getMessage.contains("commits 1-3"))
    // ruling out all three rebases cleanly
    val v = CommitWriter.commitWithRebase(spark, p, stale,
      Seq(txnAction("clean")), "DELETE",
      TxnProfile(dependsOnNewData = true,
        predicate = Some(col("p") === 1),
        schema = snap.schema, partitionColumns = Seq("p")))
    assert(v == 4)
  }
}
