package graft.bench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `dedup_pipeline`: one client running the declared training-data
  * queries over `documents` and `embeddings` in pipeline order, each
  * stage written out in full as parquet. The first (cold) pass is the
  * warm-up and the one checked against the DuckDB oracle; every timed
  * pass is checked against it afterwards. */
object DedupWorkload {

  /** Catalyst phases of the write commands, which plan a query of their
    * own. The listener runs on Spark's event thread, so it cannot see the
    * op; the phases are charged to the op whose span contains them (one
    * client, so exactly one). */
  private class PhaseListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (Trace.enabled)
        qe.tracker.phases.foreach { case (phase, s) =>
          Trace.external(null, s"catalyst.$phase", s.startTimeMs * 1000000L,
            s.endTimeMs * 1000000L)
        }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val stages = ctx.arr(ctx.plan.get("ops").get("stages")).map(_.asText())
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val inputs = ctx.plan.get("inputs")
    if (ctx.traced) spark.listenerManager.register(new PhaseListener)

    // set-up: load the generated inputs into the lake directory the
    // queries read
    val dirs = ctx.setup(ctx.params.get("setup_repeats").asInt()) { r =>
      val dir = s"${ctx.work}/lake_$r"
      for (t <- Seq("documents", "embeddings"))
        spark.read.parquet(inputs.get(t).asText()).write.parquet(s"$dir/$t.parquet")
      dir
    }
    val dir = dirs.head

    val out = ctx.result.putObject("stage_sql")
    stages.foreach(q => out.put(q, oracle(q)))

    def pass(p: Int, timed: Boolean): Unit = stages.zipWithIndex.foreach { case (q, k) =>
      val target = s"${ctx.work}/stages/pass_$p/$q"
      if (timed)
        ctx.op(q, 0, p * stages.size + k, traceKey = p - 1) { (_, _) =>
          Trace.span(s"stage.$q")(queries(q)(spark, dir).write.parquet(target))
          Map("pass" -> p)
        }
      else queries(q)(spark, dir).write.parquet(target)
    }

    ctx.phase("cold_pass")(pass(0, timed = false))

    ctx.startMeasure()
    var p = 1
    while (!ctx.deadlineReached) {
      pass(p, timed = true)
      p += 1
    }
    ctx.endMeasure()
    ctx.result.put("passes", p - 1)
    ctx.info.put("stage_dir", s"${ctx.work}/stages")
  }
}
