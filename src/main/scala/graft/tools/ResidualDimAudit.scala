package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries
import graft.queries.SimilarityQueries.PqShape

/** Codegen audit of the UNROLLED residual subtraction at production
  * width (VERDICT r16 item 7): `residualsAgainst` emits 2·dim
  * `element_at` expressions per row — fine at the fixture's dim 64
  * (CodegenAudit 200/200), but a dim-512 projection is a 1024-term
  * generated method that could trip the JVM's 64 KB method limit and
  * silently fall back to interpreted execution in production. This
  * probe runs the residual + PQ-encode plan shapes at dim 512 (the
  * dim-512 rehearsal shape in SCALE.md: m=64, subDim=8, k=128) with
  * `spark.sql.codegen.fallback=false`, so a failed compile THROWS
  * instead of degrading; on success it reports the WholeStageCodegen
  * span count per plan as the committed stamp.
  */
object ResidualDimAudit {
  def main(args: Array[String]): Unit = {
    val dim = args.headOption.map(_.toInt).getOrElse(512)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val shape = PqShape(dim = dim, m = 64, subDim = dim / 64, k = 16)
    val nlist = 8
    // deterministic corpus/centroids — the values don't matter, the
    // generated code does
    def vec(seed: Long) = Seq.tabulate(dim)(d =>
      (((seed * 31 + d * 7) % 1000) / 500.0 - 1.0).toFloat)
    val corpus = (0L until 512L).map(i => (i, i % 3, vec(i)))
      .toDF("vec_id", "label", "embedding")
    val cids = corpus.select(col("vec_id"),
      (col("vec_id") % nlist).as("cid"))
    val centroids = (0L until nlist.toLong)
      .map(c => (c, Seq.tabulate(dim)(d => ((c * 13 + d) % 100) / 50.0)))
      .toDF("cid", "cv")

    def audit(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val out = java.nio.file.Files.createTempDirectory("rda").toString
      // with codegen.fallback=false a generated method past Janino's
      // 64 KB limit THROWS here instead of silently interpreting
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/x")
      println(s"[residaudit] OK $name dim=$dim — every codegen stage " +
        "compiled (codegen.fallback=false)")
    }

    val resid = SimilarityQueries.residualsAgainst(
      corpus, cids, centroids, dim)
    audit("residualsAgainst", resid)
    val cb = SimilarityQueries.pqTrainCodebooks(resid, shape)
      .localCheckpoint()
    audit("pqEncode(residual, packed)", SimilarityQueries.pqEncode(
      resid, cb, cids, shape, packed = true, normOf = Some(corpus)))
    spark.stop()
  }
}
