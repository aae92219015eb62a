package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.TextQueries

class TextSpec extends AnyFunSuite {
  import TestSpark._

  test("hashExpr (lambda text) and hashCol (Column) are value-identical") {
    import spark.implicits._
    val docs = Seq("the quick brown fox", "a", "", "x y", "näïve ünïcode")
      .toDF("s")
    // hashCol path (as shingleHashes uses it, post-explode)
    val viaCol = docs.select(
      (conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long") % 2147483647L).as("h"))
      .collect().map(_.getLong(0))
    // hashExpr path (as in-lambda consumers would evaluate it)
    val viaExpr = docs
      .select(expr(s"transform(array(s), s -> ${TextQueries.hashExpr("s")})")
        .as("hs"))
      .collect().map(_.getSeq[Long](0).head)
    assert(viaCol.toSeq == viaExpr.toSeq)
  }

  test("bloom dedup: prefilter+verify equals the exact anti-join, joins only suspects") {
    val got = TextQueries.bloomDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent exact reference: plain hash anti-join
    val docs = graft.queries.T.load(spark, sf, "documents")
    val h = expr(TextQueries.hashExpr("text"))
    val corpus = docs.where(col("doc_id") % 10 =!= 3).select(h.as("h"))
    val batch = docs.where(col("doc_id") % 10 === 3)
      .select(col("doc_id"), h.as("h"))
    val want = batch.join(corpus, Seq("h"), "left_anti")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(got.toSeq == want.toSeq)
    // the exact join's input is the suspect sliver: true dups plus at
    // most a few percent false positives, never the whole batch
    val batchN = batch.count()
    val trueDups = batchN - want.length
    val suspects = TextQueries.bloomDedupSuspects(spark, sf)
    assert(suspects >= trueDups, "bloom can never miss a true duplicate")
    assert(suspects <= trueDups + math.max(5L, batchN / 20),
      s"suspects $suspects vs true dups $trueDups of $batchN — fp rate off")
  }

  test("simhash banded LSH is pigeonhole-complete for hamming <= 3") {
    // brute-force ALL pairs on the collected signatures and require the
    // banded equi-join query to return exactly that set — if banding
    // ever lost a pair (wrong band split, off-by-one in the shift), the
    // recall guarantee the scaladoc promises would be silently broken
    val sigs = TextQueries.simhashSignatures(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (a, s1a, s2a) <- sigs
      (b, s1b, s2b) <- sigs
      if a < b
      d = java.lang.Long.bitCount(s1a ^ s1b) + java.lang.Long.bitCount(s2a ^ s2b)
      if d <= 3
    } yield (a, b, d.toLong)).sortBy(x => (x._1, x._2)).toSeq
    val got = SparkEntry.queries("q_simhash_near_dup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(brute.nonEmpty, "fixture has no near-dup pairs — test is vacuous")
    assert(got == brute)
  }

  test("simhash packed lanes fail loudly past the 2^21-1 token bound") {
    import spark.implicits._
    // one doc with 2^21 DISTINCT tokens: the 21-bit ones-count lane
    // would carry into its neighbor and corrupt the signature — the
    // guard must surface that as an error, never as a plausible wrong
    // signature. Distinct tokens keep each lane's ones-count near n/2,
    // so the packed SUM itself stays under 2^63 and the guard (not
    // ANSI's ARITHMETIC_OVERFLOW, which a single repeated token with a
    // set high-lane bit trips first) is what fires.
    val over = (TextQueries.SimhashLaneMax + 1).toInt
    val big = Seq((1L, (0 until over).mkString(" ")))
      .toDF("doc_id", "text")
    val e = intercept[Throwable] {
      TextQueries.simhashSignaturesOf(big).collect()
    }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("packed-lane overflow"), chain)
    // an in-bound doc still computes (guard branch never taken)
    val ok = Seq((2L, "a b c d")).toDF("doc_id", "text")
    assert(TextQueries.simhashSignaturesOf(ok).count() == 1L)
  }

  test("shipped jaccard plan equals the postings-list reference") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val shipped = rows(TextQueries.ngramJaccardStreamedLead(spark, sf))
    assert(shipped == rows(TextQueries.ngramJaccardPostings(spark, sf)))
    assert(shipped.nonEmpty)
  }

  test("oversized LSH buckets are discarded end-to-end (cap overflow)") {
    // 1001 byte-identical docs share every band bucket -> bucket size
    // 1001 > BandBucketMax -> the whole degenerate cluster must be
    // discarded mid-stream (such a bucket means the band hash has
    // collapsed, not that 500k pairs are worth emitting), while an
    // ordinary 2-doc near-dup pair in the same corpus still surfaces
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    val hotText = "the quick brown fox jumps over the lazy dog"
    val survivor = "completely different survivor text body here"
    val rows =
      (1L to (TextQueries.BandBucketMax + 1L)).map(i =>
        (i, hotText, "en", "web", hotText.length.toLong)) ++
      Seq((5001L, survivor, "en", "web", survivor.length.toLong),
          (5002L, survivor, "en", "web", survivor.length.toLong))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_near_dedup")(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5001L, 5002L)))
    assert(out.head.getLong(2) == 4L) // identical docs share all 4 bands
  }

  test("capGroups: streaming LSH bucket cap semantics") {
    def run(pairs: Seq[(String, Int)], cap: Int) =
      TextQueries.capGroups(pairs.iterator, cap).toSeq
    // singleton groups are dropped (no pair can come out of them),
    // 2..cap kept in arrival order, > cap discarded entirely
    assert(run(Seq("a" -> 1), 3) == Nil)
    assert(run(Seq("a" -> 1, "a" -> 2), 3) == Seq("a" -> Seq(1, 2)))
    assert(run(Seq("a" -> 1, "a" -> 2, "a" -> 3), 3) ==
      Seq("a" -> Seq(1, 2, 3)))
    assert(run(Seq("a" -> 1, "a" -> 2, "a" -> 3, "a" -> 4), 3) == Nil)
    // a discarded oversized group must not poison its neighbors, and
    // group order is arrival order (= sort order at the call sites)
    assert(run(Seq("a" -> 1, "b" -> 1, "b" -> 2, "b" -> 3, "b" -> 4,
      "c" -> 5, "c" -> 6), 3) == Seq("c" -> Seq(5, 6)))
    assert(run(Nil, 3) == Nil)
    // memory contract: buffered state never exceeds cap members even
    // while streaming a group 100x larger than cap
    val big = Seq.fill(300)("hot" -> 0) ++ Seq("z" -> 1, "z" -> 2)
    assert(run(big, 3) == Seq("z" -> Seq(1, 2)))
  }

  test("lm_score invariants: exact ratio, bounds, novelty cap") {
    val out = SparkEntry.queries("q_lm_score")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, num, den, score, novel) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))
      // the score IS the one division of the two integer sums — no
      // hidden float accumulation to drift
      assert(score == num.toDouble / den.toDouble)
      // add-one smoothing floors: every bigram contributes >= 2 to num
      // (its own occurrence + 1) and a positive context to den
      assert(num >= 2 * n && den > num, s"bounds violated: $r")
      assert(score > 0.0 && score < 1.0)
      assert(novel >= 0 && novel <= n)
    }
    // the corpus-level novelty signal exists but is rare in the
    // word-soup fixture (shared small vocabulary)
    val totalNovel = out.map(_.getLong(5)).sum
    assert(totalNovel < out.map(_.getLong(1)).sum / 10)
  }
}
