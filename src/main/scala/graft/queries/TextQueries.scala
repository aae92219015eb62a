package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (north-star extras in SURVEY.md §2
  * tail): exact dedup, MinHash+LSH near-dedup, SimHash, n-gram Jaccard,
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting.
  *
  * Everything is expressed as shuffling-aware DataFrame plans: shingling
  * explodes rows map-side, signatures reduce via partial aggregation,
  * and candidate generation joins on band keys (never a cross join), so
  * each query scales linearly in corpus size + candidate-pair count.
  *
  * Cross-engine determinism: token/shingle hashes are
  * md5-hex(15 digits) -> bigint mod p (exact integer arithmetic in both
  * Spark and DuckDB); scores divide exact integer counts as one double
  * division.
  */
/** Member of a capped SimHash LSH bucket: the signatures ride the
  * bucket rows so pair generation needs no join-back to the signature
  * relation. Top-level case class so Dataset encoder derivation and
  * task serialization stay trivial. */
private[queries] final case class SimBucketDoc(
    doc_id: Long, sig1: Long, sig2: Long)

object TextQueries {
  import T.load

  private val P = 2147483647L // 2^31 - 1
  private val HashA = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
  private val HashB = Seq(1L, 7L, 13L, 19L, 25L, 31L, 37L, 43L)

  /** Hot-key guards for the candidate-pair self-joins, declared in the
    * oracle SQL of the queries that use them (operator semantics, not a
    * silent truncation). A key shared by k rows contributes k(k-1)/2
    * pairs to ONE reducer, so one degenerate key can dominate a 100 TB
    * run; keys this frequent carry no similarity signal anyway (cf.
    * stop-word removal in set-similarity-join literature). Fixture max
    * is 33 postings / bucket, so results are unchanged at test SFs. */
  final val StopShingleMax = 1000
  final val BandBucketMax = 1000

  /** Max docs each source contributes in q_mixture_cap (declared in its
    * oracle SQL as a literal — keep the two in sync). */
  final val MixtureCap = 15

  /** Spark: 60-bit md5 prefix as a non-negative bigint mod p. The
    * Column form (codegen'd when outside lambdas) and the SQL-text form
    * (for inside higher-order lambdas) MUST stay value-identical —
    * TextSpec pins them to each other. */
  private def hashCol(c: Column): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10)
      .cast(LongType) % P
  private[graft] def hashExpr(x: String): String =
    s"CAST(conv(substring(md5(CAST($x AS BINARY)), 1, 15), 16, 10) AS BIGINT) % $P"
  /** Same value in DuckDB SQL. */
  private[graft] def hashSql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT) % $P"

  /** Per-row ARRAY of word-2-gram shingle STRINGS — the ONE definition
    * of the shingle; every consumer (minhash explode, jaccard sets)
    * derives from this expression so they can never drift. Expects a
    * `toks` column = split(text, ' '). greatest(...,0) guards 1-token
    * docs (sequence(0,-1) counts DOWN in Spark); their single bogus
    * shingle concats with a null neighbor -> null -> filtered here. */
  private[graft] val shingleStrArrExpr: String =
    """filter(transform(sequence(0, greatest(size(toks) - 2, 0)),
      |         i -> concat(toks[i], ' ', toks[i + 1])),
      |       s -> s IS NOT NULL)""".stripMargin

  /** (doc_id, shingle-hash) stream, fully codegen AND zero-shuffle:
    * bigrams via arrays_zip of two slices of the token array —
    * Slice/ArraysZip/Concat are ordinary codegen expressions, so this
    * formulation avoids BOTH failure modes the build rounds measured:
    * the interpreted higher-order lambdas of the `transform`/`filter`
    * array builder (~3x), and the full token-stream shuffle + sort of
    * the lead-window form it replaced. Downstream per-doc aggregations
    * now do map-side partial aggregation before their exchange
    * (8 partial mins per doc per map partition for the MinHash
    * signatures), instead of shuffling every token row. Measured r16
    * (OPTIMIZATION_r16.md §1, sf0.1): signature stage 0.26 s vs 0.51 s
    * lead-window, multiset-identical output. q_ngram_jaccard
    * deliberately stays on the lead-window shape (ngramShingleSetsLead):
    * its stop-shingle window cap and sz window REUSE that one exchange,
    * and the zip form measured slower there (1.82 s vs 1.52 s). */
  private def shingleHashes(docs: DataFrame): DataFrame =
    shingleHashesZip(docs)

  /** (doc_id, shingle-hash) stream, row-local and lambda-free:
    * bigrams via arrays_zip of two slices of the token array —
    * Slice/ArraysZip/Concat are all ordinary codegen expressions, so
    * this formulation keeps whole-stage codegen like the lead-window
    * one but needs NO shuffle at all (the window variant sorts the
    * full token stream by doc_id first). Zip pairs ts[i] with ts[i+1]
    * for i = 1..size-1, exactly the lead-over-posexplode pairs, empty
    * split tokens included. Single-token docs drop at the size
    * guard. */
  private[graft] def shingleHashesZip(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        expr("slice(ts, 1, size(ts) - 1)").as("w1"),
        expr("slice(ts, 2, size(ts) - 1)").as("w2"))).as("z"))
      .select(col("doc_id"),
        hashCol(concat(col("z.w1"), lit(" "), col("z.w2"))).as("h"))

  private val shingleHashesSql: String =
    s"""SELECT doc_id, ${hashSql("shingle")} AS h FROM (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(string_split(text, ' '))),
       |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS shingle
       |  FROM documents) s""".stripMargin

  /** Per-doc MinHash signature columns mh0..mh7. */
  private def minhashAggs: Seq[Column] =
    HashA.zip(HashB).zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * a + b) % P).as(s"mh$j")
    }
  private def minhashAggsSql: String =
    HashA.zip(HashB).zipWithIndex.map { case ((a, b), j) =>
      s"min((h * $a + $b) % $P) AS mh$j"
    }.mkString(", ")

  /** 60-bit SimHash pieces for the hamming near-dup (two independent
    * 30-bit sub-signatures — the tokenizer hash is mod 2^31-1, so each
    * hash contributes 30 usable bits). Shared Spark/SQL generators keep
    * the two engines bit-identical. */
  private val SimhashSubBits = 30
  private val SimhashBandMask = (1 << 15) - 1 // 4 bands x 15 bits

  /** PACKED vote aggregation (r16): 3 per-bit ones-counts ride each
    * 64-bit sum in 21-bit lanes, so the signature aggregation runs
    * ceil(bits/3) sum() expressions instead of one per bit (60 → 20
    * for the 60-bit signature; the aggregate update loop is linear in
    * expression count). vote_i > 0  ⇔  2·ones_i > n with n the doc's
    * token count, so the unpacked signature is bit-identical to the
    * ±1-vote form. Lane width bounds one doc at 2^21-1 = 2,097,151
    * tokens (~12 MB of text) — far past any real document; a corpus
    * that legitimately carries longer docs must split them upstream
    * (the same assumption every per-doc aggregation here makes). */
  private def simhashPackedVoteAggs(h: String, pfx: String,
      bits: Int = SimhashSubBits): Seq[Column] =
    (0 until bits).grouped(3).toSeq.zipWithIndex.map { case (bs, g) =>
      sum(expr(bs.zipWithIndex.map { case (b, lane) =>
        s"((($h >> $b) & 1) << ${lane * 21})"
      }.mkString(" + "))).as(s"$pfx$g")
    }
  /** Max per-doc token count a 21-bit packed lane can count without
    * carrying into its neighbor. */
  private[graft] val SimhashLaneMax = (1L << 21) - 1
  private def simhashSigColPacked(pfx: String, n: Column,
      bits: Int = SimhashSubBits): Column = {
    val sig = (0 until bits).map { i =>
      val ones = shiftright(col(s"$pfx${i / 3}"), (i % 3) * 21)
        .bitwiseAND(lit((1L << 21) - 1))
      when(ones * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // Lane-overflow guard (r17, ADVICE r16): past 2^21-1 tokens a lane's
    // ones-count carries into the adjacent lane and the signature is
    // silently WRONG — fail loudly instead. The per-doc count n is
    // already aggregated in the same groupBy, so the guard is one
    // codegen conditional per output row (one per DOC, not per token);
    // raise_error's branch is never taken on in-bound data, so valid
    // results are bit-for-bit unchanged.
    when(n > SimhashLaneMax, raise_error(concat(
      lit("simhash packed-lane overflow: doc has "), n.cast(StringType),
      lit(s" tokens > $SimhashLaneMax — split oversized docs upstream"))))
      .otherwise(sig)
  }
  private def simhashVoteSqls(h: String, pfx: String): String =
    (0 until SimhashSubBits).map(i =>
      s"sum(CASE WHEN ($h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS $pfx$i")
      .mkString(",\n    ")
  private def simhashSigSql(pfx: String): String =
    (0 until SimhashSubBits).map(i =>
      s"(CASE WHEN $pfx$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")

  /** 60-bit SimHash signature per document (doc_id, sig1, sig2) — the
    * candidate-free half of q_simhash_near_dup, exposed so TextSpec can
    * brute-force the pigeonhole completeness guarantee against it. */
  private[graft] def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    simhashSignaturesOf(load(s, dir, "documents"))

  /** The packed-lane signature aggregation over an explicit docs frame
    * — split out so the lane-overflow guard is testable against a
    * synthetic over-long document (TextSpec). */
  private[graft] def simhashSignaturesOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), hashCol(col("tok")).as("h1"),
        hashCol(concat(col("tok"), lit("#"))).as("h2"))
    // packed vote lanes: 21 aggregates instead of 61 (see
    // simhashPackedVoteAggs; bit-identical signatures)
    val aggs = simhashPackedVoteAggs("h1", "a") ++
      simhashPackedVoteAggs("h2", "b") :+ count(lit(1)).as("n")
    toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        simhashSigColPacked("a", col("n")).as("sig1"),
        simhashSigColPacked("b", col("n")).as("sig2"))
  }

  /** DuckDB CTE chain `sigs -> bands0 -> bands` (capped LSH band rows),
    * shared by q_near_dedup and q_edit_distance so the candidate
    * semantics can never drift between the two oracles. */
  private def minhashBandsCte: String =
    s"""sigs AS (
       |  SELECT doc_id, $minhashAggsSql
       |  FROM ($shingleHashesSql) sh GROUP BY doc_id
       |), bands0 AS (
       |  SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sigs UNION ALL
       |  SELECT doc_id, 1 AS band, mh2 AS k1, mh3 AS k2 FROM sigs UNION ALL
       |  SELECT doc_id, 2 AS band, mh4 AS k1, mh5 AS k2 FROM sigs UNION ALL
       |  SELECT doc_id, 3 AS band, mh6 AS k1, mh7 AS k2 FROM sigs
       |), bands AS (
       |  SELECT * FROM bands0
       |  QUALIFY count(*) OVER (PARTITION BY band, k1, k2) <= $BandBucketMax
       |)""".stripMargin

  /** The uncapped per-doc band-key relation (doc_id, band, k1, k2)
    * that the bucket builder caps. */
  private[graft] def minhashBandsForAudit(s: SparkSession,
      dir: String): DataFrame =
    minhashBandsFrom(shingleHashes(load(s, dir, "documents")))

  /** Bands from an EXPLICIT (doc_id, h) shingle stream. */
  private[graft] def minhashBandsFrom(sh: DataFrame): DataFrame = {
    val sigs = sh
      .groupBy("doc_id")
      .agg(minhashAggs.head, minhashAggs.tail: _*)
    sigs.select(col("doc_id"), explode(array(
      (0 until 4).map(bnd => struct(lit(bnd).as("band"),
        col(s"mh${2 * bnd}").as("k1"),
        col(s"mh${2 * bnd + 1}").as("k2"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.k1").as("k1"), col("bk.k2").as("k2"))
  }

  /** Per-band candidate pairs (doc_a, doc_b, band) from capped MinHash
    * LSH buckets — per-bucket doc-list explode, never a self-join of
    * the full band relation. */
  /** Bloom sizing for q_bloom_dedup: 1M expected keys into 1 MiB of
    * bits (fp ~2% at capacity, <1% at every fixture scale). At a 100 TB
    * corpus the sketch is sized by corpus KEYS (not bytes) and sharded
    * by key range once a single filter passes executor-friendly sizes. */
  final val BloomDedupItems = 1000000L
  final val BloomDedupBits = 8388608L

  /** q_bloom_dedup body, shared with TextSpec (which pins prefilter
    * exactness and the suspect-only join input). */
  private[graft] def bloomDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.Shims
    val docs = load(s, dir, "documents")
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
      .select(hashCol(col("text")).as("h"))
    val batch = docs.where(col("doc_id") % 10 === 3)
      .select(col("doc_id"), hashCol(col("text")).as("h"))
    // ONE aggregation over the corpus; the collected object is the
    // serialized sketch (BloomDedupBits/8 bytes), never corpus rows
    val bf = corpus.agg(Shims.bloomFilterAgg(col("h"),
      BloomDedupItems, BloomDedupBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    val out =
      if (bf == null) batch // empty corpus: the whole batch is new
      else {
        val mc = Shims.bloomMightContain(lit(bf), col("h"))
        // bloom negatives are DEFINITELY new (no false negatives) and
        // skip the join entirely; positives verify exactly — the union
        // is therefore EXACTLY the plain anti-join
        batch.where(!mc)
          .unionByName(batch.where(mc).join(corpus, Seq("h"), "left_anti"))
      }
    out.select(col("doc_id"), col("h").as("content_hash"))
      .orderBy("doc_id")
  }

  /** The bloom-suspect slice of the batch (TextSpec observability: the
    * exact join's input is this sliver, not the batch). */
  private[graft] def bloomDedupSuspects(s: SparkSession,
      dir: String): Long = {
    import org.apache.spark.sql.graftshim.Shims
    val docs = load(s, dir, "documents")
    val corpus = docs.where(col("doc_id") % 10 =!= 3)
      .select(hashCol(col("text")).as("h"))
    val batch = docs.where(col("doc_id") % 10 === 3)
      .select(hashCol(col("text")).as("h"))
    val bf = corpus.agg(Shims.bloomFilterAgg(col("h"),
      BloomDedupItems, BloomDedupBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    if (bf == null) 0L
    else batch.where(Shims.bloomMightContain(lit(bf), col("h"))).count()
  }

  private def minhashBuckets(s: SparkSession, dir: String): DataFrame =
    minhashBucketsFrom(s, minhashBandsForAudit(s, dir))

  /** Capped buckets from an EXPLICIT band relation. */
  private[graft] def minhashBucketsFrom(s: SparkSession,
      bands: DataFrame): DataFrame = {
    // cap WHILE collecting: one shuffle clusters each bucket into a
    // contiguous doc_id-sorted run, and a streaming pass accumulates at
    // most BandBucketMax ids before discarding the bucket — task state
    // is O(BandBucketMax) at ANY bucket size (the sorted-stream idiom
    // from ConnectedComponents), vs. a count pre-pass + semi-join that
    // re-shuffles the band relation twice, or an uncapped collect_list
    // that concentrates a 10^7-member bucket into one unspillable row
    import s.implicits._
    val cap = BandBucketMax
    bands.select(col("band"), col("k1"), col("k2"), col("doc_id"))
      .repartition(col("band"), col("k1"), col("k2"))
      .sortWithinPartitions("band", "k1", "k2", "doc_id")
      .as[(Int, Long, Long, Long)]
      .mapPartitions { it =>
        capGroups(it.map { case (b, k1, k2, d) => ((b, k1, k2), d) }, cap)
          .map { case ((b, k1, k2), ds) => (b, k1, k2, ds) }
      }
      .toDF("band", "k1", "k2", "ds")
  }

  /** q_dup_clusters body over an explicit bucket relation.
    * Connectivity-equivalent star compression: a bucket of docs
    * {d1..dk} is a clique in candidate-pair space, but for component
    * labeling the spanning star (di -> bucket min) carries the same
    * connectivity with k-1 edges instead of k(k-1)/2 — and hands the
    * CC loop pre-contracted stars, so it converges in fewer rounds.
    * The r16 shingler change was adjudicated through it
    * (OPTIMIZATION_r17.md §2). */
  private[graft] def dupClustersFromBuckets(s: SparkSession,
      buckets: DataFrame): DataFrame = {
    val stars = buckets
      .select(explode(col("ds")).as("u"), array_min(col("ds")).as("v"))
      .where(col("u") =!= col("v"))
    graft.operators.ConnectedComponents.components(s, stars)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")
  }

  /** Streaming per-group cap over a key-clustered, key-sorted pair
    * iterator: emits (key, members) for groups of 2..cap members in
    * arrival order, discards larger groups, and never holds more than
    * cap buffered members — O(cap) task state at ANY group size.
    * Callers repartition() by the group key first, so a group cannot
    * span partitions. Shared by the MinHash and SimHash LSH bucket
    * builders (the capped-candidate-generation contract both declare
    * in their oracle SQL as `QUALIFY count(*) OVER bucket <= cap`). */
  private[graft] def capGroups[K, V](it: Iterator[(K, V)],
      cap: Int): Iterator[(K, Seq[V])] = {
    var key: K = null.asInstanceOf[K]
    var n = 0
    var started = false
    val buf = scala.collection.mutable.ArrayBuffer.empty[V]
    def flush(): Iterator[(K, Seq[V])] =
      if (started && n >= 2 && n <= cap) Iterator.single((key, buf.toSeq))
      else Iterator.empty
    it.flatMap { case (k, v) =>
      val boundary = !started || k != key
      val out = if (boundary) flush() else Iterator.empty
      if (boundary) { key = k; n = 0; buf.clear(); started = true }
      n += 1
      if (n <= cap) buf += v else buf.clear()
      out
    } ++ flush() // Iterator.++ is by-name: runs after the stream drains
  }

  /** Per-bucket pair explode as TWO chained Generate nodes (posexplode
    * picks doc_a + its position, a runtime-start slice explode yields
    * every later doc_b) — ordinary codegen expressions end to end. The
    * previous single-explode form built the pair list with nested
    * `transform` lambdas, which Spark evaluates INTERPRETED (the same
    * finding as the shingle builder; measured r16). ds is doc_id-sorted,
    * so doc_a < doc_b holds identically on both forms. */
  private def minhashBandPairs(s: SparkSession, dir: String): DataFrame =
    minhashBuckets(s, dir)
      .select(col("band"), col("ds"),
        posexplode(col("ds")).as(Seq("i", "doc_a")))
      .select(col("band"), col("doc_a"),
        explode(expr("slice(ds, i + 2, size(ds) - i - 1)")).as("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("band"))

  /** (doc_id, source, sz, h) stream for the jaccard join: per-row
    * DISTINCT shingle-string set (row-local, so sz needs no shuffle),
    * exploded, then hashed with the codegen'd Column form. Deduping by
    * string instead of by hash is value-identical absent 60-bit md5
    * collisions. */
  private[graft] def ngramShingleSets(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        expr(s"array_distinct($shingleStrArrExpr)").as("ss"))
      .where(size(col("ss")) > 0)
      .select(col("doc_id"), col("source"), size(col("ss")).as("sz"),
        explode(col("ss")).as("shingle"))
      .select(col("doc_id"), col("source"), col("sz"),
        hashCol(col("shingle")).as("h"))

  private def ngramJaccardFinish(pairs: DataFrame): DataFrame =
    pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"),
        min(col("sza")).as("sza"), min(col("szb")).as("szb"))
      .withColumn("jaccard", col("c").cast(DoubleType) /
        (col("sza") + col("szb") - col("c")).cast(DoubleType))
      .where(col("jaccard") >= 0.2)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Postings-list pair generation: groupBy (source, h) builds bounded
    * doc lists, pairs explode from each list. Shuffles: postings agg +
    * pair agg. */
  private[graft] def ngramJaccardPostings(s: SparkSession, dir: String): DataFrame = {
    val postingsLists = ngramShingleSets(s, dir).groupBy("source", "h")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sz"))))
        .as("ds"))
      .where(size(col("ds")).between(2, StopShingleMax))
    val pairs = postingsLists.select(explode(expr(
      """flatten(transform(ds, (x, i) ->
        |  transform(slice(ds, i + 2, size(ds) - i - 1), y ->
        |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
        |           x.sz AS sza, y.sz AS szb))))""".stripMargin)).as("p"))
      .select("p.*")
    ngramJaccardFinish(pairs)
  }

  /** Shingle-set stream built without interpreted lambdas: tokens
    * posexplode (codegen), bigrams via lead over a doc_id window, hash
    * after (codegen), distinct by agg, sz via a second doc_id window.
    * More shuffles than the row-local formulation but every operator is
    * whole-stage-codegen — profiled against it in OPTIMIZATION_r17.md
    * §9. */
  private[graft] def ngramShingleSetsLead(s: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead("tok", 1).over(byDoc))
      .where(col("nxt").isNotNull)
      .select(col("doc_id"), col("source"),
        hashCol(concat(col("tok"), lit(" "), col("nxt"))).as("h"))
      .distinct()
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
  }

  private[graft] def ngramJaccardStreamedLead(s: SparkSession, dir: String): DataFrame = {
    val capped = ngramShingleSetsLead(s, dir)
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy("source", "h")))
      .where(col("cnt") <= StopShingleMax)
    val a = capped.select(col("source"), col("h"),
      col("doc_id").as("doc_a"), col("sz").as("sza"))
    val b = capped.select(col("source"), col("h"),
      col("doc_id").as("doc_b"), col("sz").as("szb"))
    val pairs = a.join(b, Seq("source", "h"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sza", "szb")
    ngramJaccardFinish(pairs)
  }

  val all: Seq[Q] = Seq(

    // ---- text stats ---------------------------------------------------
    // NB: sum() in DuckDB is HUGEINT -> pandas float64; cast to BIGINT so
    // both engines emit int64 (round-1 hash mismatch was 19525.0 vs 19525)
    Q("q_text_stats",
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      load(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          (sum("n_chars").cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("avg_chars"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("lang")
    },

    // whitespace tokens + a BPE-ish segmentation (letters / digits /
    // single other-symbols), counted via regexp
    Q("q_token_count",
      """SELECT doc_id,
        | CAST(length(regexp_extract_all(text, '[^ ]+')) AS INTEGER) AS ws_tokens,
        | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
          .as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // n-gram/stopword language-ID heuristic (the fixture text is synthetic
    // word soup, so the interesting property is determinism, not accuracy)
    Q("q_lang_id",
      """SELECT doc_id, lang,
        | CASE WHEN en_score >= 2 THEN 'en' ELSE 'other' END AS predicted,
        | (CASE WHEN en_score >= 2 THEN 'en' ELSE 'other' END = lang) AS agree
        |FROM (SELECT doc_id, lang,
        |  CAST(length(regexp_extract_all(lower(text), '\bthe\b|\ba\b|\bis\b|\band\b|\bof\b')) AS INTEGER) AS en_score
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val enScore = size(expr(
        "regexp_extract_all(lower(text), '\\\\bthe\\\\b|\\\\ba\\\\b|\\\\bis\\\\b|\\\\band\\\\b|\\\\bof\\\\b', 0)"))
      load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), enScore.as("en_score"))
        .select(col("doc_id"), col("lang"),
          when(col("en_score") >= 2, "en").otherwise("other").as("predicted"))
        .withColumn("agree", col("predicted") === col("lang"))
        .orderBy("doc_id")
    },

    // quality scoring: length, punctuation ratio, stopword ratio,
    // whitespace-token length — exact counts, one double division each
    Q("q_quality_score",
      """SELECT doc_id,
        | n_chars,
        | CAST(length(regexp_extract_all(text, '[^ ]+')) AS INTEGER) AS n_tokens,
        | CAST(length(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        | CAST(length(regexp_extract_all(lower(text), '\bthe\b|\ba\b|\band\b|\bof\b|\bto\b')) AS BIGINT) AS n_stop,
        | CAST(length(regexp_extract_all(text, '[^ ]+')) AS DOUBLE)
        |   / CAST(greatest(n_chars, 1) AS DOUBLE) AS token_density,
        | CAST(length(regexp_extract_all(lower(text), '\bthe\b|\ba\b|\band\b|\bof\b|\bto\b')) AS DOUBLE)
        |   / CAST(greatest(length(regexp_extract_all(text, '[^ ]+')), 1) AS DOUBLE) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nTokens = size(expr("regexp_extract_all(text, '[^ ]+', 0)"))
      val nPunct = size(expr("regexp_extract_all(text, '[.,;:!?]', 0)")).cast(LongType)
      val nStop = size(expr(
        "regexp_extract_all(lower(text), '\\\\bthe\\\\b|\\\\ba\\\\b|\\\\band\\\\b|\\\\bof\\\\b|\\\\bto\\\\b', 0)"))
      load(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        nTokens.as("n_tokens"),
        nPunct.as("n_punct"),
        nStop.cast(LongType).as("n_stop"),
        (nTokens.cast(DoubleType) /
          greatest(col("n_chars"), lit(1)).cast(DoubleType)).as("token_density"),
        (nStop.cast(DoubleType) /
          greatest(nTokens, lit(1)).cast(DoubleType)).as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // document fingerprint: md5 of normalized text + 60-bit rolling id
    Q("q_fingerprint",
      s"""SELECT doc_id, md5(lower(trim(text))) AS fp,
         | ${hashSql("lower(trim(text))")} AS fp_int
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      load(s, dir, "documents").select(
        col("doc_id"),
        md5(lower(trim(col("text"))).cast(BinaryType)).as("fp"),
        hashCol(lower(trim(col("text")))).as("fp_int"))
        .orderBy("doc_id")
    },

    // deterministic train/val/test split assignment: hash-mod bucketing
    // on doc_id (the standard leak-proof split for training corpora —
    // membership is a pure function of the id, stable across runs,
    // machines, and engines; no sampling RNG anywhere)
    Q("q_split_assign",
      s"""SELECT doc_id,
         | ${hashSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         | CASE WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |      WHEN ${hashSql("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          (hashCol(col("doc_id").cast(StringType)) % 100).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .orderBy("doc_id")
    },

    // deterministic GLOBAL SHUFFLE + sharding — the training-order
    // primitive: a reproducible pseudo-random permutation of the corpus
    // with no RNG anywhere (position is a pure function of doc_id, so
    // the order is identical across runs, engines, and restarts — which
    // is what makes a 100 TB shuffle resumable). At scale this is ONE
    // hash-partitioned sort: shard = key % N routes each doc to its
    // output shard, the within-shard sort orders it, and no global
    // total order is ever materialized.
    Q("q_global_shuffle",
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |    ${hashSql("concat('shuf:', CAST(doc_id AS VARCHAR))")} AS k
         |  FROM documents)
         |SELECT doc_id, k % 8 AS shard,
         |  CAST(row_number() OVER (PARTITION BY k % 8
         |                          ORDER BY k, doc_id) AS INTEGER) AS pos
         |FROM keyed ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = hashCol(concat(lit("shuf:"), col("doc_id").cast(StringType)))
      load(s, dir, "documents")
        .select(col("doc_id"), k.as("__k"), (k % 8).as("shard"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__k"), col("doc_id"))))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // curriculum ordering: difficulty-binned (whitespace token count as
    // the canonical difficulty proxy), deterministically shuffled WITHIN
    // each bin — the "easy-to-hard with randomized batches" schedule.
    // ntile over a TOTAL order (ties broken by doc_id) keeps the bin
    // boundaries engine-exact; the within-bin order reuses the same
    // RNG-free hash permutation as the global shuffle. The Spark side
    // computes the ntile DISTRIBUTED (operators.DistributedNtile:
    // key-histogram prefix sums + per-key rank — no single-partition
    // global window anywhere), bit-identical to the oracle's ntile.
    Q("q_curriculum",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(length(regexp_extract_all(text, '[^ ]+')) AS INTEGER)
         |      AS ws_tokens,
         |    ${hashSql("concat('cur:', CAST(doc_id AS VARCHAR))")} AS k
         |  FROM documents),
         |binned AS (
         |  SELECT doc_id, ws_tokens, k,
         |    CAST(ntile(10) OVER (ORDER BY ws_tokens, doc_id) AS INTEGER)
         |      AS bin
         |  FROM t)
         |SELECT doc_id, bin,
         |  CAST(row_number() OVER (PARTITION BY bin
         |                          ORDER BY k, doc_id) AS INTEGER) AS pos
         |FROM binned ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = load(s, dir, "documents").select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)")).as("ws_tokens"),
        hashCol(concat(lit("cur:"), col("doc_id").cast(StringType)))
          .as("__k"))
      graft.operators.DistributedNtile(docs, 10,
          key = "ws_tokens", tie = "doc_id", out = "bin")
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("bin")).orderBy(col("__k"), col("doc_id"))))
        .select("doc_id", "bin", "pos")
        .orderBy("doc_id")
    },

    // corpus-frequency scoring (the LM-filter proxy used in web-corpus
    // cleaning, made engine-exact): per doc, the mean DOCUMENT
    // FREQUENCY of its token instances. Two passes — a token document-
    // frequency aggregation, then a join back and per-doc mean. All
    // integer counts until one final double division, so the score is
    // bit-identical across engines (a log-prob variant would hinge on
    // libm). Low mean_df = rare vocabulary; high = boilerplate.
    Q("q_doc_rarity",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), tokdf AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok
        |)
        |SELECT t.doc_id, count(*) AS n_toks,
        |  CAST(sum(d.df) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
        |FROM toks t JOIN tokdf d ON t.tok = d.tok
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Shape KEPT as countDistinct + instance-level broadcast join
      // (r17, measured): the one-token-pass rewrite (pre-aggregate to
      // (doc_id, tok, tf), df = grouped rows per tok, sum(df·tf)
      // reconstruction — value-identical, diff=0) measured SLOWER in an
      // interleaved in-JVM A/B (OPTIMIZATION_r17.md §4: old 0.42 s vs
      // new 0.47 s median of 7 at sf0.1): token frequencies here are ≈1, so
      // the (doc_id, tok) pre-aggregation barely shrinks the stream and
      // its extra aggregation costs more than the second explode pass
      // it saves. The rarity side is already a BroadcastHashJoin chosen
      // by size (guide §3.1 — plans/r17/q_doc_rarity_before.txt).
      val toks = load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tokdf = toks.groupBy("tok")
        .agg(countDistinct(col("doc_id")).as("df"))
      toks.join(tokdf, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          (sum("df").cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("mean_df"))
        .orderBy("doc_id")
    },

    // stratified downsampling: every 10th doc per language stratum, in
    // hash-of-id order — deterministic "random" sampling with exact
    // per-stratum proportions (reservoir/Bernoulli sampling is
    // RNG-dependent and irreproducible across engines/partitionings;
    // hash-rank sampling is a pure function of the data). One window
    // shuffle on the stratum key; scales like any partitioned rank.
    Q("q_stratified_sample",
      s"""SELECT lang, doc_id, n_chars FROM (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${hashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn % 10 = 1
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      load(s, dir, "documents")
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang")
            .orderBy(hashCol(col("doc_id").cast(StringType)), col("doc_id"))))
        .where(col("rn") % 10 === 1)
        .select("lang", "doc_id", "n_chars")
        .orderBy("doc_id")
    },

    // temperature-weighted mixture sampling (the multilingual
    // pre-training staple: per-source budget ∝ n^α with α = 0.5, so
    // low-resource sources are UP-weighted relative to proportional
    // sampling). Determinism across engines: sqrt is IEEE
    // correctly-rounded and *1e10 / floor are IEEE-identical, so the
    // per-source weight is an INTEGER (floor(sqrt(n)*1e10)) on both
    // engines — a direct double→decimal cast of an irrational sqrt
    // would hit each engine's different decimal-rounding rule in the
    // last digit. Integer weights sum exactly; the budget split is
    // then two IEEE double ops + floor, and selection within a source
    // is the RNG-free hash rank (salted 'mix:' so it is independent
    // of the other sampling queries' permutations). One groupBy + one
    // window shuffle; the per-source budget table is a broadcast —
    // scales like any partitioned rank at corpus size.
    Q("q_temperature_mix",
      s"""WITH stats AS (
         |  SELECT lang,
         |    CAST(floor(sqrt(count(*)) * 1e10) AS BIGINT) AS s_int
         |  FROM documents GROUP BY lang
         |), tot AS (
         |  SELECT CAST(sum(s_int) AS DOUBLE) AS s_all FROM stats
         |), budget AS (
         |  SELECT lang,
         |    CAST(floor(200.0 * CAST(s_int AS DOUBLE) / s_all) AS BIGINT)
         |      AS take
         |  FROM stats, tot
         |), ranked AS (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${hashSql("concat('mix:', CAST(doc_id AS VARCHAR))")},
         |        doc_id) AS rn
         |  FROM documents)
         |SELECT r.lang, r.doc_id, r.n_chars, b.take
         |FROM ranked r JOIN budget b ON r.lang = b.lang
         |WHERE r.rn <= b.take
         |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      val docs = load(s, dir, "documents")
      val stats = docs.groupBy("lang")
        .agg(floor(sqrt(count(lit(1))) * lit(1e10)).cast(LongType)
          .as("s_int"))
      val tot = stats.agg(sum("s_int").cast(DoubleType).as("s_all"))
      val budget = stats.crossJoin(broadcast(tot))
        .withColumn("take",
          floor(lit(200.0) * col("s_int").cast(DoubleType) / col("s_all"))
            .cast(LongType))
        .select("lang", "take")
      val ranked = docs.withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(
          hashCol(concat(lit("mix:"), col("doc_id").cast(StringType))),
          col("doc_id"))))
      ranked.join(broadcast(budget), Seq("lang"))
        .where(col("rn") <= col("take"))
        .select("lang", "doc_id", "n_chars", "take")
        .orderBy("doc_id")
    },

    // sequence packing: greedy fill of fixed token-budget packs (2048)
    // per language shard — the standard pre-training batch-construction
    // op. A running token cumsum rides ONE window shuffle (partitioned
    // by the shard key, which is also how it scales: packs never span
    // shards, so shards pack in parallel); pack membership is
    // floor((cum - toks) / budget), deterministic on both engines.
    Q("q_pack_sequences",
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(length(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT lang, CAST((cum - toks) // 2048 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin) { (s, dir) =>
      val toks = size(expr("regexp_extract_all(text, '[^ ]+', 0)"))
        .cast(LongType)
      val byShard = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), toks.as("toks"))
        .withColumn("cum", sum("toks").over(byShard))
        .withColumn("pack_id", expr("(cum - toks) div 2048"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("pack_tokens"))
        .orderBy("lang", "pack_id")
    },

    // benchmark decontamination: flag training docs sharing >= 5 distinct
    // word-2-gram shingles with ANY doc of the held-out set (here: the
    // deterministic pseudo-eval slice doc_id % 97 = 0, excluded from the
    // train side). The eval shingle set is tiny by construction, so the
    // Spark plan broadcasts it — the train corpus never shuffles, which
    // is the shape that matters when the corpus is 100 TB and the eval
    // set is a few thousand benchmark documents.
    Q("q_contamination",
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, h FROM ($shingleHashesSql) s0
         |), eval_h AS (
         |  SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0
         |)
         |SELECT s.doc_id, count(*) AS n_shared
         |FROM sh s JOIN eval_h e ON s.h = e.h
         |WHERE s.doc_id % 97 <> 0
         |GROUP BY s.doc_id
         |HAVING count(*) >= 5
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // r16 note: a zip-shingler + distinct variant (map-side partial
      // dedup, no token window) measured ~0.3-0.4 s SLOWER here than
      // this lead-window relation — same direction as the jaccard
      // finding: when the downstream is distinct-then-join, the
      // window's doc_id exchange is reused by the distinct and the
      // zip form just trades it for a (doc_id, h) exchange. Kept lead.
      val sh = ngramShingleSetsLead(s, dir).select("doc_id", "h")
      val evalH = sh.where(col("doc_id") % 97 === 0).select("h").distinct()
      sh.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalH), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= 5)
        .orderBy("doc_id")
    },

    // repetition scoring (degenerate-text filter): fraction of a doc's
    // shingle stream occupied by its most frequent shingle. One doc_id
    // window + two partial-aggregated groupBys, all map-side combining.
    Q("q_repetition",
      s"""WITH freq AS (
         |  SELECT doc_id, h, count(*) AS c
         |  FROM ($shingleHashesSql) s0 GROUP BY doc_id, h
         |)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
         |  CAST(max(c) AS BIGINT) AS max_repeat,
         |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS repetition
         |FROM freq GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      shingleHashes(load(s, dir, "documents"))
        .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_shingles"), max("c").as("max_repeat"),
          (max("c").cast(DoubleType) / sum("c").cast(DoubleType))
            .as("repetition"))
        .orderBy("doc_id")
    },

    // ---- dedup --------------------------------------------------------

    // exact dedup: canonical doc per content hash (hash-groupBy; at
    // 100 TB this is the standard one-shuffle dedup)
    Q("q_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
        | count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin) { (s, dir) =>
      load(s, dir, "documents")
        .groupBy(md5(col("text").cast(BinaryType)).as("content_hash"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("content_hash")
    },

    // MinHash signatures (8 permutations over word-2-gram shingles)
    Q("q_minhash_signatures",
      s"""SELECT doc_id, $minhashAggsSql
         |FROM ($shingleHashesSql) sh
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      shingleHashes(load(s, dir, "documents"))
        .groupBy("doc_id")
        .agg(minhashAggs.head, minhashAggs.tail: _*)
        .orderBy("doc_id")
    },

    // LSH banding: 4 bands x 2 rows; candidate pairs = equal band key.
    // Pure equi-joins on (band, key) — no cross join at any scale. Band
    // buckets larger than BandBucketMax are excluded on both sides (a
    // degenerate bucket of k docs yields k(k-1)/2 pairs in one reducer;
    // such buckets mean the band hash has collapsed, not that all its
    // members are near-duplicates). Declared in the oracle SQL.
    Q("q_near_dedup",
      s"""WITH $minhashBandsCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(DISTINCT a.band) AS shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         | AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // Spark plan: signatures are aggregated ONCE (the 4-way band union
      // would recompute them per band); band expansion is a map-side
      // explode of a 4-element array. Candidate pairs come from exploding
      // per-bucket doc lists (bounded by BandBucketMax), not a self-join.
      // Shuffles: signature agg, bucket agg, pair agg — three, all slim.
      val pairs = minhashBandPairs(s, dir)
      pairs.groupBy("doc_a", "doc_b")
        .agg(countDistinct(col("band")).as("shared_bands"))
        .orderBy("doc_a", "doc_b")
    },

    // incremental dedup — the ingest-time shape: which docs of an
    // INCOMING batch are near-dups of the EXISTING corpus. Same banded
    // MinHash candidates as q_near_dedup, but the pair set is filtered
    // to exactly-one-side-new, so the decision is "drop/flag the new
    // doc", never a re-clustering of the whole corpus. At 100 TB the
    // existing side's band rows come from a precomputed signature index
    // and only the (tiny) new batch is signed per ingest; the bucket
    // join and caps are unchanged. The batch is a deterministic 20%
    // hash-split of doc_id so both engines pick the same docs.
    Q("q_incremental_dedup",
      s"""WITH $minhashBandsCte,
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         |   AND a.doc_id < b.doc_id
         |  WHERE (a.doc_id % 5 = 0) <> (b.doc_id % 5 = 0)
         |)
         |SELECT
         |  CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS existing_id,
         |  CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS new_id,
         |  count(DISTINCT band) AS shared_bands
         |FROM pairs
         |GROUP BY 1, 2
         |ORDER BY existing_id, new_id""".stripMargin) { (s, dir) =>
      val isNew = (c: Column) => c % 5 === 0
      minhashBandPairs(s, dir)
        .where(isNew(col("doc_a")) =!= isNew(col("doc_b")))
        .select(
          when(isNew(col("doc_a")), col("doc_b")).otherwise(col("doc_a"))
            .as("existing_id"),
          when(isNew(col("doc_a")), col("doc_a")).otherwise(col("doc_b"))
            .as("new_id"),
          col("band"))
        .groupBy("existing_id", "new_id")
        .agg(countDistinct(col("band")).as("shared_bands"))
        .orderBy("existing_id", "new_id")
    },

    // Bloom-prefiltered batch-vs-corpus dedup: the arriving batch is
    // probed against a bloom filter of the corpus content hashes, and
    // ONLY suspected duplicates (true dups + the fp rate) take the
    // exact anti-join — at 100 TB the resident corpus is never
    // shuffled per batch, and the join input is the ~dup-rate sliver
    // of the batch. No false negatives by construction, so prefilter +
    // exact-verify returns EXACTLY the plain anti-join (that is the
    // oracle). Spark's own runtime-filter expression pair
    // (bloom_filter_agg / might_contain) does the sketching, so the
    // probe is codegen'd, not a UDF; the one driver-resident object is
    // the serialized filter (numBits/8 bytes — sized by corpus keys,
    // sharded by key range at extreme scale, documented trade).
    Q("q_bloom_dedup",
      s"""WITH corpus AS (
         |  SELECT ${hashSql("text")} AS h FROM documents
         |  WHERE doc_id % 10 <> 3
         |), batch AS (
         |  SELECT doc_id, ${hashSql("text")} AS h FROM documents
         |  WHERE doc_id % 10 = 3
         |)
         |SELECT b.doc_id, b.h AS content_hash
         |FROM batch b
         |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
         |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      bloomDedup(s, dir)
    },

    // fuzzy-dedup verification: exact edit distance over the LSH
    // candidate pairs — the standard second stage after MinHash
    // filtering (candidates are ~linear in corpus size, so the O(len^2)
    // DP runs on a vanishing fraction of pairs). levenshtein() is the
    // same classic DP in Spark and DuckDB: exact integer agreement.
    Q("q_edit_distance",
      s"""WITH $minhashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         |   AND a.doc_id < b.doc_id
         |)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
         |FROM cand c
         |JOIN documents da ON c.doc_a = da.doc_id
         |JOIN documents db ON c.doc_b = db.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val docs = load(s, dir, "documents").select("doc_id", "text")
      val cand = minhashBandPairs(s, dir).select("doc_a", "doc_b").distinct()
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")),
          Seq("doc_a"))
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("ta"), col("tb")).as("edit_dist"))
        .orderBy("doc_a", "doc_b")
    },

    // Duplicate clusters: connected components over the capped LSH
    // candidate pairs — the dedup DECISION stage (which docs form one
    // duplicate group, which member survives). Components run as
    // alternating large-star/small-star rounds (O(log² n) shuffles at
    // any component diameter); the oracle computes the same labels by
    // recursive-CTE transitive closure, tractable at fixture scale.
    Q("q_dup_clusters",
      s"""WITH RECURSIVE $minhashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         |   AND a.doc_id < b.doc_id
         |),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM cand
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM cand
         |),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |label AS (
         |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u
         |)
         |SELECT doc_id, cluster_id,
         |       doc_id = cluster_id AS is_canonical,
         |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM label
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      dupClustersFromBuckets(s, minhashBuckets(s, dir))
    },

    // SimHash: 16-bit signature from per-token hash bit votes
    Q("q_simhash",
      s"""WITH toks AS (
         |  SELECT doc_id, ${hashSql("tok")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) t
         |), votes AS (
         |  SELECT doc_id,
         |    ${(0 until 16).map(i =>
            s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
            .mkString(",\n    ")}
         |  FROM toks GROUP BY doc_id
         |)
         |SELECT doc_id,
         |  ${(0 until 16).map(i =>
            s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")}
         |  AS simhash
         |FROM votes ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = load(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), hashCol(col("tok")).as("h"))
      // packed vote lanes: 7 aggregates instead of 16 (see
      // simhashPackedVoteAggs; bit-identical signature)
      val aggs = simhashPackedVoteAggs("h", "s", bits = 16) :+
        count(lit(1)).as("n")
      toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"),
          simhashSigColPacked("s", col("n"), bits = 16).as("simhash"))
        .orderBy("doc_id")
    },

    // n-gram Jaccard similarity between documents of the same source:
    // sparse set-similarity join on shared shingles (equi-join + agg),
    // never pairwise over the corpus. Two scale guards, both DECLARED in
    // the oracle SQL (part of the operator semantics, not silent):
    //  - stop-shingle removal: shingles shared by > StopShingleMax docs
    //    of one source are excluded before the self-join (a boilerplate
    //    2-gram shared by 10% of a 100 TB corpus would otherwise send
    //    ~n^2/100 pairs through one reducer). Fixture max postings is 33,
    //    so results are unchanged at test SFs.
    //  - per-doc set sizes ride the join as a window column instead of
    //    two extra joins against a sizes relation after the aggregation.
    Q("q_ngram_jaccard",
      s"""WITH sh0 AS (
         |  SELECT DISTINCT s.doc_id, d.source, s.h
         |  FROM ($shingleHashesSql) s JOIN documents d ON s.doc_id = d.doc_id
         |), sh AS (
         |  -- sz = the doc's FULL distinct-shingle set size; the QUALIFY
         |  -- then drops stop shingles from candidate generation only
         |  -- (windows evaluate before QUALIFY filters)
         |  SELECT doc_id, source, h,
         |         count(*) OVER (PARTITION BY doc_id) AS sz
         |  FROM sh0
         |  QUALIFY count(*) OVER (PARTITION BY source, h) <= $StopShingleMax
         |), common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
         |         min(a.sz) AS sza, min(b.sz) AS szb
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source = b.source
         |   AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT doc_a, doc_b,
         |  CAST(c AS DOUBLE) / CAST(sza + szb - c AS DOUBLE) AS jaccard
         |FROM common
         |WHERE CAST(c AS DOUBLE) / CAST(sza + szb - c AS DOUBLE) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // Spark plan: lead-window shingling + streamed capped self-equi-join
      // (ngramJaccardStreamedLead) — measured fastest at sf0.1 (1.19s vs
      // 3.49s row-local-sets streamed vs 4.19s postings-list; see
      // OPTIMIZATION_r17.md §9). Spark evaluates higher-order lambdas
      // INTERPRETED, so the row-local transform/filter/array_distinct set
      // builder alone cost 2.3s; the lead formulation keeps every operator
      // in whole-stage codegen and dedups by hash exactly as the oracle's
      // `SELECT DISTINCT doc_id, source, h` does. The StopShingleMax
      // window cap rides the same (source, h) partitioning the join
      // consumes.
      ngramJaccardStreamedLead(s, dir)
    },

    // SimHash hamming near-dup (Manku et al., WWW'07 web-dedup design):
    // 60-bit signature (2 x 30-bit sub-sigs) split into 4 x 15-bit
    // bands; by pigeonhole, any pair within hamming distance 3 shares
    // at least one untouched band, so candidate generation is a plain
    // equi-join on (band, key) — never an all-pairs comparison — and
    // the exact bit_count verify runs on candidates only. Buckets are
    // capped at BandBucketMax (declared in the oracle): a degenerate
    // bucket means the band collapsed, not that its members are dups.
    Q("q_simhash_near_dup",
      s"""WITH toks AS (
         |  SELECT doc_id, ${hashSql("tok")} AS h1,
         |         ${hashSql("tok || '#'")} AS h2
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents) t
         |), votes AS (
         |  SELECT doc_id,
         |    ${simhashVoteSqls("h1", "a")},
         |    ${simhashVoteSqls("h2", "b")}
         |  FROM toks GROUP BY doc_id
         |), sigs AS (
         |  SELECT doc_id,
         |    ${simhashSigSql("a")} AS sig1,
         |    ${simhashSigSql("b")} AS sig2
         |  FROM votes
         |), bands0 AS (
         |  SELECT doc_id, sig1, sig2, 0 AS band, sig1 & $SimhashBandMask AS k FROM sigs UNION ALL
         |  SELECT doc_id, sig1, sig2, 1 AS band, sig1 >> 15 AS k FROM sigs UNION ALL
         |  SELECT doc_id, sig1, sig2, 2 AS band, sig2 & $SimhashBandMask AS k FROM sigs UNION ALL
         |  SELECT doc_id, sig1, sig2, 3 AS band, sig2 >> 15 AS k FROM sigs
         |), bands AS (
         |  SELECT * FROM bands0
         |  QUALIFY count(*) OVER (PARTITION BY band, k) <= $BandBucketMax
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig1 AS s1a, a.sig2 AS s2a, b.sig1 AS s1b, b.sig2 AS s2b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(s1a, s1b)) + bit_count(xor(s2a, s2b)) AS BIGINT)
         |    AS hamming
         |FROM cand
         |WHERE bit_count(xor(s1a, s1b)) + bit_count(xor(s2a, s2b)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // Spark plan: one token explode + 60-way partial-agg vote, band
      // rows via a 4-element array explode, per-bucket doc lists capped
      // at BandBucketMax, pairs exploded from each bucket (signatures
      // ride the bucket structs — no join-back), exact verify after a
      // distinct. Shuffles: vote agg, bucket agg, pair distinct.
      val sigs = simhashSignatures(s, dir)
      val bands = sigs.select(col("doc_id"), col("sig1"), col("sig2"),
          explode(array(
            struct(lit(0).as("band"),
              col("sig1").bitwiseAND(lit(SimhashBandMask.toLong)).as("k")),
            struct(lit(1).as("band"), shiftright(col("sig1"), 15).as("k")),
            struct(lit(2).as("band"),
              col("sig2").bitwiseAND(lit(SimhashBandMask.toLong)).as("k")),
            struct(lit(3).as("band"),
              shiftright(col("sig2"), 15).as("k")))).as("bk"))
        .select(col("doc_id"), col("sig1"), col("sig2"),
          col("bk.band").as("band"), col("bk.k").as("k"))
      // cap WHILE collecting (see minhashBuckets): one shuffle + sorted
      // streaming pass, O(BandBucketMax) task state at any bucket size
      import s.implicits._
      val cap = BandBucketMax
      val buckets = bands
        .select(col("band"), col("k"), col("doc_id"), col("sig1"),
          col("sig2"))
        .repartition(col("band"), col("k"))
        .sortWithinPartitions("band", "k", "doc_id")
        .as[(Int, Long, Long, Long, Long)]
        .mapPartitions { it =>
          capGroups(it.map { case (b, k, d, s1, s2) =>
            ((b, k), SimBucketDoc(d, s1, s2)) }, cap)
            .map { case ((b, k), ds) => (b, k, ds) }
        }
        .toDF("band", "k", "ds")
      // pair explode as two chained codegen Generates (posexplode +
      // runtime-start slice explode) — see minhashBandPairs: the nested
      // `transform` lambda form this replaces ran interpreted
      val cand = buckets
        .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
        .select(col("a"),
          explode(expr("slice(ds, i + 2, size(ds) - i - 1)")).as("b"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sig1").as("s1a"), col("a.sig2").as("s2a"),
          col("b.sig1").as("s1b"), col("b.sig2").as("s2b"))
        .distinct()
      cand
        .withColumn("hamming",
          (bit_count(col("s1a").bitwiseXOR(col("s1b"))) +
            bit_count(col("s2a").bitwiseXOR(col("s2b")))).cast(LongType))
        .where(col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    // deterministic mixture capping (anti-dominance source balancing):
    // each source contributes at most MixtureCap docs, chosen by
    // content-hash rank — the integer-exact form of temperature
    // resampling (no RNG, no floating-point weights, so both engines
    // agree bit-for-bit). Two-phase exact top-k, NOT a bare
    // per-source window: partitionBy(source) would sort a dominant
    // source (think: 90% of a crawl) in ONE task. Phase 1 sorts each
    // task's split and streams out at most k rows per source (O(1)
    // task state); phase 2 ranks the ≤ k·numPartitions survivors per
    // source — the only shuffle moves k rows per (task, source).
    Q("q_mixture_cap",
      s"""WITH ranked AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY md5(text), doc_id) AS rk
         |  FROM documents
         |)
         |SELECT doc_id, source, rk FROM ranked
         |WHERE rk <= $MixtureCap ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val local = load(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("source"),
          md5(col("text").cast(BinaryType)).as("m"))
        .sortWithinPartitions("source", "m", "doc_id")
        .as[(Long, String, String)]
        .mapPartitions { it =>
          // sorted stream: group rank = rows seen since the source
          // changed, so truncation needs no buffering at any skew
          var cur: String = null
          var n = 0
          it.flatMap { case r @ (_, src, _) =>
            if (src != cur) { cur = src; n = 0 }
            n += 1
            if (n <= MixtureCap) Iterator.single(r) else Iterator.empty
          }
        }
        .toDF("doc_id", "source", "m")
      local
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy("m", "doc_id")))
        .where(col("rk") <= MixtureCap)
        .select("doc_id", "source", "rk")
        .orderBy("doc_id")
    },

    // per-source adaptive quality filter: keep documents at or above
    // their own source's median token count (absolute thresholds
    // misfire when sources differ in register — forum posts vs papers —
    // so production filters cut per-source). Two passes over the score
    // column: a tiny per-source percentile aggregate (one row per
    // source, broadcast back) and a filter — the join adds no shuffle
    // at any scale. Spark `percentile` and DuckDB `quantile_cont` share
    // the linear-interpolation definition (see q_percentile), so the
    // cutoff and the boundary compare are engine-exact.
    Q("q_quality_filter",
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(length(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |), cuts AS (
        |  SELECT source, quantile_cont(n_tokens, 0.5) AS cutoff
        |  FROM scored GROUP BY source
        |)
        |SELECT s.doc_id, s.source, s.n_tokens, c.cutoff
        |FROM scored s JOIN cuts c USING (source)
        |WHERE s.n_tokens >= c.cutoff
        |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val scored = load(s, dir, "documents").select(
        col("doc_id"), col("source"),
        size(expr("regexp_extract_all(text, '[^ ]+', 0)"))
          .cast(LongType).as("n_tokens"))
      val cuts = scored.groupBy("source")
        .agg(expr("percentile(n_tokens, 0.5)").as("cutoff"))
      scored.join(broadcast(cuts), "source")
        .where(col("n_tokens") >= col("cutoff"))
        .select("doc_id", "source", "n_tokens", "cutoff")
        .orderBy("doc_id")
    },

    // cross-document duplicated-span removal (the line-dedup stage of
    // CCNet/RefinedWeb-style pipelines: a span that recurs across
    // documents is boilerplate — headers, license blobs, navigation —
    // and is cut from EVERY document). The corpus has no line
    // structure, so the span unit is a fixed 10-token chunk; the
    // operator shape is the real one: explode to (doc, chunk_no,
    // chunk), count distinct docs per chunk value, anti-flag chunks
    // seen in >= 2 docs, reassemble surviving chunks in order. Three
    // keyed shuffles (chunk df-count, flag join, per-doc reassembly),
    // no driver state; at 100 TB the join/group key would be a 128-bit
    // chunk hash instead of the chunk text — same plan, narrower
    // exchange. Reassembly concatenates ONE doc's chunks per row
    // (bounded by doc length, the same row width the scan already
    // carried), never a cross-doc array.
    Q("q_chunk_dedup",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), chunks AS (
        |  SELECT doc_id, i AS chunk_no,
        |    array_to_string(ts[(i*10+1):(i*10+10)], ' ') AS chunk
        |  FROM toks,
        |    unnest(range(0, CAST(ceil(len(ts)/10.0) AS BIGINT))) AS t(i)
        |), dup AS (
        |  SELECT chunk FROM chunks
        |  GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
        |), flag AS (
        |  SELECT c.doc_id, c.chunk_no, c.chunk,
        |    CASE WHEN d.chunk IS NULL THEN 0 ELSE 1 END AS dup
        |  FROM chunks c LEFT JOIN dup d USING (chunk)
        |)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(dup) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN dup = 0 THEN chunk END, ' '
        |                      ORDER BY chunk_no), '') AS clean_text
        |FROM flag GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
      val chunks = load(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, cast(ceil(size(ts)/10.0) as int) - 1),
            |  i -> array_join(slice(ts, i*10+1, 10), ' '))""".stripMargin))
          .as(Seq("chunk_no", "chunk")))
      val dup = chunks.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 2)
        .select(col("chunk"), lit(1).as("dup"))
      chunks.join(dup, Seq("chunk"), "left")
        .select(col("doc_id"), col("chunk_no"), col("chunk"),
          coalesce(col("dup"), lit(0)).as("dup"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("dup")).cast(LongType).as("n_dropped"),
          concat_ws(" ", expr(
            """transform(
              |  filter(array_sort(collect_list(struct(chunk_no,
              |           CASE WHEN dup = 0 THEN chunk END AS c))),
              |    x -> x.c IS NOT NULL),
              |  x -> x.c)""".stripMargin)).as("clean_text"))
        .orderBy("doc_id")
    },

    // adjacent-token-pair frequency, top-k — the merge-candidate
    // statistic at the core of BPE/WordPiece vocabulary induction
    // (tokenizer training is a corpus pipeline stage too). Shape:
    // row-local zip bigrams (the shingleHashes pairing, kept as
    // strings), then ONE partial-aggregated count and a TakeOrdered
    // top-k — no global sort of the pair relation at any corpus size.
    // Ties at the cut are broken by (tok, nxt) so the top-k is a
    // deterministic total order on both engines.
    Q("q_bpe_pairs",
      """WITH toks AS (
        |  SELECT string_split(text, ' ')[i] AS tok,
        |         string_split(text, ' ')[i + 1] AS nxt
        |  FROM documents,
        |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS t(i)
        |)
        |SELECT tok, nxt, count(*) AS n FROM toks
        |WHERE nxt IS NOT NULL
        |GROUP BY tok, nxt
        |ORDER BY n DESC, tok, nxt LIMIT 20""".stripMargin) { (s, dir) =>
      // r16: zip bigrams (row-local codegen — see shingleHashes). The
      // lead-window form paid a full token shuffle whose partitioning
      // nothing downstream reused (the count groups by (tok, nxt), not
      // doc_id); now the pair count partial-aggregates map-side.
      load(s, dir, "documents")
        .select(split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 2)
        .select(explode(arrays_zip(
          expr("slice(ts, 1, size(ts) - 1)").as("tok"),
          expr("slice(ts, 2, size(ts) - 1)").as("nxt"))).as("z"))
        .select(col("z.tok").as("tok"), col("z.nxt").as("nxt"))
        .groupBy("tok", "nxt").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("tok"), asc("nxt"))
        .limit(20)
    },

    // PII redaction (corpus-prep): detect + mask emails and phone
    // numbers before training. Pure per-row regex projections — no
    // shuffle, embarrassingly parallel at 100 TB. The fixture corpus is
    // synthetic word soup, so deterministic PII is injected per doc_id
    // IDENTICALLY in both engines and each engine then runs its own
    // regex redaction; the oracle equality checks the transform, not
    // the injection. Patterns avoid constructs where Java regex and
    // RE2 diverge (no backrefs, no lookaround).
    Q("q_pii_redact",
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    text ||
         |    (CASE WHEN doc_id % 3 = 0
         |      THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |      ELSE '' END) ||
         |    (CASE WHEN doc_id % 2 = 0
         |      THEN ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      ELSE '' END) AS raw
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '\\+1-555-[0-9]{4}')) AS BIGINT)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(raw,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
         |FROM raw ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phonePat = "\\+1-555-[0-9]{4}"
      load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" Contact user"),
                col("doc_id").cast(StringType), lit("@example.com")))
              .otherwise(lit("")),
            when(col("doc_id") % 2 === 0,
              concat(lit(" or call +1-555-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast(StringType),
                  4, "0")))
              .otherwise(lit(""))).as("raw"))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(emailPat)).cast(LongType)
            .as("n_emails"),
          regexp_count(col("raw"), lit(phonePat)).cast(LongType)
            .as("n_phones"),
          regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    },

    // LM-likelihood quality scoring (corpus-prep): the CCNet/RefinedWeb
    // perplexity-filter stage re-expressed integer-exact. A bigram
    // language model trained on the corpus itself scores each document
    // by how well its word transitions match corpus statistics —
    // low-scoring docs are the incoherent/garbled tail a perplexity
    // filter drops. Instead of sum-of-log-probs (libm log differs in
    // the last ulp across engines, which a hash oracle cannot absorb),
    // the score is the ratio of two exact integer sums over the doc's
    // bigrams with add-one smoothing:
    //   lm_score = sum(c2 + 1) / sum(c1 + V)
    // (c2 = corpus bigram count, c1 = corpus context count, V = vocab
    // size) — same corpus-fit ordering signal, one double division at
    // the end. `novel_bigrams` counts transitions seen in no other
    // document (the strongest garble/uniqueness indicator). Plans:
    // two explodes, two count aggregations keyed on tokens (Zipf-hot
    // keys are COUNT joins, bounded by data volume — not pair
    // explosions; AQE splits residual skew), a broadcast scalar for V,
    // one join-back + per-doc aggregation. Linear at any corpus size.
    Q("q_lm_score",
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |), b AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM d, unnest(range(1, len(ts))) AS t(i)
        |  WHERE len(ts) >= 2
        |), bd AS (
        |  SELECT doc_id, w1, w2, count(*) AS m
        |  FROM b GROUP BY doc_id, w1, w2
        |), c2 AS (
        |  SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c2, count(*) AS ddf
        |  FROM bd GROUP BY w1, w2
        |), c1 AS (
        |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1
        |), v AS (
        |  SELECT count(DISTINCT tok) AS v FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |)
        |SELECT bd.doc_id,
        |  CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  CAST(sum(m * (c2.c2 + 1)) AS BIGINT) AS num,
        |  CAST(sum(m * (c1.c1 + v.v)) AS BIGINT) AS den,
        |  CAST(sum(m * (c2.c2 + 1)) AS DOUBLE) /
        |    CAST(sum(m * (c1.c1 + v.v)) AS DOUBLE) AS lm_score,
        |  CAST(sum(CASE WHEN c2.ddf = 1 THEN m ELSE 0 END) AS BIGINT)
        |    AS novel_bigrams
        |FROM bd JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |GROUP BY bd.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = load(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.agg(countDistinct(col("tok")).as("v"))
      // sequence(0, size-2) would run DESCENDING for a 1-token doc
      // (Spark defaults step to -1 when start > stop) — guard first
      // bigrams via arrays_zip of two slices — ordinary codegen
      // expressions; the former transform(sequence(...)) lambda is
      // evaluated INTERPRETED by Spark (the round-15 shingle finding,
      // re-measured r16, OPTIMIZATION_r16.md §1)
      val bigr = docs
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          expr("slice(ts, 1, size(ts) - 1)").as("w1"),
          expr("slice(ts, 2, size(ts) - 1)").as("w2"))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // per-doc distinct bigrams with multiplicity FIRST: every later
      // stage (corpus counts, the join-back, the per-doc totals) then
      // works on the distinct-bigram relation, not the raw explode —
      // the 100 TB shape, since real corpora repeat transitions
      // heavily. ddf becomes a plain count (bd is unique per doc), not
      // a countDistinct.
      val bd = bigr.groupBy("doc_id", "w1", "w2")
        .agg(count(lit(1)).as("m"))
      val c2 = bd.groupBy("w1", "w2")
        .agg(sum(col("m")).as("c2"), count(lit(1)).as("ddf"))
      // context counts derive from the (much smaller) bigram-count
      // relation — sum of c2 per w1 IS the bigram count with that
      // context — instead of re-aggregating the full bigram explode.
      // (r16 note: a window formulation — c2/ddf/c1 as window columns
      // over ONE bd pass — was measured 1.5x SLOWER at sf0.1 (2.04 s
      // vs 1.32 s warm): two sort-based window exchanges over bd cost
      // more than the static plan's repeated hash-agg subtrees, whose
      // exchanges AQE deduplicates at runtime anyway.)
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      bd.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(sum(col("m")).as("n_bigrams"),
          sum(col("m") * (col("c2") + 1)).as("num"),
          sum(col("m") * (col("c1") + col("v"))).as("den"),
          (sum(col("m") * (col("c2") + 1)).cast(DoubleType) /
            sum(col("m") * (col("c1") + col("v"))).cast(DoubleType))
            .as("lm_score"),
          sum(when(col("ddf") === 1, col("m")).otherwise(0L))
            .as("novel_bigrams"))
        .orderBy("doc_id")
    },

    // DSIR-style domain-matched data selection (Xie et al.,
    // arXiv:2302.03169): score every candidate document by an
    // importance weight p_target/p_raw over HASHED token features —
    // the technique behind "select web data that looks like
    // Wikipedia". Target = the English slice, candidates = everything
    // else; features = md5-hashed tokens in 256 buckets, so both
    // models are fixed-size regardless of corpus size. Weights are the
    // lm_score trick re-applied: two exact integer sums per doc with
    // add-one smoothing, normalizers applied by integer cross-
    // multiplication, ONE double division at the end — engine-exact,
    // no libm log. Plan shape: the bucket models are 256-row
    // aggregates BROADCAST to the candidate stream; the corpus itself
    // is touched by exactly one explode + two keyed aggregations —
    // linear at 100 TB, model memory O(buckets) per executor.
    // (Products stay < 2^63: num <= n_toks * (corpus_tokens + 1) and
    // the cross-multiplied normalizer adds a corpus_tokens factor —
    // ~1e17 even at a 1e9-token corpus with 1e4-token docs.)
    Q("q_dsir_select",
      s"""WITH bt AS (
         |  SELECT doc_id, lang,
         |    (${hashSql("tok")}) % 256 AS b
         |  FROM (SELECT doc_id, lang,
         |          unnest(string_split(text, ' ')) AS tok
         |        FROM documents)
         |), cand AS (
         |  SELECT doc_id, b, count(*) AS c FROM bt
         |  WHERE lang <> 'en' GROUP BY doc_id, b
         |), tmodel AS (
         |  SELECT b, count(*) AS t FROM bt WHERE lang = 'en' GROUP BY b
         |), rmodel AS (
         |  SELECT b, count(*) AS r FROM bt GROUP BY b
         |), tot AS (
         |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
         |           AS BIGINT) AS nt,
         |         CAST(count(*) AS BIGINT) AS nr FROM bt
         |), perdoc AS (
         |  SELECT cand.doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_toks,
         |    CAST(sum(c * (COALESCE(tmodel.t, 0) + 1)) AS BIGINT) AS num,
         |    CAST(sum(c * (rmodel.r + 1)) AS BIGINT) AS den
         |  FROM cand LEFT JOIN tmodel USING (b) JOIN rmodel USING (b)
         |  GROUP BY cand.doc_id
         |)
         |SELECT doc_id, n_toks, num, den,
         |  CAST(num * (nr + 256) AS DOUBLE) /
         |    CAST(den * (nt + 256) AS DOUBLE) AS dsir_weight,
         |  num * (nr + 256) > den * (nt + 256) AS selected
         |FROM perdoc CROSS JOIN tot
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bt = load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b", pmod(hashCol(col("tok")), lit(256L)))
      val cand = bt.where(col("lang") =!= "en")
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      // BOTH bucket models and their normalizers fall out of ONE
      // aggregation pass over the token stream (the corpus is exploded
      // exactly twice: candidate counts + models), and a bucket with no
      // target tokens carries t = 0 — no left join or fill needed
      val models = bt.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t"),
        count(lit(1)).as("r"))
      val tot = models.agg(sum(col("t")).as("nt"), sum(col("r")).as("nr"))
      cand
        .join(broadcast(models), Seq("b"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_toks"),
          sum(col("c") * (col("t") + lit(1L))).as("num"),
          sum(col("c") * (col("r") + lit(1L))).as("den"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_toks"), col("num"), col("den"),
          ((col("num") * (col("nr") + lit(256L))).cast(DoubleType) /
            (col("den") * (col("nt") + lit(256L))).cast(DoubleType))
            .as("dsir_weight"),
          (col("num") * (col("nr") + lit(256L)) >
            col("den") * (col("nt") + lit(256L))).as("selected"))
        .orderBy("doc_id")
    },

    // Content-defined chunking (the FastCDC/rolling-hash dedup shape):
    // chunk boundaries are decided by CONTENT (token hash % 64 == 0),
    // not fixed offsets, so an insertion near a document's head shifts
    // only the chunk it lands in — the property that makes chunk-hash
    // dedup robust to edits, where q_chunk_dedup's fixed windows would
    // re-align every subsequent chunk. Per-doc window only (no global
    // sort); chunk identity is an md5 over the reassembled chunk, so
    // at 100 TB the dedup key is a 128-bit hash exchange, and the
    // duplicate count is one keyed aggregation on it.
    Q("q_cdc_chunks",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |), toks AS (
         |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
         |  FROM d, unnest(range(1, len(ts) + 1)) AS t(i)
         |), marked AS (
         |  SELECT doc_id, pos, tok,
         |    CASE WHEN (${hashSql("tok")}) % 64 = 0 THEN 1 ELSE 0 END AS bnd
         |  FROM toks
         |), cid AS (
         |  SELECT doc_id, pos, tok,
         |    COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk_id
         |  FROM marked
         |), chunks AS (
         |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
         |  FROM cid GROUP BY doc_id, chunk_id
         |), dup AS (
         |  SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT)
         |    AS dup_docs
         |  FROM chunks GROUP BY chunk_hash
         |)
         |SELECT c.doc_id, c.chunk_id, c.n_tokens, c.chunk_hash, d.dup_docs
         |FROM chunks c JOIN dup d USING (chunk_hash)
         |ORDER BY c.doc_id, c.chunk_id""".stripMargin) { (s, dir) =>
      val toks = load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("bnd",
          when(pmod(hashCol(col("tok")), lit(64L)) === 0, 1L).otherwise(0L))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = toks
        .withColumn("chunk_id", coalesce(sum(col("bnd")).over(w), lit(0L)))
        .groupBy("doc_id", "chunk_id")
        .agg(count(lit(1)).as("n_tokens"),
          sort_array(collect_list(struct(col("pos"), col("tok")))).as("pt"))
        .withColumn("chunk_hash",
          // pt.tok = GetArrayStructFields (codegen) — the transform
          // lambda it replaces ran interpreted (r16)
          md5(array_join(col("pt.tok"), " ")
            .cast(BinaryType)))
        .drop("pt")
      val dup = chunks.groupBy("chunk_hash")
        .agg(countDistinct(col("doc_id")).as("dup_docs"))
      chunks.join(dup, Seq("chunk_hash"))
        .select("doc_id", "chunk_id", "n_tokens", "chunk_hash", "dup_docs")
        .orderBy("doc_id", "chunk_id")
    },

    // markup/boilerplate stripping (corpus-prep): remove script/style
    // blocks (content included), comments, then tags, then collapse
    // whitespace — the order matters (script bodies may contain '<').
    // Per-row regex projections, no shuffle. Markup is injected
    // deterministically in both engines (word-soup fixture has none);
    // the script body contains a bare '<' so a naive tags-first strip
    // would corrupt the text and fail the oracle.
    Q("q_strip_markup",
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    '<html><head><title>' || source ||
         |    '</title><style>p { color: red; }</style></head><body><p>' ||
         |    text ||
         |    '</p><script>var x = 1; if (x < 2) { x += 1; }</script>' ||
         |    '<!-- footer --></body></html>' AS raw
         |  FROM documents
         |)
         |SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(regexp_replace(raw,
         |      '<script[^>]*>[\\s\\S]*?</script>', ' ', 'g'),
         |      '<style[^>]*>[\\s\\S]*?</style>', ' ', 'g'),
         |      '<!--[\\s\\S]*?-->', ' ', 'g'),
         |      '<[^>]*>', ' ', 'g'),
         |      '\\s+', ' ', 'g')) AS stripped
         |FROM raw ORDER BY doc_id""".stripMargin) { (s, dir) =>
      load(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("<html><head><title>"), col("source"),
            lit("</title><style>p { color: red; }</style></head><body><p>"),
            col("text"),
            lit("</p><script>var x = 1; if (x < 2) { x += 1; }</script>"),
            lit("<!-- footer --></body></html>")).as("raw"))
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(col("raw"),
              "<script[^>]*>[\\s\\S]*?</script>", " "),
              "<style[^>]*>[\\s\\S]*?</style>", " "),
              "<!--[\\s\\S]*?-->", " "),
              "<[^>]*>", " "),
            "\\s+", " ")).as("stripped"))
        .orderBy("doc_id")
    },

    // exact-substring span dedup (the Lee et al. 2022 "Deduplicating
    // Training Data" flavor, cf. reference-adjacent corpus pipelines):
    // an 8-word span appearing VERBATIM in >= 2 distinct documents marks
    // both docs' occurrences as duplicated text. Distinct from MinHash
    // (document-level similarity): this finds copied PASSAGES inside
    // otherwise-unique documents. Shape at 100 TB: the span stream is
    // linear in corpus tokens and immediately shrinks to per-(doc,span)
    // counts via partial aggregation; cross-doc sharing is a group-by on
    // the span hash (a boilerplate span that appears a billion times
    // lands in ONE count, never a pair join), and the flag joins back on
    // the hash — no caps needed because nothing is quadratic.
    Q("q_span_dedup",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |idx AS (
         |  SELECT doc_id, toks,
         |    unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i
         |  FROM w),
         |spans AS (
         |  SELECT doc_id, ${hashSql("array_to_string(toks[i:i+7], ' ')")} AS h
         |  FROM idx),
         |per_span AS (
         |  SELECT doc_id, h, count(*) AS occ FROM spans GROUP BY doc_id, h),
         |shared AS (
         |  SELECT h FROM per_span GROUP BY h HAVING count(*) >= 2),
         |agg AS (
         |  SELECT p.doc_id,
         |    CAST(sum(p.occ) AS BIGINT) AS n_spans,
         |    CAST(coalesce(sum(CASE WHEN s.h IS NOT NULL THEN p.occ END), 0)
         |      AS BIGINT) AS n_dup_spans
         |  FROM per_span p LEFT JOIN shared s ON p.h = s.h
         |  GROUP BY p.doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_spans, 0) AS n_spans,
         |  coalesce(a.n_dup_spans, 0) AS n_dup_spans,
         |  CAST(coalesce(a.n_dup_spans, 0) AS DOUBLE)
         |    / CAST(greatest(coalesce(a.n_spans, 0), 1) AS DOUBLE) AS dup_ratio
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = load(s, dir, "documents")
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val leads = (1 to 7).map(i => lead("tok", i).over(byDoc))
      // concat_ws skips NULLs, so the tail positions (< 8 words left)
      // must be filtered on the LAST lead, not left to shorten silently
      val spans = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .select(col("doc_id"),
          concat_ws(" ", (col("tok") +: leads): _*).as("span"),
          leads.last.as("tail"))
        .where(col("tail").isNotNull)
        .select(col("doc_id"), hashCol(col("span")).as("h"))
      val perSpan = spans.groupBy("doc_id", "h")
        .agg(count(lit(1)).as("occ"))
      // per_span is already distinct per (doc, hash): count(*) = doc count
      val shared = perSpan.groupBy("h")
        .agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") >= 2)
        .select(col("h"), lit(1).as("dup"))
      val agg = perSpan.join(shared, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(sum("occ").as("n_spans"),
          coalesce(sum(when(col("dup").isNotNull, col("occ"))), lit(0L))
            .as("n_dup_spans"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          (coalesce(col("n_dup_spans"), lit(0L)).cast(DoubleType) /
            greatest(coalesce(col("n_spans"), lit(0L)), lit(1L))
              .cast(DoubleType)).as("dup_ratio"))
        .orderBy("doc_id")
    },

    // inverted-index keyword search: saturated-tf, idf-weighted top-k —
    // the retrieval primitive for corpus exploration and targeted
    // selection. All-integer scoring (tf capped at 5; idf as the exact
    // integer ratio N*1000 // df) so both engines agree bit-for-bit —
    // no log/libm anywhere. Shape at 100 TB: the token stream filters to
    // the query terms BEFORE any shuffle (linear scan, tiny survivor
    // set), df is a 3-row aggregate broadcast back onto tf, and the
    // top-k is a TakeOrdered, never a global sort.
    Q("q_keyword_topk",
      """WITH tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('merge', 'window', 'stream')
        |  GROUP BY doc_id, tok),
        |df AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(sum(least(tf.tf, 5) * ((n.n * 1000) // df.df)) AS BIGINT)
        |      AS score
        |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |  GROUP BY tf.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |         AS INTEGER) AS rank,
        |  doc_id, score
        |FROM scored
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = load(s, dir, "documents")
      val terms = Seq("merge", "window", "stream")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf
        .join(broadcast(df), "tok")
        .crossJoin(broadcast(n))
        .groupBy("doc_id")
        .agg(sum(least(col("tf"), lit(5L)) *
          expr("(n * 1000) div df")).as("score"))
      // top-k FIRST (TakeOrderedAndProject — no global sort), then rank
      // the 20 survivors: row_number over the full set would funnel every
      // scored doc through one window partition
      scored.orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select("rank", "doc_id", "score")
        .orderBy(col("score").desc, col("doc_id"))
    })
}
