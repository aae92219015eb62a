package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.delta.IndexStore

/** Embedding similarity search over the `embeddings` table
  * (Array[Float] x 64, SURVEY.md §2 north-star `q_sim_topk`).
  *
  * - `q_sim_topk`: brute-force cosine top-k against a probe vector. The
  *   dot/norm sums are unrolled left-associated double expressions —
  *   whole-stage-codegen friendly in Spark and bit-identical to the
  *   DuckDB oracle (same multiply/add order).
  * - `q_embed_bitsig`: 64-bit sign signature (the hash behind
  *   embedding-LSH near-dup buckets), exact integer output.
  * - `q_sim_ann_ivf`: IVF-style ANN — deterministic seed centroids,
  *   cluster assignment, probe scans only the nearest nprobe clusters
  *   (the 100 TB scale path: candidate scan cost is nprobe/nlist of
  *   brute force). Accuracy vs brute force is asserted in
  *   SimilaritySpec; declared rows-only here.
  * - `q_sim_ann_pq`: IVF-PQ (Jégou et al. 2011) — the complementary
  *   100 TB axis: IVF bounds which rows are READ, PQ bounds the BYTES
  *   per read row (8 one-byte codes + one stored norm instead of 64
  *   floats), so the scan structure fits executor memory at corpus
  *   sizes where raw vectors never could. ADC candidate scoring +
  *   exact rerank of the top PqCand.
  * - `q_sim_ann_pq_incremental`: the PQ ingest path — the arriving
  *   batch encodes against the STORED codebooks and appends into the
  *   coarse cells; codebooks never move, residents never rewrite.
  * - `q_knn_join_pq`: batch kNN whose pairwise stage scores CODES
  *   against per-probe ADC LUTs — pair cost stays flat as embedding
  *   width grows; vectors appear only in the per-probe rerank sliver.
  */
object SimilarityQueries {
  import T.load

  private val Dim = 64

  /** Dot product via the native loop expression (graft.functions
    * .VectorDot): same left-assoc accumulation as the oracle's unrolled
    * `a[1]*b[1] + ...` — bit-identical values — but O(1) generated-code
    * size, so fused stages never blow past Janino's method limits the
    * way three ~400-node unrolled trees did. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vectorDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Same expressions in DuckDB SQL. */
  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i =>
      s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Banded sign-bit LSH geometry for `q_embed_near_dup`. 8 bands x
    * 8 bits keeps recall at the fixture's calibrated low threshold
    * (cosine 0.2 — measured sign-agreement p ~ 0.64, so wider bands
    * retain almost nothing); production near-dup thresholds (>= 0.9)
    * would use fewer, wider bands. The hot-bucket cap — not the key
    * width — is the hard scale bound (cf. TextQueries.BandBucketMax). */
  final val EmbedBands = 8
  final val EmbedBandBits = 8
  final val EmbedBucketMax = 1000

  /** Product-quantization (IVF-PQ) geometry for `q_sim_ann_pq`:
    * Dim=64 split into PqM=8 subspaces of PqSubDim=8 dims, each
    * quantized against a PqK=16-entry codebook (4-bit codes) trained
    * by per-subspace k-means. A stored vector costs PqM single-byte
    * codes instead of Dim 4-byte floats — a 32x logical compression,
    * which is the axis that lets a 100 TB corpus's search structure
    * live in cluster MEMORY (IVF's partition pruning bounds IO; PQ
    * bounds the bytes per scanned row). Search is asymmetric distance
    * computation (ADC, Jegou et al. 2011): the probe builds a PqM x
    * PqK inner-product lookup table once, candidate scoring is PqM
    * table lookups + adds per row, and the top PqCand ADC candidates
    * are exactly reranked against their full vectors. */
  final val PqM = 8
  final val PqSubDim = 8
  final val PqK = 16
  final val PqCand = 128
  final val PqLloydIterations = 2

  /** Shape of a PQ code layout: `dim = m * subDim` sub-vector split, `k`
    * codewords per subspace. The fixture default matches the constants
    * above; production dims parametrize it (e.g. dim 512 → m=64 one-byte
    * codes — ADC cost grows with M, not with dim, which is the whole
    * point: exact pair cost at dim 512 is 8× the fixture's while codes
    * stay one byte per subspace). Train/encode/distortion all take a
    * shape so the SAME plan shapes serve any embedding width
    * (rehearsed at dim 512 — SCALE.md, "Round-14 dim-512 PQ
    * rehearsal"). */
  final case class PqShape(dim: Int, m: Int, subDim: Int, k: Int) {
    require(m * subDim == dim, s"m*subDim must equal dim: $this")
  }
  final val DefaultPqShape: PqShape = PqShape(Dim, PqM, PqSubDim, PqK)

  /** ADC candidates per probe for the PQ k-NN join (k=5 → 12.8× k;
    * the per-probe candidate pool is nprobe cells, smaller than the
    * single-probe query's, so a smaller rerank factor holds recall). */
  final val PqJoinCand = 64

  /** SemDeDup (`q_semdedup`) knobs: within-cluster near-dup threshold
    * (fixture-calibrated so ~15-20% of vectors dedup away — the
    * fixture's cosine ceiling is ~0.5, so production's ~0.95 would
    * mark nothing; the LOW absolute value is a property of the random
    * fixture, not of the operator) and the hot-cluster guard on the
    * pairwise stage. */
  final val SemTau = 0.35
  final val SemClusterMax = 1000

  /** Band `bnd`'s key: integer from the sign bits of its 8 dims. */
  private def embedBandKey(bnd: Int): Column =
    (0 until EmbedBandBits).map(i =>
      when(element_at(col("embedding"), bnd * EmbedBandBits + i + 1) >= 0f,
        lit(1 << i)).otherwise(lit(0))).reduce(_ + _)
  private def embedBandKeySql(bnd: Int): String =
    (0 until EmbedBandBits).map(i =>
      s"(CASE WHEN embedding[${bnd * EmbedBandBits + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
      .mkString(" + ")

  /** (band, k) bucket relation — shared with SimilaritySpec so the
    * bucket-size bound is asserted on exactly the production shape. */
  def embedBuckets(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(array((0 until EmbedBands).map(bnd =>
      struct(lit(bnd).as("band"), embedBandKey(bnd).as("k"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.k").as("k"))
      .groupBy("band", "k")
      .agg(array_sort(collect_list(col("vec_id"))).as("vs"))

  /** Distinct candidate pairs from capped band buckets. Pair explode
    * as two chained codegen Generates (posexplode + runtime-start
    * slice explode) — the nested `transform` lambda form this replaces
    * ran interpreted (see TextQueries.minhashBandPairs, measured r16). */
  def embedCandidates(emb: DataFrame): DataFrame =
    embedBuckets(emb)
      .where(size(col("vs")).between(2, EmbedBucketMax))
      .select(col("vs"), posexplode(col("vs")).as(Seq("i", "vec_a")))
      .select(col("vec_a"),
        explode(expr("slice(vs, i + 2, size(vs) - i - 1)")).as("vec_b"))
      .distinct()

  /** q_embed_near_dup's exact-cosine verify over an explicit candidate
    * relation. */
  private[graft] def embedNearDupVerify(emb: DataFrame,
      cand: DataFrame): DataFrame = {
    val ea = emb.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"), norm(col("embedding")).as("na"))
    val eb = emb.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), norm(col("embedding")).as("nb"))
    cand.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .withColumn("cosine",
        dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .where(col("cosine") >= 0.2)
      .select("vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  val all: Seq[Q] = Seq(

    Q("q_sim_topk",
      s"""WITH probe AS (SELECT embedding AS pv FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  (${dotSql("embedding", "pv")}) /
         |    (${normSql("embedding")} * ${normSql("pv")}) AS cosine
         |FROM embeddings, probe
         |WHERE vec_id <> 0
         |ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin) { (s, dir) =>
      val emb = load(s, dir, "embeddings")
      // probe norm rides the broadcast row instead of re-deriving per fact
      // row (identical arithmetic, 129 fewer codegen nodes in the hot loop)
      val probe = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("pv"), norm(col("embedding")).as("pn"))
      emb.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("label"),
          (dot(col("embedding"), col("pv")) /
            (norm(col("embedding")) * col("pn"))).as("cosine"))
        .orderBy(desc("cosine"), asc("vec_id"))
        .limit(20)
    },

    // 63-bit sign signature: bucket key for embedding-LSH near-dedup
    // (dim 64 omitted so the key stays a positive BIGINT in both engines)
    Q("q_embed_bitsig",
      s"""SELECT vec_id, label,
         |  ${(0 until 63).map(i =>
            s"(CASE WHEN embedding[${i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
            .mkString(" + ")} AS bitsig
         |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, dir) =>
      load(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        (0 until 63).map(i =>
          when(element_at(col("embedding"), i + 1) >= 0f, lit(1L << i))
            .otherwise(lit(0L)))
          .reduce(_ + _).as("bitsig"))
        .orderBy("vec_id")
    },

    // int8 symmetric quantization (the standard embedding-compression
    // pass before ANN index build): per-vector scale = 127 / max|x|,
    // q_i = floor(x_i * scale + 0.5). floor-of-double is engine-exact
    // where round()'s half-way tie rule is not; the float->double
    // widening and the single division are IEEE-identical on both
    // engines. Scalars (checksum/min/max) keep the compare exact
    // without relying on array equality semantics.
    Q("q_embed_quantize",
      """WITH s AS (
        |  SELECT vec_id, label,
        |    127.0 / list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS scale,
        |    embedding
        |  FROM embeddings
        |)
        |SELECT vec_id, label, scale,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT) AS q_sum,
        |  CAST(list_min(list_transform(embedding,
        |    x -> floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT) AS q_min,
        |  CAST(list_max(list_transform(embedding,
        |    x -> floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT) AS q_max
        |FROM s ORDER BY vec_id""".stripMargin) { (s, dir) =>
      load(s, dir, "embeddings")
        .withColumn("scale", lit(127.0) /
          array_max(expr("transform(embedding, x -> abs(CAST(x AS DOUBLE)))")))
        .withColumn("q",
          expr("transform(embedding, x -> floor(CAST(x AS DOUBLE) * scale + 0.5))"))
        .select(col("vec_id"), col("label"), col("scale"),
          expr("CAST(aggregate(q, 0D, (acc, x) -> acc + x) AS BIGINT)")
            .as("q_sum"),
          expr("CAST(array_min(q) AS BIGINT)").as("q_min"),
          expr("CAST(array_max(q) AS BIGINT)").as("q_max"))
        .orderBy("vec_id")
    },

    // embedding-cosine near-duplicates: banded sign-bit LSH (8 bands x
    // 8 bits over the 64 dims), candidate = pair sharing >= 1 band
    // bucket, verified by exact cosine >= 0.2. Two scale guards, both
    // DECLARED in the oracle SQL (operator semantics, not silent):
    //  - band buckets larger than EmbedBucketMax are excluded on both
    //    sides, so total candidate pairs are bounded by
    //    bands * 2^bits * M^2/2 regardless of corpus size (a degenerate
    //    bucket means the sign band has collapsed, not that all its
    //    members are near-duplicates) — fixture max bucket is 8, so
    //    results are unchanged at test SFs;
    //  - candidates are DISTINCT'd across bands BEFORE the 129-term
    //    cosine is evaluated, so the expensive verify runs once per pair.
    Q("q_embed_near_dup",
      s"""WITH bands0 AS (
         |  ${(0 until EmbedBands).map(bnd =>
            s"SELECT vec_id, $bnd AS band, ${embedBandKeySql(bnd)} AS k FROM embeddings")
            .mkString("\n  UNION ALL\n  ")}
         |), bands AS (
         |  SELECT * FROM bands0
         |  QUALIFY count(*) OVER (PARTITION BY band, k) <= $EmbedBucketMax
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.k = b.k AND a.vec_id < b.vec_id
         |)
         |SELECT c.vec_a, c.vec_b,
         |  (${dotSql("ea.embedding", "eb.embedding")}) /
         |    (${normSql("ea.embedding")} * ${normSql("eb.embedding")}) AS cosine
         |FROM cand c
         |JOIN embeddings ea ON c.vec_a = ea.vec_id
         |JOIN embeddings eb ON c.vec_b = eb.vec_id
         |WHERE (${dotSql("ea.embedding", "eb.embedding")}) /
         |    (${normSql("ea.embedding")} * ${normSql("eb.embedding")}) >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      // Spark plan: band expansion is a map-side explode; buckets are a
      // groupBy (band, k) with a collect_list bounded by EmbedBucketMax;
      // pairs come from exploding per-bucket id lists (never a self-join
      // of the full sig relation); vectors are re-joined only for the
      // deduped candidates. Shuffles: bucket agg, candidate distinct,
      // two slim id-equi-joins back to embeddings.
      // norms are precomputed per VECTOR (2 joined projections), not per
      // pair: the verify expression shrinks from dot + 2 full norms
      // (~400 codegen nodes) to dot + 2 column refs — same left-assoc
      // arithmetic, so values stay bit-identical to the oracle
      val emb = load(s, dir, "embeddings")
      embedNearDupVerify(emb, embedCandidates(emb))
    },

    // IVF ANN: centroids = deterministic seeds (vec_id % 50 == 0)
    // refined by fixed Lloyd passes, assignment by max dot product,
    // probe scans nprobe=8 clusters. The oracle REPLAYS the whole
    // search in DuckDB against the same materialized index+centroids
    // (read via the stable `ivf_current` alias, refreshed by
    // ivfIndexPath before the oracle runs): rank centroids by dot
    // product, prune to nprobe, rerank the identical candidate set
    // with the identical left-assoc cosine — a full content check,
    // not rows-only. Index-build correctness (assignment quality) is
    // separately asserted via recall@20 in SimilaritySpec.
    Q("q_sim_ann_ivf",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      annIvf(s, dir, probeId = 0, k = 20, nprobe = 8)
    },

    // Incremental IVF maintenance: base corpus indexed, a later batch
    // (vec_id % 10 == 7) appended by assignment to the EXISTING
    // centroids — cid partitions only gain files, centroids never move.
    // The oracle replays the probe against the materialized
    // post-append index, so it verifies both the assignment of the
    // appended batch and that resident rows survived the append intact.
    Q("q_sim_ann_incremental",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfIncrOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfIncrOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      annIvfOver(s, dir, ivfIncrementalIndexPath(s, dir),
        probeId = 0, k = 20, nprobe = 8)
    },

    // STREAMING ANN ingest: the incremental batch arrives as a vector
    // firehose (two micro-batch files) and each micro-batch is assigned
    // to the index's CURRENT centroids inside foreachBatch, then
    // APPENDED to a parquet sink — state and per-trigger work are
    // O(batch), never O(all vectors ever streamed). (The previous shape
    // — OutputMode.Complete over a global groupBy(vec_id) — re-emitted
    // the full assignment history every trigger: a scale-killer on a
    // real firehose. Assignment is per-row, so no cross-batch state is
    // semantically needed.) The oracle recomputes every assignment
    // relationally: argmax of the dot product over the stored centroid
    // set, ties to the lower cid — exactly assignTo's rule.
    Q("q_stream_ann_ingest",
      s"""WITH batch AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 7
         |), ranked AS (
         |  SELECT b.vec_id, CAST(c.cid AS BIGINT) AS cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY (${dotSql("c.cv", "b.embedding")}) DESC, c.cid)
         |      AS rk
         |  FROM read_parquet('${IvfOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN batch b
         |)
         |SELECT vec_id, cid FROM ranked WHERE rk = 1
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val indexPath = ivfIndexPath(s, dir) // ensures centroids + alias
      val feed = graft.streaming.VecsStream.feedDir(s, dir)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val sink = s"target/stream_ann_sink_$tag"
      // maintain=false: this query demos ingest against the SHARED base
      // index, whose centroids the q_sim_ann_ivf/q_knn_join oracles
      // replay byte-for-byte — the drift-maintenance face (recordAppend
      // + re-train per micro-batch) runs against a dedicated index in
      // IvfMaintenanceSpec's streamed-overload case
      streamAnnIngest(s, feed, indexPath, sink, s"stream_ann_$tag")
      s.read.parquet(sink)
        .select(col("vec_id"), col("cid").cast("long").as("cid"))
        .orderBy("vec_id")
    },

    // STREAMING PQ ingest: the firehose is coarse-placed AND encoded to
    // PQ codes per micro-batch against the CURRENT codebooks, appended
    // to a sink — the streaming face of the PQ ingest path, O(batch)
    // state, zero stateful operators (spec-pinned). The oracle
    // recomputes every placement (argmax dot over stored centroids)
    // and every code (argmin of the identical left-assoc squared-L2
    // over the stored codebooks, ties to the lower code) relationally.
    Q("q_stream_pq_ingest", streamPqIngestOracleSql) { (s, dir) =>
      val (pqPath, ivfPath) = pqIndexWithIvf(s, dir) // refreshes aliases
      val feed = graft.streaming.VecsStream.feedDir(s, dir)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val sink = s"target/stream_pq_sink_$tag"
      streamPqIngest(s, feed, pqPath, ivfPath, sink, s"stream_pq_$tag")
      val codeCols = (0 until PqM).map(m => col(s"c$m"))
      s.read.parquet(sink)
        .select((col("vec_id") +: col("cid") +: col("label") +:
          col("xnorm") +: codeCols): _*)
        .orderBy("vec_id")
    },

    // STREAMING PQ ingest, PACKED layout: the identical per-batch
    // coarse-assign + frozen-codebook encode, but the sink row stores
    // the codes as ONE array<byte> column — encoded packed at the
    // source, appended packed into the sink, never a per-column
    // intermediate (the wide-M production stream; see
    // pqPackedIndexWithIvf for why wide-M storage must pack). The
    // ingested values are the same, so the oracle is the identical
    // full replay; the query unpacks the stored array for the compare,
    // proving the packed sink really carries the codes.
    Q("q_stream_pq_ingest_packed", streamPqIngestOracleSql) { (s, dir) =>
      val (pqPath, ivfPath) = pqIndexWithIvf(s, dir) // refreshes aliases
      val feed = graft.streaming.VecsStream.feedDir(s, dir)
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val sink = s"target/stream_pq_packed_sink_$tag"
      streamPqIngest(s, feed, pqPath, ivfPath, sink,
        s"stream_pq_packed_$tag", packed = true)
      val codeCols = (0 until PqM).map(m =>
        element_at(col("codes"), m + 1).as(s"c$m"))
      s.read.parquet(sink)
        .select((col("vec_id") +: col("cid") +: col("label") +:
          col("xnorm") +: codeCols): _*)
        .orderBy("vec_id")
    },

    // k-NN JOIN: top-k neighbors for a whole probe SET (1% of vectors),
    // not one vector — the shape a batch retrieval / hard-negative
    // mining pass actually runs. Per-probe centroid ranking is a
    // broadcast cross of probes × centroids + one window; candidate IO
    // is bounded by the UNION of probed cids (static isin prune over
    // the cid partitions — the collected driver list is
    // O(probes × nprobe) cids, never vectors), and the probe membership
    // join broadcasts the tiny (probe_id, cid) relation. Per-probe
    // top-k is one window over the pruned candidates.
    Q("q_knn_join",
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pv
         |  FROM embeddings WHERE vec_id % 100 = 0
         |), cranked AS (
         |  SELECT p.probe_id, CAST(c.cid AS BIGINT) AS cid, p.pv,
         |    row_number() OVER (PARTITION BY p.probe_id
         |      ORDER BY (${dotSql("c.cv", "p.pv")}) DESC, c.cid) AS crk
         |  FROM read_parquet('${IvfOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probes p
         |), probed AS (
         |  SELECT probe_id, cid, pv FROM cranked WHERE crk <= 4
         |), cand AS (
         |  SELECT pr.probe_id, i.vec_id, i.label,
         |    (${dotSql("i.embedding", "pr.pv")}) /
         |      (${normSql("i.embedding")} * ${normSql("pr.pv")}) AS cosine
         |  FROM read_parquet('$IvfOracleAlias/*/*.parquet',
         |         hive_partitioning=true) i
         |  JOIN probed pr ON CAST(i.cid AS BIGINT) = pr.cid
         |  WHERE i.vec_id <> pr.probe_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rank
         |  FROM cand
         |)
         |SELECT probe_id, vec_id, label, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      knnJoin(s, dir, k = 5, nprobe = 4)
    },

    // PQ-accelerated k-NN join: the pairwise stage of the join scores
    // CODES against per-probe ADC lookup tables (8 one-byte lookups +
    // adds + one divide per pair — no vector is read until the
    // per-probe exact rerank of the top PqJoinCand). The oracle replays
    // the whole join in DuckDB over the materialized codebooks+codes:
    // per-probe coarse ranking, relational LUT, 8-term ADC sum /
    // stored norm, candidate window, exact rerank — bit-exact
    // including tie-breaks.
    Q("q_knn_join_pq", knnJoinPqOracleSql(PqOracleAlias)) { (s, dir) =>
      knnJoinPq(s, dir, k = 5, nprobe = 4, cand = PqJoinCand)
    },

    // PQ k-NN join over the PACKED-codes layout: the identical
    // two-join + native-ADC pipeline (knnJoinPq is layout-independent —
    // PqAdc scores one code ARRAY either way), scanning the wide-M
    // production storage instead of per-column codes. Same full oracle
    // replay with 1-based list indexing into the packed column.
    Q("q_knn_join_pq_packed",
      knnJoinPqOracleSql(PqPackedOracleAlias,
        codeRef = m => s"k.codes[${m + 1}]")) { (s, dir) =>
      knnJoinPq(s, dir, k = 5, nprobe = 4, cand = PqJoinCand,
        packed = true)
    },

    // FILTERED ANN — the retrieval-with-metadata-predicate shape every
    // vector store names as a feature (pre-filtered search): top-k
    // among only the vectors satisfying a predicate. The filter applies
    // to the PRUNED candidate set (post partition-pruning, pre-rerank),
    // so its cost is the probed clusters, not the corpus; correctness
    // caveat vs post-filtering is recall under selective predicates —
    // countered by probing more clusters (nprobe 8 here vs 4 unfiltered;
    // production tunes nprobe by predicate selectivity).
    Q("q_sim_ann_filtered",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0 AND i.label % 3 = 1
         |ORDER BY cosine DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      annIvfFiltered(s, dir, probeId = 0, k = 10, nprobe = 8,
        predicate = col("label") % 3 === 1)
    },

    // IVF-PQ ANN: coarse cells prune IO (same centroids as
    // q_sim_ann_ivf), PQ codes bound the bytes per scanned row (8
    // one-byte codes, never the 64-float vector), scoring is ADC
    // against a probe-built lookup table, and only the top PqCand ADC
    // candidates touch their full vectors for the exact rerank. The
    // oracle REPLAYS the whole search in DuckDB over the same
    // materialized codebooks + codes (stable `pq_current` aliases,
    // refreshed by pqIndexPath before the oracle runs): identical
    // left-assoc LUT inner products, identical 8-term ADC sum,
    // identical exact-cosine rerank — a full content check including
    // the quantized scores. Recall vs brute force and the compression
    // bound are separately pinned in SimilaritySpec.
    Q("q_sim_ann_pq",
      pqOracleSql(PqOracleAlias, k = 20, probeId = 0, nprobe = 8,
        cand = PqCand)) { (s, dir) =>
      annPq(s, dir, probeId = 0, k = 20, nprobe = 8, cand = PqCand)
    },

    // Filtered PQ ANN: the attribute predicate narrows the CANDIDATE
    // scan on the codes relation itself (which carries the metadata
    // columns) — filtering costs no vector reads, and the exact rerank
    // still touches only PqCand rows. Same shape as q_sim_ann_filtered
    // with the PQ memory bound.
    Q("q_sim_ann_pq_filtered",
      pqOracleSql(PqOracleAlias, predSql = "k.label % 3 = 1", k = 10,
        probeId = 0, nprobe = 8, cand = PqCand)) {
      (s, dir) =>
        val (path, ivfPath) = pqIndexWithIvf(s, dir)
        annPqOver(s, dir, path, ivfPath, probeId = 0, k = 10, nprobe = 8,
          cand = PqCand, predicate = col("label") % 3 === 1)
    },

    // Incremental PQ maintenance (the production ingest path):
    // codebooks train on the base corpus only, the arriving batch
    // (vec_id % 10 == 7) is encoded against the EXISTING stored
    // codebooks and appended into the cid partitions of the
    // incrementally-maintained coarse index — codebooks never move,
    // resident partitions never rewrite. The oracle replays the probe
    // against the materialized post-append index, so it verifies both
    // the batch's encoding and that resident codes survived the append
    // intact. Codebook drift is the accepted trade (same policy class
    // as IVF centroid drift; the coarse side of this index already
    // runs IvfMaintenance's counters).
    Q("q_sim_ann_pq_incremental",
      pqOracleSql(PqIncrOracleAlias, k = 20, probeId = 0, nprobe = 8,
        cand = PqCand)) {
      (s, dir) =>
        val (path, ivfPath) = pqIncrementalIndexWithIvf(s, dir)
        annPqOver(s, dir, path, ivfPath,
          probeId = 0, k = 20, nprobe = 8, cand = PqCand)
    },

    // PACKED-codes PQ ANN: identical search over the wide-M production
    // storage layout (one array<byte> column instead of PqM one-byte
    // columns — see pqPackedIndexWithIvf for why wide-M indexes must
    // pack). Results are bit-identical to q_sim_ann_pq; the oracle
    // replays against the packed relation with 1-based list indexing.
    Q("q_sim_ann_pq_packed",
      pqOracleSql(PqPackedOracleAlias, k = 20, probeId = 0, nprobe = 8,
        cand = PqCand, codeRef = m => s"k.codes[${m + 1}]")) { (s, dir) =>
      val (path, ivfPath) = pqPackedIndexWithIvf(s, dir)
      annPqOver(s, dir, path, ivfPath, probeId = 0, k = 20, nprobe = 8,
        cand = PqCand, packedCodes = true)
    },

    // Filtered PQ ANN over the PACKED layout: the attribute predicate
    // still narrows the CANDIDATE scan on the codes relation (which
    // carries the metadata columns) — one packed array read per row
    // instead of M column chunks, the wide-M production shape of
    // q_sim_ann_pq_filtered. Same oracle body via the codeRef accessor.
    Q("q_sim_ann_pq_filtered_packed",
      pqOracleSql(PqPackedOracleAlias, predSql = "k.label % 3 = 1",
        k = 10, probeId = 0, nprobe = 8, cand = PqCand,
        codeRef = m => s"k.codes[${m + 1}]")) { (s, dir) =>
      val (path, ivfPath) = pqPackedIndexWithIvf(s, dir)
      annPqOver(s, dir, path, ivfPath, probeId = 0, k = 10, nprobe = 8,
        cand = PqCand, predicate = col("label") % 3 === 1,
        packedCodes = true)
    },

    // Incremental PQ maintenance over the PACKED layout: the same
    // frozen-codebook ingest as q_sim_ann_pq_incremental (shared
    // codebooks — same training, same codes), but the base
    // materialization AND the arriving batch's append both write the
    // packed array<byte> codes column end-to-end. The oracle replays
    // the probe against the materialized post-append packed index, so
    // it verifies the packed batch encode and that resident packed
    // codes survived the append intact.
    Q("q_sim_ann_pq_incr_packed",
      pqOracleSql(PqIncrPackedOracleAlias, k = 20, probeId = 0,
        nprobe = 8, cand = PqCand,
        codeRef = m => s"k.codes[${m + 1}]")) { (s, dir) =>
      val (path, ivfPath) = pqIncrementalPackedIndexWithIvf(s, dir)
      annPqOver(s, dir, path, ivfPath, probeId = 0, k = 20, nprobe = 8,
        cand = PqCand, packedCodes = true)
    },

    // POST-SPLIT IVF search (the skew escape hatch in the oracle gate):
    // the index's largest cell has been re-clustered into two sub-cells
    // by IvfMaintenance.splitCell — partition moves, centroid patch,
    // counter replacement — and the probe searches the result exactly
    // like any IVF index (partition pruning against the PATCHED
    // centroid set). The oracle replays the whole search over the
    // materialized post-split relation.
    Q("q_sim_ann_split",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfSplitOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfSplitOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      annIvfOver(s, dir, ivfSplitIndexPath(s, dir),
        probeId = 0, k = 20, nprobe = 8)
    },

    // The auto-compacted index (the maintenance loop's small-file
    // remedy): a fragmenting six-commit ingest healed by ONE
    // partition-scoped dataChange=false OPTIMIZE over exactly the
    // fragmented cells. The search is the standard IVF probe; the
    // oracle replays it over the compacted snapshot's mirror —
    // hash-green IS the proof compaction changed layout, not content.
    Q("q_sim_ann_compact",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfCompactOracleAlias}_centroids/*.parquet') c
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfCompactOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      annIvfOver(s, dir, ivfCompactIndexPath(s, dir),
        probeId = 0, k = 20, nprobe = 8)
    },

    // The TWO-LEVEL coarse quantizer (hierarchical IVF): the probe
    // routes through k1 ~ sqrt(nlist) super-cells, scores only the
    // top-4 supers' children, then the standard pruned scan + rerank
    // — O(k1 + 4·nlist/k1) ranking dots instead of O(nlist), the
    // arithmetic remedy at production cell counts. Both ranking
    // stages are deterministic; the oracle replays the identical
    // two-stage route over the mirrored routing relations.
    Q("q_sim_ann_two_level",
      s"""WITH probe AS (
         |  SELECT embedding AS pv FROM embeddings WHERE vec_id = 0
         |), super AS (
         |  SELECT CAST(sc.cid AS BIGINT) AS scid
         |  FROM read_parquet(
         |    '${IvfTwoLevelOracleAlias}_supercentroids/*.parquet') sc
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("sc.cv", "pv")}) DESC, scid
         |  LIMIT 4
         |), probed AS (
         |  SELECT CAST(c.cid AS BIGINT) AS cid
         |  FROM read_parquet('${IvfTwoLevelOracleAlias}_centroids/*.parquet') c
         |  JOIN super ON CAST(c.scid AS BIGINT) = super.scid
         |  CROSS JOIN probe
         |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
         |  LIMIT 8
         |)
         |SELECT i.vec_id, i.label,
         |  (${dotSql("i.embedding", "pv")}) /
         |    (${normSql("i.embedding")} * ${normSql("pv")}) AS cosine
         |FROM read_parquet('$IvfTwoLevelOracleAlias/*/*.parquet',
         |       hive_partitioning=true) i
         |JOIN probed ON CAST(i.cid AS BIGINT) = probed.cid
         |CROSS JOIN probe
         |WHERE i.vec_id <> 0
         |ORDER BY cosine DESC, vec_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      annIvfTwoLevel(s, dir, probeId = 0, k = 20, nprobe = 8,
        superProbes = 4)
    },

    // The k-NN JOIN through the two-level route: the join's coarse
    // stage is exactly where flat arithmetic explodes (probes × nlist
    // dots); here each probe ranks k1 supers then only the top-4
    // supers' children. The tail (pruned scan, size-gated probe side,
    // per-probe rerank) is the flat join's, and the oracle replays the
    // full two-stage route per probe.
    Q("q_knn_join_two_level",
      s"""WITH probes AS (
         |  SELECT vec_id AS probe_id, embedding AS pv
         |  FROM embeddings WHERE vec_id % 100 = 0
         |), sranked AS (
         |  SELECT p.probe_id, CAST(sc.cid AS BIGINT) AS scid, p.pv,
         |    row_number() OVER (PARTITION BY p.probe_id
         |      ORDER BY (${dotSql("sc.cv", "p.pv")}) DESC, sc.cid) AS srk
         |  FROM read_parquet(
         |    '${IvfTwoLevelOracleAlias}_supercentroids/*.parquet') sc
         |  CROSS JOIN probes p
         |), routedp AS (
         |  SELECT probe_id, scid, pv FROM sranked WHERE srk <= 4
         |), cranked AS (
         |  SELECT rp.probe_id, CAST(c.cid AS BIGINT) AS cid, rp.pv,
         |    row_number() OVER (PARTITION BY rp.probe_id
         |      ORDER BY (${dotSql("c.cv", "rp.pv")}) DESC, c.cid) AS crk
         |  FROM read_parquet('${IvfTwoLevelOracleAlias}_centroids/*.parquet') c
         |  JOIN routedp rp ON CAST(c.scid AS BIGINT) = rp.scid
         |), probed AS (
         |  SELECT probe_id, cid, pv FROM cranked WHERE crk <= 4
         |), cand AS (
         |  SELECT pr.probe_id, i.vec_id, i.label,
         |    (${dotSql("i.embedding", "pr.pv")}) /
         |      (${normSql("i.embedding")} * ${normSql("pr.pv")}) AS cosine
         |  FROM read_parquet('$IvfTwoLevelOracleAlias/*/*.parquet',
         |         hive_partitioning=true) i
         |  JOIN probed pr ON CAST(i.cid AS BIGINT) = pr.cid
         |  WHERE i.vec_id <> pr.probe_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cosine DESC, vec_id) AS rank
         |  FROM cand
         |)
         |SELECT probe_id, vec_id, label, cosine, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      knnJoinTwoLevel(s, dir, k = 5, nprobe = 4, superProbes = 4)
    },

    // RESIDUAL IVFADC (the full Jégou et al. 2011 construction): codes
    // quantize x - centroid(x), so the one-byte budget spends on the
    // offset within the coarse cell — the accuracy upgrade production
    // IVF-PQ ships. Search scores the exact decomposition
    // (<c,q> + ADC) / |x|: the per-cell term is the coarse ranking's
    // own dot, re-joined as one broadcast scalar per probed cid; the
    // LUT stays one M x K table. Codes store PACKED (born in the
    // production layout). The oracle replays the whole search.
    Q("q_sim_ann_pq_residual",
      pqResidualOracleSql(PqResidualOracleAlias, k = 20, probeId = 0,
        nprobe = 8, cand = PqCand)) { (s, dir) =>
      annPqResidual(s, dir, probeId = 0, k = 20, nprobe = 8,
        cand = PqCand)
    },

    // Incrementally-maintained RESIDUAL IVFADC: the full Jégou
    // construction through the production ingest path — codebooks
    // train on the BASE slice's residuals, the arriving batch
    // residual-encodes against the STORED codebooks + centroid set and
    // appends in one commit (the construction is read from the table's
    // meta tag, so the append can never mix raw codes in). The oracle
    // replays the whole decomposition search against the materialized
    // post-append index — it verifies both the batch's residual codes
    // and that resident codes survived the append intact.
    Q("q_sim_ann_pq_residual_incr",
      pqResidualOracleSql(PqResidualIncrOracleAlias, k = 20, probeId = 0,
        nprobe = 8, cand = PqCand)) { (s, dir) =>
      val (path, ivfPath) = pqResidualIncrementalIndexWithIvf(s, dir)
      annPqResidualSearch(s, load(s, dir, "embeddings"), path, ivfPath,
        probeId = 0, k = 20, nprobe = 8, cand = PqCand)
    },

    // STREAMING RESIDUAL ingest: the firehose against a residual-
    // constructed index — each micro-batch coarse-places, subtracts
    // its assigned centroid, and encodes the RESIDUAL against the
    // stored codebooks (the construction read from the index's meta
    // tag per batch), appending packed rows to the sink. The oracle
    // recomputes every placement and every residual code relationally
    // — argmin of the identical left-assoc squared L2 over
    // (CAST(x) - centroid) - codeword, ties to the lower code.
    Q("q_stream_pq_ingest_residual", streamPqIngestResidualOracleSql) {
      (s, dir) =>
        val (pqPath, ivfPath) = pqResidualIncrementalIndexWithIvf(s, dir)
        val feed = graft.streaming.VecsStream.feedDir(s, dir)
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val sink = s"target/stream_pq_residual_sink_$tag"
        streamPqIngest(s, feed, pqPath, ivfPath, sink,
          s"stream_pq_residual_$tag", packed = true)
        val codeCols = (0 until PqM).map(m =>
          element_at(col("codes"), m + 1).as(s"c$m"))
        s.read.parquet(sink)
          .select((col("vec_id") +: col("cid") +: col("label") +:
            col("xnorm") +: codeCols): _*)
          .orderBy("vec_id")
    },

    // semantic deduplication (SemDeDup, Abbas et al. arXiv:2303.09540):
    // k-means-cluster the embedding space, then mark near-duplicates
    // ONLY within each cluster — pairwise cosine cost drops from O(n²)
    // to sum of per-cluster sizes², and clusters dedup in parallel.
    // Reuses the materialized IVF index (same k-means assignment the
    // ANN path probes), so the cluster pass is a partition-local
    // self-join on cid. Deterministic keep rule: a vector is a dup if
    // some LOWER vec_id in its cluster has cosine >= SemTau with it
    // (the paper keeps one representative per similarity group; lowest
    // id is the reproducible choice). Clusters larger than
    // SemClusterMax opt out of pairwise marking (declared in the
    // oracle SQL — the same hot-key guard as the LSH bucket caps: one
    // degenerate cluster must not own n² of the work; at 100 TB
    // oversized clusters would be re-split by another k-means pass).
    // The threshold matches the fixture's calibrated near-dup level
    // (see EmbedBands note); production would run ~0.95.
    Q("q_semdedup",
      s"""WITH idx AS (
         |  SELECT CAST(cid AS BIGINT) AS cid, vec_id, label, embedding
         |  FROM read_parquet('$IvfOracleAlias/*/*.parquet',
         |         hive_partitioning=true)
         |), sz AS (
         |  SELECT cid, count(*) AS n FROM idx GROUP BY cid
         |), small AS (
         |  SELECT idx.* FROM idx JOIN sz USING (cid)
         |  WHERE sz.n <= $SemClusterMax
         |), dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM small a JOIN small b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE (${dotSql("a.embedding", "b.embedding")}) /
         |    (${normSql("a.embedding")} * ${normSql("b.embedding")})
         |    >= $SemTau
         |)
         |SELECT i.vec_id, i.label, i.cid,
         |  (d.vec_id IS NOT NULL) AS is_dup
         |FROM idx i LEFT JOIN dups d ON i.vec_id = d.vec_id
         |ORDER BY i.vec_id""".stripMargin) { (s, dir) =>
      val index = IndexStore.data(s, ivfIndexPath(s, dir))
        .select(col("cid"), col("vec_id"), col("label"), col("embedding"))
      val sizes = index.groupBy("cid").agg(count(lit(1)).as("n"))
      val small = index.join(sizes.where(col("n") <= SemClusterMax), "cid")
      val a = small.select(col("cid"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val b = small.select(col("cid"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      val dups = a.join(b, "cid")
        .where(col("vec_a") < col("vec_b"))
        .where(dot(col("ea"), col("eb")) /
          (norm(col("ea")) * norm(col("eb"))) >= SemTau)
        .select(col("vec_b").as("vec_id")).distinct()
      index.join(dups.withColumn("d", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("cid"),
          coalesce(col("d"), lit(false)).as("is_dup"))
        .orderBy("vec_id")
    })

  /** Stable alias the static oracle SQL reads: a symlink refreshed by
    * ivfIndexPath to whatever sf's index the query last built, so one
    * fixed path serves every scale factor (the query always runs
    * before its oracle). */
  final val IvfOracleAlias =
    "/root/repo/target/delta_fixtures/ivf_current"

  /** Alias for the incrementally-maintained index (q_sim_ann_incremental). */
  final val IvfIncrOracleAlias =
    "/root/repo/target/delta_fixtures/ivf_incr_current"

  /** Alias family for the PQ index (q_sim_ann_pq): `pq_current` (codes,
    * partitioned by cid), `_codebooks`, `_centroids` (the coarse IVF
    * centroids the codes were binned under). */
  final val PqOracleAlias =
    "/root/repo/target/delta_fixtures/pq_current"

  /** Alias family for the incrementally-maintained PQ index
    * (q_sim_ann_pq_incremental). */
  final val PqIncrOracleAlias =
    "/root/repo/target/delta_fixtures/pq_incr_current"

  /** Alias family for the PACKED-codes PQ index (q_sim_ann_pq_packed). */
  final val PqPackedOracleAlias =
    "/root/repo/target/delta_fixtures/pq_packed_current"

  /** Alias family for the PACKED incrementally-maintained PQ index
    * (q_sim_ann_pq_incr_packed). */
  final val PqIncrPackedOracleAlias =
    "/root/repo/target/delta_fixtures/pq_incr_packed_current"

  /** Alias family for the RESIDUAL IVFADC index (q_sim_ann_pq_residual). */
  final val PqResidualOracleAlias =
    "/root/repo/target/delta_fixtures/pq_residual_current"

  /** Alias family for the incrementally-maintained RESIDUAL index
    * (q_sim_ann_pq_residual_incr). */
  final val PqResidualIncrOracleAlias =
    "/root/repo/target/delta_fixtures/pq_residual_incr_current"

  /** Alias family for the post-SPLIT IVF index (q_sim_ann_split). */
  final val IvfSplitOracleAlias =
    "/root/repo/target/delta_fixtures/ivf_split_current"

  /** Alias family for the auto-COMPACTED IVF index (q_sim_ann_compact). */
  final val IvfCompactOracleAlias =
    "/root/repo/target/delta_fixtures/ivf_compact_current"

  /** Alias family for the TWO-LEVEL IVF index (q_sim_ann_two_level). */
  final val IvfTwoLevelOracleAlias =
    "/root/repo/target/delta_fixtures/ivf_two_level_current"

  /** The PQ search replayed in DuckDB over a materialized index alias
    * family — shared verbatim by the build-once, incremental, and
    * filtered queries, so every oracle is the identical full content
    * check. `predSql` narrows the CANDIDATE scan (the filtered-ANN
    * shape: attribute predicates evaluate on the CODES relation, which
    * carries the metadata columns — no vector is read to filter).
    * EVERY search knob the Scala body takes (probeId, nprobe, cand, k)
    * threads through here too — call sites must pass the identical
    * values to both, or the oracle silently replays a different
    * search. */
  private def pqOracleSql(alias: String, predSql: String = "TRUE",
      k: Int = 20, probeId: Long = 0, nprobe: Int = 8,
      cand: Int = PqCand,
      // how the SQL reads subspace m's code from a codes row: separate
      // one-byte columns (fixture layout) or one packed array (the
      // wide-M production layout, 1-based in DuckDB)
      codeRef: Int => String = m => s"k.c$m"): String =
    s"""WITH probe AS (
       |  SELECT embedding AS pv FROM embeddings WHERE vec_id = $probeId
       |), probed AS (
       |  SELECT CAST(c.cid AS BIGINT) AS cid
       |  FROM read_parquet('${alias}_centroids/*.parquet') c
       |  CROSS JOIN probe
       |  ORDER BY (${dotSql("c.cv", "pv")}) DESC, cid
       |  LIMIT $nprobe
       |), lut AS (
       |  SELECT b.m, b.code,
       |    ${(1 to PqSubDim).map(i =>
             s"CAST(pv[b.m * $PqSubDim + $i] AS DOUBLE) * b.cv[$i]")
             .mkString(" + ")} AS v
       |  FROM read_parquet('${alias}_codebooks/*.parquet') b
       |  CROSS JOIN probe
       |), cand AS (
       |  SELECT k.vec_id, k.label,
       |    (${(0 until PqM).map(m => s"l$m.v").mkString(" + ")})
       |      / k.xnorm AS adc
       |  FROM read_parquet('$alias/*/*.parquet',
       |         hive_partitioning=true) k
       |  JOIN probed ON CAST(k.cid AS BIGINT) = probed.cid
       |  ${(0 until PqM).map(m =>
           s"JOIN lut l$m ON l$m.m = $m AND l$m.code = ${codeRef(m)}")
           .mkString("\n  ")}
       |  WHERE k.vec_id <> $probeId AND ($predSql)
       |  ORDER BY adc DESC, vec_id
       |  LIMIT $cand
       |)
       |SELECT c.vec_id, c.label, c.adc,
       |  (${dotSql("e.embedding", "pv")}) /
       |    (${normSql("e.embedding")} * ${normSql("pv")}) AS cosine
       |FROM cand c
       |JOIN embeddings e ON e.vec_id = c.vec_id
       |CROSS JOIN probe
       |ORDER BY cosine DESC, c.vec_id
       |LIMIT $k""".stripMargin

  /** The residual-IVFADC search replayed in DuckDB: the probed CTE
    * carries the per-cell <c, q> term (the SAME dot expression its own
    * ranking uses — bit-identical to the Spark side's reused coarse
    * sim), the LUT is the standard <q_sub, codeword> table (codewords
    * live in residual space, cid-independent), and the candidate score
    * is the exact decomposition (cdot + (ADC sum)) / xnorm with the
    * ADC sum parenthesized to match PqAdc's internal left-assoc loop
    * before the outer add. */
  private def pqResidualOracleSql(alias: String, k: Int, probeId: Long,
      nprobe: Int, cand: Int): String =
    s"""WITH probe AS (
       |  SELECT embedding AS pv FROM embeddings WHERE vec_id = $probeId
       |), probed AS (
       |  SELECT CAST(c.cid AS BIGINT) AS cid,
       |    (${dotSql("c.cv", "pv")}) AS cdot
       |  FROM read_parquet('${alias}_centroids/*.parquet') c
       |  CROSS JOIN probe
       |  ORDER BY cdot DESC, cid
       |  LIMIT $nprobe
       |), lut AS (
       |  SELECT b.m, b.code,
       |    ${(1 to PqSubDim).map(i =>
             s"CAST(pv[b.m * $PqSubDim + $i] AS DOUBLE) * b.cv[$i]")
             .mkString(" + ")} AS v
       |  FROM read_parquet('${alias}_codebooks/*.parquet') b
       |  CROSS JOIN probe
       |), cand AS (
       |  SELECT k.vec_id, k.label,
       |    (probed.cdot + (${(0 until PqM).map(m => s"l$m.v")
             .mkString(" + ")})) / k.xnorm AS adc
       |  FROM read_parquet('$alias/*/*.parquet',
       |         hive_partitioning=true) k
       |  JOIN probed ON CAST(k.cid AS BIGINT) = probed.cid
       |  ${(0 until PqM).map(m =>
           s"JOIN lut l$m ON l$m.m = $m AND l$m.code = k.codes[${m + 1}]")
           .mkString("\n  ")}
       |  WHERE k.vec_id <> $probeId
       |  ORDER BY adc DESC, vec_id
       |  LIMIT $cand
       |)
       |SELECT c.vec_id, c.label, c.adc,
       |  (${dotSql("e.embedding", "pv")}) /
       |    (${normSql("e.embedding")} * ${normSql("pv")}) AS cosine
       |FROM cand c
       |JOIN embeddings e ON e.vec_id = c.vec_id
       |CROSS JOIN probe
       |ORDER BY cosine DESC, c.vec_id
       |LIMIT $k""".stripMargin

  /** The PQ k-NN join replayed in DuckDB over a materialized index
    * alias family: per-probe coarse ranking, relational per-probe LUT,
    * ADC sum / stored norm, candidate window, exact rerank — bit-exact
    * including tie-breaks. Shared by the per-column and packed layouts;
    * `codeRef` reads subspace m's code from a codes row (separate
    * one-byte columns, or 1-based list indexing into the packed
    * array). Search knobs are FIXED at the q_knn_join_pq values
    * (nprobe=4, cand=PqJoinCand, k=5, probe modulus 100) — call sites
    * must pass the identical values to the Scala body. */
  private def knnJoinPqOracleSql(alias: String,
      codeRef: Int => String = m => s"k.c$m"): String =
    s"""WITH probes AS (
       |  SELECT vec_id AS probe_id, embedding AS pv
       |  FROM embeddings WHERE vec_id % 100 = 0
       |), probed AS (
       |  SELECT probe_id, cid FROM (
       |    SELECT p.probe_id, CAST(c.cid AS BIGINT) AS cid,
       |      row_number() OVER (PARTITION BY p.probe_id
       |        ORDER BY (${dotSql("c.cv", "p.pv")}) DESC, c.cid) AS crk
       |    FROM read_parquet('${alias}_centroids/*.parquet') c
       |    CROSS JOIN probes p)
       |  WHERE crk <= 4
       |), lut AS (
       |  SELECT p.probe_id, b.m, b.code,
       |    ${(1 to PqSubDim).map(i =>
             s"CAST(p.pv[b.m * $PqSubDim + $i] AS DOUBLE) * b.cv[$i]")
             .mkString(" + ")} AS v
       |  FROM read_parquet('${alias}_codebooks/*.parquet') b
       |  CROSS JOIN probes p
       |), cand AS (
       |  SELECT probe_id, vec_id, label FROM (
       |    SELECT probed.probe_id, k.vec_id, k.label,
       |      row_number() OVER (PARTITION BY probed.probe_id
       |        ORDER BY (${(0 until PqM).map(m => s"l$m.v")
                 .mkString(" + ")}) / k.xnorm DESC, k.vec_id) AS ark
       |    FROM read_parquet('$alias/*/*.parquet',
       |           hive_partitioning=true) k
       |    JOIN probed ON CAST(k.cid AS BIGINT) = probed.cid
       |    ${(0 until PqM).map(m =>
             s"JOIN lut l$m ON l$m.probe_id = probed.probe_id " +
               s"AND l$m.m = $m AND l$m.code = ${codeRef(m)}")
             .mkString("\n    ")}
       |    WHERE k.vec_id <> probed.probe_id)
       |  WHERE ark <= $PqJoinCand
       |)
       |SELECT probe_id, vec_id, label, cosine, rank FROM (
       |  SELECT c.probe_id, c.vec_id, c.label,
       |    (${dotSql("e.embedding", "p.pv")}) /
       |      (${normSql("e.embedding")} * ${normSql("p.pv")}) AS cosine,
       |    CAST(row_number() OVER (PARTITION BY c.probe_id
       |      ORDER BY (${dotSql("e.embedding", "p.pv")}) /
       |        (${normSql("e.embedding")} * ${normSql("p.pv")}) DESC,
       |        c.vec_id) AS BIGINT) AS rank
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN probes p ON p.probe_id = c.probe_id)
       |WHERE rank <= 5
       |ORDER BY probe_id, rank""".stripMargin

  /** The streaming PQ ingest replayed in DuckDB: every coarse placement
    * (argmax dot over the stored centroids, ties to the lower cid) and
    * every code (argmin of the identical left-assoc squared L2 over the
    * stored codebooks, ties to the lower code) recomputed relationally.
    * Shared VERBATIM by the per-column and packed sink layouts — the
    * ingested VALUES are identical by construction (pqEncode packs the
    * same aggregation), only the storage differs, and the packed query
    * unpacks for the compare. */
  /** The streamed RESIDUAL ingest replayed in DuckDB: every coarse
    * placement (argmax dot, ties to the lower cid) and every residual
    * code — argmin of the identical left-assoc squared L2 between
    * `(CAST(x) - centroid) - codeword` sub-slices, ties to the lower
    * code — recomputed relationally against the stored centroids and
    * codebooks. The stored norm is the ORIGINAL vector's (the cosine
    * rank metric; residual codes cannot carry it). */
  private def streamPqIngestResidualOracleSql: String =
    s"""WITH batch AS (
       |  SELECT vec_id, embedding, label
       |  FROM embeddings WHERE vec_id % 10 = 7
       |), ranked AS (
       |  SELECT b.vec_id, CAST(c.cid AS BIGINT) AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY (${dotSql("c.cv", "b.embedding")}) DESC, c.cid)
       |      AS rk
       |  FROM read_parquet('${PqResidualIncrOracleAlias}_centroids/*.parquet') c
       |  CROSS JOIN batch b
       |), coarse AS (
       |  SELECT vec_id, cid FROM ranked WHERE rk = 1
       |), dist AS (
       |  SELECT b.vec_id, cb.m, cb.code,
       |    row_number() OVER (PARTITION BY b.vec_id, cb.m
       |      ORDER BY ${(1 to PqSubDim).map { i =>
             val r = s"(CAST(b.embedding[cb.m * $PqSubDim + $i] AS DOUBLE)" +
               s" - ct.cv[cb.m * $PqSubDim + $i])"
             s"($r - cb.cv[$i]) * ($r - cb.cv[$i])"
           }.mkString(" + ")} ASC, cb.code) AS drk
       |  FROM read_parquet('${PqResidualIncrOracleAlias}_codebooks/*.parquet') cb
       |  CROSS JOIN batch b
       |  JOIN coarse c ON c.vec_id = b.vec_id
       |  JOIN read_parquet('${PqResidualIncrOracleAlias}_centroids/*.parquet') ct
       |    ON CAST(ct.cid AS BIGINT) = c.cid
       |), best AS (
       |  SELECT vec_id, m, code FROM dist WHERE drk = 1
       |)
       |SELECT c.vec_id, c.cid, bt.label,
       |  ${normSql("bt.embedding")} AS xnorm,
       |  ${(0 until PqM).map(m =>
           s"CAST(max(CASE WHEN b.m = $m THEN b.code END) AS TINYINT) AS c$m")
           .mkString(",\n  ")}
       |FROM coarse c
       |JOIN best b USING (vec_id)
       |JOIN batch bt USING (vec_id)
       |GROUP BY c.vec_id, c.cid, bt.label, bt.embedding
       |ORDER BY c.vec_id""".stripMargin

  private def streamPqIngestOracleSql: String =
    s"""WITH batch AS (
       |  SELECT vec_id, embedding, label
       |  FROM embeddings WHERE vec_id % 10 = 7
       |), ranked AS (
       |  SELECT b.vec_id, CAST(c.cid AS BIGINT) AS cid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY (${dotSql("c.cv", "b.embedding")}) DESC, c.cid)
       |      AS rk
       |  FROM read_parquet('${PqOracleAlias}_centroids/*.parquet') c
       |  CROSS JOIN batch b
       |), coarse AS (
       |  SELECT vec_id, cid FROM ranked WHERE rk = 1
       |), dist AS (
       |  SELECT b.vec_id, cb.m, cb.code,
       |    row_number() OVER (PARTITION BY b.vec_id, cb.m
       |      ORDER BY ${(1 to PqSubDim).map(i =>
             s"(CAST(b.embedding[cb.m * $PqSubDim + $i] AS DOUBLE) - cb.cv[$i]) * " +
               s"(CAST(b.embedding[cb.m * $PqSubDim + $i] AS DOUBLE) - cb.cv[$i])")
             .mkString(" + ")} ASC, cb.code) AS drk
       |  FROM read_parquet('${PqOracleAlias}_codebooks/*.parquet') cb
       |  CROSS JOIN batch b
       |), best AS (
       |  SELECT vec_id, m, code FROM dist WHERE drk = 1
       |)
       |SELECT c.vec_id, c.cid, bt.label,
       |  ${normSql("bt.embedding")} AS xnorm,
       |  ${(0 until PqM).map(m =>
           s"CAST(max(CASE WHEN b.m = $m THEN b.code END) AS TINYINT) AS c$m")
           .mkString(",\n  ")}
       |FROM coarse c
       |JOIN best b USING (vec_id)
       |JOIN batch bt USING (vec_id)
       |GROUP BY c.vec_id, c.cid, bt.label, bt.embedding
       |ORDER BY c.vec_id""".stripMargin

  private def refreshAlias(alias: String, target: String): Unit =
    DeltaQueries.refreshAlias(alias, target)

  /** Content signature of the embeddings drop an index chain derives
    * from. Every index in the IVF/PQ family is a DETERMINISTIC function
    * of embeddings.parquet (codes, centroids, packed projections —
    * including the chained derivations, which all re-derive when their
    * upstream rebuilds inside the same call), so one signature guards
    * the whole chain. CONTENT hash, not mtime: the driver regenerates
    * /root/testdata between rounds with timestamp-preserving copies
    * (the DeltaQueries.sourceSig rationale — same memoized sha), and
    * the previous mtime guards also missed a rebuild landing within
    * filesystem mtime granularity. The `v1:` prefix versions the
    * derivation itself — bump it when an index SCHEMA changes so old
    * fixture dirs stop passing as fresh. CAVEAT: the sha memoizes per
    * (path, size, mtime) WITHIN a process, so a regeneration that
    * preserves both size and mtime is only caught across JVMs — which
    * is where it happens (the driver regenerates testdata at round
    * boundaries, between processes). A live session that needs to see
    * such a swap calls DeltaQueries.resetHashMemoForTest. */
  private def embSourceSig(dir: String): String = {
    val f = new java.io.File(s"$dir/embeddings.parquet")
    // v2: the Delta-backed index layout (IndexStore) — v1 fixtures are
    // plain hive-parquet dirs and must not pass as fresh
    s"v2:${f.getName}:${f.length()}:${DeltaQueries.contentSha(f)}"
  }

  private def indexStampFile(path: String) =
    new java.io.File(path.stripSuffix("/") + "_src_sig")

  /** Stale when the completion marker is missing (partial write) or the
    * recorded source signature no longer matches the live drop. */
  private[graft] def indexStale(path: String, done: java.io.File,
      sig: String): Boolean = {
    val f = indexStampFile(path)
    !done.exists() || !f.exists() ||
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") != sig
  }

  /** Record the source signature an index build derived from. Every
    * build site calls this LAST (after the completion marker exists). */
  private[graft] def writeIndexStamp(path: String, sig: String): Unit =
    java.nio.file.Files.write(indexStampFile(path).toPath,
      sig.getBytes("UTF-8"))

  /** Build-once IVF index: deterministic seeds (every 50th vector)
    * refined by one k-means pass — assign to nearest seed by dot
    * product, recompute per-cluster dimension means (64 avg
    * aggregations, one shuffle), re-assign against the refined
    * centroids — then materialized as parquet PARTITIONED BY cid, with
    * the refined centroids persisted beside it for the probe side. At
    * 100 TB this is the amortized index build (each pass is one
    * broadcast join + one partial-aggregated groupBy; more Lloyd
    * iterations are the same plan repeated); probes then touch only the
    * nprobe matching partition directories (partition pruning), never
    * the full corpus. */
  /** Lloyd refinement passes over the seed centroids. Each pass is one
    * broadcast-assign + one partial-aggregated means groupBy — the same
    * two plan shapes at any corpus size, so iteration count trades
    * index-build cost against cluster quality linearly. */
  final val IvfLloydIterations = 2

  def ivfIndexPath(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/ivf_index_km"
    this.synchronized {
      // rebuild when the driver regenerates the embeddings fixture (the
      // index is a deterministic function of it; staleness would break
      // the oracle's replay) — detected by CONTENT signature, see
      // embSourceSig
      val sig = embSourceSig(dir)
      if (indexStale(path, deltaDoneMarker(path), sig)) {
        val emb = load(s, dir, "embeddings")
        val seeds = emb.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def assign(centroids: DataFrame) =
          emb.crossJoin(broadcast(centroids))
            .withColumn("sim", dot(col("embedding"), col("cv")))
            .groupBy("vec_id")
            .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"),
              first("label").as("label"),
              first("embedding").as("embedding"))
        def means(assigned: DataFrame) = assigned.groupBy("cid")
          .agg(array((1 to Dim).map(i =>
            avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
            .as("cv"))
        val refined = (1 to IvfLloydIterations)
          .foldLeft(seeds)((c, _) => means(assign(c)))
          .localCheckpoint()
        // materialize the assignment once: it feeds the data rel AND
        // the base counters of the SAME founding commit (at 100 TB the
        // counters would instead derive from the commit's own per-file
        // numRecords stats — zero extra passes; the fixture keeps the
        // one-aggregation shape)
        val assigned = assign(refined).localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> assigned
            .select("vec_id", "label", "embedding", "cid"),
          IndexStore.CentroidRel -> refined.select("cid", "cv"),
          IndexStore.CountRel -> assigned.groupBy("cid").count()
            .select(lit("base").as("kind"), col("cid"),
              col("count").as("rows"))))
        writeIndexStamp(path, sig)
      }
      refreshIvfMirror(s, path, IvfOracleAlias)
    }
    path
  }

  /** Refresh the DuckDB-facing mirror of an IVF index table and point
    * the oracle alias family at it (data files as live-file symlinks,
    * centroids rewritten flat — IndexStore.exportMirror). */
  private def refreshIvfMirror(s: SparkSession, path: String,
      alias: String): Unit = {
    IndexStore.exportMirror(s, path, Seq(IndexStore.CentroidRel))
    refreshAlias(alias, IndexStore.mirrorDataPath(path))
    refreshAlias(alias + "_centroids",
      IndexStore.mirrorRelPath(path, IndexStore.CentroidRel))
  }

  /** Two-level variant: the centroid mirror carries the scid routing
    * column (exportMirror reads it from the table schema) and the
    * super level exports beside it. */
  private def refreshTwoLevelMirror(s: SparkSession, path: String,
      alias: String): Unit = {
    IndexStore.exportMirror(s, path,
      Seq(IndexStore.CentroidRel, IndexStore.SuperCentroidRel))
    refreshAlias(alias, IndexStore.mirrorDataPath(path))
    refreshAlias(alias + "_centroids",
      IndexStore.mirrorRelPath(path, IndexStore.CentroidRel))
    refreshAlias(alias + "_supercentroids",
      IndexStore.mirrorRelPath(path, IndexStore.SuperCentroidRel))
  }

  /** Refresh a PQ table's mirror + alias family; the `_centroids`
    * alias points at the COARSE (IVF) table's centroid mirror. */
  private def refreshPqMirror(s: SparkSession, path: String,
      ivfPath: String, alias: String): Unit = {
    IndexStore.exportMirror(s, path, Seq(IndexStore.CodebookRel))
    IndexStore.exportMirror(s, ivfPath, Seq(IndexStore.CentroidRel))
    refreshAlias(alias, IndexStore.mirrorDataPath(path))
    refreshAlias(alias + "_codebooks",
      IndexStore.mirrorRelPath(path, IndexStore.CodebookRel))
    refreshAlias(alias + "_centroids",
      IndexStore.mirrorRelPath(ivfPath, IndexStore.CentroidRel))
  }

  /** The founding commit's log file doubles as the fixture's completion
    * marker (IndexStore.create commits exactly once). */
  private def deltaDoneMarker(path: String): java.io.File =
    new java.io.File(path, "_delta_log/00000000000000000000.json")

  /** Bytes-per-row estimate for a (cid, cv) centroid row at `dim`. */
  private def centroidBytes(dim: Int): Long = dim.toLong * 8 + 80

  /** True when `rows` centroid rows fit under the session broadcast
    * threshold (unknown row counts — `rows < 0` — keep the broadcast:
    * the fixture/default shape). A DISABLED threshold (<= 0, the
    * standard memory-tight-cluster setting) means a known-size
    * centroid relation must NEVER broadcast — same convention as
    * sizeGatedSide; an explicit broadcast hint would bypass exactly
    * the knob the operator turned off. */
  private def centroidsFit(s: SparkSession, rows: Long, dim: Int): Boolean = {
    val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
    rows < 0 || (threshold > 0 && rows * centroidBytes(dim) <= threshold)
  }

  /** The centroid side of a coarse-ranking cross join, size-gated: at
    * production nlist (10^5-10^6 x dim 512) the centroid relation is
    * hundreds of MB-GB — past any broadcast threshold and a driver/
    * executor OOM if hinted unconditionally. Over the threshold the
    * join is FORCED to the shuffle-replicate nested loop (Catalyst's
    * own estimate of an in-memory relation can undershoot and re-pick
    * broadcast — the exact OOM the gate exists to prevent); the
    * ranking work is the same O(probes x nlist) dot products either
    * way, executed against a partitioned centroid relation instead of
    * one resident copy per executor. */
  private def gatedCentroidSide(s: SparkSession, centroids: DataFrame,
      rows: Long, dim: Int): DataFrame =
    if (centroidsFit(s, rows, dim)) broadcast(centroids)
    else centroids.hint("shuffle_replicate_nl")

  /** Nearest-centroid assignment of `df` against `centroids` — the one
    * plan shape the full build, incremental maintenance, and streaming
    * ingest all use: max_by over the dot products (ties broken by
    * lower cid for determinism).
    *
    * `centroidRows` size-gates the centroid side (pass
    * IndexStore.relRowCount's stats answer; negative = unknown = keep
    * the broadcast, the fixture shape). Under the session threshold
    * the centroid set broadcasts; over it, the assignment runs as a
    * shuffle-replicate nested loop over a VECTOR-FREE scoring
    * projection — the partial aggregation reduces each (corpus
    * partition x centroid slice) task to one (vec_id, cid, sim) row
    * per vector before the shuffle, so shuffled bytes are
    * O(n x centroidPartitions x 32B), never embeddings — and the
    * carried label/embedding columns re-attach by one equi-join. Same
    * max_by tie rule on both paths (lexicographic (sim, -cid) max is
    * associative), so the two shapes are value-identical. */
  private[graft] def assignTo(df: DataFrame, centroids: DataFrame,
      centroidRows: Long = -1L, dim: Int = Dim): DataFrame = {
    val s = df.sparkSession
    if (centroidsFit(s, centroidRows, dim))
      df.crossJoin(broadcast(centroids))
        .withColumn("sim", dot(col("embedding"), col("cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"),
          first("label").as("label"),
          first("embedding").as("embedding"))
    else {
      val scored = df.select(col("vec_id"), col("embedding"))
        .crossJoin(centroids.hint("shuffle_replicate_nl"))
        .withColumn("sim", dot(col("embedding"), col("cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"))
      df.select(col("vec_id"), col("label"), col("embedding"))
        .join(scored, Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("label"), col("embedding"))
    }
  }

  // --------------------------------------------------------------------
  // Two-level (hierarchical) coarse quantizer — the ARITHMETIC remedy
  // at production nlist. The size gate fixed the memory shape of flat
  // assignment, but the dot-product count stays O(n × nlist): at
  // nlist 10^5-10^6 that is the real wall (SCALE.md, "Round-16:
  // centroid-broadcast size gate" — both flat shapes are
  // arithmetic-bound at 10^5). Routing through k1 ≈ √nlist
  // super-cells cuts it to
  // O(n × (k1 + w·nlist/k1)) ≈ O(n × 2√nlist) — ~150× less at 10^5 —
  // which is how production coarse quantizers (FAISS IMI / two-level
  // IVF) scale the cell count past what exhaustive scoring affords.
  // --------------------------------------------------------------------

  /** Train the SUPER level over an existing centroid set: k-means the
    * nlist (cid, cv) rows themselves into k1 super-cells — O(nlist)
    * work, trivially affordable since it scores centroids, not the
    * corpus. Deterministic: seeds are the k1 lowest cids' vectors,
    * two Lloyd passes with the build's own plan shapes, empty
    * super-cells keep their previous position (the retention rule).
    * Returns (superCentroids (scid, cv), routedCentroids
    * (cid, cv, scid)) — the scid values are the seed cids (stable,
    * not dense; nothing below ever assumes density). A super that
    * loses every FINAL child assignment is DROPPED from the returned
    * super set (the same rule splitCell applies to unroutable
    * sub-centroids): [[assignTwoLevel]]'s stage 2 is an equi-join on
    * scid, so a childless super that won a vector's stage-1 route
    * would silently drop that vector from the assignment — every
    * returned super having ≥ 1 child makes the assignment total at
    * any w. */
  def trainSuperCentroids(cents: DataFrame, k1: Int,
      dim: Int = Dim): (DataFrame, DataFrame) = {
    require(k1 >= 1, s"k1 = $k1")
    val rows = cents.select(col("cid"), col("cv"))
    val seeds = rows.orderBy("cid").limit(k1)
      .select(col("cid").as("scid"), col("cv"))
    def assign(sc: DataFrame): DataFrame = rows
      .crossJoin(broadcast(sc.select(col("scid"), col("cv").as("scv"))))
      .withColumn("ssim", dot(col("cv"), col("scv")))
      .groupBy("cid")
      .agg(max_by(col("scid"), struct(col("ssim"), -col("scid")))
        .as("scid"), first("cv").as("cv"))
    var sup = seeds.localCheckpoint()
    for (_ <- 1 to 2) {
      val moved = assign(sup).groupBy("scid")
        .agg(array((1 to dim).map(i =>
          avg(element_at(col("cv"), i).cast(DoubleType))): _*).as("cv"))
        .localCheckpoint()
      // empty supers keep their previous position DURING the passes
      // (the retention rule — a later pass can still win them back)...
      sup = moved.unionByName(
        sup.join(moved.select("scid"), Seq("scid"), "left_anti"))
    }
    val routed = assign(sup).select("cid", "cv", "scid").localCheckpoint()
    // ...but only supers with at least one final child are RETURNED
    val live = sup.join(routed.select("scid").distinct(),
      Seq("scid"), "left_semi").localCheckpoint()
    (live, routed)
  }

  /** Two-level nearest-centroid assignment: stage 1 routes each vector
    * to its top-`w` super-cells (O(n·k1) dots; the top-w is an
    * array_sort/slice over a collect_list — partial-aggregable, no
    * per-vector window shuffle), stage 2 scores ONLY those supers'
    * children via an equi-join on scid (O(n·w·nlist/k1) dots; the
    * join output feeds the dot and the partial argmax in the same
    * stage, so what shuffles after it is one 32-byte row per vector).
    * Same (sim, −cid) max rule as [[assignTo]]; w > 1 absorbs
    * super-cell boundary error (a vector whose true cell hangs under
    * the runner-up super). Two-level assignment is the standard
    * approximation: it equals flat assignment unless the true cell's
    * super-cell falls outside the top-w routes — agreement is pinned
    * in SimilaritySpec and measured at production shape in SCALE.md,
    * "Round-16: the two-level coarse quantizer". */
  private[graft] def assignTwoLevel(df: DataFrame, superCents: DataFrame,
      routedCents: DataFrame, w: Int = 2): DataFrame = {
    require(w >= 1, s"w = $w")
    val routedTop = df.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(superCents.select(col("scid"),
        col("cv").as("scv"))))
      .withColumn("ssim", dot(col("embedding"), col("scv")))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct(
        (-col("ssim")).as("neg"), col("scid").as("scid")))), 1, w)
        .as("top"),
        first("embedding").as("embedding"))
    val pairs = routedTop
      .select(col("vec_id"), col("embedding"),
        explode(col("top.scid")).as("scid"))
    val scored = pairs
      .join(routedCents.select(col("scid"), col("cid"), col("cv")),
        Seq("scid"))
      .withColumn("sim", dot(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("sim"), -col("cid"))).as("cid"))
    df.select(col("vec_id"), col("label"), col("embedding"))
      .join(scored, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("label"), col("embedding"))
  }

  /** Incrementally-maintained IVF index: the base corpus (vec_id % 10
    * != 7) builds centroids + index exactly like ivfIndexPath; the
    * "new" batch (vec_id % 10 == 7) is then APPENDED by assigning each
    * vector to the EXISTING stored centroids and writing into the
    * matching cid partition directories — no re-clustering, no rewrite
    * of resident partitions. That is the 100 TB maintenance path: an
    * arriving batch costs one broadcast-assign over the batch plus
    * appends into the touched partitions, while probes keep partition
    * pruning against the same (unchanged) centroid set. Centroid DRIFT
    * is the accepted trade (standard for IVF systems: re-cluster
    * offline when recall decays; SimilaritySpec asserts recall@20 of
    * the drifted index stays >= 0.9 on the fixture). */
  def ivfIncrementalIndexPath(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/ivf_index_incr"
    this.synchronized {
      // completion marker = the APPEND commit's log file: version 0
      // alone means the base build landed but the incremental step
      // didn't — still stale
      val success = new java.io.File(path,
        "_delta_log/00000000000000000001.json")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        val emb = load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") % 10 =!= 7)
        val batch = emb.where(col("vec_id") % 10 === 7)
        // base build = ivfIndexPath's pipeline over the base corpus
        val seeds = base.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def means(assigned: DataFrame) = assigned.groupBy("cid")
          .agg(array((1 to Dim).map(i =>
            avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
            .as("cv"))
        val refined = (1 to IvfLloydIterations)
          .foldLeft(seeds)((c, _) => means(assignTo(base, c)))
          .localCheckpoint()
        val baseAssigned = assignTo(base, refined).localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> baseAssigned
            .select("vec_id", "label", "embedding", "cid"),
          IndexStore.CentroidRel -> refined.select("cid", "cv"),
          IndexStore.CountRel -> baseAssigned.groupBy("cid").count()
            .select(lit("base").as("kind"), col("cid"),
              col("count").as("rows"))))
        // the incremental step: assign ONLY the batch, then land the
        // appended rows AND their counter rows in ONE commit
        // (IvfMaintenance.appendBatch — counters can never drift from
        // the rows they count)
        val batchAssigned = assignTo(batch, refined).localCheckpoint()
        graft.operators.IvfMaintenance.appendBatch(s, path,
          batchAssigned.select("vec_id", "label", "embedding", "cid"),
          batchAssigned.groupBy("cid").count()
            .withColumnRenamed("count", "rows"))
        // drift policy (graft.operators.IvfMaintenance): the fixture's
        // GLOBAL appended fraction (vec_id % 10 == 7 ≈ 11%) sits below
        // the 20% bar by design; individual small cids may cross their
        // per-cid bar on this random fixture, which is exactly when
        // production maintenance would re-center them — the fixture
        // evaluates the side-effect-FREE driftReport (so the index the
        // oracle replays stays byte-stable) and pins only the global
        // invariant. The fire/re-center/re-arm lifecycle is pinned in
        // IvfMaintenanceSpec.
        val drift = graft.operators.IvfMaintenance.driftReport(s, path)
        require(drift.ratio < 0.2 && drift.appendedRows > 0,
          s"fixture drift out of its designed envelope: $drift")
        writeIndexStamp(path, sig)
      }
      refreshIvfMirror(s, path, IvfIncrOracleAlias)
    }
    path
  }

  /** Post-SPLIT IVF index (the skew escape hatch, materialized for the
    * oracle gate): a fresh build of the standard index into its own
    * directory pair, counters recorded, then its LARGEST cell is split
    * into two sub-cells via [[graft.operators.IvfMaintenance.splitCell]]
    * — partition moves, centroid-file patch, counter replacement all
    * land in the relation the oracle replays. Probes search the split
    * index exactly like any other (partition pruning against the
    * PATCHED centroid set); recall and the structural invariants are
    * pinned in SimilaritySpec. */
  def ivfSplitIndexPath(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/ivf_index_split"
    this.synchronized {
      // completion marker = the SPLIT commit's log file (v0 = build,
      // v1 = splitCell's single replace commit)
      val success = new java.io.File(path,
        "_delta_log/00000000000000000001.json")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        val emb = load(s, dir, "embeddings")
        // the standard build, into this fixture's own table
        val seeds = emb.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def means(assigned: DataFrame) = assigned.groupBy("cid")
          .agg(array((1 to Dim).map(i =>
            avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
            .as("cv"))
        val refined = (1 to IvfLloydIterations)
          .foldLeft(seeds)((c, _) => means(assignTo(emb, c)))
          .localCheckpoint()
        val assigned = assignTo(emb, refined).localCheckpoint()
        val counts = assigned.groupBy("cid").count()
          .withColumnRenamed("count", "rows").localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> assigned
            .select("vec_id", "label", "embedding", "cid"),
          IndexStore.CentroidRel -> refined.select("cid", "cv"),
          IndexStore.CountRel -> counts
            .select(lit("base").as("kind"), col("cid"), col("rows"))))
        // the hatch under test: split the LARGEST cell (ties -> lowest
        // cid, deterministic) into two sub-cells — ONE atomic commit
        val fatCid = counts.orderBy(desc("rows"), asc("cid"))
          .head.getLong(0)
        graft.operators.IvfMaintenance.splitCell(s, path, fatCid,
          ways = 2, dim = Dim)
        writeIndexStamp(path, sig)
      }
      refreshIvfMirror(s, path, IvfSplitOracleAlias)
    }
    path
  }

  /** Auto-COMPACTED IVF index (the small-file remedy, materialized for
    * the oracle gate): the incremental build's held-out slice arrives
    * as SIX separate append commits instead of one — each leaves one
    * small file per touched cid partition, the fragmentation a
    * long-running streamed ingest produces — then the maintenance
    * loop's [[graft.operators.IvfMaintenance.maybeCompactData]] heals
    * it: metadata-only qualification, ONE partition-scoped
    * dataChange=false OPTIMIZE over exactly the fragmented cells.
    * Probes search the compacted index like any other; the oracle
    * replays the whole search over the compacted snapshot's mirror, so
    * hash-green here IS the proof that compaction changed the layout
    * and nothing else. The completion marker is a sibling file (commit
    * count varies with opportunistic ledger compactions, so no single
    * log version can mark success). */
  def ivfCompactIndexPath(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/ivf_index_compact"
    this.synchronized {
      val success = new java.io.File(path.stripSuffix("/") + "_compact_done")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        java.nio.file.Files.deleteIfExists(success.toPath)
        val emb = load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") % 10 =!= 7)
        val seeds = base.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def means(assigned: DataFrame) = assigned.groupBy("cid")
          .agg(array((1 to Dim).map(i =>
            avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
            .as("cv"))
        val refined = (1 to IvfLloydIterations)
          .foldLeft(seeds)((c, _) => means(assignTo(base, c)))
          .localCheckpoint()
        val baseAssigned = assignTo(base, refined).localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> baseAssigned
            .select("vec_id", "label", "embedding", "cid"),
          IndexStore.CentroidRel -> refined.select("cid", "cv"),
          IndexStore.CountRel -> baseAssigned.groupBy("cid").count()
            .select(lit("base").as("kind"), col("cid"),
              col("count").as("rows"))))
        // the fragmenting firehose: six micro-batch-sized appends, each
        // ONE commit landing rows + counters (the streamAnnIngest shape)
        val batchAssigned = assignTo(emb.where(col("vec_id") % 10 === 7),
          refined).localCheckpoint()
        for (b <- 0 until 6) {
          val slice = batchAssigned
            .where(col("vec_id") % 60 === (7 + 10 * b))
          graft.operators.IvfMaintenance.appendBatch(s, path,
            slice.select("vec_id", "label", "embedding", "cid"),
            slice.groupBy("cid").count()
              .withColumnRenamed("count", "rows"))
        }
        // the remedy under test — must actually fire, or the query
        // would pin nothing (the steady-state no-op is specced)
        val compacted = graft.operators.IvfMaintenance.maybeCompactData(
          s, path, graft.operators.IvfMaintenance.CompactPolicy(
            maxFiles = 3))
        require(compacted.nonEmpty,
          "compaction fixture fragmented nothing — the pin is vacuous")
        java.nio.file.Files.write(success.toPath,
          compacted.mkString(",").getBytes("UTF-8"))
        writeIndexStamp(path, sig)
      }
      refreshIvfMirror(s, path, IvfCompactOracleAlias)
    }
    path
  }

  /** TWO-LEVEL IVF index (the hierarchical coarse quantizer,
    * materialized for the oracle gate): the standard centroid build,
    * then the centroid set itself k-means'd into k1 ≈ √nlist
    * super-cells ([[trainSuperCentroids]]) and the corpus assigned
    * through the two-level route ([[assignTwoLevel]], w=2). The index
    * table carries THREE routing relations in one commit — data,
    * centroids (with their scid), super-centroids — so search prunes
    * arithmetically (score k1 supers, then only the probed supers'
    * children) exactly as it prunes IO (cid partitions). */
  def ivfTwoLevelIndexPath(s: SparkSession, dir: String): String = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/ivf_index_two_level"
    this.synchronized {
      val success = deltaDoneMarker(path)
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        val emb = load(s, dir, "embeddings")
        val seeds = emb.where(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def means(assigned: DataFrame) = assigned.groupBy("cid")
          .agg(array((1 to Dim).map(i =>
            avg(element_at(col("embedding"), i).cast(DoubleType))): _*)
            .as("cv"))
        val refined = (1 to IvfLloydIterations)
          .foldLeft(seeds)((c, _) => means(assignTo(emb, c)))
          .localCheckpoint()
        val nlist = refined.count()
        val k1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
        val (sup, routed) = trainSuperCentroids(refined, k1)
        val assigned = assignTwoLevel(emb, sup, routed).localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> assigned
            .select("vec_id", "label", "embedding", "cid"),
          IndexStore.CentroidRel -> routed.select("cid", "cv", "scid"),
          IndexStore.SuperCentroidRel ->
            sup.select(col("scid").as("cid"), col("cv")),
          IndexStore.CountRel -> assigned.groupBy("cid").count()
            .select(lit("base").as("kind"), col("cid"),
              col("count").as("rows"))))
        writeIndexStamp(path, sig)
      }
      refreshTwoLevelMirror(s, path, IvfTwoLevelOracleAlias)
    }
    path
  }

  /** The training-time distortion baseline and the index's CODE
    * CONSTRUCTION ("raw" | "residual") ride IN the PQ table as one
    * `rel=meta` row — committed with the codebooks they describe, so
    * neither can version apart from the codes. The construction tag
    * makes the index self-describing to every append path: an ingest
    * that encoded raw vectors into a residual index (or vice versa)
    * would silently mix constructions — ADC would score one family's
    * codes with the other family's decomposition — so append paths
    * read the tag instead of trusting a caller flag. */
  private def baselinePart(s: SparkSession, codebook: DataFrame,
      trainingSlice: DataFrame,
      shape: PqShape = DefaultPqShape,
      construction: String = ConstructionRaw): (String, DataFrame) = {
    import s.implicits._
    val v = graft.operators.PqMaintenance.distortionOf(
      s, codebook, trainingSlice.select("vec_id", "embedding"), shape)
    IndexStore.MetaRel -> Seq((v, construction))
      .toDF("baseline", "construction")
  }

  final val ConstructionRaw = "raw"
  final val ConstructionResidual = "residual"

  /** The stored code construction of a PQ table ("raw" when the meta
    * row predates the tag — every raw fixture). */
  def constructionOf(s: SparkSession, pqPath: String): String = {
    val meta = IndexStore.rel(s, pqPath, IndexStore.MetaRel)
    if (!meta.columns.contains("construction")) ConstructionRaw
    else Option(meta.select("construction").head.getString(0))
      .getOrElse(ConstructionRaw)
  }

  /** The persisted training-time baseline of a PQ table. */
  def distortionBaseline(s: SparkSession, pqPath: String): Double =
    IndexStore.baselineAt(s, pqPath)

  /** Per-subspace squared L2 between two PqSubDim-wide double arrays —
    * unrolled left-assoc, codegen-friendly (8 dims x 16 codes per row
    * through one broadcast join). */
  private[graft] def pqDist(a: Column, b: Column,
      subDim: Int = PqSubDim): Column =
    (1 to subDim).map { i =>
      val d = element_at(a, i) - element_at(b, i)
      d * d
    }.reduce(_ + _)

  /** One (vec_id, m, sv) row per subspace — sv as doubles so training
    * means and ADC LUTs share one arithmetic domain with the oracle.
    * The fixture-width shape unrolls (dim element_at casts — measured
    * fastest, and CodegenAudit-clean at dim 64); wide shapes build the
    * identical values with sequence+slice+array-cast, whose generated
    * code is O(1) in dim — the unrolled form's single method trips
    * Janino's 64 KB limit past dim ~128 (tools.ResidualDimAudit) and
    * would silently interpret the whole fused stage in production. */
  private[graft] def pqSubRows(df: DataFrame,
      shape: PqShape = DefaultPqShape): DataFrame =
    if (shape.dim <= ResidualUnrollDimMax)
      df.select(col("vec_id"),
        posexplode(array((0 until shape.m).map(m =>
          array((0 until shape.subDim).map(i =>
            element_at(col("embedding"), m * shape.subDim + i + 1)
              .cast(DoubleType)): _*)): _*)).as(Seq("m", "sv")))
    else
      df.select(col("vec_id"), col("embedding"),
        posexplode(expr(s"sequence(1, ${shape.dim}, ${shape.subDim})"))
          .as(Seq("m", "off")))
        .select(col("vec_id"), col("m"),
          expr(s"CAST(slice(embedding, off, ${shape.subDim}) AS " +
            "array<double>)").as("sv"))

  /** Nearest-codeword assignment of sub-vector rows against a codebook:
    * broadcast the (PqM x PqK)-row codebook, min_by over the squared
    * L2s, ties to the lower code for determinism — the PQ analogue of
    * assignTo. One broadcast join + one partial-aggregated groupBy at
    * any corpus size. `keepSv` carries the 8-double sub-vector through
    * the shuffle ONLY for the training pass (means needs it); the
    * encode pass ships just (vec_id, m, code). */
  private def pqAssign(sub: DataFrame, codebook: DataFrame,
      keepSv: Boolean, shape: PqShape = DefaultPqShape): DataFrame = {
    val joined = sub.join(broadcast(codebook), Seq("m"))
      .withColumn("d", pqDist(col("sv"), col("cv"), shape.subDim))
    val codeAgg = min_by(col("code"), struct(col("d"), col("code"))).as("code")
    if (keepSv)
      joined.groupBy("vec_id", "m").agg(codeAgg, first("sv").as("sv"))
    else joined.groupBy("vec_id", "m").agg(codeAgg)
  }

  /** Build-once PQ index: per-subspace codebooks trained by k-means
    * (seeds = sub-vectors of the PqK lowest vec_ids, PqLloydIterations
    * refinement passes — each pass one broadcast-assign + one
    * partial-aggregated means groupBy, the same two plan shapes at any
    * corpus size), then every vector encoded to PqM one-byte codes and
    * materialized PARTITIONED BY the coarse IVF cid (so probes keep
    * partition pruning) with the codebooks persisted beside it. At
    * 100 TB the codes relation is ~PqM bytes/vector — small enough to
    * stay executor-memory-resident where the raw vectors never could. */
  def pqIndexPath(s: SparkSession, dir: String): String =
    pqIndexWithIvf(s, dir)._1

  /** Per-subspace k-means codebook training over `corpus`: seeds =
    * sub-vectors of the PqK lowest vec_ids, PqLloydIterations
    * refinement passes (each one broadcast-assign + one
    * partial-aggregated means groupBy). */
  private[graft] def pqTrainCodebooks(corpus: DataFrame,
      shape: PqShape = DefaultPqShape): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = pqSubRows(corpus, shape)
    val seeds = pqSubRows(corpus.orderBy("vec_id").limit(shape.k), shape)
      .withColumn("code", row_number().over(
        Window.partitionBy("m").orderBy("vec_id")) - 1)
      .select(col("m"), col("code"), col("sv").as("cv"))
    // a codeword that loses EVERY assignment (duplicate seeds, or a
    // dense cluster swallowing its neighborhood) would silently vanish
    // from the groupBy means — shrinking the subspace codebook below
    // PqK with no signal: encoding stays consistent but quantization
    // quality degrades and the search LUT keeps NaN slots. Keep such a
    // codeword at its previous position instead (the standard empty-
    // cluster rule); it stays a valid, deterministic codeword and can
    // win assignments again on a later pass. Identity when nothing
    // lost, so existing materialized codebooks are unchanged.
    def means(cb: DataFrame, assigned: DataFrame) = {
      // materialize the means ONCE per pass (<= m*k rows): `moved` is
      // referenced both as union input and as the anti-join key side,
      // and without truncation each pass would re-run the whole
      // broadcast-assign + aggregation per reference AND embed the
      // previous pass's plan three times — geometric plan growth with
      // PqLloydIterations
      val moved = assigned.groupBy("m", "code")
        .agg(array((1 to shape.subDim).map(i =>
          avg(element_at(col("sv"), i))): _*).as("cv"))
        .localCheckpoint()
      moved.unionByName(
        cb.join(moved.select("m", "code"), Seq("m", "code"), "left_anti"))
    }
    (1 to PqLloydIterations)
      .foldLeft(seeds)((cb, _) =>
        means(cb, pqAssign(sub, cb, keepSv = true, shape)))
  }

  /** Encode `df` to `shape.m` one-byte codes against a STORED codebook
    * and attach label, cid (from `cids`), and the stored EXACT norm
    * (one double per vector, FAISS-style): ADC approximates the raw
    * inner product, but the search metric is cosine — dividing the
    * quantized dot by the true norm removes the norm-variance rank
    * error PQ codes cannot carry.
    *
    * `packed` selects the storage layout at encode time: one
    * `array<byte>` codes column (m-ascending — the wide-M production
    * layout; per-column codes are column-chunk-overhead-bound at
    * M=64, see [[pqPackedIndexWithIvf]]) instead of `shape.m` separate
    * one-byte columns. Same aggregation, same codes, one projection of
    * difference — so the two layouts stay bit-identical by
    * construction and an append path can write packed directly with no
    * per-column intermediate. */
  private[graft] def pqEncode(df: DataFrame, codebook: DataFrame,
      cids: DataFrame, shape: PqShape = DefaultPqShape,
      packed: Boolean = false,
      normOf: Option[DataFrame] = None): DataFrame = {
    // codes 128..255 (the K=256 one-byte regime) store as their two's
    // complement — Spark has no unsigned byte, and ANSI mode (the 4.x
    // default) rejects the overflowing cast outright. Explicit wrap:
    // identity for K <= 128 (so every existing oracle fixture is
    // byte-identical), and PqAdc's `& 0xFF` reads recover the full
    // range on the search side.
    def asByte(c: Column): Column =
      when(c > 127, c - 256).otherwise(c).cast(ByteType)
    val codeCols = (0 until shape.m).map(m =>
      asByte(max(when(col("m") === m, col("code")))).as(s"c$m"))
    val coded = pqAssign(pqSubRows(df, shape), codebook, keepSv = false, shape)
      .groupBy("vec_id")
      .agg(codeCols.head, codeCols.tail: _*)
    val laidOut =
      if (packed) coded.select(col("vec_id"),
        array((0 until shape.m).map(m => col(s"c$m")): _*).as("codes"))
      else coded
    laidOut
      .join(normOf.getOrElse(df).select(col("vec_id"), col("label"),
        norm(col("embedding")).as("xnorm")), Seq("vec_id"))
      .join(cids, Seq("vec_id"))
  }

  private def pqCids(s: SparkSession, ivfPath: String): DataFrame =
    IndexStore.data(s, ivfPath).select(col("vec_id"), col("cid"))

  /** Same as [[pqIndexPath]], also returning the coarse IVF index path
    * it was built over (so the search does not repeat ivfIndexPath's
    * staleness check). */
  private[graft] def pqIndexWithIvf(s: SparkSession, dir: String): (String, String) = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/pq_index"
    this.synchronized {
      val ivfPath = ivfIndexPath(s, dir) // also refreshes the IVF aliases
      val sig = embSourceSig(dir)
      if (indexStale(path, deltaDoneMarker(path), sig)) {
        val emb = load(s, dir, "embeddings")
        val cb = pqTrainCodebooks(emb).localCheckpoint()
        // ONE founding commit: codes + codebooks + baseline — the
        // search LUTs can never read codebooks from a different
        // generation than the codes they score
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> pqEncode(emb, cb, pqCids(s, ivfPath)),
          IndexStore.CodebookRel -> cb,
          baselinePart(s, cb, emb)))
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqOracleAlias)
      (path, ivfPath)
    }
  }

  /** PACKED-codes layout of the build-once PQ index: the identical
    * codes as [[pqIndexWithIvf]], stored as ONE `array<byte>` column
    * instead of PqM separate one-byte columns. This is the storage
    * shape a wide-M production index must use — the dim-512 rehearsal
    * measured the per-column layout COLUMN-CHUNK-OVERHEAD-BOUND at
    * M=64 (M column-chunk reads per file per scan: parquet-fed ADC ran
    * 0.2× exact) while the packed layout restored the 32× footprint
    * advantage (1.3× over exact). At the fixture's M=8 both layouts
    * are fine; this query keeps the packed path oracle-checked so the
    * production layout is exercised end-to-end, not just in a probe.
    * Derived from the per-column index (one projection, no re-encode);
    * the codebooks/centroids are shared via sibling symlinks. */
  def pqPackedIndexWithIvf(s: SparkSession, dir: String): (String, String) = {
    val (codesPath, ivfPath) = pqIndexWithIvf(s, dir)
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/pq_index_packed"
    this.synchronized {
      // the packed projection is a deterministic function of the
      // per-column codes, themselves a deterministic function of the
      // embeddings drop — so the ONE content signature guards both (a
      // per-column rebuild only ever changes codes when the drop
      // changed; keying on the drop also closes the mtime-granularity
      // window the previous `_SUCCESS`-mtime comparison carried)
      val sig = embSourceSig(dir)
      if (indexStale(path, deltaDoneMarker(path), sig)) {
        import s.implicits._
        // the packed table CARRIES the per-column index's codebooks and
        // baseline (same codes, same LUTs — copied rows, so the packed
        // table is self-contained and its commit keeps codes/codebooks
        // coherent; this replaced the sibling-symlink sharing)
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> IndexStore.data(s, codesPath)
            .select(col("vec_id"), col("label"), col("xnorm"),
              array((0 until PqM).map(m => col(s"c$m")): _*).as("codes"),
              col("cid")),
          IndexStore.CodebookRel -> IndexStore.codebookAt(s, codesPath),
          IndexStore.MetaRel ->
            Seq((IndexStore.baselineAt(s, codesPath),
              constructionOf(s, codesPath)))
              .toDF("baseline", "construction")))
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqPackedOracleAlias)
      (path, ivfPath)
    }
  }

  /** RESIDUAL IVFADC index (the full Jégou et al. 2011 construction):
    * codes quantize the RESIDUAL `x - centroid(x)` instead of the raw
    * vector, so the one-byte budget spends on the vector's offset
    * within its coarse cell rather than re-encoding the cell's
    * position every time — the accuracy upgrade production IVF-PQ
    * systems (FAISS IVFADC) ship, and it matters exactly when coarse
    * cells have distinct centers (always, at 100 TB). Search
    * decomposes the inner product exactly: <x, q> ≈ <c, q> +
    * <r_quant, q>, so the LUT stays ONE (M x K) table (<q_sub,
    * codeword> — codewords live in residual space, cid-independent)
    * and the per-cell term is the SAME centroid dot the coarse
    * ranking already computed — one scalar join, no per-cid LUT.
    * Residuals are computed in DOUBLE (CAST(x) - cv, the oracle's
    * exact arithmetic); the stored norm stays the ORIGINAL vector's
    * (cosine rank metric). Codes store PACKED — this index is born in
    * the production layout. */
  def pqResidualIndexWithIvf(s: SparkSession, dir: String): (String, String) = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/pq_index_residual"
    this.synchronized {
      val ivfPath = ivfIndexPath(s, dir)
      val sig = embSourceSig(dir)
      if (indexStale(path, deltaDoneMarker(path), sig)) {
        val emb = load(s, dir, "embeddings")
        val resid = residualsOf(s, emb, ivfPath).localCheckpoint()
        val cb = pqTrainCodebooks(resid).localCheckpoint()
        // encode the residuals, storing the ORIGINAL vector's norm
        // (ADC approximates <x, q>; cosine divides by |x|, and the
        // codes cannot carry that norm) — normOf attaches it in the
        // encode's own join, no residual-norm detour. The drift
        // baseline measures RESIDUAL quantization (the space the
        // codebooks live in). One founding commit carries all three.
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> pqEncode(resid, cb, pqCids(s, ivfPath),
            packed = true, normOf = Some(emb)),
          IndexStore.CodebookRel -> cb,
          baselinePart(s, cb, resid,
            construction = ConstructionResidual)))
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqResidualOracleAlias)
      (path, ivfPath)
    }
  }

  /** Incrementally-maintained RESIDUAL IVFADC index: the full Jégou
    * construction meets the production ingest path. Codebooks train on
    * the BASE slice's residuals (x − centroid(x) against the
    * incremental coarse index's stored centroids); the base encodes
    * and materializes; the arriving batch is then APPENDED by
    * residual-encoding against the SAME stored codebooks and centroid
    * set — the construction the batch encodes under is read from the
    * table's meta tag, never assumed, so an append can never silently
    * mix raw codes into a residual index. Packed layout (residual
    * indexes are born in the production layout). */
  def pqResidualIncrementalIndexWithIvf(s: SparkSession, dir: String):
      (String, String) = {
    val sf = new java.io.File(dir).getName
    val path =
      s"/root/repo/target/delta_fixtures/$sf/pq_index_residual_incr"
    this.synchronized {
      val ivfPath = ivfIncrementalIndexPath(s, dir)
      // v0 = base build, v1 = the incremental append commit
      val success = new java.io.File(path,
        "_delta_log/00000000000000000001.json")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        val emb = load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") % 10 =!= 7)
        val batch = emb.where(col("vec_id") % 10 === 7)
        val cent = IndexStore.centroidsAt(s, ivfPath)
        val cids = pqCids(s, ivfPath)
        val baseResid =
          residualsAgainst(base, cids, cent, Dim).localCheckpoint()
        val cb = pqTrainCodebooks(baseResid).localCheckpoint()
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> pqEncode(baseResid, cb, cids,
            packed = true, normOf = Some(base)),
          IndexStore.CodebookRel -> cb,
          baselinePart(s, cb, baseResid,
            construction = ConstructionResidual)))
        // the incremental step: residual-encode ONLY the batch against
        // the stored codebooks + centroids, one append commit. The
        // construction comes from the table's own tag — the guard the
        // ingest paths share.
        appendPqBatch(s, path, ivfPath, batch)
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqResidualIncrOracleAlias)
      (path, ivfPath)
    }
  }

  /** Append an arriving batch of RAW vectors into a PQ index table,
    * encoding under the table's OWN stored construction (the meta tag):
    * raw tables encode the vectors, residual tables subtract each
    * vector's assigned centroid first — one shared entry point, so no
    * ingest path can mix constructions. One append commit. */
  def appendPqBatch(s: SparkSession, pqPath: String, ivfPath: String,
      batch: DataFrame, shape: PqShape = DefaultPqShape,
      packed: Boolean = true): Unit = {
    val cent = IndexStore.centroidsAt(s, ivfPath)
    val nlist = IndexStore.relRowCount(s, ivfPath,
      IndexStore.CentroidRel).getOrElse(-1L)
    val cids = assignTo(batch, cent, nlist, shape.dim)
      .select(col("vec_id"), col("cid"))
    val cb = IndexStore.codebookAt(s, pqPath)
    val toEncode = constructionOf(s, pqPath) match {
      case ConstructionResidual =>
        residualsAgainst(batch, cids, cent, shape.dim)
      case _ => batch
    }
    IndexStore.append(s, pqPath, Seq(IndexStore.DataRel ->
      pqEncode(toEncode, cb, cids, shape, packed = packed,
        normOf = Some(batch))))
  }

  /** (vec_id, label, embedding = x - centroid(x) as array<double>) —
    * the residual corpus the codebooks train on and the encode
    * quantizes. One broadcast join against the (tiny) centroid set;
    * double arithmetic with the oracle's exact op order
    * (CAST(x) - cv). */
  private def residualsOf(s: SparkSession, emb: DataFrame,
      ivfPath: String): DataFrame =
    residualsAgainst(emb, pqCids(s, ivfPath),
      IndexStore.centroidsAt(s, ivfPath), Dim)

  /** Same, against explicit (vec_id, cid) and (cid, cv) relations.
    * `dim` is REQUIRED (ADVICE r16): the unrolled element_at form,
    * unlike the zip_with lambda it replaced, silently truncates (or
    * under ANSI mode throws on) vectors whose width differs from the
    * assumed one — every caller must state the shape it is encoding. */
  /** Widest vector the UNROLLED residual projection may codegen: the
    * 2·dim element_at terms land in ONE generated method (whole-stage
    * codegen cannot split expressions bound to join-output variables),
    * and tools.ResidualDimAudit measured the JVM's 64 KB method limit
    * tripping between dim 128 (compiles, fallback=false) and dim 192
    * ("Code grows beyond 64 KB"). Past the bound a silent production
    * fallback would interpret the ENTIRE fused stage — strictly worse
    * than one interpreted lambda — so wide shapes take zip_with. */
  private[graft] val ResidualUnrollDimMax = 128
  private[graft] def residualsAgainst(emb: DataFrame, cids: DataFrame,
      centroids: DataFrame, dim: Int): DataFrame =
    emb.join(cids, Seq("vec_id"))
      .join(broadcast(centroids), Seq("cid"))
      .select(col("vec_id"), col("label"),
        // unrolled element-wise subtraction (same arithmetic + op
        // order as the zip_with lambda — CAST(x) - cv per dimension —
        // but ordinary codegen expressions; zip_with runs INTERPRETED
        // per row, a real CPU tax on a full-corpus encode). Wide
        // shapes (dim > ResidualUnrollDimMax) keep the row-local
        // zip_with: identical values, bounded method size.
        (if (dim <= ResidualUnrollDimMax)
          array((1 to dim).map(i =>
            element_at(col("embedding"), i).cast(DoubleType) -
              element_at(col("cv"), i)): _*)
        else
          expr("zip_with(embedding, cv, (x, c) -> CAST(x AS DOUBLE) - c)"))
          .as("embedding"))

  /** Residual IVFADC search: identical structure to [[annPqSearch]]
    * with the exact score decomposition `(<c, q> + ADC) / |x|` — the
    * per-cell centroid dot joins in as one broadcast scalar per probed
    * cid (computed by the SAME expression the coarse ranking used, so
    * the oracle replays it bit-exactly). */
  def annPqResidual(s: SparkSession, dir: String, probeId: Long, k: Int,
      nprobe: Int, cand: Int): DataFrame = {
    val (path, ivfPath) = pqResidualIndexWithIvf(s, dir)
    annPqResidualSearch(s, load(s, dir, "embeddings"), path,
      ivfPath, probeId, k, nprobe, cand)
  }

  /** The residual search against explicit relations, shape-parametrized
    * (the annPqSearch pattern). */
  private[graft] def annPqResidualSearch(s: SparkSession, emb: DataFrame,
      path: String, centroidsPath: String, probeId: Long, k: Int,
      nprobe: Int, cand: Int,
      shape: PqShape = DefaultPqShape): DataFrame = {
    import s.implicits._
    val centroids = IndexStore.centroidsAt(s, centroidsPath)
    val pvF = emb.where(col("vec_id") === probeId)
      .select("embedding").head.getSeq[Float](0)
    val pv = pvF.map(_.toDouble)
    val pn = {
      var acc = 0.0
      var i = 0
      while (i < shape.dim) { acc += pv(i) * pv(i); i += 1 }
      math.sqrt(acc)
    }
    val probeVec = Seq((pvF, pn)).toDF("pv", "pn")
    // ONE coarse pass yields the prune list AND the per-cell <c, q>
    // term of the decomposition
    val probedRows = centroids.crossJoin(broadcast(probeVec))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .orderBy(desc("sim"), asc("cid"))
      .limit(nprobe)
      .select("cid", "sim").collect()
    val probeCids = probedRows.map(_.getLong(0)).toSeq
    val cidDots = probedRows.map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq.toDF("cid", "cdot")
    val cbRows = IndexStore.codebookAt(s, path).collect()
    require(cbRows.length == shape.m * shape.k,
      s"incomplete PQ codebook in $path — stale " +
        "fixture? delete the index dir to rebuild")
    val lut = Array.fill(shape.m, shape.k)(Double.NaN)
    cbRows.foreach { r =>
      val m = r.getAs[Int]("m")
      val c = r.getAs[Int]("code")
      val cv = r.getSeq[Double](r.fieldIndex("cv"))
      var acc = 0.0
      var i = 0
      while (i < shape.subDim) {
        acc += pv(m * shape.subDim + i) * cv(i); i += 1
      }
      lut(m)(c) = acc
    }
    require(lut.forall(_.forall(v => !v.isNaN)),
      s"PQ codebook in $path has duplicate (m, code) " +
        "rows — stale fixture? delete the index dir to rebuild")
    val adc = (col("cdot") + graft.functions.VectorExpressions.pqAdc(
      col("codes"), typedLit(lut.flatten.toSeq), shape.k)) / col("xnorm")
    // the probed-cid read is statically file-pruned on the (rel, pcid)
    // partition values before any parquet opens (IndexStore.data)
    val candidates = IndexStore.data(s, path, Some(probeCids))
      .where(col("vec_id") =!= probeId)
      .join(broadcast(cidDots), Seq("cid"))
      .withColumn("adc", adc)
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(cand)
    candidates
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(probeVec))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .select("vec_id", "label", "adc", "cosine")
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** The PQ drift ESCAPE HATCH — [[graft.operators.PqMaintenance]]'s
    * documented remedy when the distortion trigger fires: re-train the
    * codebooks on the CURRENT corpus, re-encode every vector against
    * them, and refresh the persisted distortion baseline. The two plan
    * shapes are exactly the original build's (broadcast-assign +
    * partial-aggregated means to train; broadcast-encode to code), so
    * the cost model holds at any corpus size — a retrain is a rebuild
    * priced like the first build, amortized over the ingest that
    * triggered it.
    *
    * The new generation lands as ONE replace commit on the index table
    * (codes + codebooks + baseline together): a concurrent search reads
    * either the old generation or the new one — never one generation's
    * codes scored with the other's LUTs — and a crash at any point
    * leaves the old generation live. (This replaced the sibling-rename
    * swap pair whose cross-directory window needed a `_retrain_pending`
    * marker and a manual re-run to heal; the commit protocol has no
    * such window.) `shape` must match the one the index was built with
    * (the same rule as train/encode). */
  def pqRetrainAndReEncode(s: SparkSession, corpus: DataFrame,
      path: String, cids: DataFrame,
      shape: PqShape = DefaultPqShape,
      packed: Boolean = false,
      construction: String = ConstructionRaw,
      normOf: Option[DataFrame] = None): Unit = this.synchronized {
    // the caller declares what SPACE `corpus` lives in; retraining a
    // residual index with raw vectors (or vice versa) would flip the
    // stored construction silently and every later search would score
    // one family's codes with the other's decomposition — fail loudly
    // instead (the construction-mismatch guard the ingest paths share)
    if (IndexStore.isDeltaTable(path)) {
      val stored = constructionOf(s, path)
      require(stored == construction,
        s"retrain corpus is declared '$construction' but the index at " +
          s"$path stores '$stored' codes — pass the corpus in the " +
          "index's own space (residual tables retrain on residuals)")
    }
    val cb = pqTrainCodebooks(corpus, shape).localCheckpoint()
    val parts = Seq(
      IndexStore.DataRel -> pqEncode(corpus, cb, cids, shape,
        packed = packed, normOf = normOf),
      IndexStore.CodebookRel -> cb,
      baselinePart(s, cb, corpus, shape, construction))
    // the hatch doubles as the initial builder (it IS a rebuild): the
    // first run founds the table, later runs replace the whole
    // generation in one commit
    if (IndexStore.isDeltaTable(path))
      IndexStore.replace(s, path, parts, lit(true))
    else IndexStore.create(s, path, parts)
  }

  /** Incrementally-maintained PQ index (the production ingest path):
    * codebooks train on the BASE corpus (vec_id % 10 != 7) only, the
    * base encodes and materializes into the cid partitions of the
    * incrementally-maintained coarse index, and the "new" batch
    * (vec_id % 10 == 7) is then APPENDED by encoding against the
    * EXISTING stored codebooks — codebooks never move, resident code
    * partitions never rewrite. At 100 TB an arriving batch costs one
    * broadcast-encode over the batch plus appends into the touched cid
    * partitions; codebook DRIFT is the accepted trade (re-train
    * offline when quantization error decays recall — the same policy
    * class as IVF centroid drift, and the coarse side of THIS index
    * already runs IvfMaintenance's counters via
    * ivfIncrementalIndexPath). */
  def pqIncrementalIndexWithIvf(s: SparkSession, dir: String):
      (String, String) = {
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/pq_index_incr"
    this.synchronized {
      val ivfPath = ivfIncrementalIndexPath(s, dir)
      // v0 = base build, v1 = the incremental append commit
      val success = new java.io.File(path,
        "_delta_log/00000000000000000001.json")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        val emb = load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") % 10 =!= 7)
        val batch = emb.where(col("vec_id") % 10 === 7)
        val cb = pqTrainCodebooks(base).localCheckpoint()
        val cids = pqCids(s, ivfPath)
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> pqEncode(base, cb, cids),
          IndexStore.CodebookRel -> cb,
          baselinePart(s, cb, base)))
        // the incremental step: encode ONLY the batch against the
        // stored codebooks, ONE append commit into the matching cid
        // partitions — codebooks never move, residents never rewrite
        IndexStore.append(s, path, Seq(
          IndexStore.DataRel -> pqEncode(batch, cb, cids)))
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqIncrOracleAlias)
      (path, ivfPath)
    }
  }

  /** PACKED-codes layout of the incrementally-maintained PQ index: the
    * same frozen-codebook ingest policy as [[pqIncrementalIndexWithIvf]]
    * (whose codebooks it SHARES via sibling symlink — same training,
    * same codes), but BOTH the base materialization and the arriving
    * batch's append run the packed encode end-to-end: the appended
    * micro-batch writes one `array<byte>` codes column straight into
    * the touched cid partitions, no per-column intermediate ever
    * exists. This is the production ingest at wide M, where per-column
    * codes are column-chunk-overhead-bound (the dim-512 rehearsal's
    * finding — see [[pqPackedIndexWithIvf]]). */
  def pqIncrementalPackedIndexWithIvf(s: SparkSession, dir: String):
      (String, String) = {
    val (colPath, _) = pqIncrementalIndexWithIvf(s, dir)
    val sf = new java.io.File(dir).getName
    val path = s"/root/repo/target/delta_fixtures/$sf/pq_index_incr_packed"
    this.synchronized {
      val ivfPath = ivfIncrementalIndexPath(s, dir)
      // v0 = base build, v1 = the incremental append commit
      val success = new java.io.File(path,
        "_delta_log/00000000000000000001.json")
      val sig = embSourceSig(dir)
      if (indexStale(path, success, sig)) {
        import s.implicits._
        val emb = load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") % 10 =!= 7)
        val batch = emb.where(col("vec_id") % 10 === 7)
        // carries the per-column incremental index's codebooks +
        // baseline (same training, same codes — copied rows keep this
        // table self-contained and commit-coherent)
        val cb = IndexStore.codebookAt(s, colPath).localCheckpoint()
        val cids = pqCids(s, ivfPath)
        IndexStore.create(s, path, Seq(
          IndexStore.DataRel -> pqEncode(base, cb, cids, packed = true),
          IndexStore.CodebookRel -> cb,
          IndexStore.MetaRel ->
            Seq((IndexStore.baselineAt(s, colPath),
              constructionOf(s, colPath)))
              .toDF("baseline", "construction")))
        // the incremental step, packed: encode ONLY the batch against
        // the stored codebooks, ONE append commit into the matching
        // cid partitions
        IndexStore.append(s, path, Seq(
          IndexStore.DataRel -> pqEncode(batch, cb, cids, packed = true)))
        writeIndexStamp(path, sig)
      }
      refreshPqMirror(s, path, ivfPath, PqIncrPackedOracleAlias)
      (path, ivfPath)
    }
  }


  /** IVF-PQ search (q_sim_ann_pq body; shared with SimilaritySpec):
    * coarse-prune to nprobe cids, ADC-score the pruned CODES against a
    * probe-built PqM x PqK LUT (the scan never touches a vector), take
    * the top `cand` by quantized score, exact-rerank only those. The
    * LUT is O(PqM x PqK) doubles built driver-side from the probe row
    * and the (tiny) codebooks — the sanctioned collect class. */
  def annPq(s: SparkSession, dir: String, probeId: Long, k: Int,
      nprobe: Int, cand: Int): DataFrame = {
    val (path, ivfPath) = pqIndexWithIvf(s, dir)
    annPqOver(s, dir, path, ivfPath, probeId, k, nprobe, cand)
  }

  /** Same probe against explicit codes/coarse-index directories (shared
    * by the build-once and incrementally-maintained PQ indexes).
    * `predicate` narrows the CANDIDATE scan — the filtered-ANN shape:
    * attribute predicates evaluate on the codes relation (which
    * carries the metadata columns), so filtering costs no vector
    * reads and the rerank still touches only `cand` rows. */
  def annPqOver(s: SparkSession, dir: String, path: String, ivfPath: String,
      probeId: Long, k: Int, nprobe: Int, cand: Int,
      predicate: Column = lit(true),
      packedCodes: Boolean = false): DataFrame =
    annPqSearch(s, load(s, dir, "embeddings"), path,
      ivfPath, probeId, k, nprobe, cand, predicate,
      packedCodes)

  /** The search itself, against explicit relations — shape-parametrized
    * so the SAME code path serves the fixture (dim 64, M=8, K=16) and
    * the production regimes (dim 512, M=64, K up to 256 — the one-byte
    * ceiling, unsigned reads in PqAdc). Shared with SimilaritySpec's
    * K=256 pin. */
  private[graft] def annPqSearch(s: SparkSession, emb: DataFrame,
      path: String, centroidsPath: String,
      probeId: Long, k: Int, nprobe: Int, cand: Int,
      predicate: Column = lit(true),
      packedCodes: Boolean = false,
      shape: PqShape = DefaultPqShape): DataFrame = {
    import s.implicits._
    val centroids = IndexStore.centroidsAt(s, centroidsPath)
    // ONE probe-row collect feeds the cid ranking, the LUT, and the
    // rerank (the probe norm is the same left-assoc double sqrt the
    // norm() expression computes, so values stay bit-identical)
    val pvF = emb.where(col("vec_id") === probeId)
      .select("embedding").head.getSeq[Float](0)
    val pv = pvF.map(_.toDouble)
    val pn = {
      var acc = 0.0
      var i = 0
      while (i < shape.dim) { acc += pv(i) * pv(i); i += 1 }
      math.sqrt(acc)
    }
    val probeVec = Seq((pvF, pn)).toDF("pv", "pn")
    val probeCids = centroids.crossJoin(broadcast(probeVec))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .orderBy(desc("sim"), asc("cid"))
      .limit(nprobe)
      .select("cid").collect().map(_.getLong(0)).toSeq
    // LUT[m][code] = <probe sub-vector m, codeword> — same left-assoc
    // double products as the oracle's unrolled SQL. The codebook must
    // be complete: a short one (a pre-retention fixture with a dropped
    // codeword) would leave NaN LUT slots that SORT ABOVE every real
    // score under desc — a silent recall collapse, so fail loudly here
    val cbRows = IndexStore.codebookAt(s, path).collect()
    require(cbRows.length == shape.m * shape.k,
      s"incomplete PQ codebook in $path: " +
        s"${cbRows.length} codewords, expected ${shape.m * shape.k} — " +
        "stale fixture? delete the index dir to rebuild")
    val lut = Array.fill(shape.m, shape.k)(Double.NaN)
    cbRows.foreach { r =>
      val m = r.getAs[Int]("m")
      val c = r.getAs[Int]("code")
      val cv = r.getSeq[Double](r.fieldIndex("cv"))
      var acc = 0.0
      var i = 0
      while (i < shape.subDim) {
        acc += pv(m * shape.subDim + i) * cv(i); i += 1
      }
      lut(m)(c) = acc
    }
    // the count check above passes a codebook with DUPLICATE (m, code)
    // rows, which still leaves unfilled NaN slots — and NaN sorts above
    // every real score under desc, the silent recall collapse the guard
    // exists to prevent. Require every slot filled.
    require(lut.forall(_.forall(v => !v.isNaN)),
      s"PQ codebook in $path has duplicate (m, code) " +
        "rows (NaN LUT slots) — stale fixture? delete the index dir to " +
        "rebuild")
    // quantized-dot / exact-norm = approximate cosine (the rank metric).
    // ONE native loop expression (functions.PqAdc) over the packed code
    // array and the flattened m-major LUT: O(1) generated code at any M
    // — the unrolled element_at alternative codegens O(M·K) nodes and
    // re-compiles per probe, which the dim-512 rehearsal measured
    // LOSING to exact scan on plan-compile cost alone. Accumulation
    // order is the same left-assoc m-sum, so values stay bit-identical
    // to the oracle's l0.v + l1.v + ... replay.
    val codesArr =
      if (packedCodes) col("codes")
      else array((0 until shape.m).map(m => col(s"c$m")): _*)
    val adc = graft.functions.VectorExpressions.pqAdc(
      codesArr, typedLit(lut.flatten.toSeq), shape.k) / col("xnorm")
    // partition-pruned CODES scan (static file prune on the probed
    // cids' partition values): 8 one-byte lookups + adds per row
    val candidates = IndexStore.data(s, path, Some(probeCids))
      .where(col("vec_id") =!= probeId)
      .where(predicate)
      .withColumn("adc", adc)
      .orderBy(desc("adc"), asc("vec_id"))
      .limit(cand)
    // exact rerank touches full vectors for `cand` rows only
    candidates
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .crossJoin(broadcast(probeVec))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .select("vec_id", "label", "adc", "cosine")
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** One size-gate policy for every probe-proportional join side in
    * the kNN family: broadcast while the estimated bytes sit under the
    * session threshold; over it, the shuffle must be FORCED (merge
    * hint) — Catalyst's own size estimate of the probe subtree can
    * undershoot and re-pick broadcast, the exact executor-OOM shape
    * the gate exists to prevent. AQE may still re-convert from the
    * MEASURED exchange size, which is safe by construction. */
  private def sizeGatedSide(s: SparkSession, df: DataFrame, rows: Long,
      bytesPerRow: Long): DataFrame = {
    val threshold = s.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0 && rows * bytesPerRow <= threshold) broadcast(df)
    else df.hint("merge")
  }

  /** PQ-accelerated k-NN join (q_knn_join_pq body; shared with
    * SimilaritySpec): the same join shape as [[knnJoin]], but the
    * PAIRWISE stage scores PQ CODES against per-probe lookup tables —
    * the scanned side of the join carries 8 one-byte codes + one
    * stored norm, never a vector, and only the top `cand` ADC
    * candidates per probe touch full vectors in the rerank. That is
    * the batch-kNN shape that survives 100 TB: pair cost is bytes ×
    * candidates; vectors appear only in the per-probe rerank sliver.
    * Every probe-proportional relation (the LUT-bearing probe rows,
    * the rerank probe vectors) joins through the same size gate as
    * knnJoin — broadcast under the session threshold, forced shuffle
    * equi-join over it. Scoring is one native loop per pair
    * (functions.PqAdc over the packed codes + the probe's flat LUT),
    * so the plan shape is M-independent — a dim-512 (M=64) index runs
    * the identical two-join pipeline. */
  def knnJoinPq(s: SparkSession, dir: String, k: Int, nprobe: Int,
      cand: Int, probeModulus: Int = 100,
      packed: Boolean = false): DataFrame = {
    // `packed` joins against the packed-codes layout (one array<byte>
    // column — the wide-M production storage); the pipeline is
    // layout-independent since PqAdc scores one code ARRAY either way,
    // so the only difference is which relation is scanned
    val (path, ivfPath) =
      if (packed) pqPackedIndexWithIvf(s, dir) else pqIndexWithIvf(s, dir)
    knnJoinPqOver(s, load(s, dir, "embeddings"), path,
      ivfPath, k, nprobe, cand, probeModulus, packed)
  }

  /** The join itself, against explicit relations — shape-parametrized
    * like [[annPqSearch]], so the SAME two-join + native-ADC pipeline
    * serves the fixture (dim 64, M=8) and the production widths (dim
    * 512, M=64 — where the per-(m, code) equi-join shape this replaced
    * would be 64 joins). */
  private[graft] def knnJoinPqOver(s: SparkSession, emb: DataFrame,
      path: String, centroidsPath: String, k: Int, nprobe: Int,
      cand: Int, probeModulus: Int = 100, packed: Boolean = false,
      shape: PqShape = DefaultPqShape): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids = IndexStore.centroidsAt(s, centroidsPath)
    val codebook = IndexStore.codebookAt(s, path)
    // a malformed codebook makes every packed LUT the wrong length,
    // PqAdc nulls ALL pair scores, and the rank window emits the lowest
    // vec_ids as a confident-looking garbage top-k — fail loudly
    // instead. BOTH counts must equal m*k: a short codebook passes
    // countDistinct-with-dupes, a duplicated-row codebook passes a raw
    // count; each alone has a blind spot (one aggregation computes
    // both).
    val (cbTotal, cbDistinct) = {
      val r = codebook.agg(count(lit(1)),
        countDistinct(col("m"), col("code"))).head
      (r.getLong(0), r.getLong(1))
    }
    require(cbTotal == shape.m * shape.k && cbDistinct == shape.m * shape.k,
      s"malformed PQ codebook in $path: $cbTotal rows, " +
        s"$cbDistinct distinct (m, code), expected ${shape.m * shape.k} " +
        "of each — stale fixture? delete the index dir to rebuild")
    // materialize the probe relation ONCE (probe-proportional — tiny
    // next to the corpus): probed, the LUT, and the rerank all derive
    // from it, and the 8 LUT join sides would otherwise each re-run
    // the embeddings scan from scratch
    val nlist = IndexStore.relRowCount(s, centroidsPath,
      IndexStore.CentroidRel).getOrElse(-1L)
    val probes = emb.where(col("vec_id") % probeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        norm(col("embedding")).as("pn"))
      .localCheckpoint()
    val probed = probes.crossJoin(
      gatedCentroidSide(s, centroids, nlist, shape.dim))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .withColumn("crk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("sim"), asc("cid"))))
      .where(col("crk") <= nprobe)
      .select(col("probe_id"), col("cid"))
      .localCheckpoint()
    // ONE aggregation yields the static cid prune list AND the row
    // counts the size gates need (cf. knnJoin)
    val cidCounts = probed.groupBy("cid").count().collect()
    val probedCids = cidCounts.map(_.getLong(0)).toSeq
    val probedRows = cidCounts.map(_.getLong(1)).sum
    val nProbes = probedRows / nprobe.toLong max 1L
    // per-probe LUT, computed relationally: the same left-assoc
    // products as the oracle's unrolled SQL, one row per
    // (probe, subspace, codeword) — probe-proportional, vector-free —
    // then packed to ONE flattened m-major array per probe. The
    // CONSTANT side (PqM x PqK codebook rows) broadcasts, the probe
    // side streams — safe at any probe count. The packed LUT rides the
    // probe relation into the pairwise join, where a single native
    // loop expression (functions.PqAdc) scores each code row: the
    // previous shape attached LUT values through PqM equi-joins, which
    // stops scaling with M (fine at the fixture's M=8, 64 joins at a
    // production dim-512 index — the dim-512 rehearsal is what exposed
    // it).
    val lutV = (1 to shape.subDim).map(i =>
      element_at(col("pv"), col("m") * shape.subDim + lit(i))
        .cast(DoubleType) * element_at(col("cv"), i)).reduce(_ + _)
    val lutArr = probes.select(col("probe_id"), col("pv"))
      .crossJoin(broadcast(codebook))
      .select(col("probe_id"), col("m"), col("code"), lutV.as("v"))
      .groupBy("probe_id")
      // array_sort on (m, code, v) structs = m-major flat layout; the
      // (m, code) prefix is unique so v never drives the order
      .agg(transform(array_sort(collect_list(
        struct(col("m"), col("code"), col("v")))), x => x("v")).as("lutv"))
    // the LUT attaches AFTER the cid join, keyed on probe_id — through
    // the cid join each probe's 1-KB LUT would ship once per probed
    // (probe, cid) row, an nprobe-fold duplication on the gated side;
    // joined here it rides once per probe (the rerank-join pattern)
    val base = IndexStore.data(s, path, Some(probedCids))
      .join(sizeGatedSide(s, probed, probedRows, 32L), Seq("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .join(sizeGatedSide(s, lutArr, nProbes,
        16L + 8L * shape.m * shape.k), Seq("probe_id"))
    val codesArr =
      if (packed) col("codes")
      else array((0 until shape.m).map(m => col(s"c$m")): _*)
    val adc = graft.functions.VectorExpressions.pqAdc(
      codesArr, col("lutv"), shape.k) / col("xnorm")
    val candd = base.withColumn("adc", adc)
      .withColumn("ark", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("adc"), asc("vec_id"))))
      .where(col("ark") <= cand)
      .select("probe_id", "vec_id", "label")
    // exact rerank: full vectors for cand rows per probe only
    candd
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(sizeGatedSide(s, probes, nProbes, shape.dim.toLong * 8 + 80),
        Seq("probe_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .withColumn("rank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("cosine"), asc("vec_id"))).cast(LongType))
      .where(col("rank") <= k)
      .select("probe_id", "vec_id", "label", "cosine", "rank")
      .orderBy("probe_id", "rank")
  }

  /** IVF search, shared with SimilaritySpec for the recall assertion. */
  def annIvf(s: SparkSession, dir: String, probeId: Long, k: Int,
      nprobe: Int): DataFrame =
    annIvfOver(s, dir, ivfIndexPath(s, dir), probeId, k, nprobe)

  /** Same probe against an explicit index directory (shared by the
    * build-once and incrementally-maintained indexes). */
  def annIvfOver(s: SparkSession, dir: String, indexPath: String,
      probeId: Long, k: Int, nprobe: Int): DataFrame =
    annIvfFilteredOver(s, dir, indexPath, probeId, k, nprobe, lit(true))

  /** Pre-filtered ANN (q_sim_ann_filtered): the predicate narrows the
    * candidate set AFTER partition pruning and BEFORE the rerank, so
    * its cost is the probed clusters only. */
  def annIvfFiltered(s: SparkSession, dir: String, probeId: Long, k: Int,
      nprobe: Int, predicate: Column): DataFrame =
    annIvfFilteredOver(s, dir, ivfIndexPath(s, dir), probeId, k, nprobe,
      predicate)

  private def annIvfFilteredOver(s: SparkSession, dir: String,
      indexPath: String, probeId: Long, k: Int, nprobe: Int,
      predicate: Column): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val centroids = IndexStore.centroidsAt(s, indexPath)
    // probe: nearest nprobe centroids (tiny — resolved driver-side)
    val probeVec = emb.where(col("vec_id") === probeId)
      .select(col("embedding").as("pv"), norm(col("embedding")).as("pn"))
    val probeCids = centroids.crossJoin(broadcast(probeVec))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .orderBy(desc("sim"), asc("cid"))
      .limit(nprobe)
      .select("cid").collect().map(_.getLong(0)).toSeq
    // partition-pruned index read: only the probed cids' partitions
    // survive the file prune (IndexStore.data through the Delta scan)
    IndexStore.data(s, indexPath, Some(probeCids))
      .where(col("vec_id") =!= probeId)
      .where(predicate)
      .crossJoin(broadcast(probeVec))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .select("vec_id", "label", "cosine")
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Two-level ANN search (q_sim_ann_two_level body; shared with
    * SimilaritySpec): the probe scores k1 super-cells, then ONLY the
    * top-`superProbes` supers' children — O(k1 + s·nlist/k1) dots per
    * probe instead of O(nlist) — then the standard partition-pruned
    * scan + exact rerank of the nprobe winners. Both ranking stages
    * are deterministic (desc sim, asc id), so the DuckDB oracle
    * replays the identical route. */
  def annIvfTwoLevel(s: SparkSession, dir: String, probeId: Long, k: Int,
      nprobe: Int, superProbes: Int): DataFrame = {
    val indexPath = ivfTwoLevelIndexPath(s, dir)
    val emb = load(s, dir, "embeddings")
    val probeVec = emb.where(col("vec_id") === probeId)
      .select(col("embedding").as("pv"), norm(col("embedding")).as("pn"))
    val topSupers = IndexStore.superCentroidsAt(s, indexPath)
      .crossJoin(broadcast(probeVec))
      .withColumn("ssim", dot(col("cv"), col("pv")))
      .orderBy(desc("ssim"), asc("scid"))
      .limit(superProbes)
      .select("scid").collect().map(_.getLong(0)).toSeq
    val probeCids = IndexStore.routedCentroidsAt(s, indexPath)
      .where(col("scid").isInCollection(topSupers))
      .crossJoin(broadcast(probeVec))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .orderBy(desc("sim"), asc("cid"))
      .limit(nprobe)
      .select("cid").collect().map(_.getLong(0)).toSeq
    IndexStore.data(s, indexPath, Some(probeCids))
      .where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeVec))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .select("vec_id", "label", "cosine")
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** k-NN join through the TWO-LEVEL route (q_knn_join_two_level
    * body): the coarse stage — the join's O(probes × nlist) arithmetic
    * at production cell counts — ranks k1 supers per probe, then ONLY
    * the top-`superProbes` supers' children, before the identical
    * pruned-scan + per-probe rerank tail as [[knnJoin]]. The super
    * relation broadcasts unconditionally by CONSTRUCTION: k1 ≈ √nlist
    * keeps it ~√nlist smaller than the centroid relation the flat
    * join must gate (nlist=10⁶ × dim 512 → supers ~4 MB vs centroids
    * ~4 GB). Both ranking stages deterministic; the oracle replays the
    * full two-stage route per probe. */
  def knnJoinTwoLevel(s: SparkSession, dir: String, k: Int,
      nprobe: Int, superProbes: Int,
      probeModulus: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = load(s, dir, "embeddings")
    val indexPath = ivfTwoLevelIndexPath(s, dir)
    val probes = emb.where(col("vec_id") % probeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        norm(col("embedding")).as("pn"))
    val routedTop = probes
      .crossJoin(broadcast(IndexStore.superCentroidsAt(s, indexPath)
        .select(col("scid"), col("cv").as("scv"))))
      .withColumn("ssim", dot(col("scv"), col("pv")))
      .withColumn("srk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("ssim"), asc("scid"))))
      .where(col("srk") <= superProbes)
      .select(col("probe_id"), col("scid"), col("pv"), col("pn"))
    val probed = routedTop
      .join(IndexStore.routedCentroidsAt(s, indexPath)
        .select("scid", "cid", "cv"), Seq("scid"))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .withColumn("crk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("sim"), asc("cid"))))
      .where(col("crk") <= nprobe)
      .select(col("probe_id"), col("cid"), col("pv"), col("pn"))
    // identical tail to knnJoin: static prune on the probed cid union,
    // size-gated probe side, pairwise cosine, per-probe rerank
    val cidCounts = probed.groupBy("cid").count().collect()
    val probedCids = cidCounts.map(_.getLong(0)).toSeq
    val probedRows = cidCounts.map(_.getLong(1)).sum
    val probeSide = sizeGatedSide(s, probed, probedRows, Dim.toLong * 8 + 80)
    IndexStore.data(s, indexPath, Some(probedCids))
      .join(probeSide, Seq("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .withColumn("rank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("cosine"), asc("vec_id"))).cast(LongType))
      .where(col("rank") <= k)
      .select("probe_id", "vec_id", "label", "cosine", "rank")
      .orderBy("probe_id", "rank")
  }

  /** k-NN join over the IVF index (q_knn_join body; shared with
    * SimilaritySpec). */
  def knnJoin(s: SparkSession, dir: String, k: Int,
      nprobe: Int, probeModulus: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = load(s, dir, "embeddings")
    val indexPath = ivfIndexPath(s, dir)
    val centroids = IndexStore.centroidsAt(s, indexPath)
    val nlist = IndexStore.relRowCount(s, indexPath, IndexStore.CentroidRel)
      .getOrElse(-1L)
    val probes = emb.where(col("vec_id") % probeModulus === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        norm(col("embedding")).as("pn"))
    val probed = probes.crossJoin(gatedCentroidSide(s, centroids, nlist, Dim))
      .withColumn("sim", dot(col("cv"), col("pv")))
      .withColumn("crk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("sim"), asc("cid"))))
      .where(col("crk") <= nprobe)
      .select(col("probe_id"), col("cid"), col("pv"), col("pn"))
    // static partition prune on the UNION of probed cids: the driver
    // list is O(#cids) ids, never vectors. ONE aggregation yields both
    // the cid list (for the prune) and the probe-row count (for the
    // broadcast size gate below).
    val cidCounts = probed.groupBy("cid").count().collect()
    val probedCids = cidCounts.map(_.getLong(0)).toSeq
    val probedRows = cidCounts.map(_.getLong(1)).sum
    // size-gate the probe-side broadcast: every probed row carries a
    // Dim-wide vector, and the probe relation is (probe fraction ×
    // corpus) × nprobe rows — at a 10% fraction on a 100× corpus that
    // is millions of vector-bearing rows, past any broadcast threshold
    // and an executor-OOM shape if hinted unconditionally (the index
    // side is already partitioned by cid, so the fallback shuffle
    // moves only the probe rows).
    val probeSide = sizeGatedSide(s, probed, probedRows, Dim.toLong * 8 + 80)
    IndexStore.data(s, indexPath, Some(probedCids))
      .join(probeSide, Seq("cid"))
      .where(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .withColumn("rank", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("cosine"), asc("vec_id"))).cast(LongType))
      .where(col("rank") <= k)
      .select("probe_id", "vec_id", "label", "cosine", "rank")
      .orderBy("probe_id", "rank")
  }

  /** Streaming ANN ingest with BOUNDED state: each micro-batch is
    * assigned to the index's CURRENT centroids inside `foreachBatch`
    * and appended to a parquet sink, so per-trigger state and work are
    * O(batch) — never O(all vectors ever streamed), which is what an
    * `OutputMode.Complete` global groupBy costs on a firehose.
    * Centroids are re-read per batch, so a mid-stream re-train routes
    * subsequent batches against the re-centered set.
    *
    * With `maintain` set, this is the streaming face of the batch
    * drift policy ([[graft.operators.IvfMaintenance]]): each batch's
    * per-cid assignment counts feed `recordAppend` and the per-cid
    * re-train trigger is evaluated after every micro-batch — a
    * streamed overload re-centers its hot centroids while the stream
    * is still running. Callers against a SHARED index whose centroids
    * an oracle replays must leave it false.
    *
    * Returns the query's progress events so callers can pin the
    * bounded-state property (no stateful operators in the plan). */
  /** Shared scaffolding for the vector-firehose foreachBatch runners:
    * fresh sink, cloned session, tmpfs checkpoint (as
    * EventsStream.runToMemory), run-to-drain, checkpoint cleanup. */
  private def runVecStream(s: SparkSession, feedDir: String,
      sinkDir: String, name: String)(body: (DataFrame, Long) => Unit)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val sinkFile = new java.io.File(sinkDir)
    if (sinkFile.exists())
      org.apache.commons.io.FileUtils.deleteDirectory(sinkFile)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val shm = new java.io.File("/dev/shm")
    val ckBase = if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    val ck = java.nio.file.Files.createTempDirectory(
      ckBase.toPath, s"graft_ck_$name").toFile
    val q = graft.streaming.VecsStream.readFeed(ss, feedDir)
      .writeStream
      .queryName(name)
      .option("checkpointLocation", ck.getAbsolutePath)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id) }
      .start()
    try {
      q.processAllAvailable()
      q.recentProgress.toSeq
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ck)
    }
  }

  def streamAnnIngest(s: SparkSession, feedDir: String, indexPath: String,
      sinkDir: String, name: String, maintain: Boolean = false,
      dim: Int = Dim,
      split: Option[graft.operators.IvfMaintenance.SplitPolicy] = None,
      compact: Option[graft.operators.IvfMaintenance.CompactPolicy] = None)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    require(split.isEmpty || maintain,
      "auto-split consumes the occupancy counters — maintain must be on")
    require(compact.isEmpty || maintain,
      "auto-compact runs in the maintenance loop — maintain must be on")
    // Snapshot-gated per-stream cache (r16, same discipline as
    // streamPqIngest): the table VERSION is re-resolved every trigger
    // (one driver-side log listing), the centroid/routing reads and
    // log-stats scalars re-run only when a commit moved the table.
    // Maintenance commits (appendBatch / retrain / split / compact)
    // bump the version, so the maintain loop re-reads per trigger
    // exactly as before; the read-only ingest stops paying redundant
    // Delta metadata scans per batch.
    var gatedVer: Option[Long] = null
    var gCent: DataFrame = null
    var gNlist = -1L
    var gTwoLevel = false
    var gSup: DataFrame = null
    var gRouted: DataFrame = null
    def refreshGated(bs: SparkSession): Unit = {
      val v = IndexStore.versionOf(bs, indexPath)
      if (gatedVer != null && v.nonEmpty && v == gatedVer) return
      Seq(gCent, gSup, gRouted).filter(_ != null)
        .foreach(_.unpersist(false))
      gSup = null; gRouted = null
      // persist only when the layout is VERSIONED: an unversioned
      // (plain-parquet) layout refreshes every trigger, so caching
      // would be a pure persist/unpersist cycle per batch the
      // pre-r16 uncached path never paid (ADVICE r16)
      def cached(df: DataFrame): DataFrame =
        if (v.nonEmpty) df.persist() else df
      gCent = cached(IndexStore.centroidsAt(bs, indexPath))
      // the centroid relation's row count comes from log stats (zero
      // data IO) and size-gates the assignment's broadcast per batch
      // — at production nlist the gate flips to the shuffle shape
      gNlist = IndexStore.relRowCount(bs, indexPath,
        IndexStore.CentroidRel).getOrElse(-1L)
      // a TWO-LEVEL table (live super-centroid relation) assigns
      // through the hierarchy — O(batch·(k1 + w·nlist/k1)) dots
      // instead of O(batch·nlist); detected from log stats per
      // trigger, so an index upgraded to two-level mid-stream routes
      // hierarchically from the next batch on
      gTwoLevel = IndexStore.isDeltaTable(indexPath) &&
        IndexStore.relRowCount(bs, indexPath,
          IndexStore.SuperCentroidRel).exists(_ > 0)
      if (gTwoLevel) {
        gSup = cached(IndexStore.superCentroidsAt(bs, indexPath))
        gRouted = cached(IndexStore.routedCentroidsAt(bs, indexPath))
      }
      gatedVer = v
    }
    try runVecStream(s, feedDir, sinkDir, name) { (batch, _) =>
        val bs = batch.sparkSession
        refreshGated(bs)
        val cent = gCent
        val nlist = gNlist
        val twoLevel = gTwoLevel
        // ONE definition of the nearest-centroid rule (assignTo). The
        // v2 feed carries the vector's real label; spec-built feeds
        // without the column read it as null — coalesce so assignTo
        // always sees one (this sink stores only vec_id/cid either way)
        val labeled =
          batch.withColumn("label", coalesce(col("label"), lit(0)))
        val assigned = (if (twoLevel)
          assignTwoLevel(labeled, gSup, gRouted)
        else assignTo(labeled, cent, nlist, dim))
          .withColumn("cid", col("cid").cast(LongType))
          .select("vec_id", "label", "cid", "embedding")
        if (maintain) {
          // one computation of the batch assignment feeds the sink
          // append, the index append, and the per-cid counters
          assigned.persist()
          try {
            assigned.select("vec_id", "cid").write.mode("append")
              .parquet(sinkDir)
            // the ingested vectors land in the index's cid partitions
            // WITH their counter rows in the same commit
            // (IvfMaintenance.appendBatch) — so a fired re-center
            // aggregates over data that INCLUDES them, and a crash
            // mid-batch leaves neither rows nor counts
            graft.operators.IvfMaintenance.appendBatch(bs, indexPath,
              assigned.select("vec_id", "label", "embedding", "cid"),
              assigned.groupBy("cid").count()
                .withColumnRenamed("count", "rows"))
            graft.operators.IvfMaintenance.maybeRetrain(bs, indexPath, dim)
            // the auto-wired skew remedy: a cell the ingest fattened
            // past the rerank budget splits BETWEEN micro-batches (one
            // atomic commit per fat cell; the next batch assigns
            // against the patched centroid set automatically — the
            // loop re-reads centroids per trigger)
            split.foreach(p => graft.operators.IvfMaintenance
              .maybeSplit(bs, indexPath, dim, p))
            // the small-file remedy: cells the stream has fragmented
            // past the file budget compact BETWEEN micro-batches —
            // metadata-only qualification, one dataChange=false commit
            // over exactly the fat cells, no commit in steady state
            compact.foreach(p => graft.operators.IvfMaintenance
              .maybeCompactData(bs, indexPath, p))
          } finally assigned.unpersist()
        } else assigned.select("vec_id", "cid").write.mode("append")
          .parquet(sinkDir)
    } finally Seq(gCent, gSup, gRouted).filter(_ != null)
      .foreach(_.unpersist(false))
  }

  /** Streaming PQ ingest (q_stream_pq_ingest body; shared with
    * SimilaritySpec): each micro-batch of arriving vectors is coarse-
    * assigned to the CURRENT broadcast centroids AND encoded to PqM
    * one-byte codes against the CURRENT stored codebooks, then appended
    * to a parquet sink — per-trigger state and work are O(batch), zero
    * stateful operators. The sink row carries the FULL index shape
    * (vec_id, cid, label, xnorm, c0..c7 as bytes), so streamed rows
    * are directly appendable into the PQ index's cid partitions — the
    * streaming face of the same ingest the batch incremental builder
    * runs. */
  /** Mid-stream drift remedy for [[streamPqIngest]]: when the per-batch
    * drift trigger fires (monitor mode), the ingest loop runs the
    * [[pqRetrainAndReEncode]] escape hatch BETWEEN micro-batches over
    * the caller-supplied view of the CURRENT corpus (typically the base
    * corpus unioned with the `<sink>_vecs` ledger the heal mode
    * maintains) and its vec_id→cid map. Subsequent batches encode
    * against the NEW codebooks automatically — the loop re-reads
    * codebooks per batch, the snapshot-refresh discipline of the
    * reference's schema provider (crates/datafusion/src/
    * schema_provider.rs:83-118). */
  final case class PqHeal(
      corpus: SparkSession => DataFrame,
      cids: SparkSession => DataFrame)

  def streamPqIngest(s: SparkSession, feedDir: String, pqPath: String,
      ivfPath: String, sinkDir: String, name: String,
      monitor: Boolean = false, packed: Boolean = false,
      heal: Option[PqHeal] = None, appendToIndex: Boolean = false,
      shape: PqShape = DefaultPqShape,
      compact: Option[graft.operators.IvfMaintenance.CompactPolicy] = None)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    require(heal.isEmpty || monitor,
      "heal consumes the drift trigger — monitor must be on")
    require(compact.isEmpty || appendToIndex,
      "auto-compact targets the index table — appendToIndex must be on")
    // per-batch drift log beside the sink (monitor mode); the baseline
    // is the build-time constant, read once on the driver — and
    // RE-READ after a heal (the retrain refreshed it)
    val driftDir = sinkDir + "_drift"
    // heal mode's corpus ledger: every arriving vector appends here
    // BEFORE its encode, so a heal inside the same batch retrains on a
    // corpus that includes the batch that fired
    val vecsDir = sinkDir + "_vecs"
    for (d <- Seq(monitor -> driftDir, heal.isDefined -> vecsDir)
         if d._1) {
      val df = new java.io.File(d._2)
      if (df.exists()) org.apache.commons.io.FileUtils.deleteDirectory(df)
    }
    var baseline =
      if (monitor) IndexStore.baselineAt(s, pqPath) else 0.0
    // Snapshot-gated per-stream caches (r16): every trigger re-resolves
    // the two tables' VERSIONS (one driver-side log listing each — the
    // per-batch snapshot-refresh discipline is unchanged), but the
    // centroid/codebook reads, their executor-side persist, and the
    // derived scalars (nlist, construction tag) re-run only when a
    // commit actually MOVED a table — exactly when a re-read can see
    // anything new (the heal retrain and appendToIndex commits bump the
    // version, so they re-read as before). Plain-parquet
    // layouts have no version: versionOf answers None and every batch
    // re-reads — the pre-r16 behavior. Steady-state triggers skip the
    // redundant Delta metadata scans, the dominant per-batch cost on a
    // tiny batch (and at ANY batch size they are pure overhead).
    var gatedIvfVer: Option[Long] = null
    var gatedPqVer: Option[Long] = null
    var gCent: DataFrame = null
    var gNlist = -1L
    var gCodebook: DataFrame = null
    var gResidual = false
    def refreshGated(bs: SparkSession): Unit = {
      val iv = IndexStore.versionOf(bs, ivfPath)
      if (gatedIvfVer == null || iv.isEmpty || iv != gatedIvfVer) {
        if (gCent != null) gCent.unpersist(false)
        // unversioned (plain-parquet) layouts refresh every trigger —
        // persisting would be pure per-batch cache churn (ADVICE r16)
        gCent = IndexStore.centroidsAt(bs, ivfPath)
        if (iv.nonEmpty) gCent = gCent.persist()
        gNlist = IndexStore.relRowCount(bs, ivfPath,
          IndexStore.CentroidRel).getOrElse(-1L)
        gatedIvfVer = iv
      }
      val pv = IndexStore.versionOf(bs, pqPath)
      if (gatedPqVer == null || pv.isEmpty || pv != gatedPqVer) {
        if (gCodebook != null) gCodebook.unpersist(false)
        gCodebook = IndexStore.codebookAt(bs, pqPath)
        if (pv.nonEmpty) gCodebook = gCodebook.persist()
        // the index's stored construction decides what the batch
        // encodes (raw vectors, or residuals against the assigned
        // centroid) — read from the table's meta tag, never assumed,
        // so a stream pointed at a residual index can never mix raw
        // codes in
        gResidual = constructionOf(bs, pqPath) == ConstructionResidual
        gatedPqVer = pv
      }
    }
    try runVecStream(s, feedDir, sinkDir, name) { (batch, batchId) =>
      val bs = batch.sparkSession
      refreshGated(bs)
      val cent = gCent
      val codebook = gCodebook
      val nlist = gNlist
      val residual = gResidual
      // ONE definition of the nearest-centroid rule (assignTo); the
      // feed carries the vector's real label, stored in the sink row
      val cids = assignTo(batch, cent, nlist, shape.dim)
        .withColumn("cid", col("cid").cast(LongType))
        .select("vec_id", "cid")
      // packed mode appends ONE array<byte> codes column (the wide-M
      // production layout) — encoded packed at the source, no
      // per-column intermediate ever exists in the stream
      val codeCols =
        if (packed) Seq(col("codes"))
        else (0 until shape.m).map(m => col(s"c$m"))
      // the encode feeds BOTH the sink and (in monitor mode) the drift
      // check — persist so the micro-batch computes it once
      if (monitor) batch.persist()
      try {
        if (heal.isDefined)
          batch.select("vec_id", "label", "embedding")
            .write.mode("append").parquet(vecsDir)
        // residual construction: quantize x - centroid(x); the stored
        // norm stays the ORIGINAL vector's (normOf), the cosine rule
        val toEncode =
          if (residual) residualsAgainst(batch, cids, cent, shape.dim)
          else batch
        val encoded = pqEncode(toEncode, codebook, cids, shape,
          packed = packed, normOf = Some(batch))
        // appendToIndex writes `encoded` twice (sink + index append) —
        // persist so the full encode plan (posexplode + broadcast join
        // + groupBy over the batch) runs once per micro-batch
        if (appendToIndex) encoded.persist()
        try {
          encoded
            .select((col("vec_id") +: col("cid") +: col("label") +:
              col("xnorm") +: codeCols): _*)
            .write.mode("append").parquet(sinkDir)
          // the production ingest: streamed rows land in the index's cid
          // partitions as ONE append commit (the same append the batch
          // incremental path does)
          if (appendToIndex)
            IndexStore.append(bs, pqPath, Seq(IndexStore.DataRel ->
              encoded.select((col("vec_id") +: col("cid") +:
                col("label") +: col("xnorm") +: codeCols): _*)))
        } finally if (appendToIndex) encoded.unpersist()
        // same small-file remedy as the IVF loop: one codes file per
        // touched cid per micro-batch fragments the index; compact the
        // fat cells between batches (metadata-only steady-state check)
        compact.foreach(p => graft.operators.IvfMaintenance
          .maybeCompactData(bs, pqPath, p))
        if (monitor) {
          // the streaming face of the PQ drift policy: each arriving
          // micro-batch is measured against the build-time baseline —
          // O(batch) work, the trigger that says the frozen codebooks
          // stopped describing the firehose
          // the drift slice must live in the SAME space as the stored
          // baseline: residual tables measure residual quantization
          val rep = graft.operators.PqMaintenance.driftReportFromBaseline(
            bs, pqPath, baseline,
            toEncode.select("vec_id", "embedding"), shape = shape)
          // (the pre-Delta hatch also had to re-arm a crash inside its
          // inter-swap window here — that window no longer exists: the
          // retrain is one atomic commit)
          val healing = heal.isDefined && rep.retrain
          import bs.implicits._
          Seq((batchId, rep.appendedAvgDistortion, rep.ratio,
            rep.retrain, healing))
            .toDF("batch_id", "distortion", "ratio", "retrain", "healed")
            .coalesce(1).write.mode("append").parquet(driftDir)
          if (healing) {
            // the hatch retrains in the index's OWN space: a residual
            // table's heal derives the residual corpus itself (the
            // caller's PqHeal supplies raw vectors + cids either way)
            // and keeps the stored norm the ORIGINAL vector's
            val h = heal.get
            val corpus = h.corpus(bs)
            val hCids = h.cids(bs)
            if (residual)
              pqRetrainAndReEncode(bs,
                residualsAgainst(corpus, hCids, cent, shape.dim),
                pqPath, hCids,
                shape, packed = packed,
                construction = ConstructionResidual,
                normOf = Some(corpus))
            else
              pqRetrainAndReEncode(bs, corpus, pqPath, hCids,
                shape, packed = packed)
            // the retrain refreshed the persisted baseline; later
            // batches must be judged against the NEW generation
            baseline = IndexStore.baselineAt(bs, pqPath)
          }
        }
      } finally if (monitor) batch.unpersist()
    } finally {
      if (gCent != null) gCent.unpersist(false)
      if (gCodebook != null) gCodebook.unpersist(false)
    }
  }

  /** Brute-force top-k (for the spec's recall comparison). */
  def bruteTopK(s: SparkSession, dir: String, probeId: Long,
      k: Int): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val probe = emb.where(col("vec_id") === probeId)
      .select(col("embedding").as("pv"), norm(col("embedding")).as("pn"))
    emb.where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("cosine",
        dot(col("embedding"), col("pv")) /
          (norm(col("embedding")) * col("pn")))
      .select("vec_id", "cosine")
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }
}
