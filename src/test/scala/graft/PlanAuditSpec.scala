package graft

import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that matter at 100 TB must be
  * visible in the optimized plan, not assumed — filters reach the
  * parquet scan, small dims broadcast, hot paths stay inside
  * whole-stage codegen, and Delta scans read only pruned files.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE in-place so codegen annotations appear
    df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
      "\n" + df.queryExecution.executedPlan.toString
  }

  /** Every `FileSourceScanExec` in an executed plan. AQE wraps the final
    * plan in adaptive/stage nodes whose physical subtree is not in
    * `children` — unwrap explicitly. */
  private def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: QueryStageExec => allScans(q.plan)
  }.flatten

  test("q_range_join: banded rewrite is an equi-join, never nested-loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate fell back to a nested-loop join")
    assert(!p.contains("CartesianProduct"))
    // the bin key must be part of an equi-join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"))
  }

  test("q_meta_count / q_meta_minmax: metadata answers, no data-file scan") {
    for (name <- Seq("q_meta_count", "q_meta_minmax")) {
      val df = SparkEntry.queries(name)(spark, sf)
      // the returned frame is literal rows computed from log stats —
      // its plan must not touch any parquet data file
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("FileScan") && !p.contains("BatchScan"),
        s"$name plan reads files:\n$p")
    }
  }

  test("q_show_partitions: the listing is served from log metadata, " +
    "no data-file scan") {
    val df = SparkEntry.queries("q_show_partitions")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("parquet"),
      s"SHOW PARTITIONS plan touches parquet data:\n$p")
  }

  test("q_filter: predicates pushed to the parquet scan") {
    val p = plan("q_filter")
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity,45.0)") ||
      p.contains("GreaterThan(l_quantity"), p.take(2000))
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
  }

  test("q_project: only referenced columns read (column pruning)") {
    val p = plan("q_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey"))
    assert(!readSchema.contains("o_orderdate"),
      s"unpruned read schema: $readSchema")
  }

  test("q_join_broadcast: dimension join broadcasts (no fact shuffle)") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q1_agg: aggregation is partial+final inside WholeStageCodegen") {
    val p = plan("q1_agg")
    assert(p.contains("codegen id"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("q_sim_topk: brute-force scan stays codegen'd, probe broadcast") {
    val p = plan("q_sim_topk")
    assert(p.contains("codegen id"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), "top-k should not global sort")
  }

  test("delta residual filter is pushed into the assembled parquet scan") {
    val snap = graft.delta.DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.rangedTable(spark, sf))
    val df = snap.readWhere(org.apache.spark.sql.functions.col("o_orderkey") <= 100)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters:") &&
      p.contains("LessThanOrEqual(o_orderkey,100)"), p.take(3000))
  }

  test("delta partitioned scan: file list pruned before parquet read") {
    val snap = graft.delta.DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.partitionedTable(spark, sf))
    val all = snap.allFiles.count()
    val pruned = graft.delta.scan.DeltaScan.prunedFiles(snap,
      Seq(org.apache.spark.sql.functions.col("o_orderstatus") === "F")).count()
    assert(pruned < all, s"pruned=$pruned all=$all")
    // and the physical plan reads exactly the pruned file count, with
    // the partition column coming from the scan itself (a partition
    // filter on it, no join attaching it)
    val df = snap.readWhere(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    val scan = allScans(df.queryExecution.executedPlan) match {
      case Seq(s) => s
      case other => fail(s"expected one file scan, got ${other.size}:\n" +
        p.take(3000))
    }
    assert(scan.partitionFilters.exists(
      _.references.exists(_.name == "o_orderstatus")),
      s"no PartitionFilters on o_orderstatus:\n${p.take(3000)}")
    assert(scan.metrics("numFiles").value == pruned,
      s"read ${scan.metrics("numFiles").value} files, pruned list $pruned")
  }

  test("format_read: DSv2 BatchScan over the log-backed file index, " +
      "filters pushed to parquet") {
    val p = plan("format_read")
    assert(p.contains("BatchScan"), p.take(3000))
    assert(p.contains("GraftDeltaFileIndex"), p.take(3000))
    assert(p.contains("LessThanOrEqual(o_orderkey,1000)"), p.take(3000))
    assert(p.contains("ColumnarToRow"), "vectorized parquet read expected")
    // the composed read of an unpartitioned table scans the same index
    val snap = graft.delta.DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.rangedTable(spark, sf))
    val composed = snap.readWhere(
      org.apache.spark.sql.functions.col("o_orderkey") <= 1000)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(composed.contains("Location: GraftDeltaFileIndex"),
      composed.take(3000))
  }

  test("DSv2 scan: stats skipping prunes file splits at plan time") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.col
    val ranged = graft.queries.DeltaQueries.rangedTable(spark, sf)
    def filesRead(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.partitions.flatten.collect {
          case f: FilePartition => f.files.length
        }.sum
      }.getOrElse(fail("no BatchScanExec in plan"))
    }
    val all = spark.read.format("graftdelta").option("path", ranged).load()
    val filtered = all.where(col("o_orderkey") <= 1000)
    val nAll = filesRead(all)
    val nFiltered = filesRead(filtered)
    assert(nFiltered < nAll,
      s"stats skipping did not prune file splits: $nFiltered of $nAll")
  }

  test("DSv2 scan: partition filters prune via the file index") {
    val part = graft.queries.DeltaQueries.partitionedTable(spark, sf)
    val df = spark.read.format("graftdelta").option("path", part).load()
      .where(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("o_orderstatus"),
      p.take(2000))
    val expected = graft.queries.T.load(spark, sf, "orders")
      .where(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      .count()
    assert(df.count() == expected)
  }

  test("small-DV scan filters via broadcast anti-join, no Scala UDF") {
    val snap = graft.delta.DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.dvTable(spark, sf))
    val df = snap.read
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
      "\n" + df.queryExecution.executedPlan.toString
    assert(!p.contains("UDF"), "DV filter fell back to the UDF path:\n" +
      p.take(3000))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(3000))
  }

  test("q_ngram_jaccard: shingling stays codegen (no interpreted lambdas)") {
    // Spark evaluates higher-order lambdas (transform/filter/aggregate)
    // interpreted — the round-3 formulation lost 3x to exactly that.
    // Guard the hot path: the jaccard plan must contain no lambda nodes.
    val p = plan("q_ngram_jaccard")
    for (bad <- Seq("transform(", "ArrayTransform", "ArrayFilter",
        "array_distinct"))
      assert(!p.contains(bad), s"interpreted lambda '$bad' in plan")
  }

  test("q_contamination: eval shingle set broadcasts (corpus never shuffles for the join)") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_bloom_dedup: codegen'd bloom probe, no UDF, no full-batch join") {
    val p = plan("q_bloom_dedup")
    // the probe must be the catalyst might_contain expression (codegen),
    // never a ScalaUDF wrapping a driver-built sketch
    assert(p.contains("might_contain"), p.take(3000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "bloom probe fell back to a UDF")
    // the exact verify joins only the bloom-positive sliver: both join
    // inputs sit under a might_contain filter, so the anti-join branch
    // must appear together with the filter (not a bare batch scan)
    assert(p.contains("LeftAnti") || p.contains("left_anti"), p.take(3000))
  }

  test("DML/MERGE file filter plans as broadcast semi-join, not In-literal") {
    // a MERGE touching 10⁶ files must not build a 10⁶-element In
    // expression tree on the driver — the provenance restriction has to
    // be a broadcast hash relation
    import graft.delta.scan.DeltaScan
    val snap = graft.delta.DeltaTable.forPath(spark,
      graft.queries.DeltaQueries.rangedTable(spark, sf))
    val keyed = DeltaScan.buildWithFileKey(snap)
    val keys = keyed.select(DeltaScan.FileKeyColumn).distinct()
      .limit(2).collect().map(_.getString(0)).toSeq
    val df = DeltaScan.whereFileKeyIn(keyed, keys)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      p.take(3000))
    assert(!p.contains("INSET") && !p.contains(s" IN ("),
      "file-key filter compiled to an In-literal:\n" + p.take(3000))
  }

  test("q_topk: TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_mixture_cap: per-task truncation feeds the rank window") {
    // the window must rank the k-per-(task,source) survivors, not the
    // raw corpus — a bare partitionBy(source) window would sort a
    // dominant source in one task
    val p = plan("q_mixture_cap")
    assert(p.contains("MapPartitions"),
      "missing the sorted-stream truncation stage:\n" + p.take(3000))
  }

  test("q_quality_filter: per-source cutoffs broadcast (corpus never shuffles for the join)") {
    val p = plan("q_quality_filter")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "per-source cutoff join shuffled the corpus:\n" + p.take(3000))
  }

  test("q_near_dedup: bucket build is one exchange + sorted stream, " +
      "no count-prepass join") {
    // the capped-bucket stage must be the single-shuffle capGroups
    // pass: a rewrite back to count-prepass + semi-join (two extra
    // shuffles of the band relation) or to uncapped collect_list (hub
    // bucket OOM at scale) would show up here
    val p = plan("q_near_dedup")
    assert(p.contains("MapPartitions"),
      "missing the sorted-stream bucket cap stage:\n" + p.take(3000))
    assert(!p.contains("LeftSemi"),
      "bucket cap regressed to the count-prepass semi-join:\n" +
        p.take(3000))
    assert(!p.contains("collect_list"),
      "bucket member lists built by unbounded collect_list:\n" +
        p.take(3000))
  }

  test("q_bpe_pairs: top-k is TakeOrdered, no global sort of the pairs") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_chunk_dedup: keyed joins only, reassembly stays per-doc") {
    val p = plan("q_chunk_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "chunk flag join is not keyed:\n" + p.take(3000))
    // per-doc reassembly is a hash aggregation on doc_id (spillable,
    // one doc's chunks per row) — not a global window/sort
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(3000))
  }

  test("q_lm_score: count joins keyed on tokens, scalar V broadcasts") {
    val p = plan("q_lm_score")
    // the only product in the plan is the 1-row vocab-size broadcast;
    // bigram->count joins must be keyed (Zipf skew lands in COUNT
    // aggregations, never in pair explosions)
    assert(!p.contains("CartesianProduct"),
      "lm_score plan contains a non-broadcast product:\n" + p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "vocab scalar should broadcast:\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      "bigram count joins are not keyed:\n" + p.take(3000))
    assert(p.contains("HashAggregate"), p.take(3000))
  }

  test("q_dsir_select: 256-bucket models broadcast, corpus never " +
    "shuffles for the model joins") {
    val p = plan("q_dsir_select")
    // a SortMergeJoin on the 256-value bucket key would shuffle the
    // whole candidate token stream onto 256 hot partitions — the
    // models must broadcast instead (they are O(buckets) by design)
    assert(!p.contains("SortMergeJoin"),
      "bucket-model join shuffled the corpus:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"),
      "bucket models should broadcast-join:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "normalizer join must broadcast, not product:\n" + p.take(3000))
  }

  test("q_cdc_chunks: per-doc windows only, keyed dedup join — no " +
    "global sort, no product") {
    val p = plan("q_cdc_chunks")
    // duplicate counting is an equi-join on chunk_hash
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"),
      "chunk dedup join is not keyed:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "cdc_chunks plan contains a product:\n" + p.take(3000))
    // the final orderBy is the only global sort; the window sort must
    // be partitioned by doc_id (hashpartitioning on doc_id upstream)
    assert(p.contains("hashpartitioning(doc_id"),
      "window not partitioned by doc_id:\n" + p.take(3000))
  }

  test("q_semdedup: pairwise stage is a cid equi-join, never all-pairs") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "semdedup pairwise join is not keyed on cid:\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(3000))
  }

  test("q_dpp_join: runtime partition pruning engages on the fact scan") {
    val p = plan("q_dpp_join")
    assert(p.contains("dynamicpruningexpression"),
      "no DynamicPruning on the DSv2 fact scan:\n" + p.take(3000))
    // the dim side stays a broadcast — the pruning values arrive free
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("snap.read star join: runtime partition pruning engages through " +
    "the default read path") {
    // Snapshot.read's file-source scan carries the table's partition
    // columns from its file index, so a star join over the DEFAULT read
    // path (no explicit format("graftdelta")) gets dynamic partition
    // pruning too. The dim's selective predicate is on a non-key
    // column: an equality on the key itself would be inferred onto the
    // fact side as a static partition filter, which makes DPP redundant
    import org.apache.spark.sql.functions._
    val path = graft.queries.DeltaQueries.partitionedTable(spark, sf)
    val fact = graft.delta.DeltaTable.forPath(spark, path).read
    val dim = spark.read.parquet(s"$sf/orders.parquet")
      .where(col("o_orderdate") < "1994-01-01")
      .select(col("o_orderstatus").as("status_key")).distinct()
    val q = fact.join(broadcast(dim),
        fact("o_orderstatus") === dim("status_key"))
      .groupBy(fact("o_orderstatus")).agg(count(lit(1)).as("n"))
    q.collect()
    val p = q.queryExecution.explainString(
      ExplainMode.fromString("formatted")) +
      "\n" + q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      "no DynamicPruning on the snap.read fact scan:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_knn_join: probe broadcast is size-gated — broadcast when " +
    "small, shuffle join on cid when over the threshold") {
    import graft.queries.SimilarityQueries
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.explainString(ExplainMode.fromString("formatted")) +
        "\n" + df.queryExecution.executedPlan.toString
    }
    // default threshold (10 MB): the sf0.001 probe relation is tiny —
    // the gate must keep the broadcast
    val small = planOf(SimilarityQueries.knnJoin(spark, sf, k = 5, nprobe = 4))
    assert(small.contains("BroadcastHashJoin"),
      "small probe relation should broadcast:\n" + small.take(3000))
    // force the gate shut (threshold below any real probe relation):
    // the SAME query must fall back to a shuffle join on cid — the
    // executor-OOM shape an unconditional broadcast hint would take at
    // a 10% probe fraction on a 100x corpus
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val large = planOf(
        SimilarityQueries.knnJoin(spark, sf, k = 5, nprobe = 4))
      assert(large.contains("SortMergeJoin") ||
        large.contains("ShuffledHashJoin"),
        "over-threshold probe relation should shuffle-join on cid:\n" +
          large.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_sim_ann_pq: candidate scan reads codes only (no vector), " +
    "cid partitions pruned") {
    import graft.queries.SimilarityQueries
    val df = SparkEntry.queries("q_sim_ann_pq")(spark, sf)
    df.collect()
    val scans = allScans(df.queryExecution.executedPlan)
    val codeScan = scans.find(_.relation.location.rootPaths
      .exists(_.toString.contains("pq_index")))
      .getOrElse(fail("no FileSourceScan over the PQ codes"))
    // the ADC stage must read EXACTLY the codes + stored norm + output
    // ids + cid — that is the PQ memory bound (8 one-byte codes + one
    // double + one long per row, never a vector)
    val readCols = codeScan.requiredSchema.fieldNames.toSet
    val allowed = Set("vec_id", "label", "xnorm", "cid") ++
      (0 until SimilarityQueries.PqM).map(m => s"c$m")
    assert(readCols.subsetOf(allowed),
      s"ADC scan reads beyond the code columns: ${readCols -- allowed}")
    assert((0 until SimilarityQueries.PqM).forall(m =>
      readCols.contains(s"c$m")), s"missing code columns: $readCols")
    // coarse pruning happened on the FILE INVENTORY before the scan was
    // assembled (the Delta scan path): only the probed pcid partitions'
    // files — strictly fewer than the table holds — reach the reader,
    // and only the data rel (metadata rels never feed the ADC stage)
    assertFilePruned(codeScan, maxPcids = 8)
  }

  /** The Delta-scan replacement for the old `partitionFilters.nonEmpty`
    * pin: file pruning happens on the log's file inventory BEFORE the
    * parquet relation is assembled, so the evidence is the input-file
    * set itself — all under `rel=data`, spanning at most `maxPcids`
    * partitions, and strictly fewer than the table's partitions. */
  private def assertFilePruned(
      scan: org.apache.spark.sql.execution.FileSourceScanExec,
      maxPcids: Int): Unit = {
    val files = scan.relation.location.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/rel=data/")),
      s"scan reads beyond the data rel: ${files.filterNot(
        _.contains("/rel=data/")).take(3).mkString(", ")}")
    val pcidOf = "pcid=(-?\\d+)".r
    val pcids = files.flatMap(f =>
      pcidOf.findFirstMatchIn(f).map(_.group(1).toLong)).toSet
    assert(pcids.nonEmpty && pcids.size <= maxPcids,
      s"expected <= $maxPcids probed pcid partitions, scan covers $pcids")
    val tableDir = new java.io.File(
      files.head.replaceAll("file:", "").split("/rel=data/").head, "rel=data")
    val allPcids = Option(tableDir.listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("pcid="))
    assert(pcids.size < allPcids,
      s"no file pruning: scan covers ${pcids.size} of $allPcids partitions")
  }

  test("q_sim_ann_pq_packed: the packed scan reads one codes array + " +
    "norm, cid partitions pruned") {
    val df = SparkEntry.queries("q_sim_ann_pq_packed")(spark, sf)
    df.collect()
    val scan = allScans(df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths
        .exists(_.toString.contains("pq_index_packed")))
      .getOrElse(fail("no FileSourceScan over the packed PQ codes"))
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols.subsetOf(Set("vec_id", "label", "xnorm", "codes", "cid")),
      s"packed ADC scan reads beyond the packed columns: $readCols")
    assert(readCols.contains("codes"), s"missing codes column: $readCols")
    assertFilePruned(scan, maxPcids = 8)
  }

  test("packed PQ family: filtered + incremental scans read one codes " +
    "array + norm only, cid partitions pruned") {
    for ((query, dirToken) <- Seq(
      ("q_sim_ann_pq_filtered_packed", "pq_index_packed"),
      ("q_sim_ann_pq_incr_packed", "pq_index_incr_packed"),
      ("q_sim_ann_pq_residual", "pq_index_residual"))) {
      val df = SparkEntry.queries(query)(spark, sf)
      df.collect()
      val scan = allScans(df.queryExecution.executedPlan)
        .find(_.relation.location.rootPaths.exists { p =>
          p.toString.contains(dirToken + "/rel=data/")
        })
        .getOrElse(fail(s"$query: no FileSourceScan over $dirToken"))
      val readCols = scan.requiredSchema.fieldNames.toSet
      assert(readCols.subsetOf(
        Set("vec_id", "label", "xnorm", "codes", "cid")),
        s"$query packed scan reads beyond the packed columns: $readCols")
      assert(readCols.contains("codes"), s"$query missing codes: $readCols")
      assertFilePruned(scan, maxPcids = 8)
    }
  }

  test("q_knn_join_pq_packed: the pairwise stage scans the packed codes " +
    "array only, cid-pruned") {
    val df = SparkEntry.queries("q_knn_join_pq_packed")(spark, sf)
    df.collect()
    val codeScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists { p =>
        p.toString.contains("pq_index_packed/rel=data/")
      })
    assert(codeScans.nonEmpty, "no FileSourceScan over the packed codes")
    codeScans.foreach { scan =>
      val readCols = scan.requiredSchema.fieldNames.toSet
      assert(readCols.subsetOf(
        Set("vec_id", "label", "xnorm", "codes", "cid")),
        s"pairwise scan reads beyond the packed columns: $readCols")
      // the pairwise stage scans the data rel only (codebook rows feed
      // the relational LUT through their own tiny rel=codebook scan)
      assert(scan.relation.location.inputFiles
        .forall(_.contains("/rel=data/")))
    }
  }

  test("q_knn_join_pq: the pairwise stage scans codes only, cid-pruned") {
    import graft.queries.SimilarityQueries
    val df = SparkEntry.queries("q_knn_join_pq")(spark, sf)
    df.collect()
    // the CODES relation only: its sibling dirs (the M x K-row
    // codebooks feeding the relational LUT, the coarse centroids)
    // legitimately scan their own tiny files and share the path prefix
    val codeScans = allScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists { p =>
        p.toString.contains("pq_index/rel=data/")
      })
    assert(codeScans.nonEmpty, "no FileSourceScan over the PQ codes")
    // the join's pairwise stage must also never read a vector column
    val allowed = Set("vec_id", "label", "xnorm", "cid") ++
      (0 until SimilarityQueries.PqM).map(m => s"c$m")
    codeScans.foreach { scan =>
      val readCols = scan.requiredSchema.fieldNames.toSet
      assert(readCols.subsetOf(allowed),
        s"pairwise scan reads beyond the code columns: ${readCols -- allowed}")
      assert(scan.relation.location.inputFiles
        .forall(_.contains("/rel=data/")))
    }
  }

  test("Delta index scan: an explicit pcid list prunes the file " +
    "inventory to exactly those partitions") {
    import graft.delta.IndexStore
    val path = graft.queries.SimilarityQueries.ivfIndexPath(spark, sf)
    val cid = graft.delta.IndexStore.centroidsAt(spark, path)
      .select("cid").head.getLong(0)
    val df = IndexStore.data(spark, path, Some(Seq(cid)))
    df.collect()
    val scan = allScans(df.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScan"))
    val files = scan.relation.location.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"/rel=data/pcid=$cid/")),
      s"scan read beyond pcid=$cid: ${files.take(3).mkString(", ")}")
  }

  test("assignTo centroid side is size-gated: broadcast when the " +
    "centroid relation fits, shuffle-replicate nested loop over the " +
    "threshold — value-identical either way") {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    val dim = 4
    val df = (0L until 60L)
      .map(i => (i, i % 3, Seq.tabulate(dim)(d => (i * 7 + d).toDouble)))
      .toDF("vec_id", "label", "embedding")
    val cents = (0L until 6L)
      .map(c => (c, Seq.tabulate(dim)(d => (c * 11 + d).toDouble)))
      .toDF("cid", "cv")
    def shaped(rows: Long) = {
      val out = SimilarityQueries.assignTo(df, cents, rows, dim)
      val collected = out.collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      (collected, out.queryExecution.executedPlan.toString)
    }
    // under the threshold (6 tiny rows): the broadcast shape
    val (underRows, underPlan) = shaped(6L)
    assert(underPlan.contains("BroadcastNestedLoopJoin") ||
      underPlan.contains("BroadcastExchange"),
      "small centroid relation should broadcast:\n" + underPlan.take(2000))
    assert(!underPlan.contains("CartesianProduct"))
    // a claimed production-nlist row count: the gate MUST flip to the
    // shuffle-replicate shape (no broadcast of the centroid side — the
    // executor-OOM prevention this gate exists for)
    val (overRows, overPlan) = shaped(100_000_000L)
    assert(overPlan.contains("CartesianProduct"),
      "over-threshold centroid relation should shuffle-replicate:\n" +
        overPlan.take(2000))
    // same max_by tie rule on both paths: bit-identical assignments
    assert(overRows == underRows,
      s"gated shapes diverge: ${overRows.take(3)} vs ${underRows.take(3)}")
  }

  test("q_temperature_mix: budget table broadcasts, corpus ranks once") {
    val p = plan("q_temperature_mix")
    // per-source budgets join via broadcast; the corpus itself never
    // shuffles for the join (only the per-lang rank window + final sort)
    assert(p.contains("BroadcastHashJoin"),
      "budget table should broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "unexpected product in mixture plan:\n" + p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("q_sim_ann_compact / q_sim_ann_two_level: the probed scan still " +
    "prunes to the nprobe cid partitions of the data rel (compaction " +
    "changed layout only; the hierarchical route feeds the same " +
    "file-inventory prune)") {
    for ((query, dirToken) <- Seq(
      ("q_sim_ann_compact", "ivf_index_compact"),
      ("q_sim_ann_two_level", "ivf_index_two_level"))) {
      val df = SparkEntry.queries(query)(spark, sf)
      df.collect()
      val scan = allScans(df.queryExecution.executedPlan)
        .find(_.relation.location.rootPaths.exists(
          _.toString.contains(dirToken + "/rel=data/")))
        .getOrElse(fail(s"$query: no FileSourceScan over $dirToken"))
      assertFilePruned(scan, maxPcids = 8)
    }
  }
}
