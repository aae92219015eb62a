package graft.delta.log

import org.apache.spark.sql.SparkSession

/** Clustered tables — the Delta `clustering` writer feature (liquid
  * clustering's protocol surface, delta-io PROTOCOL.md "Clustered
  * Table"): the table's clustering columns live in the
  * `delta.clustering` metadata domain, and OPTIMIZE reads them to
  * re-cluster WITHOUT the caller naming columns — the layout policy is
  * table metadata, not a per-job argument, which is what lets a fleet
  * of maintenance jobs keep thousands of tables clustered uniformly.
  * Per the spec the feature is writer-only: clustering is advisory
  * layout (data-skipping quality), never a correctness contract, so
  * legacy readers keep working untouched.
  *
  * At 100 TB the payoff is the same as Z-ORDER's: multi-column
  * locality turns min/max file stats into an effective multi-dimension
  * index, and OPTIMIZE-driven re-clustering keeps that property as
  * ingest appends unclustered files. The domain rides the normal
  * domainMetadata machinery (latest-per-domain replay, checkpoint
  * survival) that row tracking already exercises.
  */
object Clustering {
  final val Feature = "clustering"
  final val Domain = "delta.clustering"

  import Actions.mapper

  /** The clustering-domain action: configuration is
    * `{"clusteringColumns":[["c1"],["c2"]]}` — each inner array a
    * multi-part column path per the spec (single-part only here:
    * clustered tables are unmapped and cluster on top-level columns). */
  def domainJson(cols: Seq[String]): String = {
    val conf = mapper.createObjectNode()
    val arr = conf.putArray("clusteringColumns")
    cols.foreach(c => arr.addArray().add(c))
    CommitWriter.domainMetadataJson(
      Actions.DomainMetadata(Domain, conf.toString, removed = false))
  }

  /** Domain removal tombstone (`ALTER TABLE ... CLUSTER BY NONE`): the
    * table stops being clustered; the feature stays declared, which is
    * harmless (it never obligated readers). */
  def removalJson: String =
    CommitWriter.domainMetadataJson(
      Actions.DomainMetadata(Domain, "", removed = true))

  /** Clustering columns recorded for this table (empty when the table
    * is not clustered). */
  def columnsOf(spark: SparkSession, segment: LogSegment): Seq[String] =
    Replay.domainMetadataFor(spark, segment, Domain).toSeq.flatMap { d =>
      val node = mapper.readTree(d.configuration)
      Option(node.get("clusteringColumns")).toSeq.flatMap { cc =>
        (0 until cc.size()).map { i =>
          val path = cc.get(i)
          (0 until path.size()).map(j => path.get(j).asText())
            .mkString(".")
        }
      }
    }

  /** Shared CLUSTER BY validation (CREATE and ALTER): width cap,
    * partitioning mutual exclusion, schema membership — and the
    * returned names are CANONICALIZED to the schema's exact case, so
    * a `CLUSTER BY (O_CUSTKEY)` records `o_custkey` and the later
    * case-sensitive OPTIMIZE column lookups always resolve. */
  def validate(cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String]): Seq[String] = {
    require(partitionColumns.isEmpty,
      "CLUSTER BY and directory partitioning are mutually exclusive " +
        "(a clustered table's layout is managed by OPTIMIZE)")
    require(cols.size <= 4,
      s"CLUSTER BY supports up to 4 columns, got ${cols.size}")
    val byLower = schema.fields.map(f => f.name.toLowerCase -> f.name).toMap
    val missing = cols.filterNot(c => byLower.contains(c.toLowerCase))
    require(missing.isEmpty,
      s"CLUSTER BY column(s) not in the schema: ${missing.mkString(", ")}")
    val canonical = cols.map(c => byLower(c.toLowerCase))
    val dups = canonical.diff(canonical.distinct).distinct
    require(dups.isEmpty,
      s"CLUSTER BY lists column(s) twice: ${dups.mkString(", ")}")
    canonical
  }

  /** The protocol a clustered table must declare: `clustering` plus its
    * `domainMetadata` dependency (None = already declared). */
  def requiredProtocol(p: Actions.Protocol): Option[Actions.Protocol] = {
    val step = ProtocolSupport.withWriterFeature(p, "domainMetadata")
    val fin = ProtocolSupport.withWriterFeature(
      step.getOrElse(p), Feature)
    fin.orElse(step)
  }
}
