package graft.delta.scan

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.graftshim.Shims.{Attr, Fn, Lit => PLit, PredNode}
import graft.delta.Snapshot

/** File skipping: evaluate a conservative rewrite of the scan predicate
  * against per-file stats (`add.stats` min/max/nullCount JSON) and exact
  * partition values — entirely as a DataFrame filter over the file list,
  * before any data parquet is opened.
  *
  * Mirrors the reference's predicate → kernel translation used for
  * best-effort file pruning (reference: crates/datafusion/src/engine/
  * expressions/to_delta.rs:13-107, declared Inexact at
  * table_provider/delta/mod.rs:83-88): supported leaves prune, anything
  * unknown keeps the file. Like the reference (to_delta.rs:67-85), NOT
  * is pushed down by operator inversion.
  *
  * Works on Spark 4 ColumnNode trees (the Column DSL no longer exposes
  * Catalyst expressions directly).
  */
object StatsSkipping {

  /** Schema of the parsed `stats` JSON for this table. */
  def statsSchema(dataSchema: StructType, partitionCols: Seq[String]): StructType = {
    val eligible = dataSchema.fields.filterNot(f => partitionCols.contains(f.name))
      .filter(f => f.dataType match {
        case _: NumericType | StringType | DateType | BooleanType |
             TimestampType | TimestampNTZType => true
        case _ => false
      })
    StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(eligible.map(f => f.copy(nullable = true)))),
      StructField("maxValues", StructType(eligible.map(f => f.copy(nullable = true)))),
      StructField("nullCount", StructType(eligible.map(f =>
        StructField(f.name, LongType))))))
  }

  /** The plan-time skipping step of a file index over `snapshot`'s
    * unpruned live list: the data filters Spark pushes into the scan in,
    * the paths of the live files that might match them out. None under
    * column mapping, where a parquet scan's pushed filters name PHYSICAL
    * columns while stats are read by logical name. */
  def onScan(snapshot: Snapshot): Option[Seq[Column] => Set[String]] =
    if (ColumnMapping.mode(snapshot.metadata) != "none") None
    else Some(filters => prune(snapshot, snapshot.allFiles, filters)
      .select("path").collect().map(_.getString(0)).toSet)

  /** Prune the live-files DataFrame with `filters`. Returns the kept
    * subset (same columns). */
  def prune(snapshot: Snapshot, files: DataFrame,
      filters0: Seq[Column]): DataFrame = {
    if (filters0.isEmpty) return files
    // predicates on the SOURCE of a monotone generated partition
    // column additionally prune through the derived partition bound
    // (ts >= T prunes event_date partitions below date(T))
    val filters = filters0 ++
      GeneratedPartitionFilters.derive(snapshot, filters0)
    val schema = snapshot.schema
    val partCols = snapshot.partitionColumns
    val sSchema = statsSchema(schema, partCols)
    val physOf: String => String =
      c => ColumnMapping.physicalPartitionName(snapshot.metadata, c)
    val mapped = ColumnMapping.mode(snapshot.metadata) != "none"
    // mapped tables key their stats JSON (and partitionValues) by
    // PHYSICAL name: parse with the physical-name schema, then cast the
    // struct positionally back to logical names so every downstream
    // bound lookup stays in predicate (logical) terms
    val physSchema =
      if (!mapped) sSchema
      else statsSchema(
        ColumnMapping.toPhysicalSchema(schema, "name"), partCols.map(physOf))
    def parse(s: StructType, narrowTo: Set[String]): org.apache.spark.sql.Column = {
      val src = if (narrowTo.isEmpty) s else narrowStatsSchema(s, narrowTo)
      val raw = from_json(col("stats"), src)
      if (!mapped) raw
      else raw.cast(
        if (narrowTo.isEmpty) sSchema
        else narrowStatsSchema(sSchema, ctx.widenedFloat))
    }
    lazy val ctx = Context(schema, partCols, sSchema, physOf)
    val withStats = files.withColumn("__stats", parse(physSchema, Set.empty))
    // columns widened float->double parse their PRE-widening files'
    // stats through FLOAT as well (see minCol/maxCol): a second parse
    // with those fields narrowed provides the exact float image
    val withBoth =
      if (ctx.widenedFloat.isEmpty) withStats
      else withStats.withColumn("__statsN",
        parse(physSchema, ctx.widenedFloat.map(physOf)))
    val keep = filters
      .map(f => translate(Shims.predNode(f), neg = false, ctx))
      .reduce(_ && _)
    withBoth.where(keep).drop("__stats", "__statsN")
  }

  /** `statsSchema` with the given min/max fields narrowed to FLOAT. */
  private def narrowStatsSchema(s: StructType,
      names: Set[String]): StructType = {
    def narrow(st: StructType): StructType = StructType(st.fields.map(f =>
      if (names(f.name)) f.copy(dataType = FloatType) else f))
    StructType(s.fields.map {
      case f @ StructField("minValues" | "maxValues", st: StructType, _, _) =>
        f.copy(dataType = narrow(st))
      case f => f
    })
  }

  private case class Context(schema: StructType, partCols: Seq[String],
      statsSchema: StructType, physOf: String => String = identity) {
    val statFields: Set[String] =
      statsSchema("minValues").dataType.asInstanceOf[StructType]
        .fieldNames.toSet
    /** Columns widened float->double: a pre-widening file's stats JSON
      * is the float's SHORTEST decimal rendering, whose double parse
      * differs from the float's true double image in the last ~8 bits —
      * comparing rows (exact float images) against such bounds can
      * prune a file that holds a matching row. Per-file provenance is
      * NOT recoverable from the log (RESTORE re-adds pre-widening files
      * at post-widening commit versions; SHALLOW CLONE re-homes
      * post-widening files at version 0), so no commit-version
      * discrimination is attempted: both parses run and the bound takes
      * the conservative envelope (see minCol/maxCol). Unparseable
      * provenance metadata (a foreign writer's shape — the stable spec
      * records only fromType/toType) also lands here: the envelope is
      * correct for never-widened doubles too, at worst one ulp looser.
      * Integer widenings are immune (decimal integer strings parse
      * exactly). */
    val widenedFloat: Set[String] = schema.fields.flatMap { f =>
      if (f.dataType != DoubleType ||
          !f.metadata.contains("delta.typeChanges")) None
      else {
        val floatWidened = scala.util.Try(
          f.metadata.getMetadataArray("delta.typeChanges")
            .exists(c => c.getString("fromType") == "float" &&
              c.getString("toType") == "double"))
        if (floatWidened.getOrElse(true)) Some(f.name) else None
      }
    }.toSet
    def isPartition(name: String): Boolean = partCols.contains(name)
    def dataTypeOf(name: String): Option[DataType] =
      schema.fields.find(_.name == name).map(_.dataType)
  }

  private def quote(name: String): String = s"`${name.replace("`", "``")}`"

  /** Exact per-file value of a partition column (partitionValues keys
    * are PHYSICAL names under column mapping; fall back to the logical
    * key for tolerance of pre-convention writers). */
  private def partValue(name: String, ctx: Context): Column = {
    val raw = coalesce(
      element_at(col("partitionValues"), ctx.physOf(name)),
      element_at(col("partitionValues"), name))
    val cleaned = when(
      raw === ExternalCatalogUtils.DEFAULT_PARTITION_NAME, lit(null))
      .otherwise(raw)
    ctx.dataTypeOf(name).map(dt => cleaned.cast(dt)).getOrElse(cleaned)
  }

  /** Min/max stat for `name`: the current-type parse, except that a
    * float->double-widened column takes the conservative ENVELOPE of
    * the double parse and the float parse's double image —
    * least(minWide, minNarrow) / greatest(maxWide, maxNarrow). For a
    * pre-widening file the narrow parse is the true bound; for a
    * post-widening file the wide parse is; the envelope contains the
    * true interval under EITHER provenance (at worst one ulp looser,
    * keeping at worst a file more), so it needs no per-file provenance
    * — which RESTORE and SHALLOW CLONE make unknowable anyway.
    * least/greatest skip nulls, so a missing narrow parse falls back
    * to the wide value alone; both-null stays null and cmpLeaf's
    * coalesce keeps the file. */
  private def minCol(name: String, ctx: Context): Column = {
    val wide = col(s"__stats.minValues.${quote(name)}")
    if (!ctx.widenedFloat(name)) wide
    else least(wide,
      col(s"__statsN.minValues.${quote(name)}").cast(DoubleType))
  }
  private def maxCol(name: String, ctx: Context): Column = {
    val wide = col(s"__stats.maxValues.${quote(name)}")
    if (!ctx.widenedFloat(name)) wide
    else greatest(wide,
      col(s"__statsN.maxValues.${quote(name)}").cast(DoubleType))
  }
  private def nullsCol(name: String): Column =
    col(s"__stats.nullCount.${quote(name)}")

  private def attrName(n: PredNode): Option[String] = n match {
    case Attr(name) => Some(name)
    case _ => None
  }

  private def litCol(n: PredNode): Option[Column] = n match {
    case PLit(v) => scala.util.Try(lit(v)).toOption
    case _ => None
  }

  /** keep-condition: true when the file MIGHT contain rows matching the
    * (possibly negated) predicate. */
  private def translate(n: PredNode, neg: Boolean, ctx: Context): Column =
    n match {
      case Fn("and", Seq(l, r)) =>
        if (neg) translate(l, neg = true, ctx) || translate(r, neg = true, ctx)
        else translate(l, neg = false, ctx) && translate(r, neg = false, ctx)
      case Fn("or", Seq(l, r)) =>
        if (neg) translate(l, neg = true, ctx) && translate(r, neg = true, ctx)
        else translate(l, neg = false, ctx) || translate(r, neg = false, ctx)
      case Fn("!" | "not", Seq(x)) => translate(x, !neg, ctx)
      case Fn(op @ ("=" | ">" | "<" | ">=" | "<="), Seq(a, b)) =>
        (attrName(a), litCol(b), attrName(b), litCol(a)) match {
          case (Some(name), Some(v), _, _) =>
            cmpLeaf(effectiveOp(op, neg), name, v, ctx)
          case (_, _, Some(name), Some(v)) => // literal on the left: flip
            cmpLeaf(effectiveOp(flip(op), neg), name, v, ctx)
          case _ => lit(true)
        }
      case Fn("isnull", Seq(a)) => attrName(a) match {
        case Some(name) =>
          if (neg) isNotNullLeaf(name, ctx) else isNullLeaf(name, ctx)
        case None => lit(true)
      }
      case Fn("isnotnull", Seq(a)) => attrName(a) match {
        case Some(name) =>
          if (neg) isNullLeaf(name, ctx) else isNotNullLeaf(name, ctx)
        case None => lit(true)
      }
      case Fn("in", a +: rest) =>
        val vals = rest.map(litCol)
        (attrName(a), vals.forall(_.isDefined)) match {
          case (Some(name), true) =>
            val vs = vals.flatten
            if (!neg) {
              // NEVER a per-value OR chain of leaves: an In over a
              // partition column arrives with O(probed cells) values —
              // the sf1 rehearsal's 400-cid k-NN prune overflowed the
              // Column converter's recursion on the nested chain, and
              // production probe sets reach O(nlist). Partition columns
              // take one flat isin (identical semantics: each leaf was
              // coalesce(p === v, false), and coalesce(p.isin(vs),
              // false) ORs the same comparisons); stats fields keep the
              // exact per-value form only while small, else the
              // conservative [least(vs), greatest(vs)] envelope (a
              // necessary condition for any v ∈ [min,max] — keep-
              // conditions only ever widen).
              if (ctx.isPartition(name))
                coalesce(partValue(name, ctx).isin(vs: _*), lit(false))
              else if (ctx.statFields(name)) {
                if (vs.lengthCompare(16) <= 0)
                  vs.map(v => cmpLeaf("=", name, v, ctx)).reduce(_ || _)
                else
                  coalesce(maxCol(name, ctx) >= least(vs: _*) &&
                    minCol(name, ctx) <= greatest(vs: _*), lit(true))
              } else lit(true)
            }
            else if (ctx.isPartition(name))
              coalesce(!partValue(name, ctx).isin(vs: _*), lit(false))
            else if (ctx.statFields(name))
              // prune only if every row equals one of the excluded values
              coalesce(!(minCol(name, ctx) === maxCol(name, ctx) &&
                minCol(name, ctx).isin(vs: _*)), lit(true))
            else lit(true)
          case _ => lit(true)
        }
      case Fn("startswith", Seq(a, PLit(pre: String))) if !neg =>
        attrName(a) match {
          case Some(name) =>
            if (ctx.isPartition(name))
              coalesce(partValue(name, ctx).startsWith(pre), lit(false))
            else if (ctx.statFields(name))
              coalesce(substring(maxCol(name, ctx), 1, pre.length) >= pre &&
                substring(minCol(name, ctx), 1, pre.length) <= pre, lit(true))
            else lit(true)
          case None => lit(true)
        }
      case _ => lit(true) // unknown predicate shape: keep the file
    }

  /** Apply negation to a comparison operator ("!" of a null comparison is
    * false, which keeps conservativeness: null-valued rows match neither
    * side, and keep-conditions only ever widen). */
  private def effectiveOp(op: String, neg: Boolean): String =
    if (!neg) op else op match {
      case "=" => "!="
      case ">" => "<="
      case "<" => ">="
      case ">=" => "<"
      case "<=" => ">"
    }

  private[scan] def flip(op: String): String = op match {
    case ">" => "<"
    case "<" => ">"
    case ">=" => "<="
    case "<=" => ">="
    case other => other
  }

  private def cmpLeaf(op: String, name: String, v: Column,
      ctx: Context): Column =
    if (ctx.isPartition(name)) {
      val p = partValue(name, ctx)
      val cond = op match {
        case "=" => p === v
        case "!=" => p =!= v
        case ">" => p > v
        case "<" => p < v
        case ">=" => p >= v
        case "<=" => p <= v
      }
      coalesce(cond, lit(false))
    } else if (ctx.statFields(name)) {
      val cond = op match {
        case "=" => minCol(name, ctx) <= v && maxCol(name, ctx) >= v
        case "!=" => !(minCol(name, ctx) === v && maxCol(name, ctx) === v)
        case ">" => maxCol(name, ctx) > v
        case "<" => minCol(name, ctx) < v
        case ">=" => maxCol(name, ctx) >= v
        case "<=" => minCol(name, ctx) <= v
      }
      coalesce(cond, lit(true))
    } else lit(true)

  private def isNullLeaf(name: String, ctx: Context): Column =
    if (ctx.isPartition(name)) partValue(name, ctx).isNull
    else if (ctx.statFields(name)) coalesce(nullsCol(name) > 0, lit(true))
    else lit(true)

  private def isNotNullLeaf(name: String, ctx: Context): Column =
    if (ctx.isPartition(name)) partValue(name, ctx).isNotNull
    else if (ctx.statFields(name))
      coalesce(nullsCol(name) < col("__stats.numRecords"), lit(true))
    else lit(true)
}
