package graft.delta.log

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import Actions.Metadata

/** Write-time enforcement of Delta CHECK constraints and column
  * invariants.
  *
  * A table declares CHECK constraints as `delta.constraints.<name>`
  * configuration entries and column invariants as
  * `{"expression":{"expression":"<sql>"}}` JSON riding field metadata
  * under the `delta.invariants` key (nested fields included). Both are
  * WRITER obligations in the protocol: a compliant engine must not
  * commit a row for which any constraint expression evaluates to false
  * — rows where it evaluates to null pass, per SQL CHECK semantics.
  *
  * Enforcement is an inline guard, not a validation pass: the rows
  * stream through a Filter whose predicate is
  * `satisfied OR raise_error(...)` per constraint. `Or` short-circuits
  * in generated code, so the cost on the satisfied path is one boolean
  * evaluation per constraint per row — no second scan of the data, no
  * driver round-trip — and the first violating row aborts the write
  * job with the constraint name and the offending row. A Filter node
  * cannot be pruned by the optimizer (unlike a dropped projection
  * column, which column pruning would silently remove along with its
  * side effect), which is what makes the guard safe to attach.
  *
  * The reference engine never evaluates these (it has no write path);
  * delta-kernel-rs surfaces them for connectors the same way this
  * module does for the Spark plans.
  */
object Constraints {

  /** (name, sql) pairs declared by the table: CHECK constraints from
    * the configuration plus per-column invariants from field metadata,
    * in deterministic order. */
  def of(meta: Metadata): Seq[(String, String)] = {
    val checks = meta.configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (k.stripPrefix("delta.constraints."), v)
    }
    def invariants(fields: Seq[StructField],
        prefix: String): Seq[(String, String)] =
      fields.flatMap { f =>
        val here =
          if (!f.metadata.contains("delta.invariants")) Nil
          else {
            val sql = Actions.mapper
              .readTree(f.metadata.getString("delta.invariants"))
              .path("expression").path("expression").asText("")
            if (sql.isEmpty) Nil
            else Seq((s"invariant(${prefix}${f.name})", sql))
          }
        here ++ (f.dataType match {
          case st: StructType =>
            invariants(st.fields.toSeq, s"$prefix${f.name}.")
          case _ => Nil
        })
      }
    (checks ++ invariants(meta.dataSchema.fields.toSeq, "")).sortBy(_._1)
  }

  /** Attach the inline guard for every declared constraint; identity
    * when the table declares none. Must run on the LOGICAL-name frame
    * (constraint SQL references logical column names), i.e. before any
    * column-mapping physical rename. */
  def enforce(df: DataFrame, meta: Metadata): DataFrame = {
    val cs = of(meta)
    if (cs.isEmpty) return df
    val rowJson = to_json(struct(df.columns.map(col).toIndexedSeq: _*))
    val guard = cs.map { case (name, sql) =>
      val satisfied = coalesce(expr(sql).cast("boolean"), lit(true))
      satisfied || raise_error(concat(
        lit(s"CHECK constraint $name ($sql) violated by row: "),
        rowJson)).cast("boolean")
    }.reduce(_ && _)
    df.filter(guard)
  }

  /** True when no existing row of `df` violates `sql` — the ADD
    * CONSTRAINT validation scan (early-exits on the first violation). */
  def holdsOn(df: DataFrame, sql: String): Boolean =
    df.filter(!coalesce(expr(sql).cast("boolean"), lit(true))).isEmpty
}

/** Generated-column support (writer feature `generatedColumns`): a
  * field carrying `delta.generationExpression` metadata is a pure
  * function of the row's other columns.
  *
  * Contract per write path:
  *  - append/overwrite WITHOUT the column: it is computed inline
  *    (a projection, zero extra passes);
  *  - append/overwrite WITH the column: each provided value is
  *    validated null-safe-equal to the expression via the same
  *    raise_error guard as CHECK constraints — a writer supplying an
  *    inconsistent value corrupts every downstream reader that prunes
  *    on the generation expression, so the write aborts;
  *  - DML/MERGE rewrites RECOMPUTE the column (an UPDATE to a base
  *    column must flow into the generated value, exactly as the spec's
  *    "generated columns are updated" rule requires).
  */
object GeneratedColumns {

  /** Top-level (name, sql, dataType) triples declaring generation
    * expressions. The Delta spec only permits generated columns at the
    * top level of the schema. */
  def of(meta: Metadata): Seq[(String, String, org.apache.spark.sql.types.DataType)] =
    meta.dataSchema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        (f.name, f.metadata.getString("delta.generationExpression"),
          f.dataType)
    }

  /** Compute absent generated columns; validate provided ones. */
  def complete(df: DataFrame, meta: Metadata): DataFrame = {
    val gens = of(meta)
    if (gens.isEmpty) return df
    val present = df.columns.map(_.toLowerCase).toSet
    gens.foldLeft(df) { case (d, (name, sql, dt)) =>
      if (!present(name.toLowerCase))
        d.withColumn(name, expr(sql).cast(dt))
      else {
        val rowJson = to_json(struct(d.columns.map(col).toIndexedSeq: _*))
        val ok = col(name) <=> expr(sql).cast(dt)
        d.filter(ok || raise_error(concat(
          lit(s"generated column $name does not match its expression " +
            s"($sql) on row: "), rowJson)).cast("boolean"))
      }
    }
  }

  /** Drop-and-recompute for rewrite paths (UPDATE/MERGE): base-column
    * changes must flow into the generated values. */
  def recompute(df: DataFrame, meta: Metadata): DataFrame = {
    val gens = of(meta)
    if (gens.isEmpty) return df
    val cols = meta.dataSchema.fields.toSeq.map { f =>
      gens.find(_._1 == f.name) match {
        case Some((_, sql, dt)) => expr(sql).cast(dt).as(f.name)
        case None => col(f.name)
      }
    }
    df.select(cols: _*)
  }
}

/** Identity-column support (writer feature `identityColumns`,
  * GENERATED ALWAYS semantics): a field carrying `delta.identity.start`
  * (+ optional `delta.identity.step`, default 1) gets engine-allocated
  * values on append; explicit values are refused.
  *
  * Allocation is the one-pass sparse scheme: value =
  * `base + step * (monotonically_increasing_id() + 1)` where base is
  * the recorded high-water mark (or `start - step` on first use).
  * The spec does NOT require consecutive values — only uniqueness,
  * `>= start`, and congruence to start modulo step — and mono-ids are
  * unique per (partition, row), so allocation needs no shuffle, no
  * count pre-pass, no driver coordination; it composes with a write of
  * any size. The new high-water mark is read back from the add-files'
  * OWN stats (maxValues of the identity column), so advancing it costs
  * zero extra jobs, and it rides the same commit as the adds — a
  * racing allocator loses the commit race and must NOT blind-retry
  * (both writers allocated from the same base), so identity appends
  * fail fast on conflict instead of retrying.
  */
object IdentityColumns {

  final case class Spec(name: String, start: Long, step: Long,
      highWaterMark: Option[Long],
      dataType: org.apache.spark.sql.types.DataType)

  def of(meta: Metadata): Seq[Spec] =
    meta.dataSchema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.identity.start") =>
        Spec(f.name,
          f.metadata.getLong("delta.identity.start"),
          if (f.metadata.contains("delta.identity.step"))
            f.metadata.getLong("delta.identity.step") else 1L,
          if (f.metadata.contains("delta.identity.highWaterMark"))
            Some(f.metadata.getLong("delta.identity.highWaterMark"))
          else None,
          f.dataType)
    }

  /** Allocate values for every identity column absent from `df`;
    * refuse explicit values (GENERATED ALWAYS). */
  def assign(df: DataFrame, meta: Metadata): DataFrame = {
    val ids = of(meta)
    if (ids.isEmpty) return df
    val present = df.columns.map(_.toLowerCase).toSet
    ids.foldLeft(df) { case (d, s) =>
      require(s.step != 0, s"identity column ${s.name}: step must be nonzero")
      require(!present(s.name.toLowerCase),
        s"identity column ${s.name} is GENERATED ALWAYS — explicit " +
          "values are not accepted; omit the column and the engine " +
          "allocates them")
      val base = s.highWaterMark.getOrElse(s.start - s.step)
      d.withColumn(s.name,
        (lit(base) + lit(s.step) *
          (monotonically_increasing_id() + lit(1L))).cast(s.dataType))
    }
  }

  /** Metadata with advanced high-water marks, derived from the
    * add-files' stats; None when nothing moved (no identity columns or
    * an empty write). */
  def advance(meta: Metadata, adds: Seq[Actions.AddFile]): Option[Metadata] = {
    val ids = of(meta)
    if (ids.isEmpty || adds.isEmpty) return None
    val maxima = ids.flatMap { s =>
      // the mark advances in the direction of the step: maxValues for
      // ascending identities, minValues for descending ones
      val statsKey = if (s.step > 0) "maxValues" else "minValues"
      val ms = adds.flatMap(_.stats).flatMap { st =>
        val node = Actions.mapper.readTree(st).path(statsKey).path(s.name)
        if (node.isMissingNode || node.isNull) None else Some(node.asLong())
      }
      val merged =
        if (s.step > 0) (ms ++ s.highWaterMark).maxOption
        else (ms ++ s.highWaterMark).minOption
      merged.filterNot(m => s.highWaterMark.contains(m)).map(s.name -> _)
    }.toMap
    if (maxima.isEmpty) return None
    val fields = meta.dataSchema.fields.map { f =>
      maxima.get(f.name) match {
        case Some(m) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.identity.highWaterMark", m).build())
        case None => f
      }
    }
    Some(meta.copy(schemaString = StructType(fields).json))
  }
}
