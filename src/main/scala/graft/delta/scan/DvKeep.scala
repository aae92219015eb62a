package graft.delta.scan

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

import graft.delta.log.Actions.DeletionVectorDescriptor

/** Native deletion-vector row filter for the large-DV scan path: true
  * when the row at (file key, row index) is NOT masked by its file's
  * deletion vector.
  *
  * Executor-side placement: descriptors ship in the plan, bitmaps
  * decode in the tasks that read each file through [[DvTaskFilter]]'s
  * per-JVM bounded cache. It evaluates as one generated method call
  * inside the fused stage (a Scala UDF would fence whole-stage codegen
  * exactly where the most rows flow, and pay a UTF8String→String
  * conversion per row), with a per-instance (file key → bitmap) memo so
  * the per-row cost is one UTF8String equality check + one roaring
  * probe — the string materializes only on a file boundary.
  *
  * Thread-safety note: the memo is per-expression-instance state, and
  * each task deserializes its own instance (codegen reference arrays
  * travel in the task closure), so tasks never share a memo.
  */
case class DvKeep(fkey: Expression, rowIndex: Expression,
    tableUri: String,
    descriptors: Map[String, DeletionVectorDescriptor],
    conf: DvTaskFilter.SerHadoopConf)
    extends BinaryExpression with Predicate {

  override def left: Expression = fkey
  override def right: Expression = rowIndex
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  // memo: bitmap of the file whose rows are currently flowing. The key
  // CLONES the incoming UTF8String — codegen hands out views into
  // reused row buffers, and a memo key that aliases one would silently
  // match the wrong file later.
  @transient private var lastKey: UTF8String = _
  @transient private var lastBm: DvBitmap.Bitmap = _
  @transient private var lastMiss: Boolean = _

  /** Per-row probe (called from generated code and from eval). */
  def keep(key: UTF8String, idx: Long): Boolean = {
    if (lastKey == null || !lastKey.equals(key)) {
      lastKey = key.clone()
      val bm = DvTaskFilter.bitmapFor(tableUri, descriptors,
        conf, key.toString)
      lastBm = bm.orNull
      lastMiss = bm.isEmpty
    }
    lastMiss || !lastBm.contains(idx)
  }

  override def nullSafeEval(k: Any, i: Any): Any =
    keep(k.asInstanceOf[UTF8String], i.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvKeep", this, classOf[DvKeep].getName)
    nullSafeCodeGen(ctx, ev, (k, i) => s"${ev.value} = $ref.keep($k, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvKeep =
    copy(fkey = newLeft, rowIndex = newRight)

  override def prettyName: String = "dv_keep"
}
