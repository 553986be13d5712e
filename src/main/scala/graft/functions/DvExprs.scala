package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion-vector membership as a broadcast-indexed NATIVE predicate —
  * the shuffle-free read path for merge-on-read tables.
  *
  * The plan-level alternative (anti-join the scan against the DV frame
  * on `(file_path, row_index)`) is correct but degrades to a FULL
  * SHUFFLE of the table scan on a per-row key the moment the DV
  * outgrows the broadcast-join threshold — the exact window right
  * before a compaction folds it. Iceberg/Delta readers instead apply
  * DVs per file inside the reader with zero data movement; this
  * expression reproduces that shape at the plan level: the whole DV is
  * loaded ONCE on the driver as `file path → sorted positions`,
  * broadcast (torrent, executor-count-bounded, NOT scan-sized), and
  * each scanned row does one hash probe + binary search inside the
  * scan's own whole-stage-codegen span. No exchange exists in the plan
  * at any DV size; [[graft.sources.GraftCatalog]] bounds driver memory
  * by falling back to the anti-join above a positions threshold.
  *
  * Equality-delete sidecars apply the same way through [[EqDeleteHit]]:
  * the covered files and key tuples load once on the driver into an
  * [[EqDeleteIndex]], broadcast, and each row of a covered file probes
  * its key tuple — in place of a key join plus a cover join, under the
  * same threshold. The key-scoped verbs (MERGE, CDC apply, MoR MERGE)
  * probe their loaded key feed through the same index, with one
  * constant path.
  */
object DvIndex {

  /** Position membership probe. Called from generated code — keep the
    * signature stable. */
  def hit(idx: java.util.HashMap[UTF8String, Array[Long]],
      path: UTF8String, pos: Long): Boolean = {
    val arr = idx.get(path)
    arr != null && java.util.Arrays.binarySearch(arr, pos) >= 0
  }
}

/** TRUE iff `(path, pos)` is a deleted position in the broadcast DV
  * index. Children are the scan's own `_metadata` columns (path
  * pre-normalized to the DV writer's scheme-less key form). */
case class DvHit(left: Expression, right: Expression,
    index: Broadcast[java.util.HashMap[UTF8String, Array[Long]]])
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_dv_hit"

  override protected def nullSafeEval(path: Any, pos: Any): Any =
    DvIndex.hit(index.value, path.asInstanceOf[UTF8String],
      pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("graftDvIdx", index,
      classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (p, x) =>
      s"""${ev.value} = graft.functions.DvIndex.hit(
         |  (java.util.HashMap) $idx.value(), $p, $x);""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One equality-delete sidecar loaded on the driver: the covered data
  * files (dvPathKey form) and the key tuples, typed as the scan reads
  * the key columns. Float and double components are stored with
  * `-0.0` folded to `0.0`, and [[hit]] folds the probe the same way:
  * that is how Spark's join normalizes float keys, and a
  * [[GenericInternalRow]]'s hash tells the two zeros apart. NaN
  * matches NaN, as in the join. */
final class EqDeleteIndex(covered: Iterable[String], tuples: Iterable[Array[Any]])
    extends Serializable {
  private val paths = new java.util.HashSet[UTF8String]()
  covered.foreach(p => paths.add(UTF8String.fromString(p)))
  private val keys = new java.util.HashSet[InternalRow]()
  tuples.foreach(t => keys.add(EqDeleteIndex.row(t)))

  /** Whether the sidecar covers the file. Called from generated code. */
  def covers(path: UTF8String): Boolean = paths.contains(path)

  /** Whether the (null-free) key tuple is deleted. Called from
    * generated code; folds `vals` in place. */
  def hit(vals: Array[Any]): Boolean = keys.contains(EqDeleteIndex.row(vals))
}

object EqDeleteIndex {
  /** `vals` as a hashable key tuple, float and double zeros folded in
    * place — also how a key-scoped verb's feed dedupes on load. */
  private[graft] def row(vals: Array[Any]): GenericInternalRow = {
    var i = 0
    while (i < vals.length) {
      vals(i) match {
        case d: java.lang.Double if d.doubleValue() == 0.0d => vals(i) = 0.0d
        case f: java.lang.Float if f.floatValue() == 0.0f => vals(i) = 0.0f
        case _ =>
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}

/** TRUE iff the row's file is covered by the broadcast equality-delete
  * sidecar and its key tuple is one of the sidecar's keys. Children are
  * the scan's dvPathKey-normalized file path, then the key columns. A
  * NULL path or key component never matches, so the result is never
  * NULL. Keys are only evaluated for covered files. */
case class EqDeleteHit(children: Seq[Expression],
    index: Broadcast[EqDeleteIndex]) extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_eq_delete_hit"

  override def eval(input: InternalRow): Any = {
    val path = children.head.eval(input)
    path != null && index.value.covers(path.asInstanceOf[UTF8String]) && {
      val vals = children.tail.map(_.eval(input)).toArray
      !vals.contains(null) && index.value.hit(vals)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("graftEqIdx", index,
      classOf[Broadcast[_]].getName)
    val ix = ctx.freshName("eqIdx")
    val path = children.head.genCode(ctx)
    val keys = children.tail.map(_.genCode(ctx))
    val cls = classOf[EqDeleteIndex].getName
    val boxed = children.tail.zip(keys).map { case (c, k) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${k.value})"
      else k.value.toString
    }
    val probe = s"${ev.value} = $ix.hit(new Object[] {${boxed.mkString(", ")}});"
    val body = keys.foldRight(probe) { (k, inner) =>
      s"""${k.code}
         |if (!${k.isNull}) {
         |  $inner
         |}""".stripMargin
    }
    ev.copy(code = code"""
      |boolean ${ev.value} = false;
      |${path.code}
      |if (!${path.isNull}) {
      |  $cls $ix = ($cls) $idx.value();
      |  if ($ix.covers(${path.value})) {
      |    $body
      |  }
      |}""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
