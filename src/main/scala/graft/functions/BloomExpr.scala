package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/**
 * Bloom-filter membership probe over a PRE-BUILT serialized filter, carried
 * OUTSIDE the expression-comparison surface.
 *
 * Why not `BloomFilterMightContain(Literal(blob), …)` (Spark's own runtime-
 * filter expression over an embedded literal): `Literal` deep-compares and
 * deep-hashes its value, and Catalyst's optimizer batches hash/compare every
 * expression tree dozens of times per plan — with a megabyte blob in a
 * `Literal`, DRIVER-side plan processing dominates the whole job (measured:
 * the 1 MB literal made the 100×-corpus decontamination 20× slower than the
 * exact pass it was supposed to beat, in a bloom-vs-exact A/B). Spark
 * itself avoids this by injecting the blob through a `ScalarSubquery`. Here
 * the blob is a plain constructor field instead: `Array[Byte]` hashes by
 * identity in a case class, so optimizer passes stay O(1) on it, and the
 * bytes ship to executors once via the task-binary broadcast.
 *
 * The probe stays inside whole-stage codegen via the standard
 * reference-object pattern (same as [[SignBandKeys]]); the filter
 * deserializes once per executor instance, not per row. Input is the 64-bit
 * hash of the probed value (`xxhash64`), matching `BloomFilterAggregate`'s
 * put side.
 */
case class BloomMightContain(child: Expression, blob: Array[Byte])
    extends UnaryExpression {

  // Analysis-time type gate (ExpectsInputTypes is unreachable here —
  // AbstractDataType is private[sql]): a non-Long child (e.g. a forgotten
  // xxhash64 wrap) must fail at analysis, not as a codegen ClassCastException.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a LONG child (the xxhash64 of the probed " +
        s"value), got ${child.dataType.simpleString}")

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_might_contain"

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(blob))

  def mightContain(h: Long): Boolean = bloom.mightContainLong(h)

  override def nullSafeEval(h: Any): Any = mightContain(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this,
      classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $ref.mightContain($h);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
