package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native Catalyst expression for a 60-bit perceptual average-hash over an
  * opaque binary payload: `graft_ahash60(binary) -> bigint`.
  *
  * This is the aHash fingerprint structure (the mean-threshold member of
  * the perceptual-hash family: partition the signal into a fixed grid,
  * threshold each block's mean against the global mean) applied to the
  * engine's multimodal BinaryType payload column — the image analog of
  * MinHash/SimHash for near-duplicate detection. A real deployment would
  * decode the image and hash the 8×8 luma grid; no image codec ships in
  * this environment (the multimodal decode tier is a disclosed stub), so
  * the grid here is the 60-way byte partition of the blob itself. The
  * pipeline shape — native fingerprint (one Scala kernel, called from
  * generated code), banded bucket join, Hamming verify — is exactly the
  * production one.
  *
  * Semantics (exact integer arithmetic, engine-portable): payload bytes
  * b[0..n) as unsigned ints; byte i belongs to block k = i·60/n (floor);
  * bit k of the result is set iff blockSum[k] · n > totalSum · blockCount[k]
  * — i.e. the block mean strictly exceeds the global mean, compared in
  * cross-multiplied integers so no float rounding can diverge between
  * engines. Empty payload → 0. 60 bits, not 64, for the same reasons as
  * [[SimHash60]]: the sign bit stays clear on engines whose only integer
  * is a signed 64-bit, and the hash divides evenly into the 4×15-bit
  * Hamming bands the candidate join buckets on.
  *
  * Registered through `GraftExtensions.injectFunction` (see [[Natives]]).
  */
case class AHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_ahash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    AHash60.compute(input.asInstanceOf[Array[Byte]])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AHash60$$.MODULE$$.compute($c)")

  protected override def withNewChildInternal(newChild: Expression): AHash60 =
    copy(child = newChild)
}

object AHash60 {
  def compute(b: Array[Byte]): Long = {
    val n = b.length
    if (n == 0) return 0L
    val sums = new Array[Long](60)
    val counts = new Array[Long](60)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (b(i) & 0xff).toLong
      val k = (i.toLong * 60L / n).toInt
      sums(k) += v
      counts(k) += 1L
      total += v
      i += 1
    }
    var res = 0L
    var k = 0
    while (k < 60) {
      if (sums(k) * n > total * counts(k)) res |= 1L << k
      k += 1
    }
    res
  }
}
