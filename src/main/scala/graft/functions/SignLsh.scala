package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expression for the banded sign-LSH signature:
  * `graft_signlsh(array<double>) -> array<bigint>` — the 4 × 16-bit band
  * codes of q_embed_neardup_lsh in one pass.
  *
  * Semantics (identical to the SQL-HOF formulation it replaces and to the
  * DuckDB oracle in Similarity.scala): hyperplane (b, j) has component signs
  * `sign(b,j,i) = +1 if ((1103515245·(64·(16·b + j) + i) + 12345) >> 16) & 1
  * else −1` (an LCG parity — portable integer arithmetic); bit j of band b's
  * code is set iff `Σᵢ v[i]·sign(b,j,i) ≥ 0`, accumulated in index order so
  * the doubles stay bit-identical across engines.
  *
  * Why a custom expression (operator-preference tier (b), see the build
  * brief): the HOF version is a triple-nested `aggregate(transform(...))` —
  * 64 hyperplanes × 64 components = 4096 interpreted lambda steps with
  * per-step boxing, per row, and higher-order functions block whole-stage
  * codegen. This is the dominant cost of the embedding near-dup signature
  * stage (the one scan of the corpus that a 100 TB run pays), so it gets the
  * same treatment as MinHash32/SimHash60: one Scala kernel, called from
  * generated code inside WholeStageCodegen. HOF-equivalence is asserted in
  * OperatorSpec.
  */
case class SignLsh(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_signlsh"

  // Malformed vectors (fewer than 64 components, or a null component) get a
  // NULL signature rather than a code computed from a silently truncated
  // sum — NULL drops the row from banding, which is what a signature stage
  // should do with a bad embedding. (The HOF chain null-propagates each
  // band code instead; both produce zero candidates downstream, and the
  // OperatorSpec equivalence holds on well-formed input.)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    SignLsh.compute(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SignLsh$$.MODULE$$.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  protected override def withNewChildInternal(newChild: Expression): SignLsh =
    copy(child = newChild)
}

object SignLsh {
  /** The 4 band codes, or null for a malformed vector (see `nullable`). */
  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() < 64) return null
    var p = 0
    while (p < 64) { if (v.isNullAt(p)) return null; p += 1 }
    val codes = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var code = 0L
      var j = 0
      while (j < 16) {
        var acc = 0.0
        var i = 0
        while (i < 64) {
          val k = 64L * (16 * b + j) + i
          val sign = if (((1103515245L * k + 12345L >> 16) & 1L) == 1L) 1.0 else -1.0
          acc += v.getDouble(i) * sign
          i += 1
        }
        if (acc >= 0) code |= 1L << j
        j += 1
      }
      codes(b) = code
      b += 1
    }
    new GenericArrayData(codes)
  }
}
