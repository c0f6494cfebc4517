package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression for the 8-token rolling span hash of exact-
  * substring dedup (Lee et al.): `graft_spanhash8(array<string>) ->
  * array<bigint>` — element i is the polynomial hash of tokens i..i+7,
  *   h = fold(x_1..x_8, (acc, x) -> (acc·1000003 + x) mod 2147483647)
  * over per-token 32-bit hashes x = [[Md5_32.hash32]] (byte-identical to
  * the portable `conv(substring(md5(t),1,8),16,10)` every oracle replays).
  *
  * Why native (operator-preference tier (b)): the HOF formulation is TWO
  * interpreted lambda passes per doc — `transform(w, wd -> md5-hash)` and a
  * 7-deep `zip_with` chain — each element access boxing through the
  * interpreted evaluator. This expression makes one tight primitive pass
  * (hash each token once into a `long[]`, then roll each window) inside
  * whole-stage codegen; the span-hash scan dominates exact-substring dedup
  * at 100 TB. No overflow: acc < 2³¹, acc·1000003 + 2³² < 2⁶³.
  *
  * Fewer than 8 tokens → empty array (callers filter `size(w) >= 8`; the
  * HOF slice form would produce the same zero spans). A NULL array element
  * nulls the whole RESULT (the HOF form null-propagated per span; since
  * any null token poisons every window it touches and callers split() —
  * which never yields null elements — whole-result null is the honest
  * total behavior, and it keeps the output's containsNull = false).
  */
case class SpanHash8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // nullable even over a non-null child: a null ELEMENT nulls the result
  override def nullable: Boolean = true
  override def prettyName: String = "graft_spanhash8"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    SpanHash8.compute(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SpanHash8$$.MODULE$$.compute($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")

  protected override def withNewChildInternal(newChild: Expression): SpanHash8 =
    copy(child = newChild)
}

object SpanHash8 {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 8) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u == null) return null // null element -> null result (see Scaladoc)
      th(i) = Md5_32.hash32(u.getBytes); i += 1
    }
    val out = new Array[Long](n - 7)
    var s = 0
    while (s < n - 7) {
      var h = th(s)
      var k = 1
      while (k < 8) { h = (h * 1000003L + th(s + k)) % 2147483647L; k += 1 }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }
}
