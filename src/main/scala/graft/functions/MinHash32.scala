package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression for the 32-permutation MinHash signature:
  * `graft_minhash32(array<bigint>) -> array<bigint>`.
  *
  * Semantics (identical to the SQL-HOF formulation it replaces and to the
  * DuckDB oracle in Pipeline.scala): element i of the result is
  * `min over x of ((2i+1)·x + 12345 + 777i) mod 4294967291` — the repo's
  * fixed LCG permutation family over 32-bit shingle hashes (no overflow:
  * |x| < 2³², coefficient ≤ 63).
  *
  * Why native (operator-preference tier (b)): the HOF version evaluates 32
  * interpreted `transform`+`array_min` passes over the shingle-hash array
  * with boxing, outside whole-stage codegen; this expression makes ONE pass
  * with a primitive `long[32]` running-min buffer — one Scala kernel, called
  * from generated code, so it stays inside whole-stage codegen. The
  * signature scan is the dominant cost of MinHash-LSH dedup at 100 TB.
  *
  * Empty input never reaches this expression (callers filter to ≥1
  * shingle); it would return all-Long.MaxValue rather than the HOF's null.
  */
case class MinHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash32"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    MinHash32.compute(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash32$$.MODULE$$.compute($c)")

  protected override def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)
}

object MinHash32 {
  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(32)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      var i = 0
      while (i < 32) {
        val h = ((2L * i + 1L) * x + 12345L + 777L * i) % 4294967291L
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}
