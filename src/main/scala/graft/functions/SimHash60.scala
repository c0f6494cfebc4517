package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression for the 60-bit SimHash bit-vote fold:
  * `graft_simhash60(array<bigint>) -> bigint`.
  *
  * Semantics (identical to the SQL-HOF formulation it replaces and to the
  * DuckDB oracle in Pipeline.scala): for each bit position i ∈ [0, 60), sum
  * the votes `2·((h >> i) & 1) − 1` over all token hashes h; bit i of the
  * result is set iff the vote sum is ≥ 0.
  *
  * Why a custom expression (operator-preference tier (b), see the build
  * brief): the HOF version — `aggregate(transform(sequence(0,59), i ->
  * ...aggregate(hw, ...)))` — makes 60 interpreted passes over the token
  * array with per-step boxing, and higher-order functions block whole-stage
  * codegen. This expression does ONE pass per token with a primitive
  * `int[60]` vote buffer — one Scala kernel, called from generated code — so
  * the whole signature stage stays inside WholeStageCodegen. At 100 TB the
  * signature scan is the dominant cost of simhash dedup — this is the stage
  * worth a native expression, and nothing else is.
  *
  * Registered through `GraftExtensions.injectFunction` (see [[Natives]]).
  */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60$$.MODULE$$.compute($c)")

  protected override def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](60)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < 60) {
        votes(i) += (((h >> i) & 1L) * 2L - 1L).toInt
        i += 1
      }
      j += 1
    }
    var res = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) >= 0) res |= 1L << i
      i += 1
    }
    res
  }
}
