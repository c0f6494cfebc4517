package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the dense dot product:
  * `graft_dot(array<double>, array<double>) -> double`.
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (s,x) -> s+x)` in
  * the similarity operators (the build brief names exactly this pair:
  * "functions.aggregate/zip_with for the dot product, or a custom
  * Expression"). Accumulates left-to-right in index order — the same order
  * as the HOF chain and the DuckDB oracle — so cosines stay bit-identical
  * across engines. One fused primitive loop — one Scala kernel, called from
  * generated code inside WholeStageCodegen — instead of an intermediate
  * zipped array plus an interpreted fold; this is the innermost loop of
  * every ANN verify join.
  *
  * Unequal lengths never occur in this repo (fixed 64-dim vectors); the
  * expression uses the shorter length (the HOF version would return null).
  */
case class GraftDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    GraftDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftDot$$.MODULE$$.compute($a, $b)")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftDot =
    copy(left = newLeft, right = newRight)
}

object GraftDot {
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
}

/** Integer sibling of GraftDot for the int8-quantized ANN tier:
  * `graft_dotl(array<bigint>, array<bigint>) -> bigint`.
  *
  * Exact integer accumulation (order-free — no float concerns at all), one
  * primitive loop — one Scala kernel, called from generated code inside
  * WholeStageCodegen. Replaces the interpreted
  * `aggregate(zip_with(...))` chain in q_embed_quantize, whose per-pair
  * boxing would negate the 4× bandwidth win quantization exists to buy.
  * Unequal lengths use the shorter (fixed 64-dim in this repo).
  */
case class GraftDotLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dotl"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.LongType, _),
            ArrayType(org.apache.spark.sql.types.LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint>, got ${l.catalogString}, ${r.catalogString}")
    }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    GraftDotLong.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftDotLong$$.MODULE$$.compute($a, $b)")

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftDotLong =
    copy(left = newLeft, right = newRight)
}

object GraftDotLong {
  def compute(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }
}

/** The repo's native expressions by SQL name. `GraftExtensions` injects
  * each into every session `Sessions.local` builds, so queries call them
  * from `expr(...)` strings without any per-query registration. */
object Natives {
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_simhash60", classOf[SimHash60].getName, exprs => SimHash60(exprs.head)),
    ("graft_minhash32", classOf[MinHash32].getName, exprs => MinHash32(exprs.head)),
    ("graft_dot", classOf[GraftDot].getName, exprs => GraftDot(exprs(0), exprs(1))),
    ("graft_dotl", classOf[GraftDotLong].getName, exprs => GraftDotLong(exprs(0), exprs(1))),
    ("graft_signlsh", classOf[SignLsh].getName, exprs => SignLsh(exprs.head)),
    ("graft_ahash60", classOf[AHash60].getName, exprs => AHash60(exprs.head)),
    ("graft_spanhash8", classOf[SpanHash8].getName, exprs => SpanHash8(exprs.head)),
    ("graft_jaro_winkler", classOf[JaroWinkler].getName,
      exprs => JaroWinkler(exprs(0), exprs(1))),
    ("graft_md5_32", classOf[Md5Hash32].getName, exprs => Md5Hash32(exprs.head)),
    ("graft_hll64", classOf[Hll64].getName, exprs => Hll64(exprs.head)),
    // Spark's own runtime-filter sketch pair, surfaced as session functions
    // for the incremental-dedup operator (q_dedup_incremental): a
    // distributed, mergeable Bloom build over xxhash64 fingerprints and its
    // O(1) membership probe. The aggregate's partials OR together (ObjectHash
    // aggregate), so the build is one map-side pass over the history corpus;
    // the probe deserializes the broadcast filter once per task.
    ("graft_bloom_agg", classOf[BloomFilterAggregate].getName, {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
    }),
    ("graft_might_contain", classOf[BloomFilterMightContain].getName,
      exprs => BloomFilterMightContain(exprs(0), exprs(1))))
}
