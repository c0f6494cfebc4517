package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** The house portable 32-bit hash: the first 4 md5 bytes as an unsigned
  * big-endian value — exactly `cast(conv(substring(md5(s),1,8),16,10) as
  * bigint)` in Spark SQL and `('0x'||substr(md5(s),1,8))::BIGINT` in DuckDB,
  * so every oracle replays it. One definition for every native caller:
  * [[Md5Hash32]], [[Hll64]] and [[SpanHash8]]. */
object Md5_32 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hash32(bytes: Array[Byte]): Long = {
    val d = md.get(); d.reset()
    val b = d.digest(bytes)
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }
}

/** `graft_md5_32(string) -> bigint`: [[Md5_32.hash32]] as one codegen'd
  * call, in place of the string chain it equals (hex-encode the digest,
  * take 8 hex chars, base-convert them to a decimal string, cast that to
  * bigint). Input coerces to binary exactly as `md5`'s does, so the hashed
  * bytes are the same UTF-8 bytes; null in → null out. */
case class Md5Hash32(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes = Seq(BinaryType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_md5_32"

  protected override def nullSafeEval(input: Any): Any =
    Md5_32.hash32(input.asInstanceOf[Array[Byte]])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5_32$$.MODULE$$.hash32($c)")

  protected override def withNewChildInternal(newChild: Expression): Md5Hash32 =
    copy(child = newChild)
}

/** `graft_hll64(string) -> array<int>`: the 64 HyperLogLog registers of the
  * house hash over the non-null inputs. For h = [[Md5_32.hash32]] of a
  * value, register j = h % 64 keeps the max rank r = 27 − bitLength(h div 64)
  * (27 when the quotient is 0; h div 64 < 2²⁶, so a register that saw any
  * value holds r ≥ 1). Element j of the result is register j, 0 when it saw
  * nothing. Registers merge by elementwise max, so the partial sketches
  * combine map-side in any order and the result is independent of
  * partitioning.
  *
  * Why native: in SQL the census is the hash's string chain per value and a
  * `collect_set(named_struct(j, r))` per group — a hash set of structs,
  * read back per register. Here the buffer is 64 bytes and each value costs
  * one md5 and one compare. */
case class Hll64(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "graft_hll64"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](64)

  override def update(regs: Array[Byte], row: InternalRow): Array[Byte] = {
    val v = child.eval(row)
    if (v != null) {
      val h = Md5_32.hash32(v.asInstanceOf[Array[Byte]])
      val w = h >>> 6
      val r = if (w == 0L) 27 else 27 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      val j = (h & 63L).toInt
      if (r > regs(j)) regs(j) = r.toByte
    }
    regs
  }

  override def merge(regs: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var j = 0
    while (j < 64) {
      if (other(j) > regs(j)) regs(j) = other(j)
      j += 1
    }
    regs
  }

  override def eval(regs: Array[Byte]): Any = {
    val out = new Array[Int](64)
    var j = 0
    while (j < 64) { out(j) = regs(j); j += 1 }
    new GenericArrayData(out)
  }

  override def serialize(regs: Array[Byte]): Array[Byte] = regs.clone()

  override def deserialize(bytes: Array[Byte]): Array[Byte] =
    java.util.Arrays.copyOf(bytes, 64)

  override def withNewMutableAggBufferOffset(offset: Int): Hll64 =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): Hll64 =
    copy(inputAggBufferOffset = offset)

  protected override def withNewChildInternal(newChild: Expression): Hll64 =
    copy(child = newChild)
}
