package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The md5 sketch kernels against the portable string formulas they
  * replace: `graft_md5_32` is `cast(conv(substring(md5(s),1,8),16,10) as
  * bigint)`, and `graft_hll64`'s registers are the max rank per register of
  * that hash — the `collect_set(named_struct(j, r))` census q_approx_stats
  * used — whatever the partitioning. */
class SketchKernelSpec extends AnyFunSuite with SparkFixture {
  private val Portable = "cast(conv(substring(md5(s),1,8),16,10) as bigint)"

  /** 3000 random strings: empty ones, ASCII, non-ASCII (2-, 3- and 4-byte
    * UTF-8) and about 5% nulls. */
  private lazy val strings: DataFrame = {
    val rnd = new scala.util.Random(20261019)
    val alphabet = "abcXYZ019 _-é中😀".codePoints().toArray
    val rows = Seq(Row(""), Row(null)) ++ (1 to 3000).map { _ =>
      if (rnd.nextInt(20) == 0) Row(null)
      else {
        val cps = Array.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
        Row(new String(cps, 0, cps.length))
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("s", StringType))))
  }

  /** The portable census: max rank per register over the non-null `s`,
    * 0 for a register no value reached. */
  private def portableRegisters(df: DataFrame): Seq[Int] = {
    val census = df.filter(col("s").isNotNull)
      .select(expr(s"named_struct('j', $Portable % 64, 'r', CASE WHEN $Portable div 64 = 0 " +
        s"THEN 27L ELSE 27L - CAST(length(bin($Portable div 64)) AS BIGINT) END)").as("x"))
      .agg(collect_set(col("x")).as("ms"))
      .head().getSeq[Row](0).map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
    val regs = census.groupBy(_._1).map { case (j, g) => j -> g.map(_._2).max }
    (0 until 64).map(j => regs.getOrElse(j, 0))
  }

  private def nativeRegisters(df: DataFrame): Seq[Int] =
    df.agg(expr("graft_hll64(s)")).head().getSeq[Int](0)

  test("graft_md5_32 equals the portable string formula, codegen and interpreted") {
    def mismatches(): Long = strings
      .select(expr("graft_md5_32(s)").as("n"), expr(Portable).as("p"))
      .filter(!(col("n") <=> col("p"))).count()
    assert(mismatches() == 0)
    val old = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(mismatches() == 0)
    finally spark.conf.set("spark.sql.codegen.wholeStage", old)
    // the hash really is the 32-bit one (not all collapsing to a constant)
    assert(strings.select(expr("graft_md5_32(s)")).distinct().count() > 2000)
  }

  test("graft_md5_32 of null is null") {
    val r = spark.sql("SELECT graft_md5_32(cast(null as string)), graft_md5_32('')").head()
    assert(r.isNullAt(0))
    // md5('') = d41d8cd9...
    assert(r.getLong(1) == 0xd41d8cd9L)
  }

  test("graft_hll64 registers equal the portable census, in 1 partition or 7") {
    val expected = portableRegisters(strings)
    assert(expected.count(_ > 0) == 64, "3000 values should reach every register")
    assert(nativeRegisters(strings.repartition(1)) == expected)
    assert(nativeRegisters(strings.repartition(7)) == expected)
  }

  test("graft_hll64 per group, with the sort-based fallback forced") {
    val keyed = strings.withColumn("g", pmod(coalesce(length(col("s")), lit(0)), lit(5)))
      .repartition(7)
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    val native =
      try keyed.groupBy("g").agg(expr("graft_hll64(s)").as("r")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(native.keySet == (0 until 5).toSet)
    native.foreach { case (g, regs) =>
      assert(regs == portableRegisters(keyed.filter(col("g") === g)), s"group $g")
    }
  }

  test("graft_hll64 over no non-null value is 64 empty registers, never null") {
    val none = spark.sql(
      "SELECT graft_hll64(s) FROM VALUES (cast(null as string)), (null) AS t(s)").head()
    assert(none.getSeq[Int](0) == Seq.fill(64)(0))
    val empty = strings.filter(lit(false)).agg(expr("graft_hll64(s)")).head()
    assert(empty.getSeq[Int](0) == Seq.fill(64)(0))
  }
}
