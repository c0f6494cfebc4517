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

  /** `body` under `confs`, each conf restored (or unset) afterwards. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Every expression evaluated by `nullSafeEval`: no whole-stage code,
    * and no compiled projection or predicate either. */
  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  private val CodegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  test("graft_md5_32 equals the portable string formula, codegen and interpreted") {
    // shuffled first: over the local relation itself, Catalyst would
    // evaluate the projection on the driver and never run generated code
    val shuffled = strings.repartition(3)
    def mismatches(): Long = shuffled
      .select(expr("graft_md5_32(s)").as("n"), expr(Portable).as("p"))
      .filter(!(col("n") <=> col("p"))).count()
    assert(withConfs(CodegenOnly: _*)(mismatches()) == 0, "codegen-only")
    assert(withConfs(Interpreted: _*)(mismatches()) == 0, "interpreted")
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
    val native = withConfs("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      keyed.groupBy("g").agg(expr("graft_hll64(s)").as("r")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    }
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

  /** 400 id-derived rows (never constant-folded) feeding the six array and
    * binary natives: nulls, empty and odd-length inputs, and SignLsh's
    * short and null-element vectors. */
  private def kernelInputs: DataFrame = spark.range(400).selectExpr("id",
      "IF(id % 23 = 0, NULL, slice(transform(sequence(0, 69), " +
        "i -> shiftrightunsigned(xxhash64(id, i), 4)), 1, CAST(id % 70 AS INT))) AS hs",
      "transform(sequence(0, 63), i -> CAST(xxhash64(id, i) % 2001 AS DOUBLE) / 997.0D) AS v0")
    .selectExpr("id", "hs",
      // 32-bit shingle hashes, the domain MinHash32 documents
      "transform(hs, h -> shiftrightunsigned(h, 28)) AS xs",
      "CASE WHEN id % 19 = 0 THEN NULL " +
        "WHEN id % 19 = 1 THEN slice(v0, 1, CAST(id % 64 AS INT)) " +
        "WHEN id % 19 = 2 THEN transform(v0, (x, i) -> IF(i = id % 64, CAST(NULL AS DOUBLE), x)) " +
        "ELSE v0 END AS v",
      "IF(id % 31 = 0, NULL, substr(unhex(repeat(sha2(CAST(id AS STRING), 256), 4)), 1, " +
        "CAST(id % 128 AS INT))) AS p",
      "IF(id % 17 = 0, NULL, v0) AS a",
      "IF(id % 13 = 0, NULL, slice(transform(sequence(0, 63), i -> " +
        "CAST(xxhash64(id, i, 'b') % 2001 AS DOUBLE) / 997.0D), 1, 64 - CAST(id % 3 AS INT))) AS b",
      "IF(id % 17 = 1, NULL, transform(sequence(0, 63), i -> xxhash64(id, i, 'qa') % 128)) AS qa",
      "IF(id % 13 = 1, NULL, transform(sequence(0, 63 - id % 3), " +
        "i -> xxhash64(id, i, 'qb') % 128)) AS qb")

  private val NativeCalls = Seq("graft_simhash60(hs)", "graft_minhash32(xs)", "graft_signlsh(v)",
    "graft_ahash60(p)", "graft_dot(a, b)", "graft_dotl(qa, qb)")

  /** The six kernels spelled independently (folds over Scala collections),
    * from one collected input row, in [[NativeCalls]] order; None for a null
    * result. */
  private def expected(r: Row): Seq[Option[Any]] = {
    def in[T](c: String): Option[T] = Option(r.getAs[T](c))
    def bits(n: Int)(set: Int => Boolean): Long = (0 until n).filter(set).map(1L << _).sum
    val simhash = in[collection.Seq[Long]]("hs").map(hs =>
      bits(60)(i => hs.map(h => if (((h >> i) & 1L) == 1L) 1 else -1).sum >= 0))
    val minhash = in[collection.Seq[Long]]("xs").map(xs => (0 until 32).map(i =>
      xs.map(x => ((2L * i + 1L) * x + 12345L + 777L * i) % 4294967291L)
        .foldLeft(Long.MaxValue)(math.min)))
    val signlsh = in[collection.Seq[java.lang.Double]]("v")
      .filter(v => v.size >= 64 && !v.take(64).contains(null))
      .map(v => (0 until 4).map(b => bits(16) { j =>
        (0 until 64).foldLeft(0.0) { (acc, i) =>
          val k = 64L * (16 * b + j) + i
          acc + v(i) * (if (((1103515245L * k + 12345L >> 16) & 1L) == 1L) 1.0 else -1.0)
        } >= 0
      }))
    val ahash = in[Array[Byte]]("p").map { p =>
      val u = p.map(_ & 0xffL)
      bits(60) { k =>
        val blk = u.indices.filter(_ * 60L / u.length == k).map(u(_))
        blk.sum * u.length > u.sum * blk.size
      }
    }
    def dot[T](x: String, y: String, zero: T)(add: (T, (T, T)) => T): Option[T] =
      for (a <- in[collection.Seq[T]](x); b <- in[collection.Seq[T]](y))
        yield a.zip(b).foldLeft(zero)(add)
    val gdot = dot[Double]("a", "b", 0.0) { case (s, (x, y)) => s + x * y }
    val gdotl = dot[Long]("qa", "qb", 0L) { case (s, (x, y)) => s + x * y }
    Seq(simhash, minhash, signlsh, ahash, gdot, gdotl)
  }

  test("the six array and binary natives agree with their spec, interpreted and codegen-only") {
    val inputs = kernelInputs.cache()
    try {
      val want = inputs.collect().map(r => r.getLong(0) -> expected(r)).toMap
      // every native meets a null result, SignLsh's for short and null-element vectors too
      assert(NativeCalls.indices.forall(c => want.values.exists(_(c).isEmpty)))
      assert(want.values.count(_(2).isEmpty) > 40)
      // one (path and native, row) pair per mismatch
      def run(mode: String, confs: Seq[(String, String)]): Seq[(String, String)] =
        withConfs(confs: _*) {
          inputs.selectExpr("id" +: NativeCalls: _*).collect().toSeq.flatMap { r =>
            val id = r.getLong(0)
            NativeCalls.indices.flatMap { c =>
              val got = Option(r.get(c + 1))
              if (got == want(id)(c)) None
              else Some(s"$mode ${NativeCalls(c)}" -> s"id=$id: $got != ${want(id)(c)}")
            }
          }
        }
      val bad = run("interpreted", Interpreted) ++ run("codegen-only", CodegenOnly)
      assert(bad.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (k, rows) => s"$k: ${rows.size} rows, e.g. ${rows.head._2}" }.isEmpty)
    } finally inputs.unpersist()
  }
}
