package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for graft.plans.DirectJoinRule (SURVEY.md §2.2 directJoin
  * analog): for ANY driver-known key list joined against a big table on its
  * key, the rule must
  *   (a) plant exactly ONE In/InSet point-lookup filter when the list is
  *       within MaxKeys — never zero (rule missed) and never two (fixed-point
  *       churn: the In→InSet rewrite by OptimizeIn or a Project interposed by
  *       ColumnPruning hid the prior iteration's filter);
  *   (b) plant NOTHING above MaxKeys (an SF-scaling probe side must stay a
  *       shuffle/broadcast join — the connector's directJoinSizeRatio guard);
  *   (c) never change results: the join output equals the plain multiset
  *       semantics of the un-rewritten join (duplicate keys in the list fan
  *       out, misses drop) for both int and long key types.
  */
class DirectJoinSpec extends AnyFunSuite with SparkFixture {

  private val MaxKeys = 1024 // mirrors DirectJoinRule.MaxKeys

  // Key-list sizes biased to the interesting boundaries: the In→InSet
  // threshold (10/11) and the MaxKeys cliff (1024/1025).
  private val genSize: Gen[Int] = Gen.frequency(
    (3, Gen.choose(1, 9)),
    (3, Gen.oneOf(10, 11, 12)),
    (3, Gen.choose(13, 1023)),
    (3, Gen.oneOf(1024, 1025, 1026)),
    (2, Gen.choose(1027, 2000)))

  private def localKeys(keys: Seq[Long], dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val rows = keys.map { k =>
      Row(if (dt == LongType) k else k.toInt)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("lookup_key", dt, nullable = false))))
  }

  /** Filters anywhere in the optimized plan whose condition contains an
    * In, InSet, or key=literal — the rule's planted point-lookup predicate
    * in all three shapes OptimizeIn can leave it in (single-key lists
    * simplify to EqualTo). */
  private def plantedFilters(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists {
        case _: In | _: InSet => true
        case EqualTo(_: AttributeReference, _: Literal) => true
        case EqualTo(_: Literal, _: AttributeReference) => true
        case _ => false
      } => f
    }.size
  }

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status)
  }

  private val custkeys: Array[Long] = graft.sources.Tables
    .load(spark, sfDir, "customer").select("c_custkey")
    .collect().map(_.getLong(0))

  private def expected(keys: Seq[Long]): Seq[Long] = {
    val present = custkeys.toSet
    keys.filter(present).sorted
  }

  test("long-key lists: one planted filter ≤ MaxKeys, none above, results exact") {
    val genKeys = genSize.flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 300L))) // ~half hit the 150 custkeys
    check(Prop.forAll(genKeys) { keys =>
      val c = graft.sources.Tables.load(spark, sfDir, "customer")
      val k = localKeys(keys, LongType)
      val joined = c.join(k, c("c_custkey") === k("lookup_key"))
      val nFilters = plantedFilters(joined)
      val got = joined.select("c_custkey").collect().map(_.getLong(0)).toSeq.sorted
      val want = expected(keys)
      val planted = if (keys.size <= MaxKeys) nFilters == 1 else nFilters == 0
      planted && got == want
    })
  }

  test("int-key lists: one planted filter ≤ MaxKeys, none above, results exact") {
    val genKeys = genSize.flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 49L))) // nationkeys are 0..24
    val natCounts: Map[Long, Int] = graft.sources.Tables
      .load(spark, sfDir, "customer").select("c_nationkey")
      .collect().groupBy(_.getInt(0).toLong).view.mapValues(_.length).toMap
    check(Prop.forAll(genKeys) { keys =>
      val c = graft.sources.Tables.load(spark, sfDir, "customer")
      val k = localKeys(keys, IntegerType)
      val joined = c.join(k, c("c_nationkey") === k("lookup_key"))
      val nFilters = plantedFilters(joined)
      val got = joined.count()
      // multiset semantics: each list occurrence fans out to its match count
      val want = keys.map(natCounts.getOrElse(_, 0).toLong).sum
      val planted = if (keys.size <= MaxKeys) nFilters == 1 else nFilters == 0
      planted && got == want
    })
  }

  test("duplicate keys in the list fan out (rewrite keeps the join in place)") {
    val c = graft.sources.Tables.load(spark, sfDir, "customer")
    val k = localKeys(Seq(7L, 7L, 42L), LongType)
    val joined = c.join(k, c("c_custkey") === k("lookup_key"))
    assert(plantedFilters(joined) == 1)
    val got = joined.select("c_custkey").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(7L, 7L, 42L)))
  }

  private def joinsIn(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size

  test("semi-join key lists: the Join collapses to the IN filter, results set-exact") {
    val genKeys = genSize.flatMap(n => Gen.listOfN(n, Gen.choose(0L, 300L)))
    check(Prop.forAll(genKeys) { keys =>
      val c = graft.sources.Tables.load(spark, sfDir, "customer")
      val k = localKeys(keys, LongType)
      val joined = c.join(k, c("c_custkey") === k("lookup_key"), "left_semi")
      val nJoins = joinsIn(joined)
      val got = joined.select("c_custkey").collect().map(_.getLong(0)).toSeq.sorted
      // semi semantics: at most one output row per left row, duplicates in
      // the key list don't fan out
      val want = expected(keys.distinct)
      val collapsed =
        if (keys.size <= MaxKeys) nJoins == 0 && plantedFilters(joined) == 1
        else nJoins == 1
      collapsed && got == want
    })
  }

  test("semi rewrite bails on a null key in the list (no wrong key-0 admit)") {
    // With constraint propagation ON (the default), Catalyst itself strips
    // the null before our rule runs (lookup_key IS NOT NULL is inferred and
    // ConvertToLocalRelation evaluates it) and the collapse is sound. The
    // keysOf null guard is the defense for the OFF configuration — getLong
    // on a null slot would read 0 and the planted IN would wrongly admit
    // key 0. Exercise exactly that path.
    val old = spark.conf.get("spark.sql.constraintPropagation.enabled")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try {
      val c = graft.sources.Tables.load(spark, sfDir, "customer")
      val rows = java.util.Arrays.asList(Row(7L), Row(null))
      val k = spark.createDataFrame(rows,
        StructType(Seq(StructField("lookup_key", LongType, nullable = true))))
      val joined = c.join(k, c("c_custkey") === k("lookup_key"), "left_semi")
      // rule must leave the join alone; results stay correct either way
      assert(joinsIn(joined) == 1)
      val got = joined.select("c_custkey").collect().map(_.getLong(0)).toSeq
      assert(got == Seq(7L))
    } finally spark.conf.set("spark.sql.constraintPropagation.enabled", old)
  }
}
