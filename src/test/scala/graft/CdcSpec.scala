package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KeyGroupedRegistry

/** The one CDC stream behind both stores (`sources/Cdc.scala`): decimal
  * cells on the KV source, catalog rows written before an ALTER ADD or
  * DROP, and commits landing while a stream is consuming the log. */
class CdcSpec extends AnyFunSuite with SparkFixture {

  private def streamAll(in: DataFrame, qname: String): DataFrame = {
    val q = in.writeStream.format("memory").queryName(qname).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(qname)
  }

  /** (key, max `_commit_seq`) fold of a CDC log, tombstoned keys dropped. */
  private def fold(log: DataFrame, key: String): DataFrame =
    log.withColumn("rn", row_number().over(
        Window.partitionBy(key).orderBy(col("_commit_seq").desc)))
      .filter(col("rn") === 1).filter(!col("_tombstone"))
      .drop("rn", "_commit_seq", "_tombstone")

  private def kv(name: String): DataFrame =
    spark.read.format("graft.sources.KVDataSource").option("table", name).load()

  test("KV DECIMAL cells survive staging, upsert, pushed equality and CDC") {
    val name = "kv_cdc_decimal"
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("d", DecimalType(10, 2))))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, d) =>
        Row(k, Option(d).map(new java.math.BigDecimal(_)).orNull) }: _*), schema)
    KeyGroupedRegistry.stageMulti(name, df(1L -> "1.50", 2L -> "2.25", 3L -> null),
      Seq("k"), indexCols = Seq("d"))
    df(2L -> "7.10", 4L -> "2.25").write.format("graft.sources.KVDataSource")
      .option("table", name).mode("append").save()
    val dec = (s: String) => new java.math.BigDecimal(s)
    def state(df: DataFrame): Map[Long, java.math.BigDecimal] =
      df.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val expected = Map(1L -> dec("1.50"), 2L -> dec("7.10"), 3L -> null,
      4L -> dec("2.25"))
    assert(state(kv(name)) == expected)
    // equality on the indexed decimal column is pushed to the source, which
    // alone applies it (Spark re-checks only the unpushed IsNotNull)
    val hit = kv(name).filter(col("d") === lit(dec("2.25")))
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[EqualTo(d,2.25)"), plan)
    assert(state(hit) == Map(4L -> dec("2.25")))
    assert(kv(name).filter(col("d") === lit(dec("9.99"))).count() == 0)
    // the CDC stream serves the same decimals, and its fold is the table
    val log = streamAll(spark.readStream.format("graft.sources.KVDataSource")
      .option("table", name).option("cdc", "true").load(), "cdc_decimal")
    assert(log.schema("d").dataType == DecimalType(10, 2))
    assert(log.count() == 5)
    assert(state(fold(log, "k")) == expected)
  }

  test("catalog __cdc pads rows from before an ALTER ADD with NULL") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.cdcks")
    val fqn = "graftcat.cdcks.alter_pad"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, v STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("SELECT CAST(id AS BIGINT) AS k, concat('a', id) AS v FROM range(3)")
      .writeTo(fqn).append()
    // a stream started before the ALTER keeps the schema it was built with
    val before = spark.readStream.table(s"${fqn}__cdc")
      .writeStream.format("memory").queryName("cdc_alter_before").start()
    try {
      before.processAllAvailable()
      spark.sql(s"ALTER TABLE $fqn ADD COLUMNS (w INT)")
      spark.sql("SELECT CAST(id AS BIGINT) AS k, concat('b', id) AS v, " +
        "CAST(id * 10 AS INT) AS w FROM range(2, 5)").writeTo(fqn).append()
      before.processAllAvailable()
    } finally before.stop()
    val old = spark.table("cdc_alter_before")
    assert(old.columns.toSeq == Seq("k", "v", "_commit_seq", "_tombstone"))
    assert(old.count() == 6)
    // a stream over the altered table serves the earlier rows with NULL w
    val log = streamAll(spark.readStream.table(s"${fqn}__cdc"), "cdc_alter_after")
    assert(log.columns.toSeq == Seq("k", "v", "w", "_commit_seq", "_tombstone"))
    val first = log.filter(col("_commit_seq") === 0).collect()
    assert(first.length == 3 && first.forall(_.isNullAt(2)), first.mkString(","))
    assert(log.filter(col("_commit_seq") === 1).filter(col("w").isNull).count() == 0)
    val folded = fold(log, "k").collect().toSet
    assert(folded == spark.table(fqn).collect().toSet)
    assert(folded.size == 5)
  }

  test("catalog __cdc after an ALTER DROP serves each column's own cells") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.cdcks")
    val fqn = "graftcat.cdcks.alter_drop"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (k BIGINT, a STRING, b STRING) TBLPROPERTIES ('key'='k')")
    spark.sql("SELECT 1L AS k, 'a1' AS a, 'b1' AS b").writeTo(fqn).append()
    spark.sql(s"ALTER TABLE $fqn DROP COLUMN a")
    val log = streamAll(spark.readStream.table(s"${fqn}__cdc"), "cdc_alter_drop")
    assert(log.columns.toSeq == Seq("k", "b", "_commit_seq", "_tombstone"))
    assert(log.select("k", "b").collect().toSeq == Seq(Row(1L, "b1")))
    assert(fold(log, "k").collect().toSet == spark.table(fqn).collect().toSet)
  }

  test("an ALTER DROP on a replicated table migrates every replica") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.cdcks")
    val fqn = "graftcat.cdcks.alter_drop_rf"
    spark.sql(s"DROP TABLE IF EXISTS $fqn")
    spark.sql(s"CREATE TABLE $fqn (id INT, a STRING, v BIGINT, wt BIGINT) " +
      "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2')")
    // v above wt: a merge that read an unmigrated replica's cell at the new
    // writetime index would pick that replica's stale-shaped row
    spark.sql("SELECT * FROM VALUES (1, 'x', 500L, 100L), (2, 'y', 20L, 100L) " +
      "AS t(id, a, v, wt)").writeTo(fqn).append()
    spark.sql(s"ALTER TABLE $fqn DROP COLUMN a")
    def read(cl: String): Set[Row] = spark.read.option("cl", cl).table(fqn).collect().toSet
    val one = read("one")
    assert(one == Set(Row(1, 500L, 100L), Row(2, 20L, 100L)), one)
    assert(read("quorum") == one)
  }

  test("commits landing under a running KV stream arrive once each, in order") {
    val name = "kv_cdc_concurrent"
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType)))
    val snapshot = (0L until 10L).map(k => Row(k, s"s$k"))
    KeyGroupedRegistry.stage(name,
      spark.createDataFrame(java.util.Arrays.asList(snapshot: _*), schema), "k")
    val n = 300
    val q = spark.readStream.format("graft.sources.KVDataSource")
      .option("table", name).option("cdc", "true").load()
      .writeStream.format("memory").queryName("cdc_concurrent").start()
    val writer = new Thread(() => (1 to n).foreach { i =>
      if (i % 5 == 0) KeyGroupedRegistry.applyDelete(name, Set(Vector[Any]((i * 7L) % 20)))
      else {
        val k = (i * 3L) % 20
        KeyGroupedRegistry.applyUpsert(name, Array(Vector[Any](k) -> Array[Any](k, s"v$i")))
      }
      Thread.sleep(2)
    })
    try {
      writer.start()
      while (writer.isAlive) q.processAllAvailable()
      writer.join()
      q.processAllAvailable()
    } finally q.stop()
    val log = spark.table("cdc_concurrent")
    // the snapshot is commit 0; each later commit carries exactly one row
    val perSeq = log.groupBy("_commit_seq").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perSeq == ((1L to n.toLong).map(_ -> 1L) :+ (0L -> 10L)).toMap)
    assert(fold(log, "k").collect().toSet == kv(name).collect().toSet)
  }
}
