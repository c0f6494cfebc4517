package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.tools.QProf

/** `Tables`' footer-built schemas: the same schema Spark infers, under the
  * session's conf, for files, Spark-written part dirs and files rewritten in
  * place, with no Spark job on a warm load; and `spread`'s decision from the
  * footers' real row-group counts. */
class TablesSpec extends AnyFunSuite with SparkFixture with BeforeAndAfterAll {
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private lazy val root = Files.createTempDirectory("tables-spec")
  private def tmpDir(): Path = Files.createTempDirectory(root, "t")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile) finally super.afterAll()

  /** `df` written as the single parquet file `file`, replacing any file
    * there (Spark writes a dir of parts; its one part is moved into place). */
  private def writeFile(df: DataFrame, file: Path, opts: Map[String, String] = Map.empty): Unit = {
    val out = tmpDir().resolve("out")
    df.coalesce(1).write.options(opts).parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.startsWith("part-")).findFirst().get
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  test("every testdata table loads with the schema Spark infers, under either nanosAsLong") {
    val before = spark.conf.getOption(NanosAsLong)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); nanos <- Seq("true", "false")) {
      val dir = s"${new java.io.File(sfDir).getParent}/$sf"
      val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length >= 10, dir)
      withConf(NanosAsLong, nanos) {
        files.foreach { f =>
          val p = s"$dir/$f"
          val name = f.stripSuffix(".parquet")
          val inferred = spark.read.parquet(p).schema
          assert(Tables.parquet(spark, p).schema == inferred, s"$p nanosAsLong=$nanos")
          if (name != "events")
            assert(Tables.load(spark, dir, name).schema == inferred, s"$p nanosAsLong=$nanos")
        }
      }
    }
    assert(spark.conf.getOption(NanosAsLong) == before)
  }

  test("a Spark-written multi-part dir loads with the schema Spark infers, field metadata included") {
    val dir = tmpDir().resolve("parts.parquet").toString
    val meta = new MetadataBuilder().putString("comment", "kept by the spark row metadata").build()
    spark.range(300).select(col("id"), (col("id") % 7).cast("int").as("k", meta),
        timestamp_seconds(col("id")).as("ts"), array(col("id")).as("xs"))
      .repartition(3).write.parquet(dir)
    val inferred = spark.read.parquet(dir).schema
    assert(inferred("k").metadata == meta)
    assert(Tables.parquet(spark, dir).schema == inferred)
    assert(Tables.rowGroups(spark, dir) == 3)
  }

  test("a file rewritten in place with another schema misses the memo") {
    val file = tmpDir().resolve("t.parquet")
    writeFile(spark.range(10).select(col("id").as("a")), file)
    assert(Tables.parquet(spark, file.toString).schema.fieldNames.toSeq == Seq("a"))
    writeFile(spark.range(10).select(col("id").cast("string").as("b"), lit(1.5).as("c")), file)
    val inferred = spark.read.parquet(file.toString).schema
    assert(inferred.fieldNames.toSeq == Seq("b", "c"))
    assert(Tables.parquet(spark, file.toString).schema == inferred)
    assert(Tables.parquet(spark, file.toString).collect().length == 10)
  }

  test("a warm Tables.load launches no Spark job") {
    Tables.load(spark, sfDir, "orders")
    val profiler = new QProf.Profiler(spark)
    val sc = spark.sparkContext
    val tag = Run.TagPrefix + "tables-spec-warm-load"
    try {
      sc.addJobTag(tag)
      try assert(Tables.load(spark, sfDir, "orders").schema.nonEmpty)
      finally sc.removeJobTag(tag)
      assert(profiler.await(tag).jobWall.isEmpty)
    } finally sc.removeSparkListener(profiler)
  }

  test("spread decides from the footers' row groups when splits outnumber them") {
    // a lowered split size gives one small file ≥ p splits; only as many of
    // them carry rows as the file has row groups
    val rows = spark.range(50000).select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
    val dir = tmpDir()
    val single = dir.resolve("single.parquet")
    val grouped = dir.resolve("grouped.parquet")
    writeFile(rows, single)
    writeFile(rows, grouped, Map("parquet.block.size" -> (256 * 1024).toString))
    assert(Tables.rowGroups(spark, single.toString) == 1)
    assert(Tables.rowGroups(spark, grouped.toString) >= 8)
    val split = Files.size(single) / 16
    withConf("spark.sql.files.maxPartitionBytes", split.toString) {
      def spreads(file: Path): Boolean = {
        val df = Tables.parquet(spark, file.toString)
        assert(df.queryExecution.toRdd.getNumPartitions >= 8, file)
        Tables.spread(df).queryExecution.logical.isInstanceOf[Repartition]
      }
      assert(spreads(single))
      assert(!spreads(grouped))
    }
  }
}
