package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap — the Spark-native analog of the reference job's
  * session builder (reference: userdata/cloudinit.sh:337-344 builds a
  * SparkSession with app name + connector config and sets WARN logging).
  *
  * The one place a SparkSession is built: tests, Verify, Bench, perfbench
  * and every dev tool run the same engine — `GraftExtensions` (the
  * DirectJoin optimizer rule and the native expressions) and the `graftcat`
  * KV catalog included.
  *
  * Tuned for local[N] single-JVM execution but with settings that carry to a
  * real cluster: AQE on (runtime re-planning, skew-join handling), shuffle
  * partitions matched to parallelism instead of the 200 default, UTC session
  * timezone for oracle parity.
  */
object Sessions {
  /** `value` of env variable `name` as a positive integer, `default` when
    * unset; anything else fails naming the variable. */
  def positiveInt(name: String, value: Option[String], default: Int): Int =
    value.fold(default)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'")))

  def envPositiveInt(name: String, default: Int): Int =
    positiveInt(name, sys.env.get(name), default)

  def defaultCpus: String = envPositiveInt("SPARK_GRAFT_CPUS", 4).toString

  def local(appName: String = "graft", cpus: String = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
