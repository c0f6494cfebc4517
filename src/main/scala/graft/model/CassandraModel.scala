package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native model of the reference's Cassandra data layer.
  *
  * The reference provisions keyspace `testks` with table
  * `users(id int PRIMARY KEY, name text, email text)` and three rows
  * (reference: userdata/cloudinit.sh:296-315), then reads it back both via
  * CQL (`SELECT * FROM users`, userdata/cloudinit.sh:320-321) and via the
  * Spark connector (userdata/cloudinit.sh:346-351).
  *
  * Semantics preserved here:
  *   - keyspace → Spark SQL database (`CREATE DATABASE testks`); replication
  *     factor has no single-process analog and is carried as a table comment.
  *   - partition key → the upsert key: Cassandra INSERT is an upsert
  *     (last write wins per key), so the write path dedups on `id` keeping
  *     the newest write instead of blindly appending.
  *   - system tables → a 1-row `system_local(release_version)` DataFrame
  *     mirroring `SELECT release_version FROM system.local`
  *     (userdata/cloudinit.sh:286).
  */
object CassandraModel {
  val Keyspace = "testks"

  val usersSchema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false), // partition key
    StructField("name", StringType),
    StructField("email", StringType)))

  /** The exact reference rows (userdata/cloudinit.sh:312-314). */
  val usersRows: Seq[Row] = Seq(
    Row(1, "Alice", "alice@example.com"),
    Row(2, "Bob", "bob@example.com"),
    Row(3, "Charlie", "charlie@example.com"))

  def users(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(usersRows, 1), usersSchema)

  /** Cassandra INSERT semantics: upsert, last-write-wins per partition key.
    * `incoming` rows replace `current` rows with the same key; within
    * `incoming`, later rows are not distinguished (use one batch per write).
    *
    * Scale note: this is a shuffle on the key — exactly what a distributed
    * upsert costs anywhere. At 100 TB you'd bucket the table by the key so
    * the window needs no extra exchange; the expression is the same.
    */
  def upsert(current: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val tagged = current.withColumn("_gen", lit(0))
      .unionByName(incoming.withColumn("_gen", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_gen").desc)
    tagged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_gen", "_rn")
  }

  /** CREATE KEYSPACE IF NOT EXISTS → CREATE DATABASE IF NOT EXISTS (O6). */
  def ensureKeyspace(spark: SparkSession): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Keyspace").collect()

  /** `SELECT release_version FROM system.local` analog (O10). */
  def systemLocal(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(spark.version)), 1),
      StructType(Seq(StructField("release_version", StringType, nullable = false))))

  /** `system_schema.columns` analog for the reference keyspace — the
    * metadata table drivers and the Spark connector read to discover a
    * table's shape before planning (the reference's connector does exactly
    * this for `testks.users`, the table cloudinit creates at
    * userdata/cloudinit.sh:296-315). Rows are DERIVED from `usersSchema`,
    * not hand-listed, so a schema drift here would break the pinned
    * oracle. Encoding follows Cassandra: partition-key columns carry their
    * key position (0-based), regular columns report position -1. */
  def systemSchema(spark: SparkSession): DataFrame = {
    def cql(dt: DataType): String = dt match {
      case IntegerType => "int"
      case LongType    => "bigint"
      case StringType  => "text"
      case DoubleType  => "double"
      case other       => other.simpleString
    }
    val rows = usersSchema.fields.zipWithIndex.map { case (f, i) =>
      val kind = if (i == 0) "partition_key" else "regular"
      Row(Keyspace, "users", f.name, kind, if (i == 0) 0 else -1, cql(f.dataType))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("keyspace_name", StringType, nullable = false),
        StructField("table_name", StringType, nullable = false),
        StructField("column_name", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("position", IntegerType, nullable = false),
        StructField("type", StringType, nullable = false))))
  }
}
