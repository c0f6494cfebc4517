package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.sources.{KVDataSource, KVTable, KeyGroupedRegistry}

/** One row of the staged orders table: partition key o_custkey,
  * clustering key o_orderkey. */
final case class KvRow(custkey: Long, orderkey: Long, status: String,
    price: Double, priority: String)

sealed trait KvOp { def kind: String }
final case class PointRead(pk: Long) extends KvOp { def kind = "point" }
final case class SliceRead(pk: Long, lo: Long, hi: Long) extends KvOp { def kind = "slice" }
/** The reference job's `show()`: the first 20 rows (show takes 21). */
case object Show extends KvOp { def kind = "show" }
final case class Upsert(row: KvRow, hot: Boolean) extends KvOp {
  def kind: String = if (hot) "upsert_hot" else "upsert_new"
}
final case class Delete(pk: Long) extends KvOp { def kind = "delete" }

object KvOp {
  val ReadKinds: Set[String] = Set("point", "slice", "show")
  val WriteKinds: Set[String] = Set("upsert_hot", "upsert_new", "delete")
}

/** Seeded generator of the `kv_ops` passes. The seed fixes the hot keys (a
  * Zipf rank over a seeded permutation of the staged partition keys); each
  * pass's keys, rows and interleaving come from (seed, pass) and the model's
  * contents when the pass starts, so every pass does the same kind of work:
  * a hot upsert overwrites a row that exists, a new-key insert writes a
  * partition key no earlier pass used, and a delete removes a live partition
  * no other op of the pass touches. The number of ops of each kind is fixed
  * by [[KvGen.Mix]]; every op reads or writes one partition, every write is
  * one row. */
final class KvGen(seed: Long, stagedPks: IndexedSeq[Long], maxCk: Long,
    mix: KvGen.Mix = KvGen.DefaultMix) {
  import KvGen._
  private val rankToKey: IndexedSeq[Long] = new scala.util.Random(seed).shuffle(stagedPks)
  private val cdf: Array[Double] = {
    val w = (1 to stagedPks.length).map(r => math.pow(r.toDouble, -ZipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  /** The ops of pass `pass` (-1 is the warm-up), drawn against `model`. */
  def ops(pass: Int, model: KvModel): IndexedSeq[KvOp] = {
    val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + pass)
    val slot = pass + 1L // 0 for the warm-up: new keys rise across passes
    var nextCk = maxCk + 1 + slot * mix.total
    def freshCk(): Long = { nextCk += 1; nextCk }
    def zipf(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      rankToKey(math.min(cdf.length - 1, if (i >= 0) i else -i - 1))
    }
    def row(pk: Long, ck: Long) = KvRow(pk, ck, Statuses(rnd.nextInt(3)),
      rnd.nextInt(50000000) / 100.0, Priorities(rnd.nextInt(5)))
    val out = mutable.ArrayBuffer.empty[KvOp]
    (1 to mix.point).foreach(_ => out += PointRead(zipf()))
    (1 to mix.slice).foreach { _ =>
      val lo = (rnd.nextDouble() * maxCk).toLong
      out += SliceRead(zipf(), lo, lo + maxCk / 4)
    }
    (1 to mix.show).foreach(_ => out += Show)
    (1 to mix.hot).foreach { _ =>
      val pk = zipf()
      val own = model.cksOf(pk)
      out += Upsert(row(pk, if (own.nonEmpty) own(rnd.nextInt(own.length)) else freshCk()),
        hot = true)
    }
    (0 until mix.fresh).foreach { i =>
      out += Upsert(row(NewKeyBase + slot * mix.fresh + i, freshCk()), hot = false)
    }
    val used = out.collect {
      case PointRead(pk) => pk
      case SliceRead(pk, _, _) => pk
      case Upsert(r, _) => r.custkey
    }.toSet
    val victims = rnd.shuffle(model.pks.filterNot(used)).take(mix.delete)
    require(victims.length == mix.delete, s"only ${victims.length} partitions left to delete")
    out ++= victims.map(Delete(_))
    rnd.shuffle(out.toVector)
  }
}

object KvGen {
  final case class Mix(point: Int, slice: Int, show: Int, hot: Int, fresh: Int,
      delete: Int) {
    def total: Int = point + slice + show + hot + fresh + delete
  }
  /** 30 reads and 30 writes a pass. The 50:50 read:update split and the
    * Zipfian key choice with constant 0.99 are YCSB's core workload A;
    * point reads and hot upserts are its two operations. 3 shows and 9
    * new-key single-row inserts repeat 3 times the reference job's own
    * traffic (3 single-row inserts, then `show`). The 6 slices and 3
    * deletes are an assumption: small counts that still give each kind a
    * median over a run's passes. See METRICS.md. */
  val DefaultMix: Mix = Mix(point = 21, slice = 6, show = 3, hot = 18, fresh = 9,
    delete = 3)
  val ZipfS = 0.99
  /** New-key inserts use partition keys from here up; sf `o_custkey` stays
    * below 150,000 per scale-factor unit. */
  val NewKeyBase = 100000000L
  private val Statuses = Vector("O", "F", "P")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}

/** Shadow model of the staged table: every write the stream issues is
  * applied here too, and every read is compared against it. */
final class KvModel {
  private val parts = mutable.HashMap.empty[Long, mutable.TreeMap[Long, KvRow]]

  def upsert(rows: Iterable[KvRow]): Unit = rows.foreach { r =>
    parts.getOrElseUpdate(r.custkey, mutable.TreeMap.empty[Long, KvRow])(r.orderkey) = r
  }
  def delete(pk: Long): Unit = parts.remove(pk)
  def partition(pk: Long): Seq[KvRow] = parts.get(pk).map(_.values.toSeq).getOrElse(Nil)
  def slice(pk: Long, lo: Long, hi: Long): Seq[KvRow] =
    parts.get(pk).map(_.range(lo, hi).values.toSeq).getOrElse(Nil)
  def contains(r: KvRow): Boolean = parts.get(r.custkey).flatMap(_.get(r.orderkey)).contains(r)
  def size: Long = parts.valuesIterator.map(_.size.toLong).sum
  def ckSum: Long = parts.valuesIterator.flatMap(_.keysIterator).sum
  def maxCk: Long = parts.valuesIterator.map(_.lastKey).max
  def rows: Seq[KvRow] = parts.toSeq.sortBy(_._1).flatMap(_._2.values)
  /** The live partition keys, sorted. */
  def pks: IndexedSeq[Long] = parts.keys.toVector.sorted
  /** The clustering keys of partition `pk`, sorted. */
  def cksOf(pk: Long): IndexedSeq[Long] =
    parts.get(pk).map(_.keys.toVector).getOrElse(Vector.empty)
}

/** The `kv_ops` workload: Cassandra-style traffic against sf `orders`
  * staged in the KV source as (pk = o_custkey, ck = o_orderkey). */
final class KvOps(spark: SparkSession, data: String, seed: Long,
    val table: String = "perfbench_orders", mix: KvGen.Mix = KvGen.DefaultMix)
    extends Workload {
  import KvOps._
  val model = new KvModel
  private var gen: KvGen = _
  private var stream: IndexedSeq[KvOp] = Vector.empty

  def source: DataFrame = spark.read.format(Format).option("table", table).load()

  def stage(): Unit = {
    val df = ordersFrame(spark, data)
    KeyGroupedRegistry.stageMulti(table, df, Seq("o_custkey"), Seq("o_orderkey"))
    model.upsert(df.collect().map(toRow))
    gen = new KvGen(seed, model.pks, model.maxCk, mix)
  }

  /** Warm-up: one untimed pass, so the timed passes do not pay for class
    * loading, code generation and the first JIT tiers of the read and write
    * paths. */
  def warmup(r: Runner): Unit = gen.ops(-1, model).foreach(exec(_, r))

  override def next(pass: Int): Unit = stream = gen.ops(pass, model)

  /** One whole-table count + sum per run: the locality path, one split per
    * partition. It takes longer than a pass, so it runs once, unwarmed. */
  override def once(r: Runner): Unit =
    r.query("scan", "count+sum")(source.agg(count(lit(1)), sum(col("o_orderkey"))))(
      _.collect()).foreach { rows =>
      val (n, s) = (rows.head.getLong(0), rows.head.getLong(1))
      r.verdict(1, n == model.size && s == model.ckSum,
        s"count $n sum $s, model ${model.size} ${model.ckSum}")
    }

  def pass(r: Runner): Unit = stream.foreach(exec(_, r))

  /** Whole-table compare against the model, outside the timed passes. */
  override def finalCheck(r: Runner): Unit =
    r.query("verify", "full table")(
      spark.read.format(Format).option("table", table)
        .option("split_target_rows", "20000").load())(_.collect()).foreach { rows =>
      val got = rows.map(toRow).toSeq.sortBy(x => (x.custkey, x.orderkey))
      val want = model.rows
      r.verdict(got.size, got == want, s"table has ${got.size} rows, model ${want.size}")
    }

  def exec(op: KvOp, r: Runner): Unit = op match {
    case PointRead(pk) =>
      r.query(op.kind, s"pk=$pk")(source.where(col("o_custkey") === pk))(_.collect())
        .foreach(rows => checkRows(r, rows, model.partition(pk)))
    case SliceRead(pk, lo, hi) =>
      r.query(op.kind, s"pk=$pk ck=[$lo,$hi)")(source.where(col("o_custkey") === pk &&
        col("o_orderkey") >= lo && col("o_orderkey") < hi))(_.collect())
        .foreach(rows => checkRows(r, rows, model.slice(pk, lo, hi)))
    case Show =>
      r.query(op.kind, "first 20")(source.limit(21))(_.collect()).foreach { rows =>
        val got = rows.map(toRow)
        val ok = got.length == math.min(21L, model.size) && got.forall(model.contains)
        r.verdict(got.length, ok, s"${got.length} rows, not all in the model")
      }
    case Upsert(row, _) =>
      r.action(op.kind, s"pk=${row.custkey} ck=${row.orderkey}") {
        spark.createDataFrame(Seq(toSpark(row)).asJava, Schema)
          .write.format(Format).option("table", table).mode("append").save()
      }.foreach(_ => model.upsert(Seq(row)))
    case Delete(pk) =>
      r.action(op.kind, s"pk=$pk") {
        val props = Map("table" -> table).asJava
        val t = new KVDataSource()
          .getTable(Schema, Array.empty, props).asInstanceOf[KVTable]
        val f: Array[Filter] = Array(EqualTo("o_custkey", pk))
        require(t.canDeleteWhere(f), s"delete by partition key refused: pk=$pk")
        t.deleteWhere(f)
      }.foreach(_ => model.delete(pk))
  }

  private def checkRows(r: Runner, rows: Array[Row], want: Seq[KvRow]): Unit = {
    val got = rows.map(toRow).toSeq.sortBy(_.orderkey)
    r.verdict(got.size, got == want, s"got ${got.size} rows, model ${want.size}")
  }
}

object KvOps {
  val Format = "graft.sources.KVDataSource"
  val Schema: StructType = StructType(Seq(
    StructField("o_custkey", LongType), StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  def ordersFrame(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/orders.parquet").select(Schema.fieldNames.map(col): _*)

  def toRow(r: Row): KvRow =
    KvRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))
  def toSpark(k: KvRow): Row = Row(k.custkey, k.orderkey, k.status, k.price, k.priority)
}
