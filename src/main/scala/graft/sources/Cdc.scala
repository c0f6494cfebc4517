package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.KeyGroupedRegistry.LogBatch

/** CDC (SURVEY §2.4, the connector stack's Cassandra CDC-log read). Both
  * stores keep a per-table changelog, one [[LogBatch]] per commit, and
  * serve it through the one stream below: the KV source with
  * `.option("cdc", "true")`, the catalog as `<table>__cdc`.
  *
  * The offset is the number of commits consumed, so Spark's checkpointed
  * offsets deliver each commit exactly once across restarts (StreamingSpec
  * kills and resumes a stream). Every emitted row carries its commit's
  * `_commit_seq` and `_tombstone` flag, and folding by (key, max seq)
  * reproduces the table's current state — the invariant q_stream_kv_cdc,
  * q_stream_catalog_cdc and q_stream_merge_cdc check against the oracle. */
object Cdc {
  val SeqCol = "_commit_seq"
  val TombstoneCol = "_tombstone"
  val CkLoCol = "_ck_lo"
  val CkHiCol = "_ck_hi"

  /** CDC schema: base + commit seq + tombstone flag. A table with a
    * clustering column also carries the range-tombstone bounds (NULL on
    * every commit that is not a range delete). */
  def schema(base: StructType, hasCk: Boolean): StructType = {
    val s0 = base.add(SeqCol, LongType, nullable = false)
      .add(TombstoneCol, BooleanType, nullable = false)
    if (hasCk) s0.add(CkLoCol, LongType, nullable = true)
      .add(CkHiCol, LongType, nullable = true)
    else s0
  }

  /** The one way a commit enters a changelog: its batches land together
    * under the log's own monitor, the one [[CdcStream]] reads under, so a
    * consumer sees a commit whole or not at all. */
  def append(log: ArrayBuffer[LogBatch], batches: LogBatch*): Unit =
    log.synchronized { log ++= batches }
}

/** The read-only CDC view of one table. `base` is the table's schema when
  * the view is loaded; it stays fixed for the scan, and each row is padded
  * (or cut) to it. `log` finds the table's changelog on each call, since
  * restaging a KV table replaces its buffer. `cells` is the store's own
  * stored-row → internal-cells conversion, the one its batch reader uses. */
class CdcTable(tname: String, base: StructType, hasCk: Boolean,
    log: () => ArrayBuffer[LogBatch], cells: Array[Any] => Array[Any])
    extends Table with SupportsRead {
  override def name(): String = tname
  override def schema(): StructType = Cdc.schema(base, hasCk)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema()
      override def description(): String = tname
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new CdcStream(log, new CdcReaderFactory(base.length, hasCk, cells))
    }
}

case class CdcOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

/** One input partition per commit, read under the log's monitor so neither
  * a commit's [[Cdc.append]] nor a compaction's swap is seen half done. */
class CdcStream(log: () => ArrayBuffer[LogBatch], factory: CdcReaderFactory)
    extends MicroBatchStream {
  override def latestOffset(): Offset = {
    val l = log()
    CdcOffset(l.synchronized(l.size.toLong))
  }
  override def initialOffset(): Offset = CdcOffset(0L)
  override def deserializeOffset(json: String): Offset = CdcOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[CdcOffset].seq.toInt,
      end.asInstanceOf[CdcOffset].seq.toInt)
    val l = log()
    l.synchronized((s until e).map(i => CdcPartition(i.toLong, l(i)): InputPartition).toArray)
  }
  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class CdcPartition(seq: Long, batch: LogBatch) extends InputPartition

/** Each row: the store's cells for the stored row, padded or cut to the
  * `arity` base columns, then the commit seq, the tombstone flag and — on
  * a table with a clustering column — the range bounds. */
class CdcReaderFactory(arity: Int, hasCk: Boolean, cells: Array[Any] => Array[Any])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val CdcPartition(seq, b) = p.asInstanceOf[CdcPartition]
    val tail: Array[Any] =
      if (hasCk) Array(seq, b.tombstone,
        b.range.map(r => Long.box(r._1)).orNull, b.range.map(r => Long.box(r._2)).orNull)
      else Array(seq, b.tombstone)
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < b.rows.length }
      override def get(): InternalRow = {
        val c = cells(b.rows(i))
        val row = new Array[Any](arity + tail.length)
        System.arraycopy(c, 0, row, 0, math.min(c.length, arity))
        System.arraycopy(tail, 0, row, arity, tail.length)
        new GenericInternalRow(row)
      }
      override def close(): Unit = ()
    }
  }
}
