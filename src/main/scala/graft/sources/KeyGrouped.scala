package graft.sources

import java.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownOffset, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, Decimal, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Storage-partitioned join demo source (SURVEY.md §4.1, last row): a DSv2
  * table that reports its physical layout — rows pre-grouped by a key — as
  * `KeyGroupedPartitioning`, so an equi-join of two co-partitioned tables on
  * that key elides BOTH shuffles (a "storage-partitioned join").
  *
  * This is the truest Spark-native analog of the reference demo's headline:
  * the token-aware connector + node labels arrange that Spark reads each
  * Cassandra token range from the replica that owns it, so no data moves
  * between nodes (reference: README.md:135, userdata/cloudinit.sh:124-137).
  * Here the "token ring" is the key→partition assignment the source reports,
  * and "no data moves" is the Exchange-free join plan (asserted in PlanSpec).
  * The bucketed-table analog (q_bucketed_join) shows the same effect via
  * catalog metadata; this one shows it the way a real connector does — from
  * the source's own partition report, with each split carrying its partition
  * key (`HasPartitionKey`).
  *
  * The partition key is a COMPOSITE, TYPED key — any number of integral or
  * string columns, mirroring CQL `PRIMARY KEY ((a, b), ck)` (the reference's
  * own DDL shape, userdata/cloudinit.sh:307, generalizes there first): every
  * read-path capability (split pruning, SPJ, runtime filtering, ring-routed
  * placement, upsert identity) works over the full key tuple.
  *
  * Scale: this is precisely the mechanism that removes the two biggest
  * shuffles of a key-to-key join at 100 TB — data is joined where it lies,
  * per partition. Requires `spark.sql.sources.v2.bucketing.enabled` (set by
  * the staging helper); partition-value mismatches between the sides are
  * handled by Spark's partition push-down (missing keys on one side become
  * empty partitions rather than a fallback shuffle).
  *
  * The in-driver registry below stands in for the external storage system a
  * real connector would read (the demo's Cassandra cluster); the operator
  * under test is the scan/join, not the staging.
  */
object KeyGroupedRegistry {
  /** One staged table: schema, the partition-key columns (each integral or
    * string — the CQL partition-key types this demo carries), the rows
    * grouped by key tuple — one entry per distinct tuple = one input
    * split, sorted by [[keyOrder]] — and any number of clustering columns
    * (integral, timestamp, date or string; temporal cells stored in their
    * internal long encoding). With clustering columns the table models Cassandra's full
    * `((pk...), ck1, ck2, ...)` primary key: rows are kept sorted by the
    * ck TUPLE inside each partition, predicates following the CQL prefix
    * rule (equality on a ck prefix, range on the next) read one
    * partition's contiguous tuple-slice, and the upsert identity is the
    * full `(pk..., ck...)` tuple instead of the partition key alone. */
  final case class Entry(schema: StructType, keyCols: Seq[String],
      parts: Array[(Vector[Any], Array[Array[Any]])],
      clusteringCols: Seq[String] = Nil,
      indexCols: Seq[String] = Nil,
      mvCols: Seq[String] = Nil,
      ckDesc: Set[String] = Set.empty,
      staticCols: Seq[String] = Nil,
      staticVals: Map[Vector[Any], Map[Int, Any]] = Map.empty) {
    def keyTypes: Seq[DataType] = keyCols.map(schema(_).dataType)
    /** CQL STATIC columns: one cell per PARTITION, shared by every
      * clustering row — `staticVals` holds the current value per
      * (normalized) partition key and static-column schema index, updated
      * by any write carrying a non-null cell; reads OVERLAY it onto every
      * served row, so a single write flips the value seen across the whole
      * partition (the Cassandra semantics: the static row lives beside the
      * clustering rows and merges by its own cell). */
    def staticIdxs: Seq[Int] = staticCols.map(schema.fieldIndex)
    /** Schema indices of the clustering columns, in declared order — rows
      * inside each partition are kept sorted by this TUPLE, each column in
      * its declared direction (`ckDesc` = CQL CLUSTERING ORDER BY ... DESC:
      * the PHYSICAL layout is reversed for those columns, so "first rows"
      * of a partition are its newest — the Cassandra time-series idiom). */
    def ckIdxs: Seq[Int] = clusteringCols.map(schema.fieldIndex)
    def ckDescFlags: Seq[Boolean] = clusteringCols.map(ckDesc)

    /** Materialized-view analog (Cassandra MV): per declared MV column, the
      * SAME rows re-keyed on that column — a write-through projection table
      * whose partition key is the MV column, the general form of "query by
      * another key" (the 2i below only prunes base splits; the MV is its own
      * ring). Maintained in the same commit as the base write: every
      * upsert/delete produces a new Entry, so the lazy layout recomputes
      * from the committed rows — the registry-side stand-in for the
      * per-write MV updates Cassandra applies on its write path (on a real
      * ring each MV partition lives on the replicas owning ITS key,
      * KVRing.replicasOf(mvValue)). Rows with a NULL MV key are excluded,
      * exactly Cassandra's MV rule. */
    lazy val mvs: Map[String, Map[Any, Array[Array[Any]]]] = mvCols.map { c =>
      val ci = schema.fieldIndex(c)
      c -> parts.toSeq.flatMap(_._2).filter(_(ci) != null)
        .groupBy(r => normCell(r(ci)))
        .map { case (v, rs) => v -> rs.toArray }
    }.toMap

    /** Secondary-index analog (Cassandra 2i): per indexed column, an
      * inverted projection `value -> set of partition-key tuples owning at
      * least one matching row`. Write-maintained: the index is rebuilt from
      * `parts` on every commit (each upsert produces a new Entry, so the
      * lazy val recomputes) — the registry-side stand-in for the local
      * per-node index Cassandra updates on the write path. The scan uses it
      * to answer non-key equality by planning ONLY the owning splits
      * instead of the full ring. */
    lazy val indexes: Map[String, Map[Any, Set[Vector[Any]]]] = indexCols.map { c =>
      val ci = schema.fieldIndex(c)
      // a collection column indexes per ELEMENT (Cassandra's index on a
      // set/list — SAI collection semantics): the inverted projection maps
      // each element value to the partitions owning at least one row whose
      // collection CONTAINS it; NULL collections contribute nothing. A MAP
      // column indexes all three CQL granules at once — KEYS(m) (tagged
      // "mk"), VALUES(m) ("mv") and ENTRIES(m) ("me", serving m[k] = v) —
      // the index forms `CREATE INDEX ON t (KEYS(m) / VALUES(m) /
      // ENTRIES(m))` create; tags keep a map KEY "x" distinct from a map
      // VALUE "x" in the one projection.
      def norm(x: Any): Any = x match {
        case u: UTF8String => u.toString
        case e => normCell(e)
      }
      def cellsOf(r: Array[Any]): Iterator[Any] = schema(c).dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) => r(ci) match {
          case null => Iterator.empty
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toObjectArray(et).iterator.map(norm)
        }
        case org.apache.spark.sql.types.MapType(kt, vt, _) => r(ci) match {
          case null => Iterator.empty
          case m: org.apache.spark.sql.catalyst.util.MapData =>
            val ks = m.keyArray.toObjectArray(kt).map(norm)
            val vs = m.valueArray.toObjectArray(vt).map(norm)
            ks.iterator.map(("mk", _): Any) ++
              vs.iterator.map(("mv", _): Any) ++
              ks.iterator.zip(vs.iterator).map(kv => ("me", kv._1, kv._2): Any)
        }
        case _ => Iterator.single(normCell(r(ci)))
      }
      c -> parts.toSeq
        .flatMap { case (k, rows) => rows.iterator.flatMap(r =>
          cellsOf(r).map(_ -> k)) }
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    }.toMap
  }

  /** Canonical index-cell value: integral values by long (boxing-width
    * independent), everything else by its own equality. */
  private[sources] def normCell(v: Any): Any = v match {
    case n: java.lang.Byte => n.longValue
    case n: java.lang.Short => n.longValue
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Long => n
    case x => x
  }

  /** External (collect()) cell → the INTERNAL representation the reader
    * serves: timestamps become epoch micros, dates epoch days, decimals
    * Spark `Decimal`s of the column's precision and scale — so a TIMESTAMP
    * clustering column orders/slices as a plain long and the
    * PartitionReader can emit stored cells into InternalRows untouched. */
  private[sources] def toStoredCell(dt: DataType, v: Any): Any = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (dt, v) match {
      case (_, null) => null
      case (TimestampType, t: java.sql.Timestamp) => DateTimeUtils.fromJavaTimestamp(t)
      case (TimestampType, i: java.time.Instant) => DateTimeUtils.instantToMicros(i)
      case (DateType, d: java.sql.Date) => DateTimeUtils.fromJavaDate(d)
      case (DateType, d: java.time.LocalDate) => d.toEpochDay.toInt
      case (dt: DecimalType, d: java.math.BigDecimal) => Decimal(d, dt.precision, dt.scale)
      // vector / collection cells (the CQL vector<float, n> shape the ANN
      // read serves): stored in internal ArrayData form so the reader emits
      // them untouched; elements converted recursively
      case (at: org.apache.spark.sql.types.ArrayType, s: scala.collection.Seq[_]) =>
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          s.map {
            case str: String => UTF8String.fromString(str)
            case e => toStoredCell(at.elementType, e)
          }.toArray)
      // map cells (CQL map<k, v>): stored as internal MapData, entries
      // key-sorted so the stored form is deterministic regardless of the
      // external Map's iteration order
      case (mt: org.apache.spark.sql.types.MapType, m: scala.collection.Map[_, _]) =>
        val kvs = m.toSeq.sortBy(kv => String.valueOf(kv._1))
        def conv(dt: DataType)(x: Any): Any = x match {
          case str: String => UTF8String.fromString(str)
          case e => toStoredCell(dt, e)
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            kvs.map(kv => conv(mt.keyType)(kv._1)).toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            kvs.map(kv => conv(mt.valueType)(kv._2)).toArray))
      case _ => v
    }
  }

  /** Ordering of one clustering cell (stored form): integrals/temporals by
    * long value, strings by value — the two families the staging validator
    * admits. */
  private[sources] def compareCkCell(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) => java.lang.Long.compare(x.longValue, y.longValue)
    case (x: String, y: String) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"incomparable clustering cells: $a vs $b")
  }

  /** Lexicographic ordering of a row by its clustering-column tuple, each
    * column in its declared direction (CLUSTERING ORDER BY). */
  private[sources] def ckTupleOrdering(idxs: Seq[Int],
      desc: Seq[Boolean]): Ordering[Array[Any]] =
    new Ordering[Array[Any]] {
      override def compare(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < idxs.length) {
          val c0 = compareCkCell(a(idxs(i)), b(idxs(i)))
          val c = if (desc(i)) -c0 else c0
          if (c != 0) return c
          i += 1
        }
        0
      }
    }

  private val tables = TrieMap.empty[String, Entry]
  def put(name: String, e: Entry): Unit = tables.put(name, e)
  def get(name: String): Entry = tables.getOrElse(name,
    throw new IllegalArgumentException(s"graft-kv table not staged: $name"))
  def contains(name: String): Boolean = tables.contains(name)

  /** Observability for tests: splits actually planned by the last scan of
    * each table — how PlanSpec proves key-predicate partition pruning. */
  val lastPlanned = TrieMap.empty[String, Int]

  /** Observability for tests: the replica hosts each key of the last batch
    * write was routed to — how UpsertSpec proves writes land on
    * `KVRing.replicasOf(key)` (the token-aware write path). */
  val lastWritePlacement = TrieMap.empty[String, Map[Vector[Any], Seq[String]]]

  /** Observability for tests: total rows served across the splits of the
    * last scan — how PlanSpec proves a pushed LIMIT capped per-split reads. */
  val lastScanRows = TrieMap.empty[String, Long]

  /** One commit in the CDC changelog: its written rows, whether it is a
    * tombstone commit, and — for a ck-RANGE delete — the half-open [lo, hi)
    * clustering bounds its single marker row tombstones (exactly how
    * Cassandra serializes a range tombstone: partition key + bounds, not an
    * enumeration of the doomed rows). */
  final case class LogBatch(rows: Array[Array[Any]], tombstone: Boolean,
      range: Option[(Long, Long)] = None)

  /** CDC changelog (Cassandra CDC-log analog): one entry per commit — the
    * staged snapshot is batch 0, every upsert commit appends its written
    * rows as the next batch, every DELETE appends a TOMBSTONE batch
    * (key cells set, data cells null, flag true — exactly how Cassandra
    * deletes travel: as markers, not absences), and every ck-range DELETE
    * appends a RANGE-TOMBSTONE batch (marker + bounds). Every commit
    * enters the log through [[Cdc.append]] (the catalog's tables keep the
    * same kind of log), and [[CdcStream]] serves it as micro-batches
    * (offset = batch count); folding the log in commit order — latest
    * mutation per primary key, tombstoned keys dropped, range-covered rows
    * dropped — reproduces the table state (the invariant q_stream_kv_cdc
    * and StreamingSpec assert). */
  val changelog = TrieMap.empty[String,
    scala.collection.mutable.ArrayBuffer[LogBatch]]
  private def logOf(name: String) =
    changelog.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty)

  private[sources] def supportedKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Hard bound on rows staged into the in-driver registry. The registry
    * stands in for the EXTERNAL cluster, so nothing staged here is ever a
    * scale path — but the driver-memory bound must be an assertion, not a
    * comment: a caller accidentally pointing a 100 TB table at stageMulti
    * should fail loudly at staging, not OOM the driver. */
  val StagingRowCap = 5000000

  /** The order of every `Entry.parts`: ascending by this string, ties in
    * commit order (stable). Staging establishes it and every commit keeps
    * it, which is what lets a scan find a key — and an upsert its partition
    * — by binary search. Integral cells stringify alike whatever their
    * boxing width, so a staged Int key and a written Long key agree. */
  private[sources] def keyOrder(k: Seq[Any]): String =
    k.map(String.valueOf).mkString("\u0000")

  /** First index of `parts` whose key sorts after `s` (strict) or at/after
    * it, by [[keyOrder]]. */
  private def searchKey(parts: Array[(Vector[Any], Array[Array[Any]])], s: String,
      strict: Boolean): Int = {
    var lo = 0; var hi = parts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = keyOrder(parts(mid)._1).compareTo(s)
      if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Index of key `k` in `parts` (key tuples compare by `==`, under which
    * integral cells of any boxing width are equal). */
  private[sources] def indexOfKey(parts: Array[(Vector[Any], Array[Array[Any]])],
      k: Vector[Any]): Option[Int] = {
    val s = keyOrder(k)
    var i = searchKey(parts, s, strict = false)
    while (i < parts.length && keyOrder(parts(i)._1) == s) {
      if (parts(i)._1 == k) return Some(i)
      i += 1
    }
    None
  }

  /** Collect a (small) DataFrame into the registry grouped by the key tuple.
    * Driver-side by design: the registry emulates the external cluster that
    * owns the data; at real scale rows never pass through the driver. */
  def stageMulti(name: String, df: DataFrame, keyCols: Seq[String],
      clusteringCols: Seq[String] = Nil,
      indexCols: Seq[String] = Nil,
      maxRows: Int = StagingRowCap,
      mvCols: Seq[String] = Nil,
      ckDesc: Set[String] = Set.empty,
      staticCols: Seq[String] = Nil): Unit = {
    if (contains(name)) return
    val schema = df.schema
    keyCols.foreach { k =>
      require(supportedKeyType(schema(k).dataType),
        s"graft-kv:$name key column $k must be integral or string, got " +
          schema(k).dataType.catalogString)
    }
    indexCols.foreach(c => require(schema.fieldNames.contains(c),
      s"graft-kv:$name indexed column $c not in schema"))
    (indexCols ++ mvCols).foreach(c => require(!staticCols.contains(c),
      s"graft-kv:$name column $c cannot be both static and indexed/viewed"))
    mvCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-kv:$name MV column $c not in schema")
      require(supportedKeyType(schema(c).dataType),
        s"graft-kv:$name MV column $c must be integral or string " +
          "(it is the view's partition key), got " +
          schema(c).dataType.catalogString)
    }
    clusteringCols.foreach { c =>
      schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | TimestampType |
            DateType | StringType => ()
        case other => throw new IllegalArgumentException(
          s"graft-kv:$name clustering column $c must be integral, timestamp, " +
            s"date or string, got ${other.catalogString}")
      }
    }
    require(ckDesc.subsetOf(clusteringCols.toSet),
      s"graft-kv:$name CLUSTERING ORDER BY names non-clustering columns: " +
        (ckDesc -- clusteringCols.toSet).mkString(","))
    staticCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"graft-kv:$name static column $c not in schema")
      require(!keyCols.contains(c) && !clusteringCols.contains(c),
        s"graft-kv:$name static column $c cannot be part of the primary key (CQL)")
    }
    require(staticCols.isEmpty || clusteringCols.nonEmpty,
      s"graft-kv:$name static columns require clustering columns (CQL: a " +
        "table without clustering rows has nothing to share the cell across)")
    val kis = keyCols.map(schema.fieldIndex)
    val cks = clusteringCols.map(schema.fieldIndex)
    val descFlags = clusteringCols.map(ckDesc)
    // collect through limit(cap+1) so an over-cap input fails the require
    // below after materializing at most cap+1 rows — never the full table
    val collected = df.limit(maxRows + 1).collect()
    require(collected.length <= maxRows,
      s"graft-kv:$name staging exceeds the $maxRows-row driver-memory cap; " +
        "the registry stands in for an external cluster and is not a data path")
    val grouped = collected
      .map { r =>
        val a = r.toSeq.toArray.zip(schema.fields)
          .map { case (v, f) => toStoredCell(f.dataType, v) }
        // CQL: no component of the primary key may be null — enforced at
        // staging so IsNotNull on these columns is sound to push as a no-op
        (kis ++ cks).foreach(i => require(a(i) != null,
          s"graft-kv:$name primary-key column ${schema.fields(i).name} " +
            "cannot be null (CQL)"))
        a
      }
      .groupBy(a => kis.map(a(_)).toVector)
      .toArray
      .sortBy(kv => keyOrder(kv._1)) // the lookup order every commit keeps
      .map { case (k, rows) =>
        k -> (if (cks.isEmpty) rows
              else rows.sorted(ckTupleOrdering(cks, descFlags)))
      }
    // initial static cells: per partition, the last non-null staged value
    val sis = staticCols.map(schema.fieldIndex)
    val statics: Map[Vector[Any], Map[Int, Any]] =
      if (sis.isEmpty) Map.empty
      else grouped.map { case (k, rows) =>
        k.map(normCell) -> sis.flatMap(si =>
          rows.reverseIterator.map(_(si)).find(_ != null).map(si -> _)).toMap
      }.toMap
    put(name,
      Entry(schema, keyCols, grouped, clusteringCols, indexCols, mvCols,
        ckDesc, staticCols, statics))
    changelog.put(name,
      scala.collection.mutable.ArrayBuffer(LogBatch(grouped.flatMap(_._2), tombstone = false)))
  }

  /** Single-column convenience used by the original demo tables. */
  def stage(name: String, df: DataFrame, keyCol: String,
      clusteringCol: Option[String] = None): Unit =
    stageMulti(name, df, Seq(keyCol), clusteringCol.toSeq)

  /** INSERT-as-upsert commit (CQL write semantics, SURVEY §2.2 write row):
    * each incoming row replaces the row with the same primary key — the
    * whole partition for a key-only table, the matching `(pk..., ck)` row
    * when a clustering column is declared — and new keys are inserted.
    * The commit costs what the batch touches: `parts` is copied, only the
    * touched partitions are rewritten (and re-sorted by ck, so range
    * slicing remains valid), and each new key is spliced in at its
    * binary-searched [[keyOrder]] position, after any equal-ordered key
    * already there, new keys in first-seen order. The result is exactly
    * the full rebuild's (UpsertSpec checks it against one). */
  def applyUpsert(name: String, rows: Array[(Vector[Any], Array[Any])]): Unit = synchronized {
    val e = get(name)
    val cks = e.ckIdxs
    val touched = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.Buffer[Array[Any]]]
    val fresh = scala.collection.mutable.LinkedHashMap
      .empty[Vector[Any], scala.collection.mutable.Buffer[Array[Any]]]
    rows.foreach { case (pk, row) =>
      val buf = indexOfKey(e.parts, pk) match {
        case Some(i) => touched.getOrElseUpdate(i, e.parts(i)._2.toBuffer)
        case None => fresh.getOrElseUpdate(pk, scala.collection.mutable.Buffer.empty)
      }
      if (cks.nonEmpty) {
        val i = buf.indexWhere(r =>
          cks.forall(c => compareCkCell(r(c), row(c)) == 0))
        if (i >= 0) buf(i) = row else buf += row
      } else {
        buf.clear(); buf += row
      }
    }
    def sortedRows(buf: scala.collection.mutable.Buffer[Array[Any]]): Array[Array[Any]] =
      if (cks.isEmpty) buf.toArray
      else buf.toArray.sorted(ckTupleOrdering(cks, e.ckDescFlags))
    val base = e.parts.clone()
    touched.foreach { case (i, buf) => base(i) = base(i)._1 -> sortedRows(buf) }
    val adds = fresh.toArray.map { case (k, buf) => k -> sortedRows(buf) }
      .sortBy(kv => keyOrder(kv._1))
    val parts = new Array[(Vector[Any], Array[Array[Any]])](base.length + adds.length)
    var from = 0
    adds.iterator.zipWithIndex.foreach { case (kv, n) =>
      val at = searchKey(base, keyOrder(kv._1), strict = true)
      System.arraycopy(base, from, parts, from + n, at - from)
      parts(at + n) = kv
      from = at
    }
    System.arraycopy(base, from, parts, from + adds.length, base.length - from)
    // static cells: any write carrying a non-null static value updates the
    // PARTITION's cell (a null is untouched, like the cellwise UPDATE rule)
    val sis = e.staticIdxs
    val statics =
      if (sis.isEmpty) e.staticVals
      else rows.foldLeft(e.staticVals) { case (acc, (pk, row)) =>
        val k = pk.map(normCell)
        val upd = sis.flatMap(si =>
          Option(row(si)).map(si -> _)).toMap
        if (upd.isEmpty) acc
        else acc.updated(k, acc.getOrElse(k, Map.empty) ++ upd)
      }
    put(name, e.copy(parts = parts, staticVals = statics))
    Cdc.append(logOf(name), LogBatch(rows.map(_._2), tombstone = false))
  }

  /** DELETE-by-partition-key commit (CQL DELETE): drops whole partitions —
    * an absent key is a silent no-op (tombstone semantics) — and appends a
    * tombstone batch to the changelog so CDC consumers see the deletion as
    * a marker row (key cells set, data cells null). */
  def applyDelete(name: String, keys: Set[Vector[Any]]): Unit = synchronized {
    val e = get(name)
    // a PARTITION delete tombstones the static row with it (CQL: the shared
    // cells die with the partition; a later re-insert must NOT resurrect
    // them) — unlike a ck-range delete, which leaves the static row alive
    val norm = keys.map(_.map(normCell))
    put(name, e.copy(parts = e.parts.filterNot { case (k, _) => keys(k) },
      staticVals = e.staticVals -- norm))
    val kis = e.keyCols.map(e.schema.fieldIndex)
    val tombstones = keys.toArray.map { k =>
      val row = Array.fill[Any](e.schema.length)(null)
      kis.zip(k).foreach { case (i, v) => row(i) = v }
      row
    }
    Cdc.append(logOf(name), LogBatch(tombstones, tombstone = true))
  }

  /** CQL ck-RANGE DELETE (`DELETE FROM t WHERE pk = ? AND ck >= ? AND
    * ck < ?`): removes the contiguous clustering slice of the matching
    * partitions and appends ONE RANGE-TOMBSTONE batch per partition to the
    * changelog — a marker row (key cells set, data null) carrying the
    * half-open [lo, hi) bounds, exactly how Cassandra serializes a range
    * tombstone (partition key + bounds, never an enumeration of the doomed
    * rows — at 100 TB the tombstone is O(1), not O(slice)). A partition
    * emptied by the slice disappears. */
  def applyRangeDelete(name: String, keys: Set[Vector[Any]],
      ckLo: Option[Long], ckHi: Option[Long]): Unit = synchronized {
    val e = get(name)
    require(e.clusteringCols.length == 1,
      s"graft-kv:$name: a range delete requires exactly one clustering " +
        "column (multi-ck range tombstones are out of scope)")
    val ci = e.schema.fieldIndex(e.clusteringCols.head)
    val targets = keys.map(_.map(normCell))
    def inRange(r: Array[Any]): Boolean = {
      val c = r(ci).asInstanceOf[Number].longValue
      ckLo.forall(c >= _) && ckHi.forall(c < _)
    }
    val doomed = e.parts.map(_._1)
      .filter(k => targets(k.map(normCell))).toSeq
    val parts = e.parts.map { case (k, rows) =>
      if (targets(k.map(normCell))) k -> rows.filterNot(inRange) else k -> rows
    }.filter(_._2.nonEmpty)
    put(name, e.copy(parts = parts))
    val kis = e.keyCols.map(e.schema.fieldIndex)
    val lo = ckLo.getOrElse(Long.MinValue)
    val hi = ckHi.getOrElse(Long.MaxValue)
    Cdc.append(logOf(name), doomed.map { k =>
      val row = Array.fill[Any](e.schema.length)(null)
      kis.zip(k).foreach { case (i, v) => row(i) = v }
      LogBatch(Array(row), tombstone = true, range = Some((lo, hi)))
    }: _*)
  }

  /** Tombstone GC — the compaction / gc_grace maintenance op that completes
    * the delete story: every commit OLDER than the last `keepLast` is folded
    * into ONE snapshot batch, physically dropping tombstones AND the rows
    * they shadowed (until now the changelog retained both forever). The
    * fold applies commits in order: upserts replace by primary key,
    * partition tombstones drop keys, range tombstones drop their ck slice.
    * Like Cassandra reclaiming CDC segments, offsets below the watermark
    * are renumbered — consumers must be past it; fresh consumers start from
    * the compacted snapshot and fold to the identical state (asserted in
    * StreamingSpec). Returns (storedRowsBefore, storedRowsAfter). */
  def compactChangelog(name: String, keepLast: Int): (Long, Long) = synchronized {
    val e = get(name)
    val log = changelog(name)
    val before = log.map(_.rows.length.toLong).sum
    val cut = log.size - math.max(0, keepLast)
    if (cut > 1) {
      val kis = e.keyCols.map(e.schema.fieldIndex)
      val cks = e.ckIdxs
      val state = scala.collection.mutable.LinkedHashMap
        .empty[(Vector[Any], Vector[Any]), Array[Any]]
      log.take(cut).foreach { b =>
        if (!b.tombstone) b.rows.foreach { r =>
          state((kis.map(r(_)).toVector.map(normCell),
            cks.map(r(_)).toVector.map(normCell))) = r
        } else b.range match {
          case Some((lo, hi)) => b.rows.foreach { r =>
            // range tombstones exist only on single-ck tables (see
            // applyRangeDelete), so the ck tuple is one numeric cell
            val key = kis.map(r(_)).toVector.map(normCell)
            state.filterInPlace { case ((k, ck), _) =>
              k != key || !ck.headOption.exists { c =>
                val v = c.asInstanceOf[Number].longValue
                v >= lo && v < hi
              }
            }
          }
          case None => b.rows.foreach { r =>
            val key = kis.map(r(_)).toVector.map(normCell)
            state.filterInPlace { case ((k, _), _) => k != key }
          }
        }
      }
      // the swap itself synchronizes on the buffer: the CDC stream's
      // latestOffset/planInputPartitions read under the same monitor, so a
      // live consumer can never observe the cleared-but-not-rebuilt window
      log.synchronized {
        val rest = log.drop(cut).toArray
        log.clear()
        Cdc.append(log, LogBatch(state.values.toArray, tombstone = false) +: rest: _*)
      }
    }
    (before, log.map(_.rows.length.toLong).sum)
  }
}

/** The registry's "token ring": a fixed set of node names standing in for
  * the reference cluster's labeled Cassandra hosts (the demo pins one
  * Cassandra pod per labeled OKE node — userdata/cloudinit.sh:124-137 — and
  * the token-aware connector reads each token range from the replica owning
  * it, README.md:135). Each key's replica set is its ring position plus the
  * next `ReplicationFactor - 1` successors — Cassandra SimpleStrategy.
  *
  * `KVPartition.preferredLocations()` reports this set, which is the literal
  * Spark mechanism for locality (SURVEY §2.1 P1): the DAGScheduler places
  * each split's task on a reported host when one is available. Inert under
  * `local[32]` (one executor, no host match) but it is exactly what makes
  * reads node-local on a real cluster — and it is observable/testable via
  * `RDD.preferredLocations`. */
object KVRing {
  /** The default 3-node cluster (the reference deploys a 3-node ring,
    * README.md:36). [[liveHosts]] is the CURRENT membership — these are
    * only the bootstrap set. */
  val hosts: Array[String] = Array("graft-node-0", "graft-node-1", "graft-node-2")
  val ReplicationFactor = 2

  /** Ring positions form a small cyclic space so vnode arcs are
    * inspectable in tests: a key's position is its token mod RingSize.
    * Real Cassandra's ring is the full Long range; the model's is a
    * congruent cyclic group, which preserves every ownership/movement
    * property (arcs, wrap-around, bounded movement on bootstrap) while
    * keeping arithmetic testable. */
  val RingSize = 720
  /** Default `num_tokens` per node — vnodes, so each node owns several
    * interleaved arcs instead of one contiguous wedge (Cassandra's
    * num_tokens; its default is 16 in 4.x — 8 keeps the default ring at
    * 24 arcs, plenty of interleaving at test scale). */
  val DefaultNumTokens = 8

  /** One virtual node: this host owns the arc (prevPos, pos]. */
  final case class Vnode(pos: Int, host: String)

  /** The default ring: hosts' vnodes evenly interleaved — host i's j-th
    * vnode at (j·3 + i)·30, so consecutive 30-position arcs rotate
    * through the hosts. Deterministic, balanced (each host owns exactly
    * RingSize/3 positions). */
  private def defaultRing: Vector[Vnode] =
    (for {
      j <- 0 until DefaultNumTokens
      i <- hosts.indices
    } yield Vnode((j * hosts.length + i) * (RingSize / (DefaultNumTokens * hosts.length)),
      hosts(i))).sortBy(_.pos).toVector

  @volatile private var vnodes: Vector[Vnode] = defaultRing

  /** Ring token of a composite key: a single integral key is its own token
    * (keeps placement directly inspectable in tests — the demo analog of an
    * order-preserving partitioner); a composite or string key hashes its
    * canonicalized elements (Murmur3, Cassandra's default partitioner
    * family). Canonicalization makes the token independent of integer
    * boxing width, so a staged Int and a written Integer agree. */
  def tokenOf(key: Seq[Any]): Long = key match {
    case Seq(n: Number) => n.longValue
    case _ =>
      val canon = key.map {
        case n: Number => n.longValue.toString
        case v => String.valueOf(v)
      }
      scala.util.hashing.MurmurHash3.orderedHash(canon).toLong
  }

  def posOf(token: Long): Int = (((token % RingSize) + RingSize) % RingSize).toInt

  /** Replicas of a key: walk the ring clockwise from the key's position —
    * the FIRST vnode at-or-after it owns the key (Cassandra's
    * (prev, token] arc rule), successive DISTINCT hosts complete the
    * replica set (vnode-aware: consecutive vnodes of one host count
    * once). Total: min(RF, live hosts). */
  def replicasOf(key: Seq[Any]): Seq[String] = replicasAt(posOf(tokenOf(key)))
  def replicasOf(key: Long): Seq[String] = replicasOf(Seq[Any](key))
  private def replicasAt(p: Int): Seq[String] = {
    val ring = vnodes
    val n = ring.length
    val start = { val i = ring.indexWhere(_.pos >= p); if (i < 0) 0 else i }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n && out.length < ReplicationFactor) {
      val h = ring((start + i) % n).host
      if (!out.contains(h)) out += h
      i += 1
    }
    out.toSeq
  }

  // ---- topology changes (nodetool bootstrap / decommission analogs)

  def liveHosts: Seq[String] = vnodes.map(_.host).distinct.sorted
  /** Current arcs, for introspection/tests: (pos, host) sorted. */
  def arcs: Seq[(Int, String)] = vnodes.map(v => (v.pos, v.host))

  /** Bootstrap a node: it takes `numTokens` deterministically-derived ring
    * positions (evenly spaced, seeded by the host name, linear-probed past
    * occupied positions — the model's token allocation). Only the arcs
    * immediately counter-clockwise of the new vnodes change owners — the
    * bounded-movement property consistent hashing buys, pinned in
    * UpsertSpec. Data "re-streams" logically: placement (preferred
    * locations, `_replica`, split routing) is recomputed from the ring at
    * every plan, so the next read already routes to the new owners; no
    * stored row moves or is lost (the registry is the storage layer,
    * topology is metadata — stated scope). */
  def addNode(host: String, numTokens: Int = DefaultNumTokens): Seq[Int] =
    synchronized {
      require(numTokens >= 1 && numTokens <= RingSize / 4,
        s"addNode: numTokens must be in [1, ${RingSize / 4}], got $numTokens")
      val taken = scala.collection.mutable.Set.from(vnodes.map(_.pos))
      val step = RingSize / numTokens
      val seed = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(host), step)
      val chosen = (0 until numTokens).map { j =>
        var p = (seed + j * step) % RingSize
        while (taken(p)) p = (p + 1) % RingSize
        taken += p
        p
      }
      addNodeAt(host, chosen)
      chosen.sorted
    }

  /** Bootstrap a node at EXPLICIT ring positions — Cassandra's
    * `initial_token` list (the primitive [[addNode]]'s derived allocation
    * sits on). Explicit tokens make ownership arithmetic replayable by an
    * external oracle: the movement a bootstrap causes is then pure modular
    * arithmetic over declared positions, not a hash seed. */
  def addNodeAt(host: String, positions: Seq[Int]): Unit = synchronized {
    require(positions.nonEmpty, "addNodeAt: empty initial_token list")
    require(positions.forall(p => p >= 0 && p < RingSize),
      s"addNodeAt: positions must lie in [0, $RingSize)")
    require(positions.distinct.size == positions.size,
      "addNodeAt: duplicate initial_token positions")
    require(!vnodes.exists(_.host == host),
      s"addNodeAt: $host is already in the ring")
    val taken = vnodes.map(_.pos).toSet
    require(positions.forall(p => !taken(p)),
      s"addNodeAt: positions ${positions.filter(taken)} already owned " +
        "(Cassandra: token conflict on bootstrap)")
    vnodes = (vnodes ++ positions.map(Vnode(_, host))).sortBy(v => (v.pos, v.host))
  }

  /** Decommission a node: its vnodes leave the ring and their arcs fold
    * into the clockwise successors (the keys it owned re-home; nothing
    * else moves). Refuses to shrink below ReplicationFactor hosts — the
    * ring could no longer place RF distinct replicas. */
  def decommission(host: String): Unit = synchronized {
    require(vnodes.exists(_.host == host), s"decommission: $host is not in the ring")
    require(liveHosts.length > ReplicationFactor,
      s"decommission: refusing to drop below ReplicationFactor=" +
        s"$ReplicationFactor live hosts (CQL: insufficient replicas)")
    vnodes = vnodes.filterNot(_.host == host)
  }

  /** Restore the bootstrap 3-node ring (test isolation). */
  def resetTopology(): Unit = synchronized { vnodes = defaultRing }
}

/** `spark.read.format("graft.sources.KVDataSource").option("table", name)`;
  * with `.option("cdc", "true")` on `readStream`, the table serves its
  * commit changelog as a micro-batch stream instead of its current state:
  * the shared [[CdcTable]], whose schema gains `_commit_seq` (the commit
  * each mutation belongs to, the fold key for reconstructing state) and
  * `_tombstone`. */
class KVDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    getTable(null, Array.empty, options).schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val name = properties.get("table")
    val entry = KeyGroupedRegistry.get(name)
    if (java.lang.Boolean.parseBoolean(properties.getOrDefault("cdc", "false")))
      new CdcTable(s"graft-kv:$name (cdc)", entry.schema,
        entry.clusteringCols.nonEmpty, () => KeyGroupedRegistry.changelog(name),
        KVReaderFactory.cells)
    else new KVTable(name, entry)
  }
}

class KVTable(tname: String, entry: KeyGroupedRegistry.Entry)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** DSv2 metadata columns — the connector's hidden columns, selectable by
    * name but excluded from `SELECT *`: `_token` is the ring token of the
    * row's partition key (what CQL's `token(pk)` computes — identical to
    * [[KVRing.tokenOf]] and the catalog's `token()` SQL function, so the
    * three surfaces can never disagree), `_replica` the primary replica
    * host owning that token. The Spark-native form of Cassandra's
    * token/ownership introspection. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_token"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "ring token of the row's partition key (token(pk))"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_replica"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "primary replica host owning the row's token"
      })

  /** CQL DELETE: by partition key (the metadata fast path Cassandra offers
    * — key-equality/IN on every key column), optionally narrowed by a
    * clustering-column range (`AND ck >= ? AND ck < ?` — CQL's row-range
    * delete within a partition). Anything else is rejected the way CQL
    * rejects a keyless DELETE. Whole-partition deletes append tombstone
    * batches to the CDC changelog; ck-range deletes append RANGE tombstones
    * (marker + bounds). */
  private def isCkRange(f: Filter): Boolean =
    entry.clusteringCols.length == 1 && (f match {
      case GreaterThanOrEqual(a, v) =>
        entry.clusteringCols.headOption.contains(a) && KVScan.ckValue(v).nonEmpty
      case LessThan(a, v) =>
        entry.clusteringCols.headOption.contains(a) && KVScan.ckValue(v).nonEmpty
      case _ => false
    })
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.nonEmpty && {
      val keyPreds = filters.collect {
        case EqualTo(a, _) if entry.keyCols.contains(a) => a
        case In(a, _) if entry.keyCols.contains(a) => a
      }
      val ckPreds = filters.filter(isCkRange)
      keyPreds.length + ckPreds.length == filters.length &&
        keyPreds.toSet == entry.keyCols.toSet
    }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    // per-column admissible value sets; the deletable key tuples are the
    // current keys matching every column's set (conjunction)
    val sets: Map[String, Set[Any]] = filters.collect {
      case EqualTo(a, v) if entry.keyCols.contains(a) => a -> Set[Any](v)
      case In(a, vs) if entry.keyCols.contains(a) => a -> vs.toSet[Any]
    }.groupBy(_._1).map { case (a, kvs) => a -> kvs.map(_._2).reduce(_ intersect _) }
    val at = entry.keyCols.zipWithIndex.toMap
    def cellEq(stored: Any, v: Any): Boolean = (stored, v) match {
      case (x: Number, y: Number) => x.longValue == y.longValue
      case (x, y) => x == y
    }
    val doomed = entry.parts.map(_._1).filter { k =>
      sets.forall { case (col, vs) => vs.exists(v => cellEq(k(at(col)), v)) }
    }.toSet
    val ckHead = entry.clusteringCols.headOption
    val ckLo = filters.collect {
      case GreaterThanOrEqual(a, v) if ckHead.contains(a) => KVScan.ckValue(v)
    }.flatten.maxOption
    val ckHi = filters.collect {
      case LessThan(a, v) if ckHead.contains(a) => KVScan.ckValue(v)
    }.flatten.minOption
    if (doomed.nonEmpty) {
      if (ckLo.nonEmpty || ckHi.nonEmpty)
        KeyGroupedRegistry.applyRangeDelete(tname, doomed, ckLo, ckHi)
      else KeyGroupedRegistry.applyDelete(tname, doomed)
    }
  }
  override def name(): String = s"graft-kv:$tname"
  override def schema(): StructType = entry.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def partitioning(): Array[Transform] =
    entry.keyCols.map(Expressions.identity).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVScanBuilder(tname, entry,
      Option(options.get("perPartitionLimit")).map(_.toInt),
      KVScan.AnnSpec.fromOptions(tname, entry, options),
      KVScan.ContainsSpec.fromOptions(tname, entry, options),
      options.getBoolean("allowFiltering", false),
      Option(options.get("split_target_rows")).map { s =>
        val n = s.toInt
        require(n > 0,
          s"graft-kv:$tname 'split_target_rows' must be positive, got $n")
        n
      })
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema().fieldNames.toSeq
    val own = entry.schema.fieldNames.toSeq
    require(in == own,
      s"graft-kv:$tname write schema $in does not match table schema $own")
    new KVWriteBuilder(tname, entry)
  }
}

/** Write path of the source — the `df.write.cassandra` analog (SURVEY §2.2
  * write row; reference capability pin: userdata/cloudinit.sh:461). Three
  * Cassandra-faithful properties, each load-bearing at 100 TB:
  *
  *   - **ring-routed**: `RequiresDistributionAndOrdering` asks Spark to
  *     cluster the incoming rows by the partition-key tuple before any
  *     writer runs, so each task holds whole key groups and sends each group
  *     once to the replicas that own it (`KVRing.replicasOf`) — the
  *     token-aware batching that keeps a 1000-executor write from spraying
  *     every coordinator.
  *   - **upsert-by-primary-key**: INSERT is an upsert (CQL semantics,
  *     reference: userdata/cloudinit.sh:312-314 re-runs INSERTs
  *     idempotently); the identity is the key tuple, or (key..., ck) with a
  *     clustering column. Rows are deduplicated last-write-wins inside each
  *     writer (rows arrive key-sorted per the required ordering), then
  *     merged into the table on commit.
  *   - **observable placement**: each commit message carries the replica set
  *     every key was routed to; UpsertSpec asserts it equals
  *     `KVRing.replicasOf(key)`.
  *
  * The registry merge on `commit()` is driver-side because the registry IS
  * the stand-in for the external cluster; on a real ring each writer task
  * would have already sent its groups to the owning replicas, and commit
  * would only seal the batch. */
class KVWriteBuilder(tname: String, entry: KeyGroupedRegistry.Entry)
    extends WriteBuilder {
  override def build(): Write = new KVWrite(tname, entry)
}

class KVWrite(tname: String, entry: KeyGroupedRegistry.Entry)
    extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.clustered(entry.keyCols.map(Expressions.identity).toArray)
  override def requiredOrdering(): Array[SortOrder] =
    (entry.keyCols.map(c => (c, false)) ++
      entry.clusteringCols.map(c => (c, entry.ckDesc(c)))).toArray.map {
      case (c, desc) => Expressions.sort(Expressions.column(c),
        if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING)
    }
  override def toBatch: BatchWrite = new KVBatchWrite(tname, entry)
}

case class KVCommitMessage(rows: Array[(Vector[Any], Array[Any])],
    placement: Array[(Vector[Any], Array[String])]) extends WriterCommitMessage

class KVBatchWrite(tname: String, entry: KeyGroupedRegistry.Entry)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KVWriterFactory(entry.schema,
      entry.keyCols.map(entry.schema.fieldIndex).toArray,
      entry.ckIdxs.toArray)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: KVCommitMessage => m }
    KeyGroupedRegistry.applyUpsert(tname, msgs.flatMap(_.rows))
    KeyGroupedRegistry.lastWritePlacement.put(tname,
      msgs.flatMap(_.placement).map { case (k, hs) => k -> hs.toSeq }.toMap)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class KVWriterFactory(schema: StructType, keyIxs: Array[Int], ckIxs: Array[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVDataWriter(schema, keyIxs, ckIxs)
}

class KVDataWriter(schema: StructType, keyIxs: Array[Int], ckIxs: Array[Int])
    extends DataWriter[InternalRow] {
  // last-write-wins per primary key within the task; the required ordering
  // makes "last" deterministic for a sorted batch, and sequential batches
  // resolve at commit time (later commit overwrites)
  private val buf =
    scala.collection.mutable.LinkedHashMap.empty[(Vector[Any], Vector[Any]), Array[Any]]

  override def write(r: InternalRow): Unit = {
    keyIxs.foreach(i =>
      require(!r.isNullAt(i), "graft-kv: partition key cannot be null (CQL)"))
    val ext = Array.tabulate[Any](schema.length) { i =>
      r.get(i, schema.fields(i).dataType) match {
        case u: UTF8String => u.toString
        case v => v
      }
    }
    val pk = keyIxs.map(ext(_)).toVector
    buf((pk, ckIxs.map(c => KeyGroupedRegistry.normCell(ext(c))).toVector)) = ext
  }
  override def commit(): WriterCommitMessage = KVCommitMessage(
    buf.toArray.map { case ((pk, _), row) => pk -> row },
    buf.keys.map(_._1).toSet.toArray.map(k => k -> KVRing.replicasOf(k).toArray))
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

/** Pushdown surface of the source — the three capabilities the pinned
  * connector advertises for reads (SURVEY.md §2.2): key-predicate filters
  * become partition pruning (a `key = k` / `key IN (...)` scan reads ONLY
  * the splits owning those keys — Cassandra's point read by partition key;
  * with a composite key, each key column's predicate prunes independently
  * and their conjunction isolates one split), column pruning drops
  * unrequested columns before rows leave the source, and an ungrouped
  * COUNT(*) is answered from the registry's per-key row counts without
  * materializing a single row — the `cassandraCount` analog at the source
  * level (the connector pushes counts to Cassandra's local count rather
  * than shipping rows). Partial pushdown: the per-key counts fold into one
  * count per replica set, one split each (the connector's split shape),
  * and Spark's final aggregate sums them, the same shape as parquet footer
  * counts — at 100 TB no row bytes cross the wire either way. */
/** CQL's refusal of a filtered full scan (`Cannot execute this query as it
  * might involve data filtering and thus may have unpredictable
  * performance...`). Named so tests and callers can catch exactly this. */
class KVAllowFilteringRequired(table: String,
    preds: Seq[org.apache.spark.sql.sources.Filter])
    extends UnsupportedOperationException(
      s"graft-kv:$table: predicates ${preds.mkString("[", ", ", "]")} are " +
        "served by no key / clustering-prefix / index / materialized-view " +
        "path and require a filtered full scan. Cannot execute this query " +
        "as it might involve data filtering and thus may have unpredictable "
        + "performance; set .option(\"allowFiltering\", \"true\") to run it " +
        "anyway (CQL ALLOW FILTERING).")

class KVScanBuilder(tname: String, entry: KeyGroupedRegistry.Entry,
    perPartitionLimit: Option[Int] = None,
    ann: Option[KVScan.AnnSpec] = None,
    contains: Option[KVScan.ContainsSpec] = None,
    allowFiltering: Boolean = false,
    splitTargetRows: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset {
  private var required: StructType = entry.schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedAggs: Seq[KVScan.PushedAgg] = Nil
  private var groupCols: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var topN: Option[(Boolean, Int)] = None // (ascending, n) on ck
  private var offset: Option[Int] = None

  private def mvPushed: Boolean = pushed.exists {
    case EqualTo(a, _) => entry.mvCols.contains(a)
    case _ => false
  }

  // key order == token order only for a single integral partition key
  // (KVRing.tokenOf identity); the gate for token-range pushdown
  private val tokenRangeable: Boolean = entry.keyCols.length == 1 &&
    (entry.keyTypes.head match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  // index RANGE pushdown needs a totally-ordered cell comparator — the
  // same integral/temporal/string family the clustering comparator admits
  // (floating types would truncate under the long-valued compare)
  private def idxRangeComparable(c: String): Boolean =
    entry.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType |
          DateType | StringType => true
      case _ => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val ckCols = entry.clusteringCols
    val ckSet = ckCols.toSet
    val keySet = entry.keyCols.toSet
    val idx = entry.indexCols.toSet
    val mv = entry.mvCols.toSet
    // CQL prefix rule for clustering predicates: the constrained ck columns
    // must be a PREFIX of the declared order, every column before the last
    // constrained one held by pure EQUALITY, the last by equality or a
    // range — that is exactly the shape the ck-tuple-sorted partition can
    // answer with one contiguous slice. Any other ck-predicate shape is
    // left unpushed (Spark filters after the scan), like CQL rejecting it
    // without ALLOW FILTERING.
    def ckColOf(f: Filter): Option[String] = f match {
      case EqualTo(a, v) if ckSet(a) && KVScan.ckBound(v).nonEmpty => Some(a)
      // all four CQL range shapes — the strict lower bound is the driver
      // paging-state read (`WHERE pk = ? AND ck > <last served> LIMIT n`)
      case GreaterThan(a, v) if ckSet(a) && KVScan.ckBound(v).nonEmpty =>
        Some(a)
      case GreaterThanOrEqual(a, v) if ckSet(a) && KVScan.ckBound(v).nonEmpty =>
        Some(a)
      case LessThan(a, v) if ckSet(a) && KVScan.ckBound(v).nonEmpty => Some(a)
      case LessThanOrEqual(a, v) if ckSet(a) && KVScan.ckBound(v).nonEmpty =>
        Some(a)
      // CQL `ck IN (...)` — the multi-slice read: allowed only on the LAST
      // constrained clustering column (the prefix-shape check below rejects
      // IN on earlier columns because it is not an EqualTo), answered as a
      // union of point runs, one binary-searched slice per value
      case In(a, vs) if ckSet(a) && vs.nonEmpty &&
        vs.forall(v => KVScan.ckBound(v).nonEmpty) => Some(a)
      case _ => None
    }
    val ckByCol: Map[String, Array[Filter]] = filters
      .flatMap(f => ckColOf(f).map(_ -> f))
      .groupBy(_._1).map { case (c, fs) => c -> fs.map(_._2) }
    val constrained = ckCols.filter(ckByCol.contains)
    val ckShapeOk = ckCols.take(constrained.length) == constrained &&
      constrained.dropRight(1).forall(c =>
        ckByCol(c).forall(_.isInstanceOf[EqualTo]))
    val (sup, unsup) = filters.partition {
      case f if ckColOf(f).nonEmpty => ckShapeOk
      // secondary-index equality / IN: split pruning via the inverted
      // projection plus exact row filtering inside the owning splits.
      // MV-column equality: the scan reads the write-through projection
      // re-keyed on that column instead of the base ring (one MV partition).
      case EqualTo(a, _: Number) => keySet(a) || idx(a) || mv(a)
      case EqualTo(a, _: String) => keySet(a) || idx(a) || mv(a)
      case In(a, _) => keySet(a) || idx(a)
      // SAI range analog (Cassandra 5's storage-attached index): RANGE
      // predicates on an indexed column — the numeric/temporal/string
      // ranges the classic 2i cannot answer. Pruning via the inverted
      // projection (owners of any in-range value) + exact row filtering
      // inside the surviving splits. Only for cell types with a total
      // order the index comparator understands (integral/temporal/string —
      // doubles etc. stay Spark-side).
      case GreaterThan(a, v) if idx(a) =>
        idxRangeComparable(a) && KVScan.ckBound(v).nonEmpty
      case GreaterThanOrEqual(a, v) if idx(a) =>
        idxRangeComparable(a) && KVScan.ckBound(v).nonEmpty
      case LessThan(a, v) if idx(a) =>
        idxRangeComparable(a) && KVScan.ckBound(v).nonEmpty
      case LessThanOrEqual(a, v) if idx(a) =>
        idxRangeComparable(a) && KVScan.ckBound(v).nonEmpty
      // token-range scan (`WHERE token(pk) >= ? AND token(pk) < ?` — the
      // arc reads the connector splits a full scan into): pushable only
      // where the ring token preserves key order, i.e. a SINGLE integral
      // partition key (KVRing.tokenOf is the identity there — the
      // order-preserving-partitioner analog), so a key-range predicate IS
      // a token arc and prunes whole splits exactly. Composite/string keys
      // hash, so their key ranges stay Spark-side, like CQL rejecting a
      // non-token key range.
      case GreaterThan(a, _: Number) => tokenRangeable && keySet(a)
      case GreaterThanOrEqual(a, _: Number) => tokenRangeable && keySet(a)
      case LessThan(a, _: Number) => tokenRangeable && keySet(a)
      case LessThanOrEqual(a, _: Number) => tokenRangeable && keySet(a)
      // primary-key columns are non-null by construction (CQL; staging and
      // the write path both enforce it), so Spark's inferred IsNotNull is a
      // no-op here — accepting it lets a ck-range query report ALL filters
      // pushed, which is what unlocks aggregate pushdown on top
      case IsNotNull(a) => keySet(a) || ckSet(a)
      case _ => false
    }
    pushed = sup
    // CQL ALLOW FILTERING gate: a predicate no key / clustering-prefix /
    // 2i / SAI / MV / token path can answer means a filtered full scan —
    // the query Cassandra REFUSES unless the user opts in with ALLOW
    // FILTERING, because at 100 TB it silently reads the whole ring to
    // return a sliver. Same contract here: such a read throws unless
    // `.option("allowFiltering", "true")` is set, in which case the
    // residual predicates run Spark-side after the scan (exactly
    // Cassandra's replica-side post-filtering). Spark's inferred
    // IsNotNull guards are exempt — they are planner artifacts, not CQL
    // predicates a user wrote.
    val needsFiltering = unsup.filterNot(_.isInstanceOf[IsNotNull])
    if (needsFiltering.nonEmpty && !allowFiltering)
      throw new KVAllowFilteringRequired(tname, needsFiltering.toSeq)
    unsup // pushed predicates are evaluated exactly by pruning + slicing
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** CQL `LIMIT n` analog: the limit reaches each split, which returns at
    * most n rows (per-partition limit — exactly CQL's PER PARTITION LIMIT
    * shape, since one split = one partition), and a plain limit plans only
    * the splits, in Spark's read order, that serve the first n rows; Spark
    * applies the global limit over the per-split prefixes
    * (isPartiallyPushed stays true). At 100 TB a LIMIT 10 probe reads a
    * few partitions instead of materializing the ring. */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** True when the pushed filters pin EVERY partition-key column by
    * equality: at most one split can serve, so a per-split cap IS the
    * global answer. This is the gate for FULL limit/top-n pushdown and for
    * OFFSET pushdown below — the CQL shape `WHERE pk = ? [ORDER BY ck]
    * LIMIT n`, which Cassandra answers entirely inside one partition. */
  private def singleSplit: Boolean = !mvPushed && entry.keyCols.forall(kc =>
    pushed.exists { case EqualTo(a, _) => a == kc; case _ => false })

  // limit and top-n are PARTIAL pushdowns in general (each split honors the
  // cap, Spark applies the global limit / merge) — but FULL when the scan is
  // pinned to a single split, where Spark can then drop its own limit/sort
  // and push a trailing OFFSET too. (Scala needs the explicit override
  // because both parent traits default this member.)
  override def isPartiallyPushed(): Boolean = !singleSplit

  /** CQL paging analog (SupportsPushDownOffset): `LIMIT n OFFSET m` inside
    * one partition — the page-k read CQL serves via its paging state.
    * Spark's contract: the source applies the (already pushed) limit/top-n
    * FIRST, then skips `offset` rows (for `LIMIT n OFFSET m` Spark pushes
    * limit n+m, then offset m). Only sound when a single split serves —
    * with many splits a per-split skip would drop rows Spark still needs —
    * so the same full-key-equality gate as the full limit pushdown. */
  override def pushOffset(n: Int): Boolean = {
    val ok = singleSplit && pushedAggs.isEmpty
    if (ok) offset = Some(n)
    ok
  }

  /** CQL `ORDER BY ck LIMIT n` analog (SupportsPushDownTopN): partitions
    * are ck-sorted, so each split's top-n by ck is a CONTIGUOUS PREFIX
    * (ascending) or SUFFIX (descending) of its slice — zero sorting in the
    * source, exactly how Cassandra reads a clustering-ordered row prefix.
    * Partial pushdown: Spark's TakeOrdered merges the per-split prefixes.
    * At 100 TB an ORDER-BY-ck LIMIT 10 reads ≤10 rows per partition
    * instead of sorting the ring. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    // MV partitions are keyed by the view column, not ck-sorted wholes — a
    // per-split ck prefix would be wrong there, so let Spark sort
    if (mvPushed) return false
    // top-n on the FIRST clustering column: rows are sorted by the full ck
    // tuple, so the first/last n rows are a valid top-n by ck1 (ties broken
    // by the remaining tuple — any tie-break is a correct LIMIT answer)
    val ok = orders.length == 1 && entry.clusteringCols.headOption.exists { ck =>
      orders(0).expression() match {
        case nr: NamedReference =>
          nr.fieldNames.length == 1 && nr.fieldNames()(0) == ck
        case _ => false
      }
    }
    if (ok) {
      // topN is stored in STORAGE terms: on a DESC-declared column an
      // ascending request reads the partition SUFFIX (smallest values live
      // at the physical end), a descending one the prefix — either way zero
      // sorting in the source
      val reqAsc = orders(0).direction() == SortDirection.ASCENDING
      val storedDesc = entry.ckDesc(entry.clusteringCols.head)
      topN = Some((reqAsc != storedDesc, n))
    }
    ok
  }

  private def groupByNames(agg: Aggregation): Option[Seq[String]] = {
    val names = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return None
    }
    Some(names)
  }
  /** Each aggregate expression that can be served from registry metadata /
    * partition edges: COUNT(*) (per-key row counts), and MIN/MAX of the
    * clustering column — partitions are ck-sorted, so a split's MIN(ck) is
    * its first surviving row's ck and MAX(ck) its last (two array-edge
    * reads, no row materialization; with pushed ck bounds, the edges of the
    * binary-searched slice). Value-column SUM/MIN/MAX/COUNT/AVG are CQL's
    * native aggregates (CQL 2.2+ `SELECT sum(x) ...` computed replica-side):
    * one pass over each key's served rows, ONE aggregate row shipped per
    * group split (ungrouped: per replica set) instead of the rows
    * themselves — at 100 TB the difference between a metadata-sized result
    * and the corpus. None = some aggregate isn't servable. */
  private def aggSpecs(agg: Aggregation): Option[Seq[KVScan.PushedAgg]] = {
    def isCk(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        // extrema are servable from partition edges only for the FIRST
        // clustering column (the tuple sort's primary dimension)
        case nr: NamedReference => nr.fieldNames.length == 1 &&
          entry.clusteringCols.headOption.contains(nr.fieldNames()(0))
        case _ => false
      }
    // a value column servable by a one-pass fold: any non-static column
    // (static cells are a per-partition overlay, not row cells — the fold
    // over row cells would miscount them)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
          entry.schema.fieldNames.contains(nr.fieldNames()(0)) &&
          !entry.staticCols.contains(nr.fieldNames()(0)) =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    def numeric(c: String): Boolean = entry.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType => true
      case _ => false
    }
    // ordered scalar types with engine-portable comparison (strings excluded:
    // UTF8String binary order vs collation is not ours to relitigate here)
    def ordered(c: String): Boolean = numeric(c) ||
      (entry.schema(c).dataType match {
        case TimestampType | DateType => true
        case _ => false
      })
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => KVScan.AggCount
      case m: Min if isCk(m.column) => KVScan.AggMinCk
      case m: Max if isCk(m.column) => KVScan.AggMaxCk
      case m: Min => colOf(m.column).filter(ordered)
        .map(KVScan.AggMinCol).getOrElse(return None)
      case m: Max => colOf(m.column).filter(ordered)
        .map(KVScan.AggMaxCol).getOrElse(return None)
      case s: Sum if !s.isDistinct => colOf(s.column).filter(numeric)
        .map(KVScan.AggSumCol).getOrElse(return None)
      case c: Count if !c.isDistinct => colOf(c.column)
        .map(KVScan.AggCountCol).getOrElse(return None)
      // AVG is not decomposable across splits (avg of avgs is wrong), so it
      // is only accepted verbatim; pushAggregation refuses it unless the
      // grouping is complete (full key tuple — one group per split). Spark
      // itself rewrites AVG into SUM/COUNT before offering a partial push.
      case a: Avg if !a.isDistinct => colOf(a.column).filter(numeric)
        .map(KVScan.AggAvgCol).getOrElse(return None)
      case _ => return None
    }
    Some(specs)
  }

  /** Servability shape of a GROUP BY column list: `Some(isComplete)` when
    * every grouped column is a partition-key column or the clustering
    * columns used form a PREFIX of the declared clustering order (the CQL
    * 3.10+ `GROUP BY pk..., ck-prefix` rule — inside a ck-sorted partition
    * those groups are CONTIGUOUS RUNS, so the source serves them with one
    * pass and zero hashing). Complete exactly when every key column is
    * present: a group then lives entirely inside one split. */
  private def groupShape(ns: Seq[String]): Option[Boolean] = {
    val cks = ns.filterNot(entry.keyCols.contains)
    val ckPart = entry.clusteringCols.filter(cks.contains)
    if (!cks.forall(entry.clusteringCols.contains)) None
    else if (entry.clusteringCols.take(ckPart.length) != ckPart) None
    else Some(entry.keyCols.forall(ns.contains))
  }

  /** An aggregate grouped by the full key tuple (+ any ck prefix) is
    * final: every group lives inside one split, so served values ARE the
    * answer — no re-aggregation. A grouping with ZERO aggregate
    * expressions is `SELECT DISTINCT pk[, ck-prefix]` — CQL's DISTINCT
    * partition-key enumeration, served from ring metadata alone. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    !mvPushed && aggSpecs(agg).isDefined && groupByNames(agg).exists(ns =>
      ns.nonEmpty && groupShape(ns).contains(true))

  override def pushAggregation(agg: Aggregation): Boolean = {
    // COUNT(*) / MIN(ck) / MAX(ck) — ungrouped, or grouped by key columns
    // and/or a clustering-column PREFIX: all answered from registry
    // metadata, ck-sorted partition edges and contiguous ck runs (the
    // cassandraCount analog, extended to ck extrema and CQL's
    // GROUP BY pk, ck-prefix). Ungrouped and subset groupings return
    // partials Spark re-aggregates (sum of counts, min of mins, max of
    // maxes) — ungrouped, one per replica set, subset groupings one per
    // split; groupings containing the full key tuple are complete
    // (supportCompletePushDown). Not offered through an MV read: those
    // metadata live on base splits.
    if (mvPushed) return false
    aggSpecs(agg) match {
      case Some(specs) if specs.nonEmpty =>
        val hasAvg = specs.exists(_.isInstanceOf[KVScan.AggAvgCol])
        groupByNames(agg) match {
          case Some(Nil) if !hasAvg => pushedAggs = specs; true
          case Some(ns) if ns.nonEmpty && groupShape(ns).isDefined &&
            (!hasAvg || groupShape(ns).contains(true)) =>
            groupCols = ns; pushedAggs = specs; true
          case _ => false
        }
      case Some(Nil) =>
        // SELECT DISTINCT pk[, ck-prefix] — group-only pushdown: one
        // metadata row per split (or per ck run), no aggregate values
        groupByNames(agg) match {
          case Some(ns) if ns.nonEmpty && groupShape(ns).isDefined =>
            groupCols = ns; true
          case _ => false
        }
      case _ => false
    }
  }

  override def build(): Scan =
    new KVScan(tname, entry, required, pushed, pushedAggs, groupCols, limit,
      topN, perPartitionLimit, offset, ann, contains, splitTargetRows)
}

object KVScan {
  /** Aggregates servable without materializing rows (see
    * KVScanBuilder.aggSpecs). */
  sealed trait PushedAgg
  case object AggCount extends PushedAgg
  case object AggMinCk extends PushedAgg
  case object AggMaxCk extends PushedAgg
  // CQL native aggregates over a value column (one-pass fold per key)
  final case class AggSumCol(col: String) extends PushedAgg
  final case class AggMinCol(col: String) extends PushedAgg
  final case class AggMaxCol(col: String) extends PushedAgg
  final case class AggCountCol(col: String) extends PushedAgg
  final case class AggAvgCol(col: String) extends PushedAgg

  /** ANN top-k read (the Cassandra 5 `ORDER BY emb ANN OF ? LIMIT k`
    * vector-search shape, served like SAI: per data partition, the local
    * top-k rows by cosine to the query vector — here each split returns its
    * k best CANDIDATES and the coordinator/Spark side merges, so at 100 TB
    * the scan ships splits×k rows instead of the corpus). Scoring uses the
    * same FLOAT→DOUBLE widening + left-to-right accumulation as the engine's
    * `graft_dot`, so per-split rankings agree exactly with the Spark-side
    * re-scoring that produces the final global top-k — the true global
    * top-k is always a subset of the per-split candidates. Exposed as read
    * options (`annColumn`/`annQuery`/`annK`) because Spark has no ANN
    * ordering surface to push; a real connector would translate the CQL. */
  final case class AnnSpec(colIdx: Int, query: Array[Double], k: Int,
      sim: String = "cosine") {
    val queryNorm: Double = {
      var s = 0.0; var i = 0
      while (i < query.length) { s += query(i) * query(i); i += 1 }
      math.sqrt(s)
    }
    /** Similarity score, higher = closer — the SAI `similarity_function`
      * index option (Cassandra 5: COSINE default, EUCLIDEAN as
      * 1 / (1 + squared distance), DOT_PRODUCT mapped to [0, 1]). Each
      * accumulates FLOAT→DOUBLE left-to-right, the same arithmetic as the
      * catalog's similarity_* SQL functions, so store-side candidate
      * rankings agree exactly with a Spark-side re-score. */
    def scoreTo(cell: Any): Double = {
      val arr = cell.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      var i = 0
      sim match {
        case "euclidean" =>
          var d2 = 0.0
          while (i < n) {
            val d = query(i) - arr.getFloat(i).toDouble
            d2 += d * d; i += 1
          }
          1.0 / (1.0 + d2)
        case "dot_product" =>
          var dot = 0.0
          while (i < n) { dot += query(i) * arr.getFloat(i).toDouble; i += 1 }
          (1.0 + dot) / 2.0
        case _ =>
          var dot = 0.0; var nrm = 0.0
          while (i < n) {
            val x = arr.getFloat(i).toDouble
            dot += query(i) * x; nrm += x * x; i += 1
          }
          dot / (math.sqrt(nrm) * queryNorm)
      }
    }
  }
  /** CQL collection-index reads: `WHERE tags CONTAINS ?` on a set/list
    * (mode "v"), and the three map-index granules of Cassandra's
    * `CREATE INDEX ON t (KEYS/VALUES/ENTRIES(m))` — `m CONTAINS ?` over
    * values (mode "v"), `m CONTAINS KEY ?` (mode "k"), and `m[?] = ?`
    * (mode "e", the entries index). Served through the indexed column's
    * inverted projection, pruning the ring to the partitions owning at
    * least one row whose collection matches, then filtering rows exactly
    * inside them. Read options (like the ANN read) because Spark has no
    * collection-containment source Filter to push — a real connector would
    * translate the CQL predicate. */
  final case class ContainsSpec(col: String, colIdx: Int,
      elemType: DataType, value: Any, mode: String = "v",
      key: Option[Any] = None) {
    /** The inverted-projection cell this predicate looks up: untagged for
      * set/list elements, tagged for map granules (see Entry.indexes). */
    def indexCell(isMap: Boolean): Any =
      if (!isMap) KeyGroupedRegistry.normCell(value)
      else mode match {
        case "v" => ("mv", KeyGroupedRegistry.normCell(value))
        case "k" => ("mk", KeyGroupedRegistry.normCell(value))
        case "e" => ("me", KeyGroupedRegistry.normCell(key.get),
          KeyGroupedRegistry.normCell(value))
      }
  }
  object ContainsSpec {
    def fromOptions(tname: String, entry: KeyGroupedRegistry.Entry,
        options: CaseInsensitiveStringMap): Option[ContainsSpec] = {
      def parse(opt: String, mode: String): Option[ContainsSpec] =
        Option(options.get(opt)).map { s =>
          // cut at the FIRST colon(s) only, so string elements/values may
          // themselves contain ':' (timestamps, URIs) — the trailing
          // segment is always the value
          def cutAt(str: String): (String, String) = {
            val i = str.indexOf(':')
            require(i > 0 && i < str.length - 1,
              s"graft-kv:$tname '$opt' must be '<column>:" +
                (if (mode == "e") "<key>:<value>'" else "<element>'") +
                s", got '$s'")
            (str.substring(0, i), str.substring(i + 1))
          }
          val (c, rest) = cutAt(s)
          val bits: Array[String] =
            if (mode == "e") { val (k, v) = cutAt(rest); Array(c, k, v) }
            else Array(c, rest)
          require(entry.schema.fieldNames.contains(c),
            s"graft-kv:$tname CONTAINS column $c not in schema")
          require(entry.indexCols.contains(c),
            s"graft-kv:$tname CONTAINS needs an index on $c (CQL: CONTAINS " +
              "requires a secondary index on the collection)")
          def typed(dt: DataType, raw: String): Any = dt match {
            case ByteType | ShortType | IntegerType | LongType => raw.toLong
            case StringType => raw
            case other => throw new IllegalArgumentException(
              s"graft-kv:$tname CONTAINS unsupported element type ${other.catalogString}")
          }
          entry.schema(c).dataType match {
            case org.apache.spark.sql.types.ArrayType(t, _) =>
              require(mode == "v",
                s"graft-kv:$tname '$opt' needs a map column, $c is a " +
                  "set/list (CQL: CONTAINS KEY / entry reads are map-only)")
              ContainsSpec(c, entry.schema.fieldIndex(c), t, typed(t, bits(1)))
            case org.apache.spark.sql.types.MapType(kt, vt, _) => mode match {
              case "v" => ContainsSpec(c, entry.schema.fieldIndex(c), vt,
                typed(vt, bits(1)), "v")
              case "k" => ContainsSpec(c, entry.schema.fieldIndex(c), kt,
                typed(kt, bits(1)), "k")
              case "e" => ContainsSpec(c, entry.schema.fieldIndex(c), vt,
                typed(vt, bits(2)), "e", Some(typed(kt, bits(1))))
            }
            case other => throw new IllegalArgumentException(
              s"graft-kv:$tname CONTAINS column $c must be a collection, " +
                s"got ${other.catalogString}")
          }
        }
      val specs = parse("contains", "v") ++ parse("containskey", "k") ++
        parse("mapentry", "e")
      require(specs.size <= 1,
        s"graft-kv:$tname at most one of 'contains'/'containskey'/" +
          "'mapentry' per read")
      specs.headOption
    }
  }

  object AnnSpec {
    def fromOptions(tname: String, entry: KeyGroupedRegistry.Entry,
        options: CaseInsensitiveStringMap): Option[AnnSpec] =
      Option(options.get("annColumn")).map { c =>
        require(entry.schema.fieldNames.contains(c),
          s"graft-kv:$tname ANN column $c not in schema")
        require(entry.schema(c).dataType ==
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true) ||
          entry.schema(c).dataType ==
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false),
          s"graft-kv:$tname ANN column $c must be array<float> (vector<float, n>)")
        val q = Option(options.get("annQuery")).getOrElse(
          throw new IllegalArgumentException(
            s"graft-kv:$tname ANN read requires 'annQuery' (comma-separated floats)"))
          .split(',').map(_.trim.toDouble)
        val k = Option(options.get("annK")).map(_.toInt).getOrElse(10)
        require(k > 0, s"graft-kv:$tname ANN k must be positive")
        // SAI `similarity_function` index option (Cassandra 5)
        val sim = Option(options.get("annSim")).getOrElse("cosine")
        require(Set("cosine", "euclidean", "dot_product")(sim),
          s"graft-kv:$tname ANN similarity must be cosine/euclidean/" +
            s"dot_product, got $sim")
        AnnSpec(entry.schema.fieldIndex(c), q, k, sim)
      }
  }

  /** Pushed clustering-column bound → the stored cell encoding the tuple
    * comparator understands: numerics ride as-is, timestamps/dates
    * normalize to their epoch-micros/days longs, strings ride as-is. */
  def ckBound(v: Any): Option[Any] = v match {
    case s: String => Some(s)
    case other => ckValue(other)
  }

  /** Pushed clustering-column comparison value → the stored long encoding
    * (integral as-is, timestamp → epoch micros, date → epoch days) so the
    * binary-search slice works identically for `ck BIGINT` and the
    * canonical Cassandra time-series shape `PRIMARY KEY (pk, ts)`. */
  def ckValue(v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case n: Number => Some(n.longValue)
      case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
      case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
  }

  /** Rows a planned split serves. */
  def rowCount(p: InputPartition): Long = p match {
    case kp: KVPartition => kp.rows.length.toLong
    case mp: KVMultiPartition => mp.rows.length.toLong
  }
}

class KVScan(tname: String, entry: KeyGroupedRegistry.Entry,
    required: StructType, pushed: Array[Filter],
    pushedAggs: Seq[KVScan.PushedAgg] = Nil,
    groupCols: Seq[String] = Nil, limit: Option[Int] = None,
    topN: Option[(Boolean, Int)] = None, perPartitionLimit: Option[Int] = None,
    offset: Option[Int] = None, ann: Option[KVScan.AnnSpec] = None,
    contains: Option[KVScan.ContainsSpec] = None,
    splitTargetRows: Option[Int] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeFiltering with SupportsReportStatistics {
  import KVScan.{AggAvgCol, AggCount, AggCountCol, AggMaxCk, AggMaxCol, AggMinCk, AggMinCol, AggSumCol}

  private def aggPushed: Boolean = pushedAggs.nonEmpty || groupCols.nonEmpty
  private def aggLabel(a: KVScan.PushedAgg): String = a match {
    case AggCount => "COUNT(*)"
    case AggMinCk => s"MIN(${entry.clusteringCols.head})"
    case AggMaxCk => s"MAX(${entry.clusteringCols.head})"
    case AggSumCol(c) => s"SUM($c)"
    case AggMinCol(c) => s"MIN($c)"
    case AggMaxCol(c) => s"MAX($c)"
    case AggCountCol(c) => s"COUNT($c)"
    case AggAvgCol(c) => s"AVG($c)"
  }
  /** Result type of a pushed SUM — Spark's Sum widening: integral → LongType,
    * floating → DoubleType (same rule as CQL's bigint/double sums). */
  private def sumType(c: String): DataType = entry.schema(c).dataType match {
    case FloatType | DoubleType => DoubleType
    case _ => LongType
  }
  override def readSchema(): StructType =
    if (aggPushed) {
      val aggFields = pushedAggs.map {
        case AggCount => StructField("count(*)", LongType, nullable = false)
        case AggMinCk =>
          val c = entry.clusteringCols.head
          StructField(s"min($c)", entry.schema(c).dataType)
        case AggMaxCk =>
          val c = entry.clusteringCols.head
          StructField(s"max($c)", entry.schema(c).dataType)
        case AggSumCol(c) => StructField(s"sum($c)", sumType(c))
        case AggMinCol(c) => StructField(s"min($c)", entry.schema(c).dataType)
        case AggMaxCol(c) => StructField(s"max($c)", entry.schema(c).dataType)
        case AggCountCol(c) => StructField(s"count($c)", LongType, nullable = false)
        case AggAvgCol(c) => StructField(s"avg($c)", DoubleType)
      }
      StructType((groupCols.map(entry.schema(_)) ++ aggFields).toArray)
    } else required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-kv:$tname pushed=[${pushed.mkString(",")}]" +
      (if (aggPushed)
        (if (pushedAggs.nonEmpty)
          s" PushedAggregation: [${pushedAggs.map(aggLabel).mkString(",")}]"
        else " PushedDistinct") +
          (if (groupCols.nonEmpty) s" PushedGroupBy: [${groupCols.mkString(",")}]" else "")
      else "") +
      limit.map(l => s" PushedLimit: $l").getOrElse("") +
      topN.map { case (asc, n) =>
        s" PushedTopN: [ck ${if (asc) "ASC" else "DESC"} LIMIT $n]"
      }.getOrElse("") +
      perPartitionLimit.map(l => s" PerPartitionLimit: $l").getOrElse("") +
      offset.map(o => s" PushedOffset: $o").getOrElse("") +
      ann.map(a =>
        s" AnnTopK: [${entry.schema.fieldNames(a.colIdx)} k=${a.k} sim=${a.sim}]").getOrElse("") +
      contains.map(cs => cs.mode match {
        case "v" => s" Contains: [${cs.col}=${cs.value}]"
        case "k" => s" ContainsKey: [${cs.col}=${cs.value}]"
        case "e" => s" MapEntry: [${cs.col}[${cs.key.get}]=${cs.value}]"
      }).getOrElse("") +
      mvPred.map { case (c, v) => s" MVRead: [$c=$v]" }.getOrElse("") +
      splitTargetRows.map(n => s" SplitTarget: [$n rows]").getOrElse("")

  /** Integral key cells compare by long value so boxing width never splits a
    * key (a staged Int vs a filter's Long); a stored `Decimal` compares with
    * a filter's `BigDecimal` by value; strings compare by value. */
  private def cellEq(stored: Any, v: Any): Boolean = (stored, v) match {
    case (a: Decimal, b: java.math.BigDecimal) => a.toJavaBigDecimal.compareTo(b) == 0
    case (a: Number, b: Number) => a.longValue == b.longValue
    case (a, b) => a == b
  }

  /** Runtime filtering (SupportsRuntimeFiltering): the DYNAMIC form of the
    * point lookup. Where DirectJoinRule plants a static IN for literal key
    * lists, this prunes splits at execution time from keys discovered by a
    * runtime subquery/broadcast (dynamic partition pruning on a DSv2 source)
    * — the connector behavior of routing a join's actual keys to the
    * replicas owning them, without rescanning the rest of the ring. Spark
    * calls `filter` after the dim side is evaluated, then re-plans input
    * partitions. Each key column prunes independently; their conjunction is
    * the surviving split set. */
  private var runtimeSets: Map[String, Set[Any]] = Map.empty
  override def filterAttributes(): Array[NamedReference] =
    entry.keyCols.map(Expressions.column).toArray
  override def filter(filters: Array[Filter]): Unit = {
    filters.foreach {
      case In(a, vs) if entry.keyCols.contains(a) =>
        val s = vs.toSet[Any]
        runtimeSets += a -> runtimeSets.get(a).map(_ intersect s).getOrElse(s)
      case EqualTo(a, v) if entry.keyCols.contains(a) =>
        val s = Set[Any](v)
        runtimeSets += a -> runtimeSets.get(a).map(_ intersect s).getOrElse(s)
      case _ => ()
    }
  }

  // pushed predicates on INDEXED columns, as (column, predicate over a
  // stored/normalized cell): equality/IN (the classic 2i) plus ranges (the
  // SAI analog — pushFilters gated ranges to totally-ordered cell types).
  // Each prunes splits through the inverted projection (owners of any
  // matching value) AND filters rows exactly inside the surviving splits
  // (the index maps a value to partitions owning AT LEAST ONE matching
  // row).
  private def idxMatcher(f: Filter): Option[(String, Any => Boolean)] = {
    val idx = entry.indexCols.toSet
    def cmp(v: Any)(ok: Int => Boolean): Option[Any => Boolean] =
      KVScan.ckBound(v).map(b => (cell: Any) =>
        ok(KeyGroupedRegistry.compareCkCell(cell, b)))
    f match {
      case EqualTo(a, v) if idx(a) =>
        Some(a -> ((c: Any) => cellEq(c, v)))
      case In(a, vs) if idx(a) =>
        Some(a -> ((c: Any) => vs.exists(v => cellEq(c, v))))
      case GreaterThan(a, v) if idx(a) => cmp(v)(_ > 0).map(a -> _)
      case GreaterThanOrEqual(a, v) if idx(a) => cmp(v)(_ >= 0).map(a -> _)
      case LessThan(a, v) if idx(a) => cmp(v)(_ < 0).map(a -> _)
      case LessThanOrEqual(a, v) if idx(a) => cmp(v)(_ <= 0).map(a -> _)
      case _ => None
    }
  }
  private lazy val idxPreds: Seq[(Int, Any => Boolean)] =
    pushed.toSeq.flatMap(f => idxMatcher(f).map { case (c, p) =>
      entry.schema.fieldIndex(c) -> p })
  // one owner set per indexed COLUMN, from the conjunction of all its
  // predicates — computing owners per-filter and intersecting would be far
  // weaker for ranges (`ts >= lo` and `ts < hi` each match almost every
  // partition; the conjunction matches few). Exact at the value level
  // because same-column predicates constrain the same cell.
  private lazy val idxKeySets: Seq[Set[Vector[Any]]] =
    pushed.toSeq.flatMap(idxMatcher).groupBy(_._1).toSeq.map {
      case (c, ps) =>
        val preds = ps.map(_._2)
        entry.indexes(c).iterator
          .collect { case (v, ks) if preds.forall(_(v)) => ks }
          .foldLeft(Set.empty[Vector[Any]])(_ union _)
    }

  // CONTAINS pruning: the owner set of the element/key/entry cell in the
  // indexed collection column's inverted projection — partitions with no
  // row matching the collection predicate are never planned
  private lazy val containsIsMap: Boolean = contains.exists(cs =>
    entry.schema(cs.col).dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType])
  private lazy val containsKeys: Option[Set[Vector[Any]]] =
    contains.map(cs =>
      entry.indexes(cs.col).getOrElse(cs.indexCell(containsIsMap),
        Set.empty[Vector[Any]]))
  private def rowContains(cell: Any, cs: KVScan.ContainsSpec): Boolean = {
    def eq(x: Any, v: Any): Boolean = x match {
      case u: UTF8String => u.toString == v
      case e => KeyGroupedRegistry.normCell(e) == KeyGroupedRegistry.normCell(v)
    }
    cell match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(cs.elemType).exists(eq(_, cs.value))
      case m: org.apache.spark.sql.catalyst.util.MapData =>
        val mt = entry.schema(cs.col).dataType
          .asInstanceOf[org.apache.spark.sql.types.MapType]
        val ks = m.keyArray.toObjectArray(mt.keyType)
        val vs = m.valueArray.toObjectArray(mt.valueType)
        cs.mode match {
          case "v" => vs.exists(eq(_, cs.value))
          case "k" => ks.exists(eq(_, cs.value))
          case "e" => ks.iterator.zip(vs.iterator).exists { case (k, v) =>
            eq(k, cs.key.get) && eq(v, cs.value) }
        }
      case _ => false
    }
  }

  private val at: Map[String, Int] = entry.keyCols.zipWithIndex.toMap
  private def runtimeOk(k: Vector[Any], sets: Map[String, Set[Any]]): Boolean =
    sets.forall { case (col, vs) => vs.exists(v => cellEq(k(at(col)), v)) }

  /** Whether split `k` survives the pushed predicates (runtime key sets are
    * applied on top, see [[plan]]). */
  private def keepKey(k: Vector[Any]): Boolean = {
    containsKeys.forall(_.contains(k)) && pushed.forall {
      case EqualTo(a, v) if at.contains(a) => cellEq(k(at(a)), v)
      case In(a, vs) if at.contains(a) => vs.exists(v => cellEq(k(at(a)), v))
      // token-arc bounds (pushFilters admits these only under
      // tokenRangeable, where key order == token order): one split = one
      // key, so the range prunes splits EXACTLY — no residual filtering
      case GreaterThan(a, v: Number) if at.contains(a) =>
        k(at(a)).asInstanceOf[Number].longValue > v.longValue
      case GreaterThanOrEqual(a, v: Number) if at.contains(a) =>
        k(at(a)).asInstanceOf[Number].longValue >= v.longValue
      case LessThan(a, v: Number) if at.contains(a) =>
        k(at(a)).asInstanceOf[Number].longValue < v.longValue
      case LessThanOrEqual(a, v: Number) if at.contains(a) =>
        k(at(a)).asInstanceOf[Number].longValue <= v.longValue
      case _ => true // ck/index predicates slice or filter rows, not keys
    } && idxKeySets.forall(_.contains(k))
  }

  // clustering-tuple slice bounds from the pushed predicates. Partitions
  // are sorted by the FULL ck tuple, and pushFilters only accepted a valid
  // CQL prefix shape (equality on ck1..ck_{m-1}, equality-or-range on
  // ck_m), so the matching rows form ONE contiguous run found by two
  // binary searches over tuple prefixes.
  private lazy val ckIdxs: Seq[Int] = entry.ckIdxs
  /** (equality-prefix values, lo bound on the next col (value,
    * inclusive?), hi bound on the next col (value, inclusive?), IN values
    * on the last constrained col (CQL `ck IN (...)` — None = no IN
    * pushed), contradictory = provably-empty (two different equalities on
    * one column), last constrained column declared DESC); None = no ck
    * predicates pushed. All four CQL range shapes (> >= < <=) push —
    * strict lower bounds are the driver paging-state shape
    * (`ck > <last served>`). */
  private final case class CkSliceSpec(eqPrefix: IndexedSeq[Any],
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)],
      ins: Option[Seq[Any]], contradictory: Boolean, lastDesc: Boolean)
  private lazy val ckSlice: Option[CkSliceSpec] = {
    val ckCols = entry.clusteringCols
    val byCol: Map[String, Array[Filter]] = pushed
      .filter {
        case EqualTo(a, _) => ckCols.contains(a)
        case GreaterThan(a, _) => ckCols.contains(a)
        case GreaterThanOrEqual(a, _) => ckCols.contains(a)
        case LessThan(a, _) => ckCols.contains(a)
        case LessThanOrEqual(a, _) => ckCols.contains(a)
        case In(a, _) => ckCols.contains(a)
        case _ => false
      }
      .groupBy {
        case EqualTo(a, _) => a
        case GreaterThan(a, _) => a
        case GreaterThanOrEqual(a, _) => a
        case LessThan(a, _) => a
        case LessThanOrEqual(a, _) => a
        case In(a, _) => a
        case _ => ""
      }
    if (byCol.isEmpty) None
    else {
      val constrained = ckCols.filter(byCol.contains)
      var contradictory = false
      // pure-equality prefix: all but the last constrained column
      val eqPrefix = constrained.dropRight(1).map { c =>
        val vs = byCol(c).collect { case EqualTo(_, v) => KVScan.ckBound(v).get }
        if (vs.distinct.length > 1) contradictory = true
        vs.head
      }.toIndexedSeq
      // last constrained column: fold equalities and ranges into [lo, hi],
      // and IN lists into a value set (intersected across multiple INs and
      // with any equality, range-filtered below at serve time)
      val last = constrained.last
      val eqs = byCol(last).collect { case EqualTo(_, v) => KVScan.ckBound(v).get }
      if (eqs.distinct.length > 1) contradictory = true
      val loCands: Seq[(Any, Boolean)] =
        byCol(last).collect {
          case GreaterThan(_, v) => (KVScan.ckBound(v).get, false)
          case GreaterThanOrEqual(_, v) => (KVScan.ckBound(v).get, true)
        }.toSeq ++ eqs.headOption.map(v => (v, true)).toSeq
      val lo = loCands.reduceOption { (a, b) =>
        val c = KeyGroupedRegistry.compareCkCell(a._1, b._1)
        if (c > 0) a else if (c < 0) b
        else if (!a._2) a else b // equal values: exclusive is tighter
      }
      val hiCands: Seq[(Any, Boolean)] =
        byCol(last).collect {
          case LessThan(_, v) => (KVScan.ckBound(v).get, false)
          case LessThanOrEqual(_, v) => (KVScan.ckBound(v).get, true)
        }.toSeq ++ eqs.headOption.map(v => (v, true)).toSeq
      val hi = hiCands.reduceOption { (a, b) =>
        val c = KeyGroupedRegistry.compareCkCell(a._1, b._1)
        if (c < 0) a else if (c > 0) b
        else if (!a._2) a else b // equal values: exclusive is tighter
      }
      def same(a: Any, b: Any): Boolean =
        KeyGroupedRegistry.compareCkCell(a, b) == 0
      val inSets = byCol(last).collect { case In(_, vs) =>
        vs.iterator.map(v => KVScan.ckBound(v).get).toSeq }
      val ins: Option[Seq[Any]] = inSets.reduceOption { (a, b) =>
        a.filter(x => b.exists(same(x, _)))
      }.map { merged =>
        // dedup, keep only values satisfying any equality and the [lo, hi]
        // range folded from the other predicates on this column
        val dedup = merged.foldLeft(Vector.empty[Any]) { (acc, v) =>
          if (acc.exists(same(v, _))) acc else acc :+ v
        }
        dedup.filter { v =>
          eqs.forall(same(v, _)) &&
            lo.forall { case (l, incl) =>
              val c = KeyGroupedRegistry.compareCkCell(v, l)
              if (incl) c >= 0 else c > 0
            } &&
            hi.forall { case (h, incl) =>
              val c = KeyGroupedRegistry.compareCkCell(v, h)
              if (incl) c <= 0 else c < 0
            }
        }
      }
      Some(CkSliceSpec(eqPrefix, lo, hi, ins, contradictory,
        entry.ckDesc(last)))
    }
  }
  /** First index whose ck-tuple prefix compares >= (strict=false) or >
    * (strict=true) the bound tuple. */
  private def boundSearch(rows: Array[Array[Any]], bound: IndexedSeq[Any],
      strict: Boolean): Int = {
    val desc = entry.ckDescFlags
    def cmpPrefix(r: Array[Any]): Int = {
      var i = 0
      while (i < bound.length) {
        val c0 = KeyGroupedRegistry.compareCkCell(r(ckIdxs(i)), bound(i))
        val c = if (desc(i)) -c0 else c0
        if (c != 0) return c
        i += 1
      }
      0
    }
    var lo = 0; var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = cmpPrefix(rows(mid))
      if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
    }
    lo
  }
  private def sliceRows(rows: Array[Array[Any]]): Array[Array[Any]] =
    ckSlice match {
      case Some(s) if s.contradictory => Array.empty
      case Some(s) if s.ins.isDefined =>
        // CQL `ck IN (...)`: a union of point runs, one binary-searched
        // slice per value — values visited in STORED order (DESC columns
        // reversed) so the concatenation stays physically sorted and the
        // top-n / per-partition-limit caps downstream remain prefix-exact
        val sorted = s.ins.get.sortWith { (a, b) =>
          val c = KeyGroupedRegistry.compareCkCell(a, b)
          if (s.lastDesc) c > 0 else c < 0
        }
        sorted.iterator.flatMap { v =>
          val t = s.eqPrefix :+ v
          val lb = boundSearch(rows, t, strict = false)
          val ub = boundSearch(rows, t, strict = true)
          if (lb >= ub) Iterator.empty else rows.slice(lb, ub).iterator
        }.toArray
      case Some(CkSliceSpec(eqPrefix, lo, hi, _, _, lastDesc)) =>
        // on an ASC-stored last column the run starts at the lo edge and
        // ends at the hi edge; a DESC-stored column reverses the physical
        // order, so the VALUE range starts at the hi edge. An INCLUSIVE
        // bound keeps the equal run on its own side (strict=false at a
        // lower edge / strict=true at an upper edge); an EXCLUSIVE bound
        // flips each
        val lb =
          if (!lastDesc) lo match {
            case Some((v, incl)) =>
              boundSearch(rows, eqPrefix :+ v, strict = !incl)
            case None => boundSearch(rows, eqPrefix, strict = false)
          }
          else hi match {
            case Some((v, incl)) =>
              boundSearch(rows, eqPrefix :+ v, strict = !incl)
            case None => boundSearch(rows, eqPrefix, strict = false)
          }
        val ub =
          if (!lastDesc) hi match {
            case Some((v, incl)) =>
              boundSearch(rows, eqPrefix :+ v, strict = incl)
            case None =>
              if (eqPrefix.isEmpty) rows.length
              else boundSearch(rows, eqPrefix, strict = true)
          }
          else lo match {
            case Some((v, incl)) =>
              boundSearch(rows, eqPrefix :+ v, strict = incl)
            case None =>
              if (eqPrefix.isEmpty) rows.length
              else boundSearch(rows, eqPrefix, strict = true)
          }
        if (lb >= ub) Array.empty else rows.slice(lb, ub)
      case None => rows
    }

  /** Key lookup: when every partition-key column has a pushed EqualTo/In
    * whose values all carry the column's cell family (integral boxes for an
    * integral column, strings for a string column), the candidate key
    * tuples are the cross product of one value list per column — each found
    * by binary search over `parts` (sorted by [[KeyGroupedRegistry.keyOrder]])
    * instead of a filter over the ring. None = no such predicate set, or
    * more candidates than keys (then the filter is no dearer). */
  private lazy val lookupKeys: Option[Seq[Vector[Any]]] = {
    val perCol = entry.keyCols.zip(entry.keyTypes).map { case (c, dt) =>
      val family: Any => Boolean = dt match {
        case StringType => _.isInstanceOf[String]
        case _ => {
          case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
              _: java.lang.Long => true
          case _ => false
        }
      }
      pushed.toSeq.collect {
        case EqualTo(a, v) if a == c => Seq(v)
        case In(a, vs) if a == c => vs.toSeq
      }.filter(_.forall(family)).minByOption(_.length)
    }
    if (perCol.exists(_.isEmpty) ||
        perCol.foldLeft(1L)((n, vs) => (n * vs.get.length).min(Int.MaxValue)) >
          entry.parts.length) None
    else Some(perCol.foldLeft(Seq(Vector.empty[Any])) { (acc, vs) =>
      for (k <- acc; v <- vs.get) yield k :+ v
    })
  }

  /** Indices into `entry.parts` of the splits surviving the pushed
    * predicates, ascending (= `parts` order). */
  private lazy val keptIdx: Array[Int] = lookupKeys match {
    case Some(ks) =>
      ks.flatMap(KeyGroupedRegistry.indexOfKey(entry.parts, _))
        .filter(i => keepKey(entry.parts(i)._1)).distinct.sorted.toArray
    case None => entry.parts.indices.filter(i => keepKey(entry.parts(i)._1)).toArray
  }

  /** MV route: the first pushed equality on a declared MV column. The scan
    * then reads the write-through projection keyed on that column — ONE MV
    * partition — instead of the base ring; every other pushed predicate is
    * applied exactly inside it. */
  private lazy val mvPred: Option[(String, Any)] = pushed.collectFirst {
    case EqualTo(a, v) if entry.mvCols.contains(a) => a -> v
  }

  // key-grouped only while every key column survives column pruning —
  // otherwise the grouping is unobservable by the query and unreportable
  // (an MV read is keyed by the VIEW column, so it never reports the base
  // grouping). A size-coalesced read packs many keys per split, so it
  // cannot report per-key grouping either.
  private def keyGrouped: Boolean = !aggPushed && mvPred.isEmpty &&
    splitTargetRows.isEmpty && entry.keyCols.forall(required.fieldNames.contains)

  override def outputPartitioning(): Partitioning =
    if (keyGrouped)
      new KeyGroupedPartitioning(
        entry.keyCols.map(Expressions.identity).toArray[org.apache.spark.sql.connector.expressions.Expression],
        basePlan.length)
    else new UnknownPartitioning(basePlan.length)

  /** External key values → the internal form `HasPartitionKey` must carry
    * (UTF8String for strings; integral values ride as-is). */
  private def internalKey(k: Vector[Any]): Array[Any] =
    entry.keyTypes.zip(k).map {
      case (StringType, v) => UTF8String.fromString(v.asInstanceOf[String])
      case (_, v) => v
    }.toArray

  /** Rows a split actually serves: ck-sliced, index-filtered, then capped —
    * by the per-partition limit (CQL PER PARTITION LIMIT, a read option),
    * by a pushed top-n on ck (prefix of the ck-sorted slice ascending,
    * suffix descending — the suffix REVERSED so top-n rows always leave in
    * the requested order, which a full (single-split) top-n pushdown relies
    * on after Spark drops its own Sort), by a pushed plain limit, and
    * finally a pushed OFFSET skip (Spark's contract: limit first, then
    * offset — for `LIMIT n OFFSET m` it pushes limit n+m and offset m). */
  private def servedRows(rows: Array[Array[Any]]): Array[Array[Any]] = {
    val sliced = sliceRows(rows)
    val filtered0 =
      if (idxPreds.isEmpty) sliced
      else sliced.filter(r => idxPreds.forall { case (ci, p) => p(r(ci)) })
    // CONTAINS: exact row filter inside the index-pruned splits (the index
    // maps an element to partitions owning AT LEAST ONE matching row)
    val filtered = contains match {
      case Some(cs) => filtered0.filter(r => rowContains(r(cs.colIdx), cs))
      case None => filtered0
    }
    // ANN top-k: the split's k best rows by cosine to the query vector —
    // its local candidates for the coordinator-side merge (stable sort, so
    // exact ties keep stored order deterministically)
    val annPicked = ann match {
      case Some(a) =>
        filtered.map(r => (a.scoreTo(r(a.colIdx)), r))
          .sortBy(-_._1).take(a.k).map(_._2)
      case None => filtered
    }
    val perPart = perPartitionLimit.map(annPicked.take).getOrElse(annPicked)
    val topped = topN match {
      case Some((asc, n)) =>
        if (asc) perPart.take(n) else perPart.takeRight(n).reverse
      case None => perPart
    }
    val limited = limit.map(topped.take).getOrElse(topped)
    offset.map(limited.drop).getOrElse(limited)
  }

  /** Overlay the partition's current STATIC cells onto a stored row (CQL
    * static semantics: the shared cell's latest value shows on every row of
    * the partition, whatever the row itself carried when written). */
  private lazy val staticKis = entry.keyCols.map(entry.schema.fieldIndex)
  private def overlayStatic(r: Array[Any]): Array[Any] =
    if (entry.staticCols.isEmpty) r
    else entry.staticVals.get(
        staticKis.map(i => KeyGroupedRegistry.normCell(r(i))).toVector) match {
      case Some(vals) if vals.nonEmpty =>
        val c = r.clone(); vals.foreach { case (si, v2) => c(si) = v2 }; c
      case _ => r
    }

  /** MV read: all rows owning the queried view-key value, residual-filtered
    * exactly by every other pushed predicate and the runtime key sets. */
  private def mvPartitions(c: String, v: Any,
      sets: Map[String, Set[Any]]): Array[InputPartition] = {
    val fi: String => Int = entry.schema.fieldIndex
    // NOTE: the routing equality is NOT special-cased — every pushed
    // predicate re-checks exactly, so a second, different-valued equality
    // on the same MV column (a contradiction) correctly yields zero rows
    def rowOk(r: Array[Any]): Boolean = pushed.forall {
      case EqualTo(a, v2) => cellEq(r(fi(a)), v2)
      case In(a, vs) => vs.exists(v2 => cellEq(r(fi(a)), v2))
      case GreaterThanOrEqual(a, v2) =>
        KVScan.ckBound(v2).exists(lo =>
          KeyGroupedRegistry.compareCkCell(r(fi(a)), lo) >= 0)
      case LessThan(a, v2) =>
        KVScan.ckBound(v2).exists(hi =>
          KeyGroupedRegistry.compareCkCell(r(fi(a)), hi) < 0)
      case GreaterThan(a, v2) =>
        KVScan.ckBound(v2).exists(lo =>
          KeyGroupedRegistry.compareCkCell(r(fi(a)), lo) > 0)
      case LessThanOrEqual(a, v2) =>
        KVScan.ckBound(v2).exists(hi =>
          KeyGroupedRegistry.compareCkCell(r(fi(a)), hi) <= 0)
      case IsNotNull(a) => r(fi(a)) != null
      case _ => true
    } && sets.forall { case (a, vs) => vs.exists(v2 => cellEq(r(fi(a)), v2)) }
    val rows0 = entry.mvs(c)
      .getOrElse(KeyGroupedRegistry.normCell(v), Array.empty[Array[Any]])
    val filtered = rows0.filter(rowOk)
    val capped0 = perPartitionLimit.map(filtered.take).getOrElse(filtered)
    val capped = limit.map(capped0.take).getOrElse(capped0)
    val idx = required.fieldNames.map(fi)
    if (capped.isEmpty) Array.empty
    else Array(KVPartition(
      Array(v match {
        case s: String => UTF8String.fromString(s)
        case x => x
      }),
      // the MV partition lives on the replicas owning ITS key's token
      KVRing.replicasOf(Seq(v)).toArray,
      capped.map { r => val o = overlayStatic(r); idx.map(o(_)) }))
  }

  /** A plain pushed LIMIT n — no top-n, ANN, split target, aggregate or MV
    * route: the scan plans splits in the order Spark reads them and stops
    * once n rows are served, so Spark's own limit takes the same prefix it
    * would have taken from the whole ring. */
  private def plainLimit: Option[Int] = limit.filter(_ => topN.isEmpty &&
    ann.isEmpty && splitTargetRows.isEmpty && !aggPushed && mvPred.isEmpty)

  /** `idx` in the order Spark reads the planned splits: it sorts a
    * key-grouped scan's splits by natural ascending key (`groupPartitions`,
    * under v2 bucketing) and reads any other scan in planned (`parts`)
    * order. A heap, so a LIMIT that needs the first few splits builds it in
    * O(keys) and never sorts the ring. */
  private def readOrder(idx: Array[Int]): Iterator[Int] =
    if (keyGrouped && org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled) {
      val keys = idx.map(i =>
        InternalRow.fromSeq(internalKey(entry.parts(i)._1).toIndexedSeq))
      val heap = scala.collection.mutable.PriorityQueue.empty[Int](
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(entry.keyTypes).on[Int](keys(_)).reverse)
      heap ++= idx.indices
      Iterator.continually(heap).takeWhile(_.nonEmpty).map(h => idx(h.dequeue()))
    } else idx.iterator

  /** (index into `parts`, served rows) of every split to plan: the kept
    * splits that also match the runtime key `sets`, cut to the splits a
    * plain LIMIT needs. */
  private def servedSplits(sets: Map[String, Set[Any]]): Array[(Int, Array[Array[Any]])] = {
    val idx = keptIdx.filter(i => runtimeOk(entry.parts(i)._1, sets))
    plainLimit match {
      case Some(n) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Array[Any]])]
        var served = 0L
        val it = readOrder(idx)
        while (served < n && it.hasNext) {
          val i = it.next()
          val rows = servedRows(entry.parts(i)._2)
          out += i -> rows
          served += rows.length
        }
        out.toArray
      case None => idx.map(i => i -> servedRows(entry.parts(i)._2))
    }
  }

  // the planning-time splits (no runtime key sets yet), shared by
  // outputPartitioning, estimateStatistics and planInputPartitions
  private lazy val baseServed = servedSplits(Map.empty)
  private lazy val basePlan: Array[InputPartition] = plan(Map.empty)

  /** Post-pushdown statistics (SupportsReportStatistics): without these a
    * DSv2 relation sizes as `defaultSizeInBytes` (effectively infinite), so
    * Catalyst would NEVER auto-broadcast a small KV table and every
    * KV-⋈-fact join would shuffle the fact side — the single worst plan
    * choice at 100 TB. Spark calls this AFTER filter/limit/agg pushdown, so
    * the estimate mirrors planInputPartitions' pruning: kept splits ×
    * served (ck-sliced, limit-capped) rows. The modeled external cluster
    * would serve the same numbers from its token-range size estimates
    * (Cassandra's system.size_estimates — what the production connector
    * reads); here the registry holds them exactly. */
  override def estimateStatistics(): Statistics = {
    def served = baseServed.iterator.map(_._2.length.toLong)
    val nRows =
      if (mvPred.nonEmpty) basePlan.iterator.map(KVScan.rowCount).sum
      else if (aggPushed) {
        // grouped forms emit one metadata row per non-empty split, or per
        // ck run — bounded above by the served rows, a safe (conservative,
        // anti-broadcast) estimate; the ungrouped form one partial row per
        // replica set
        if (groupCols.exists(entry.clusteringCols.contains)) served.sum
        else if (groupCols.nonEmpty) served.count(_ > 0).toLong
        else basePlan.length.toLong
      } else plainLimit.foldLeft(served.sum)((n, l) => n.min(l.toLong))
    val width = readSchema().defaultSize.toLong.max(1L)
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(nRows * width)
      override def numRows: java.util.OptionalLong =
        java.util.OptionalLong.of(nRows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = if (runtimeSets.isEmpty) basePlan else plan(runtimeSets)
    KeyGroupedRegistry.lastPlanned.put(tname, parts.length)
    KeyGroupedRegistry.lastScanRows.put(tname, parts.iterator.map(KVScan.rowCount).sum)
    parts
  }

  private def plan(sets: Map[String, Set[Any]]): Array[InputPartition] =
    mvPred match {
      case Some((c, v)) => mvPartitions(c, v, sets)
      case None =>
        val served = if (sets.isEmpty) baseServed else servedSplits(sets)
        if (aggPushed) aggPartitions(served) else dataPartitions(served)
    }

  /** One split per key, or — with 'split_target_rows' — token-order
    * packing into multi-key splits. Applied to the data rows and to grouped
    * aggregate rows: metadata rows are rows too, and a million-key ring
    * would otherwise still schedule a million tasks for a grouped COUNT. */
  private def emit(perKey: Array[(Vector[Any], Array[Array[Any]])]): Array[InputPartition] =
    splitTargetRows match {
      case None => perKey.map { case (k, rs) =>
        KVPartition(internalKey(k), KVRing.replicasOf(k).toArray,
          rs): InputPartition
      }
      // Size-targeted split coalescing (the connector's
      // `input.split.sizeInMB` driven by system.size_estimates): the
      // per-key row groups — what size_estimates counts — are walked
      // in TOKEN order and packed into multi-key splits of ~target
      // rows. Two Cassandra rules shape the packing: ranges coalesce
      // only while their REPLICA SET is unchanged (a split must have
      // well-defined preferredLocations — the token-aware read), and
      // a PARTITION never splits across Spark tasks (the key is the
      // atomic unit; one oversized partition yields one oversized
      // split, exactly the connector's behavior). At 100 TB this is
      // what turns a ring of millions of tiny vnode ranges into ~64 MB
      // tasks instead of a task per key.
      case Some(target) =>
        val ordered = perKey.sortBy { case (k, _) => KVRing.tokenOf(k) }
        val out = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
        var curHosts: Seq[String] = null
        val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
        def flush(): Unit = if (buf.nonEmpty) {
          out += KVMultiPartition(curHosts.toArray, buf.toArray)
          buf.clear()
        }
        ordered.foreach { case (k, rs) =>
          val hosts = KVRing.replicasOf(k)
          if (curHosts == null || hosts != curHosts ||
              buf.length >= target) flush()
          curHosts = hosts
          buf ++= rs
        }
        flush()
        out.toArray
    }

  private def dataPartitions(served: Array[(Int, Array[Array[Any]])]): Array[InputPartition] = {
    // per-field getters: schema columns read the stored cell, metadata
    // columns (_token/_replica — SupportsMetadataColumns) compute from
    // the split's KEY, constant per partition and never stored
    val getters: Array[(Vector[Any], Array[Any]) => Any] =
      required.fieldNames.map {
        case "_token" =>
          (k: Vector[Any], _: Array[Any]) => KVRing.tokenOf(k): Any
        case "_replica" =>
          (k: Vector[Any], _: Array[Any]) =>
            KVRing.replicasOf(k).head: Any
        case f =>
          val i = entry.schema.fieldIndex(f)
          (_: Vector[Any], o: Array[Any]) => o(i)
      }
    emit(served.map { case (i, rows) =>
      val k = entry.parts(i)._1
      (k, rows.map { r =>
        val o = overlayStatic(r)
        getters.map(g => g(k, o))
      })
    })
  }

  // value-column folds (CQL native aggregates): SQL null semantics —
  // SUM/MIN/MAX/AVG skip nulls and are NULL over no surviving value,
  // COUNT(col) counts non-nulls. Floating columns fold in DOUBLE;
  // integral in LONG (exact). MIN/MAX compare in the fold's own width
  // (cells of one column share a type); ts/date cells are stored as
  // their epoch encodings, so the long compare is the time order.
  private def floating(c: String): Boolean = entry.schema(c).dataType match {
    case FloatType | DoubleType => true
    case _ => false
  }
  private def cells(run: Array[Array[Any]], c: String): Iterator[Any] = {
    val i = entry.schema.fieldIndex(c)
    run.iterator.map(_(i)).filter(_ != null)
  }
  private def addSums(c: String, a: Any, b: Any): Any =
    if (floating(c)) Double.box(
      a.asInstanceOf[Number].doubleValue + b.asInstanceOf[Number].doubleValue)
    else Long.box(
      Math.addExact(a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue))
  private def sumOf(run: Array[Array[Any]], c: String): Any = {
    val zero: Any = if (floating(c)) Double.box(0.0) else Long.box(0L)
    cells(run, c).foldLeft(null: Any) { (s, v) =>
      addSums(c, if (s == null) zero else s, v)
    }
  }
  /** The larger (wantMax) or smaller of two cells of value column `c`. */
  private def pick(c: String, a: Any, b: Any, wantMax: Boolean): Any = {
    val cmp =
      if (floating(c)) java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue, b.asInstanceOf[Number].doubleValue)
      else java.lang.Long.compare(
        a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue)
    if ((cmp >= 0) == wantMax) a else b
  }
  /** The larger (wantMax) or smaller of two clustering cells, in Spark's
    * order for the column type (what its final MIN/MAX over the per-key
    * partials compared with). */
  private def pickCk(a: Any, b: Any, wantMax: Boolean): Any = {
    val cmp = (a, b) match {
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case _ => KeyGroupedRegistry.compareCkCell(a, b)
    }
    if ((cmp >= 0) == wantMax) a else b
  }
  /** The pushed aggregates over one run of served rows: a count from the
    * run length, MIN/MAX(ck) from the EDGES of the ck-sorted (and possibly
    * ck-sliced) run — with ck1 declared DESC the physical head holds the
    * MAX — and value columns by a one-pass fold. */
  private def aggValsOf(run: Array[Array[Any]]): Seq[Any] = {
    val headDesc = entry.ckDescFlags.headOption.getOrElse(false)
    pushedAggs.map {
      case AggCount => run.length.toLong: Any
      case AggMinCk =>
        if (run.isEmpty) null
        else if (headDesc) run.last(ckIdxs.head)
        else run.head(ckIdxs.head)
      case AggMaxCk =>
        if (run.isEmpty) null
        else if (headDesc) run.head(ckIdxs.head)
        else run.last(ckIdxs.head)
      case AggSumCol(c) => sumOf(run, c)
      case AggMinCol(c) => cells(run, c).reduceOption(pick(c, _, _, wantMax = false)).orNull
      case AggMaxCol(c) => cells(run, c).reduceOption(pick(c, _, _, wantMax = true)).orNull
      case AggCountCol(c) => cells(run, c).size.toLong: Any
      case AggAvgCol(c) =>
        val n = cells(run, c).size
        if (n == 0) null
        else sumOf(run, c) match {
          case l: java.lang.Long => l.toDouble / n: Any
          case d: java.lang.Double => d / n: Any
          case _ => null
        }
    }
  }
  /** Two partial rows of an ungrouped aggregate folded into one — the
    * re-aggregation Spark's final aggregate applies to partials: counts
    * and sums add, extrema keep the winner, NULL (no value) yields. */
  private def foldPartials(a: Array[Any], b: Array[Any]): Array[Any] =
    pushedAggs.indices.map { i =>
      (pushedAggs(i), a(i), b(i)) match {
        case (_, null, y) => y
        case (_, x, null) => x
        case (AggCount | AggCountCol(_), x, y) =>
          x.asInstanceOf[Long] + y.asInstanceOf[Long]: Any
        case (AggSumCol(c), x, y) => addSums(c, x, y)
        case (AggMinCol(c), x, y) => pick(c, x, y, wantMax = false)
        case (AggMaxCol(c), x, y) => pick(c, x, y, wantMax = true)
        case (AggMinCk, x, y) => pickCk(x, y, wantMax = false)
        case (AggMaxCk, x, y) => pickCk(x, y, wantMax = true)
        case (agg, _, _) => throw new IllegalStateException(
          s"${aggLabel(agg)} is never pushed ungrouped")
      }
    }.toArray

  /** Metadata rows only — no data row is materialized. Grouped: one row
    * per split, [group-values..., agg-values...], or one per contiguous ck
    * run; the full-key grouping is final as-is, subset groupings are
    * partials Spark re-aggregates. Ungrouped (the cassandraCount analog):
    * the per-key partials fold into ONE partial row per replica set, one
    * split each, with that set as its preferred locations — the
    * connector's split shape, so a whole-ring COUNT is a few tasks. */
  private def aggPartitions(served: Array[(Int, Array[Array[Any]])]): Array[InputPartition] =
    if (groupCols.isEmpty) {
      // every kept split contributes, even an emptied one: a 0 count still
      // sums correctly and a NULL min/max is ignored by the final aggregate
      val byReplicas = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Array[Any]]
      served.foreach { case (i, rows) =>
        val partial = aggValsOf(rows).toArray
        val hosts = KVRing.replicasOf(entry.parts(i)._1)
        byReplicas(hosts) = byReplicas.get(hosts).fold(partial)(foldPartials(_, partial))
      }
      byReplicas.iterator.map { case (hosts, row) =>
        KVMultiPartition(hosts.toArray, Array(row)): InputPartition
      }.toArray
    } else {
      val gIdx = groupCols.map(entry.schema.fieldIndex)
      val gTypes = groupCols.map(entry.schema(_).dataType)
      val ckGrouped = groupCols.exists(entry.clusteringCols.contains)
      def internalG(vals: Seq[Any]): Seq[Any] = vals.zip(gTypes).map {
        case (s: String, StringType) => UTF8String.fromString(s)
        case (v, _) => v
      }
      emit(served.flatMap { case (i, served) =>
        val (k, rows) = entry.parts(i)
        // a GROUPED aggregate must OMIT splits whose pushed
        // ck-range/index predicates leave zero surviving rows: SQL
        // semantics drop empty groups, and under complete pushdown
        // Spark would surface a phantom [key..., 0] row verbatim.
        if (served.isEmpty) None
        else if (ckGrouped) {
          // CQL GROUP BY pk, ck-prefix: the ck-sorted split's groups
          // are CONTIGUOUS RUNS of the grouped tuple — one pass, one
          // metadata row per run, no hashing, no data row served
          val runRows = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
          var start = 0
          var j = 1
          def tupleAt(r: Array[Any]): Vector[Any] =
            gIdx.map(ix => KeyGroupedRegistry.normCell(r(ix))).toVector
          while (start < served.length) {
            while (j < served.length &&
              tupleAt(served(j)) == tupleAt(served(start))) j += 1
            val run = served.slice(start, j)
            runRows += (internalG(gIdx.map(run.head(_))) ++ aggValsOf(run))
              .toArray[Any]
            start = j
            j = start + 1
          }
          Some((k, runRows.toArray))
        } else {
          val groupVals = internalG(gIdx.map(rows.head(_)))
          Some((k, Array((groupVals ++ aggValsOf(served)).toArray[Any])))
        }
      })
    }
  override def createReaderFactory(): PartitionReaderFactory = new KVReaderFactory
}

/** One split = one key tuple's rows; `partitionKey` is what lets Spark line
  * the two sides of the join up split-by-split, and `preferredLocations` is
  * what lets the scheduler run the split on the node that owns the key (the
  * token-aware read — see [[KVRing]]). */
case class KVPartition(keyInternal: Array[Any], hosts: Array[String],
    rows: Array[Array[Any]])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow.fromSeq(keyInternal.toIndexedSeq)
  override def preferredLocations(): Array[String] = hosts
}

/** A split spanning SEVERAL keys that share one replica set: a
  * size-coalesced read's token-adjacent keys (the SplitTarget packing), or
  * the one folded partial row of an ungrouped aggregate. No
  * `HasPartitionKey` — the split spans keys — but `preferredLocations`
  * still carries the common replica set, so the token-aware read survives
  * coalescing. */
case class KVMultiPartition(hosts: Array[String], rows: Array[Array[Any]])
    extends InputPartition {
  override def preferredLocations(): Array[String] = hosts
}

class KVReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p match {
      case kp: KVPartition => kp.rows
      case mp: KVMultiPartition => mp.rows
    }
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(KVReaderFactory.cells(rows(i)))
      override def close(): Unit = ()
    }
  }
}

object KVReaderFactory {
  /** Stored row → internal cells, for batch reads and the CDC stream:
    * cells are stored in internal form except top-level strings. */
  val cells: Array[Any] => Array[Any] = _.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  }
}
