package graft.sources

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{AggregateFunction, BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 catalog plugin with Cassandra keyspace/table semantics — the analog
  * of the connector's `CassandraCatalog` (the pinned stack's catalog
  * integration, selected by the reference at userdata/cloudinit.sh:461; the
  * reference's CQL session does the same operations server-side at
  * userdata/cloudinit.sh:296-321):
  *
  *   - namespace = keyspace (`CREATE NAMESPACE graftcat.testks`);
  *   - `CREATE TABLE graftcat.testks.users (...) TBLPROPERTIES ('key'='id')`
  *     declares the partition key;
  *   - **INSERT is an upsert**: the write path itself merges by key,
  *     last-write-wins — exactly Cassandra's INSERT semantics, enforced at
  *     the engine level (the DSv2 `BatchWrite.commit`), not by a helper the
  *     caller must remember to use.
  *
  * `Sessions.local` registers it as `spark.sql.catalog.graftcat` in every
  * session (catalogs are resolved lazily on first 3-part-name reference).
  *
  * Storage is in-driver (stands in for the external cluster, like
  * KeyGroupedRegistry); executors stream rows back to the driver only through
  * commit messages, which is correct for the reference-sized DDL surface this
  * models — the scan/write PLUMBING (scan builder, writer factory, commit
  * protocol) is the real DSv2 shape a scaled implementation would keep while
  * swapping the store.
  */
object GraftCatalogStore {
  /** `sets` = columns declared CQL-set-typed (TBLPROPERTIES 'sets'='a,b'):
    * stored as ArrayType but deduplicated + ordered on write, which is
    * Cassandra's `set<T>` write semantics (SURVEY §1.2).
    *
    * `writetime` = the column carrying the client write timestamp (CQL
    * `USING TIMESTAMP`): reconciliation keeps the row with the HIGHEST
    * timestamp per key, not the latest arrival — a stale replayed write
    * cannot clobber a newer value, and any interleaving of the same write
    * set converges to the same state (the property Cassandra's LWW register
    * rests on; UpsertSpec checks commutativity).
    *
    * `ttl` = the column carrying a per-write TTL in seconds (CQL
    * `USING TTL`), relative to `writetime`; NULL = never expires. Expiry is
    * enforced on READ against the logical clock `now` (epoch seconds, a
    * table property overridable per-scan via `spark.read.option("now", …)`)
    * — Cassandra's read-path tombstone filtering; compaction would reclaim
    * the rows later.
    *
    * `counters` = CQL counter columns (BIGINT): a write is an INCREMENT
    * merged additively into the stored value, not a replacement — CQL
    * `UPDATE t SET c = c + ?`. As in Cassandra, a counter table admits no
    * regular data columns and no writetime/TTL. */
  /** One written cell of a CELLWISE table (CQL's actual storage granule):
    * value (null = cell tombstone — an explicit null write that shadows
    * older values), client write timestamp in micros, optional TTL seconds.
    * Reference semantics pin: the modeled engine is Cassandra 4.0.6
    * (/root/reference/userdata/cloudinit.sh:216), where every cell merges
    * independently by (timestamp, value) — an UPDATE touching a column
    * subset wins ONLY those cells. */
  final case class GCell(v: Any, wt: Long, ttl: Option[Long])

  /** Collection state of one SET column of a cellwise table — CQL's complex
    * column: `clearWt` is the collection tombstone's timestamp (an assign
    * writes it at statement-ts − 1 so its own element cells survive it,
    * exactly Cassandra's overwrite rule; an INSERT of NULL clears at the
    * statement ts itself) and `elems` maps each element to its winning cell
    * (v = element for a live add, v = null for an element tombstone from
    * `s = s - {..}`). An element is visible iff its cell is a live add with
    * wt > clearWt. Elements at or below clearWt are shadowed forever
    * (clearWt only grows), so merges drop them — the in-place compaction. */
  final case class GCollState(clearWt: Long, elems: Map[Any, GCell])

  /** Element key of one LIST cell: Cassandra keys list cells by a write-time
    * timeuuid so elements sort by insertion position. The model's position is
    * (major, minor): appends write major = +wt, prepends major = −wt (the
    * negative-timestamp trick — a LATER prepend sorts EARLIER, landing at the
    * front, exactly CQL `l = [x] + l`), minor = the element's index within
    * its statement. Distinct statements have distinct wt, so positions
    * collide only for equal-timestamp writes — the same collision rule as
    * every other cell. */
  final case class GListPos(major: Long, minor: Int)

  /** Element key of one list VALUE TOMBSTONE (CQL `l = l - [v]`): hides every
    * position cell of equal value with cell.wt ≤ its wt. Real Cassandra
    * implements list remove as read-before-write over the cells the
    * coordinator observed; the model keys the tombstone by VALUE + timestamp
    * instead, which is arrival-order-independent and agrees with Cassandra
    * whenever statements arrive in timestamp order (the replayable contract
    * every other merge rule here follows). */
  final case class GValTomb(k: Any)

  /** Per-key state of a cellwise table: the row marker (written by INSERT,
    * not by UPDATE — Cassandra's primary-key liveness cell) plus one WINNING
    * cell per data column (null entry = never written). Immutable so merges
    * CAS-replace the whole per-key state. */
  final case class GCellRow(marker: Option[GCell], cells: Array[GCell])

  /** One counter SHARD — Cassandra's counter cell fragment: the sub-count
    * a single replica is the leader for, versioned by its own logical
    * clock. A replicated counter column stores `Map[replicaIdx, CtrShard]`;
    * the visible value is the SUM of shard values, and replicas reconcile
    * shard-wise by MAX CLOCK — which is what makes counter repair and hint
    * replay idempotent (replaying an already-seen shard state is a no-op),
    * the property plain additive merge can never have. */
  final case class CtrShard(clock: Long, value: Long)

  final class T(@volatile var schema: StructType, val keyCol: String,
      val sets: Set[String] = Set.empty,
      val writetime: Option[String] = None,
      val ttl: Option[String] = None,
      val counters: Set[String] = Set.empty,
      val now: Option[Long] = None,
      val cellwise: Boolean = false,
      val maps: Set[String] = Set.empty,
      val lists: Set[String] = Set.empty,
      val cellWt: Map[String, String] = Map.empty,
      val cellTtl: Map[String, String] = Map.empty,
      val udts: Set[String] = Set.empty,
      val defaultTtl: Option[Long] = None,
      val rf: Int = 1,
      /** Cassandra `max_hint_window`: hints older than this window (in the
        * table's writetime clock units) at replay time are DROPPED instead
        * of replayed — past the window, anti-entropy repair is the only
        * recovery, exactly Cassandra's contract. None = hints never
        * expire. */
      val maxHintWindow: Option[Long] = None,
      /** NetworkTopologyStrategy analog ('dcs'='dc1:2,dc2:1'): the table's
        * replicas partitioned into named datacenters, replica indices
        * assigned DC-majority-first in declaration order (dc1 → replicas
        * 0,1; dc2 → replica 2 in the example; rf = the sum). Empty = the
        * SimpleStrategy single implicit DC holding every replica, so
        * LOCAL_* consistency levels degrade to their global forms exactly
        * as they do on a one-DC cluster. */
      val dcSpec: Seq[(String, Int)] = Nil) {
    def dcNames: Seq[String] = if (dcSpec.isEmpty) Seq("dc1") else dcSpec.map(_._1)
    /** replica index → DC index. */
    lazy val dcOf: Array[Int] =
      if (dcSpec.isEmpty) Array.fill(rf)(0)
      else dcSpec.zipWithIndex.flatMap { case ((_, n), di) =>
        Seq.fill(n)(di)
      }.toArray
    /** Replica indices of one DC, in index order. */
    def dcReplicas(di: Int): Array[Int] =
      dcOf.zipWithIndex.collect { case (d, i) if d == di => i }
    val rows = TrieMap.empty[Any, Array[Any]]
    /** Replicas 1..rf−1 of a replicated table ('rf' > 1): `rows` is replica
      * 0. Writes apply the same LWW merge to every replica a test hasn't
      * failed ('failreplica'); CL=ONE reads replica 0 alone, CL=QUORUM
      * merges all replicas by timestamp and write-back-repairs divergence
      * (blocking read repair). Row-granular writetime tables only — the
      * repair merge IS the LWW reconciliation, exactly Cassandra's. */
    val extraReplicas: Array[TrieMap[Any, Array[Any]]] =
      Array.fill(math.max(0, rf - 1))(TrieMap.empty[Any, Array[Any]])
    def allReplicas: Array[TrieMap[Any, Array[Any]]] =
      rows +: extraReplicas
    /** Hinted handoff queue: (target replica, row) for every write a
      * failed replica missed, appended by the coordinator (write path,
      * under `synchronized`) and drained by
      * [[GraftCatalogStore.replayHints]] when the node "comes back". */
    val hints = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Any])]
    /** CDC changelog (the Cassandra commit-log / CDC-log analog), the same
      * [[KeyGroupedRegistry.LogBatch]] log the KV store keeps: one entry
      * per commit, each appended through [[Cdc.append]] with its rows
      * padded to the commit-time schema — INSERT/streaming-sink/logged-
      * BATCH commits append their statement rows, key deletes append a
      * TOMBSTONE batch of marker rows (key set, data null). MERGE /
      * row-level deltas are captured too (tombstone + data batches per
      * commit, appended together — see GDeltaBatchWrite). Served by the
      * `<table>__cdc` streaming read, the shared [[CdcStream]]. */
    val changelog =
      scala.collection.mutable.ArrayBuffer.empty[KeyGroupedRegistry.LogBatch]
    /** Named point-in-time snapshots (nodetool snapshot analog): immutable
      * copies of the row store / cell store taken under the DDL write lock.
      * Row arrays are never mutated in place (every merge replaces whole
      * arrays), so the copies are O(keys) hard links, exactly like
      * Cassandra's SSTable hard-link snapshots. */
    val snapshots = TrieMap.empty[String,
      (Map[Any, Array[Any]], Map[Any, GCellRow])]
    /** Store of a cellwise table ('cellwise'='true'): per-cell LWW instead
      * of whole-row replacement. `rows` stays empty for these tables. */
    val cellRows = TrieMap.empty[Any, GCellRow]
    /** Replica cell stores 1..rf−1 of a REPLICATED cellwise table
      * ('cellwise' + 'rf' > 1): `cellRows` is replica 0. Reconciliation is
      * the per-CELL lattice join ([[GUpsertTable.joinCellRows]]) — the
      * granule real Cassandra repairs at — not row-granular LWW. */
    val extraCellReplicas: Array[TrieMap[Any, GCellRow]] =
      Array.fill(if (cellwise) math.max(0, rf - 1) else 0)(
        TrieMap.empty[Any, GCellRow])
    def allCellReplicas: Array[TrieMap[Any, GCellRow]] =
      cellRows +: extraCellReplicas
    /** Schema indices of the DATA columns of a cellwise table — everything
      * except the key, the writetime/ttl metadata columns and the
      * WRITETIME()/TTL() projection columns (cellWt/cellTtl — read-only,
      * filled by materialization, any written value silently ignored, the
      * way CQL has no way to write WRITETIME(a)); `cells` in [[GCellRow]]
      * is indexed by position in THIS array. */
    lazy val dataIdx: Array[Int] = schema.fields.indices.filterNot { i =>
      val n = schema.fields(i).name
      n == keyCol || writetime.contains(n) || ttl.contains(n) ||
        cellWt.contains(n) || cellTtl.contains(n)
    }.toArray
    /** (meta schema idx, target cell position in dataIdx, isTtl) for each
      * declared WRITETIME()/TTL() projection column. */
    lazy val metaIdx: Seq[(Int, Int, Boolean)] =
      (cellWt.toSeq.map { case (m, d) => (m, d, false) } ++
        cellTtl.toSeq.map { case (m, d) => (m, d, true) }).map {
        case (m, d, isTtl) =>
          (schema.fieldIndex(m), dataIdx.indexOf(schema.fieldIndex(d)), isTtl)
      }
    /** DDL-vs-commit discipline: commits hold the READ lock (concurrent
      * commits still interleave freely through the CAS loops), ALTER TABLE
      * holds the WRITE lock while it migrates rows in place — so a commit
      * can never land an old-shape row between the copy and the swap (the
      * lost-write race of the previous copy-then-swap design). */
    val ddlLock = new java.util.concurrent.locks.ReentrantReadWriteLock()
    /** Globally-unique, monotonically-assigned rank used to order
      * multi-table lock acquisition (logged batches). identityHashCode is
      * NOT unique per the JVM spec, so sorting by it could give two batches
      * opposite lock orders — the classic ABBA deadlock. */
    val lockRank: Long = GraftCatalogStore.nextLockRank.incrementAndGet()
  }
  private val nextLockRank = new java.util.concurrent.atomic.AtomicLong(0)
  val namespaces = TrieMap.empty[String, Map[String, String]]
  val tables = TrieMap.empty[(String, String), T]

  /** Hinted-handoff replay — the node-came-back maintenance op: drain the
    * table's hint queue, applying each missed write to ITS target replica
    * through the table's own LWW merge. Replay is idempotent and
    * order-independent (the merge is), so a hint whose write was already
    * superseded — by a newer write or a read repair — is a harmless no-op.
    * Returns the number of hints replayed.
    *
    * Hint expiry (`max_hint_window` table property): when the table
    * declares a window AND the caller passes the current clock `now`
    * (same writetime units), hints whose row writetime lies before
    * `now - window` are DROPPED, not replayed — Cassandra stops delivering
    * hints past max_hint_window, and from there anti-entropy
    * [[repairTable]] is the only path that heals the replica. Dropped
    * hints never resurrect (UpsertSpec pins this). Without a window or
    * without a clock, every hint replays (the pre-window behavior). */
  def replayHints(ns: String, table: String, now: Option[Long] = None): Int = {
    val t = tables.getOrElse((ns, table),
      throw new IllegalArgumentException(s"replayHints: unknown table $ns.$table"))
    val rl = t.ddlLock.readLock()
    rl.lock()
    try {
      val drained = t.synchronized {
        val d = t.hints.toArray
        t.hints.clear()
        d
      }
      val cutoff = for { n <- now; w <- t.maxHintWindow } yield n - w
      val wtIdx = t.writetime.map(t.schema.fieldIndex)
      // a hint is live unless PROVABLY expired: its writetime cell exists
      // and lies strictly before the cutoff
      val live = cutoff match {
        case Some(c) => drained.filter { case (_, r) =>
          // normalize through epochMicros like every other writetime read —
          // the cell is Long today, but the encoding set may widen
          wtIdx.forall(i => Option(r(i)).forall(GUpsertTable.epochMicros(_) >= c))
        }
        case None => drained
      }
      val reps = t.allReplicas
      live.foreach { case (ri, r) =>
        if (t.counters.nonEmpty) GUpsertTable.shardMergeInto(t, reps(ri), r)
        else GUpsertTable.lwwMergeInto(t, reps(ri), r)
      }
      live.length
    } finally rl.unlock()
  }

  /** Point-in-time snapshot (the nodetool-snapshot analog): under the DDL
    * write lock (a consistent cut — no commit is mid-flight), link the
    * current row/cell maps under a name. O(keys): row arrays are immutable
    * under the merge discipline, so this is the hard-link trick, not a
    * deep copy. Snapshots read via `spark.read.option("snapshot", name)`
    * and restore via [[restoreSnapshot]]. */
  def snapshotTable(ns: String, table: String, name: String): Unit = {
    val t = tables.getOrElse((ns, table),
      throw new IllegalArgumentException(s"snapshotTable: unknown table $ns.$table"))
    val wl = t.ddlLock.writeLock()
    wl.lock()
    try t.snapshots.put(name, (t.rows.toMap, t.cellRows.toMap))
    finally wl.unlock()
  }

  /** Restore a snapshot (the SSTable-restore analog): truncate and reload
    * EVERY replica from the named snapshot — the restored state is fully
    * replicated, and pending hints are dropped (they reference overwritten
    * history). The snapshot itself survives, like Cassandra's. */
  def restoreSnapshot(ns: String, table: String, name: String): Unit = {
    val t = tables.getOrElse((ns, table),
      throw new IllegalArgumentException(s"restoreSnapshot: unknown table $ns.$table"))
    val (rowsSnap, cellsSnap) = t.snapshots.getOrElse(name,
      throw new IllegalArgumentException(
        s"restoreSnapshot: no snapshot '$name' on $ns.$table"))
    val wl = t.ddlLock.writeLock()
    wl.lock()
    try {
      t.allReplicas.foreach { st => st.clear(); st ++= rowsSnap }
      t.allCellReplicas.foreach { st => st.clear(); st ++= cellsSnap }
      t.synchronized(t.hints.clear())
    } finally wl.unlock()
  }

  /** Anti-entropy repair (the nodetool-repair analog): a full-table quorum
    * merge + write-back across every replica — unlike read repair it fixes
    * divergence for keys no read has touched, and unlike hint replay it
    * needs no queue (it recomputes from replica state, covering misses
    * whose hints were lost). Returns the number of keys examined. */
  def repairTable(ns: String, table: String): Int = {
    val t = tables.getOrElse((ns, table),
      throw new IllegalArgumentException(s"repairTable: unknown table $ns.$table"))
    require(t.rf > 1, s"repairTable: $ns.$table is not replicated")
    val rl = t.ddlLock.readLock()
    rl.lock()
    try
      if (t.cellwise) GUpsertTable.quorumReadCellwise(t)
      else GUpsertTable.quorumRead(t).length
    finally rl.unlock()
  }

  /** Expiry GC for TTL tables — the compaction / gc_grace maintenance op
    * that completes the TTL story: until now expired rows were invisible to
    * reads but retained forever; this physically reclaims every row
    * (row-granular) or cell (cellwise) whose expiry lies at least
    * `graceSeconds` before `now`. Reclaiming only PAST the grace window is
    * what keeps late replicas able to learn of the expiry first — the same
    * reason Cassandra refuses to purge tombstones younger than gc_grace.
    * Read-invisible before and after (expiry is enforced on the read
    * path). Takes the DDL write lock: a physical rewrite must exclude
    * concurrent commits. Returns (entriesBefore, entriesAfter). */
  def gcExpired(ns: String, table: String, now: Long,
      graceSeconds: Long): (Int, Int) = {
    val t = tables.getOrElse((ns, table),
      throw new IllegalArgumentException(s"gcExpired: unknown table $ns.$table"))
    require(t.ttl.isDefined, s"gcExpired: $ns.$table has no ttl column")
    val wl = t.ddlLock.writeLock()
    wl.lock()
    try {
      if (t.cellwise) {
        def dead(c: GCell): Boolean = c != null &&
          c.ttl.exists(tt => GUpsertTable.epochSeconds(c.wt) + tt + graceSeconds <= now)
        def isSet(di: Int): Boolean = {
          val n = t.schema.fields(t.dataIdx(di)).name
          t.sets(n) || t.maps(n) || t.lists(n) || t.udts(n)
        }
        // a set column reclaims per ELEMENT cell (expired adds and element
        // tombstones past grace); a state left with no elements and a
        // pre-grace collection tombstone drops entirely
        def gcColl(c: GCell): GCell = {
          val st = c.v.asInstanceOf[GCollState]
          val kept = st.elems.filter { case (_, e) => !dead(e) &&
            !(e.v == null &&
              GUpsertTable.epochSeconds(e.wt) + graceSeconds <= now) }
          if (kept.isEmpty &&
              GUpsertTable.epochSeconds(st.clearWt.max(0L)) + graceSeconds <= now)
            null
          else if (kept.size == st.elems.size) c
          else GCell(GCollState(st.clearWt, kept), c.wt, c.ttl)
        }
        val before = t.cellRows.size
        // replicated cellwise: the physical rewrite runs on EVERY replica
        // (each holds its own cell store); counts report replica 0
        t.allCellReplicas.foreach { store =>
          store.foreach { case (k, cr) =>
            val cells = cr.cells.zipWithIndex.map {
              case (c, di) if c != null && isSet(di) => gcColl(c)
              case (c, _) => if (dead(c)) null else c
            }
            val marker = cr.marker.filterNot(dead)
            if (!cells.sameElements(cr.cells) || marker != cr.marker) {
              if (marker.isEmpty && cells.forall(_ == null)) store.remove(k)
              else store.put(k, GCellRow(marker, cells))
            }
          }
        }
        (before, t.cellRows.size)
      } else {
        val ti = t.schema.fieldIndex(t.ttl.get)
        val wi = t.schema.fieldIndex(t.writetime.get)
        val before = t.rows.size
        t.rows.foreach { case (k, r) =>
          if (r(ti) != null &&
              GUpsertTable.epochSeconds(r(wi)) +
                r(ti).asInstanceOf[Number].longValue + graceSeconds <= now)
            t.rows.remove(k)
        }
        (before, t.rows.size)
      }
    } finally wl.unlock()
  }

  /** Type-aware ordering for CQL-set elements: numerics sort numerically
    * (NOT by their string rendering — "10" < "2" lexicographically), binary
    * unsigned-byte-lexicographically, strings by value. None = element type
    * unsupported as a set, rejected at createTable rather than silently
    * mis-sorted at commit. */
  def setOrdering(et: DataType): Option[Ordering[Any]] = et match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue))
    case FloatType | DoubleType =>
      Some(Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue))
    case StringType => Some(Ordering.by((v: Any) => String.valueOf(v)))
    case BinaryType => Some(Ordering.fromLessThan[Any]((a, b) =>
      java.util.Arrays.compareUnsigned(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]) < 0))
    case _ => None
  }

  /** Dedup + order a set column's elements. Binary dedups by VALUE (an
    * Array[Byte].distinct would compare references and keep every
    * duplicate). */
  def canonicalSet(arr: Array[Any], et: DataType): Array[Any] = {
    // CQL prohibits nulls inside collections; fail with a named reason
    // instead of an anonymous NPE deep in the ordering at commit time
    require(arr.forall(_ != null),
      s"set<${et.simpleString}> column contains a null element (CQL sets cannot hold null)")
    val deduped = et match {
      case BinaryType =>
        arr.map(_.asInstanceOf[Array[Byte]].toSeq).distinct
          .map(_.toArray: Any).toArray
      case _ => arr.distinct
    }
    deduped.sorted(setOrdering(et).get)
  }
}

/** Cassandra's UnavailableException: the coordinator knows up front that
  * too few replicas are live for the requested consistency level, so the
  * write is refused whole — nothing applied anywhere. Named so tests and
  * callers can catch exactly this condition. */
class GUnavailableException(msg: String) extends IllegalStateException(msg)

class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {
  import GraftCatalogStore._

  private var catName = "graftcat"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  private def nsOf(ident: Identifier): String = ident.namespace().mkString(".")

  // ---- namespaces (keyspaces)
  override def createNamespace(ns: Array[String], meta: util.Map[String, String]): Unit =
    namespaces.put(ns.mkString("."), meta.asScala.toMap)
  override def namespaceExists(ns: Array[String]): Boolean =
    namespaces.contains(ns.mkString("."))
  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] =
    namespaces.get(ns.mkString("."))
      .getOrElse(throw new NoSuchNamespaceException(ns)).asJava
  override def listNamespaces(): Array[Array[String]] =
    namespaces.keys.map(_.split('.')).toArray
  override def listNamespaces(parent: Array[String]): Array[Array[String]] =
    Array.empty
  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace")
  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val key = ns.mkString(".")
    if (cascade) tables.keys.filter(_._1 == key).foreach(tables.remove)
    namespaces.remove(key).isDefined
  }

  // ---- tables
  override def listTables(ns: Array[String]): Array[Identifier] = {
    val key = ns.mkString(".")
    tables.keys.collect { case (n, t) if n == key => Identifier.of(ns, t) }.toArray
  }
  override def loadTable(ident: Identifier): Table = {
    // `<table>__cdc` resolves to the base table's CDC stream (the commit-
    // log read) — the shared read-only CdcTable, like a CDC-enabled
    // Cassandra table's cdc_raw log next to the table itself
    if (ident.name().endsWith("__cdc")) {
      val base = ident.name().stripSuffix("__cdc")
      val key = (nsOf(ident), base)
      val t = tables.getOrElse(key, throw new NoSuchTableException(ident))
      val schema = t.schema
      return new CdcTable(s"$catName.${key._1}.${key._2}__cdc", schema,
        hasCk = false, () => t.changelog, GValues.cells(schema))
    }
    val key = (nsOf(ident), ident.name())
    val t = tables.getOrElse(key, throw new NoSuchTableException(ident))
    new GUpsertTable(s"$catName.${key._1}.${key._2}", t)
  }
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val key = (nsOf(ident), ident.name())
    if (tables.contains(key))
      throw new TableAlreadyExistsException(key._1, key._2)
    val keyCol = Option(properties.get("key")).getOrElse(schema.fields.head.name)
    require(schema.fieldNames.contains(keyCol), s"key column $keyCol not in schema")
    // a CQL partition key is implicitly NOT NULL — record that in the schema
    // (it is also what lets the key serve as a DSv2 row-level operation
    // row ID, which must be non-nullable)
    val schema1 = StructType(schema.fields.map(f =>
      if (f.name == keyCol) f.copy(nullable = false) else f))
    val sets = Option(properties.get("sets"))
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    // validate up front: a typo'd or mis-typed 'sets' entry must fail DDL,
    // not silently skip the set semantics at every later commit
    sets.foreach { n =>
      require(schema.fieldNames.contains(n), s"set column $n not in schema")
      schema(n).dataType match {
        case ArrayType(et, _) =>
          require(GraftCatalogStore.setOrdering(et).isDefined,
            s"set column $n: unsupported element type ${et.catalogString}")
        case other =>
          throw new IllegalArgumentException(
            s"set column $n must be an ARRAY, got ${other.catalogString}")
      }
    }
    val props = properties.asScala
    val writetime = props.get("writetime")
    writetime.foreach { n =>
      require(schema.fieldNames.contains(n), s"writetime column $n not in schema")
      require(Seq(TimestampType, LongType).contains(schema(n).dataType),
        s"writetime column $n must be TIMESTAMP or BIGINT, got " +
          schema(n).dataType.catalogString)
    }
    val ttl = props.get("ttl")
    ttl.foreach { n =>
      require(writetime.isDefined, "ttl requires a writetime column (expiry = writetime + ttl)")
      require(schema.fieldNames.contains(n), s"ttl column $n not in schema")
      require(Seq(IntegerType, LongType).contains(schema(n).dataType),
        s"ttl column $n must be INT or BIGINT, got ${schema(n).dataType.catalogString}")
    }
    val counters = props.get("counters")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    if (counters.nonEmpty) {
      // CQL: a counter table holds ONLY counters outside the primary key,
      // counters are 64-bit, and they support neither TTL nor USING TIMESTAMP
      require(writetime.isEmpty && ttl.isEmpty && sets.isEmpty,
        "counter tables do not support writetime/ttl/sets (CQL restriction)")
      val nonKey = schema.fieldNames.filterNot(_ == keyCol).toSet
      require(counters == nonKey,
        s"counter table: every non-key column must be a counter (counters=$counters, non-key=$nonKey)")
      counters.foreach { n =>
        require(schema(n).dataType == LongType,
          s"counter column $n must be BIGINT, got ${schema(n).dataType.catalogString}")
      }
    }
    val now = props.get("now").map(_.toLong)
    val cellwise = props.get("cellwise").exists(_.toBoolean)
    if (cellwise) {
      // per-cell LWW is defined BY cell timestamps — a cellwise table
      // without a writetime column has no merge rule
      require(writetime.isDefined,
        "cellwise tables require a writetime column (cells merge by timestamp)")
      require(counters.isEmpty,
        "cellwise tables do not support counters (CQL: counters are their own granule)")
    }
    // 'maps' = columns declared CQL-map-typed: entries merge per KEY, each
    // its own cell (`m[k] = v` puts, `m[k] = null` / collremove-by-key
    // deletes). Entry-wise merge only exists at the cell granule, so the
    // property demands a cellwise table — on a row-granular table a map
    // column is just an opaque value that replaces wholesale.
    val mapCols = props.get("maps")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    mapCols.foreach { n =>
      require(cellwise, s"map column $n: 'maps' requires a cellwise table")
      require(schema.fieldNames.contains(n), s"map column $n not in schema")
      require(!sets(n), s"column $n cannot be both a set and a map")
      schema(n).dataType match {
        case MapType(kt, _, _) =>
          require(GraftCatalogStore.setOrdering(kt).isDefined,
            s"map column $n: unsupported key type ${kt.catalogString}")
        case other =>
          throw new IllegalArgumentException(
            s"map column $n must be a MAP, got ${other.catalogString}")
      }
    }
    // 'lists' = columns declared CQL-list-typed: position-keyed cells (see
    // GListPos) — INSERT assigns, UPDATE appends, UPDATE+prepend prepends,
    // UPDATE+collremove removes by VALUE. Same cell granule requirement as
    // sets/maps: element-wise merge only exists on cellwise tables.
    val listCols = props.get("lists")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty[String])
    listCols.foreach { n =>
      require(cellwise, s"list column $n: 'lists' requires a cellwise table")
      require(schema.fieldNames.contains(n), s"list column $n not in schema")
      require(!sets(n) && !mapCols(n),
        s"column $n can be only one of set/map/list")
      schema(n).dataType match {
        case ArrayType(et, _) =>
          require(GraftCatalogStore.setOrdering(et).isDefined,
            s"list column $n: unsupported element type ${et.catalogString}")
        case other =>
          throw new IllegalArgumentException(
            s"list column $n must be an ARRAY, got ${other.catalogString}")
      }
    }
    // 'udts' = columns declared NON-FROZEN CQL UDTs (CQL `CREATE TYPE` +
    // a column of that type without `frozen<>`): a StructType column whose
    // FIELDS each merge as their own cell — `UPDATE t SET u.f = ?` wins
    // only field f, an assign tombstones the whole value first (wt−1) the
    // way collections do, and `DELETE u.f FROM t` tombstones one field.
    // A struct column NOT declared here is FROZEN: one scalar cell,
    // whole-value LWW — exactly CQL `frozen<my_type>`. Field-wise merge
    // only exists at the cell granule, so the property demands a cellwise
    // table.
    val udtCols = props.get("udts")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    udtCols.foreach { n =>
      require(cellwise, s"UDT column $n: 'udts' requires a cellwise table " +
        "(field-wise merge only exists at the cell granule)")
      require(schema.fieldNames.contains(n), s"UDT column $n not in schema")
      require(!sets(n) && !mapCols(n) && !listCols(n),
        s"column $n cannot be both a UDT and a set/map/list")
      require(n != keyCol && !writetime.contains(n) && !ttl.contains(n) &&
          !counters(n),
        s"UDT column $n cannot be a key/writetime/ttl/counter column")
      schema(n).dataType match {
        case _: StructType => ()
        case other => throw new IllegalArgumentException(
          s"UDT column $n must be a STRUCT, got ${other.catalogString}")
      }
    }

    // 'cellwt' / 'cellttl' = WRITETIME() / TTL() projection columns (CQL
    // `SELECT WRITETIME(a), TTL(a)`): each entry 'metaCol:dataCol' declares
    // a read-only column serving the winning cell's write timestamp
    // (micros) / remaining TTL (seconds at the read clock). Cell metadata
    // only exists at the cell granule, so the properties demand a cellwise
    // table; targets must be SCALAR data columns (CQL's collection
    // writetime is per-element and not modeled here).
    def parseMeta(prop: String): Map[String, String] =
      props.get(prop).map(_.split(',').map(_.trim).filter(_.nonEmpty).map { p =>
        val cut = p.indexOf(':')
        require(cut > 0 && cut < p.length - 1,
          s"'$prop' entries must be 'metaCol:dataCol', got '$p'")
        p.substring(0, cut) -> p.substring(cut + 1)
      }.toMap).getOrElse(Map.empty[String, String])
    val cellWt = parseMeta("cellwt")
    val cellTtl = parseMeta("cellttl")
    val metaCols = cellWt.keySet ++ cellTtl.keySet
    (cellWt ++ cellTtl).foreach { case (m, d) =>
      require(cellwise, s"meta column $m: 'cellwt'/'cellttl' require a " +
        "cellwise table (cell metadata only exists at the cell granule)")
      require(schema.fieldNames.contains(m), s"meta column $m not in schema")
      require(schema.fieldNames.contains(d),
        s"meta column $m: target column $d not in schema")
      require(d != keyCol && !writetime.contains(d) && !ttl.contains(d) &&
          !metaCols(d) && !sets(d) && !mapCols(d) && !listCols(d) &&
          !udtCols(d),
        s"meta column $m: target $d must be a scalar data column")
      require(schema(m).dataType == LongType,
        s"meta column $m must be BIGINT, got ${schema(m).dataType.catalogString}")
    }
    require(cellWt.keySet.intersect(cellTtl.keySet).isEmpty,
      "a column cannot serve both 'cellwt' and 'cellttl'")
    // 'default_ttl' = CQL `WITH default_time_to_live = N`: a write whose
    // ttl cell is NULL gets the table default; an EXPLICIT ttl overrides
    // it, and CQL's `USING TTL 0` turns the default OFF for that write
    // (stored as no-expiry). Only meaningful with a declared ttl column.
    val defaultTtl = props.get("default_ttl").map { v =>
      require(ttl.isDefined,
        "'default_ttl' requires a 'ttl' column (CQL default_time_to_live " +
          "is a default for USING TTL)")
      val n = v.toLong
      require(n > 0, s"'default_ttl' must be positive, got $n")
      n
    }
    // 'rf' = replication factor (CQL `WITH replication = {...
    // 'replication_factor': N}` at the keyspace level, modeled per table):
    // N independent replica stores. Writes apply to every replica (minus
    // any test-failed ones), CL=QUORUM reads merge + read-repair. The
    // repair merge is timestamp LWW, so a replicated table must carry a
    // writetime column; cellwise/counter/LWT surfaces stay RF=1 (cell
    // repair and Paxos are out of the modeled scope, stated loudly).
    // 'dcs' = CQL `WITH replication = {'class': 'NetworkTopologyStrategy',
    // 'dc1': 2, 'dc2': 1}`: named datacenters with per-DC replica counts.
    // rf becomes the sum; 'rf' may be given redundantly but must agree.
    val dcSpec: Seq[(String, Int)] = props.get("dcs").map { v =>
      val spec = v.split(",").toSeq.map { part =>
        val Array(dc, n) = part.trim.split(":").map(_.trim)
        require(n.toInt >= 1, s"'dcs': replica count for $dc must be >= 1")
        (dc, n.toInt)
      }
      require(spec.map(_._1).distinct.length == spec.length,
        s"'dcs': duplicate datacenter name in '$v'")
      spec
    }.getOrElse(Nil)
    val rf = props.get("rf").map(_.toInt)
      .orElse(Some(dcSpec.map(_._2).sum).filter(_ > 0)).getOrElse(1)
    require(dcSpec.isEmpty || dcSpec.map(_._2).sum == rf,
      s"'rf' ($rf) disagrees with the 'dcs' replica total " +
        s"(${dcSpec.map(_._2).sum})")
    require(rf >= 1 && rf <= 3, s"'rf' must be 1..3, got $rf")
    // 'max_hint_window' = Cassandra max_hint_window_in_ms, measured on the
    // table's writetime clock (the logical time domain every replication
    // property here shares). Needs replication (hints exist only there) and
    // a writetime column (the clock hints are aged by) — which also means
    // replicated COUNTER tables cannot declare it: their hints carry shard
    // clocks, not timestamps, and Cassandra itself stores counter "hints"
    // only as full-row reconciliation, aged by wall clock we don't model.
    val maxHintWindow = props.get("max_hint_window").map { v =>
      val n = v.toLong
      require(n > 0, s"'max_hint_window' must be positive, got $n")
      require(rf > 1, "'max_hint_window' requires a replicated table " +
        "('rf' > 1) — hints only exist under replication")
      require(writetime.isDefined, "'max_hint_window' ages hints by the " +
        "table's writetime clock — requires a 'writetime' column")
      n
    }
    if (rf > 1) {
      // counter tables replicate by SHARDS (per-replica sub-counts merged
      // by shard clock — Cassandra's counter cells), cellwise tables by
      // the per-CELL lattice join (quorumReadCellwise — each cell already
      // carries its own timestamp), every other table by row-granular
      // timestamp LWW, which needs a writetime column (cellwise tables
      // always declare one, so the require below is uniform)
      if (counters.isEmpty)
        require(writetime.isDefined,
          "'rf' > 1 requires a 'writetime' column — read repair merges " +
            "replicas by client timestamp (Cassandra's LWW reconciliation)")
    }
    tables.put(key, new GraftCatalogStore.T(
      schema1, keyCol, sets, writetime, ttl, counters, now, cellwise,
      mapCols, listCols, cellWt, cellTtl, udtCols, defaultTtl, rf,
      maxHintWindow, dcSpec))
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean =
    tables.remove((nsOf(ident), ident.name())).isDefined

  /** CQL `ALTER TABLE ADD / DROP` (schema evolution on a live table):
    * added columns are nullable and land at the end — existing rows read
    * NULL for them, exactly Cassandra's absent-cell semantics, with no row
    * rewrite in a real cluster (here the store pads eagerly). DROP refuses
    * the partition key and any semantic column (writetime/ttl/set/counter),
    * as CQL does. Everything else (RENAME, type changes, nested fields) is
    * rejected loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val key = (nsOf(ident), ident.name())
    val t = tables.getOrElse(key, throw new NoSuchTableException(ident))
    require(!t.cellwise, "alterTable: not supported on cellwise tables " +
      "(the per-column cell store is fixed at CREATE)")
    val wl = t.ddlLock.writeLock()
    wl.lock()
    try {
    var schema = t.schema
    var migrations = List.empty[Array[Any] => Array[Any]]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "alterTable: nested columns are not supported")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.contains(name), s"column $name already exists")
        require(add.isNullable,
          s"added column $name must be nullable (existing rows have no cell for it)")
        schema = schema.add(name, add.dataType, nullable = true)
        migrations ::= ((r: Array[Any]) => r :+ (null: Any))
      case del: TableChange.DeleteColumn =>
        val name = del.fieldNames()(0)
        if (!schema.fieldNames.contains(name)) {
          require(del.ifExists, s"column $name does not exist")
        } else {
          require(name != t.keyCol, s"cannot drop the partition key $name (CQL)")
          require(!t.sets(name) && !t.counters(name) &&
            !t.writetime.contains(name) && !t.ttl.contains(name),
            s"cannot drop semantic column $name (writetime/ttl/set/counter)")
          val ix = schema.fieldIndex(name)
          schema = StructType(schema.fields.patch(ix, Nil, 1))
          migrations ::= ((r: Array[Any]) => r.patch(ix, Nil, 1))
        }
      case other =>
        throw new UnsupportedOperationException(s"alterTable: $other")
    }
    // migrate every stored copy of a row IN PLACE under the write lock
    // (commits are excluded, so no concurrently-committed row can be lost
    // or keep the old shape): each replica, the changelog, pending hints
    // and snapshots all read cells by schema position
    val mig = migrations.reverse
    val migrate = (r: Array[Any]) => mig.foldLeft(r)((acc, f) => f(acc))
    t.allReplicas.foreach(st => st.foreach { case (k, r) => st.put(k, migrate(r)) })
    t.changelog.synchronized {
      t.changelog.mapInPlace(b => b.copy(rows = b.rows.map(migrate)))
    }
    t.synchronized(t.hints.mapInPlace { case (i, r) => (i, migrate(r)) })
    t.snapshots.foreach { case (n, (rs, cells)) =>
      t.snapshots.put(n, (rs.map { case (k, r) => k -> migrate(r) }, cells))
    }
    t.schema = schema
    } finally wl.unlock()
    loadTable(ident)
  }
  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable")

  // ---- functions (FunctionCatalog — the CQL built-in function surface)

  /** `token(pk...)` as a catalog SQL function (`SELECT graftcat.system
    * .token(id) ...`): the ring token of a partition key, the function CQL
    * uses for token-range paging (`WHERE token(pk) > ?`) — computed by
    * exactly [[KVRing.tokenOf]], so SQL-visible tokens agree with the
    * source's split placement and pushed token-range arcs. Registered as a
    * V2 `ScalarFunction` with a magic `invoke` for the single-integral
    * fast path, so the call codegens to a static-style invoke instead of
    * an interpreted row. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    (GraftFunctions.names ++ graft.functions.CqlUdfs.names)
      .map(Identifier.of(namespace, _))
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.byName.get(ident.name())
      .orElse(graft.functions.CqlUdfs.lookup(ident.name()))
      .getOrElse(throw new NoSuchFunctionException(ident))
}

/** V2 catalog functions (SURVEY §2.2 — the CQL function surface the
  * connector exposes through Spark SQL). */
object GraftFunctions {
  /** CQL 5 vector-similarity functions (`similarity_cosine` /
    * `similarity_euclidean` / `similarity_dot_product` over
    * `vector<float, n>`): cosine; 1 / (1 + squared L2 distance); and the
    * [0,1]-mapped dot (1 + v1·v2) / 2 — each accumulated FLOAT→DOUBLE
    * left-to-right, the same arithmetic as `graft_dot`, the ANN read and
    * the DuckDB oracle, so scores are engine-identical. Magic `invoke`
    * over `ArrayData` keeps the call codegen-compiled. */
  /** NOTE: `invoke` (the magic fast path) and `produceResult` must be
    * DECLARED on each concrete function class — Spark's V2 function
    * resolution looks them up with `getDeclaredMethod` on the exact class,
    * so inherited definitions are invisible to it. */
  abstract class VectorSim(fname: String) extends ScalarFunction[java.lang.Double] {
    override def name(): String = fname
    override def inputTypes(): Array[DataType] =
      Array(ArrayType(FloatType), ArrayType(FloatType))
    override def resultType(): DataType = DoubleType
    override def isDeterministic: Boolean = true
    protected def check(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData): Unit =
      require(a.numElements() == b.numElements(),
        s"$fname: vectors differ in dimension " +
          s"(${a.numElements()} vs ${b.numElements()})")
  }
  object CosineSim extends VectorSim("similarity_cosine") {
    def invoke(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
      check(a, b)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override def produceResult(input: InternalRow): java.lang.Double =
      invoke(input.getArray(0), input.getArray(1))
  }
  object EuclideanSim extends VectorSim("similarity_euclidean") {
    def invoke(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
      check(a, b)
      var d2 = 0.0; var i = 0
      val n = a.numElements()
      while (i < n) {
        val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
        d2 += d * d; i += 1
      }
      1.0 / (1.0 + d2)
    }
    override def produceResult(input: InternalRow): java.lang.Double =
      invoke(input.getArray(0), input.getArray(1))
  }
  object DotProductSim extends VectorSim("similarity_dot_product") {
    def invoke(a: org.apache.spark.sql.catalyst.util.ArrayData,
        b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
      check(a, b)
      var dot = 0.0; var i = 0
      val n = a.numElements()
      while (i < n) {
        dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
      }
      (1.0 + dot) / 2.0
    }
    override def produceResult(input: InternalRow): java.lang.Double =
      invoke(input.getArray(0), input.getArray(1))
  }
  abstract class SimUnbound(f: VectorSim) extends UnboundFunction {
    override def name(): String = f.name()
    override def description(): String =
      s"${f.name()}(vector<float>, vector<float>): CQL vector similarity"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 && inputType.fields.forall(fd =>
        fd.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }), s"${f.name()} requires two vector<float> arguments")
      f
    }
  }
  object CosineUnbound extends SimUnbound(CosineSim)
  object EuclideanUnbound extends SimUnbound(EuclideanSim)
  object DotProductUnbound extends SimUnbound(DotProductSim)

  /** CQL user-defined aggregate (`CREATE AGGREGATE wavg(bigint, bigint)
    * SFUNC ... FINALFUNC ...`) as a Spark V2 `AggregateFunction`: the state
    * function accumulates (Σ v·w, Σ w) — CQL's SFUNC over the state tuple —
    * partial states MERGE across partitions (Spark's distributed form of
    * the coordinator folding replica partials), and the final function
    * divides, NULL over an empty/zero-weight group. Long arithmetic
    * throughout (Math.addExact / multiplyHigh-free range), so the result
    * is bit-identical however Spark splits the input — the portability rule
    * every oracle-checked value obeys. CQL aggregates skip NULL inputs. */
  case class WavgState(var svw: Long, var sw: Long) extends java.io.Serializable
  object WavgAgg extends AggregateFunction[WavgState, java.lang.Double] {
    override def name(): String = "wavg"
    override def inputTypes(): Array[DataType] = Array(LongType, LongType)
    override def resultType(): DataType = DoubleType
    override def isDeterministic: Boolean = true
    override def newAggregationState(): WavgState = WavgState(0L, 0L)
    override def update(s: WavgState, in: InternalRow): WavgState = {
      if (!in.isNullAt(0) && !in.isNullAt(1)) {
        s.svw = Math.addExact(s.svw,
          Math.multiplyExact(in.getLong(0), in.getLong(1)))
        s.sw = Math.addExact(s.sw, in.getLong(1))
      }
      s
    }
    override def merge(a: WavgState, b: WavgState): WavgState = {
      a.svw = Math.addExact(a.svw, b.svw)
      a.sw = Math.addExact(a.sw, b.sw)
      a
    }
    override def produceResult(s: WavgState): java.lang.Double =
      if (s.sw == 0L) null else s.svw.toDouble / s.sw
  }
  object WavgUnbound extends UnboundFunction {
    override def name(): String = "wavg"
    override def description(): String =
      "wavg(value BIGINT, weight BIGINT): weighted average (CQL UDA analog)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2 && inputType.fields.forall(f =>
        f.dataType == LongType),
        "wavg requires two BIGINT arguments")
      WavgAgg
    }
  }

  val byName: Map[String, UnboundFunction] = Map(
    "token" -> TokenUnbound,
    "wavg" -> WavgUnbound,
    "similarity_cosine" -> CosineUnbound,
    "similarity_euclidean" -> EuclideanUnbound,
    "similarity_dot_product" -> DotProductUnbound)
  val names: Array[String] = byName.keys.toArray.sorted

  object TokenUnbound extends UnboundFunction {
    override def name(): String = "token"
    override def description(): String =
      "token(pk...): ring token of a partition key (KVRing.tokenOf — " +
        "identity for a single integral key, Murmur3 otherwise)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.nonEmpty,
        "token requires at least one partition-key argument")
      inputType.fields.map(_.dataType).foreach {
        case ByteType | ShortType | IntegerType | LongType | StringType => ()
        case other => throw new UnsupportedOperationException(
          s"token: unsupported partition-key type ${other.catalogString} " +
            "(CQL partition keys here are integral or text)")
      }
      if (inputType.fields.length == 1 &&
          inputType.fields(0).dataType == LongType) LongToken
      else TupleToken(inputType.fields.map(_.dataType))
    }
  }

  /** Single-bigint fast path: the identity token, with the magic `invoke`
    * Spark's V2 function framework compiles to a primitive call inside
    * whole-stage codegen. */
  object LongToken extends ScalarFunction[java.lang.Long] {
    override def name(): String = "token"
    override def inputTypes(): Array[DataType] = Array(LongType)
    override def resultType(): DataType = LongType
    override def isDeterministic: Boolean = true
    def invoke(v: Long): Long = KVRing.tokenOf(Seq(v))
    override def produceResult(input: InternalRow): java.lang.Long =
      KVRing.tokenOf(Seq(input.getLong(0)))
  }

  /** General form: any mix of integral/string key columns (the composite
    * partition key), hashed exactly like the ring's placement. */
  final case class TupleToken(dts: Array[DataType])
      extends ScalarFunction[java.lang.Long] {
    override def name(): String = "token"
    override def inputTypes(): Array[DataType] = dts
    override def resultType(): DataType = LongType
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): java.lang.Long = {
      val vals: Seq[Any] = dts.toSeq.zipWithIndex.map {
        case (ByteType, i) => input.getByte(i)
        case (ShortType, i) => input.getShort(i)
        case (IntegerType, i) => input.getInt(i)
        case (LongType, i) => input.getLong(i)
        case (StringType, i) => input.getUTF8String(i).toString
        case (other, _) => throw new IllegalStateException(
          s"token: unbindable type $other")
      }
      KVRing.tokenOf(vals)
    }
  }
}

/** Readable + writable in-memory table; writes merge by key (upsert), and
  * `DELETE FROM ... WHERE key = ?/IN (...)` removes by key — CQL's DELETE,
  * which requires the partition key in the WHERE clause; a non-key
  * predicate cannot take the metadata fast path (canDeleteWhere=false, the
  * CQL shape) and instead falls back to the row-level delta surface below —
  * a scan-and-delete, the honest cost CQL makes explicit by refusing it.
  * Deleting an absent key is a no-op (CQL tombstone semantics). An
  * unfiltered DELETE is TRUNCATE. */
class GUpsertTable(tname: String, t: GraftCatalogStore.T)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations {
  override def name(): String = tname

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    () => new GRowLevelOperation(tname, t, info.command)
  override def schema(): StructType = t.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE)

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall {
      case EqualTo(a, _) => a == t.keyCol
      case In(a, _) => a == t.keyCol
      case _: AlwaysTrue => true
      case _ => false
    }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    // filters arrive as a conjunction: the deletable key set is their
    // intersection (an unmatchable id=2 AND id=3 deletes nothing)
    val keySets: Array[Set[Any]] = filters.collect {
      case EqualTo(_, v) => Set[Any](v)
      case In(_, vs) => vs.toSet[Any]
    }
    // deletes hit EVERY replica (no failure injection on the delete path —
    // quorumRead's missing-key-means-missed-write rule rests on this), and
    // drop the keys' pending hints: a hint replayed after the delete would
    // resurrect the row (the hazard Cassandra guards with tombstoned hints
    // + gc_grace; modeled here as delete-wins since deletes are total)
    val ki = t.schema.fieldIndex(t.keyCol)
    if (keySets.isEmpty) { // TRUNCATE
      t.allReplicas.foreach(_.clear()); t.allCellReplicas.foreach(_.clear())
      t.synchronized(t.hints.clear())
    } else {
      val doomed = keySets.reduce(_ intersect _)
      doomed.foreach { k =>
        t.allReplicas.foreach(_.remove(k))
        t.allCellReplicas.foreach(_.remove(k))
      }
      t.synchronized {
        val kept = t.hints.filterNot { case (_, r) => doomed(r(ki)) }
        t.hints.clear(); t.hints ++= kept
      }
      // CDC tombstone batch: one marker row per deleted key
      Cdc.append(t.changelog, KeyGroupedRegistry.LogBatch(
        doomed.iterator.map { k =>
          val r = new Array[Any](t.schema.length); r(ki) = k; r
        }.toArray, tombstone = true))
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GScanBuilder(tname, t, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      // CQL lightweight transaction `INSERT ... IF NOT EXISTS`: pass
      // `.option("ifNotExists", "true")` on the v2 writer. Rows whose key is
      // already present are NOT applied (Cassandra would return
      // [applied]=false); absent keys insert normally. Rejected on counter
      // tables — CQL forbids conditional (LWT) updates on counters, and
      // allowing it here would store a raw un-normalized increment row.
      private val ifNotExists = info.options.getBoolean("ifnotexists", false)
      require(!(ifNotExists && t.counters.nonEmpty),
        s"$tname: INSERT IF NOT EXISTS is not supported on counter tables (CQL restriction)")
      // CQL UPDATE (cellwise tables): with .option("update","true"), a NULL
      // data cell means UNTOUCHED — the column was not SET, so the stored
      // cell keeps its own timestamp — and no row marker is written. A plain
      // INSERT writes EVERY data cell (an explicit NULL = cell tombstone)
      // plus the row marker. This is the column-subset write path real
      // Cassandra users hit immediately (UPDATE t SET a = ? WHERE k = ?).
      private val updateMode = info.options.getBoolean("update", false)
      require(!updateMode || t.cellwise,
        s"$tname: the 'update' write option requires a cellwise table " +
          "('cellwise'='true') — row-granular tables replace whole rows")
      require(!(ifNotExists && t.cellwise),
        s"$tname: INSERT IF NOT EXISTS is not supported on cellwise tables " +
          "(LWT is modeled only for row-granular tables)")
      // CQL `s = s - ?`: the statement's set-column arrays are ELEMENT
      // REMOVALS (tombstones) instead of adds. Only meaningful on the
      // cellwise UPDATE path — row-granular tables replace whole rows.
      private val collRemove = info.options.getBoolean("collremove", false)
      require(!collRemove ||
          (updateMode && (t.sets.nonEmpty || t.maps.nonEmpty || t.lists.nonEmpty)),
        s"$tname: the 'collremove' write option (CQL `s = s - ?`) requires " +
          "the 'update' option on a cellwise table with declared collection columns")
      // CQL `l = [x] + l`: the statement's list-column arrays PREPEND —
      // cells at negative position major, so a later prepend lands at the
      // front. Only meaningful on the UPDATE path of a table with list
      // columns, and exclusive with collremove (CQL has no prepend-remove).
      private val listPrepend = info.options.getBoolean("prepend", false)
      require(!listPrepend || (updateMode && t.lists.nonEmpty && !collRemove),
        s"$tname: the 'prepend' write option (CQL `l = [x] + l`) requires " +
          "the 'update' option on a cellwise table with declared list " +
          "columns, and cannot combine with 'collremove'")
      // CQL `UPDATE ... IF EXISTS` — the LWT dual of INSERT IF NOT EXISTS:
      // rows apply only to already-present keys. Same LWT restrictions:
      // no counters, no cellwise, and the two conditions are exclusive.
      private val ifExists = info.options.getBoolean("ifexists", false)
      require(!(ifExists && ifNotExists),
        s"$tname: 'ifexists' and 'ifnotexists' are mutually exclusive")
      require(!(ifExists && t.counters.nonEmpty),
        s"$tname: UPDATE IF EXISTS is not supported on counter tables (CQL restriction)")
      require(!(ifExists && t.cellwise),
        s"$tname: UPDATE IF EXISTS is not supported on cellwise tables " +
          "(LWT is modeled only for row-granular tables)")
      // CQL `UPDATE ... IF col = ?` — the GENERAL lightweight-transaction
      // condition (IF [NOT] EXISTS are its special cases): a row applies
      // only where the STORED row's named column equals the expected value;
      // an absent row fails the condition (CQL [applied]=false). Same LWT
      // restrictions, plus: no writetime tables (CQL forbids USING
      // TIMESTAMP with IF — the Paxos round supplies the timestamp) and
      // the condition column cannot be part of the primary key.
      private val ifEq: Option[(Int, Any)] =
        Option(info.options.get("ifeq")).map { s =>
          val cut = s.indexOf(':')
          require(cut > 0 && cut < s.length - 1,
            s"$tname: 'ifeq' must be '<column>:<value>', got '$s'")
          val (cn, raw) = (s.substring(0, cut), s.substring(cut + 1))
          require(t.schema.fieldNames.contains(cn),
            s"$tname: 'ifeq' column $cn not in schema")
          require(cn != t.keyCol,
            s"$tname: 'ifeq' cannot condition on the partition key (CQL)")
          val v: Any = t.schema(cn).dataType match {
            case LongType => java.lang.Long.valueOf(raw.toLong)
            case IntegerType => java.lang.Integer.valueOf(raw.toInt)
            case ShortType => java.lang.Short.valueOf(raw.toShort)
            case ByteType => java.lang.Byte.valueOf(raw.toByte)
            case DoubleType => java.lang.Double.valueOf(raw.toDouble)
            case FloatType => java.lang.Float.valueOf(raw.toFloat)
            case BooleanType => java.lang.Boolean.valueOf(raw.toBoolean)
            case StringType => raw
            case other => throw new IllegalArgumentException(
              s"$tname: 'ifeq' unsupported on column type ${other.catalogString}")
          }
          (t.schema.fieldIndex(cn), v)
        }
      require(!(ifEq.isDefined && (ifExists || ifNotExists)),
        s"$tname: 'ifeq' cannot combine with 'ifexists'/'ifnotexists'")
      require(!(ifEq.isDefined && t.counters.nonEmpty),
        s"$tname: conditional updates are not supported on counter tables (CQL)")
      require(!(ifEq.isDefined && t.cellwise),
        s"$tname: conditional updates are not supported on cellwise tables " +
          "(LWT is modeled only for row-granular tables)")
      require(!(ifEq.isDefined && t.writetime.isDefined),
        s"$tname: conditional updates cannot use client timestamps " +
          "(CQL forbids USING TIMESTAMP with IF)")
      // CQL `DELETE a, b FROM t WHERE k = ?` — column deletes: the named
      // columns are tombstoned at the statement timestamp, everything else
      // untouched, no row marker written (the row lives on through its
      // marker / other cells; a later write resurrects the column). Only
      // meaningful on cellwise tables — row-granular deletes are whole-row.
      private val (delCols: Set[Int], delFields: Map[Int, Set[Int]]) =
        Option(info.options.get("delcols")) match {
          case None => (Set.empty[Int], Map.empty[Int, Set[Int]])
          case Some(sx) =>
            require(t.cellwise,
              s"$tname: the 'delcols' write option (CQL `DELETE col FROM t`) " +
                "requires a cellwise table — row-granular deletes are whole-row")
            require(!updateMode && !collRemove && !listPrepend &&
                !ifNotExists && !ifExists && ifEq.isEmpty,
              s"$tname: 'delcols' cannot combine with other write modes")
            val names = sx.split(',').map(_.trim).filter(_.nonEmpty)
            require(names.nonEmpty, s"$tname: 'delcols' names no columns")
            // dotted names are FIELD deletes on a non-frozen UDT column
            // (CQL `DELETE u.f FROM t WHERE k = ?`): tombstone exactly that
            // field's cell, the rest of the UDT untouched
            val (dotted, plain) = names.partition(_.contains('.'))
            plain.foreach { n =>
              require(t.schema.fieldNames.contains(n),
                s"$tname: 'delcols' column $n not in schema")
              require(n != t.keyCol && !t.writetime.contains(n) &&
                  !t.ttl.contains(n),
                s"$tname: 'delcols' cannot delete key/writetime/ttl column $n (CQL)")
            }
            val fieldDels = dotted.map { n =>
              val cut = n.indexOf('.')
              val (cn, fn) = (n.substring(0, cut), n.substring(cut + 1))
              require(t.udts(cn),
                s"$tname: 'delcols' $n — field deletes need a declared " +
                  "non-frozen UDT column (frozen values delete whole)")
              val st = t.schema(cn).dataType.asInstanceOf[StructType]
              require(st.fieldNames.contains(fn),
                s"$tname: 'delcols' $n — no field $fn in ${st.catalogString}")
              t.schema.fieldIndex(cn) -> st.fieldIndex(fn)
            }.groupBy(_._1).map { case (si, fs) => si -> fs.map(_._2).toSet }
            (plain.map(t.schema.fieldIndex).toSet, fieldDels)
        }
      // replicated-table write injection ('failreplica' = comma-separated
      // replica indices that MISS this write — the down-node model; no
      // hinted handoff, so the miss persists until read repair): at least
      // one replica must accept (CL=ONE minimum), and LWT is rf=1-only
      // (Paxos is out of the modeled scope, enforced at DDL + here)
      private val failReplicas: Set[Int] =
        Option(info.options.get("failreplica"))
          .map(_.split(',').map(_.trim.toInt).toSet).getOrElse(Set.empty)
      require(failReplicas.isEmpty || t.rf > 1,
        s"$tname: 'failreplica' requires a replicated table ('rf' > 1)")
      require(failReplicas.forall(i => i >= 0 && i < t.rf),
        s"$tname: 'failreplica' indices must be in [0, ${t.rf})")
      require(failReplicas.size < t.rf,
        s"$tname: at least one replica must accept the write (CL=ONE)")
      // WRITE consistency level ('writecl', default ONE): the coordinator
      // refuses the write UP FRONT — Cassandra's UnavailableException —
      // when fewer live replicas remain than the CL demands. Nothing is
      // applied on refusal (the atomicity Cassandra gives: an unavailable
      // write leaves no partial state; contrast a TIMED-OUT write, which
      // may land — timeouts have no analog here). The live writes still
      // go to EVERY live replica, as in Cassandra: CL is an ack
      // threshold, not a routing rule.
      locally {
        val writeCl = Option(info.options.get("writecl"))
          .map(_.toLowerCase).getOrElse("one")
        val dcIdx = Option(info.options.get("dc")).map { d =>
          val i = t.dcNames.indexOf(d)
          require(i >= 0, s"$tname: unknown dc '$d' (declared: ${t.dcNames.mkString(", ")})")
          i
        }.getOrElse(0)
        def liveIn(idxs: Array[Int]): Int = idxs.count(!failReplicas(_))
        def quorumOf(n: Int): Int = n / 2 + 1
        def unavailable(needed: Int, scope: String, live: Int): Nothing =
          throw new GUnavailableException(
            s"$tname: cannot achieve consistency level ${writeCl.toUpperCase}" +
              s" — $live live replica(s) in $scope, $needed required " +
              "(Cassandra UnavailableException: the write was NOT applied)")
        val all = (0 until t.rf).toArray
        writeCl match {
          case "one" => // the existing >=1-live require covers it
          case "all" =>
            if (liveIn(all) < t.rf) unavailable(t.rf, "the cluster", liveIn(all))
          case "quorum" =>
            if (liveIn(all) < quorumOf(t.rf))
              unavailable(quorumOf(t.rf), "the cluster", liveIn(all))
          case "local_quorum" =>
            val dc = t.dcReplicas(dcIdx)
            if (liveIn(dc) < quorumOf(dc.length))
              unavailable(quorumOf(dc.length), s"dc ${t.dcNames(dcIdx)}", liveIn(dc))
          case "each_quorum" =>
            t.dcNames.indices.foreach { di =>
              val dc = t.dcReplicas(di)
              if (liveIn(dc) < quorumOf(dc.length))
                unavailable(quorumOf(dc.length), s"dc ${t.dcNames(di)}", liveIn(dc))
            }
          case "local_one" => // >=1 live replica in the coordinator's DC
            val dc = t.dcReplicas(dcIdx)
            if (liveIn(dc) < 1)
              unavailable(1, s"dc ${t.dcNames(dcIdx)}", liveIn(dc))
          case other => throw new IllegalArgumentException(
            s"$tname: 'writecl' must be one/local_one/quorum/local_quorum/" +
              s"each_quorum/all, got $other")
        }
      }
      // LWT on replicated tables runs at SERIAL consistency — the modeled
      // Paxos round needs every replica reachable, so a down-node
      // injection cannot combine with a conditional write. (IF col = ?
      // stays impossible on replicated tables independently: 'rf' demands
      // a writetime column, which 'ifeq' forbids — CQL's no-USING-
      // TIMESTAMP-with-IF rule.)
      require(failReplicas.isEmpty ||
          (!ifNotExists && !ifExists && ifEq.isEmpty),
        s"$tname: LWT writes need every replica (SERIAL consistency) — " +
          "'failreplica' cannot combine with conditions")
      // extract with the ANALYZED write schema, not t.schema: a concurrent
      // ALTER ADD between analysis and execution would otherwise make the
      // writer read past the incoming row's width (adds append, so the
      // analyzed schema is always a prefix of the current one; commit pads)
      private val writeSchema = info.schema()
      override def build(): Write = new Write {
        // the upsert: every incoming row replaces the stored row with the
        // same key value — Cassandra INSERT semantics at the commit level.
        // Set-typed columns are deduplicated + ordered here (CQL set<T>
        // write semantics). With a writetime column, replacement is
        // timestamp-ordered LWW (highest client timestamp wins, value
        // tie-break — order of application is immaterial); counter columns
        // merge additively instead of replacing. Shared by the batch and
        // streaming commit paths.
        private def applyCommit(messages: Array[WriterCommitMessage]): Unit = {
          val rl = t.ddlLock.readLock()
          rl.lock()
          try {
            val all = messages.toSeq.flatMap { case GCommit(rows) => rows.toSeq }
            // validate EVERY incoming row before applying ANY (CQL always
            // has a client timestamp; lazy rejection would blame a later,
            // unrelated statement) — then apply through the shared path
            // the logged-BATCH surface also uses
            GUpsertTable.validateWrites(t, all)
            GUpsertTable.applyWrites(t, all, ifNotExists, updateMode,
              collRemove, ifExists, listPrepend, ifEq, delCols, delFields,
              failReplicas)
          } finally rl.unlock()
        }
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(p: PhysicalWriteInfo): DataWriterFactory =
            GWriterFactory(writeSchema)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            applyCommit(messages)
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
        /** Structured Streaming sink (`writeStream.toTable`): each epoch
          * commits through the same validate/apply path as a batch INSERT,
          * so a micro-batch is one upsert commit. Spark's checkpoint makes
          * delivery at-least-once across restarts; the table's merge makes
          * the replay harmless — a re-applied epoch rewrites identical
          * cells (plain upsert) or loses LWW to itself (writetime tables),
          * so the converged state is exactly-once. Counter tables are
          * REJECTED: additive merge is not idempotent, and a replayed
          * epoch would double-count — the same reason CQL forbids
          * retrying counter writes blindly. */
        override def toStreaming: StreamingWrite = {
          require(t.counters.isEmpty,
            s"$tname: streaming writes are not supported on counter tables " +
              "(additive merge is not idempotent under micro-batch replay)")
          new StreamingWrite {
            override def createStreamingWriterFactory(
                p: PhysicalWriteInfo): StreamingDataWriterFactory =
              GStreamingWriterFactory(writeSchema)
            override def commit(epochId: Long,
                messages: Array[WriterCommitMessage]): Unit =
              applyCommit(messages)
            override def abort(epochId: Long,
                messages: Array[WriterCommitMessage]): Unit = ()
          }
        }
      }
    }
}

object GUpsertTable {
  import GraftCatalogStore.{GCell, GCellRow, GCollState, GListPos, GValTomb}

  /** Merge one incoming statement row into a cellwise table: per-cell LWW —
    * every written cell carries the statement's (timestamp, TTL) and wins
    * against the stored cell by strict timestamp order with the type-aware
    * greater-value tie-break, independently of every other cell (Cassandra's
    * actual reconciliation granule; an UPDATE touching a column subset wins
    * only those cells). CAS-retried against concurrent commits like the
    * row-granular paths. */
  private[sources] def mergeCellwise(t: GraftCatalogStore.T,
      store: TrieMap[Any, GCellRow], r: Array[Any],
      updateMode: Boolean, collRemove: Boolean = false,
      listPrepend: Boolean = false,
      delIdx: Set[Int] = Set.empty,
      delFields: Map[Int, Set[Int]] = Map.empty): Unit = {
    val ki = t.schema.fieldIndex(t.keyCol)
    val wi = t.schema.fieldIndex(t.writetime.get)
    val ti = t.ttl.map(t.schema.fieldIndex)
    val wt = epochMicros(r(wi))
    // CQL default_time_to_live: NULL ttl → the table default; an explicit
    // TTL overrides; TTL 0 disables even the default (no expiry)
    val ttl = ti.flatMap(i => Option(r(i)).map(_.asInstanceOf[Number].longValue))
      .orElse(t.defaultTtl).filter(_ != 0L)
    val key = r(ki)
    def isSet(si: Int): Boolean = t.sets(t.schema.fields(si).name)
    def isMap(si: Int): Boolean = t.maps(t.schema.fields(si).name)
    def isList(si: Int): Boolean = t.lists(t.schema.fields(si).name)
    def isUdt(si: Int): Boolean = t.udts(t.schema.fields(si).name)
    def isComplex(si: Int): Boolean =
      isSet(si) || isMap(si) || isList(si) || isUdt(si)
    // CQL `DELETE a, b FROM t WHERE k = ?` (the 'delcols' write option):
    // tombstone EXACTLY the named columns at the statement timestamp —
    // scalar columns get a cell tombstone, collection columns a collection
    // tombstone at wt itself (shadowing every element at-or-below it, CQL's
    // whole-collection delete) — touch nothing else and write no row
    // marker, so the row survives through its marker/other live cells and
    // a later write can resurrect the column.
    val deleting = delIdx.nonEmpty || delFields.nonEmpty
    // UPDATE: NULL data cells are untouched; INSERT: every data cell is an
    // explicit write (NULL = cell tombstone) and the row marker is set
    val written: Array[(Int, GCell)] =
      if (deleting) t.dataIdx.zipWithIndex.collect {
        case (si, di) if delIdx(si) && !isComplex(si) =>
          di -> GCell(null, wt, None)
      }
      else t.dataIdx.zipWithIndex.collect {
        case (si, di) if !isComplex(si) && !(updateMode && r(si) == null) =>
          di -> GCell(r(si), wt, ttl)
      }
    // collection columns merge ELEMENT-wise (CQL complex columns): INSERT
    // assigns (collection tombstone at wt−1 so its own cells survive,
    // element cells at wt; an explicit NULL clears at wt itself), UPDATE
    // adds element cells (`s = s + ?` / `m[k] = v`; NULL = untouched),
    // UPDATE+collremove writes element tombstones (`s = s - ?` / CQL's
    // remove-by-key — the operand map's VALUES are ignored, only its keys
    // tombstone). A map entry's cell carries the (key, value) pair; a map
    // put with a NULL value is itself an entry tombstone (CQL
    // `m[k] = null` deletes the entry).
    def elemKey(e: Any): Any = e match {
      case b: Array[Byte] => b.toSeq
      case x => x
    }
    // list cells: position-keyed (GListPos) value cells for assign/append/
    // prepend; value-keyed tombstones (GValTomb) for remove-by-value — see
    // the key classes' Scaladoc for the position and shadowing rules
    val collWritten: Array[(Int, GCollState)] =
      if (deleting) t.dataIdx.zipWithIndex.collect {
        // whole-column delete: a collection/UDT tombstone at wt itself;
        // `DELETE u.f` (delFields): one FIELD tombstone cell, no clear —
        // the rest of the UDT survives and a later write resurrects f
        case (si, di) if delIdx(si) && isComplex(si) =>
          di -> GCollState(wt, Map.empty)
        case (si, di) if delFields.contains(si) =>
          di -> GCollState(Long.MinValue,
            delFields(si).iterator.map(fi =>
              (fi: Any) -> GCell(null, wt, None)).toMap)
      }
      else t.dataIdx.zipWithIndex.collect {
      case (si, di) if isComplex(si) && !(updateMode && r(si) == null) =>
        // non-frozen UDT (CQL `CREATE TYPE` minus `frozen<>`): each FIELD
        // is its own cell, keyed by field ordinal, carrying (ordinal,
        // value) like a map entry. INSERT/assign writes the collection-
        // style tombstone at wt−1 plus cells for the struct's NON-NULL
        // fields (null fields are simply shadowed — CQL writes no cell for
        // an unset field); UPDATE writes cells for the non-null fields
        // only, touching nothing else — `UPDATE t SET u.f = ?` per field.
        def udtCells: Map[Any, GCell] = {
          require(!collRemove,
            s"${t.schema.fields(si).name}: a UDT has no element-remove " +
              "form (CQL) — delete fields with 'delcols'='u.f'")
          r(si).asInstanceOf[Array[Any]].iterator.zipWithIndex.collect {
            case (fv, fi) if fv != null =>
              (fi: Any) -> GCell((fi, fv), wt, ttl)
          }.toMap
        }
        def cells: Map[Any, GCell] =
          if (r(si) == null) Map.empty
          else if (isUdt(si)) udtCells
          else if (isSet(si))
            r(si).asInstanceOf[Array[Any]].iterator
              .map(e => elemKey(e) ->
                GCell(if (collRemove) null else e, wt,
                  if (collRemove) None else ttl)).toMap
          else if (isList(si)) {
            val arr = r(si).asInstanceOf[Array[Any]]
            if (collRemove)
              arr.iterator.map(v =>
                (GValTomb(elemKey(v)): Any) -> GCell(null, wt, None)).toMap
            else arr.iterator.zipWithIndex.map { case (v, i) =>
              (GListPos(if (listPrepend) -wt else wt, i): Any) ->
                GCell(v, wt, ttl)
            }.toMap
          } else
            r(si).asInstanceOf[Array[Any]].iterator
              .map(_.asInstanceOf[(Any, Any)]).map { case (k, v) =>
                elemKey(k) -> (
                  if (collRemove || v == null) GCell(null, wt, None)
                  else GCell((k, v), wt, ttl))
              }.toMap
        val delta =
          if (!updateMode) {
            if (r(si) == null) GCollState(wt, Map.empty)
            else GCollState(wt - 1, cells)
          } else GCollState(Long.MinValue, cells)
        di -> delta
    }
    val marker = if (updateMode || deleting) None else Some(GCell(null, wt, ttl))
    // full-tie determinism: equal (wt, value) still needs a total order or
    // two equal-timestamp writes differing ONLY in TTL would converge to
    // whichever arrived first. Longer-lived wins, immortal above all — any
    // fixed rule works, it just must be arrival-order-independent (the
    // row-granular tieGreater gets this for free by comparing the ttl
    // column as a cell). The comparators live at object level (cw*) since
    // r9: replica cell repair joins two stored states with the SAME total
    // order the statement merge uses, so they are shared.
    var done = false
    while (!done) store.get(key) match {
      case Some(prev) =>
        val nc = prev.cells.clone()
        written.foreach { case (di, c) =>
          val old = nc(di)
          nc(di) = if (old == null) c else cwScalarWinner(t, di, c, old)
        }
        collWritten.foreach { case (di, delta) =>
          nc(di) = cwCollJoin(t, di, nc(di), delta)
        }
        done = store.replace(key, prev,
          GCellRow(cwMarkerWinner(prev.marker, marker), nc))
      case None =>
        val nc = new Array[GCell](t.dataIdx.length)
        written.foreach { case (di, c) => nc(di) = c }
        collWritten.foreach { case (di, delta) =>
          nc(di) = cwCollJoin(t, di, null, delta)
        }
        done = store.putIfAbsent(key, GCellRow(marker, nc)).isEmpty
    }
  }

  // ---- cellwise comparators (shared by statement merge AND replica join)

  private def cwTtlRank(c: GCell): Long = c.ttl.getOrElse(Long.MaxValue)
  private def cwElemKey(e: Any): Any = e match {
    case b: Array[Byte] => b.toSeq
    case x => x
  }
  // element-cell reconciliation: strict timestamp order; on a timestamp
  // tie the TOMBSTONE wins (Cassandra: deletes shadow equal-ts writes),
  // then the greater VALUE (set elements are equal by key, but map entries
  // and list positions can carry different values at an equal timestamp —
  // without the value compare the winner would be arrival-order-dependent),
  // then the longer-lived cell (same total order the scalar cells use)
  private def cwElemValCompare(t: GraftCatalogStore.T, si: Int,
      a: Any, b: Any): Int =
    t.schema.fields(si).dataType match {
      case ArrayType(et, _) => compareCell(et, a, b)
      case MapType(kt, vt, _) =>
        val (ak, av) = a.asInstanceOf[(Any, Any)]
        val (bk, bv) = b.asInstanceOf[(Any, Any)]
        val c = compareCell(kt, ak, bk)
        if (c != 0) c else compareCell(vt, av, bv)
      // UDT field cells: same field by key construction — tie-break on
      // the field VALUE in the field's own type
      case st: StructType =>
        val (af, av) = a.asInstanceOf[(Int, Any)]
        val (_, bv) = b.asInstanceOf[(Int, Any)]
        compareCell(st.fields(af).dataType, av, bv)
      case other =>
        throw new IllegalStateException(s"collection cell of type $other")
    }
  private def cwElemWinner(t: GraftCatalogStore.T, si: Int)(
      a: GCell, b: GCell): GCell =
    if (a.wt != b.wt) { if (a.wt > b.wt) a else b }
    else if ((a.v == null) != (b.v == null)) { if (a.v == null) a else b }
    else {
      val vc = if (a.v == null) 0 else cwElemValCompare(t, si, a.v, b.v)
      if (vc != 0) { if (vc > 0) a else b }
      else if (cwTtlRank(a) >= cwTtlRank(b)) a else b
    }
  /** Scalar-cell winner: strict timestamp order, then the value compare in
    * the column's type (tombstone = null loses value ties), then TTL rank.
    * `inc` wins only when STRICTLY greater — ties keep `old` (equal cells,
    * so either is correct; keeping old makes the join idempotent). */
  private def cwScalarWinner(t: GraftCatalogStore.T, di: Int,
      inc: GCell, old: GCell): GCell = {
    val cmp =
      if (inc.wt != old.wt) java.lang.Long.compare(inc.wt, old.wt)
      else {
        val vc = compareCell(t.schema.fields(t.dataIdx(di)).dataType,
          inc.v, old.v)
        if (vc != 0) vc
        else java.lang.Long.compare(cwTtlRank(inc), cwTtlRank(old))
      }
    if (cmp > 0) inc else old
  }
  private def cwMarkerWinner(old: Option[GCell],
      inc: Option[GCell]): Option[GCell] = (old, inc) match {
    case (Some(o), Some(n)) =>
      if (n.wt > o.wt || (n.wt == o.wt && cwTtlRank(n) > cwTtlRank(o))) inc
      else old
    case (None, m) => m
    case (o, None) => o
  }
  /** Join a collection/UDT cell with an incoming [[GCollState]] — used both
    * for a statement delta (its clearWt/element cells) and for a replica's
    * full stored state: the lattice join is the same operation either way
    * (commutative, associative, idempotent — clearWt only grows, elements
    * reconcile by [[cwElemWinner]], shadowed cells compact away). */
  private def cwCollJoin(t: GraftCatalogStore.T, di: Int,
      old: GCell, delta: GCollState): GCell = {
    val si = t.dataIdx(di)
    val isList = t.lists(t.schema.fields(si).name)
    val prev =
      if (old == null) GCollState(Long.MinValue, Map.empty)
      else old.v.asInstanceOf[GCollState]
    val clearWt = math.max(prev.clearWt, delta.clearWt)
    val keys = prev.elems.keySet ++ delta.elems.keySet
    // drop cells at or below the collection tombstone: shadowed forever
    // (clearWt only grows) — the merge-time compaction that keeps a
    // hot key's collection state bounded by its LIVE elements
    val merged = keys.iterator.flatMap { k =>
      val w = (prev.elems.get(k), delta.elems.get(k)) match {
        case (Some(a), Some(b)) => Some(cwElemWinner(t, si)(a, b))
        case (a, b) => a.orElse(b)
      }
      w.filter(_.wt > clearWt).map(k -> _)
    }.toMap
    // list compaction: a position cell shadowed by a value tombstone of
    // equal-or-newer timestamp can never become visible again (tombstone
    // timestamps, like clearWt, only grow under cwElemWinner), so drop it
    // physically at merge — this keeps the read path tombstone-free and
    // makes GC of aged value tombstones safe. Order-independent: a cell
    // arriving after the tombstone is dropped on ITS merge, and any cell a
    // sub-clearWt tombstone would have shadowed is itself sub-clearWt.
    val elems =
      if (!isList) merged
      else {
        val vts = merged.collect { case (GValTomb(vk), c) => vk -> c.wt }
        if (vts.isEmpty) merged
        else merged.filter {
          case (_: GListPos, c) => vts.get(cwElemKey(c.v)).forall(_ < c.wt)
          case _ => true
        }
      }
    val maxWt =
      if (elems.isEmpty) clearWt else elems.valuesIterator.map(_.wt).max
    GCell(GCollState(clearWt, elems), math.max(clearWt, maxWt), None)
  }

  /** Lattice join of two stored per-key cellwise states — the replica
    * reconciliation granule (Cassandra repairs row CONTENTS cell by cell,
    * not whole rows): marker by (wt, ttl-rank), scalar cells by
    * [[cwScalarWinner]]'s exact statement-merge order, collection/UDT
    * cells by [[cwCollJoin]]. Commutative + associative + idempotent, so
    * repair converges replicas regardless of merge order or repetition. */
  private[sources] def joinCellRows(t: GraftCatalogStore.T,
      a: GCellRow, b: GCellRow): GCellRow = {
    val nc = a.cells.clone()
    b.cells.zipWithIndex.foreach { case (c, di) =>
      if (c != null) {
        val si = t.dataIdx(di)
        val fname = t.schema.fields(si).name
        val complex = t.sets(fname) || t.maps(fname) || t.lists(fname) ||
          t.udts(fname)
        nc(di) =
          if (complex) cwCollJoin(t, di, nc(di), c.v.asInstanceOf[GCollState])
          else if (nc(di) == null) c
          else cwScalarWinner(t, di, c, nc(di))
      }
    }
    GCellRow(cwMarkerWinner(a.marker, b.marker), nc)
  }

  /** CAS-join one state into a replica store — the write-back half of
    * per-cell repair. */
  private def joinCellRowInto(t: GraftCatalogStore.T,
      store: TrieMap[Any, GCellRow], key: Any, inc: GCellRow): Unit = {
    var done = false
    while (!done) store.get(key) match {
      case Some(prev) =>
        done = store.replace(key, prev, joinCellRows(t, prev, inc))
      case None => done = store.putIfAbsent(key, inc).isEmpty
    }
  }

  /** Blocking per-cell read repair at CL=QUORUM/ALL on a replicated
    * cellwise table (and the anti-entropy repair body): per key, join
    * every replica's stored state cell-wise and write the joined winner
    * back to every replica. After it runs, a CL=ONE read of any replica
    * sees the cell-wise winners — divergent columns of the SAME row heal
    * independently, which row-granular LWW cannot do. Returns the number
    * of keys examined. */
  private[sources] def quorumReadCellwise(t: GraftCatalogStore.T): Int =
    quorumReadCellwise(t, t.allCellReplicas.indices.toArray)
  private[sources] def quorumReadCellwise(t: GraftCatalogStore.T,
      idxs: Array[Int]): Int = {
    val reps = idxs.map(t.allCellReplicas)
    val keys = reps.iterator.flatMap(_.keysIterator).toSet
    keys.foreach { k =>
      val states = reps.flatMap(_.get(k))
      val winner = states.reduce((x, y) => joinCellRows(t, x, y))
      reps.foreach(st => joinCellRowInto(t, st, k, winner))
    }
    keys.size
  }

  /** Read-path materialization of a cellwise table at logical clock `now`
    * (epoch seconds; None = no expiry, only legal when the table has no ttl
    * column): the stored per-column WINNER is visible iff it is neither
    * expired nor a tombstone. An expired winner reads NULL — it does NOT
    * resurrect the older value it shadowed, exactly Cassandra's
    * expiring-cell-becomes-tombstone rule. A row appears iff its marker is
    * live or any cell is visible; the writetime column reads the row's max
    * live-contributor timestamp, the ttl column reads NULL (write-only
    * metadata). */
  private[sources] def materializeCellwise(t: GraftCatalogStore.T,
      now: Option[Long],
      src: scala.collection.Map[Any, GCellRow]): Array[Array[Any]] = {
    val ki = t.schema.fieldIndex(t.keyCol)
    val wi = t.schema.fieldIndex(t.writetime.get)
    def expired(c: GCell): Boolean =
      c.ttl.exists(tt => now.exists(n => epochSeconds(c.wt) + tt <= n))
    src.toArray.flatMap { case (key, cr) =>
      val markerLive = cr.marker.exists(m => !expired(m))
      val visible = new Array[Any](cr.cells.length)
      val liveWts = scala.collection.mutable.ArrayBuffer.empty[Long]
      cr.marker.filterNot(expired).foreach(m => liveWts += m.wt)
      cr.cells.zipWithIndex.foreach { case (c, di) =>
        val fname = t.schema.fields(t.dataIdx(di)).name
        if (c != null) {
          if (t.udts(fname)) {
            // non-frozen UDT: visible value = the struct with each LIVE
            // field's winning cell filled in, dead/absent fields NULL; an
            // all-dead UDT reads NULL (the empty-collection rule applied
            // to fields — Cassandra's non-frozen UDT liveness)
            val st = c.v.asInstanceOf[GCollState]
            val live = st.elems.valuesIterator.filter(e =>
              e.v != null && e.wt > st.clearWt && !expired(e)).toArray
            if (live.nonEmpty) {
              val nf = t.schema.fields(t.dataIdx(di)).dataType
                .asInstanceOf[StructType].size
              val arr = new Array[Any](nf)
              live.foreach { e =>
                val (fi, fv) = e.v.asInstanceOf[(Int, Any)]
                arr(fi) = fv
              }
              visible(di) = arr
              live.foreach(e => liveWts += e.wt)
            }
          } else if (t.sets(fname) || t.maps(fname) || t.lists(fname)) {
            // collection column: the visible value is the SORTED live
            // elements/entries (cells above the collection tombstone,
            // unexpired — lists sort by POSITION, not value); an empty
            // collection reads NULL — Cassandra's rule
            val st = c.v.asInstanceOf[GCollState]
            if (t.lists(fname)) {
              val live = st.elems.iterator.collect {
                case (p: GraftCatalogStore.GListPos, e)
                    if e.v != null && e.wt > st.clearWt && !expired(e) =>
                  (p, e)
              }.toArray
              if (live.nonEmpty) {
                visible(di) = live.sortBy { case (p, _) => (p.major, p.minor) }
                  .map(_._2.v)
                live.foreach { case (_, e) => liveWts += e.wt }
              }
            } else {
              val live = st.elems.valuesIterator.filter(e =>
                e.v != null && e.wt > st.clearWt && !expired(e)).toArray
              if (live.nonEmpty) {
                t.schema.fields(t.dataIdx(di)).dataType match {
                  case ArrayType(et, _) =>
                    visible(di) = GraftCatalogStore.canonicalSet(live.map(_.v), et)
                  case MapType(kt, _, _) =>
                    val ord = GraftCatalogStore.setOrdering(kt).get
                    visible(di) = live.map(_.v.asInstanceOf[(Any, Any)])
                      .sortBy(_._1)(ord).map(identity[Any])
                  case other => throw new IllegalStateException(
                    s"collection column $fname: $other")
                }
                live.foreach(e => liveWts += e.wt)
              }
            }
          } else if (!expired(c)) {
            visible(di) = c.v
            if (c.v != null) liveWts += c.wt
          }
        }
      }
      if (!markerLive && !visible.exists(_ != null)) None
      else {
        val row = new Array[Any](t.schema.length)
        row(ki) = key
        row(wi) = liveWts.max
        t.dataIdx.zipWithIndex.foreach { case (si, di) => row(si) = visible(di) }
        // WRITETIME()/TTL() projections: the winning LIVE cell's own
        // timestamp / remaining seconds at the read clock — NULL for a
        // dead/absent cell (exactly CQL's SELECT WRITETIME(a), TTL(a))
        t.metaIdx.foreach { case (mi, di, isTtl) =>
          val c = if (di < 0) null else cr.cells(di)
          row(mi) =
            if (c == null || expired(c) || c.v == null) null
            else if (!isTtl) Long.box(c.wt)
            else c.ttl.flatMap(tt =>
              now.map(n => Long.box(epochSeconds(c.wt) + tt - n))).orNull
        }
        Some(row)
      }
    }
  }

  /** The table's row-granular LWW merge applied to ONE store: strict
    * timestamp order, type-aware greater-value tie-break, CAS-retried
    * against concurrent writers. Shared by the write path (per replica),
    * read repair's write-back and hint replay — one reconciliation rule
    * everywhere, which is what makes replay/repair order-independent. */
  private[sources] def lwwMergeInto(t: GraftCatalogStore.T,
      st: TrieMap[Any, Array[Any]], r: Array[Any]): Unit = {
    val ki = t.schema.fieldIndex(t.keyCol)
    val wi = t.schema.fieldIndex(t.writetime.get)
    val key = r(ki)
    var done = false
    while (!done) st.get(key) match {
      case Some(prev) =>
        val (nw, ow) = (epochMicros(r(wi)), epochMicros(prev(wi)))
        // strict timestamp order; equal timestamps fall back to the
        // greater cell value (Cassandra's LWW tie-break, applied
        // cell-wise with type-aware comparators) so replay order
        // can never change the converged state
        val applies = nw > ow || (nw == ow && tieGreater(r, prev, ki, t.schema))
        done = !applies || st.replace(key, prev, r)
      case None => done = st.putIfAbsent(key, r).isEmpty
    }
  }

  /** Shard-wise merge of one replicated-counter row into a store: per
    * counter column, per replica shard, the higher CLOCK wins — replaying
    * an already-merged state is a no-op, so hint replay and anti-entropy
    * are idempotent on counters (the property that distinguishes shards
    * from blind additive merge). CAS-retried like every other merge. */
  private[sources] def shardMergeInto(t: GraftCatalogStore.T,
      st: TrieMap[Any, Array[Any]], r: Array[Any]): Unit = {
    import GraftCatalogStore.CtrShard
    val ki = t.schema.fieldIndex(t.keyCol)
    val ctrIdx = t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.counters(f.name) => i
    }
    def shardsOf(row: Array[Any], ci: Int): Map[Int, CtrShard] =
      Option(row(ci)).map(_.asInstanceOf[Map[Int, CtrShard]])
        .getOrElse(Map.empty)
    val key = r(ki)
    var done = false
    while (!done) st.get(key) match {
      case Some(prev) =>
        val n = prev.clone()
        var changed = false
        ctrIdx.foreach { ci =>
          val base = shardsOf(prev, ci)
          val merged = shardsOf(r, ci).foldLeft(base) { case (acc, (ri, sh)) =>
            acc.get(ri) match {
              case Some(old) if old.clock >= sh.clock => acc
              case _ => changed = true; acc.updated(ri, sh)
            }
          }
          n(ci) = merged
        }
        done = !changed || st.replace(key, prev, n)
      case None => done = st.putIfAbsent(key, r).isEmpty
    }
  }

  /** CL=QUORUM read of a replicated COUNTER table: shard-wise union of
    * every replica's copy (max clock per shard), written back to all —
    * the anti-entropy form of counter reconciliation. Serialized with the
    * write path on the table monitor. */
  private[sources] def quorumReadCounters(t: GraftCatalogStore.T,
      idxs: Array[Int]): Array[Array[Any]] =
    t.synchronized {
      val reps = idxs.map(t.allReplicas)
      val keys = reps.iterator.flatMap(_.keysIterator).toSet
      keys.iterator.map { k =>
        val copies = reps.flatMap(_.get(k))
        val merged = copies.reduce { (a, b) =>
          val n = a.clone()
          // fold b's shards into a copy of a
          val tmp = TrieMap.empty[Any, Array[Any]]
          tmp.put(k, n)
          shardMergeInto(t, tmp, b)
          tmp(k)
        }
        reps.foreach(st => shardMergeInto(t, st, merged))
        merged
      }.toArray
    }

  /** CL=QUORUM read of a replicated table: merge every replica's row per
    * key by the table's own LWW order (strict timestamp, type-aware value
    * tie-break) and WRITE THE WINNER BACK to any replica that disagrees —
    * Cassandra's blocking read repair, after which a CL=ONE read of any
    * replica sees the merged row. A key missing from one replica is a
    * missed write (deletes hit every replica here), so the present row
    * wins. The repair write-back is CAS-retried against the replica's
    * CURRENT row so it can never clobber a concurrently-committed newer
    * write.
    *
    * The replica SCOPE (`idxs`) is the consistency level's merge group:
    * every replica for QUORUM/EACH_QUORUM/ALL, one datacenter's replicas
    * for LOCAL_QUORUM — read repair then also stays DC-local (divergence
    * in the other DC is untouched until a global CL or repairTable visits
    * it, exactly Cassandra's LOCAL_QUORUM blast radius). */
  private[sources] def quorumRead(t: GraftCatalogStore.T): Array[Array[Any]] =
    quorumRead(t, t.allReplicas.indices.toArray)
  private[sources] def quorumRead(t: GraftCatalogStore.T,
      idxs: Array[Int]): Array[Array[Any]] = {
    if (t.counters.nonEmpty) return quorumReadCounters(t, idxs)
    val wi = t.schema.fieldIndex(t.writetime.get)
    val ki = t.schema.fieldIndex(t.keyCol)
    def newer(a: Array[Any], b: Array[Any]): Boolean = {
      val (aw, bw) = (epochMicros(a(wi)), epochMicros(b(wi)))
      aw > bw || (aw == bw && tieGreater(a, b, ki, t.schema))
    }
    val reps = idxs.map(t.allReplicas)
    val keys = reps.iterator.flatMap(_.keysIterator).toSet
    keys.iterator.map { k =>
      val cands = reps.flatMap(_.get(k))
      val winner = cands.reduce((a, b) => if (newer(b, a)) b else a)
      reps.foreach { st =>
        var done = false
        while (!done) st.get(k) match {
          case Some(prev) =>
            done = (prev eq winner) || !newer(winner, prev) ||
              st.replace(k, prev, winner)
          case None => done = st.putIfAbsent(k, winner).isEmpty
        }
      }
      winner
    }.toArray
  }

  /** Pre-application validation shared by the INSERT commit and the
    * logged-BATCH surface: every incoming writetime must be non-null (CQL
    * always has a client timestamp), every partition key cell non-null, and
    * every set cell free of null elements. Runs COMPLETELY before any
    * mutation so a bad row can never leave a partial batch behind — the
    * all-or-nothing guarantee of the logged BATCH rests on applyWrites
    * being unable to fail after this passes. */
  private[sources] def validateWrites(t: GraftCatalogStore.T,
      rows: Seq[Array[Any]]): Unit = {
    val ki = t.schema.fieldIndex(t.keyCol)
    rows.foreach(r => if (r(ki) == null) throw new IllegalArgumentException(
      s"partition key ${t.keyCol} cannot be null (CQL)"))
    t.writetime.map(t.schema.fieldIndex).foreach { wi =>
      rows.foreach(r => epochMicros(r(wi)))
    }
    t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.sets(f.name) => i
    }.foreach { i =>
      rows.foreach { r =>
        if (i < r.length && r(i) != null)
          require(r(i).asInstanceOf[Array[Any]].forall(_ != null),
            s"set column ${t.schema.fields(i).name} contains a null element " +
              "(CQL sets cannot hold null)")
      }
    }
    t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.maps(f.name) => i
    }.foreach { i =>
      rows.foreach { r =>
        if (i < r.length && r(i) != null)
          require(r(i).asInstanceOf[Array[Any]]
              .forall(_.asInstanceOf[(Any, Any)]._1 != null),
            s"map column ${t.schema.fields(i).name} contains a null key " +
              "(CQL map keys cannot be null)")
      }
    }
    t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.lists(f.name) => i
    }.foreach { i =>
      rows.foreach { r =>
        if (i < r.length && r(i) != null)
          require(r(i).asInstanceOf[Array[Any]].forall(_ != null),
            s"list column ${t.schema.fields(i).name} contains a null " +
              "element (CQL lists cannot hold null)")
      }
    }
  }

  /** INSERT application shared by the DSv2 commit and the logged-BATCH
    * surface. Caller holds `t.ddlLock.readLock` and has run
    * [[validateWrites]] for EVERY table of the enclosing commit/batch.
    *
    * Semantics per table kind: plain upsert replaces by key; a writetime
    * table applies timestamp-ordered LWW (value tie-break); counter columns
    * merge additively; a cellwise table merges per cell
    * ([[mergeCellwise]]); `ifNotExists` inserts only absent keys (LWT).
    * Counter/LWW applies are CAS retry loops, not get-then-put: two
    * concurrent commits interleaving a read-modify-write would lose an
    * increment / apply a stale write; the TrieMap replace/putIfAbsent
    * compare the stored ARRAY REFERENCE, so a concurrent change always
    * fails the CAS and retries against the fresh value. */
  private[sources] def applyWrites(t: GraftCatalogStore.T,
      rows: Seq[Array[Any]], ifNotExists: Boolean, updateMode: Boolean,
      collRemove: Boolean = false, ifExists: Boolean = false,
      listPrepend: Boolean = false,
      ifEq: Option[(Int, Any)] = None,
      delCols: Set[Int] = Set.empty,
      delFields: Map[Int, Set[Int]] = Map.empty,
      failReplicas: Set[Int] = Set.empty): Unit = {
    val ki = t.schema.fieldIndex(t.keyCol)
    val setIdx = t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.sets(f.name) =>
        (i, f.dataType.asInstanceOf[ArrayType].elementType)
    }
    val wtIdx = t.writetime.map(t.schema.fieldIndex)
    val ctrIdx = t.schema.fields.zipWithIndex.collect {
      case (f, i) if t.counters(f.name) => i
    }
    // a row written against a pre-ALTER-ADD schema is shorter than the
    // current one: pad with NULLs (absent-cell semantics — exactly what the
    // migration gives pre-existing rows). Adds append and semantic columns
    // are create-time-fixed, so every index below is stable across the pad.
    val arity = t.schema.length
    def padded(r0: Array[Any]): Array[Any] =
      if (r0.length < arity) r0 ++ Array.fill[Any](arity - r0.length)(null)
      else r0
    // CQL default_time_to_live on the row-granular path: materialize the
    // default into the stored ttl cell (NULL → default, explicit wins,
    // TTL 0 → no expiry) so the read-path expiry check and the visible ttl
    // column both see the effective value
    // (row-granular only: mergeCellwise applies the default per cell and
    // must see the raw 0-vs-NULL distinction)
    val ttlIdx = if (t.defaultTtl.isDefined && !t.cellwise)
      t.ttl.map(t.schema.fieldIndex) else None
    // CDC: every commit through this path (INSERT, streaming sink, logged
    // BATCH) appends its statement rows — the commit-log entry consumers
    // fold; the __cdc stream serves it as one micro-batch per commit
    Cdc.append(t.changelog, KeyGroupedRegistry.LogBatch(
      rows.iterator.map(padded).toArray, tombstone = false))
    rows.foreach { r0 =>
      val r = padded(r0)
      setIdx.foreach { case (i, et) =>
        if (r(i) != null)
          r(i) = GraftCatalogStore.canonicalSet(r(i).asInstanceOf[Array[Any]], et)
      }
      ttlIdx.foreach { i =>
        r(i) =
          if (r(i) == null) Long.box(t.defaultTtl.get)
          else if (r(i).asInstanceOf[Number].longValue == 0L) null
          else r(i)
      }
      if (t.cellwise)
        // replicated cellwise ('rf' > 1): the statement merges into EVERY
        // live replica's cell store. A failed replica's miss is healed by
        // per-cell read repair (CL=QUORUM) or repairTable — cellwise
        // misses store NO hint: a hint would need the whole statement
        // context (update/collremove/delcols/...), and Cassandra's own
        // recovery story for lost hints is exactly repair, which the cell
        // granule here makes lossless.
        t.allCellReplicas.zipWithIndex.foreach { case (st, ri) =>
          if (!failReplicas(ri))
            mergeCellwise(t, st, r, updateMode, collRemove, listPrepend,
              delCols, delFields)
        }
      else {
        val key = r(ki)
        // replicated tables ('rf' > 1): the same merge applies to EVERY
        // replica a test hasn't failed ('failreplica' — the down-node
        // injection; plain tables have exactly replica 0). LWT and counter
        // paths are DDL-gated to rf=1, so only the LWW/plain branches ever
        // see a second replica.
        def store = t.allReplicas // fresh view per row (cheap: rf ≤ 3)
        def eachReplica(f: TrieMap[Any, Array[Any]] => Unit): Unit =
          store.zipWithIndex.foreach { case (st, ri) =>
            if (!failReplicas(ri)) f(st)
          }
        // LWT on a REPLICATED table: the Paxos round modeled as the
        // coordinator's serialization point (`t.synchronized`) — the
        // condition is decided against the merged replica view (a key
        // present on ANY replica exists; a missing copy is a missed write)
        // and the winning proposal applies to EVERY replica atomically.
        // SERIAL consistency needs all modeled replicas up, so the write
        // path rejects 'failreplica' + LWT.
        if (ifNotExists) {
          if (t.rf == 1) t.rows.putIfAbsent(key, r)
          else t.synchronized {
            if (!t.allReplicas.exists(_.contains(key)))
              t.allReplicas.foreach(_.put(key, r))
          }
        }
        // UPDATE ... IF EXISTS (the LWT dual of INSERT IF NOT EXISTS):
        // apply only to keys already present — an absent key is a silent
        // non-apply. TrieMap.replace(key, r) is the atomic
        // replace-if-present, so a concurrent DELETE can never interleave
        // a resurrecting write between a check and a put.
        else if (ifExists) {
          if (t.rf == 1) t.rows.replace(key, r)
          else t.synchronized {
            if (t.allReplicas.exists(_.contains(key)))
              t.allReplicas.foreach(_.put(key, r))
          }
        }
        else if (ifEq.isDefined) {
          // CQL `UPDATE ... IF col = ?`: apply only where the stored row
          // meets the condition — compare-and-set on the STORED reference so
          // a concurrent write between check and apply retries (the
          // linearizability LWT's Paxos round buys; a stored NULL never
          // equals, and an absent row fails the condition, both CQL)
          val (ci, exp) = ifEq.get
          var done = false
          while (!done) t.rows.get(key) match {
            case Some(prev) =>
              done = prev(ci) != exp || t.rows.replace(key, prev, r)
            case None => done = true
          }
        }
        else if (ctrIdx.nonEmpty) {
          if (t.rf == 1) {
            // stored + increment (NULL increment = +0, NULL stored = counter
            // starts at 0 — CQL counter defaults)
            var done = false
            while (!done) t.rows.get(key) match {
              case Some(prev) =>
                val merged = r.clone()
                ctrIdx.foreach { i =>
                  merged(i) = longOr0(prev(i)) + longOr0(r(i))
                }
                done = t.rows.replace(key, prev, merged)
              case None =>
                val init = r.clone()
                ctrIdx.foreach { i => init(i) = longOr0(r(i)) }
                done = t.rows.putIfAbsent(key, init).isEmpty
            }
          } else t.synchronized {
            // REPLICATED counter: the increment lands on the LEADER
            // replica's SHARD — (clock+1, value+delta) — and the updated
            // shard replicates to every live replica; a down replica gets a
            // hint of the post-update row, replayed shard-wise by max
            // clock (idempotent — the reason Cassandra CAN replay counter
            // hints but forbids blind client retries). Coordinator-
            // serialized (`t.synchronized`), like the counter lock
            // Cassandra takes on the leader.
            import GraftCatalogStore.CtrShard
            val reps = t.allReplicas
            val leader = (0 until t.rf).find(i => !failReplicas(i)).get
            def shardsOf(row: Array[Any], ci: Int): Map[Int, CtrShard] =
              Option(row(ci)).map(_.asInstanceOf[Map[Int, CtrShard]])
                .getOrElse(Map.empty)
            // leader's current shard = its max-clock copy on any LIVE
            // replica (a stale copy only exists where a write was missed)
            def currentShard(ci: Int): CtrShard =
              reps.zipWithIndex.iterator.collect {
                case (st, ri) if !failReplicas(ri) => st.get(key)
              }.flatten.flatMap(row => shardsOf(row, ci).get(leader))
                .reduceOption((a, b) => if (a.clock >= b.clock) a else b)
                .getOrElse(CtrShard(0L, 0L))
            val updates: Map[Int, CtrShard] = ctrIdx.map { ci =>
              val cur = currentShard(ci)
              ci -> CtrShard(cur.clock + 1,
                Math.addExact(cur.value, longOr0(r(ci))))
            }.toMap
            def applied(prev: Option[Array[Any]]): Array[Any] = {
              val n = prev.map(_.clone()).getOrElse {
                val init = r.clone()
                ctrIdx.foreach(ci => init(ci) = null)
                init
              }
              ctrIdx.foreach { ci =>
                n(ci) = shardsOf(n, ci).updated(leader, updates(ci))
              }
              n
            }
            reps.zipWithIndex.foreach { case (st, ri) =>
              if (!failReplicas(ri)) st.put(key, applied(st.get(key)))
            }
            if (failReplicas.nonEmpty) {
              val hintRow = reps(leader)(key)
              failReplicas.foreach(ri => t.hints += ((ri, hintRow)))
            }
          }
        } else wtIdx match {
          case Some(_) =>
            eachReplica(st => lwwMergeInto(t, st, r))
            // hinted handoff: the coordinator stores a hint for every
            // replica that missed the write, replayed when the node comes
            // back (GraftCatalogStore.replayHints) — until then CL=ONE of
            // that replica stays stale, exactly the window read repair or
            // replay closes
            if (failReplicas.nonEmpty) t.synchronized {
              failReplicas.foreach(ri => t.hints += ((ri, r)))
            }
          case None => eachReplica(_.put(key, r))
        }
      }
    }
  }

  /** Dedup + order every set-typed cell of `r` in place (CQL `set<T>` write
    * semantics) — shared by the INSERT commit and the row-level delta path. */
  private[sources] def canonicalizeSets(t: GraftCatalogStore.T, r: Array[Any]): Unit =
    t.schema.fields.zipWithIndex.foreach {
      case (f, i) if t.sets(f.name) && r(i) != null =>
        r(i) = GraftCatalogStore.canonicalSet(r(i).asInstanceOf[Array[Any]],
          f.dataType.asInstanceOf[ArrayType].elementType)
      case _ => ()
    }

  /** Client write timestamp as comparable micros: TIMESTAMP is already Long
    * micros internally; BIGINT is taken as-is. NULL is rejected — CQL always
    * has a write timestamp (the server assigns one when the client doesn't). */
  private[sources] def epochMicros(v: Any): Long = v match {
    case null => throw new IllegalArgumentException(
      "writetime column is null: every write needs a client timestamp")
    case l: java.lang.Long => l
    case other => other.asInstanceOf[Number].longValue
  }

  /** TIMESTAMP micros → epoch seconds (for TTL expiry); BIGINT writetime is
    * interpreted as micros too, keeping one unit across both encodings. */
  private[sources] def epochSeconds(v: Any): Long =
    Math.floorDiv(epochMicros(v), 1000000L)

  private[sources] def longOr0(v: Any): Long =
    if (v == null) 0L else v.asInstanceOf[Number].longValue

  /** Equal-timestamp tie-break, Cassandra-style "greater value wins" applied
    * cell-wise with TYPE-AWARE comparators (Cassandra compares each cell's
    * serialized value with the column type's comparator — numerics
    * numerically, so 10 beats 9; a rendered-string compare would order them
    * lexicographically): compare non-key cells in schema order; the first
    * differing cell decides. Deterministic for any input, so two replicas
    * applying the same writes in different orders converge. */
  private[sources] def tieGreater(r: Array[Any], prev: Array[Any], ki: Int,
      schema: StructType): Boolean = {
    var i = 0
    while (i < r.length) {
      if (i != ki) {
        val c = compareCell(schema.fields(i).dataType, r(i), prev(i))
        if (c != 0) return c > 0
      }
      i += 1
    }
    false
  }

  /** Type-aware cell comparison on the store's EXTERNAL value encoding
    * (GValues.extract output). Nulls sort lowest, like an absent cell. */
  private[sources] def compareCell(dt: DataType, a: Any, b: Any): Int = {
    if (a == null && b == null) return 0
    if (a == null) return -1
    if (b == null) return 1
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue,
          b.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        java.lang.Double.compare(a.asInstanceOf[Number].doubleValue,
          b.asInstanceOf[Number].doubleValue)
      case _: DecimalType =>
        a.asInstanceOf[Decimal].compare(b.asInstanceOf[Decimal])
      case BooleanType =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case StringType => a.asInstanceOf[String].compareTo(b.asInstanceOf[String])
      case BinaryType => java.util.Arrays.compareUnsigned(
        a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        compareSeq(a.asInstanceOf[Array[Any]], b.asInstanceOf[Array[Any]],
          (x, y) => compareCell(et, x, y))
      case MapType(kt, vt, _) =>
        // maps ride as Array[(k, v)]; compare entries pairwise, shorter first
        compareSeq(a.asInstanceOf[Array[Any]], b.asInstanceOf[Array[Any]],
          (x, y) => {
            val (xk, xv) = x.asInstanceOf[(Any, Any)]
            val (yk, yv) = y.asInstanceOf[(Any, Any)]
            val c = compareCell(kt, xk, yk)
            if (c != 0) c else compareCell(vt, xv, yv)
          })
      case st: StructType =>
        val (xa, ya) = (a.asInstanceOf[Array[Any]], b.asInstanceOf[Array[Any]])
        var i = 0
        while (i < st.size) {
          val c = compareCell(st.fields(i).dataType, xa(i), ya(i))
          if (c != 0) return c
          i += 1
        }
        0
      case _ => String.valueOf(a).compareTo(String.valueOf(b))
    }
  }

  private def compareSeq(a: Array[Any], b: Array[Any],
      cmp: (Any, Any) => Int): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = cmp(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }
}

/** Full-table scan of the store (shared by plain reads and the row-level
  * operation's target scan). TTL expiry is enforced here, on the read path
  * (Cassandra filters expired cells at read; compaction reclaims them
  * later). The logical clock comes from the per-scan `now` option, falling
  * back to the table's `now` property — both epoch seconds. */
class GScanBuilder(tname: String, t: GraftCatalogStore.T,
    options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType = t.schema
    override def toBatch: Batch = this
    // table-cardinality statistics so Catalyst can auto-broadcast a small
    // catalog table instead of shuffling the other join side (a DSv2
    // relation without stats sizes as defaultSizeInBytes = never broadcast);
    // row count from the store's key count — expiry filtering happens at
    // scan, so this is an upper bound, which is the safe direction for a
    // broadcast decision
    override def estimateStatistics(): Statistics = {
      val nRows = (if (t.cellwise) t.cellRows.size else t.rows.size).toLong
      val width = t.schema.defaultSize.toLong.max(1L)
      new Statistics {
        override def sizeInBytes: java.util.OptionalLong =
          java.util.OptionalLong.of(nRows * width)
        override def numRows: java.util.OptionalLong =
          java.util.OptionalLong.of(nRows)
      }
    }
    override def planInputPartitions(): Array[InputPartition] = {
      val nowOpt = Option(options.get("now")).map(_.toLong).orElse(t.now)
      def demandNow: Long = nowOpt.getOrElse(throw new IllegalArgumentException(
        s"table $tname has a ttl column: scans need a logical clock " +
          "(read option or table property 'now', epoch seconds)"))
      // consistency level ('cl' read option, replicated tables): ONE reads
      // replica 0 alone — fast, possibly stale after a partial write;
      // QUORUM/EACH_QUORUM/ALL merges every replica by LWW and read-repairs
      // divergence before serving (Cassandra's blocking read repair).
      // Multi-DC ('dcs' tables): LOCAL_ONE reads the named DC's first
      // replica alone; LOCAL_QUORUM merges and repairs ONLY that DC's
      // replicas — cross-DC divergence is out of its blast radius, exactly
      // Cassandra's. 'dc' picks the coordinator's datacenter (default: the
      // first declared).
      val cl = Option(options.get("cl")).map(_.toLowerCase).getOrElse("one")
      // EACH_QUORUM is a WRITE-only CL in Cassandra — reads reject it
      // (o.a.c.db.ConsistencyLevel.validateForRead)
      require(cl != "each_quorum",
        s"table $tname: EACH_QUORUM ConsistencyLevel is only supported for " +
          "writes")
      require(Set("one", "local_one", "quorum", "local_quorum", "all")(cl),
        s"table $tname: 'cl' must be one/local_one/quorum/local_quorum/all, " +
          s"got $cl")
      val dcIdx: Int = Option(options.get("dc")) match {
        case Some(d) =>
          val i = t.dcNames.indexOf(d)
          require(i >= 0,
            s"table $tname: unknown dc '$d' (declared: ${t.dcNames.mkString(", ")})")
          i
        case None => 0
      }
      // 'replica' read option: a DEBUG read of exactly one replica's local
      // store, verbatim — no LWW merge, no read-repair side effect. This is
      // what repair --preview / validation compaction builds its digests
      // from: the preview must observe divergence without healing it (a
      // repairing read would destroy the evidence it reports). Conflicts
      // with 'cl' by construction (a CL names a merge contract; a replica
      // read opts out of one).
      val repOpt = Option(options.get("replica")).map(_.toInt)
      repOpt.foreach { i =>
        require(t.rf > 1,
          s"table $tname: 'replica' read requires a replicated table (rf>1)")
        require(i >= 0 && i < t.allReplicas.length,
          s"table $tname: replica index $i out of range " +
            s"0..${t.allReplicas.length - 1}")
        require(options.get("cl") == null,
          s"table $tname: 'replica' (a verbatim single-replica debug read) " +
            "conflicts with 'cl'")
      }
      /** Replica merge scope of the CL; None = a single replica, no merge. */
      def clScope: Option[Array[Int]] =
        if (t.rf <= 1 || repOpt.isDefined) None
        else cl match {
          case "one" | "local_one" => None
          case "local_quorum" => Some(t.dcReplicas(dcIdx))
          case _ => Some(t.allReplicas.indices.toArray) // quorum/all
        }
      /** The single replica a no-merge CL reads. */
      def clSingle: Int = repOpt.getOrElse(cl match {
        case "local_one" => t.dcReplicas(dcIdx).head
        case _ => 0
      })
      // point-in-time read of a named snapshot ('snapshot' read option):
      // serves the linked copy instead of the live store — expiry is still
      // read-time (a snapshot preserves cells, not their liveness), and
      // 'cl' is moot (the snapshot IS a single consistent cut). Rows
      // captured before an ALTER ADD pad to the current arity at read.
      val snap = Option(options.get("snapshot")).map { sn =>
        t.snapshots.getOrElse(sn, throw new IllegalArgumentException(
          s"table $tname has no snapshot '$sn'"))
      }
      val live =
        if (t.cellwise) {
          if (t.ttl.isDefined) demandNow // fail with the named error, eagerly
          // CL=QUORUM/ALL on a replicated cellwise table: blocking
          // per-cell read repair first, then serve the coordinator's
          // replica (now the joined winner) — divergent columns of one
          // row heal independently (the cell granule real Cassandra
          // reconciles at); LOCAL_QUORUM scopes the join + repair to one
          // DC's cell stores
          if (snap.isEmpty) clScope.foreach(idxs =>
            GUpsertTable.quorumReadCellwise(t, idxs))
          GUpsertTable.materializeCellwise(t,
            if (t.ttl.isDefined) nowOpt else None,
            snap.map(_._2).getOrElse(t.allCellReplicas(
              if (clScope.isEmpty) clSingle
              else clScope.get.head)))
        } else {
          val arity = t.schema.length
          val base0 = snap match {
            case Some((rowsSnap, _)) => rowsSnap.values.iterator.map { r =>
              if (r.length < arity)
                r ++ Array.fill[Any](arity - r.length)(null)
              else r
            }.toArray
            case None => clScope match {
              case Some(idxs) => GUpsertTable.quorumRead(t, idxs)
              case None => t.allReplicas(clSingle).values.toArray
            }
          }
          // replicated counters store per-replica SHARD maps; the visible
          // counter value is the SUM of shard values (Cassandra's read of
          // a counter cell)
          val base =
            if (t.rf > 1 && t.counters.nonEmpty) {
              val ctrIdx = t.schema.fields.zipWithIndex.collect {
                case (f, i) if t.counters(f.name) => i
              }
              base0.map { r =>
                val n = r.clone()
                ctrIdx.foreach { ci =>
                  n(ci) = Option(n(ci))
                    .map(_.asInstanceOf[Map[Int, GraftCatalogStore.CtrShard]]
                      .valuesIterator.map(_.value).sum)
                    .map(Long.box).getOrElse(Long.box(0L))
                }
                n
              }
            } else base0
          t.ttl match {
            case None => base
            case Some(ttlCol) =>
              val now = demandNow
              val ti = t.schema.fieldIndex(ttlCol)
              val wi = t.schema.fieldIndex(t.writetime.get)
              base.filter { r =>
                r(ti) == null || // no TTL on this write: never expires
                  GUpsertTable.epochSeconds(r(wi)) +
                    r(ti).asInstanceOf[Number].longValue > now
              }
          }
        }
      Array(GRows(live))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GReaderFactory(t.schema)
  }
}

/** DSv2 row-level operations (MERGE INTO / UPDATE / DELETE with arbitrary
  * predicates) — delta-based: the engine's upsert store is ALREADY keyed by
  * the partition key, so the natural row-level contract is `SupportsDelta`
  * with `rowId = [keyCol]`: Spark plans the merge join, and the writer
  * receives per-row INSERT / UPDATE / DELETE deltas instead of rewriting
  * whole groups (copy-on-write would re-ship every untouched row of the
  * table — at 100 TB the delta form writes only what changed, the same
  * asymmetry as Cassandra upserts vs SSTable rewrite).
  *
  * No CQL statement is a merge, but every warehouse user of the modeled
  * engine hits MERGE in week one (the verdict's missing-surface #2); the
  * semantics here compose the engine's own primitives: DELETE by key,
  * INSERT-as-upsert (set columns canonicalized), UPDATE as keyed replace —
  * key changes via UPDATE SET key=... relocate the row. Not supported on
  * counter tables (no CQL-meaningful replace of an increment register). */
class GRowLevelOperation(tname: String, t: GraftCatalogStore.T,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {
  require(t.counters.isEmpty,
    s"$tname: row-level operations are not supported on counter tables")
  // a MERGE/UPDATE delta replaces whole rows — meaningless against per-cell
  // state; the cellwise UPDATE surface is the 'update' write option
  require(!t.cellwise,
    s"$tname: row-level operations are not supported on cellwise tables — " +
      "use INSERT / the 'update' write option (per-cell LWW)")
  // eager, named failure instead of a confusing scan-time error: the target
  // scan of a TTL table needs a logical clock, and SQL MERGE/UPDATE/DELETE
  // cannot pass a per-scan read option — only the table property can supply it
  require(t.ttl.isEmpty || t.now.isDefined,
    s"$tname: row-level operations (MERGE / UPDATE / non-key DELETE) on a " +
      "TTL table require the 'now' table property (epoch seconds) — SQL " +
      "statements cannot pass the per-scan 'now' read option")
  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GScanBuilder(tname, t, options)
  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = new GDeltaBatchWrite(t)
      }
    }
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(t.keyCol))
}

/** Delta op stream: (op, key, row) applied in writer order at commit. */
case class GDeltaCommit(ops: Array[(Byte, Any, Array[Any])]) extends WriterCommitMessage

class GDeltaBatchWrite(t: GraftCatalogStore.T) extends DeltaBatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    GDeltaWriterFactory(t.schema, t.schema(t.keyCol).dataType)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val rl = t.ddlLock.readLock()
    rl.lock()
    try {
      val ki = t.schema.fieldIndex(t.keyCol)
      val wtIdx = t.writetime.map(t.schema.fieldIndex)
      // validate EVERY delta's writetime before applying ANY row — the same
      // eager discipline as the INSERT commit: a MERGE that stores a
      // NULL-writetime row would otherwise poison every later scan of the
      // table (epochMicros throws there, blaming the wrong statement)
      wtIdx.foreach { wi =>
        messages.foreach { case GDeltaCommit(ops) =>
          ops.foreach { case (op, _, row) =>
            if (op != GDeltaWriterFactory.Delete) GUpsertTable.epochMicros(row(wi))
          }
        }
      }
      // pad pre-ALTER-ADD-shaped rows to the current arity (see the INSERT
      // commit's padding note — same absent-cell semantics)
      val arity = t.schema.length
      def padded(r0: Array[Any]): Array[Any] =
        if (r0.length < arity) r0 ++ Array.fill[Any](arity - r0.length)(null)
        else r0
      val tombKeys = scala.collection.mutable.ArrayBuffer.empty[Any]
      messages.foreach { case GDeltaCommit(ops) =>
        ops.foreach {
          case (GDeltaWriterFactory.Delete, key, _) =>
            // replica-aware: deltas hit EVERY replica (no failure injection
            // on the MERGE path), and deletes drop the key's pending hints
            // — the same no-resurrection rule as deleteWhere
            t.allReplicas.foreach(_.remove(key))
            if (t.rf > 1) t.synchronized {
              val kept = t.hints.filterNot { case (_, r) => r(ki) == key }
              t.hints.clear(); t.hints ++= kept
            }
            tombKeys += key
          case (_, key, row0) => // insert / update: keyed replace, sets canonical
            val row = padded(row0)
            GUpsertTable.canonicalizeSets(t, row)
            wtIdx match {
              case Some(wi) =>
                // timestamp-ordered LWW via the same CAS discipline as the
                // INSERT path, applied PER REPLICA: a stale-writetime MERGE
                // cannot clobber newer data, preserving the convergence
                // invariant UpsertSpec property-tests. A LOSING write is a
                // total no-op on that replica — in particular, a
                // key-changing update that loses at the destination must
                // NOT have deleted its source row there first.
                val isKeyChange = key != null && key != row(ki)
                var relocatedEverywhere = isKeyChange
                t.allReplicas.foreach { st =>
                  var done = false
                  var applied = false
                  while (!done) st.get(row(ki)) match {
                    case Some(prev) =>
                      val (nw, ow) = (GUpsertTable.epochMicros(row(wi)),
                        GUpsertTable.epochMicros(prev(wi)))
                      val applies = nw > ow ||
                        (nw == ow && GUpsertTable.tieGreater(row, prev, ki, t.schema))
                      if (!applies) done = true
                      else { applied = st.replace(row(ki), prev, row); done = applied }
                    case None =>
                      applied = st.putIfAbsent(row(ki), row).isEmpty
                      done = applied
                  }
                  if (applied && isKeyChange)
                    st.remove(key) // key change relocates only when the write wins
                  else if (isKeyChange) relocatedEverywhere = false
                }
                // tombstone only when the source key is dead on EVERY
                // replica: a relocation that lost LWW on any diverged
                // replica leaves the source row there, and anti-entropy
                // repair will resurrect it cluster-wide — a tombstone for
                // a key the converged table still holds would make the
                // (key, max seq) fold lie
                if (relocatedEverywhere) tombKeys += key
              case None =>
                t.allReplicas.foreach { st =>
                  if (key != null && key != row(ki)) st.remove(key)
                  st.put(row(ki), row)
                }
                if (key != null && key != row(ki)) tombKeys += key
            }
        }
      }
      // CDC capture (the commit-log entry this MERGE is): deletes — and the
      // SOURCE key of a key-changing update WHOSE RELOCATION APPLIED — land
      // as one tombstone marker batch, upserted/inserted rows as one data
      // batch, appended atomically in that order so a key-change folds
      // correctly (old key dead at seq N, new key live at seq N+1). Data
      // rows are logged AS ISSUED (Cassandra's commit log records every
      // mutation, LWW-losing or not; folding data rows by writetime
      // converges to table state), but a source-key tombstone is a
      // RESULT of applying the delta, not part of the issued mutation — an
      // LWW-losing key-change leaves its source row intact, so logging its
      // tombstone would make a (key, max _commit_seq) fold report a
      // still-live key as deleted. Hence tombKeys is threaded from the
      // apply loop above, capturing only relocations that actually won.
      val allOps = messages.toSeq.flatMap { case GDeltaCommit(ops) => ops }
      val tombs = tombKeys.map { k =>
        val r = new Array[Any](arity); r(ki) = k; r
      }
      val datas = allOps.collect {
        case (op, _, row0) if op != GDeltaWriterFactory.Delete => padded(row0)
      }
      Cdc.append(t.changelog,
        Seq(KeyGroupedRegistry.LogBatch(tombs.toArray, tombstone = true),
          KeyGroupedRegistry.LogBatch(datas.toArray, tombstone = false))
          .filter(_.rows.nonEmpty): _*)
    } finally rl.unlock()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

case class GDeltaWriterFactory(schema: StructType, keyType: DataType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val ops = scala.collection.mutable.ArrayBuffer.empty[(Byte, Any, Array[Any])]
      private def extractRow(row: InternalRow): Array[Any] =
        schema.fields.zipWithIndex.map { case (f, i) =>
          GValues.extract(f.dataType, row, i)
        }
      private def extractId(id: InternalRow): Any = GValues.extract(keyType, id, 0)
      override def insert(row: InternalRow): Unit =
        ops += ((GDeltaWriterFactory.Insert, null, extractRow(row)))
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        ops += ((GDeltaWriterFactory.Update, extractId(id), extractRow(row)))
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        ops += ((GDeltaWriterFactory.Delete, extractId(id), null))
      override def commit(): WriterCommitMessage = GDeltaCommit(ops.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

object GDeltaWriterFactory {
  val Delete: Byte = 0
  val Update: Byte = 1
  val Insert: Byte = 2
}

case class GRows(rows: Array[Array[Any]]) extends InputPartition

/** Internal↔external value conversion for the full SURVEY §1.2 type table:
  * every CQL type's Catalyst mapping round-trips through the store —
  * int/bigint/smallint/tinyint, text (uuid/inet ride as text), float/double,
  * decimal, boolean, date, timestamp, blob, list/set (ArrayType),
  * map (MapType), UDT/tuple (StructType). Executor-side values are detached
  * from Tungsten buffers into plain JVM objects on write and rebuilt into
  * internal form on read. */
object GValues {
  import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}

  def extract(dt: DataType, v: SpecializedGetters, i: Int): Any =
    if (v.isNullAt(i)) null
    else dt match {
      case IntegerType | DateType => v.getInt(i)
      case LongType | TimestampType => v.getLong(i)
      case ShortType => v.getShort(i)
      case ByteType => v.getByte(i)
      case FloatType => v.getFloat(i)
      case DoubleType => v.getDouble(i)
      case BooleanType => v.getBoolean(i)
      case StringType => v.getUTF8String(i).toString
      case BinaryType => v.getBinary(i)
      case d: DecimalType => v.getDecimal(i, d.precision, d.scale)
      case ArrayType(et, _) =>
        val a = v.getArray(i)
        Array.tabulate[Any](a.numElements())(j => extract(et, a, j))
      case MapType(kt, vt, _) =>
        val m = v.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        Array.tabulate[Any](m.numElements())(j =>
          (extract(kt, ks, j), extract(vt, vs, j)))
      case st: StructType =>
        val r = v.getStruct(i, st.size)
        st.fields.zipWithIndex.map { case (f, j) => extract(f.dataType, r, j) }: Array[Any]
      case other => throw new UnsupportedOperationException(s"type $other")
    }

  def internal(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case StringType => UTF8String.fromString(v.asInstanceOf[String])
      case ArrayType(et, _) =>
        new GenericArrayData(v.asInstanceOf[Array[Any]].map(internal(et, _)))
      case MapType(kt, vt, _) =>
        val pairs = v.asInstanceOf[Array[Any]].map(_.asInstanceOf[(Any, Any)])
        new ArrayBasedMapData(
          new GenericArrayData(pairs.map(p => internal(kt, p._1))),
          new GenericArrayData(pairs.map(p => internal(vt, p._2))))
      case st: StructType =>
        InternalRow.fromSeq(v.asInstanceOf[Array[Any]].toIndexedSeq
          .zip(st.fields).map { case (x, f) => internal(f.dataType, x) })
      case _ => v
    }

  /** Stored row → internal cells by `schema`, for batch reads and the CDC
    * stream. */
  def cells(schema: StructType): Array[Any] => Array[Any] = {
    val dts = schema.fields.map(_.dataType)
    r => Array.tabulate[Any](math.min(r.length, dts.length))(j => internal(dts(j), r(j)))
  }
}

class GReaderFactory(schema: StructType) extends PartitionReaderFactory {
  private val cells = GValues.cells(schema)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[GRows].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(cells(rows(i)))
      override def close(): Unit = ()
    }
  }
}

case class GCommit(rows: Array[Array[Any]]) extends WriterCommitMessage

/** CQL logged-BATCH analog (`BEGIN BATCH ... APPLY BATCH;`): atomically
  * apply multiple INSERT statements across catalog tables — either every
  * statement's rows commit or none do. CQL has no SQL-side equivalent in
  * Spark, so the surface is programmatic, the way the reference stack's CQL
  * session would issue it (the shape of userdata/cloudinit.sh:312-314 run
  * as one BATCH).
  *
  * All-or-nothing comes from the batchlog discipline: EVERY statement is
  * resolved, schema-checked and validated (writetime non-null, etc.) before
  * ANY row applies — after validation the application (the tables' own
  * upsert/LWW/counter/cellwise merge via [[GUpsertTable.applyWrites]])
  * cannot fail. Like Cassandra's logged batches this guarantees atomicity,
  * NOT isolation: a concurrent reader may observe a prefix mid-flight.
  * Tables lock in a deterministic order so concurrent batches and DDL
  * cannot deadlock. */
object GraftBatch {
  /** Coordinator crash injection marker (tests only — the "node died
    * between statement k and k+1" fault a logged batch must survive). */
  class CoordinatorCrash(applied: Int)
    extends RuntimeException(
      s"injected coordinator crash after $applied applied statement(s); " +
        "the batchlog entry survives for replay")

  /** The batchlog (Cassandra's system batch log): every logged batch is
    * journaled BEFORE any statement applies and removed only after ALL
    * applied — so a coordinator crash mid-apply leaves the entry, and
    * [[replayBatchlog]] completes the batch later. That is Cassandra's
    * actual atomicity contract for logged batches: not isolation, but
    * guaranteed EVENTUAL completion. Replay re-applies every statement;
    * the write paths are timestamp-idempotent (LWW / cellwise merges), so
    * re-applying the prefix that already landed is a no-op. */
  private val batchlog =
    TrieMap.empty[Long, Seq[(GraftCatalogStore.T, Seq[Array[Any]])]]
  private val nextBatchId = new java.util.concurrent.atomic.AtomicLong(0)
  def pendingBatches: Int = batchlog.size

  /** Replay every pending batchlog entry to completion (the batchlog
    * replay Cassandra's replica nodes run after a coordinator death).
    * Idempotent and ordered by batch id. Returns batches completed. */
  def replayBatchlog(): Int = {
    val ids = batchlog.keys.toSeq.sorted
    ids.count { id =>
      batchlog.get(id).exists { stmts =>
        val locks = stmts.map(_._1).distinct.sortBy(_.lockRank)
          .map(_.ddlLock.readLock())
        locks.foreach(_.lock())
        try {
          stmts.foreach { case (t, rows) =>
            GUpsertTable.applyWrites(t, rows, ifNotExists = false,
              updateMode = false)
          }
          batchlog.remove(id)
          true
        } finally locks.reverse.foreach(_.unlock())
      }
    }
  }

  private def resolveTable(fqn: String): GraftCatalogStore.T = {
    val parts = fqn.split('.')
    require(parts.length >= 2,
      s"logged batch: table name '$fqn' must be [catalog.]namespace.table")
    val cand1 = (parts.init.mkString("."), parts.last)
    val cand2 =
      if (parts.length >= 3) Some((parts.tail.init.mkString("."), parts.last))
      else None
    val key =
      if (GraftCatalogStore.tables.contains(cand1)) cand1
      else cand2.filter(GraftCatalogStore.tables.contains).getOrElse(
        throw new IllegalArgumentException(s"logged batch: unknown table $fqn"))
    GraftCatalogStore.tables(key)
  }

  private def rowsOf(fqn: String, t: GraftCatalogStore.T,
      df: org.apache.spark.sql.DataFrame): Seq[Array[Any]] = {
    // names AND types: a name-matching column of the wrong type would
    // pass a name-only check and then throw mid-apply (ClassCastException
    // in the set/counter merge), breaking the all-or-nothing guarantee
    def sig(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    require(sig(df.schema) == sig(t.schema),
      s"logged batch: $fqn write schema ${sig(df.schema)} " +
        s"does not match table schema ${sig(t.schema)}")
    val fields = df.schema.fields
    // executeCollect returns freshly-decoded InternalRows (safe to keep),
    // detached into plain JVM values like the DSv2 writer path
    df.queryExecution.executedPlan.executeCollect().toSeq.map { ir =>
      fields.zipWithIndex.map { case (f, i) =>
        GValues.extract(f.dataType, ir, i)
      }: Array[Any]
    }
  }

  def logged(statements: Seq[(String, org.apache.spark.sql.DataFrame)],
      crashAfterStatements: Option[Int] = None): Unit = {
    require(statements.nonEmpty, "logged batch: no statements")
    val stmts = statements.map { case (fqn, df) =>
      val t = resolveTable(fqn)
      (t, rowsOf(fqn, t, df))
    }
    // EVERY statement validates before ANY applies (and before the batch
    // is journaled — a bad statement must fail the batch, not poison the
    // batchlog with an unreplayable entry)
    stmts.foreach { case (t, rows) => GUpsertTable.validateWrites(t, rows) }
    // CQL rule: counter mutations cannot ride a LOGGED batch — their
    // additive merge is not idempotent, so batchlog replay would
    // double-count exactly the increments a crash already landed
    stmts.foreach { case (t, _) =>
      require(t.counters.isEmpty,
        "logged batch: counter tables cannot be batched (CQL restriction " +
          "— counter mutations are not idempotent under batchlog replay)")
    }
    // journal BEFORE applying: the crash window below is covered
    val batchId = nextBatchId.incrementAndGet()
    batchlog.put(batchId, stmts)
    // deterministic GLOBAL order via each table's unique lockRank — two
    // concurrent batches over any table subset acquire in the same order
    val locks = stmts.map(_._1).distinct
      .sortBy(_.lockRank)
      .map(_.ddlLock.readLock())
    locks.foreach(_.lock())
    try {
      stmts.zipWithIndex.foreach { case ((t, rows), i) =>
        crashAfterStatements.foreach { k =>
          if (i >= k) throw new CoordinatorCrash(i)
        }
        GUpsertTable.applyWrites(t, rows, ifNotExists = false,
          updateMode = false)
      }
      // removed ONLY after full success — a crash leaves it for replay
      batchlog.remove(batchId)
    } finally locks.reverse.foreach(_.unlock())
  }

  /** Per-statement condition of a CONDITIONAL batch (CQL `IF ...`). */
  sealed trait Cond
  case object Unconditional extends Cond
  case object CondIfNotExists extends Cond
  case object CondIfExists extends Cond
  final case class CondIfColEq(col: String, value: Any) extends Cond

  /** CQL CONDITIONAL batch (`BEGIN BATCH ... <stmts, some with IF ...>
    * APPLY BATCH;`) — LWT inside a batch. Cassandra's rules, enforced
    * here: every statement must hit ONE PARTITION of ONE TABLE ("batch
    * with conditions cannot span multiple partitions/tables"), the whole
    * batch runs as ONE Paxos round at SERIAL — every condition evaluates
    * against the partition's state BEFORE the batch — and either ALL
    * statements apply (every condition held) or NONE does
    * (`[applied] = false`). Returns the applied flag.
    *
    * Composition restrictions inherited from both parents: no counter
    * tables (logged-batch rule), no writetime tables (CQL forbids USING
    * TIMESTAMP with IF), no cellwise tables (LWT is row-granular), and —
    * like single-statement LWT on replicated tables — the Paxos round
    * needs every replica, so there is no failure-injection parameter.
    * Unlike [[logged]], a conditional batch never touches the batchlog:
    * single-partition mutations are atomic at the storage layer, which is
    * exactly why Cassandra exempts them (and their Paxos commit) from
    * batchlog journaling. */
  def conditional(fqn: String,
      statements: Seq[(org.apache.spark.sql.DataFrame, Cond)]): Boolean = {
    require(statements.nonEmpty, "conditional batch: no statements")
    require(statements.exists(_._2 != Unconditional),
      "conditional batch: no statement carries a condition — use logged()")
    val t = resolveTable(fqn)
    require(t.counters.isEmpty,
      "conditional batch: counter tables cannot be batched (CQL)")
    require(t.writetime.isEmpty,
      "conditional batch: conditional updates cannot use client timestamps " +
        "(CQL forbids USING TIMESTAMP with IF)")
    require(!t.cellwise,
      "conditional batch: not supported on cellwise tables (LWT is modeled " +
        "only for row-granular tables)")
    val stmts = statements.map { case (df, cond) => (rowsOf(fqn, t, df), cond) }
    stmts.foreach { case (rows, _) => GUpsertTable.validateWrites(t, rows) }
    // EVERY condition validates eagerly, before any evaluates: an invalid
    // IF is a statement error (Cassandra InvalidRequest) regardless of
    // whether an earlier condition already fails the batch — it must never
    // degrade into a quiet [applied]=false
    stmts.foreach {
      case (_, CondIfColEq(cn, _)) =>
        require(t.schema.fieldNames.contains(cn),
          s"conditional batch: IF column $cn not in schema")
        require(cn != t.keyCol,
          "conditional batch: IF cannot condition on the partition key (CQL)")
      case _ => ()
    }
    val ki = t.schema.fieldIndex(t.keyCol)
    val pks = stmts.flatMap(_._1.map(_(ki))).distinct
    require(pks.size == 1,
      s"conditional batch: statements span ${pks.size} partitions — batch " +
        "with conditions cannot span multiple partitions (CQL)")
    val key = pks.head
    val rl = t.ddlLock.readLock()
    rl.lock()
    try t.synchronized { // the coordinator's Paxos round, serialized
      // SERIAL read: conditions see the pre-batch partition state. The
      // linearization view is ANY replica holding the key — the same
      // existence rule the single-statement LWT path applies (a partial
      // write that missed replica 0 but landed elsewhere still makes the
      // key EXIST; conditional tables have no writetime, so whichever
      // replica holds the row serves its value)
      val stored = t.allReplicas.iterator.flatMap(_.get(key)).nextOption()
      val allHold = stmts.forall { case (_, cond) => cond match {
        case Unconditional => true
        case CondIfNotExists => stored.isEmpty
        case CondIfExists => stored.nonEmpty
        case CondIfColEq(cn, exp) =>
          // a stored NULL never equals, an absent row fails the condition
          stored.exists(r => r(t.schema.fieldIndex(cn)) == exp)
      } }
      if (allHold)
        stmts.foreach { case (rows, _) =>
          GUpsertTable.applyWrites(t, rows, ifNotExists = false,
            updateMode = false)
        }
      allHold
    } finally rl.unlock()
  }
}

case class GWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      override def write(row: InternalRow): Unit =
        buf += schema.fields.zipWithIndex.map { case (f, i) =>
          GValues.extract(f.dataType, row, i)
        }
      override def commit(): WriterCommitMessage = GCommit(buf.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** Streaming variant of [[GWriterFactory]] — same row extraction, same
  * commit message; the epoch id is Spark's concern (offset-log bookkeeping),
  * not the writer's. */
case class GStreamingWriterFactory(schema: StructType)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    GWriterFactory(schema).createWriter(partitionId, taskId)
}
