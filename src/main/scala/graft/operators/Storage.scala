package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.CassandraModel
import graft.operators.Pipeline.hExpr
import graft.sources.Tables

/** Write-path, catalog and physical-layout operators: the reference's DDL /
  * upsert-INSERT surface (O6–O8) exercised end-to-end, the token-locality
  * analog (bucketed layout → shuffle-free join), count pushdown, and the
  * approximate aggregates that replace exact ones at 100 TB.
  *
  * Reference semantics reproduced here:
  *   - CREATE KEYSPACE → CREATE DATABASE testks
  *     (reference: userdata/cloudinit.sh:299-302)
  *   - CREATE TABLE + INSERT upserts → saveAsTable + last-write-wins merge
  *     (reference: userdata/cloudinit.sh:306-314; Cassandra INSERT is an
  *     upsert keyed on the partition key)
  *   - token-aware locality → key-bucketed table layout whose equi-join
  *     needs no Exchange (reference: README.md:135 — the demo's headline is
  *     that reads happen on the replica that already holds the key range;
  *     the Spark-native analog is that co-bucketed tables join without a
  *     shuffle, asserted in PlanSpec)
  *   - cassandraCount count pushdown → parquet footer-count pushdown via the
  *     DSv2 scan (SURVEY.md §2.2)
  *   - system.local metadata read (reference: userdata/cloudinit.sh:286)
  */
object Storage {
  type Q = (SparkSession, String) => DataFrame

  /** 16-bit Morton spread (interleave-ready bit spreading) as a portable
    * expression string: the classic shift/mask ladder, identical arithmetic
    * in Spark (shiftleft) and DuckDB (<<). Input must already be a BIGINT in
    * [0, 65535]; output occupies the even bits of a 32-bit code. */
  private val mortonSteps =
    List((8, "16711935"), (4, "252645135"), (2, "858993459"), (1, "1431655765"))

  private[graft] def mortonSpark(c: String): String =
    mortonSteps.foldLeft(c) { case (e, (sh, mask)) =>
      s"((($e) | shiftleft(($e), $sh)) & ${mask}L)"
    }

  private[graft] def mortonDuck(c: String): String =
    mortonSteps.foldLeft(c) { case (e, (sh, mask)) =>
      s"((($e) | (($e) << $sh)) & $mask)"
    }

  /** Physical z-order layout: interleave two 16-bit key columns into a
    * Morton code, range-partition on it, and sort within partitions — so
    * every output file's min/max stats bound BOTH dimensions and either
    * filter column prunes files. A plain sort on (a, b) clusters only `a`.
    * Returns the caller's schema unchanged (the Morton key is a layout
    * detail, not data — persisting it would add a surprise column to every
    * output file). PlanSpec asserts the RangePartitioning and the disjoint
    * per-partition z-ranges via the key-retaining internal variant. */
  def zorderLayout(df: DataFrame, c1: String, c2: String, nParts: Int): DataFrame =
    zorderWithKey(df, c1, c2, nParts).drop("__graft_zx", "__graft_zy", "__graft_zval")

  private[graft] def zorderWithKey(df: DataFrame, c1: String, c2: String,
      nParts: Int): DataFrame =
    // pmod, not %: Spark % keeps the dividend's sign, and a negative key
    // would escape [0, 65535] and break the Morton masks. Internal columns
    // carry a __graft_ prefix so a caller's own zx/zy/zval survive.
    df.withColumn("__graft_zx", expr(s"pmod(cast($c1 as bigint), 65536L)"))
      .withColumn("__graft_zy", expr(s"pmod(cast($c2 as bigint), 65536L)"))
      .withColumn("__graft_zval",
        expr(s"(${mortonSpark("__graft_zx")}) | shiftleft(${mortonSpark("__graft_zy")}, 1)"))
      .repartitionByRange(nParts, col("__graft_zval"))
      .sortWithinPartitions("__graft_zval")

  /** Hard-delete a warehouse path so saveAsTable overwrites are idempotent
    * even when a fresh session's in-memory catalog forgot the table. */
  private def rmPath(s: SparkSession, table: String): Unit = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(s"$wh/${table.replace(".", ".db/")}")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def saveTable(df: DataFrame, table: String): Unit = {
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    rmPath(s, table)
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)
  }

  /** Stage the key-grouped DSv2 demo tables (nation by n_nationkey, a
    * customer projection by c_nationkey) and enable storage-partitioned
    * joins; idempotent per sf-dir. Shared by q_spj_join / q_kv_point_read
    * and PlanSpec. */
  def stageKv(s: SparkSession, dir: String): (String, String) = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val nName = s"nation:$dir"
    val cName = s"customer:$dir"
    graft.sources.KeyGroupedRegistry.stage(nName,
      Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("n_nationkey"), col("n_name")),
      "n_nationkey")
    graft.sources.KeyGroupedRegistry.stage(cName,
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          col("c_nationkey").cast(LongType).as("c_nationkey"), col("c_acctbal")),
      "c_nationkey")
    (nName, cName)
  }

  /** Shared by q_kv_bootstrap_stream / q_kv_decommission_stream: full
    * orders keyed by o_custkey — many partitions spread over the whole
    * ring, several rows per partition, so movement accounting counts keys
    * AND rows. Idempotent per sf-dir (deterministic content). */
  def stageBootOrders(s: SparkSession, dir: String): String = {
    val name = s"orders_boot:$dir"
    graft.sources.KeyGroupedRegistry.stage(name,
      Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents")),
      "o_custkey")
    name
  }

  /** Distributed content fingerprint of the boot-orders table: (row count,
    * summed portable 32-bit row hash) over size-coalesced splits — the
    * byte-equal-read gate both ring-movement queries compare across the
    * topology change. */
  private def bootFingerprint(s: SparkSession, name: String): (Long, Long) = {
    // r19: the ring's replica-set packing rule caps coalescing (a split
    // never spans two replica sets — faithful to the connector), so this
    // scan planned 500-670 tiny splits at sf0.1 and paid pure scheduling
    // (QProf: ~14 s task time across 1187 ~30 ms tasks for the two
    // fingerprints). The fingerprint is a count + a COMMUTATIVE sum —
    // partition-count-insensitive by construction — so coalesce the scan
    // to the core count and pay ~32 tasks instead (guide §2.2/§6: fewer,
    // larger tasks when per-task overhead dominates).
    val r = s.read.format("graft.sources.KVDataSource")
      .option("table", name).option("split_target_rows", "20000").load()
      .coalesce(s.sparkContext.defaultParallelism)
      .agg(count(lit(1)).as("n"),
        sum(expr(hExpr("concat_ws('|', o_custkey, o_orderkey, cents)"))).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** (partition key, row count) of every boot-orders partition — the
    * driver-held ring×partition METADATA (Cassandra's token map) the
    * movement accounting runs over; row data never visits the driver. */
  private def bootKeyRows(name: String): Seq[(Long, Long)] =
    graft.sources.KeyGroupedRegistry.get(name).parts.toSeq
      .map { case (k, rs) =>
        (k.head.asInstanceOf[Number].longValue, rs.length.toLong)
      }

  /** Materialize per-host stores from the BEFORE placement, apply the
    * stream (copy gained keys in) and cleanup (drop lost keys), then
    * REQUIRE every store equals the AFTER placement — the convergence
    * gate of both ring-movement queries. */
  private def applyRingStream(keyRows: Seq[(Long, Long)],
      before: Map[Long, Seq[String]], after: Map[Long, Seq[String]]): Unit = {
    val stores = scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.Set[Long]]
    def store(h: String) = stores.getOrElseUpdate(h,
      scala.collection.mutable.Set.empty[Long])
    keyRows.foreach { case (k, _) => before(k).foreach(store(_) += k) }
    keyRows.foreach { case (k, _) =>
      val b = before(k).toSet; val a = after(k).toSet
      (a -- b).foreach(store(_) += k) // stream in
      (b -- a).foreach(store(_) -= k) // cleanup / leaver drain
    }
    val hosts = (before.values.flatten ++ after.values.flatten).toSet
    hosts.foreach { h =>
      val placed = keyRows.collect {
        case (k, _) if after(k).contains(h) => k
      }.toSet
      require(store(h).toSet == placed,
        s"store of $h diverged from post-change placement")
    }
  }

  /** Per-(phase, host) ownership + movement accounting row set. */
  private def ringPhaseRows(tag: String, keyRows: Seq[(Long, Long)],
      rep: Map[Long, Seq[String]], other: Option[Map[Long, Seq[String]]])
      : Seq[(String, String, Long, Long, Long, Long)] = {
    val hosts = rep.values.flatten.toSet.toSeq.sorted
    hosts.map { h =>
      val owned = keyRows.filter { case (k, _) => rep(k).contains(h) }
      val gained = other.fold(0L)(o => keyRows.count { case (k, _) =>
        rep(k).contains(h) && !o(k).contains(h) }.toLong)
      val dropped = other.fold(0L)(o => keyRows.count { case (k, _) =>
        o(k).contains(h) && !rep(k).contains(h) }.toLong)
      (tag, h, owned.size.toLong, owned.map(_._2).sum, gained, dropped)
    }
  }

  /** Stage the composite-key demo table: customer keyed by the
    * (c_nationkey: bigint, c_mktsegment: string) tuple — 125 splits (25
    * nations × 5 segments), one per distinct tuple. Idempotent per sf-dir. */
  def stageKvComposite(s: SparkSession, dir: String): String = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val name = s"cust_comp:$dir"
    graft.sources.KeyGroupedRegistry.stageMulti(name,
      Tables.load(s, dir, "customer").select(
        col("c_nationkey").cast(LongType).as("c_nationkey"),
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal")),
      Seq("c_nationkey", "c_mktsegment"))
    name
  }

  /** Stage the two co-partitioned composite-key aggregate sides for the SPJ
    * demo: per-(nation, segment) counts/sums on one side, extrema on the
    * other, both key-grouped by the same tuple. Idempotent per sf-dir. */
  def stageKvCompositeSides(s: SparkSession, dir: String): (String, String) = {
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val aName = s"cust_stats:$dir"
    val bName = s"cust_extr:$dir"
    val c = Tables.load(s, dir, "customer").select(
      col("c_nationkey").cast(LongType).as("c_nationkey"),
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
    graft.sources.KeyGroupedRegistry.stageMulti(aName,
      c.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(12, 2))).cast(DoubleType).as("total_bal")),
      Seq("c_nationkey", "c_mktsegment"))
    graft.sources.KeyGroupedRegistry.stageMulti(bName,
      c.groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .agg(max(col("c_custkey")).as("max_cust"), min(col("c_acctbal")).as("min_bal")),
      Seq("nk", "seg"))
    (aName, bName)
  }

  /** The deterministic IN list for q_kv_ck_in — shared verbatim by the Spark
    * filter and the DuckDB oracle text. */
  private[graft] val CkInVals: Seq[Long] = (1 to 400).map(_ * 151L)

  /** Stage the value-aggregate demo table: orders for the first 200
    * customers keyed `(pk = o_custkey, ck = o_orderkey)`, carrying an exact
    * integer cents column and a NULLABLE comment-length column (every third
    * order NULL) so COUNT(col) vs COUNT(*) and the null-skipping folds are
    * observable. Idempotent per sf-dir. */
  def stageOrdersVagg(s: SparkSession, dir: String): String = {
    val name = s"orders_vagg:$dir"
    graft.sources.KeyGroupedRegistry.stage(name,
      Tables.load(s, dir, "orders").filter(col("o_custkey") <= 200)
        .select(col("o_custkey").as("pk"), col("o_orderkey").as("ck"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"),
          expr("case when o_orderkey % 3 = 0 then null " +
            "else cast(length(o_orderpriority) as bigint) end").as("clen")),
      "pk", clusteringCol = Some("ck"))
    name
  }

  /** Stage the clustering-column demo table: orders for the first 200
    * customers keyed `(pk = o_custkey, ck = o_orderkey)`, rows ck-sorted
    * inside each partition. Idempotent per sf-dir; shared by
    * q_kv_range_scan / q_kv_topn_pushdown / q_kv_per_partition_limit. */
  def stageOrdersCk(s: SparkSession, dir: String): String = {
    val name = s"orders_ck:$dir"
    graft.sources.KeyGroupedRegistry.stage(name,
      Tables.load(s, dir, "orders").filter(col("o_custkey") <= 200)
        .select(col("o_custkey").as("pk"), col("o_orderkey").as("ck"),
          col("o_totalprice").as("price")),
      "pk", clusteringCol = Some("ck"))
    name
  }

  /** CQL `INSERT INTO t JSON '...'` (CQL 4.0 JSON DML): each document's
    * keys map to column names; a key not in the table schema is a
    * statement error (Cassandra InvalidRequest), a missing column is set
    * to NULL (CQL's DEFAULT NULL mode), malformed JSON fails the statement
    * (FAILFAST, never a silent null row). The parse is `from_json` with
    * the TABLE's schema — declarative and codegen'd, so at 100 TB the
    * JSON decode rides whole-stage codegen per partition; only the
    * unknown-key guard adds a scan of the documents' key sets. */
  def insertJson(s: SparkSession, fqn: String,
      docs: org.apache.spark.sql.DataFrame): Unit = {
    require(docs.schema.length == 1 &&
        docs.schema.head.dataType == StringType,
      s"INSERT JSON into $fqn: input must be a single STRING column of " +
        "JSON documents")
    val schema = s.table(fqn).schema
    val dcol = docs.columns.head
    // persisted across the two jobs so the VALIDATED rows are the WRITTEN
    // rows even on a non-deterministic source (and the input computes once)
    val d = docs.persist()
    try {
      // one validation pass catches every InvalidRequest shape: a SQL NULL
      // document, a non-object document (JSON null / scalar / malformed —
      // json_object_keys yields NULL for all of them), and any key not in
      // the table schema. Checked BEFORE any row lands, so a refused
      // statement is atomic.
      val knownList = schema.fieldNames
        .map(n => "'" + n.replace("'", "\\'") + "'").mkString(", ")
      val bad = d.select(expr(
        s"""case
           |  when $dcol is null then '<null document>'
           |  when json_object_keys($dcol) is null
           |    then '<malformed or non-object document>'
           |  else try_element_at(
           |    filter(json_object_keys($dcol), k -> NOT (k IN ($knownList))), 1)
           |end""".stripMargin).as("bad"))
        .filter(col("bad").isNotNull).limit(1).collect()
      require(bad.isEmpty,
        s"INSERT JSON into $fqn: JSON values map to undefined column " +
          s"'${bad.head.getString(0)}' (CQL InvalidRequest)")
      d.select(from_json(col(dcol), schema, Map("mode" -> "FAILFAST")).as("r"))
        .select(col("r.*"))
        .writeTo(fqn).append()
    } finally d.unpersist()
  }

  /** CQL `SELECT JSON * FROM t`: one `json` text column per row, keys in
    * schema column order, NULL cells rendered explicitly (Cassandra prints
    * `"col": null`, so ignoreNullFields is off). */
  def selectJson(s: SparkSession, fqn: String): org.apache.spark.sql.DataFrame = {
    val t = s.table(fqn)
    t.select(to_json(struct(t.columns.map(col).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "false")).as("json"))
  }

  /** Stage the map-index demo table: customers with an indexed
    * `attrs map<text, bigint>` column (segment -> nationkey), the shape
    * Cassandra's KEYS/VALUES/ENTRIES(m) index granules serve. Idempotent
    * per sf-dir; shared by q_kv_contains_key / q_kv_map_entry /
    * q_kv_map_contains. */
  def stageCustAttrs(s: SparkSession, dir: String): String = {
    val name = s"cust_attrs:$dir"
    graft.sources.KeyGroupedRegistry.stageMulti(name,
      Tables.load(s, dir, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        map(col("c_mktsegment"), col("c_nationkey")).as("attrs")),
      Seq("c_custkey"), indexCols = Seq("attrs"))
    name
  }

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    // O6+O7+O8 end-to-end: CREATE DATABASE testks, persist users as a
    // catalog-managed table, apply a reference-style upsert batch (one
    // idempotent re-INSERT, one key overwrite, one new key), persist the
    // result, read it back through the catalog. Last-write-wins per id.
    "q_users_upsert" -> { (s, _) =>
      CassandraModel.ensureKeyspace(s)
      val base = CassandraModel.users(s)
      val incoming = s.createDataFrame(
        s.sparkContext.parallelize(Seq(
          Row(1, "Alice", "alice@example.com"),      // idempotent re-insert
          Row(2, "Bob", "bob@refresh.example"),       // key overwrite
          Row(4, "Dana", "dana@example.com")), 1),    // new key
        CassandraModel.usersSchema)
      val merged = CassandraModel.upsert(base, incoming, Seq("id"))
      saveTable(merged, s"${CassandraModel.Keyspace}.users")
      s.table(s"${CassandraModel.Keyspace}.users").orderBy("id")
    },

    // Locality analog: co-bucketed orders ⋈ customer on the key — the
    // bucketed scans already satisfy the join's distribution, so the join
    // runs with zero Exchange nodes (PlanSpec asserts this). This is the
    // honest Spark-native equivalent of the reference's token-aware local
    // read: data pre-placed by key, compute aligned to placement.
    "q_bucketed_join" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      Seq(("graft_orders_b", o, "o_custkey"), ("graft_customer_b", c, "c_custkey"))
        .foreach { case (name, df, key) =>
          s.sql(s"DROP TABLE IF EXISTS $name")
          rmPath(s, name)
          df.write.mode(SaveMode.Overwrite)
            .bucketBy(8, key).sortBy(key).saveAsTable(name)
        }
      val ob = s.table("graft_orders_b")
      val cb = s.table("graft_customer_b")
      ob.join(cb, ob("o_custkey") === cb("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // The CassandraCatalog analog (graft.sources.GraftCatalog): keyspace and
    // table DDL through a DSv2 catalog plugin, with INSERT-as-upsert enforced
    // by the write path itself (BatchWrite.commit merges by the declared
    // key, last-write-wins) — the engine-level form of Cassandra's INSERT
    // semantics that q_users_upsert implements as a model-layer helper.
    // Same upsert batch as q_users_upsert: idempotent re-insert, key
    // overwrite, new key.
    "q_catalog_upsert" -> { (s, _) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.users")
      s.sql("CREATE TABLE graftcat.testks.users (id INT, name STRING, email STRING) " +
        "TBLPROPERTIES ('key'='id')")
      s.sql("INSERT INTO graftcat.testks.users VALUES " +
        "(1,'Alice','alice@example.com'), (2,'Bob','bob@example.com'), " +
        "(3,'Charlie','charlie@example.com')")
      s.sql("INSERT INTO graftcat.testks.users VALUES " +
        "(1,'Alice','alice@example.com'), " + // idempotent re-insert
        "(2,'Bob','bob@refresh.example'), " + // key overwrite
        "(4,'Dana','dana@example.com')")      // new key
      s.sql("SELECT * FROM graftcat.testks.users ORDER BY id")
    },

    // CQL DELETE through the catalog (SupportsDelete): `DELETE FROM t WHERE
    // key = ?` / `key IN (...)` removes by partition key — the only DELETE
    // shape CQL allows (a non-key predicate is rejected at analysis, like
    // the CQL error). Deleting an absent key (99) is a silent no-op —
    // Cassandra tombstone semantics. The reference's stack exposes this
    // via the same connector catalog (userdata/cloudinit.sh:461).
    "q_users_delete" -> { (s, _) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.users_del")
      s.sql("CREATE TABLE graftcat.testks.users_del (id INT, name STRING, email STRING) " +
        "TBLPROPERTIES ('key'='id')")
      s.sql("INSERT INTO graftcat.testks.users_del VALUES " +
        "(1,'Alice','alice@example.com'), (2,'Bob','bob@example.com'), " +
        "(3,'Charlie','charlie@example.com'), (4,'Dana','dana@example.com')")
      s.sql("DELETE FROM graftcat.testks.users_del WHERE id = 2")
      s.sql("DELETE FROM graftcat.testks.users_del WHERE id IN (4, 99)")
      s.sql("SELECT * FROM graftcat.testks.users_del ORDER BY id")
    },

    // Storage-partitioned join (SURVEY.md §4.1, last row): both sides come
    // from the DSv2 source graft.sources.KVDataSource, which reports its
    // key-grouped layout via SupportsReportPartitioning/KeyGroupedPartitioning
    // and HasPartitionKey splits — so the equi-join on the nation key elides
    // BOTH shuffles (PlanSpec asserts zero Exchange). This is the truest
    // Spark-native analog of the reference's token-aware local read
    // (reference: README.md:135): the source declares who owns each key
    // range, and the join happens where the data lies. The merge hint only
    // rules out a broadcast plan, which would have hidden the property under
    // demonstration.
    "q_spj_join" -> { (s, dir) =>
      val (nName, cName) = stageKv(s, dir)
      val n = s.read.format("graft.sources.KVDataSource").option("table", nName).load()
      val c = s.read.format("graft.sources.KVDataSource").option("table", cName).load()
      n.join(c.hint("merge"), n("n_nationkey") === c("c_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(12, 2))).cast(DoubleType).as("total_bal"))
        .orderBy("n_nationkey")
    },

    // system.size_estimates analog — the system table the production
    // connector polls to size its token-range splits (Cassandra publishes
    // per-range partition counts and mean sizes; the connector divides the
    // ring by them). The engine serves the same shape from the registry's
    // real per-split metadata on the identity-token ring: one row per key
    // range [key, key+1) with its CQL-partition count and row estimate —
    // the numbers estimateStatistics feeds Catalyst. Metadata-only: no data
    // row is materialized (ring-bounded, like every system table read).
    "q_kv_size_estimates" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      val entry = graft.sources.KeyGroupedRegistry.get(cName)
      val rows = entry.parts.map { case (k, rs) =>
        val tok = k.head.asInstanceOf[Number].longValue
        ("customer", tok, tok + 1, 1L, rs.length.toLong)
      }.toSeq
      s.createDataFrame(rows)
        .toDF("table_name", "range_start", "range_end",
          "partitions_count", "row_estimate")
        .orderBy("range_start")
    },

    // Ring topology change (nodetool bootstrap/decommission analog): the
    // same per-nation aggregate is read under THREE live topologies — the
    // bootstrap 3-node ring, after graft-node-3 joins (its vnodes take
    // arcs, placement re-routes at next plan — the logical re-stream),
    // and after graft-node-0 decommissions (its arcs fold into
    // successors). The oracle is the aggregate × 3: topology moves
    // OWNERSHIP, never data — no row lost, duplicated, or changed by a
    // resize, which is exactly what a user of an elastic ring must be able
    // to rely on. Each phase is FORCED while its topology is live (the
    // 25-row aggregate is collected per phase — ring-bounded, not a data
    // path); arc-movement bounds are pinned in UpsertSpec.
    "q_kv_ring_scale" -> { (s, dir) =>
      import graft.sources.KVRing
      val (_, cName) = stageKv(s, dir)
      def phase(tag: String): Seq[(String, Long, Long, Double)] =
        s.read.format("graft.sources.KVDataSource").option("table", cName).load()
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(DecimalType(12, 2)))
              .cast(DoubleType).as("bal"))
          .collect()
          .map(r => (tag, r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      KVRing.resetTopology()
      try {
        val base = phase("1_base3")
        KVRing.addNode("graft-node-3")
        require(KVRing.liveHosts.contains("graft-node-3"))
        val grown = phase("2_bootstrap4")
        KVRing.decommission("graft-node-0")
        require(!KVRing.liveHosts.contains("graft-node-0"))
        val shrunk = phase("3_decommissioned")
        s.createDataFrame(base ++ grown ++ shrunk)
          .toDF("phase", "c_nationkey", "n", "bal")
          .orderBy("phase", "c_nationkey")
      } finally KVRing.resetTopology()
    },

    // BOOTSTRAP DATA MOVEMENT on ring scale-out — C11 models ownership
    // recompute; this models the STREAM Cassandra runs under it: when a
    // node joins, every key whose replica set gains the joiner has its
    // rows COPIED to the joiner's store (bootstrap streaming), and rows on
    // hosts that lost ownership are dropped by cleanup (nodetool cleanup).
    // The new node joins at EXPLICIT initial_token positions (15 + 90j —
    // Cassandra's initial_token list, KVRing.addNodeAt), which makes the
    // whole movement pure modular arithmetic over declared positions: the
    // DuckDB oracle replays placement (first-RF-distinct-hosts = hosts
    // ordered by min clockwise vnode distance) before and after and
    // recomputes the per-host key/row accounting with no engine literals.
    // The per-host stores are materialized from placement, the stream and
    // cleanup are applied to them, and convergence (stores == post-ring
    // placement) is REQUIRED, as are the two consistent-hashing movement
    // bounds (only the joiner gains data; each key displaces at most one
    // old replica) and the byte-equal-read gate: a distributed content
    // fingerprint (count + summed portable row hash over size-coalesced
    // splits) must be identical before and after — bootstrap moves bytes,
    // never changes them. Placement is driver-held ring×partition METADATA
    // (Cassandra's token map); the row data itself only flows through the
    // fingerprint scans. Output: per-(phase, host) key/row ownership with
    // streamed-in/cleaned-up key counts.
    "q_kv_bootstrap_stream" -> { (s, dir) =>
      import graft.sources.KVRing
      val name = stageBootOrders(s, dir)
      val keyRows = bootKeyRows(name)
      val joiner = "graft-node-3"
      KVRing.resetTopology()
      try {
        val fpBefore = bootFingerprint(s, name)
        val before = keyRows.map { case (k, _) => k -> KVRing.replicasOf(k) }.toMap
        KVRing.addNodeAt(joiner, Seq(15, 105, 195, 285, 375, 465, 555, 645))
        val after = keyRows.map { case (k, _) => k -> KVRing.replicasOf(k) }.toMap
        // the stream, applied to materialized per-host stores: only the
        // joiner may gain data, and each key displaces at most one old
        // replica (the consistent-hashing movement bounds)
        keyRows.foreach { case (k, _) =>
          val gained = after(k).toSet -- before(k).toSet
          require(gained.subsetOf(Set(joiner)),
            s"bootstrap streamed key $k to a pre-existing node: $gained")
          require((before(k).toSet -- after(k).toSet).size <= 1,
            s"bootstrap displaced more than one replica of key $k")
        }
        applyRingStream(keyRows, before, after)
        val fpAfter = bootFingerprint(s, name)
        require(fpBefore == fpAfter,
          s"bootstrap changed read content: $fpBefore -> $fpAfter")
        s.createDataFrame(
          ringPhaseRows("1_before", keyRows, before, None) ++
            ringPhaseRows("2_after", keyRows, after, Some(before)))
          .toDF("phase", "host", "n_keys", "n_rows",
            "streamed_in_keys", "cleaned_up_keys")
          .orderBy("phase", "host")
      } finally KVRing.resetTopology()
    },

    // DECOMMISSION DATA MOVEMENT — the ring lifecycle's other half (CQL
    // `nodetool decommission`): the leaver STREAMS each of its partitions
    // to the key's replacement replica (the next distinct host clockwise)
    // before leaving; nothing else moves. Same declared-arithmetic oracle
    // as the bootstrap: the after-ring is simply the default ring minus
    // the leaver's vnodes, so DuckDB replays placement both sides and
    // recomputes the accounting. Movement bounds REQUIRED in-engine: keys
    // that never listed the leaver are untouched; keys that did gain
    // EXACTLY one replacement host; store convergence and the byte-equal
    // read fingerprint gate hold as in the bootstrap.
    "q_kv_decommission_stream" -> { (s, dir) =>
      import graft.sources.KVRing
      val name = stageBootOrders(s, dir)
      val keyRows = bootKeyRows(name)
      val leaver = "graft-node-1"
      KVRing.resetTopology()
      try {
        val fpBefore = bootFingerprint(s, name)
        val before = keyRows.map { case (k, _) => k -> KVRing.replicasOf(k) }.toMap
        KVRing.decommission(leaver)
        val after = keyRows.map { case (k, _) => k -> KVRing.replicasOf(k) }.toMap
        keyRows.foreach { case (k, _) =>
          val b = before(k).toSet; val a = after(k).toSet
          require(!a.contains(leaver), s"key $k still replicated on the leaver")
          if (!b.contains(leaver))
            require(a == b, s"key $k moved without touching the leaver: $b -> $a")
          else {
            require((a -- b).size == 1,
              s"key $k gained ${(a -- b).size} replacements, expected exactly 1")
            require((b -- a) == Set(leaver),
              s"key $k lost a non-leaver replica: ${b -- a}")
          }
        }
        applyRingStream(keyRows, before, after)
        val fpAfter = bootFingerprint(s, name)
        require(fpBefore == fpAfter,
          s"decommission changed read content: $fpBefore -> $fpAfter")
        s.createDataFrame(
          ringPhaseRows("1_before", keyRows, before, None) ++
            ringPhaseRows("2_after", keyRows, after, Some(before)))
          .toDF("phase", "host", "n_keys", "n_rows",
            "streamed_in_keys", "cleaned_up_keys")
          .orderBy("phase", "host")
      } finally KVRing.resetTopology()
    },

    // Point read by partition key on the DSv2 source: a key-equality filter
    // is pushed into the scan, which then plans ONLY the split owning that
    // key (KVScanBuilder → partition pruning; PlanSpec asserts 1 planned
    // split) — the reference stack's Cassandra point read, where the
    // coordinator routes a key lookup to the replica owning its token range.
    "q_kv_point_read" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", cName).load()
        .filter(col("c_nationkey") === 3)
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // joinWithCassandraTable analog (the connector's RDD-level entry point,
    // re-expressed Dataset-first — r9 verdict item 6): a TYPED driver-side
    // key set (Dataset[Long] via its Encoder, the `RDD[K]` of the RDD API)
    // inner-joined against the KV table on its partition key. DirectJoinRule
    // (installed by Sessions.local through GraftExtensions) rewrites the
    // join into a pushed `c_nationkey IN (...)` point read, so only the
    // splits owning the requested keys are planned (PlanSpec asserts
    // planned < ring size) — exactly joinWithCassandraTable's
    // contract: per-left-element point lookups, left multiplicity preserved
    // (key 3 appears twice → its matches appear twice), keys with no
    // partition (99) yield nothing. At 100 TB the key list must stay
    // driver-sized — the rule's MaxKeys guard — or the plan correctly stays
    // a join; that mirrors the connector's directJoinSizeRatio gate.
    "q_kv_typed_join" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      import s.implicits._
      val keys = Seq(1L, 3L, 3L, 7L, 99L).toDS().toDF("k")
      val kv = s.read.format("graft.sources.KVDataSource")
        .option("table", cName).load()
      keys.join(kv, col("k") === col("c_nationkey"))
        .select(col("k"), col("c_custkey"), col("c_acctbal"))
        .orderBy("k", "c_custkey")
    },

    // Runtime split pruning on the KV source (SupportsRuntimeFiltering): the
    // dim side's surviving keys are only known at execution (the filter is
    // on a non-key column), so DirectJoinRule's static rewrite can't apply —
    // instead Spark evaluates the broadcast dim, hands the discovered key
    // set to KVScan.filter, and re-plans the fact scan to ONLY the splits
    // owning those keys (PlanSpec asserts <=3 planned). The dynamic form of
    // the connector's directJoin: point reads routed by runtime keys. At
    // 100 TB this is the difference between scanning the ring and reading
    // three partitions.
    "q_kv_runtime_prune" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      val fact = s.read.format("graft.sources.KVDataSource").option("table", cName).load()
      val dim = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType).as("k"), col("n_name"))
        .filter(col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))
      fact.join(dim, col("c_nationkey") === col("k"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(DecimalType(12, 2))).cast(DoubleType).as("total_bal"))
        .orderBy("n_name")
    },

    // The full SURVEY §1.2 CQL↔Catalyst type table in one round-trip: every
    // public type of the modeled engine — int/text/bigint/smallint/tinyint/
    // float/double/decimal/boolean/date/timestamp/uuid/inet (as text)/blob/
    // varint (DECIMAL(38,0) — covers CQL varints to 38 digits; wider needs
    // a text codec)/time (BIGINT nanos since midnight, the driver's own
    // wire shape)/list/set/map/tuple — written through the catalog's upsert
    // path (row 1 is overwritten; the set column is deduped+ordered on
    // write, CQL set semantics) and read back. CQL `duration` is
    // deliberately UNMAPPED: it is non-comparable in CQL (no ordering, no
    // stable normalized encoding across (months, days, nanos) triples), so
    // no oracle-checkable roundtrip exists — a production mapping would be
    // an opaque 3-int struct. Output serialization follows the oracle
    // portability rules: blob → base64, collections/struct → to_json,
    // decimal/varint → full-scale string; everything else rides its native
    // type.
    "q_types_roundtrip" -> { (s, _) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.typed")
      s.sql("""CREATE TABLE graftcat.testks.typed (
        id INT, t_text STRING, t_bigint BIGINT, t_smallint SMALLINT,
        t_tinyint TINYINT, t_float FLOAT, t_double DOUBLE,
        t_decimal DECIMAL(38,18), t_boolean BOOLEAN, t_date DATE,
        t_ts TIMESTAMP, t_uuid STRING, t_inet STRING, t_blob BINARY,
        t_varint DECIMAL(38,0), t_time BIGINT,
        t_list ARRAY<INT>, t_set ARRAY<STRING>, t_map MAP<STRING,INT>,
        t_tuple STRUCT<a:INT,b:STRING>)
        TBLPROPERTIES ('key'='id', 'sets'='t_set')""")
      // stage the write log (batch 0 = the stale row 1, batch 1 = the final
      // rows) as parquet at a FIXED path, then drive the catalog inserts
      // FROM that log — so the DuckDB oracle can recompute the upsert winner
      // (max batch per id) and every output serialization from the same
      // staged rows instead of trusting an expected-value literal
      // the staged content is fully deterministic, so if a previous run
      // already left it (with its _SUCCESS marker) SKIP the rewrite — a
      // concurrent run's overwrite could otherwise delete files out from
      // under another process's oracle read
      val typesStaged =
        new java.io.File("/tmp/graft-types-input-v2/_SUCCESS").exists
      if (!typesStaged) s.sql("""SELECT * FROM VALUES
        (0, 1, 'stale', CAST(-1 AS BIGINT), -1S, -1Y, CAST(-1.0 AS FLOAT), -1.0,
         CAST('-1' AS DECIMAL(38,18)), false, DATE'1999-01-01',
         TIMESTAMP'1999-01-01 00:00:00', 'x', 'x', X'00',
         CAST('-1' AS DECIMAL(38,0)), CAST(-1 AS BIGINT),
         array(0), array('z'), map('z', 0), named_struct('a', 0, 'b', 'z')),
        (1, 1, 'alpha', 9007199254740993, 7S, 3Y, CAST(1.5 AS FLOAT), 2.25,
         CAST('123456789.123456789' AS DECIMAL(38,18)), true, DATE'2024-03-01',
         TIMESTAMP'2024-03-01 12:34:56',
         '550e8400-e29b-41d4-a716-446655440000', '10.0.0.1', X'6772616674',
         CAST('12345678901234567890123456789012345678' AS DECIMAL(38,0)),
         CAST(45296123456789 AS BIGINT),
         array(3, 1, 2), array('b', 'a', 'b'), map('k1', 1, 'k2', 2),
         named_struct('a', 42, 'b', 'answer')),
        (1, 2, 'beta', CAST(-5 AS BIGINT), -7S, -3Y, CAST(0.25 AS FLOAT), -2.5,
         CAST('-0.5' AS DECIMAL(38,18)), false, DATE'1970-01-01',
         CAST(NULL AS TIMESTAMP), '00000000-0000-0000-0000-000000000000',
         '192.168.1.255', X'00FF',
         CAST('-98765432109876543210987654321098765432' AS DECIMAL(38,0)),
         CAST(0 AS BIGINT), CAST(array() AS ARRAY<INT>),
         array('solo'), CAST(map() AS MAP<STRING,INT>),
         named_struct('a', -1, 'b', ''))
        AS t(_batch, id, t_text, t_bigint, t_smallint, t_tinyint, t_float,
          t_double, t_decimal, t_boolean, t_date, t_ts, t_uuid, t_inet,
          t_blob, t_varint, t_time, t_list, t_set, t_map, t_tuple)""")
        .write.mode(SaveMode.Overwrite).parquet("/tmp/graft-types-input-v2")
      val log = s.read.parquet("/tmp/graft-types-input-v2")
      Seq(0, 1).foreach { b =>
        log.filter(col("_batch") === b).drop("_batch")
          .writeTo("graftcat.testks.typed").append()
      }
      s.sql("""SELECT id, t_text, t_bigint, t_smallint, t_tinyint, t_float,
          t_double, CAST(t_decimal AS STRING) AS t_decimal_str, t_boolean,
          t_date, t_ts, t_uuid, t_inet, base64(t_blob) AS t_blob_b64,
          CAST(t_varint AS STRING) AS t_varint_str, t_time,
          to_json(t_list) AS t_list_json, to_json(t_set) AS t_set_json,
          to_json(t_map) AS t_map_json, to_json(t_tuple) AS t_tuple_json
        FROM graftcat.testks.typed ORDER BY id""")
    },

    // CQL `USING TIMESTAMP` — last-write-wins by CLIENT timestamp, not
    // arrival order (the reconciliation rule every Cassandra cell obeys;
    // reference stack's write path, userdata/cloudinit.sh:307-314). Orders
    // rows become timestamped writes (writetime = o_orderkey micros, ~10
    // writes per key), applied as three parity batches PLUS a verbatim
    // stale replay of the first batch — which must change nothing. The
    // oracle RECOMPUTES the winner per key in DuckDB (row with the max
    // writetime) instead of trusting a literal; the tie-break and
    // commutativity corners are property-tested in UpsertSpec.
    "q_kv_writetime" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.lww")
      s.sql("CREATE TABLE graftcat.testks.lww (id BIGINT, ordkey BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt')")
      val w = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(pmod(col("o_custkey"), lit(10)).cast(LongType).as("id"),
          col("o_orderkey").as("ordkey"), col("o_orderkey").as("wt"))
      Seq(0, 1, 2, 0).foreach { parity => // trailing 0 = stale replay, a no-op
        w.filter(pmod(col("ordkey"), lit(3)) === parity)
          .writeTo("graftcat.testks.lww").append()
      }
      s.sql("SELECT id, ordkey, wt FROM graftcat.testks.lww ORDER BY id")
    },

    // CQL `USING TTL` — per-write expiry enforced on the READ path against a
    // logical clock (Cassandra filters expired cells at read; compaction
    // reclaims later). Hundreds of sessions derive from orders with
    // deterministic write times (epoch second = o_orderkey) and TTLs (NULL
    // for every 5th key = immortal; otherwise o_orderkey % 100 seconds);
    // the same table is scanned twice with different `now` read options —
    // rows expire as the clock advances, no rewrite in between — and the
    // oracle RECOMPUTES `wt + ttl > now` per read in DuckDB.
    "q_kv_ttl" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.sessions_ttl")
      s.sql("CREATE TABLE graftcat.testks.sessions_ttl " +
        "(sid BIGINT, wt BIGINT, ttl INT) " +
        "TBLPROPERTIES ('key'='sid', 'writetime'='wt', 'ttl'='ttl')")
      Tables.load(s, dir, "orders").filter(col("o_custkey") <= 50)
        .select(col("o_orderkey").as("sid"),
          (col("o_orderkey") * 1000000L).as("wt"), // micros; epoch sec = sid
          when(pmod(col("o_orderkey"), lit(5)) === 0, lit(null))
            .otherwise(pmod(col("o_orderkey"), lit(100))).cast(IntegerType).as("ttl"))
        .writeTo("graftcat.testks.sessions_ttl").append()
      def liveAt(label: String, now: Long) =
        s.read.option("now", now.toString).table("graftcat.testks.sessions_ttl")
          .groupBy(lit(label).as("read_at"))
          .agg(count(lit(1)).as("n_live"),
            min("sid").as("min_sid"), max("sid").as("max_sid"),
            sum(when(col("ttl").isNull, 1L).otherwise(0L)).as("n_immortal"))
      liveAt("T1", 30000L).unionByName(liveAt("T2", 70000L)).orderBy("read_at")
    },

    // CQL counter table — writes are INCREMENTS merged additively into the
    // stored value (`UPDATE t SET hits = hits + ?`), the one CQL write that
    // is not a blind overwrite. Per-type event counts arrive as TWO partial
    // batches (split by event_id parity — any partitioning works, increments
    // commute); the converged table equals the full per-type counts. This is
    // the distributed-aggregation shape Cassandra counters exist for:
    // shards push partial counts, the store folds them.
    "q_kv_counter" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.hits")
      s.sql("CREATE TABLE graftcat.testks.hits (event_type STRING, hits BIGINT) " +
        "TBLPROPERTIES ('key'='event_type', 'counters'='hits')")
      val ev = Tables.load(s, dir, "events")
      Seq(0, 1).foreach { parity =>
        ev.filter(pmod(col("event_id"), lit(2)) === parity)
          .groupBy("event_type")
          .agg(count(lit(1)).as("hits"))
          .writeTo("graftcat.testks.hits").append()
      }
      s.sql("SELECT event_type, hits FROM graftcat.testks.hits ORDER BY event_type")
    },

    // CQL lightweight transaction `INSERT ... IF NOT EXISTS` — first writer
    // wins, a later insert of an existing key is NOT applied (Cassandra
    // returns [applied]=false). Row 2's second write is rejected; row 3 is
    // fresh and lands. The flag rides the v2 writer options, like the
    // connector's write configs.
    "q_kv_insert_if_absent" -> { (s, _) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.claims")
      s.sql("CREATE TABLE graftcat.testks.claims (id INT, owner STRING) " +
        "TBLPROPERTIES ('key'='id')")
      s.sql("INSERT INTO graftcat.testks.claims VALUES (1, 'alpha'), (2, 'alpha')")
      s.sql("SELECT 2 AS id, 'beta' AS owner UNION ALL SELECT 3, 'beta'")
        .writeTo("graftcat.testks.claims")
        .option("ifNotExists", "true").append()
      s.sql("SELECT * FROM graftcat.testks.claims ORDER BY id")
    },

    // CQL `UPDATE ... IF EXISTS` — the LWT dual of INSERT IF NOT EXISTS: a
    // conditional batch applies only to keys ALREADY present (atomic
    // replace-if-present, so a racing DELETE can never be resurrected); an
    // absent key is a silent non-apply. Base = nations 0..14; the
    // conditional batch spans 10..19, so exactly 10..14 update and 15..19
    // vanish without a trace — which the oracle recomputes.
    "q_kv_update_if_exists" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.cond")
      s.sql("CREATE TABLE graftcat.testks.cond (k BIGINT, name STRING) " +
        "TBLPROPERTIES ('key'='k')")
      Tables.load(s, dir, "nation").filter(col("n_nationkey") < 15)
        .select(col("n_nationkey").cast(LongType).as("k"),
          col("n_name").as("name"))
        .writeTo("graftcat.testks.cond").append()
      Tables.load(s, dir, "nation")
        .filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
        .select(col("n_nationkey").cast(LongType).as("k"),
          concat(lit("upd_"), col("n_name")).as("name"))
        .writeTo("graftcat.testks.cond").option("ifexists", "true").append()
      s.sql("SELECT * FROM graftcat.testks.cond ORDER BY k")
    },

    // CQL `UPDATE ... IF col = ?` — the GENERAL lightweight transaction (IF
    // [NOT] EXISTS are its special cases): the conditional batch applies
    // only where the STORED row's status column equals 'open'; rows whose
    // stored status is 'closed' and rows whose key is absent both fail the
    // condition (CQL [applied]=false). Batches commit sequentially, so the
    // oracle recomputes the applied set from the first batch's state.
    "q_kv_lwt_condition" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.lwt")
      s.sql("CREATE TABLE graftcat.testks.lwt " +
        "(k BIGINT, status STRING, v BIGINT) TBLPROPERTIES ('key'='k')")
      val c = Tables.load(s, dir, "customer")
      // establish: custkey <= 200, BUILDING segment rows are 'open'
      c.filter(col("c_custkey") <= 200)
        .select(col("c_custkey").cast(LongType).as("k"),
          when(col("c_mktsegment") === "BUILDING", lit("open"))
            .otherwise(lit("closed")).as("status"),
          col("c_nationkey").cast(LongType).as("v"))
        .writeTo("graftcat.testks.lwt").append()
      // conditional: custkey <= 300 (a third of the keys are absent) tries
      // status='done', v=v*10 — applies ONLY to stored-'open' rows
      c.filter(col("c_custkey") <= 300)
        .select(col("c_custkey").cast(LongType).as("k"),
          lit("done").as("status"),
          (col("c_nationkey") * 10).cast(LongType).as("v"))
        .writeTo("graftcat.testks.lwt").option("ifeq", "status:open").append()
      s.sql("SELECT * FROM graftcat.testks.lwt ORDER BY k")
    },

    // CQL UPDATE semantics — PER-CELL writetime/TTL LWW (the reconciliation
    // granule of the pinned Cassandra 4.0.6, userdata/cloudinit.sh:216): an
    // UPDATE that SETs a column subset wins only those cells, each cell
    // carrying its own timestamp and TTL. Orders-derived writes: a full
    // INSERT batch (both data columns + the row marker, TTL'd), then an
    // UPDATE batch touching ONLY column a at wt+1 with its own shorter
    // TTLs. Read at a fixed logical clock: per id, column a shows the
    // max-wt a-write IF un-expired (an expired winner reads NULL — it never
    // resurrects the value it shadowed), column b shows the max-wt base
    // write, wt shows the max live-contributor timestamp, and a row with no
    // live marker and no visible cell disappears. The oracle recomputes the
    // cell-wise winner per column in DuckDB from the same derivation.
    "q_kv_cell_lww" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.cells")
      s.sql("CREATE TABLE graftcat.testks.cells " +
        "(id BIGINT, a BIGINT, b DOUBLE, wt BIGINT, ttl INT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'ttl'='ttl', " +
        "'cellwise'='true')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(20)).cast(LongType).as("id"),
          col("o_totalprice").as("price"))
      // full INSERT: both cells + row marker at wt = ok micros (epoch sec =
      // ok); every 5th write immortal, the rest expire at (ok%100)*20+30 s
      o.select(col("id"), col("ok").as("a"), col("price").as("b"),
          (col("ok") * 1000000L).as("wt"),
          when(pmod(col("ok"), lit(5)) === 0, lit(null))
            .otherwise(pmod(col("ok"), lit(100)) * 20 + 30)
            .cast(IntegerType).as("ttl"))
        .writeTo("graftcat.testks.cells").append()
      // UPDATE SET a = ... — column b is NULL = UNTOUCHED (not a write);
      // wt+1 micros beats the same order's INSERT for cell a only. Every
      // 12th update is immortal (a visible update win); the rest carry
      // TTL=1 s, so whenever such an update is an id's newest a-write, cell
      // a reads NULL at any read clock while b keeps its base value — the
      // STRUCTURAL per-cell divergence whole-row LWW cannot produce
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"), (col("ok") + 1000000L).as("a"),
          lit(null).cast(DoubleType).as("b"),
          (col("ok") * 1000000L + 1L).as("wt"),
          when(pmod(col("ok"), lit(12)) === 0, lit(null))
            .otherwise(lit(1))
            .cast(IntegerType).as("ttl"))
        .writeTo("graftcat.testks.cells").option("update", "true").append()
      // read at now = max(ok) + 50 s: scale-invariant mix — per-id winners
      // within ~50 s of the head stay live unless their TTL is short, the
      // stragglers expire, and ids whose marker AND cells all expired
      // disappear entirely
      val now = o.agg(max("ok")).head.getLong(0) + 50
      s.read.option("now", now.toString).table("graftcat.testks.cells")
        .select("id", "a", "b", "wt").orderBy("id")
    },

    // CQL `SELECT WRITETIME(a), TTL(a)` — cell-metadata projections (the
    // 'cellwt'/'cellttl' table properties): read-only columns serving the
    // winning LIVE cell's own write timestamp (micros) and remaining TTL
    // (seconds at the read clock), NULL for dead/absent cells. Same
    // orders-derived interleaved INSERT/UPDATE log as q_kv_cell_lww, so
    // the projections expose exactly the per-cell state that query proves:
    // an id whose newest a-write is a short-TTL update reads a = NULL AND
    // a_wt = NULL even though the row (marker, b) lives on.
    "q_kv_writetime_fn" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.cellmeta")
      s.sql("CREATE TABLE graftcat.testks.cellmeta " +
        "(id BIGINT, a BIGINT, b DOUBLE, wt BIGINT, ttl INT, " +
        "a_wt BIGINT, a_ttl BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'ttl'='ttl', " +
        "'cellwise'='true', 'cellwt'='a_wt:a', 'cellttl'='a_ttl:a')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(20)).cast(LongType).as("id"),
          col("o_totalprice").as("price"))
      val nulls = Seq(lit(null).cast(LongType).as("a_wt"),
        lit(null).cast(LongType).as("a_ttl"))
      o.select(Seq(col("id"), col("ok").as("a"), col("price").as("b"),
          (col("ok") * 1000000L).as("wt"),
          when(pmod(col("ok"), lit(5)) === 0, lit(null))
            .otherwise(pmod(col("ok"), lit(100)) * 20 + 30)
            .cast(IntegerType).as("ttl")) ++ nulls: _*)
        .writeTo("graftcat.testks.cellmeta").append()
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(Seq(col("id"), (col("ok") + 1000000L).as("a"),
          lit(null).cast(DoubleType).as("b"),
          (col("ok") * 1000000L + 1L).as("wt"),
          when(pmod(col("ok"), lit(12)) === 0, lit(null))
            .otherwise(lit(1))
            .cast(IntegerType).as("ttl")) ++ nulls: _*)
        .writeTo("graftcat.testks.cellmeta").option("update", "true").append()
      val now = o.agg(max("ok")).head.getLong(0) + 50
      s.read.option("now", now.toString).table("graftcat.testks.cellmeta")
        .select("id", "a", "a_wt", "a_ttl").orderBy("id")
    },

    // CQL `DELETE a FROM t WHERE k = ?` — COLUMN deletes (the 'delcols'
    // write option): the named column is tombstoned at the statement
    // timestamp, every other cell and the row marker untouched — the row
    // lives on, the column reads NULL, and a LATER write resurrects it
    // (delete-then-update, the sequence that exposes any row-granular
    // shortcut). Timestamps are ok*4 / ok*4+1 / ok*4+2 so insert, delete
    // and resurrect never tie, per cell or across orders. The oracle
    // replays the same per-cell log and takes the max-writetime winner per
    // (id, column).
    "q_kv_cell_delete" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.coldel")
      s.sql("CREATE TABLE graftcat.testks.coldel " +
        "(id BIGINT, a BIGINT, b DOUBLE, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(20)).cast(LongType).as("id"),
          col("o_totalprice").as("price"))
      // full INSERT: both cells + marker at wt = ok*4
      o.select(col("id"), col("ok").as("a"), col("price").as("b"),
          (col("ok") * 4L).as("wt"))
        .writeTo("graftcat.testks.coldel").append()
      // DELETE a: every 3rd order tombstones cell a at wt = ok*4+1 — beats
      // that order's insert for a only; b and the marker stay
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"), lit(null).cast(LongType).as("a"),
          lit(null).cast(DoubleType).as("b"), (col("ok") * 4L + 1L).as("wt"))
        .writeTo("graftcat.testks.coldel").option("delcols", "a").append()
      // resurrect: every 6th order re-writes a at wt = ok*4+2 via UPDATE
      o.filter(pmod(col("ok"), lit(6)) === 0)
        .select(col("id"), (col("ok") + 7L).as("a"),
          lit(null).cast(DoubleType).as("b"), (col("ok") * 4L + 2L).as("wt"))
        .writeTo("graftcat.testks.coldel").option("update", "true").append()
      // stale delete of b at wt = 1: loses to every insert — a no-op
      o.filter(pmod(col("ok"), lit(4)) === 0)
        .select(col("id"), lit(null).cast(LongType).as("a"),
          lit(null).cast(DoubleType).as("b"), lit(1L).as("wt"))
        .writeTo("graftcat.testks.coldel").option("delcols", "b").append()
      s.table("graftcat.testks.coldel").select("id", "a", "b").orderBy("id")
    },

    // CQL set<T> element-wise merge — the collection semantics a user hits
    // with `UPDATE t SET tags = tags + {..}` / `tags = tags - {..}`
    // (modeled engine: Cassandra 4.0.6, userdata/cloudinit.sh:216): every
    // element is its own cell with its own timestamp, an INSERT assign
    // shadows all older state through a collection tombstone at wt−1 (so
    // its own cells survive it — Cassandra's overwrite rule), adds and
    // removes merge element-wise by (timestamp, tombstone-wins-tie), and a
    // read materializes the sorted live elements (empty set = NULL). The
    // oracle replays the same per-element LWW from the derived write log;
    // UpsertSpec property-tests order-independent convergence. The result
    // EXPLODEs the set so the comparison is scalar-valued.
    "q_kv_set_merge" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.settags")
      s.sql("CREATE TABLE graftcat.testks.settags " +
        "(id BIGINT, tags ARRAY<STRING>, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true', " +
        "'sets'='tags')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(40)).cast(LongType).as("id"))
      def tag(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("t"), pmod(e, lit(7)).cast(StringType))
      // INSERT assign: every 11th order replaces the whole set at wt = ok µs
      o.filter(pmod(col("ok"), lit(11)) === 0)
        .select(col("id"), array(tag(col("ok")), tag(col("ok") + 1)).as("tags"),
          (col("ok") * 1000000L).as("wt"))
        .writeTo("graftcat.testks.settags").append()
      // UPDATE add (`tags = tags + ?`): every 3rd order, one element, wt+1
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"), array(tag(col("ok") + 2)).as("tags"),
          (col("ok") * 1000000L + 1L).as("wt"))
        .writeTo("graftcat.testks.settags").option("update", "true").append()
      // UPDATE remove (`tags = tags - ?`): every 5th order tombstones one
      // element at wt+2
      o.filter(pmod(col("ok"), lit(5)) === 0)
        .select(col("id"), array(tag(col("ok"))).as("tags"),
          (col("ok") * 1000000L + 2L).as("wt"))
        .writeTo("graftcat.testks.settags")
        .option("update", "true").option("collremove", "true").append()
      s.read.table("graftcat.testks.settags")
        .select(col("id"), explode(col("tags")).as("tag"))
        .orderBy("id", "tag")
    },

    // CQL map<K,V> entry-wise merge — the sibling of the set path: each
    // entry is its own cell keyed by the map key (`m[k] = v` puts win
    // per-entry LWW, an INSERT assign shadows older entries via the
    // collection tombstone at wt−1, collremove tombstones BY KEY — CQL's
    // `m = m - {keys}`, operand values ignored). The read materializes the
    // key-sorted live entries; the result EXPLODEs them so the oracle
    // compares scalar (id, mkey, mval) rows recomputed from the same log.
    "q_kv_map_merge" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.attrs")
      s.sql("CREATE TABLE graftcat.testks.attrs " +
        "(id BIGINT, attrs MAP<STRING, BIGINT>, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true', " +
        "'maps'='attrs')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(30)).cast(LongType).as("id"))
      def mk(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        concat(lit("k"), pmod(e, lit(5)).cast(StringType))
      // INSERT assign: every 7th order replaces the map (two entries)
      o.filter(pmod(col("ok"), lit(7)) === 0)
        .select(col("id"),
          map(mk(col("ok")), col("ok"),
            mk(col("ok") + 1), col("ok") + 1).as("attrs"),
          (col("ok") * 1000000L).as("wt"))
        .writeTo("graftcat.testks.attrs").append()
      // UPDATE put (`m[k] = v`): every 3rd order, one entry at wt+1
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"), map(mk(col("ok") + 2), col("ok") * 2).as("attrs"),
          (col("ok") * 1000000L + 1L).as("wt"))
        .writeTo("graftcat.testks.attrs").option("update", "true").append()
      // UPDATE remove-by-key (`m = m - {k}`): every 5th order at wt+3
      o.filter(pmod(col("ok"), lit(5)) === 0)
        .select(col("id"), map(mk(col("ok")), lit(0L)).as("attrs"),
          (col("ok") * 1000000L + 3L).as("wt"))
        .writeTo("graftcat.testks.attrs")
        .option("update", "true").option("collremove", "true").append()
      s.read.table("graftcat.testks.attrs")
        .select(col("id"), explode(col("attrs")).as(Seq("mkey", "mval")))
        .orderBy("id", "mkey")
    },

    // cqlsh COPY TO / COPY FROM — the CSV bulk unload/load pair: a table
    // projection unloads to headered CSV (distributed write, one file per
    // partition), and a fresh catalog table loads it back through the
    // normal upsert commit (schema-declared read — inference at 100 TB
    // would be an extra full pass). Doubles survive by shortest-
    // representation serialization. The oracle recomputes the loaded
    // table from the source rows.
    "q_catalog_copy" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.copied")
      s.sql("CREATE TABLE graftcat.testks.copied " +
        "(id BIGINT, name STRING, bal DOUBLE) TBLPROPERTIES ('key'='id')")
      val base = s"${sys.props("java.io.tmpdir")}/graft-copy/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      cust.write.mode(SaveMode.Overwrite).option("header", "true").csv(base)
      s.read.schema(cust.schema).option("header", "true").csv(base)
        .writeTo("graftcat.testks.copied").append()
      s.table("graftcat.testks.copied").orderBy("id")
    },

    // Point-in-time SNAPSHOT (nodetool snapshot analog) + restore: phase-1
    // writes, a snapshot taken under the DDL lock (a consistent cut,
    // O(keys) hard links — row arrays are immutable under the merge
    // discipline), then phase-2 overwrites/inserts/deletes. The
    // 'snapshot' read option serves the pre-phase-2 state the oracle
    // recomputes; UpsertSpec additionally restores and checks rollback.
    "q_kv_snapshot" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.snap")
      s.sql("CREATE TABLE graftcat.testks.snap " +
        "(id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.snap").append()
      graft.sources.GraftCatalogStore.snapshotTable("testks", "snap", "s1")
      // phase 2: overwrite evens, insert shifted ids, delete multiples of 5
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.snap").append()
      o.select((col("id") + 1000000L).as("id"), col("id").as("v"),
          lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.snap").append()
      s.sql("DELETE FROM graftcat.testks.snap WHERE id IN " +
        "(SELECT id FROM graftcat.testks.snap WHERE id % 5 = 0 AND id <= 400)")
      s.read.option("snapshot", "s1").table("graftcat.testks.snap")
        .select("id", "v").orderBy("id")
    },

    // MERGE INTO a REPLICATED table — the row-level delta surface composed
    // with 'rf'=2: every delta (upsert and delete) applies the same LWW
    // CAS to EVERY replica, so the post-merge CL=QUORUM read needs no
    // repair and matches the oracle's recomputation of the merge. Deletes
    // also drop the affected keys' pending hints (no resurrection).
    "q_kv_merge_replicated" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.mrep")
      s.sql("CREATE TABLE graftcat.testks.mrep " +
        "(id BIGINT, bal DOUBLE, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2')")
      Tables.load(s, dir, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"),
          lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.mrep").append()
      Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .groupBy(col("o_custkey").as("id")).agg(count(lit(1)).as("n"))
        .createOrReplaceTempView("mrep_src")
      s.sql("""MERGE INTO graftcat.testks.mrep t
        USING mrep_src s ON t.id = s.id
        WHEN MATCHED AND s.n >= 10 THEN DELETE
        WHEN MATCHED THEN UPDATE SET bal = t.bal + s.n, wt = 2000000
        WHEN NOT MATCHED THEN INSERT (id, bal, wt)
          VALUES (s.id, CAST(s.n AS DOUBLE), 2000000)""")
      s.read.option("cl", "quorum").table("graftcat.testks.mrep")
        .select("id", "bal").orderBy("id")
    },

    // DSv2 METADATA COLUMNS (`SupportsMetadataColumns`) — the connector's
    // hidden columns, selectable by name but excluded from SELECT *:
    // `_token` is the row's ring token (what CQL's token(pk) computes —
    // identical to the catalog's token() SQL function and the pushed
    // token-range arcs, so the three surfaces can never disagree). On a
    // single-bigint key the ring token is the identity, which is what
    // makes the DuckDB oracle able to recompute it.
    "q_kv_token_metadata" -> { (s, dir) =>
      val (nName, _) = stageKv(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", nName).load()
        .select(col("n_nationkey"), col("n_name"), col("_token"))
        .orderBy("n_nationkey")
    },

    // repartitionByCassandraReplica analog (the connector's RDD-level
    // entry point, re-expressed DataFrame-first — the last r9-verdict
    // item): the `_replica` metadata column IS the owning host, so
    // `repartition(col("_replica"))` co-locates every row with its
    // replica before a write-back or a directJoin — one shuffle keyed by
    // host, after which each task's writes are replica-LOCAL (the
    // locality the RDD API bought). The declared output aggregates per
    // host; the oracle recomputes placement from the ring's closed form
    // (owner of position p = host ((p+29) div 30) mod 3 on the default
    // ring — the (prev, pos] arc rule), so the engine's actual routing
    // vector is pinned against the documented allocation.
    "q_kv_replica_align" -> { (s, dir) =>
      graft.sources.KVRing.resetTopology()
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .select(col("pk"), col("ck"), col("_replica"))
        .repartition(col("_replica"))
        .groupBy("_replica")
        .agg(count(lit(1)).as("n"), countDistinct("pk").as("n_parts"),
          sum("ck").as("sum_ck"))
        .orderBy("_replica")
    },

    // REPLICATED COUNTERS — Cassandra's counter shards: each increment
    // lands on the leader replica's shard as (clock+1, value+delta) and
    // the updated shard replicates; replicas reconcile shard-wise by MAX
    // CLOCK, which makes repair and hint replay idempotent (the property
    // blind additive merge cannot have — and the reason CQL forbids
    // retrying counter writes but happily replays counter hints). Three
    // increment waves, the middle one missing replica 0: the CL=QUORUM
    // read shard-merges and serves the full totals the oracle recomputes
    // — no increment lost, none double-counted.
    "q_kv_counter_shards" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.hits_rf")
      s.sql("CREATE TABLE graftcat.testks.hits_rf (id BIGINT, n BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'counters'='n', 'rf'='2')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
        .select(pmod(col("o_custkey"), lit(20)).cast(LongType).as("id"),
          col("o_orderkey"))
      def wave(cond: org.apache.spark.sql.Column, delta: org.apache.spark.sql.Column,
          fail: Option[String]): Unit = {
        var w = o.filter(cond)
          .groupBy("id").agg(sum(delta).cast(LongType).as("n"))
          .writeTo("graftcat.testks.hits_rf")
        fail.foreach(f => w = w.option("failreplica", f))
        w.append()
      }
      wave(pmod(col("o_orderkey"), lit(3)) === 0, lit(1L), None)
      wave(pmod(col("o_orderkey"), lit(3)) === 1, lit(2L), Some("0"))
      wave(pmod(col("o_orderkey"), lit(3)) === 2, lit(3L), Some("1"))
      s.read.option("cl", "quorum").table("graftcat.testks.hits_rf")
        .orderBy("id")
    },

    // Hinted handoff — the other half of the replication story: the
    // coordinator stores a hint for every write a down replica missed, and
    // REPLAY (the node coming back) drains the queue through the table's
    // own LWW merge, closing the staleness window WITHOUT a quorum read.
    // Here the newer writes for even ids miss replica 0, hints replay, and
    // a plain CL=ONE read of replica 0 already serves the full-log LWW
    // result the oracle recomputes.
    "q_kv_hinted_handoff" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.hh")
      s.sql("CREATE TABLE graftcat.testks.hh (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.hh").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.hh").option("failreplica", "0").append()
      graft.sources.GraftCatalogStore.replayHints("testks", "hh")
      s.read.table("graftcat.testks.hh") // CL=ONE: replica 0, post-replay
        .select("id", "v").orderBy("id")
    },

    // NetworkTopologyStrategy + LOCAL_QUORUM ('dcs'='dc1:2,dc2:1' — two
    // named datacenters, rf=3): one write wave misses dc1's first replica
    // (still reaches dc1's second → LOCAL_QUORUM in dc1 sees and repairs
    // it), a second wave misses BOTH dc1 replicas (lands only in dc2 →
    // invisible to any dc1-scoped read, exactly Cassandra's LOCAL_QUORUM
    // blast radius: cross-DC divergence waits for a global CL or
    // anti-entropy repair). The dc1 LOCAL_QUORUM read serves wave A but
    // not wave B, which the oracle recomputes; the cross-DC convergence
    // story is pinned in UpsertSpec.
    "q_kv_local_quorum" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.lq")
      s.sql("CREATE TABLE graftcat.testks.lq (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'dcs'='dc1:2,dc2:1')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.lq").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.lq").option("failreplica", "0").append()
      o.filter(pmod(col("id"), lit(3)) === 0)
        .select(col("id"), (col("id") * 50).as("v"), lit(3000000L).as("wt"))
        .writeTo("graftcat.testks.lq").option("failreplica", "0,1").append()
      s.read.option("cl", "local_quorum").option("dc", "dc1")
        .table("graftcat.testks.lq")
        .select("id", "v").orderBy("id")
    },

    // LOCAL_ONE — the cheapest multi-DC read (one replica, own DC, no
    // merge, no repair): a write wave that missed dc2's only replica
    // ('failreplica'='2') leaves dc2 PERMANENTLY stale for those keys
    // until a quorum path visits them, and the dc2-coordinated LOCAL_ONE
    // read serves exactly that stale view — the consistency/latency trade
    // the CL exists for, recomputed by the oracle from the write schedule
    // (wave ≡0 mod 2 never reached dc2 → baseline there).
    "q_kv_local_one" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.lo1")
      s.sql("CREATE TABLE graftcat.testks.lo1 (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'dcs'='dc1:2,dc2:1')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.lo1").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.lo1").option("failreplica", "2").append()
      s.read.option("cl", "local_one").option("dc", "dc2")
        .table("graftcat.testks.lo1")
        .select("id", "v").orderBy("id")
    },

    // WRITE consistency level + UnavailableException (the coordinator-side
    // guard CQL applies BEFORE a write): at 'writecl'='quorum' on rf=3, a
    // wave with one dead replica proceeds (2 live ≥ quorum 2); a wave with
    // two dead replicas is REFUSED WHOLE — Cassandra's
    // UnavailableException, nothing applied anywhere (unlike a timeout,
    // which may land) — so the final quorum read shows the accepted wave
    // and no trace of the refused one. The oracle recomputes exactly that.
    "q_kv_write_cl" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.wcl")
      s.sql("CREATE TABLE graftcat.testks.wcl (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'dcs'='dc1:2,dc2:1')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.wcl").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.wcl")
        .option("failreplica", "2").option("writecl", "quorum").append()
      val refused =
        try {
          o.filter(pmod(col("id"), lit(3)) === 0)
            .select(col("id"), (col("id") * 50).as("v"), lit(3000000L).as("wt"))
            .writeTo("graftcat.testks.wcl")
            .option("failreplica", "0,1").option("writecl", "quorum").append()
          false
        } catch {
          case e: Throwable => Iterator.iterate(e)(_.getCause)
            .takeWhile(_ != null).take(10)
            .exists(_.isInstanceOf[graft.sources.GUnavailableException])
        }
      require(refused, "the under-quorum write must raise UnavailableException")
      s.read.option("cl", "quorum").table("graftcat.testks.wcl")
        .select("id", "v").orderBy("id")
    },

    // Per-CELL read repair on a replicated cellwise table (rf=2 +
    // 'cellwise' — supported since r9): after a baseline INSERT lands on
    // both replicas, one UPDATE wave writes a NEWER cell `a` past a down
    // replica 0 and another writes a NEWER cell `b` past a down replica 1.
    // For ids hit by both waves the fully-merged row — new a AND new b —
    // exists on NO single replica; row-granular LWW would pick one UPDATE's
    // row wholesale and LOSE the other column's write. The CL=QUORUM read
    // joins replicas cell by cell (Cassandra's real reconciliation granule),
    // write-back-repairs both replicas, and serves the per-column winners
    // the oracle recomputes.
    "q_kv_cell_read_repair" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.crr")
      s.sql("CREATE TABLE graftcat.testks.crr " +
        "(id BIGINT, a BIGINT, b BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true', " +
        "'rf'='2')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("a"), (col("id") * 100).as("b"),
          lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.crr").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 20).as("a"),
          lit(null).cast(LongType).as("b"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.crr")
        .option("update", "true").option("failreplica", "0").append()
      o.filter(pmod(col("id"), lit(3)) === 0)
        .select(col("id"), lit(null).cast(LongType).as("a"),
          (col("id") * 200).as("b"), lit(3000000L).as("wt"))
        .writeTo("graftcat.testks.crr")
        .option("update", "true").option("failreplica", "1").append()
      s.read.option("cl", "quorum").table("graftcat.testks.crr")
        .select("id", "a", "b").orderBy("id")
    },

    // Cassandra `max_hint_window`: hints age on the table's writetime
    // clock; at replay time (clock 2_000_000, window 500_000 → cutoff
    // 1_500_000) the OLD missed wave's hints (wt 1_200_000, ids ≡1 mod 3)
    // are dropped — replica 0 keeps the baseline for those keys, and only
    // anti-entropy repair could heal them (UpsertSpec pins that) — while
    // the RECENT wave's hints (wt 1_800_000, ids ≡0 mod 3) replay
    // normally. The CL=ONE read of replica 0 shows exactly that split,
    // which the oracle recomputes from the write schedule.
    "q_kv_hint_window" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.hw")
      s.sql("CREATE TABLE graftcat.testks.hw (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2', " +
        "'max_hint_window'='500000')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.hw").append()
      o.filter(pmod(col("id"), lit(3)) === 1)
        .select(col("id"), (col("id") * 20).as("v"), lit(1200000L).as("wt"))
        .writeTo("graftcat.testks.hw").option("failreplica", "0").append()
      o.filter(pmod(col("id"), lit(3)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(1800000L).as("wt"))
        .writeTo("graftcat.testks.hw").option("failreplica", "0").append()
      graft.sources.GraftCatalogStore.replayHints("testks", "hw",
        now = Some(2000000L))
      s.read.table("graftcat.testks.hw") // CL=ONE: replica 0, post-replay
        .select("id", "v").orderBy("id")
    },

    // Replication + consistency levels + blocking read repair (the
    // keyspace `replication_factor`, modeled per table as 'rf'=2): a
    // baseline write lands on BOTH replicas, then newer writes for the
    // even ids MISS replica 0 ('failreplica'='0' — the down-node
    // injection, no hinted handoff). A CL=ONE read of replica 0 would
    // still see the stale baseline; this CL=QUORUM read merges the
    // replicas by the table's LWW order, WRITES THE WINNER BACK to the
    // stale replica (Cassandra's blocking read repair — UpsertSpec asserts
    // the post-repair CL=ONE read), and serves the merged rows the oracle
    // recomputes from the full write log.
    "q_kv_read_repair" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.rr")
      s.sql("CREATE TABLE graftcat.testks.rr (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.rr").append()
      o.filter(pmod(col("id"), lit(2)) === 0)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.rr").option("failreplica", "0").append()
      s.read.option("cl", "quorum").table("graftcat.testks.rr")
        .select("id", "v").orderBy("id")
    },

    // Repair preview (`nodetool repair --preview` — the validation phase):
    // per-replica range DIGESTS, compared without healing anything. Each
    // replica is read VERBATIM via the 'replica' debug option (a CL read
    // would trigger blocking read repair and destroy the divergence it is
    // supposed to report); rows hash portably (md5-derived bigint) and sum
    // order-independently into one digest per validation range (id mod 16 —
    // the token-subrange granule stand-in), so a range's replicas agree iff
    // digests and counts agree. The stale write is scoped to ranges 0-3, so
    // the preview reports exactly those out of sync and the other 12 clean —
    // the ranges anti-entropy would stream vs skip. At 100 TB this is the
    // shape that matters: digests are one aggregate row per (replica,
    // range); the full-resolution diff never leaves the nodes.
    "q_kv_repair_preview" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.rp")
      s.sql("CREATE TABLE graftcat.testks.rp (id BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'rf'='2')")
      val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 400)
        .select(col("o_orderkey").as("id"))
      o.select(col("id"), (col("id") * 10).as("v"), lit(1000000L).as("wt"))
        .writeTo("graftcat.testks.rp").append()
      // the divergence: replica 0 misses an update to ranges 0-3
      o.filter(pmod(col("id"), lit(16)) < 4)
        .select(col("id"), (col("id") * 30).as("v"), lit(2000000L).as("wt"))
        .writeTo("graftcat.testks.rp").option("failreplica", "0").append()
      def digests(rep: Int) = s.read.option("replica", rep.toString)
        .table("graftcat.testks.rp")
        .withColumn("rng", pmod(col("id"), lit(16)))
        .withColumn("h", expr(hExpr("concat_ws('|', id, v, wt)")))
        .groupBy("rng")
        .agg(sum("h").as(s"digest$rep"), count(lit(1)).as(s"n$rep"))
      digests(0).join(digests(1), "rng")
        .withColumn("in_sync",
          (col("digest0") === col("digest1") && col("n0") === col("n1"))
            .cast("int"))
        .select("rng", "n0", "n1", "digest0", "digest1", "in_sync")
        .orderBy("rng")
    },

    // CQL `WITH default_time_to_live = N`: a write with NO explicit TTL
    // expires after the table default; an explicit `USING TTL` overrides,
    // and `USING TTL 0` disables even the default (immortal). Three write
    // classes (defaulted / explicit-120 / zero) read at a clock 90 s past
    // the writes: the defaulted (60 s) rows are gone, the others live, and
    // the visible ttl column shows the EFFECTIVE value the way the stored
    // cell carries it (60 / 120 / NULL).
    "q_kv_default_ttl" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.dttl")
      s.sql("CREATE TABLE graftcat.testks.dttl " +
        "(id BIGINT, v BIGINT, wt BIGINT, tl BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'ttl'='tl', " +
        "'default_ttl'='60', 'now'='1000090')")
      Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey").as("id"),
          (col("o_orderkey") * 7).as("v"),
          lit(1000000000000L).as("wt"),
          expr("CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL " +
            "WHEN 1 THEN 120L ELSE 0L END").as("tl"))
        .writeTo("graftcat.testks.dttl").append()
      s.read.table("graftcat.testks.dttl")
        .select("id", "v", "tl").orderBy("id")
    },

    // CQL non-frozen UDT field-wise merge (CQL `CREATE TYPE` + a column
    // used WITHOUT `frozen<>`): each FIELD of the struct is its own cell —
    // INSERT assigns the whole value (UDT tombstone at wt−1, cells for the
    // struct's non-null fields), `UPDATE t SET u.f = ?` wins only field f
    // (a null field in the update struct = untouched), and `DELETE u.f`
    // ('delcols'='u.f') tombstones exactly that field, resurrectable by a
    // later write. The result projects the struct's fields to scalars so
    // the DuckDB oracle replays the per-field log exactly. A struct column
    // NOT declared in 'udts' stays FROZEN: one cell, whole-value LWW.
    "q_kv_udt_merge" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.profile")
      s.sql("CREATE TABLE graftcat.testks.profile " +
        "(id BIGINT, p STRUCT<age: BIGINT, city: STRING>, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true', " +
        "'udts'='p')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(30)).cast(LongType).as("id"))
      // INSERT assign: every 7th order replaces the whole UDT
      o.filter(pmod(col("ok"), lit(7)) === 0)
        .select(col("id"),
          expr("named_struct('age', CAST(ok AS BIGINT), " +
            "'city', 'c' || CAST(ok % 5 AS STRING))").as("p"),
          (col("ok") * 1000000L).as("wt"))
        .writeTo("graftcat.testks.profile").append()
      // UPDATE p.age = ok*2 (city field null = untouched): every 3rd order
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"),
          expr("named_struct('age', CAST(ok * 2 AS BIGINT), " +
            "'city', CAST(NULL AS STRING))").as("p"),
          (col("ok") * 1000000L + 1L).as("wt"))
        .writeTo("graftcat.testks.profile").option("update", "true").append()
      // UPDATE p.city = 'u'||ok%4 (age untouched): every 5th order
      o.filter(pmod(col("ok"), lit(5)) === 0)
        .select(col("id"),
          expr("named_struct('age', CAST(NULL AS BIGINT), " +
            "'city', 'u' || CAST(ok % 4 AS STRING))").as("p"),
          (col("ok") * 1000000L + 2L).as("wt"))
        .writeTo("graftcat.testks.profile").option("update", "true").append()
      // DELETE p.age (field tombstone, city and the row survive): every
      // 11th order
      o.filter(pmod(col("ok"), lit(11)) === 0)
        .select(col("id"),
          expr("CAST(NULL AS STRUCT<age: BIGINT, city: STRING>)").as("p"),
          (col("ok") * 1000000L + 3L).as("wt"))
        .writeTo("graftcat.testks.profile").option("delcols", "p.age").append()
      s.read.table("graftcat.testks.profile")
        .select(col("id"), col("p.age").as("age"), col("p.city").as("city"))
        .orderBy("id")
    },

    // CQL list<T> position-wise merge — the third collection type: cells
    // keyed by write POSITION (append major = +wt, prepend major = −wt so a
    // later prepend lands at the FRONT — Cassandra's negative-timeuuid
    // trick; INSERT assign shadows older cells via the collection tombstone
    // at wt−1), and remove-by-value (`l = l - [v]`) as a value tombstone
    // hiding equal-valued cells at-or-below its timestamp. The result
    // POSEXPLODEs the read-back lists so the oracle recomputes scalar
    // (id, pos, tag) rows — position order included — from the same log.
    "q_kv_list_merge" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.tags")
      s.sql("CREATE TABLE graftcat.testks.tags " +
        "(id BIGINT, tags ARRAY<BIGINT>, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt', 'cellwise'='true', " +
        "'lists'='tags')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .select(col("o_orderkey").as("ok"),
          pmod(col("o_custkey"), lit(30)).cast(LongType).as("id"))
      // INSERT assign: every 7th order replaces the list with [ok, ok+1]
      o.filter(pmod(col("ok"), lit(7)) === 0)
        .select(col("id"), array(col("ok"), col("ok") + 1).as("tags"),
          (col("ok") * 1000000L).as("wt"))
        .writeTo("graftcat.testks.tags").append()
      // UPDATE append (`l = l + [ok*2]`): every 3rd order at wt+1
      o.filter(pmod(col("ok"), lit(3)) === 0)
        .select(col("id"), array(col("ok") * 2).as("tags"),
          (col("ok") * 1000000L + 1L).as("wt"))
        .writeTo("graftcat.testks.tags").option("update", "true").append()
      // UPDATE prepend (`l = [ok+5] + l`): every 11th order at wt+2
      o.filter(pmod(col("ok"), lit(11)) === 0)
        .select(col("id"), array(col("ok") + 5).as("tags"),
          (col("ok") * 1000000L + 2L).as("wt"))
        .writeTo("graftcat.testks.tags")
        .option("update", "true").option("prepend", "true").append()
      // UPDATE remove-by-value (`l = l - [ok]`): every 35th order at wt+3
      // — shadows that order's own assign cell (and any older equal value)
      o.filter(pmod(col("ok"), lit(35)) === 0)
        .select(col("id"), array(col("ok")).as("tags"),
          (col("ok") * 1000000L + 3L).as("wt"))
        .writeTo("graftcat.testks.tags")
        .option("update", "true").option("collremove", "true").append()
      // STALE remove of the append's value at the append's wt − 1: loses —
      // the newer append cell stays visible (order-independence of removes)
      o.filter(pmod(col("ok"), lit(15)) === 0)
        .select(col("id"), array(col("ok") * 2).as("tags"),
          (col("ok") * 1000000L).as("wt"))
        .writeTo("graftcat.testks.tags")
        .option("update", "true").option("collremove", "true").append()
      s.read.table("graftcat.testks.tags")
        .select(col("id"), posexplode(col("tags")).as(Seq("pos", "tag")))
        .orderBy("id", "pos")
    },

    // Composite (multi-column, mixed-type) partition key — CQL
    // `PRIMARY KEY ((c_nationkey, c_mktsegment))`, one step past the
    // reference's single-column key (userdata/cloudinit.sh:307). The
    // conjunction of equality predicates on BOTH key columns prunes the ring
    // to the ONE split owning that tuple (PlanSpec asserts lastPlanned == 1)
    // — Cassandra's point read routed by the composite token. At 100 TB:
    // one partition read, never a scan-and-filter.
    "q_kv_composite_key" -> { (s, dir) =>
      val name = stageKvComposite(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("c_nationkey") === 11 && col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // Storage-partitioned join on the COMPOSITE key: both sides are staged
    // key-grouped by the same (bigint, string) tuple, the source reports
    // KeyGroupedPartitioning over both columns, and the two-column equi-join
    // runs with ZERO Exchange nodes (PlanSpec asserts) — the token-aware
    // local join generalized to Cassandra's multi-column partition keys.
    "q_spj_composite" -> { (s, dir) =>
      val (aName, bName) = stageKvCompositeSides(s, dir)
      val a = s.read.format("graft.sources.KVDataSource").option("table", aName).load()
      val b = s.read.format("graft.sources.KVDataSource").option("table", bName).load()
      a.join(b.hint("merge"),
          a("c_nationkey") === b("nk") && a("c_mktsegment") === b("seg"))
        .select(a("c_nationkey"), a("c_mktsegment"),
          col("n_cust"), col("total_bal"), col("max_cust"), col("min_bal"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // MERGE INTO through the engine's DSv2 row-level operation surface
    // (SupportsRowLevelOperations + SupportsDelta, rowId = the partition
    // key): matched-update, matched-delete and not-matched-insert land in
    // ONE commit of per-row deltas — no copy-on-write table rewrite. Target
    // and source both derive from parquet tables, so the oracle RECOMPUTES
    // the merge semantics in DuckDB instead of trusting a literal.
    "q_merge_upsert_delete" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.cust_m")
      s.sql("CREATE TABLE graftcat.testks.cust_m (id BIGINT, bal DOUBLE) " +
        "TBLPROPERTIES ('key'='id')")
      Tables.load(s, dir, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"))
        .writeTo("graftcat.testks.cust_m").append()
      Tables.load(s, dir, "orders").filter(col("o_custkey") <= 150)
        .groupBy(col("o_custkey").as("id")).agg(count(lit(1)).as("n"))
        .createOrReplaceTempView("cust_m_src")
      s.sql("""MERGE INTO graftcat.testks.cust_m t
        USING cust_m_src s ON t.id = s.id
        WHEN MATCHED AND s.n >= 10 THEN DELETE
        WHEN MATCHED THEN UPDATE SET bal = t.bal + s.n
        WHEN NOT MATCHED THEN INSERT (id, bal) VALUES (s.id, CAST(s.n AS DOUBLE))""")
      s.sql("SELECT id, bal FROM graftcat.testks.cust_m ORDER BY id")
    },

    // SCD2 as an ENGINE operation (the verdict's gap: SCD2 existed only as a
    // query): one MERGE closes the current version of every changed
    // dimension row (valid_to set) and inserts its successor version — the
    // classic union-source trick keyed on the version id, all through the
    // same row-level delta surface. Changes derive from orders (customers
    // with a 1997 order move to segment PROMO at t=1), so DuckDB recomputes
    // the full end state independently.
    "q_merge_scd2" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.dim_scd2")
      s.sql("CREATE TABLE graftcat.testks.dim_scd2 " +
        "(vid BIGINT, id BIGINT, seg STRING, valid_from BIGINT, valid_to BIGINT) " +
        "TBLPROPERTIES ('key'='vid')")
      Tables.load(s, dir, "customer").filter(col("c_custkey") <= 200)
        .select((col("c_custkey") * 10).as("vid"), col("c_custkey").as("id"),
          col("c_mktsegment").as("seg"), lit(0L).as("valid_from"),
          lit(null).cast(LongType).as("valid_to"))
        .writeTo("graftcat.testks.dim_scd2").append()
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 200 && year(col("o_orderdate")) === 1997)
        .select(col("o_custkey").as("id")).distinct()
        .createOrReplaceTempView("scd2_changes")
      s.sql("""MERGE INTO graftcat.testks.dim_scd2 t
        USING (SELECT id * 10 AS vid, id FROM scd2_changes
               UNION ALL SELECT id * 10 + 1, id FROM scd2_changes) s
        ON t.vid = s.vid
        WHEN MATCHED THEN UPDATE SET valid_to = 1
        WHEN NOT MATCHED THEN INSERT (vid, id, seg, valid_from, valid_to)
          VALUES (s.vid, s.id, 'PROMO', 1, CAST(NULL AS BIGINT))""")
      s.sql("SELECT vid, id, seg, valid_from, valid_to " +
        "FROM graftcat.testks.dim_scd2 ORDER BY vid")
    },

    // CQL `ALTER TABLE ADD / DROP` — schema evolution on a live table
    // through the catalog: the added column reads NULL for pre-existing
    // rows (Cassandra's absent-cell semantics, no rewrite), later upserts
    // fill it, and DROP removes a retired column; the partition key and
    // semantic columns are protected. End state: id 1 upserted with a
    // score, id 2 pre-evolution (NULL score), id 3 post-evolution, the
    // name column gone.
    "q_catalog_alter" -> { (s, _) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.alter_t")
      s.sql("CREATE TABLE graftcat.testks.alter_t (id INT, name STRING) " +
        "TBLPROPERTIES ('key'='id')")
      s.sql("INSERT INTO graftcat.testks.alter_t VALUES (1, 'a'), (2, 'b')")
      s.sql("ALTER TABLE graftcat.testks.alter_t ADD COLUMNS (score BIGINT)")
      s.sql("INSERT INTO graftcat.testks.alter_t VALUES (3, 'c', 30), (1, 'a', 10)")
      s.sql("ALTER TABLE graftcat.testks.alter_t DROP COLUMN name")
      s.sql("SELECT * FROM graftcat.testks.alter_t ORDER BY id")
    },

    // cassandraCount analog at the CUSTOM-source level: the KV source
    // implements SupportsPushDownAggregates, so an ungrouped COUNT(*) is
    // answered from the registry's per-key row counts — each split emits one
    // metadata row [count] and Spark's final agg sums them; no data row is
    // ever materialized (PlanSpec asserts PushedAggregation on the scan).
    // Together with q_count_pushdown (parquet footers) this covers the
    // SURVEY §2.2 count pushdown row for both source kinds.
    "q_kv_count_pushdown" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", cName).load()
        .agg(count(lit(1)).as("n_rows"))
    },

    // CQL `LIMIT n` pushdown (SupportsPushDownLimit): the limit reaches the
    // KV scan, every split returns at most n rows (PER PARTITION LIMIT —
    // one split = one Cassandra partition), and Spark takes the global
    // prefix. The declared query counts the limited read so the result is
    // deterministic; PlanSpec asserts the scan served ≤ n rows per split.
    "q_kv_limit_pushdown" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", cName).load()
        .limit(7)
        .agg(count(lit(1)).as("n_rows"))
    },

    // Grouped count pushdown on the KV source: COUNT(*) GROUP BY the full
    // key tuple is answered entirely from registry metadata — each split
    // emits one [key..., count] row and, because every split holds its
    // whole group, the result is FINAL (supportCompletePushDown): no row
    // materialization, no re-aggregation. Cassandra's per-partition count.
    "q_kv_grouped_count" -> { (s, dir) =>
      val name = stageKvComposite(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // CQL `SELECT DISTINCT pk...` — the partition-key enumeration CQL
    // serves from the ring without touching a single row: the grouping has
    // ZERO aggregate expressions, still COMPLETE pushdown on the full key
    // tuple, one metadata row per split (PlanSpec asserts served == splits
    // and no aggregate in the plan). The shape a 100 TB table uses to list
    // its partitions.
    "q_kv_distinct_keys" -> { (s, dir) =>
      val name = stageKvComposite(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .select("c_nationkey", "c_mktsegment").distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // CQL `WHERE tags CONTAINS ?` — the collection-index read (Cassandra
    // 2i on a set, SAI collection semantics): the indexed ARRAY column's
    // inverted projection maps each ELEMENT to the partitions owning at
    // least one row whose collection holds it, so the scan plans only those
    // splits and row-filters exactly inside them (PlanSpec asserts planned
    // splits < ring size and served == result rows). A read option, like
    // the ANN read — Spark has no array-containment Filter to push; a real
    // connector translates the CQL predicate.
    "q_kv_contains" -> { (s, dir) =>
      val name = s"cust_tags:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "customer").select(
          col("c_custkey"), col("c_acctbal"),
          array(col("c_mktsegment"),
            concat(lit("N"), col("c_nationkey"))).as("tags")),
        Seq("c_custkey"), indexCols = Seq("tags"))
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("contains", "tags:N7").load()
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // CQL `m CONTAINS KEY ?` — the KEYS(m) map-index granule (`CREATE
    // INDEX ON t (KEYS(m))`): the inverted projection tags map KEYS apart
    // from map values, so the read prunes the ring to partitions owning a
    // row whose map HAS the key, then filters rows exactly. The map cell
    // here is attrs = {mktsegment -> nationkey}, so CONTAINS KEY
    // 'BUILDING' is the segment membership read. A segment predicate keeps
    // ~1/5 of ALL partitions — thousands of one-row keys — so the read
    // also sets the size-coalescing knob: without it the scan schedules a
    // task PER KEY (measured ~3 s of pure scheduler overhead for ~3k keys
    // at sf0.1, linear in key count), with it the kept keys pack into
    // ~task-sized splits. The selective granules below keep it off: their
    // kept-key counts are small and the per-key splits preserve the
    // reported key grouping.
    "q_kv_contains_key" -> { (s, dir) =>
      val name = stageCustAttrs(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("containskey", "attrs:BUILDING")
        .option("split_target_rows", "256").load()
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // CQL `m[?] = ?` — the ENTRIES(m) granule: an exact (key, value) pair
    // lookup through the entry-tagged inverted projection — strictly more
    // selective than either single-granule read (segment AND nation here).
    "q_kv_map_entry" -> { (s, dir) =>
      val name = stageCustAttrs(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("mapentry", "attrs:BUILDING:7").load()
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // CQL `m CONTAINS ?` on a map — the VALUES(m) granule (CONTAINS over a
    // map ranges over its VALUES, per CQL): nation-7 membership through
    // the value-tagged projection, same table and index as the two above.
    "q_kv_map_contains" -> { (s, dir) =>
      val name = stageCustAttrs(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("contains", "attrs:7").load()
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    },

    // Size-targeted split coalescing — the connector's
    // `input.split.sizeInMB` knob driven by system.size_estimates
    // (q_kv_size_estimates exposes the estimates; this read CONSUMES
    // them): with 'split_target_rows' set, the scan walks the per-key row
    // groups in token order and packs them into multi-key splits of
    // ~target rows, flushing whenever the replica set changes (a split
    // needs one preferredLocations) or the target fills. 200 single-key
    // splits collapse to a handful of ~target-row tasks — at 100 TB this
    // is the difference between a task per partition key (millions of
    // 10 ms tasks drowning in scheduler overhead) and ~64 MB tasks, while
    // the result is split-layout-independent, which the oracle recomputes.
    // PlanSpec asserts the packing discipline and row conservation.
    "q_kv_split_sizing" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("split_target_rows", "100").load()
        .agg(count(lit(1)).as("n"), sum("ck").as("sum_ck"),
          min("ck").as("min_ck"), max("ck").as("max_ck"),
          countDistinct("pk").as("n_parts"))
    },

    // CQL `ck IN (...)` — the multi-slice clustering read (`SELECT ...
    // WHERE pk = ? AND ck IN (?, ?, ...)`): the source answers with a UNION
    // OF POINT RUNS, one binary-searched slice per IN value inside each
    // surviving ck-sorted partition — rows leave in stored order, and ONLY
    // matching rows leave (PlanSpec asserts served == result rows). The
    // batched-point-read shape a 100 TB table uses to fetch a known set of
    // clustering keys without scanning between them.
    "q_kv_ck_in" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("ck").isin(CkInVals.map(Long.box): _*))
        .orderBy("pk", "ck")
    },

    // CQL native aggregates (CQL 2.2+ `SELECT sum(x), min(x), avg(x) ...
    // GROUP BY pk`) — computed REPLICA-SIDE: grouped by the full key, every
    // group lives inside one split, so the source folds each split's served
    // rows into ONE aggregate row (COMPLETE pushdown — Spark plans no
    // aggregate at all, PlanSpec asserts a HashAggregate-free plan and
    // served == splits). At 100 TB the scan ships one row per partition
    // key instead of the partition's rows. AVG rides verbatim (complete
    // pushdown only — avg of avgs is wrong, so partial forms never see it).
    "q_kv_value_agg" -> { (s, dir) =>
      val name = stageOrdersVagg(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .groupBy("pk")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"), max("cents").as("max_cents"),
          count("clen").as("n_clen"), avg("cents").as("avg0"))
        .withColumn("avg_cents", round(col("avg0"), 4)).drop("avg0")
        .orderBy("pk")
    },

    // value aggregates COMPOSED with ck-range slicing — CQL
    // `SELECT sum(x) ... WHERE pk = ? AND ck >= ?` computed replica-side
    // over just the slice: the pushed ck bound binary-searches each
    // partition first, then the fold runs over the surviving run only, so
    // the served row reflects BOTH pushdowns (empty slices drop their
    // group entirely — no phantom zeros, the r7 ADVICE rule extended to
    // value folds).
    "q_kv_value_agg_sliced" -> { (s, dir) =>
      val name = stageOrdersVagg(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("ck") >= 7000L)
        .groupBy("pk")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          max("cents").as("max_cents"))
        .orderBy("pk")
    },

    // the PARTIAL form: ungrouped SUM/MIN/MAX/COUNT over the whole ring —
    // each split serves one partial row (sum/min/max/count of its served
    // rows) and Spark's final aggregate folds the per-split partials (sum
    // of sums, min of mins, sum of counts). AVG decomposes into SUM+COUNT
    // before pushdown — Spark's rewrite, exercised here. splits×1 rows
    // shipped; the 100 TB full-table statistic read.
    "q_kv_value_agg_partial" -> { (s, dir) =>
      val name = stageOrdersVagg(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .agg(sum("cents").as("sum_cents"), min("cents").as("min_cents"),
          max("cents").as("max_cents"), count("clen").as("n_clen"),
          count(lit(1)).as("n"), avg("cents").as("avg0"))
        .withColumn("avg_cents", round(col("avg0"), 4)).drop("avg0")
    },

    // CQL 3.10+ `GROUP BY pk, ck-prefix` — grouping by the partition key
    // PLUS a clustering-column prefix is still COMPLETE pushdown: inside a
    // ck-sorted partition those groups are CONTIGUOUS RUNS, so the source
    // serves one metadata row per run in one pass — no hashing, no data
    // row leaves the store, and Spark plans NO aggregate at all (PlanSpec
    // asserts both). At 100 TB this is a per-partition streaming count
    // where a generic engine would shuffle the table.
    "q_kv_grouped_count_ck" -> { (s, dir) =>
      val name = s"orders_prio_ck:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
          .select(col("o_custkey").as("pk"),
            col("o_orderpriority").as("prio"),
            col("o_orderkey").as("ck"), col("o_totalprice").as("price")),
        Seq("pk"), clusteringCols = Seq("prio", "ck"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .groupBy("pk", "prio")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("pk", "prio")
    },

    // Secondary-index analog (Cassandra 2i): a write-maintained inverted
    // projection (segment -> owning partition keys) lets a NON-key equality
    // plan only the splits owning matching rows instead of scanning the
    // ring (PlanSpec asserts planned < total splits), with exact row
    // filtering inside the survivors. The index is rebuilt per commit —
    // the registry-side stand-in for Cassandra's per-node local index.
    "q_kv_secondary_index" -> { (s, dir) =>
      val name = s"cust_sidx:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "customer").filter(col("c_custkey") <= 300)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        Seq("c_custkey"), indexCols = Seq("c_mktsegment"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("c_mktsegment") === "BUILDING")
        .orderBy("c_custkey")
    },

    // CQL ALLOW FILTERING — the guardrail, exercised from the opt-in side:
    // a predicate on a plain value column (no key, no index, no MV) is a
    // filtered full scan, which the KV source REFUSES by default exactly
    // like CQL (the negative shape is pinned in UpsertSpec); with
    // `.option("allowFiltering", "true")` the scan runs and the residual
    // predicate is applied Spark-side after it — Cassandra's replica-side
    // post-filter. The guardrail is the point at 100 TB: the refusal is
    // what stops a query that reads the whole ring to return a sliver.
    "q_kv_allow_filtering" -> { (s, dir) =>
      val name = s"cust_af:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "customer").filter(col("c_custkey") <= 500)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        Seq("c_custkey"))
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("allowFiltering", "true").load()
        .filter(col("c_acctbal") > 5000.0 && col("c_mktsegment") =!= "MACHINERY")
        .orderBy("c_custkey")
    },

    // CQL logged BATCH — atomic multi-statement commit ACROSS tables
    // (`BEGIN BATCH ... APPLY BATCH`, the shape of the reference's insert
    // session run as one batch, userdata/cloudinit.sh:312-314). One batch
    // writes per-order rows AND per-customer counts; a second, POISONED
    // batch (a NULL-writetime row in its audit statement, would also clobber
    // every total with -1) must apply NOTHING — all-or-nothing enforced by
    // validating every statement before applying any. The output joins both
    // tables, so a half-applied poison batch would hash-mismatch.
    "q_kv_logged_batch" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      Seq("bt_orders", "bt_counts", "bt_audit").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS graftcat.testks.$t"))
      s.sql("CREATE TABLE graftcat.testks.bt_orders " +
        "(id BIGINT, cust BIGINT, total DOUBLE) TBLPROPERTIES ('key'='id')")
      s.sql("CREATE TABLE graftcat.testks.bt_counts " +
        "(cust BIGINT, n BIGINT) TBLPROPERTIES ('key'='cust')")
      s.sql("CREATE TABLE graftcat.testks.bt_audit " +
        "(id BIGINT, wt BIGINT) TBLPROPERTIES ('key'='id', 'writetime'='wt')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 30)
        .select(col("o_orderkey").as("id"), col("o_custkey").as("cust"),
          col("o_totalprice").as("total"))
      graft.sources.GraftBatch.logged(Seq(
        "graftcat.testks.bt_orders" -> o,
        "graftcat.testks.bt_counts" ->
          o.groupBy("cust").agg(count(lit(1)).as("n"))))
      val poisoned =
        try {
          graft.sources.GraftBatch.logged(Seq(
            "graftcat.testks.bt_orders" ->
              o.withColumn("total", lit(-1.0)),
            "graftcat.testks.bt_audit" ->
              s.sql("SELECT CAST(1 AS BIGINT) AS id, CAST(NULL AS BIGINT) AS wt")))
          false
        } catch { case _: IllegalArgumentException => true }
      require(poisoned, "the poisoned batch must be rejected")
      s.sql("""SELECT a.id, a.cust, a.total, c.n
        FROM graftcat.testks.bt_orders a
        JOIN graftcat.testks.bt_counts c ON a.cust = c.cust
        ORDER BY a.id""")
    },

    // CONDITIONAL batch — LWT inside a BATCH (`BEGIN BATCH ... IF ... APPLY
    // BATCH`), the composition of C5d and the LWT rows: all statements hit
    // one partition of one table, every IF evaluates against the PRE-batch
    // partition state in one modeled Paxos round, and the batch applies
    // all-or-nothing. The driver loop below IS the modeled CQL client (one
    // Paxos round per partition, like the cursor-page loop): per customer
    // key 1..12, a two-statement batch [step1 IF status='open'; done
    // unconditional] — it lands whole on seeded-'open' rows (BUILDING
    // segment) and leaves every other row byte-identical, which the oracle
    // recomputes from the same customer derivation. Batches here are
    // CLIENT-side control flow over a handful of rows, never a data path —
    // at 100 TB bulk writes stay on the DSv2 commit; conditional batches
    // are the coordination primitive (uniqueness, state machines).
    "q_kv_cas_batch" -> { (s, dir) =>
      import graft.sources.GraftBatch
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.casb")
      s.sql("CREATE TABLE graftcat.testks.casb " +
        "(k BIGINT, status STRING, v BIGINT) TBLPROPERTIES ('key'='k')")
      val c = Tables.load(s, dir, "customer")
      c.filter(col("c_custkey") <= 200)
        .select(col("c_custkey").cast(LongType).as("k"),
          when(col("c_mktsegment") === "BUILDING", lit("open"))
            .otherwise(lit("closed")).as("status"),
          col("c_nationkey").cast(LongType).as("v"))
        .writeTo("graftcat.testks.casb").append()
      val targets = c.filter(col("c_custkey").between(1, 12))
        .select(col("c_custkey").cast(LongType), col("c_nationkey").cast(LongType))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val applied = targets.map { case (k, nat) =>
        GraftBatch.conditional("graftcat.testks.casb", Seq(
          s.sql(s"SELECT CAST($k AS BIGINT) AS k, 'step1' AS status, " +
            s"CAST(${nat * 10} AS BIGINT) AS v") -> GraftBatch.CondIfColEq("status", "open"),
          s.sql(s"SELECT CAST($k AS BIGINT) AS k, 'done' AS status, " +
            s"CAST(${nat * 10 + 1} AS BIGINT) AS v") -> GraftBatch.Unconditional))
      }
      // a rejected batch applies NEITHER statement: no 'step1' ever visible
      require(applied.count(identity) ==
        s.sql("SELECT count(*) FROM graftcat.testks.casb WHERE status = 'done'")
          .head().getLong(0))
      s.sql("SELECT * FROM graftcat.testks.casb ORDER BY k")
    },

    // CQL JSON DML (`INSERT INTO t JSON '...'` / `SELECT JSON * FROM t`):
    // customer rows rendered to JSON documents, inserted THROUGH the JSON
    // statement form (unknown keys rejected, FAILFAST parse — see
    // insertJson), then read back via SELECT JSON — one `json` column,
    // keys in schema order. Money rides as exact DECIMAL-derived cents so
    // the serialized integer is engine-portable; the oracle re-renders the
    // same documents from the source table in DuckDB. An unknown-key doc
    // must be refused atomically (nothing from its statement lands).
    "q_kv_json_dml" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      s.sql("DROP TABLE IF EXISTS graftcat.testks.jsn")
      s.sql("CREATE TABLE graftcat.testks.jsn " +
        "(id BIGINT, name STRING, cents BIGINT) TBLPROPERTIES ('key'='id')")
      val docs = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 100)
        .select(to_json(struct(
          col("c_custkey").cast(LongType).as("id"),
          col("c_name").as("name"),
          (col("c_acctbal").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("cents"))).as("doc"))
      insertJson(s, "graftcat.testks.jsn", docs)
      // a document with a key the schema lacks is an InvalidRequest — and
      // its whole statement is refused before any row lands
      val refused =
        try {
          insertJson(s, "graftcat.testks.jsn",
            s.sql("""SELECT '{"id": 9999, "name": "x", "oops": 1}' AS doc"""))
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "unknown-key JSON must be refused")
      // ...as are a SQL NULL document and a non-object document (JSON
      // null/scalar/malformed): Cassandra rejects INSERT JSON null as
      // InvalidRequest; none of these may become a silent all-null row
      Seq("CAST(NULL AS STRING)", "'null'", "'[1, 2]'", "'{broken'").foreach { bad =>
        val r = try {
          insertJson(s, "graftcat.testks.jsn", s.sql(s"SELECT $bad AS doc"))
          false
        } catch { case _: IllegalArgumentException => true }
        require(r, s"$bad JSON document must be refused")
      }
      // binary string order on the rendered documents — engine-portable,
      // and it keeps the declared output exactly selectJson's one column
      selectJson(s, "graftcat.testks.jsn").orderBy("json")
    },

    // Batchlog replay — the HALF of the logged-BATCH contract
    // q_kv_logged_batch can't show: Cassandra journals a logged batch
    // before applying and guarantees EVENTUAL completion, not isolation.
    // A second batch of newer values crashes (injected) after its first
    // statement — table A updated, table B stale, the batchlog entry
    // surviving — then replayBatchlog() completes it idempotently
    // (timestamp-idempotent merges: the already-applied statement re-lands
    // as a no-op). The final join shows BOTH tables at the second batch's
    // values, which the oracle recomputes.
    "q_kv_batchlog" -> { (s, dir) =>
      s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.testks")
      Seq("bl_a", "bl_b").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS graftcat.testks.$t"))
      s.sql("CREATE TABLE graftcat.testks.bl_a " +
        "(id BIGINT, cust BIGINT, v BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='id', 'writetime'='wt')")
      s.sql("CREATE TABLE graftcat.testks.bl_b (cust BIGINT, n BIGINT, wt BIGINT) " +
        "TBLPROPERTIES ('key'='cust', 'writetime'='wt')")
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 30)
        .select(col("o_orderkey").as("id"), col("o_custkey").as("cust"))
      def aDf(mul: Int, wt: Long) = o.select(col("id"), col("cust"),
        (col("id") * mul).as("v"), lit(wt).as("wt"))
      def bDf(mul: Int, wt: Long) = o.groupBy("cust")
        .agg((count(lit(1)) * mul).as("n")).withColumn("wt", lit(wt))
      graft.sources.GraftBatch.logged(Seq(
        "graftcat.testks.bl_a" -> aDf(10, 1000000L),
        "graftcat.testks.bl_b" -> bDf(1, 1000000L)))
      val crashed =
        try {
          graft.sources.GraftBatch.logged(Seq(
            "graftcat.testks.bl_a" -> aDf(20, 2000000L),
            "graftcat.testks.bl_b" -> bDf(2, 2000000L)),
            crashAfterStatements = Some(1))
          false
        } catch { case _: graft.sources.GraftBatch.CoordinatorCrash => true }
      require(crashed, "the injected coordinator crash must surface")
      require(graft.sources.GraftBatch.pendingBatches >= 1,
        "the crashed batch must survive in the batchlog")
      require(graft.sources.GraftBatch.replayBatchlog() >= 1)
      require(graft.sources.GraftBatch.pendingBatches == 0)
      val a = s.read.table("graftcat.testks.bl_a").select("id", "cust", "v")
      val b = s.read.table("graftcat.testks.bl_b").select("cust", "n")
      a.join(b, "cust").select("id", "cust", "v", "n").orderBy("id")
    },

    // Materialized-view analog (Cassandra MV) — the GENERAL form of "query
    // by another key", one ring past the 2i above (which only prunes base
    // splits): a write-through projection of the same rows RE-KEYED on a
    // non-primary column, maintained in the same commit as the base write,
    // and chosen by the planner for equality on that column. The scan reads
    // ONE MV partition (PlanSpec asserts planned = 1 vs the base ring's
    // hundreds of splits) living on the replicas owning the VIEW key's
    // token. At 100 TB: query-by-segment reads one partition, not the ring.
    "q_kv_mv_read" -> { (s, dir) =>
      val name = s"cust_mv:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        Seq("c_custkey"), mvCols = Seq("c_mktsegment"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("c_mktsegment") === "MACHINERY")
        .orderBy("c_custkey")
    },

    // Source-level write path — the `df.write.cassandra` upsert (SURVEY §2.2
    // write row; reference capability pin: userdata/cloudinit.sh:461).
    // INSERT is an upsert: 5 existing nations are overwritten, 3 new keys
    // append. The write declares RequiresDistributionAndOrdering, so Spark
    // clusters rows by partition key before the writers run and each key
    // group is routed once to its ring replicas (KVRing.replicasOf —
    // placement asserted in UpsertSpec); re-running the write is a no-op on
    // the final state, CQL idempotence (reference: cloudinit.sh:312-314).
    "q_kv_upsert" -> { (s, dir) =>
      val name = s"nation_up:$dir"
      graft.sources.KeyGroupedRegistry.stage(name,
        Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast(LongType).as("k"),
            col("n_name").as("name")),
        "k")
      val updates = Tables.load(s, dir, "nation")
        .filter(col("n_nationkey") < 5)
        .select(col("n_nationkey").cast(LongType).as("k"),
          concat(col("n_name"), lit("_v2")).as("name"))
        .union(s.range(100, 103).select(col("id").as("k"),
          concat(lit("new_"), col("id")).as("name")))
      updates.write.format("graft.sources.KVDataSource")
        .option("table", name).mode("append").save()
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .orderBy("k")
    },

    // Clustering-column range scan — the standard CQL `(pk, ck)` primary-key
    // shape, one step beyond the reference's single-column key
    // (userdata/cloudinit.sh:307): `pk = ? AND ck >= ? AND ck < ?` prunes
    // the ring to the ONE split owning the partition key (PlanSpec asserts
    // lastPlanned == 1) and then reads only the contiguous ck-slice of that
    // partition's ck-sorted rows (two binary searches, not a partition
    // scan) — Cassandra's within-partition range read. At 100 TB the query
    // touches one partition's slice, never the table.
    "q_kv_range_scan" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("pk") === 37 && col("ck") >= 200 && col("ck") < 10000)
        .orderBy("ck")
    },

    // CQL driver cursor paging WITHIN a partition (fetch_size + paging
    // state): each fetch is `WHERE pk = ? AND ck > <cursor> LIMIT n` — the
    // resume point is the last clustering key served, exactly the paging
    // state a Cassandra driver carries. Every page binds the ck-slice +
    // TopN pushdown (a binary-searched suffix of the ck-sorted partition,
    // ≤ n rows served), and the driver-side loop IS the client cursor —
    // each collect is one page fetch, bounded by fetch_size, the one place
    // driver-side materialization is the semantics. The page column pins
    // the pagination layout against the oracle's row_number arithmetic.
    "q_kv_cursor_pages" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      val t = s.read.format("graft.sources.KVDataSource")
        .option("table", name).load()
      val pageSize = 5
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
      var cursor = Long.MinValue
      var page = 0
      var done = false
      while (!done) {
        val rows = t.filter(col("pk") === 37 && col("ck") > cursor)
          .orderBy("ck").limit(pageSize).collect()
        rows.foreach(r => buf += ((r.getLong(0), r.getLong(1), r.getDouble(2), page)))
        if (rows.length < pageSize) done = true
        else { cursor = rows.last.getLong(1); page += 1 }
      }
      s.createDataFrame(buf.toSeq).toDF("pk", "ck", "price", "page")
        .orderBy("ck")
    },

    // Token-range scan — `WHERE token(pk) >= ? AND token(pk) < ?`, the arc
    // shape the connector splits a full-table scan into (and the only range
    // CQL allows on a partition key). The demo ring's token for a single
    // integral key is the key itself (KVRing.tokenOf — the
    // order-preserving-partitioner analog), so the pushed key range IS the
    // token arc: the scan keeps only the splits whose token lands in
    // [5, 12) (PlanSpec asserts 25 -> 7 splits, zero residual filtering)
    // — composite/string keys hash, so their ranges stay Spark-side. At
    // 100 TB this is how a piecewise full-table export reads the ring arc
    // by arc without ever re-scanning it.
    "q_kv_token_range" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", cName).load()
        .filter(col("c_nationkey") >= 5 && col("c_nationkey") < 12)
        .orderBy("c_custkey")
    },

    // Token-range PAGING — the way every full-table Spark scan of a
    // Cassandra table actually runs: the ring divided into disjoint
    // half-open token arcs, one scan per arc (each pruned to its arc's
    // splits — the same pushdown as q_kv_token_range), unioned back
    // together. The arcs partition the ring exactly, so the union IS the
    // full scan — at 100 TB this is the decomposition that lets a
    // thousand executors each own an arc. The oracle is simply the whole
    // table.
    "q_kv_token_pages" -> { (s, dir) =>
      val (_, cName) = stageKv(s, dir)
      val t = s.read.format("graft.sources.KVDataSource")
        .option("table", cName).load()
      // 4 disjoint arcs over the 25-nation key space (identity tokens)
      val bounds = Seq(0L, 7L, 13L, 19L, 25L)
      bounds.sliding(2).map { case Seq(lo, hi) =>
        t.filter(col("c_nationkey") >= lo && col("c_nationkey") < hi)
      }.reduce(_ unionAll _)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("c_custkey").as("sum_cust"))
        .orderBy("c_nationkey")
    },

    // CQL `ORDER BY ck LIMIT n` (SupportsPushDownTopN): partitions are
    // ck-sorted, so each split serves its first n rows as a CONTIGUOUS
    // PREFIX — no sorting anywhere in the source — and Spark's TakeOrdered
    // merges the per-split prefixes (PlanSpec asserts the pushed top-n and
    // the ≤ n-per-split served rows). Cassandra's clustering-ordered read.
    "q_kv_topn_pushdown" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .orderBy("ck").limit(5)
    },

    // SAI range query (Cassandra 5 storage-attached index analog): a RANGE
    // predicate on an indexed non-key column — `WHERE ts >= ? AND ts < ?`
    // with the ring keyed by user — prunes the scan to the partitions
    // owning at least one in-range row (via the write-maintained inverted
    // projection) and row-filters exactly inside them; the classic 2i
    // (q_kv_secondary_index) answers only equality. PlanSpec asserts
    // planned splits < ring size and exact served rows. At 100 TB this is
    // the difference between touching the few partitions with matching
    // rows and scanning every replica.
    "q_kv_index_range" -> { (s, dir) =>
      val name = s"events_sai:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("value")),
        Seq("user_id"), indexCols = Seq("ts"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("ts") >= expr("TIMESTAMP'2024-01-02 00:00:00'") &&
          col("ts") < expr("TIMESTAMP'2024-01-02 03:00:00'"))
        .orderBy("event_id")
    },

    // CQL paging analog (SupportsPushDownOffset): page 2 of one partition's
    // ck-ordered rows — `WHERE pk = ? ORDER BY ck LIMIT 6 OFFSET 4`, the
    // read CQL serves via its paging state. The full-key equality pins the
    // scan to ONE split, which upgrades the top-n to a FULL pushdown
    // (Spark drops its own Sort+Limit — the split serves the requested
    // order directly) and makes the trailing OFFSET pushable: the source
    // serves exactly rows [4, 10) of the partition's ck order, nothing
    // else leaves the scan (PlanSpec asserts PushedOffset + 6 served
    // rows). At 100 TB: page k of a partition costs one slice read,
    // never offset+limit rows shipped to the coordinator.
    "q_kv_offset_pushdown" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("pk") === 58)
        .orderBy("ck").offset(4).limit(6)
    },

    // The FULL CQL primary-key shape — `PRIMARY KEY ((cust, prio), ck)`:
    // composite partition key AND clustering column composed. Equality on
    // both key columns prunes the ring to the one split owning the tuple;
    // the pushed ck bounds then slice that split's ck-sorted rows. At
    // 100 TB: one partition's slice, reached by token + two binary
    // searches.
    "q_kv_composite_ck" -> { (s, dir) =>
      val name = s"orders_comp_ck:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
          .select(col("o_custkey").as("cust"),
            col("o_orderpriority").as("prio"),
            col("o_orderkey").as("ck"), col("o_totalprice").as("price")),
        Seq("cust", "prio"), clusteringCols = Seq("ck"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("cust") === 37 && col("prio") === "4-NOT SPECIFIED" &&
          col("ck") >= 1 && col("ck") < 100000000L)
        .orderBy("ck")
    },

    // CQL DELETE on the KV source — the connector's programmatic delete
    // (`deleteFromCassandra` analog; the source lives outside a catalog, so
    // the DSv2 SupportsDelete surface is driven directly, exactly how the
    // connector exposes deletes): whole partitions drop by key, an absent
    // key (99) is a silent no-op (tombstone semantics), and each delete
    // appends a TOMBSTONE batch to the CDC changelog (StreamingSpec folds
    // one). Re-running is idempotent.
    "q_kv_delete" -> { (s, dir) =>
      val name = s"nation_delkv:$dir"
      graft.sources.KeyGroupedRegistry.stage(name,
        Tables.load(s, dir, "nation")
          .select(col("n_nationkey").cast(LongType).as("k"),
            col("n_name").as("name")),
        "k")
      val table = new graft.sources.KVTable(name,
        graft.sources.KeyGroupedRegistry.get(name))
      val filters: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.In("k",
          Array[Any](0L, 1L, 2L, 3L, 4L, 99L)))
      require(table.canDeleteWhere(filters), "key-only delete must be admissible")
      table.deleteWhere(filters)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .orderBy("k")
    },

    // CQL STATIC columns — one cell per PARTITION shared by every
    // clustering row (`segment text STATIC`): a single write carrying a
    // non-null static value flips what EVERY row of that partition reads,
    // without rewriting the rows (Cassandra stores the static row beside
    // the clustering rows; here the scan overlays the partition's current
    // cell). Customers' segments live as a static on their orders
    // partitions; one upsert moves every 3rd customer to 'PROMO', and all
    // their order rows — old and new — read the new segment. The oracle
    // recomputes the post-flip view from orders ⋈ customer.
    "q_kv_static" -> { (s, dir) =>
      val name = s"orders_static:$dir"
      val o = Tables.load(s, dir, "orders").filter(col("o_custkey") <= 60)
      val c = Tables.load(s, dir, "customer")
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select(col("o_custkey").as("pk"), col("o_orderkey").as("ck"),
            col("c_mktsegment").as("segment"), col("o_totalprice").as("price")),
        Seq("pk"), clusteringCols = Seq("ck"), staticCols = Seq("segment"))
      // one write per moved customer: a fresh order row whose static cell
      // re-points the whole partition
      o.filter(pmod(col("o_custkey"), lit(3)) === 0)
        .groupBy(col("o_custkey").as("pk"))
        .agg(max(col("o_orderkey")).as("mx"))
        .select(col("pk"), (col("mx") + 1000000L).as("ck"),
          lit("PROMO").as("segment"), lit(0.0).as("price"))
        .write.format("graft.sources.KVDataSource")
        .option("table", name).mode("append").save()
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .orderBy("pk", "ck")
    },

    // CLUSTERING ORDER BY ... DESC — the declared PHYSICAL direction of the
    // clustering tuple (`PRIMARY KEY (user, ts, id) WITH CLUSTERING ORDER
    // BY (ts DESC, id DESC)`), Cassandra's time-series idiom: each
    // partition stores newest-first, so "the latest 3 events per user" is
    // literally the first 3 stored rows of every partition (PER PARTITION
    // LIMIT) — no sort, no window function, no shuffle anywhere. At 100 TB
    // this turns the most common dashboard query into 3 reads/partition.
    "q_kv_clustering_desc" -> { (s, dir) =>
      val name = s"events_desc:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "events").filter(col("user_id") <= 50)
          .select(col("user_id").as("pk"), col("ts"), col("event_id"),
            col("value")),
        Seq("pk"), clusteringCols = Seq("ts", "event_id"),
        ckDesc = Set("ts", "event_id"))
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("perPartitionLimit", "3").load()
        .orderBy("pk", "ts", "event_id")
    },

    // MULTIPLE clustering columns — `PRIMARY KEY (cust, prio, ck)` with a
    // STRING first clustering column, the everyday Cassandra schema shape
    // (almost no real table has exactly one ck). Rows sort by the full
    // (prio, ck) tuple inside each partition; predicates follow the CQL
    // prefix rule (equality on ck1, range on ck2 — any other shape is left
    // to Spark, like CQL without ALLOW FILTERING), and the matching rows
    // are ONE contiguous tuple-slice found by two binary searches. At
    // 100 TB: one partition, one slice, regardless of how many clustering
    // levels the schema has.
    "q_kv_multick" -> { (s, dir) =>
      val name = s"orders_mck:$dir"
      graft.sources.KeyGroupedRegistry.stageMulti(name,
        Tables.load(s, dir, "orders").filter(col("o_custkey") <= 100)
          .select(col("o_custkey").as("cust"),
            col("o_orderpriority").as("prio"),
            col("o_orderkey").as("ck"), col("o_totalprice").as("price")),
        Seq("cust"), clusteringCols = Seq("prio", "ck"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("cust") === 37 && col("prio") === "4-NOT SPECIFIED" &&
          col("ck") >= 1000)
        .orderBy("prio", "ck")
    },

    // CQL ck-RANGE DELETE — `DELETE FROM t WHERE pk = ? AND ck >= ? AND
    // ck < ?`, the row-range form between point deletes and partition
    // drops: one partition's contiguous clustering slice is removed, and
    // the changelog receives a RANGE TOMBSTONE (marker row + [lo, hi)
    // bounds — O(1) in the log no matter how many rows it covers, exactly
    // how Cassandra serializes range deletes; StreamingSpec folds one
    // through CDC). The replay is idempotent.
    "q_kv_range_delete" -> { (s, dir) =>
      val name = s"orders_rdel:$dir"
      graft.sources.KeyGroupedRegistry.stage(name,
        Tables.load(s, dir, "orders").filter(col("o_custkey") <= 50)
          .select(col("o_custkey").as("pk"), col("o_orderkey").as("ck"),
            col("o_totalprice").as("price")),
        "pk", clusteringCol = Some("ck"))
      val table = new graft.sources.KVTable(name,
        graft.sources.KeyGroupedRegistry.get(name))
      val filters: Array[org.apache.spark.sql.sources.Filter] = Array(
        org.apache.spark.sql.sources.EqualTo("pk", 7L),
        org.apache.spark.sql.sources.GreaterThanOrEqual("ck", 1000L),
        org.apache.spark.sql.sources.LessThan("ck", 8000L))
      require(table.canDeleteWhere(filters),
        "key + ck-range delete must be admissible")
      table.deleteWhere(filters)
      // replaying the same range delete is a no-op on the final state
      new graft.sources.KVTable(name,
        graft.sources.KeyGroupedRegistry.get(name)).deleteWhere(filters)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .orderBy("pk", "ck")
    },

    // The canonical Cassandra time-series shape — `PRIMARY KEY (user_id,
    // ts)` with a TIMESTAMP clustering column: one user's time slice is a
    // pushed pk-equality (prunes the ring to 1 split) plus a pushed ts
    // range (normalized to the stored epoch-micros encoding, sliced from
    // the ts-sorted partition by two binary searches). At 100 TB this is
    // "read 10 days of one sensor", never "scan the table".
    "q_kv_timeseries" -> { (s, dir) =>
      val name = s"events_ts:$dir"
      graft.sources.KeyGroupedRegistry.stage(name,
        Tables.load(s, dir, "events").filter(col("user_id") <= 50)
          .select(col("user_id").as("pk"), col("ts"), col("value")),
        "pk", clusteringCol = Some("ts"))
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .filter(col("pk") === 7 &&
          col("ts") >= expr("TIMESTAMP'2024-01-10 00:00:00'") &&
          col("ts") < expr("TIMESTAMP'2024-01-20 00:00:00'"))
        .orderBy("ts")
    },

    // CQL `PER PARTITION LIMIT n` as a read option: every partition serves
    // at most its first n ck-ordered rows — the newest-k-per-key read
    // shape (e.g. "latest 3 orders per customer") that at 100 TB reads 3
    // rows per partition instead of materializing and window-ranking the
    // table. Deterministic because partitions are ck-sorted.
    "q_kv_per_partition_limit" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name)
        .option("perPartitionLimit", "3").load()
        .orderBy("pk", "ck")
    },

    // MIN/MAX(ck) aggregate pushdown — the metadata sibling of the grouped
    // count: partitions are ck-sorted, so each split's per-key MIN(ck) is
    // its first row and MAX(ck) its last (array-edge reads; with pushed ck
    // bounds, the edges of the binary-searched slice). Grouped by the full
    // key the pushdown is COMPLETE: one metadata row per split, no data row
    // materialized, no re-aggregation (PlanSpec asserts both). At 100 TB
    // "first/last event per key" never touches row data.
    "q_kv_minmax_pushdown" -> { (s, dir) =>
      val name = stageOrdersCk(s, dir)
      s.read.format("graft.sources.KVDataSource").option("table", name).load()
        .groupBy("pk")
        .agg(min(col("ck")).as("first_ck"), max(col("ck")).as("last_ck"),
          count(lit(1)).as("n"))
        .orderBy("pk")
    },

    // Count pushdown (cassandraCount analog): the DSv2 parquet scan answers
    // COUNT(*) from footer metadata without materializing rows
    // (PushedAggregation=[COUNT(*)], asserted in PlanSpec).
    "q_count_pushdown" -> { (s, dir) =>
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList", "")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(Tables.path(dir, "lineitem"))
        .agg(count(lit(1)).as("n_rows"))
    },

    // The 100 TB replacements for exact distinct/percentile: HLL++ and
    // GK-sketch run in fixed memory per group (the exact forms buffer every
    // value — q_percentile keeps them for oracle parity; these scale). Raw
    // sketch values are engine-specific, so the DECLARED columns are the
    // exact answers plus in-engine "sketch within 5% of exact" booleans —
    // the oracle recomputes the exact values and pins every flag true,
    // making the sketch quality itself driver-checkable.
    // Mergeable-sketch rollup — the 100 TB distinct-count pattern: shard
    // sketches union to a corpus estimate WITHOUT revisiting rows. Each
    // source builds a DataSketches HLL once (hll_sketch_agg); the corpus
    // estimate comes from hll_union_agg over those per-shard partials. Two
    // accuracy flags per row: the direct sketch estimate and the
    // union-of-partials estimate, each within 5% of the exact distinct
    // count. (The two estimates need not be BIT-equal: a sparse-mode shard
    // sketch unions through a different internal representation than a
    // single dense build, so the honest invariant is the bound, not
    // register equality — measured here.) Sketch binaries are
    // engine-specific, so (q_approx_distinct precedent) the oracle pins the
    // flags and recomputes the exact counts.
    "q_hll_mergeable" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val shard = d.groupBy("source")
        .agg(countDistinct(col("doc_id")).as("nd_docs"),
          hll_sketch_agg(col("doc_id")).as("sk"))
      def flags(nd: Column, dsk: Column, msk: Column) = Seq(
        (abs(hll_sketch_estimate(dsk) - nd) <= nd * 0.05).as("est_within_5pct"),
        (abs(hll_sketch_estimate(msk) - nd) <= nd * 0.05).as("merged_within_5pct"))
      val per = shard.groupBy("source")
        .agg(first("nd_docs").as("nd_docs"),
          hll_union_agg(col("sk")).as("msk"), first("sk").as("dsk"))
        .select(col("source").as("scope") +: col("nd_docs") +:
          flags(col("nd_docs"), col("dsk"), col("msk")): _*)
      val allRow = shard.agg(hll_union_agg(col("sk")).as("msk"))
        .crossJoin(d.agg(countDistinct(col("doc_id")).as("nd_docs"),
          hll_sketch_agg(col("doc_id")).as("dsk")))
        .select(lit("(all)").as("scope") +: col("nd_docs") +:
          flags(col("nd_docs"), col("dsk"), col("msk")): _*)
      per.union(allRow).orderBy("scope")
    },

    "q_approx_distinct" -> { (s, dir) =>
      // THREE aggregations joined on the 3-row group key, not one: mixing
      // two DISTINCT columns with an exact percentile in a single agg makes
      // Catalyst Expand the input (one copy per distinct group) AND buffer
      // quantile values over the expanded stream — 6.7x slower measured at
      // sf0.1, and the blowup scales with the data. Separately, each piece
      // is a clean partial+final plan; the join reconciles 3 rows.
      val li = Tables.load(s, dir, "lineitem")
      val exactNd = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supps"))
      val exactP = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"))
      val approx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("a_parts"),
          approx_count_distinct(col("l_suppkey")).as("a_supps"),
          expr("percentile_approx(l_quantity, 0.5, 10000)").as("a_p50"))
      exactNd.join(exactP, "l_returnflag").join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("nd_parts"), col("nd_supps"), col("p50"),
          (abs(col("a_parts") - col("nd_parts")) <= col("nd_parts") * 0.05)
            .as("parts_within_5pct"),
          (abs(col("a_supps") - col("nd_supps")) <= col("nd_supps") * 0.05)
            .as("supps_within_5pct"),
          (abs(col("a_p50") - col("p50")) <= abs(col("p50")) * 0.05)
            .as("p50_within_5pct"))
        .orderBy("l_returnflag")
    },

    // O6–O9 through the textual SQL front door — the closest Spark-native
    // transcription of the reference's CQL session (reference:
    // userdata/cloudinit.sh:299-321): CREATE KEYSPACE → CREATE DATABASE,
    // CREATE TABLE (3 columns, id key), the three INSERTs with the exact
    // reference rows, then SELECT * — all as spark.sql statements.
    // DROP-first keeps replays idempotent, mirroring IF NOT EXISTS +
    // Cassandra upsert semantics for a clean re-run.
    "q_users_sql_ddl" -> { (s, _) =>
      s.sql(s"CREATE DATABASE IF NOT EXISTS ${CassandraModel.Keyspace}")
      s.sql(s"DROP TABLE IF EXISTS ${CassandraModel.Keyspace}.users_sql")
      rmPath(s, s"${CassandraModel.Keyspace}.users_sql")
      s.sql(
        s"""CREATE TABLE ${CassandraModel.Keyspace}.users_sql
           |  (id INT NOT NULL, name STRING, email STRING)
           |  USING parquet
           |  COMMENT 'partition key: id; reference replication: SimpleStrategy RF=2'""".stripMargin)
      s.sql(s"INSERT INTO ${CassandraModel.Keyspace}.users_sql VALUES (1, 'Alice', 'alice@example.com')")
      s.sql(s"INSERT INTO ${CassandraModel.Keyspace}.users_sql VALUES (2, 'Bob', 'bob@example.com')")
      s.sql(s"INSERT INTO ${CassandraModel.Keyspace}.users_sql VALUES (3, 'Charlie', 'charlie@example.com')")
      s.sql(s"SELECT * FROM ${CassandraModel.Keyspace}.users_sql ORDER BY id")
    },

    // O10: SELECT release_version FROM system.local.
    "q_system_local" -> { (s, _) =>
      CassandraModel.systemLocal(s).orderBy("release_version")
    },

    // system_schema.columns introspection (the metadata read every CQL
    // driver and the Spark connector issue before planning): column rows
    // for the reference keyspace, derived from the live schema object —
    // see CassandraModel.systemSchema. Completes the system-table family
    // alongside system.local, system.size_estimates and the ring arcs.
    "q_system_schema" -> { (s, _) =>
      CassandraModel.systemSchema(s).orderBy("column_name")
    },

    // Ring introspection (`nodetool ring` / system.peers analog): the live
    // vnode table — every (position, host) arc — served as a DataFrame.
    // On the DEFAULT ring the arc layout is a closed form (host i's j-th
    // vnode at (j·3+i)·30 ⇒ host index = (pos/30) mod 3), which is exactly
    // what the oracle recomputes — so the engine's actual topology vector
    // is pinned against the documented allocation, not just against
    // itself. Metadata-only and ring-bounded like every system table.
    "q_kv_ring_arcs" -> { (s, _) =>
      import graft.sources.KVRing
      KVRing.resetTopology()
      s.createDataFrame(KVRing.arcs.map { case (pos, host) =>
          (pos.toLong, host, KVRing.RingSize.toLong)
        })
        .toDF("pos", "host", "ring_size")
        .orderBy("pos")
    },

    // CQL `token(pk)` through Spark SQL (FunctionCatalog): the catalog
    // registers the ring-token function, so SQL can compute placement
    // directly — `SELECT graftcat.system.token(id)` — exactly the function
    // CQL token-range paging is written against (`WHERE token(pk) > ?`),
    // and it agrees by construction with KVRing.tokenOf, the split
    // placement and the pushed token-range arcs (q_kv_token_range). A
    // single-bigint key binds the magic-invoke fast path (codegen'd
    // primitive call); composite/string keys bind the Murmur3 tuple form
    // (UpsertSpec pins both against KVRing.tokenOf). The identity token on
    // integral keys is what the oracle reproduces.
    "q_fn_token" -> { (s, dir) =>
      Tables.load(s, dir, "customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("cust_tok")
      s.sql("""SELECT c_custkey, graftcat.system.token(c_custkey) AS tok
              |FROM cust_tok ORDER BY c_custkey""".stripMargin)
    },

    // CQL user-defined aggregate (`CREATE AGGREGATE wavg ... SFUNC sfunc
    // FINALFUNC final`) through the V2 FunctionCatalog: the state function
    // accumulates (Σ v·w, Σ w) per group, Spark MERGES partial states
    // across partitions (the distributed form of the coordinator folding
    // per-replica partials), and the final function divides. Exact long
    // arithmetic in the state so the result is split-independent; the
    // quantity-weighted mean price per return flag, in cents.
    "q_fn_uda" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("cents"),
          col("l_quantity").cast(LongType).as("qty"))
        .createOrReplaceTempView("li_uda")
      s.sql("""SELECT l_returnflag,
              |  round(graftcat.system.wavg(cents, qty), 6) AS wavg_cents
              |FROM li_uda GROUP BY l_returnflag
              |ORDER BY l_returnflag""".stripMargin)
    },

    // CQL user-defined scalar function (`CREATE FUNCTION ... LANGUAGE java
    // AS 'return ...;'` — the pinned Cassandra 4.0.6 ships UDFs alongside
    // UDAs, userdata/cloudinit.sh:216) through the V2 FunctionCatalog: the
    // DDL registers an expression-bodied scalar, SQL calls it like any
    // built-in. Both CQL null modes in one query — `fahrenheit` is RETURNS
    // NULL ON NULL INPUT (all-double signature → binds the magic-invoke
    // codegen class, Spark's own null guard short-circuits), `rescale` is
    // CALLED ON NULL INPUT (the body sees the null and coalesce rescues
    // it — the interpreted path, since a primitive invoke signature cannot
    // see per-argument nulls). nullif() manufactures the null inputs.
    // IEEE double ops in source order both sides, so values are
    // bit-identical with the oracle's inlined arithmetic.
    "q_fn_udf" -> { (s, dir) =>
      graft.functions.CqlUdfs.executeDdl(
        "CREATE OR REPLACE FUNCTION fahrenheit(c double) " +
          "RETURNS NULL ON NULL INPUT RETURNS double " +
          "LANGUAGE java AS 'return c * 9.0 / 5.0 + 32.0;'")
      graft.functions.CqlUdfs.executeDdl(
        "CREATE OR REPLACE FUNCTION rescale(d double) " +
          "CALLED ON NULL INPUT RETURNS double " +
          "LANGUAGE java AS 'return coalesce(d, -1.0) * 100.0;'")
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("nullif(l_discount, 0.0)").as("disc"))
        .createOrReplaceTempView("li_udf")
      s.sql("""SELECT l_orderkey, l_linenumber,
              |  graftcat.system.fahrenheit(disc) AS f,
              |  graftcat.system.rescale(disc) AS g
              |FROM li_udf ORDER BY l_orderkey, l_linenumber""".stripMargin)
    },

    // Partition pruning on a partitioned layout — the directory-level analog
    // of the connector's token-range routing (SURVEY.md §4.1): orders written
    // `partitionBy(o_year)`, then a year-filtered read touches only that
    // year's directory (PlanSpec asserts the PartitionFilters + pruned
    // partition count). At 100 TB this is the difference between scanning
    // one partition and scanning the table; row-group-stat pushdown
    // (q_filtered_scan) composes beneath it.
    "q_partition_pruned" -> { (s, dir) =>
      val tbl = "graft_orders_byyear"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      rmPath(s, tbl)
      Tables.load(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").saveAsTable(tbl)
      s.table(tbl)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .orderBy("o_orderpriority")
    },

    // Source/sink format breadth beyond parquet: the same projection is
    // written to CSV (schema-on-read with an explicit schema — never
    // inference at scale) and ORC, read back through both sources, and
    // aggregated; equality with the doubled parquet-side oracle proves both
    // round-trips are lossless. Writers and readers are fully distributed —
    // one file per task, no driver funnel.
    "q_format_roundtrip" -> { (s, dir) =>
      val lf = Tables.load(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 2)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      val base = s"${sys.props("java.io.tmpdir")}/graft-roundtrip/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      lf.write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$base/csv")
      lf.write.mode(SaveMode.Overwrite).orc(s"$base/orc")
      val csv = s.read.schema(lf.schema).option("header", "true").csv(s"$base/csv")
      val orc = s.read.orc(s"$base/orc")
      csv.unionByName(orc)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("l_quantity").cast(DoubleType).as("qty"))
        .orderBy("l_returnflag")
    },

    // PHI-ACCRUAL FAILURE DETECTOR — the gossip-layer conviction math
    // every Cassandra coordinator runs before routing around a node
    // (Hayashibara et al.; Cassandra's FailureDetector uses exactly the
    // exponential simplification modeled here: φ = Δt/mean · log10 e,
    // convicting at φ > 8, the phi_convict_threshold default). Heartbeat
    // history self-derives: node i's arrivals are the orderkeys ≡ i
    // (mod 3) in tick units, so the stream is dense and deterministic at
    // every SF. Mean inter-arrival is the EXACT (last−first)/(n−1) — one
    // IEEE division over bigints, not an average of floats — and φ is a
    // fixed three-op DAG ending in the house round(...,6); probes at
    // declared gaps {0, 30, 300} ticks beyond the last heartbeat show
    // the detector's whole range: alive, suspicious-but-under-threshold,
    // convicted. At scale this is per-endpoint O(1) state — the point of
    // accrual detection is that NO query traffic is spent probing.
    "q_kv_phi_accrual" -> { (s, dir) =>
      val hb = Tables.load(s, dir, "orders")
        .select(pmod(col("o_orderkey"), lit(3)).cast("int").as("node"),
          col("o_orderkey").cast(LongType).as("t"))
      val tmax = hb.agg(max("t")).head().getLong(0) // scalar: "now" anchor
      hb.groupBy("node")
        .agg(min("t").as("first_t"), max("t").as("last_t"),
          count(lit(1)).as("n_hb"))
        .withColumn("gap", explode(array(lit(0L), lit(30L), lit(300L))))
        .withColumn("probe_t", lit(tmax) + col("gap"))
        .withColumn("mean_iv",
          (col("last_t") - col("first_t")) / (col("n_hb") - 1))
        .withColumn("phi", round(
          (col("probe_t") - col("last_t")) / col("mean_iv")
            * lit(0.4342944819032518), 6))
        .select(col("gap"), col("node"), col("n_hb"), col("last_t"),
          round(col("mean_iv"), 6).as("mean_interval"), col("phi"),
          (col("phi") <= 8.0).as("up"))
        .orderBy("gap", "node")
    },

    // COLUMN DEFAULT VALUES (Spark 3.4+ `DEFAULT`): the schema-evolution
    // courtesy CQL gives with absent cells, expressed the warehouse way —
    // writers that predate a column keep working, the TABLE declares what
    // absent means ('unassigned'/0 here), and INSERTs with explicit
    // column lists materialize the defaults at write time (no
    // read-path COALESCE debt). Two insert waves: one pre-evolution
    // (k, name only — defaults fill), one post (all columns). The oracle
    // recomputes every cell from nation + the declared defaults.
    "q_column_defaults" -> { (s, dir) =>
      val tbl = "graft_defaults_demo"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      rmPath(s, tbl)
      s.sql(s"""CREATE TABLE $tbl (
        k BIGINT, name STRING,
        region STRING DEFAULT 'unassigned',
        score BIGINT DEFAULT 0) USING parquet""")
      Tables.load(s, dir, "nation").createOrReplaceTempView("graft_nation_v")
      s.sql(s"""INSERT INTO $tbl (k, name)
        SELECT n_nationkey, n_name FROM graft_nation_v WHERE n_nationkey < 10""")
      s.sql(s"""INSERT INTO $tbl (k, name, region, score)
        SELECT n_nationkey, n_name, concat('r', n_regionkey), n_regionkey * 10
        FROM graft_nation_v WHERE n_nationkey >= 10""")
      s.table(tbl).orderBy("k")
    },

    // DYNAMIC PARTITION OVERWRITE — the idempotent-backfill primitive of
    // a partitioned lake (re-run one day's job without touching the other
    // 3,652 partitions; STATIC mode would wipe the whole table): orders
    // laid out by year, then 1995's partition alone is overwritten with a
    // corrected copy. The readback proves surgical replacement — 1995
    // carries only the replacement marker, every other year is
    // byte-identical to the original load — which is exactly what the
    // oracle recomputes relationally.
    "q_dynamic_overwrite" -> { (s, dir) =>
      val tbl = "graft_orders_dynover"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      rmPath(s, tbl)
      val o = Tables.load(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      o.write.mode(SaveMode.Overwrite).partitionBy("o_year").saveAsTable(tbl)
      val oldMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        o.filter(col("o_year") === 1995)
          .withColumn("o_orderpriority", lit("0-REPLACED"))
          .write.mode(SaveMode.Overwrite).insertInto(tbl)
      } finally s.conf.set("spark.sql.sources.partitionOverwriteMode", oldMode)
      s.table(tbl)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n"),
          countDistinct("o_orderpriority").as("n_prios"),
          sum((col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long"))
            .as("sum_cents"))
        .orderBy("o_year")
    },

    // CORRUPT-RECORD QUARANTINE on JSON ingest — the error-handling
    // contract a 100 TB crawl ingest lives by: malformed lines must be
    // QUARANTINED (PERMISSIVE mode + columnNameOfCorruptRecord), never
    // silently dropped (DROPMALFORMED would bias the corpus) and never
    // fatal (FAILFAST at line 10^12 wastes the job). The fixture stages
    // one JSON line per document with every 7th line truncated
    // mid-string (deterministically invalid); good lines parse to typed
    // columns, corrupt lines surface as NULL-typed rows carrying the raw
    // line — so the rollup can count and bound the damage per language.
    // The oracle replays the corruption rule from the documents table
    // directly: quarantine accounting must equal the ground truth.
    "q_json_corrupt" -> { (s, dir) =>
      val base = s"${sys.props("java.io.tmpdir")}/graft-jsonl/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      Tables.load(s, dir, "documents").select(
        when(col("doc_id") % 7 === 0,
          concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"lang\":\"")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
          .as("value"))
        .write.mode(SaveMode.Overwrite).text(base)
      s.read
        .schema("doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(base)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
            .as("n_corrupt"),
          sum("n_chars").as("sum_chars"))
        .orderBy(col("lang").asc_nulls_first)
    },

    // XML round-trip — Spark 4's built-in XML source (spark-xml folded
    // into core in 4.0): nation written as one <nation> element per row,
    // read back with an EXPLICIT schema (schema-on-read; inference never
    // at scale), aggregated per region. Lossless-ness is proven by the
    // oracle aggregating the parquet original. The writer/reader are
    // distributed like every other file source; XML's role at scale is
    // interchange with legacy feeds, not the hot path — which is exactly
    // what a roundtrip + equality check certifies.
    "q_xml_roundtrip" -> { (s, dir) =>
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      val base = s"${sys.props("java.io.tmpdir")}/graft-xml/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      n.write.mode(SaveMode.Overwrite).format("xml")
        .option("rowTag", "nation").save(base)
      s.read.schema(n.schema).format("xml").option("rowTag", "nation")
        .load(base)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"),
          sum("n_nationkey").as("sum_key"),
          min("n_name").as("first_name"))
        .orderBy("n_regionkey")
    },

    // HILBERT-CURVE clustering (the locality-preserving layout that beats
    // Z-order on range queries: the Hilbert curve never makes the long
    // diagonal jumps Morton interleaving does, so each curve bucket is a
    // tighter bounding box — why Delta/Databricks moved liquid clustering
    // from Z-order to Hilbert). Order-8 curve over (custkey mod 256, day
    // mod 256); the classic xy2d walk (8 bit-levels of quadrant pick +
    // rotate) is STATEFUL across levels, so it runs on the BOUNDED
    // (hx, hy) CELL rollup (≤65536 rows at ANY corpus size — the
    // q_dbscan_grid discipline), one localCheckpoint per level (x/y/d
    // each reference the previous level's columns up to 5× — unchecked,
    // the inlined plan grows 5^8). The quadrant index (3rx)⊕ry is
    // rewritten 3rx + ry − 2rx·ry — identical integer text in both
    // engines, no bitwise-XOR syntax split. Scale: one integer rollup +
    // constant cell-table work; the layout write path itself is
    // repartitionByRange(d) exactly like zorderLayout.
    "q_hilbert_layout" -> { (s, dir) =>
      val cells = Tables.load(s, dir, "orders")
        .withColumn("day",
          expr("cast(datediff(o_orderdate, date'1992-01-01') as bigint)"))
        .groupBy(expr("cast(o_custkey % 256 as bigint)").as("hx"),
          expr("day % 256").as("hy"))
        .agg(count(lit(1)).as("n"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("day").as("min_day"), max("day").as("max_day"))
        .withColumn("d", lit(0L))
        .withColumn("x", col("hx")).withColumn("y", col("hy"))
        .localCheckpoint(true)
      val walked = Seq(128, 64, 32, 16, 8, 4, 2, 1).foldLeft(cells) {
        (df, s0) =>
          df.select(col("hx"), col("hy"), col("n"), col("min_cust"),
            col("max_cust"), col("min_day"), col("max_day"),
            expr(s"d + ${s0 * s0} * (3 * ((x & $s0) div $s0) " +
              s"+ ((y & $s0) div $s0) " +
              s"- 2 * ((x & $s0) div $s0) * ((y & $s0) div $s0))")
              .as("d"),
            expr(s"CASE WHEN ((y & $s0) div $s0) = 0 THEN " +
              s"(CASE WHEN ((x & $s0) div $s0) = 1 " +
              s"THEN $s0 - 1 - (y % $s0) ELSE y % $s0 END) " +
              s"ELSE x % $s0 END").as("x"),
            expr(s"CASE WHEN ((y & $s0) div $s0) = 0 THEN " +
              s"(CASE WHEN ((x & $s0) div $s0) = 1 " +
              s"THEN $s0 - 1 - (x % $s0) ELSE x % $s0 END) " +
              s"ELSE y % $s0 END").as("y"))
            .localCheckpoint(true)
      }
      walked.groupBy(expr("d div 4096").as("hbucket"))
        .agg(sum("n").as("n_points"), count(lit(1)).as("n_cells"),
          min("min_cust").as("min_cust"), max("max_cust").as("max_cust"),
          min("min_day").as("min_day"), max("max_day").as("max_day"))
        .orderBy("hbucket")
    },

    // Z-order (Morton) clustering: the multi-dimensional layout op — a sort
    // on (a, b) clusters only `a`, while interleaving the key bits bounds
    // BOTH dimensions inside every z-range, so file-level min/max stats
    // prune on either filter column. The declared query verifies exactly
    // that property: per fixed z-range bucket (zval >> 18), both the
    // custkey span and the date span are narrow — pure shift/mask integer
    // arithmetic, bit-identical in any engine. The physical write path
    // (repartitionByRange(zval) + sortWithinPartitions) is zorderLayout
    // above, asserted in PlanSpec.
    "q_zorder_layout" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .withColumn("zx", expr("cast(o_custkey % 65536 as bigint)"))
        .withColumn("zy",
          expr("cast(datediff(o_orderdate, date'1992-01-01') % 65536 as bigint)"))
        .withColumn("zval",
          expr(s"(${mortonSpark("zx")}) | shiftleft(${mortonSpark("zy")}, 1)"))
        .withColumn("zbucket", expr("zval div 262144"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min("zx").as("min_cust"), max("zx").as("max_cust"),
          min("zy").as("min_day"), max("zy").as("max_day"))
        .orderBy("zbucket")
    },

    // Small-file compaction: the operational fix for streaming-ingest file
    // sprawl (thousands of KB-sized parquet files kill scan throughput via
    // per-file open/footer costs and overwhelm the driver's split listing
    // at 100 TB). Simulates a fragmented landing zone (64 tiny files), then
    // compacts with repartitionByRange(user_id, ts) + sortWithinPartitions
    // — each output file covers a disjoint key range with clustered rows,
    // so downstream per-user scans prune by file-level min/max. The
    // declared query aggregates the compacted copy; hash-equality with the
    // oracle over the ORIGINAL table proves compaction is content-lossless.
    // All order-independent measures (counts, min/max ids) — no float sums.
    "q_compact_small_files" -> { (s, dir) =>
      val base = s"${sys.props("java.io.tmpdir")}/graft-compact/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      val ev = Tables.load(s, dir, "events")
      ev.repartition(64).write.mode(SaveMode.Overwrite).parquet(s"$base/small")
      s.read.parquet(s"$base/small")
        .repartitionByRange(4, col("user_id"), col("ts"))
        .sortWithinPartitions("user_id", "ts")
        .write.mode(SaveMode.Overwrite).parquet(s"$base/compact")
      s.read.parquet(s"$base/compact")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          countDistinct("user_id").as("n_users"))
        .orderBy("event_type")
    },

    // TWCS — TimeWindowCompactionStrategy as a LAYOUT discipline (the
    // compaction strategy the pinned Cassandra uses for time series):
    // events land in NON-OVERLAPPING time-window partitions (one daily
    // directory per window), each window compacted within itself
    // (ts-sorted), and a NEW window's arrival appends ONLY its own
    // directory — PlanSpec asserts the old windows' files are untouched
    // bit-for-bit and that a window-filtered read plans only its
    // directory. At 100 TB this is why time-series expiry is O(1) (drop
    // whole windows) and why late reads never rewrite history.
    "q_twcs_layout" -> { (s, dir) =>
      val base = s"${sys.props("java.io.tmpdir")}/graft-twcs/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      val ev = Tables.load(s, dir, "events")
        .withColumn("w", date_format(col("ts"), "yyyy-MM-dd"))
      val lastDay = ev.agg(max("w")).head().getString(0)
      // history: every closed window, compacted within itself
      ev.filter(col("w") < lastDay)
        .repartition(col("w")).sortWithinPartitions("ts")
        .write.partitionBy("w").mode(SaveMode.Overwrite).parquet(base)
      // the open window arrives later: append touches ONLY its directory
      ev.filter(col("w") === lastDay)
        .repartition(1).sortWithinPartitions("ts")
        .write.partitionBy("w").mode(SaveMode.Append).parquet(base)
      // partition-column type inference turns the yyyy-MM-dd directory
      // value into a DATE — re-render it as the string key the oracle uses
      s.read.parquet(base)
        .groupBy(date_format(col("w").cast("timestamp"), "yyyy-MM-dd").as("w"))
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
          min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("w")
    },

    // STCS — SizeTieredCompactionStrategy (Cassandra's default strategy)
    // as its DECISION LEDGER: memtable flushes of widely varying sizes
    // (flush f = orders with floor(sqrt(o_orderkey)) = f → sizes 1, 3, 5, …
    // rows) are bucketed into size tiers, and any tier holding >=
    // min_threshold (4) sstables is a compaction candidate merging up to
    // max_threshold (32) tables per pass — n_after = ceil(n/32) via exact
    // integer arithmetic. At 100 TB the sstable inventory is METADATA
    // (thousands of rows per node): the ledger is two map-side-combined
    // aggregations (flush → tier), no wide row ever moves; the actual
    // merge IO the ledger schedules is the per-directory rewrite
    // demonstrated physically by q_compact_small_files. Every column is
    // integer (tier boundaries are explicit CASE cut-points, not float
    // log), so the oracle is bit-exact. The boundaries are powers of
    // bucket ratio 4 — the same geometric tiering STCS's bucket_high/low
    // induce around averages.
    "q_stcs_layout" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .withColumn("flush_id", expr("cast(floor(sqrt(o_orderkey)) as bigint)"))
        .groupBy("flush_id").agg(count(lit(1)).as("n"))
        .withColumn("tier", expr(
          "case when n < 4 then 0 when n < 16 then 1 when n < 64 then 2 " +
            "when n < 256 then 3 when n < 1024 then 4 else 5 end"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_sstables"),
          sum("n").as("n_rows"),
          min("flush_id").as("min_flush"), max("flush_id").as("max_flush"))
        .withColumn("n_after", expr(
          "case when n_sstables >= 4 then (n_sstables + 31) div 32 " +
            "else n_sstables end"))
        .select("tier", "n_sstables", "n_after", "n_rows",
          "min_flush", "max_flush")
        .orderBy("tier")
    },

    // LCS — LeveledCompactionStrategy as a LAYOUT CONTRAST on the same
    // rows: L0 is the flush zone (4 arrival-interleaved sstables,
    // event_id % 4, each spanning ~the whole key range — the overlap that
    // makes L0 reads touch EVERY table), while L1+ is the leveled run
    // (fixed 160-row sstables = event_id div 160, levels growing 10× —
    // 10, 100, 1000 tables — with DISJOINT key ranges within a level by
    // construction). `read_amp` makes the invariant measurable: the count
    // of sstables whose [min,max] covers probe key 5000 is 4 in L0 and
    // exactly 1 across all leveled rows — why LCS bounds point reads to
    // one table per level where L0/STCS degrade with flush count. At
    // 100 TB the leveled assignment is the same range-partitioned sort a
    // repartitionByRange write produces (zorderLayout/compactSmallFiles
    // demonstrate that physical path); the ledger itself is two key-local
    // aggregations with map-side combine.
    "q_lcs_layout" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events").select(col("event_id"))
      val l0 = ev.withColumn("sst", expr("event_id % 4"))
        .withColumn("level", lit("L0"))
      val leveled = ev.withColumn("sst", expr("event_id div 160"))
        .withColumn("level", expr(
          "case when event_id div 160 < 10 then 'L1' " +
            "when event_id div 160 < 110 then 'L2' " +
            "when event_id div 160 < 1110 then 'L3' else 'L4' end"))
      l0.unionByName(leveled)
        .groupBy("level", "sst")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("lo"), max("event_id").as("hi"))
        .groupBy("level")
        .agg(count(lit(1)).as("n_sstables"),
          sum("n").as("n_rows"),
          min("lo").as("min_key"), max("hi").as("max_key"),
          sum(when(col("lo") <= 5000 && col("hi") >= 5000, 1L)
            .otherwise(0L)).as("read_amp"))
        .orderBy("level")
    },

    // JSON-lines round-trip — the third non-parquet format tier (CSV and ORC
    // above): distributed write of a projection to .json, schema-declared
    // read back (schema inference at 100 TB would be a full extra pass),
    // aggregate must equal the parquet-side oracle. Shortest-representation
    // double serialization makes the money column round-trip exactly.
    "q_json_roundtrip" -> { (s, dir) =>
      val of = Tables.load(s, dir, "orders")
        .filter(col("o_custkey") <= 50)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val base = s"${sys.props("java.io.tmpdir")}/graft-jsonrt/" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")
      of.write.mode(SaveMode.Overwrite).json(base)
      s.read.schema(of.schema).json(base)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("total"))
        .orderBy("o_orderstatus")
    })

  // ----------------------------------------------------------- oracle SQL

  val oracles: Map[String, String] = Map(
    "q_users_upsert" ->
      """SELECT * FROM (VALUES
        | (1, 'Alice',   'alice@example.com'),
        | (2, 'Bob',     'bob@refresh.example'),
        | (3, 'Charlie', 'charlie@example.com'),
        | (4, 'Dana',    'dana@example.com')) AS t(id, name, email)
        |ORDER BY id""".stripMargin,

    "q_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_catalog_upsert" ->
      """SELECT * FROM (VALUES
        | (1, 'Alice',   'alice@example.com'),
        | (2, 'Bob',     'bob@refresh.example'),
        | (3, 'Charlie', 'charlie@example.com'),
        | (4, 'Dana',    'dana@example.com')) AS t(id, name, email)
        |ORDER BY id""".stripMargin,

    "q_users_delete" ->
      """SELECT * FROM (VALUES
        | (1, 'Alice',   'alice@example.com'),
        | (3, 'Charlie', 'charlie@example.com')) AS t(id, name, email)
        |ORDER BY id""".stripMargin,

    "q_kv_point_read" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer
        |WHERE c_nationkey = 3
        |ORDER BY c_custkey""".stripMargin,

    "q_kv_typed_join" ->
      """SELECT CAST(t.k AS BIGINT) AS k, c_custkey, c_acctbal
        |FROM (VALUES (1), (3), (3), (7), (99)) AS t(k)
        |JOIN customer ON c_nationkey = t.k
        |ORDER BY k, c_custkey""".stripMargin,

    "q_spj_join" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY 1, 2
        |ORDER BY n_nationkey""".stripMargin,

    "q_kv_composite_key" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer
        |WHERE c_nationkey = 11 AND c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q_spj_composite" ->
      """SELECT CAST(a.c_nationkey AS BIGINT) AS c_nationkey, a.c_mktsegment,
        |  a.n_cust, a.total_bal, b.max_cust, b.min_bal
        |FROM (
        |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_cust,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |  FROM customer GROUP BY 1, 2) a
        |JOIN (
        |  SELECT c_nationkey, c_mktsegment, MAX(c_custkey) AS max_cust,
        |    MIN(c_acctbal) AS min_bal
        |  FROM customer GROUP BY 1, 2) b
        |ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |ORDER BY 1, 2""".stripMargin,

    "q_count_pushdown" ->
      "SELECT COUNT(*) AS n_rows FROM lineitem",

    "q_kv_limit_pushdown" ->
      "SELECT COUNT(*) AS n_rows FROM (SELECT * FROM customer LIMIT 7) t",

    // independent recomputation of the merge: survivors of the delete
    // branch, updated balances, and anti-join inserts
    "q_merge_upsert_delete" ->
      """WITH t AS (SELECT c_custkey AS id, c_acctbal AS bal
        |           FROM customer WHERE c_custkey <= 100),
        |s AS (SELECT o_custkey AS id, COUNT(*) AS n
        |      FROM orders WHERE o_custkey <= 150 GROUP BY 1)
        |SELECT id, bal FROM (
        |  SELECT t.id AS id,
        |    CASE WHEN s.id IS NULL THEN t.bal ELSE t.bal + s.n END AS bal
        |  FROM t LEFT JOIN s ON t.id = s.id
        |  WHERE s.id IS NULL OR s.n < 10
        |  UNION ALL
        |  SELECT s.id, CAST(s.n AS DOUBLE)
        |  FROM s LEFT JOIN t ON s.id = t.id WHERE t.id IS NULL
        |) u ORDER BY id""".stripMargin,

    // independent recomputation of the SCD2 end state: closed current
    // versions for changed ids, open PROMO successors, untouched rest
    "q_merge_scd2" ->
      """WITH base AS (SELECT c_custkey AS id, c_mktsegment AS seg
        |              FROM customer WHERE c_custkey <= 200),
        |chg AS (SELECT DISTINCT o_custkey AS id FROM orders
        |        WHERE o_custkey <= 200 AND YEAR(o_orderdate) = 1997)
        |SELECT CAST(vid AS BIGINT) AS vid, CAST(id AS BIGINT) AS id, seg,
        |  CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to
        |FROM (
        |  SELECT id * 10 AS vid, id, seg, 0 AS valid_from,
        |    CASE WHEN id IN (SELECT id FROM chg) THEN 1 ELSE NULL END AS valid_to
        |  FROM base
        |  UNION ALL
        |  SELECT id * 10 + 1, id, 'PROMO', 1, NULL FROM chg
        |) u ORDER BY vid""".stripMargin,

    "q_kv_grouped_count" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
        |  COUNT(*) AS n
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // CONTAINS 'N7' over the derived tag set == nationkey 7
    "q_kv_contains" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer WHERE c_nationkey = 7
        |ORDER BY c_custkey""".stripMargin,

    // KEYS(m): the map key is the market segment
    "q_kv_contains_key" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    // ENTRIES(m): exact (segment, nation) pair
    "q_kv_map_entry" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 7
        |ORDER BY c_custkey""".stripMargin,

    // VALUES(m): the map value is the nation key
    "q_kv_map_contains" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer WHERE c_nationkey = 7
        |ORDER BY c_custkey""".stripMargin,

    // the SELECT JSON documents re-rendered by DuckDB from the same rows
    "q_kv_json_dml" ->
      """SELECT CAST(to_json(struct_pack(
        |    id := CAST(c_custkey AS BIGINT),
        |    name := c_name,
        |    cents := CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)))
        |  AS VARCHAR) AS json
        |FROM customer WHERE c_custkey <= 100
        |ORDER BY json""".stripMargin,

    // the conditional-batch outcome recomputed: keys 1-12 seeded 'open'
    // (BUILDING) take BOTH batch statements (the second wins the row),
    // everything else is byte-identical to the seed
    "q_kv_cas_batch" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  CASE WHEN c_custkey BETWEEN 1 AND 12 AND c_mktsegment = 'BUILDING'
        |       THEN 'done'
        |       WHEN c_mktsegment = 'BUILDING' THEN 'open'
        |       ELSE 'closed' END AS status,
        |  CASE WHEN c_custkey BETWEEN 1 AND 12 AND c_mktsegment = 'BUILDING'
        |       THEN CAST(c_nationkey * 10 + 1 AS BIGINT)
        |       ELSE CAST(c_nationkey AS BIGINT) END AS v
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY k""".stripMargin,

    // the coalesced read serves every staged row exactly once — the
    // result is independent of the split layout
    "q_kv_split_sizing" ->
      """SELECT COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_ck,
        |  MIN(o_orderkey) AS min_ck, MAX(o_orderkey) AS max_ck,
        |  COUNT(DISTINCT o_custkey) AS n_parts
        |FROM orders WHERE o_custkey <= 200""".stripMargin,

    // the multi-slice IN read recomputed over the same staged projection
    "q_kv_ck_in" ->
      s"""SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price
         |FROM orders
         |WHERE o_custkey <= 200 AND o_orderkey IN (${CkInVals.mkString(", ")})
         |ORDER BY pk, ck""".stripMargin,

    // the replica-side native aggregates recomputed over the same staged
    // projection (sum cast back to BIGINT — DuckDB widens bigint sums to
    // HUGEINT; avg is exact-integer-sum / count in both engines, rounded)
    "q_kv_value_agg" ->
      """WITH t AS (
        |  SELECT o_custkey AS pk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |         ELSE CAST(length(o_orderpriority) AS BIGINT) END AS clen
        |  FROM orders WHERE o_custkey <= 200)
        |SELECT pk, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        |  COUNT(clen) AS n_clen, round(AVG(cents), 4) AS avg_cents
        |FROM t GROUP BY pk ORDER BY pk""".stripMargin,

    "q_kv_value_agg_sliced" ->
      """WITH t AS (
        |  SELECT o_custkey AS pk, o_orderkey AS ck,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_custkey <= 200)
        |SELECT pk, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MAX(cents) AS max_cents
        |FROM t WHERE ck >= 7000
        |GROUP BY pk ORDER BY pk""".stripMargin,

    "q_kv_value_agg_partial" ->
      """WITH t AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |         ELSE CAST(length(o_orderpriority) AS BIGINT) END AS clen
        |  FROM orders WHERE o_custkey <= 200)
        |SELECT CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        |  COUNT(clen) AS n_clen, COUNT(*) AS n,
        |  round(AVG(cents), 4) AS avg_cents
        |FROM t""".stripMargin,

    // the distinct key tuples of the ring
    "q_kv_distinct_keys" ->
      """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  c_mktsegment
        |FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // per-(customer, priority) counts — the ck-prefix grouping
    "q_kv_grouped_count_ck" ->
      """SELECT o_custkey AS pk, o_orderpriority AS prio,
        |  COUNT(*) AS n_orders
        |FROM orders WHERE o_custkey <= 100
        |GROUP BY 1, 2
        |ORDER BY pk, prio""".stripMargin,

    "q_kv_secondary_index" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_custkey <= 300 AND c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,

    "q_kv_allow_filtering" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_custkey <= 500 AND c_acctbal > 5000.0
        |  AND c_mktsegment <> 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin,

    "q_kv_mv_read" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin,

    // the committed batch recomputed from orders; any leakage of the
    // rejected poison batch (-1 totals / audit row) would hash-mismatch
    "q_kv_logged_batch" ->
      """SELECT o_orderkey AS id, o_custkey AS cust, o_totalprice AS total,
        |  c.n AS n
        |FROM orders
        |JOIN (SELECT o_custkey AS cust, COUNT(*) AS n FROM orders
        |      WHERE o_custkey <= 30 GROUP BY 1) c
        |ON o_custkey = c.cust
        |WHERE o_custkey <= 30
        |ORDER BY id""".stripMargin,

    // the completed second batch: both tables at its values
    "q_kv_batchlog" ->
      """SELECT o_orderkey AS id, o_custkey AS cust,
        |  o_orderkey * 20 AS v, c.n AS n
        |FROM orders
        |JOIN (SELECT o_custkey AS cust, COUNT(*) * 2 AS n FROM orders
        |      WHERE o_custkey <= 30 GROUP BY 1) c
        |ON o_custkey = c.cust
        |WHERE o_custkey <= 30
        |ORDER BY id""".stripMargin,

    "q_kv_count_pushdown" ->
      "SELECT COUNT(*) AS n_rows FROM customer",

    "q_kv_minmax_pushdown" ->
      """SELECT o_custkey AS pk, MIN(o_orderkey) AS first_ck,
        |  MAX(o_orderkey) AS last_ck, COUNT(*) AS n
        |FROM orders WHERE o_custkey <= 200
        |GROUP BY 1 ORDER BY pk""".stripMargin,

    "q_kv_upsert" ->
      """SELECT k, name FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS k,
        |    CASE WHEN n_nationkey < 5 THEN n_name || '_v2' ELSE n_name END
        |      AS name
        |  FROM nation
        |  UNION ALL
        |  SELECT CAST(k AS BIGINT) AS k, 'new_' || CAST(k AS VARCHAR) AS name
        |  FROM range(100, 103) t(k)
        |) ORDER BY k""".stripMargin,

    "q_kv_range_scan" ->
      """SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey = 37 AND o_orderkey >= 200 AND o_orderkey < 10000
        |ORDER BY ck""".stripMargin,

    // the cursor walk reassembled: page k = rows 5k..5k+4 in ck order
    "q_kv_cursor_pages" ->
      """SELECT pk, ck, price,
        |  CAST((ROW_NUMBER() OVER (ORDER BY ck) - 1) // 5 AS INT) AS page
        |FROM (SELECT o_custkey AS pk, o_orderkey AS ck,
        |        o_totalprice AS price
        |      FROM orders WHERE o_custkey = 37)
        |ORDER BY ck""".stripMargin,

    "q_kv_token_range" ->
      """SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  c_acctbal
        |FROM customer
        |WHERE c_nationkey >= 5 AND c_nationkey < 12
        |ORDER BY c_custkey""".stripMargin,

    "q_kv_composite_ck" ->
      """SELECT o_custkey AS cust, o_orderpriority AS prio,
        |  o_orderkey AS ck, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey = 37 AND o_orderpriority = '4-NOT SPECIFIED'
        |  AND o_orderkey >= 1 AND o_orderkey < 100000000
        |ORDER BY ck""".stripMargin,

    "q_kv_delete" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
        |FROM nation
        |WHERE n_nationkey >= 5
        |ORDER BY k""".stripMargin,

    "q_kv_range_delete" ->
      """SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey <= 50
        |  AND NOT (o_custkey = 7 AND o_orderkey >= 1000 AND o_orderkey < 8000)
        |ORDER BY pk, ck""".stripMargin,

    // post-flip view recomputed: every 3rd customer reads 'PROMO' on ALL
    // rows (incl. the synthetic marker order), everyone else keeps their
    // customer segment
    "q_kv_static" ->
      """WITH o AS (
        |  SELECT o_custkey AS pk, o_orderkey AS ck, c_mktsegment AS seg,
        |    o_totalprice AS price
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_custkey <= 60),
        |markers AS (
        |  SELECT pk, MAX(ck) + 1000000 AS ck, CAST(0.0 AS DOUBLE) AS price
        |  FROM o WHERE pk % 3 = 0 GROUP BY pk),
        |allrows AS (
        |  SELECT pk, ck, seg, price FROM o
        |  UNION ALL SELECT pk, ck, NULL, price FROM markers)
        |SELECT pk, ck,
        |  CASE WHEN pk % 3 = 0 THEN 'PROMO'
        |       ELSE (SELECT MAX(seg) FROM o o2 WHERE o2.pk = allrows.pk) END
        |    AS segment,
        |  price
        |FROM allrows
        |ORDER BY pk, ck""".stripMargin,

    "q_kv_clustering_desc" ->
      """SELECT pk, ts, event_id, value FROM (
        |  SELECT user_id AS pk, ts, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id <= 50) t
        |WHERE rn <= 3
        |ORDER BY pk, ts, event_id""".stripMargin,

    "q_kv_multick" ->
      """SELECT o_custkey AS cust, o_orderpriority AS prio,
        |  o_orderkey AS ck, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey = 37 AND o_orderpriority = '4-NOT SPECIFIED'
        |  AND o_orderkey >= 1000
        |ORDER BY prio, ck""".stripMargin,

    "q_kv_timeseries" ->
      """SELECT user_id AS pk, ts, value
        |FROM events
        |WHERE user_id = 7
        |  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY ts""".stripMargin,

    "q_kv_topn_pushdown" ->
      """SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price
        |FROM orders
        |WHERE o_custkey <= 200
        |ORDER BY ck LIMIT 5""".stripMargin,

    "q_kv_per_partition_limit" ->
      """SELECT pk, ck, price FROM (
        |  SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
        |      AS rn
        |  FROM orders WHERE o_custkey <= 200) t
        |WHERE rn <= 3 ORDER BY pk, ck""".stripMargin,

    "q_kv_runtime_prune" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // same replay as q_kv_cell_lww, projecting the a-cell winner's own
    // timestamp and remaining TTL (seconds at the read clock); row
    // visibility still needs marker/b liveness — a row whose a-cell died
    // but whose marker lives must appear with NULL projections
    "q_kv_writetime_fn" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 20 AS BIGINT) AS id,
        |    o_totalprice AS price
        |  FROM orders WHERE o_custkey <= 100),
        |base AS (
        |  SELECT id, ok * 1000000 AS wt,
        |    CASE WHEN ok % 5 = 0 THEN NULL ELSE ok % 100 * 20 + 30 END AS ttl,
        |    ok AS a_val, price AS b_val
        |  FROM o),
        |upd AS (
        |  SELECT id, ok * 1000000 + 1 AS wt,
        |    CASE WHEN ok % 12 = 0 THEN NULL ELSE 1 END AS ttl,
        |    ok + 1000000 AS a_val
        |  FROM o WHERE ok % 3 = 0),
        |nowc AS (SELECT MAX(ok) + 50 AS n FROM o),
        |aw AS (
        |  SELECT id, wt, ttl, a_val FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn
        |    FROM (SELECT id, wt, ttl, a_val FROM base
        |          UNION ALL SELECT id, wt, ttl, a_val FROM upd) u) w
        |  WHERE rn = 1),
        |bw AS (
        |  SELECT id, wt, ttl, b_val FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn FROM base) w
        |  WHERE rn = 1),
        |mw AS (
        |  SELECT id, wt, ttl FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn FROM base) w
        |  WHERE rn = 1),
        |j AS (
        |  SELECT mw.id,
        |    (aw.ttl IS NULL OR aw.wt // 1000000 + aw.ttl > nowc.n) AS a_live,
        |    aw.a_val, aw.wt AS awt, aw.ttl AS attl,
        |    (bw.ttl IS NULL OR bw.wt // 1000000 + bw.ttl > nowc.n) AS b_live,
        |    (mw.ttl IS NULL OR mw.wt // 1000000 + mw.ttl > nowc.n) AS m_live,
        |    nowc.n AS now
        |  FROM mw JOIN aw USING (id) JOIN bw USING (id) CROSS JOIN nowc)
        |SELECT id,
        |  CASE WHEN a_live THEN a_val END AS a,
        |  CASE WHEN a_live THEN awt END AS a_wt,
        |  CASE WHEN a_live AND attl IS NOT NULL
        |    THEN awt // 1000000 + attl - now END AS a_ttl
        |FROM j
        |WHERE m_live OR a_live OR b_live
        |ORDER BY id""".stripMargin,

    // per-cell replay of the column-delete log: the winner per (id, column)
    // is the max-writetime entry — tombstones are NULL values, and the
    // ok*4/+1/+2 spacing guarantees no ties to break
    "q_kv_cell_delete" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, o_custkey % 20 AS id,
        |    o_totalprice AS price
        |  FROM orders WHERE o_custkey <= 100),
        |wa AS (
        |  SELECT id, ok*4 AS wt, ok AS val FROM o
        |  UNION ALL SELECT id, ok*4+1, NULL FROM o WHERE ok % 3 = 0
        |  UNION ALL SELECT id, ok*4+2, ok+7 FROM o WHERE ok % 6 = 0),
        |wb AS (
        |  SELECT id, ok*4 AS wt, price AS val FROM o
        |  UNION ALL SELECT id, 1, NULL FROM o WHERE ok % 4 = 0),
        |fa AS (SELECT id, val FROM (SELECT id, val,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC) AS rn
        |  FROM wa) t WHERE rn = 1),
        |fb AS (SELECT id, val FROM (SELECT id, val,
        |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC) AS rn
        |  FROM wb) t WHERE rn = 1)
        |SELECT fa.id, CAST(fa.val AS BIGINT) AS a, CAST(fb.val AS DOUBLE) AS b
        |FROM fa JOIN fb ON fa.id = fb.id ORDER BY fa.id""".stripMargin,

    // the same time window evaluated directly over events
    "q_kv_index_range" ->
      """SELECT user_id, event_id, ts, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-02 03:00:00'
        |ORDER BY event_id""".stripMargin,

    // page 2 of partition 58's ck-ordered rows — same slice arithmetic
    "q_kv_offset_pushdown" ->
      """SELECT o_custkey AS pk, o_orderkey AS ck, o_totalprice AS price
        |FROM orders WHERE o_custkey = 58
        |ORDER BY ck LIMIT 6 OFFSET 4""".stripMargin,

    // LWW recomputed independently: the converged row per key is the one
    // with the highest writetime (o_orderkey is unique, so no ties; the
    // stale replay batch cannot change this).
    "q_kv_writetime" ->
      """SELECT id, ordkey, wt FROM (
        |  SELECT o_custkey % 10 AS id, o_orderkey AS ordkey, o_orderkey AS wt,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey % 10
        |                       ORDER BY o_orderkey DESC) AS rn
        |  FROM orders WHERE o_custkey <= 100) t
        |WHERE rn = 1 ORDER BY id""".stripMargin,

    // TTL recomputed independently: a session is live at `now` iff its TTL
    // is NULL or wt/1e6 + ttl > now — the same arithmetic the engine's read
    // path applies, evaluated by DuckDB over the same derivation.
    "q_kv_ttl" ->
      """WITH w AS (
        |  SELECT o_orderkey AS sid,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         ELSE o_orderkey % 100 END AS ttl
        |  FROM orders WHERE o_custkey <= 50),
        |r AS (
        |  SELECT 'T1' AS read_at, * FROM w WHERE ttl IS NULL OR sid + ttl > 30000
        |  UNION ALL
        |  SELECT 'T2' AS read_at, * FROM w WHERE ttl IS NULL OR sid + ttl > 70000)
        |SELECT read_at, COUNT(*) AS n_live, MIN(sid) AS min_sid,
        |  MAX(sid) AS max_sid,
        |  CAST(SUM(CASE WHEN ttl IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_immortal
        |FROM r GROUP BY read_at ORDER BY read_at""".stripMargin,

    // Cell-wise LWW recomputed independently: winner per (id, column) = the
    // max-wt write touching THAT column (wts are unique by construction:
    // INSERT wt = ok*1e6, UPDATE wt = ok*1e6+1); a winner is visible iff
    // un-expired at now = max(ok)+50 (strict: sec(wt) + ttl > now); a row exists
    // iff its max-wt marker (INSERTs only) is live or any cell is visible;
    // wt = max live-contributor timestamp.
    "q_kv_cell_lww" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 20 AS BIGINT) AS id,
        |    o_totalprice AS price
        |  FROM orders WHERE o_custkey <= 100),
        |base AS (
        |  SELECT id, ok * 1000000 AS wt,
        |    CASE WHEN ok % 5 = 0 THEN NULL ELSE ok % 100 * 20 + 30 END AS ttl,
        |    ok AS a_val, price AS b_val
        |  FROM o),
        |upd AS (
        |  SELECT id, ok * 1000000 + 1 AS wt,
        |    CASE WHEN ok % 12 = 0 THEN NULL ELSE 1 END AS ttl,
        |    ok + 1000000 AS a_val
        |  FROM o WHERE ok % 3 = 0),
        |nowc AS (SELECT MAX(ok) + 50 AS n FROM o),
        |aw AS (
        |  SELECT id, wt, ttl, a_val FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn
        |    FROM (SELECT id, wt, ttl, a_val FROM base
        |          UNION ALL SELECT id, wt, ttl, a_val FROM upd) u) w
        |  WHERE rn = 1),
        |bw AS (
        |  SELECT id, wt, ttl, b_val FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn FROM base) w
        |  WHERE rn = 1),
        |mw AS (
        |  SELECT id, wt, ttl FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY wt DESC)
        |      AS rn FROM base) w
        |  WHERE rn = 1),
        |j AS (
        |  SELECT mw.id,
        |    CASE WHEN aw.ttl IS NULL OR aw.wt // 1000000 + aw.ttl > nowc.n
        |      THEN aw.a_val END AS a,
        |    CASE WHEN bw.ttl IS NULL OR bw.wt // 1000000 + bw.ttl > nowc.n
        |      THEN bw.b_val END AS b,
        |    CASE WHEN aw.ttl IS NULL OR aw.wt // 1000000 + aw.ttl > nowc.n
        |      THEN aw.wt END AS a_wt,
        |    CASE WHEN bw.ttl IS NULL OR bw.wt // 1000000 + bw.ttl > nowc.n
        |      THEN bw.wt END AS b_wt,
        |    CASE WHEN mw.ttl IS NULL OR mw.wt // 1000000 + mw.ttl > nowc.n
        |      THEN mw.wt END AS m_wt
        |  FROM mw JOIN aw USING (id) JOIN bw USING (id) CROSS JOIN nowc)
        |SELECT id, a, b,
        |  GREATEST(COALESCE(m_wt, -1), COALESCE(a_wt, -1), COALESCE(b_wt, -1))
        |    AS wt
        |FROM j
        |WHERE m_wt IS NOT NULL OR a IS NOT NULL OR b IS NOT NULL
        |ORDER BY id""".stripMargin,

    // Per-element LWW replay: element ops (assign cells, adds, removes)
    // ranked by timestamp per (id, tag); live iff the winner is an add
    // above the id's newest collection tombstone (assign wt − 1).
    "q_kv_set_merge" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 40 AS BIGINT) AS id
        |  FROM orders WHERE o_custkey <= 150),
        |ops AS (
        |  SELECT id, 't' || CAST(ok % 7 AS VARCHAR) AS tag,
        |    ok * 1000000 AS wt, 1 AS is_add FROM o WHERE ok % 11 = 0
        |  UNION ALL
        |  SELECT id, 't' || CAST((ok + 1) % 7 AS VARCHAR),
        |    ok * 1000000, 1 FROM o WHERE ok % 11 = 0
        |  UNION ALL
        |  SELECT id, 't' || CAST((ok + 2) % 7 AS VARCHAR),
        |    ok * 1000000 + 1, 1 FROM o WHERE ok % 3 = 0
        |  UNION ALL
        |  SELECT id, 't' || CAST(ok % 7 AS VARCHAR),
        |    ok * 1000000 + 2, 0 FROM o WHERE ok % 5 = 0),
        |clr AS (
        |  SELECT id, MAX(ok * 1000000 - 1) AS cw
        |  FROM o WHERE ok % 11 = 0 GROUP BY id),
        |win AS (
        |  SELECT id, tag, wt, is_add FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id, tag
        |      ORDER BY wt DESC) AS rn
        |    FROM ops) w
        |  WHERE rn = 1)
        |SELECT win.id, win.tag
        |FROM win LEFT JOIN clr ON win.id = clr.id
        |WHERE win.is_add = 1
        |  AND win.wt > COALESCE(clr.cw, -9223372036854775808)
        |ORDER BY win.id, tag""".stripMargin,

    // Per-entry LWW replay, keyed by (id, map key): live iff the winner is
    // a put above the id's newest collection tombstone (assign wt − 1).
    // per-window stats over the same daily windows
    "q_twcs_layout" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS w, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY 1 ORDER BY w""".stripMargin,

    // every arc unioned = the whole ring
    "q_kv_token_pages" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_cust
        |FROM customer GROUP BY 1 ORDER BY c_nationkey""".stripMargin,

    // the CSV-roundtripped load equals the source projection
    "q_catalog_copy" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
        |FROM customer WHERE c_custkey <= 100
        |ORDER BY id""".stripMargin,

    // the snapshot is the pre-phase-2 cut: every id with its phase-1 value
    "q_kv_snapshot" ->
      """SELECT o_orderkey AS id, o_orderkey * 10 AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // the replicated merge recomputed — identical to the rf=1 merge shape
    "q_kv_merge_replicated" ->
      """WITH t AS (SELECT c_custkey AS id, c_acctbal AS bal
        |           FROM customer WHERE c_custkey <= 100),
        |s AS (SELECT o_custkey AS id, COUNT(*) AS n
        |      FROM orders WHERE o_custkey <= 150 GROUP BY 1)
        |SELECT id, bal FROM (
        |  SELECT t.id AS id,
        |    CASE WHEN s.id IS NULL THEN t.bal ELSE t.bal + s.n END AS bal
        |  FROM t LEFT JOIN s ON t.id = s.id
        |  WHERE s.id IS NULL OR s.n < 10
        |  UNION ALL
        |  SELECT s.id, CAST(s.n AS DOUBLE)
        |  FROM s LEFT JOIN t ON s.id = t.id WHERE t.id IS NULL
        |) u ORDER BY id""".stripMargin,

    // identity ring token on a single-bigint partition key
    "q_kv_token_metadata" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_nationkey AS BIGINT) AS _token
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,

    // placement recomputed from the default ring's closed form: the owner
    // of position p is host ((p+29) // 30) % 3 — the (prev, pos] arc rule
    "q_kv_replica_align" ->
      """SELECT 'graft-node-' ||
        |    CAST((((o_custkey + 29) // 30) % 3) AS VARCHAR) AS _replica,
        |  COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_parts,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_ck
        |FROM orders WHERE o_custkey <= 200
        |GROUP BY 1
        |ORDER BY _replica""".stripMargin,

    // total increments per id across all three waves — what a lossless
    // shard merge must serve
    "q_kv_counter_shards" ->
      """SELECT CAST(o_custkey % 20 AS BIGINT) AS id,
        |  CAST(SUM(CASE CAST(o_orderkey % 3 AS INT)
        |           WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END) AS BIGINT) AS n
        |FROM orders WHERE o_custkey <= 100
        |GROUP BY 1 ORDER BY id""".stripMargin,

    // post-replay CL=ONE = LWW over the full write log, same as quorum
    "q_kv_hinted_handoff" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 30
        |       ELSE o_orderkey * 10 END AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // dc2's lone replica missed the newer wave entirely: baseline only
    "q_kv_local_one" ->
      """SELECT o_orderkey AS id, o_orderkey * 10 AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // accepted quorum wave visible, refused wave absent without trace
    "q_kv_write_cl" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 30
        |       ELSE o_orderkey * 10 END AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // dc1's quorum: wave A (≡0 mod 2, reached dc1 replica 1) visible,
    // wave B (≡0 mod 3, dc2-only) invisible to a dc1-scoped read
    "q_kv_local_quorum" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 30
        |       ELSE o_orderkey * 10 END AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // per-cell winners: each column independently takes its newest write
    "q_kv_cell_read_repair" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 20
        |       ELSE o_orderkey * 10 END AS a,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey * 200
        |       ELSE o_orderkey * 100 END AS b
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // within-window hints (ids ≡0 mod 3) replayed onto replica 0; expired
    // hints (ids ≡1 mod 3) dropped, so those keys read the baseline
    "q_kv_hint_window" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey * 30
        |       ELSE o_orderkey * 10 END AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // quorum = LWW over the FULL write log (the failed replica's miss is
    // repaired, so the merged result is what a healthy cluster stores)
    "q_kv_read_repair" ->
      """SELECT o_orderkey AS id,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey * 30
        |       ELSE o_orderkey * 10 END AS v
        |FROM orders WHERE o_orderkey <= 400
        |ORDER BY id""".stripMargin,

    // both replica states recomputed: replica 0 = first write only; replica
    // 1 = LWW of both (update wins on ranges 0-3); digest = same md5-bigint
    // sum per id%16 range
    "q_kv_repair_preview" ->
      """WITH ids AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey <= 400),
        |r0 AS (SELECT id, id * 10 AS v, 1000000 AS wt FROM ids),
        |r1 AS (SELECT id,
        |  CASE WHEN id % 16 < 4 THEN id * 30 ELSE id * 10 END AS v,
        |  CASE WHEN id % 16 < 4 THEN 2000000 ELSE 1000000 END AS wt FROM ids),
        |d0 AS (SELECT CAST(id % 16 AS BIGINT) AS rng, COUNT(*) AS n0,
        |  CAST(SUM(('0x'||substr(md5(id||'|'||v||'|'||wt),1,8))::BIGINT)
        |    AS BIGINT) AS digest0
        |  FROM r0 GROUP BY 1),
        |d1 AS (SELECT CAST(id % 16 AS BIGINT) AS rng, COUNT(*) AS n1,
        |  CAST(SUM(('0x'||substr(md5(id||'|'||v||'|'||wt),1,8))::BIGINT)
        |    AS BIGINT) AS digest1
        |  FROM r1 GROUP BY 1)
        |SELECT rng, n0, n1, digest0, digest1,
        |  CASE WHEN digest0 = digest1 AND n0 = n1 THEN 1 ELSE 0 END AS in_sync
        |FROM d0 JOIN d1 USING (rng)
        |ORDER BY rng""".stripMargin,

    // default-TTL replay: writes at epochSeconds 1e6, read clock 1e6+90 —
    // defaulted (60 s) rows expired, explicit 120 s and TTL-0 rows live
    "q_kv_default_ttl" ->
      """SELECT o_orderkey AS id, o_orderkey * 7 AS v,
        |  CAST(CASE CAST(o_orderkey % 3 AS INT) WHEN 1 THEN 120 END AS BIGINT) AS tl
        |FROM orders
        |WHERE o_orderkey <= 500 AND o_orderkey % 3 <> 0
        |ORDER BY id""".stripMargin,

    // Field-wise replay: per (id, field), cells above the id's newest UDT
    // tombstone (assign wt − 1) compete by timestamp; the winning put is
    // the visible field value, a winning delete reads NULL. A row appears
    // iff it has a marker (any INSERT) or any live field.
    "q_kv_udt_merge" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 30 AS BIGINT) AS id
        |  FROM orders WHERE o_custkey <= 150),
        |clr AS (
        |  SELECT id, MAX(ok * 1000000 - 1) AS cw
        |  FROM o WHERE ok % 7 = 0 GROUP BY id),
        |age_ops AS (
        |  SELECT id, CAST(ok AS BIGINT) AS val, ok * 1000000 AS wt,
        |    1 AS is_put FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, CAST(ok * 2 AS BIGINT), ok * 1000000 + 1, 1
        |  FROM o WHERE ok % 3 = 0
        |  UNION ALL
        |  SELECT id, CAST(NULL AS BIGINT), ok * 1000000 + 3, 0
        |  FROM o WHERE ok % 11 = 0),
        |city_ops AS (
        |  SELECT id, 'c' || CAST(ok % 5 AS VARCHAR) AS val,
        |    ok * 1000000 AS wt, 1 AS is_put FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, 'u' || CAST(ok % 4 AS VARCHAR), ok * 1000000 + 2, 1
        |  FROM o WHERE ok % 5 = 0),
        |age_win AS (
        |  SELECT id, val, is_put FROM (
        |    SELECT a.*, ROW_NUMBER() OVER (PARTITION BY a.id
        |      ORDER BY a.wt DESC) AS rn
        |    FROM age_ops a LEFT JOIN clr ON a.id = clr.id
        |    WHERE a.wt > COALESCE(clr.cw, -9223372036854775808)) w
        |  WHERE rn = 1),
        |city_win AS (
        |  SELECT id, val, is_put FROM (
        |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c.id
        |      ORDER BY c.wt DESC) AS rn
        |    FROM city_ops c LEFT JOIN clr ON c.id = clr.id
        |    WHERE c.wt > COALESCE(clr.cw, -9223372036854775808)) w
        |  WHERE rn = 1),
        |ids AS (
        |  SELECT DISTINCT id FROM o WHERE ok % 7 = 0
        |  UNION SELECT id FROM age_win WHERE is_put = 1
        |  UNION SELECT id FROM city_win WHERE is_put = 1)
        |SELECT i.id,
        |  CASE WHEN a.is_put = 1 THEN a.val END AS age,
        |  CASE WHEN c.is_put = 1 THEN c.val END AS city
        |FROM ids i
        |LEFT JOIN age_win a ON i.id = a.id
        |LEFT JOIN city_win c ON i.id = c.id
        |ORDER BY i.id""".stripMargin,

    "q_kv_map_merge" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 30 AS BIGINT) AS id
        |  FROM orders WHERE o_custkey <= 150),
        |ops AS (
        |  SELECT id, 'k' || CAST(ok % 5 AS VARCHAR) AS mkey,
        |    ok AS mval, ok * 1000000 AS wt, 1 AS is_put
        |  FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, 'k' || CAST((ok + 1) % 5 AS VARCHAR),
        |    ok + 1, ok * 1000000, 1 FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, 'k' || CAST((ok + 2) % 5 AS VARCHAR),
        |    ok * 2, ok * 1000000 + 1, 1 FROM o WHERE ok % 3 = 0
        |  UNION ALL
        |  SELECT id, 'k' || CAST(ok % 5 AS VARCHAR),
        |    CAST(NULL AS BIGINT), ok * 1000000 + 3, 0
        |  FROM o WHERE ok % 5 = 0),
        |clr AS (
        |  SELECT id, MAX(ok * 1000000 - 1) AS cw
        |  FROM o WHERE ok % 7 = 0 GROUP BY id),
        |win AS (
        |  SELECT id, mkey, mval, wt, is_put FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id, mkey
        |      ORDER BY wt DESC) AS rn
        |    FROM ops) w
        |  WHERE rn = 1)
        |SELECT win.id, win.mkey, win.mval
        |FROM win LEFT JOIN clr ON win.id = clr.id
        |WHERE win.is_put = 1
        |  AND win.wt > COALESCE(clr.cw, -9223372036854775808)
        |ORDER BY win.id, win.mkey""".stripMargin,

    // Position-wise replay: a cell is live iff it sits above the id's newest
    // collection tombstone (assign wt − 1) and no remove of its VALUE at an
    // equal-or-newer (and unshadowed) timestamp exists; visible order is
    // (major, minor) — prepends carry negative majors so later prepends
    // sort first.
    "q_kv_list_merge" ->
      """WITH o AS (
        |  SELECT o_orderkey AS ok, CAST(o_custkey % 30 AS BIGINT) AS id
        |  FROM orders WHERE o_custkey <= 150),
        |cells AS (
        |  SELECT id, ok AS val, ok * 1000000 AS wt,
        |    ok * 1000000 AS major, 0 AS minor FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, ok + 1, ok * 1000000, ok * 1000000, 1
        |  FROM o WHERE ok % 7 = 0
        |  UNION ALL
        |  SELECT id, ok * 2, ok * 1000000 + 1, ok * 1000000 + 1, 0
        |  FROM o WHERE ok % 3 = 0
        |  UNION ALL
        |  SELECT id, ok + 5, ok * 1000000 + 2, -(ok * 1000000 + 2), 0
        |  FROM o WHERE ok % 11 = 0),
        |rmv AS (
        |  SELECT id, ok AS val, ok * 1000000 + 3 AS wt
        |  FROM o WHERE ok % 35 = 0
        |  UNION ALL
        |  SELECT id, ok * 2, ok * 1000000 FROM o WHERE ok % 15 = 0),
        |clr AS (
        |  SELECT id, MAX(ok * 1000000 - 1) AS cw
        |  FROM o WHERE ok % 7 = 0 GROUP BY id),
        |live AS (
        |  SELECT c.id, c.val, c.major, c.minor
        |  FROM cells c LEFT JOIN clr ON c.id = clr.id
        |  WHERE c.wt > COALESCE(clr.cw, -9223372036854775808)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM rmv r
        |      WHERE r.id = c.id AND r.val = c.val AND r.wt >= c.wt
        |        AND r.wt > COALESCE(clr.cw, -9223372036854775808)))
        |SELECT id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY major, minor)
        |    - 1 AS INT) AS pos,
        |  val AS tag
        |FROM live
        |ORDER BY id, pos""".stripMargin,

    // Counter convergence: the two parity-partial increment batches must sum
    // to the full per-type event counts.
    "q_kv_counter" ->
      """SELECT event_type, COUNT(*) AS hits
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // LWT end state: key 2's second INSERT IF NOT EXISTS is not applied.
    // The applied-flag semantics themselves (first-writer-wins under any
    // batch split) are genuinely uncomputable by a SQL oracle over the base
    // tables — they are property-tested in UpsertSpec ("INSERT IF NOT
    // EXISTS applies only absent keys"); this literal pins the declared
    // query's tiny end state only.
    "q_kv_insert_if_absent" ->
      """SELECT * FROM (VALUES
        | (1, 'alpha'), (2, 'alpha'), (3, 'beta')) AS t(id, owner)
        |ORDER BY id""".stripMargin,

    // replace-if-present: keys < 15 exist, so exactly the [10, 15) overlap
    // shows the conditional batch's value; [15, 20) never lands
    "q_kv_update_if_exists" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CASE WHEN n_nationkey >= 10 THEN 'upd_' || n_name ELSE n_name END
        |    AS name
        |FROM nation WHERE n_nationkey < 15
        |ORDER BY k""".stripMargin,

    // one estimate row per identity-token range [nationkey, nationkey+1):
    // a single CQL partition holding that nation's customers
    // topology moves ownership, never data: the identical aggregate under
    // all three ring phases
    "q_kv_ring_scale" ->
      """WITH agg AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |  FROM customer GROUP BY c_nationkey),
        |phases AS (SELECT unnest(['1_base3', '2_bootstrap4',
        |  '3_decommissioned']) AS phase)
        |SELECT phase, c_nationkey, n, bal FROM phases, agg
        |ORDER BY phase, c_nationkey""".stripMargin,

    // full placement replay from declared ring arithmetic: default ring =
    // vnode m at position 30m owned by graft-node-(m%3); the joiner's
    // initial_token list = 15+90j; a key's replicas (RF=2) are the first
    // two hosts ordered by min clockwise distance to one of their vnodes
    // (first-occurrence order == min-distance order; distances are
    // distinct because positions are). Accounting is recomputed per host
    // from the before/after replica sets — no engine literals
    "q_kv_bootstrap_stream" ->
      """WITH k0 AS (SELECT o_custkey AS k, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |kr AS (SELECT k, n, k % 720 AS pos FROM k0),
        |vb AS (SELECT m * 30 AS vpos,
        |    'graft-node-' || CAST(m % 3 AS VARCHAR) AS host
        |  FROM range(0, 24) t(m)),
        |va AS (SELECT * FROM vb UNION ALL
        |  SELECT 15 + 90 * j, 'graft-node-3' FROM range(0, 8) t(j)),
        |db AS (SELECT kr.k, kr.n, v.host,
        |    MIN((v.vpos - kr.pos + 720) % 720) AS d
        |  FROM kr, vb v GROUP BY 1, 2, 3),
        |rb AS (SELECT k, n, host FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY d, host)
        |    AS rnk FROM db) WHERE rnk <= 2),
        |da AS (SELECT kr.k, kr.n, v.host,
        |    MIN((v.vpos - kr.pos + 720) % 720) AS d
        |  FROM kr, va v GROUP BY 1, 2, 3),
        |ra AS (SELECT k, n, host FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY d, host)
        |    AS rnk FROM da) WHERE rnk <= 2),
        |bef AS (SELECT '1_before' AS phase, host, COUNT(*) AS n_keys,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(0 AS BIGINT) AS streamed_in_keys,
        |    CAST(0 AS BIGINT) AS cleaned_up_keys
        |  FROM rb GROUP BY host),
        |gain AS (SELECT a.host, COUNT(*) AS g FROM ra a
        |  LEFT JOIN rb b ON b.k = a.k AND b.host = a.host
        |  WHERE b.host IS NULL GROUP BY a.host),
        |drp AS (SELECT b.host, COUNT(*) AS dr FROM rb b
        |  LEFT JOIN ra a ON a.k = b.k AND a.host = b.host
        |  WHERE a.host IS NULL GROUP BY b.host),
        |afc AS (SELECT a.host, COUNT(*) AS n_keys,
        |    CAST(SUM(a.n) AS BIGINT) AS n_rows
        |  FROM ra a GROUP BY a.host),
        |aft AS (SELECT '2_after' AS phase, afc.host, afc.n_keys, afc.n_rows,
        |    CAST(COALESCE(g.g, 0) AS BIGINT) AS streamed_in_keys,
        |    CAST(COALESCE(d.dr, 0) AS BIGINT) AS cleaned_up_keys
        |  FROM afc LEFT JOIN gain g ON g.host = afc.host
        |  LEFT JOIN drp d ON d.host = afc.host)
        |SELECT * FROM bef UNION ALL SELECT * FROM aft
        |ORDER BY phase, host""".stripMargin,

    // same placement replay; the after-ring is simply the default ring
    // MINUS the leaver's vnodes (host index m%3 = 1)
    "q_kv_decommission_stream" ->
      """WITH k0 AS (SELECT o_custkey AS k, COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |kr AS (SELECT k, n, k % 720 AS pos FROM k0),
        |vb AS (SELECT m * 30 AS vpos,
        |    'graft-node-' || CAST(m % 3 AS VARCHAR) AS host
        |  FROM range(0, 24) t(m)),
        |va AS (SELECT * FROM vb WHERE host <> 'graft-node-1'),
        |db AS (SELECT kr.k, kr.n, v.host,
        |    MIN((v.vpos - kr.pos + 720) % 720) AS d
        |  FROM kr, vb v GROUP BY 1, 2, 3),
        |rb AS (SELECT k, n, host FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY d, host)
        |    AS rnk FROM db) WHERE rnk <= 2),
        |da AS (SELECT kr.k, kr.n, v.host,
        |    MIN((v.vpos - kr.pos + 720) % 720) AS d
        |  FROM kr, va v GROUP BY 1, 2, 3),
        |ra AS (SELECT k, n, host FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY d, host)
        |    AS rnk FROM da) WHERE rnk <= 2),
        |bef AS (SELECT '1_before' AS phase, host, COUNT(*) AS n_keys,
        |    CAST(SUM(n) AS BIGINT) AS n_rows,
        |    CAST(0 AS BIGINT) AS streamed_in_keys,
        |    CAST(0 AS BIGINT) AS cleaned_up_keys
        |  FROM rb GROUP BY host),
        |gain AS (SELECT a.host, COUNT(*) AS g FROM ra a
        |  LEFT JOIN rb b ON b.k = a.k AND b.host = a.host
        |  WHERE b.host IS NULL GROUP BY a.host),
        |drp AS (SELECT b.host, COUNT(*) AS dr FROM rb b
        |  LEFT JOIN ra a ON a.k = b.k AND a.host = b.host
        |  WHERE a.host IS NULL GROUP BY b.host),
        |afc AS (SELECT a.host, COUNT(*) AS n_keys,
        |    CAST(SUM(a.n) AS BIGINT) AS n_rows
        |  FROM ra a GROUP BY a.host),
        |aft AS (SELECT '2_after' AS phase, afc.host, afc.n_keys, afc.n_rows,
        |    CAST(COALESCE(g.g, 0) AS BIGINT) AS streamed_in_keys,
        |    CAST(COALESCE(d.dr, 0) AS BIGINT) AS cleaned_up_keys
        |  FROM afc LEFT JOIN gain g ON g.host = afc.host
        |  LEFT JOIN drp d ON d.host = afc.host)
        |SELECT * FROM bef UNION ALL SELECT * FROM aft
        |ORDER BY phase, host""".stripMargin,

    "q_kv_size_estimates" ->
      """SELECT 'customer' AS table_name,
        |  CAST(c_nationkey AS BIGINT) AS range_start,
        |  CAST(c_nationkey + 1 AS BIGINT) AS range_end,
        |  CAST(1 AS BIGINT) AS partitions_count,
        |  COUNT(*) AS row_estimate
        |FROM customer GROUP BY c_nationkey
        |ORDER BY range_start""".stripMargin,

    // general LWT: the conditional batch lands exactly on the stored-'open'
    // (BUILDING) rows of the establishing batch; 'closed' rows keep their
    // values and the (200, 300] keys never appear
    "q_kv_lwt_condition" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'done' ELSE 'closed' END
        |    AS status,
        |  CASE WHEN c_mktsegment = 'BUILDING'
        |    THEN CAST(c_nationkey * 10 AS BIGINT)
        |    ELSE CAST(c_nationkey AS BIGINT) END AS v
        |FROM customer WHERE c_custkey <= 200
        |ORDER BY k""".stripMargin,

    // recomputed from the staged write log the query itself drives the
    // catalog from: the upsert winner is the max-batch row per id, the set
    // column is deduped+ordered, and every serialization (decimal string,
    // base64 blob, JSON collections) is re-derived by DuckDB — no
    // expected-value literals
    "q_types_roundtrip" ->
      """WITH inp AS (
        |  SELECT * FROM read_parquet('/tmp/graft-types-input-v2/*.parquet')),
        |w AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY _batch DESC)
        |      AS rn
        |    FROM inp) t
        |  WHERE rn = 1)
        |SELECT id, t_text, t_bigint, t_smallint, t_tinyint, t_float, t_double,
        |  CAST(t_decimal AS VARCHAR) AS t_decimal_str, t_boolean, t_date, t_ts,
        |  t_uuid, t_inet, base64(t_blob) AS t_blob_b64,
        |  CAST(t_varint AS VARCHAR) AS t_varint_str, t_time,
        |  to_json(t_list) AS t_list_json,
        |  to_json(list_sort(list_distinct(t_set))) AS t_set_json,
        |  to_json(t_map) AS t_map_json,
        |  to_json(t_tuple) AS t_tuple_json
        |FROM w ORDER BY id""".stripMargin,

    // exact distinct/percentile recomputed by DuckDB; the within-5pct flags
    // (sketch vs exact, computed in-engine) are pinned true — a drifting
    // sketch fails the hash compare
    "q_hll_mergeable" ->
      """SELECT source AS scope, COUNT(DISTINCT doc_id) AS nd_docs,
        |  true AS est_within_5pct, true AS merged_within_5pct
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '(all)', COUNT(DISTINCT doc_id), true, true FROM documents
        |ORDER BY scope""".stripMargin,

    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS nd_parts,
        |  COUNT(DISTINCT l_suppkey) AS nd_supps,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  true AS parts_within_5pct,
        |  true AS supps_within_5pct,
        |  true AS p50_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // evolution end state: literal-input DDL demo (the evolution SEMANTICS
    // — NULL padding, protected columns — are unit-tested in UpsertSpec)
    "q_catalog_alter" ->
      """SELECT * FROM (VALUES
        | (1, CAST(10 AS BIGINT)),
        | (2, CAST(NULL AS BIGINT)),
        | (3, CAST(30 AS BIGINT))) AS t(id, score)
        |ORDER BY id""".stripMargin,

    "q_users_sql_ddl" ->
      """SELECT * FROM (VALUES
        | (1, 'Alice',   'alice@example.com'),
        | (2, 'Bob',     'bob@example.com'),
        | (3, 'Charlie', 'charlie@example.com')) AS t(id, name, email)
        |ORDER BY id""".stripMargin,

    "q_system_local" ->
      "SELECT '4.1.2' AS release_version",

    // the users table's column metadata, pinned literally — the Spark side
    // derives it from the schema object, so drift breaks the hash
    "q_system_schema" ->
      """SELECT * FROM (VALUES
        | ('testks', 'users', 'email', 'regular',       -1, 'text'),
        | ('testks', 'users', 'id',    'partition_key',  0, 'int'),
        | ('testks', 'users', 'name',  'regular',       -1, 'text'))
        | AS t(keyspace_name, table_name, column_name, kind, position, type)
        |ORDER BY column_name""".stripMargin,

    // the STCS ledger recomputed: same flush sizing, tier cut-points and
    // integer ceil-div merge arithmetic
    "q_stcs_layout" ->
      """WITH fl AS (
        |  SELECT CAST(floor(sqrt(o_orderkey)) AS BIGINT) AS flush_id,
        |         COUNT(*) AS n
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT CASE WHEN n < 4 THEN 0 WHEN n < 16 THEN 1
        |              WHEN n < 64 THEN 2 WHEN n < 256 THEN 3
        |              WHEN n < 1024 THEN 4 ELSE 5 END AS tier, flush_id, n
        |  FROM fl)
        |SELECT tier, COUNT(*) AS n_sstables,
        |  CASE WHEN COUNT(*) >= 4 THEN (COUNT(*) + 31) // 32
        |       ELSE COUNT(*) END AS n_after,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  MIN(flush_id) AS min_flush, MAX(flush_id) AS max_flush
        |FROM t GROUP BY tier ORDER BY tier""".stripMargin,

    // the LCS layout recomputed: L0 arrival flushes vs leveled 160-row
    // runs, read amplification at probe key 5000
    "q_lcs_layout" ->
      """WITH st AS (
        |  SELECT 'L0' AS level, event_id % 4 AS sst, event_id FROM events
        |  UNION ALL
        |  SELECT CASE WHEN event_id // 160 < 10 THEN 'L1'
        |              WHEN event_id // 160 < 110 THEN 'L2'
        |              WHEN event_id // 160 < 1110 THEN 'L3'
        |              ELSE 'L4' END AS level,
        |         event_id // 160 AS sst, event_id FROM events),
        |pe AS (
        |  SELECT level, sst, COUNT(*) AS n,
        |         MIN(event_id) AS lo, MAX(event_id) AS hi
        |  FROM st GROUP BY 1, 2)
        |SELECT level, COUNT(*) AS n_sstables,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  MIN(lo) AS min_key, MAX(hi) AS max_key,
        |  CAST(SUM(CASE WHEN lo <= 5000 AND hi >= 5000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS read_amp
        |FROM pe GROUP BY level ORDER BY level""".stripMargin,

    // the default ring's closed-form arc allocation, recomputed
    "q_kv_ring_arcs" ->
      """SELECT CAST(p * 30 AS BIGINT) AS pos,
        |  'graft-node-' || CAST(p % 3 AS VARCHAR) AS host,
        |  CAST(720 AS BIGINT) AS ring_size
        |FROM (SELECT unnest(range(0, 24)) AS p)
        |ORDER BY pos""".stripMargin,

    // identity token on a single integral partition key (the ring's
    // order-preserving analog; string/composite Murmur3 forms are pinned
    // against KVRing.tokenOf in UpsertSpec, not SQL-expressible)
    "q_fn_token" ->
      """SELECT c_custkey, CAST(c_custkey AS BIGINT) AS tok
        |FROM customer WHERE c_custkey <= 100
        |ORDER BY c_custkey""".stripMargin,

    // the UDA recomputed: exact integer Σ v·w / Σ w, then one division
    "q_fn_uda" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  round(CAST(SUM(cents * qty) AS DOUBLE) / CAST(SUM(qty) AS DOUBLE),
        |    6) AS wavg_cents
        |FROM t GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // both UDF bodies inlined: RETURNS NULL propagates the manufactured
    // null, CALLED ON NULL INPUT's coalesce rescues it
    "q_fn_udf" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_discount = 0 THEN NULL
        |       ELSE l_discount * 9.0 / 5.0 + 32.0 END AS f,
        |  COALESCE(CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END,
        |           -1.0) * 100.0 AS g
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_partition_pruned" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE YEAR(o_orderdate) = 1997
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_compact_small_files" ->
      """SELECT event_type, COUNT(*) AS n,
        |  MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey <= 50
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q_format_roundtrip" ->
      """SELECT l_returnflag, 2 * COUNT(*) AS n,
        |  CAST(2 * SUM(l_quantity) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_suppkey <= 2
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // same exact mean (one bigint division) and φ DAG with the identical
    // log10(e) literal; up re-derives from the ROUNDED φ in both engines
    "q_kv_phi_accrual" ->
      """WITH hb AS (SELECT CAST(o_orderkey % 3 AS INT) AS node,
        |    CAST(o_orderkey AS BIGINT) AS t FROM orders),
        |st AS (SELECT node, MIN(t) AS first_t, MAX(t) AS last_t,
        |    COUNT(*) AS n_hb FROM hb GROUP BY 1),
        |tm AS (SELECT MAX(t) AS tmax FROM hb),
        |p AS (SELECT unnest([0, 30, 300]) AS gap),
        |x AS (SELECT CAST(p.gap AS BIGINT) AS gap, st.node, st.n_hb,
        |    st.last_t,
        |    (st.last_t - st.first_t) / (st.n_hb - 1) AS mean_iv,
        |    tm.tmax + p.gap AS probe_t
        |  FROM st, tm, p),
        |y AS (SELECT gap, node, n_hb, last_t,
        |    round(mean_iv, 6) AS mean_interval,
        |    round((probe_t - last_t) / mean_iv * 0.4342944819032518, 6)
        |      AS phi
        |  FROM x)
        |SELECT gap, node, n_hb, last_t, mean_interval, phi,
        |  phi <= 8.0 AS up
        |FROM y ORDER BY gap, node""".stripMargin,

    // every cell recomputed from nation + the declared defaults
    "q_column_defaults" ->
      """SELECT n_nationkey AS k, n_name AS name,
        |  CASE WHEN n_nationkey < 10 THEN 'unassigned'
        |       ELSE 'r' || CAST(n_regionkey AS VARCHAR) END AS region,
        |  CAST(CASE WHEN n_nationkey < 10 THEN 0
        |       ELSE n_regionkey * 10 END AS BIGINT) AS score
        |FROM nation ORDER BY k""".stripMargin,

    // surgical replacement recomputed relationally: only 1995's priority
    // collapses to the marker, every other year matches the original
    "q_dynamic_overwrite" ->
      """WITH o AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CASE WHEN year(o_orderdate) = 1995 THEN '0-REPLACED'
        |         ELSE o_orderpriority END AS prio,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders)
        |SELECT o_year, COUNT(*) AS n,
        |  COUNT(DISTINCT prio) AS n_prios,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM o GROUP BY o_year ORDER BY o_year""".stripMargin,

    // quarantine accounting replayed from the ground truth: corrupt =
    // doc_id % 7 = 0, surfacing as the NULL-lang group with NULL sums
    "q_json_corrupt" ->
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    doc_id % 7 = 0 AS bad FROM documents)
        |SELECT CASE WHEN bad THEN NULL ELSE lang END AS lang,
        |  COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN bad THEN NULL ELSE n_chars END) AS BIGINT)
        |    AS sum_chars
        |FROM d GROUP BY 1 ORDER BY lang NULLS FIRST""".stripMargin,

    // the parquet original — equality certifies the XML write+read lost
    // nothing
    "q_xml_roundtrip" ->
      """SELECT n_regionkey, COUNT(*) AS n,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
        |  MIN(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,

    "q_zorder_layout" ->
      s"""WITH d AS (
        |  SELECT CAST(o_custkey % 65536 AS BIGINT) AS zx,
        |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 65536
        |      AS BIGINT) AS zy
        |  FROM orders),
        |z AS (
        |  SELECT zx, zy,
        |    (${mortonDuck("zx")}) | ((${mortonDuck("zy")}) << 1) AS zval
        |  FROM d)
        |SELECT CAST(zval // 262144 AS BIGINT) AS zbucket, COUNT(*) AS n,
        |  MIN(zx) AS min_cust, MAX(zx) AS max_cust,
        |  MIN(zy) AS min_day, MAX(zy) AS max_day
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin,

    // q_hilbert_layout's oracle: identical cell rollup, the SAME 8
    // xy2d level steps as MATERIALIZED CTEs with identical integer
    // quadrant/rotate texts (// for Spark's div).
    "q_hilbert_layout" -> {
      val steps = Seq(128, 64, 32, 16, 8, 4, 2, 1).zipWithIndex.map {
        case (s0, k) =>
          val prev = if (k == 0) "c0" else s"s$k"
          s"""s${k + 1} AS MATERIALIZED (
             |  SELECT hx, hy, n, min_cust, max_cust, min_day, max_day,
             |    d + ${s0 * s0} * (3 * ((x & $s0) // $s0)
             |      + ((y & $s0) // $s0)
             |      - 2 * ((x & $s0) // $s0) * ((y & $s0) // $s0)) AS d,
             |    CASE WHEN ((y & $s0) // $s0) = 0 THEN
             |      (CASE WHEN ((x & $s0) // $s0) = 1
             |       THEN $s0 - 1 - (y % $s0) ELSE y % $s0 END)
             |      ELSE x % $s0 END AS x,
             |    CASE WHEN ((y & $s0) // $s0) = 0 THEN
             |      (CASE WHEN ((x & $s0) // $s0) = 1
             |       THEN $s0 - 1 - (x % $s0) ELSE x % $s0 END)
             |      ELSE y % $s0 END AS y
             |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH cells AS (
         |  SELECT CAST(o_custkey % 256 AS BIGINT) AS hx,
         |    CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 256
         |      AS BIGINT) AS hy,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
         |    CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
         |    CAST(MIN(date_diff('day', DATE '1992-01-01', o_orderdate))
         |      AS BIGINT) AS min_day,
         |    CAST(MAX(date_diff('day', DATE '1992-01-01', o_orderdate))
         |      AS BIGINT) AS max_day
         |  FROM orders GROUP BY 1, 2),
         |c0 AS (SELECT hx, hy, n, min_cust, max_cust, min_day, max_day,
         |  CAST(0 AS BIGINT) AS d, hx AS x, hy AS y FROM cells),
         |$steps
         |SELECT d // 4096 AS hbucket, CAST(SUM(n) AS BIGINT) AS n_points,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  MIN(min_cust) AS min_cust, MAX(max_cust) AS max_cust,
         |  MIN(min_day) AS min_day, MAX(max_day) AS max_day
         |FROM s8 GROUP BY 1 ORDER BY 1""".stripMargin
    })
}
