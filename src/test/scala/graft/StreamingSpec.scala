package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.Streaming

/** Streaming = batch equivalence: append-mode emission with the sentinel
  * watermark advance must reproduce exactly the batch aggregation over the
  * same finished dataset (the property the DuckDB oracles rely on).
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  test("streamed tumbling windows equal the batch aggregation") {
    val streamed = Streaming.queries("q_stream_tumbling")(spark, sfDir)
      .collect().toSet
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().toSet
    assert(streamed == batch)
  }

  test("AvailableNow backfill self-terminates and equals the batch aggregation") {
    // The query itself requires awaitTermination(timeout) == true — i.e. the
    // trigger stopped the query, we never stopped it ourselves — so reaching
    // the comparison at all proves self-termination, including the trailing
    // no-data batch that flushes watermark state.
    val streamed = Streaming.queries("q_stream_backfill")(spark, sfDir)
      .collect().toSet
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().toSet
    assert(streamed == batch)
    // and the memory-sink query is no longer active on the session
    assert(!spark.streams.active.exists(_.name == "graft_stream_backfill"))
  }

  test("streamed dedup drops the injected duplicates and nothing else") {
    val streamed = Streaming.queries("q_stream_dedup")(spark, sfDir)
      .select("event_id").collect().map(_.getLong(0)).sorted
    val all = Tables.load(spark, sfDir, "events")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(streamed.sameElements(all))
  }

  test("events later than the watermark are dropped, on-time events are not") {
    // The semantic the replay harness deliberately never exercises (its
    // chunks are disjoint and time-ordered, so nothing is ever late): an
    // event older than watermark - delay must be excluded from its window's
    // append-mode emission. Controlled micro-batches via MemoryStream.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(3600_000L * 24 + 60_000L * min)
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = ms.toDF.toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(sum("v").as("total"))
      .select(col("window.start").as("w_start"), col("total"))
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = agg.writeStream.format("memory").queryName("graft_late_test")
      .outputMode("append").start()
    try {
      ms.addData((ts(0), 1L), (ts(5), 10L)) // window [24:00,24:10) = 11
      q.processAllAvailable()
      ms.addData((ts(60), 100L)) // watermark -> 24:50, first window closes
      q.processAllAvailable()
      ms.addData((ts(7), 1000L)) // LATE: 24:07 < watermark 24:50 -> dropped
      q.processAllAvailable()
      ms.addData((ts(120), 1L)) // flush the 100-valued window too
      q.processAllAvailable()
      val rows = spark.table("graft_late_test")
        .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(rows(ts(0)) == 11L, rows) // late 1000 NOT added
      assert(rows(ts(60)) == 100L, rows)
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", old)
    }
  }

  test("foreachBatch ledger survives kill/restart and skips redelivered batches") {
    import graft.streaming.GraftBatchStore
    // The non-transactional-store variant of the recovery contract: offsets
    // in the checkpoint WAL, idempotence from the sink's own batchId
    // ledger. Kill mid-backlog, restart on the same checkpoint — every
    // event lands exactly once — then hand the sink a byte-identical
    // redelivery of an already-committed batch and assert it is a no-op.
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    val root = java.nio.file.Files.createTempDirectory("graft-eo").toString
    try {
      val src = s"$root/src"
      ev.repartitionByRange(4, col("ts")).write.parquet(src)
      val store = GraftBatchStore.fresh("eo-restart-test")
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Array[org.apache.spark.sql.Row]]()
      def start() = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select("event_id", "user_id", "value")
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = batch.collect()
          seen.put(id, rows)
          store.applyBatch(id, rows, Seq(0))
        }.start()
      val q1 = start()
      val deadline = System.currentTimeMillis() + 60000
      while (store.batchesApplied == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // exactly once across the restart: every row applied once, by count —
      // a double-applied batch would make rowsApplied exceed the input
      assert(store.size == total, s"distinct=${store.size} total=$total")
      assert(store.rowsApplied.get == total,
        s"rowsApplied=${store.rowsApplied.get} total=$total")
      // simulated crash-retry: re-deliver a committed batch verbatim → no-op
      val (someId, someRows) = {
        val e = seen.entrySet().iterator().next(); (e.getKey, e.getValue)
      }
      store.applyBatch(someId, someRows, Seq(0))
      assert(store.rowsApplied.get == total, "redelivered batch was re-applied")
      assert(store.size == total)
    } finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("streaming KV sink: full redelivery converges to the same state (LWW idempotence)") {
    // first pass creates the table and streams all events into it
    val r1 = Streaming.queries("q_stream_kv_sink")(spark, sfDir).collect().toSeq
    assert(r1.nonEmpty)
    // full redelivery: a SECOND stream over the same input, FRESH
    // checkpoint, into the EXISTING table (no drop) — every epoch replays
    // onto committed state. The store's LWW merge must converge to the
    // identical state: this is the at-least-once → exactly-once argument
    // the sink makes (no batchId ledger anywhere).
    val fqn = "graftcat.streamks.user_latest"
    val staged = Streaming.stagedPath("events", sfDir)
    val schema = spark.read.parquet(staged).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(staged)
      .filter(col("event_type") =!= "__sentinel")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    val ck = s"${sys.props("java.io.tmpdir")}/graft-stream/" +
      s"ckpt-kvsink-replay-${System.nanoTime()}"
    val r2 = try {
      val q = in.writeStream.option("checkpointLocation", ck)
        .outputMode("append").toTable(fqn)
      try q.processAllAvailable() finally q.stop()
      spark.table(fqn).orderBy("user_id").collect().toSeq
    } finally FileUtils.deleteQuietly(new java.io.File(ck))
    assert(r2 == r1, s"replay diverged: ${r2.size} vs ${r1.size} rows")
    // a STALE redelivery can never clobber: rewrite one user's row with a
    // lower writetime through the batch path — LWW must keep the newer row
    val top = r1.head
    spark.sql(s"INSERT INTO $fqn VALUES (${top.getLong(0)}, -1, 'stale', 0.0)")
    assert(spark.table(fqn).orderBy("user_id").collect().toSeq == r1)
  }

  test("streaming writes are rejected on counter tables (replay would double-count)") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.streamks")
    spark.sql("DROP TABLE IF EXISTS graftcat.streamks.cnt")
    spark.sql("CREATE TABLE graftcat.streamks.cnt (id BIGINT, hits BIGINT) " +
      "TBLPROPERTIES ('key'='id', 'counters'='hits')")
    val staged = Streaming.stagedPath("events", sfDir)
    val schema = spark.read.parquet(staged).schema
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(staged)
      .select(col("user_id").as("id"), col("event_id").as("hits"))
    val ck = s"${sys.props("java.io.tmpdir")}/graft-stream/" +
      s"ckpt-kvsink-cnt-${System.nanoTime()}"
    val e = try intercept[Exception] {
      val q = in.writeStream.option("checkpointLocation", ck)
        .outputMode("append").toTable("graftcat.streamks.cnt")
      try q.processAllAvailable() finally q.stop()
    } finally FileUtils.deleteQuietly(new java.io.File(ck))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("not supported on counter tables")),
      chain(e).mkString(" | "))
  }

  test("range tombstones flow through CDC and compaction reclaims the log") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.sources.KeyGroupedRegistry
    val schema = StructType(Seq(
      StructField("pk", LongType, nullable = false),
      StructField("ck", LongType, nullable = false),
      StructField("v", StringType)))
    def df(rows: (Long, Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (p, c, v) =>
        org.apache.spark.sql.Row(p, c, v) }: _*), schema)
    val name = "kv_rdel_unit"
    KeyGroupedRegistry.stage(name,
      df((1L, 1L, "a"), (1L, 2L, "b"), (1L, 3L, "c"), (1L, 4L, "d"),
        (2L, 1L, "x"), (2L, 2L, "y")),
      "pk", clusteringCol = Some("ck"))
    df((1L, 5L, "e")).write.format("graft.sources.KVDataSource")
      .option("table", name).mode("append").save() // commit 1
    val tbl = new graft.sources.KVTable(name, KeyGroupedRegistry.get(name))
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.EqualTo("pk", 1L),
      org.apache.spark.sql.sources.GreaterThanOrEqual("ck", 2L),
      org.apache.spark.sql.sources.LessThan("ck", 4L))
    assert(tbl.canDeleteWhere(filters), "pk + ck-range delete must be admissible")
    tbl.deleteWhere(filters) // commit 2: ONE range tombstone, not 2 row deletes
    def streamAll(qname: String): org.apache.spark.sql.DataFrame = {
      val q = spark.readStream.format("graft.sources.KVDataSource")
        .option("table", name).option("cdc", "true").load()
        .writeStream.format("memory").queryName(qname).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(qname)
    }
    val out = streamAll("rdel_cdc_1")
    // the range delete traveled as ONE marker row carrying its bounds
    val tombs = out.filter(col("_tombstone")).collect()
    assert(tombs.length == 1, tombs.mkString(","))
    assert(tombs(0).getAs[Long]("pk") == 1L)
    assert(tombs(0).getAs[Long]("_ck_lo") == 2L)
    assert(tombs(0).getAs[Long]("_ck_hi") == 4L)
    // folding the log in commit order reproduces the table state
    def fold(rows: Seq[org.apache.spark.sql.Row]): Map[(Long, Long), String] = {
      var st = Map.empty[(Long, Long), String]
      rows.sortBy(_.getAs[Long]("_commit_seq")).foreach { r =>
        if (!r.getAs[Boolean]("_tombstone"))
          st += ((r.getAs[Long]("pk"), r.getAs[Long]("ck")) -> r.getAs[String]("v"))
        else if (r.getAs[Any]("_ck_lo") != null) {
          val (lo, hi) = (r.getAs[Long]("_ck_lo"), r.getAs[Long]("_ck_hi"))
          st = st.filterNot { case ((p, c), _) =>
            p == r.getAs[Long]("pk") && c >= lo && c < hi }
        } else st = st.filterNot { case ((p, _), _) => p == r.getAs[Long]("pk") }
      }
      st
    }
    def tableState(): Map[(Long, Long), String] =
      spark.read.format("graft.sources.KVDataSource").option("table", name)
        .load().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val expected = Map((1L, 1L) -> "a", (1L, 4L) -> "d", (1L, 5L) -> "e",
      (2L, 1L) -> "x", (2L, 2L) -> "y")
    assert(tableState() == expected)
    assert(fold(out.collect().toSeq) == expected)
    // GC: fold the whole log into one snapshot — the tombstone AND the rows
    // it shadowed are physically reclaimed (before/after storage assertion)
    val (before, after) = KeyGroupedRegistry.compactChangelog(name, keepLast = 0)
    assert(after < before, s"$before -> $after")
    assert(after == expected.size.toLong)
    val log = KeyGroupedRegistry.changelog(name)
    assert(log.size == 1 && !log(0).tombstone)
    // a fresh consumer over the compacted log folds to the identical state
    assert(fold(streamAll("rdel_cdc_2").collect().toSeq) == expected)
  }

  test("KV CDC stream resumes from its checkpoint and reproduces the table state") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.sources.KeyGroupedRegistry
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, v) }: _*), schema)
    val name = "kv_cdc_unit"
    KeyGroupedRegistry.stage(name, df(1L -> "a", 2L -> "b", 3L -> "c"), "k")
    def upsert(rows: (Long, String)*): Unit =
      df(rows: _*).write.format("graft.sources.KVDataSource")
        .option("table", name).mode("append").save()
    upsert(1L -> "a2", 4L -> "d") // commit 1
    val root = java.nio.file.Files.createTempDirectory("graft-kv-cdc").toString
    try {
      def start() = spark.readStream.format("graft.sources.KVDataSource")
        .option("table", name).option("cdc", "true").load()
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk").start()
      val q1 = start()
      try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
      val afterFirst = spark.read.parquet(s"$root/out").count()
      assert(afterFirst == 5, s"snapshot(3) + commit1(2) expected, got $afterFirst")
      // mutations while the consumer is DOWN — an upsert AND a delete (whose
      // tombstone must flow through the log) — then resume from the checkpoint
      upsert(2L -> "b2", 5L -> "e") // commit 2
      val kvTable = new graft.sources.KVTable(name, KeyGroupedRegistry.get(name))
      val delFilters: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.EqualTo("k", 3L))
      assert(kvTable.canDeleteWhere(delFilters))
      kvTable.deleteWhere(delFilters) // commit 3: tombstone for k=3
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val out = spark.read.parquet(s"$root/out")
      // exactly-once per commit across the restart: only the new commits' rows
      // were appended (2 upserts + 1 tombstone), nothing re-delivered
      assert(out.count() == 8, s"rows=${out.count()}")
      assert(out.filter(col("_tombstone")).count() == 1)
      // folding the log by latest commit per key — tombstoned keys dropped —
      // reproduces the batch table
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("_commit_seq").desc)
      val folded = out.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1).filter(!col("_tombstone")).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val table = spark.read.format("graft.sources.KVDataSource")
        .option("table", name).load()
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(folded == table, s"folded=$folded table=$table")
      assert(folded == Map(1L -> "a2", 2L -> "b2", 4L -> "d", 5L -> "e"))
    } finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("KV CDC stream stays consistent across a mid-stream ring bootstrap") {
    // C11 ∘ E6: a node joining the ring MID-STREAM must be invisible to
    // the CDC consumer — the changelog is commit-ordered per table, and
    // topology is placement metadata, so offsets neither skip nor
    // re-deliver and the fold still equals the (placement-independent)
    // table state.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.sources.{KeyGroupedRegistry, KVRing}
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, v) }: _*), schema)
    val name = "kv_cdc_boot"
    KeyGroupedRegistry.stage(name, df(1L -> "a", 2L -> "b", 3L -> "c"), "k")
    def upsert(rows: (Long, String)*): Unit =
      df(rows: _*).write.format("graft.sources.KVDataSource")
        .option("table", name).mode("append").save()
    val root = java.nio.file.Files.createTempDirectory("graft-kv-boot").toString
    KVRing.resetTopology()
    val q = spark.readStream.format("graft.sources.KVDataSource")
      .option("table", name).option("cdc", "true").load()
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk").start()
    try {
      upsert(1L -> "a2", 4L -> "d") // commit 1, pre-bootstrap ring
      q.processAllAvailable()
      // the topology change lands between two served micro-batches
      KVRing.addNodeAt("graft-node-7", Seq(15, 255, 495))
      upsert(2L -> "b2", 5L -> "e") // commit 2, post-bootstrap ring
      upsert(3L -> "c2")            // commit 3
      q.processAllAvailable()
      val out = spark.read.parquet(s"$root/out")
      // no skip, no re-delivery: snapshot(3) + 2 + 2 + 1, each exactly once
      assert(out.count() == 8, s"rows=${out.count()}")
      val seqs = out.select("_commit_seq").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(seqs == Seq(0L, 1L, 2L, 3L), s"offsets skipped/repeated: $seqs")
      // fold == table state read under the GROWN ring
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("_commit_seq").desc)
      val folded = out.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1).filter(!col("_tombstone")).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val table = spark.read.format("graft.sources.KVDataSource")
        .option("table", name).load()
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(folded == table, s"folded=$folded table=$table")
      assert(folded == Map(1L -> "a2", 2L -> "b2", 3L -> "c2",
        4L -> "d", 5L -> "e"))
    } finally {
      q.stop(); q.awaitTermination()
      KVRing.resetTopology()
      FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("KV CDC stream stays consistent across a mid-stream decommission") {
    // The symmetric case to the bootstrap test above: a node LEAVING the
    // ring mid-stream (its ranges re-owned by the survivors) must be just
    // as invisible to the CDC consumer — commit offsets neither skip nor
    // re-deliver, and the fold equals the table state read under the
    // SHRUNK ring.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.sources.{KeyGroupedRegistry, KVRing}
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, v) =>
        org.apache.spark.sql.Row(k, v) }: _*), schema)
    val name = "kv_cdc_decomm"
    KeyGroupedRegistry.stage(name, df(1L -> "a", 2L -> "b", 3L -> "c"), "k")
    def upsert(rows: (Long, String)*): Unit =
      df(rows: _*).write.format("graft.sources.KVDataSource")
        .option("table", name).mode("append").save()
    val root = java.nio.file.Files.createTempDirectory("graft-kv-decomm").toString
    KVRing.resetTopology()
    // 4-node ring up front so the mid-stream decommission (RF guard needs
    // > RF live hosts) is the ONLY topology change the stream sees
    KVRing.addNodeAt("graft-node-7", Seq(15, 255, 495))
    val q = spark.readStream.format("graft.sources.KVDataSource")
      .option("table", name).option("cdc", "true").load()
      .writeStream.format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk").start()
    try {
      upsert(1L -> "a2", 4L -> "d") // commit 1, 4-node ring
      q.processAllAvailable()
      // an ORIGINAL owner leaves between two served micro-batches: every
      // range it held is re-owned, yet the changelog is placement-free
      KVRing.decommission("graft-node-1")
      upsert(2L -> "b2", 5L -> "e") // commit 2, shrunk ring
      upsert(3L -> "c2")            // commit 3
      q.processAllAvailable()
      val out = spark.read.parquet(s"$root/out")
      // no skip, no re-delivery: snapshot(3) + 2 + 2 + 1, each exactly once
      assert(out.count() == 8, s"rows=${out.count()}")
      val seqs = out.select("_commit_seq").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(seqs == Seq(0L, 1L, 2L, 3L), s"offsets skipped/repeated: $seqs")
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("_commit_seq").desc)
      val folded = out.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1).filter(!col("_tombstone")).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val table = spark.read.format("graft.sources.KVDataSource")
        .option("table", name).load()
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(folded == table, s"folded=$folded table=$table")
      assert(folded == Map(1L -> "a2", 2L -> "b2", 3L -> "c2",
        4L -> "d", 5L -> "e"))
    } finally {
      q.stop(); q.awaitTermination()
      KVRing.resetTopology()
      FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("catalog CDC stream resumes from its checkpoint and folds to the table state") {
    spark.conf.set("spark.sql.catalog.graftcat", "graft.sources.GraftCatalog")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.proptest")
    spark.sql("DROP TABLE IF EXISTS graftcat.proptest.cdcr")
    spark.sql("CREATE TABLE graftcat.proptest.cdcr (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('key'='k')")
    def upsert(rows: (Long, String)*): Unit =
      spark.sql("SELECT * FROM VALUES " +
        rows.map { case (k, v) => s"(${k}L, '$v')" }.mkString(", ") +
        " AS t(k, v)").writeTo("graftcat.proptest.cdcr").append()
    upsert(1L -> "a", 2L -> "b") // commit 1
    upsert(1L -> "a2", 4L -> "d") // commit 2
    val root = java.nio.file.Files.createTempDirectory("graft-cat-cdc").toString
    try {
      def start() = spark.readStream.table("graftcat.proptest.cdcr__cdc")
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/chk").start()
      val q1 = start()
      try q1.processAllAvailable() finally { q1.stop(); q1.awaitTermination() }
      assert(spark.read.parquet(s"$root/out").count() == 4)
      // mutations while the consumer is DOWN, including a tombstone batch
      upsert(2L -> "b2", 5L -> "e") // commit 3
      spark.sql("DELETE FROM graftcat.proptest.cdcr WHERE k = 4") // commit 4
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val out = spark.read.parquet(s"$root/out")
      // exactly-once per commit across the restart
      assert(out.count() == 7, s"rows=${out.count()}")
      assert(out.filter(col("_tombstone")).count() == 1)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy(col("_commit_seq").desc)
      val folded = out.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1).filter(!col("_tombstone")).select("k", "v")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val table = spark.table("graftcat.proptest.cdcr")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(folded == table, s"folded=$folded table=$table")
      assert(folded == Map(1L -> "a2", 2L -> "b2", 5L -> "e"))
    } finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("restart from checkpoint resumes into the file sink exactly once") {
    // The recovery contract a 100 TB/day ingest job relies on: offsets live
    // in the checkpoint WAL, committed files in the sink manifest — kill the
    // query mid-backlog, restart with the same checkpoint+sink, and every
    // input row lands exactly once (re-attempted batches are idempotent,
    // unread splits are resumed, nothing is double-committed).
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    try {
      val (src, sink, ckpt) = (s"$root/src", s"$root/sink", s"$root/ckpt")
      ev.repartitionByRange(4, col("ts")).write.parquet(src)
      def start() = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select("event_id", "user_id", "value")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt).start()
      val q1 = start()
      val deadline = System.currentTimeMillis() + 60000
      // stop as soon as at least one batch has committed — mid-backlog
      while (q1.recentProgress.map(_.numInputRows).sum == 0
          && System.currentTimeMillis() < deadline) Thread.sleep(50)
      q1.stop(); q1.awaitTermination()
      val afterFirst = spark.read.parquet(sink).count()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      // exactly-once: every event_id present exactly once (manifest-committed
      // files only), regardless of where the first run died
      val out = spark.read.parquet(sink)
      assert(out.count() == total, s"rows=${out.count()} total=$total afterFirst=$afterFirst")
      assert(out.select("event_id").distinct().count() == total)
    } finally FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("chained stateful ops: dedup feeds the window agg inside ONE query") {
    val streamed = Streaming.queries("q_stream_chained")(spark, sfDir)
      .collect().toSet
    val ev = Tables.load(spark, sfDir, "events")
    def roll(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
        .collect().toSet
    // equals the clean rollup…
    assert(streamed == roll(ev))
    // …and NOT the rollup over the duplicated stream — i.e. the in-query
    // dedup stage really dropped the injected copies (fixture is non-trivial)
    val dup = roll(ev.unionByName(ev.filter(col("event_id") % 97 === 0)))
    assert(streamed != dup, "injection was a no-op — degenerate fixture")
  }

  test("streaming corpus pipeline: hourly rollup equals the batch gate and the dedup bites") {
    import graft.operators.Pipeline.{hExpr, ngramExpr}
    val streamed = Streaming.queries("q_stream_corpus_pipeline")(spark, sfDir)
      .collect().toSet
    val docs0 = Tables.load(spark, sfDir, "documents")
    val shingles =
      s"array_distinct(transform(${ngramExpr(5)}, g -> ${hExpr("g")}))"
    val bench = docs0.filter(col("doc_id") % 50 === 0)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(explode(expr(shingles)).as("sh")).distinct()
      .agg(collect_set(col("sh")).as("bset"))
      .withColumn("k", lit(1))
    // clean batch replay: quality gate + contamination flag + hour rollup
    // over the synthetic ingest clock (dedup = the docs table itself)
    def roll(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("ts", expr("timestamp'2024-01-01 00:00:00' " +
        "+ make_interval(0, 0, 0, 0, 0, 0, doc_id)"))
      .filter(col("doc_id") % 50 =!= 0)
      .withColumn("w", split(col("text"), " "))
      .withColumn("tok", size(col("w")).cast("long"))
      .withColumn("chars", expr("aggregate(w, 0L, (a, x) -> a + length(x))"))
      .withColumn("alpha",
        expr("CAST(size(filter(w, x -> x rlike '[a-z]')) AS BIGINT)"))
      .withColumn("sym",
        expr("CAST(size(filter(w, x -> x IN ('#', '...'))) AS BIGINT)"))
      .withColumn("stop",
        expr("CAST(size(filter(w, x -> x IN ('the','be','to','of','and'," +
          "'that','have','with'))) AS BIGINT)"))
      .filter(col("tok") >= 20L && col("tok") <= 1000L &&
        col("chars") >= lit(3L) * col("tok") &&
        col("chars") <= lit(10L) * col("tok") &&
        lit(10L) * col("sym") <= col("tok") &&
        lit(10L) * col("alpha") >= lit(8L) * col("tok") &&
        col("stop") >= 2L)
      .withColumn("sh_arr", expr(s"CASE WHEN size(w) >= 5 THEN $shingles END"))
      .withColumn("k", lit(1))
      .join(broadcast(bench), Seq("k"), "left")
      .withColumn("contaminated",
        coalesce(arrays_overlap(col("sh_arr"), col("bset")), lit(false)))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(!col("contaminated"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(!col("contaminated"), col("tok")).otherwise(0L))
          .as("tokens_clean"))
      .select(col("window.start").as("w_start"), col("n_docs"),
        col("n_contaminated"), col("n_clean"), col("tokens_clean"))
      .collect().toSet
    assert(streamed == roll(docs0))
    // …and the in-query watermark dedup really dropped the injected
    // doc_id % 37 re-deliveries: the duplicated rollup must differ
    val dup = roll(docs0.unionByName(docs0.filter(col("doc_id") % 37 === 0)))
    assert(streamed != dup, "injection was a no-op — degenerate fixture")
  }

  test("statestore reader reproduces the batch totals from the state files") {
    val fromState = Streaming.queries("q_stream_state_reader")(spark, sfDir)
      .collect().toSet
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(12,2)") * 100).cast("long"))
          .as("sum_cents"))
      .orderBy("user_id")
      .collect().toSet
    assert(fromState == batch)
  }

  test("initial-state warm start: stream over the tail equals FULL-history totals") {
    val streamed = Streaming.queries("q_stream_tws_initial")(spark, sfDir)
      .collect().toSet
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(12,2)") * 100).cast("long"))
          .as("sum_cents"))
      .orderBy("user_id")
      .collect().toSet
    assert(streamed == batch)
    // the cutover split is real on this fixture: both halves are non-empty
    val cutoff = Streaming.TwsInitCutoff
    val pre = Tables.load(spark, sfDir, "events").filter(col("ts") < lit(cutoff)).count()
    val post = Tables.load(spark, sfDir, "events").filter(col("ts") >= lit(cutoff)).count()
    assert(pre > 0 && post > 0, s"degenerate cutoff: pre=$pre post=$post")
  }

  test("stateProbe: agg state linear in keys, dedup PEAK sees the in-horizon working set") {
    val p = Streaming.stateProbe(spark, sfDir)
    // unwatermarked running agg: exactly one state row per user + sentinel
    assert(p("agg_state_rows") == p("distinct_users") + 1, p.toString)
    // watermark dedup: the PEAK batch snapshot must hold a real working set
    // (the post-sentinel latest snapshot is ~1 row by eviction design — the
    // r11 ADVICE bug this probe now avoids), bounded above by every id that
    // ever entered the store
    assert(p("dedup_state_rows") > p("distinct_events") / 4, p.toString)
    assert(p("dedup_state_rows") <= p("distinct_events") + 1, p.toString)
  }

  test("streaming percolator equals the batch percolator query-for-query") {
    // statelessly matching each replayed doc micro-batch against the
    // standing query index must land exactly the batch reverse-search
    // counts — same stored queries, same conjunctive semantics
    val streamed = Streaming.queries("q_stream_percolate")(spark, sfDir)
      .collect().toSeq
    val batch = graft.operators.Pipeline.queries("q_percolate")(spark, sfDir)
      .collect().toSeq
    assert(streamed.map(_.toSeq) == batch.map(_.toSeq))
    assert(streamed.length == 6, "4 choose 2 stored queries")
    assert(streamed.map(_.getLong(3)).sum > 0, "something must match")
  }

  test("count-min heavy hitters: est bounds exact, state bounded by d*w") {
    val top = Streaming.queries("q_stream_heavy_hitters")(spark, sfDir)
      .collect()
    assert(top.nonEmpty && top.length <= 10)
    // the count-min guarantee on every returned row: never an undercount
    top.foreach(r => assert(r.getLong(1) >= r.getLong(2),
      s"est < exact: $r"))
    // the sketch's state is the streaming agg's groups: at most d*w cells
    // regardless of how many keys or events the stream carried — recount
    // the cell universe the explode can reach from the batch side
    val cells = Tables.load(spark, sfDir, "events")
      .selectExpr("explode(transform(sequence(0, 3), d -> named_struct(" +
        "'d', CAST(d AS BIGINT), " +
        "'c', cast(conv(substring(md5(concat(cast(d as string), ':', " +
        "cast(user_id as string))),1,8),16,10) as bigint) % 256))) as cell")
      .select("cell.d", "cell.c").distinct().count()
    assert(cells <= 4L * 256, s"cell universe: $cells")
    // with more keys than columns collisions are pigeonhole-guaranteed
    // somewhere; at the tiny test SF (15 users over 256 columns) every
    // key can land clean, and then the sketch must be EXACT everywhere
    val nUsers = Tables.load(spark, sfDir, "events")
      .select("user_id").distinct().count()
    if (nUsers > 256)
      assert(top.exists(r => r.getLong(1) > r.getLong(2)),
        "expected at least one collision overestimate in the top-10")
  }

  test("transformWithState totals equal the batch aggregation (3 state vars + timers)") {
    val streamed = Streaming.queries("q_stream_transform_state")(spark, sfDir)
      .collect().toSet
    val batch = Tables.load(spark, sfDir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value").cast("decimal(12,2)") * 100).cast("long"))
          .as("sum_cents"),
        countDistinct("event_type").as("n_types"))
      .orderBy("user_id")
      .collect().toSet
    assert(streamed == batch)
  }

  test("windowed count-min: per-window est bounds exact, top-3 under total order") {
    val rows = Streaming.queries("q_stream_hh_windowed")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    // exact per (hour, purchaser) recomputed batch-side — the audit
    // column must be the truth, and the estimate may never undercount
    val exact = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr("date_trunc('HOUR', ts)").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(r.getLong(3) >= r.getLong(4), s"est < exact: $r")
      assert(r.getLong(4) == exact((r.getTimestamp(0), r.getLong(2))),
        s"audit column drifted: $r")
      assert(r.getTimestamp(0).getTime % 3600000L == 0L, s"unaligned: $r")
    }
    // ranks are a contiguous 1..k<=3 prefix per window
    rows.groupBy(_.getTimestamp(0)).values.foreach { g =>
      val rks = g.map(_.getLong(1)).sorted
      assert(rks.length <= 3 && rks.zipWithIndex.forall {
        case (rk, i) => rk == i + 1L
      }, s"ranks: ${rks.toSeq}")
    }
  }

  test("windowed percentiles: brute per-window rank selection matches") {
    val rows = Streaming.queries("q_stream_percentiles")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val byWin = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .selectExpr("date_trunc('HOUR', ts) AS w",
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents")
      .collect().groupBy(_.getTimestamp(0))
      .map { case (w, g) => w -> g.map(_.getLong(1)).sorted }
    val frac = Map("p50" -> ((1L, 2L)), "p95" -> ((19L, 20L)))
    rows.foreach { r =>
      val cents = byWin(r.getTimestamp(0))
      val (qn, qd) = frac(r.getString(1))
      val n = cents.length.toLong
      val rk = (n * qn + qd - 1) / qd
      assert(r.getLong(2) == n && r.getLong(3) == rk, s"rank: $r")
      assert(r.getLong(4) == cents((rk - 1).toInt), s"value: $r")
    }
    // p50 <= p95 inside every window; both quantiles present
    rows.groupBy(_.getTimestamp(0)).values.foreach { g =>
      assert(g.map(_.getString(1)).toSet == Set("p50", "p95"))
      val m = g.map(r => r.getString(1) -> r.getLong(4)).toMap
      assert(m("p50") <= m("p95"), s"crossed quantiles: ${g.toSeq}")
    }
  }

  test("stream psi: per-window drift replay matches, bands honor cutoffs") {
    val rows = Streaming.queries("q_stream_psi")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // brute: reference deciles from the static purchases, then each
    // window's +1-smoothed PSI against them
    val purch = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .selectExpr("date_trunc('HOUR', ts) AS w",
        "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val refSorted = purch.map(_._2).sorted
    val nr = refSorted.length.toLong
    val bnd = (1 to 9).map(k => refSorted(((nr * k + 9) / 10 - 1).toInt))
    def binOf(v: Long) = bnd.count(v >= _)
    val refBins = refSorted.groupBy(binOf)
      .map { case (k, g) => k -> g.length.toLong }
    val byWin = purch.groupBy(_._1)
    rows.foreach { r =>
      val g = byWin(r.getTimestamp(0)).map(_._2)
      assert(r.getLong(1) == g.length.toLong, s"window n: $r")
      val wb = g.groupBy(binOf).map { case (k, v) => k -> v.length.toLong }
      val psi = (0 to 9).map { bin =>
        val pw = (wb.getOrElse(bin, 0L) + 1.0) / (g.length + 10.0)
        val pr = (refBins.getOrElse(bin, 0L) + 1.0) / (nr + 10.0)
        (pw - pr) * math.log(pw / pr)
      }.sum
      assert(math.abs(r.getDouble(2) - psi) < 1e-5, s"psi: $r vs $psi")
      val band = if (r.getDouble(2) < 0.1) "stable"
        else if (r.getDouble(2) < 0.25) "moderate" else "major"
      assert(r.getString(3) == band, s"band: $r")
    }
    // every window that saw a purchase reports
    assert(rows.length == byWin.size)
  }

  test("streaming entity match equals the batch linkage row-for-row") {
    val streamed = Streaming.queries("q_stream_entity_match")(spark, sfDir)
      .collect().toSet
    val batch = graft.operators.Pipeline.queries("q_entity_match")(
      spark, sfDir).collect().toSet
    assert(streamed == batch,
      s"stream vs batch diff: ${(streamed -- batch) ++ (batch -- streamed)}")
  }

  test("stream cusum: brute hourly-prefix replay matches every window") {
    val rows = Streaming.queries("q_stream_cusum")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val hourly = Tables.load(spark, sfDir, "events")
      .selectExpr("date_trunc('HOUR', ts) AS w")
      .collect().map(_.getTimestamp(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy(_._1.getTime)
    val xs = hourly.map(_._2)
    val nd = xs.length.toLong
    val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mu = r6(sx.toDouble / nd)
    val sd = r6(math.sqrt((nd.toDouble * sxx - sx.toDouble * sx) /
      (nd * (nd - 1.0))))
    val (kk, hh) = (r6(sd * 0.5), r6(sd * 4.0))
    var (cp, cn) = (0.0, 0.0)
    val expect = hourly.map { case (w, x) =>
      cp = math.max(0.0, cp + (x - mu - kk))
      cn = math.max(0.0, cn + (mu - kk - x))
      (w, x, r6(cp), r6(cn), hh, r6(cp) > hh || r6(cn) > hh)
    }
    assert(rows.length == expect.length,
      s"window count ${rows.length} vs ${expect.length}")
    rows.zip(expect).foreach { case (r, e) =>
      assert(r.getTimestamp(0) == e._1 && r.getLong(1) == e._2,
        s"window/count: $r vs $e")
      assert(math.abs(r.getDouble(2) - e._3) < 1e-6 &&
        math.abs(r.getDouble(3) - e._4) < 1e-6, s"cusum: $r vs $e")
      assert(r.getBoolean(5) == e._6, s"flag: $r vs $e")
    }
  }
}
