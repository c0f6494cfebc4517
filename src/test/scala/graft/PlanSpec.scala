package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Pipeline, Relational, Storage, Tpch}

/** Physical-plan assertions: the scan/join capabilities the reference's
  * pinned connector advertised (SURVEY.md §2.2) must be visible in the plan,
  * not just produce correct rows — pushdown and shuffle-freedom are what
  * survive a 100× scale-up.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filtered scan pushes filters and prunes columns") {
    val plan = planOf(Relational.queries("q_filtered_scan")(spark, sfDir))
    assert(plan.contains("PushedFilters"), plan)
    // both predicates reach the parquet scan
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,"), plan)
    // pruning: the 11-column lineitem scan reads only the 5 needed columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).mkString
    Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
      .foreach(c => assert(readSchema.contains(c), readSchema))
    Seq("l_returnflag", "l_discount", "l_tax", "l_partkey")
      .foreach(c => assert(!readSchema.contains(c), readSchema))
  }

  test("co-bucketed join runs with zero Exchange (token-locality analog)") {
    // materialize the bucketed tables once
    Storage.queries("q_bucketed_join")(spark, sfDir).collect()
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ob = spark.table("graft_orders_b")
      val cb = spark.table("graft_customer_b")
      val joined = ob.join(cb, ob("o_custkey") === cb("c_custkey"))
      joined.collect() // finalize the (adaptive) plan
      val plan = planOf(joined)
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("KV source reports statistics: small side auto-broadcasts with no hint") {
    // SupportsReportStatistics: a DSv2 relation without stats sizes as
    // defaultSizeInBytes (effectively infinite) and Catalyst would NEVER
    // pick BroadcastHashJoin on its own — the 25-row nation KV table must
    // report its true ~KB size and become the broadcast side against
    // lineitem WITHOUT any explicit broadcast()/hint (at 100 TB, this
    // decision is the difference between shipping 25 rows and shuffling
    // the whole fact table)
    Storage.queries("q_spj_join")(spark, sfDir).collect() // stages the registry
    val n = spark.read.format("graft.sources.KVDataSource")
      .option("table", s"nation:$sfDir").load()
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
    val joined = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(n("n_name")).count()
    joined.collect() // finalize the (adaptive) plan
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("storage-partitioned join runs with zero Exchange (DSv2 KeyGroupedPartitioning)") {
    // run the declared query once: stages the registry + sets the SPJ confs
    Storage.queries("q_spj_join")(spark, sfDir).collect()
    val n = spark.read.format("graft.sources.KVDataSource")
      .option("table", s"nation:$sfDir").load()
    val c = spark.read.format("graft.sources.KVDataSource")
      .option("table", s"customer:$sfDir").load()
    val joined = n.join(c.hint("merge"), n("n_nationkey") === c("c_nationkey"))
    joined.collect() // finalize the (adaptive) plan
    val plan = planOf(joined)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("key-equality filter prunes DSv2 splits to the owning partition (point read)") {
    val df = Storage.queries("q_kv_point_read")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // of the 25 nation-key splits, exactly the one owning key 3 was planned
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"customer:$sfDir") == 1)
    // and the pushed predicate is visible in the scan's description
    val plan = planOf(df)
    assert(plan.contains("EqualTo(c_nationkey,3)"), plan)
  }

  test("typed key-set join plans only the splits owning the requested keys") {
    val rows = Storage.queries("q_kv_typed_join")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // joinWithCassandraTable contract: left multiplicity preserved — key 3
    // was requested twice, so its matches appear an even number of times
    val hits3 = rows.count(_.getLong(0) == 3L)
    assert(hits3 > 0 && hits3 % 2 == 0, s"key 3 matched $hits3 rows")
    // a key owning no partition yields nothing
    assert(!rows.exists(_.getLong(0) == 99L))
    // DirectJoinRule turned the join into point reads: of the 25 nation
    // splits, only those owning the 3 distinct live keys were planned
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(s"customer:$sfDir")
    assert(planned <= 3, s"planned $planned splits for a 3-key typed join")
  }

  test("composite-key point read prunes to the one split owning the tuple") {
    val df = Storage.queries("q_kv_composite_key")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // of the 125 (nation, segment) splits, exactly the one owning (11,
    // BUILDING) was planned — equality on BOTH key columns composes
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"cust_comp:$sfDir") == 1)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(c_nationkey,11)"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
  }

  test("composite-key storage-partitioned join runs with zero Exchange") {
    // run the declared query once: stages both sides + sets the SPJ confs
    Storage.queries("q_spj_composite")(spark, sfDir).collect()
    val (aName, bName) = Storage.stageKvCompositeSides(spark, sfDir)
    val a = spark.read.format("graft.sources.KVDataSource")
      .option("table", aName).load()
    val b = spark.read.format("graft.sources.KVDataSource")
      .option("table", bName).load()
    val joined = a.join(b.hint("merge"),
      a("c_nationkey") === b("nk") && a("c_mktsegment") === b("seg"))
    joined.collect() // finalize the (adaptive) plan
    val plan = planOf(joined)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("clustering-column range scan prunes to one split and pushes the ck range") {
    val df = Storage.queries("q_kv_range_scan")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // `pk = 37` prunes the ring to the one owning split...
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"orders_ck:$sfDir") == 1)
    // ...and the ck bounds reach the source (evaluated by slicing the
    // ck-sorted partition, Cassandra's within-partition range read)
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ck,200)"), plan)
    assert(plan.contains("LessThan(ck,10000)"), plan)
    rows.foreach { r =>
      assert(r.getLong(0) == 37L)
      assert(r.getLong(1) >= 200L && r.getLong(1) < 10000L)
    }
  }

  test("token-range scan prunes the ring to the arc's splits") {
    val df = Storage.queries("q_kv_token_range")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the single-integral-key ring has identity tokens, so the pushed key
    // range [5, 12) IS the token arc: 7 of the 25 nation splits planned
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"customer:$sfDir") == 7)
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(c_nationkey,5)"), plan)
    assert(plan.contains("LessThan(c_nationkey,12)"), plan)
    rows.foreach { r =>
      val nk = r.getLong(r.fieldIndex("c_nationkey"))
      assert(nk >= 5L && nk < 12L)
    }
  }

  test("bare limit compiles to CollectLimitExec (the show() physical shape)") {
    // O3: the reference job's df.show(truncate=False) plans CollectLimitExec(21)
    // (reference: userdata/cloudinit.sh:351); same shape for a bare .limit
    val df = graft.sources.Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey").limit(20)
    val plan = planOf(df)
    assert(plan.contains("CollectLimit"), plan)
  }

  test("DirectJoinRule converges above the In->InSet threshold (11..1024 keys)") {
    // 20 keys > spark.sql.optimizer.inSetConversionThreshold (10): OptimizeIn
    // rewrites the planted In to InSet in the same fixed-point batch; the
    // rule must recognize the rewritten form or it re-adds the filter every
    // iteration (optimizer churn + stacked duplicate filters).
    val keys = spark.createDataFrame(
      java.util.Arrays.asList((1L to 20L).map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lookup_key",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val c = graft.sources.Tables.load(spark, sfDir, "customer")
    val joined = c.join(keys, c("c_custkey") === keys("lookup_key"))
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val planted = joined.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists {
        case _: In | _: InSet => true
        case _ => false
      } => f
    }
    assert(planted.size == 1, joined.queryExecution.optimizedPlan.toString)
    assert(joined.collect().length == 20)
  }

  test("count(*) is answered by parquet footer metadata (cassandraCount analog)") {
    val plan = planOf(Storage.queries("q_count_pushdown")(spark, sfDir))
    assert(plan.contains("PushedAggregation"), plan)
    assert(plan.contains("COUNT(*)"), plan)
  }

  test("count(*) on the KV source is answered from registry metadata (no rows read)") {
    val df = Storage.queries("q_kv_count_pushdown")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    val expected = graft.sources.Tables.load(spark, sfDir, "customer").count()
    assert(df.collect().head.getLong(0) == expected)
  }

  test("pushed LIMIT caps what every KV split serves (CQL LIMIT / per-partition limit)") {
    val df = Storage.queries("q_kv_limit_pushdown")(spark, sfDir)
    val n = df.collect()(0).getLong(0)
    assert(n == 7, s"limited count returned $n")
    val cName = s"customer:$sfDir"
    // the limit reached the source: across all 25 splits the scan served at
    // most 7 rows each, instead of the full table
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(cName)
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(cName)
    val total = graft.sources.Tables.load(spark, sfDir, "customer").count()
    assert(served <= 7L * planned, s"served $served rows from $planned splits")
    assert(served < total, s"limit did not reduce the scan ($served of $total)")
    assert(planOf(df).contains("PushedLimit: 7"), planOf(df))
  }

  test("composite key + clustering column: ((cust, prio), ck) prunes and slices") {
    val df = Storage.queries("q_kv_composite_ck")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // both key equalities compose to the one owning split...
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"orders_comp_ck:$sfDir") == 1)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(cust,37)"), plan)
    assert(plan.contains("EqualTo(prio,4-NOT SPECIFIED)"), plan)
    // ...and the ck bounds reached the source
    assert(plan.contains("GreaterThanOrEqual(ck,1)"), plan)
    rows.foreach { r =>
      assert(r.getLong(0) == 37L && r.getString(1) == "4-NOT SPECIFIED")
    }
  }

  test("timestamp clustering column: pk + ts range prunes to one sliced split") {
    val df = Storage.queries("q_kv_timeseries")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // pk equality pruned the ring to the one split owning user 7...
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(s"events_ts:$sfDir") == 1)
    // ...and the ts bounds reached the source (the slice, not a scan)
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(plan.contains("LessThan(ts,"), plan)
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(s"events_ts:$sfDir")
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(0) == 7L)
      val t = r.getTimestamp(1).toString
      assert(t >= "2024-01-10" && t < "2024-01-20", t)
    }
  }

  test("ORDER BY ck LIMIT pushes top-n: each split serves a sorted prefix") {
    val df = Storage.queries("q_kv_topn_pushdown")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 5)
    // globally ck-ascending result assembled from per-split prefixes
    val cks = rows.map(_.getLong(1))
    assert(cks.sameElements(cks.sorted), cks.mkString(","))
    val name = s"orders_ck:$sfDir"
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.map(_._2.length).sum
    assert(served <= 5L * planned, s"served $served from $planned splits")
    assert(served < total, s"top-n did not reduce the scan ($served of $total)")
    assert(planOf(df).contains("PushedTopN: [ck ASC LIMIT 5]"), planOf(df))
  }

  test("ANN top-k serves splits×k candidates, never the corpus (vector search)") {
    val df = graft.operators.Similarity.queries("q_kv_ann_topk")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 10)
    // ranks are 1..10 with non-increasing cosine
    assert(rows.map(_.getInt(3)).sameElements(1 to 10))
    val cosines = rows.map(_.getDouble(2))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, cosines.mkString(","))
    val name = s"embed_ann:$sfDir"
    val entry = graft.sources.KeyGroupedRegistry.get(name)
    val total = entry.parts.map(_._2.length).sum
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    // each split served its local top-10 candidates only
    assert(served == 10L * planned, s"served $served from $planned splits")
    assert(served < total, s"ANN did not reduce the scan ($served of $total)")
    assert(planOf(df).contains("AnnTopK: [embedding k=10 sim=cosine]"), planOf(df))
  }

  test("indexed-column RANGE prunes splits to in-range owners (SAI analog)") {
    val df = Storage.queries("q_kv_index_range")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"events_sai:$sfDir"
    val entry = graft.sources.KeyGroupedRegistry.get(name)
    // only the partitions owning at least one in-range row were planned
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    assert(planned < entry.parts.length,
      s"planned $planned of ${entry.parts.length} splits — no pruning")
    // and inside them the source filtered exactly: served == returned
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    // the range predicates reached the source
    val plan = planOf(df)
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan)
    assert(plan.contains("LessThan(ts,"), plan)
    rows.foreach { r =>
      val t = r.getTimestamp(2).toString
      assert(t >= "2024-01-02 00:00" && t < "2024-01-02 03:00", t)
    }
  }

  test("single-partition LIMIT/OFFSET pushes fully: the split serves page rows only") {
    val df = Storage.queries("q_kv_offset_pushdown")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 6, s"returned ${rows.length}")
    assert(rows.forall(_.getLong(0) == 58L))
    val name = s"orders_ck:$sfDir"
    // full-key equality pinned the scan to the one split owning pk=58
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(name) == 1)
    // and the source served EXACTLY the page — offset+limit collapsed into
    // the slice, nothing skipped client-side
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == 6L)
    val plan = planOf(df)
    assert(plan.contains("PushedOffset: 4"), plan)
    assert(plan.contains("PushedTopN: [ck ASC LIMIT 10]"), plan)
    // the page matches rows [4, 10) of the partition's ck order
    val entry = graft.sources.KeyGroupedRegistry.get(name)
    val ckIdx = entry.schema.fieldIndex("ck")
    val expected = entry.parts
      .find(_._1.head.asInstanceOf[Number].longValue == 58L).get._2
      .map(_(ckIdx).asInstanceOf[Number].longValue).slice(4, 10)
    assert(rows.map(_.getLong(1)).sameElements(expected),
      rows.map(_.getLong(1)).mkString(","))
  }

  test("perPartitionLimit caps each partition at its first n ck-ordered rows") {
    val df = Storage.queries("q_kv_per_partition_limit")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // at most 3 rows per pk, and exactly the ck-smallest ones
    val byPk = rows.groupBy(_.getLong(0))
    assert(byPk.values.forall(_.length <= 3))
    val name = s"orders_ck:$sfDir"
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.map(_._2.length).sum
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    assert(served < total, s"per-partition limit did not reduce the scan")
    assert(planOf(df).contains("PerPartitionLimit: 3"), planOf(df))
  }

  test("SELECT DISTINCT key tuples is metadata-only: one row per split, no aggregate") {
    val df = Storage.queries("q_kv_distinct_keys")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"cust_comp:$sfDir"
    val splits = graft.sources.KeyGroupedRegistry.get(name).parts.length
    assert(rows.length == splits, s"${rows.length} tuples vs $splits splits")
    // one metadata row per split — no data row served
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == splits.toLong, s"served $served from $splits splits")
    val plan = planOf(df)
    assert(plan.contains("PushedDistinct"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("token-range pages: each arc plans only its own splits") {
    val (_, cName) = Storage.stageKv(spark, sfDir)
    val t = spark.read.format("graft.sources.KVDataSource")
      .option("table", cName).load()
    val total = graft.sources.KeyGroupedRegistry.get(cName).parts.length
    import org.apache.spark.sql.functions.{col => fcol}
    // one arc: [7, 13) over the 25-nation identity-token ring
    val arc = t.filter(fcol("c_nationkey") >= 7L && fcol("c_nationkey") < 13L)
    arc.collect()
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(cName)
    assert(planned < total, s"arc did not prune ($planned of $total)")
    assert(planned <= 6, s"arc [7,13) planned $planned splits")
  }

  test("TWCS layout: a new window's append leaves closed windows untouched and prunes reads") {
    val base = s"${sys.props("java.io.tmpdir")}/graft-twcs/" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    import org.apache.spark.sql.functions.{col => fcol, date_format, max => fmax}
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .withColumn("w", date_format(fcol("ts"), "yyyy-MM-dd"))
    val lastDay = ev.agg(fmax("w")).head().getString(0)
    ev.filter(fcol("w") < lastDay)
      .repartition(fcol("w")).sortWithinPartitions("ts")
      .write.partitionBy("w").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(base)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(base))
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getPath.contains(s"w=$lastDay"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = files()
    assert(before.nonEmpty)
    ev.filter(fcol("w") === lastDay)
      .repartition(1).sortWithinPartitions("ts")
      .write.partitionBy("w").mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(base)
    // closed windows: same files, same mtimes — the open window's arrival
    // rewrote nothing (TWCS's whole point)
    assert(files() == before, "closed-window files changed")
    // a window-filtered read plans ONLY that window's directory
    val pruned = spark.read.parquet(base).filter(fcol("w") === lastDay)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    val scanned = pruned.select(org.apache.spark.sql.functions
      .input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"w=$lastDay")),
      scanned.mkString(","))
  }

  test("CONTAINS plans only the element's owning splits (collection index)") {
    val df = Storage.queries("q_kv_contains")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"cust_tags:$sfDir"
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.length
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    assert(planned < total, s"CONTAINS did not prune ($planned of $total)")
    // the element index is exact here (one row per split), so the store
    // served precisely the result rows
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    assert(planOf(df).contains("Contains: [tags=N7]"), planOf(df))
  }

  test("split coalescing: token-order packing to ~target rows, replica-set flush, row conservation") {
    import graft.sources.{KeyGroupedRegistry, KVMultiPartition, KVRing}
    val res = Storage.queries("q_kv_split_sizing")(spark, sfDir).head()
    val name = s"orders_ck:$sfDir"
    val e = KeyGroupedRegistry.get(name)
    val nKeys = e.parts.length
    val totalRows = e.parts.map(_._2.length).sum
    // the coalesced read served every row exactly once
    assert(res.getLong(0) == totalRows.toLong)
    val planned = KeyGroupedRegistry.lastPlanned(name)
    assert(planned < nKeys / 4, s"no real coalescing: $planned of $nKeys")
    assert(KeyGroupedRegistry.lastScanRows(name) == totalRows.toLong)
    // inspect the planned splits directly
    val raw = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).option("split_target_rows", "100").load()
    val scan = raw.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.toString.contains("SplitTarget: [100 rows]"), scan.toString)
    val splits = scan.inputPartitions.map(_.asInstanceOf[KVMultiPartition])
    assert(splits.length == planned)
    // packing discipline: a split exceeds the target by at most ONE key's
    // rows (a partition never splits across tasks), and every split
    // carries a replica set for the token-aware read
    val maxPart = e.parts.map(_._2.length).max
    splits.foreach { mp =>
      assert(mp.rows.length <= 100 + maxPart, s"split of ${mp.rows.length}")
      assert(mp.hosts.nonEmpty)
    }
    // and the coalesced scan reports no per-key grouping (it cannot)
    assert(!scan.outputPartitioning.toString.contains("KeyGroupedPartitioning"),
      scan.outputPartitioning.toString)
    // sizing composes with aggregate pushdown: a pushed COUNT over the
    // coalesced read packs the per-key METADATA rows too — a million-key
    // ring must not schedule a million tasks for a count(*)
    val cnt = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).option("split_target_rows", "100").load()
      .groupBy("pk").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val total2 = cnt.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total2 == totalRows.toLong)
    val aggPlanned = KeyGroupedRegistry.lastPlanned(name)
    assert(aggPlanned < nKeys / 4, s"agg read did not coalesce: $aggPlanned")
    val aggScan = cnt.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(aggScan.toString.contains("PushedGroupBy"), aggScan.toString)
  }

  test("map-index granules prune: CONTAINS KEY / entry / map CONTAINS") {
    val name = s"cust_attrs:$sfDir"
    def run(q: String, marker: String): Long = {
      val df = Storage.queries(q)(spark, sfDir)
      val rows = df.collect()
      assert(rows.nonEmpty, q)
      val total = graft.sources.KeyGroupedRegistry.get(name).parts.length
      val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
      assert(planned < total, s"$q did not prune ($planned of $total)")
      // one row per split here, so the index is exact: the store served
      // precisely the result rows for every granule
      val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
      assert(served == rows.length.toLong, s"$q served $served, returned ${rows.length}")
      assert(planOf(df).contains(marker), planOf(df))
      rows.length.toLong
    }
    val nKey = run("q_kv_contains_key", "ContainsKey: [attrs=BUILDING]")
    val nVal = run("q_kv_map_contains", "Contains: [attrs=7]")
    val nEntry = run("q_kv_map_entry", "MapEntry: [attrs[BUILDING]=7]")
    // the entry read is the conjunction of the key and value granules
    assert(nEntry <= math.min(nKey, nVal), s"$nEntry vs $nKey/$nVal")
  }

  test("ck IN multi-slice is pushed: only matching rows leave the store, in stored order") {
    val df = Storage.queries("q_kv_ck_in")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"orders_ck:$sfDir"
    // the IN slices are exact: the store served precisely the result rows,
    // never the gaps between the point runs
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.map(_._2.length).sum
    assert(served < total, s"IN did not slice ($served of $total)")
    val plan = planOf(df)
    assert(plan.contains("In(ck"), plan)
  }

  test("value-column aggregates GROUP BY full key are complete pushdown: one fold row per split") {
    val df = Storage.queries("q_kv_value_agg")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"orders_vagg:$sfDir"
    val splits = graft.sources.KeyGroupedRegistry.get(name).parts.length
    assert(rows.length == splits, s"${rows.length} groups vs $splits splits")
    // the source folded each split into ONE aggregate row — no data row
    // left the store (the CQL-native-aggregate replica-side shape)
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == splits.toLong, s"served $served from $splits splits")
    val plan = planOf(df)
    assert(plan.contains("SUM(cents)"), plan)
    assert(plan.contains("AVG(cents)"), plan)
    assert(plan.contains("COUNT(clen)"), plan)
    // complete pushdown: Spark plans NO aggregate on top
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("ungrouped value aggregates are partial pushdown: one partial row per split") {
    import graft.sources.{KeyGroupedRegistry, KVRing}
    val df = Storage.queries("q_kv_value_agg_partial")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 1)
    val name = s"orders_vagg:$sfDir"
    val planned = KeyGroupedRegistry.lastPlanned(name)
    val served = KeyGroupedRegistry.lastScanRows(name)
    assert(served == planned.toLong, s"served $served from $planned splits")
    // the per-key partials fold into one split per replica set
    val replicaSets = KeyGroupedRegistry.get(name).parts
      .map(kv => KVRing.replicasOf(kv._1)).distinct.length
    assert(planned == replicaSets, s"planned $planned splits for $replicaSets replica sets")
    val plan = planOf(df)
    assert(plan.contains("SUM(cents)"), plan)
    // AVG decomposed to SUM+COUNT by Spark before the partial push — the
    // pushed list must NOT contain AVG
    assert(!plan.contains("AVG("), plan)
    // partial pushdown: Spark still plans the final re-aggregation
    assert(plan.contains("HashAggregate"), plan)
  }

  test("plain pushed LIMIT plans only the splits it needs, in Spark's read order") {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.sources.KeyGroupedRegistry
    // 150 keys of 10 rows each: natural key order (0, 1, 2, ...) and the
    // registry's string order (0, 1, 10, ...) part at the third split
    val name = s"plan_limit:$sfDir"
    KeyGroupedRegistry.stage(name, graft.sources.Tables.load(spark, sfDir, "orders")
      .select(expr("o_orderkey % 150").as("pk"), col("o_orderkey").as("ck"),
        col("o_totalprice").as("price")), "pk", clusteringCol = Some("ck"))
    def src = spark.read.format("graft.sources.KVDataSource").option("table", name).load()
    def limited(df: org.apache.spark.sql.DataFrame, n: Int, off: Int = 0) = {
      val q = if (off == 0) df.limit(n) else df.limit(n).offset(off)
      assert(planOf(q).contains(s"PushedLimit: $n"), planOf(q))
      val got = q.collect().toSeq
      val planned = KeyGroupedRegistry.lastPlanned(name)
      assert(planned <= 3, s"planned $planned splits for LIMIT $n")
      assert(got == df.collect().toSeq.slice(off, n))
      got
    }
    // all columns: key-grouped, so Spark reads the splits in key order
    val all = limited(src, 21)
    assert(all.map(_.getLong(0)).distinct == Seq(0L, 1L, 2L))
    // key pruned: no grouping to report, splits read in registry order
    val pruned = limited(src.select("ck", "price"), 21)
    assert(pruned.map(_.getLong(0) % 150).distinct == Seq(0L, 1L, 10L))
    limited(src, 30, off = 9)
  }

  test("ungrouped count/sum/min/max fold per replica set and match parquet across writes") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    import graft.sources.KeyGroupedRegistry
    val name = s"plan_fold:$sfDir"
    val orders = graft.sources.Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey").as("pk"), col("o_orderkey").as("ck"),
        col("o_totalprice").as("price"))
    KeyGroupedRegistry.stage(name, orders, "pk", clusteringCol = Some("ck"))
    def aggs(df: org.apache.spark.sql.DataFrame) = df.agg(count(lit(1)), sum("ck"),
      min("ck"), max("ck"), sum("price"), min("price"), max("price"))
    // DOUBLE sums to 9 significant digits (tools/check.py's normalisation):
    // the fold adds the per-key partials in a different order
    def norm(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: Double => BigDecimal(d).round(new java.math.MathContext(9))
      case v => v
    }
    def check(expected: org.apache.spark.sql.DataFrame): Unit = {
      val kv = aggs(spark.read.format("graft.sources.KVDataSource")
        .option("table", name).load())
      assert(planOf(kv).contains(
        "PushedAggregation: [COUNT(*),SUM(ck),MIN(ck),MAX(ck),SUM(price),MIN(price),MAX(price)]"),
        planOf(kv))
      assert(norm(kv.head()) == norm(aggs(expected).head()))
    }
    check(orders)
    val fresh = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1000000L, 99999L, 12345.67)), orders.schema)
    fresh.write.format("graft.sources.KVDataSource").option("table", name)
      .mode("append").save()
    check(orders.union(fresh))
    val victim = KeyGroupedRegistry.get(name).parts.head._1
    KeyGroupedRegistry.applyDelete(name, Set(victim))
    check(orders.union(fresh).filter(col("pk") =!= victim.head))
  }

  test("GROUP BY pk + ck-prefix counts are complete pushdown: one run row, no aggregate") {
    val df = Storage.queries("q_kv_grouped_count_ck")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"orders_prio_ck:$sfDir"
    // the source served exactly one metadata row per (pk, prio) run —
    // no data row left the store
    val served = graft.sources.KeyGroupedRegistry.lastScanRows(name)
    assert(served == rows.length.toLong, s"served $served, returned ${rows.length}")
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.map(_._2.length).sum
    assert(served < total, s"grouping did not stay metadata-only ($served of $total)")
    val plan = planOf(df)
    assert(plan.contains("PushedGroupBy: [pk,prio]"), plan)
    // complete pushdown: Spark plans NO aggregate on top
    assert(!plan.contains("HashAggregate"), plan)
    // and the counts match the batch recomputation
    import org.apache.spark.sql.functions.{col => fcol}
    val expected = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter(fcol("o_custkey") <= 100)
      .groupBy(fcol("o_custkey"), fcol("o_orderpriority")).count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      assert(expected((r.getLong(0), r.getString(1))) == r.getLong(2), r)
    }
  }

  test("grouped count with a pushed ck predicate omits empty groups (no phantom zeros)") {
    import org.apache.spark.sql.functions.{col, count => fcount, lit}
    val name = Storage.stageOrdersCk(spark, sfDir)
    val ordersF = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter(col("o_custkey") <= 200)
    // threshold at ~70% of the max orderkey: some customers have no orders
    // past it, so their splits serve ZERO rows under the pushed ck range —
    // under complete pushdown those groups must be OMITTED, not emitted as
    // phantom [pk, 0] rows SQL semantics would never produce
    val thr = (ordersF.agg(org.apache.spark.sql.functions.max("o_orderkey"))
      .head.getLong(0) * 0.7).toLong
    val df = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
      .filter(col("ck") >= thr)
      .groupBy("pk").agg(fcount(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    assert(plan.contains("GreaterThanOrEqual(ck"), plan)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ordersF.filter(col("o_orderkey") >= thr)
      .groupBy(col("o_custkey").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the scenario is real: at least one key group was emptied by the range
    val allKeys = ordersF.select("o_custkey").distinct.count()
    assert(expected.size < allKeys, s"${expected.size} vs $allKeys")
    assert(!got.valuesIterator.contains(0L), got)
  }

  test("CLUSTERING ORDER BY DESC: ranges, topN and extrema stay exact") {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    Storage.queries("q_kv_clustering_desc")(spark, sfDir).collect() // stages
    val name = s"events_desc:$sfDir"
    def kv = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
    val base = graft.sources.Tables.load(spark, sfDir, "events")
      .filter(col("user_id") <= 50)
    // a ts VALUE range on the DESC-stored column still reads one exact
    // contiguous slice (the physical run just starts at the hi edge)
    val lo = "2024-01-10 00:00:00"
    val hi = "2024-01-20 00:00:00"
    val d = kv.filter(col("pk") === 7 &&
      col("ts") >= org.apache.spark.sql.functions.expr(s"TIMESTAMP'$lo'") &&
      col("ts") < org.apache.spark.sql.functions.expr(s"TIMESTAMP'$hi'"))
    val got = d.collect()
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(name) == 1)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == got.length.toLong)
    assert(got.length == base.filter(col("user_id") === 7 &&
      col("ts") >= org.apache.spark.sql.functions.expr(s"TIMESTAMP'$lo'") &&
      col("ts") < org.apache.spark.sql.functions.expr(s"TIMESTAMP'$hi'")).count())
    assert(got.nonEmpty)
    // ORDER BY ts DESC LIMIT n maps to the partition PREFIX (zero source
    // sort); ascending maps to the suffix — both pushed
    val newest = kv.orderBy(col("ts").desc).limit(5)
    assert(planOf(newest).contains("PushedTopN"), planOf(newest))
    val gotNew = newest.collect().map(_.getTimestamp(1)).toSeq
    val expNew = base.orderBy(col("ts").desc).limit(5)
      .collect().map(_.getTimestamp(1)).toSeq
    assert(gotNew == expNew)
    // MIN/MAX(ts) under DESC storage read the right edges
    val mm = kv.groupBy("pk").agg(fmin(col("ts")).as("first_seen"),
      fmax(col("ts")).as("last_seen"))
    assert(planOf(mm).contains("PushedAggregation: [MIN(ts),MAX(ts)]"), planOf(mm))
    val gotM = mm.collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    val expM = base.groupBy("user_id").agg(fmin("ts"), fmax("ts"))
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    assert(gotM == expM)
  }

  test("multi-ck prefix predicates slice the tuple-sorted partition exactly") {
    import org.apache.spark.sql.functions.col
    val df = Storage.queries("q_kv_multick")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"orders_mck:$sfDir"
    // pk equality pruned the ring to one split; the full prefix shape
    // (eq prio, range ck) pushed and served EXACTLY the matching rows
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(name) == 1)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(prio,4-NOT SPECIFIED)"), plan)
    assert(plan.contains("GreaterThanOrEqual(ck,1000)"), plan)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == rows.length.toLong)
    val base = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter(col("o_custkey") <= 100)
    assert(rows.length == base.filter(col("o_custkey") === 37 &&
      col("o_orderpriority") === "4-NOT SPECIFIED" &&
      col("o_orderkey") >= 1000).count())
    def kv = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
    // a STRING range on ck1 alone is also a valid prefix shape — pushed and
    // sliced (prio >= "3" covers the '3-MEDIUM'..'5-LOW' suffix)
    val d2 = kv.filter(col("cust") === 37 && col("prio") >= "3")
    val got2 = d2.collect()
    assert(planOf(d2).contains("GreaterThanOrEqual(prio,3)"), planOf(d2))
    assert(got2.length == base.filter(col("o_custkey") === 37 &&
      col("o_orderpriority") >= "3").count())
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == got2.length.toLong)
    // an INVALID shape (range on ck2 with ck1 unconstrained) is NOT
    // servable — since r9 the source enforces CQL's answer: REFUSED
    // without ALLOW FILTERING...
    val d3bare = kv.filter(col("cust") === 37 && col("ck") < 5000)
    val e = intercept[Throwable] { d3bare.collect() }
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(_.isInstanceOf[graft.sources.KVAllowFilteringRequired]), e.toString)
    // ...and with the opt-in, Spark's residual filter answers it correctly
    // (the ck range stays UNPUSHED — post-scan filtering, not slicing)
    val d3 = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).option("allowFiltering", "true").load()
      .filter(col("cust") === 37 && col("ck") < 5000)
    val plan3 = planOf(d3)
    assert(!plan3.contains("pushed=[") ||
      !plan3.split("pushed=\\[")(1).split("]")(0).contains("LessThan(ck,5000)"),
      plan3)
    assert(d3.count() == base.filter(col("o_custkey") === 37 &&
      col("o_orderkey") < 5000).count())
  }

  test("MV-column equality reads ONE view partition instead of the base ring") {
    val df = Storage.queries("q_kv_mv_read")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val name = s"cust_mv:$sfDir"
    // the scan planned exactly the one MV partition owning 'MACHINERY' —
    // not the base ring (one split per customer key)
    assert(graft.sources.KeyGroupedRegistry.lastPlanned(name) == 1)
    val baseSplits = graft.sources.KeyGroupedRegistry.get(name).parts.length
    assert(baseSplits > 100, s"base ring has $baseSplits splits")
    val plan = planOf(df)
    assert(plan.contains("MVRead: [c_mktsegment=MACHINERY]"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,MACHINERY)"), plan)
    // and the MV served exactly the matching rows
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == rows.length.toLong)
  }

  test("MIN/MAX(ck) pushdown serves partition edges, no row materialization") {
    import org.apache.spark.sql.functions.{col, count => fcount, lit, max => fmax, min => fmin}
    val df = Storage.queries("q_kv_minmax_pushdown")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedAggregation: [MIN(ck),MAX(ck),COUNT(*)]"), plan)
    assert(plan.contains("PushedGroupBy: [pk]"), plan)
    // complete pushdown on the full key: no partial/final re-aggregation
    assert(!plan.contains("partial_min"), plan)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // metadata-only: the scan served exactly one row per planned split
    val name = s"orders_ck:$sfDir"
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == planned.toLong)
    val expected = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter(col("o_custkey") <= 200)
      .groupBy("o_custkey")
      .agg(fmin("o_orderkey"), fmax("o_orderkey"), fcount(lit(1)))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    // with a pushed ck range, the extrema come from the EDGES of the sliced
    // rows — still one metadata row per surviving split
    val thr = expected.valuesIterator.map(_._2).max * 7 / 10
    val sliced = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
      .filter(col("ck") >= thr)
      .groupBy("pk").agg(fmin(col("ck")).as("lo"), fmax(col("ck")).as("hi"))
    val gotS = sliced.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expS = graft.sources.Tables.load(spark, sfDir, "orders")
      .filter(col("o_custkey") <= 200 && col("o_orderkey") >= thr)
      .groupBy("o_custkey")
      .agg(fmin("o_orderkey"), fmax("o_orderkey"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotS == expS)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) ==
      graft.sources.KeyGroupedRegistry.lastPlanned(name).toLong)
    // the canonical time-series shape: MIN/MAX of a TIMESTAMP ck ride the
    // stored epoch-micros encoding and come back as timestamps
    Storage.queries("q_kv_timeseries")(spark, sfDir).collect() // stages events_ts
    val ts = spark.read.format("graft.sources.KVDataSource")
      .option("table", s"events_ts:$sfDir").load()
      .groupBy("pk").agg(fmin(col("ts")).as("first_seen"), fmax(col("ts")).as("last_seen"))
    assert(planOf(ts).contains("PushedAggregation: [MIN(ts),MAX(ts)]"), planOf(ts))
    val gotT = ts.collect()
      .map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    val expT = graft.sources.Tables.load(spark, sfDir, "events")
      .filter(col("user_id") <= 50)
      .groupBy("user_id").agg(fmin("ts"), fmax("ts"))
      .collect().map(r => r.getLong(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
    assert(gotT == expT)
  }

  test("grouped count by the full key tuple is answered from registry metadata") {
    val df = Storage.queries("q_kv_grouped_count")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    assert(plan.contains("PushedGroupBy: [c_nationkey,c_mktsegment]"), plan)
    // complete pushdown: no partial/final count re-aggregation in the plan
    assert(!plan.contains("partial_count"), plan)
    // no data row was materialized: the scan served one metadata row per split
    val name = s"cust_comp:$sfDir"
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == planned.toLong)
    // and the counts agree with the parquet-side group-by
    val expected = graft.sources.Tables.load(spark, sfDir, "customer")
      .groupBy("c_nationkey", "c_mktsegment").count()
      .collect().map(r => (r.getInt(0).toLong, r.getString(1)) -> r.getLong(2)).toMap
    val got = df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
  }

  test("subset-of-key grouped count pushes partial per-split counts Spark sums") {
    import org.apache.spark.sql.functions.{col, count => fcount, lit}
    val name = Storage.stageKvComposite(spark, sfDir)
    // grouping by ONE of the two key columns: each split still answers from
    // metadata (one [group, count] row), but groups span splits, so the
    // pushdown is partial — Spark's final aggregate sums the partials
    val df = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
      .groupBy("c_nationkey").agg(fcount(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("PushedAggregation: [COUNT(*)]"), plan)
    assert(plan.contains("PushedGroupBy: [c_nationkey]"), plan)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = graft.sources.Tables.load(spark, sfDir, "customer")
      .groupBy(col("c_nationkey").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // still metadata-only: the scan served one row per split, no data rows
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) == planned.toLong)
  }

  test("secondary index prunes non-key equality to the owning splits (2i analog)") {
    val df = Storage.queries("q_kv_secondary_index")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1) == "BUILDING"))
    val name = s"cust_sidx:$sfDir"
    val total = graft.sources.KeyGroupedRegistry.get(name).parts.length
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(name)
    // the inverted projection planned only the splits owning BUILDING rows —
    // strictly fewer than the ring — and exactly as many as matched
    assert(planned < total, s"index did not prune: $planned of $total splits")
    assert(planned == rows.length,
      s"planned $planned splits for ${rows.length} matching single-row partitions")
    assert(planOf(df).contains("EqualTo(c_mktsegment,BUILDING)"), planOf(df))
  }

  test("runtime filtering prunes KV splits from a join's discovered keys (dynamic directJoin)") {
    // SupportsRuntimeFiltering: the dim side's keys are only known at
    // execution (a filter on a non-key column), so no static rule can help —
    // Spark evaluates the broadcast, calls KVScan.filter(In(key, ...)), and
    // re-plans input partitions. Only the splits owning the 3 surviving
    // nation keys may be read: point reads routed by a runtime-discovered
    // key set, the dynamic form of the connector's directJoin.
    val (_, cName) = Storage.stageKv(spark, sfDir)
    val fact = spark.read.format("graft.sources.KVDataSource")
      .option("table", cName).load()
    val dim = graft.sources.Tables.load(spark, sfDir, "nation")
      .select(org.apache.spark.sql.functions.col("n_nationkey").cast("long").as("k"),
        org.apache.spark.sql.functions.col("n_name"))
      .filter(org.apache.spark.sql.functions.col("n_name")
        .isin("NATION_3", "NATION_7", "NATION_11"))
    val joined = fact.join(dim, fact("c_nationkey") === dim("k"))
    assert(joined.collect().nonEmpty)
    val planned = graft.sources.KeyGroupedRegistry.lastPlanned(cName)
    assert(planned <= 3, s"expected <=3 splits planned after runtime filter, got $planned")
  }

  test("KV splits report token-aware preferred locations to the scheduler") {
    // SURVEY §2.1 P1 (reference README.md:135): the source declares which
    // node owns each key; Spark's literal mechanism for acting on that is
    // InputPartition.preferredLocations -> DataSourceRDD.getPreferredLocations
    // -> DAGScheduler task placement. Assert the declared replica sets
    // actually reach the RDD the scheduler sees.
    val (_, cName) = Storage.stageKv(spark, sfDir)
    val df = spark.read.format("graft.sources.KVDataSource")
      .option("table", cName).load()
    // The DAGScheduler resolves locality by walking the narrow-dep chain to
    // the leaf RDD and calling its preferredLocations — do the same walk and
    // assert on the leaf (DataSourceRDD), proving the declared locations
    // reach task placement, not merely that the partition object carries
    // them. (sc.getPreferredLocs, the scheduler's entry point, is
    // private[spark].)
    def leaf(r: org.apache.spark.rdd.RDD[_]): org.apache.spark.rdd.RDD[_] =
      if (r.dependencies.isEmpty) r else leaf(r.dependencies.head.rdd)
    val scan = leaf(df.queryExecution.toRdd)
    assert(scan.getClass.getSimpleName.contains("DataSourceRDD"), scan.getClass)
    assert(scan.partitions.nonEmpty)
    scan.partitions.foreach { p =>
      val locs = scan.preferredLocations(p)
      assert(locs.size == graft.sources.KVRing.ReplicationFactor, locs)
      assert(locs.forall(graft.sources.KVRing.hosts.contains), locs)
    }
    // the assignment is the declared ring function of the key, not arbitrary:
    // a point read of key 3 must land on exactly replicasOf(3)
    val one = spark.read.format("graft.sources.KVDataSource")
      .option("table", cName).load()
      .filter(org.apache.spark.sql.functions.col("c_nationkey") === 3)
    val oneScan = leaf(one.queryExecution.toRdd)
    assert(oneScan.partitions.length == 1)
    assert(oneScan.preferredLocations(oneScan.partitions(0)) ==
      graft.sources.KVRing.replicasOf(3L))
  }

  test("DirectJoinRule turns a literal-key join into a pushed IN point read") {
    val df = Relational.queries("q_direct_join")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("In(c_custkey, [7,42,101])")
      || plan.contains("In(c_custkey, [101,42,7]"), plan)
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(Array(7L, 42L, 101L)))
  }

  test("semi directJoin: pushed IN point read with NO join in the physical plan") {
    val df = Relational.queries("q_direct_semi_join")(spark, sfDir)
    val plan = planOf(df)
    // the IN reaches the parquet scan...
    assert(plan.contains("In(c_custkey, [7,42,101])")
      || plan.contains("In(c_custkey, [101,42,7]"), plan)
    // ...and the semi join is gone entirely — scan+filter+sort only
    assert(!plan.contains("Join"), plan)
    assert(df.collect().map(_.getLong(0)).sorted.sameElements(Array(7L, 42L, 101L)))
  }

  test("small-dim join broadcasts (directJoin analog)") {
    val df = Relational.queries("q_join_nation_region")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("partitioned layout prunes to one year directory") {
    val df = Storage.queries("q_partition_pruned")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).mkString
    assert(pf.contains("o_year"), plan)
    assert(pf.contains("1997"), plan)
  }

  test("dynamic partition pruning fires on a dim-filtered join") {
    // q_partition_pruned created graft_orders_byyear (partitioned by o_year)
    Storage.queries("q_partition_pruned")(spark, sfDir).collect()
    val dimPath = s"${sys.props("java.io.tmpdir")}/graft-dpp-dim"
    spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1995, "skip"), org.apache.spark.sql.Row(1996, "skip"),
          org.apache.spark.sql.Row(1997, "pick"), org.apache.spark.sql.Row(1998, "skip")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(org.apache.spark.sql.functions.col("tag") === "pick")
    val fact = spark.table("graft_orders_byyear")
    val joined = fact.join(dim, fact("o_year") === dim("y"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Relational.queries("q_topk_orders")(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("cosine top-k broadcasts the constant query side") {
    // the |Q|=10 side must be the broadcast side of the nested-loop join —
    // a CartesianProduct here would re-partition the full corpus at scale
    import graft.operators.Similarity
    val df = Similarity.queries("q_cosine_topk")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("range join against a constant dim is a broadcast nested loop") {
    val df = Relational.queries("q_range_join")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB row-level pruning tier beneath DPP: a bloom filter built
    // from the selective (dim) side is pushed into the fact-side scan
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // rule targets shuffle joins
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val olds = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = Tables.load(spark, sfDir, "lineitem")
      val o = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan.take(2500))
      assert(plan.contains("bloom_filter_agg"), plan.take(2500))
    } finally olds.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("ANALYZE TABLE feeds catalog row counts into the optimized plan (CBO)") {
    // stats-driven planning is how join orders stay sane at 100 TB; this
    // proves the catalog-stats → plan-statistics pipeline is wired
    Storage.queries("q_bucketed_join")(spark, sfDir).collect() // creates tables
    spark.sql("ANALYZE TABLE graft_customer_b COMPUTE STATISTICS")
    val old = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft_customer_b").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.isDefined, stats.toString)
      assert(stats.rowCount.get.toLong > 0)
    } finally spark.conf.set("spark.sql.cbo.enabled", old)
  }

  test("observe() attaches verified row-level metrics to a batch query") {
    // pipeline observability without a second pass: metrics accumulate
    // inline during the normal action — at 100 TB a separate count() costs
    // a full extra scan
    import org.apache.spark.sql.functions.{count => fcount, lit}
    val expected = graft.sources.Tables.load(spark, sfDir, "orders").count()
    val obs = new org.apache.spark.sql.Observation("graft_obs")
    graft.sources.Tables.load(spark, sfDir, "orders")
      .observe(obs, fcount(lit(1)).as("rows"))
      .collect()
    assert(obs.get("rows").asInstanceOf[Long] == expected)
  }

  test("flagship aggregation is partial+final (map-side combine)") {
    val plan = planOf(Relational.queries("q1_pricing_summary")(spark, sfDir))
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("partial_sum") || plan.contains("Functions [partial"), plan)
  }

  test("contamination and mixture probes broadcast the small side") {
    // q_contamination: the benchmark shingle set joins broadcast — the
    // corpus-side probe must not shuffle for it. q_data_mixture: the 3-row
    // rates table joins broadcast — the corpus filter stays map-only.
    // Either degrading to SortMergeJoin would add a full-corpus shuffle.
    val contam = planOf(Pipeline.queries("q_contamination")(spark, sfDir))
    assert(contam.contains("BroadcastHashJoin"), contam)
    val mix = planOf(Pipeline.queries("q_data_mixture")(spark, sfDir))
    assert(mix.contains("BroadcastHashJoin"), mix)
    assert(!mix.contains("SortMergeJoin"), mix)
  }

  test("retrieval probes broadcast the query side, never shuffle the corpus for it") {
    // q_prefix_search: the prefix-pruned term dictionary must broadcast
    // into the postings join — a SortMergeJoin would shuffle the full
    // postings by term. q_phrase_search: both adjacency sides are the two
    // phrase terms' postings; the join may shuffle those (they are the
    // data), but the plan must stay an equi-join — a nested-loop or
    // cartesian here would blow up doc-to-doc.
    val pre = planOf(Pipeline.queries("q_prefix_search")(spark, sfDir))
    assert(pre.contains("BroadcastHashJoin"), pre)
    // q_fuzzy_search: the levenshtein-verified candidate terms must
    // broadcast into the postings probe exactly like the prefix terms —
    // and the distance function must never appear on the corpus side
    // (it runs only on the deletion-index survivors)
    val fz = planOf(Pipeline.queries("q_fuzzy_search")(spark, sfDir))
    assert(fz.contains("BroadcastHashJoin"), fz)
    assert(!fz.contains("CartesianProduct") &&
      !fz.contains("BroadcastNestedLoopJoin"), fz)
    val ph = planOf(Pipeline.queries("q_phrase_search")(spark, sfDir))
    assert(!ph.contains("CartesianProduct") &&
      !ph.contains("BroadcastNestedLoopJoin"), ph)
    // q_proximity_search: the doc_id equi-join with the |Δpos|<=4 RESIDUAL
    // is the join most likely to regress into a nested-loop if the
    // condition is refactored (drop the equi-key and the residual alone
    // forces BNLJ over the full postings cross product)
    val prox = planOf(Pipeline.queries("q_proximity_search")(spark, sfDir))
    assert(!prox.contains("CartesianProduct") &&
      !prox.contains("BroadcastNestedLoopJoin"), prox)
  }

  test("q_vocab_build windows only over the top-k, never the full type table") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Window => LWindow}
    val df = Pipeline.queries("q_vocab_build")(spark, sfDir)
    // every Window in the plan must sit above a limit — the corpus-sized
    // type table may only reach the window after TakeOrderedAndProject
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.collectFirst { case g: GlobalLimit => g }.nonEmpty,
        s"unbounded Window over the raw type table:\n$w")
    }
    // and the top-k itself is per-partition heaps, not a global sort
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("blocklist filter is a broadcast left-anti join, map-only over the corpus") {
    val plan = planOf(Pipeline.queries("q_blocklist_filter")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("lang rebalance broadcasts the rates; the corpus never shuffles for the join") {
    val plan = planOf(Pipeline.queries("q_lang_rebalance")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("unigram LM and source KL cap the vocab via TakeOrderedAndProject and broadcast it") {
    // Both train-side vocabularies must be per-partition top-k heaps (never
    // a global sort of the corpus type table) and must reach the scoring
    // join as broadcasts — the corpus side stays shuffle-free for them.
    Seq("q_unigram_lm", "q_source_kl").foreach { q =>
      val plan = planOf(Pipeline.queries(q)(spark, sfDir))
      assert(plan.contains("TakeOrderedAndProject"), s"$q\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("round-12 analytics: tiny model sides broadcast, no corpus cartesian") {
    // transition totals, IQR fences and chi-square margins are all
    // ≤|types|-row tables and must meet the corpus as broadcasts — a
    // SortMergeJoin there would shuffle the big side by a tiny key
    Seq("q_markov_transitions" -> Relational.queries("q_markov_transitions"),
        "q_outlier_iqr" -> Relational.queries("q_outlier_iqr")).foreach {
      case (q, f) =>
        val plan = planOf(f(spark, sfDir))
        assert(plan.contains("BroadcastHashJoin"), s"$q\n$plan")
        assert(!plan.contains("SortMergeJoin"), s"$q\n$plan")
        assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
    // the a-priori basket self-join MAY legitimately sort-merge at scale,
    // and the 1-row total meets the rules as a by-design broadcast nested
    // loop; a cartesian product is never acceptable
    val ar = planOf(Relational.queries("q_association_rules")(spark, sfDir))
    assert(!ar.contains("CartesianProduct"), ar)
    // the exact multi-distinct profiler plans an Expand BY DESIGN (the
    // documented 6x blow-up); its absence means the profile went approx
    val prof = planOf(Relational.queries("q_column_profile")(spark, sfDir))
    assert(prof.contains("Expand"), prof)
  }

  test("interval join: the bucket equi-key defeats the range-join BNLJ trap") {
    // without the manufactured bucket key, `ts BETWEEN start AND end` has
    // no equi-condition and Spark plans a BroadcastNestedLoopJoin over
    // every (event, window) pair — the plan must instead be a
    // BroadcastHashJoin on the bucket with the containment as residual
    val plan = planOf(Relational.queries("q_interval_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("entity match: blocked candidate join is an equi-join, never all-pairs") {
    // the dirty×clean candidate generation must hash-join on the blocking
    // key (nationkey, mktsegment) — a BNLJ/cartesian here is the quadratic
    // ER trap the blocking stage exists to prevent
    val plan = planOf(Pipeline.queries("q_entity_match")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stratified sample: WindowGroupLimit bounds per-stratum work before the shuffle") {
    // top-k-per-group, not a per-stratum full sort: the partial group
    // limit must appear so a skewed stratum never concentrates into one
    // reducer's sort at scale
    val plan = planOf(Pipeline.queries("q_stratified_topk")(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("importance resample: the 64-row delta table broadcasts; no corpus join shuffle") {
    // the per-doc bucket counts must meet the Δ table as a broadcast — a
    // SortMergeJoin would shuffle the corpus-sized (doc, bucket) stream by
    // bucket; nothing here may go nested-loop/cartesian. Pinned on the
    // LAZY pipeline: the public query materializes eagerly inside its
    // cache scope (r14), which collapses the visible plan to the
    // checkpoint scan.
    val plan = planOf(Pipeline.importanceResamplePlan(
      Pipeline.resampleGrams(spark, sfDir)))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("IVF-PQ: coarse/codebook/LUT all broadcast; corpus never shuffles for a join") {
    // the corpus-side streams (assignment, encode, ADC probe) must each
    // meet their tiny model tables as broadcasts — a SortMergeJoin
    // anywhere would shuffle the full vector table by model key; the
    // constant-|Q| exact-recall pass is a BroadcastNestedLoopJoin by
    // design, but a CartesianProduct is never acceptable
    val plan = planOf(graft.operators.Similarity.queries("q_ivf_pq")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("heavy hitters: the 2048-counter grid broadcasts into the probe join") {
    val plan = planOf(Pipeline.queries("q_heavy_hitters")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("trigram search: no cartesian/BNLJ; verify only touches candidates via semi join") {
    val plan = planOf(Pipeline.queries("q_trigram_search")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("regex search: no cartesian/BNLJ; rlike verify only touches candidates") {
    val plan = planOf(Pipeline.queries("q_regex_search")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("boilerplate strip: the template set broadcasts into the strip join") {
    // The df>=2 template table must reach the segment stream as a
    // broadcast — a SortMergeJoin would shuffle the full exploded corpus
    // by (source, line) just to make the strip decision.
    val plan = planOf(Pipeline.queries("q_boilerplate_strip")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bigram LM: model tables broadcast into the scoring join, vocab folds as literals") {
    // The vocab reaches the encode as CASE literals (a collect job, not
    // part of this plan); the ≤17²-row model must BROADCAST into the
    // per-(doc, bigram) scoring join — a SortMergeJoin would shuffle the
    // corpus-sized bigram table by model key, and any CartesianProduct
    // means the tiny aggregates stopped broadcasting.
    Seq("q_bigram_lm", "q_kneser_ney").foreach { q =>
      val plan = planOf(Pipeline.queries(q)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin"), s"$q\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("quality classifier is map-only: no shuffle before the output sort") {
    val df = Pipeline.queries("q_quality_classifier")(spark, sfDir)
    val plan = planOf(df)
    // exactly one Exchange: the range partition of the final ORDER BY
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges == 1, plan)
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"), plan)
  }

  test("TPC-H-shaped self-join queries plan no cartesian product") {
    // q2's correlated MIN, q21's semi+anti self-joins and q22's scalar
    // subqueries must all decorrelate to equi-joins / broadcast 1-row plans.
    Seq("q2_min_cost_supplier", "q21_waiting_supplier", "q22_dormant_customers",
      "q17_small_qty_revenue").foreach { q =>
      val plan = planOf(Relational.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
    // q15's scalar-subquery max must plan as a 1-row broadcast/subquery,
    // never a cartesian against the revenue CTE
    val p15 = planOf(graft.operators.Tpch.queries("q15_top_supplier")(spark, sfDir))
    assert(!p15.contains("CartesianProduct"), p15)
  }

  test("cursor page fetch pushes the strict ck bound AND the TopN") {
    // one page of the driver cursor: `pk = ? AND ck > <cursor> LIMIT n`
    // must reach the source as a pushed GreaterThan + PushedTopN — the
    // binary-searched suffix serving ≤ n rows, zero residual filtering
    import org.apache.spark.sql.functions.col
    val name = Storage.stageOrdersCk(spark, sfDir)
    val page = spark.read.format("graft.sources.KVDataSource")
      .option("table", name).load()
      .filter(col("pk") === 37 && col("ck") > 1000)
      .orderBy("ck").limit(5)
    val plan = planOf(page)
    assert(plan.contains("GreaterThan(ck,1000)"), plan)
    assert(plan.contains("PushedTopN: [ck ASC LIMIT 5]"), plan)
    val rows = page.collect()
    assert(rows.forall(_.getLong(1) > 1000))
    // the source served at most the page, not the partition
    assert(graft.sources.KeyGroupedRegistry.lastScanRows(name) <= 5L)
  }

  test("image near-dup candidates come from the banded equi-join, no cartesian") {
    // the sub-quadratic contract of every near-dup family member: bucket
    // join on (band, code), never an all-pairs product — at 100 TB this is
    // the difference between a shuffle-bounded join and corpus²
    val df = graft.operators.Pipeline.queries("q_image_neardup")(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("graft_ahash60"), plan) // the native expression, not a HOF chain
  }

  test("q13 keeps the priority filter inside the outer join, not on the orders scan") {
    // pre-filtering orders before a LEFT join would be the wrong plan only
    // semantically if it dropped customers — here the filter must appear as
    // the join condition; customers with zero surviving orders still flow.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = Relational.queries("q13_cust_distribution")(spark, sfDir)
    val outer = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType.sql.contains("LEFT") => j
    }
    assert(outer.nonEmpty, df.queryExecution.optimizedPlan.toString)
    // and the distribution still counts every customer exactly once
    val total = df.agg(org.apache.spark.sql.functions.sum("custdist")).collect()(0).getLong(0)
    val nCust = graft.sources.Tables.load(spark, sfDir, "customer").count()
    assert(total == nCust, s"distribution covers $total of $nCust customers")
  }

  test("zorderLayout range-partitions on the Morton code with disjoint z-ranges") {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin, spark_partition_id}
    val laid = Storage.zorderWithKey(
      graft.sources.Tables.load(spark, sfDir, "orders"), "o_custkey",
      "datediff(o_orderdate, date'1992-01-01')", 8)
    // the public API returns the caller's schema — no layout helper columns
    assert(Storage.zorderLayout(
      graft.sources.Tables.load(spark, sfDir, "orders"), "o_custkey",
      "datediff(o_orderdate, date'1992-01-01')", 8).columns.toSet ==
      graft.sources.Tables.load(spark, sfDir, "orders").columns.toSet)
    // physical layout: a range Exchange on zval, not hash/round-robin
    val plan = planOf(laid)
    assert(plan.contains("rangepartitioning(__graft_zval"), plan)
    // per-partition z-ranges are disjoint — the property that lets file-level
    // min/max stats prune on EITHER original dimension
    val ranges = laid
      .groupBy(spark_partition_id().as("pid"))
      .agg(fmin(col("__graft_zval")).as("lo"), fmax(col("__graft_zval")).as("hi"))
      .collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
    assert(ranges.length > 1, ranges.mkString(","))
  }

  test("z-ordered layout skips row groups on both dimensions at read time") {
    import org.apache.spark.sql.functions.{col, expr}
    // the read-side payoff of q_zorder_layout: the same box predicate over
    // (zx, zy) must decode far fewer rows from the clustered layout than
    // from a round-robin layout, because every clustered file's min/max
    // stats bound BOTH dimensions (disjoint z-ranges) and parquet row-group
    // pruning skips the files whose box doesn't intersect
    val base = graft.sources.Tables.load(spark, sfDir, "orders")
      .withColumn("zx", expr("cast(o_custkey % 65536 as bigint)"))
      .withColumn("zy",
        expr("cast(datediff(o_orderdate, date'1995-01-01') % 65536 as bigint)"))
      .select("o_orderkey", "zx", "zy")
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_read").toString
    Storage.zorderLayout(base, "zx", "zy", 8)
      .write.mode("overwrite").parquet(s"$tmp/clustered")
    base.repartition(8).write.mode("overwrite").parquet(s"$tmp/shuffled")
    def decodedRows(path: String): (Long, Long) = {
      val df = spark.read.parquet(path).filter(col("zx") < 200 && col("zy") < 200)
      val matched = df.count()
      df.collect()
      val finalPlan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scanned = finalPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
      (matched, scanned)
    }
    val (mc, clustered) = decodedRows(s"$tmp/clustered")
    assert(mc > 0, "box predicate matched no rows — vacuous test")
    val (ms, shuffled) = decodedRows(s"$tmp/shuffled")
    assert(mc == ms) // same answer from both layouts
    // round-robin spreads the corner box over every file → nothing skips;
    // the z-order must skip at least half the row groups (it skips ~7/8)
    assert(clustered * 2 <= shuffled,
      s"clustered decoded $clustered rows vs shuffled $shuffled — no skipping")
    info(s"row-group skipping: clustered decoded $clustered of $shuffled rows " +
      f"(${100.0 * (shuffled - clustered) / shuffled}%.1f%% skipped)")
  }

  test("Q6 pushes all three predicates to the parquet scan") {
    val plan = planOf(Tpch.queries("q6_forecast_revenue")(spark, sfDir))
    // shipdate range, discount band, and quantity cap all reach the scan —
    // at 100 TB these are the row-group min/max skips that make Q6 IO-bound
    // on a fraction of the table instead of the whole year
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_discount,"), plan)
    assert(plan.contains("LessThan(l_quantity,"), plan)
  }

  test("Q10 top-20 is TakeOrderedAndProject, not a global sort") {
    val df = Tpch.queries("q10_returned_items")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("GlobalLimit"), plan)
  }

  test("Q20 window partitions on l_partkey — no unpartitioned WindowExec") {
    val df = Tpch.queries("q20_excess_suppliers")(spark, sfDir)
    df.collect()
    val plan = planOf(df)
    val winLines = plan.linesIterator.filter(_.contains("partitionBy")).toSeq
    // the per-part total must be a PARTITION BY l_partkey window, never a
    // global one (the q_vocab_build lesson from r5)
    assert(winLines.forall(_.contains("l_partkey")) ||
      plan.contains("windowspecdefinition(l_partkey"), plan)
    assert(!plan.contains("windowspecdefinition()"), plan)
  }

  test("compaction reduces file count and yields disjoint user_id ranges") {
    Storage.queries("q_compact_small_files")(spark, sfDir).collect()
    val base = s"${sys.props("java.io.tmpdir")}/graft-compact/" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    def parquets(p: String) =
      new java.io.File(p).listFiles.filter(_.getName.endsWith(".parquet"))
    val (small, compact) = (parquets(s"$base/small"), parquets(s"$base/compact"))
    assert(small.length >= 32, s"expected a fragmented landing zone, got ${small.length}")
    assert(compact.length <= 4, s"compaction left ${compact.length} files")
    // range partitioning → file-level min/max on user_id must not overlap,
    // so a per-user read opens exactly one file
    val ranges = compact.map { f =>
      val df = spark.read.parquet(f.getAbsolutePath)
      val r = df.agg(org.apache.spark.sql.functions.min("user_id"),
        org.apache.spark.sql.functions.max("user_id")).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
  }

  test("recursive CTE: spine recursion is a UnionLoop, data side one aggregate") {
    val df = Relational.queries("q_recursive_cte")(spark, sfDir)
    val plan = planOf(df)
    // the recursion executes as Catalyst's UnionLoop operator…
    assert(plan.contains("UnionLoop"), plan)
    // …and its depth is the CALENDAR span, not the data volume: exactly one
    // spine row per month between the first and last order month, no gaps
    val months = graft.sources.Tables.load(spark, sfDir, "orders")
      .selectExpr("cast(months_between(date_trunc('MONTH', max(o_orderdate)), " +
        "date_trunc('MONTH', min(o_orderdate))) as int) + 1 AS n").head.getInt(0)
    val rows = df.collect()
    assert(rows.length == months, s"spine ${rows.length} != months $months")
    // zero-order gap months surface as explicit zeros, and the spine's
    // order totals reconcile with the raw table
    val total = rows.map(_.getLong(1)).sum
    val expected = graft.sources.Tables.load(spark, sfDir, "orders").count()
    assert(total == expected, s"spine total $total != orders $expected")
  }

  test("PQ encode argmin is a min_by aggregate, not a per-(vec,m) window sort") {
    // static plan (no collect): AQE's final-plan explain elides the
    // per-operator detail sections where aggregate functions are listed
    val plan = planOf(graft.operators.Similarity.queries("q_pq_adc")(spark, sfDir))
    // encode must partial-aggregate map-side (min_by), leaving exactly the
    // two top-k Windows (ADC ranking + exact-recall reference); a third
    // Window would mean the per-(vec,m) argmin regressed to a sorted window
    assert(plan.contains("min_by"), plan)
    // exact node name: "(N) Window" — WindowGroupLimit is top-k pre-pruning
    // (desirable), not a sorted window pass
    val windows = plan.linesIterator.count(_.matches("""\(\d+\) Window"""))
    assert(windows <= 2, s"$windows Window nodes:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("UNPIVOT is a map-only Expand over the aggregate — no extra shuffle") {
    val plan = planOf(Relational.queries("q_unpivot")(spark, sfDir))
    assert(plan.contains("Expand"), plan)
    // exactly two Exchanges: the groupBy's and the final global sort's —
    // the reshape itself must add none
    val exchanges = plan.linesIterator.count(_.matches("""\(\d+\) Exchange"""))
    assert(exchanges <= 2, s"$exchanges Exchanges:\n$plan")
  }

  test("SQL UDF is inlined by the analyzer: no UDF node, stays in codegen") {
    val plan = planOf(Relational.queries("q_sql_udf")(spark, sfDir))
    // the function must dissolve into its decimal arithmetic — an opaque
    // UDF node would break codegen and the optimizer's visibility
    assert(!plan.contains("ScalaUDF"), plan)
    assert(!plan.contains("graft_disc_price"), plan)
    // the body's decimal arithmetic lands INSIDE the partial aggregate —
    // map-side combined like the hand-written q1 idiom
    assert(plan.contains("partial_sum((cast("), plan)
  }

  test("percolator query index broadcasts into the postings probe") {
    val plan = planOf(graft.operators.Pipeline.queries("q_percolate")(spark, sfDir))
    // the (term -> qid) inverted-query index is the broadcast side; the
    // corpus-sized postings table must never shuffle for the match join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("flagship scan-filter-aggregate runs inside whole-stage codegen") {
    val df = Relational.queries("q1_pricing_summary")(spark, sfDir)
    df.collect() // finalize the adaptive plan — codegen spans only show executed
    val plan = planOf(df)
    // formatted explain marks fused operators with "[codegen id : N]"; the
    // scan->filter->project->partial-agg pipeline must be one fused span
    assert(plan.contains("[codegen id :"), plan)
    assert(plan.linesIterator.exists(l => l.contains("(3) Filter") || l.contains("Filter [codegen id")), plan)
  }

  test("wasserstein drift prunes the events scan to (event_type, value) and partitions its window") {
    val plan = planOf(Relational.queries("q_wasserstein_drift")(spark, sfDir))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("event_type") && reads.contains("value"), reads)
    Seq("props", "user_id", "event_id").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
    // the CDF window is keyed per event_type — a global (unpartitioned)
    // window over the support grid would serialize the 100 TB plan
    val windows = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windows.contains("windowspecdefinition(v#"),
      s"window must be partitioned by event_type: $windows")
  }

  test("quantile regression broadcasts every per-round parameter join — no SortMergeJoin") {
    // the public query eagerly checkpoints (persist-scope hygiene), which
    // collapses its visible plan — pin the LAZY pipeline via the factored
    // helper instead (the q_importance_resample discipline)
    val df = Relational.quantileRegressionPlan(
      Relational.quantileRegressionInput(spark, sfDir))
    val plan = planOf(df)
    // 9 parameter tables (OLS warm start + 8 IRLS rounds) each join the
    // fact side; all must broadcast — a sort-merge join would shuffle the
    // full corpus once per round at scale
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "IRLS parameter join fell back to sort-merge:\n" +
        plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    Seq("l_shipdate", "l_partkey", "l_comment", "l_discount").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c"))
  }

  test("hard-negative mining broadcasts the anchor panel — no CartesianProduct") {
    val plan = planOf(
      graft.operators.Similarity.queries("q_hard_negatives")(spark, sfDir))
    // constant-size anchor side must stream the corpus through a
    // BroadcastNLJ — a CartesianProduct would shuffle both sides
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("permutation test prunes the events scan and broadcasts the 201 flips") {
    val plan = planOf(
      Relational.queries("q_permutation_test")(spark, sfDir))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(reads.contains("user_id") && reads.contains("value"), reads)
    Seq("props", "event_id").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
    // the flip table and the scalar T0/n_users frames broadcast; the
    // corpus is never shuffled after its one hash agg
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("adamic-adar pushes the March window to the lineitem scan and prunes columns") {
    val plan = planOf(Relational.queries("q_adamic_adar")(spark, sfDir))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("l_shipdate"), s"ship-date filter not pushed: $pushed")
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    Seq("l_extendedprice", "l_quantity", "l_orderkey").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
  }

  test("perplexity filter prunes documents to (doc_id, text); the LM joins, never cartesians") {
    val plan = planOf(graft.operators.Pipeline.queries("q_perplexity_filter")(spark, sfDir))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // the 5-column documents scan reads only what the LM needs
    Seq("lang", "source", "n_chars").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the 1-row totals frame rides a broadcast, not a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
  }

  test("exact-substring dedup prunes documents to (doc_id, text); owner join shuffles on the hash, never cartesians") {
    val plan = planOf(
      graft.operators.Pipeline.queries("q_exact_substring_dedup")(spark, sfDir))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    // the window builder needs only (doc_id, text)
    Seq("lang", "source", "n_chars").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // window→owner is an EQUI-join on the span hash — the strategy is
    // stats-driven (at this SF the filtered owner table is tiny, so
    // Catalyst rightly broadcasts it; at corpus scale the same plan
    // falls back to the same-key shuffle join, which is the point of
    // keying both sides on wh). What must never appear is a non-equi
    // join shape.
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("ppjoin: one per-doc rollup serves prefixes and verification — no window, no explode-join") {
    val plan = planOf(Pipeline.ppjoinVerified(Pipeline.ppjoinTok(spark, sfDir)))
    // verification is a linear per-pair array_intersect over the byDoc
    // arrays, not the r13 explode-join row explosion
    assert(plan.contains("array_intersect"), plan.take(2000))
    // prefixes slice the rarest-first sorted per-doc array — the r13
    // per-doc row_number window (a second corpus-wide shuffle + sort) is gone
    assert(!plan.contains("Window"),
      "ppjoin reintroduced a window pass:\n" +
        plan.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("hits half-step broadcasts the score side of both joins — never a sort-merge pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val nodes = Seq("a", "b", "c").toDF("w").localCheckpoint(true)
    val e0 = Seq(("a", "b"), ("b", "c")).toDF("w1", "w2").localCheckpoint(true)
    val h = nodes.withColumn("v", lit(Pipeline.HitsScale))
    val plan = planOf(Pipeline.hitsHalfStep(nodes, e0, h, "w1", "w2"))
    // checkpointed frames are statistics-free: without the explicit
    // broadcasts the planner picks a 32-partition SortMergeJoin pair per
    // half-step (the r18 regression this pins against)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
  }

  test("graph-ANN beam round: edge and vector tables never shuffle — broadcast joins only") {
    import spark.implicits._
    val vb = Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0))
      .toDF("dst", "v", "nrm").localCheckpoint(true)
    val edges = Seq((1L, 2L)).toDF("src", "dst").localCheckpoint(true)
    val qs = Seq((0L, Seq(1.0, 1.0), 1.4142135623730951))
      .toDF("q_id", "qv", "qn").localCheckpoint(true)
    val frontier = Seq((0L, 1L, 0.5)).toDF("q_id", "node", "cos")
      .localCheckpoint(true)
    val plan = planOf(graft.operators.Similarity
      .graphAnnRound(vb, edges, qs, frontier, 16))
    // the ≤|Q|·B frontier broadcasts on BOTH joins: the corpus-sized edge
    // and vector tables must never ride an exchange inside the beam loop
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dsir: the <=1024-row feature table broadcasts back to the corpus pass") {
    val plan = planOf(graft.operators.Pipeline.queries("q_dsir_weights")(spark, sfDir))
    val reads = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    Seq("source", "n_chars").foreach(c =>
      assert(!reads.contains(c), s"unpruned column $c in: $reads"))
    // log-ratio lookup is a broadcast hash join on the bucket id — the
    // corpus is never shuffled for the scoring pass
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
