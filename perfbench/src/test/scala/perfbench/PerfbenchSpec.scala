package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.sources.KeyGroupedRegistry

/** Checks of the benchmark itself: `cd perfbench && sbt test`. */
class PerfbenchSpec extends AnyFunSuite {
  private val data = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    s"${sys.props("user.home")}/testdata/sf0.1")

  private def model(): KvModel = {
    val m = new KvModel
    (0L until 500L).foreach(k => m.upsert((0L until (k % 7)).map(c =>
      KvRow(k, c * 1000 + k, "O", 1.0, "1-URGENT"))))
    m
  }

  test("the kv_ops generator is deterministic per seed and fixes the mix") {
    val m = model()
    def gen(seed: Long) = new KvGen(seed, m.pks, m.maxCk)
    val a = gen(7).ops(0, m)
    assert(a == gen(7).ops(0, m))
    assert(a != gen(8).ops(0, m))
    assert(a != gen(7).ops(1, m))
    val mix = KvGen.DefaultMix
    val want = Map("point" -> mix.point, "slice" -> mix.slice, "show" -> mix.show,
      "upsert_hot" -> mix.hot, "upsert_new" -> mix.fresh, "delete" -> mix.delete)
    Seq(7L, 8L).foreach { seed =>
      assert(gen(seed).ops(0, m).groupBy(_.kind).map { case (k, v) => k -> v.size } == want)
    }
  }

  test("each pass writes new keys and deletes live partitions no other op touches") {
    val m = model()
    val g = new KvGen(3, m.pks, m.maxCk)
    val seen = scala.collection.mutable.Set.empty[Long]
    (0 until 4).foreach { p =>
      val ops = g.ops(p, m)
      val fresh = ops.collect { case Upsert(r, false) => r.custkey }
      assert(fresh.forall(k => !m.pks.contains(k) && seen.add(k)), s"pass $p reuses a new key")
      val hot = ops.collect { case Upsert(r, true) => r }
      assert(hot.forall(r => m.cksOf(r.custkey).isEmpty || m.cksOf(r.custkey).contains(r.orderkey)))
      val victims = ops.collect { case Delete(pk) => pk }
      val others = ops.collect {
        case PointRead(pk) => pk
        case SliceRead(pk, _, _) => pk
        case Upsert(r, _) => r.custkey
      }.toSet
      assert(victims.distinct.size == victims.size)
      assert(victims.forall(k => m.cksOf(k).nonEmpty && !others(k)))
      ops.foreach {
        case Upsert(r, _) => m.upsert(Seq(r))
        case Delete(pk) => m.delete(pk)
        case _ =>
      }
    }
  }

  test("the shadow model equals a fresh read of the staged table after two passes") {
    val spark = graft.Sessions.local("perfbench-test", "2")
    try {
      val kv = new KvOps(spark, data, seed = 3, table = "perfbench_orders_spec",
        mix = KvGen.Mix(point = 3, slice = 3, show = 1, hot = 4, fresh = 2, delete = 3))
      val r = new Runner
      kv.stage()
      (0 until 2).foreach { p =>
        r.pass = p
        kv.next(p)
        kv.pass(r)
      }
      assert(r.failures.isEmpty, r.failures)
      assert(r.ops.count(o => KvOp.WriteKinds(o.kind)) == 18)
      val fresh = spark.read.format(KvOps.Format).option("table", kv.table)
        .option("split_target_rows", "20000").load().collect().map(KvOps.toRow).toSeq
      assert(fresh.sortBy(x => (x.custkey, x.orderkey)) == kv.model.rows)
    } finally spark.stop()
  }

  test("each pass of q_stream_kv_cdc stages its table afresh") {
    val spark = graft.Sessions.local("perfbench-test", "2")
    try {
      val tmp = Paths.get(sys.props("java.io.tmpdir"))
      Files.createDirectories(tmp)
      val links = Files.createTempDirectory(tmp, "perfbench-links")
      val w = new NamedQueries(spark, data, seed = 1, Seq("q_stream_kv_cdc"),
        s"$links/check", links.toString)
      val r = new Runner
      (0 until 2).foreach { p =>
        r.pass = p
        w.next(p)
        w.pass(r)
      }
      assert(r.failures.isEmpty, r.failures)
      // the snapshot and the query's three upsert waves, in every pass
      (0 until 2).foreach { p =>
        assert(KeyGroupedRegistry.changelog(s"nation_cdc:$links/pass$p").size == 4)
      }
    } finally spark.stop()
  }

  test("every workload query is declared, has an oracle and an oracle digest") {
    val digests = Seq("digests.json", "perfbench/digests.json").map(Paths.get(_))
      .find(Files.exists(_)).map(Files.readString).getOrElse(fail("digests.json not found"))
    Workloads.Named.foreach { case (w, names) =>
      assert(names.nonEmpty, w)
      names.foreach { n =>
        assert(SparkEntry.queries.contains(n), s"$w: $n is not in SparkEntry.queries")
        assert(SparkEntry.oracleSql.contains(n), s"$w: $n has no oracle")
        assert(digests.contains(s"\"$n\""), s"$w: $n has no digest in digests.json")
      }
    }
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val spans = Seq(Span(1, 0, "query", "", 0, 100), Span(2, 1, "build", "", 10, 40),
      Span(3, 1, "execute", "", 30, 90), Span(4, 3, "job", "", 50, 120))
    assert(Span.covered(Seq((10L, 40L), (30L, 90L)), 0, 100) == 80)
    assert(Span.selfTimes(spans) == Map(1 -> 20L, 2 -> 30L, 3 -> 20L, 4 -> 70L))
  }
}
