package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** The driver loop of the iterative graph operators, and the one place
  * their round materialisation is written down.
  *
  * Checkpoint discipline (each caller keeps its own per-round choice;
  * these are the rules it follows):
  *   - A frame the next round references TWICE (own + neighbour side of
  *     a join, both endpoints of an edge, union + expansion) is
  *     `localCheckpoint(true)`'d every round. Chained lazily it doubles
  *     the plan per round: q_kcore reached ~2⁸ subtree copies by round 8
  *     (21.8 s of pure Catalyst work, r13); q_hits' 8 half-steps nested
  *     into one 124-Exchange plan (1,556 plan lines, 41 jobs, 32 s task
  *     time, r18). The checkpoint pins each round to its materialised
  *     rows: plan size stays constant, which is also the Pregel shape —
  *     one materialised frontier per superstep, state linear in nodes.
  *     Integer or min-label state makes the result partition-independent.
  *   - A frame referenced ONCE per round stays lazy: a fixed unroll over
  *     a checkpointed constant table is one plan, and eager rounds would
  *     only add job launches (q_textrank: 3.5 s at sf0.1, r13).
  *   - A frame that a later step SQUARES (g ⋈ g) needs [[ckptCut]], not a
  *     bare checkpoint.
  *   - An unbounded loop whose state is corpus-sized persists each round
  *     and unpersists the previous one (q_dup_clusters).
  */
object Iterate {

  /** At most `max` rounds of `step` from `init`. `step` returns the next
    * state and whether that round CONVERGED — the caller's proof that
    * every later round would be a no-op (a monotone peel whose count
    * stopped moving, an empty frontier, labels that only decrease and
    * whose sum held). The loop stops after the first converged round and
    * returns the state that round produced; a step that never reports
    * convergence runs exactly `max` rounds. */
  def upTo[S](max: Int, init: S)(step: S => (S, Boolean)): S = {
    @annotation.tailrec
    def loop(s: S, left: Int): S =
      if (left <= 0) s
      else {
        val (next, converged) = step(s)
        if (converged) next else loop(next, left - 1)
      }
    loop(init, max)
  }

  /** Connected-component labels by min-label propagation WITH pointer
    * jumping (Kiveris et al. 2014): each round every node takes the min
    * label `m` over its own label and its labelled neighbours' labels,
    * then labels compress by one jump through themselves, `m(m(w))`, so
    * `rounds` rounds cover diameter ~2^rounds. `und` is the symmetric edge
    * frame (w1, w2); `lbl` the initial (w, comp) frame. Exactly `rounds`
    * rounds run: callers pin the fixed-round trajectory, not a fixpoint.
    *
    * The rounds are the relational ones (`m` = the labels union the edge
    * join, min per node; the jump = `m` joined to itself on comp = w, so
    * a node whose `m` has no `m` row drops out), run by one task over
    * in-memory maps: both frames go to one partition, and the result is
    * materialised once, since both callers read it twice. Each input is
    * read once, by that task, so callers need not materialise it. Keys are the
    * column type's Spark values, ordered as Spark orders that type (UTF-8
    * byte order for strings); nulls act as in the joins (a null w2 or
    * comp matches nothing, min skips a null comp). Bound: the one task
    * holds the edges plus three label tables of one entry per node. */
  def minLabelJump(und: DataFrame, lbl: DataFrame, rounds: Int): DataFrame = {
    val e = und.select("w1", "w2")
    val l = lbl.select("w", "comp")
    val dt = l.schema("comp").dataType
    require((e.schema ++ l.schema).forall(_.dataType == dt) &&
      Seq(StringType, LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"minLabelJump needs one string or integral key type, got ${e.schema} ${l.schema}")
    val rows = (e.rdd.map(r => (true, r)) ++ l.rdd.map(r => (false, r)))
      .coalesce(1).mapPartitions { it =>
        val in = CatalystTypeConverters.createToCatalystConverter(dt)
        val out = CatalystTypeConverters.createToScalaConverter(dt)
        val (es, ls) = it.map { case (isEdge, r) => (isEdge, (in(r.get(0)), in(r.get(1)))) }
          .toArray.partition(_._1)
        jumpRounds(es.map(_._2), ls.map(_._2).toSeq, rounds,
          TypeUtils.getInterpretedOrdering(dt))
          .iterator.map { case (w, c) => Row(out(w), out(c)) }
      }
    lbl.sparkSession.createDataFrame(rows,
      StructType(Seq(StructField("w", dt), StructField("comp", dt))))
      .localCheckpoint(true)
  }

  /** [[minLabelJump]]'s rounds over (w, comp) pairs; after 0 rounds the
    * pairs are returned as given. */
  private def jumpRounds(edges: Array[(Any, Any)], labels: Seq[(Any, Any)],
      rounds: Int, ord: Ordering[Any]): Seq[(Any, Any)] = {
    // java.util.HashMap: a null w is a key of its own, as in a group-by
    type Labels = java.util.HashMap[Any, Any]
    def minInto(m: Labels, w: Any, c: Any): Unit =
      if (!m.containsKey(w)) m.put(w, c)
      else { val a = m.get(w); if (a == null || (c != null && ord.lt(c, a))) m.put(w, c) }
    Iterator.iterate(labels) { lab =>
      val own = new Labels
      lab.foreach { case (w, c) => minInto(own, w, c) }
      val m = new Labels(own)
      edges.foreach { case (a, b) => if (b != null && own.containsKey(b)) minInto(m, a, own.get(b)) }
      val next = Seq.newBuilder[(Any, Any)]
      m.forEach((w, c) => if (c != null && m.containsKey(c)) next += (w -> m.get(c)))
      next.result()
    }.drop(rounds).next()
  }

  /** localCheckpoint + CUT THE LAZY STATS LINEAGE. A checkpointed
    * Dataset's LogicalRDD keeps the ORIGINAL plan's sizeInBytes stats
    * lazily, so a pointer-jump SQUARING chain (g ⋈ g per jump) doubles
    * the BigInt digit count per jump — measured 6→94 digits across 5
    * jumps; nested inside 5 Boruvka rounds the estimate reaches millions
    * of digits and the driver burns minutes inside BigInteger.multiply
    * in SizeInBytesOnlyStatsPlanVisitor (observed: q_mst_boruvka >15 min
    * before this fix, all of it driver-side stats arithmetic). The RDD
    * round-trip re-wraps the SAME materialized partitions with fresh
    * default stats — no recompute, constant-size estimates. A loop that
    * joins its state once per round only doubles digits ONCE per round
    * and stays fast without this; any query that SQUARES a checkpointed
    * frame per step needs it. */
  def ckptCut(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(true)
    m.sparkSession.createDataFrame(m.rdd, m.schema)
  }
}
