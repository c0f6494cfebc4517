package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
    * label over itself and its neighbours, then labels compress by one
    * join through themselves, so `rounds` rounds cover diameter ~2^rounds.
    * `und` is the symmetric edge frame (w1, w2); `lbl` the initial
    * (w, comp) frame, already materialised. Both half-steps are
    * referenced twice, so both are checkpointed every round — two
    * checkpoints per round is the minimal-recompute shape. Exactly
    * `rounds` rounds run: callers pin the fixed-round trajectory. */
  def minLabelJump(und: DataFrame, lbl: DataFrame, rounds: Int): DataFrame =
    upTo(rounds, lbl) { l =>
      val m = l.union(
          und.join(l.select(col("w").as("w2"), col("comp")), "w2")
            .select(col("w1").as("w"), col("comp")))
        .groupBy("w").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      val j = m.select(col("w").as("jw"), col("comp").as("jc"))
      (m.join(j, m("comp") === col("jw"))
        .select(m("w").as("w"), col("jc").as("comp"))
        .localCheckpoint(true), false)
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
    * default stats — no recompute, constant-size estimates. The plain
    * per-round kernel ([[minLabelJump]]) only doubles digits ONCE per
    * round and stays fast without this; any query that SQUARES a
    * checkpointed frame per step needs it. */
  def ckptCut(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(true)
    m.sparkSession.createDataFrame(m.rdd, m.schema)
  }
}
