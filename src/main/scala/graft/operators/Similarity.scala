package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** Approximate-nearest-neighbor / vector-similarity operators over the
  * `embeddings` table (vec_id BIGINT, embedding FLOAT[64], label INT).
  *
  * Three tiers, mirroring how a real 100 TB pipeline scales ANN:
  *   1. brute-force top-k (q_cosine_topk) — the correctness baseline; cost
  *      |Q|·|N|, only sane when |Q| is small (here: 10 query vectors);
  *   2. IVF-style cluster pruning (q_cosine_topk_ivf) — candidates restricted
  *      to the query's coarse cluster (the `label` column stands in for a
  *      k-means assignment), an equi-join on the cluster id → candidates
  *      shrink ~|clusters|-fold and the join shuffle-partitions by cluster;
  *   3. banded sign-LSH (q_embed_neardup_lsh) — 64 deterministic
  *      pseudo-random hyperplanes grouped as 4 bands × 16-bit codes;
  *      near-dup candidates come from an equi-join on (band, code), never
  *      all-pairs. 16-bit codes mean 65,536 bucket values per band, so
  *      bucket occupancy stays sub-quadratic as the corpus grows — a fixed
  *      256-bucket code would go O(n²/256) at scale.
  *
  * Float determinism: both engines widen FLOAT→DOUBLE exactly and the dot
  * products accumulate left-to-right in index order, so cosines are
  * bit-identical and even the unrounded ORDER BY ranks agree. Outputs round
  * to 6 dp anyway.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** embeddings with the vector widened to array<double> + its L2 norm,
    * spread across all cores only when the scan has fewer splits than cores
    * (single-file local testdata would serialize the CPU-bound dot-product
    * work; on a real cluster the scan already has many splits and
    * Tables.spread adds no shuffle). */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    Tables.spread(Tables.load(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  /** Dot product via the native codegen'd expression (graft.functions
    * .GraftDot) — same left-to-right accumulation as the zip_with/aggregate
    * HOF chain it replaced, so cosines stay bit-identical to the oracle. */
  private val dot = "graft_dot(qv, v)"

  /** Vector leg of q_hybrid_rrf: top-k corpus docs by cosine against the
    * self-derived query vector (vec_id 0, self excluded), using the exact
    * q_cosine_topk kernel — broadcast 1-row query side streamed over the
    * corpus, distributed TakeOrdered top-k (per-partition heaps, never a
    * global sort), then ranks assigned on the k-row result. Returns
    * (doc_id, r_ann); vec_id doubles as the document id (the testdata
    * embeds docs 1:1 at small SFs and a prefix subset at sf0.1). */
  private[operators] def annTop(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    broadcast(q).crossJoin(e.filter(col("vec_id") =!= 0))
      .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
      .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("r_ann", row_number().over(
        Window.partitionBy(pmod(col("vec_id"), lit(1)))
          .orderBy(col("cosine_raw").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_ann"))
  }

  /** Shared retrieval system run (q_retrieval_metrics + q_ndcg — one
    * system, so recall and nDCG grade the same ranking): the top 20 docs
    * by cosine against the query vector (vec_id 0, self excluded), with
    * candidates restricted to the query's own label cluster (the IVF
    * tier). Returns (doc_id, r_sys). */
  private[graft] def sysTop(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("label").as("q_label"), col("v").as("qv"),
        col("nrm").as("qn"))
    broadcast(q)
      .join(e, col("label") === col("q_label") && col("vec_id") =!= 0)
      .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
      .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      .limit(20)
      .withColumn("r_sys", row_number().over(
        Window.partitionBy(pmod(col("vec_id"), lit(1)))
          .orderBy(col("cosine_raw").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("r_sys"))
  }

  /** Shared KV ANN staging (q_kv_ann_topk, q_kv_ann_filtered,
    * q_kv_ann_euclidean): stages `rows` in the KV registry as `name`,
    * partitioned by label with `indexCols` indexed, and reads back the
    * source's per-split top-10 candidates for the all-ones query, with
    * `opts` added to the read. */
  private[graft] def kvAnnCandidates(s: SparkSession, name: String,
      rows: DataFrame, indexCols: Seq[String], opts: (String, String)*)
      : DataFrame = {
    graft.sources.KeyGroupedRegistry.stageMulti(name, rows, Seq("label"),
      indexCols = indexCols)
    s.read.format("graft.sources.KVDataSource")
      .option("table", name)
      .option("annColumn", "embedding")
      .option("annQuery", Array.fill(64)("1.0").mkString(","))
      .option("annK", "10")
      .options(opts.toMap)
      .load()
  }

  /** Cosine to the all-ones query (|q| = 8) over [[kvAnnTop10]]'s v, qv. */
  private def kvAnnCosine: Column =
    expr("graft_dot(qv, v)") / (sqrt(expr("graft_dot(v, v)")) * lit(8.0))

  /** Shared KV ANN re-rank: the exact top 10 of [[kvAnnCandidates]]'
    * `cand` by the last of the `score` columns (added in order over the
    * DOUBLE vector v and the all-ones query qv), ties by vec_id. Returns
    * (vec_id, label, `out` = the score rounded to 6 dp, rank). */
  private[graft] def kvAnnTop10(cand: DataFrame, out: String,
      score: (String, Column)*): DataFrame = {
    val raw = score.last._1
    score.foldLeft(cand
        .withColumn("v", col("embedding").cast("array<double>"))
        .withColumn("qv", expr("array_repeat(1.0d, 64)"))) {
        case (d, (n, c)) => d.withColumn(n, c)
      }
      .withColumn("rank", row_number().over(
        Window.orderBy(col(raw).desc, col("vec_id").asc)))
      .filter(col("rank") <= 10)
      .select(col("vec_id"), col("label"),
        round(col(raw), 6).as(out), col("rank"))
      .orderBy("rank")
  }

  /** Shared PQ recall reference (q_pq_adc + q_ivf_pq — one reference, so
    * both index tiers grade against the same neighbours): for each query
    * vec_id < 10 of the milli-quantized vectors `x` (vec_id, x), its
    * exact integer-L2 top 3, as (q_id, match_id, hit = 1). The same
    * broadcast-NLJ shape as q_cosine_topk — constant |Q|, not a
    * CartesianProduct. */
  private[graft] def exactTop3(x: DataFrame): DataFrame = {
    val q = x.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("x").as("qx"))
    broadcast(q).crossJoin(x)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ed", expr(
        "aggregate(zip_with(qx, x, (a, b) -> (a-b)*(a-b)), 0L, (acc, t) -> acc + t)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ed"), col("vec_id"))))
      .filter(col("rn") <= 3)
      .select(col("q_id"), col("vec_id").as("match_id"), lit(1).as("hit"))
  }

  /** One q_graph_ann beam round, LAZY (the search loop checkpoints each
    * round's ≤|Q|·B frontier): expand the frontier over out-edges, union
    * with the kept set, dedup, re-score against the queries and keep
    * top-`beam` per query. The frontier side broadcasts on BOTH joins, so
    * neither the corpus-sized edge table nor the vector table is ever
    * shuffled inside the loop — per-round work stays |Q|·B·M, independent
    * of corpus size (BHJ-only shape pinned in PlanSpec; the only
    * exchanges are the frontier-sized dedup and top-B window). */
  private[graft] def graphAnnRound(vb: DataFrame, edges: DataFrame,
      qs: DataFrame, frontier: DataFrame, beam: Int): DataFrame = {
    val expanded = edges.join(broadcast(frontier),
        frontier("node") === edges("src"))
      .select(col("q_id"), col("dst").as("node"))
    val merged = frontier.select("q_id", "node").union(expanded)
      .distinct()
      .filter(col("node") =!= col("q_id"))
    vb.withColumnRenamed("dst", "node")
      .join(broadcast(merged), "node")
      .join(broadcast(qs), "q_id")
      .withColumn("cos", expr(dot) / (col("qn") * col("nrm")))
      .withColumn("rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("node").asc)))
      .filter(col("rn") <= beam).select("q_id", "node", "cos")
  }

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-3 for 10 query vectors (self excluded).
    "q_cosine_topk" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      // explicit broadcast of the 10-row query side → BroadcastNestedLoopJoin
      // streaming the corpus side, instead of a CartesianProduct that
      // re-partitions both sides; |Q| is constant so this holds at any scale
      broadcast(q).crossJoin(e)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("vec_id").as("match_id"),
          round(col("cosine_raw"), 6).as("cosine"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // RETRIEVAL EVAL — the recall@k / MRR job every ANN deployment ships
    // next to its index (the FAISS/ANN-benchmarks readout): the pruned
    // path's top-20 (the q_cosine_topk_ivf kernel — candidates restricted
    // to the query's coarse cluster) is scored against the brute-force
    // top-20 ground truth (the exact annTop/q_cosine_topk kernel) for
    // ONE self-derived query (vec 0). recall@k = |truth∩sys| within each
    // rank-k prefix; MRR = 1/rank of the true nearest neighbor in the
    // pruned list (0 if pruned away). Everything until the final ≤20-row
    // join is the two index reads themselves — the eval adds constant
    // work no matter the corpus, which is why it runs on every index
    // build; rank arithmetic exact integers, two IEEE divisions, one
    // round each.
    "q_retrieval_metrics" -> { (s, dir) =>
      val truth = annTop(s, dir, 20) // brute-force ground truth: (doc_id, r_ann)
      truth.join(sysTop(s, dir), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(when(col("r_ann") <= 5 && col("r_sys") <= 5, 1L)
            .otherwise(0L)).as("h5"),
          sum(when(col("r_ann") <= 10 && col("r_sys") <= 10, 1L)
            .otherwise(0L)).as("h10"),
          sum(when(col("r_sys") <= 20, 1L).otherwise(0L)).as("h20"),
          max(when(col("r_ann") === 1, col("r_sys"))).as("r1"))
        .select(col("n_truth"),
          round(col("h5") / 5.0, 6).as("recall_at_5"),
          round(col("h10") / 10.0, 6).as("recall_at_10"),
          round(col("h20") / 20.0, 6).as("recall_at_20"),
          round(coalesce(lit(1.0) / col("r1"), lit(0.0)), 6).as("mrr"))
    },

    // MATRYOSHKA PREFIX-DIM RECALL (Kusupati et al. '22 — the MRL serving
    // pattern: one stored 64-dim embedding, cheap retrieval on a PREFIX of
    // it): top-10 by cosine over the first {8,16,32} dims scored against
    // the full-64-dim top-10, one recall row per tier (the readout that
    // picks the serving dimension — at 100 TB a 8-dim first pass reads
    // 1/8th the bytes). Each tier is the exact q_cosine_topk kernel on
    // slice(v, 1, dims) with the norm recomputed on the slice; the 64
    // tier closes the loop at recall 1.0 by construction. Only 10-row
    // top-k tables meet in the overlap join; ranks exact integers, one
    // IEEE division per candidate.
    "q_matryoshka_recall" -> { (s, dir) =>
      val K = 10
      val e = vecs(s, dir)
      def top(dims: Int): DataFrame = {
        val ed = e.select(col("vec_id"),
            expr(s"slice(v, 1, $dims)").as("v"))
          .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
        val q = ed.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qn"))
        broadcast(q).crossJoin(ed.filter(col("vec_id") =!= 0))
          .withColumn("cos", expr(dot) / (col("qn") * col("nrm")))
          .orderBy(col("cos").desc, col("vec_id").asc).limit(K)
          .select(col("vec_id").as("doc_id"))
      }
      val truth = top(64)
      Seq(8, 16, 32, 64).map { dims =>
        truth.join(top(dims), "doc_id")
          .agg(count(lit(1)).as("n_hit"))
          .select(lit(dims).as("dims"), col("n_hit"),
            round(col("n_hit").cast("double") / K, 6).as("recall_at_10"))
      }.reduce(_ unionByName _).orderBy("dims")
    },

    // MMR DIVERSITY RE-RANKING (Carbonell & Goldstein '98 — the de-dup
    // knob every production retrieval/RAG stack exposes): the plain top-k
    // returns 20 near-copies of the same best hit; MMR greedily re-picks
    // Sel=5 of them maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with
    // λ = 1/2 (an exact binary fraction — both engines multiply the same
    // IEEE doubles by 0.5). The SCALE SHAPE is the whole point: the
    // corpus-sized work is the retrieval itself (the exact q_cosine_topk
    // kernel: broadcast query, distributed TakeOrdered top-20); the MMR
    // greedy then touches only the CONSTANT-K candidate table — K·(K−1)
    // pairwise cosines and Sel rounds of argmax over ≤20 rows, the same
    // bounded-scalar driver action as the k-center round picks (at 100 TB
    // this stays exactly 20 rows while the index does the heavy lifting).
    // Cosines on both sides come from the identical left-to-right dot
    // fold (graft_dot ≡ DuckDB list_sum/list_transform), so scores and
    // therefore the selection sequence are bit-identical cross-engine;
    // rank-1 carries no diversity term yet (empty set ⇒ score = rel/2).
    // NB: selection scores need NOT decrease round to round — a candidate
    // whose max-sim to the selected set is NEGATIVE scores above rel/2
    // (measured on this corpus) — so OperatorSpec pins the bound
    // |score − rel/2| ≤ 1/2 instead of a false monotonicity.
    "q_mmr_rerank" -> { (s, dir) =>
      val K = 20; val Sel = 5
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val cands = broadcast(q).crossJoin(e.filter(col("vec_id") =!= 0))
        .withColumn("rel", expr(dot) / (col("qn") * col("nrm")))
        .orderBy(col("rel").desc, col("vec_id").asc)
        .limit(K)
        .select(col("vec_id").as("doc_id"), col("rel"), col("v"), col("nrm"))
        .collect() // constant-K scalar action: ≤20 rows at any corpus size
      require(cands.length >= Sel,
        s"q_mmr_rerank needs ≥$Sel retrieved candidates, got ${cands.length}")
      case class Cand(id: Long, rel: Double, v: IndexedSeq[Double], nrm: Double)
      val cs = cands.map(r => Cand(r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toIndexedSeq, r.getDouble(3)))
      def cos(a: Cand, b: Cand): Double = { // left-to-right, = graft_dot
        var acc = 0.0; var i = 0
        while (i < a.v.length) { acc += a.v(i) * b.v(i); i += 1 }
        acc / (a.nrm * b.nrm)
      }
      var selected = Vector(cs.minBy(c => (-c.rel, c.id))) // argmax rel
      var out = Vector((1, selected.head.id, selected.head.rel,
        0.5 * selected.head.rel))
      (2 to Sel).foreach { r =>
        val pick = cs.filterNot(c => selected.exists(_.id == c.id))
          .map { c =>
            val maxsim = selected.map(cos(c, _)).max
            (c, 0.5 * c.rel - 0.5 * maxsim)
          }
          .minBy { case (c, sc) => (-sc, c.id) }
        selected = selected :+ pick._1
        out = out :+ ((r, pick._1.id, pick._1.rel, pick._2))
      }
      import s.implicits._
      out.toDF("sel_rank", "doc_id", "rel_raw", "score_raw")
        .select(col("sel_rank"), col("doc_id"),
          round(col("rel_raw"), 6).as("rel"),
          round(col("score_raw"), 6).as("mmr_score"))
        .orderBy("sel_rank")
    },

    // IVF-style: identical queries, but candidates pruned to the query's
    // coarse cluster (label) via an equi-join — the scale path.
    "q_cosine_topk_ivf" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      broadcast(q).join(e, col("q_label") === col("label") && col("vec_id") =!= col("q_id"))
        .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("q_label"), col("vec_id").as("match_id"),
          round(col("cosine_raw"), 6).as("cosine"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // EMBEDDING CENTROID DRIFT — the model-monitoring readout between two
    // ingest snapshots (did the encoder, the corpus mix, or an upstream
    // preprocessing change move the embedding space?): snapshots
    // self-derive by vec_id parity (declared — simulating two ingest
    // days), and per label the two centroids compare by L2 shift in
    // milli-units and by centroid cosine. Sums per (label, dim) are EXACT
    // BIGINT over the quantized vectors (one posexplode rollup — the only
    // corpus-sized shuffle); centroids divide once per (label, dim); the
    // 64 per-dimension terms fold SORTED per label (bounded lists), so
    // both engines sum identically. Labels missing a side are excluded
    // (drift of a centroid that doesn't exist is undefined). Scale: the
    // rollup is |labels|·64 cells with map-side partials; everything
    // after is tiny.
    "q_embedding_drift" -> { (s, dir) =>
      val x = vecs(s, dir).select(col("vec_id"), col("label"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
      val parts = x.withColumn("snap", expr("cast(vec_id % 2 as int)"))
        .select(col("snap"), col("label"), posexplode(col("x")).as(Seq("j", "xj")))
        .groupBy("label", "j")
        .agg(sum(when(col("snap") === 0, col("xj")).otherwise(0L)).as("sa"),
          sum(when(col("snap") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("snap") === 1, col("xj")).otherwise(0L)).as("sb"),
          sum(when(col("snap") === 1, 1L).otherwise(0L)).as("nb"))
        .filter(col("na") > 0 && col("nb") > 0)
        .withColumn("ca", expr("CAST(sa AS DOUBLE) / na"))
        .withColumn("cb", expr("CAST(sb AS DOUBLE) / nb"))
      parts.groupBy("label")
        .agg(min("na").as("n_a"), min("nb").as("n_b"),
          expr("aggregate(sort_array(collect_list((ca - cb) * (ca - cb))), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("s2"),
          expr("aggregate(sort_array(collect_list(ca * cb)), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("sab"),
          expr("aggregate(sort_array(collect_list(ca * ca)), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("saa"),
          expr("aggregate(sort_array(collect_list(cb * cb)), " +
            "cast(0.0 as double), (a, x) -> a + x)").as("sbb"))
        .select(col("label"), col("n_a"), col("n_b"),
          round(expr("sqrt(s2)"), 6).as("l2_shift_milli"),
          expr("CASE WHEN saa > 0.0D AND sbb > 0.0D THEN " +
            "round(sab / sqrt(saa * sbb), 6) END").as("cos_centroids"))
        .orderBy("label")
    },

    // NPROBE SWEEP — the ANN tuning curve (the E101 discipline applied to
    // the vector index): recall@3 AND scanned-candidate cost as a function
    // of nprobe ∈ {1,2,4,8}, which is THE knob every IVF deployment turns
    // (probe more lists → scan more → recall climbs toward exact). No PQ
    // here — distances inside probed lists are exact, so the measured
    // recall loss is attributable to PRUNING alone (isolating one error
    // source is what makes a sweep readable). All arithmetic is the
    // q_ivf_pq quantized exact-bigint Σ(x−c)² with (d, id) tiebreaks — no
    // float ever decides a rank. One assignment pass + one exact
    // ground-truth pass + one candidate pass serve all four nprobe values
    // via a 4-row explode; the (q, np) universe table keeps the recall
    // denominator fixed even if a probed list is empty of candidates.
    // Scale: the corpus meets only broadcast tables (centroids, queries);
    // candidates ∝ probed-list sizes — the whole point of the index.
    "q_nprobe_sweep" -> { (s, dir) =>
      val Kc = 8
      val x = vecs(s, dir).select(col("vec_id"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        x.count() // materialize once: assignment + exact + candidate passes
        val sq = "aggregate(zip_with(%s, %s, (a, b) -> (a-b)*(a-b)), " +
          "0L, (acc, t) -> acc + t)"
        val coarse = x.filter(col("vec_id") < Kc)
          .select(col("vec_id").cast("int").as("ci"), col("x").as("ccent"))
        val asg = x.crossJoin(broadcast(coarse))
          .withColumn("d", expr(sq.format("x", "ccent")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d"), col("ci"))))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("ci"), col("x"))
        val q = x.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("x").as("qx"))
        val exact = broadcast(q).join(x, col("vec_id") =!= col("q_id"))
          .withColumn("d", expr(sq.format("qx", "x")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("d"), col("vec_id"))))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("vec_id"))
        val probes = q.crossJoin(broadcast(coarse))
          .withColumn("d", expr(sq.format("qx", "ccent")))
          .withColumn("crank", row_number().over(
            Window.partitionBy("q_id").orderBy(col("d"), col("ci"))))
          .select(col("q_id"), col("qx"), col("ci"), col("crank"))
          .select(col("q_id"), col("qx"), col("ci"), col("crank"),
            explode(expr("array(1, 2, 4, 8)")).as("np"))
          .filter(col("crank") <= col("np"))
        val cands = probes.join(asg, "ci")
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("d", expr(sq.format("qx", "x")))
        val universe = probes.select("q_id", "np").distinct()
        val stats = cands.groupBy("q_id", "np")
          .agg(count(lit(1)).as("n_scanned"))
        val hits = cands
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id", "np").orderBy(col("d"), col("vec_id"))))
          .filter(col("rn") <= 3)
          .join(exact, Seq("q_id", "vec_id"), "left_semi")
          .groupBy("q_id", "np").agg(count(lit(1)).as("hits"))
        universe
          .join(stats, Seq("q_id", "np"), "left")
          .join(hits, Seq("q_id", "np"), "left")
          .groupBy("np")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(col("n_scanned"), lit(0L))).as("scanned"),
            sum(coalesce(col("hits"), lit(0L))).as("n_hits"))
          .select(col("np").cast("long").as("nprobe"), col("n_queries"),
            round(col("scanned").cast("double") / col("n_queries"), 6)
              .as("avg_scanned"),
            round(col("n_hits").cast("double") /
              (lit(3.0) * col("n_queries")), 6).as("recall_at_3"))
          .orderBy("nprobe")
          // eagerly materialize the 4-row result BEFORE the finally
          // unpersists x — a lazy return would recompute every pass
          // against the already-evicted cache (r13 advice)
          .localCheckpoint(true)
      } finally { x.unpersist(); () }
    },

    // K-means training for the IVF coarse index. Tier 2 (q_cosine_topk_ivf)
    // prunes by a cluster ASSIGNMENT someone must have trained; this
    // operator trains it. Quantized exact-integer Lloyd: vectors quantize
    // to integer milli-units (round(v·1000) after the usual FLOAT→DOUBLE
    // widening), and centroids are re-floored to INTEGERS after every mean
    // update — so every distance is an exact bigint Σ(x_j − c_j)² and the
    // argmin never compares floats; the assignment is bit-identical across
    // engines, partitionings and reduction orders by construction. Two
    // Lloyd rounds from the first K quantized vectors as seeds. Per round:
    // one broadcast K-row crossJoin (assignment — map-side, the corpus
    // never shuffles) and one posexplode groupBy (update — the only wide
    // op, K·64 cells with map-side partial sums). The K·64 centroid longs
    // pass through the driver between rounds, the same bounded scalar
    // action as BPE's per-round argmax; the corpus itself never does. An
    // emptied cluster simply drops (both engines lose the group row the
    // same way), matching Lloyd's standard degenerate case.
    "q_kmeans_ivf" -> { (s, dir) =>
      val K = 10
      val Iters = 2
      val x = vecs(s, dir).select(col("vec_id"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        x.count() // materialize once for the 2·Iters+1 reuses
        var cents: Seq[(Int, Seq[Long])] = x.filter(col("vec_id") < K)
          .orderBy("vec_id").collect().zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Long](1)) }.toSeq
        def assigned(c: Seq[(Int, Seq[Long])]): DataFrame = {
          val cdf = s.createDataFrame(c).toDF("cluster", "cent")
          x.crossJoin(broadcast(cdf))
            .withColumn("num", expr(
              "aggregate(zip_with(x, cent, (a, b) -> (a-b)*(a-b)), 0L, (acc, t) -> acc + t)"))
            .withColumn("rn", row_number().over(
              Window.partitionBy("vec_id").orderBy(col("num"), col("cluster"))))
            .filter(col("rn") === 1)
        }
        (1 to Iters).foreach { _ =>
          val upd = assigned(cents)
            .select(col("cluster"), posexplode(col("x")).as(Seq("j", "xj")))
            .groupBy("cluster", "j")
            .agg(sum("xj").as("sj"), count(lit(1)).as("cnt"))
            .collect()
          cents = upd.groupBy(_.getInt(0)).toSeq.map { case (c, rows) =>
            (c, rows.sortBy(_.getInt(1))
              .map(r => math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong)
              .toSeq)
          }.sortBy(_._1)
        }
        val ck = s.createDataFrame(cents.map { case (c, arr) =>
          (c, arr.zipWithIndex.map { case (v, j) => (j + 1L) * v }.sum)
        }).toDF("cluster", "checksum")
        assigned(cents)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_vecs"), sum("num").as("inertia"))
          .join(ck, "cluster")
          .select("cluster", "n_vecs", "inertia", "checksum")
          .orderBy("cluster")
          // eager K-row materialization before x leaves the cache
          .localCheckpoint(true)
      } finally { x.unpersist(); () }
    },

    // k-CENTER GREEDY coreset selection (the diversity-selection step of
    // training-data curation: SemDeDup removes redundancy pairwise, this
    // SELECTS a maximally-spread K-subset — Gonzalez's 2-approximation of
    // the k-center objective, the greedy the coreset literature builds
    // on): seed = lowest vec_id, then K-1 rounds of "add the point
    // farthest from the chosen set". Distances are exact bigint over
    // milli-quantized embeddings (the kmeans/PQ discipline), so the
    // selection sequence is bit-identical across engines, partitionings
    // and reduction orders. The running min-distance-to-set FOLDS
    // incrementally — each round computes distance to the ONE new center
    // (its 64 longs inlined as literals, a map-only projection) and
    // least()s it into the cached per-point state, O(n·K) total work
    // rather than the O(n·K²) of re-minning all centers every round; per
    // round only the argmax (vec_id, dist) pair visits the driver, and
    // the per-round persist/unpersist bounds lineage (the label-
    // propagation discipline). The final pass assigns every point to its
    // nearest chosen center and reports per-center cell population and
    // coverage radius — the balance readout a curation run ships with
    // the sample. Greedy invariant (asserted in OperatorSpec): selection
    // distances are non-increasing and the final max radius never
    // exceeds the last selection distance.
    "q_kcenter_select" -> { (s, dir) =>
      val K = 5
      val x = vecs(s, dir).select(col("vec_id"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
      def distTo(cent: Seq[Long]) = aggregate(
        zip_with(col("x"), array(cent.map(lit(_)): _*),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, t) => acc + t)
      val seed = x.orderBy("vec_id").head()
      // (rank, vec_id, selection distance)
      var chosen = Vector((1, seed.getLong(0), 0L))
      var cents = Vector(seed.getSeq[Long](1))
      var mind = x
        .withColumn("mind", distTo(cents.head))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        mind.count()
        (2 to K).foreach { r =>
          val far = mind.orderBy(col("mind").desc, col("vec_id").asc)
            .head() // scalar driver action: the farthest point (+ vector)
          chosen = chosen :+ ((r, far.getLong(0), far.getLong(2)))
          cents = cents :+ far.getSeq[Long](1)
          if (r < K) { // the last center never needs a fold-in
            val next = mind
              .withColumn("mind", least(col("mind"), distTo(cents.last)))
              .persist(StorageLevel.MEMORY_AND_DISK)
            next.count()
            mind.unpersist()
            mind = next
          }
        }
        val sel = s.createDataFrame(chosen).toDF("sel_rank", "vec_id", "sel_dist")
        val cdf = s.createDataFrame(cents.zipWithIndex.map {
          case (v, i) => (i + 1, v)
        }).toDF("ci", "cent")
        val cells = x.crossJoin(broadcast(cdf))
          .withColumn("d", expr(
            "aggregate(zip_with(x, cent, (a, b) -> (a-b)*(a-b)), " +
              "0L, (acc, t) -> acc + t)"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d"), col("ci"))))
          .filter(col("rn") === 1)
          .groupBy("ci")
          .agg(count(lit(1)).as("n_cell"), max("d").as("radius"))
        // LEFT join: a later center duplicating an earlier vector gets
        // sel_dist=0 and an EMPTY Voronoi cell (ties assign to the lower
        // ci) — the K-row contract must survive that degenerate corpus,
        // so empty cells report (0, 0) instead of dropping the row
        sel.join(cells, sel("sel_rank") === cells("ci"), "left")
          .select(col("sel_rank"), sel("vec_id"), col("sel_dist"),
            coalesce(col("n_cell"), lit(0L)).as("n_cell"),
            coalesce(col("radius"), lit(0L)).as("radius"))
          .orderBy("sel_rank")
      } finally { mind.unpersist(); () }
    },

    // Product quantization + ADC (the IVF-PQ memory path): each 64-dim
    // vector compresses to M=4 one-byte codes — the argmin codeword of each
    // 16-dim subvector against a 16-entry per-subspace codebook — shrinking
    // the resident index 64× (256 B of floats → 4 B), which is what lets a
    // 100 TB corpus's index fit a cluster's RAM. Queries score candidates by
    // Asymmetric Distance Computation: per query, a 4×16 lookup table of
    // exact query-subvector→codeword distances is built once, and every
    // corpus vector's approximate distance is just Σ_m lut[m][code_m] — a
    // broadcast join on (m, code) + a map-side-combined sum, never touching
    // the original vectors. Codebooks here are the first-16 vectors'
    // subvectors in integer milli-units (k-means training of exactly this
    // shape is q_kmeans_ivf's subject); all arithmetic is exact bigint so
    // encode/score are bit-identical across engines. Output: ADC top-3 per
    // query with a `hit` flag against the exact integer-L2 top-3 (the
    // recall readout every PQ deployment monitors). The encode argmin is a
    // min_by AGGREGATE, not a window sort — partial-aggregated map-side, no
    // per-(vec,m) sort at scale.
    "q_pq_adc" -> { (s, dir) =>
      val M = 4; val Dsub = 16; val K = 16
      val x = vecs(s, dir).select(col("vec_id"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        x.count() // materialize once for the encode + exact-recall passes
        val subs = x.select(col("vec_id"), explode(expr(
          s"transform(sequence(0, ${M - 1}), " +
            s"m -> named_struct('m', m, 'sx', slice(x, m*$Dsub+1, $Dsub)))")).as("t"))
          .select(col("vec_id"), col("t.m").as("m"), col("t.sx").as("sx"))
        val cb = subs.filter(col("vec_id") < K)
          .select(col("m"), col("vec_id").cast("int").as("c"), col("sx").as("cent"))
        // exact subspace distances of EVERY vector to every codeword — the
        // encode input, and (restricted to query ids) the ADC lookup table
        val dists = subs.join(broadcast(cb), "m")
          .withColumn("d", expr(
            "aggregate(zip_with(sx, cent, (a, b) -> (a-b)*(a-b)), 0L, (acc, t) -> acc + t)"))
        val enc = dists.groupBy("vec_id", "m")
          .agg(min_by(col("c"), struct(col("d"), col("c"))).as("c"))
        val qd = dists.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("m"), col("c"), col("d").as("qdist"))
        val adc = enc.join(broadcast(qd), Seq("m", "c"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "vec_id")
          .agg(sum("qdist").as("adist"))
        val exact = exactTop3(x)
        val w = Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
        adc.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("match_id"), col("adist"), col("rn"))
          .join(exact, Seq("q_id", "match_id"), "left")
          .withColumn("hit", coalesce(col("hit"), lit(0)))
          .orderBy("q_id", "rn")
      } finally { x.unpersist(); () }
    },

    // IVF-PQ — the two ANN tiers COMPOSED into the production FAISS
    // layout (q_cosine_topk_ivf prunes, q_pq_adc compresses; a real
    // billion-vector index does BOTH): a coarse quantizer (first-8
    // integer centroids — q_kmeans_ivf trains this shape) partitions the
    // corpus into inverted lists; each vector PQ-encodes its RESIDUAL
    // x − centroid (the part IVF hasn't explained — encoding residuals
    // instead of raw vectors is what makes the 4-byte code usable, and
    // the codebook is SHARED across lists, faithful IVFPQ); a query
    // probes its nprobe=2 nearest lists, builds one ADC lookup table per
    // probed list from its own residual there, and scores ONLY vectors
    // in probed lists — at 10^9 vectors the scan touches nprobe/K of the
    // corpus and reads 4-byte codes, not 256-byte vectors. Everything is
    // exact bigint over milli-quantized embeddings (the kmeans/PQ/
    // k-center discipline) so encode, probe and rank are bit-identical
    // cross-engine. Output: per query the ADC top-3 from probed lists
    // with the recall hit flag against the UNPRUNED exact top-3 — the
    // recall-vs-speed readout every IVFPQ deployment tunes nprobe by.
    "q_ivf_pq" -> { (s, dir) =>
      val Kc = 8; val NProbe = 2; val M = 4; val Dsub = 16; val Kpq = 16
      val x = vecs(s, dir).select(col("vec_id"),
        expr("transform(v, e -> cast(round(e * 1000d) as bigint))").as("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        x.count() // materialize once: assignment + codebook + exact passes
        val coarse = x.filter(col("vec_id") < Kc)
          .select(col("vec_id").cast("int").as("ci"), col("x").as("ccent"))
        val sq = "aggregate(zip_with(%s, %s, (a, b) -> (a-b)*(a-b)), " +
          "0L, (acc, t) -> acc + t)"
        // every vector: nearest coarse centroid + residual
        val asg = x.crossJoin(broadcast(coarse))
          .withColumn("d", expr(sq.format("x", "ccent")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d"), col("ci"))))
          .filter(col("rn") === 1)
          .withColumn("res", expr("zip_with(x, ccent, (a, b) -> a - b)"))
          .select(col("vec_id"), col("ci"), col("res"))
        val subs = asg.select(col("vec_id"), col("ci"), explode(expr(
          s"transform(sequence(0, ${M - 1}), " +
            s"m -> named_struct('m', m, 'sx', slice(res, m*$Dsub+1, $Dsub)))")).as("t"))
          .select(col("vec_id"), col("ci"), col("t.m").as("m"), col("t.sx").as("sx"))
        // shared residual codebook: the first Kpq vectors' residual subvectors
        val cb = subs.filter(col("vec_id") < Kpq)
          .select(col("m"), col("vec_id").cast("int").as("c"), col("sx").as("cent"))
        val enc = subs.join(broadcast(cb), "m")
          .withColumn("d", expr(sq.format("sx", "cent")))
          .groupBy("vec_id", "ci", "m")
          .agg(min_by(col("c"), struct(col("d"), col("c"))).as("c"))
        // query side: probe the NProbe nearest lists, residual LUT per list
        val qAsg = x.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("x").as("qx"))
          .crossJoin(broadcast(coarse))
          .withColumn("d", expr(sq.format("qx", "ccent")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("d"), col("ci"))))
          .filter(col("rn") <= NProbe)
          .withColumn("qres", expr("zip_with(qx, ccent, (a, b) -> a - b)"))
        val lut = qAsg.select(col("q_id"), col("ci"), explode(expr(
          s"transform(sequence(0, ${M - 1}), " +
            s"m -> named_struct('m', m, 'sx', slice(qres, m*$Dsub+1, $Dsub)))")).as("t"))
          .select(col("q_id"), col("ci"), col("t.m").as("m"), col("t.sx").as("qsx"))
          .join(broadcast(cb), "m")
          .withColumn("qdist", expr(sq.format("qsx", "cent")))
          .select(col("q_id"), col("ci"), col("m"), col("c"), col("qdist"))
        // ADC over probed lists only: codes join the 10·2·4·16-row LUT
        val adc = enc.join(broadcast(lut), Seq("ci", "m", "c"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "vec_id")
          .agg(sum("qdist").as("adist"))
        // unpruned exact top-3: the recall reference
        val exact = exactTop3(x)
        val w = Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
        adc.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("q_id"), col("vec_id").as("match_id"), col("adist"), col("rn"))
          // 3·|Q| rows by construction — broadcast so the recall join
          // never sorts either side
          .join(broadcast(exact), Seq("q_id", "match_id"), "left")
          .withColumn("hit", coalesce(col("hit"), lit(0)))
          .orderBy("q_id", "rn")
      } finally { x.unpersist(); () }
    },

    // Banded sign-LSH near-dup: 64 deterministic ±1 hyperplanes → 4 bands of
    // 16-bit codes; pairs agreeing on ANY band are candidates, verified by
    // cosine ≥ 0.2. Hyperplane signs come from an LCG parity (portable
    // integer arithmetic, identical in DuckDB). The signature stage is the
    // native codegen'd graft_signlsh (functions/SignLsh.scala — one tight
    // loop instead of a 4096-step HOF chain; HOF-equivalence asserted in
    // OperatorSpec). The code table is persisted once and reused by both
    // join sides; the tiny candidate set joins back to the slim
    // (vec_id, v, nrm) projection, which AQE broadcasts.
    "q_embed_neardup_lsh" -> { (s, dir) =>
      val e = vecs(s, dir)
        .withColumn("codes", expr("graft_signlsh(v)"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count() // materialize before the three downstream reuses
      val ban0 = e.select(col("vec_id"), posexplode(col("codes")).as(Seq("band", "code")))
      // Same BucketCap skew guard as q_minhash_lsh (Pipeline.BucketCap): a
      // (band, code) bucket larger than the cap degrades the self-join to
      // O(bucket²) pairs — drop it. Mirrored in the oracle's `hf` stage.
      val ban = ban0
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "code")))
        .filter(col("bn") <= Pipeline.BucketCap)
        .select("vec_id", "band", "code")
      val cand = ban.as("a").join(ban.as("b"),
          col("a.band") === col("b.band") && col("a.code") === col("b.code")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val va = e.select(col("vec_id").as("vec_a"), col("v").as("qv"), col("nrm").as("qn"))
      val vb = e.select(col("vec_id").as("vec_b"), col("v"), col("nrm"))
      cand.join(va, "vec_a").join(vb, "vec_b")
        .withColumn("cosine", round(expr(dot) / (col("qn") * col("nrm")), 6))
        .filter(col("cosine") >= 0.2)
        .select(col("vec_a"), col("vec_b"), col("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // Semantic dedup (SemDeDup): turn the near-dup pair list into a
    // keep/remove decision — a vector is REMOVED iff some smaller-id vector
    // is cosine-similar above the (tighter) 0.35 threshold; the smaller id
    // survives as the cluster representative. This is the greedy min-id
    // star rule: deterministic, one extra map-side-combined aggregate over
    // the capped candidate pairs, no iteration — the published SemDeDup
    // keeps one representative per ε-cluster, which this upper-bounds.
    // Composes the DECLARED q_embed_neardup_lsh (same candidate generation,
    // same caps), like q_quantize_recall composes the two top-k operators.
    "q_semantic_dedup" -> { (s, dir) =>
      queries("q_embed_neardup_lsh")(s, dir)
        .filter(col("cosine") >= 0.35)
        .groupBy("vec_b")
        .agg(min("vec_a").as("kept_neighbor"), count(lit(1)).as("n_similar"),
          max("cosine").as("max_cosine"))
        .withColumnRenamed("vec_b", "removed_id")
        .orderBy("removed_id")
    },

    // GRAPH ANN — a navigable-small-world beam search (the HNSW family,
    // Malkov & Yashunin 2018), the OTHER production ANN architecture next
    // to the IVF/PQ tier, re-expressed as two bounded layers:
    //   · ENTRY layer: a FIXED 16-node hub clique (vec_id ∈ [100,116) —
    //     HNSW's top layer is O(1)-size by construction, so the hub-hub
    //     edge set is a 240-row constant at any corpus size); each query
    //     enters at its best hub (one broadcast scan of 16 vectors);
    //   · BASE layer: each node's M = 8 out-edges are its top-cosine
    //     neighbors among MULTI-RESOLUTION sign-LSH banded candidates —
    //     the q_embed_neardup_lsh bands (graft_signlsh, 4×16-bit) read at
    //     three prefix widths (16/8/4 bits), EACH level under the house
    //     BucketCap=128 guard. The ladder is the scale knob (LSH-forest
    //     style): at small corpora the coarse 4-bit buckets supply the
    //     candidate density a navigable graph needs; as the corpus grows
    //     a coarse level's buckets blow past the cap and SELF-EVICT,
    //     leaving the finer levels — candidate volume stays ≤
    //     levels·bands·cap per node at any size, never all-pairs;
    //   · SEARCH: R = 6 beam rounds — frontier expands over out-edges,
    //     candidates score against the query (native graft_dot, the
    //     bit-identical-across-engines kernel), keep top-B = 16 per query.
    //     Per-round work is |Q|·B·M rows — INDEPENDENT of corpus size,
    //     which is the entire point of graph ANN at 100 TB (IVF scans
    //     nprobe·cell; the graph walks a constant-size beam). Each round's
    //     ≤|Q|·B frontier is checkpointed (referenced twice: union +
    //     expansion — the [[Iterate]] discipline).
    // Readout: the beam's top-3 per query vs the brute-force truth
    // (q_cosine_topk's kernel) with a hit flag — the recall@3 readout an
    // index build ships. Deterministic: raw-double cosine ranks with id
    // tiebreaks, the same total order every ANN query here uses.
    "q_graph_ann" -> { (s, dir) =>
      val (mOut, beam, rounds) = (8, 16, 6)
      val e = vecs(s, dir)
        .withColumn("codes", expr("graft_signlsh(v)"))
        .localCheckpoint(true)
      val ban = e
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("band", "code")))
        .select(col("vec_id"), col("band"), explode(expr(
          "array(named_struct('bits', 16, 'pcode', code), " +
            "named_struct('bits', 8, 'pcode', code div 256), " +
            "named_struct('bits', 4, 'pcode', code div 4096))")).as("l"))
        .select(col("vec_id"), col("band"),
          col("l.bits").as("bits"), col("l.pcode").as("pcode"))
        .withColumn("bn",
          count(lit(1)).over(Window.partitionBy("band", "bits", "pcode")))
        .filter(col("bn") <= Pipeline.BucketCap)
        .select("vec_id", "band", "bits", "pcode")
      val va = e.select(col("vec_id").as("src"), col("v").as("qv"),
        col("nrm").as("qn"))
      val vb = e.select(col("vec_id").as("dst"), col("v"), col("nrm"))
      val nbrs = ban.as("a").join(ban.as("b"),
          col("a.band") === col("b.band") && col("a.bits") === col("b.bits")
            && col("a.pcode") === col("b.pcode")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        .distinct()
        .join(va, "src").join(vb, "dst")
        .withColumn("cos", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(Window.partitionBy("src")
          .orderBy(col("cos").desc, col("dst").asc)))
        .filter(col("rn") <= mOut)
        .select("src", "dst")
      val hubIds = e.filter(col("vec_id") >= 100 && col("vec_id") < 116)
      val hubEdges = hubIds.select(col("vec_id").as("src"))
        .crossJoin(broadcast(hubIds.select(col("vec_id").as("dst"))))
        .filter(col("src") =!= col("dst"))
      val edges = nbrs.union(hubEdges).distinct().localCheckpoint(true)
      // checkpointed: referenced by a broadcast in EVERY beam round, and a
      // lazy qs re-runs its filter-over-checkpoint subplan once per round
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
        .localCheckpoint(true)
      // entry: best hub per query (16-row broadcast scan)
      val entry = broadcast(qs)
        .crossJoin(hubIds.select(col("vec_id").as("node"), col("v"),
          col("nrm")))
        .withColumn("cos", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("node").asc)))
        .filter(col("rn") === 1).select("q_id", "node", "cos")
        .localCheckpoint(true)
      // The frontier is ≤|Q|·B rows at all times — broadcast it on BOTH
      // per-round joins so neither the corpus-sized edge table nor the
      // vector table is ever shuffled inside the loop (per-round work
      // stays |Q|·B·M, independent of corpus size; BHJ-only shape pinned
      // in PlanSpec via the factored [[graphAnnRound]]).
      val frontier = Iterate.upTo(rounds, entry) { f =>
        (graphAnnRound(vb, edges, qs, f, beam).localCheckpoint(true), false)
      }
      val truth = queries("q_cosine_topk")(s, dir)
        .select(col("q_id"), col("match_id"), lit(true).as("in_exact_top3"))
      frontier
        .withColumn("rn", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("node").asc)))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("rn"), col("node").as("match_id"),
          round(col("cos"), 6).as("cosine"))
        .join(truth, Seq("q_id", "match_id"), "left")
        .withColumn("in_exact_top3",
          coalesce(col("in_exact_top3"), lit(false)))
        .select("q_id", "rn", "match_id", "cosine", "in_exact_top3")
        .orderBy("q_id", "rn")
    },

    // Int8 symmetric quantization + integer-dot top-k: the bandwidth tier
    // of 100 TB ANN — a 64-dim FLOAT vector is 256 bytes, its int8 form 64,
    // so the candidate scan reads 4× less, and the dot product becomes
    // exact integer arithmetic (the scores themselves are engine-identical
    // integers, not merely round-stable floats). Per-vector scale =
    // 127 / max|v_i|; q_i = floor(v_i·scale + 0.5) — floor(x+0.5) is the
    // portable round-half-up both engines agree on. The quantized cosine
    // divides by integer norms, so ordering is deterministic too.
    "q_embed_quantize" -> { (s, dir) =>
      // integer dot + norm via the native graft_dotl (one codegen'd
      // primitive loop) — the interpreted aggregate(zip_with(...)) chain it
      // replaces would pay per-pair boxing on exactly the tier whose point
      // is a 4× cheaper scan
      val q8 = vecs(s, dir)
        .withColumn("mx", greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1e-12)))
        .withColumn("qv", expr("transform(v, x -> cast(floor(x * 127.0d / mx + 0.5d) as bigint))"))
        .withColumn("n2", expr("graft_dotl(qv, qv)"))
        .select("vec_id", "qv", "n2")
      val q = q8.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qv").as("qa"), col("n2").as("qa2"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("qcos_raw").desc, col("vec_id").asc)
      broadcast(q).crossJoin(q8)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dotq", expr("graft_dotl(qa, qv)"))
        .withColumn("qcos_raw", col("dotq") / sqrt((col("qa2") * col("n2")).cast("double")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("vec_id").as("match_id"), col("dotq"),
          round(col("qcos_raw"), 6).as("qcosine"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // Recall@3 of the int8 index against the full-precision baseline — the
    // eval metric an ANN tier ships with: quantization only earns its 4×
    // bandwidth cut if recall stays high, and this query measures exactly
    // that, per query vector. Both sides are the already-declared operators
    // (composition, not re-implementation); the join is on (q_id, match_id)
    // over 30-row inputs.
    "q_quantize_recall" -> { (s, dir) =>
      val full = queries("q_cosine_topk")(s, dir)
        .select(col("q_id"), col("match_id"))
      val quant = queries("q_embed_quantize")(s, dir)
        .select(col("q_id"), col("match_id"), lit(1).as("hit"))
      full.join(quant, Seq("q_id", "match_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", round(col("n_hit") / 3.0, 6))
        .orderBy("q_id")
    },

    // Per-cluster vector stats (norm distribution) — sanity surface for the
    // embedding column itself.
    "q_embed_stats" -> { (s, dir) =>
      vecs(s, dir)
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          round(avg("nrm"), 6).as("avg_norm"),
          round(min("nrm"), 6).as("min_norm"),
          round(max("nrm"), 6).as("max_norm"))
        .orderBy("label")
    },

    // The CQL 5 vector-similarity FUNCTIONS through Spark SQL
    // (FunctionCatalog): similarity_cosine / similarity_euclidean /
    // similarity_dot_product over vector<float> pairs — the scalar-function
    // face of the vector story whose operator face is q_kv_ann_topk. All
    // three bind magic-invoke ArrayData fast paths (codegen-compiled), and
    // score with the same FLOAT→DOUBLE left-to-right arithmetic as
    // graft_dot and the DuckDB oracle. 66 deterministic pairs.
    "q_fn_similarity" -> { (s, dir) =>
      Tables.load(s, dir, "embeddings").filter(col("vec_id") < 12)
        .createOrReplaceTempView("emb_fn")
      s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  round(graftcat.system.similarity_cosine(
              |    a.embedding, b.embedding), 6) AS sim_cos,
              |  round(graftcat.system.similarity_euclidean(
              |    a.embedding, b.embedding), 6) AS sim_euc,
              |  round(graftcat.system.similarity_dot_product(
              |    a.embedding, b.embedding), 6) AS sim_dot
              |FROM emb_fn a JOIN emb_fn b ON a.vec_id < b.vec_id
              |ORDER BY id_a, id_b""".stripMargin)
    },

    // Vector search SERVED BY THE STORE — the Cassandra 5 `vector<float,
    // 64>` + SAI ANN shape (`SELECT ... ORDER BY embedding ANN OF ? LIMIT
    // 10`), on the KV source: the ring is keyed by the coarse cluster
    // (label), and the ANN read options make each split serve its LOCAL
    // top-10 rows by cosine to the query vector — splits×k candidate rows
    // leave the store instead of the corpus (PlanSpec asserts the served
    // cap), exactly how SAI searches per-sstable graphs and merges at the
    // coordinator. The Spark side re-scores the candidates with the native
    // graft_dot and takes the global top-10 — EXACT, because a global
    // winner is by definition inside its own split's local top-10, and the
    // store ranks with the same FLOAT→DOUBLE left-to-right arithmetic as
    // graft_dot and the DuckDB oracle. Query vector = the all-ones
    // direction (deterministic, |q| = 8 exactly). The global-rank window
    // runs over ≤ splits×k = 100 candidate rows, never the corpus.
    "q_kv_ann_topk" -> { (s, dir) =>
      val cand = kvAnnCandidates(s, s"embed_ann:$dir",
        Tables.load(s, dir, "embeddings")
          .select(col("label"), col("vec_id"), col("embedding")), Nil)
      kvAnnTop10(cand, "cosine", "cosine_raw" -> kvAnnCosine)
    },

    // Filtered ANN — Cassandra 5's `WHERE <indexed pred> ORDER BY emb ANN
    // OF ? LIMIT k`: the pushed 2i equality prunes rows BEFORE each
    // split's local top-k, so candidates come only from the matching
    // subset and the union of per-split filtered top-ks provably contains
    // the global filtered top-k (each split contributes ITS best matching
    // rows). The one-ring composition of the SAI read with the ANN read —
    // at 100 TB the filter cuts the candidate scoring, not just the final
    // result.
    "q_kv_ann_filtered" -> { (s, dir) =>
      val cand = kvAnnCandidates(s, s"embed_annf:$dir",
        Tables.load(s, dir, "embeddings")
          .select(col("label"), col("vec_id"), col("embedding"),
            pmod(col("vec_id"), lit(4)).cast("long").as("bucket")),
        Seq("bucket"))
        .filter(col("bucket") === 1)
      kvAnnTop10(cand, "cosine", "cosine_raw" -> kvAnnCosine)
    },

    // the same ANN read under SAI's `similarity_function = 'euclidean'`
    // index option (`annSim`): per-split candidates ranked by
    // 1 / (1 + squared L2 distance) — the store's scoring matches the
    // catalog's similarity_euclidean SQL function and the Spark-side
    // re-score below element-for-element, so the global top-10 is always a
    // subset of the splits' candidate sets
    "q_kv_ann_euclidean" -> { (s, dir) =>
      val cand = kvAnnCandidates(s, s"embed_ann:$dir",
        Tables.load(s, dir, "embeddings")
          .select(col("label"), col("vec_id"), col("embedding")), Nil,
        "annSim" -> "euclidean")
      kvAnnTop10(cand, "sim_euc",
        "d2" -> expr("aggregate(zip_with(qv, v, " +
          "(a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"),
        "euc_raw" -> lit(1.0) / (lit(1.0) + col("d2")))
    },

    // IN-BATCH NEGATIVE SAMPLING — the contrastive-training data prep
    // (CLIP / sentence-transformers): anchors pair with every
    // DIFFERENT-label vector inside their own batch (batch = vec_id div
    // 32, the deterministic analog of a dataloader's shard), so the pair
    // count is ≤B per anchor — LINEAR in the corpus, never all-pairs, and
    // the join is an equi-join on the batch id. Pair hardness readout uses
    // the E15 int8 quantization (floor(x·127/mx + 0.5)) and the native
    // graft_dotl integer dot, so min/max/mean negative similarity are
    // exact integers / exact ratios — the numbers a curriculum scheduler
    // actually consumes. At 100 TB the same plan holds: batches are
    // id-ranges, quantized vectors are 4× cheaper to shuffle.
    "q_negative_sampling" -> { (s, dir) =>
      val q8 = vecs(s, dir)
        .withColumn("mx",
          greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1e-12)))
        .withColumn("qv",
          expr("transform(v, x -> cast(floor(x * 127.0d / mx + 0.5d) as bigint))"))
        .select(col("vec_id"), col("label"), col("qv"),
          expr("vec_id div 32").as("batch"))
      val a = q8.select(col("batch"), col("vec_id").as("aid"),
        col("label").as("albl"), col("qv").as("qa"))
      val b = q8.select(col("batch"), col("label").as("nlbl"),
        col("qv").as("qb"))
      a.join(b, Seq("batch")).filter(col("albl") =!= col("nlbl"))
        .withColumn("dotq", expr("graft_dotl(qa, qb)"))
        .groupBy("batch")
        .agg(countDistinct(col("aid")).as("n_anchors"),
          count(lit(1)).as("n_pairs"),
          min("dotq").as("min_dot"), max("dotq").as("max_dot"),
          sum("dotq").as("sdot"))
        .select(col("batch"), col("n_anchors"), col("n_pairs"),
          col("min_dot"), col("max_dot"),
          round(col("sdot").cast("double") / col("n_pairs"), 6)
            .as("mean_dot"))
        .orderBy("batch")
    },

    // NDCG@10 (Järvelin & Kekäläinen 2002 — the GRADED ranking metric
    // beside q_retrieval_metrics' binary recall/MRR; the number a ranker
    // A/B actually reports): ground truth = the brute-force cosine top-20
    // with declared grades (rank ≤5 → 3, ≤10 → 2, else 1 — relevance from
    // the exact ranking, so no human qrels needed), system = the
    // label-filtered top-20 (the same two rankings q_retrieval_metrics
    // compares). DCG = Σ g/log2(r+1) over the system's top-10, IDCG over
    // the ideal (truth-rank) order — both folds run over rank-SORTED
    // ≤10-element lists (the q_token_entropy float rule; log2 matches
    // libm cross-engine per the q_source_kl precedent). Scale: the
    // corpus-sized work is the two top-k retrievals (broadcast query,
    // TakeOrdered); the metric itself touches ≤20 rows.
    "q_ndcg" -> { (s, dir) =>
      val rel = annTop(s, dir, 20)
        .withColumn("g", when(col("r_ann") <= 5, 3L)
          .when(col("r_ann") <= 10, 2L).otherwise(1L))
      val dcg = sysTop(s, dir).filter(col("r_sys") <= 10)
        .join(rel.select("doc_id", "g"), Seq("doc_id"), "left")
        .withColumn("g", coalesce(col("g"), lit(0L)))
        .agg(sort_array(collect_list(struct(col("r_sys"), col("g"))))
          .as("l"))
        .select(expr(
          """aggregate(l, 0D, (a, p) -> a +
            |CAST(p.g AS DOUBLE) / log2(CAST(p.r_sys AS DOUBLE) + 1.0D))"""
            .stripMargin).as("dcg"))
      val idcg = rel.filter(col("r_ann") <= 10)
        .agg(sort_array(collect_list(struct(col("r_ann"), col("g"))))
          .as("l"))
        .select(expr(
          """aggregate(l, 0D, (a, p) -> a +
            |CAST(p.g AS DOUBLE) / log2(CAST(p.r_ann AS DOUBLE) + 1.0D))"""
            .stripMargin).as("idcg"))
      dcg.crossJoin(idcg)
        .select(round(col("dcg"), 6).as("dcg_at_10"),
          round(col("idcg"), 6).as("idcg_at_10"),
          round(col("dcg") / col("idcg"), 6).as("ndcg_at_10"))
    },

    // k-NN LABEL CLASSIFIER (Cover & Hart 1967 — the eval loop that
    // answers "do these embeddings actually encode the labels?", the
    // standard probe before they feed curriculum or dedup decisions):
    // for each of the 10 query vectors, the 5 nearest neighbors by
    // cosine vote on the label; majority with (votes DESC, label ASC)
    // tie-break — a max-STRUCT aggregation (the q_entity_match shuffle
    // shape: one best-so-far row per query combines map-side, never a
    // vote-table window). Scale: broadcast 10-row query side streamed
    // over the corpus (the q_cosine_topk kernel); votes are ≤50 rows.
    "q_knn_classifier" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("true_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      broadcast(q).join(e, col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("cos").desc, col("vec_id").asc)))
        .filter(col("rn") <= 5)
        .groupBy("q_id", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .groupBy("q_id", "true_label")
        .agg(max(struct(col("votes"),
          (lit(0) - col("label")).as("neg"))).as("best"))
        .select(col("q_id"), col("true_label"),
          (lit(0) - col("best.neg")).as("pred_label"),
          col("best.votes").as("n_votes"),
          (col("true_label") === (lit(0) - col("best.neg")))
            .as("correct"))
        .orderBy("q_id")
    },

    // JOHNSON–LINDENSTRAUSS RANDOM PROJECTION (Achlioptas 2003 — the
    // database-friendly ±1 variant: no Gaussian sampling, the projection
    // matrix IS a hash function, so every executor regenerates any cell
    // on demand and NOTHING is shipped): project 64-dim embeddings to
    // m = 8 with sign(i,j) = parity of the house md5 coin on "i_j",
    // y_i = Σ_j sign·v_j / √m — an ordered left fold over j so both
    // engines add the same doubles in the same order. The audit half
    // pairs consecutive vectors (100 fixed pairs) and reports projected
    // vs original squared distance — E[ratio] = 1 is the JL contract,
    // asserted in OperatorSpec's mean-ratio band. Scale: the projection
    // is one narrow map pass (64·8 fused multiply-adds per row, no
    // shuffle, no matrix broadcast); the audit join is on vec_id+1 —
    // AQE broadcasts the 100-row side. At 100 TB the map pass is the
    // whole story: dimensionality reduction before any O(d) pairwise
    // stage (LSH, clustering) with distances preserved to 1±ε.
    "q_random_projection" -> { (s, dir) =>
      val sign = Pipeline.hExpr("concat(CAST(i AS STRING), '_', CAST(j AS STRING))")
      val e = vecs(s, dir).filter(col("vec_id") < 200)
        .withColumn("y", expr(
          s"""transform(sequence(0, 7), i ->
            |  aggregate(sequence(1, 64), 0D, (a, j) -> a +
            |    (CASE WHEN $sign % 2 = 0
            |      THEN 1.0D ELSE -1.0D END) * element_at(v, j))
            |  / sqrt(8.0D))""".stripMargin))
        .select(col("vec_id"), col("v"), col("y"))
      val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("y").as("ya")).filter(col("id_a") % 2 === 0)
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("y").as("yb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .withColumn("d2o", expr(
          "aggregate(sequence(1, 64), 0D, (a, j) -> a + " +
            "(element_at(va, j) - element_at(vb, j)) * " +
            "(element_at(va, j) - element_at(vb, j)))"))
        .withColumn("d2p", expr(
          "aggregate(sequence(1, 8), 0D, (a, i) -> a + " +
            "(element_at(ya, i) - element_at(yb, i)) * " +
            "(element_at(ya, i) - element_at(yb, i)))"))
        .select(col("id_a"), col("id_b"),
          round(col("d2o"), 6).as("dist_sq_orig"),
          round(col("d2p"), 6).as("dist_sq_proj"),
          // NULL guard on identical vectors: double 0/0 semantics (NULL vs
          // NaN vs Inf) are not guaranteed identical cross-engine — the
          // CASE text is shared verbatim with the oracle
          expr("CASE WHEN d2o = CAST(0 AS DOUBLE) THEN NULL " +
            "ELSE round(d2p / d2o, 6) END").as("ratio"))
        .orderBy("id_a")
    },

    // CONTRASTIVE HARD-NEGATIVE MINING (the triplet-construction job of
    // embedding finetuning — Schroff et al. 2015 FaceNet's semi-hard
    // mining, run as a batch query): for each anchor, the most-similar
    // SAME-label vector is the positive and the most-similar OTHER-label
    // vector is the hard negative; the margin (pos − neg cosine) is the
    // quantity a triplet loss trains to push positive. One broadcast
    // crossJoin scores the corpus once per anchor panel (the exact
    // q_cosine_topk kernel — |anchors| constant, so BroadcastNLJ streams
    // the corpus and cost is linear in it); both extrema fall out of ONE
    // row_number window partitioned by (anchor, same-label?). cosine_raw
    // is the native graft_dot tree (bit-identical both engines); the
    // margin subtracts the raws BEFORE rounding, same tree as the oracle.
    // At index scale the corpus leg swaps for the IVF/LSH candidate
    // streams (q_cosine_topk_ivf / q_embed_neardup_lsh) unchanged.
    "q_hard_negatives" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val w = Window.partitionBy("q_id", "is_pos")
        .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      broadcast(q).crossJoin(e)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("is_pos",
          when(col("label") === col("q_label"), 1).otherwise(0))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("q_id")
        .agg(first("q_label").as("label"),
          max(when(col("is_pos") === 1, col("vec_id"))).as("pos_id"),
          max(when(col("is_pos") === 1, col("cosine_raw"))).as("pos_raw"),
          max(when(col("is_pos") === 0, col("vec_id"))).as("neg_id"),
          max(when(col("is_pos") === 0, col("cosine_raw"))).as("neg_raw"))
        .select(col("q_id"), col("label"), col("pos_id"), col("neg_id"),
          round(col("pos_raw"), 6).as("pos_cos"),
          round(col("neg_raw"), 6).as("neg_cos"),
          round(col("pos_raw") - col("neg_raw"), 6).as("margin"))
        .orderBy("q_id")
    },

    // kNN LABEL-NOISE AUDIT (confident-learning flavor — Northcutt et
    // al. 2021: a label whose nearest neighbors vote for a different
    // class is a candidate annotation error; the pre-training audit that
    // keeps mislabeled examples out of a finetune set). A FIXED 100-
    // anchor probe panel (audits sample a panel, they don't score the
    // corpus — that keeps the query linear in corpus size) takes its
    // k=5 cosine neighbors from the full corpus, the neighbor majority
    // (ties → smaller label, exact integer counts) is compared to the
    // anchor's own label, and the per-label disagreement rate is the
    // noise estimate. Votes/majorities/rates are exact integer
    // arithmetic — the one division is the final rate, rounded.
    "q_label_noise_knn" -> { (s, dir) =>
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 100)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      val wN = Window.partitionBy("q_id")
        .orderBy(col("cosine_raw").desc, col("vec_id").asc)
      val knn = broadcast(q).crossJoin(e)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine_raw", expr(dot) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(wN))
        .filter(col("rn") <= 5)
      val votes = knn.groupBy("q_id", "q_label", "label")
        .agg(count(lit(1)).as("n_vote"))
      val wV = Window.partitionBy("q_id")
        .orderBy(col("n_vote").desc, col("label").asc)
      votes.withColumn("rv", row_number().over(wV))
        .filter(col("rv") === 1)
        .groupBy("q_label")
        .agg(count(lit(1)).as("n_audited"),
          sum(when(col("label") =!= col("q_label"), 1L).otherwise(0L))
            .as("n_flagged"),
          sum(col("n_vote")).as("majority_votes"))
        .select(col("q_label").as("label"), col("n_audited"),
          col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_audited"), 6)
            .as("noise_rate"),
          round(col("majority_votes").cast("double") /
            (lit(5.0) * col("n_audited")), 6).as("avg_majority_share"))
        .orderBy("label")
    })

  // ----------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE: vectors widened to DOUBLE[] with norms. */
  private val vecsSql =
    """SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |  sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |FROM embeddings""".stripMargin

  private val dotSql =
    "list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))"

  /** Full-precision top-3 — also the baseline side of q_quantize_recall. */
  private val cosineTopkSql =
    s"""WITH e AS ($vecsSql),
      |r AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS match_id,
      |    $dotSql / (q.nrm * c.nrm) AS cosine_raw,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY $dotSql / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id)
      |SELECT q_id, match_id, round(cosine_raw, 6) AS cosine, CAST(rn AS INT) AS rn
      |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  /** Int8 top-3 — also the probe side of q_quantize_recall. */
  private val quantizeSql =
    s"""WITH e AS ($vecsSql),
      |m AS (
      |  SELECT vec_id,
      |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS mx, v
      |  FROM e),
      |q8 AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS qv
      |  FROM m),
      |qn AS (
      |  SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      |  FROM q8),
      |r AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS match_id,
      |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> q.qv[i] * c.qv[i])) AS BIGINT) AS dotq,
      |    list_sum(list_transform(range(1, len(q.qv) + 1),
      |      i -> q.qv[i] * c.qv[i])) / sqrt(CAST(q.n2 * c.n2 AS DOUBLE))
      |      AS qcos_raw
      |  FROM qn q JOIN qn c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |t AS (
      |  SELECT q_id, match_id, dotq, qcos_raw,
      |    row_number() OVER (PARTITION BY q_id
      |      ORDER BY qcos_raw DESC, match_id ASC) AS rn
      |  FROM r)
      |SELECT q_id, match_id, dotq, round(qcos_raw, 6) AS qcosine,
      |  CAST(rn AS INT) AS rn
      |FROM t WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  private val neardupSql =
    s"""WITH e AS ($vecsSql),
      |h AS (
      |  SELECT vec_id, band,
      |    list_sum(list_transform(range(0, 16), j ->
      |      CASE WHEN list_sum(list_transform(range(0, 64), i -> v[i + 1] *
      |          (CASE WHEN ((1103515245 * (64*(16*band + j) + i) + 12345) >> 16) & 1 = 1
      |                THEN 1.0 ELSE -1.0 END))) >= 0
      |           THEN (1 << j) ELSE 0 END))::BIGINT AS code
      |  FROM e, (VALUES (0), (1), (2), (3)) b(band)),
      |hf AS (
      |  SELECT vec_id, band, code FROM (
      |    SELECT vec_id, band, code,
      |      count(*) OVER (PARTITION BY band, code) AS bn
      |    FROM h) WHERE bn <= ${Pipeline.BucketCap}),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM hf x JOIN hf y
      |    ON x.band = y.band AND x.code = y.code AND x.vec_id < y.vec_id),
      |p AS (
      |  SELECT vec_a, vec_b,
      |    round($dotSql / (q.nrm * c.nrm), 6) AS cosine
      |  FROM cand JOIN e q ON q.vec_id = vec_a JOIN e c ON c.vec_id = vec_b)
      |SELECT vec_a, vec_b, cosine FROM p
      |WHERE cosine >= 0.2 ORDER BY vec_a, vec_b""".stripMargin

  /** q_graph_ann's oracle: the same hub clique + capped banded top-M graph
    * and the same 6 unrolled beam rounds (frontier ∪ expansion → top-B by
    * the identical raw-double cosine order). `e`, `ed` and each `f$r` are
    * MATERIALIZED: each is referenced more than once (every beam round
    * reads the previous one twice), and inlined they ran out of memory. */
  private val graphAnnSql: String = {
    val dotQN = "list_sum(list_transform(range(1, 65), " +
      "i -> q.v[i] * n.v[i])) / (q.nrm * n.nrm)"
    val roundsSql = (1 to 6).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT q_id, node, cos FROM (
         |    SELECT s.*, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, node ASC) AS rn
         |    FROM (
         |      SELECT u.q_id, u.node, $dotQN AS cos
         |      FROM (
         |        SELECT q_id, node FROM f${r - 1}
         |        UNION
         |        SELECT f.q_id, ed.dst AS node
         |        FROM f${r - 1} f JOIN ed ON ed.src = f.node) u
         |      JOIN e n ON n.vec_id = u.node
         |      JOIN q ON q.q_id = u.q_id
         |      WHERE u.node <> u.q_id) s) WHERE rn <= 16)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($vecsSql),
       |h AS (
       |  SELECT vec_id, band,
       |    list_sum(list_transform(range(0, 16), j ->
       |      CASE WHEN list_sum(list_transform(range(0, 64), i -> v[i + 1] *
       |          (CASE WHEN ((1103515245 * (64*(16*band + j) + i) + 12345) >> 16) & 1 = 1
       |                THEN 1.0 ELSE -1.0 END))) >= 0
       |           THEN (1 << j) ELSE 0 END))::BIGINT AS code
       |  FROM e, (VALUES (0), (1), (2), (3)) b(band)),
       |hl AS (
       |  SELECT vec_id, band, lv.bits, code // lv.dv AS pcode
       |  FROM h, (VALUES (16, 1), (8, 256), (4, 4096)) lv(bits, dv)),
       |hf AS (
       |  SELECT vec_id, band, bits, pcode FROM (
       |    SELECT vec_id, band, bits, pcode,
       |      count(*) OVER (PARTITION BY band, bits, pcode) AS bn
       |    FROM hl) WHERE bn <= ${Pipeline.BucketCap}),
       |nb AS (
       |  SELECT src, dst FROM (
       |    SELECT c.src, c.dst,
       |      row_number() OVER (PARTITION BY c.src ORDER BY
       |        list_sum(list_transform(range(1, 65),
       |          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) DESC,
       |        c.dst ASC) AS rn
       |    FROM (
       |      SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |      FROM hf x JOIN hf y
       |        ON x.band = y.band AND x.bits = y.bits
       |          AND x.pcode = y.pcode AND x.vec_id <> y.vec_id) c
       |    JOIN e a ON a.vec_id = c.src
       |    JOIN e b ON b.vec_id = c.dst) WHERE rn <= 8),
       |hub AS (SELECT vec_id FROM e WHERE vec_id >= 100 AND vec_id < 116),
       |ed AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst FROM nb
       |    UNION
       |    SELECT a.vec_id, b.vec_id FROM hub a CROSS JOIN hub b
       |    WHERE a.vec_id <> b.vec_id) t),
       |q AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id < 10),
       |f0 AS (
       |  SELECT q_id, node, cos FROM (
       |    SELECT s.*, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, node ASC) AS rn
       |    FROM (
       |      SELECT q.q_id, n.vec_id AS node, $dotQN AS cos
       |      FROM q JOIN e n ON n.vec_id >= 100 AND n.vec_id < 116) s)
       |  WHERE rn = 1),
       |$roundsSql,
       |res AS (
       |  SELECT q_id, node, cos,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, node ASC) AS rn
       |  FROM f6),
       |truth AS (
       |  SELECT q_id, match_id FROM (
       |    SELECT tq.vec_id AS q_id, c.vec_id AS match_id,
       |      row_number() OVER (PARTITION BY tq.vec_id
       |        ORDER BY list_sum(list_transform(range(1, 65),
       |          i -> tq.v[i] * c.v[i])) / (tq.nrm * c.nrm) DESC,
       |        c.vec_id ASC) AS rn
       |    FROM e tq JOIN e c ON tq.vec_id < 10 AND c.vec_id <> tq.vec_id)
       |  WHERE rn <= 3)
       |SELECT r.q_id, CAST(r.rn AS INT) AS rn, r.node AS match_id,
       |  round(r.cos, 6) AS cosine,
       |  (t.match_id IS NOT NULL) AS in_exact_top3
       |FROM res r LEFT JOIN truth t
       |  ON t.q_id = r.q_id AND t.match_id = r.node
       |WHERE r.rn <= 3
       |ORDER BY r.q_id, r.rn""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_graph_ann" -> graphAnnSql,

    // same broadcast-scored corpus, same (anchor, same-label?) extrema,
    // same raw-before-round margin subtraction
    "q_hard_negatives" ->
      s"""WITH e AS ($vecsSql),
        |sc AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
        |    $dotSql / (q.nrm * c.nrm) AS cosine_raw,
        |    CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS is_pos
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |top AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id, is_pos
        |      ORDER BY cosine_raw DESC, vec_id ASC) AS rn FROM sc)
        |  WHERE rn = 1),
        |g AS (
        |  SELECT q_id, MIN(q_label) AS label,
        |    MAX(CASE WHEN is_pos = 1 THEN vec_id END) AS pos_id,
        |    MAX(CASE WHEN is_pos = 1 THEN cosine_raw END) AS pos_raw,
        |    MAX(CASE WHEN is_pos = 0 THEN vec_id END) AS neg_id,
        |    MAX(CASE WHEN is_pos = 0 THEN cosine_raw END) AS neg_raw
        |  FROM top GROUP BY q_id)
        |SELECT q_id, label, pos_id, neg_id,
        |  round(pos_raw, 6) AS pos_cos, round(neg_raw, 6) AS neg_cos,
        |  round(pos_raw - neg_raw, 6) AS margin
        |FROM g ORDER BY q_id""".stripMargin,

    // same 100-anchor panel, same k=5 window, same exact-count majority
    // with the (votes DESC, label ASC) tiebreak
    "q_label_noise_knn" ->
      s"""WITH e AS ($vecsSql),
        |knn AS (
        |  SELECT * FROM (
        |    SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id, c.label,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY $dotSql / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
        |    FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id <> q.vec_id)
        |  WHERE rn <= 5),
        |votes AS (
        |  SELECT q_id, q_label, label, COUNT(*) AS n_vote
        |  FROM knn GROUP BY 1, 2, 3),
        |maj AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY n_vote DESC, label ASC) AS rv FROM votes)
        |  WHERE rv = 1)
        |SELECT q_label AS label, COUNT(*) AS n_audited,
        |  CAST(SUM(CASE WHEN label <> q_label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  round(SUM(CASE WHEN label <> q_label THEN 1 ELSE 0 END)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS noise_rate,
        |  round(SUM(n_vote) / (5.0 * COUNT(*)), 6) AS avg_majority_share
        |FROM maj GROUP BY q_label ORDER BY label""".stripMargin,
    // same two rankings as q_retrieval_metrics, same declared grades,
    // same rank-sorted log2 folds
    "q_ndcg" ->
      s"""WITH e AS ($vecsSql),
        |truth0 AS (
        |  SELECT c.vec_id AS doc_id, $dotSql / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 20),
        |rel AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_ann,
        |    CASE WHEN row_number() OVER (ORDER BY cos DESC, doc_id ASC)
        |        <= 5 THEN 3
        |      WHEN row_number() OVER (ORDER BY cos DESC, doc_id ASC)
        |        <= 10 THEN 2 ELSE 1 END AS g
        |  FROM truth0),
        |sys0 AS (
        |  SELECT c.vec_id AS doc_id, $dotSql / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |    AND c.label = q.label
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 20),
        |sys AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_sys
        |  FROM sys0),
        |ds AS (
        |  SELECT s.r_sys, COALESCE(t.g, 0) AS g
        |  FROM sys s LEFT JOIN rel t USING (doc_id) WHERE s.r_sys <= 10),
        |dl AS (SELECT list(struct_pack(r_sys := r_sys, g := g)
        |    ORDER BY r_sys) AS l FROM ds),
        |dc AS (SELECT list_reduce(list_concat([0.0::DOUBLE],
        |    list_transform(dl.l, p -> p.g::DOUBLE /
        |      log2(p.r_sys::DOUBLE + 1.0::DOUBLE))),
        |    (a, x) -> a + x) AS dcg FROM dl),
        |il AS (SELECT list(struct_pack(r_ann := r_ann, g := g)
        |    ORDER BY r_ann) AS l FROM rel WHERE r_ann <= 10),
        |ic AS (SELECT list_reduce(list_concat([0.0::DOUBLE],
        |    list_transform(il.l, p -> p.g::DOUBLE /
        |      log2(p.r_ann::DOUBLE + 1.0::DOUBLE))),
        |    (a, x) -> a + x) AS idcg FROM il)
        |SELECT round(dcg, 6) AS dcg_at_10, round(idcg, 6) AS idcg_at_10,
        |  round(dcg / idcg, 6) AS ndcg_at_10
        |FROM dc CROSS JOIN ic""".stripMargin,

    // same 5-NN cosine votes; the oracle's row_number over (votes DESC,
    // label ASC) is provably the same total order as the max-struct
    "q_knn_classifier" ->
      s"""WITH e AS ($vecsSql),
        |nb AS (
        |  SELECT q.vec_id AS q_id, q.label AS true_label, c.label,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY $dotSql / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
        |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |v AS (
        |  SELECT q_id, true_label, label, COUNT(*) AS votes
        |  FROM nb WHERE rn <= 5 GROUP BY q_id, true_label, label),
        |b AS (
        |  SELECT q_id, true_label, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY votes DESC, label ASC) AS brn
        |  FROM v)
        |SELECT q_id, true_label, pred_label, votes AS n_votes,
        |  true_label = pred_label AS correct
        |FROM b WHERE brn = 1 ORDER BY q_id""".stripMargin,

    "q_cosine_topk" -> cosineTopkSql,

    // replays the brute top-20 (truth) and the label-pruned top-20 (sys)
    // for vec 0, then the identical rank-prefix metrics
    "q_retrieval_metrics" ->
      s"""WITH e AS ($vecsSql),
        |truth0 AS (
        |  SELECT c.vec_id AS doc_id, $dotSql / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 20),
        |truth AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_ann
        |  FROM truth0),
        |sys0 AS (
        |  SELECT c.vec_id AS doc_id, $dotSql / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |    AND c.label = q.label
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 20),
        |sys AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_sys
        |  FROM sys0),
        |j AS (SELECT t.doc_id, t.r_ann, s.r_sys
        |      FROM truth t LEFT JOIN sys s USING (doc_id))
        |SELECT COUNT(*) AS n_truth,
        |  round(CAST(SUM(CASE WHEN r_ann <= 5 AND r_sys <= 5
        |    THEN 1 ELSE 0 END) AS DOUBLE) / 5, 6) AS recall_at_5,
        |  round(CAST(SUM(CASE WHEN r_ann <= 10 AND r_sys <= 10
        |    THEN 1 ELSE 0 END) AS DOUBLE) / 10, 6) AS recall_at_10,
        |  round(CAST(SUM(CASE WHEN r_sys <= 20
        |    THEN 1 ELSE 0 END) AS DOUBLE) / 20, 6) AS recall_at_20,
        |  round(COALESCE(1.0::DOUBLE / MAX(CASE WHEN r_ann = 1
        |    THEN r_sys END), 0), 6) AS mrr
        |FROM j""".stripMargin,

    // replays every prefix tier's sliced-norm top-10 and the overlap
    "q_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |t(dims) AS (VALUES (8), (16), (32), (64)),
        |n AS (SELECT t.dims, e.vec_id, e.v[1:t.dims] AS v,
        |        sqrt(list_sum(list_transform(e.v[1:t.dims], x -> x * x)))
        |          AS nrm
        |      FROM e CROSS JOIN t),
        |r AS (SELECT q.dims, c.vec_id AS doc_id,
        |        list_sum(list_transform(range(1, len(q.v) + 1),
        |          i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
        |      FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0
        |        AND q.dims = c.dims),
        |topd AS (SELECT dims, doc_id, row_number() OVER (PARTITION BY dims
        |           ORDER BY cos DESC, doc_id ASC) AS rn FROM r),
        |tt AS (SELECT doc_id FROM topd WHERE dims = 64 AND rn <= 10),
        |h AS (SELECT s.dims, COUNT(*) AS n_hit
        |      FROM topd s JOIN tt USING (doc_id) WHERE s.rn <= 10
        |      GROUP BY s.dims)
        |SELECT t.dims, COALESCE(h.n_hit, 0) AS n_hit,
        |  round(COALESCE(h.n_hit, 0)::DOUBLE / 10, 6) AS recall_at_10
        |FROM t LEFT JOIN h USING (dims) ORDER BY t.dims""".stripMargin,

    // replays the top-20 retrieval, the K·(K−1) pairwise cosines, and the
    // 5 greedy MMR rounds with growing selected-set CTEs (λ = 0.5 written
    // as 0.5::DOUBLE — the DECIMAL-literal trap); MAX over identical IEEE
    // sims is order-independent, so the selection sequence is bit-equal
    "q_mmr_rerank" ->
      s"""WITH e AS ($vecsSql),
        |c0 AS (
        |  SELECT c.vec_id AS doc_id, $dotSql / (q.nrm * c.nrm) AS rel,
        |    c.v AS v, c.nrm AS nrm
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |  ORDER BY rel DESC, c.vec_id ASC LIMIT 20),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS sim
        |  FROM c0 a JOIN c0 b ON a.doc_id <> b.doc_id),
        |s1 AS (SELECT doc_id, rel, 0.5::DOUBLE * rel AS score FROM c0
        |       ORDER BY rel DESC, doc_id ASC LIMIT 1),
        |sel1 AS (SELECT doc_id FROM s1),
        |s2 AS (SELECT c.doc_id, c.rel,
        |         0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(p.sim) AS score
        |       FROM c0 c JOIN p ON p.da = c.doc_id
        |         AND p.db IN (SELECT doc_id FROM sel1)
        |       WHERE c.doc_id NOT IN (SELECT doc_id FROM sel1)
        |       GROUP BY c.doc_id, c.rel
        |       ORDER BY score DESC, c.doc_id ASC LIMIT 1),
        |sel2 AS (SELECT doc_id FROM sel1 UNION ALL SELECT doc_id FROM s2),
        |s3 AS (SELECT c.doc_id, c.rel,
        |         0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(p.sim) AS score
        |       FROM c0 c JOIN p ON p.da = c.doc_id
        |         AND p.db IN (SELECT doc_id FROM sel2)
        |       WHERE c.doc_id NOT IN (SELECT doc_id FROM sel2)
        |       GROUP BY c.doc_id, c.rel
        |       ORDER BY score DESC, c.doc_id ASC LIMIT 1),
        |sel3 AS (SELECT doc_id FROM sel2 UNION ALL SELECT doc_id FROM s3),
        |s4 AS (SELECT c.doc_id, c.rel,
        |         0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(p.sim) AS score
        |       FROM c0 c JOIN p ON p.da = c.doc_id
        |         AND p.db IN (SELECT doc_id FROM sel3)
        |       WHERE c.doc_id NOT IN (SELECT doc_id FROM sel3)
        |       GROUP BY c.doc_id, c.rel
        |       ORDER BY score DESC, c.doc_id ASC LIMIT 1),
        |sel4 AS (SELECT doc_id FROM sel3 UNION ALL SELECT doc_id FROM s4),
        |s5 AS (SELECT c.doc_id, c.rel,
        |         0.5::DOUBLE * c.rel - 0.5::DOUBLE * MAX(p.sim) AS score
        |       FROM c0 c JOIN p ON p.da = c.doc_id
        |         AND p.db IN (SELECT doc_id FROM sel4)
        |       WHERE c.doc_id NOT IN (SELECT doc_id FROM sel4)
        |       GROUP BY c.doc_id, c.rel
        |       ORDER BY score DESC, c.doc_id ASC LIMIT 1)
        |SELECT * FROM (
        |  SELECT 1 AS sel_rank, doc_id, round(rel, 6) AS rel,
        |    round(score, 6) AS mmr_score FROM s1
        |  UNION ALL SELECT 2, doc_id, round(rel, 6), round(score, 6) FROM s2
        |  UNION ALL SELECT 3, doc_id, round(rel, 6), round(score, 6) FROM s3
        |  UNION ALL SELECT 4, doc_id, round(rel, 6), round(score, 6) FROM s4
        |  UNION ALL SELECT 5, doc_id, round(rel, 6), round(score, 6) FROM s5)
        |ORDER BY sel_rank""".stripMargin,

    "q_cosine_topk_ivf" ->
      s"""WITH e AS ($vecsSql),
        |r AS (
        |  SELECT q.vec_id AS q_id, q.label AS q_label, c.vec_id AS match_id,
        |    $dotSql / (q.nrm * c.nrm) AS cosine_raw,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY $dotSql / (q.nrm * c.nrm) DESC, c.vec_id ASC) AS rn
        |  FROM e q JOIN e c ON q.vec_id < 10 AND q.label = c.label
        |    AND c.vec_id <> q.vec_id)
        |SELECT q_id, q_label, match_id, round(cosine_raw, 6) AS cosine,
        |  CAST(rn AS INT) AS rn
        |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,

    // Unrolled Lloyd (2 rounds + final assignment): cN are the integer
    // centroids after round N, dN/aN the exact-integer distances/argmin
    // assignment against c(N-1). Arithmetic is integer end-to-end (list
    // indexing 1-based here vs posexplode 0-based there; checksum weights
    // j align as (j+1)·cent_j).
    "q_kmeans_ivf" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cluster, x AS cent
        |       FROM x WHERE vec_id < 10),
        |d1 AS (SELECT x.vec_id, c.cluster, CAST(list_sum(list_transform(
        |    range(1, 65), j -> (x.x[j]-c.cent[j])*(x.x[j]-c.cent[j])))
        |    AS BIGINT) AS num FROM x, c0 c),
        |a1 AS (SELECT vec_id, cluster, num FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY num, cluster) AS rn FROM d1) WHERE rn = 1),
        |s1 AS (SELECT a1.cluster, t.j, SUM(x.x[t.j]) AS sj, COUNT(*) AS cnt
        |  FROM a1 JOIN x USING (vec_id), range(1, 65) AS t(j)
        |  GROUP BY a1.cluster, t.j),
        |c1 AS (SELECT cluster,
        |  list(CAST(floor(sj * 1.0 / cnt) AS BIGINT) ORDER BY j) AS cent
        |  FROM s1 GROUP BY cluster),
        |d2 AS (SELECT x.vec_id, c.cluster, CAST(list_sum(list_transform(
        |    range(1, 65), j -> (x.x[j]-c.cent[j])*(x.x[j]-c.cent[j])))
        |    AS BIGINT) AS num FROM x, c1 c),
        |a2 AS (SELECT vec_id, cluster, num FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY num, cluster) AS rn FROM d2) WHERE rn = 1),
        |s2 AS (SELECT a2.cluster, t.j, SUM(x.x[t.j]) AS sj, COUNT(*) AS cnt
        |  FROM a2 JOIN x USING (vec_id), range(1, 65) AS t(j)
        |  GROUP BY a2.cluster, t.j),
        |c2 AS (SELECT cluster,
        |  list(CAST(floor(sj * 1.0 / cnt) AS BIGINT) ORDER BY j) AS cent
        |  FROM s2 GROUP BY cluster),
        |d3 AS (SELECT x.vec_id, c.cluster, CAST(list_sum(list_transform(
        |    range(1, 65), j -> (x.x[j]-c.cent[j])*(x.x[j]-c.cent[j])))
        |    AS BIGINT) AS num FROM x, c2 c),
        |a3 AS (SELECT vec_id, cluster, num FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY num, cluster) AS rn FROM d3) WHERE rn = 1),
        |ck AS (SELECT cluster, CAST(list_sum(list_transform(range(1, 65),
        |    j -> j * cent[j])) AS BIGINT) AS checksum FROM c2)
        |SELECT a3.cluster, COUNT(*) AS n_vecs,
        |  CAST(SUM(a3.num) AS BIGINT) AS inertia, ck.checksum
        |FROM a3 JOIN ck USING (cluster)
        |GROUP BY a3.cluster, ck.checksum
        |ORDER BY cluster""".stripMargin,

    // Gonzalez greedy unrolled: c1 = seed, p_r = farthest-from-set argmax,
    // m_r folds the new center into the running min via least() — exactly
    // the engine's per-round min-over-centers on exact bigint distances
    "q_kcenter_select" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |c1 AS (SELECT vec_id, x FROM x ORDER BY vec_id LIMIT 1),
        |m1 AS (SELECT x.vec_id, CAST(list_sum(list_transform(range(1, 65),
        |    j -> (x.x[j]-c.x[j])*(x.x[j]-c.x[j]))) AS BIGINT) AS mind
        |  FROM x, c1 c),
        |p2 AS (SELECT vec_id, mind FROM m1
        |       ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |c2 AS (SELECT x.vec_id, x.x FROM x JOIN p2 USING (vec_id)),
        |m2 AS (SELECT x.vec_id, least(m1.mind,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-c.x[j])*(x.x[j]-c.x[j]))) AS BIGINT)) AS mind
        |  FROM x JOIN m1 USING (vec_id), c2 c),
        |p3 AS (SELECT vec_id, mind FROM m2
        |       ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |c3 AS (SELECT x.vec_id, x.x FROM x JOIN p3 USING (vec_id)),
        |m3 AS (SELECT x.vec_id, least(m2.mind,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-c.x[j])*(x.x[j]-c.x[j]))) AS BIGINT)) AS mind
        |  FROM x JOIN m2 USING (vec_id), c3 c),
        |p4 AS (SELECT vec_id, mind FROM m3
        |       ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |c4 AS (SELECT x.vec_id, x.x FROM x JOIN p4 USING (vec_id)),
        |m4 AS (SELECT x.vec_id, least(m3.mind,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-c.x[j])*(x.x[j]-c.x[j]))) AS BIGINT)) AS mind
        |  FROM x JOIN m3 USING (vec_id), c4 c),
        |p5 AS (SELECT vec_id, mind FROM m4
        |       ORDER BY mind DESC, vec_id ASC LIMIT 1),
        |c5 AS (SELECT x.vec_id, x.x FROM x JOIN p5 USING (vec_id)),
        |sel AS (
        |  SELECT CAST(1 AS INT) AS sel_rank, vec_id,
        |    CAST(0 AS BIGINT) AS sel_dist FROM c1
        |  UNION ALL SELECT 2, vec_id, mind FROM p2
        |  UNION ALL SELECT 3, vec_id, mind FROM p3
        |  UNION ALL SELECT 4, vec_id, mind FROM p4
        |  UNION ALL SELECT 5, vec_id, mind FROM p5),
        |cents AS (
        |  SELECT CAST(1 AS INT) AS ci, x FROM c1
        |  UNION ALL SELECT 2, x FROM c2
        |  UNION ALL SELECT 3, x FROM c3
        |  UNION ALL SELECT 4, x FROM c4
        |  UNION ALL SELECT 5, x FROM c5),
        |ad AS (SELECT x.vec_id, c.ci, CAST(list_sum(list_transform(
        |    range(1, 65), j -> (x.x[j]-c.x[j])*(x.x[j]-c.x[j])))
        |    AS BIGINT) AS d FROM x, cents c),
        |asg AS (SELECT vec_id, ci, d FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d, ci) AS rn FROM ad) WHERE rn = 1),
        |cell AS (SELECT ci, COUNT(*) AS n_cell,
        |    CAST(MAX(d) AS BIGINT) AS radius
        |  FROM asg GROUP BY ci)
        |SELECT s.sel_rank, s.vec_id, s.sel_dist,
        |  COALESCE(cell.n_cell, 0) AS n_cell,
        |  COALESCE(cell.radius, 0) AS radius
        |FROM sel s LEFT JOIN cell ON cell.ci = s.sel_rank
        |ORDER BY s.sel_rank""".stripMargin,

    // Same exact-integer PQ pipeline: subspace slices are 1-based list
    // slices x[m·16+1 : m·16+16]; encode argmin via row_number (result-
    // equivalent to the engine's min_by aggregate under the same (d, c)
    // tie-break); `ed` doubles as encode input and ADC lookup table.
    // full IVFPQ replay: coarse argmin + residuals, shared residual
    // codebook, nprobe=2 query LUTs, ADC restricted to probed lists,
    // recall vs the unpruned exact top-3 — all exact bigint
    // same parity snapshots, same exact per-(label, dim) sums, same
    // sorted 64-term folds and shared centroid trees
    "q_embedding_drift" ->
      """WITH x AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |e AS (
        |  SELECT CAST(vec_id % 2 AS INT) AS snap, label, t.j, x[t.j] AS xj
        |  FROM x, range(1, 65) t(j)),
        |p AS (
        |  SELECT label, j,
        |    CAST(SUM(CASE WHEN snap = 0 THEN xj ELSE 0 END) AS BIGINT)
        |      AS sa,
        |    CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS na,
        |    CAST(SUM(CASE WHEN snap = 1 THEN xj ELSE 0 END) AS BIGINT)
        |      AS sb,
        |    CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM e GROUP BY label, j),
        |t2 AS (
        |  SELECT label, na, nb,
        |    (CAST(sa AS DOUBLE) / na) AS ca,
        |    (CAST(sb AS DOUBLE) / nb) AS cb
        |  FROM p WHERE na > 0 AND nb > 0),
        |g AS (
        |  SELECT label, CAST(MIN(na) AS BIGINT) AS n_a,
        |    CAST(MIN(nb) AS BIGINT) AS n_b,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list((ca - cb) * (ca - cb)))), (a, v) -> a + v)
        |      AS s2,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(ca * cb))), (a, v) -> a + v) AS sab,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(ca * ca))), (a, v) -> a + v) AS saa,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(cb * cb))), (a, v) -> a + v) AS sbb
        |  FROM t2 GROUP BY label)
        |SELECT label, n_a, n_b,
        |  round(sqrt(s2), 6) AS l2_shift_milli,
        |  CASE WHEN saa > 0.0::DOUBLE AND sbb > 0.0::DOUBLE
        |    THEN round(sab / sqrt(saa * sbb), 6) END AS cos_centroids
        |FROM g ORDER BY label""".stripMargin,

    // same quantized exact-bigint distances and (d, id) tiebreaks, same
    // 4-value probe grid, same fixed-denominator universe
    "q_nprobe_sweep" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |co AS (SELECT CAST(vec_id AS INT) AS ci, x AS ccent
        |  FROM x WHERE vec_id < 8),
        |ad AS (SELECT x.vec_id, co.ci, x.x,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-co.ccent[j])*(x.x[j]-co.ccent[j]))) AS BIGINT)
        |      AS d
        |  FROM x, co),
        |asg AS (SELECT vec_id, ci, x FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d, ci) AS rn FROM ad) WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, x AS qx FROM x WHERE vec_id < 10),
        |ex AS (SELECT q_id, vec_id FROM (
        |  SELECT q.q_id, x.vec_id, row_number() OVER (PARTITION BY q.q_id
        |    ORDER BY CAST(list_sum(list_transform(range(1, 65),
        |      j -> (q.qx[j]-x.x[j])*(q.qx[j]-x.x[j]))) AS BIGINT),
        |      x.vec_id) AS rn
        |  FROM q, x WHERE x.vec_id <> q.q_id) WHERE rn <= 3),
        |qc AS (SELECT q_id, qx, ci, row_number() OVER (PARTITION BY q_id
        |    ORDER BY d, ci) AS crank FROM (
        |  SELECT q.q_id, q.qx, co.ci,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (q.qx[j]-co.ccent[j])*(q.qx[j]-co.ccent[j]))) AS BIGINT)
        |      AS d
        |  FROM q, co) z),
        |pr AS (SELECT q_id, qx, ci, crank, t.np
        |  FROM qc, (SELECT unnest([1, 2, 4, 8]) AS np) t
        |  WHERE crank <= t.np),
        |cd AS (SELECT pr.q_id, pr.np, a.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (pr.qx[j]-a.x[j])*(pr.qx[j]-a.x[j]))) AS BIGINT) AS d
        |  FROM pr JOIN asg a USING (ci) WHERE a.vec_id <> pr.q_id),
        |uni AS (SELECT DISTINCT q_id, np FROM pr),
        |st AS (SELECT q_id, np, COUNT(*) AS n_scanned
        |  FROM cd GROUP BY q_id, np),
        |hp AS (
        |  SELECT r.q_id, r.np, COUNT(*) AS hits FROM (
        |    SELECT q_id, np, vec_id,
        |      row_number() OVER (PARTITION BY q_id, np
        |        ORDER BY d, vec_id) AS rn
        |    FROM cd) r
        |  JOIN ex ON ex.q_id = r.q_id AND ex.vec_id = r.vec_id
        |  WHERE r.rn <= 3 GROUP BY r.q_id, r.np)
        |SELECT CAST(np AS BIGINT) AS nprobe, COUNT(*) AS n_queries,
        |  round(SUM(COALESCE(n_scanned, 0))::DOUBLE / COUNT(*), 6)
        |    AS avg_scanned,
        |  round(SUM(COALESCE(hits, 0))::DOUBLE /
        |    (3.0::DOUBLE * COUNT(*)), 6) AS recall_at_3
        |FROM uni LEFT JOIN st USING (q_id, np) LEFT JOIN hp USING (q_id, np)
        |GROUP BY np ORDER BY nprobe""".stripMargin,

    "q_ivf_pq" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |co AS (SELECT CAST(vec_id AS INT) AS ci, x AS ccent
        |  FROM x WHERE vec_id < 8),
        |ad AS (SELECT x.vec_id, co.ci, x.x, co.ccent,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-co.ccent[j])*(x.x[j]-co.ccent[j]))) AS BIGINT) AS d
        |  FROM x, co),
        |asg AS (SELECT vec_id, ci,
        |    list_transform(range(1, 65), j -> x[j]-ccent[j]) AS res
        |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY d, ci) AS rn FROM ad) WHERE rn = 1),
        |subs AS (SELECT vec_id, ci, t.m, res[t.m*16+1 : t.m*16+16] AS sx
        |  FROM asg, range(0, 4) t(m)),
        |cb AS (SELECT m, CAST(vec_id AS INT) AS c, sx AS cent
        |  FROM subs WHERE vec_id < 16),
        |ed AS (SELECT s.vec_id, s.ci, s.m, cb.c,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      j -> (s.sx[j]-cb.cent[j])*(s.sx[j]-cb.cent[j]))) AS BIGINT) AS d
        |  FROM subs s JOIN cb USING (m)),
        |enc AS (SELECT vec_id, ci, m, c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |    ORDER BY d, c) AS rn FROM ed) WHERE rn = 1),
        |qd0 AS (SELECT x.vec_id AS q_id, co.ci,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (x.x[j]-co.ccent[j])*(x.x[j]-co.ccent[j]))) AS BIGINT) AS d,
        |    list_transform(range(1, 65), j -> x.x[j]-co.ccent[j]) AS qres
        |  FROM x, co WHERE x.vec_id < 10),
        |qa AS (SELECT q_id, ci, qres FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY d, ci) AS rn FROM qd0) WHERE rn <= 2),
        |qsub AS (SELECT q_id, ci, t.m, qres[t.m*16+1 : t.m*16+16] AS qsx
        |  FROM qa, range(0, 4) t(m)),
        |lut AS (SELECT q.q_id, q.ci, q.m, cb.c,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      j -> (q.qsx[j]-cb.cent[j])*(q.qsx[j]-cb.cent[j]))) AS BIGINT)
        |      AS qdist
        |  FROM qsub q JOIN cb USING (m)),
        |adc AS (SELECT lut.q_id, enc.vec_id,
        |    CAST(SUM(lut.qdist) AS BIGINT) AS adist
        |  FROM enc JOIN lut ON lut.ci = enc.ci AND lut.m = enc.m
        |    AND lut.c = enc.c
        |  WHERE enc.vec_id <> lut.q_id GROUP BY 1, 2),
        |qx AS (SELECT vec_id AS q_id, x AS qx FROM x WHERE vec_id < 10),
        |exd AS (SELECT qx.q_id, x.vec_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (qx.qx[j]-x.x[j])*(qx.qx[j]-x.x[j]))) AS BIGINT) AS ed
        |  FROM qx, x WHERE x.vec_id <> qx.q_id),
        |ex AS (SELECT q_id, vec_id AS match_id, 1 AS hit FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY ed, vec_id) AS rn FROM exd) WHERE rn <= 3),
        |top AS (SELECT q_id, vec_id AS match_id, adist, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY adist, vec_id) AS rn FROM adc) WHERE rn <= 3)
        |SELECT top.q_id, top.match_id, top.adist, top.rn,
        |  COALESCE(ex.hit, 0) AS hit
        |FROM top LEFT JOIN ex ON ex.q_id = top.q_id
        |  AND ex.match_id = top.match_id
        |ORDER BY top.q_id, top.rn""".stripMargin,

    "q_pq_adc" ->
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS x
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, t.m, x[t.m*16+1 : t.m*16+16] AS sx
        |  FROM x, range(0, 4) t(m)),
        |cb AS (SELECT m, CAST(vec_id AS INT) AS c, sx AS cent
        |       FROM subs WHERE vec_id < 16),
        |ed AS (SELECT s.vec_id, s.m, cb.c, CAST(list_sum(list_transform(
        |    range(1, 17), j -> (s.sx[j]-cb.cent[j])*(s.sx[j]-cb.cent[j])))
        |    AS BIGINT) AS d
        |  FROM subs s JOIN cb USING (m)),
        |enc AS (SELECT vec_id, m, c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, m
        |    ORDER BY d, c) AS rn FROM ed) WHERE rn = 1),
        |qd AS (SELECT vec_id AS q_id, m, c, d AS qdist FROM ed
        |       WHERE vec_id < 10),
        |adc AS (SELECT qd.q_id, enc.vec_id, CAST(SUM(qd.qdist) AS BIGINT)
        |    AS adist
        |  FROM enc JOIN qd USING (m, c)
        |  WHERE enc.vec_id <> qd.q_id
        |  GROUP BY 1, 2),
        |exd AS (SELECT a.vec_id AS q_id, b.vec_id AS match_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> (a.x[j]-b.x[j])*(a.x[j]-b.x[j]))) AS BIGINT) AS edist
        |  FROM x a, x b WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |ex AS (SELECT q_id, match_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY edist, match_id) AS rn FROM exd) WHERE rn <= 3),
        |top AS (SELECT q_id, vec_id AS match_id, adist,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
        |  FROM adc)
        |SELECT t.q_id, t.match_id, t.adist, CAST(t.rn AS INT) AS rn,
        |  CASE WHEN ex.match_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        |FROM top t LEFT JOIN ex
        |  ON t.q_id = ex.q_id AND t.match_id = ex.match_id
        |WHERE t.rn <= 3
        |ORDER BY t.q_id, t.rn""".stripMargin,

    "q_embed_neardup_lsh" -> neardupSql,

    "q_semantic_dedup" ->
      s"""WITH nd AS (
        |$neardupSql
        |)
        |SELECT vec_b AS removed_id, MIN(vec_a) AS kept_neighbor,
        |  COUNT(*) AS n_similar, MAX(cosine) AS max_cosine
        |FROM nd WHERE cosine >= 0.35
        |GROUP BY vec_b ORDER BY removed_id""".stripMargin,

    "q_embed_quantize" -> quantizeSql,

    "q_quantize_recall" ->
      s"""WITH f AS ($cosineTopkSql),
        |z AS ($quantizeSql)
        |SELECT f.q_id,
        |  CAST(SUM(CASE WHEN z.match_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(SUM(CASE WHEN z.match_id IS NOT NULL THEN 1 ELSE 0 END)
        |    / 3.0, 6) AS recall
        |FROM f LEFT JOIN z ON f.q_id = z.q_id AND f.match_id = z.match_id
        |GROUP BY f.q_id ORDER BY f.q_id""".stripMargin,

    "q_embed_stats" ->
      s"""WITH e AS ($vecsSql)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(nrm), 6) AS avg_norm,
        |  round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,

    // the three similarity definitions recomputed pairwise in DuckDB —
    // identical left-to-right DOUBLE accumulation
    "q_fn_similarity" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id < 12),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> a.v[i] * b.v[i])) AS dotp,
        |    sqrt(list_sum(list_transform(a.v, x -> x * x))) AS na,
        |    sqrt(list_sum(list_transform(b.v, x -> x * x))) AS nb,
        |    list_sum(list_transform(range(1, len(a.v) + 1),
        |      i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS d2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b,
        |  round(dotp / (na * nb), 6) AS sim_cos,
        |  round(1.0 / (1.0 + d2), 6) AS sim_euc,
        |  round((1.0 + dotp) / 2.0, 6) AS sim_dot
        |FROM p ORDER BY id_a, id_b""".stripMargin,

    // global cosine top-10 to the all-ones query direction (|q| = 8
    // exactly): dot(ones, v) = list_sum(v), same left-to-right DOUBLE
    // accumulation as the store's candidate scoring and graft_dot
    "q_kv_ann_topk" ->
      s"""WITH e AS ($vecsSql),
        |r AS (
        |  SELECT vec_id, label,
        |    list_sum(v) / (nrm * 8.0) AS cosine_raw,
        |    row_number() OVER (ORDER BY list_sum(v) / (nrm * 8.0) DESC,
        |      vec_id ASC) AS rank
        |  FROM e)
        |SELECT vec_id, label, round(cosine_raw, 6) AS cosine,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // the filtered top-10: rank only among the bucket-1 rows
    "q_kv_ann_filtered" ->
      s"""WITH e AS ($vecsSql),
        |r AS (
        |  SELECT vec_id, label,
        |    list_sum(v) / (nrm * 8.0) AS cosine_raw,
        |    row_number() OVER (ORDER BY list_sum(v) / (nrm * 8.0) DESC,
        |      vec_id ASC) AS rank
        |  FROM e WHERE vec_id % 4 = 1)
        |SELECT vec_id, label, round(cosine_raw, 6) AS cosine,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // euclidean similarity to the all-ones query: 1 / (1 + Σ (x − 1)²),
    // the same per-element left-to-right accumulation as the store
    "q_kv_ann_euclidean" ->
      s"""WITH e AS ($vecsSql),
        |r AS (
        |  SELECT vec_id, label,
        |    1.0 / (1.0 + list_sum(list_transform(v,
        |      x -> (1.0 - x) * (1.0 - x)))) AS euc_raw,
        |    row_number() OVER (ORDER BY 1.0 / (1.0 + list_sum(
        |      list_transform(v, x -> (1.0 - x) * (1.0 - x)))) DESC,
        |      vec_id ASC) AS rank
        |  FROM e)
        |SELECT vec_id, label, round(euc_raw, 6) AS sim_euc,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // same div-32 batches, same int8 quantization, same exact integer
    // dot accounting
    "q_negative_sampling" ->
      s"""WITH e AS ($vecsSql),
        |m AS (
        |  SELECT vec_id, label,
        |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS mx,
        |    v
        |  FROM e),
        |q8 AS (
        |  SELECT vec_id, label, vec_id // 32 AS batch,
        |    list_transform(v, x -> CAST(floor(x * 127.0 / mx + 0.5)
        |      AS BIGINT)) AS qv
        |  FROM m),
        |p AS (
        |  SELECT a.batch, a.vec_id AS aid,
        |    CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |      i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dotq
        |  FROM q8 a JOIN q8 b
        |    ON a.batch = b.batch AND a.label <> b.label)
        |SELECT batch, COUNT(DISTINCT aid) AS n_anchors, COUNT(*) AS n_pairs,
        |  CAST(MIN(dotq) AS BIGINT) AS min_dot,
        |  CAST(MAX(dotq) AS BIGINT) AS max_dot,
        |  round(SUM(dotq)::DOUBLE / COUNT(*), 6) AS mean_dot
        |FROM p GROUP BY batch ORDER BY batch""".stripMargin,

    // same md5-parity sign matrix, same ordered j-folds (list_reduce over
    // [0.0]++terms == Spark aggregate), same consecutive-pair audit
    "q_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 200),
        |proj AS (
        |  SELECT vec_id, v,
        |    list_transform(range(0, 8), i ->
        |      list_reduce(list_concat([0.0::DOUBLE],
        |        list_transform(range(1, 65), j ->
        |          (CASE WHEN ('0x' || substr(md5(i::VARCHAR || '_' ||
        |              j::VARCHAR), 1, 8))::BIGINT % 2 = 0
        |            THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END) * v[j])),
        |        (a, b) -> a + b) / sqrt(8.0::DOUBLE)) AS y
        |  FROM e),
        |pr AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, 65),
        |        j -> (a.v[j] - b.v[j]) * (a.v[j] - b.v[j]))),
        |      (x, y) -> x + y) AS d2o,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, 9),
        |        i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i]))),
        |      (x, y) -> x + y) AS d2p
        |  FROM proj a JOIN proj b
        |    ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0)
        |SELECT id_a, id_b, round(d2o, 6) AS dist_sq_orig,
        |  round(d2p, 6) AS dist_sq_proj,
        |  CASE WHEN d2o = CAST(0 AS DOUBLE) THEN NULL
        |    ELSE round(d2p / d2o, 6) END AS ratio
        |FROM pr ORDER BY id_a""".stripMargin)

}
