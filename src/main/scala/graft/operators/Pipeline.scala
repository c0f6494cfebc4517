package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** LLM-training-data pipeline operators over the `documents` table:
  * deduplication (exact, fingerprint, MinHash-LSH, SimHash, n-gram Jaccard)
  * and text analysis (stats, quality scoring, language-ID heuristic, BPE-ish
  * token counting, rolling-hash fingerprinting), plus multimodal column
  * plumbing (struct metadata + a stubbed binary "decode" path).
  *
  * The reference repo has no analog of these (its whole data surface is a
  * 3-row keyspace scan — reference: userdata/cloudinit.sh:296-351); they are
  * the driver-mandated extension surface (SURVEY.md §2.4).
  *
  * Oracle-portability design: every hash used anywhere in this file is
  * *portable arithmetic* — `H(s) = int(first 8 hex chars of md5(s))`, MinHash
  * permutations `(a·x + b) mod p`, SimHash bit votes, polynomial rolling
  * hashes — expressible with identical results in DuckDB SQL. That makes even
  * the LSH *candidate sets* bit-identical across engines, so the oracle is a
  * full value check, not a row-count check.
  *
  * Scale design (100 TB): no all-pairs joins anywhere. Near-dup candidates
  * come from equi-joins on band/bucket keys (LSH banding, prefix blocking),
  * which shuffle-partition by the band key exactly like any large join;
  * per-doc work is linear HOF evaluation inside whole-stage codegen.
  */
/** Typed rows of the mapPartitions batch-decode path (q_multimodal_batch). */
case class DocPayload(doc_id: Long, text: String)
case class DocDecoded(doc_id: Long, n_bytes: Int, dec_width: Long, dec_height: Long)

object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** q_importance_resample's corpus-side gram stream (doc, lang, hashed
    * bucket) — factored so the PlanSpec pin and the public query share
    * ONE definition. */
  private[graft] def resampleGrams(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("lang"),
        explode(expr(s"concat(w, ${ngramExpr(2)})")).as("g"))
      .withColumn("b", expr(s"${hExpr("g")} % 64"))

  /** The LAZY q_importance_resample pipeline over a (possibly cached)
    * gram stream. The public query materializes this eagerly inside its
    * cache scope (which collapses the visible plan to the checkpoint
    * scan), so PlanSpec pins the join strategy HERE. */
  private[graft] def importanceResamplePlan(grams: DataFrame): DataFrame = {
    val db = grams.groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("k"))
    val buckets = grams.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tots = buckets.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    val delta = buckets.crossJoin(broadcast(tots))
      .withColumn("delta", round(expr(
        "ln((ct + 1.0D) / (tt + 64.0D)) - ln((cr + 1.0D) / (tr + 64.0D))"), 6))
      .select("b", "delta")
    val logw = db.join(broadcast(delta), "b")
      .withColumn("contrib", col("k") * col("delta"))
      .groupBy("doc_id", "lang")
      .agg(expr("round(aggregate(array_sort(collect_list(contrib)), " +
        "cast(0.0 as double), (a, x) -> a + x), 6)").as("logw"))
    logw
      .withColumn("rate_bp", least(lit(10000L),
        expr("cast(floor(round(exp(logw) * 2500.0D, 6)) as bigint)")))
      .withColumn("keep",
        expr(s"${hExpr("cast(doc_id as string)")} % 10000") < col("rate_bp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(expr("cast(round(round(logw, 6) * 1000000.0D, 0) as bigint)"))
          .as("logw_micro"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("keep_rate"),
        round(col("logw_micro").cast("double") / lit(1000000.0) /
          col("n_docs"), 6).as("avg_logw"))
      .orderBy("lang")
  }

  /** documents spread across all cores: the testdata ships as one small
    * parquet file → one input split, which would serialize the expensive
    * per-token hash work onto a single core. The repartition is a real
    * shuffle of the raw rows, so it is gated: it fires only when the scan
    * yields fewer splits than cores (the local-testdata case). On a real
    * cluster the scan already has many splits and no shuffle happens. */
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    Tables.spread(docs(s, dir))

  /** Portable 32-bit string hash, Spark side: the native `graft_md5_32`,
    * equal to `cast(conv(substring(md5(s),1,8),16,10) as bigint)`. DuckDB
    * side: `('0x'||substr(md5(s),1,8))::BIGINT`. */
  private[graft] def hExpr(s: String): String = s"graft_md5_32($s)"

  /** Gumbel/A-Res weighted top-k panel, parameterized by `seed` so callers
    * can draw INDEPENDENT reproducible panels (seed → "_s<seed>" hash salt;
    * the default panel exposed as q_gumbel_topk uses seed=1, which the
    * oracle replays verbatim). See the q_gumbel_topk entry for semantics. */
  private[graft] def gumbelTopK(s: SparkSession, dir: String, seed: Int): DataFrame = {
    val k = 5
    val keyed = docs(s, dir)
      .withColumn("w_bp", expr(
        "greatest(1L, least(10000L, (n_chars * 10000L) div 2000L))"))
      .withColumn("u", expr(
        s"(CAST(${hExpr(s"concat(cast(doc_id as string), '_s$seed')")} % 10000 AS DOUBLE) " +
          "+ CAST(1 AS DOUBLE)) / CAST(10001 AS DOUBLE)"))
      .withColumn("gk", expr(
        "-ln(u) / (CAST(w_bp AS DOUBLE) / CAST(10000 AS DOUBLE))"))
      .withColumn("salt", expr(s"${hExpr("cast(doc_id as string)")} % 64"))
    val local = keyed
      .withColumn("rs", row_number().over(
        Window.partitionBy("source", "salt")
          .orderBy(col("gk"), col("doc_id"))))
      .filter(col("rs") <= k)
    local
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("gk"), col("doc_id"))))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rank"),
        col("doc_id"), col("w_bp"), round(col("gk"), 6).as("ares_key"))
      .orderBy("source", "rank")
  }

  /** q_fs_em: the E-step responsibility γ(x) of pattern struct x under
    * the current (p, mn, ma, un, ua) — ENGINE-NEUTRAL text (CASE +
    * CAST(1 AS DOUBLE)) shared verbatim by the Spark folds and the
    * DuckDB oracle's list_transform terms. */
  /** Sorted-digit ER blocking key — the digit MULTISET of the customer
    * name's 9-digit suffix, emitted as ONE engine-neutral SQL text
    * (substr/replace/repeat/length/concat parse and evaluate identically
    * in Spark and DuckDB, so the Spark queries and the oracles share it
    * verbatim). This is the classic sorted-chars blocking key of record
    * linkage (the sorted-neighborhood family): invariant under ANY
    * permutation of the digits — in particular the reversal corruption —
    * so every true pair co-blocks, while the key's CARDINALITY GROWS with
    * the data (digit multisets of the key range) instead of staying fixed.
    * Composing it with (nationkey, mktsegment) is the r14 quadratic-
    * linkage fix: the old fixed-125-key block made candidate pairs grow
    * n²/125 (measured 2.9 s → 177 s at ×10); with the composed key the
    * candidate set is ~1.15·n at sf0.1 and the family is scale-probed
    * like every other candidate generator (ScaleBench probes + probes100).
    */
  private[graft] def sortedDigitsExpr(nameCol: String): String =
    (0 to 9).map(d =>
      s"repeat('$d', 9 - length(replace(substr($nameCol, 10, 9), " +
        s"'$d', '')))")
      .mkString("concat(", ", ", ")")

  /** Shared ER candidate generator for the linkage family (q_entity_match,
    * q_er_threshold_sweep, q_fellegi_sunter, q_fs_em; the streaming twin
    * builds the same key on the arriving record): the dirty file
    * self-derives by reversing each name's digit suffix, candidates block
    * on (nationkey, mktsegment, sorted-digit multiset) — the composed key
    * above — and the house BucketCap=128 guard drops any clean block over
    * the cap (part of the declared semantics, mirrored in the oracles; it
    * never fires on this data where the largest block is 48 rows at sf0.1,
    * but it mechanically bounds candidates to ≤ cap·|dirty| on ANY data).
    * The block key is computed from c_name on both sides purely for text
    * brevity: the dirty record's own name has the SAME digit multiset by
    * construction, so the key IS computable from the record alone (the
    * streaming twin does exactly that). Returns the candidate-pair frame
    * with both sides' key/name/acctbal columns. */
  /** The capped clean-side block index of erCandidates — also the STATIC
    * side of q_stream_entity_match's stream-static join, so batch and
    * stream resolve against the identical index. */
  private[graft] def erCleanIndex(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val clean = c.select(col("c_custkey").as("clean_key"),
      col("c_name").as("clean_name"), col("c_acctbal").as("clean_acct"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      expr(sortedDigitsExpr("c_name")).as("sd"))
    val w = Window.partitionBy("nk", "seg", "sd")
    clean.withColumn("bc", count(lit(1)).over(w))
      .filter(col("bc") <= lit(BucketCap.toLong)).drop("bc")
  }

  private def erCandidates(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val dirty = c.select(col("c_custkey").as("dirty_key"),
      concat(lit("Customer#"), reverse(substring(col("c_name"), 10, 9)))
        .as("dirty_name"),
      col("c_acctbal").as("dirty_acct"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      expr(sortedDigitsExpr("c_name")).as("sd"))
    // the window already hash-partitioned clean by the block key; the join
    // shuffles dirty onto the same partitioning
    dirty.join(erCleanIndex(s, dir), Seq("nk", "seg", "sd")).drop("sd")
  }

  /** The erCandidates rule as DuckDB CTEs (clean/dirty/cok/cand) — the
    * oracle-side mirror, sharing sortedDigitsExpr's text verbatim; also
    * the base of the q_stream_entity_match oracle. */
  private[graft] def erOracleCtes: String =
    s"""clean AS (
       |  SELECT c_custkey AS clean_key, c_name AS clean_name,
       |    c_acctbal AS clean_acct, c_nationkey AS nk,
       |    c_mktsegment AS seg, ${sortedDigitsExpr("c_name")} AS sd
       |  FROM customer),
       |dirty AS (
       |  SELECT c_custkey AS dirty_key,
       |    'Customer#' || reverse(substr(c_name, 10, 9)) AS dirty_name,
       |    c_acctbal AS dirty_acct, c_nationkey AS nk,
       |    c_mktsegment AS seg, ${sortedDigitsExpr("c_name")} AS sd
       |  FROM customer),
       |cok AS (
       |  SELECT clean_key, clean_name, clean_acct, nk, seg, sd FROM (
       |    SELECT c.*, COUNT(*) OVER (PARTITION BY nk, seg, sd) AS bc
       |    FROM clean c) t
       |  WHERE bc <= 128),
       |cand AS (
       |  SELECT d.dirty_key, d.dirty_name, d.dirty_acct, c.clean_key,
       |    c.clean_name, c.clean_acct, d.nk, d.seg
       |  FROM dirty d JOIN cok c
       |    ON c.nk = d.nk AND c.seg = d.seg AND c.sd = d.sd)""".stripMargin

  private def fsEmG: String = {
    val pm = "p * (CASE WHEN x.gn = 1 THEN mn ELSE CAST(1 AS DOUBLE) " +
      "- mn END) * (CASE WHEN x.ga = 1 THEN ma ELSE CAST(1 AS DOUBLE) " +
      "- ma END)"
    val pu = "(CAST(1 AS DOUBLE) - p) * (CASE WHEN x.gn = 1 THEN un " +
      "ELSE CAST(1 AS DOUBLE) - un END) * (CASE WHEN x.ga = 1 THEN ua " +
      "ELSE CAST(1 AS DOUBLE) - ua END)"
    s"(($pm) / (($pm) + ($pu)))"
  }

  /** Space-joined n-gram array over token column `w`, built from n aligned
    * slices folded with zip_with — NOT `w[i]` indexing inside a transform
    * lambda: HOF lambdas are interpreted, so every element access would
    * re-evaluate the whole `w = split(...)` child and make the row O(n²)
    * in its own length (measured 10×+ on q_repetition_ngrams). Indexing a
    * column sometimes *looks* fine because a Filter between the two
    * Projects blocks CollapseProject from inlining the array into the
    * lambda — but that is an accident of plan shape, not a guarantee.
    * Slice children evaluate once per row by construction; values are
    * byte-identical to the indexed form, so the DuckDB oracles are
    * untouched. */
  private[graft] def ngramExpr(n: Int): String = {
    val len = s"size(w)-${n - 1}"
    (2 to n).foldLeft(s"slice(w, 1, $len)") { (e, k) =>
      s"zip_with($e, slice(w, $k, $len), (x, y) -> concat(x, ' ', y))"
    }
  }

  /** Distinct portable hashes of word array `w`'s 5-gram shingles, as SQL
    * text (the contamination family's shingle set). */
  private[graft] def shingleHashes: String =
    s"array_distinct(transform(${ngramExpr(5)}, g -> ${hExpr("g")}))"

  /** Shared contamination benchmark (q_corpus_pipeline +
    * q_stream_corpus_pipeline — one benchmark, so the batch and stream
    * decontaminate against the same set): the [[shingleHashes]] of the
    * doc_id % 50 == 0 documents of `docs` with at least 5 words, as the
    * one-row set `bset`. */
  private[graft] def contamBench(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 50 === 0)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(explode(expr(shingleHashes)).as("sh")).distinct()
      .agg(collect_set(col("sh")).as("bset"))

  /** Shared per-document word stats (q_corpus_pipeline, q_gopher_rules,
    * q_stream_corpus_pipeline — one tokenizer, so every quality gate
    * reads the same counts): over word array `w`, the word count `n`
    * (BIGINT), total `chars`, words with a letter `alpha`, symbol words
    * `sym` and stop words `stop`. */
  private[graft] def wordStats(d: DataFrame, n: String): DataFrame =
    d.withColumn(n, size(col("w")).cast("long"))
      .withColumn("chars",
        expr("aggregate(w, 0L, (a, x) -> a + length(x))"))
      .withColumn("alpha",
        expr("CAST(size(filter(w, x -> x rlike '[a-z]')) AS BIGINT)"))
      .withColumn("sym", expr(
        "CAST(size(filter(w, x -> x IN ('#', '...'))) AS BIGINT)"))
      .withColumn("stop", expr(
        "CAST(size(filter(w, x -> x IN ('the','be','to','of','and'," +
          "'that','have','with'))) AS BIGINT)"))

  /** The Gopher quality gate over [[wordStats]] with word count `n`:
    * 20–1000 words, mean word length 3–10, at most 10% symbol words, at
    * least 80% words with a letter, and at least 2 stop words. */
  private[graft] def gopherPass(n: String): Column =
    col(n) >= 20L && col(n) <= 1000L &&
      col("chars") >= lit(3L) * col(n) &&
      col("chars") <= lit(10L) * col(n) &&
      lit(10L) * col("sym") <= col(n) &&
      lit(10L) * col("alpha") >= lit(8L) * col(n) &&
      col("stop") >= 2L

  /** Shared capped word graph for the graph-analytics family
    * (q_recursive_hierarchy, q_triangle_count — same cap discipline as
    * q_textrank's graph): vocab = top-V corpus tokens with counts,
    * e0 = DISTINCT directed co-occurrence (bigram) edges between vocab
    * words, self-loops dropped. The corpus-sized work is exactly the one
    * bigram extraction; both returned frames are ≤V²-sized. */
  private def wordGraph(s: SparkSession, dir: String, v: Int)
      : (DataFrame, DataFrame) = {
    val d = docsPar(s, dir).select(split(col("text"), " ").as("w"))
    val vocab = d.select(explode(col("w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(v)
    // materialize the ≤v-row vocab eagerly FIRST and build the edge table
    // from the CHECKPOINTED copy: built from the lazy vocab, e0's two
    // broadcast subqueries each re-ran the corpus vocab pass (measured r18:
    // 2 of q_hits' 3 expensive stages were duplicate vocab aggregations)
    val vocabC = vocab.localCheckpoint(true)
    val bi = d.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), " +
          "(x, y) -> struct(x as w1, y as w2))")).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val e0 = bi
      .join(broadcast(vocabC.select(col("w").as("w1"))), "w1")
      .join(broadcast(vocabC.select(col("w").as("w2"))), "w2")
      .select("w1", "w2").distinct()
    // e0 eager too (the temp-table analog): every caller reuses both in 2+
    // joins, and without this the bigram extraction recomputes per reference
    (vocabC, e0.localCheckpoint(true))
  }

  /** THE BPE training loop — greedy most-frequent adjacent pair,
    * count-desc/pair-asc tie-break — over the top-200 word vocabulary.
    * This is the single training implementation: q_bpe_merges renders its
    * per-round top-15 pair tables, q_bpe_encode (via [[bpeTrainMerges]])
    * takes only the chosen merges — so the encode pass and the merge-table
    * query can never desynchronize (same vocab cut, same sentinel spaces,
    * same replace discipline as the unrolled DuckDB oracles). Per round one
    * scalar (the winning pair) visits the driver; the round's pair-count
    * table (≤ ~200·wordlen rows) is persisted so the head() and the
    * returned top-15 view read one computation. */
  private def bpeTrainRounds(s: SparkSession, dir: String,
      rounds: Int): Seq[(String, DataFrame)] = {
    val words = docsPar(s, dir)
      .select(explode(split(col("text"), " +")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    val top = words
      .withColumn("rn", row_number().over(
        Window.partitionBy(pmod(col("wc"), lit(1)))
          .orderBy(col("wc").desc, col("word").asc)))
      .filter(col("rn") <= 200)
      // sentinel spaces so a merge pattern ' a b ' can never match across
      // a symbol boundary (the tail of a previously merged symbol)
      .select(col("wc"),
        concat(lit(" "), concat_ws(" ", split(col("word"), "")), lit(" "))
          .as("syms"))
      // the 200-row vocab is re-read every round through the growing syms
      // lineage; cached, training rounds 2..N never touch the corpus again
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var syms = top
      (1 to rounds).map { r =>
        val pc = syms
          .withColumn("l", split(trim(col("syms")), " "))
          .select(col("wc"), explode(expr(
            "transform(sequence(0, size(l) - 2), " +
              "i -> concat(element_at(l, i + 1), ' ', element_at(l, i + 2)))"))
            .as("pair"))
          .groupBy("pair").agg(sum("wc").as("cnt"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val best = pc.orderBy(col("cnt").desc, col("pair").asc)
          .limit(1).collect().headOption // scalar driver action: the chosen merge
          .getOrElse(throw new IllegalArgumentException(
            s"BPE round $r found no adjacent symbol pair — corpus too small"))
          .getString(0)
        val top15 = pc
          .withColumn("rank", row_number().over(
            Window.partitionBy(pmod(col("cnt"), lit(1)))
              .orderBy(col("cnt").desc, col("pair").asc)))
          .filter(col("rank") <= 15)
          .select(lit(r).as("round"), col("rank"), col("pair"), col("cnt"))
          // ≤15 rows: eagerly materialize (lineage truncated) so pc can be
          // unpersisted HERE instead of leaking one cached frame per round
          .localCheckpoint(true)
        pc.unpersist()
        // literal replace, not regex — same non-overlapping left-to-right
        // semantics (r19; see q_bpe_encode)
        syms = syms.withColumn("syms", org.apache.spark.sql.functions.replace(
          col("syms"), lit(s" $best "), lit(s" ${best.replace(" ", "")} ")))
        (best, top15)
      }
    } finally { top.unpersist(); () } // all round actions ran inside
  }

  /** BM25 top-20 (k1=1.2, b=0.75) — the ranking side of the search pair
    * (q_boolean_search filters, this scores), shared verbatim by q_bm25
    * and the lexical leg of q_hybrid_rrf: self-deriving top-3 query off
    * the type rollup (≤3 driver scalars), Robertson idf, then ONE
    * map-only per-doc pass (dl = size(w), tf_t = size(filter(w, = t)))
    * whose |docs|-row output feeds both the 1-row df/corpus-stats agg
    * and the scorer — nothing doc-to-doc ever joins and the corpus never
    * shuffles. Float discipline: avgdl is exact-integer Σdl/N (one
    * deterministic double division, never a partial-averaged double),
    * the ≤3 per-doc contributions fold over a SORTED array so addition
    * order is pinned, and the score rounds to 6 dp before the rank sort
    * — the same rules that keep tfidf/entropy cross-engine stable.
    * Formula text is written identically here and in the oracle (same
    * association order). */
  private def bm25Top(s: SparkSession, dir: String): DataFrame = {
    // r19 restructure (guide §2.3/§2.4): the old shape persisted the
    // exploded token stream and ran FOUR aggregations over the cache (dl,
    // stats, terms, tf — QProf: 4 of q_hybrid_rrf's 6 heavy 16-task
    // stages). With the ≤3 query terms known, everything per-doc is
    // array arithmetic: dl = size(w), tf_t = size(filter(w, = t)) — ONE
    // map-only corpus pass, no explode, no (doc, w) shuffle, no cache.
    // The terms come off the type rollup as ≤3 driver scalars (the
    // bigramEncoded/BPE vocab precedent); df/stats are one agg over the
    // checkpointed |docs|-row per-doc table. Values are bit-identical:
    // same counts into the same expression text (all-long inputs), and
    // the per-doc fold sorts the same ≤3 doubles before adding.
    val d0 = docsPar(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val ts: Seq[String] = d0.select(explode(col("w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("ctf"))
      .orderBy(col("ctf").desc, col("w").asc).limit(3)
      .select("w").collect().map(_.getString(0)).toSeq
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      size(filter(col("w"), x => x === lit(t))).cast("long").as(s"tf$i") }
    val per = d0.select(
        (col("doc_id") +: size(col("w")).cast("long").as("dl") +: tfCols): _*)
      .localCheckpoint(true) // |docs| rows; read by the stats agg + scorer
    val dfAggs = ts.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = per.agg(count(lit(1)).as("n_docs"),
      (sum("dl").as("total_dl") +: dfAggs): _*)
    val cExprs = ts.indices.map { i =>
      s"CASE WHEN tf$i > 0 THEN " +
        s"ln((n_docs - df$i + 0.5) / (df$i + 0.5) + 1.0) * tf$i * 2.2" +
        s" / (tf$i + 1.2 * (1 - 0.75 + 0.75 * dl / (total_dl / n_docs)))" +
        " END" }
    per.crossJoin(broadcast(stats))
      .withColumn("cs",
        expr(s"filter(array(${cExprs.mkString(", ")}), x -> x is not null)"))
      // docs containing none of the query terms never scored before (the
      // tf join dropped them) — keep that candidate set exactly
      .filter(size(col("cs")) > 0)
      .select(col("doc_id"), size(col("cs")).cast("long").as("n_terms"),
        expr("round(aggregate(array_sort(cs), " +
          "cast(0.0 as double), (a, x) -> a + x), 6)").as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(20)
      .select("doc_id", "n_terms", "bm25")
      // the 20-row result truncates lineage here (q_hybrid_rrf composes)
      .localCheckpoint(true)
  }

  /** The chosen merges only (q_bpe_encode's view of [[bpeTrainRounds]]). */
  private def bpeTrainMerges(
      s: SparkSession, dir: String, rounds: Int): Seq[String] =
    bpeTrainRounds(s, dir, rounds).map(_._1)

  /** Shared by q_bigram_lm / q_kneser_ney / q_ppl_filter_sweep /
    * q_greedy_decode: cap the vocab at the top-16 types (16 driver
    * scalars → CASE literals — the BPE precedent), encode every doc
    * token→id map-only (OOV → UNK id 0), and explode adjacent id pairs
    * via the aligned-slice zip_with (never a positional self-join — the
    * corpus does not shuffle before the per-(doc, bigram) rollup).
    * Returns (the (doc_id, bg) transition stream, the rank-ordered
    * (token, count) vocab, and the exact corpus token total); `bg =
    * u·17 + v`. One training implementation, two smoothers on top.
    * r19: docBg is localCheckpoint'd — every caller aggregates it under
    * at least two DIFFERENT keys (bigram counts + the per-doc scorer),
    * whose exchanges can never be reused, so a lazy docBg re-ran the
    * corpus encode once per aggregation (QProf: 20-23 s of task time
    * per LM query). One materialized pass now serves them all. */
  private def bigramEncoded(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, Long)], Long) = {
    val d0 = docsPar(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val wc = d0.select(explode(col("w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = wc
      .orderBy(col("c").desc, col("w").asc).limit(16)
      .collect().map(r => (r.getString(0), r.getLong(1))) // vocab scalars
    val nCorpus = wc.agg(sum("c")).head.getLong(0)
    require(vocab.nonEmpty, "bigram LM needs a non-empty corpus")
    val cases = vocab.zipWithIndex.map { case ((t, _), i) =>
      s"WHEN '${t.replace("'", "''")}' THEN ${i + 1}"
    }.mkString(" ")
    val docBg = d0.filter(size(col("w")) >= 2)
      .withColumn("ids", expr(s"transform(w, x -> CASE x $cases ELSE 0 END)"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(ids, 1, size(ids)-1), slice(ids, 2, size(ids)-1), " +
          "(a, b) -> a * 17 + b)")).as("bg"))
      .localCheckpoint(true)
    (docBg, vocab.toSeq, nCorpus)
  }

  /** Add-one interpolated bigram model (q_bigram_lm's model — shared with
    * q_ppl_filter_sweep so the quality gate and its tuning curve can never
    * desynchronize). Returns (bg, lp). r19: the per-id unigram counts ARE
    * the vocab rollup's counts (id i = rank-i token by construction; UNK
    * absorbs the remainder of the exact corpus total), so the 17-row
    * unigram frame and the token total build from the scalars
    * bigramEncoded already collected — the q_greedy_decode discipline —
    * instead of two more corpus passes (explode-count + size-sum). */
  private def interpolatedBigramModel(s: SparkSession, docBg: DataFrame,
      vocab: Seq[(String, Long)], nCorpus: Long): DataFrame = {
    import s.implicits._
    val unkC = nCorpus - vocab.map(_._2).sum
    // id 0 (UNK) enters exactly when an OOV token exists — mirroring the
    // corpus-counted frame this replaces, where the inner model join only
    // ever looks up v=0 if some bigram contains an OOV token (unkC > 0)
    val uni = (vocab.zipWithIndex
      .map { case ((_, c), i) => ((i + 1).toLong, c) } ++
      (if (unkC > 0) Seq((0L, unkC)) else Nil)).toDF("v", "c1")
    val cbg = docBg.groupBy("bg").agg(count(lit(1)).as("cbg"))
    val ctx = cbg.withColumn("u", expr("bg div 17"))
      .groupBy("u").agg(sum("cbg").as("cctx"))
    cbg
      .withColumn("u", expr("bg div 17"))
      .withColumn("v", expr("bg % 17"))
      .join(broadcast(ctx), "u")
      .join(broadcast(uni), "v")
      .withColumn("p",
        lit(0.75) * ((col("cbg") + lit(1.0)) / (col("cctx") + lit(17.0)))
          + lit(0.25) * ((col("c1") + lit(1.0)) / (lit(nCorpus) + lit(17.0))))
      .select(col("bg"), log2(col("p")).as("lp"))
  }

  /** Shared scoring tail of the two bigram LMs: per-doc Σ k·log2(p) over a
    * SORTED fold (the q_token_entropy float discipline) → bits per
    * transition. `model` must be (bg, lp). */
  private def perDocBits(docBg: DataFrame, model: DataFrame): DataFrame =
    docBg.groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
      .join(broadcast(model), "bg")
      .withColumn("contrib", col("k") * col("lp"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_bigrams"),
        expr("aggregate(sort_array(collect_list(contrib)), 0D, (a, x) -> a + x)")
          .as("slog"))
      .withColumn("bits_per_token", round(-col("slog") / col("n_bigrams"), 6))
      .select("doc_id", "n_bigrams", "bits_per_token")
      .orderBy("doc_id")

  // MinHash parameters (shared with the DuckDB oracle text below):
  // k=32 permutations h_i(x) = ((2i+1)·x + 12345 + 777i) mod p over 32-bit
  // shingle hashes; 8 bands × 4 rows → pair-catch prob ≈ 1-(1-s^4)^8
  // (≈ 0.9998 at s=0.9). p is the largest 32-bit prime.
  private val P = "4294967291"

  /** THE linear quality model — one z-DAG shared by q_quality_classifier
    * (which audits it in isolation) and q_filter_funnel's quality gate, so
    * the gate and its audit query can never desynchronize. `w` is the
    * token array; `nTok` its size in the caller's integer width (int vs
    * long both promote to the same doubles). Expression order is part of
    * the declared semantics — both DuckDB oracles replay it verbatim. */
  private def qualityZ(w: Column, nTok: Column): Column = {
    val uniq = size(array_distinct(w)) / nTok
    val stop = size(filter(w, x => x.isin("the", "a"))) / size(w)
    val avgLen = aggregate(w, lit(0L), (a, x) => a + length(x)) / size(w)
    lit(-1.5) + lit(2.5) * uniq + lit(4.0) * stop +
      lit(0.02) * nTok - lit(0.3) * avgLen
  }

  /** q_ppjoin's distinct 3-gram shingle stream (doc_id, tk) — factored so
    * PlanSpec can pin the LAZY verification plan (the public query persists
    * tok and eagerly checkpoints, which collapses its visible plan — the
    * quantileRegressionPlan discipline). */
  private[graft] def ppjoinTok(s: SparkSession, dir: String): DataFrame =
    docsPar(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${ngramExpr(3)})")).as("tk"))

  /** q_ppjoin's full prefix-filter + verification pipeline over `tok`.
    * Candidate SEMANTICS are unchanged from the r13 build
    * (PPJOIN_CANDIDATES.json pins the candidate counts), but both phases
    * are restructured (r19, QProf-measured: candidate generation was the
    * suite's largest CPU sink — 22-66 s of task time at sf0.1 — not the
    * verification join the r18 verdict blamed, which was ~8 s):
    *   · ONE per-doc rollup (`byDoc`) now serves prefixes, sizes AND
    *     verification arrays: the shingle list sorted rarest-first under
    *     the global (df, tk) total order — the same order the r13
    *     row_number window ranked by, so the prefix SET is identical.
    *     This replaces tok⋈freq⋈sized + a per-doc window (a second
    *     corpus-wide shuffle + sort) and two further per-doc rollups
    *     (sized, docArr) with a single aggregation.
    *   · Verification is ONE linear array_intersect per candidate pair
    *     over the two docs' shingle arrays (sets by construction — the
    *     explode is over array_distinct), replacing the explode-join
    *     that shipped |cand|·|doc| (pair, token) rows into a shuffled
    *     count. The pair table joins byDoc twice; no row explosion, no
    *     second corpus shuffle.
    * The whole pipeline is LAZY: tok's two consumers (freq, the byDoc
    * join) and byDoc's three consumers (prefixes, both verification
    * sides) share their exchanges via ReusedExchange (pinned in
    * PlanSpec), so the corpus is scanned and shingled ONCE with no
    * cache-write pass — measured faster than the r13 persist+count and
    * than an eager byDoc checkpoint (2.1-2.4 s vs 3.9-4.5 s wall). */
  private[graft] def ppjoinVerified(tok: DataFrame): DataFrame = {
    val freq = tok.groupBy("tk").agg(count(lit(1)).as("df"))
    val byDoc = tok.join(freq, "tk")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tk")))).as("l"))
      .select(col("doc_id"),
        expr("transform(l, e -> e.tk)").as("arr"),
        size(col("l")).cast("long").as("sz"))
      .withColumn("npfx", col("sz") - expr("(4*sz + 4) div 5") + 1)
    val pfx = byDoc.select(col("doc_id"), col("sz"),
      explode(expr("slice(arr, 1, CAST(npfx AS INT))")).as("tk"))
    val cand = pfx.select(col("tk"), col("doc_id").as("da"),
        col("sz").as("sza"))
      .join(pfx.select(col("tk"), col("doc_id").as("db"),
        col("sz").as("szb")), "tk")
      .filter(col("da") < col("db") &&
        col("sza") * 5 >= col("szb") * 4 &&
        col("szb") * 5 >= col("sza") * 4)
      .select("da", "db").distinct()
    cand
      .join(byDoc.select(col("doc_id").as("da"), col("arr").as("ta"),
        col("sz").as("sa")), "da")
      .join(byDoc.select(col("doc_id").as("db"), col("arr").as("tb"),
        col("sz").as("sb")), "db")
      .withColumn("n_inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("n_union", col("sa") + col("sb") - col("n_inter"))
      .filter(col("n_inter") * 5 >= col("n_union") * 4)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 6)
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_hits integer score scale (1e8). */
  private[graft] val HitsScale = 100000000L

  /** One HITS half-step over the checkpointed ≤V-row frames: push `score`
    * across e0 from `from` to `to`, left-join back onto nodes, and
    * L1-normalize by integer division. All four frames are ≤V rows (the
    * graph is vocabulary-capped BY DESIGN), so the score side of BOTH
    * joins broadcasts explicitly — the statistics-free checkpointed
    * frames otherwise plan a 32-partition SortMergeJoin pair per step
    * (the r18 fix; BHJ-only shape pinned in PlanSpec). LAZY — the query
    * checkpoints each half-step. */
  private[graft] def hitsHalfStep(nodes: DataFrame, e0: DataFrame,
      score: DataFrame, from: String, to: String): DataFrame = {
    val gw = Window.partitionBy(pmod(col("s"), lit(1)))
    nodes.join(broadcast(
        e0.join(broadcast(score), e0(from) === score("w"))
          .groupBy(col(to)).agg(sum("v").as("s"))),
      nodes("w") === col(to), "left")
      .select(nodes("w"), coalesce(col("s"), lit(0L)).as("s"))
      .withColumn("t", sum("s").over(gw))
      .select(col("w"), expr(s"(s * ${HitsScale}L) div t").as("v"))
  }

  /** Shared postings gaps (q_postings_size + q_elias_fano — one gap
    * list, so both codecs size the same postings): the distinct
    * (doc_id, w) postings of the 16 highest-df words, each with its
    * d-gap `gap` to the word's previous doc_id (the first gap is the
    * doc_id) and the gap's varint width `vbytes`. */
  private[graft] def postingGaps(s: SparkSession, dir: String): DataFrame = {
    val postings = docsPar(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val top = postings.groupBy("w").agg(count(lit(1)).as("dfc"))
      .orderBy(col("dfc").desc, col("w").asc).limit(16)
    val wnd = Window.partitionBy("w").orderBy("doc_id")
    postings.join(broadcast(top.select("w")), "w")
      .withColumn("prev", lag("doc_id", 1).over(wnd))
      .withColumn("gap", when(col("prev").isNull, col("doc_id"))
        .otherwise(col("doc_id") - col("prev")))
      .withColumn("vbytes",
        when(col("gap") < 128L, 1L)
          .when(col("gap") < 16384L, 2L)
          .when(col("gap") < 2097152L, 3L)
          .when(col("gap") < 268435456L, 4L)
          .otherwise(5L))
  }

  /** Shared trigram prefilter (q_trigram_search + q_regex_search): the
    * rows of `d` (doc_id, text) whose text holds every trigram of
    * `qTris` — the candidate set the exact match then verifies. */
  private[graft] def trigramCandidates(d: DataFrame, qTris: Seq[String])
      : DataFrame = {
    val cand = d.filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, length(text) - 2), " +
          "i -> substring(text, i, 3)))")).as("g"))
      .filter(col("g").isin(qTris: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("nq"))
      .filter(col("nq") === qTris.size)
      .select("doc_id")
    d.join(cand, Seq("doc_id"), "left_semi")
  }

  // Skew guard shared by every LSH-style candidate generator: a band/block
  // bucket holding more than BucketCap signatures is template spam or an
  // exact-dup cluster — the pairs inside it are O(cap²) and belong to exact
  // dedup, not near-dup LSH. Buckets over the cap are dropped in BOTH
  // engines (the cap is part of the operator's declared semantics, so the
  // oracle stays a full value check). At 100 TB this is what bounds the
  // worst bucket's pair blow-up; the dropped-bucket count is observable by
  // aggregating the same windowed count.
  private[graft] val BucketCap = 128

  // ---------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(
    // Exact dedup: group by a normalized-content key (whitespace-collapsed,
    // lowercased md5), keep the smallest doc_id per group. At 100 TB this is
    // one hash-shuffle on the 16-byte key with map-side pre-aggregation.
    "q_dedup_exact" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("ckey", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
        .groupBy("ckey")
        .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
        .select("kept_doc_id", "n_copies")
        .orderBy("kept_doc_id")
    },

    // Incremental dedup against a historical corpus — the 100 TB ingest
    // pattern: dedup TODAY'S batch against ALL of history without ever
    // joining (or shuffling) the history corpus itself. Phase 1 builds a
    // Bloom filter over history fingerprints with Spark's own distributed
    // BloomFilterAggregate (partial filters OR-merge map-side; ~1.2 GB for
    // 10^9 keys at the default fpp — shippable to every executor, where the
    // history rows are not). Phase 2 probes the broadcast filter per
    // incoming row (graft_might_contain: O(1), inside codegen, no join) —
    // rows the filter misses are DEFINITELY novel (Bloom filters have no
    // false negatives) and skip verification entirely. Phase 3
    // exact-verifies only the candidates (possible false positives): one
    // join whose BOTH sides are pruned to candidate fingerprints, so its
    // size tracks the day's duplicate count, not the corpus. The Bloom hash
    // (xxhash64) is the one non-portable hash in this file; it never
    // reaches the output — the verdict column comes from exact fp equality,
    // which the oracle recomputes join-only.
    "q_dedup_incremental" -> { (s, dir) =>
      val d = docs(s, dir).withColumn("fp",
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
      val history = d.filter(col("doc_id") % 10 =!= 0).select("fp")
      val incoming = d.filter(col("doc_id") % 10 === 0).select("doc_id", "fp")
      // sizing estimate for the filter (at scale: system.size_estimates);
      // a pushed count, not a data read
      val nHist = history.count()
      val bloom = history
        .agg(call_function("graft_bloom_agg", xxhash64(col("fp")), lit(nHist))
          .as("bf"))
        .head.getAs[Array[Byte]]("bf")
      val probed = incoming.withColumn("maybe",
        call_function("graft_might_contain", lit(bloom), xxhash64(col("fp"))))
      val novelFast = probed.filter(!col("maybe"))
        .select(col("doc_id"), lit(false).as("dup"))
      val cand = probed.filter(col("maybe"))
      val candHist = history
        .join(broadcast(cand.select("fp").distinct()), Seq("fp"), "left_semi")
        .distinct()
      val verdict = cand
        .join(candHist.withColumn("hit", lit(true)), Seq("fp"), "left")
        .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("dup"))
      novelFast.union(verdict).orderBy("doc_id")
    },

    // Retention-policy dedup: within each near-identical group (same prefix
    // fingerprint), KEEP THE BEST copy — longest text, ties to the smallest
    // doc_id — instead of the arbitrary-min of q_dedup_exact. The argmax is
    // a row_number window over a deterministic total order, the portable
    // form of max_by/arg_max (whose tie behavior differs across engines).
    "q_dedup_keep_best" -> { (s, dir) =>
      val w = Window.partitionBy(col("fp"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      docs(s, dir)
        .withColumn("fp", md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("fp"), col("doc_id").as("kept_doc_id"), col("n_chars"))
        .orderBy("kept_doc_id")
    },

    // Fingerprint dedup: block on the md5 of the first 8 tokens (a cheap
    // prefix fingerprint); report only groups that actually collide. The
    // testdata's planted near-duplicates share prefixes, so this is the
    // "catch template spam" dedup of a crawl pipeline.
    "q_dedup_fingerprint" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("fp", md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
        .groupBy("fp")
        .agg(min("doc_id").as("kept_doc_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .select("fp", "kept_doc_id", "n_copies")
        .orderBy("kept_doc_id")
    },

    // Sub-document exact dedup (the C4 "line dedup" pass): fixed 4-token
    // aligned spans stand in for lines; a span occurring anywhere else in
    // the corpus is kept only at its FIRST position (min (doc_id, chunk_ix))
    // and counted as removed everywhere else. Two wide ops, both on the
    // span hash: a map-side-combined min-aggregate electing each span's
    // owner, then a same-key shuffle join of spans to owners (owner table ∝
    // distinct spans — NOT broadcastable at corpus scale, and doesn't need
    // to be: both sides already hash-partition on h). Per-doc retained
    // fraction is the standard curation diagnostic this feeds.
    "q_chunk_dedup" -> { (s, dir) =>
      val ch = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(1, greatest(size(w) - 3, 1), 4)")).as("start"))
        .select(col("doc_id"),
          ((col("start") - 1) / 4).cast("int").as("chunk_ix"),
          expr(s"${hExpr("concat_ws(' ', slice(w, start, 4))")}").as("h"))
      val owner = ch.groupBy("h")
        .agg(min(struct(col("doc_id"), col("chunk_ix"))).as("o"))
      ch.join(owner, "h")
        .withColumn("kept",
          col("doc_id") === col("o.doc_id") && col("chunk_ix") === col("o.chunk_ix"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("retained", round(col("n_kept") / col("n_chunks"), 6))
        .filter(col("n_kept") < col("n_chunks"))
        .orderBy("doc_id")
    },

    // EXACT-SUBSTRING DEDUP (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better" — the ExactSubstr recipe): remove
    // duplicate >= L-token SPANS across the corpus, keeping each span's
    // FIRST occurrence (min (doc_id, position)). The paper builds a suffix
    // array; for a FIXED minimum span length the suffix array is
    // unnecessary — every duplicated >= L-token span is a union of
    // duplicated L-token SLIDING windows, so sorted L-token anchors find
    // exactly the same spans, linear via hash-shuffle instead of
    // suffix-array construction. L = 20 here (the paper's 50, scaled to
    // this corpus's 10-99-token documents). Three moves, all distributed:
    // (1) every sliding window hashed (full md5 — dedup must not eat
    //     32-bit collisions; a production run swaps in a rolling
    //     Rabin-Karp hash to make per-doc work O(n) instead of O(n*L),
    //     same downstream plan);
    // (2) owner election per hash: ONE map-side-combinable min+count agg
    //     on h, keeping only hashes that actually repeat — the same
    //     same-key shuffle-join discipline as q_chunk_dedup (the owner
    //     table is ∝ distinct duplicated windows, NOT broadcastable and
    //     not needing to be: both sides hash-partition on h);
    // (3) non-owner occurrences merged into MAXIMAL duplicated spans by
    //     the classic interval-union over sorted starts — one
    //     doc_id-partitioned window over ONLY the duplicated positions
    //     (a tiny fraction of the corpus), where fixed window length
    //     makes the union size exactly max(p) - min(p) + L per span.
    // Output: per-doc duplicated-span audit (the keep/cut list a 100 TB
    // curation run feeds to the span-stripping rewrite pass).
    "q_exact_substring_dedup" -> { (s, dir) =>
      val L = 20
      val win = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= L)
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
          col("w"), explode(expr(s"sequence(1, size(w) - ${L - 1})")).as("p"))
        .select(col("doc_id"), col("n_tok"), col("p"),
          md5(concat_ws(" ", expr(s"slice(w, p, $L)"))).as("wh"))
      val owner = win.groupBy("wh")
        .agg(min(struct(col("doc_id"), col("p"))).as("o"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_occ") > 1)
      val dup = win.join(owner, "wh")
        .filter(!(col("doc_id") === col("o.doc_id") && col("p") === col("o.p")))
        .select("doc_id", "n_tok", "p")
      val wd = Window.partitionBy("doc_id").orderBy("p")
      dup
        .withColumn("prev", lag(col("p"), 1).over(wd))
        // same-length intervals sorted by start: a window starts a NEW
        // maximal span iff it neither overlaps nor touches the previous
        // one (gap > L)
        .withColumn("ns",
          when(col("prev").isNull || col("p") - col("prev") > L, 1L)
            .otherwise(0L))
        .withColumn("span_id", sum("ns").over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "n_tok", "span_id")
        .agg((max("p") - min("p") + L).as("span_tokens"))
        .groupBy("doc_id", "n_tok")
        .agg(count(lit(1)).as("n_dup_spans"),
          sum("span_tokens").as("dup_tokens"))
        .withColumn("retained", round(
          expr("CAST(1 AS DOUBLE) - CAST(dup_tokens AS DOUBLE) / " +
            "CAST(n_tok AS DOUBLE)"), 6))
        .select("doc_id", "n_tok", "n_dup_spans", "dup_tokens", "retained")
        .orderBy("doc_id")
    },

    // TextRank keyword extraction: PageRank over the word co-occurrence
    // (bigram) graph — the graph-iteration operator beyond connected
    // components (q_dup_clusters). All arithmetic is EXACT integer (rank
    // scaled to 1e12, integer division everywhere), so five distributed
    // join-aggregate iterations hash-match the oracle's recursive CTE —
    // no float accumulation-order drift is possible.
    // Scale: vocab capped via TakeOrderedAndProject and broadcast into the
    // edge build (same cap discipline as q_unigram_lm); the corpus-sized
    // work is ONLY the vocab+bigram extraction, materialized once into a
    // ≤V²-row checkpointed edge table. The 5 PageRank rounds then unroll
    // as ONE lazy plan over that constant table — per-round persist+count
    // (the q_dup_clusters discipline) exists to bound lineage in
    // UNBOUNDED-iteration loops; for a fixed 5-round unroll it only buys
    // a dozen extra job launches, which r13 measured at 3.5 s of pure
    // overhead at sf0.1. AQE coalesces the tiny per-round shuffles.
    "q_textrank" -> { (s, dir) =>
      val Scale = 1000000000000L
      val d = docsPar(s, dir).select(split(col("text"), " ").as("w"))
      val vocab = d.select(explode(col("w")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(32).select("w")
      val bi = d.filter(size(col("w")) >= 2)
        .select(explode(expr(
          // aligned slices, not w[i] lambda indexing — see ngramExpr
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), " +
            "(x, y) -> struct(x as w1, y as w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      val e0 = bi
        .join(broadcast(vocab.withColumnRenamed("w", "w1")), "w1")
        .join(broadcast(vocab.withColumnRenamed("w", "w2")), "w2")
        .select("w1", "w2").distinct()
      // undirected: both directions; deg = out-degree of every node (every
      // node with an edge has one, so no dangling-node correction needed)
      val edges = e0.unionByName(e0.select(col("w2").as("w1"), col("w1").as("w2")))
        .distinct()
      val ed = edges.join(edges.groupBy("w1").agg(count(lit(1)).as("deg")), "w1")
        .localCheckpoint(true)
      val nNodes = ed.select("w1").distinct().count()
      val base = (15L * (Scale / nNodes)) / 100L
      val rank = (1 to 5).foldLeft(ed.select(col("w1").as("w")).distinct()
          .withColumn("r", lit(Scale / nNodes))) { (rank, _) =>
        ed.join(rank, ed("w1") === rank("w"))
          .select(col("w2"), expr("r div deg").as("c"))
          .groupBy("w2").agg(sum("c").as("s"))
          .select(col("w2").as("w"),
            (lit(base) + expr("(85 * s) div 100")).as("r"))
      }
      rank.select(col("w"), col("r").as("rank_scaled"))
        .orderBy(col("rank_scaled").desc, col("w").asc).limit(20)
    },

    // HITS HUBS & AUTHORITIES (Kleinberg 1999) — the DIRECTED sibling of
    // q_textrank's PageRank on the same capped word graph: a bigram edge
    // w1→w2 makes w1 a hub endorsing authority w2, and the two scores
    // reinforce mutually (a = Aᵀh, h = Aa). Four rounds of two half-steps
    // each; every half-step's ≤V-row score table is eagerly checkpointed
    // and pushed through explicit-broadcast joins ([[hitsHalfStep]]) — the
    // only corpus-sized work is wordGraph's single bigram extraction.
    // EXACT: scores are scaled integers (Scale=1e8) and the L1
    // normalization is integer division by the exact score total — no
    // float decides anything, both engines walk identical integers.
    // Overflow audit: raw sums ≤ 32·1e8, ×Scale ≤ 3.2e17 < 2⁶³. The
    // global window runs on the ≤32-row score frame BY DESIGN.
    "q_hits" -> { (s, dir) =>
      val (_, e0) = wordGraph(s, dir, 32)
      val nodes = e0.select(col("w1").as("w"))
        .unionByName(e0.select(col("w2").as("w")))
        .distinct().localCheckpoint(true)
      // Each half-step's ≤V-row score table is checkpointed (the
      // [[Iterate]] discipline; r18 measured the lazy chain). The
      // half-step itself is the factored [[hitsHalfStep]] (BHJ-only,
      // pinned in PlanSpec).
      val (a, h) = Iterate.upTo(4,
          (null: DataFrame, nodes.withColumn("v", lit(HitsScale)))) {
        case (_, h) =>
          val a = hitsHalfStep(nodes, e0, h, "w1", "w2").localCheckpoint(true)
          ((a, hitsHalfStep(nodes, e0, a, "w2", "w1").localCheckpoint(true)),
            false)
      }
      a.select(col("w"), col("v").as("authority_scaled"))
        .join(h.select(col("w"), col("v").as("hub_scaled")), "w")
        .orderBy(col("authority_scaled").desc, col("w").asc).limit(10)
    },

    // RECURSIVE CTE hierarchy walk (Spark 4 `WITH RECURSIVE` — the SQL
    // surface for iterative plans that q_textrank/q_dup_clusters drive
    // from the Scala side; the org-chart/category-tree query every
    // warehouse ships). The hierarchy is SELF-DERIVED and provably
    // acyclic: over the capped word graph, each node's parent is its
    // strictly-higher-ranked neighbor (rank = corpus count desc, then
    // word asc — a total order, so parent chains strictly ascend and must
    // terminate at a root). The recursion walks every node to its root,
    // emitting depth — path-bounded (one row per (node, ancestor) chain
    // link, ≤ V² total, no UNION-ALL path explosion possible in a
    // forest). Scale: the corpus-sized work is the one bigram extraction
    // feeding the ≤V-node graph (the q_textrank cap discipline); the
    // recursion itself runs on broadcast-sized tables, and Spark's
    // cteRecursionLevelLimit (100) bounds the iteration the same way the
    // driver loops cap theirs.
    "q_recursive_hierarchy" -> { (s, dir) =>
      val (vocab, e0) = wordGraph(s, dir, 32)
      val edges = e0.unionByName(
        e0.select(col("w2").as("w1"), col("w1").as("w2"))).distinct()
      val parents = edges
        .join(broadcast(vocab.select(col("w").as("w1"), col("c").as("c1"))), "w1")
        .join(broadcast(vocab.select(col("w").as("w2"), col("c").as("c2"))), "w2")
        .filter(col("c2") > col("c1") ||
          (col("c2") === col("c1") && col("w2") < col("w1")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("w1").orderBy(col("c2").desc, col("w2").asc)))
        .filter(col("rn") === 1)
        .select(col("w1").as("w"), col("w2").as("parent"))
      vocab.select("w").createOrReplaceTempView("g_nodes")
      parents.createOrReplaceTempView("g_parents")
      s.sql(
        """WITH RECURSIVE up (w, anc, depth) AS (
          |  SELECT w, w, 0 FROM g_nodes
          |  UNION ALL
          |  SELECT u.w, p.parent, u.depth + 1
          |  FROM up u JOIN g_parents p ON p.w = u.anc
          |)
          |SELECT w, anc AS root, depth
          |FROM up
          |WHERE anc NOT IN (SELECT w FROM g_parents)
          |ORDER BY w""".stripMargin)
    },

    // SINGLE-SOURCE SHORTEST PATH (BFS) — the remaining graph-analytics
    // staple next to PageRank (q_textrank), connected components
    // (q_dup_clusters), the hierarchy walk (q_recursive_hierarchy) and
    // triangles (q_triangle_count): hop distance from the top corpus word
    // to every vocab word over the undirected co-occurrence graph,
    // unreachable ⇒ -1. Spark's recursive CTE only supports UNION ALL
    // (which path-explodes on a cyclic graph), so the Spark side runs the
    // canonical frontier expansion — a driver loop of ≤V rounds, each one
    // join+anti-join over the ≤V²-row broadcast-sized edge table with a
    // single scalar (frontier size) visiting the driver per round (the
    // q_textrank iteration discipline; at 100 TB this is exactly Pregel's
    // superstep loop). The corpus-sized work is the one shared wordGraph
    // bigram extraction. The oracle replays BFS as a WITH RECURSIVE
    // UNION (DuckDB dedups (node, depth) pairs, so a depth cap bounds it)
    // + MIN(depth) — same fixpoint, different engine idiom.
    "q_shortest_path" -> { (s, dir) =>
      val (vocab, e0) = wordGraph(s, dir, 32)
      // wordGraph already checkpoints vocab/e0; the symmetrized edge table
      // gets its own (the BFS rounds iterate it, never re-touching bigrams)
      val edges = e0.unionByName(
        e0.select(col("w2").as("w1"), col("w1").as("w2"))).distinct()
        .localCheckpoint(true)
      val srcRow = vocab.orderBy(col("c").desc, col("w").asc)
        .limit(1).select("w").collect()
      require(srcRow.nonEmpty,
        "q_shortest_path: empty vocabulary (degenerate corpus)")
      val src = srcRow.head.getString(0)
      import s.implicits._
      val dist0 = Seq((src, 0L)).toDF("w", "dist").localCheckpoint(true)
      // state: (dist, frontier, depth); an empty frontier ends the BFS
      val (dist, _, _) = Iterate.upTo(32, (dist0, dist0.select("w"), 0L)) {
        case st @ (dist, frontier, d) =>
          val next = edges
            .join(frontier.select(col("w").as("w1")), "w1")
            .select(col("w2").as("w")).distinct()
            .join(dist.select("w"), Seq("w"), "left_anti")
            .localCheckpoint(true) // eager: one evaluation per round
          if (next.isEmpty) (st, true)
          else ((dist.unionByName(next.withColumn("dist", lit(d + 1)))
            .localCheckpoint(true), next, d + 1), false)
      }
      vocab.select("w").join(dist, Seq("w"), "left")
        .select(col("w"), coalesce(col("dist"), lit(-1L)).as("dist"))
        .orderBy("w")
    },

    // CHI-SQUARE independence audit of the source × language contingency
    // table — the corpus-composition readout next to q_source_kl: does
    // language mix depend on source (it should, and the per-cell
    // contributions say WHERE). One corpus pass builds the observed cell
    // counts; the FULL margin cross product (both margins are tiny
    // broadcast tables — zero-observed cells still carry expected mass
    // and contribute e to the statistic, the textbook definition) left-
    // joins them back; expected = row·col/N is exact-integer-derived
    // double arithmetic with the identical tree both engines
    // ((o−e)·(o−e)/e, no pow), rounded at the end. Margins are sums of
    // positive counts, so expected > 0 on every grid cell.
    "q_chi_square" -> { (s, dir) =>
      val cells = docs(s, dir).groupBy("source", "lang")
        .agg(count(lit(1)).as("n"))
      val rowT = cells.groupBy("source").agg(sum("n").as("n_source"))
      val colT = cells.groupBy("lang").agg(sum("n").as("n_lang"))
      val tot = cells.agg(sum("n").as("n_total"))
      broadcast(rowT).crossJoin(broadcast(colT))
        .join(cells, Seq("source", "lang"), "left")
        .withColumn("observed", coalesce(col("n"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("e",
          col("n_source").cast("double") * col("n_lang") / col("n_total"))
        .select(col("source"), col("lang"), col("observed"),
          round(col("e"), 6).as("expected"),
          round((col("observed") - col("e")) * (col("observed") - col("e"))
            / col("e"), 6).as("contrib"))
        .orderBy("source", "lang")
    },

    // POSTINGS-LIST SIZE ESTIMATOR (delta-gap + varint) — the index-
    // engineering readout behind every Lucene/ES capacity plan: for the
    // top-16 terms, the doc-id postings are delta-gap encoded and costed
    // at varint bytes (1 byte per 7-bit group — an exact integer CASE
    // ladder, no logs, no floats except the final ratio). Scale shape IS
    // the inverted-index build: one distinct (doc, term) pass, postings
    // partitioned BY TERM and sorted by doc_id (the lag window), per-term
    // rollup; df-skewed terms are exactly the segments a real index
    // shards, and nothing here is corpus-quadratic.
    "q_postings_size" -> { (s, dir) =>
      postingGaps(s, dir)
        .groupBy("w")
        .agg(count(lit(1)).as("df"),
          sum("vbytes").as("varint_bytes"),
          max("gap").as("max_gap"))
        .withColumn("raw_bytes", col("df") * 8L)
        .select(col("w"), col("df"), col("raw_bytes"), col("varint_bytes"),
          col("max_gap"),
          round(col("raw_bytes").cast("double") / col("varint_bytes"), 6)
            .as("compression"))
        .orderBy("w")
    },

    // ZIPF RANK-FREQUENCY SLOPE — the corpus-linguistics QA gate (a
    // natural corpus fits y ≈ a − s·x on (ln rank, ln freq) with s near
    // 1; template/bot-generated corpora don't): OLS over the top-64
    // tokens. Float discipline: ln() is libm (NOT correctly-rounded), so
    // both engines round x and y to 6 dp BEFORE the regression, and all
    // four OLS sums fold the SAME rank-ordered list left-to-right (the
    // q_token_entropy sorted-fold rule) — the slope is then one shared
    // arithmetic tree over identical doubles. Corpus-sized work = the one
    // token count; the regression runs on 64 rows (q_vocab_build window
    // discipline).
    "q_zipf_slope" -> { (s, dir) =>
      val top = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(64)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("c").desc, col("w").asc)).cast("long"))
        .withColumn("x", round(log(col("rank").cast("double")), 6))
        .withColumn("y", round(log(col("c").cast("double")), 6))
      top.agg(count(lit(1)).as("n"),
          sort_array(collect_list(struct(col("rank"), col("x"), col("y"))))
            .as("pts"))
        .withColumn("sx", expr(
          "aggregate(pts, cast(0.0 as double), (a, p) -> a + p.x)"))
        .withColumn("sy", expr(
          "aggregate(pts, cast(0.0 as double), (a, p) -> a + p.y)"))
        .withColumn("sxy", expr(
          "aggregate(pts, cast(0.0 as double), (a, p) -> a + p.x * p.y)"))
        .withColumn("sxx", expr(
          "aggregate(pts, cast(0.0 as double), (a, p) -> a + p.x * p.x)"))
        .withColumn("slope_raw",
          (col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
        .select(col("n"),
          round(col("slope_raw"), 6).as("zipf_slope"),
          round((col("sy") - col("slope_raw") * col("sx")) /
            col("n").cast("double"), 6).as("intercept"))
    },

    // PERCOLATOR (reverse search) — Elastic's alerting shape: QUERIES are
    // stored, every incoming DOC is matched against all of them ("which
    // saved alerts does this doc trigger"). Stored queries self-derive as
    // the C(4,2) AND-pairs of the top-4 corpus terms; the percolator
    // INVERTS THE QUERIES (a (term → qid) index — tiny, broadcasts), the
    // corpus explodes once to distinct (doc, term), and a doc matches a
    // conjunctive query when it hits ALL its terms (count == arity).
    // At 100 TB this is exactly the streaming-ingest alerting plan: the
    // query index is the broadcast side, docs never self-join.
    "q_percolate" -> { (s, dir) =>
      val postings = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .distinct()
      val top4 = postings.groupBy("w").agg(count(lit(1)).as("dfc"))
        .orderBy(col("dfc").desc, col("w").asc).limit(4)
        .select(col("w"), row_number().over(
          Window.orderBy(col("dfc").desc, col("w").asc)).as("r"))
      val queries = top4.as("a").join(top4.as("b"), col("a.r") < col("b.r"))
        .select((col("a.r") * 10 + col("b.r")).cast("long").as("qid"),
          col("a.w").as("term_a"), col("b.w").as("term_b"))
      val qTerms = queries.select(col("qid"), col("term_a").as("w"))
        .unionByName(queries.select(col("qid"), col("term_b").as("w")))
      val matches = postings.join(broadcast(qTerms), "w")
        .groupBy("doc_id", "qid").agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") === 2)
        .groupBy("qid").agg(count(lit(1)).as("n_matched_docs"))
      queries.join(matches, Seq("qid"), "left")
        .select(col("qid"), col("term_a"), col("term_b"),
          coalesce(col("n_matched_docs"), lit(0L)).as("n_matched_docs"))
        .orderBy("qid")
    },

    // KV PREFIX-CACHE HIT-RATE ESTIMATOR — the LLM-serving capacity
    // readout: how much prefill compute does a shared-prefix cache save
    // on this corpus, per prefix depth k ∈ {1,2,4,8} tokens. First doc
    // with a given prefix is the miss that populates the cache; every
    // other doc with the same prefix hits, saving len(prefix) tokens
    // (shorter docs key by their actual ≤k-token prefix). ONE corpus
    // pass: k explodes map-side (×4), one groupBy (k, prefix), exact
    // integer accounting; the per-k rollup is 4 rows.
    "q_prefix_cache" -> { (s, dir) =>
      val d = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(expr("array(1, 2, 4, 8)")).as("k"),
          col("toks"))
        .select(col("k"),
          expr("concat_ws(' ', slice(toks, 1, k))").as("prefix"),
          least(size(col("toks")), col("k")).cast("long").as("plen"))
      d.groupBy("k", "prefix")
        // min, not first/any_value: plen is functionally dependent on the
        // prefix only when tokens are never empty — doubled spaces yield
        // empty tokens, so pick the value deterministically on both engines
        .agg(count(lit(1)).as("n"), min("plen").as("plen"))
        .groupBy("k")
        .agg(sum("n").as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          sum((col("n") - 1) * col("plen")).as("tokens_saved"))
        .select(col("k").cast("long").as("k"), col("n_docs"),
          col("n_prefixes"),
          round(lit(1.0) - col("n_prefixes").cast("double") / col("n_docs"),
            6).as("hit_rate"),
          col("tokens_saved"))
        .orderBy("k")
    },

    // TRIANGLE COUNTING + local clustering coefficient — the graph-
    // analytics readout beyond PageRank (q_textrank) and connected
    // components (q_dup_clusters): how clique-ish is each node's
    // neighborhood. Edges oriented a<b once so each triangle is counted
    // exactly once as (a<b<c): two equi-joins close the wedge — the
    // standard distributed triangle enumeration; at planet scale the same
    // plan runs with the lower-degree endpoint as the join key, and here
    // the graph is vocab-capped (broadcast-sized) so only the bigram
    // extraction ever sees the corpus. Coefficient = 2T/(deg·(deg−1)) as
    // one exact integer ratio rounded at the end; deg<2 nodes define 0.
    "q_triangle_count" -> { (s, dir) =>
      val (vocab, e0) = wordGraph(s, dir, 32)
      val und = e0.select(least(col("w1"), col("w2")).as("a"),
          greatest(col("w1"), col("w2")).as("b")).distinct()
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
        .join(und.select(col("a").as("ca"), col("b").as("cb")),
          col("a") === col("ca") && col("c") === col("cb"))
        .select("a", "b", "c")
      val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n_tri"))
      val deg = und.select(col("a").as("w"))
        .unionByName(und.select(col("b").as("w")))
        .groupBy("w").agg(count(lit(1)).as("deg"))
      vocab.select("w")
        .join(deg, Seq("w"), "left")
        .join(perNode, Seq("w"), "left")
        .select(col("w"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("clustering",
          when(col("deg") >= 2,
            round(col("n_tri") * 2.0 / (col("deg") * (col("deg") - 1)), 6))
            .otherwise(lit(0.0)))
        .orderBy("w")
    },

    // Duplicate clustering: candidate pairs → connected components →
    // cluster id (= min doc_id in the component) — the step that turns
    // pairwise near-dup hits into keep/delete lists. Iterative min-label
    // propagation: each round is one equi-join + min-aggregate, repeated to
    // the component diameter (driver loop with a cheap monotone convergence
    // check; prefix-blocked components have tiny diameters — a planet-scale
    // graph would switch to the large-star/small-star variant, same
    // join-per-round shape). Every round's shuffle is on doc_id.
    "q_dup_clusters" -> { (s, dir) =>
      val pairs = docs(s, dir)
        .withColumn("fp", md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
        .select("doc_id", "fp")
        // Skew guard on edge generation: an fp block larger than BucketCap
        // would emit O(block²) edges — drop it (exact dedup owns those
        // groups). Mirrored in the recursive-CTE oracle's `p` stage.
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("bn") <= BucketCap)
        .select("doc_id", "fp")
      val e0 = pairs.as("a").join(pairs.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      def labelSum(l: DataFrame): Long = l.agg(sum("label")).head().getLong(0)
      val labels0 = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("label", col("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (labels, _) = Iterate.upTo(20, (labels0, labelSum(labels0))) {
        case (labels, prev) =>
          val next = labels.join(edges, col("doc_id") === col("src"))
            .select(col("dst").as("doc_id"), col("label"))
            .unionByName(labels)
            .groupBy("doc_id").agg(min("label").as("label"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          val n = labelSum(next)
          labels.unpersist()
          ((next, n), n == prev) // labels only ever decrease
      }
      labels.select(col("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },

    // MinHash-LSH near-dup: shingle(3-gram) → 32 minhashes → 8 band keys →
    // candidate pairs via *equi-join on (band, band-key)* — never all-pairs —
    // → exact Jaccard verify ≥ 0.8. The banded join is the 100 TB shape:
    // candidates ∝ true-dup count, not n².
    //
    // The signature table (shingles + minhashes: one md5 per shingle, 32 LCG
    // permutations) is materialized ONCE and reused by the band explode and
    // both sides of the verify join — at 100 TB it would be written to a
    // temp table; here persist() is the local-mode equivalent. Band buckets
    // larger than BucketCap are dropped (skew guard, mirrored in the
    // oracle). The verify join feeds tiny candidate sets against the slim
    // (doc_id, shingles) projection, which AQE turns into broadcast joins at
    // runtime.
    "q_minhash_lsh" -> { (s, dir) =>
      val mh = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          expr(s"array_distinct(${ngramExpr(3)})")
            .as("shingles"))
        .withColumn("xs", expr(s"transform(shingles, s -> ${hExpr("s")})"))
        .select(col("doc_id"), col("shingles"),
          // native codegen'd expression — one pass with a primitive running-
          // min buffer instead of 32 interpreted HOF passes (MinHash32)
          expr("graft_minhash32(xs)").as("mh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      mh.count() // materialize before the three downstream reuses
      val bands = mh.select(col("doc_id"),
          expr("explode(transform(sequence(0,7), j -> struct(j as band, concat_ws('-', mh[4*j], mh[4*j+1], mh[4*j+2], mh[4*j+3]) as bkey)))")
            .as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bkey")))
        .filter(col("bn") <= BucketCap)
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = mh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
      val sb = mh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
      cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
          round(expr("size(array_intersect(sa, sb)) / size(array_union(sa, sb))"), 6))
        .filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    },

    // INCREMENTAL MinHash-LSH — the production shape of near-dup at
    // 100 TB: the corpus is already banded into an INDEX (doc_id % 10
    // ≠ 0 stands in for "yesterday's indexed corpus"); the daily DELTA
    // (doc_id % 10 = 0) probes the index buckets asymmetrically — a
    // delta-sized band join, NEVER a corpus re-band or delta×delta
    // blowup. Same signature pipeline as q_minhash_lsh (one shared
    // derivation — the full-LSH and the incremental probe can never
    // disagree on a signature); BucketCap applies to the INDEX side
    // (the side that persists and can accumulate skew), the delta is
    // passed through whole. Each delta doc reports its best index
    // match (jaccard DESC, doc_id ASC) or admits as new — the
    // admit/dedup decision a daily ingest actually makes. Scale: work
    // ∝ |delta| · bucket occupancy; the index is touched only on the
    // probed (band, bkey) keys.
    "q_minhash_incremental" -> { (s, dir) =>
      val mh = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          expr(s"array_distinct(${ngramExpr(3)})").as("shingles"))
        .withColumn("xs", expr(s"transform(shingles, s -> ${hExpr("s")})"))
        .select(col("doc_id"), col("shingles"),
          expr("graft_minhash32(xs)").as("mh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      mh.count() // materialize before the band explode + verify reuses
      val bands = mh.select(col("doc_id"),
          expr("explode(transform(sequence(0,7), j -> struct(j as band, concat_ws('-', mh[4*j], mh[4*j+1], mh[4*j+2], mh[4*j+3]) as bkey)))")
            .as("b"))
        .select(col("doc_id"), col("b.band").as("band"),
          col("b.bkey").as("bkey"))
      val idx = bands.filter(col("doc_id") % 10 =!= 0)
        .withColumn("bn",
          count(lit(1)).over(Window.partitionBy("band", "bkey")))
        .filter(col("bn") <= BucketCap)
      val del = bands.filter(col("doc_id") % 10 === 0)
      val cand = del.as("a")
        .join(idx.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
        .select(col("a.doc_id").as("doc_new"),
          col("b.doc_id").as("doc_index"))
        .distinct()
      val sa = mh.select(col("doc_id").as("doc_new"),
        col("shingles").as("sa"))
      val sb = mh.select(col("doc_id").as("doc_index"),
        col("shingles").as("sb"))
      val best = cand.join(sa, "doc_new").join(sb, "doc_index")
        .withColumn("jaccard",
          round(expr(
            "size(array_intersect(sa, sb)) / size(array_union(sa, sb))"),
            6))
        .filter(col("jaccard") >= 0.8)
        .withColumn("rn", row_number().over(Window.partitionBy("doc_new")
          .orderBy(col("jaccard").desc, col("doc_index").asc)))
        .filter(col("rn") === 1)
        .select(col("doc_new").as("doc_id"),
          col("doc_index").as("matched_doc"), col("jaccard"))
      mh.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("matched_doc"),
          coalesce(col("jaccard"), lit(0.0d)).as("best_jaccard"),
          col("matched_doc").isNotNull.as("is_dup"))
        .orderBy("doc_id")
    },

    // SimHash near-dup: 60-bit simhash from per-token hash bit votes;
    // candidates via the block pigeonhole — any pair within Hamming distance
    // ≤ 3 must agree on at least one of the 4 15-bit blocks → equi-join on
    // (block, code), never all-pairs — then exact Hamming verify.
    //
    // Geometry is the scale-critical choice: 15-bit blocks give 32,768
    // bucket values per block, so bucket occupancy (and the within-bucket
    // pair count) stays sub-quadratic as the corpus grows; 8-bit blocks
    // (256 values) would go O(n²/256). 60 bits (not 64) because the portable
    // per-token hash is 15 md5 hex chars — the widest that fits a signed
    // 64-bit integer exactly in both engines. Signature table persisted once
    // (same reasoning as q_minhash_lsh); oversized buckets dropped at
    // BucketCap.
    "q_simhash" -> { (s, dir) =>
      val sh = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          expr("transform(w, wd -> cast(conv(substring(md5(wd),1,15),16,10) as bigint))").as("hw"))
        .select(col("doc_id"),
          // native codegen'd expression — one pass over the token hashes
          // instead of 60 interpreted HOF passes (see functions/SimHash60)
          expr("graft_simhash60(hw)").as("simhash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      sh.count() // materialize before both sides of the self-join
      val blocks = sh.select(col("doc_id"), col("simhash"),
          expr("explode(transform(sequence(0,3), k -> struct(k as blk, (shiftright(simhash, 15*k) & 32767) as code)))").as("e"))
        .select(col("doc_id"), col("simhash"), col("e.blk").as("blk"), col("e.code").as("code"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("blk", "code")))
        .filter(col("bn") <= BucketCap)
      blocks.as("a").join(blocks.as("b"),
          col("a.blk") === col("b.blk") && col("a.code") === col("b.code")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
        .filter(col("hamming") <= 3)
        .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    // Perceptual near-duplicate detection over the multimodal BINARY
    // payload — the image analog of SimHash, completing the near-dup
    // family across modalities: graft_ahash60 (native codegen, see
    // functions/AHash60) computes the aHash-structure fingerprint
    // (60-block mean-threshold grid in exact cross-multiplied integers)
    // per blob, then the SAME banded pipeline as q_simhash — 4×15-bit
    // bucket join with per-bucket caps, Hamming verify (≤6: perceptual
    // hashes tolerate more bit drift than text simhash). A real deployment
    // swaps the byte grid for the decoded 8×8 luma grid; every stage
    // around the codec — fingerprint scan in WholeStageCodegen, banding,
    // capped self-join — is the production shape. Scale: sub-quadratic by
    // construction (bucketed candidates only), one shuffle per band join
    // side.
    "q_image_neardup" -> { (s, dir) =>
      // near-dup fixture: every 10th blob gets a SAME-LENGTH perturbed
      // variant (every 'e' byte bumped to 'f' — the byte-grid analog of a
      // re-encode that nudges pixel values), the case a perceptual hash
      // must catch: block boundaries unchanged, means nudged, hamming
      // stays ≤ 3 while unrelated blobs sit ~30 apart. An APPENDED byte
      // would shift every block boundary and the hash — aHash, like real
      // pHash, is robust to value noise, not to cropping.
      val base = docsPar(s, dir).select(col("doc_id"), col("text"))
      val variants = base.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "e", "f").as("text"))
      val ph = base.unionByName(variants)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .filter(octet_length(col("payload")) > 0)
        .select(col("doc_id"), expr("graft_ahash60(payload)").as("phash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      ph.count() // materialize before both sides of the self-join
      val bands = ph.select(col("doc_id"), col("phash"),
          expr("explode(transform(sequence(0,3), k -> struct(k as blk, (shiftright(phash, 15*k) & 32767) as code)))").as("e"))
        .select(col("doc_id"), col("phash"), col("e.blk").as("blk"), col("e.code").as("code"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("blk", "code")))
        .filter(col("bn") <= BucketCap)
      bands.as("a").join(bands.as("b"),
          col("a.blk") === col("b.blk") && col("a.code") === col("b.code")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.phash").as("ph_a"), col("b.phash").as("ph_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(ph_a ^ ph_b)"))
        .filter(col("hamming") <= 6)
        .select("doc_a", "doc_b", "ph_a", "ph_b", "hamming")
        .orderBy("doc_a", "doc_b")
    },

    // n-gram Jaccard near-dup with prefix blocking: candidates = pairs that
    // share the first-8-token fingerprint, verified by exact trigram Jaccard.
    // A second, independent candidate-generation strategy next to LSH.
    "q_ngram_jaccard" -> { (s, dir) =>
      val base = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("w"), 1, 8))).as("fp"),
          expr(s"array_distinct(${ngramExpr(3)})")
            .as("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      base.count() // materialize once for both sides of the self-join
      // Same BucketCap skew guard as q_minhash_lsh: an oversized fp block
      // degrades the self-join to O(block²) — drop it (mirrored in oracle).
      val capped = base
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("bn") <= BucketCap)
      capped.as("a").join(capped.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .withColumn("jaccard",
          round(expr("size(array_intersect(a.sh, b.sh)) / size(array_union(a.sh, b.sh))"), 6))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Boolean AND retrieval over the corpus inverted index: find every doc
    // containing ALL of the query terms — the filter-side primitive next to
    // TF-IDF's ranking side. The query here is self-deriving (top-3 corpus
    // terms by frequency, count-desc/word-asc tie-break) so the oracle needs
    // no magic literals. Shape at scale: the k-term query broadcasts, the
    // corpus explodes once to (doc, term) postings, the semi-match reduces
    // map-side to per-doc matched-term counts, and `matched == k` is the
    // posting-list intersection — no doc ever compares against another.
    "q_boolean_search" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val terms = tok.groupBy("w").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("w").asc).limit(3)
        .select(col("w"), col("tf"))
      tok.join(broadcast(terms.select("w")), "w")
        .groupBy("doc_id")
        .agg(countDistinct("w").as("matched"), count(lit(1)).as("n_hits"))
        .filter(col("matched") === 3)
        .select(col("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    },

    // Phrase search over a POSITIONAL inverted index — the retrieval
    // family's third member (q_boolean_search filters, q_bm25 ranks, this
    // matches adjacency): every occurrence of the corpus's most frequent
    // bigram, found the way a positional index evaluates a phrase query.
    // The phrase self-derives (top bigram, count-desc/text-asc tie-break)
    // so the oracle needs no literals. Shape at scale: tokenize emits
    // (doc, term, pos) postings ONCE, the filter keeps only the two
    // phrase terms' postings (the inverted-index seek — everything else
    // dies at the scan), and adjacency is an equi-join on
    // (doc_id, pos+1) — the full text is never substring-scanned and no
    // document compares against another.
    "q_phrase_search" -> { (s, dir) =>
      val d = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val phrase = d
        .select(explode(expr(ngramExpr(2))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g").asc)
        .limit(1).collect().headOption // scalar driver action: the query phrase
        .getOrElse(throw new IllegalArgumentException(
          "q_phrase_search needs at least one 2-token document"))
        .getString(0)
      val Array(t1, t2) = phrase.split(" ", 2)
      val post = d
        .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tok")))
        .filter(col("tok").isin(t1, t2))
      post.filter(col("tok") === t1).as("a")
        .join(post.filter(col("tok") === t2).as("b"),
          col("a.doc_id") === col("b.doc_id")
            && col("b.pos") === col("a.pos") + 1)
        .select(col("a.doc_id").as("doc_id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_occ"))
        .withColumn("phrase", lit(phrase))
        .orderBy("doc_id")
    },

    // Proximity (NEAR/k) search — the positional family's windowed member:
    // phrase search matches adjacency at distance exactly 1; this finds
    // the corpus's top two terms co-occurring within 4 tokens in either
    // order (the NEAR operator of classic IR engines). Same scale shape
    // as phrase: only the two query terms' postings survive the scan
    // filter, and the window test is an equi-join on doc_id with the
    // |Δpos| ≤ 4 residual — never a text scan, never doc-to-doc. Reports
    // per doc the qualifying pair count and the tightest gap.
    "q_proximity_search" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val top2 = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc).limit(2)
        .collect().map(_.getString(0)) // scalar driver action: 2 terms
      require(top2.length == 2,
        s"q_proximity_search needs >= 2 distinct corpus terms, got ${top2.length}")
      val (t1, t2) = (top2(0), top2(1))
      val post = tok.filter(col("tok").isin(t1, t2))
      post.filter(col("tok") === t1).as("a")
        .join(post.filter(col("tok") === t2).as("b"),
          col("a.doc_id") === col("b.doc_id")
            && abs(col("b.pos") - col("a.pos")) <= 4)
        .select(col("a.doc_id").as("doc_id"),
          abs(col("b.pos") - col("a.pos")).as("gap"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"),
          min("gap").cast("long").as("min_gap"))
        .orderBy("doc_id")
    },

    // Prefix (wildcard) search — `pre*` against the term DICTIONARY: the
    // fourth retrieval member exercises the sorted-dictionary range scan
    // (Lucene's PrefixQuery shape). The prefix self-derives (first 3
    // chars of the most frequent ≥3-char term); matching terms come from
    // a prefix predicate over the dictionary, which then semi-joins the
    // postings. Shape at scale: the dictionary is orders of magnitude
    // smaller than the postings and the prefix prunes it to a handful of
    // terms that BROADCAST into the postings join — the corpus explodes
    // once, is filtered map-side, and is never compared doc-to-doc.
    "q_prefix_search" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val dict = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
      val prefix = dict.filter(length(col("tok")) >= 3)
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(1).collect().headOption // scalar: the query prefix
        .getOrElse(throw new IllegalArgumentException(
          "q_prefix_search needs at least one corpus term of length >= 3"))
        .getString(0).substring(0, 3)
      val terms = dict.filter(col("tok").startsWith(prefix)).select("tok")
      tok.join(broadcast(terms), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          countDistinct("tok").as("n_terms"))
        .withColumn("prefix", lit(prefix))
        .orderBy("doc_id")
    },

    // Fuzzy dictionary search (Lucene FuzzyQuery / SymSpell): find every
    // dictionary term within edit distance 1 of a misspelled query, then
    // probe the postings. The query self-derives as a GUARANTEED
    // misspelling — the most frequent ≥4-char term with its last char
    // dropped — so the oracle carries no literals. Candidate generation is
    // the SYMSPELL DELETION INDEX, not a dictionary-wide distance scan:
    // every term emits its ≤1-char-deletion neighborhood (term + length
    // deletions — a (len+1)-row explode of the DICTIONARY, never the
    // postings), the query's own ≤1-deletion keys fold in as literals
    // (a batched query workload would equi-join the two deletion-key
    // tables instead), and the 1-deletion intersection provably covers
    // all distance-≤1 pairs (delete catches insert via the term itself,
    // substitution via same-position deletes). Survivors are
    // exact-verified with levenshtein ≤ 1 — the distance function only
    // ever runs on the handful of candidates, which is the entire point
    // of the index at a 10^9-term dictionary. Verified terms BROADCAST
    // into the postings probe (the q_prefix_search discipline): the
    // corpus explodes once, is filtered map-side, never doc-to-doc.
    "q_fuzzy_search" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val dict = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
      val qterm = dict.filter(length(col("tok")) >= 4)
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(1).collect().headOption // scalar: the term to misspell
        .getOrElse(throw new IllegalArgumentException(
          "q_fuzzy_search needs at least one corpus term of length >= 4"))
        .getString(0)
      val q = qterm.dropRight(1)
      val qKeys = (q +: q.indices.map(i =>
        q.substring(0, i) + q.substring(i + 1))).distinct
      val cand = dict
        .select(col("tok"), explode(expr(
          "array_distinct(concat(array(tok), " +
            "transform(sequence(1, length(tok)), " +
            "i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1)))))"))
          .as("dk"))
        .filter(col("dk").isin(qKeys: _*))
        .select("tok").distinct()
        .filter(levenshtein(lit(q), col("tok")) <= 1) // exact verify
      tok.join(broadcast(cand), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          countDistinct("tok").as("n_terms"))
        .withColumn("query", lit(q))
        .orderBy("doc_id")
    },

    // KWIC snippet generation — the result-RENDERING step every retrieval
    // stack ships next to ranking (Lucene's highlighter): for each doc
    // matching the query term, a keyword-in-context window of ±2 tokens
    // around the FIRST occurrence, plus the occurrence count. Shape at
    // scale: the postings filter keeps only the query term's positions
    // (inverted-index seek), min(pos) aggregates per doc, and the window
    // slices the doc's own token array map-side in the verify join — the
    // text is never substring-scanned and no doc compares to another.
    // Window arithmetic is pure 1-based slice bounds [max(p−2,0)+1, p+3],
    // identical in both engines including edge clamping at doc start/end.
    "q_kwic_snippet" -> { (s, dir) =>
      val d = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val tok = d.select(col("doc_id"),
        posexplode(col("w")).as(Seq("pos", "tok")))
      val t1 = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(1).collect().headOption // scalar driver action: the query term
        .getOrElse(throw new IllegalArgumentException(
          "q_kwic_snippet needs a non-empty corpus"))
        .getString(0)
      tok.filter(col("tok") === t1)
        .groupBy("doc_id")
        .agg(min("pos").cast("long").as("first_pos"),
          count(lit(1)).as("n_occ"))
        .join(d, "doc_id")
        .withColumn("snippet", expr(
          "array_join(slice(w, greatest(first_pos - 2, 0) + 1, " +
            "cast(first_pos + 3 - greatest(first_pos - 2, 0) as int)), ' ')"))
        .select(col("doc_id"), col("first_pos"), col("n_occ"),
          col("snippet"))
        .withColumn("term", lit(t1))
        .orderBy("doc_id")
    },

    // Trigram-index substring search — "grep the corpus" the way pg_trgm /
    // Zoekt / Google Code Search do it: an arbitrary INFIX query (no token
    // or prefix alignment) answered from a character-3-gram inverted
    // index, never a full-text scan. The query self-derives (chars 2..5 of
    // the top ≥6-char term — a guaranteed-present infix). Index side: each
    // doc emits its DISTINCT character trigrams ONCE (the posting list);
    // only the query's trigrams survive the scan filter — the inverted-
    // index seek, everything else dies before any shuffle. A doc
    // containing the query necessarily contains ALL its trigrams, so the
    // AND-intersection (per-doc count == |query trigrams|) is a complete
    // candidate set; contains() then exact-verifies ONLY the candidates —
    // at 100 TB the expensive substring scan touches the candidate docs,
    // not the corpus. Occurrence counts via the replace-length identity
    // (non-overlapping, same rule both engines). Oracle is DIFFERENTIAL:
    // a direct contains() grep of every doc.
    "q_trigram_search" -> { (s, dir) =>
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val term = d.select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 6)
        .groupBy("tok").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(1).collect().headOption // scalar: the term carrying the infix
        .getOrElse(throw new IllegalArgumentException(
          "q_trigram_search needs at least one corpus term of length >= 6"))
        .getString(0)
      val q = term.substring(1, 5)
      val qEsc = q.replace("'", "''")
      val qTris = q.sliding(3).toSeq.distinct
      trigramCandidates(d, qTris)
        .filter(col("text").contains(q))
        .select(col("doc_id"),
          expr(s"cast((length(text) - length(replace(text, '$qEsc', ''))) " +
            s"/ ${q.length} as bigint)").as("n_occ"))
        .withColumn("query", lit(q))
        .orderBy("doc_id")
    },

    // REGEX search over the trigram index — the production follow-up to
    // q_trigram_search (Zoekt / Google Code Search): a literal-bearing
    // regex is COMPILED to its required trigram set (every string matching
    // `A[^ ]*B` must contain both literals A and B, hence all their
    // character trigrams), the same AND-intersection over the inverted
    // index yields a provably complete candidate set, and rlike() exact-
    // verifies ONLY the candidates — the regex engine never touches a
    // non-candidate doc, which is the whole trick at 100 TB (regex is
    // 10-100× a contains() scan). Query self-derives: the top all-
    // lowercase term of length ≥ 8 split into its 4-char head and tail
    // with a non-space gap ([a-z]-only, so no metachar escaping). Both
    // engines run leftmost greedy matching, so the extracted witness
    // string is identical; oracle is DIFFERENTIAL (regexp over every doc).
    "q_regex_search" -> { (s, dir) =>
      val d = docsPar(s, dir).select(col("doc_id"), col("text"))
      val term = d.select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").rlike("^[a-z]{8,}$"))
        .groupBy("tok").agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok").asc)
        .limit(1).collect().headOption // scalar: the literal-bearing term
        .getOrElse(throw new IllegalArgumentException(
          "q_regex_search needs a corpus term matching ^[a-z]{8,}$"))
        .getString(0)
      val (a, b) = (term.substring(0, 4), term.substring(term.length - 4))
      val pat = s"$a[^ ]*$b"
      val qTris = (a.sliding(3) ++ b.sliding(3)).toSeq.distinct
      trigramCandidates(d, qTris)
        .filter(col("text").rlike(pat))
        .select(col("doc_id"),
          regexp_extract(col("text"), pat, 0).as("hit"))
        .withColumn("pattern", lit(pat))
        .orderBy("doc_id")
    },

    // Dataset card (the "datasheet for datasets" release artifact): one
    // summary row a corpus publisher ships next to the data — volume,
    // token mass, language/source breadth, exact-duplicate mass, length
    // envelope. One pass, one aggregate; the two COUNT(DISTINCT)s and the
    // fingerprint distinct are the only memory-bearing pieces and all
    // partial-aggregate. Mean length is exact Σtokens/N computed once
    // post-agg (a single deterministic double division, never avg()'s
    // partial-averaged doubles).
    "q_dataset_card" -> { (s, dir) =>
      docsPar(s, dir)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("ntok"),
          md5(col("text")).as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum("ntok").as("n_tokens"),
          countDistinct("lang").as("n_langs"),
          countDistinct("source").as("n_sources"),
          (count(lit(1)) - countDistinct("fp")).as("n_exact_dups"),
          min("ntok").as("min_tokens"),
          max("ntok").as("max_tokens"))
        .withColumn("mean_tokens", round(col("n_tokens") / col("n_docs"), 6))
    },

    // In-engine classifier TRAINING (the CCNet/LLaMA-pipeline "train a
    // quality/language classifier, then filter the crawl" step — until now
    // the engine only APPLIED heuristic scores): a batch perceptron over
    // exact-integer features (bias, capped token count, milli-scaled mean
    // word length) against the lang=='en' label. Each round is ONE filtered
    // aggregation — misclassified rows under the current weights contribute
    // Σ y·x per feature, map-side combined; only the 3 weight longs visit
    // the driver between rounds (the kmeans/BPE precedent). All arithmetic
    // is bigint, so weights, margins and the final accuracy are
    // bit-identical across engines, partitionings and reduction orders —
    // no sigmoid, no float gradient. 3 rounds unrolled in the oracle.
    // Scale note: margins are bounded by rounds×|corpus|×feature-range;
    // ANSI mode would fail loudly on bigint overflow rather than corrupt —
    // a production run rescales features per round.
    "q_classifier_train" -> { (s, dir) =>
      val Rounds = 3
      val x = docsPar(s, dir).select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          lit(1L).as("x0"),
          least(size(split(col("text"), " ")).cast("long"), lit(1000L)).as("x1"),
          expr("cast(n_chars * 1000 as bigint) div " +
            "cast(greatest(size(split(text, ' ')), 1) as bigint)").as("x2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        x.count() // materialize once for Rounds+1 passes
        val w = Array(0L, 0L, 0L)
        def margin = col("y") *
          (lit(w(0)) * col("x0") + lit(w(1)) * col("x1") + lit(w(2)) * col("x2"))
        (1 to Rounds).foreach { _ =>
          val upd = x.filter(margin <= 0)
            .agg(sum(col("y") * col("x0")), sum(col("y") * col("x1")),
              sum(col("y") * col("x2")))
            .head()
          (0 until 3).foreach(j =>
            w(j) += (if (upd.isNullAt(j)) 0L else upd.getLong(j)))
        }
        x.agg(count(lit(1)).as("n_docs"),
            sum(when(margin > 0, 1L).otherwise(0L)).as("n_correct"))
          .select(col("n_docs"), col("n_correct"),
            lit(w(0)).as("w0"), lit(w(1)).as("w1"), lit(w(2)).as("w2"))
      } finally { x.unpersist(); () }
    },

    // BM25 ranked retrieval — see [[bm25Top]] (one implementation, shared
    // with the lexical leg of q_hybrid_rrf).
    "q_bm25" -> { (s, dir) => bm25Top(s, dir) },

    // QUERY-LIKELIHOOD retrieval (Dirichlet-smoothed document language
    // model, Zhai & Lafferty 2001) — the third classical ranker beside
    // BM25 and the trigram family: score(q,d) = Σ_{w∈q} ln((tf_{w,d} +
    // μ·ctf_w/|C|) / (dl_d + μ)), μ = 2000 (the published default). Same
    // self-derived 3-term query and doc-stats discipline as [[bm25Top]];
    // UNLIKE BM25 every query term scores in every doc (an absent term
    // smooths to the collection prior — that's what makes QL a proper
    // probability model), so all 3 per-doc contributions are computed
    // unconditionally (absent term ⇒ tf 0 ⇒ the collection prior), and
    // the 3 ln contributions add via the sorted fold BEFORE the rank
    // sort on the rounded score (total order with the doc_id tiebreak).
    // Scale: the ≤3 (term, ctf) stats are driver scalars; per-doc tf/dl
    // are array arithmetic in ONE map-only corpus pass (the bm25Top
    // shape) — the only corpus-sized shuffle left is the type rollup
    // that derives the query.
    "q_query_likelihood" -> { (s, dir) =>
      // r19 restructure (the bm25Top treatment, guide §2.3/§2.4): the old
      // shape persisted the exploded token stream and re-scanned it for
      // dl/terms/tf (QProf: 28.1 s task time for a 1.5 s query). With the
      // ≤3 (term, ctf) pairs collected as driver scalars, every per-doc
      // quantity is array arithmetic in ONE map-only corpus pass — dl =
      // size(w), tf_t = size(filter(w, = t)) — and total_dl is one agg
      // over the checkpointed |docs|-row table. Same all-long inputs into
      // the same contribution text (ctf inlined as a long literal), same
      // sorted ≤3-double fold — bit-identical scores.
      val d0 = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val ts: Seq[(String, Long)] = d0.select(explode(col("w")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("ctf"))
        .orderBy(col("ctf").desc, col("w").asc).limit(3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val tfCols = ts.zipWithIndex.map { case ((t, _), i) =>
        size(filter(col("w"), x => x === lit(t))).cast("long").as(s"tf$i") }
      val per = d0.select(
          (col("doc_id") +: size(col("w")).cast("long").as("dl") +: tfCols): _*)
        .localCheckpoint(true) // |docs| rows; read by the stats agg + scorer
      val stats = per.agg(sum("dl").as("total_dl"))
      val cExprs = ts.zipWithIndex.map { case ((_, ctf), i) =>
        s"ln((tf$i + 2000.0D * ${ctf}L / total_dl) / (dl + 2000.0D))" }
      val hitExpr = ts.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1L ELSE 0L END)")
        .mkString(" + ")
      per.crossJoin(broadcast(stats))
        .select(col("doc_id"), col("dl"),
          expr(hitExpr).as("n_hit"),
          expr(s"round(aggregate(array_sort(array(${cExprs.mkString(", ")}))" +
            ", cast(0.0 as double), (a, x) -> a + x), 6)").as("ql"))
        .orderBy(col("ql").desc, col("doc_id").asc)
        .limit(20)
        .select("doc_id", "dl", "n_hit", "ql")
        .localCheckpoint(true) // 20 rows
    },

    // HYBRID RETRIEVAL via reciprocal-rank fusion — the production search
    // shape composing the lexical ranker (the exact q_bm25 DAG, one
    // implementation — the BPE-merge discipline) with the vector ranker
    // (the exact cosine kernel of q_cosine_topk against the self-derived
    // query vec_id 0): per-doc RRF = Σ 1/(60+rank) over whichever of the
    // two top-20 lists the doc appears in (k=60, Cormack et al.). The two
    // ranked lists are ≤20 rows each — the fusion join is constant-sized
    // no matter the corpus, which is the whole point of fusing RANKS
    // instead of incomparable scores: each side's heavy lifting stays in
    // its own index (postings / ANN), and only top-k tables meet. Docs
    // present in one list keep a NULL rank on the other side (at sf0.1
    // only 2 of 5 k docs have embeddings — the partial-coverage reality).
    // Rank arithmetic is exact integers; the two 1/(60+r) doubles add in
    // a fixed order and round once.
    "q_hybrid_rrf" -> { (s, dir) =>
      val one = (c: Column) => pmod(c, lit(1)) // tiny-table total-order rank
      val bm = bm25Top(s, dir)
        .withColumn("r_bm", row_number().over(
          Window.partitionBy(one(col("doc_id")))
            .orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("r_bm"))
      val ann = Similarity.annTop(s, dir, 20)
      bm.join(ann, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("r_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_ann")), lit(0.0)), 6))
        .withColumn("rrf_rank", row_number().over(
          Window.partitionBy(one(col("doc_id")))
            .orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rrf_rank") <= 10)
        .select("rrf_rank", "doc_id", "r_bm", "r_ann", "rrf")
        .orderBy("rrf_rank")
    },

    // Containment near-dup (ASYMMETRIC): |A∩B| / min(|A|,|B|) over trigram
    // sets — catches a short doc embedded inside a long one, where
    // symmetric Jaccard stays low (|A∪B| is dominated by the long doc) and
    // prefix blocking can't see mid-document containment at all. Candidates
    // come from a shingle INVERTED INDEX self-join: a pair is considered
    // once per shared trigram, so the per-pair count IS the exact
    // intersection size — no array intersection ever materializes. The
    // BucketCap on shingle postings doubles as the stop-shingle filter a
    // production containment index applies: at corpus scale every common
    // trigram exceeds the cap and drops, leaving only discriminative
    // shingles to generate pairs (mirrored in the oracle, so counts agree
    // by construction). Set sizes |A| are the UNCAPPED distinct counts,
    // carried through the join rather than recomputed. Measured candidate
    // volume (CONTAINMENT_CANDIDATES.json, r17): 1.27M pairs at sf0.1,
    // 12.7M at x10, 126.6M at x100, 1.266B at x1000 — EXACTLY linear
    // through three decades, zero buckets ever hitting the cap, so any
    // superlinear wall ratio in BENCH_SCALE.json is the local shuffle
    // floor on the candidate agg, not pair growth.
    "q_containment" -> { (s, dir) =>
      val base = docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), expr(s"array_distinct(${ngramExpr(3)})").as("sh"))
      val inv = base.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("g"))
      val capped = inv
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("bn") <= BucketCap)
      capped.as("a").join(capped.as("b"),
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("containment",
          round(col("n_shared") / least(col("n_a"), col("n_b")), 6))
        .filter(col("containment") >= 0.9)
        .select("doc_a", "doc_b", "n_shared", "containment")
        .orderBy("doc_a", "doc_b")
    },

    // Edit-distance near-dup verification: Levenshtein over the fingerprint-
    // blocked candidate pairs — character-level similarity where the other
    // strategies are token/vector-level. Scale: the O(len²) per-pair cost is
    // paid only on blocked candidates (same prefix-fingerprint equi-join as
    // q_dedup_fingerprint), never all-pairs.
    "q_edit_distance" -> { (s, dir) =>
      val base = docsPar(s, dir)
        .select(col("doc_id"), col("text"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("fp"))
        // BucketCap skew guard (see q_minhash_lsh): the O(len²) Levenshtein
        // is paid per candidate pair, so an uncapped hot block is doubly
        // expensive here. Mirrored in the oracle.
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("bn") <= BucketCap)
      base.as("a").join(base.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.text"), col("b.text")).as("edit_dist"),
          round(lit(1.0) - levenshtein(col("a.text"), col("b.text"))
            / greatest(length(col("a.text")), length(col("b.text"))), 6).as("sim"))
        .orderBy("doc_a", "doc_b")
    },

    // Scalar array-function surface over the token arrays: size/slice/
    // distinct/sort, membership, position, positive and negative indexing —
    // the per-row collection ops a pipeline uses between the heavy HOFs.
    "q_scalar_array" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("w")).as("n_tok"),
          // joined to a string, not a raw array: array-typed output columns
          // are not portable through the driver's pandas comparator
          array_join(sort_array(array_distinct(slice(col("w"), 1, 5))), " ").as("first5_sorted"),
          array_contains(col("w"), "the").as("has_the"),
          array_position(col("w"), "fast").cast("bigint").as("fast_pos"),
          element_at(col("w"), 1).as("first_tok"),
          element_at(col("w"), -1).as("last_tok"))
        .orderBy("doc_id")
    },

    // Per-source document quota ("domain cap"): a training-data mix control
    // that keeps at most 50 docs per source, preferring the longest — the
    // standard guard against one crawl domain dominating the corpus. One
    // window shuffle on `source`; the cap itself bounds every partition's
    // output, so the op cannot skew regardless of input distribution.
    "q_source_cap" -> { (s, dir) =>
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") <= 50, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") <= 50, col("n_chars"))).as("chars_kept"))
        .orderBy("source")
    },

    // Stratified sampling with per-language rates (en 10%, de 25%, rest
    // 50%): the mix-rebalancing op of a multilingual corpus. Assignment is
    // the same portable md5 coin as q_dataset_split — content-independent,
    // seed-free, stable under re-partitioning, and identical in any engine —
    // NOT rand()-based sampling, which is irreproducible at scale.
    "q_stratified_sample" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("h", expr(s"${hExpr("cast(doc_id as string)")} % 100"))
        .withColumn("rate",
          when(col("lang") === "en", 10)
            .when(col("lang") === "de", 25).otherwise(50))
        .filter(col("h") < col("rate"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          sum(size(split(col("text"), " ")).cast("long")).as("tokens_sampled"))
        .orderBy("lang")
    },

    // Repetition filter (boilerplate detector): distinct-trigram ratio per
    // doc; docs whose ratio falls below 0.99 are template/spam candidates
    // (the synthetic corpus is trigram-diverse; real spam sits far lower).
    // Per-doc HOF work is linear in doc length; no shuffle at all until the
    // final order. Trigrams combine per-token md5 hashes with integer
    // arithmetic via aligned slices + zip_with — NOT hw[i] indexing inside a
    // transform lambda: HOF lambdas are interpreted, so each element access
    // would re-evaluate the whole token-hash array and turn the row O(n²)
    // in md5 calls (measured: 38 s vs ~2 s at sf0.1). Slice children are
    // evaluated once per row, keeping the md5 count linear.
    "q_repetition_ngrams" -> { (s, dir) =>
      docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .withColumn("hw", expr(s"transform(w, wd -> ${hExpr("wd")})"))
        .withColumn("tg",
          expr("zip_with(zip_with(slice(hw, 1, size(w)-2), slice(hw, 2, size(w)-2), " +
            "(x, y) -> (x * 1000003 + y) % 2147483647), slice(hw, 3, size(w)-2), " +
            "(p, z) -> p * 1000003 + z)"))
        .select(col("doc_id"),
          size(col("tg")).as("n_tri"),
          size(array_distinct(col("tg"))).as("n_uniq"))
        .withColumn("uniq_ratio", round(col("n_uniq") / col("n_tri"), 6))
        .filter(col("uniq_ratio") < 0.99)
        .orderBy("doc_id")
    },

    // Exact-substring dedup (the Lee et al. "Deduplicating Training Data
    // Makes Language Models Better" pass): every 8-token span gets a rolling
    // hash; a span whose hash already occurs in an EARLIER doc (keeper =
    // min doc_id per hash) is a removable duplicate — first occurrence is
    // kept, so re-running is idempotent. Differs from MinHash/SimHash
    // (whole-doc NEAR-dup): this catches verbatim boilerplate *inside*
    // otherwise-distinct docs, the dominant duplication mode in web corpora.
    // Shape at 100 TB: spans reduce to per-(doc, hash) counts map-side
    // before any shuffle, the keeper table is one partial-agg groupBy on the
    // hash, and the join back is hash-partitioned on the same key — no
    // suffix array, no all-pairs, state linear in distinct spans. The span
    // hash folds the 8 aligned slice columns with zip_with (same reason as
    // the trigram note above: per-element indexing inside a HOF lambda is
    // O(n²) in doc length; slices evaluate once). The keeper is a window
    // MIN over the span hash, not a groupBy+self-join: one h-partitioned
    // shuffle marks every span with its hash's earliest doc in place —
    // measured ~25% faster than the aggregate+join formulation at sf0.1
    // (QBench min-of-3: 4.2 s vs 5.4 s), and two fewer wide stages at any
    // scale.
    "q_substring_dedup" -> { (s, dir) =>
      val W = 8
      val spans = docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= W)
        // native codegen span hash (functions/SpanHash8) — one primitive
        // pass instead of the interpreted transform + 7-deep zip_with
        // chain; HOF-equivalence is asserted in OperatorSpec
        .select(col("doc_id"), explode(expr("graft_spanhash8(w)")).as("h"))
      spans
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("doc_id") > col("keeper"), 1L).otherwise(0L))
            .as("n_dup"))
        .filter(col("n_dup") > 0)
        .withColumn("dup_ratio", round(col("n_dup") / col("n_spans"), 6))
        .orderBy("doc_id")
    },

    // Token-entropy quality score: Shannon entropy of each doc's token
    // distribution, H = log2(n) − Σ c·log2(c) / n — low entropy = repetitive
    // or single-token spam, high = diverse vocabulary. Two shuffles
    // ((doc_id, token) count, then doc_id rollup), both map-side combined.
    // The float Σ is folded over the SORTED per-doc count list, never
    // sum()-aggregated across the shuffle: double addition is
    // non-associative, so a shuffle-order sum would differ run to run (and
    // from the oracle) at the last ULP — the same reason money runs in
    // DECIMAL. The count list is per-doc-vocabulary-sized, not corpus-sized.
    "q_token_entropy" -> { (s, dir) =>
      docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"), collect_list(col("c")).as("cs"))
        .withColumn("slog",
          expr("aggregate(array_sort(cs), cast(0.0 as double), (a, x) -> a + x * log2(x))"))
        .select(col("doc_id"), col("n_tokens"),
          round(log2(col("n_tokens")) - col("slog") / col("n_tokens"), 6)
            .as("entropy"))
        .orderBy("doc_id")
    },

    // PII scrub: regex redaction of email/phone shapes with per-doc
    // redaction counts — the compliance pass every training corpus runs.
    // The synthetic corpus carries no PII, so deterministic fake PII is
    // injected first (keyed on doc_id — same rows in both engines); the
    // operator under test is the scrub+count, which is pure per-row regex
    // inside codegen.
    "q_pii_scrub" -> { (s, dir) =>
      docsPar(s, dir)
        .withColumn("aug", concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" contact agent007@example.com now")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" call 555-867-5309")).otherwise(lit(""))))
        .withColumn("n_emails",
          regexp_count(col("aug"), lit("[a-z0-9]+@[a-z]+\\.[a-z]+")))
        .withColumn("n_phones",
          regexp_count(col("aug"), lit("\\d{3}-\\d{3}-\\d{4}")))
        .filter(col("n_emails") + col("n_phones") > 0)
        .withColumn("clean",
          regexp_replace(
            regexp_replace(col("aug"), "[a-z0-9]+@[a-z]+\\.[a-z]+", "[EMAIL]"),
            "\\d{3}-\\d{3}-\\d{4}", "[PHONE]"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("clean")).as("clean_len"))
        .orderBy("doc_id")
    },

    // Tokenizer-vocabulary construction: global token frequencies ranked
    // with the cumulative-coverage curve — the "how many types cover X% of
    // running tokens" question that picks a vocab size. Three distributed
    // passes over the type table, none single-partition: the wordcount
    // shuffle is corpus-sized but map-side combined; `total` is a scalar
    // aggregate (partial+final) broadcast back via a 1-row cross join; the
    // top-100 comes from orderBy+limit, which Spark plans as
    // TakeOrderedAndProject (per-partition heaps, no global sort). Only the
    // 100 surviving rows ever meet the rank/cumulative window — at a 100 TB
    // corpus the raw type table is 10^8–10^9 rows and must never be pulled
    // into one task (PlanSpec asserts the Window sits above the top-k).
    // BPE TOKENIZER TRAINING — three merge rounds of byte-pair encoding
    // over the corpus vocabulary, the distributed shape a tokenizer
    // pipeline runs before any model sees a token: per round, adjacent
    // symbol pairs counted corpus-weighted (explode + sum — the only wide
    // op), the argmax pair (count DESC, pair ASC — deterministic) chosen
    // with a SCALAR driver action, and the merge applied map-only by a
    // sentinel-spaced string replace. Both engines scan replace()
    // left-to-right non-overlapping, so the applied merges are
    // engine-identical (real BPE re-scans repeated pairs — a stated
    // single-pass simplification). Vocab capped at the top 200 types, so
    // rounds run over a bounded table; at 100 TB the pair counting is the
    // map-side-combined aggregation, never an all-pairs join.
    "q_bpe_merges" -> { (s, dir) =>
      // the shared bpeTrainRounds loop IS this query's semantics; it only
      // renders the per-round top-15 tables the loop already computed
      bpeTrainRounds(s, dir, 3).map(_._2)
        .reduce(_ unionAll _).orderBy("round", "rank")
    },

    // BPE ENCODE — the tokenizer's other half: q_bpe_merges TRAINS the
    // merge table, this query APPLIES it to encode the whole corpus and
    // reports per-doc subword counts (the "tokenize the crawl with the
    // trained tokenizer" pass every training pipeline runs after BPE
    // training). The 3 learned merges visit the driver as scalars (the
    // kmeans/BPE-training precedent) and come back as LITERALS folded into
    // one map-only projection — at 100 TB encoding is embarrassingly
    // parallel: no shuffle touches the corpus until the per-doc rollup,
    // and a production run ships the merge table as a broadcast instead of
    // retraining. Sentinel-space symbol strings keep a merge replacement
    // ' a b '→' ab ' from matching across symbol boundaries (training's
    // discipline); regexp_replace here and replace() in DuckDB both scan
    // left-to-right non-overlapping and resume AFTER the replacement, so
    // adjacent-pair consumption agrees byte-for-byte. Like training, the
    // replace is SINGLE-PASS per merge: a run of repeated pairs consumes
    // its shared sentinel spaces, so 'abab' encodes as 3 tokens where a
    // fixpoint-rescanning reference BPE would emit 2 — fertility and
    // n_bpe_tokens are therefore slightly INFLATED vs reference
    // tokenizers (engine and oracle agree exactly; the simplification is
    // in the declared semantics, not a divergence).
    "q_bpe_encode" -> { (s, dir) =>
      val merges = bpeTrainMerges(s, dir, 3)
      val enc0 = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " +")).as("word"))
        .filter(length(col("word")) >= 1)
        .withColumn("syms",
          concat(lit(" "), concat_ws(" ", split(col("word"), "")), lit(" ")))
      // r19: literal string replace, not the regex engine — same
      // left-to-right non-overlapping resume-after-replacement semantics
      // (and the DuckDB oracle already uses replace()), executed as a
      // codegen'd UTF8String scan instead of java.util.regex per word
      // (guide: per-task work / codegen-friendly expressions)
      val enc = merges.foldLeft(enc0) { (df, m) =>
        df.withColumn("syms", org.apache.spark.sql.functions.replace(
          col("syms"), lit(s" $m "), lit(s" ${m.replace(" ", "")} ")))
      }
      enc
        .select(col("doc_id"), length(col("word")).cast("long").as("wlen"),
          size(split(trim(col("syms")), " ")).cast("long").as("ntok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("ntok").as("n_bpe_tokens"),
          sum("wlen").as("n_chars"))
        .withColumn("fertility",
          round(col("n_bpe_tokens") / col("n_words"), 6))
        .orderBy("doc_id")
    },

    // TOKENIZER PARITY AUDIT — the multilingual-equity readout (Petrov et
    // al. 2023's "language unfairness": a tokenizer trained on a skewed
    // mix fragments under-represented languages into more tokens, which
    // taxes their context budget and training signal): encode EVERY word
    // with the SAME trained 3-merge BPE ([[bpeTrainMerges]] — one training
    // implementation, third consumer) and roll fertility (tokens/word),
    // chars/token, and the parity ratio vs the 'en' anchor up PER
    // LANGUAGE. Parity divides the two ROUNDED fertilities (boundary
    // discipline). Scale: the encode is map-side regex over words (the
    // q_bpe_encode path), the rollup is ≤|langs| rows; the anchor is a
    // 1-row broadcast.
    "q_tokenizer_parity" -> { (s, dir) =>
      val merges = bpeTrainMerges(s, dir, 3)
      val enc0 = docsPar(s, dir)
        .select(col("lang"), explode(split(col("text"), " +")).as("word"))
        .filter(length(col("word")) >= 1)
        .withColumn("syms",
          concat(lit(" "), concat_ws(" ", split(col("word"), "")), lit(" ")))
      // r19: literal replace, not regex — see q_bpe_encode
      val enc = merges.foldLeft(enc0) { (df, m) =>
        df.withColumn("syms", org.apache.spark.sql.functions.replace(
          col("syms"), lit(s" $m "), lit(s" ${m.replace(" ", "")} ")))
      }
      val per = enc
        .select(col("lang"), length(col("word")).cast("long").as("wlen"),
          size(split(trim(col("syms")), " ")).cast("long").as("ntok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum("ntok").as("n_tokens"),
          sum("wlen").as("n_chars"))
        .withColumn("fertility", round(col("n_tokens") / col("n_words"), 6))
        .withColumn("chars_per_token",
          round(col("n_chars") / col("n_tokens"), 6))
      val en = per.filter(col("lang") === "en")
        .select(col("fertility").as("f_en"))
      per.crossJoin(broadcast(en))
        .withColumn("parity", round(col("fertility") / col("f_en"), 6))
        .select("lang", "n_words", "n_tokens", "fertility",
          "chars_per_token", "parity")
        .orderBy("lang")
    },

    // UNIGRAM-LM TOKENIZER TRAINER — the SentencePiece family next to BPE
    // (Kudo 2018): hard-EM over a capped seed vocab. Seed = every single
    // char of the top-200 word table (coverage guarantee: the all-chars
    // segmentation always exists) plus the top-25 substrings of length
    // 2..4 by weighted occurrence count. Piece likelihoods are EXACT
    // per-myriad integers q = max(1, cnt·10⁴ div T) (the max(1) is the
    // declared smoothing floor that keeps unused pieces alive, and the
    // only float-free stand-in for log-probs: Viterbi compares products
    // Πq·10⁴^(8−k) — 8-factor-padded so different piece counts are
    // commensurable — computed in decimal(38,0)/HUGEINT, ≤ 10³² so never
    // overflowing, bit-identical across engines). The Viterbi E-step is
    // EXHAUSTIVE: word lengths are capped at 8, so the 2^(n−1) ≤ 128
    // segmentations of each word are enumerated as bitmasks and the
    // argmax (score desc, mask asc) is exact, not beam-searched. M-step
    // recounts piece usage over the chosen segmentations. Two rounds,
    // unrolled in the oracle. The q_kmeans_ivf driver discipline: the
    // corpus reduces to the 200-row word table ONCE; each round is
    // map-side expressions over that table plus one tiny usage rollup,
    // and only the ~50 (piece, q) scalars visit the driver between
    // rounds — at 100 TB the word-table cap (a real SentencePiece
    // training corpus is sampled the same way) keeps every round
    // constant-cost regardless of corpus size.
    "q_unigram_tokenizer" -> { (s, dir) =>
      // escape backslashes FIRST (Spark string literals interpret \-escapes
      // by default), then double quotes — so a piece containing \ or ' maps
      // to the same raw string the DuckDB oracle sees as a map key
      def esc(x: String) = x.replace("\\", "\\\\").replace("'", "''")
      val words = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")).between(2, 8))
        .groupBy("word").agg(count(lit(1)).as("wc"))
        .orderBy(col("wc").desc, col("word").asc).limit(200)
        .localCheckpoint(true) // 200 rows; feeds vocab + both EM rounds
      val subs = words.select(col("wc"), explode(expr(
        "flatten(transform(sequence(1, length(word)), " +
          "a -> transform(sequence(1, least(4, length(word) - a + 1)), " +
          "l -> substring(word, a, l))))")).as("piece"))
      val chars = subs.filter(length(col("piece")) === 1)
        .groupBy("piece").agg(sum("wc").as("cnt"))
      val multi = subs.filter(length(col("piece")) >= 2)
        .groupBy("piece").agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("piece").asc).limit(25)
      val vocab = chars.unionByName(multi).localCheckpoint(true)
      val t1row = vocab.agg(sum("cnt")).head()
      require(!t1row.isNullAt(0) && t1row.getLong(0) > 0,
        "unigram tokenizer needs a non-empty word table")
      val t1 = t1row.getLong(0)
      val q1 = vocab.select(col("piece"),
          expr(s"greatest(1L, (cnt * 10000L) div ${t1}L)").as("q"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // one Viterbi (hard-E) pass under piece likelihoods `qs`
      def segment(qs: Map[String, Long]): DataFrame = {
        val cases = qs.toSeq.sortBy(_._1)
          .map { case (p, q) => s"WHEN '${esc(p)}' THEN ${q}L" }.mkString(" ")
        words
          .withColumn("n", length(col("word")))
          .withColumn("m", explode(expr("sequence(0, shiftleft(1, n - 1) - 1)")))
          .withColumn("starts", expr(
            "concat(array(1), filter(sequence(2, n), " +
              "p -> (m div shiftleft(1, p - 2)) % 2 = 1))"))
          .withColumn("pieces", expr(
            "zip_with(starts, concat(slice(starts, 2, size(starts) - 1), " +
              "array(n + 1)), (a, b) -> substring(word, a, b - a))"))
          .withColumn("score", expr(
            "aggregate(transform(sequence(1, 8), " +
              "i -> CASE WHEN i <= size(pieces) THEN cast(" +
              s"CASE element_at(pieces, i) $cases ELSE 0L END " +
              "as decimal(38,0)) ELSE cast(10000L as decimal(38,0)) END), " +
              "cast(1 as decimal(38,0)), " +
              "(acc, q) -> cast(acc * q as decimal(38,0)))"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("word")
              .orderBy(col("score").desc, col("m").asc)))
          .filter(col("rn") === 1)
          .select(col("word"), col("wc"), col("pieces"))
      }
      def usage(seg: DataFrame): DataFrame = seg
        .select(col("wc"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum("wc").as("used"))
      val u1 = usage(segment(q1))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val t2 = u1.values.sum
      require(t2 > 0, "unigram tokenizer round-1 usage is empty")
      val q2 = q1.keys.map(p =>
        p -> math.max(1L, u1.getOrElse(p, 0L) * 10000L / t2)).toMap
      val case2 = q2.toSeq.sortBy(_._1)
        .map { case (p, q) => s"WHEN '${esc(p)}' THEN ${q}L" }.mkString(" ")
      vocab.join(usage(segment(q2)), Seq("piece"), "left")
        .select(col("piece"),
          coalesce(col("used"), lit(0L)).as("used"),
          expr(s"CASE piece $case2 ELSE 1L END").as("q"))
        .orderBy(col("used").desc, col("piece").asc)
    },

    // FILTER FUNNEL — the composed keep/drop POLICY every corpus release
    // publishes (the C4/RefinedWeb "data funnel" table): each doc meets
    // the gates IN ORDER — fingerprint dedup first (the first-8-token
    // blocking key of q_dedup_fingerprint: only each group's min-id
    // survives; dedup-first is the URL-dedup convention and keeps every
    // later gate's accounting dup-free), then language allowlist (top-3
    // langs by doc count, self-derived), length envelope [40, 10000]
    // tokens, and the linear quality model (q_quality_classifier's exact
    // z-DAG, z > 0) — and is attributed to
    // the FIRST gate that kills it, so the stages sum to the corpus and
    // every kill has one reason. Single pass: all gates are row-local
    // expressions except dedup's one fp-window; the rollup is a 5-row
    // aggregate. The funnel is the operator; each gate's member query
    // (q_lang_rebalance, q_text_stats, q_quality_classifier,
    // q_dedup_exact) audits its own stage in isolation.
    "q_filter_funnel" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")).cast("long"))
        .withColumn("fp", md5(concat_ws(" ", slice(col("w"), 1, 8))))
        .withColumn("keeper", min("doc_id").over(Window.partitionBy("fp")))
      val langs = d.groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lang").asc).limit(3)
        .collect().map(_.getString(0)) // scalar driver action: the allowlist
      d.withColumn("z", qualityZ(col("w"), col("n_tok")))
        .withColumn("stage",
          when(col("doc_id") =!= col("keeper"), "1_fingerprint_dup")
            .when(!col("lang").isin(langs: _*), "2_lang")
            .when(col("n_tok") < 40 || col("n_tok") > 10000, "3_length")
            .when(!(col("z") > 0), "4_quality")
            .otherwise("5_kept"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("stage")
    },

    // FEATURE HASHING (HashingTF / Vowpal Wabbit's signed trick) — the
    // schema-free featurizer classical quality classifiers run on: token
    // t lands in bucket h(t) mod 32 with sign from h(t)'s bit 5, so the
    // feature space is FIXED-WIDTH regardless of vocabulary (no vocab
    // table to build, broadcast or version — the property that matters
    // when the corpus is 100 TB and the vocab is open). Signed hashing
    // makes collisions cancel in expectation instead of biasing up
    // (Weinberger et al.). Map-only until the per-doc rollup; weights,
    // norms and the positional checksum are exact integers so the vector
    // itself (not a summary) is what the oracle checks.
    "q_feature_hashing" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("h", expr(hExpr("tok")))
        .withColumn("b", pmod(col("h"), lit(32)))
        .withColumn("sgn",
          when(pmod(expr("h div 32"), lit(2)) === 0, lit(1L)).otherwise(lit(-1L)))
      tok.groupBy("doc_id", "b").agg(sum("sgn").as("w"))
        .filter(col("w") =!= 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          sum(abs(col("w"))).as("l1"),
          sum((col("b") + 1) * col("w")).as("checksum"))
        .orderBy("doc_id")
    },

    // COUNT-MIN SKETCH heavy hitters — the streaming frequent-items
    // counter (next to HLL distinct and quantile sketches in the approx
    // family): a d=4 × w=512 counter grid; token t increments counter
    // (r, h_r(t)) per row r, and its estimate is the MIN over its d
    // counters — an OVERESTIMATE by construction (collisions only add),
    // never an under. The sketch is ADDITIVE (counters only sum), so it
    // is insertion-order- and partitioning-independent — the property
    // that makes it mergeable across 1000 executors and ACROSS DAYS at
    // 100 TB: here it builds from the type counts (one token aggregate);
    // a production ingest builds the same grid map-side per partition
    // and ORs nothing — just sums 2048 longs. Probes: the exact top-10
    // tokens (the ground truth the sketch would replace) with their CM
    // estimates, the always-true overestimate bound pinned as a column,
    // and the relative error the 512-bucket width buys at this corpus.
    // Hashes are the portable 32-bit md5 (hExpr) salted by the row index,
    // so the oracle rebuilds the identical grid.
    "q_heavy_hitters" -> { (s, dir) =>
      val D = 4; val W = 512
      // r19: the type rollup is consumed FIVE times (once per sketch row
      // via the counters union, once by the exact top-10) under different
      // downstream keys, and exchange reuse did not cover them — QProf
      // showed the corpus explode+agg stage running 5× (5-7 s task time
      // each, 23.7 s total). One eager checkpoint of the ≤|vocab|-row
      // table serves all five (guide §2.4); the sketch/probe math above
      // it is unchanged.
      val types = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      def bucket(i: Int) =
        expr(s"pmod(${hExpr(s"concat('$i ', tok)")}, $W)").as("b")
      val counters = (0 until D).map(i =>
        types.select(lit(i).as("r"), bucket(i), col("c")))
        .reduce(_ unionAll _)
        .groupBy("r", "b").agg(sum("c").as("cnt"))
      val top = types.orderBy(col("c").desc, col("tok").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.partitionBy(pmod(col("c"), lit(1)))
            .orderBy(col("c").desc, col("tok").asc)))
      val probes = (0 until D).map(i =>
        top.select(col("rank"), col("tok"), col("c"), lit(i).as("r"), bucket(i)))
        .reduce(_ unionAll _)
      probes.join(broadcast(counters), Seq("r", "b"))
        .groupBy("rank", "tok", "c")
        .agg(min("cnt").as("cm_est"))
        .select(col("rank"), col("tok").as("token"), col("c").as("exact"),
          col("cm_est"),
          (col("cm_est") >= col("c")).as("overestimate"),
          round((col("cm_est") - col("c")) / col("c"), 6).as("rel_err"))
        .orderBy("rank")
    },

    "q_vocab_build" -> { (s, dir) =>
      val types = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val total = types.agg(sum("c").as("total"))
      val top = types.orderBy(col("c").desc, col("w").asc).limit(100)
      // constant partition spec: same single partition the 100-row limit
      // already implies, but explicit — WindowExec's "moving all data to a
      // single partition" warning only fires on an empty partition spec.
      // pmod(c, 1) is constant 0 but non-foldable, so Spark 4's
      // EliminateWindowPartitions can't strip it back to the empty spec.
      val ord = Window.partitionBy(pmod(col("c"), lit(1)))
        .orderBy(col("c").desc, col("w").asc)
      top.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum", sum("c").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rank"), col("w").as("token"), col("c").as("n_occ"),
          round(col("cum") / col("total"), 6).as("coverage"))
        .orderBy("rank")
    },

    // Benchmark-contamination check: the decontamination pass run before
    // training — fraction of each corpus doc's distinct 5-gram shingles
    // that also appear in a held-out benchmark set (every 50th doc stands
    // in for the eval benchmark). The benchmark shingle set is tiny
    // relative to the corpus and is broadcast, so the corpus probe is
    // map-only; the only wide op is the per-doc shingle distinct. Shingles
    // are the portable 32-bit md5 hash, so the candidate sets (not just
    // counts) are engine-identical.
    "q_contamination" -> { (s, dir) =>
      // per-doc shingle dedup happens locally (array_distinct inside the
      // row) — no corpus-wide (doc_id, shingle) distinct shuffle; the only
      // wide op left is the final per-doc rollup
      val sh = docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          shingleHashes)).as("sh"))
      val bench = sh.filter(col("doc_id") % 50 === 0)
        .select(col("sh")).distinct().withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .filter(col("n_hit") > 0)
        .withColumn("overlap", round(col("n_hit") / col("n_shingles"), 6))
        .orderBy("doc_id")
    },

    // Budget-driven mixture sampling: the "mix sources to a token budget"
    // step of training-data assembly. Sources collapse into 3 domains; the
    // target mix (web 50 / books 30 / wiki 20 % of a 40%-of-corpus token
    // budget) becomes one integer per-domain sampling rate derived from the
    // domain's actual token count, and rows are kept by the same portable
    // md5 coin as q_dataset_split — reproducible under re-partitioning,
    // no sampler state. Two passes: pass 1 is a map-side-combined 3-row
    // aggregate; pass 2 broadcasts the 3 rates and filters map-only — the
    // corpus itself never shuffles. All rate arithmetic is integer (div),
    // so the kept set is bit-identical in any engine.
    // TEMPERATURE-SCALED SOURCE MIXTURE (the mT5/XLM-R α-sampling rule,
    // Conneau et al. 2020 §3.1 — the OTHER standard mixture knob beside
    // q_data_mixture's declared target shares: upweight small sources by
    // wᵢ ∝ pᵢ^α, α = 0.3 declared): shares from ONE exact token rollup,
    // p^α written as exp(α·ln p) so BOTH engines run the identical
    // libm tree (no pow-implementation drift on a rounding boundary),
    // the Σp^α normalizer folded over the source-SORTED list (the
    // q_token_entropy rule), epochs = wᵢ/pᵢ — the "how many times does
    // this source repeat per pass" readout a training run budgets with.
    // Scale: one map-side-combined rollup to ≤|sources| rows.
    "q_temperature_mix" -> { (s, dir) =>
      val st = docs(s, dir)
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      val pw = "exp(0.3D * ln(CAST(p.tokens AS DOUBLE) / tot))"
      st.agg(sum("tokens").as("tot"),
          sort_array(collect_list(struct(col("source"), col("tokens"),
            col("n_docs")))).as("l"))
        .withColumn("z", expr(s"aggregate(l, 0D, (a, p) -> a + $pw)"))
        .select(explode(col("l")).as("p"), col("tot"), col("z"))
        .select(col("p.source").as("source"), col("p.n_docs").as("n_docs"),
          col("p.tokens").as("tokens"),
          expr("round(CAST(p.tokens AS DOUBLE) / tot, 6)").as("share"),
          expr(s"round($pw / z, 6)").as("weight"),
          expr(s"round($pw / z / (CAST(p.tokens AS DOUBLE) / tot), 6)")
            .as("epochs"))
        .orderBy("source")
    },

    "q_data_mixture" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("dom_ix", expr("cast(substring(source, 4) as int) % 3"))
        .withColumn("domain",
          when(col("dom_ix") === 0, "web")
            .when(col("dom_ix") === 1, "books").otherwise("wiki"))
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
      val rates = d.groupBy("domain").agg(sum("tok").as("dom_tokens"))
        // non-foldable constant-0 key: one partition over the 3-row domain
        // table (explicit, so WindowExec's empty-spec warning stays quiet)
        .withColumn("total_tokens",
          sum("dom_tokens").over(Window.partitionBy(pmod(col("dom_tokens"), lit(1)))))
        .withColumn("share_pct",
          when(col("domain") === "web", 50L)
            .when(col("domain") === "books", 30L).otherwise(20L))
        .withColumn("rate_bp", least(lit(10000L),
          expr("((((total_tokens * 2) div 5) * share_pct) div 100) * 10000 div dom_tokens")))
        .select("domain", "rate_bp")
      d.withColumn("h", expr(s"${hExpr("cast(doc_id as string)")} % 10000"))
        .join(broadcast(rates), "domain")
        .filter(col("h") < col("rate_bp"))
        .groupBy("domain")
        .agg(max("rate_bp").as("rate_bp"), count(lit(1)).as("n_kept"),
          sum("tok").as("tokens_kept"))
        .orderBy("domain")
    },

    // CLASS-BASED TF-IDF (c-TF-IDF, the BERTopic topic-keyword scorer —
    // Grootendorst 2022): treat each SOURCE as one concatenated
    // pseudo-document and score terms by tf_class · ln(1 + A/tf_total),
    // where A is the average class token count — the class-level
    // re-weighting that surfaces what makes a source DISTINCTIVE rather
    // than merely frequent (plain TF-IDF, E24, scores documents; this
    // scores classes). Term counts are exact integers; A enters as an
    // exact ratio inside the shared ln tree; top-5 per source cut on the
    // ROUNDED score with (term) tiebreak via WindowGroupLimit (the E92
    // partial-limit shape — no full per-class sort at scale). Scale: one
    // (source, term) rollup + a broadcast term-total + class-size join.
    "q_ctfidf" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val ct = tok.groupBy("source", "w").agg(count(lit(1)).as("tf"))
      val tot = tok.groupBy("w").agg(count(lit(1)).as("tf_total"))
      val sizes = ct.groupBy("source").agg(sum("tf").as("class_tokens"))
      val avgA = sizes.agg(sum("class_tokens").as("t_all"),
        count(lit(1)).as("n_classes"))
      val scored = ct.join(broadcast(tot), "w")
        .crossJoin(broadcast(avgA))
        .withColumn("score", round(expr(
          "tf * ln(1.0D + (CAST(t_all AS DOUBLE) / n_classes) / tf_total)"),
          6))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("score").desc, col("w").asc)).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("source"), col("rn"), col("w").as("term"),
          col("tf"), col("score"))
        .orderBy("source", "rn")
    },

    // BATCH PADDING ECONOMICS — the readout that justifies bucketed
    // (length-grouped) batching to a training team: padding a batch to
    // its longest member burns FLOPs on pad tokens, and the waste under
    // "one global bucket" vs "power-of-two length buckets" (the standard
    // bucketing ladder, declared edges 64..1024) is exactly the cost
    // difference between naive DataLoader batching and bucketed batching.
    // (q_pack_sequences is the third strategy — concatenate and split —
    // with its own tradeoffs; this query prices the PADDED family.)
    // Token counts are exact integers; the global max arrives as a 1-row
    // broadcast; both strategies price in ONE map-side pass each, rolled
    // to 2 rows. waste_share = padded-minus-real over padded, exact
    // integers until the final ratio.
    "q_batch_padding" -> { (s, dir) =>
      val d = docs(s, dir)
        .select(size(split(col("text"), " ")).cast("long").as("len"))
      val mx = d.agg(max("len").as("gmax"))
      val bucketed = d
        .withColumn("bmax", expr("""CASE WHEN len <= 64 THEN 64L
          |WHEN len <= 128 THEN 128L WHEN len <= 256 THEN 256L
          |WHEN len <= 512 THEN 512L ELSE 1024L END""".stripMargin))
        .agg(count(lit(1)).as("n_docs"), sum("len").as("real_tokens"),
          sum("bmax").as("padded_tokens"))
        .withColumn("strategy", lit("pow2_buckets"))
      val global = d.crossJoin(broadcast(mx))
        .agg(count(lit(1)).as("n_docs"), sum("len").as("real_tokens"),
          sum("gmax").as("padded_tokens"))
        .withColumn("strategy", lit("global_max"))
      global.unionByName(bucketed)
        .select(col("strategy"), col("n_docs"), col("real_tokens"),
          col("padded_tokens"),
          round((col("padded_tokens") - col("real_tokens")).cast("double") /
            col("padded_tokens"), 6).as("waste_share"))
        .orderBy("strategy")
    },

    // DATASET MANIFEST (content-addressed fingerprint) — the release
    // artifact that answers "is the corpus you trained on byte-identical
    // to the one I'm holding?" without moving data: every row digests to
    // the portable 32-bit md5 hash of its canonical serialization
    // (fields + a full-text md5, '|'-joined), and digests combine with
    // ORDER-INDEPENDENT, MERGEABLE aggregates — SUM, SUM(h·(h mod 997))
    // (a second mixing moment so transposing two rows' fields can't
    // cancel), and COUNT — so 1000 executors each fingerprint their
    // partitions and the manifest merges associatively; GROUP BY
    // ROLLUP(source) emits the per-source digests AND the whole-dataset
    // digest from the SAME pass (the grand-total row IS the dataset
    // fingerprint, by mergeability). Exact BIGINT throughout (mix term
    // ≤ 4e12/row — at ~10⁶ rows/partition the partial stays < 2⁶²; the
    // 100 TB swap is DECIMAL(38,0), plan unchanged). Any single-field
    // edit, row drop, or duplication moves at least one aggregate.
    "q_dataset_manifest" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("h", expr(hExpr(
          "concat_ws('|', cast(doc_id as string), lang, source, " +
            "cast(n_chars as string), md5(text))")))
        .rollup(col("source"))
        .agg(grouping(col("source")).cast("long").as("g"),
          count(lit(1)).as("n_rows"),
          sum(col("h")).as("digest_sum"),
          sum(col("h") * (col("h") % 997L)).as("digest_mix"))
        .select(coalesce(col("source"), lit("__DATASET__")).as("source"),
          col("g"), col("n_rows"), col("digest_sum"), col("digest_mix"))
        .orderBy("g", "source")
    },

    // POISSON BOOTSTRAP CONFIDENCE INTERVAL (Chamandy et al. 2012, "the
    // bootstrap at scale") — the error bar every corpus statistic should
    // ship: classical resampling needs n draws WITH replacement per
    // replica (a shuffle per replica — impossible at 100 TB); the Poisson
    // trick gives each (row, replica) an independent Poisson(1) weight,
    // ONE map-side pass for all 32 replicas, and the replica means are
    // asymptotically the bootstrap distribution. Weights come from the
    // house md5 coin through the Poisson(1) inverse CDF at basis-point
    // resolution (thresholds 3679/7358/9197/9810/9963, capped at 5 —
    // declared constants, identical both engines; deterministic ⇒
    // reproducible CIs). Replica means are exact-integer ratios; the
    // 2.5%/97.5% band is the interpolated percentile over the 32-row
    // replica table (the q_percentile parity). Scale: 32× map-side
    // expansion is THE bootstrap cost; the only shuffle is the 32-row
    // replica rollup.
    "q_bootstrap_ci" -> { (s, dir) =>
      val rep = docs(s, dir).select(col("doc_id"), col("n_chars"),
          explode(expr("sequence(0, 31)")).as("r"))
        .withColumn("u", expr(s"${hExpr(
          "concat(cast(doc_id as string), ':', cast(r as string))")} % 10000"))
        .withColumn("w", expr("CASE WHEN u < 3679 THEN 0L " +
          "WHEN u < 7358 THEN 1L WHEN u < 9197 THEN 2L " +
          "WHEN u < 9810 THEN 3L WHEN u < 9963 THEN 4L ELSE 5L END"))
      val means = rep.groupBy("r").agg(
        (sum(col("w") * col("n_chars")).cast("double") / sum(col("w")))
          .as("m"))
      val base = docs(s, dir).agg(count(lit(1)).as("n_docs"),
        (sum("n_chars").cast("double") / count(lit(1))).as("pm"))
      means.crossJoin(broadcast(base)).agg(
        min("n_docs").as("n_docs"),
        count(lit(1)).as("n_replicas"),
        round(min("pm"), 6).as("point_mean"),
        round(expr("percentile(m, 0.025)"), 6).as("ci_lo"),
        round(expr("percentile(m, 0.975)"), 6).as("ci_hi"))
    },

    // STRATIFIED EXACT-k CARVE-OUT — the eval-set cut every corpus
    // release ships (exactly k docs per language, uniform WITHOUT
    // replacement, seedless and reproducible — the EXACT-COUNT complement
    // of q_stratified_sample's per-language RATES): order each stratum by
    // the portable md5 hash (hash order ≡ a random permutation fixed
    // across runs/engines — the house coin, used as a SHUFFLE KEY this
    // time) and keep rank ≤ 10 (declared k). Scale: this is
    // top-k-per-group, not a per-stratum full sort — Spark's
    // WindowGroupLimit (3.5+) inserts a partial per-partition limit
    // BEFORE the shuffle, so each map task forwards at most k rows per
    // stratum and a skewed stratum (one lang = 90% of 100 TB) never
    // concentrates into one reducer's sort (PlanSpec pins the
    // WindowGroupLimit node).
    "q_stratified_topk" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("h", expr(hExpr("cast(doc_id as string)")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang")
            .orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "rn")
    },

    // DSIR HASHED N-GRAM IMPORTANCE RESAMPLING (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling" — the
    // data-selection operator between q_data_mixture's fixed domain rates
    // and q_quality_classifier's model gate): raw-corpus docs are up/down-
    // weighted toward a TARGET distribution (the 'en' slice, declared) in
    // hashed n-gram space. Unigrams+bigrams hash into 64 buckets (the
    // paper's hashed-feature trick: NO vocabulary to build, version, or
    // broadcast at 100 TB — the feature space is fixed-width by
    // construction); add-one-smoothed bucket distributions p̂ (target) and
    // q̂ (raw) reduce to per-bucket Δ_b = ln p̂_b − ln q̂_b, rounded 6dp at
    // the libm boundary inside the 64-row broadcast table (E69 rule); the
    // per-doc log-weight Σ k_b·Δ_b folds sorted over the doc's ≤64 bucket
    // counts and rounds once; the resample is the house md5 basis-point
    // coin against rate = min(10000, ⌊exp(logw)·2500⌋) — expected keep
    // 25% at logw = 0, saturating for strongly target-like docs (the
    // paper's importance resample at a declared 1-in-4 budget). Per-lang
    // means use micro-unit BIGINT sums (exact, partition-order-free).
    // Scale: the only corpus-sized shuffle is the (doc, bucket) rollup;
    // everything the docs join against is ≤64 rows, broadcast.
    "q_importance_resample" -> { (s, dir) =>
      val grams = resampleGrams(s, dir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        importanceResamplePlan(grams)
          // eager ≤|langs|-row materialization before grams leaves the
          // cache — a lazy return would recompute both gram passes
          // uncached (r13 advice)
          .localCheckpoint(true)
      } finally { grams.unpersist(); () }
    },

    // Quality-weighted sampling: each document is kept with probability
    // proportional to a per-doc weight (here length-derived, clamped to 1)
    // via the same deterministic md5 coin as q_data_mixture — the standard
    // "sample good data more" curation knob. Weight and coin are exact
    // integer basis points, so both engines flip identical coins.
    // Scale: map-only keep decision (no shuffle to decide), one map-side-
    // combined aggregate on source; at 100 TB this is a single pass.
    "q_weighted_sample" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("w_bp", expr("least(10000L, (n_chars * 10000L) div 2000L)"))
        .withColumn("h", expr(s"${hExpr("cast(doc_id as string)")} % 10000"))
        .withColumn("keep", col("h") < col("w_bp"))
      d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
        .orderBy("source")
    },

    // WEIGHTED SAMPLING WITHOUT REPLACEMENT — Efraimidis & Spirakis 2006
    // A-Res keys, the exponential form of Gumbel-top-k: draw uᵢ, rank by
    // −ln(uᵢ)/wᵢ ascending, take k. q_weighted_sample's Bernoulli coin
    // keeps a RATE; this keeps an exact-k panel per source with inclusion
    // probability ∝ weight — the curation primitive behind "pick the k
    // best-weighted docs per domain, reproducibly". The uniform is the
    // house md5 coin ((h+1)/10001 — never 0, so ln is finite) hashed over
    // doc_id SALTED WITH A SEED ("_s<seed>", same device as
    // q_permutation_test's "_k" flips), so independent panels are one
    // seed away while each seed stays deterministic per engine; the key
    // tree is shared verbatim with the oracle, so both engines rank the
    // identical doubles. Scale: DISTRIBUTED top-k, not one sort — rank
    // within (source, 64-way salt) first (64 parallel slices, each keeps
    // ≤k), then rank the ≤64·k survivors per source; both windows are
    // partitioned, no global sort, no collect.
    "q_gumbel_topk" -> { (s, dir) => gumbelTopK(s, dir, seed = 1) },

    // GOOD-TURING FREQUENCY SMOOTHING (Good 1953 — THE count-of-counts
    // estimator: how much probability mass belongs to words you have
    // NEVER seen, and what an observed count c is really worth): N_c =
    // #types seen exactly c times; smoothed c* = (c+1)·N_{c+1}/N_c, and
    // the unseen mass is N_1/N — the quantity Kneser-Ney's discount
    // approximates with a constant. Two exact hash aggs (token counts,
    // then count-of-counts) collapse the corpus to a handful of rows;
    // the N_{c'} lookup is a lead window over the tiny count-of-counts
    // table, reported for the FIVE SMALLEST observed counts (a fixed
    // c ≤ 5 cut returns nothing on this saturated synthetic vocab —
    // every token is frequent). c_star is the TEXTBOOK estimator only:
    // (c+1)·N_{c+1}/N_c when the NEXT populated cell is exactly c+1,
    // NULL otherwise — substituting a farther cell can overshoot the
    // standard discount wildly and is not Gale-Sampson SGT either
    // (which regresses log Z_c); a NULL honestly says "this cell needs
    // SGT smoothing". Everything integer except the two final
    // (rounded) divisions.
    "q_good_turing" -> { (s, dir) =>
      val freq = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val coc = freq.groupBy("c").agg(count(lit(1)).as("n_c"))
      val tot = freq.agg(sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"))
      coc
        .withColumn("n_next", lead("n_c", 1).over(Window.orderBy("c")))
        .withColumn("c_next", lead("c", 1).over(Window.orderBy("c")))
        .withColumn("rn", row_number().over(Window.orderBy("c")))
        .filter(col("rn") <= 5)
        .crossJoin(broadcast(tot))
        .select(col("c"), col("n_c"),
          round(expr("CASE WHEN c_next = c + 1 THEN " +
            "CAST(c_next AS DOUBLE) * CAST(n_next AS DOUBLE) " +
            "/ CAST(n_c AS DOUBLE) END"), 6).as("c_star"),
          round(expr("CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"), 6)
            .as("p_unseen"))
        .orderBy("c")
    },

    // CHAO1 VOCABULARY-RICHNESS ESTIMATE (Chao 1984 — the unseen-species
    // lower bound ecologists and corpus linguists share: how many word
    // types does this language's corpus REALLY have?): per language,
    // S_obs observed types, f1 singletons, f2 doubletons, chao1 = S_obs
    // + f1²/(2·f2) (bias-corrected f1(f1−1)/2 when f2 = 0) — the
    // coverage readout that says whether a crawl has saturated a
    // language. One (lang, token) hash agg then a per-lang rollup;
    // exact integers into one rounded division.
    "q_chao1" -> { (s, dir) =>
      docsPar(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("lang").agg(
          count(lit(1)).as("s_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("lang"), col("s_obs"), col("f1"), col("f2"),
          round(expr(
            "CAST(s_obs AS DOUBLE) + CASE WHEN f2 > 0 THEN " +
              "CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE) " +
              "/ (CAST(2 AS DOUBLE) * CAST(f2 AS DOUBLE)) " +
              "ELSE CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE) " +
              "/ CAST(2 AS DOUBLE) END"), 6).as("chao1"))
        .orderBy("lang")
    },

    // UNIGRAM-LM PERPLEXITY FILTER (the CCNet/Wikipedia-LM quality gate,
    // Wenzek et al. 2020, reduced to the distributable core): score every
    // document by its cross-entropy under the corpus's own Laplace-
    // smoothed unigram model, p(w) = (c_w + 1)/(N + V) — high perplexity
    // flags gibberish/outlier docs, low flags boilerplate. Two passes:
    // one exact token-count agg (the LM "training"), then one corpus-
    // shaped token→logp equi-join back (at 100 TB the vocab side is the
    // Zipf-skewed join — AQE skew handling or a broadcast of the top-K
    // head is the knob; the plan itself is one shuffle each way). The
    // per-doc sum folds the SORTED logp list (the house sorted-fold, so
    // both engines add the identical doubles in the identical order);
    // keep-rule compares the ROUNDED cross-entropy so the boolean can
    // never disagree with the reported column.
    "q_perplexity_filter" -> { (s, dir) =>
      val toks = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = vocab.agg(sum("c").as("n_tokens"),
        count(lit(1)).as("v_types"))
      val pv = vocab.crossJoin(broadcast(tot))
        .withColumn("lp", expr(
          "ln((CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)) / " +
            "(CAST(n_tokens AS DOUBLE) + CAST(v_types AS DOUBLE)))"))
        .select("tok", "lp")
      toks.join(pv, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          expr("aggregate(array_sort(collect_list(lp)), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x)").as("slp"))
        .withColumn("ce", round(expr("-slp / CAST(n_tok AS DOUBLE)"), 6))
        .select(col("doc_id"), col("n_tok"),
          col("ce").as("cross_entropy"),
          round(expr("exp(-slp / CAST(n_tok AS DOUBLE))"), 6).as("ppl"),
          (col("ce") <= 6.0).as("keep"))
        .orderBy("doc_id")
    },

    // DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, Data Selection via
    // Importance Resampling — THE published recipe for "pick raw-crawl
    // docs that look like the target domain"): hashed-bigram bag features
    // (1024 buckets, the house md5 hash), Laplace-smoothed bucket
    // distributions for TARGET (lang = 'en' here — the curation stand-in
    // for "looks like Wikipedia") and RAW (everything), per-doc importance
    // weight = Σ_bigram [ln p_t(b) − ln p_r(b)]. Scale shape: the feature
    // table collapses to ≤1024 rows (broadcast back — the corpus is
    // touched exactly twice, both embarrassingly parallel), and the top-20
    // resampling panel uses the salted two-phase top-k — 64 parallel
    // slices each keep ≤20, then the ≤1280 survivors take one tiny global
    // rank; no global sort, no collect. Fold order: per-doc weight folds
    // the SORTED log-ratio list, exact tie-break by doc_id.
    "q_dsir_weights" -> { (s, dir) =>
      val bg = docsPar(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, size(w)-1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("g"))
        .withColumn("b", expr(s"${hExpr("g")} % 1024"))
      val tots = bg.agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"),
        count(lit(1)).as("n_r"))
      val lr = bg.groupBy("b").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          count(lit(1)).as("cr"))
        .crossJoin(broadcast(tots))
        .withColumn("lr", expr(
          "ln((CAST(ct AS DOUBLE) + CAST(1 AS DOUBLE)) / " +
            "(CAST(n_t AS DOUBLE) + CAST(1024 AS DOUBLE))) - " +
          "ln((CAST(cr AS DOUBLE) + CAST(1 AS DOUBLE)) / " +
            "(CAST(n_r AS DOUBLE) + CAST(1024 AS DOUBLE)))"))
        .select("b", "lr")
      val scored = bg.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("aggregate(array_sort(collect_list(lr)), " +
            "CAST(0 AS DOUBLE), (a, x) -> a + x)").as("wsum"))
        .withColumn("salt", expr(s"${hExpr("cast(doc_id as string)")} % 64"))
      scored
        .withColumn("rs", row_number().over(
          Window.partitionBy("salt")
            .orderBy(col("wsum").desc, col("doc_id"))))
        .filter(col("rs") <= 20)
        .withColumn("rank", row_number().over(
          Window.partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(col("wsum").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_bigrams"),
          round(col("wsum"), 6).as("dsir_logweight"))
        .orderBy("rank")
    },

    // Deterministic dataset splitting: train/val/test assignment by a
    // portable content-independent hash of the document id (md5-prefix mod
    // 100 → 80/10/10). This is how a 100 TB pipeline splits reproducibly —
    // no sampling state, no seed coordination across executors, stable under
    // re-partitioning and re-runs, and any engine (here: DuckDB) assigns
    // every document to the same split.
    "q_dataset_split" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("h", expr(s"${hExpr("cast(doc_id as string)")} % 100"))
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
        .orderBy("split")
    },

    // DEDUP-AWARE SPLIT + LEAKAGE AUDIT — the evaluation-integrity step
    // q_dataset_split skips: hashing DOC ids can send members of the same
    // duplicate group to different splits, so test answers leak into
    // train through duplicates (the documented C4/Pile eval-inflation
    // failure). The fix is to hash the GROUP REPRESENTATIVE: groups are
    // exact-fingerprint classes (md5 of the first 8 tokens — fp equality
    // is transitive, so the class IS the connected component, no
    // iteration needed), rep = min doc_id per fp via one fp-partitioned
    // window (the same single shuffle exact dedup pays — the rep table
    // is corpus-sized and must NOT be driver- or broadcast-shaped).
    // Both schemes run side by side on the same md5 basis-point coin and
    // the audit counts, per scheme, the multi-doc groups that span >1
    // split and the docs inside them: the group-hash scheme's leakage is
    // STRUCTURALLY zero (one coin per group), which the oracle replays
    // rather than trusts.
    "q_split_leakage" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("fp", md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))))
        .withColumn("rep", min("doc_id").over(Window.partitionBy("fp")))
        .withColumn("nh", expr(s"${hExpr("cast(doc_id as string)")} % 100"))
        .withColumn("ah", expr(s"${hExpr("cast(rep as string)")} % 100"))
      def splitOf(h: org.apache.spark.sql.Column) =
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
      val tagged = Seq(
        ("1_doc_hash", splitOf(col("nh"))),
        ("2_group_hash", splitOf(col("ah"))))
        .map { case (nm, sc) =>
          d.withColumn("scheme", lit(nm)).withColumn("split", sc)
            .select("scheme", "split", "fp")
        }.reduce(_ unionAll _)
      val splits = tagged.groupBy("scheme").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      val leaks = tagged.groupBy("scheme", "fp")
        .agg(count(lit(1)).as("n"), countDistinct("split").as("ns"))
        .groupBy("scheme").agg(
          sum(when(col("n") >= 2, 1L).otherwise(0L)).as("multi_doc_groups"),
          sum(when(col("n") >= 2 && col("ns") > 1, 1L).otherwise(0L))
            .as("leaked_groups"),
          sum(when(col("n") >= 2 && col("ns") > 1, col("n")).otherwise(lit(0L)))
            .as("leaked_docs"))
      splits.join(leaks, "scheme").orderBy("scheme")
    },

    // Deterministic epoch shuffle — the training-order operator. An epoch's
    // read order must be (a) pseudo-random w.r.t. corpus order, (b)
    // reproducible across re-runs and engines, (c) computable WITHOUT a
    // global sort at 100 TB. Shard = portable hash of (doc_id, epoch) mod
    // 16, re-keyed each epoch so shard MEMBERSHIP reshuffles too, not just
    // intra-shard order; position = rank by the same hash (doc_id breaks
    // ties). The only wide op is the per-shard window — hash-partitioned,
    // locally sorted, never a global ordering; the trainer's data loaders
    // read shards independently, exactly how epoch shuffling is served in
    // practice.
    "q_epoch_shuffle" -> { (s, dir) =>
      val epoch = 3
      docs(s, dir)
        .withColumn("h",
          expr(hExpr(s"concat(cast(doc_id as string), ':$epoch')")))
        .withColumn("shard", (col("h") % 16).cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    },

    // Context-window chunking: split every document into 32-token chunks
    // with 8-token overlap (stride 24) — THE preprocessing step that turns a
    // crawl corpus into model-ready sequences. Pure per-row generator work
    // (sequence + explode + slice), no shuffle until the final sort; chunk
    // identity is carried as an md5 so downstream chunk-level dedup can
    // reuse the exact-dedup machinery.
    "q_chunk_docs" -> { (s, dir) =>
      docsPar(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(1, greatest(size(w) - 8, 1), 24)")).as("start"))
        .select(col("doc_id"),
          ((col("start") - 1) / 24).cast("int").as("chunk_idx"),
          expr("concat_ws(' ', slice(w, start, 32))").as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(split(col("chunk"), " ")).as("n_tok"),
          md5(col("chunk")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Sequence packing: greedy concatenation of documents into fixed token
    // budgets (512 tokens per packed sequence), 16 hash shards packed
    // independently — exactly how a distributed packer works (each worker
    // owns a shard; the cumulative-sum window runs per shard, never
    // globally). Deterministic: shard by portable doc_id hash, pack in
    // doc_id order, bin = floor(cumulative-tokens-before / budget).
    "q_pack_sequences" -> { (s, dir) =>
      val wCum = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("shard", expr(s"${hExpr("cast(doc_id as string)")} % 16"))
        .withColumn("cum_before", coalesce(sum("n_tok").over(wCum), lit(0L)))
        .withColumn("bin", (col("cum_before") / 512).cast("long"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("shard", "bin")
    },

    // END-TO-END CORPUS PIPELINE — the whole training-data assembly line
    // as ONE lazy DAG with one funnel readout: Gopher quality gate →
    // exact dedup (content-hash keep-first) → near dedup (prefix
    // fingerprint keep-first) → benchmark decontamination (5-gram
    // shingles vs the eval set) → √-rebalanced language sampling →
    // 512-token sequence packing. Every stage is a COLUMN over one
    // corpus scan, not a separate job: the keep-first dedups are
    // conditional MINs over content-key windows (min(CASE WHEN prev_ok
    // THEN doc_id END) OVER (PARTITION BY key) — each stage's predicate
    // nests the previous one's), contamination is a map-side
    // arrays_overlap against the ≤|eval-shingles| broadcast reference,
    // and packing is the q_pack_sequences cumulative window over the
    // sampled survivors only. Scan census: ONE corpus scan feeds the
    // spine; the eval REFERENCE set (doc_id % 50 = 0) is its own tiny
    // rollup scan (a separate input, not a stage re-scan); and there is
    // exactly ONE documented localCheckpoint cut — after decontamination,
    // where the sampling rates need a per-language rollup OF the spine
    // plus a join BACK to it (two consumers; in production this cut is
    // the materialized "clean corpus" artifact every pipeline writes
    // anyway). Windows/joins shuffle on content keys and language — all
    // key-partitioned, nothing corpus-sized ever single-partitions.
    "q_corpus_pipeline" -> { (s, dir) =>
      val bench = contamBench(docsPar(s, dir))
      val wCk = Window.partitionBy("ckey")
      val wFp = Window.partitionBy("fp")
      val spine0 = wordStats(docsPar(s, dir).filter(col("doc_id") % 50 =!= 0)
          .withColumn("w", split(col("text"), " ")), "tok")
        .withColumn("qk", gopherPass("tok"))
        .withColumn("ckey",
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
        .withColumn("fp", md5(expr("array_join(slice(w, 1, 8), ' ')")))
        .withColumn("ek", col("qk") &&
          col("doc_id") === min(when(col("qk"), col("doc_id"))).over(wCk))
        .withColumn("nk", col("ek") &&
          col("doc_id") === min(when(col("ek"), col("doc_id"))).over(wFp))
        .withColumn("sh_arr", expr(
          s"CASE WHEN size(w) >= 5 THEN $shingleHashes END"))
        .crossJoin(broadcast(bench))
        .withColumn("ck", col("nk") &&
          !coalesce(arrays_overlap(col("sh_arr"), col("bset")), lit(false)))
        .select("doc_id", "lang", "tok", "qk", "ek", "nk", "ck")
      // the ONE documented cut (see the scan census above)
      val spine = spine0.localCheckpoint(true)
      val one = Window.partitionBy(pmod(col("lang_tokens"), lit(1)))
      val rates = spine.filter(col("ck")).groupBy("lang")
        .agg(sum("tok").as("lang_tokens"))
        .withColumn("w_l", floor(sqrt(col("lang_tokens"))).cast("long"))
        .withColumn("total_tokens", sum("lang_tokens").over(one))
        .withColumn("sum_w", sum("w_l").over(one))
        .withColumn("rate_bp", least(lit(10000L),
          expr("(((total_tokens div 2) div sum_w) * w_l * 10000) " +
            "div lang_tokens")))
        .select("lang", "rate_bp")
      val wSh = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      spine.join(broadcast(rates), Seq("lang"), "left")
        .withColumn("mk", col("ck") &&
          expr(s"${hExpr("cast(doc_id as string)")} % 10000") <
            coalesce(col("rate_bp"), lit(0L)))
        .withColumn("shard",
          expr(s"${hExpr("cast(doc_id as string)")} % 16"))
        .withColumn("cum_before", coalesce(
          sum(when(col("mk"), col("tok")).otherwise(0L)).over(wSh), lit(0L)))
        .withColumn("seq_id", when(col("mk"),
          col("shard") * 1048576L + expr("cum_before div 512")))
        .agg(count(lit(1)).as("n_input"),
          sum(when(col("qk"), 1L).otherwise(0L)).as("n_quality_pass"),
          sum(when(col("ek"), 1L).otherwise(0L)).as("n_after_exact_dedup"),
          sum(when(col("nk"), 1L).otherwise(0L)).as("n_after_near_dedup"),
          sum(when(col("ck"), 1L).otherwise(0L)).as("n_after_decontam"),
          sum(when(col("mk"), 1L).otherwise(0L)).as("n_sampled"),
          countDistinct(col("seq_id")).as("n_sequences"),
          sum(when(col("mk"), col("tok")).otherwise(0L)).as("tokens_packed"))
    },

    // Per-language corpus stats (count / token / char aggregates).
    "q_text_stats" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          round(avg(col("n_tokens")), 6).as("avg_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("lang")
    },

    // Per-doc quality scoring: token counts, uniqueness ratio, mean token
    // length, stopword ratio, and a keep/drop rule — the standard crawl
    // quality gate. Linear per-row work, no shuffle at all until the sort.
    "q_text_quality" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tokens", size(col("w")))
        .withColumn("n_uniq", size(array_distinct(col("w"))))
        .withColumn("uniq_ratio", round(col("n_uniq") / col("n_tokens"), 6))
        .withColumn("avg_token_len",
          round(expr("aggregate(w, 0L, (a, x) -> a + length(x)) / size(w)"), 6))
        .withColumn("stop_ratio",
          round(expr("size(filter(w, x -> x in ('the', 'a'))) / size(w)"), 6))
        .withColumn("keep",
          col("n_tokens").between(20, 120) && col("uniq_ratio") >= 0.2)
        .select("doc_id", "n_tokens", "n_uniq", "uniq_ratio", "avg_token_len",
          "stop_ratio", "keep")
        .orderBy("doc_id")
    },

    // Language-ID heuristic: score each candidate language by lexicon-hit
    // ratio, argmax with a fixed tie-break order. (The testdata's text is
    // synthetic, so the interesting property is that the heuristic is
    // deterministic and engine-portable, not that it is linguistically deep.)
    "q_lang_id" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("s_en", expr("size(filter(w, x -> x in ('the', 'a', 'key', 'fast'))) / size(w)"))
        .withColumn("s_es", expr("size(filter(w, x -> x in ('value', 'row', 'data'))) / size(w)"))
        .withColumn("s_de", expr("size(filter(w, x -> x in ('table', 'scan', 'hash'))) / size(w)"))
        .withColumn("s_zh", expr("size(filter(w, x -> x in ('spark', 'agg', 'join'))) / size(w)"))
        .withColumn("predicted",
          expr("case when s_en >= s_es and s_en >= s_de and s_en >= s_zh then 'en' " +
            "when s_es >= s_de and s_es >= s_zh then 'es' " +
            "when s_de >= s_zh then 'de' else 'zh' end"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "predicted")
    },

    // Sentiment scoring as a lexicon join (SURVEY.md §2.4): explode tokens,
    // broadcast-join the constant lexicon, aggregate per language. Scores
    // are exactly binary-representable (±1, ±0.5, 0.25) so the double avg is
    // order-independent. At 100 TB the explode is the dominant cost and is
    // pure map-side work; the join side is constant and broadcast.
    "q_sentiment" -> { (s, dir) =>
      val lex = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("fast", 1.0),
          org.apache.spark.sql.Row("merge", 0.5),
          org.apache.spark.sql.Row("scan", 0.25),
          org.apache.spark.sql.Row("filter", -0.5),
          org.apache.spark.sql.Row("slow", -1.0)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("word"))
        .join(broadcast(lex), "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_hits"),
          round(avg(col("score")), 6).as("avg_sentiment"))
        .orderBy("lang")
    },

    // Collocation mining: bigram PMI = ln(c(ab)·N / (c(a·)·c(·b))) over the
    // corpus — the statistic behind multi-word-expression detection in
    // tokenizer/vocab construction. One explode pass builds the bigram
    // table, materialized once for its four aggregations; output is
    // count-thresholded and ordered by the bigram text, never by the float,
    // so ULP differences cannot reorder or cut rows.
    "q_collocations" -> { (s, dir) =>
      val big = docsPar(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          // aligned slices, not w[i] lambda indexing — see ngramExpr
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), " +
            "(x, y) -> struct(x as w1, y as w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      big.count() // materialize once: feeds four aggregations
      val cab = big.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      val ca = big.groupBy("w1").agg(count(lit(1)).as("n_a"))
      val cb = big.groupBy("w2").agg(count(lit(1)).as("n_b"))
      val nAll = big.agg(count(lit(1)).as("n_all"))
      cab.join(ca, "w1").join(cb, "w2").crossJoin(broadcast(nAll))
        .filter(col("n_ab") >= 20)
        .withColumn("pmi",
          round(log(col("n_ab") * col("n_all") / (col("n_a") * col("n_b"))), 6))
        .select("w1", "w2", "n_ab", "pmi")
        .orderBy("w1", "w2")
    },

    // PPJOIN-STYLE PREFIX-FILTERED SET-SIMILARITY JOIN (Xiao et al.
    // 2008 — the EXACT all-pairs Jaccard join, where MinHash-LSH
    // (q_minhash_lsh) is the approximate one), over the SAME 3-gram
    // shingle sets the MinHash family signs: if J(a,b) ≥ τ then under
    // ANY global element order the two docs' first |x|−⌈τ|x|⌉+1
    // elements must share one — so ordering every doc's shingles
    // RAREST-FIRST (global (df, shingle) order) and joining only on
    // those short prefixes yields every qualifying pair with zero
    // false negatives. Shingles, not unigrams, are what make the
    // filter BITE: the shingle space is huge, so even the rarest
    // prefix element of a non-duplicate doc is near-unique (measured:
    // 25 candidates at sf0.01, 43.5k of 12.5M possible pairs at
    // sf0.1 — a unigram variant left 12.1M candidates because the
    // tiny word vocabulary made every "rare" token a hub). The
    // standard length filter (J ≥ τ ⟹ τ|b| ≤ |a| ≤ |b|/τ, exact
    // cross-multiplied integers) prunes cross-size pairs before the
    // distinct. Verification is exact integer arithmetic: J ≥ 0.8 ⟺
    // 5·|∩| ≥ 4·|∪|, no float compare; jaccard itself is the only
    // (rounded) double.
    "q_ppjoin" -> { (s, dir) => ppjoinVerified(ppjoinTok(s, dir)) },

    // PPMI SPECTRAL WORD EMBEDDING (Levy & Goldberg 2014: SGNS ≈
    // factorizing the shifted-PMI matrix — the COUNT-based way to train
    // static word vectors from a corpus, no SGD): top-12 vocabulary by
    // exact unigram frequency (ties broken by token — LIMIT under a
    // total order, so the vocab is deterministic), symmetrized adjacent
    // co-occurrence restricted to the vocab, PPMI = max(0, ln(c·T/rₐrᵦ))
    // over the 12×12 submatrix, then 4 power-iteration steps from the
    // all-ones vector extract the dominant factor — each matrix·vector
    // component is a FOLD over the token-sorted 12-term product list
    // (the house sorted-fold: both engines sum in the identical order),
    // and the final loadings are L∞-normalized (max-abs is order-free).
    // q_pca_power does this to dense embeddings; this is the corpus-
    // statistics sibling that MAKES embeddings from raw text. Scale:
    // the corpus is touched by two linear passes (unigram counts,
    // bigram counts); everything after lives on a V² = 144-cell grid —
    // at 100 TB you'd raise V, and the grid stays executor-tiny while
    // the passes stay map-side-combined hash aggs.
    "q_ppmi_svd" -> { (s, dir) =>
      val big = docsPar(s, dir)
        .select(split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), " +
            "(x, y) -> struct(x as w1, y as w2))")).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val words = docsPar(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
      val vocab = words.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(12)
      val va = vocab.select(col("tok").as("a"))
      val vb = vocab.select(col("tok").as("b"))
      // r19: directed counts in ONE corpus pass, symmetrized on the ≤V²
      // count table afterwards — the corpus-sized union of two identical
      // bigram extractions it replaces was this query's hottest stage
      // (QProf: 12 s of task CPU, two explode legs that no exchange reuse
      // can share). c(a,b) = cd(a,b) + cd(b,a) over exact longs.
      val cd = big
        .join(broadcast(va.select(col("a").as("w1"))), "w1")
        .join(broadcast(vb.select(col("b").as("w2"))), "w2")
        .groupBy("w1", "w2").agg(count(lit(1)).as("cd"))
      val c = cd.select(col("w1").as("a"), col("w2").as("b"), col("cd"))
        .unionByName(cd.select(col("w2").as("a"), col("w1").as("b"),
          col("cd")))
        .groupBy("a", "b").agg(sum("cd").as("cab"))
      val grid = va.crossJoin(vb).join(c, Seq("a", "b"), "left")
        .withColumn("cab", coalesce(col("cab"), lit(0L)))
      val ra = grid.groupBy("a").agg(sum("cab").as("ra"))
      val tt = grid.agg(sum("cab").as("tt"))
      val m = grid.join(broadcast(ra), "a")
        .join(broadcast(ra.select(col("a").as("b"), col("ra").as("rb"))),
          "b")
        .crossJoin(broadcast(tt))
        .withColumn("ppmi", expr(
          "CASE WHEN cab > 0 AND ra > 0 AND rb > 0 THEN " +
            "greatest(CAST(0 AS DOUBLE), ln(CAST(cab AS DOUBLE) * " +
            "CAST(tt AS DOUBLE) / (CAST(ra AS DOUBLE) * " +
            "CAST(rb AS DOUBLE)))) ELSE CAST(0 AS DOUBLE) END"))
      val rws = m.groupBy("a").agg(
        expr("transform(array_sort(collect_list(struct(b, ppmi))), " +
          "e -> e.ppmi)").as("ma"),
        first("ra").as("ra"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // materialize the V-row PPMI matrix ONCE so the 5 power-step
        // subplans read the cache, not Catalyst exchange-reuse luck —
        // without this, disabling reuse would rescan the corpus per step
        rws.count()
        val fold = "aggregate(zip_with(ma, v, (x, y) -> x * y), " +
          "CAST(0 AS DOUBLE), (p, q) -> p + q)"
        var vrow = rws.agg(expr(
          "transform(array_sort(collect_list(a)), x -> CAST(1 AS DOUBLE))")
          .as("v"))
        (1 to 3).foreach { _ =>
          vrow = rws.crossJoin(broadcast(vrow))
            .withColumn("nv", expr(fold))
            .agg(expr("transform(array_sort(collect_list(struct(a, nv))), " +
              "e -> e.nv)").as("v"))
        }
        rws.crossJoin(broadcast(vrow))
          .withColumn("nv", expr(fold)) // step 4
          .agg(sort_array(collect_list(struct(col("a"), col("ra"),
            col("nv")))).as("vs"))
          .withColumn("vmax", expr("aggregate(vs, CAST(0 AS DOUBLE), " +
            "(p, q) -> greatest(p, abs(q.nv)))"))
          .select(explode(col("vs")).as("e"), col("vmax"))
          .select(col("e.a").as("token"), col("e.ra").as("cooc_total"),
            round(expr("e.nv / vmax"), 6).as("loading"))
          .orderBy("token")
          // eager 12-row materialization before rws leaves the cache
          .localCheckpoint(true)
      } finally { rws.unpersist(); () }
    },

    // RANK-2 NMF TOPIC EXTRACTION (Lee & Seung 1999 multiplicative
    // updates — the unsupervised "what are the two themes" readout next
    // to q_ppmi_svd's single spectral axis and q_fisher_lda's SUPERVISED
    // axis): the corpus collapses ONCE to a 16×12 pseudo-document ×
    // vocab count matrix (docs hash-bucketed by doc_id % 16 — the
    // standard fit-on-aggregates trick: at 100 TB you fit H on bounded
    // rollups and fold W in per-doc afterwards, never materializing a
    // corpus-sized factor), then 3 alternating W/H update rounds run as
    // one-row array algebra — every Σ_t / Σ_b is an index-ordered FOLD
    // (both engines sum 12 resp. 16 terms in the same order), positivity
    // is preserved by construction, and a 10⁻⁹ ridge in each (WH)
    // denominator guards the all-zero-bucket corner identically in both
    // engines. Init breaks the all-ones saddle DETERMINISTICALLY
    // (h1 = 1 + t/100, h2 = 1 − t/100 over the token-sorted index — no
    // RNG). Readout: per-topic normalized term weights + the lead topic
    // read off the ROUNDED weights so a ULP wobble can't flip it.
    "q_nmf_topics" -> { (s, dir) =>
      val words = docsPar(s, dir)
        .select((col("doc_id") % 16).as("b"),
          explode(split(col("text"), " ")).as("tok"))
      val vocab = words.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("tok")).limit(12)
      val xc = words.join(broadcast(vocab.select("tok")), "tok")
        .groupBy("b", "tok").agg(count(lit(1)).as("x"))
      val bs = s.range(0, 16).select(col("id").as("b"))
      val grid = bs.crossJoin(broadcast(vocab.select("tok")))
        .join(xc, Seq("b", "tok"), "left")
        .withColumn("xd",
          coalesce(col("x"), lit(0L)).cast("double"))
      val xr = grid.groupBy("b").agg(
        expr("transform(array_sort(collect_list(struct(tok, xd))), " +
          "e -> e.xd)").as("xs"))
      val one = xr
        .agg(expr("transform(array_sort(collect_list(struct(b, xs))), " +
          "e -> e.xs)").as("xm"))
        .crossJoin(broadcast(vocab.agg(
          expr("array_sort(collect_list(tok))").as("toks"))))
        .withColumn("h1", expr("transform(sequence(1, 12), t -> " +
          "CAST(1 AS DOUBLE) + CAST(t AS DOUBLE) / CAST(100 AS DOUBLE))"))
        .withColumn("h2", expr("transform(sequence(1, 12), t -> " +
          "CAST(1 AS DOUBLE) - CAST(t AS DOUBLE) / CAST(100 AS DOUBLE))"))
        .withColumn("wa1", expr(
          "transform(sequence(1, 16), b -> CAST(1 AS DOUBLE))"))
        .withColumn("wa2", expr(
          "transform(sequence(1, 16), b -> CAST(1 AS DOUBLE))"))
      val eps = "CAST(1 AS DOUBLE) / 1000000000"
      def wh(i: String, t: String, wa1: String, wa2: String) =
        s"(element_at($wa1, $i) * element_at(h1, $t) " +
          s"+ element_at($wa2, $i) * element_at(h2, $t) + $eps)"
      def wUpd(k: Int): String = {
        val (wk, hk) = (s"wa$k", s"h$k")
        s"""transform(sequence(1, 16), i ->
           |  element_at($wk, i) * aggregate(sequence(1, 12),
           |    CAST(0 AS DOUBLE), (acc, t) ->
           |    acc + element_at(element_at(xm, i), t)
           |      * element_at($hk, t) / ${wh("i", "t", "wa1", "wa2")})
           |  / aggregate($hk, CAST(0 AS DOUBLE), (acc, v) -> acc + v))"""
          .stripMargin
      }
      def hUpd(k: Int): String = {
        val (wk, hk) = (s"nw$k", s"h$k")
        s"""transform(sequence(1, 12), t ->
           |  element_at($hk, t) * aggregate(sequence(1, 16),
           |    CAST(0 AS DOUBLE), (acc, i) ->
           |    acc + element_at(element_at(xm, i), t)
           |      * element_at($wk, i) / ${wh("i", "t", "nw1", "nw2")})
           |  / aggregate($wk, CAST(0 AS DOUBLE), (acc, v) -> acc + v))"""
          .stripMargin
      }
      var st = one
      (1 to 3).foreach { _ =>
        st = st
          .withColumn("nw1", expr(wUpd(1)))
          .withColumn("nw2", expr(wUpd(2)))
          .withColumn("nh1", expr(hUpd(1)))
          .withColumn("nh2", expr(hUpd(2)))
          .drop("wa1", "wa2", "h1", "h2")
          .withColumnRenamed("nw1", "wa1").withColumnRenamed("nw2", "wa2")
          .withColumnRenamed("nh1", "h1").withColumnRenamed("nh2", "h2")
      }
      st
        .withColumn("sh1", expr(
          "aggregate(h1, CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
        .withColumn("sh2", expr(
          "aggregate(h2, CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))
        .select(posexplode(col("toks")).as(Seq("pos", "token")),
          col("h1"), col("h2"), col("sh1"), col("sh2"))
        .select(col("token"),
          round(expr("element_at(h1, pos + 1) / sh1"), 6)
            .as("topic1_weight"),
          round(expr("element_at(h2, pos + 1) / sh2"), 6)
            .as("topic2_weight"))
        .withColumn("lead_topic",
          when(col("topic1_weight") >= col("topic2_weight"), 1L)
            .otherwise(2L))
        .orderBy("token")
    },

    // "FIGHTIN' WORDS" LOG-ODDS with informative Dirichlet prior
    // (Monroe, Colaresi & Quinn 2008 — THE principled "which words
    // distinguish corpus A from corpus B" statistic; raw log-odds
    // overweights rare words and TF-IDF overweights frequent ones, the
    // z-scored prior-smoothed delta does neither): A = English docs vs
    // B = the rest, over the top-32 corpus vocabulary (freq DESC, token
    // ASC — deterministic cut), prior αw = α0·cw/Σcw with α0 = 100
    // (the corpus itself is the prior, the published setting).
    // δw = ln((yA+αw)/(nA+α0−yA−αw)) − ln(same for B),
    // σ²w = 1/(yA+αw) + 1/(yB+αw), z = δ/σ — every input an exact
    // BIGINT count, the double tree shared verbatim with the oracle;
    // output is token-ordered so z-ULP can't reorder rows. Scale: one
    // tokenize pass + one 32-row rollup, totals broadcast.
    "q_log_odds_monroe" -> { (s, dir) =>
      val words = docsPar(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val vocab = words.groupBy("tok").agg(count(lit(1)).as("cw"))
        .orderBy(col("cw").desc, col("tok")).limit(32)
      val perTok = words.join(broadcast(vocab), "tok")
        .groupBy("tok").agg(
          first("cw").as("cw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ya"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("yb"))
      val tots = perTok.agg(sum("ya").as("na"), sum("yb").as("nb"),
        sum("cw").as("ctot"))
      val (dl, s2) = monroeTexts
      perTok.crossJoin(broadcast(tots))
        .select(col("tok").as("token"), col("cw").as("corpus_count"),
          col("ya").as("count_en"), col("yb").as("count_rest"),
          round(expr(dl), 6).as("log_odds_delta"),
          round(expr(s"$dl / sqrt($s2)"), 6).as("z_score"))
        .orderBy("token")
    },

    // TF-IDF per document: term frequencies joined with corpus document
    // frequencies, idf = ln(N/df). Scale: two hash aggregations (doc×term,
    // then term) + one equi-join on term — the standard two-pass shape; the
    // 1-row corpus count is broadcast. Output is per-doc aggregates (term
    // count, max tf, rounded tfidf mass), not ranked terms, so float ULP
    // differences between engines cannot reorder anything.
    "q_tfidf" -> { (s, dir) =>
      val tf = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      tf.count() // materialize once: tf feeds both the df agg and the join
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_terms"),
          max("tf").as("max_tf"),
          round(sum(col("tf") * log(col("n_docs") / col("df"))), 6).as("tfidf_sum"))
        .orderBy("doc_id")
    },

    // BPE-ish token counting: regex token split (letter runs / digit runs /
    // single punctuation) — the cheap `len(tokenize(text))` estimator of a
    // data pipeline, aggregated per language.
    "q_token_count" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("n_bpe",
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"))
        .groupBy("lang")
        .agg(
          sum(col("n_bpe").cast("long")).as("total_bpe"),
          round(avg(col("n_bpe")), 6).as("avg_bpe"))
        .orderBy("lang")
    },

    // Document fingerprinting: polynomial rolling hash over per-token 32-bit
    // hashes — an order-sensitive content signature (vs the order-free md5
    // key of q_dedup_exact).
    "q_doc_fingerprint" -> { (s, dir) =>
      docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("hw", expr(s"transform(w, wd -> ${hExpr("wd")})"))
        .withColumn("fingerprint",
          expr("aggregate(hw, 0L, (acc, h) -> (acc * 31 + h) % 1000000007)"))
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    },

    // Multimodal column plumbing, metadata tier: typed struct metadata
    // (width/height derived deterministically from n_chars), struct field
    // extraction, byte length and a content digest. The BinaryType payload
    // tier is q_multimodal_decode below.
    // Multimodal frame sampling (the video-shaped member of the decode /
    // feature-extract / resize / frame-sample family): the payload (text
    // bytes standing in for a video blob — no codec ships here, same
    // documented stub rule as q_multimodal_decode) is treated as a sequence
    // of fixed 64-byte frames; every 4th frame is sampled (the stride-
    // sampling every video pipeline runs so feature extraction touches
    // seconds, not every frame), each sampled frame fingerprinted, and the
    // ordered sample digests roll up to one thumbnail fingerprint per doc —
    // the compact representation a near-dup video index stores. All
    // per-frame work is codegen'd string/hash ops fanned out by a bounded
    // explode (frames/4 rows per doc, linear in payload size); the rollup
    // is one map-side-combinable groupBy.
    "q_multimodal_frames" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("n_frames", (octet_length(col("text")) / 64).cast("int"))
        .filter(col("n_frames") > 0)
        .select(col("doc_id"), col("n_frames"),
          explode(expr("sequence(0, n_frames - 1, 4)")).as("f"),
          col("text"))
        .withColumn("frame_digest", md5(expr("substring(text, f * 64 + 1, 64)")))
        .groupBy("doc_id", "n_frames")
        .agg(count(lit(1)).as("n_sampled"),
          md5(concat_ws("", expr(
            "transform(array_sort(collect_list(struct(f, frame_digest))), " +
              "x -> x.frame_digest)"))).as("thumb_digest"))
        .orderBy("doc_id")
    },

    "q_multimodal_meta" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("meta",
          struct((col("n_chars") % 640).as("w"), ((col("n_chars") * 3) % 480).as("h")))
        .select(
          col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          col("meta.w").as("width"),
          col("meta.h").as("height"),
          md5(col("text")).as("digest"))
        .orderBy("doc_id")
    },

    // Multimodal BinaryType path: an opaque binary payload column (here the
    // UTF-8 bytes of `text` standing in for an image blob — no image codec
    // ships in this environment, so the "decode" is a clearly-fake
    // deterministic stub that derives dimensions from the content digest).
    // What IS real and scale-relevant: the BinaryType column flows through
    // the scan/projection, per-row byte operations (octet_length, hex
    // preview) run inside codegen, and the digest is the dedup key a real
    // multimodal pipeline would compute per blob.
    "q_multimodal_decode" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          lower(substring(hex(col("payload")), 1, 16)).as("header_hex"),
          (expr(hExpr("text")) % 1920).as("dec_width"),
          (expr("cast(conv(substring(md5(text),9,8),16,10) as bigint)") % 1080).as("dec_height"),
          md5(col("payload")).as("digest"))
        .orderBy("doc_id")
    },

    // Multimodal batch-decode plumbing via typed mapPartitions — the Scala
    // analog of a mapInPandas batch UDF: one decoder instance per partition
    // (here a MessageDigest standing in for an image codec, since no image
    // library ships in this environment), iterator-to-iterator so partitions
    // stream without materializing. Same deterministic fake-decode
    // arithmetic as q_multimodal_decode, so the oracle is a full value
    // check. This is the (d)-tier escape hatch of the operator preference
    // order — used precisely where expressions can't express the work
    // (opaque per-blob codecs).
    "q_multimodal_batch" -> { (s, dir) =>
      val ds = docsPar(s, dir).select(col("doc_id"), col("text"))
        .as[DocPayload](org.apache.spark.sql.Encoders.product[DocPayload])
      ds.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5") // per-partition "codec"
        it.map { d =>
          val payload = d.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val hx = md.digest(payload).map("%02x".format(_)).mkString
          DocDecoded(d.doc_id, payload.length,
            java.lang.Long.parseLong(hx.substring(0, 8), 16) % 1920,
            java.lang.Long.parseLong(hx.substring(8, 16), 16) % 1080)
        }
      }(org.apache.spark.sql.Encoders.product[DocDecoded])
        .toDF()
        .orderBy("doc_id")
    },

    // Unigram language-model scoring — the perplexity-style quality signal
    // (docs whose tokens are atypical for the corpus score high). Train:
    // corpus type counts, vocabulary capped to the top-16 types by
    // (count desc, token asc) via orderBy+limit (TakeOrderedAndProject — the
    // same no-global-window shape as q_vocab_build; production would cap at
    // ~50k, the cap just has to be small enough to broadcast). Score: mean
    // add-one-smoothed bits/token, OOV → count 0. Per-doc sums fold a SORTED
    // double list (the q_token_entropy pattern) so partial-aggregation order
    // can't perturb the value; the corpus token total is a 1-row broadcast
    // cross join. Scale: two token-keyed aggregates + one broadcast join —
    // no all-corpus shuffle beyond the (doc, type) aggregate.
    "q_unigram_lm" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(16)
      val nCorpus = tok.agg(count(lit(1)).as("n_corpus"))
      tok.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
        .join(broadcast(vocab), Seq("w"), "left")
        .withColumn("contrib",
          col("k") * log2(coalesce(col("c"), lit(0L)) + lit(1.0)))
        .groupBy("doc_id")
        .agg(sum("k").as("n_tokens"),
          expr("aggregate(sort_array(collect_list(contrib)), 0D, (a, x) -> a + x)")
            .as("slog"))
        .crossJoin(broadcast(nCorpus))
        .withColumn("bits_per_token",
          round(log2(col("n_corpus") + lit(16.0)) - col("slog") / col("n_tokens"), 6))
        .select("doc_id", "n_tokens", "bits_per_token")
        .orderBy("doc_id")
    },

    // Interpolated BIGRAM language-model scoring — the CCNet crawl gate
    // ("filter the crawl by LM perplexity"): q_unigram_lm stops at token
    // frequency; this conditions each token on its predecessor. Vocab =
    // top-16 types by (count desc, token asc), everything else one UNK id
    // 0, so the model is a bounded ≤17² bigram table regardless of corpus
    // size. TRAIN: the vocab visits the driver as 16 scalars (the
    // BPE/kmeans precedent) and comes back as a CASE literal folded into a
    // map-only token→id projection; per-doc adjacent id pairs come from
    // the aligned-slice zip_with (never w[i] indexing — see ngramExpr),
    // so the corpus is NEVER self-joined on positions and never shuffles
    // before the (doc, bigram) rollup. Corpus-level tables (bigram counts,
    // context masses, unigram counts, token total) are tiny aggregates
    // that broadcast back. PROBABILITY: add-one-smoothed bigram
    // interpolated with the add-one unigram at fixed λ=0.75 —
    //   p(v|u) = 0.75·(c(u,v)+1)/(ctx(u)+17) + 0.25·(c1(v)+1)/(N+17)
    // — counts are exact bigints, each division is one exactly-rounded
    // IEEE op, and 0.75/0.25 are exact binary fractions, so p is
    // bit-identical cross-engine; only log2 is libm-shaped, absorbed by
    // the house round(...,6). SCORE: per-doc Σ k·log2(p) folds a SORTED
    // list (the q_token_entropy pattern) → bits per transition; high =
    // atypical = the cut candidates. Scale: one TakeOrdered vocab pass +
    // map-only encode + three bounded aggregates — no corpus-sized join
    // anywhere.
    "q_bigram_lm" -> { (s, dir) =>
      val (docBg, vocab, nCorpus) = bigramEncoded(s, dir)
      perDocBits(docBg, interpolatedBigramModel(s, docBg, vocab, nCorpus))
    },

    // PERPLEXITY-FILTER THRESHOLD SWEEP — the tuning curve for the LM
    // quality gate (the CCNet/Gopher-style "keep if perplexity ≤ τ"
    // filter), and the audit for its best-documented failure mode:
    // perplexity gates silently SKEW LANGUAGE COMPOSITION, because the
    // LM scores its own majority language as most predictable. τ
    // self-derives as the rounded P25/P50/P75 of the per-doc bits
    // (no magic constants — the q_outlier_iqr fence discipline), the
    // model is EXACTLY q_bigram_lm's via the shared
    // [[interpolatedBigramModel]] (gate and curve cannot
    // desynchronize), and each quantile row reports kept share plus the
    // kept set's en-share — the composition readout. Scale: one scored
    // corpus pass serves all three thresholds via a 3-row explode.
    "q_ppl_filter_sweep" -> { (s, dir) =>
      val (docBg, vocab, nCorpus) = bigramEncoded(s, dir)
      val bits = perDocBits(docBg,
        interpolatedBigramModel(s, docBg, vocab, nCorpus))
        .select(col("doc_id"), col("bits_per_token").as("bits"))
      // materialized once: referenced by BOTH the fence percentiles and
      // the sweep rollup — a lazy lj re-ran the whole scored-corpus
      // pipeline twice (r19; the 710-line before-plan shows the doubled
      // subtree)
      val lj = bits.join(docs(s, dir).select("doc_id", "lang"), "doc_id")
        .localCheckpoint(true)
      val fences = lj.agg(
        round(expr("percentile(bits, 0.25)"), 6).as("t25"),
        round(expr("percentile(bits, 0.5)"), 6).as("t50"),
        round(expr("percentile(bits, 0.75)"), 6).as("t75"))
      lj.crossJoin(broadcast(fences))
        .select(col("bits"), col("lang"), explode(expr(
          "array(named_struct('q', 'p25', 'tau', t25), " +
            "named_struct('q', 'p50', 'tau', t50), " +
            "named_struct('q', 'p75', 'tau', t75))")).as("th"))
        .select(col("th.q").as("quantile"), col("th.tau").as("tau"),
          col("bits"), col("lang"))
        .groupBy("quantile", "tau")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bits") <= col("tau"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("bits") <= col("tau") && col("lang") === "en", 1L)
            .otherwise(0L)).as("n_kept_en"))
        .select(col("quantile"), col("tau"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6)
            .as("kept_share"),
          expr("CASE WHEN n_kept > 0 THEN " +
            "round(CAST(n_kept_en AS DOUBLE) / n_kept, 6) END")
            .as("en_share_kept"))
        .orderBy("quantile")
    },

    // KNESER-NEY bigram LM — the smoothing real LM-perplexity filters ship
    // (absolute discounting + CONTINUATION probability: a word's backoff
    // mass reflects how many distinct contexts it follows, not its raw
    // frequency — 'Francisco' is frequent but follows only 'San', so KN
    // correctly scores it near-zero elsewhere; add-one interpolation
    // (q_bigram_lm) can't express that). Same capped 17-id encode, same
    // bounded ≤17² model. D = 0.75 (an exact binary fraction, the
    // standard discount):
    //   p(v|u) = max(c(u,v)−D, 0)/ctx(u)
    //          + (D·N1+(u·)/ctx(u)) · (N1+(·v)/T)
    // where N1+(u·) = distinct continuations of u, N1+(·v) = distinct
    // contexts v follows, T = distinct bigram types. All counts exact
    // bigints, each probability a fixed DAG of exactly-rounded IEEE ops
    // (one division per component), only log2 libm-shaped → round(...,6).
    // Only OBSERVED transitions are scored (c ≥ 1 → p > 0); the unseen-
    // bigram backoff path needs no extra machinery because the scorer
    // never meets one.
    "q_kneser_ney" -> { (s, dir) =>
      val (docBg, _, _) = bigramEncoded(s, dir)
      val cbg = docBg.groupBy("bg").agg(count(lit(1)).as("c"))
        .withColumn("u", expr("bg div 17"))
        .withColumn("v", expr("bg % 17"))
      val ctx = cbg.groupBy("u")
        .agg(sum("c").as("cctx"), count(lit(1)).as("n1u"))
      val cont = cbg.groupBy("v").agg(count(lit(1)).as("n1c"))
      val tTypes = cbg.agg(count(lit(1)).as("t"))
      val model = cbg
        .join(broadcast(ctx), "u")
        .join(broadcast(cont), "v")
        .crossJoin(broadcast(tTypes))
        .withColumn("p",
          greatest(col("c") - lit(0.75), lit(0.0)) / col("cctx")
            + lit(0.75) * col("n1u") / col("cctx") * (col("n1c") / col("t")))
        .select(col("bg"), log2(col("p")).as("lp"))
      perDocBits(docBg, model)
    },

    // Boilerplate/template-line removal — the CCNet/RefinedWeb "strip the
    // nav bars, cookie banners and footers" pass: a LINE that recurs
    // verbatim across documents OF THE SAME SOURCE is template chrome, not
    // content. The corpus has no newlines, so a "line" is a fixed
    // non-overlapping 10-token segment (deterministic boundaries keep the
    // line-hash equi-joinable; a real crawl splits on '\n'). Phase 1
    // builds per-(source, line) document frequencies — one aggregate over
    // the exploded segments, the inverted-index discipline of
    // q_containment (keyed by content, never doc-to-doc). Lines with
    // df >= 2 distinct docs in a source are the template set: it is
    // orders of magnitude smaller than the corpus (template mass per
    // source is bounded — the df cut is what bounds it) and BROADCASTS
    // into the strip join, so the strip decision is map-side; the only
    // corpus shuffle is the per-doc rollup every per-doc op pays. Output:
    // per-doc line counts, removed fraction, and the md5 of the retained
    // text (segments rejoined in position order — the payload a real
    // pipeline would write back).
    "q_boilerplate_strip" -> { (s, dir) =>
      val L = 10
      val seg = docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("source"), posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(w) / $L.0) as int) - 1), " +
            s"i -> array_join(slice(w, i * $L + 1, $L), ' '))"))
          .as(Seq("pos", "line")))
      val boiler = seg.groupBy("source", "line")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 2)
        .select(col("source"), col("line"), lit(true).as("boiler"))
      seg.join(broadcast(boiler), Seq("source", "line"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("boiler"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
          // collect_list skips the CASE's nulls, so only retained segments
          // are gathered; array_sort on (pos, line) structs restores
          // document order before the rejoin
          expr("md5(array_join(transform(array_sort(collect_list(" +
            "CASE WHEN boiler IS NULL THEN struct(pos, line) END)), " +
            "x -> x.line), ' '))").as("retained_hash"))
        .withColumn("removed_frac", round(col("n_removed") / col("n_lines"), 6))
        .select("doc_id", "n_lines", "n_removed", "removed_frac", "retained_hash")
        .orderBy("doc_id")
    },

    // Quality-classifier inference: a fixed-weight logistic model over
    // cheap per-doc features (token count, uniqueness, stopword ratio, mean
    // token length) — the fastText-classifier stage of a crawl pipeline,
    // expressed as pure codegen'd expressions (model inference needs no UDF
    // when the model is linear). The keep decision tests z > 0, not the
    // sigmoid: z is built from one fixed IEEE expression DAG, so both
    // engines compute bit-identical z; only the rounded sigmoid is emitted.
    // Scale: map-only, zero shuffles before the final sort.
    "q_quality_classifier" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("w", split(col("text"), " "))
        .withColumn("n_tok", size(col("w")))
        .withColumn("z", qualityZ(col("w"), col("n_tok")))
        .select(col("doc_id"), col("n_tok"),
          round(col("z"), 6).as("z"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
          (col("z") > 0).as("keep"))
        .orderBy("doc_id")
    },

    // Source blocklist filtering — the URL/domain-blocklist gate of a crawl
    // pipeline, as a real anti JOIN against a blocklist table (not an
    // isin(), which couldn't take a million-row blocklist): broadcast
    // left-anti, map-only over the corpus. Per-source survivor stats.
    "q_blocklist_filter" -> { (s, dir) =>
      val block = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("src3"), org.apache.spark.sql.Row("src7"),
          org.apache.spark.sql.Row("src13"), org.apache.spark.sql.Row("src17")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("b_source",
            org.apache.spark.sql.types.StringType, nullable = false))))
      docs(s, dir)
        .join(broadcast(block), col("source") === col("b_source"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .orderBy("source")
    },

    // Temperature rebalancing (size^0.5 sampling) — the multilingual-corpus
    // upsampling rule (rate ∝ count^α / count flattens language skew at
    // α<1). All rate arithmetic is integer: weights are floor(sqrt(tokens))
    // (sqrt is exactly rounded IEEE → identical everywhere), the budget is
    // half the corpus, and the div chain is ordered (budget div sum_w first)
    // so intermediates stay inside BIGINT even at 100 TB token counts. Keep
    // coin = the portable md5 basis-point hash of doc_id (q_data_mixture).
    // Scale: pass 1 is a |langs|-row aggregate; pass 2 broadcasts the rates
    // and filters map-only — the corpus never shuffles.
    "q_lang_rebalance" -> { (s, dir) =>
      val d = docs(s, dir)
        .withColumn("tok", size(split(col("text"), " ")).cast("long"))
      val rates = d.groupBy("lang").agg(sum("tok").as("lang_tokens"))
        .withColumn("w_l", floor(sqrt(col("lang_tokens"))).cast("long"))
        // constant-0 partition key: explicit 1-partition window over the
        // |langs|-row table (the q_data_mixture trick)
        .withColumn("total_tokens",
          sum("lang_tokens").over(Window.partitionBy(pmod(col("lang_tokens"), lit(1)))))
        .withColumn("sum_w",
          sum("w_l").over(Window.partitionBy(pmod(col("lang_tokens"), lit(1)))))
        .withColumn("rate_bp", least(lit(10000L),
          expr("(((total_tokens div 2) div sum_w) * w_l * 10000) div lang_tokens")))
        .select("lang", "rate_bp")
      d.withColumn("h", expr(s"${hExpr("cast(doc_id as string)")} % 10000"))
        .join(broadcast(rates), "lang")
        .filter(col("h") < col("rate_bp"))
        .groupBy("lang")
        .agg(max("rate_bp").as("rate_bp"), count(lit(1)).as("n_kept"),
          sum("tok").as("tokens_kept"))
        .orderBy("lang")
    },

    // NAIVE BAYES language classifier — TRAINED from the corpus (the
    // counts-based complement of q_quality_classifier's fixed-weight linear
    // scorer; fastText-style langid is exactly this shape at scale):
    // multinomial NB over the top-32 corpus tokens with add-one smoothing,
    // then every doc re-scored and the CONFUSION MATRIX (true lang ×
    // predicted lang) reported — the readout a labeling run ships. Scale
    // shape: training is two map-side-combined count aggregations ((class,
    // token) and class totals); the model is ≤ |langs|·32 cells and
    // BROADCASTS into scoring; scoring is one (doc, token) rollup joined
    // to the model — the corpus shuffles once on (doc_id, w), never on
    // anything model-sized. Float discipline: each log-prob is rounded to
    // 6 dp BEFORE use (a last-ulp ln() divergence between engines cannot
    // survive the rounding except on a measure-zero boundary), and each
    // doc's Σ k·logp folds a SORTED (by token) list — the q_token_entropy
    // rule — so partial-aggregation order can't move the sum; argmax
    // tie-breaks by class name. Docs with no vocab token classify by
    // prior alone (exact same arithmetic both engines).
    "q_naive_bayes" -> { (s, dir) =>
      val V = 32
      val d = docsPar(s, dir)
      val tokAll = d.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val vocab = tokAll.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(V).select("w")
      val tok = tokAll.join(broadcast(vocab), "w")
      val cls = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val nTotal = cls.agg(sum("n_docs")).head().getLong(0) // scalar
      val priors = cls.withColumn("prior",
        round(log(col("n_docs").cast("double") / lit(nTotal.toDouble)), 6))
      // r19 TRIED AND REVERTED (three variants, all measured): re-keying
      // tot/wc/dk as sums off one shared (doc, lang, w) rollup — (a) the
      // rollup eagerly checkpointed (+vocab lazy): min wall 4.5-5.0 s vs
      // 4.1 baseline — the ckpt serializes the job chain that the lazy
      // form runs as parallel duplicate stages; (b) +vocab checkpointed
      // too: same serialization, no better; (c) all-lazy shared rollup:
      // runtime exchange reuse did NOT cover the three consumers (QProf:
      // 7 heavy stages, 64 s task time — the (doc,lang,w) partial agg
      // re-ran per consumer and costs more than the direct counts). The
      // r18 shape below — four independent aggregations in ONE lazy plan
      // — wins on wall because its duplicate corpus subtrees run as
      // CONCURRENT stages of a single job (parallelEff 8×).
      val tot = tok.groupBy("lang").agg(count(lit(1)).as("twc"))
      val wc = tok.groupBy("lang", "w").agg(count(lit(1)).as("cwc"))
      // full |langs|×V grid so unseen (class, token) cells smooth to 1/(T+V)
      val grid = cls.select("lang").crossJoin(vocab)
        .join(wc, Seq("lang", "w"), "left")
        .join(tot, Seq("lang"), "left")
        .withColumn("logp", round(log(
          (coalesce(col("cwc"), lit(0L)) + 1).cast("double") /
            (coalesce(col("twc"), lit(0L)) + V)), 6))
        .select(col("lang").as("cls"), col("w"), col("logp"))
      val dk = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("k"))
      val sc = dk.join(broadcast(grid), "w")
        .select(col("doc_id"), col("cls"),
          struct(col("w"), (col("k") * col("logp")).as("term")).as("t"))
        .groupBy("doc_id", "cls")
        .agg(collect_list(col("t")).as("ts"))
        .withColumn("s", expr(
          "aggregate(array_sort(ts), cast(0.0 as double), (a, x) -> a + x.term)"))
        .select("doc_id", "cls", "s")
      val pred = d.select("doc_id", "lang")
        .crossJoin(broadcast(priors.select(col("lang").as("cls"), col("prior"))))
        .join(sc, Seq("doc_id", "cls"), "left")
        .withColumn("score", col("prior") + coalesce(col("s"), lit(0.0)))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("score").desc, col("cls").asc)))
        .filter(col("rn") === 1)
      pred.groupBy(col("lang"), col("cls").as("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },

    // Per-source KL divergence vs the corpus token distribution — the
    // corpus-drift / slice-outlier metric (which sources distribute unlike
    // the whole). Restricted to the top-16 corpus types (broadcastable cap,
    // same TakeOrderedAndProject shape as q_unigram_lm), add-one smoothing
    // on the source side so zero counts stay finite; the source×vocab zero
    // terms come from a |sources|×16 cross join of two small aggregates,
    // never from the corpus. Per-source KL folds a SORTED double list.
    "q_source_kl" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c_corpus"))
        .orderBy(col("c_corpus").desc, col("w").asc).limit(16)
      // r19: n_corpus = Σ per-source totals (exact long sum) — deriving it
      // off the checkpointed |sources|-row rollup drops one of the four
      // corpus explode passes QProf measured (14.6 s task time total);
      // guide §2.4. The vocab TakeOrderedAndProject path is untouched.
      val srcTotals = tok.groupBy("source").agg(count(lit(1)).as("n_src"))
        .localCheckpoint(true)
      val nCorpus = srcTotals.agg(sum("n_src").as("n_corpus"))
      val srcVocab = srcTotals.crossJoin(broadcast(vocab))
      val counts = tok.join(broadcast(vocab.select("w")), Seq("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("k"))
      srcVocab.join(counts, Seq("source", "w"), "left")
        .withColumn("k", coalesce(col("k"), lit(0L)))
        .crossJoin(broadcast(nCorpus))
        .withColumn("p_s", (col("k") + lit(1.0)) / (col("n_src") + lit(16.0)))
        .withColumn("p_c", col("c_corpus") / col("n_corpus").cast("double"))
        .withColumn("term", col("p_s") * log2(col("p_s") / col("p_c")))
        .groupBy("source")
        .agg(max("n_src").as("n_tokens"),
          round(expr(
            "aggregate(sort_array(collect_list(term)), 0D, (a, x) -> a + x)"), 6)
            .as("kl_bits"))
        .orderBy("source")
    },

    // ENTITY RESOLUTION (record linkage) — block + fuzzy-verify + top-1
    // assign, the Fellegi–Sunter pipeline every master-data/training-data
    // dedup ships: a "dirty file" self-derives by deterministically
    // corrupting each customer name (digit suffix reversed — same char
    // multiset, so the true pair stays close under Jaro while non-pairs
    // drift), candidates BLOCK on (nationkey × mktsegment × sorted-digit
    // multiset) via the shared erCandidates generator — the composed key
    // whose cardinality GROWS with the data, plus the BucketCap guard, so
    // candidates stay ~linear in rows (never all-pairs, never n²/constant;
    // see sortedDigitsExpr), the verify stage
    // scores candidates with the NATIVE codegen `graft_jaro_winkler`
    // (fuzz-validated bit-exact vs DuckDB's jaro_winkler_similarity on
    // 75k pairs), and each dirty record takes its top-1 clean candidate
    // by the ROUNDED-DECIMAL score with a key tiebreak — a total order,
    // so the assignment is deterministic in both engines. The top-1 is a
    // max-STRUCT AGGREGATION, not a row_number window: partial aggregation
    // combines map-side, so the shuffle carries one best-so-far row per
    // dirty record instead of every scored pair (the difference between
    // shuffling |dirty| and |dirty|·|block| rows at 100 TB; the oracle's
    // row_number formulation is provably the same total order). Ground
    // truth is known by construction → the readout is per-nation top-1
    // ACCURACY (the ER evaluation number), plus the exact-decimal mean
    // best score.
    "q_entity_match" -> { (s, dir) =>
      val pairs = erCandidates(s, dir)
        .withColumn("jw",
          round(expr("graft_jaro_winkler(dirty_name, clean_name)"), 6)
            .cast("decimal(8,6)"))
      pairs
        .groupBy("nk", "dirty_key")
        // lexicographic struct max ≡ (jw DESC, clean_key ASC): negate the
        // key so the max picks the smallest clean_key among jw ties
        .agg(max(struct(col("jw"), (lit(0L) - col("clean_key"))
          .as("neg_key"))).as("best"))
        .select(col("nk"), col("dirty_key"),
          (lit(0L) - col("best.neg_key")).as("clean_key"),
          col("best.jw").as("jw"))
        .groupBy("nk")
        .agg(count(lit(1)).as("n_entities"),
          sum(when(col("clean_key") === col("dirty_key"), 1L).otherwise(0L))
            .as("n_correct"),
          sum(col("jw")).as("sjw"))
        .select(col("nk").as("c_nationkey"), col("n_entities"),
          col("n_correct"),
          round(col("n_correct").cast("double") / col("n_entities"), 6)
            .as("top1_accuracy"),
          round(col("sjw").cast("double") / col("n_entities"), 6)
            .as("avg_top1_jw"))
        .orderBy("c_nationkey")
    },

    // SORTED-NEIGHBORHOOD candidate generation (Hernández & Stolfo 1995
    // — the OTHER standard scale-safe ER candidate generator, next to
    // q_entity_match's blocking): clean + dirty records UNION into one
    // file, sort by a similarity-preserving key (the sorted-digit
    // multiset, then name — true pairs share the key so they sort
    // ADJACENT), and each record pairs with only its w = 8 successors in
    // sort order. Candidates are ≤ w·n BY CONSTRUCTION — a hard bound
    // that holds on any data, including the skewed blocks where plain
    // blocking degrades (the complementary tradeoff: bounded candidates,
    // recall depends on w). Run here within the coarse (nation, segment)
    // partitions — the standard blocked-SN hybrid, which is also the
    // distributed execution shape: the window sorts WITHIN partitions
    // (at 100 TB: range-partition the sort key, w-row boundary overlap),
    // one shuffle + sort, linear pair volume. Verify = the native
    // codegen Jaro-Winkler, top-1 by the q_entity_match total order;
    // readout adds COVERAGE (dirty records that got any candidate) —
    // the recall knob a linker tunes w by. Both engines compute the
    // neighborhood with lead(k) over the identical total order.
    "q_sorted_neighborhood" -> { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val clean = c.select(col("c_custkey").as("k"), col("c_name").as("nm"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .withColumn("role", lit(0))
      val dirty = c.select(col("c_custkey").as("k"),
        concat(lit("Customer#"), reverse(substring(col("c_name"), 10, 9)))
          .as("nm"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        .withColumn("role", lit(1))
      val u = clean.unionByName(dirty)
        .withColumn("sdk", expr(sortedDigitsExpr("nm")))
      val w = Window.partitionBy("nk", "seg")
        .orderBy("sdk", "nm", "role", "k")
      var l = u
      (1 to 8).foreach { i =>
        l = l.withColumn(s"nb$i",
          lead(struct(col("role"), col("k"), col("nm")), i).over(w))
      }
      val pairs = l
        .select(col("nk"), col("role"), col("k"), col("nm"),
          explode(array((1 to 8).map(i => col(s"nb$i")): _*)).as("b"))
        .filter(col("b").isNotNull && col("b.role") =!= col("role"))
        .select(col("nk"),
          when(col("role") === 1, col("k")).otherwise(col("b.k"))
            .as("dirty_key"),
          when(col("role") === 1, col("nm")).otherwise(col("b.nm"))
            .as("dirty_name"),
          when(col("role") === 1, col("b.k")).otherwise(col("k"))
            .as("clean_key"),
          when(col("role") === 1, col("b.nm")).otherwise(col("nm"))
            .as("clean_name"))
        .withColumn("jw",
          round(expr("graft_jaro_winkler(dirty_name, clean_name)"), 6)
            .cast("decimal(8,6)"))
      val best = pairs.groupBy("nk", "dirty_key")
        .agg(max(struct(col("jw"), (lit(0L) - col("clean_key"))
          .as("neg_key"))).as("best"))
        .select(col("nk"), col("dirty_key"),
          (lit(0L) - col("best.neg_key")).as("clean_key"),
          col("best.jw").as("jw"))
      val tot = c.groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_dirty"))
      best.groupBy("nk")
        .agg(count(lit(1)).as("n_matched"),
          sum(when(col("clean_key") === col("dirty_key"), 1L).otherwise(0L))
            .as("n_correct"),
          sum(col("jw")).as("sjw"))
        .join(broadcast(tot), Seq("nk"))
        .select(col("nk").as("c_nationkey"), col("n_dirty"),
          col("n_matched"), col("n_correct"),
          round(col("n_matched").cast("double") / col("n_dirty"), 6)
            .as("coverage"),
          round(col("n_correct").cast("double") / col("n_matched"), 6)
            .as("top1_accuracy"),
          round(col("sjw").cast("double") / col("n_matched"), 6)
            .as("avg_top1_jw"))
        .orderBy("c_nationkey")
    },

    // ER THRESHOLD SWEEP — the tuning curve a record-linkage operator
    // ships with (Fellegi-Sunter in practice: pick τ by the
    // precision/recall tradeoff, don't guess it): the EXACT q_entity_match
    // blocked-pair + native Jaro-Winkler DAG re-read as a CLASSIFIER
    // (pair is a match ⟺ jw ≥ τ) and swept over τ ∈ {.90,.95,.96,.97,
    // .98} — the grid where this corruption's tradeoff actually moves
    // (the shared 'Customer#' prefix Winkler-inflates every blocked pair
    // past .9, so the informative band sits high; finding THAT is what a
    // sweep is for). Ground truth is free (dirty_key = clean_key by
    // construction), so TP/FP/FN are exact integer conditional sums — the
    // SAME one scored-pair pass serves all four thresholds via a 4-row
    // explode, and F1 composes the ROUNDED precision/recall (boundary
    // discipline). jw compares as the rounded DECIMAL(8,6) against exact
    // decimal thresholds — no float sits on a decision boundary. Scale:
    // the erCandidates composed-key equi-join (never all-pairs) +
    // map-side threshold grid + ≤5-row rollup.
    "q_er_threshold_sweep" -> { (s, dir) =>
      val pairs = erCandidates(s, dir)
        .withColumn("jw",
          round(expr("graft_jaro_winkler(dirty_name, clean_name)"), 6)
            .cast("decimal(8,6)"))
        .select(col("dirty_key"), col("clean_key"), col("jw"))
      pairs
        .select(col("dirty_key"), col("clean_key"), col("jw"),
          explode(expr("array(CAST(0.90 AS DECIMAL(8,6)), " +
            "CAST(0.95 AS DECIMAL(8,6)), CAST(0.96 AS DECIMAL(8,6)), " +
            "CAST(0.97 AS DECIMAL(8,6)), CAST(0.98 AS DECIMAL(8,6)))"))
            .as("tau"))
        .groupBy("tau")
        .agg(
          sum(when(col("jw") >= col("tau"), 1L).otherwise(0L))
            .as("n_predicted"),
          sum(when(col("dirty_key") === col("clean_key"), 1L).otherwise(0L))
            .as("n_true"),
          sum(when(col("jw") >= col("tau") &&
              col("dirty_key") === col("clean_key"), 1L).otherwise(0L))
            .as("n_tp"))
        .withColumn("precision_r", expr("CASE WHEN n_predicted > 0 THEN " +
          "round(CAST(n_tp AS DOUBLE) / n_predicted, 6) END"))
        .withColumn("recall_r", expr("CASE WHEN n_true > 0 THEN " +
          "round(CAST(n_tp AS DOUBLE) / n_true, 6) END"))
        .withColumn("f1", expr(
          "CASE WHEN precision_r + recall_r > 0.0D THEN round(" +
            "2.0D * precision_r * recall_r / (precision_r + recall_r), 6)" +
            " END"))
        .select(col("tau").cast("double").as("tau"), col("n_predicted"),
          col("n_tp"), col("n_true"), col("precision_r").as("precision"),
          col("recall_r").as("recall"), col("f1"))
        .orderBy("tau")
    },

    // RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    // keyword miner next to q_textrank (graph ranks single words; RAKE
    // scores PHRASES): candidate phrases are maximal runs of non-stopwords
    // (stopwords self-derive as the corpus top-5 tokens — declared
    // semantics), word score = degree/frequency where degree sums the
    // lengths of phrases containing the word (co-occurrence incl. self),
    // phrase score = Σ member word scores (with multiplicity — faithful
    // RAKE). Scale: the segment window is ONE shuffle on doc_id (cumulative
    // stopword count = run id — no regex split, no per-doc loops); word
    // scores live in a vocab-bounded broadcast as exact 6-dp DECIMALs so
    // the phrase-score SUM is order-independent; the top-20 cut orders by
    // the exact decimal (phrase tiebreak), never a float.
    "q_rake_keyphrases" -> { (s, dir) =>
      val posts = docsPar(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val stop = posts.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(5)
        .select(col("tok").as("swt"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val runs = posts
        .join(broadcast(stop), posts("tok") === stop("swt"), "left")
        .withColumn("is_stop", col("swt").isNotNull)
        .withColumn("seg",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(w))
        .filter(!col("is_stop"))
      val phrases = runs.groupBy(col("doc_id"), col("seg"))
        .agg(sort_array(collect_list(struct(col("pos"), col("tok"))))
          .as("pw"))
        .select(
          array_join(expr("transform(pw, x -> x.tok)"), " ").as("phrase"),
          size(col("pw")).cast("long").as("len"))
      val wstat = phrases
        .select(col("len"), explode(split(col("phrase"), " ")).as("wd"))
        .groupBy("wd")
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .select(col("wd"),
          round(col("deg").cast("double") / col("freq"), 6)
            .cast("decimal(12,6)").as("wscore"))
      val dp = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
      dp.select(col("phrase"), col("n_occ"),
          explode(split(col("phrase"), " ")).as("wd"))
        .join(broadcast(wstat), "wd")
        .groupBy("phrase", "n_occ")
        .agg(count(lit(1)).as("n_words"), sum(col("wscore")).as("sc"))
        .orderBy(col("sc").desc, col("phrase").asc)
        .limit(20)
        .select(col("phrase"), col("n_occ"), col("n_words"),
          round(col("sc").cast("double"), 6).as("score"))
    },

    // GREEDY DECODING from the interpolated bigram LM — the generation
    // readout that proves the LM family (q_unigram_lm → q_bigram_lm →
    // q_kneser_ney) actually RUNS as a language model, not just as a
    // scorer: seed at the most frequent token, then 8 steps of
    // next = argmax_v p(v|u). The model densifies to the full 17×16
    // grid (unseen bigrams get their smoothed mass — coalesced zero
    // counts through the exact q_bigram_lm formula), so every state has
    // a successor and the walk never dead-ends; candidates EXCLUDE the
    // UNK id — a decoder never emits UNK (it would otherwise dominate:
    // UNK absorbs the whole out-of-vocab tail, the classic trap), and
    // the seed is the most frequent REAL token. The corpus collapses to
    // three checkpointed sufficient-stat frames (17-row unigrams,
    // 289-row bigram counts, 1-row token total) and the densified grid
    // is checkpointed too (272 rows) — so the 8 decode steps touch ONLY
    // leaf frames; each step's 1-row state checkpoints as well, since it
    // feeds both the next join and the output union (two references —
    // a lazy unroll would double the plan per step and re-derive the
    // grid from the corpus each time, r13's 7.4 s defect). Argmax is
    // deterministic cross-engine: identical probability trees over
    // identical integers, token-id ascending tiebreak.
    "q_greedy_decode" -> { (s, dir) =>
      val (docBg, vocab, nCorpus) = bigramEncoded(s, dir)
      // the per-id unigram counts ARE the vocab rollup's counts (id i =
      // rank-i token by construction), so the 17-row frame builds from
      // the scalars bigramEncoded already collected — no second corpus
      // pass; id 0 (UNK) never enters the grid (v ranges over real ids)
      import s.implicits._
      val uni = vocab.zipWithIndex
        .map { case ((_, c), i) => ((i + 1).toLong, c) }
        .toDF("vid", "c1")
      val cbg = docBg.groupBy("bg").agg(count(lit(1)).as("cbg"))
        .localCheckpoint(true)
      val ctx = cbg.withColumn("u", expr("bg div 17"))
        .groupBy("u").agg(sum("cbg").as("cctx"))
      val grid = s.range(17).select(col("id").as("u"))
        .crossJoin(s.range(1, 17).select(col("id").as("v")))
      val dense = grid
        .join(broadcast(cbg.select(expr("bg div 17").as("u"),
          expr("bg % 17").as("v"), col("cbg"))), Seq("u", "v"), "left")
        .join(broadcast(ctx), Seq("u"), "left")
        .join(broadcast(uni.select(col("vid").as("v"), col("c1"))),
          Seq("v"), "left")
        .withColumn("n_corpus", lit(nCorpus))
        .withColumn("p", expr(
          "0.75D * ((coalesce(cbg, 0L) + 1.0D) / " +
            "(coalesce(cctx, 0L) + 17.0D)) " +
          "+ 0.25D * ((coalesce(c1, 0L) + 1.0D) / (n_corpus + 17.0D))"))
        .select("u", "v", "p")
        .localCheckpoint(true)
      var state = uni.filter(col("vid") >= 1)
        .orderBy(col("c1").desc, col("vid").asc).limit(1)
        .select(col("vid").as("u"), lit(0L).as("step"),
          lit(null).cast("double").as("p"))
        .localCheckpoint(true)
      val steps = scala.collection.mutable.ArrayBuffer[DataFrame](
        state.select(col("step"), col("u").as("token_id"), col("p")))
      for (i <- 1 to 8) {
        state = dense.join(broadcast(state.select("u")), "u")
          .orderBy(col("p").desc, col("v").asc).limit(1)
          .select(col("v").as("u"), lit(i.toLong).as("step"), col("p"))
          .localCheckpoint(true)
        steps += state.select(col("step"), col("u").as("token_id"), col("p"))
      }
      val dec = vocab.zipWithIndex.map { case ((t, _), i) =>
        s"WHEN ${i + 1}L THEN '${t.replace("'", "''")}'"
      }.mkString(" ")
      steps.reduce(_ union _)
        .withColumn("token",
          expr(s"CASE token_id $dec ELSE '<unk>' END"))
        .select(col("step"), col("token_id"), col("token"),
          round(col("p"), 6).as("p"))
        .orderBy("step")
    },

    // FRONT-CODED TERM DICTIONARY SIZE ESTIMATOR — the companion of
    // q_postings_size for the OTHER half of an inverted index: Lucene's
    // block-tree terms dictionary stores sorted terms as (shared-prefix
    // length, suffix) with a raw restart every 16 terms. The dictionary
    // here is the sorted distinct customer-name key space (the classic
    // shared-prefix shape of sorted identifiers). LCP via the monotone
    // prefix-equality count: substring(a,1,i)=substring(b,1,i) is
    // downward-closed in i, so counting the trues IS the longest common
    // prefix — pure expression work, no UDF. Cost model declared: suffix
    // bytes + 2 length bytes per term, raw at block starts. All exact
    // BIGINT sums; the single-partition lag/rank window runs on the
    // ≤|distinct terms| dictionary BY DESIGN (vocabulary-bounded — the
    // dictionary of a 100 TB corpus still fits one node; at larger
    // dictionaries the same plan shards by block ranges).
    "q_dict_compression" -> { (s, dir) =>
      val terms = Tables.load(s, dir, "customer")
        .select(col("c_name").as("term")).distinct()
      val ord = Window.partitionBy(pmod(length(col("term")), lit(1)))
        .orderBy(col("term").asc)
      val lcpE = "CASE WHEN prev IS NULL OR (rank - 1) % 16 = 0 " +
        "OR least(length(term), length(prev)) < 1 THEN 0L " +
        "ELSE size(filter(transform(" +
        "sequence(1, least(length(term), length(prev))), " +
        "i -> substring(term, 1, i) = substring(prev, 1, i)), x -> x)) END"
      terms
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("prev", lag("term", 1).over(ord))
        .withColumn("lcp", expr(lcpE).cast("long"))
        .agg(count(lit(1)).as("n_terms"),
          sum(length(col("term")).cast("long")).as("raw_bytes"),
          sum(length(col("term")).cast("long") - col("lcp") + 2)
            .as("coded_bytes"),
          sum(col("lcp")).as("lcp_bytes_saved"))
        .select(col("n_terms"), col("raw_bytes"), col("coded_bytes"),
          col("lcp_bytes_saved"),
          expr("round(CAST(coded_bytes AS DOUBLE) / raw_bytes, 6)")
            .as("ratio"))
    },

    // TEXT NORMALIZATION DEDUP DELTA — the CCNet/C4 "canonicalize before
    // you dedup" pass, measured: lowercase + whitespace-collapse + trim,
    // then count how many exact-duplicate groups exist AFTER
    // normalization that raw hashing missed. The testdata arrives clean
    // (500 unique texts), so the query injects DECLARED perturbations —
    // the q_stream_dedup discipline — an upper-cased double-spaced
    // trailing-space copy of every doc_id % 7 == 0 doc (id offset +10⁶):
    // normalization must merge each injected copy with its original and
    // nothing else. Counts are exact distincts; at 100 TB the distincts
    // swap to their md5-fingerprint forms (q_dedup_exact's plan),
    // normalization staying a map-side expression either way.
    "q_text_normalize" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val noisy = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(regexp_replace(col("text"), " ", "  ")), lit(" "))
            .as("text"))
      val all = d.union(noisy)
      val norm = all.withColumn("ntext",
        trim(regexp_replace(lower(col("text")), " +", " ")))
      norm.agg(count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_distinct_raw"),
          countDistinct(col("ntext")).as("n_distinct_norm"),
          sum(when(col("doc_id") >= 1000000L, 1L).otherwise(0L))
            .as("n_injected"))
        .select(col("n_docs"), col("n_distinct_raw"),
          col("n_distinct_norm"),
          (col("n_distinct_raw") - col("n_distinct_norm"))
            .as("n_merged_by_norm"),
          col("n_injected"))
    },

    // GOPHER QUALITY RULES (Rae et al. 2021 §A1.1, thresholds adapted to
    // this corpus's declared scale — the rule-based pre-filter every
    // LLM-corpus pipeline runs before any model-based gate): word count ∈
    // [20, 1000], mean word length ∈ [3, 10], symbol-to-word ratio ≤ 0.1
    // ('#'/'…' tokens), ≥80% words alphabetic, ≥2 stopwords from the
    // declared 8-word list. EVERY comparison is exact-integer — ratio
    // bounds cross-multiply (3·n ≤ chars ≤ 10·n, 10·sym ≤ n, 10·alpha ≥
    // 8·n) so no float ever sits on a pass/fail boundary. One map-side
    // pass; per-rule fail counts + the all-rules pass count roll up to a
    // single row. At 100 TB this is the cheapest possible filter: pure
    // per-row expressions inside the scan, one 1-row agg.
    "q_gopher_rules" -> { (s, dir) =>
      val d = wordStats(docsPar(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("w")), "n")
        .withColumn("r_wc", col("n") >= 20L && col("n") <= 1000L)
        .withColumn("r_mwl",
          col("chars") >= lit(3L) * col("n") &&
            col("chars") <= lit(10L) * col("n"))
        .withColumn("r_sym", lit(10L) * col("sym") <= col("n"))
        .withColumn("r_alpha", lit(10L) * col("alpha") >= lit(8L) * col("n"))
        .withColumn("r_stop", col("stop") >= 2L)
      d.agg(count(lit(1)).as("n_docs"),
        sum(when(!col("r_wc"), 1L).otherwise(0L)).as("fail_word_count"),
        sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("fail_mean_word_len"),
        sum(when(!col("r_sym"), 1L).otherwise(0L)).as("fail_symbol_ratio"),
        sum(when(!col("r_alpha"), 1L).otherwise(0L)).as("fail_alpha_ratio"),
        sum(when(!col("r_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(col("r_wc") && col("r_mwl") && col("r_sym") &&
          col("r_alpha") && col("r_stop"), 1L).otherwise(0L)).as("n_pass"))
    },

    // FLESCH READING EASE (Flesch 1948 — the classic readability score, a
    // standard cheap quality feature beside E-text_quality's ratios):
    // 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word), with
    // syllables = vowel-group count per word clamped ≥1 (the standard
    // regex heuristic) and sentences = terminal-punctuation count clamped
    // ≥1. words/sents/syllables are EXACT BIGINTs (the vowel-group count
    // folds inside the token array — no shuffle-order float anywhere);
    // the score is one shared double tree rounded 6 dp, the band CASE
    // reads the ROUNDED score, and the per-band mean sums exact
    // DECIMAL(18,6) (order-insensitive) before one final division.
    // Scale: pure per-row regex work inside the scan + a ≤5-row rollup.
    "q_readability" -> { (s, dir) =>
      docsPar(s, dir)
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("n_sents",
          greatest(regexp_count(col("text"), lit("[.!?]")).cast("long"),
            lit(1L)))
        .withColumn("n_syll", expr(
          "aggregate(w, 0L, (a, x) -> a + greatest(1L, " +
            "CAST(size(regexp_extract_all(x, '[aeiouy]+', 0)) AS BIGINT)))"))
        .withColumn("flesch", expr(
          "round(206.835D - 1.015D * n_words / n_sents" +
            " - 84.6D * n_syll / n_words, 6)"))
        .withColumn("band", expr(
          """CASE WHEN flesch >= 90.0D THEN 'very_easy'
            |WHEN flesch >= 70.0D THEN 'easy'
            |WHEN flesch >= 50.0D THEN 'medium'
            |WHEN flesch >= 30.0D THEN 'hard'
            |ELSE 'very_hard' END""".stripMargin))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("flesch").cast("decimal(18,6)")).as("sf"),
          min("flesch").as("min_flesch"), max("flesch").as("max_flesch"))
        .select(col("band"), col("n_docs"),
          expr("round(CAST(sf AS DOUBLE) / n_docs, 6)").as("avg_flesch"),
          col("min_flesch"), col("max_flesch"))
        .orderBy("band")
    },

    // JENSEN–SHANNON DIVERGENCE between the even- and odd-doc_id corpus
    // halves (Lin 1991 — the symmetric, bounded [0,1]-bit distribution
    // distance; the drift metric between two corpus snapshots or two
    // sources, where E-source_kl is asymmetric): distributions over the
    // top-64 corpus terms with +1 smoothing (q_source_kl's discipline —
    // keeps every log finite), per-term contribution ½p·log2(p/m) +
    // ½q·log2(q/m) with m = ½(p+q) as one shared double tree over exact
    // BIGINT counts, summed by the SORTED-list fold (q_token_entropy rule
    // — never a shuffle-order float sum). √JSD reports the metric form.
    // Scale: one token shuffle into a ≤64-row vocab frame; the fold runs
    // on 64 scalars.
    "q_js_divergence" -> { (s, dir) =>
      val tok = docsPar(s, dir)
        .select((col("doc_id") % 2 === 0).as("ga"),
          explode(split(col("text"), " ")).as("w"))
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(64).select("w")
      val counts = tok.join(broadcast(vocab), "w")
        .groupBy("w")
        .agg(sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("ga"), 1L).otherwise(0L)).as("cb"))
      val tots = counts.agg(sum("ca").as("na"), sum("cb").as("nb"),
        count(lit(1)).as("n_terms"))
      counts.crossJoin(broadcast(tots))
        .withColumn("p", expr(
          "(CAST(ca AS DOUBLE) + 1.0D) / (CAST(na AS DOUBLE) + 64.0D)"))
        .withColumn("q", expr(
          "(CAST(cb AS DOUBLE) + 1.0D) / (CAST(nb AS DOUBLE) + 64.0D)"))
        .withColumn("term", expr(
          "0.5D * p * log2(p / (0.5D * (p + q))) + " +
            "0.5D * q * log2(q / (0.5D * (p + q)))"))
        .agg(max("n_terms").as("n_terms"),
          expr("aggregate(sort_array(collect_list(term)), 0D, " +
            "(a, x) -> a + x)").as("jsd"))
        .select(col("n_terms"),
          round(col("jsd"), 6).as("jsd_bits"),
          round(sqrt(col("jsd")), 6).as("js_distance"))
    },

    // ELIAS–FANO POSTINGS SIZING (Vigna 2013 — the quasi-succinct
    // encoding production index stacks offer beside varint; the E68
    // companion that answers "should these lists be EF instead?"): same
    // top-16 postings lists, EF low-bit width ℓ = ⌊log2(U/n)⌋ computed
    // EXACTLY as length(bin(U div n)) − 1 — integer bit-length, never
    // libm log2 on a boundary — with the declared size model n·(ℓ+2)
    // bits vs the varint gap encoding's measured bytes. U self-derives
    // as max(doc_id)+1. Scale: the postings build is the one corpus
    // shuffle (same as E68); the sizing is a ≤16-row readout; at 100 TB
    // the per-list ℓ recomputes per partition range exactly the same way.
    "q_elias_fano" -> { (s, dir) =>
      val uni = docsPar(s, dir).agg((max("doc_id") + 1L).as("u"))
      postingGaps(s, dir)
        .groupBy("w")
        .agg(count(lit(1)).as("df"), sum("vbytes").as("varint_bytes"))
        .crossJoin(broadcast(uni))
        .withColumn("low_bits",
          expr("CAST(length(bin(u div df)) AS BIGINT) - 1L"))
        .select(col("w"), col("df"), col("u").as("universe"),
          col("low_bits"),
          (col("df") * (col("low_bits") + lit(2L))).as("ef_bits"),
          (col("varint_bytes") * 8L).as("varint_bits"))
        .withColumn("ef_gain", round(
          col("varint_bits").cast("double") / col("ef_bits"), 6))
        .orderBy("w")
    },

    // K-CORE DECOMPOSITION (Seidman 1983 — the graph-degeneracy peel that
    // separates a graph's cohesive core from its tree-like fringe; the
    // standard prefilter before community/influence analytics): the
    // 3-core of the shared undirected word graph by 8 unrolled peeling
    // rounds — each round keeps nodes with ≥3 surviving neighbors and
    // re-derives the induced subgraph; 8 rounds provably suffice on a
    // ≤32-node graph IF the peel converges (OperatorSpec replays the
    // brute peel to fixpoint and asserts both convergence-within-8 and
    // set equality). All joins are equi-joins between the ≤32²-row edge
    // frame and ≤32-row node frames (wordGraph's one corpus-sized bigram
    // extraction is shared + checkpointed). Each round references the
    // survivor set TWICE (once per edge endpoint), so each round's
    // ≤32-row survivor frame is checkpointed (the [[Iterate]] discipline).
    "q_kcore" -> { (s, dir) =>
      val (vocab, e0) = wordGraph(s, dir, 32)
      val und = e0.union(
        e0.select(col("w2").as("w1"), col("w1").as("w2"))).distinct()
        .localCheckpoint(true)
      // r19 early-exit (the q_mst_boruvka discipline): the peel is
      // MONOTONE — nodes_k ⊆ nodes_{k-1} (survivors are edge endpoints
      // inside the previous survivor set) — so count-equal ⇒ set-equal ⇒
      // every later round recomputes the identical frames and skipping
      // them is byte-identical (OperatorSpec pins convergence within 8).
      // The count is a one-task job on a checkpointed ≤32-row frame;
      // QProf before: 55 jobs for 8 unrolled rounds on a peel that
      // converges in 2-3.
      // state: (survivors, their induced edges, survivor count)
      val (nodes, edges, _) = Iterate.upTo(8,
          (vocab.select(col("w")), und, -1L)) { case (nodes, _, prevN) =>
        val edges = und
          .join(nodes.select(col("w").as("w1")), "w1")
          .join(nodes.select(col("w").as("w2")), "w2")
          .select("w1", "w2")
        val next = edges.groupBy("w1").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 3L).select(col("w1").as("w"))
          .localCheckpoint(true)
        val n = next.count()
        ((next, edges, n), n == prevN)
      }
      edges
        .join(nodes.select(col("w").as("w1")), "w1")
        .join(nodes.select(col("w").as("w2")), "w2")
        .groupBy(col("w1").as("w"))
        .agg(count(lit(1)).as("core_degree"))
        .orderBy("w")
    },

    // FELLEGI–SUNTER m/u WEIGHT ESTIMATION (Fellegi & Sunter 1969 — the
    // parameter-estimation half of record linkage; E80 is the DECISION
    // half): over the same blocked customer pairs with construction-known
    // labels (dirty_key = clean_key), estimate per-field agreement
    // probabilities m = P(agree|match), u = P(agree|non-match) with +1/+2
    // Laplace smoothing (no zero-frequency log), and the log2 match
    // weights w⁺ = log2(m/u), w⁻ = log2((1−m)/(1−u)) as one shared double
    // tree over exact BIGINT counts. Fields: name Jaro-Winkler ≥ .96
    // (rounded DECIMAL vs DECIMAL — no float boundary) and exact acctbal
    // agreement. m/u are estimated over the BLOCKED candidate set (the
    // production setup — Splink et al. estimate over candidates too), so
    // u reflects the within-block non-match population. Scale: the
    // erCandidates composed-key equi-join is the only corpus-sized work
    // (never all-pairs); the estimate is a 1-row sufficient-stat agg
    // unpivoted to 2 field rows.
    "q_fellegi_sunter" -> { (s, dir) =>
      val a = erCandidates(s, dir)
        .withColumn("mt", col("dirty_key") === col("clean_key"))
        .withColumn("agn",
          round(expr("graft_jaro_winkler(dirty_name, clean_name)"), 6)
            .cast("decimal(8,6)") >= expr("CAST(0.96 AS DECIMAL(8,6))"))
        .withColumn("aga", col("dirty_acct") === col("clean_acct"))
        .agg(sum(when(col("mt"), 1L).otherwise(0L)).as("nm"),
          sum(when(!col("mt"), 1L).otherwise(0L)).as("nu"),
          sum(when(col("mt") && col("agn"), 1L).otherwise(0L)).as("amn"),
          sum(when(!col("mt") && col("agn"), 1L).otherwise(0L)).as("aun"),
          sum(when(col("mt") && col("aga"), 1L).otherwise(0L)).as("ama"),
          sum(when(!col("mt") && col("aga"), 1L).otherwise(0L)).as("aua"))
      def mu(am: String, au: String): (String, String) = (
        s"(CAST($am AS DOUBLE) + 1.0D) / (CAST(nm AS DOUBLE) + 2.0D)",
        s"(CAST($au AS DOUBLE) + 1.0D) / (CAST(nu AS DOUBLE) + 2.0D)")
      def fieldRow(am: String, au: String): String = {
        val (m, u) = mu(am, au)
        s"$am, $au, round($m, 6), round($u, 6), " +
          s"round(log2(($m) / ($u)), 6), " +
          s"round(log2((1.0D - ($m)) / (1.0D - ($u))), 6)"
      }
      a.select(col("nm").as("n_match"), col("nu").as("n_unmatch"),
          expr(s"""stack(2,
            |'acctbal_equal', ${fieldRow("ama", "aua")},
            |'name_jw', ${fieldRow("amn", "aun")}
            |) AS (field, n_agree_match, n_agree_unmatch, m, u,
            |  w_agree, w_disagree)""".stripMargin))
        .select("field", "n_match", "n_unmatch", "n_agree_match",
          "n_agree_unmatch", "m", "u", "w_agree", "w_disagree")
        .orderBy("field")
    },

    // UNSUPERVISED FELLEGI-SUNTER VIA EM (Winkler 1988 — the m/u
    // weights WITHOUT labels: q_fellegi_sunter reads truth off the
    // join key, but production linkage has no truth — EM on the
    // agreement-PATTERN histogram under conditional independence is
    // how real linkers (Splink et al.) bootstrap): the SAME blocked
    // candidate pairs and two agreement flags as q_fellegi_sunter,
    // collapsed to the ≤4-pattern (gn, ga, c) histogram — the truth
    // column is never consulted. 4 EM rounds in the q_mixture_em
    // discipline (responsibilities recomputed inside each fold term,
    // pinned init p=0.1, m=0.9, u=0.1 — engine-neutral CAST(0.1 AS
    // DOUBLE) literals), readout = prevalence + per-field m/u and the
    // log₂ match weights. Under the composed fine blocking most
    // candidates ARE matches (that is what good blocking does), so the
    // recovered prevalence is high (p̂=0.69 at sf0.01 vs true 0.97) and
    // the per-field m/u still separate — labels it never saw. Scale:
    // the erCandidates blocked join is the only corpus-sized work; EM
    // runs on 4 cells.
    "q_fs_em" -> { (s, dir) =>
      val cells = erCandidates(s, dir)
        .select(
          when(round(expr("graft_jaro_winkler(dirty_name, clean_name)"), 6)
            .cast("decimal(8,6)") >= expr("CAST(0.96 AS DECIMAL(8,6))"),
            1L).otherwise(0L).as("gn"),
          when(col("dirty_acct") === col("clean_acct"), 1L).otherwise(0L)
            .as("ga"))
        .groupBy("gn", "ga").agg(count(lit(1)).as("c"))
      val base = cells
        .agg(sort_array(collect_list(struct(col("gn"), col("ga"),
          col("c")))).as("l"), sum("c").as("nn"))
        .select(col("l"), col("nn").cast("double").as("n"),
          expr("CAST(0.1 AS DOUBLE)").as("p"),
          expr("CAST(0.9 AS DOUBLE)").as("mn"),
          expr("CAST(0.9 AS DOUBLE)").as("ma"),
          expr("CAST(0.1 AS DOUBLE)").as("un"),
          expr("CAST(0.1 AS DOUBLE)").as("ua"))
      def fold(term: String): String =
        s"aggregate(l, 0D, (a, x) -> a + ($term))"
      val g = fsEmG
      def step(d: DataFrame): DataFrame = d
        .withColumn("sp", expr(fold(s"x.c * $g")))
        .withColumn("smn", expr(fold(s"x.c * $g * x.gn")))
        .withColumn("sma", expr(fold(s"x.c * $g * x.ga")))
        .withColumn("sun", expr(fold(
          s"x.c * (CAST(1 AS DOUBLE) - $g) * x.gn")))
        .withColumn("sua", expr(fold(
          s"x.c * (CAST(1 AS DOUBLE) - $g) * x.ga")))
        .select(col("l"), col("n"),
          expr("sp / n").as("p"), expr("smn / sp").as("mn"),
          expr("sma / sp").as("ma"), expr("sun / (n - sp)").as("un"),
          expr("sua / (n - sp)").as("ua"))
      val it = (1 to 4).foldLeft(base)((d, _) => step(d))
      it.select(col("n").cast("long").as("n_pairs"),
        round(col("p"), 6).as("prevalence"),
        round(col("mn"), 6).as("m_name"),
        round(col("un"), 6).as("u_name"),
        round(col("ma"), 6).as("m_acct"),
        round(col("ua"), 6).as("u_acct"),
        // + 0.0 guard: in the degenerate all-match block census (sf0.001)
        // log2(1/1) rounds to -0.0 — normalize the sign in both engines
        expr("round(log2(mn / un), 6) + CAST(0 AS DOUBLE)").as("w_name"),
        expr("round(log2(ma / ua), 6) + CAST(0 AS DOUBLE)").as("w_acct"))
    },

    // WINNOWING FINGERPRINTS (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS local fingerprinting algorithm: in every window of w
    // consecutive k-gram hashes keep the minimum, rightmost on ties,
    // guaranteeing any match ≥ w+k−1 tokens shares a fingerprint; the
    // position-aware sibling of q_minhash_lsh's order-free sketch and
    // q_doc_fingerprint's whole-doc hash). k = 3-token shingles via
    // the shared zip_with ngram builder, w = 4; the rightmost-min
    // tie-break is ENCODED INTO ONE BIGINT — key = h·65536 +
    // (65535 − pos) — so each window's pick is a plain integer
    // array_min (no struct-accumulator fold: the DuckDB list_reduce
    // type rule), and (h, pos) decode back exactly while pos < 65536
    // (documents are ≤ a few hundred tokens; longer docs chunk first
    // — q_chunk_docs). Doc pairs then join on shared fingerprint
    // hashes with the house BucketCap=128 hot-bucket guard, resemblance
    // = |shared| / |union|. Scale: per-doc work is linear in length,
    // the pair join is banded by fingerprint (never all-pairs), and
    // the cap bounds any degenerate bucket.
    "q_winnowing" -> { (s, dir) =>
      // TWO traps fixed here (58 s -> ~4 s at sf0.1, measured). (1)
      // explode_outer, NOT explode: plain explode lets Catalyst infer
      // `isnotnull(fps) AND size(fps) > 0` (InferFiltersFromGenerate)
      // and push them through every Project — inlining the WHOLE md5
      // chain several times into one non-codegen Filter that
      // re-interprets it per row (52 of the 58 s). fps is never
      // null/empty here (≥6 tokens ⇒ ≥1 window), so _outer is
      // semantically identical and infers nothing. (2) pd feeds three
      // consumers (df rollup + both sides of the pair self-join):
      // checkpoint it once, and the capped table once.
      val pd = docsPar(s, dir)
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 6)
        .withColumn("g", expr(ngramExpr(3)))
        .withColumn("hw", expr(s"transform(g, gr -> ${hExpr("gr")})"))
        // loud overflow guard: the (h, pos) pack is only bijective while
        // pos < 65536 — a longer doc would silently decode to corrupted
        // fingerprints (h−1), so it must FAIL, not clamp; the documented
        // contract is that long docs chunk first (q_chunk_docs)
        .withColumn("keys", expr(
          "CASE WHEN size(hw) < 65536 THEN " +
            "zip_with(hw, sequence(0L, CAST(size(hw) - 1 AS BIGINT)), " +
            "(h, i) -> h * 65536L + (65535L - i)) " +
            "ELSE raise_error(concat('q_winnowing: doc ', " +
            "CAST(doc_id AS STRING), ' has ', CAST(size(hw) AS STRING), " +
            "' shingle positions (max 65535) - chunk first, " +
            "cf. q_chunk_docs')) END"))
        .withColumn("fps", expr(
          "array_distinct(transform(sequence(1, size(keys) - 3), " +
            "p -> array_min(slice(keys, p, 4)) div 65536L))"))
        .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
        .localCheckpoint(true)
      val hot = pd.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 128)
      val cp = pd.join(hot.select("fp"), "fp").localCheckpoint(true)
      val nf = cp.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      val pr = cp.as("a")
        .join(cp.as("b"), col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
      pr.join(nf.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")),
          "doc_a")
        .join(nf.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          col("nfp_a"), col("nfp_b"),
          round(expr("CAST(n_shared AS DOUBLE) / " +
            "CAST(nfp_a + nfp_b - n_shared AS DOUBLE)"), 6)
            .as("resemblance"))
        .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    },

    // LABEL-PROPAGATION COMMUNITIES (Raghavan 2007 LPA — the
    // linear-time community detector every graph pipeline runs first;
    // completes the graph bench: CC finds connectivity, k-core finds
    // density, THIS finds modules): synchronous updates, each node
    // adopts its neighbors' plurality label with the deterministic
    // (count DESC, label ASC) tie-break (async LPA is run-order
    // dependent — unverifiable), isolated nodes keep their own. Graph
    // = the vocab word graph SPARSIFIED to the top-64 co-occurrence
    // edges by (count, w1, w2) — a CAP, not a count threshold, so the
    // same structure emerges at every SF (a fixed threshold empties at
    // sf0.001 and saturates at sf1; measured: the uncapped graph is so
    // dense one label swallows all 31 nodes). 4 unrolled rounds, label
    // frame checkpointed per round (referenced 2×). Scale: one bigram
    // rollup; rounds shuffle the ≤64-edge frame only.
    "q_label_propagation" -> { (s, dir) =>
      val d = docsPar(s, dir).select(split(col("text"), " ").as("w"))
      val vocab = d.select(explode(col("w")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(32)
        .localCheckpoint(true)
      val bi = d.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "zip_with(slice(w, 1, size(w)-1), slice(w, 2, size(w)-1), " +
            "(x, y) -> struct(x as w1, y as w2))")).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .filter(col("w1") =!= col("w2"))
      val ec = bi
        .join(broadcast(vocab.select(col("w").as("w1"))), "w1")
        .join(broadcast(vocab.select(col("w").as("w2"))), "w2")
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      val etop = ec
        .withColumn("rn", row_number().over(
          Window.partitionBy(pmod(col("n"), lit(1)))
            .orderBy(col("n").desc, col("w1"), col("w2"))))
        .filter(col("rn") <= 64).select("w1", "w2")
      val und = etop
        .union(etop.select(col("w2").as("w1"), col("w1").as("w2")))
        .distinct().localCheckpoint(true)
      val lbl0 = vocab.select(col("w"), col("w").as("lbl"))
        .localCheckpoint(true)
      // r19 early-exit TRIED AND REVERTED: a per-round label-frame
      // equality check (join + isEmpty on ≤32-row ckpt frames) would let
      // a converged run skip later rounds byte-identically — but the
      // sf0.1 labels are still moving at round 4, so all 4 checks were
      // paid and zero rounds saved (measured: 36 → 50 jobs, wall 1.99 →
      // 3.31 s). Unlike the monotone k-core peel, LPA here never reaches
      // fixpoint inside its declared 4 rounds.
      val lbl = Iterate.upTo(4, lbl0) { lbl =>
        val votes = und
          .join(broadcast(lbl.select(col("w").as("w2"), col("lbl"))), "w2")
          .groupBy(col("w1").as("w"), col("lbl"))
          .agg(count(lit(1)).as("c"))
        val best = votes
          .withColumn("rn", row_number().over(
            Window.partitionBy("w")
              .orderBy(col("c").desc, col("lbl").asc)))
          .filter(col("rn") === 1).select(col("w"), col("lbl").as("nl"))
        (lbl.join(broadcast(best), Seq("w"), "left")
          .select(col("w"), coalesce(col("nl"), col("lbl")).as("lbl"))
          .localCheckpoint(true), false)
      }
      val sz = lbl.groupBy("lbl").agg(count(lit(1)).as("community_size"))
      lbl.join(broadcast(sz), "lbl")
        .select(col("w").as("word"), col("lbl").as("community"),
          col("community_size"))
        .orderBy("word")
    },

    // ROCCHIO PSEUDO-RELEVANCE FEEDBACK (Rocchio 1971 / the PRF loop
    // every classical search stack runs: retrieve → assume top-k
    // relevant → move the query toward their centroid → re-retrieve;
    // the 4th ranker beside BM25, query-likelihood and the trigram
    // family): q = the self-derived top-3-ctf terms (the house
    // convention), initial tf·idf retrieval picks the top-5 feedback
    // docs, expanded weights w_t = α·idf_t·[t∈q] + β·centroid_t with
    // the published (α=1, β=0.75, γ=0) PRF setting, top-8 expansion
    // terms under (rounded weight DESC, term ASC), rerank by
    // Σ w_t·tf·idf. Weights ROUND before the cut so the term set is
    // cross-engine stable; every per-doc/per-term float sum is the
    // array_sort(collect_list) canonical fold (collect order is
    // nondeterministic — sorting makes the IEEE tree unique). Scale:
    // ONE tokenize pass builds the checkpointed (doc, term, tf) rollup
    // from which ctf/df/idf/N all derive as exact sums; all three
    // retrieval passes are broadcast-term joins against the cached
    // tf·idf view of it (≤8 rows per doc), feedback/centroid frames are
    // ≤5 docs and their vocab.
    "q_rocchio" -> { (s, dir) =>
      // r19 (the ppjoin one-rollup discipline, guide §2.4):
      // the exploded token stream was persisted and scanned FOUR times
      // (nd, terms, the per-w countDistinct for idf, the (doc, w) tf
      // rollup — QProf: 27.9 s task time). Every one of those statistics
      // is an exact derivative of the (doc, w, tf) rollup itself: ctf =
      // Σ tf, df = row count per w (the rollup is distinct by (doc, w)),
      // nd = distinct doc_id over it. One corpus explode pass now feeds a
      // checkpointed rollup; the expensive per-w countDistinct expand is
      // gone entirely.
      val tfRaw = docsPar(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      locally {
        val nd = tfRaw.agg(countDistinct("doc_id").as("n"))
        val terms = tfRaw.groupBy("w").agg(sum("tf").as("ctf"))
          .orderBy(col("ctf").desc, col("w").asc).limit(3).select("w")
          .localCheckpoint(true)
        val idf = tfRaw.groupBy("w").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nd))
          .select(col("w"),
            expr("ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))").as("idf"))
        val tfidf = tfRaw
          .join(idf, "w")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          def fold(term: String): String =
            "round(aggregate(array_sort(collect_list(" + term +
              ")), cast(0.0 as double), (a, v) -> a + v), 6)"
          val s0 = tfidf.join(broadcast(terms), "w")
            .groupBy("doc_id")
            .agg(expr(fold("CAST(tf AS DOUBLE) * idf")).as("score0"))
          val fb = s0.orderBy(col("score0").desc, col("doc_id").asc)
            .limit(5).localCheckpoint(true)
          val cent = tfidf
            .join(broadcast(fb.select("doc_id")), "doc_id")
            .groupBy("w")
            .agg(expr("aggregate(array_sort(collect_list(" +
              "CAST(tf AS DOUBLE) * idf)), cast(0.0 as double), " +
              "(a, v) -> a + v) / 5.0D").as("cent"),
              max("idf").as("idf"))
          val top8 = cent
            .join(broadcast(terms.select(col("w"), lit(1L).as("inq"))),
              Seq("w"), "left")
            .select(col("w"),
              round(expr("CASE WHEN inq IS NOT NULL THEN idf " +
                "ELSE 0.0D END + 0.75D * cent"), 6).as("wt"))
            .orderBy(col("wt").desc, col("w").asc).limit(8)
            .localCheckpoint(true)
          val s1 = tfidf.join(broadcast(top8), "w")
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_hit"),
              expr(fold("wt * CAST(tf AS DOUBLE) * idf")).as("score1"))
          s1.join(s0, Seq("doc_id"), "left")
            .join(broadcast(fb.select(col("doc_id"), lit(1L).as("isfb"))),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("score0"), lit(0.0)).as("score_initial"),
              col("score1").as("score_rocchio"), col("n_hit"),
              col("isfb").isNotNull.as("was_feedback"))
            .orderBy(col("score_rocchio").desc, col("doc_id").asc)
            .limit(10)
            .localCheckpoint(true) // 10 rows; releases the tfidf cache
        } finally { tfidf.unpersist(); () }
      }
    })

  // ----------------------------------------------------------- oracle SQL

  /** Shared DuckDB CTE: tokenized documents. */
  private val docsW =
    "SELECT doc_id, lang, n_chars, text, string_split(text, ' ') AS w FROM documents"

  /** DuckDB dual of [[wordGraph]]: vocab(w, c) + e0(w1, w2) CTE chain
    * (same bigram extraction the q_textrank oracle uses). */
  private val wordGraphSql =
    """d AS (SELECT string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT unnest(w) AS w FROM d),
      |vocab AS (SELECT w, c FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
      |                            ORDER BY c DESC, w ASC LIMIT 32) v),
      |big AS (SELECT unnest(list_transform(range(1, len(w)),
      |                                     i -> w[i] || ' ' || w[i+1])) AS bg
      |        FROM d WHERE len(w) >= 2),
      |sp AS (SELECT string_split(bg, ' ')[1] AS w1,
      |              string_split(bg, ' ')[2] AS w2 FROM big),
      |e0 AS (SELECT DISTINCT w1, w2 FROM sp
      |       JOIN vocab v1 ON w1 = v1.w JOIN vocab v2 ON w2 = v2.w
      |       WHERE w1 <> w2)""".stripMargin

  /** q_kcore's oracle: wordGraph's CTE chain + the symmetrized edge set +
    * the same 8 peeling rounds unrolled (node set n0..n8, induced edges
    * per round), then the final induced-degree readout. Each node set is
    * `AS MATERIALIZED`: inlined, every round re-expands all earlier rounds
    * (each n$i is read twice by the next), which DuckDB cannot finish in
    * bounded memory even at sf0.001. */
  private def kcoreOracle: String = {
    val rounds = (1 to 8).map { i =>
      s"""e$i AS (
         |  SELECT u.w1, u.w2 FROM und u
         |  JOIN n${i - 1} a ON u.w1 = a.w JOIN n${i - 1} b ON u.w2 = b.w),
         |n$i AS MATERIALIZED (
         |  SELECT w1 AS w FROM e$i GROUP BY w1 HAVING COUNT(*) >= 3)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $wordGraphSql,
       |und AS (SELECT w1, w2 FROM e0
       |        UNION SELECT w2 AS w1, w1 AS w2 FROM e0),
       |n0 AS (SELECT w FROM vocab),
       |$rounds,
       |ef AS (
       |  SELECT u.w1, u.w2 FROM und u
       |  JOIN n8 a ON u.w1 = a.w JOIN n8 b ON u.w2 = b.w)
       |SELECT w1 AS w, COUNT(*) AS core_degree
       |FROM ef GROUP BY w1 ORDER BY w""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // single global rank per source — the query's salted two-phase
    // refinement must be EXACTLY this (each salt slice keeps its own k
    // smallest, so the global k are always among the survivors); the
    // uniform hashes doc_id || '_s1' — the seed=1 panel the query draws
    "q_gumbel_topk" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    greatest(1, least(10000, (n_chars * 10000) // 2000)) AS w_bp,
        |    (CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '_s1'),
        |      1, 8)) AS BIGINT) % 10000 AS DOUBLE) + CAST(1 AS DOUBLE))
        |      / CAST(10001 AS DOUBLE) AS u
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, CAST(w_bp AS BIGINT) AS w_bp,
        |    -ln(u) / (CAST(w_bp AS DOUBLE) / CAST(10000 AS DOUBLE)) AS gk
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY gk, doc_id) AS rk FROM k)
        |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id, w_bp,
        |  round(gk, 6) AS ares_key
        |FROM r WHERE rk <= 5 ORDER BY source, rank""".stripMargin,

    // same two exact count aggs, same lead lookup, same division trees
    "q_good_turing" ->
      """WITH freq AS (
        |  SELECT tok, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |coc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c
        |        FROM freq GROUP BY c),
        |tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1
        |  FROM freq),
        |led AS (
        |  SELECT c, n_c, lead(n_c, 1) OVER (ORDER BY c) AS n_next,
        |    lead(c, 1) OVER (ORDER BY c) AS c_next,
        |    row_number() OVER (ORDER BY c) AS rn
        |  FROM coc)
        |SELECT c, n_c,
        |  round(CASE WHEN c_next = c + 1 THEN
        |    CAST(c_next AS DOUBLE) * CAST(n_next AS DOUBLE)
        |    / CAST(n_c AS DOUBLE) END, 6) AS c_star,
        |  round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        |    AS p_unseen
        |FROM led CROSS JOIN tot WHERE rn <= 5 ORDER BY c""".stripMargin,

    // same (lang, token) agg, same singleton/doubleton rollup, same
    // bias-corrected f2=0 branch
    "q_chao1" ->
      """WITH ft AS (
        |  SELECT lang, tok, COUNT(*) AS c FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY lang, tok),
        |g AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS s_obs,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM ft GROUP BY lang)
        |SELECT lang, s_obs, f1, f2,
        |  round(CAST(s_obs AS DOUBLE) + CASE WHEN f2 > 0 THEN
        |    CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
        |    / (CAST(2 AS DOUBLE) * CAST(f2 AS DOUBLE))
        |    ELSE CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
        |    / CAST(2 AS DOUBLE) END, 6) AS chao1
        |FROM g ORDER BY lang""".stripMargin,

    // same Laplace unigram model, same sorted per-doc logp fold, same
    // rounded cross-entropy comparison for the keep rule
    "q_perplexity_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS v_types FROM vocab),
        |pv AS (
        |  SELECT tok, ln((CAST(c AS DOUBLE) + CAST(1 AS DOUBLE)) /
        |    (CAST(n_tokens AS DOUBLE) + CAST(v_types AS DOUBLE))) AS lp
        |  FROM vocab CROSS JOIN tot),
        |per AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
        |      list(lp ORDER BY lp)), (x, y) -> x + y) AS slp
        |  FROM toks t JOIN pv USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, n_tok,
        |  round(-slp / CAST(n_tok AS DOUBLE), 6) AS cross_entropy,
        |  round(exp(-slp / CAST(n_tok AS DOUBLE)), 6) AS ppl,
        |  round(-slp / CAST(n_tok AS DOUBLE), 6) <= 6.0 AS keep
        |FROM per ORDER BY doc_id""".stripMargin,

    // same hashed-bigram buckets, same Laplace target/raw bucket model,
    // same sorted per-doc log-ratio fold, single global rank (the
    // query's salted two-phase refinement must equal exactly this)
    "q_dsir_weights" ->
      """WITH bg AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(range(1, len(w)),
        |        i -> w[i] || ' ' || w[i+1])) AS g
        |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
        |          FROM documents) t
        |    WHERE len(w) >= 2)),
        |tots AS (
        |  SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t,
        |    CAST(COUNT(*) AS BIGINT) AS n_r FROM bg),
        |lr AS (
        |  SELECT b,
        |    ln((CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |        AS DOUBLE) + CAST(1 AS DOUBLE)) /
        |      (CAST(n_t AS DOUBLE) + CAST(1024 AS DOUBLE))) -
        |    ln((CAST(COUNT(*) AS DOUBLE) + CAST(1 AS DOUBLE)) /
        |      (CAST(n_r AS DOUBLE) + CAST(1024 AS DOUBLE))) AS lr
        |  FROM bg CROSS JOIN tots
        |  GROUP BY b, n_t, n_r),
        |per AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
        |      list(lr ORDER BY lr)), (x, y) -> x + y) AS wsum
        |  FROM bg JOIN lr USING (b) GROUP BY doc_id),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY wsum DESC, doc_id) AS rank
        |  FROM per)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id, n_bigrams,
        |  round(wsum, 6) AS dsir_logweight
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // same 3-gram shingle sets, same global rare-first (df, shingle)
    // prefix order, same integer ceil(4sz/5) prefix cut, same exact
    // length filter, same cross-multiplied 5·|∩| ≥ 4·|∪| verify
    "q_ppjoin" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tk
        |  FROM d),
        |freq AS (SELECT tk, COUNT(*) AS df FROM tok GROUP BY tk),
        |sized AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        |          FROM tok GROUP BY doc_id),
        |pfx AS (
        |  SELECT doc_id, tk, sz FROM (
        |    SELECT t.doc_id, t.tk, s.sz,
        |      row_number() OVER (PARTITION BY t.doc_id
        |        ORDER BY f.df, t.tk) AS rk
        |    FROM tok t JOIN freq f USING (tk) JOIN sized s USING (doc_id))
        |  WHERE rk <= sz - ((4 * sz + 4) // 5) + 1),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM pfx a JOIN pfx b USING (tk)
        |  WHERE a.doc_id < b.doc_id
        |    AND 5 * a.sz >= 4 * b.sz AND 5 * b.sz >= 4 * a.sz),
        |inter AS (
        |  SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS n_inter
        |  FROM cand c JOIN tok ta ON ta.doc_id = c.da
        |    JOIN tok tb ON tb.doc_id = c.db AND tb.tk = ta.tk
        |  GROUP BY 1, 2)
        |SELECT i.da AS doc_a, i.db AS doc_b, i.n_inter,
        |  sa.sz + sb.sz - i.n_inter AS n_union,
        |  round(CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter),
        |    6) AS jaccard
        |FROM inter i JOIN sized sa ON sa.doc_id = i.da
        |  JOIN sized sb ON sb.doc_id = i.db
        |WHERE i.n_inter * 5 >= (sa.sz + sb.sz - i.n_inter) * 4
        |ORDER BY 1, 2""".stripMargin,

    // same exact-integer rule boundaries (cross-multiplied ratios), same
    // declared thresholds and stopword list
    "q_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (
        |  SELECT CAST(len(w) AS BIGINT) AS n,
        |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
        |      AS BIGINT) AS chars,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS alpha,
        |    CAST(len(list_filter(w, x -> x IN ('#', '...'))) AS BIGINT)
        |      AS sym,
        |    CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and',
        |      'that','have','with'))) AS BIGINT) AS stop
        |  FROM d),
        |r AS (
        |  SELECT n >= 20 AND n <= 1000 AS r_wc,
        |    chars >= 3 * n AND chars <= 10 * n AS r_mwl,
        |    10 * sym <= n AS r_sym,
        |    10 * alpha >= 8 * n AS r_alpha,
        |    stop >= 2 AS r_stop
        |  FROM st)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN NOT r_wc THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_word_count,
        |  CAST(SUM(CASE WHEN NOT r_mwl THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_mean_word_len,
        |  CAST(SUM(CASE WHEN NOT r_sym THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_symbol_ratio,
        |  CAST(SUM(CASE WHEN NOT r_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_alpha_ratio,
        |  CAST(SUM(CASE WHEN NOT r_stop THEN 1 ELSE 0 END) AS BIGINT)
        |    AS fail_stopwords,
        |  CAST(SUM(CASE WHEN r_wc AND r_mwl AND r_sym AND r_alpha
        |    AND r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM r""".stripMargin,

    // same clamped integer counts, same rounded score tree, same band
    // boundaries on the ROUNDED score, same exact decimal mean
    "q_readability" ->
      """WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w
        |  FROM documents),
        |st AS (
        |  SELECT CAST(len(w) AS BIGINT) AS n_words,
        |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]'))
        |      AS BIGINT), 1) AS n_sents,
        |    CAST(list_aggregate(list_transform(w, x -> GREATEST(1,
        |      len(regexp_extract_all(x, '[aeiouy]+')))), 'sum')
        |      AS BIGINT) AS n_syll
        |  FROM d),
        |f AS (
        |  SELECT round(206.835::DOUBLE - 1.015::DOUBLE * n_words / n_sents
        |    - 84.6::DOUBLE * n_syll / n_words, 6) AS flesch
        |  FROM st),
        |b AS (
        |  SELECT CASE WHEN flesch >= 90.0::DOUBLE THEN 'very_easy'
        |    WHEN flesch >= 70.0::DOUBLE THEN 'easy'
        |    WHEN flesch >= 50.0::DOUBLE THEN 'medium'
        |    WHEN flesch >= 30.0::DOUBLE THEN 'hard'
        |    ELSE 'very_hard' END AS band, flesch
        |  FROM f)
        |SELECT band, COUNT(*) AS n_docs,
        |  round(CAST(SUM(CAST(flesch AS DECIMAL(18,6))) AS DOUBLE)
        |    / COUNT(*), 6) AS avg_flesch,
        |  MIN(flesch) AS min_flesch, MAX(flesch) AS max_flesch
        |FROM b GROUP BY band ORDER BY band""".stripMargin,

    // same top-64 vocab, same +1 smoothing, same per-term tree, same
    // sorted-list float fold
    "q_js_divergence" ->
      """WITH tok AS (
        |  SELECT doc_id % 2 = 0 AS ga,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vocab AS (SELECT w FROM (
        |  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        |  ORDER BY c DESC, w ASC LIMIT 64) t),
        |counts AS (
        |  SELECT w, CAST(SUM(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM tok JOIN vocab USING (w) GROUP BY w),
        |tots AS (
        |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb, COUNT(*) AS n_terms
        |  FROM counts),
        |pq AS (
        |  SELECT n_terms,
        |    (CAST(ca AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(na AS DOUBLE) + 64.0::DOUBLE) AS p,
        |    (CAST(cb AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nb AS DOUBLE) + 64.0::DOUBLE) AS q
        |  FROM counts CROSS JOIN tots),
        |terms AS (
        |  SELECT n_terms,
        |    0.5::DOUBLE * p * log2(p / (0.5::DOUBLE * (p + q))) +
        |    0.5::DOUBLE * q * log2(q / (0.5::DOUBLE * (p + q))) AS term
        |  FROM pq),
        |agg AS (
        |  SELECT MAX(n_terms) AS n_terms,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(term))),
        |      (a, x) -> a + x) AS jsd
        |  FROM terms)
        |SELECT n_terms, round(jsd, 6) AS jsd_bits,
        |  round(sqrt(jsd), 6) AS js_distance
        |FROM agg""".stripMargin,

    // same postings lists and varint gap bytes as q_postings_size, EF
    // low-bit width by exact integer bit-length (bin string), same model
    "q_elias_fano" ->
      """WITH pt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (SELECT w FROM (
        |  SELECT w, COUNT(*) AS dfc FROM pt GROUP BY w
        |  ORDER BY dfc DESC, w ASC LIMIT 16) t),
        |uni AS (SELECT MAX(doc_id) + 1 AS u FROM documents),
        |g AS (
        |  SELECT w, doc_id,
        |    doc_id - LAG(doc_id) OVER (PARTITION BY w ORDER BY doc_id)
        |      AS gp
        |  FROM pt JOIN top USING (w)),
        |vb AS (
        |  SELECT w, CASE WHEN gp IS NULL THEN doc_id ELSE gp END AS gap
        |  FROM g),
        |sz AS (
        |  SELECT w, COUNT(*) AS df,
        |    CAST(SUM(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
        |      WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
        |      ELSE 5 END) AS BIGINT) AS varint_bytes
        |  FROM vb GROUP BY w),
        |lb AS (
        |  SELECT w, df, varint_bytes, u,
        |    CAST(length(bin(u // df)) AS BIGINT) - 1 AS low_bits
        |  FROM sz CROSS JOIN uni)
        |SELECT w, df, u AS universe, low_bits,
        |  df * (low_bits + 2) AS ef_bits,
        |  varint_bytes * 8 AS varint_bits,
        |  round(CAST(varint_bytes * 8 AS DOUBLE) / (df * (low_bits + 2)),
        |    6) AS ef_gain
        |FROM lb ORDER BY w""".stripMargin,

    "q_kcore" -> kcoreOracle,

    // q_fs_em's oracle: identical blocked pairs (the shared erOracleCtes —
    // composed sorted-digit key + BucketCap) and pattern histogram
    // (DuckDB's jaro_winkler_similarity, same rounding/threshold), the
    // same 4 EM rounds with the IDENTICAL fsEmG responsibility text
    // inside each list_transform term, same pinned init.
    "q_fs_em" -> {
      def fold(term: String): String =
        "list_reduce(list_concat([0.0::DOUBLE], list_transform(l, " +
          s"x -> ($term))), (a, b) -> a + b)"
      val g = fsEmG
      val steps = (1 to 4).map { i =>
        val prev = if (i == 1) "base" else s"s${i - 1}"
        s"""s${i}a AS (
           |  SELECT l, n,
           |    ${fold(s"x.c * $g")} AS sp,
           |    ${fold(s"x.c * $g * x.gn")} AS smn,
           |    ${fold(s"x.c * $g * x.ga")} AS sma,
           |    ${fold(s"x.c * (CAST(1 AS DOUBLE) - $g) * x.gn")} AS sun,
           |    ${fold(s"x.c * (CAST(1 AS DOUBLE) - $g) * x.ga")} AS sua
           |  FROM $prev),
           |s$i AS (
           |  SELECT l, n, sp / n AS p, smn / sp AS mn, sma / sp AS ma,
           |    sun / (n - sp) AS un, sua / (n - sp) AS ua
           |  FROM s${i}a)""".stripMargin
      }.mkString(",\n")
      s"""WITH $erOracleCtes,
         |cells AS (
         |  SELECT CAST(CASE WHEN
         |      CAST(round(jaro_winkler_similarity(dirty_name,
         |        clean_name), 6) AS DECIMAL(8,6)) >=
         |      CAST(0.96 AS DECIMAL(8,6)) THEN 1 ELSE 0 END AS BIGINT)
         |      AS gn,
         |    CAST(CASE WHEN dirty_acct = clean_acct THEN 1 ELSE 0
         |      END AS BIGINT) AS ga,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM cand
         |  GROUP BY 1, 2),
         |base AS (
         |  SELECT list(struct_pack(gn := gn, ga := ga, c := c)
         |      ORDER BY gn, ga) AS l,
         |    CAST(SUM(c) AS DOUBLE) AS n,
         |    CAST(0.1 AS DOUBLE) AS p, CAST(0.9 AS DOUBLE) AS mn,
         |    CAST(0.9 AS DOUBLE) AS ma, CAST(0.1 AS DOUBLE) AS un,
         |    CAST(0.1 AS DOUBLE) AS ua
         |  FROM cells),
         |$steps
         |SELECT CAST(n AS BIGINT) AS n_pairs,
         |  round(p, 6) AS prevalence,
         |  round(mn, 6) AS m_name, round(un, 6) AS u_name,
         |  round(ma, 6) AS m_acct, round(ua, 6) AS u_acct,
         |  round(log2(mn / un), 6) + CAST(0 AS DOUBLE) AS w_name,
         |  round(log2(ma / ua), 6) + CAST(0 AS DOUBLE) AS w_acct
         |FROM s4""".stripMargin
    },

    // same blocked pairs (shared erOracleCtes — composed sorted-digit key
    // + BucketCap) + DuckDB's own jaro_winkler_similarity, same
    // Laplace-smoothed m/u and log2 weight trees over exact counts
    "q_fellegi_sunter" ->
      s"""WITH $erOracleCtes,
        |p AS (
        |  SELECT dirty_key = clean_key AS mt,
        |    CAST(round(jaro_winkler_similarity(dirty_name, clean_name),
        |      6) AS DECIMAL(8,6)) >= CAST(0.96 AS DECIMAL(8,6)) AS agn,
        |    dirty_acct = clean_acct AS aga
        |  FROM cand),
        |a AS (
        |  SELECT CAST(SUM(CASE WHEN mt THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT mt THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN mt AND agn THEN 1 ELSE 0 END) AS BIGINT)
        |      AS amn,
        |    CAST(SUM(CASE WHEN NOT mt AND agn THEN 1 ELSE 0 END)
        |      AS BIGINT) AS aun,
        |    CAST(SUM(CASE WHEN mt AND aga THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ama,
        |    CAST(SUM(CASE WHEN NOT mt AND aga THEN 1 ELSE 0 END)
        |      AS BIGINT) AS aua
        |  FROM p)
        |SELECT field, n_match, n_unmatch, n_agree_match, n_agree_unmatch,
        |  m, u, w_agree, w_disagree
        |FROM (
        |  SELECT 'acctbal_equal' AS field, nm AS n_match, nu AS n_unmatch,
        |    ama AS n_agree_match, aua AS n_agree_unmatch,
        |    round((CAST(ama AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nm AS DOUBLE) + 2.0::DOUBLE), 6) AS m,
        |    round((CAST(aua AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE), 6) AS u,
        |    round(log2(((CAST(ama AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nm AS DOUBLE) + 2.0::DOUBLE)) /
        |      ((CAST(aua AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE))), 6) AS w_agree,
        |    round(log2((1.0::DOUBLE - ((CAST(ama AS DOUBLE) + 1.0::DOUBLE)
        |      / (CAST(nm AS DOUBLE) + 2.0::DOUBLE))) /
        |      (1.0::DOUBLE - ((CAST(aua AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE)))), 6) AS w_disagree
        |  FROM a
        |  UNION ALL
        |  SELECT 'name_jw', nm, nu, amn, aun,
        |    round((CAST(amn AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nm AS DOUBLE) + 2.0::DOUBLE), 6),
        |    round((CAST(aun AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE), 6),
        |    round(log2(((CAST(amn AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nm AS DOUBLE) + 2.0::DOUBLE)) /
        |      ((CAST(aun AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE))), 6),
        |    round(log2((1.0::DOUBLE - ((CAST(amn AS DOUBLE) + 1.0::DOUBLE)
        |      / (CAST(nm AS DOUBLE) + 2.0::DOUBLE))) /
        |      (1.0::DOUBLE - ((CAST(aun AS DOUBLE) + 1.0::DOUBLE) /
        |      (CAST(nu AS DOUBLE) + 2.0::DOUBLE)))), 6)
        |  FROM a)
        |ORDER BY field""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |ORDER BY kept_doc_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH d AS (
        |  SELECT doc_id,
        |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp
        |  FROM documents)
        |SELECT i.doc_id,
        |  EXISTS (SELECT 1 FROM d h WHERE h.doc_id % 10 <> 0 AND h.fp = i.fp)
        |    AS dup
        |FROM d i WHERE i.doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_keep_best" ->
      s"""WITH d AS ($docsW),
        |r AS (
        |  SELECT md5(array_to_string(w[1:8], ' ')) AS fp, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY md5(array_to_string(w[1:8], ' '))
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM d)
        |SELECT fp, doc_id AS kept_doc_id, n_chars
        |FROM r WHERE rn = 1
        |ORDER BY kept_doc_id""".stripMargin,

    "q_dedup_fingerprint" ->
      s"""WITH d AS ($docsW)
        |SELECT md5(array_to_string(w[1:8], ' ')) AS fp,
        |       min(doc_id) AS kept_doc_id, count(*) AS n_copies
        |FROM d
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY kept_doc_id""".stripMargin,

    "q_chunk_dedup" ->
      s"""WITH d AS ($docsW),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, greatest(len(w) - 3, 1), 4)) AS start
        |  FROM d),
        |c AS (
        |  SELECT doc_id, CAST((start - 1) // 4 AS INT) AS chunk_ix,
        |    ('0x'||substr(md5(array_to_string(w[start:start+3], ' ')),1,8))::BIGINT AS h
        |  FROM st),
        |o AS (
        |  SELECT h, MIN(ROW(doc_id, chunk_ix)) AS o FROM c GROUP BY h),
        |k AS (
        |  SELECT c.doc_id,
        |    CASE WHEN ROW(c.doc_id, c.chunk_ix) = o.o THEN 1 ELSE 0 END AS kept
        |  FROM c JOIN o USING (h))
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  round(SUM(kept) * 1.0 / COUNT(*), 6) AS retained
        |FROM k GROUP BY doc_id
        |HAVING SUM(kept) < COUNT(*)
        |ORDER BY doc_id""".stripMargin,

    // same sliding-window md5 anchors (L=20), same min-(doc_id,p) owner
    // election, same sorted-start interval union per doc
    "q_exact_substring_dedup" ->
      s"""WITH d AS ($docsW),
        |st AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok, w,
        |    unnest(range(1, len(w) - 18)) AS p
        |  FROM d WHERE len(w) >= 20),
        |hw AS (
        |  SELECT doc_id, n_tok, p,
        |    md5(array_to_string(w[p:p+19], ' ')) AS wh
        |  FROM st),
        |o AS (
        |  SELECT wh, MIN(ROW(doc_id, p)) AS o FROM hw GROUP BY wh
        |  HAVING COUNT(*) > 1),
        |dup AS (
        |  SELECT hw.doc_id, hw.n_tok, hw.p
        |  FROM hw JOIN o USING (wh)
        |  WHERE NOT (ROW(hw.doc_id, hw.p) = o.o)),
        |m AS (
        |  SELECT doc_id, n_tok, p,
        |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |      OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 20
        |      THEN 1 ELSE 0 END AS ns
        |  FROM dup),
        |sp AS (
        |  SELECT doc_id, n_tok, p,
        |    SUM(ns) OVER (PARTITION BY doc_id ORDER BY p) AS span_id
        |  FROM m),
        |ag AS (
        |  SELECT doc_id, n_tok, span_id,
        |    MAX(p) - MIN(p) + 20 AS span_tokens
        |  FROM sp GROUP BY doc_id, n_tok, span_id)
        |SELECT doc_id, n_tok, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
        |  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
        |  round(CAST(1 AS DOUBLE) - SUM(span_tokens)::DOUBLE
        |    / CAST(n_tok AS DOUBLE), 6) AS retained
        |FROM ag GROUP BY doc_id, n_tok
        |ORDER BY doc_id""".stripMargin,

    "q_dup_clusters" ->
      s"""WITH RECURSIVE d AS ($docsW),
        |p0 AS (
        |  SELECT doc_id, md5(array_to_string(w[1:8], ' ')) AS fp FROM d),
        |p AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS bn FROM p0)
        |  WHERE bn <= $BucketCap),
        |e0 AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |r AS (
        |  SELECT src AS doc_id, src AS root FROM e
        |  UNION
        |  SELECT e.dst AS doc_id, r.root
        |  FROM r JOIN e ON e.src = r.doc_id)
        |SELECT doc_id, MIN(root) AS cluster_id
        |FROM r GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_minhash_lsh" ->
      s"""WITH d AS ($docsW),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS shingles
        |  FROM d WHERE len(w) >= 3),
        |xh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(shingles, s -> ('0x'||substr(md5(s),1,8))::BIGINT) AS xs
        |  FROM sh),
        |mh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(range(0,32),
        |      i -> list_min(list_transform(xs, x -> ((2*i+1)*x + 12345 + 777*i) % 4294967291))) AS mh
        |  FROM xh),
        |bands AS (
        |  SELECT doc_id, j AS band,
        |    concat_ws('-', mh[4*j+1], mh[4*j+2], mh[4*j+3], mh[4*j+4]) AS bkey
        |  FROM mh, range(0,8) t(j)),
        |bandsf AS (
        |  SELECT * FROM (
        |    SELECT doc_id, band, bkey,
        |      count(*) OVER (PARTITION BY band, bkey) AS bn
        |    FROM bands) WHERE bn <= $BucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bandsf a JOIN bandsf b
        |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b,
        |    round(len(list_intersect(x.shingles, y.shingles)) * 1.0
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
        |  FROM cand JOIN mh x ON x.doc_id = doc_a JOIN mh y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM pairs
        |WHERE jaccard >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // same signature pipeline as q_minhash_lsh, asymmetric delta→index
    // band probe, index-side BucketCap, best-match readout
    "q_minhash_incremental" ->
      s"""WITH d AS ($docsW),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS shingles
        |  FROM d WHERE len(w) >= 3),
        |xh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(shingles, s -> ('0x'||substr(md5(s),1,8))::BIGINT) AS xs
        |  FROM sh),
        |mh AS (
        |  SELECT doc_id, shingles,
        |    list_transform(range(0,32),
        |      i -> list_min(list_transform(xs, x -> ((2*i+1)*x + 12345 + 777*i) % 4294967291))) AS mh
        |  FROM xh),
        |bands AS (
        |  SELECT doc_id, j AS band,
        |    concat_ws('-', mh[4*j+1], mh[4*j+2], mh[4*j+3], mh[4*j+4]) AS bkey
        |  FROM mh, range(0,8) t(j)),
        |idx AS (
        |  SELECT * FROM (
        |    SELECT doc_id, band, bkey,
        |      count(*) OVER (PARTITION BY band, bkey) AS bn
        |    FROM bands WHERE doc_id % 10 <> 0) WHERE bn <= $BucketCap),
        |del AS (SELECT doc_id, band, bkey FROM bands WHERE doc_id % 10 = 0),
        |cand AS (
        |  SELECT DISTINCT del.doc_id AS doc_new, idx.doc_id AS doc_index
        |  FROM del JOIN idx ON del.band = idx.band AND del.bkey = idx.bkey),
        |pairs AS (
        |  SELECT doc_new, doc_index,
        |    round(len(list_intersect(x.shingles, y.shingles)) * 1.0
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
        |  FROM cand JOIN mh x ON x.doc_id = doc_new
        |  JOIN mh y ON y.doc_id = doc_index),
        |best AS (
        |  SELECT doc_new, doc_index, jaccard,
        |    row_number() OVER (PARTITION BY doc_new
        |      ORDER BY jaccard DESC, doc_index ASC) AS rn
        |  FROM pairs WHERE jaccard >= 0.8)
        |SELECT m.doc_id, b.doc_index AS matched_doc,
        |  COALESCE(b.jaccard, 0.0::DOUBLE) AS best_jaccard,
        |  b.doc_index IS NOT NULL AS is_dup
        |FROM (SELECT doc_id FROM mh WHERE doc_id % 10 = 0) m
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON m.doc_id = b.doc_new
        |ORDER BY m.doc_id""".stripMargin,

    "q_simhash" ->
      s"""WITH d AS ($docsW),
        |hh AS (
        |  SELECT doc_id,
        |    list_transform(w, wd -> ('0x'||substr(md5(wd),1,15))::BIGINT) AS hw
        |  FROM d),
        |sh AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(range(0,60),
        |      i -> CASE WHEN list_sum(list_transform(hw, h -> 2*((h >> i) & 1) - 1)) >= 0
        |                THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
        |  FROM hh),
        |blocks AS (
        |  SELECT doc_id, simhash, k AS blk, (simhash >> (15*k)) & 32767 AS code
        |  FROM sh, range(0,4) t(k)),
        |blocksf AS (
        |  SELECT * FROM (
        |    SELECT doc_id, simhash, blk, code,
        |      count(*) OVER (PARTITION BY blk, code) AS bn
        |    FROM blocks) WHERE bn <= $BucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sim_a, b.simhash AS sim_b
        |  FROM blocksf a JOIN blocksf b
        |    ON a.blk = b.blk AND a.code = b.code AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, sim_a, sim_b,
        |  CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sim_a, sim_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the aHash recomputed per byte: hex-extracted unsigned bytes, 60-way
    // block partition, exact cross-multiplied mean threshold — then the
    // same banded candidate pipeline as q_simhash with Hamming ≤ 6
    "q_image_neardup" ->
      s"""WITH du AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, replace(text, 'e', 'f')
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n
        |  FROM du WHERE octet_length(encode(text)) > 0),
        |idx AS (
        |  SELECT doc_id, n, hx, unnest(range(0, n)) AS i FROM p),
        |bytes AS (
        |  SELECT doc_id, n, ('0x'||substr(hx, 2*i+1, 2))::BIGINT AS v,
        |    (i*60)//n AS k
        |  FROM idx),
        |blocks AS (
        |  SELECT doc_id, k, SUM(v) AS bs, COUNT(*) AS bc,
        |    ANY_VALUE(n) AS n
        |  FROM bytes GROUP BY doc_id, k),
        |tot AS (SELECT doc_id, SUM(v) AS ts FROM bytes GROUP BY doc_id),
        |ph AS (
        |  SELECT b.doc_id,
        |    SUM(CASE WHEN b.bs * b.n > t.ts * b.bc
        |             THEN (1::BIGINT << b.k) ELSE 0 END)::BIGINT AS phash
        |  FROM blocks b JOIN tot t ON b.doc_id = t.doc_id
        |  GROUP BY b.doc_id),
        |bands AS (
        |  SELECT doc_id, phash, k AS blk, (phash >> (15*k)) & 32767 AS code
        |  FROM ph, range(0,4) t(k)),
        |bandsf AS (
        |  SELECT * FROM (
        |    SELECT doc_id, phash, blk, code,
        |      count(*) OVER (PARTITION BY blk, code) AS bn
        |    FROM bands) WHERE bn <= $BucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.phash AS ph_a, b.phash AS ph_b
        |  FROM bandsf a JOIN bandsf b
        |    ON a.blk = b.blk AND a.code = b.code AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, ph_a, ph_b,
        |  CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(ph_a, ph_b)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH d AS ($docsW),
        |base0 AS (
        |  SELECT doc_id,
        |    md5(array_to_string(w[1:8], ' ')) AS fp,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS sh
        |  FROM d WHERE len(w) >= 3),
        |base AS (
        |  SELECT doc_id, fp, sh FROM (
        |    SELECT doc_id, fp, sh, count(*) OVER (PARTITION BY fp) AS bn
        |    FROM base0) WHERE bn <= $BucketCap)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.sh, b.sh)) * 1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM base a JOIN base b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dataset_card" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    md5(text) AS fp
        |  FROM documents)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
        |  MIN(ntok) AS min_tokens, MAX(ntok) AS max_tokens,
        |  round(CAST(SUM(ntok) AS BIGINT) / COUNT(*), 6) AS mean_tokens
        |FROM d""".stripMargin,

    // fully unrolled 3-round batch perceptron: uN = Σ y·x over rows
    // misclassified under w(N-1); round 1 has w=0 so every row updates
    "q_classifier_train" ->
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
        |    CAST(1 AS BIGINT) AS x0,
        |    CAST(least(len(string_split(text, ' ')), 1000) AS BIGINT) AS x1,
        |    CAST(n_chars * 1000 // greatest(len(string_split(text, ' ')), 1)
        |      AS BIGINT) AS x2
        |  FROM documents),
        |w1 AS (
        |  SELECT CAST(COALESCE(SUM(y*x0),0) AS BIGINT) AS w0,
        |    CAST(COALESCE(SUM(y*x1),0) AS BIGINT) AS w1,
        |    CAST(COALESCE(SUM(y*x2),0) AS BIGINT) AS w2
        |  FROM f),
        |u2 AS (
        |  SELECT CAST(COALESCE(SUM(f.y*f.x0),0) AS BIGINT) AS d0,
        |    CAST(COALESCE(SUM(f.y*f.x1),0) AS BIGINT) AS d1,
        |    CAST(COALESCE(SUM(f.y*f.x2),0) AS BIGINT) AS d2
        |  FROM f, w1 WHERE f.y*(w1.w0*f.x0 + w1.w1*f.x1 + w1.w2*f.x2) <= 0),
        |w2_ AS (SELECT w1.w0 + u2.d0 AS w0, w1.w1 + u2.d1 AS w1,
        |        w1.w2 + u2.d2 AS w2 FROM w1, u2),
        |u3 AS (
        |  SELECT CAST(COALESCE(SUM(f.y*f.x0),0) AS BIGINT) AS d0,
        |    CAST(COALESCE(SUM(f.y*f.x1),0) AS BIGINT) AS d1,
        |    CAST(COALESCE(SUM(f.y*f.x2),0) AS BIGINT) AS d2
        |  FROM f, w2_ WHERE f.y*(w2_.w0*f.x0 + w2_.w1*f.x1 + w2_.w2*f.x2) <= 0),
        |w3 AS (SELECT w2_.w0 + u3.d0 AS w0, w2_.w1 + u3.d1 AS w1,
        |       w2_.w2 + u3.d2 AS w2 FROM w2_, u3)
        |SELECT (SELECT COUNT(*) FROM f) AS n_docs,
        |  (SELECT CAST(SUM(CASE WHEN f.y*(w3.w0*f.x0 + w3.w1*f.x1
        |     + w3.w2*f.x2) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   FROM f, w3) AS n_correct,
        |  w3.w0, w3.w1, w3.w2
        |FROM w3""".stripMargin,

    // same derivation; formula text identical to the engine's (association
    // order included), sorted-fold sum, round-6 before the rank sort
    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
        |          FROM dlen),
        |terms AS (SELECT w FROM (
        |  SELECT w, COUNT(*) AS ctf FROM tok GROUP BY w
        |  ORDER BY ctf DESC, w ASC LIMIT 3)),
        |tft AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
        |        JOIN terms USING (w) GROUP BY doc_id, w),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tft GROUP BY w),
        |contrib AS (
        |  SELECT tft.doc_id,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (total_dl / n_docs))) AS c
        |  FROM tft JOIN dfq USING (w) JOIN dlen USING (doc_id), stats),
        |g AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    round(list_reduce(list_concat([0.0::DOUBLE], list_sort(list(c))),
        |      (a, v) -> a + v), 6) AS bm25
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, n_terms, bm25 FROM g
        |ORDER BY bm25 DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    // same 3-term query derivation, same (doc × term) smoothed grid with
    // tf→0 coalescing, same μ=2000 ln tree, same sorted fold + total order
    "q_query_likelihood" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_dl FROM dlen),
        |terms AS (SELECT w, ctf FROM (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS ctf FROM tok GROUP BY w
        |  ORDER BY ctf DESC, w ASC LIMIT 3)),
        |tft AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
        |        JOIN terms USING (w) GROUP BY doc_id, w),
        |pairs AS (
        |  SELECT dlen.doc_id, dlen.dl, t.ctf, COALESCE(tft.tf, 0) AS tf
        |  FROM dlen CROSS JOIN terms t
        |  LEFT JOIN tft ON tft.doc_id = dlen.doc_id AND tft.w = t.w),
        |contrib AS (
        |  SELECT doc_id, dl, tf,
        |    ln((tf + 2000.0::DOUBLE * ctf / total_dl) / (dl + 2000.0::DOUBLE))
        |      AS c
        |  FROM pairs, stats),
        |g AS (
        |  SELECT doc_id, CAST(MIN(dl) AS BIGINT) AS dl,
        |    CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |    round(list_reduce(list_concat([0.0::DOUBLE], list_sort(list(c))),
        |      (a, v) -> a + v), 6) AS ql
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, dl, n_hit, ql FROM g
        |ORDER BY ql DESC, doc_id ASC
        |LIMIT 20""".stripMargin,

    // replays BOTH rankings (the q_bm25 CTE chain verbatim + the cosine
    // kernel vs vec 0) and the 1/(60+rank) fusion; full outer keeps docs
    // present in only one list
    "q_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
        |          FROM dlen),
        |terms AS (SELECT w FROM (
        |  SELECT w, COUNT(*) AS ctf FROM tok GROUP BY w
        |  ORDER BY ctf DESC, w ASC LIMIT 3)),
        |tft AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
        |        JOIN terms USING (w) GROUP BY doc_id, w),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tft GROUP BY w),
        |contrib AS (
        |  SELECT tft.doc_id,
        |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
        |      / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (total_dl / n_docs))) AS c
        |  FROM tft JOIN dfq USING (w) JOIN dlen USING (doc_id), stats),
        |g AS (
        |  SELECT doc_id,
        |    round(list_reduce(list_concat([0.0::DOUBLE], list_sort(list(c))),
        |      (a, v) -> a + v), 6) AS bm25
        |  FROM contrib GROUP BY doc_id),
        |bmtop AS (SELECT doc_id, bm25 FROM g
        |          ORDER BY bm25 DESC, doc_id ASC LIMIT 20),
        |bm AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm
        |  FROM bmtop),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
        |      AS nrm
        |  FROM embeddings),
        |anntop AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_sum(list_transform(range(1, len(q.v) + 1),
        |      i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm) AS cos
        |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
        |  ORDER BY cos DESC, c.vec_id ASC LIMIT 20),
        |ann AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_ann
        |  FROM anntop),
        |f AS (
        |  SELECT doc_id, bm.r_bm, ann.r_ann,
        |    round(COALESCE(1.0::DOUBLE / (60 + bm.r_bm), 0) +
        |          COALESCE(1.0::DOUBLE / (60 + ann.r_ann), 0), 6) AS rrf
        |  FROM bm FULL OUTER JOIN ann USING (doc_id))
        |SELECT row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rrf_rank,
        |  doc_id, r_bm, r_ann, rrf
        |FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,

    // same self-deriving top-3 terms, then docs matching all three
    "q_boolean_search" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents),
        |terms AS (
        |  SELECT w FROM (
        |    SELECT w, COUNT(*) AS tf FROM tok GROUP BY w
        |    ORDER BY tf DESC, w ASC LIMIT 3)),
        |m AS (
        |  SELECT t.doc_id, COUNT(DISTINCT t.w) AS matched, COUNT(*) AS n_hits
        |  FROM tok t JOIN terms USING (w)
        |  GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits
        |FROM m WHERE matched = 3
        |ORDER BY doc_id""".stripMargin,

    // same self-deriving top bigram; the naive per-doc bigram count equals
    // the engine's positional-postings adjacency join by construction
    "q_phrase_search" ->
      s"""WITH d AS ($docsW),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM d),
        |top AS (
        |  SELECT g FROM (
        |    SELECT g, COUNT(*) AS c FROM bg GROUP BY g
        |    ORDER BY c DESC, g ASC LIMIT 1)),
        |m AS (
        |  SELECT doc_id, COUNT(*) AS n_occ
        |  FROM bg JOIN top USING (g) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ,
        |  (SELECT g FROM top) AS phrase
        |FROM m ORDER BY doc_id""".stripMargin,

    // same self-deriving top-2 terms; positions via generate_subscripts
    // (1-based vs Spark's 0-based posexplode — only gaps matter)
    "q_proximity_search" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |posts AS (
        |  SELECT doc_id, unnest(w) AS tok,
        |    generate_subscripts(w, 1) AS pos
        |  FROM d),
        |dict AS (SELECT tok, COUNT(*) AS tf FROM posts GROUP BY tok),
        |t1 AS (SELECT tok FROM dict ORDER BY tf DESC, tok ASC LIMIT 1),
        |t2 AS (SELECT tok FROM dict ORDER BY tf DESC, tok ASC
        |       LIMIT 1 OFFSET 1),
        |a AS (SELECT doc_id, pos FROM posts JOIN t1 USING (tok)),
        |b AS (SELECT doc_id, pos FROM posts JOIN t2 USING (tok)),
        |m AS (
        |  SELECT a.doc_id, COUNT(*) AS n_pairs,
        |    MIN(abs(b.pos - a.pos)) AS min_gap
        |  FROM a JOIN b ON a.doc_id = b.doc_id AND abs(b.pos - a.pos) <= 4
        |  GROUP BY a.doc_id)
        |SELECT doc_id, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(min_gap AS BIGINT) AS min_gap
        |FROM m ORDER BY doc_id""".stripMargin,

    // same self-deriving 3-char prefix over the term dictionary
    "q_prefix_search" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |dict AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
        |p AS (
        |  SELECT substr(tok, 1, 3) AS pre FROM (
        |    SELECT tok, tf FROM dict WHERE length(tok) >= 3
        |    ORDER BY tf DESC, tok ASC LIMIT 1)),
        |terms AS (SELECT tok FROM dict, p WHERE starts_with(tok, pre)),
        |m AS (
        |  SELECT t.doc_id, COUNT(*) AS n_hits,
        |    COUNT(DISTINCT t.tok) AS n_terms
        |  FROM tok t JOIN terms USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_terms AS BIGINT) AS n_terms,
        |  (SELECT pre FROM p) AS prefix
        |FROM m ORDER BY doc_id""".stripMargin,

    // DIFFERENTIAL oracle on purpose: a direct levenshtein<=1 scan of the
    // whole dictionary — the naive O(|dict|) evaluation the engine's
    // SymSpell deletion index must equal exactly (1-deletion neighborhoods
    // cover all distance-<=1 pairs, and the engine exact-verifies the
    // survivors, so candidate!=match differences cannot leak through)
    "q_fuzzy_search" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |dict AS (SELECT tok, COUNT(*) AS tf FROM tok GROUP BY tok),
        |q AS (
        |  SELECT substr(tok, 1, length(tok) - 1) AS q FROM (
        |    SELECT tok, tf FROM dict WHERE length(tok) >= 4
        |    ORDER BY tf DESC, tok ASC LIMIT 1)),
        |cand AS (SELECT d.tok FROM dict d, q WHERE levenshtein(d.tok, q.q) <= 1),
        |m AS (
        |  SELECT t.doc_id, COUNT(*) AS n_hits,
        |    COUNT(DISTINCT t.tok) AS n_terms
        |  FROM tok t JOIN cand USING (tok) GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_terms AS BIGINT) AS n_terms,
        |  (SELECT q FROM q) AS "query"
        |FROM m ORDER BY doc_id""".stripMargin,

    // same postings min + 1-based window slice; generate_subscripts is
    // 1-based so first_pos converts by −1 before the shared bounds
    "q_kwic_snippet" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |posts AS (SELECT doc_id, unnest(w) AS tok,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |t1 AS (SELECT tok FROM (
        |  SELECT tok, COUNT(*) AS tf FROM posts GROUP BY tok
        |  ORDER BY tf DESC, tok ASC LIMIT 1)),
        |hits AS (SELECT p.doc_id,
        |    CAST(MIN(p.pos) - 1 AS BIGINT) AS first_pos,
        |    COUNT(*) AS n_occ
        |  FROM posts p JOIN t1 USING (tok) GROUP BY p.doc_id)
        |SELECT h.doc_id, h.first_pos, h.n_occ,
        |  array_to_string(
        |    d.w[(greatest(h.first_pos - 2, 0) + 1):(h.first_pos + 3)], ' ')
        |    AS snippet,
        |  (SELECT tok FROM t1) AS term
        |FROM hits h JOIN d USING (doc_id)
        |ORDER BY h.doc_id""".stripMargin,

    // DIFFERENTIAL oracle: a direct contains() grep of every doc — the
    // naive full-text scan the engine's trigram index must equal exactly
    // (trigram AND-intersection is a complete candidate set; contains()
    // verify removes the false positives)
    "q_trigram_search" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |tt AS (SELECT unnest(string_split(text, ' ')) AS tok FROM d),
        |q AS (SELECT substr(tok, 2, 4) AS q FROM (
        |  SELECT tok, COUNT(*) AS tf FROM tt WHERE length(tok) >= 6
        |  GROUP BY tok ORDER BY tf DESC, tok ASC LIMIT 1))
        |SELECT d.doc_id,
        |  CAST((length(d.text) - length(replace(d.text, q.q, '')))
        |    / length(q.q) AS BIGINT) AS n_occ,
        |  q.q AS "query"
        |FROM d, q WHERE contains(d.text, q.q)
        |ORDER BY d.doc_id""".stripMargin,

    // DIFFERENTIAL oracle: the same self-derived regex run directly over
    // every doc — what the trigram-prefiltered rlike must equal exactly
    "q_regex_search" ->
      """WITH tt AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |term AS (
        |  SELECT tok FROM tt WHERE regexp_matches(tok, '^[a-z]{8,}$')
        |  GROUP BY tok ORDER BY COUNT(*) DESC, tok ASC LIMIT 1),
        |pat AS (SELECT substr(tok, 1, 4) || '[^ ]*' ||
        |               substr(tok, length(tok) - 3, 4) AS p FROM term)
        |SELECT d.doc_id,
        |  regexp_extract(d.text, (SELECT p FROM pat)) AS hit,
        |  (SELECT p FROM pat) AS pattern
        |FROM documents d
        |WHERE regexp_matches(d.text, (SELECT p FROM pat))
        |ORDER BY d.doc_id""".stripMargin,

    // identical inverted-index pair counting; the capped postings make the
    // per-pair COUNT(*) equal Spark's by construction
    "q_containment" ->
      s"""WITH d AS ($docsW),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS sh
        |  FROM d WHERE len(w) >= 3),
        |inv AS (SELECT doc_id, len(sh) AS n, UNNEST(sh) AS g FROM s),
        |cap AS (
        |  SELECT doc_id, n, g FROM (
        |    SELECT *, COUNT(*) OVER (PARTITION BY g) AS bn FROM inv)
        |  WHERE bn <= $BucketCap),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
        |    COUNT(*) AS n_shared
        |  FROM cap a JOIN cap b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  round(n_shared * 1.0 / least(n_a, n_b), 6) AS containment
        |FROM p
        |WHERE round(n_shared * 1.0 / least(n_a, n_b), 6) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_edit_distance" ->
      s"""WITH d AS ($docsW),
        |base0 AS (
        |  SELECT doc_id, text, md5(array_to_string(w[1:8], ' ')) AS fp FROM d),
        |base AS (
        |  SELECT doc_id, text, fp FROM (
        |    SELECT doc_id, text, fp, count(*) OVER (PARTITION BY fp) AS bn
        |    FROM base0) WHERE bn <= $BucketCap)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
        |  round(1.0 - levenshtein(a.text, b.text) * 1.0
        |    / greatest(length(a.text), length(b.text)), 6) AS sim
        |FROM base a JOIN base b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_scalar_array" ->
      s"""WITH d AS ($docsW)
        |SELECT doc_id,
        |  CAST(len(w) AS INT) AS n_tok,
        |  array_to_string(list_sort(list_distinct(w[1:5])), ' ') AS first5_sorted,
        |  list_contains(w, 'the') AS has_the,
        |  CAST(COALESCE(list_position(w, 'fast'), 0) AS BIGINT) AS fast_pos,
        |  w[1] AS first_tok,
        |  w[-1] AS last_tok
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_source_cap" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN n_chars END) AS BIGINT) AS chars_kept
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "q_stratified_sample" ->
      """WITH d AS (
        |  SELECT lang, text,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS h,
        |    CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 25 ELSE 50 END AS rate
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_sampled,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens_sampled
        |FROM d WHERE h < rate
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_repetition_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(w, wd -> ('0x'||substr(md5(wd),1,8))::BIGINT) AS hw
        |  FROM d WHERE len(w) >= 3),
        |t AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(hw) - 2),
        |      i -> ((hw[i+1] * 1000003 + hw[i+2]) % 2147483647) * 1000003
        |        + hw[i+3]) AS tg
        |  FROM h)
        |SELECT doc_id, CAST(len(tg) AS INT) AS n_tri,
        |  CAST(len(list_distinct(tg)) AS INT) AS n_uniq,
        |  round(len(list_distinct(tg)) * 1.0 / len(tg), 6) AS uniq_ratio
        |FROM t WHERE round(len(list_distinct(tg)) * 1.0 / len(tg), 6) < 0.99
        |ORDER BY doc_id""".stripMargin,

    // Same 8-term rolling-hash fold, 1-based list indexing (i from range(0,·)).
    "q_substring_dedup" -> {
      val sh = (2 to 8).foldLeft("hw[i+1]") { (acc, k) =>
        s"($acc * 1000003 + hw[i+$k]) % 2147483647"
      }
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(w, wd -> ('0x'||substr(md5(wd),1,8))::BIGINT) AS hw
        |  FROM d WHERE len(w) >= 8),
        |sp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(hw) - 7), i -> $sh)) AS h
        |  FROM h),
        |pd AS (SELECT doc_id, h, COUNT(*) AS c FROM sp GROUP BY 1, 2),
        |g AS (SELECT h, MIN(doc_id) AS keeper FROM pd GROUP BY h)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN doc_id > keeper THEN c ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  round(SUM(CASE WHEN doc_id > keeper THEN c ELSE 0 END) * 1.0
        |    / SUM(c), 6) AS dup_ratio
        |FROM pd JOIN g USING (h)
        |GROUP BY doc_id
        |HAVING SUM(CASE WHEN doc_id > keeper THEN c ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin
    },

    "q_token_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (
        |  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(list_sort(list(c)), x -> x * log2(x))),
        |      (acc, v) -> acc + v) AS slog
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(log2(n_tokens) - slog / n_tokens, 6) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0
        |            THEN ' contact agent007@example.com now' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |            THEN ' call 555-867-5309' ELSE '' END AS aug
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT) AS n_emails,
        |    CAST(len(regexp_extract_all(aug, '\d{3}-\d{3}-\d{4}')) AS INT) AS n_phones,
        |    regexp_replace(
        |      regexp_replace(aug, '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
        |      '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g') AS clean
        |  FROM d)
        |SELECT doc_id, n_emails, n_phones, CAST(length(clean) AS INT) AS clean_len
        |FROM c WHERE n_emails + n_phones > 0
        |ORDER BY doc_id""".stripMargin,

    // three unrolled BPE rounds: identical pair extraction, identical
    // argmax tie-break, identical left-to-right replace()
    "q_bpe_merges" ->
      """WITH w0 AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(text, ' +')) AS word
        |    FROM documents) t
        |  WHERE length(word) >= 2 GROUP BY 1),
        |top AS (
        |  SELECT word, wc FROM (
        |    SELECT word, wc,
        |      row_number() OVER (ORDER BY wc DESC, word ASC) AS rn
        |    FROM w0) z WHERE rn <= 200),
        |s0 AS (
        |  SELECT wc,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
        |  FROM top),
        |p1 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s0) q)
        |  GROUP BY 1),
        |b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s1 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b1) || ' ',
        |    ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS syms
        |  FROM s0),
        |p2 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s1) q)
        |  GROUP BY 1),
        |b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s2 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b2) || ' ',
        |    ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS syms
        |  FROM s1),
        |p3 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s2) q)
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT 1 AS round,
        |    row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank,
        |    pair, cnt FROM p1
        |  UNION ALL
        |  SELECT 2, row_number() OVER (ORDER BY cnt DESC, pair ASC),
        |    pair, cnt FROM p2
        |  UNION ALL
        |  SELECT 3, row_number() OVER (ORDER BY cnt DESC, pair ASC),
        |    pair, cnt FROM p3)
        |SELECT round, CAST(rank AS INT) AS rank, pair, cnt
        |FROM ranked WHERE rank <= 15
        |ORDER BY round, rank""".stripMargin,

    // training unrolled exactly as q_bpe_merges (b1/b2/b3 are the chosen
    // merges), then the corpus encodes with three sequential replace()s —
    // replace() resumes after each replacement, matching regexp_replace
    "q_bpe_encode" ->
      """WITH w0 AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(text, ' +')) AS word
        |    FROM documents) t
        |  WHERE length(word) >= 2 GROUP BY 1),
        |top AS (
        |  SELECT word, wc FROM (
        |    SELECT word, wc,
        |      row_number() OVER (ORDER BY wc DESC, word ASC) AS rn
        |    FROM w0) z WHERE rn <= 200),
        |s0 AS (
        |  SELECT wc,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
        |  FROM top),
        |p1 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s0) q)
        |  GROUP BY 1),
        |b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s1 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b1) || ' ',
        |    ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS syms
        |  FROM s0),
        |p2 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s1) q)
        |  GROUP BY 1),
        |b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s2 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b2) || ' ',
        |    ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS syms
        |  FROM s1),
        |p3 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s2) q)
        |  GROUP BY 1),
        |b3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |dw AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, ' +')) AS word
        |    FROM documents) t
        |  WHERE length(word) >= 1),
        |e0 AS (
        |  SELECT doc_id, length(word) AS wlen,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
        |  FROM dw),
        |e1 AS (
        |  SELECT doc_id, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b1) || ' ',
        |    ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS syms
        |  FROM e0),
        |e2 AS (
        |  SELECT doc_id, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b2) || ' ',
        |    ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS syms
        |  FROM e1),
        |e3 AS (
        |  SELECT doc_id, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b3) || ' ',
        |    ' ' || replace((SELECT pair FROM b3), ' ', '') || ' ') AS syms
        |  FROM e2)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(len(string_split(trim(syms), ' '))) AS BIGINT)
        |    AS n_bpe_tokens,
        |  CAST(SUM(wlen) AS BIGINT) AS n_chars,
        |  round(SUM(len(string_split(trim(syms), ' '))) * 1.0 / COUNT(*), 6)
        |    AS fertility
        |FROM e3 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same re-derived 3-merge training (the q_bpe_encode CTE prefix), same
    // per-lang encode + rollup, same rounded-fertility parity ratio
    "q_tokenizer_parity" ->
      """WITH w0 AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split_regex(text, ' +')) AS word
        |    FROM documents) t
        |  WHERE length(word) >= 2 GROUP BY 1),
        |top AS (
        |  SELECT word, wc FROM (
        |    SELECT word, wc,
        |      row_number() OVER (ORDER BY wc DESC, word ASC) AS rn
        |    FROM w0) z WHERE rn <= 200),
        |s0 AS (
        |  SELECT wc,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
        |  FROM top),
        |p1 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s0) q)
        |  GROUP BY 1),
        |b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s1 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b1) || ' ',
        |    ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS syms
        |  FROM s0),
        |p2 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s1) q)
        |  GROUP BY 1),
        |b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |s2 AS (
        |  SELECT wc, replace(syms,
        |    ' ' || (SELECT pair FROM b2) || ' ',
        |    ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS syms
        |  FROM s1),
        |p3 AS (
        |  SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        |    SELECT wc, unnest(list_transform(range(1, len(l)),
        |      i -> l[i] || ' ' || l[i+1])) AS pair
        |    FROM (SELECT wc, string_split(trim(syms), ' ') AS l FROM s2) q)
        |  GROUP BY 1),
        |b3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair ASC LIMIT 1),
        |dw AS (
        |  SELECT lang, word FROM (
        |    SELECT lang, unnest(string_split_regex(text, ' +')) AS word
        |    FROM documents) t
        |  WHERE length(word) >= 1),
        |e0 AS (
        |  SELECT lang, length(word) AS wlen,
        |    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS syms
        |  FROM dw),
        |e1 AS (
        |  SELECT lang, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b1) || ' ',
        |    ' ' || replace((SELECT pair FROM b1), ' ', '') || ' ') AS syms
        |  FROM e0),
        |e2 AS (
        |  SELECT lang, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b2) || ' ',
        |    ' ' || replace((SELECT pair FROM b2), ' ', '') || ' ') AS syms
        |  FROM e1),
        |e3 AS (
        |  SELECT lang, wlen, replace(syms,
        |    ' ' || (SELECT pair FROM b3) || ' ',
        |    ' ' || replace((SELECT pair FROM b3), ' ', '') || ' ') AS syms
        |  FROM e2),
        |per AS (
        |  SELECT lang,
        |    CAST(COUNT(*) AS BIGINT) AS n_words,
        |    CAST(SUM(len(string_split(trim(syms), ' '))) AS BIGINT)
        |      AS n_tokens,
        |    CAST(SUM(wlen) AS BIGINT) AS n_chars
        |  FROM e3 GROUP BY lang),
        |pf AS (
        |  SELECT lang, n_words, n_tokens,
        |    round(n_tokens * 1.0 / n_words, 6) AS fertility,
        |    round(n_chars * 1.0 / n_tokens, 6) AS chars_per_token
        |  FROM per),
        |en AS (SELECT fertility AS f_en FROM pf WHERE lang = 'en')
        |SELECT lang, n_words, n_tokens, fertility, chars_per_token,
        |  round(fertility / f_en, 6) AS parity
        |FROM pf, en ORDER BY lang""".stripMargin,

    // unrolled 2-round hard-EM: same vocab derivation, same per-myriad
    // integer likelihoods (floor 1), same 8-factor-padded HUGEINT product
    // scores over the exhaustive bitmask segmentation lattice, same
    // (score DESC, mask ASC) argmax — the map lookup is the oracle's
    // stand-in for the engine's driver-scalar CASE literals
    "q_unigram_tokenizer" ->
      """WITH wt AS (
        |  SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) BETWEEN 2 AND 8
        |  GROUP BY word ORDER BY wc DESC, word ASC LIMIT 200),
        |subs AS (
        |  SELECT unnest(flatten(list_transform(range(1, length(word) + 1),
        |      a -> list_transform(range(1, least(4, length(word) - a + 1) + 1),
        |        l -> substr(word, a, l))))) AS piece, wc
        |  FROM wt),
        |chars AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM subs
        |          WHERE length(piece) = 1 GROUP BY piece),
        |multi AS (SELECT piece, cnt FROM (
        |  SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM subs
        |  WHERE length(piece) >= 2 GROUP BY piece
        |  ORDER BY cnt DESC, piece ASC LIMIT 25)),
        |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
        |t1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM vocab),
        |v1 AS (SELECT piece,
        |    GREATEST(1, (cnt * 10000) // (SELECT t FROM t1)) AS q FROM vocab),
        |m1 AS (SELECT map(list(piece ORDER BY piece),
        |                  list(q ORDER BY piece)) AS qm FROM v1),
        |masks1 AS (
        |  SELECT word, wc,
        |    unnest(range(0, (1 << (length(word) - 1)))) AS m FROM wt),
        |st1 AS (
        |  SELECT word, wc, m,
        |    list_concat([1], list_filter(range(2, length(word) + 1),
        |      p -> ((m >> (p - 2)) & 1) = 1)) AS starts
        |  FROM masks1),
        |pc1 AS (
        |  SELECT word, wc, m,
        |    list_transform(range(1, len(starts) + 1),
        |      i -> substr(word, starts[i],
        |        (CASE WHEN i < len(starts) THEN starts[i + 1]
        |              ELSE length(word) + 1 END) - starts[i])) AS pieces
        |  FROM st1),
        |sc1 AS (
        |  SELECT word, wc, m, pieces,
        |    list_reduce(list_concat([1::HUGEINT],
        |      list_transform(range(1, 9), i -> CASE WHEN i <= len(pieces)
        |        THEN COALESCE(qm[pieces[i]][1], 0) ELSE 10000 END)),
        |      (acc, q) -> acc * q) AS score
        |  FROM pc1, m1),
        |best1 AS (
        |  SELECT word, wc, pieces FROM sc1
        |  QUALIFY row_number() OVER (PARTITION BY word
        |    ORDER BY score DESC, m ASC) = 1),
        |u1 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS used FROM (
        |    SELECT wc, unnest(pieces) AS piece FROM best1) GROUP BY piece),
        |t2 AS (SELECT CAST(SUM(used) AS BIGINT) AS t FROM u1),
        |v2 AS (SELECT v.piece,
        |    GREATEST(1, (COALESCE(u.used, 0) * 10000) // (SELECT t FROM t2))
        |      AS q
        |  FROM vocab v LEFT JOIN u1 u USING (piece)),
        |m2 AS (SELECT map(list(piece ORDER BY piece),
        |                  list(q ORDER BY piece)) AS qm FROM v2),
        |sc2 AS (
        |  SELECT word, wc, m, pieces,
        |    list_reduce(list_concat([1::HUGEINT],
        |      list_transform(range(1, 9), i -> CASE WHEN i <= len(pieces)
        |        THEN COALESCE(qm[pieces[i]][1], 0) ELSE 10000 END)),
        |      (acc, q) -> acc * q) AS score
        |  FROM pc1, m2),
        |best2 AS (
        |  SELECT word, wc, pieces FROM sc2
        |  QUALIFY row_number() OVER (PARTITION BY word
        |    ORDER BY score DESC, m ASC) = 1),
        |u2 AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS used FROM (
        |    SELECT wc, unnest(pieces) AS piece FROM best2) GROUP BY piece)
        |SELECT v2.piece, COALESCE(u2.used, 0) AS used, v2.q AS q
        |FROM v2 LEFT JOIN u2 USING (piece)
        |ORDER BY used DESC, piece ASC""".stripMargin,

    // same gate order, same exact z-DAG (::DOUBLE'd literals), same
    // first-kill attribution — stages sum to the corpus by construction
    "q_filter_funnel" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp
        |  FROM documents),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM d),
        |langs AS (SELECT lang FROM (
        |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
        |  ORDER BY n DESC, lang ASC LIMIT 3)),
        |f AS (
        |  SELECT doc_id, lang, n_tok, keeper,
        |    len(list_distinct(w)) * 1.0::DOUBLE / len(w) AS uniq_ratio,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0::DOUBLE / len(w)
        |      AS stop_ratio,
        |    list_sum(list_transform(w, x -> length(x))) * 1.0::DOUBLE / len(w)
        |      AS avg_len
        |  FROM k),
        |z AS (
        |  SELECT doc_id, lang, n_tok, keeper,
        |    -1.5::DOUBLE + 2.5::DOUBLE * uniq_ratio + 4.0::DOUBLE * stop_ratio
        |      + 0.02::DOUBLE * n_tok - 0.3::DOUBLE * avg_len AS zv
        |  FROM f),
        |st AS (
        |  SELECT CASE
        |    WHEN doc_id <> keeper THEN '1_fingerprint_dup'
        |    WHEN lang NOT IN (SELECT lang FROM langs) THEN '2_lang'
        |    WHEN n_tok < 40 OR n_tok > 10000 THEN '3_length'
        |    WHEN NOT (zv > 0) THEN '4_quality'
        |    ELSE '5_kept' END AS stage, n_tok
        |  FROM z)
        |SELECT stage, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    // identical 32-bucket signed hashing: bucket = h mod 32, sign = bit 5
    "q_feature_hashing" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    ('0x'||substr(md5(tok),1,8))::BIGINT % 32 AS b,
        |    CASE WHEN (('0x'||substr(md5(tok),1,8))::BIGINT // 32) % 2 = 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM tok),
        |v AS (SELECT doc_id, b, CAST(SUM(sgn) AS BIGINT) AS w
        |  FROM h GROUP BY 1, 2 HAVING SUM(sgn) <> 0)
        |SELECT doc_id, COUNT(*) AS nnz,
        |  CAST(SUM(abs(w)) AS BIGINT) AS l1,
        |  CAST(SUM((b + 1) * w) AS BIGINT) AS checksum
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical d=4 × w=512 grid from the same salted 32-bit md5 hash;
    // estimate = MIN over the probe token's 4 counters
    "q_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |ty AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
        |cms AS (SELECT t.r,
        |    ('0x'||substr(md5(CAST(t.r AS VARCHAR) || ' ' || tok), 1, 8))::BIGINT
        |      % 512 AS b,
        |    CAST(SUM(c) AS BIGINT) AS cnt
        |  FROM ty, range(0, 4) t(r) GROUP BY 1, 2),
        |top AS (SELECT tok, c,
        |    row_number() OVER (ORDER BY c DESC, tok ASC) AS rank
        |  FROM (SELECT tok, c FROM ty ORDER BY c DESC, tok ASC LIMIT 10)),
        |pr AS (SELECT top.rank, top.tok, top.c, t.r,
        |    ('0x'||substr(md5(CAST(t.r AS VARCHAR) || ' ' || top.tok), 1, 8))::BIGINT
        |      % 512 AS b
        |  FROM top, range(0, 4) t(r)),
        |est AS (SELECT pr.rank, pr.tok, pr.c,
        |    CAST(MIN(cms.cnt) AS BIGINT) AS cm_est
        |  FROM pr JOIN cms ON cms.r = pr.r AND cms.b = pr.b
        |  GROUP BY 1, 2, 3)
        |SELECT rank, tok AS token, c AS exact, cm_est,
        |  cm_est >= c AS overestimate,
        |  round((cm_est - c) / c, 6) AS rel_err
        |FROM est ORDER BY rank""".stripMargin,

    "q_vocab_build" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |r AS (
        |  SELECT w, c,
        |    row_number() OVER (ORDER BY c DESC, w ASC) AS rank,
        |    SUM(c) OVER (ORDER BY c DESC, w ASC ROWS UNBOUNDED PRECEDING)
        |      AS cum,
        |    SUM(c) OVER () AS total
        |  FROM t)
        |SELECT CAST(rank AS INT) AS rank, w AS token, c AS n_occ,
        |  round(cum * 1.0 / total, 6) AS coverage
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "q_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ('0x'||substr(md5(g),1,8))::BIGINT AS sh
        |  FROM (SELECT doc_id, unnest(list_transform(range(0, len(w) - 4),
        |      i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5])) AS g
        |    FROM d WHERE len(w) >= 5)),
        |b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
        |  round(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) * 1.0
        |    / COUNT(*), 6) AS overlap
        |FROM sh s LEFT JOIN b ON s.sh = b.sh
        |WHERE s.doc_id % 50 <> 0
        |GROUP BY s.doc_id
        |HAVING SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) > 0
        |ORDER BY s.doc_id""".stripMargin,

    // same exact token rollup, same exp(α·ln p) tree (no pow drift),
    // same source-sorted normalizer fold
    "q_temperature_mix" ->
      """WITH st AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |one AS (
        |  SELECT CAST(SUM(tokens) AS BIGINT) AS tot,
        |    list(struct_pack(source := source, tokens := tokens,
        |      n_docs := n_docs) ORDER BY source) AS l
        |  FROM st),
        |o2 AS (
        |  SELECT tot, l,
        |    list_reduce(list_concat([0.0::DOUBLE], list_transform(l,
        |      p -> exp(0.3::DOUBLE * ln(CAST(p.tokens AS DOUBLE) / tot)))),
        |      (a, b) -> a + b) AS z
        |  FROM one),
        |o3 AS (SELECT tot, z, unnest(l, recursive := true) FROM o2)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tokens,
        |  round(CAST(tokens AS DOUBLE) / tot, 6) AS share,
        |  round(exp(0.3::DOUBLE * ln(CAST(tokens AS DOUBLE) / tot)) / z, 6)
        |    AS weight,
        |  round(exp(0.3::DOUBLE * ln(CAST(tokens AS DOUBLE) / tot)) / z /
        |    (CAST(tokens AS DOUBLE) / tot), 6) AS epochs
        |FROM o3 ORDER BY source""".stripMargin,

    "q_data_mixture" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE CAST(substr(source, 4) AS INT) % 3
        |      WHEN 0 THEN 'web' WHEN 1 THEN 'books' ELSE 'wiki' END AS domain,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |t AS (
        |  SELECT domain, CAST(SUM(tok) AS BIGINT) AS dom_tokens
        |  FROM d GROUP BY domain),
        |r AS (
        |  SELECT domain, dom_tokens,
        |    CAST(SUM(dom_tokens) OVER () AS BIGINT) AS total_tokens,
        |    CASE domain WHEN 'web' THEN 50 WHEN 'books' THEN 30 ELSE 20 END
        |      AS share_pct
        |  FROM t),
        |r2 AS (
        |  SELECT domain, CAST(least(10000,
        |    ((((total_tokens * 2) // 5) * share_pct) // 100) * 10000
        |      // dom_tokens) AS BIGINT) AS rate_bp
        |  FROM r)
        |SELECT d.domain, CAST(MAX(r2.rate_bp) AS BIGINT) AS rate_bp,
        |  COUNT(*) AS n_kept, CAST(SUM(d.tok) AS BIGINT) AS tokens_kept
        |FROM d JOIN r2 USING (domain)
        |WHERE ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,8))::BIGINT
        |  % 10000 < r2.rate_bp
        |GROUP BY d.domain ORDER BY d.domain""".stripMargin,

    // same class rollup, same exact-ratio A inside the shared ln tree,
    // same rounded-score top-5 cut
    "q_ctfidf" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |ct AS (SELECT source, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |tot AS (SELECT w, COUNT(*) AS tf_total FROM tok GROUP BY 1),
        |sz AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS class_tokens
        |  FROM ct GROUP BY source),
        |aa AS (SELECT CAST(SUM(class_tokens) AS BIGINT) AS t_all,
        |  COUNT(*) AS n_classes FROM sz),
        |sc AS (
        |  SELECT ct.source, ct.w, ct.tf,
        |    round(ct.tf * ln(1.0::DOUBLE +
        |      (CAST(t_all AS DOUBLE) / n_classes) / tf_total), 6) AS score
        |  FROM ct JOIN tot USING (w), aa),
        |r AS (
        |  SELECT source, w, tf, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY score DESC, w ASC) AS BIGINT) AS rn
        |  FROM sc)
        |SELECT source, rn, w AS term, tf, score
        |FROM r WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    // same exact token counts, same declared bucket ladder, same
    // 1-row global max
    "q_batch_padding" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |  FROM documents),
        |mx AS (SELECT MAX(len) AS gmax FROM d),
        |b AS (
        |  SELECT 'pow2_buckets' AS strategy, COUNT(*) AS n_docs,
        |    CAST(SUM(len) AS BIGINT) AS real_tokens,
        |    CAST(SUM(CASE WHEN len <= 64 THEN 64
        |      WHEN len <= 128 THEN 128 WHEN len <= 256 THEN 256
        |      WHEN len <= 512 THEN 512 ELSE 1024 END) AS BIGINT)
        |      AS padded_tokens
        |  FROM d),
        |g AS (
        |  SELECT 'global_max' AS strategy, COUNT(*) AS n_docs,
        |    CAST(SUM(len) AS BIGINT) AS real_tokens,
        |    CAST(SUM(gmax) AS BIGINT) AS padded_tokens
        |  FROM d, mx),
        |u AS (SELECT * FROM g UNION ALL SELECT * FROM b)
        |SELECT strategy, n_docs, real_tokens, padded_tokens,
        |  round((padded_tokens - real_tokens)::DOUBLE / padded_tokens, 6)
        |    AS waste_share
        |FROM u ORDER BY strategy""".stripMargin,

    // same canonical row serialization, same order-independent sum/mix
    // digests, same ROLLUP grand-total-as-dataset-fingerprint
    "q_dataset_manifest" ->
      """WITH h AS (
        |  SELECT source,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|' || lang ||
        |      '|' || source || '|' || CAST(n_chars AS VARCHAR) || '|' ||
        |      md5(text)),1,8))::BIGINT AS h
        |  FROM documents)
        |SELECT COALESCE(source, '__DATASET__') AS source,
        |  CAST(GROUPING(source) AS BIGINT) AS g,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(h) AS BIGINT) AS digest_sum,
        |  CAST(SUM(h * (h % 997)) AS BIGINT) AS digest_mix
        |FROM h GROUP BY ROLLUP(source)
        |ORDER BY g, source""".stripMargin,

    // same (row, replica) md5 coin through the same basis-point
    // Poisson(1) inverse CDF, same exact replica-mean ratios, same
    // interpolated band
    "q_bootstrap_ci" ->
      """WITH rep AS (
        |  SELECT doc_id, n_chars, unnest(range(0, 32)) AS r
        |  FROM documents),
        |u AS (
        |  SELECT r, n_chars,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(r AS VARCHAR)),1,8))::BIGINT % 10000 AS u
        |  FROM rep),
        |w AS (
        |  SELECT r, n_chars,
        |    CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
        |      WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
        |      WHEN u < 9963 THEN 4 ELSE 5 END AS w
        |  FROM u),
        |m AS (
        |  SELECT r, CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS m
        |  FROM w GROUP BY r),
        |b AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS pm
        |  FROM documents)
        |SELECT CAST(MIN(n_docs) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_replicas,
        |  round(MIN(pm), 6) AS point_mean,
        |  round(quantile_cont(m, 0.025), 6) AS ci_lo,
        |  round(quantile_cont(m, 0.975), 6) AS ci_hi
        |FROM m, b""".stripMargin,

    // same md5 permutation key, same per-stratum rank cut
    "q_stratified_topk" ->
      """WITH d AS (
        |  SELECT lang, doc_id, n_chars,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rn
        |  FROM d)
        |SELECT lang, rn, doc_id, n_chars
        |FROM r WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,

    // same 64-bucket hashed unigram+bigram features, same add-one
    // smoothed Δ table rounded at the libm boundary, same sorted fold +
    // exp rate + md5 coin, same micro-unit exact means
    "q_importance_resample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_concat(w,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
        |    AS g
        |  FROM d),
        |gb AS (
        |  SELECT doc_id, lang,
        |    ('0x'||substr(md5(g),1,8))::BIGINT % 64 AS b
        |  FROM g),
        |db AS (
        |  SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM gb GROUP BY doc_id, lang, b),
        |bk AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ct
        |  FROM gb GROUP BY b),
        |tots AS (
        |  SELECT CAST(SUM(cr) AS BIGINT) AS tr,
        |    CAST(SUM(ct) AS BIGINT) AS tt FROM bk),
        |dl AS (
        |  SELECT b, round(ln((ct + 1.0::DOUBLE) / (tt + 64.0::DOUBLE)) -
        |    ln((cr + 1.0::DOUBLE) / (tr + 64.0::DOUBLE)), 6) AS delta
        |  FROM bk, tots),
        |lw AS (
        |  SELECT doc_id, lang,
        |    round(list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(k * delta))), (a, v) -> a + v), 6) AS logw
        |  FROM db JOIN dl USING (b) GROUP BY doc_id, lang),
        |kp AS (
        |  SELECT lang, logw,
        |    CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
        |      ::BIGINT % 10000 < least(10000,
        |        CAST(floor(round(exp(logw) * 2500.0::DOUBLE, 6)) AS BIGINT))
        |    THEN 1 ELSE 0 END AS keep
        |  FROM lw)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  round(SUM(keep)::DOUBLE / COUNT(*), 6) AS keep_rate,
        |  round(CAST(SUM(CAST(round(round(logw, 6) * 1000000.0::DOUBLE, 0)
        |      AS BIGINT)) AS DOUBLE) / 1000000.0::DOUBLE / COUNT(*), 6)
        |    AS avg_logw
        |FROM kp GROUP BY lang ORDER BY lang""".stripMargin,

    // NB: five explicit chained iterations, NOT a recursive CTE — DuckDB's
    // recursive-CTE evaluation of an aggregate over the working table gave
    // values that disagree with a hand computation of the same recurrence
    // (verified manually for one node); the unrolled form is unambiguous.
    "q_textrank" -> {
      val step = (prev: String, cur: String) => s""",
        |$cur AS (
        |  SELECT e.w2 AS w,
        |         (15 * (1000000000000 // (SELECT n_nodes FROM n))) // 100
        |           + (85 * SUM(p.r // dg.deg)) // 100 AS r
        |  FROM $prev p JOIN deg dg ON p.w = dg.w1 JOIN edges e ON p.w = e.w1
        |  GROUP BY e.w2)""".stripMargin
      """WITH
        |d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT unnest(w) AS w FROM d),
        |vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        |                         ORDER BY c DESC, w ASC LIMIT 32) v),
        |big AS (SELECT unnest(list_transform(range(1, len(w)),
        |                                     i -> w[i] || ' ' || w[i+1])) AS bg
        |        FROM d WHERE len(w) >= 2),
        |sp AS (SELECT string_split(bg, ' ')[1] AS w1,
        |              string_split(bg, ' ')[2] AS w2 FROM big),
        |e0 AS (SELECT DISTINCT w1, w2 FROM sp
        |       JOIN vocab v1 ON w1 = v1.w JOIN vocab v2 ON w2 = v2.w
        |       WHERE w1 <> w2),
        |edges AS (SELECT w1, w2 FROM e0 UNION SELECT w2, w1 FROM e0),
        |deg AS (SELECT w1, COUNT(*) AS deg FROM edges GROUP BY w1),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |pr0 AS (SELECT w1 AS w,
        |        1000000000000 // (SELECT n_nodes FROM n) AS r FROM deg)""".stripMargin +
        (1 to 5).map(i => step(s"pr${i - 1}", s"pr$i")).mkString +
        """
        |SELECT w, CAST(r AS BIGINT) AS rank_scaled FROM pr5
        |ORDER BY rank_scaled DESC, w ASC LIMIT 20""".stripMargin
    },

    // same capped directed graph, same 4 unrolled a = Aᵀh / h = Aa
    // rounds in scaled integers with exact-total integer-division
    // normalization
    "q_hits" -> {
      val step = (i: Int) => {
        val (hp, ar, an, aa, hr, hn, hh) =
          (s"h${i - 1}", s"ar$i", s"an$i", s"a$i", s"hr$i", s"hn$i", s"h$i")
        s""",
        |$ar AS (SELECT e0.w2 AS w, SUM($hp.v) AS s
        |  FROM e0 JOIN $hp ON $hp.w = e0.w1 GROUP BY e0.w2),
        |$an AS (SELECT n.w, CAST(COALESCE(r.s, 0) AS BIGINT) AS s
        |  FROM nodes n LEFT JOIN $ar r ON r.w = n.w),
        |$aa AS (SELECT w, CAST((s * 100000000) //
        |    CAST(SUM(s) OVER () AS BIGINT) AS BIGINT) AS v FROM $an),
        |$hr AS (SELECT e0.w1 AS w, SUM($aa.v) AS s
        |  FROM e0 JOIN $aa ON $aa.w = e0.w2 GROUP BY e0.w1),
        |$hn AS (SELECT n.w, CAST(COALESCE(r.s, 0) AS BIGINT) AS s
        |  FROM nodes n LEFT JOIN $hr r ON r.w = n.w),
        |$hh AS (SELECT w, CAST((s * 100000000) //
        |    CAST(SUM(s) OVER () AS BIGINT) AS BIGINT) AS v FROM $hn)"""
          .stripMargin
      }
      s"""WITH
        |$wordGraphSql,
        |nodes AS (SELECT w1 AS w FROM e0 UNION SELECT w2 FROM e0),
        |h0 AS (SELECT w, CAST(100000000 AS BIGINT) AS v FROM nodes)"""
        .stripMargin +
        (1 to 4).map(step).mkString +
        """
        |SELECT a4.w, a4.v AS authority_scaled, h4.v AS hub_scaled
        |FROM a4 JOIN h4 ON h4.w = a4.w
        |ORDER BY authority_scaled DESC, a4.w ASC LIMIT 10""".stripMargin
    },

    // same capped graph, same strict-total-order parent, same walk
    "q_recursive_hierarchy" ->
      s"""WITH RECURSIVE
        |$wordGraphSql,
        |edges AS (SELECT w1, w2 FROM e0 UNION SELECT w2, w1 FROM e0),
        |cand AS (SELECT e.w1, e.w2, v2.c AS c2
        |         FROM edges e JOIN vocab v1 ON e.w1 = v1.w
        |         JOIN vocab v2 ON e.w2 = v2.w
        |         WHERE v2.c > v1.c OR (v2.c = v1.c AND e.w2 < e.w1)),
        |parents AS (SELECT w1 AS w, w2 AS parent FROM (
        |    SELECT w1, w2, row_number() OVER (PARTITION BY w1
        |      ORDER BY c2 DESC, w2 ASC) AS rn FROM cand) r
        |  WHERE rn = 1),
        |up (w, anc, depth) AS (
        |  SELECT w, w, 0 FROM vocab
        |  UNION ALL
        |  SELECT u.w, p.parent, u.depth + 1
        |  FROM up u JOIN parents p ON p.w = u.anc)
        |SELECT w, anc AS root, depth FROM up
        |WHERE anc NOT IN (SELECT w FROM parents)
        |ORDER BY w""".stripMargin,

    // same capped graph, same top-word source; BFS via recursive UNION
    // ((node, depth) pairs dedup, depth cap bounds) + MIN(depth)
    "q_shortest_path" ->
      s"""WITH RECURSIVE
        |$wordGraphSql,
        |edges AS (SELECT w1, w2 FROM e0 UNION SELECT w2, w1 FROM e0),
        |src AS (SELECT w FROM vocab ORDER BY c DESC, w ASC LIMIT 1),
        |bfs (w, d) AS (
        |  SELECT w, 0 FROM src
        |  UNION
        |  SELECT e.w2, b.d + 1 FROM bfs b JOIN edges e ON e.w1 = b.w
        |  WHERE b.d < 32),
        |dm AS (SELECT w, MIN(d) AS dist FROM bfs GROUP BY w)
        |SELECT v.w, CAST(COALESCE(dm.dist, -1) AS BIGINT) AS dist
        |FROM vocab v LEFT JOIN dm ON dm.w = v.w
        |ORDER BY v.w""".stripMargin,

    // same full margin grid (zero cells carry expected mass), same
    // (o−e)·(o−e)/e tree
    "q_chi_square" ->
      """WITH cells AS (
        |  SELECT source, lang, COUNT(*) AS n FROM documents
        |  GROUP BY source, lang),
        |r AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_source
        |      FROM cells GROUP BY source),
        |c AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
        |      FROM cells GROUP BY lang),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells),
        |e AS (
        |  SELECT r.source, c.lang,
        |    CAST(COALESCE(cells.n, 0) AS BIGINT) AS observed,
        |    r.n_source::DOUBLE * c.n_lang / t.n_total AS e
        |  FROM r CROSS JOIN c
        |  LEFT JOIN cells ON cells.source = r.source AND cells.lang = c.lang
        |  CROSS JOIN t)
        |SELECT source, lang, observed, round(e, 6) AS expected,
        |  round((observed - e) * (observed - e) / e, 6) AS contrib
        |FROM e ORDER BY source, lang""".stripMargin,

    // same delta-gap + 7-bit-group CASE ladder, exact integers
    "q_postings_size" ->
      """WITH postings AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |top AS (
        |  SELECT w FROM (SELECT w, COUNT(*) AS dfc FROM postings GROUP BY w
        |                 ORDER BY dfc DESC, w ASC LIMIT 16)),
        |g AS (
        |  SELECT p.w, doc_id,
        |    doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY p.w
        |      ORDER BY doc_id), 0) AS gap
        |  FROM postings p JOIN top USING (w)),
        |v AS (
        |  SELECT w, gap,
        |    CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
        |         WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
        |         ELSE 5 END AS vbytes
        |  FROM g)
        |SELECT w, COUNT(*) AS df, COUNT(*) * 8 AS raw_bytes,
        |  CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
        |  MAX(gap) AS max_gap,
        |  round((COUNT(*) * 8)::DOUBLE / SUM(vbytes), 6) AS compression
        |FROM v GROUP BY w ORDER BY w""".stripMargin,

    // same 6-dp-rounded ln pairs, same rank-ordered left fold, same OLS
    // tree
    "q_zipf_slope" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |top AS (
        |  SELECT w, c FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        |                    ORDER BY c DESC, w ASC LIMIT 64)),
        |r AS (
        |  SELECT round(ln((row_number() OVER (ORDER BY c DESC, w ASC))
        |      ::DOUBLE), 6) AS x,
        |    round(ln(c::DOUBLE), 6) AS y,
        |    row_number() OVER (ORDER BY c DESC, w ASC) AS rank
        |  FROM top),
        |l AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    list(x ORDER BY rank) AS xs, list(y ORDER BY rank) AS ys
        |  FROM r),
        |s AS (
        |  SELECT n,
        |    list_reduce(list_concat([0.0::DOUBLE], xs),
        |      (a, b) -> a + b) AS sx,
        |    list_reduce(list_concat([0.0::DOUBLE], ys),
        |      (a, b) -> a + b) AS sy,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, len(xs) + 1), i -> xs[i] * ys[i])),
        |      (a, b) -> a + b) AS sxy,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_transform(range(1, len(xs) + 1), i -> xs[i] * xs[i])),
        |      (a, b) -> a + b) AS sxx
        |  FROM l),
        |sl AS (
        |  SELECT n, (n::DOUBLE * sxy - sx * sy) / (n::DOUBLE * sxx - sx * sx)
        |    AS slope_raw, sx, sy
        |  FROM s)
        |SELECT n, round(slope_raw, 6) AS zipf_slope,
        |  round((sy - slope_raw * sx) / n::DOUBLE, 6) AS intercept
        |FROM sl""".stripMargin,

    // same inverted-query index, same count==arity conjunctive match
    "q_percolate" ->
      """WITH postings AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |top4 AS (
        |  SELECT w, row_number() OVER (ORDER BY dfc DESC, w ASC) AS r
        |  FROM (SELECT w, COUNT(*) AS dfc FROM postings GROUP BY w
        |        ORDER BY dfc DESC, w ASC LIMIT 4)),
        |queries AS (
        |  SELECT CAST(a.r * 10 + b.r AS BIGINT) AS qid,
        |    a.w AS term_a, b.w AS term_b
        |  FROM top4 a JOIN top4 b ON a.r < b.r),
        |qt AS (
        |  SELECT qid, term_a AS w FROM queries
        |  UNION ALL SELECT qid, term_b FROM queries),
        |m AS (
        |  SELECT p.doc_id, q.qid, COUNT(*) AS n_hit
        |  FROM postings p JOIN qt q ON p.w = q.w
        |  GROUP BY p.doc_id, q.qid),
        |mm AS (
        |  SELECT qid, COUNT(*) AS n_matched_docs FROM m
        |  WHERE n_hit = 2 GROUP BY qid)
        |SELECT q.qid, q.term_a, q.term_b,
        |  CAST(COALESCE(mm.n_matched_docs, 0) AS BIGINT) AS n_matched_docs
        |FROM queries q LEFT JOIN mm USING (qid)
        |ORDER BY qid""".stripMargin,

    // same ≤k-token prefix key, same miss-populates/hit-saves accounting
    "q_prefix_cache" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (
        |  SELECT k, array_to_string(list_slice(toks, 1, k), ' ') AS prefix,
        |    CAST(least(len(toks), k) AS BIGINT) AS plen
        |  FROM d CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS k)),
        |g AS (
        |  SELECT k, prefix, COUNT(*) AS n, MIN(plen) AS plen
        |  FROM e GROUP BY k, prefix)
        |SELECT CAST(k AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_prefixes,
        |  round(1.0::DOUBLE - COUNT(*)::DOUBLE / SUM(n), 6) AS hit_rate,
        |  CAST(SUM((n - 1) * plen) AS BIGINT) AS tokens_saved
        |FROM g GROUP BY k ORDER BY k""".stripMargin,

    // identical a<b<c orientation, wedge close, and integer ratio
    "q_triangle_count" ->
      s"""WITH
        |$wordGraphSql,
        |und AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
        |        FROM e0),
        |tri AS (SELECT e1.a, e1.b, e2.b AS c
        |        FROM und e1 JOIN und e2 ON e1.b = e2.a
        |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT w, COUNT(*) AS n_tri FROM (
        |         SELECT a AS w FROM tri
        |         UNION ALL SELECT b FROM tri
        |         UNION ALL SELECT c FROM tri) x GROUP BY w),
        |deg AS (SELECT w, COUNT(*) AS deg FROM (
        |         SELECT a AS w FROM und UNION ALL SELECT b FROM und) x
        |        GROUP BY w)
        |SELECT v.w, COALESCE(deg.deg, 0) AS deg,
        |  COALESCE(pn.n_tri, 0) AS n_tri,
        |  CASE WHEN COALESCE(deg.deg, 0) >= 2
        |       THEN round(COALESCE(pn.n_tri, 0) * 2.0::DOUBLE
        |                  / (deg.deg * (deg.deg - 1)), 6)
        |       ELSE 0.0::DOUBLE END AS clustering
        |FROM vocab v LEFT JOIN deg ON deg.w = v.w LEFT JOIN pn ON pn.w = v.w
        |ORDER BY v.w""".stripMargin,

    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    least(10000, (n_chars * 10000) // 2000) AS w_bp,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 10000 AS h
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN h < w_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN h < w_bp THEN tok ELSE 0 END) AS BIGINT)
        |    AS tokens_kept
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q_dataset_split" ->
      """WITH d AS (
        |  SELECT text,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS h
        |  FROM documents)
        |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM d GROUP BY 1 ORDER BY split""".stripMargin,

    // same fp classes, same basis-point coins; group-hash leakage must
    // come out zero by the same arithmetic, not by fiat
    "q_split_leakage" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp
        |  FROM documents),
        |r AS (SELECT doc_id, fp,
        |    MIN(doc_id) OVER (PARTITION BY fp) AS rep FROM d),
        |t AS (SELECT doc_id, fp,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 100 AS nh,
        |    ('0x'||substr(md5(CAST(rep AS VARCHAR)),1,8))::BIGINT % 100 AS ah
        |  FROM r),
        |tagged AS (
        |  SELECT '1_doc_hash' AS scheme, fp,
        |    CASE WHEN nh < 80 THEN 'train' WHEN nh < 90 THEN 'val'
        |         ELSE 'test' END AS split FROM t
        |  UNION ALL
        |  SELECT '2_group_hash', fp,
        |    CASE WHEN ah < 80 THEN 'train' WHEN ah < 90 THEN 'val'
        |         ELSE 'test' END FROM t),
        |sp AS (SELECT scheme,
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train,
        |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_val,
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test
        |  FROM tagged GROUP BY scheme),
        |g AS (SELECT scheme, fp, COUNT(*) AS n,
        |    COUNT(DISTINCT split) AS ns
        |  FROM tagged GROUP BY scheme, fp),
        |lk AS (SELECT scheme,
        |    CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS multi_doc_groups,
        |    CAST(SUM(CASE WHEN n >= 2 AND ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS leaked_groups,
        |    CAST(SUM(CASE WHEN n >= 2 AND ns > 1 THEN n ELSE 0 END) AS BIGINT)
        |      AS leaked_docs
        |  FROM g GROUP BY scheme)
        |SELECT sp.scheme, n_train, n_val, n_test,
        |  multi_doc_groups, leaked_groups, leaked_docs
        |FROM sp JOIN lk ON lk.scheme = sp.scheme
        |ORDER BY sp.scheme""".stripMargin,

    "q_epoch_shuffle" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':3'),1,8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 16 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id)
        |    AS INT) AS pos
        |FROM d ORDER BY shard, pos""".stripMargin,

    "q_chunk_docs" ->
      s"""WITH d AS ($docsW),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, greatest(len(w) - 8, 1), 24)) AS start
        |  FROM d)
        |SELECT doc_id,
        |  CAST((start - 1) // 24 AS INT) AS chunk_idx,
        |  CAST(len(string_split(array_to_string(w[start:start+31], ' '), ' ')) AS INT) AS n_tok,
        |  md5(array_to_string(w[start:start+31], ' ')) AS chunk_hash
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    // stage-for-stage replay of the one-DAG funnel: same Gopher rule
    // texts, same content/fingerprint keep-first conditional-MIN windows,
    // same shingle reference and overlap gate (list_has_any ≡
    // arrays_overlap on null-free lists), same √-rebalance integer rate
    // arithmetic and md5 coin, same packing cursor
    "q_corpus_pipeline" ->
      """WITH bench AS (
        |  SELECT list(DISTINCT sh) AS bset FROM (
        |    SELECT unnest(list_distinct(list_transform(
        |        list_transform(range(0, len(w) - 4),
        |          i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]),
        |        g -> ('0x'||substr(md5(g),1,8))::BIGINT))) AS sh
        |    FROM (SELECT string_split(text, ' ') AS w FROM documents
        |          WHERE doc_id % 50 = 0) t WHERE len(w) >= 5)),
        |base AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 50 <> 0),
        |st AS (
        |  SELECT doc_id, lang, w, CAST(len(w) AS BIGINT) AS tok,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS ckey,
        |    md5(array_to_string(w[1:8], ' ')) AS fp,
        |    CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum')
        |      AS BIGINT) AS chars,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
        |      AS BIGINT) AS alpha,
        |    CAST(len(list_filter(w, x -> x IN ('#', '...'))) AS BIGINT)
        |      AS sym,
        |    CAST(len(list_filter(w, x -> x IN ('the','be','to','of','and',
        |      'that','have','with'))) AS BIGINT) AS stop,
        |    CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(
        |      list_transform(range(0, len(w) - 4),
        |        i -> w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]),
        |      g -> ('0x'||substr(md5(g),1,8))::BIGINT)) END AS sh_arr
        |  FROM base),
        |s1 AS (
        |  SELECT *, (tok >= 20 AND tok <= 1000 AND chars >= 3 * tok
        |    AND chars <= 10 * tok AND 10 * sym <= tok
        |    AND 10 * alpha >= 8 * tok AND stop >= 2) AS qk
        |  FROM st),
        |s2 AS (
        |  SELECT *, (qk AND doc_id = MIN(CASE WHEN qk THEN doc_id END)
        |    OVER (PARTITION BY ckey)) AS ek
        |  FROM s1),
        |s3 AS (
        |  SELECT *, (ek AND doc_id = MIN(CASE WHEN ek THEN doc_id END)
        |    OVER (PARTITION BY fp)) AS nk
        |  FROM s2),
        |s4 AS (
        |  SELECT s3.*, (nk AND NOT COALESCE(list_has_any(sh_arr, bset),
        |    FALSE)) AS ck
        |  FROM s3 CROSS JOIN bench),
        |agg AS (
        |  SELECT lang, CAST(SUM(CASE WHEN ck THEN tok END) AS BIGINT)
        |    AS lang_tokens
        |  FROM s4 GROUP BY lang
        |  HAVING SUM(CASE WHEN ck THEN 1 ELSE 0 END) > 0),
        |r AS (
        |  SELECT lang, lang_tokens,
        |    CAST(floor(sqrt(lang_tokens)) AS BIGINT) AS w_l,
        |    CAST(SUM(lang_tokens) OVER () AS BIGINT) AS total_tokens,
        |    CAST(SUM(CAST(floor(sqrt(lang_tokens)) AS BIGINT)) OVER ()
        |      AS BIGINT) AS sum_w
        |  FROM agg),
        |rates AS (
        |  SELECT lang, CAST(least(10000,
        |    (((total_tokens // 2) // sum_w) * w_l * 10000) // lang_tokens)
        |    AS BIGINT) AS rate_bp
        |  FROM r),
        |s5 AS (
        |  SELECT s4.*,
        |    (ck AND ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |      % 10000 < COALESCE(rate_bp, 0)) AS mk
        |  FROM s4 LEFT JOIN rates USING (lang)),
        |s6 AS (
        |  SELECT *, ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT
        |    % 16 AS shard
        |  FROM s5),
        |s7 AS (
        |  SELECT *, COALESCE(SUM(CASE WHEN mk THEN tok ELSE 0 END)
        |    OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cum_before
        |  FROM s6)
        |SELECT COUNT(*) AS n_input,
        |  CAST(SUM(CASE WHEN qk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality_pass,
        |  CAST(SUM(CASE WHEN ek THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after_exact_dedup,
        |  CAST(SUM(CASE WHEN nk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after_near_dedup,
        |  CAST(SUM(CASE WHEN ck THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_after_decontam,
        |  CAST(SUM(CASE WHEN mk THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(COUNT(DISTINCT CASE WHEN mk
        |    THEN shard * 1048576 + cum_before // 512 END) AS BIGINT)
        |    AS n_sequences,
        |  CAST(SUM(CASE WHEN mk THEN tok ELSE 0 END) AS BIGINT)
        |    AS tokens_packed
        |FROM s7""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 16 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT *, COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM d)
        |SELECT shard, CAST(cum_before // 512 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin,

    "q_text_stats" ->
      s"""WITH d AS ($docsW)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(w)) AS BIGINT) AS total_tokens,
        |  round(avg(len(w)), 6) AS avg_tokens,
        |  round(avg(n_chars), 6) AS avg_chars
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q_text_quality" ->
      s"""WITH d AS ($docsW)
        |SELECT doc_id,
        |  CAST(len(w) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS INT) AS n_uniq,
        |  round(len(list_distinct(w)) * 1.0 / len(w), 6) AS uniq_ratio,
        |  round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 6) AS avg_token_len,
        |  round(len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0 / len(w), 6) AS stop_ratio,
        |  (len(w) BETWEEN 20 AND 120)
        |    AND (len(list_distinct(w)) * 1.0 / len(w) >= 0.2) AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH d AS ($docsW),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(w, x -> x IN ('the', 'a', 'key', 'fast'))) * 1.0 / len(w) AS s_en,
        |    len(list_filter(w, x -> x IN ('value', 'row', 'data'))) * 1.0 / len(w) AS s_es,
        |    len(list_filter(w, x -> x IN ('table', 'scan', 'hash'))) * 1.0 / len(w) AS s_de,
        |    len(list_filter(w, x -> x IN ('spark', 'agg', 'join'))) * 1.0 / len(w) AS s_zh
        |  FROM d),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_zh THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_zh THEN 'es'
        |         WHEN s_de >= s_zh THEN 'de' ELSE 'zh' END AS predicted
        |  FROM sc)
        |SELECT lang, predicted, count(*) AS n_docs
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    "q_sentiment" ->
      s"""WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |l AS (
        |  SELECT * FROM (VALUES ('fast', 1.0), ('merge', 0.5), ('scan', 0.25),
        |                        ('filter', -0.5), ('slow', -1.0)) lex(word, score))
        |SELECT lang, COUNT(*) AS n_hits,
        |  round(avg(score), 6) AS avg_sentiment
        |FROM t JOIN l USING (word)
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q_collocations" ->
      s"""WITH d AS ($docsW),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
        |  FROM d WHERE len(w) >= 2),
        |sp AS (
        |  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        |  FROM big),
        |cab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM sp GROUP BY 1, 2),
        |ca AS (SELECT w1, COUNT(*) AS n_a FROM sp GROUP BY 1),
        |cb AS (SELECT w2, COUNT(*) AS n_b FROM sp GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_all FROM sp)
        |SELECT w1, w2, n_ab,
        |  round(ln(n_ab * n_all * 1.0 / (n_a * n_b)), 6) AS pmi
        |FROM cab JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
        |WHERE n_ab >= 20
        |ORDER BY w1, w2""".stripMargin,

    // same top-12 vocab (freq DESC, token ASC), same symmetrized
    // restricted co-occurrence, same PPMI text, same token-sorted
    // 12-term fold per power step (list_reduce seeded with 0.0)
    "q_ppmi_svd" -> ppmiSvdOracle,

    // same 16×12 bucketed count matrix, same deterministic saddle-break
    // init, same 3 alternating multiplicative rounds with index-ordered
    // folds and the identical 10⁻⁹ ridge
    "q_nmf_topics" -> nmfTopicsOracle,

    // same vocab cut and counts, the same shared (δ, σ²) texts
    "q_log_odds_monroe" -> logOddsMonroeOracle,

    "q_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, COUNT(*) AS n_terms,
        |  CAST(MAX(tf) AS BIGINT) AS max_tf,
        |  round(SUM(tf * ln(n_docs * 1.0 / df)), 6) AS tfidf_sum
        |FROM tf JOIN dfq USING (term) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT lang,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_bpe,
        |  round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6) AS avg_bpe
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_doc_fingerprint" ->
      s"""WITH d AS ($docsW)
        |SELECT doc_id,
        |  list_reduce(
        |    list_concat([0::BIGINT],
        |      list_transform(w, wd -> ('0x'||substr(md5(wd),1,8))::BIGINT)),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
        |FROM d ORDER BY doc_id""".stripMargin,

    // same 64-byte framing / stride-4 sampling; ASCII corpus ⇒ char and
    // byte offsets agree, so substr-based frames match Spark's
    "q_multimodal_frames" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(floor(strlen(text) / 64) AS INT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_frames, CAST(UNNEST(range(0, n_frames, 4)) AS INT) AS f,
        |    text
        |  FROM d WHERE n_frames > 0),
        |g AS (
        |  SELECT doc_id, n_frames, f,
        |    md5(substr(text, f * 64 + 1, 64)) AS frame_digest
        |  FROM f)
        |SELECT doc_id, n_frames, COUNT(*) AS n_sampled,
        |  md5(string_agg(frame_digest, '' ORDER BY f)) AS thumb_digest
        |FROM g
        |GROUP BY doc_id, n_frames
        |ORDER BY doc_id""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS n_bytes,
        |  CAST(n_chars % 640 AS BIGINT) AS width,
        |  CAST((n_chars * 3) % 480 AS BIGINT) AS height,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_multimodal_decode" ->
      """WITH p AS (SELECT doc_id, text, encode(text) AS payload FROM documents)
        |SELECT doc_id,
        |  CAST(octet_length(payload) AS INT) AS n_bytes,
        |  lower(substr(hex(payload), 1, 16)) AS header_hex,
        |  ('0x'||substr(md5(text),1,8))::BIGINT % 1920 AS dec_width,
        |  ('0x'||substr(md5(text),9,8))::BIGINT % 1080 AS dec_height,
        |  md5(text) AS digest
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_multimodal_batch" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  ('0x'||substr(md5(text),1,8))::BIGINT % 1920 AS dec_width,
        |  ('0x'||substr(md5(text),9,8))::BIGINT % 1080 AS dec_height
        |FROM documents ORDER BY doc_id""".stripMargin,

    // NB (this and the next four): bare decimal literals are DECIMAL in
    // DuckDB but DOUBLE in the Spark code — every mixed-arithmetic literal
    // is ::DOUBLE'd so both engines run the identical IEEE expression DAG.
    "q_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |ty AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
        |vocab AS (SELECT w, c FROM ty ORDER BY c DESC, w ASC LIMIT 16),
        |n AS (SELECT COUNT(*) AS n_corpus FROM tok),
        |pd AS (SELECT doc_id, w, COUNT(*) AS k FROM tok GROUP BY 1, 2),
        |j AS (
        |  SELECT pd.doc_id, pd.k,
        |    pd.k * log2(COALESCE(v.c, 0) + 1.0::DOUBLE) AS contrib
        |  FROM pd LEFT JOIN vocab v USING (w)),
        |a AS (
        |  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(contrib))),
        |      (acc, v) -> acc + v) AS slog
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round(log2((SELECT n_corpus FROM n) + 16.0::DOUBLE) - slog / n_tokens, 6)
        |    AS bits_per_token
        |FROM a ORDER BY doc_id""".stripMargin,

    // Identical model arithmetic to the engine: same vocab cut + ids, same
    // λ=0.75 interpolation parenthesization (exact-binary-fraction
    // coefficients, one IEEE division per component), same sorted-fold
    // per-doc sum; only log2 is libm-shaped, absorbed by round(...,6).
    "q_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ty AS (SELECT u.t AS w, COUNT(*) AS c
        |  FROM d, unnest(d.w) u(t) GROUP BY 1),
        |vocab AS (SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS vid
        |  FROM (SELECT w, c FROM ty ORDER BY c DESC, w ASC LIMIT 16)),
        |tok AS (SELECT doc_id, unnest(w) AS t,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |m AS (SELECT tok.doc_id, tok.pos, COALESCE(v.vid, 0) AS vid
        |  FROM tok LEFT JOIN vocab v ON v.w = tok.t),
        |bgs AS (SELECT a.doc_id, a.vid * 17 + b.vid AS bg
        |  FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |cbg AS (SELECT bg, COUNT(*) AS cbg FROM bgs GROUP BY 1),
        |ctx AS (SELECT bg // 17 AS u, SUM(cbg) AS cctx FROM cbg GROUP BY 1),
        |uni AS (SELECT vid, COUNT(*) AS c1 FROM m GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_corpus FROM m),
        |model AS (SELECT bg,
        |    log2(0.75::DOUBLE * ((cbg + 1.0::DOUBLE) / (cctx + 17.0::DOUBLE))
        |      + 0.25::DOUBLE * ((c1 + 1.0::DOUBLE)
        |        / ((SELECT n_corpus FROM n) + 17.0::DOUBLE))) AS lp
        |  FROM cbg
        |  JOIN ctx ON ctx.u = cbg.bg // 17
        |  JOIN uni ON uni.vid = cbg.bg % 17),
        |dk AS (SELECT doc_id, bg, COUNT(*) AS k FROM bgs GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(k * lp))),
        |      (acc, v) -> acc + v) AS slog
        |  FROM dk JOIN model USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(-slog / n_bigrams, 6) AS bits_per_token
        |FROM sc ORDER BY doc_id""".stripMargin,

    // the full q_bigram_lm chain replayed, then the same self-derived
    // quantile fences, keep rule, and composition readout
    "q_ppl_filter_sweep" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ty AS (SELECT u.t AS w, COUNT(*) AS c
        |  FROM d, unnest(d.w) u(t) GROUP BY 1),
        |vocab AS (SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS vid
        |  FROM (SELECT w, c FROM ty ORDER BY c DESC, w ASC LIMIT 16)),
        |tok AS (SELECT doc_id, unnest(w) AS t,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |m AS (SELECT tok.doc_id, tok.pos, COALESCE(v.vid, 0) AS vid
        |  FROM tok LEFT JOIN vocab v ON v.w = tok.t),
        |bgs AS (SELECT a.doc_id, a.vid * 17 + b.vid AS bg
        |  FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |cbg AS (SELECT bg, COUNT(*) AS cbg FROM bgs GROUP BY 1),
        |ctx AS (SELECT bg // 17 AS u, SUM(cbg) AS cctx FROM cbg GROUP BY 1),
        |uni AS (SELECT vid, COUNT(*) AS c1 FROM m GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_corpus FROM m),
        |model AS (SELECT bg,
        |    log2(0.75::DOUBLE * ((cbg + 1.0::DOUBLE) / (cctx + 17.0::DOUBLE))
        |      + 0.25::DOUBLE * ((c1 + 1.0::DOUBLE)
        |        / ((SELECT n_corpus FROM n) + 17.0::DOUBLE))) AS lp
        |  FROM cbg
        |  JOIN ctx ON ctx.u = cbg.bg // 17
        |  JOIN uni ON uni.vid = cbg.bg % 17),
        |dk AS (SELECT doc_id, bg, COUNT(*) AS k FROM bgs GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(k * lp))),
        |      (acc, v) -> acc + v) AS slog
        |  FROM dk JOIN model USING (bg) GROUP BY doc_id),
        |lj AS (SELECT round(-slog / n_bigrams, 6) AS bits, doc.lang
        |  FROM sc JOIN documents doc USING (doc_id)),
        |f AS (SELECT round(quantile_cont(bits, 0.25), 6) AS t25,
        |  round(quantile_cont(bits, 0.5), 6) AS t50,
        |  round(quantile_cont(bits, 0.75), 6) AS t75 FROM lj),
        |th AS (SELECT 'p25' AS quantile, t25 AS tau FROM f
        |  UNION ALL SELECT 'p50', t50 FROM f
        |  UNION ALL SELECT 'p75', t75 FROM f),
        |sw AS (SELECT th.quantile, th.tau, lj.bits, lj.lang
        |  FROM lj CROSS JOIN th)
        |SELECT quantile, tau, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN bits <= tau THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  round(SUM(CASE WHEN bits <= tau THEN 1 ELSE 0 END)::DOUBLE /
        |    COUNT(*), 6) AS kept_share,
        |  CASE WHEN SUM(CASE WHEN bits <= tau THEN 1 ELSE 0 END) > 0 THEN
        |    round(CAST(SUM(CASE WHEN bits <= tau AND lang = 'en'
        |        THEN 1 ELSE 0 END) AS DOUBLE) /
        |      SUM(CASE WHEN bits <= tau THEN 1 ELSE 0 END), 6)
        |  END AS en_share_kept
        |FROM sw GROUP BY quantile, tau ORDER BY quantile""".stripMargin,

    // same encode; KN model: max(c−D,0)/ctx + (D·N1+(u·)/ctx)·(N1+(·v)/T)
    // with D = 0.75 — identical fixed DAG, one division per component
    "q_kneser_ney" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ty AS (SELECT u.t AS w, COUNT(*) AS c
        |  FROM d, unnest(d.w) u(t) GROUP BY 1),
        |vocab AS (SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS vid
        |  FROM (SELECT w, c FROM ty ORDER BY c DESC, w ASC LIMIT 16)),
        |tok AS (SELECT doc_id, unnest(w) AS t,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |m AS (SELECT tok.doc_id, tok.pos, COALESCE(v.vid, 0) AS vid
        |  FROM tok LEFT JOIN vocab v ON v.w = tok.t),
        |bgs AS (SELECT a.doc_id, a.vid * 17 + b.vid AS bg
        |  FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |cbg AS (SELECT bg, bg // 17 AS u, bg % 17 AS v, COUNT(*) AS c
        |  FROM bgs GROUP BY 1, 2, 3),
        |ctx AS (SELECT u, SUM(c) AS cctx, COUNT(*) AS n1u
        |  FROM cbg GROUP BY u),
        |cont AS (SELECT v, COUNT(*) AS n1c FROM cbg GROUP BY v),
        |tt AS (SELECT COUNT(*) AS t FROM cbg),
        |model AS (SELECT cbg.bg,
        |    log2(greatest(cbg.c - 0.75::DOUBLE, 0.0::DOUBLE) / ctx.cctx
        |      + 0.75::DOUBLE * ctx.n1u / ctx.cctx
        |        * (cont.n1c / (SELECT t FROM tt))) AS lp
        |  FROM cbg JOIN ctx USING (u) JOIN cont USING (v)),
        |dk AS (SELECT doc_id, bg, COUNT(*) AS k FROM bgs GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_concat([0.0::DOUBLE], list_sort(list(k * lp))),
        |      (acc, v) -> acc + v) AS slog
        |  FROM dk JOIN model USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, round(-slog / n_bigrams, 6) AS bits_per_token
        |FROM sc ORDER BY doc_id""".stripMargin,

    // Same fixed 10-token segmentation, same per-(source, line) df >= 2
    // template cut, same position-ordered retained rejoin (string_agg
    // skips the CASE's NULLs exactly as collect_list does; COALESCE('')
    // matches Spark's md5 of the empty join when every line is stripped)
    "q_boilerplate_strip" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 1),
        |seg0 AS (SELECT doc_id, source,
        |  list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |    i -> array_to_string(w[(i*10+1):(i*10+10)], ' ')) AS segs FROM d),
        |seg AS (SELECT doc_id, source, unnest(segs) AS line,
        |  generate_subscripts(segs, 1) AS pos FROM seg0),
        |boiler AS (SELECT source, line FROM seg
        |  GROUP BY source, line HAVING COUNT(DISTINCT doc_id) >= 2),
        |j AS (SELECT s.doc_id, s.pos, s.line,
        |    (b.line IS NOT NULL) AS is_boiler
        |  FROM seg s LEFT JOIN boiler b
        |    ON b.source = s.source AND b.line = s.line)
        |SELECT doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  round(CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
        |    / COUNT(*), 6) AS removed_frac,
        |  md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN line END,
        |    ' ' ORDER BY pos), '')) AS retained_hash
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_quality_classifier" ->
      s"""WITH d AS ($docsW),
        |f AS (
        |  SELECT doc_id, CAST(len(w) AS INT) AS n_tok,
        |    len(list_distinct(w)) * 1.0::DOUBLE / len(w) AS uniq_ratio,
        |    len(list_filter(w, x -> x IN ('the', 'a'))) * 1.0::DOUBLE / len(w)
        |      AS stop_ratio,
        |    list_sum(list_transform(w, x -> length(x))) * 1.0::DOUBLE / len(w)
        |      AS avg_len
        |  FROM d),
        |z AS (
        |  SELECT doc_id, n_tok,
        |    -1.5::DOUBLE + 2.5::DOUBLE * uniq_ratio + 4.0::DOUBLE * stop_ratio
        |      + 0.02::DOUBLE * n_tok - 0.3::DOUBLE * avg_len AS zv
        |  FROM f)
        |SELECT doc_id, n_tok, round(zv, 6) AS z,
        |  round(1.0::DOUBLE / (1.0::DOUBLE + exp(-zv)), 6) AS score,
        |  zv > 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,

    "q_blocklist_filter" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents
        |WHERE source NOT IN ('src3', 'src7', 'src13', 'src17')
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_lang_rebalance" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |agg AS (SELECT lang, CAST(SUM(tok) AS BIGINT) AS lang_tokens
        |        FROM d GROUP BY lang),
        |r AS (
        |  SELECT lang, lang_tokens,
        |    CAST(floor(sqrt(lang_tokens)) AS BIGINT) AS w_l,
        |    CAST(SUM(lang_tokens) OVER () AS BIGINT) AS total_tokens,
        |    CAST(SUM(CAST(floor(sqrt(lang_tokens)) AS BIGINT)) OVER () AS BIGINT)
        |      AS sum_w
        |  FROM agg),
        |rates AS (
        |  SELECT lang, CAST(least(10000,
        |    (((total_tokens // 2) // sum_w) * w_l * 10000) // lang_tokens)
        |    AS BIGINT) AS rate_bp
        |  FROM r)
        |SELECT lang, MAX(rate_bp) AS rate_bp, COUNT(*) AS n_kept,
        |  CAST(SUM(tok) AS BIGINT) AS tokens_kept
        |FROM d JOIN rates USING (lang)
        |WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT % 10000
        |      < rate_bp
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // replays training (same vocab cut, same smoothing, logp rounded to
    // 6 dp before use) and scoring (Σ k·logp folded over the token-sorted
    // list, prior added, argmax tie-broken by class name)
    "q_naive_bayes" ->
      """WITH tokall AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vocab AS (SELECT w FROM (
        |  SELECT w, COUNT(*) AS c FROM tokall GROUP BY w
        |  ORDER BY c DESC, w ASC LIMIT 32)),
        |tok AS (SELECT t.doc_id, t.lang, t.w
        |        FROM tokall t JOIN vocab USING (w)),
        |cls AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |priors AS (SELECT lang AS cls,
        |    round(ln(n_docs::DOUBLE /
        |      (SELECT SUM(n_docs) FROM cls)), 6) AS prior FROM cls),
        |tot AS (SELECT lang, COUNT(*) AS twc FROM tok GROUP BY lang),
        |wc AS (SELECT lang, w, COUNT(*) AS cwc FROM tok GROUP BY lang, w),
        |grid AS (
        |  SELECT c.lang AS cls, v.w,
        |    round(ln((COALESCE(wc.cwc, 0) + 1)::DOUBLE /
        |      (COALESCE(t.twc, 0) + 32)), 6) AS logp
        |  FROM cls c CROSS JOIN vocab v
        |  LEFT JOIN wc ON wc.lang = c.lang AND wc.w = v.w
        |  LEFT JOIN tot t ON t.lang = c.lang),
        |dk AS (SELECT doc_id, w, COUNT(*) AS k FROM tok GROUP BY doc_id, w),
        |sc AS (
        |  SELECT dk.doc_id, g.cls,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list(dk.k * g.logp ORDER BY dk.w)), (a, v) -> a + v) AS s
        |  FROM dk JOIN grid g USING (w) GROUP BY dk.doc_id, g.cls),
        |scored AS (
        |  SELECT d.doc_id, d.lang, p.cls,
        |    p.prior + COALESCE(sc.s, 0.0::DOUBLE) AS score
        |  FROM documents d CROSS JOIN priors p
        |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.cls = p.cls),
        |pred AS (
        |  SELECT doc_id, lang, cls,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cls ASC) AS rn
        |  FROM scored)
        |SELECT lang, cls AS pred, COUNT(*) AS n
        |FROM pred WHERE rn = 1
        |GROUP BY lang, cls ORDER BY lang, pred""".stripMargin,

    "q_source_kl" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |vocab AS (SELECT w, COUNT(*) AS c_corpus FROM tok GROUP BY w
        |          ORDER BY c_corpus DESC, w ASC LIMIT 16),
        |n AS (SELECT COUNT(*) AS n_corpus FROM tok),
        |st AS (SELECT source, COUNT(*) AS n_src FROM tok GROUP BY source),
        |sv AS (SELECT source, n_src, w, c_corpus FROM st CROSS JOIN vocab),
        |cnt AS (
        |  SELECT source, w, COUNT(*) AS k
        |  FROM tok JOIN (SELECT w FROM vocab) v USING (w)
        |  GROUP BY source, w),
        |terms AS (
        |  SELECT sv.source, sv.n_src,
        |    ((COALESCE(cnt.k, 0) + 1.0::DOUBLE) / (sv.n_src + 16.0::DOUBLE))
        |      * log2(((COALESCE(cnt.k, 0) + 1.0::DOUBLE)
        |              / (sv.n_src + 16.0::DOUBLE))
        |             / (sv.c_corpus / CAST((SELECT n_corpus FROM n) AS DOUBLE)))
        |      AS term
        |  FROM sv LEFT JOIN cnt ON sv.source = cnt.source AND sv.w = cnt.w)
        |SELECT source, CAST(MAX(n_src) AS BIGINT) AS n_tokens,
        |  round(list_reduce(list_concat([0.0::DOUBLE], list_sort(list(term))),
        |    (acc, v) -> acc + v), 6) AS kl_bits
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // same derived dirty file, same composed blocking + cap (shared
    // erOracleCtes), DuckDB's own jaro_winkler_similarity (bit-exact with
    // the native expression), same rounded-decimal top-1 total order
    "q_entity_match" ->
      s"""WITH $erOracleCtes,
        |pairs AS (
        |  SELECT dirty_key, clean_key, nk,
        |    CAST(round(jaro_winkler_similarity(dirty_name, clean_name),
        |      6) AS DECIMAL(8,6)) AS jw
        |  FROM cand),
        |t1 AS (
        |  SELECT dirty_key, clean_key, nk, jw,
        |    ROW_NUMBER() OVER (PARTITION BY dirty_key
        |      ORDER BY jw DESC, clean_key ASC) AS rn
        |  FROM pairs)
        |SELECT nk AS c_nationkey, COUNT(*) AS n_entities,
        |  CAST(SUM(CASE WHEN clean_key = dirty_key THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(SUM(CASE WHEN clean_key = dirty_key THEN 1 ELSE 0 END)
        |    ::DOUBLE / COUNT(*), 6) AS top1_accuracy,
        |  round(SUM(jw)::DOUBLE / COUNT(*), 6) AS avg_top1_jw
        |FROM t1 WHERE rn = 1
        |GROUP BY nk ORDER BY nk""".stripMargin,

    // same union file, same sorted-digit sort key, the identical
    // (sdk, nm, role, k) total order driving lead(·, 1..8), DuckDB's own
    // jaro_winkler_similarity, same top-1 total order and readout
    "q_sorted_neighborhood" -> {
      val leads = (1 to 8).map(i =>
        s"lead(struct_pack(role := role, k := k, nm := nm), $i) " +
          s"OVER w AS nb$i").mkString(",\n    |    ").stripMargin
      val unions = (1 to 8).map(i =>
        s"""  SELECT nk,
           |    CASE WHEN role = 1 THEN k ELSE nb$i.k END AS dirty_key,
           |    CASE WHEN role = 1 THEN nm ELSE nb$i.nm END AS dirty_name,
           |    CASE WHEN role = 1 THEN nb$i.k ELSE k END AS clean_key,
           |    CASE WHEN role = 1 THEN nb$i.nm ELSE nm END AS clean_name
           |  FROM l WHERE nb$i IS NOT NULL AND nb$i.role <> role"""
          .stripMargin).mkString("\n  UNION ALL\n")
      s"""WITH u AS (
         |  SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nk,
         |    c_mktsegment AS seg, 0 AS role FROM customer
         |  UNION ALL
         |  SELECT c_custkey, 'Customer#' || reverse(substr(c_name, 10, 9)),
         |    c_nationkey, c_mktsegment, 1 FROM customer),
         |us AS (SELECT u.*, ${sortedDigitsExpr("nm")} AS sdk FROM u),
         |l AS (
         |  SELECT us.*,
         |    $leads
         |  FROM us WINDOW w AS (PARTITION BY nk, seg
         |    ORDER BY sdk, nm, role, k)),
         |pr AS (
         |$unions),
         |scored AS (
         |  SELECT nk, dirty_key, clean_key,
         |    CAST(round(jaro_winkler_similarity(dirty_name, clean_name),
         |      6) AS DECIMAL(8,6)) AS jw
         |  FROM pr),
         |t1 AS (
         |  SELECT nk, dirty_key, clean_key, jw,
         |    row_number() OVER (PARTITION BY dirty_key
         |      ORDER BY jw DESC, clean_key ASC) AS rn
         |  FROM scored),
         |best AS (SELECT * FROM t1 WHERE rn = 1),
         |tot AS (
         |  SELECT c_nationkey AS nk, COUNT(*) AS n_dirty
         |  FROM customer GROUP BY 1)
         |SELECT b.nk AS c_nationkey, t.n_dirty, COUNT(*) AS n_matched,
         |  CAST(SUM(CASE WHEN clean_key = dirty_key THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  round(COUNT(*)::DOUBLE / t.n_dirty, 6) AS coverage,
         |  round(SUM(CASE WHEN clean_key = dirty_key THEN 1 ELSE 0 END)
         |    ::DOUBLE / COUNT(*), 6) AS top1_accuracy,
         |  round(SUM(jw)::DOUBLE / COUNT(*), 6) AS avg_top1_jw
         |FROM best b JOIN tot t ON t.nk = b.nk
         |GROUP BY b.nk, t.n_dirty ORDER BY b.nk""".stripMargin
    },

    // same blocked pairs (shared erOracleCtes) + DuckDB's own
    // jaro_winkler_similarity (fuzz-proven bit-equal to the native
    // expression), same decimal threshold grid, same rounded-P/R F1
    "q_er_threshold_sweep" ->
      s"""WITH $erOracleCtes,
        |pairs AS (
        |  SELECT dirty_key, clean_key,
        |    CAST(round(jaro_winkler_similarity(dirty_name, clean_name),
        |      6) AS DECIMAL(8,6)) AS jw
        |  FROM cand),
        |sw AS (
        |  SELECT p.*, t.tau FROM pairs p CROSS JOIN (
        |    SELECT unnest([CAST(0.90 AS DECIMAL(8,6)),
        |      CAST(0.95 AS DECIMAL(8,6)), CAST(0.96 AS DECIMAL(8,6)),
        |      CAST(0.97 AS DECIMAL(8,6)), CAST(0.98 AS DECIMAL(8,6))])
        |      AS tau) t),
        |g AS (
        |  SELECT tau,
        |    CAST(SUM(CASE WHEN jw >= tau THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_predicted,
        |    CAST(SUM(CASE WHEN dirty_key = clean_key THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_true,
        |    CAST(SUM(CASE WHEN jw >= tau AND dirty_key = clean_key
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
        |  FROM sw GROUP BY tau),
        |pr AS (
        |  SELECT g.*,
        |    CASE WHEN n_predicted > 0
        |      THEN round(CAST(n_tp AS DOUBLE) / n_predicted, 6)
        |    END AS precision_r,
        |    CASE WHEN n_true > 0
        |      THEN round(CAST(n_tp AS DOUBLE) / n_true, 6)
        |    END AS recall_r
        |  FROM g)
        |SELECT CAST(tau AS DOUBLE) AS tau, n_predicted, n_tp, n_true,
        |  precision_r AS "precision", recall_r AS recall,
        |  CASE WHEN precision_r + recall_r > 0.0::DOUBLE
        |    THEN round(2.0::DOUBLE * precision_r * recall_r /
        |      (precision_r + recall_r), 6)
        |  END AS f1
        |FROM pr ORDER BY tau""".stripMargin,

    // same top-5 stopword derivation, same cumulative-stopword run ids,
    // same DECIMAL(12,6) word scores and exact-decimal top-20 cut
    "q_rake_keyphrases" ->
      s"""WITH d AS ($docsW),
        |posts AS (
        |  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos
        |  FROM d),
        |sw AS (
        |  SELECT tok AS swt FROM (
        |    SELECT tok, COUNT(*) AS c FROM posts GROUP BY tok
        |    ORDER BY c DESC, tok ASC LIMIT 5)),
        |fl AS (
        |  SELECT p.doc_id, p.pos, p.tok, (s.swt IS NOT NULL) AS is_stop
        |  FROM posts p LEFT JOIN sw s ON s.swt = p.tok),
        |runs AS (
        |  SELECT doc_id, pos, tok, is_stop,
        |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY doc_id ORDER BY pos) AS seg
        |  FROM fl),
        |ph AS (
        |  SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    COUNT(*) AS len
        |  FROM runs WHERE NOT is_stop GROUP BY doc_id, seg),
        |ws AS (
        |  SELECT wd, CAST(round(CAST(SUM(len) AS BIGINT)::DOUBLE /
        |    COUNT(*), 6) AS DECIMAL(12,6)) AS wscore
        |  FROM (SELECT len, unnest(string_split(phrase, ' ')) AS wd FROM ph)
        |  GROUP BY wd),
        |dp AS (SELECT phrase, COUNT(*) AS n_occ FROM ph GROUP BY phrase),
        |pw AS (
        |  SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS wd
        |  FROM dp),
        |psc AS (
        |  SELECT pw.phrase, pw.n_occ, COUNT(*) AS n_words,
        |    SUM(ws.wscore) AS sc
        |  FROM pw JOIN ws USING (wd)
        |  GROUP BY pw.phrase, pw.n_occ)
        |SELECT phrase, n_occ, n_words, round(sc::DOUBLE, 6) AS score
        |FROM psc ORDER BY sc DESC, phrase ASC LIMIT 20""".stripMargin,

    // same encode chain as q_bigram_lm, same densified 17x17 smoothed
    // model, same seed, same 8 unrolled argmax steps with the v-asc
    // tiebreak, same vocab decode
    "q_greedy_decode" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ty AS (SELECT u.t AS w, COUNT(*) AS c
        |  FROM d, unnest(d.w) u(t) GROUP BY 1),
        |vocab AS (SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS vid
        |  FROM (SELECT w, c FROM ty ORDER BY c DESC, w ASC LIMIT 16)),
        |tok AS (SELECT doc_id, unnest(w) AS t,
        |  generate_subscripts(w, 1) AS pos FROM d),
        |m AS (SELECT tok.doc_id, tok.pos, COALESCE(v.vid, 0) AS vid
        |  FROM tok LEFT JOIN vocab v ON v.w = tok.t),
        |bgs AS (SELECT a.doc_id, a.vid * 17 + b.vid AS bg
        |  FROM m a JOIN m b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |cbg AS (SELECT bg, COUNT(*) AS cbg FROM bgs GROUP BY 1),
        |ctx AS (SELECT bg // 17 AS u, SUM(cbg) AS cctx FROM cbg GROUP BY 1),
        |uni AS (SELECT vid, COUNT(*) AS c1 FROM m GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_corpus FROM m),
        |grid AS (SELECT gu.range AS u, gv.range AS v
        |  FROM range(0, 17) gu CROSS JOIN range(1, 17) gv),
        |dense AS (SELECT g.u, g.v,
        |    0.75::DOUBLE * ((COALESCE(cb.cbg, 0) + 1.0::DOUBLE)
        |      / (COALESCE(cx.cctx, 0) + 17.0::DOUBLE))
        |    + 0.25::DOUBLE * ((COALESCE(un.c1, 0) + 1.0::DOUBLE)
        |      / ((SELECT n_corpus FROM n) + 17.0::DOUBLE)) AS p
        |  FROM grid g
        |  LEFT JOIN (SELECT bg // 17 AS u, bg % 17 AS v, cbg FROM cbg) cb
        |    ON cb.u = g.u AND cb.v = g.v
        |  LEFT JOIN ctx cx ON cx.u = g.u
        |  LEFT JOIN uni un ON un.vid = g.v),
        |s0 AS (SELECT vid AS u FROM uni WHERE vid >= 1
        |  ORDER BY c1 DESC, vid ASC LIMIT 1),
        |n1 AS (SELECT dd.v, dd.p FROM dense dd JOIN s0 ON dd.u = s0.u
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n2 AS (SELECT dd.v, dd.p FROM dense dd JOIN n1 ON dd.u = n1.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n3 AS (SELECT dd.v, dd.p FROM dense dd JOIN n2 ON dd.u = n2.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n4 AS (SELECT dd.v, dd.p FROM dense dd JOIN n3 ON dd.u = n3.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n5 AS (SELECT dd.v, dd.p FROM dense dd JOIN n4 ON dd.u = n4.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n6 AS (SELECT dd.v, dd.p FROM dense dd JOIN n5 ON dd.u = n5.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n7 AS (SELECT dd.v, dd.p FROM dense dd JOIN n6 ON dd.u = n6.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |n8 AS (SELECT dd.v, dd.p FROM dense dd JOIN n7 ON dd.u = n7.v
        |  ORDER BY dd.p DESC, dd.v ASC LIMIT 1),
        |chain AS (
        |  SELECT CAST(0 AS BIGINT) AS step, CAST(u AS BIGINT) AS token_id,
        |    NULL::DOUBLE AS p FROM s0
        |  UNION ALL SELECT 1, CAST(v AS BIGINT), p FROM n1
        |  UNION ALL SELECT 2, CAST(v AS BIGINT), p FROM n2
        |  UNION ALL SELECT 3, CAST(v AS BIGINT), p FROM n3
        |  UNION ALL SELECT 4, CAST(v AS BIGINT), p FROM n4
        |  UNION ALL SELECT 5, CAST(v AS BIGINT), p FROM n5
        |  UNION ALL SELECT 6, CAST(v AS BIGINT), p FROM n6
        |  UNION ALL SELECT 7, CAST(v AS BIGINT), p FROM n7
        |  UNION ALL SELECT 8, CAST(v AS BIGINT), p FROM n8)
        |SELECT c.step, c.token_id, COALESCE(v.w, '<unk>') AS token,
        |  round(c.p, 6) AS p
        |FROM chain c LEFT JOIN vocab v ON v.vid = c.token_id
        |ORDER BY c.step""".stripMargin,

    // same sorted dictionary, same 16-term block restarts, same monotone
    // prefix-equality LCP count, same 2-byte-overhead cost model
    "q_dict_compression" ->
      """WITH terms AS (SELECT DISTINCT c_name AS term FROM customer),
        |r AS (
        |  SELECT term,
        |    row_number() OVER (ORDER BY term ASC) AS rank,
        |    lag(term, 1) OVER (ORDER BY term ASC) AS prev
        |  FROM terms),
        |l AS (
        |  SELECT term,
        |    CASE WHEN prev IS NULL OR (rank - 1) % 16 = 0
        |      OR least(length(term), length(prev)) < 1 THEN 0
        |    ELSE COALESCE(list_sum(list_transform(
        |      range(1, least(length(term), length(prev)) + 1),
        |      i -> CASE WHEN substr(term, 1, i) = substr(prev, 1, i)
        |        THEN 1 ELSE 0 END)), 0) END AS lcp
        |  FROM r)
        |SELECT COUNT(*) AS n_terms,
        |  CAST(SUM(length(term)) AS BIGINT) AS raw_bytes,
        |  CAST(SUM(length(term) - lcp + 2) AS BIGINT) AS coded_bytes,
        |  CAST(SUM(lcp) AS BIGINT) AS lcp_bytes_saved,
        |  round(CAST(SUM(length(term) - lcp + 2) AS DOUBLE)
        |    / SUM(length(term)), 6) AS ratio
        |FROM l""".stripMargin,

    // same declared perturbation injection, same lower/collapse/trim
    // canonicalization, same exact distinct counts
    "q_text_normalize" ->
      """WITH noisy AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    upper(replace(text, ' ', '  ')) || ' ' AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |al AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM noisy),
        |norm AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS ntext
        |  FROM al)
        |SELECT COUNT(*) AS n_docs,
        |  COUNT(DISTINCT text) AS n_distinct_raw,
        |  COUNT(DISTINCT ntext) AS n_distinct_norm,
        |  COUNT(DISTINCT text) - COUNT(DISTINCT ntext) AS n_merged_by_norm,
        |  CAST(SUM(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_injected
        |FROM norm""".stripMargin,

    // q_winnowing's oracle: identical shingle hashes (house md5 coin),
    // identical BIGINT key encode / window-min / decode, same cap and
    // pair algebra.
    "q_winnowing" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 6),
        |g AS (
        |  SELECT doc_id, list_transform(range(0, len(w) - 2),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS gr FROM d),
        |h AS (
        |  SELECT doc_id, list_transform(gr,
        |    s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hw FROM g),
        |k AS (
        |  SELECT doc_id, list_transform(range(0, len(hw)),
        |    i -> hw[i+1] * 65536 + (65535 - i)) AS keys FROM h),
        |f AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(keys) - 2),
        |    p -> list_min(keys[p:p+3]) // 65536)) AS fps FROM k),
        |pd AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |hot AS (SELECT fp FROM pd GROUP BY fp HAVING COUNT(*) <= 128),
        |cp AS (SELECT pd.doc_id, pd.fp FROM pd JOIN hot USING (fp)),
        |nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
        |       FROM cp GROUP BY 1),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM cp a JOIN cp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT pr.doc_a, pr.doc_b, pr.n_shared,
        |  na.nfp AS nfp_a, nb.nfp AS nfp_b,
        |  round(CAST(pr.n_shared AS DOUBLE) /
        |    CAST(na.nfp + nb.nfp - pr.n_shared AS DOUBLE), 6)
        |    AS resemblance
        |FROM pr JOIN nf na ON pr.doc_a = na.doc_id
        |        JOIN nf nb ON pr.doc_b = nb.doc_id
        |WHERE pr.n_shared >= 3
        |ORDER BY pr.n_shared DESC, pr.doc_a, pr.doc_b
        |LIMIT 20""".stripMargin,

    // q_label_propagation's oracle: identical vocab/top-64-edge
    // construction, the same 4 synchronous rounds as MATERIALIZED CTEs
    // with the same (count DESC, label ASC) tie-break.
    "q_label_propagation" -> {
      val rounds = (1 to 4).map { r =>
        val prev = s"l${r - 1}"
        s"""v$r AS MATERIALIZED (
           |  SELECT u.w1 AS w, p.lbl, COUNT(*) AS c
           |  FROM und u JOIN $prev p ON p.w = u.w2 GROUP BY 1, 2),
           |b$r AS MATERIALIZED (
           |  SELECT w, lbl FROM (
           |    SELECT w, lbl, ROW_NUMBER() OVER (PARTITION BY w
           |      ORDER BY c DESC, lbl ASC) AS rn FROM v$r)
           |  WHERE rn = 1),
           |l$r AS MATERIALIZED (
           |  SELECT p.w, COALESCE(b.lbl, p.lbl) AS lbl
           |  FROM $prev p LEFT JOIN b$r b ON b.w = p.w)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
         |tok AS (SELECT unnest(w) AS w FROM d),
         |vocab AS (SELECT w, c FROM (
         |  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
         |  ORDER BY c DESC, w ASC LIMIT 32) v),
         |big AS (SELECT unnest(list_transform(range(1, len(w)),
         |    i -> w[i] || ' ' || w[i+1])) AS bg
         |  FROM d WHERE len(w) >= 2),
         |sp AS (SELECT string_split(bg, ' ')[1] AS w1,
         |  string_split(bg, ' ')[2] AS w2 FROM big),
         |ec AS (SELECT w1, w2, COUNT(*) AS n FROM sp
         |  JOIN vocab v1 ON w1 = v1.w JOIN vocab v2 ON w2 = v2.w
         |  WHERE w1 <> w2 GROUP BY 1, 2),
         |etop AS (SELECT w1, w2 FROM (SELECT w1, w2, n,
         |  ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2) AS rn FROM ec)
         |  WHERE rn <= 64),
         |und AS MATERIALIZED (SELECT w1, w2 FROM etop
         |  UNION SELECT w2 AS w1, w1 AS w2 FROM etop),
         |l0 AS MATERIALIZED (SELECT w, w AS lbl FROM vocab),
         |$rounds,
         |sz AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
         |       FROM l4 GROUP BY 1)
         |SELECT l.w AS word, l.lbl AS community, sz.community_size
         |FROM l4 l JOIN sz ON sz.lbl = l.lbl
         |ORDER BY l.w""".stripMargin
    },

    // q_rocchio's oracle: identical self-derived query, feedback cut,
    // rounded weights, and canonical sorted folds at every float sum.
    "q_rocchio" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
        |       FROM tok),
        |terms AS (SELECT w FROM (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS ctf FROM tok GROUP BY w
        |  ORDER BY ctf DESC, w ASC LIMIT 3)),
        |idf AS (
        |  SELECT df.w, ln(CAST(nd.n AS DOUBLE) / CAST(df.df AS DOUBLE))
        |    AS idf
        |  FROM (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM tok GROUP BY w) df CROSS JOIN nd),
        |tfidf AS (
        |  SELECT tf.doc_id, tf.w, tf.tf, idf.idf
        |  FROM (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
        |        FROM tok GROUP BY 1, 2) tf
        |  JOIN idf ON idf.w = tf.w),
        |s0 AS (
        |  SELECT doc_id,
        |    round(list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(CAST(tf AS DOUBLE) * idf))),
        |      (a, v) -> a + v), 6) AS score0
        |  FROM tfidf JOIN terms USING (w)
        |  GROUP BY doc_id),
        |fb AS (SELECT doc_id, score0 FROM s0
        |       ORDER BY score0 DESC, doc_id ASC LIMIT 5),
        |cent AS (
        |  SELECT w,
        |    list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(CAST(tf AS DOUBLE) * idf))),
        |      (a, v) -> a + v) / 5.0::DOUBLE AS cent,
        |    MAX(idf) AS idf
        |  FROM tfidf JOIN fb USING (doc_id)
        |  GROUP BY w),
        |top8 AS (
        |  SELECT w,
        |    round(CASE WHEN t.w IS NOT NULL THEN idf
        |      ELSE 0.0::DOUBLE END + 0.75::DOUBLE * cent, 6) AS wt
        |  FROM cent LEFT JOIN terms t USING (w)
        |  ORDER BY wt DESC, w ASC LIMIT 8),
        |s1 AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
        |    round(list_reduce(list_concat([0.0::DOUBLE],
        |      list_sort(list(wt * CAST(tf AS DOUBLE) * idf))),
        |      (a, v) -> a + v), 6) AS score1
        |  FROM tfidf JOIN top8 USING (w)
        |  GROUP BY doc_id)
        |SELECT s1.doc_id,
        |  COALESCE(s0.score0, 0.0::DOUBLE) AS score_initial,
        |  s1.score1 AS score_rocchio, s1.n_hit,
        |  (fb.doc_id IS NOT NULL) AS was_feedback
        |FROM s1 LEFT JOIN s0 ON s0.doc_id = s1.doc_id
        |LEFT JOIN fb ON fb.doc_id = s1.doc_id
        |ORDER BY s1.score1 DESC, s1.doc_id ASC
        |LIMIT 10""".stripMargin)

  /** q_ppmi_svd's oracle: same deterministic vocab, same 12×12 PPMI
    * grid, 4 unrolled power steps — each component a list_reduce over
    * the token-sorted 12-term product list, seeded with 0.0 so the fold
    * order matches Spark's `aggregate` exactly. */
  private def ppmiSvdOracle: String = {
    val steps = (1 to 4).map { i =>
      s"""st$i AS (
         |  SELECT a, ra, ma,
         |    list_reduce(list_concat([CAST(0 AS DOUBLE)],
         |      list_transform(range(1, 13), i -> ma[i] * v[i])),
         |      (p, q) -> p + q) AS nv
         |  FROM rws CROSS JOIN v${i - 1}),
         |v$i AS (SELECT list(nv ORDER BY a) AS v FROM st$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS ($docsW),
       |big AS (
       |  SELECT unnest(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i+1])) AS bg
       |  FROM d WHERE len(w) >= 2),
       |sp AS (
       |  SELECT string_split(bg, ' ')[1] AS w1,
       |    string_split(bg, ' ')[2] AS w2
       |  FROM big),
       |words AS (SELECT unnest(string_split(text, ' ')) AS tok
       |          FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS freq FROM words GROUP BY tok
       |          ORDER BY freq DESC, tok LIMIT 12),
       |sym AS (SELECT w1 AS a, w2 AS b FROM sp
       |        UNION ALL SELECT w2 AS a, w1 AS b FROM sp),
       |c AS (SELECT a, b, COUNT(*) AS cab FROM sym
       |      JOIN vocab va ON sym.a = va.tok
       |      JOIN vocab vb ON sym.b = vb.tok
       |      GROUP BY a, b),
       |grid AS (
       |  SELECT va.tok AS a, vb.tok AS b, COALESCE(c.cab, 0) AS cab
       |  FROM vocab va CROSS JOIN vocab vb
       |  LEFT JOIN c ON c.a = va.tok AND c.b = vb.tok),
       |mra AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ra
       |        FROM grid GROUP BY a),
       |tt AS (SELECT CAST(SUM(cab) AS BIGINT) AS tt FROM grid),
       |m AS (
       |  SELECT g.a, g.b, mra.ra,
       |    CASE WHEN g.cab > 0 AND mra.ra > 0 AND rb.ra > 0 THEN
       |      greatest(CAST(0 AS DOUBLE), ln(CAST(g.cab AS DOUBLE) *
       |        CAST(tt.tt AS DOUBLE) / (CAST(mra.ra AS DOUBLE) *
       |        CAST(rb.ra AS DOUBLE))))
       |    ELSE CAST(0 AS DOUBLE) END AS ppmi
       |  FROM grid g JOIN mra ON mra.a = g.a
       |  JOIN mra rb ON rb.a = g.b CROSS JOIN tt),
       |rws AS (
       |  SELECT a, MAX(ra) AS ra, list(ppmi ORDER BY b) AS ma
       |  FROM m GROUP BY a),
       |v0 AS (SELECT list_transform(list(a ORDER BY a),
       |         x -> CAST(1 AS DOUBLE)) AS v FROM rws),
       |$steps,
       |mx AS (SELECT list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |         list(abs(nv) ORDER BY a)),
       |         (p, q) -> greatest(p, q)) AS vmax FROM st4)
       |SELECT a AS token, ra AS cooc_total,
       |  round(nv / vmax, 6) AS loading
       |FROM st4 CROSS JOIN mx ORDER BY token""".stripMargin
  }

  /** q_log_odds_monroe's (δ, σ²) texts — ENGINE-NEUTRAL (CAST/ln/sqrt
    * parse and evaluate identically in Spark and DuckDB), shared
    * verbatim by the query and its oracle. */
  private def monroeTexts: (String, String) = {
    val aw = "(CAST(100 AS DOUBLE) * CAST(cw AS DOUBLE) " +
      "/ CAST(ctot AS DOUBLE))"
    val dl = s"(ln((CAST(ya AS DOUBLE) + $aw) / (CAST(na AS DOUBLE) " +
      s"+ CAST(100 AS DOUBLE) - CAST(ya AS DOUBLE) - $aw)) " +
      s"- ln((CAST(yb AS DOUBLE) + $aw) / (CAST(nb AS DOUBLE) " +
      s"+ CAST(100 AS DOUBLE) - CAST(yb AS DOUBLE) - $aw)))"
    val s2 = s"(CAST(1 AS DOUBLE) / (CAST(ya AS DOUBLE) + $aw) " +
      s"+ CAST(1 AS DOUBLE) / (CAST(yb AS DOUBLE) + $aw))"
    (dl, s2)
  }

  /** q_log_odds_monroe's oracle: same vocab cut, same counts, the
    * SAME (δ, σ²) texts via [[monroeTexts]]. */
  private def logOddsMonroeOracle: String = {
    val (dl, s2) = monroeTexts
    s"""WITH words AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS cw FROM words GROUP BY tok
       |          ORDER BY cw DESC, tok LIMIT 32),
       |pt AS (
       |  SELECT tok, MAX(cw) AS cw,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ya,
       |    CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS yb
       |  FROM words JOIN vocab USING (tok) GROUP BY tok),
       |tots AS (SELECT CAST(SUM(ya) AS BIGINT) AS na,
       |  CAST(SUM(yb) AS BIGINT) AS nb,
       |  CAST(SUM(cw) AS BIGINT) AS ctot FROM pt)
       |SELECT tok AS token, cw AS corpus_count, ya AS count_en,
       |  yb AS count_rest,
       |  round($dl, 6) AS log_odds_delta,
       |  round($dl / sqrt($s2), 6) AS z_score
       |FROM pt CROSS JOIN tots ORDER BY token""".stripMargin
  }

  /** q_nmf_topics' oracle: same bucketed matrix, same deterministic
    * init, 3 unrolled alternating multiplicative rounds — every Σ_t /
    * Σ_b a seeded list_reduce in index order, the same 10⁻⁹ ridge in
    * each (WH) denominator. */
  private def nmfTopicsOracle: String = {
    val eps = "CAST(1 AS DOUBLE) / 1000000000"
    def wh(w1: String, w2: String) =
      s"($w1[i] * h1[t] + $w2[i] * h2[t] + $eps)"
    def fold(terms: String) =
      s"list_reduce(list_concat([CAST(0 AS DOUBLE)], $terms), " +
        "(acc, v) -> acc + v)"
    def wUpd(k: Int): String =
      s"""list_transform(range(1, 17), i ->
         |  wa$k[i] * ${fold(s"list_transform(range(1, 13), t -> " +
        s"xm[i][t] * h$k[t] / ${wh("wa1", "wa2")})")}
         |  / ${fold(s"h$k")})""".stripMargin
    def hUpd(k: Int): String =
      s"""list_transform(range(1, 13), t ->
         |  h$k[t] * ${fold(s"list_transform(range(1, 17), i -> " +
        s"xm[i][t] * nw$k[i] / ${wh("nw1", "nw2")})")}
         |  / ${fold(s"nw$k")})""".stripMargin
    val rounds = (1 to 3).map { r =>
      s"""r${r}w AS (
         |  SELECT xm, toks, h1, h2,
         |    ${wUpd(1)} AS nw1,
         |    ${wUpd(2)} AS nw2
         |  FROM ${if (r == 1) "s0" else s"r${r - 1}"}),
         |r$r AS (
         |  SELECT xm, toks, nw1 AS wa1, nw2 AS wa2,
         |    ${hUpd(1)} AS h1,
         |    ${hUpd(2)} AS h2
         |  FROM r${r}w)""".stripMargin
    }.mkString(",\n")
    s"""WITH words AS (
       |  SELECT doc_id % 16 AS b, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS freq FROM words GROUP BY tok
       |          ORDER BY freq DESC, tok LIMIT 12),
       |xc AS (SELECT b, tok, COUNT(*) AS x FROM words
       |       JOIN vocab USING (tok) GROUP BY b, tok),
       |bs AS (SELECT CAST(range AS BIGINT) AS b FROM range(0, 16)),
       |grid AS (
       |  SELECT bs.b, v.tok, CAST(COALESCE(xc.x, 0) AS DOUBLE) AS xd
       |  FROM bs CROSS JOIN vocab v
       |  LEFT JOIN xc ON xc.b = bs.b AND xc.tok = v.tok),
       |xr AS (SELECT b, list(xd ORDER BY tok) AS xs FROM grid GROUP BY b),
       |s0 AS (
       |  SELECT (SELECT list(xs ORDER BY b) FROM xr) AS xm,
       |    (SELECT list(tok ORDER BY tok) FROM vocab) AS toks,
       |    list_transform(range(1, 13), t -> CAST(1 AS DOUBLE)
       |      + CAST(t AS DOUBLE) / CAST(100 AS DOUBLE)) AS h1,
       |    list_transform(range(1, 13), t -> CAST(1 AS DOUBLE)
       |      - CAST(t AS DOUBLE) / CAST(100 AS DOUBLE)) AS h2,
       |    list_transform(range(1, 17), b -> CAST(1 AS DOUBLE)) AS wa1,
       |    list_transform(range(1, 17), b -> CAST(1 AS DOUBLE)) AS wa2),
       |$rounds,
       |fin AS (
       |  SELECT toks, h1, h2,
       |    ${fold("h1")} AS sh1,
       |    ${fold("h2")} AS sh2
       |  FROM r3)
       |SELECT toks[pos] AS token,
       |  round(h1[pos] / sh1, 6) AS topic1_weight,
       |  round(h2[pos] / sh2, 6) AS topic2_weight,
       |  CASE WHEN round(h1[pos] / sh1, 6) >= round(h2[pos] / sh2, 6)
       |    THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS lead_topic
       |FROM fin CROSS JOIN range(1, 13) r(pos)
       |ORDER BY token""".stripMargin
  }
}
