package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** Similarity search over `embeddings(vec_id, embedding ARRAY<FLOAT>,
  * label)`. Cosine arithmetic is built from array higher-order
  * functions (`zip_with` + `aggregate`) with every element cast to
  * double *before* multiplying, and left-to-right summation — the same
  * expression shape the SQL oracle uses, so both engines produce
  * bit-identical doubles.
  *
  * Scale design (100 TB of vectors):
  *  - brute-force top-k: the query set broadcasts; candidates stream
  *    through a BroadcastNestedLoopJoin — one pass over the corpus, no
  *    shuffle of the big side, O(|Q|) work per vector. The correct
  *    baseline (and the exact-answer path) at any scale.
  *  - sign-LSH top-k: a `bits`-dim random-hyperplane sketch (here: the
  *    signs of the leading dimensions — deterministic, so the oracle can
  *    mirror it) turns the nested loop into an equi-join on bucket id:
  *    candidates shrink ~2^bits-fold at the cost of recall. The
  *    bucket-join is shuffle-keyed, never all-pairs.
  *  - near-dup pairs: same sketch, self-joined bucket-keyed, then exact
  *    cosine rerank ≥ threshold.
  */
object Similarity {

  /** Σ aᵢ·bᵢ with per-element double casts, summed left-to-right —
    * compiled via the native [[graft.functions.FloatVecDot]] codegen
    * expression (numerically identical to the HOF composition
    * `aggregate(zip_with(a,b,(x,y) -> double(x)*double(y)), 0.0, +)`
    * it replaced, but a tight primitive loop: no per-pair intermediate
    * array). Callers must have run [[graft.functions.GraftFunctions
    * .ensureRegistered]] on the session first — every public entry
    * point here does.
    */
  def dot(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.VecDotName, a, b)

  /** ‖v‖₂ (double). */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Sign sketch of the leading `bits` dimensions:
    * Σ_{i<bits} (v[i] > 0) << i. A deterministic stand-in for a seeded
    * random-hyperplane LSH (planes = coordinate axes).
    */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits)
      .map(i => when(element_at(v, i + 1) > 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Sentinel for `bits` parameters: size the sketch to the corpus at
    * plan time (see [[derivedBits]]) instead of trusting a constant.
    */
  val DeriveBits: Int = 0

  /** The smallest sketch width whose EXPECTED bucket width
    * `n / 2^bits` is ≤ `targetBucketWidth`, clamped to `[1, maxBits]`
    * — 2²⁰ buckets bound any corpus's expected width at ≤ n/2²⁰
    * while keeping the bucket id comfortably in an int. A constant
    * default cannot be scale-safe (4 buckets on a 10⁹-vector corpus
    * puts ~2.5·10⁸ vectors in one bucket and squares inside it);
    * deriving from n is.
    */
  def derivedBits(n: Long, targetBucketWidth: Int = 64, maxBits: Int = 20): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketWidth)) / math.log(2.0)).toInt
    math.max(1, math.min(maxBits, needed))
  }

  /** `bits` if explicit, else [[derivedBits]] of the corpus row count,
    * further capped by the MINIMUM embedding dimension (the sketch
    * reads leading dimensions; ANSI `element_at` past the end would
    * throw, so a ragged corpus must be sized by its shortest vector,
    * and a NULL embedding must not throw at plan time). Costs ONE
    * aggregate job (count + null-filtered min) — metadata-cheap next
    * to the pair join it sizes; callers that know their corpus pass
    * `bits` explicitly and skip it.
    */
  private def resolveBits(emb: DataFrame, bits: Int): Int =
    if (bits > 0) bits
    else {
      val row = emb.agg(
        count(lit(1)).as("n"),
        min(size(col("embedding"))).as("min_dim")).head()
      if (row.getLong(0) == 0L || row.isNullAt(1)) 1 // empty / all-NULL corpus
      else math.max(1, math.min(row.getInt(1), derivedBits(row.getLong(0))))
    }

  /** Exact brute-force cosine top-k against an EXPLICIT query set —
    * the production entry point: `queries(query_id, qv)` is any
    * broadcast-small frame (external probe vectors, a sampled slice,
    * …); every corpus vector is scored against each query in one
    * corpus pass. Emits (query_id, rank, vec_id, sim).
    */
  /** Per-query bounded top-k via the [[graft.functions.TopKAgg]]
    * aggregate: partial k-heaps combine map-side, so the shuffle
    * carries at most k rows per (query × map partition). Honest
    * comparison: Spark's own WindowGroupLimit (Partial+Final) gives
    * the rank-filter window the SAME shuffle bound since 3.5 — the
    * aggregate form is preferred here because it also skips the
    * per-partition sort (heap insert is O(log k) vs sort O(n log n)
    * of the k·partitions merged rows), returns the ranked list as a
    * value (composable into further aggregation without a second
    * window), and pins the bound in the plan explicitly
    * (ObjectHashAggregate — asserted) rather than relying on an
    * optimizer rewrite firing. Identical results: (sim DESC, vec_id
    * ASC) is a total order.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(call_function(graft.functions.GraftFunctions.TopKName,
        col("sim"), col("vec_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("vec_id"), col("col.score").as("sim"))

  /** `excludeSelf` exists because self-exclusion is only meaningful
    * when the query ids live in the CORPUS id space (the convenience
    * overloads): applying `vec_id =!= query_id` to EXTERNAL queries
    * would silently drop any corpus vector whose id happens to collide
    * with a query id — even its true nearest neighbor.
    */
  private def bruteForce(
      emb: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val q = queries.select(col("query_id"), col("qv"), l2norm(col("qv")).as("qn"))
    val cand = TextDedup.spread(emb, "vec_id")
      .select(col("vec_id"), col("embedding").as("cv"),
        l2norm(col("embedding")).as("cn"))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    topK(
      cand
        .join(broadcast(q), joinCond)
        .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      k)
  }

  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    bruteForce(emb, queries, k, excludeSelf = false)

  /** Convenience/test form: vectors with vec_id < nQueries are the
    * query set (the harness convention on the embeddings table); each
    * query's own corpus row is excluded from its results.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame =
    bruteForce(emb,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      k, excludeSelf = true)

  /** Matryoshka prefix-dimension retrieval (Kusupati et al.,
    * NeurIPS'22 — MRL embeddings): candidates rank by cosine over the
    * FIRST `prefixDims` dimensions only (MRL training packs the
    * coarse semantics there), then the top-`nCandidates` pool reranks
    * by full-dimension cosine for the final k. The serving point:
    * stage 1 touches `prefixDims/dims` of every vector's bytes — at
    * 16/64 that is 4× less memory bandwidth on the corpus-sized scan,
    * which is the whole cost of brute-force retrieval — and stage 2's
    * full-width work is `nCandidates` rows per query. Both stages are
    * the same certified shapes (bounded `graft_topk` heap; per-query
    * window over the pool), and both cosines are the shared
    * j=1..d IEEE fold, so q149 hash-compares with no band. Output:
    * `(query_id, rnk, vec_id, sim_prefix, sim)` — rnk by FULL sim
    * within the pool (ties vec_id), `sim_prefix` kept as the
    * stage-1 evidence.
    */
  def matryoshkaTopK(
      emb: DataFrame,
      prefixDims: Int = 16,
      nQueries: Int = 5,
      nCandidates: Int = 20,
      k: Int = 5): DataFrame = {
    require(prefixDims >= 1, "prefixDims must be positive")
    require(k >= 1 && k <= nCandidates, "need 1 <= k <= nCandidates")
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    import org.apache.spark.sql.expressions.Window
    def pre(c: Column): Column = slice(c, 1, prefixDims)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .select(col("query_id"), col("qv"), l2norm(col("qv")).as("qn"),
        pre(col("qv")).as("qp"), l2norm(pre(col("qv"))).as("qpn"))
    val pool = TextDedup.spread(emb, "vec_id")
      .select(col("vec_id"), pre(col("embedding")).as("pv"),
        l2norm(pre(col("embedding"))).as("pn"))
      .join(broadcast(q.select(col("query_id"), col("qp"), col("qpn"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("sim_prefix",
        dot(col("qp"), col("pv")) / (col("qpn") * col("pn")))
      .groupBy(col("query_id"))
      .agg(call_function(graft.functions.GraftFunctions.TopKName,
        col("sim_prefix"), col("vec_id"), lit(nCandidates)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("sim_prefix"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    pool
      .join(emb.select(col("vec_id"), col("embedding").as("cv")),
        Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        Seq("query_id"))
      .withColumn("sim",
        dot(col("qv"), col("cv")) / (col("qn") * l2norm(col("cv"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        col("sim_prefix"), col("sim"))
  }

  /** MMR-diversified rerank (Maximal Marginal Relevance — Carbonell &
    * Goldstein, SIGIR'98): from each query's top-`nCandidates` cosine
    * pool, greedily select `k` results maximizing
    * `λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s)` — the standard
    * second-stage rerank that stops near-duplicate hits from filling
    * the whole result list (a dup-heavy corpus returns k copies of
    * one document under pure relevance). rnk is SELECTION order;
    * `mmr` is the score that won each step (step 1 = pure relevance).
    *
    * Scale shape: the corpus pays exactly one [[bruteForceTopK]]
    * pass (swap in any certified ANN front end for the pool at 10⁹
    * vectors); everything after runs on the checkpointed
    * nQueries × nCandidates pool — the k−1 greedy steps are
    * anti-join + penalty-max + per-query window over ≤ nCandidates
    * rows each, never touching the corpus. Determinism: `max` over
    * penalty doubles is order-free, the score is two fixed-order
    * IEEE ops, ties break by vec_id — so q148 hash-compares against
    * the SQL-unrolled greedy with no band (pick a λ whose 1−λ is
    * exactly representable, e.g. 0.75, when cross-engine parity
    * matters — the oracle writes the same literals).
    */
  def mmrRerank(
      emb: DataFrame,
      nQueries: Int = 5,
      nCandidates: Int = 20,
      k: Int = 3,
      lambda: Double = 0.75): DataFrame = {
    require(k >= 1 && k <= nCandidates, "need 1 <= k <= nCandidates")
    require(lambda > 0.0 && lambda <= 1.0, "lambda must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    Checkpoints.scoped { s =>
      // pool-sized; read by every greedy step
      val cands = s.lazyFence(bruteForceTopK(emb, nQueries, nCandidates)
        .select(col("query_id"), col("vec_id"), col("sim").as("qsim"))
        .join(emb.select(col("vec_id"), col("embedding").as("cv")),
          Seq("vec_id"))
        .withColumn("cn", l2norm(col("cv"))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("mmr").desc, col("vec_id"))
      var selected = s.lazyFence(cands.withColumn("mmr", col("qsim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), lit(1L).as("rnk"), col("vec_id"),
          col("qsim"), col("mmr")))
      for (t <- 2 to k) {
        selected = s.advance(selected) { prev =>
          val selIds = prev.select(col("query_id"), col("vec_id"))
          // selected vectors read back from the pool — selections ARE
          // pool rows, so no vector columns ride the selection frame
          val selVecs = cands.join(selIds, Seq("query_id", "vec_id"))
            .select(col("query_id"), col("cv").as("sv"), col("cn").as("sn"))
          val next = cands
            .join(selIds, Seq("query_id", "vec_id"), "left_anti")
            .join(selVecs, Seq("query_id"))
            .withColumn("__ps", dot(col("cv"), col("sv")) /
              (col("cn") * col("sn")))
            .groupBy(col("query_id"), col("vec_id"), col("qsim"))
            .agg(max(col("__ps")).as("__pen"))
            .withColumn("mmr",
              lit(lambda) * col("qsim") - lit(1.0 - lambda) * col("__pen"))
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("query_id"), lit(t.toLong).as("rnk"), col("vec_id"),
              col("qsim"), col("mmr"))
          s.fence(prev.unionByName(next))
        }
      }
      selected
    }
  }

  /** Hard-negative mining for contrastive training (the DPR /
    * sentence-embedding data-prep shape — Karpukhin et al.,
    * EMNLP'20): for each query, the k MOST similar corpus vectors
    * whose label differs from the query's — the near-misses a
    * contrastive loss needs (random negatives are too easy; the
    * hard ones define the decision boundary). Exact PREFILTER
    * semantics: the label-mismatch predicate applies before the
    * top-k heap, so the result is the true top-k among negatives,
    * never a post-hoc filtered list that can come up short.
    *
    * Scale shape: identical to [[bruteForceTopK]] — one corpus scan
    * against the broadcast query set with the predicate fused into
    * the join condition (the scan's cost IS the retrieval cost;
    * the filter only shrinks heap traffic), bounded `graft_topk`
    * heap per query, label lookups by equi-join on report-sized
    * outputs. Swap any certified ANN front end in for the scan at
    * 10⁹ vectors.
    */
  def hardNegatives(
      emb: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("query_label"))
      .withColumn("qn", l2norm(col("qv")))
    val cand = TextDedup.spread(emb, "vec_id")
      .select(col("vec_id"), col("embedding").as("cv"),
        col("label").as("neg_label"), l2norm(col("embedding")).as("cn"))
    topK(
      cand.join(broadcast(q), col("neg_label") =!= col("query_label"))
        .withColumn("sim",
          dot(col("qv"), col("cv")) / (col("qn") * col("cn"))),
      k)
      .join(emb.select(col("vec_id"), col("label").as("neg_label")),
        Seq("vec_id"))
      // label recovery reuses the q projection already built above —
      // a fresh emb.filter here would pay a redundant corpus scan
      .join(broadcast(q.select(col("query_id"), col("query_label"))),
        Seq("query_id"))
      .select(col("query_id"), col("query_label"), col("rnk"),
        col("vec_id"), col("neg_label"), col("sim"))
  }

  /** Metadata-filtered vector search — both semantics, because the
    * difference is the classic correctness pitfall of every vector
    * store: **prefilter** applies the predicate BEFORE the top-k
    * (exact top-k among qualifying vectors — always k results when k
    * qualify); **postfilter** takes the top-`k` overall and then
    * applies the predicate (cheap on an unfiltered index, but
    * returns FEWER than k rows whenever non-qualifying vectors
    * crowd the head — the recall deficit this operator makes
    * measurable). Output rows carry `mode` ('pre' | 'post'); `rnk`
    * is the rank within that mode's surviving list. The filter is
    * label equality against each query's OWN label (the
    * same-category search shape); both modes ride the one certified
    * scan + bounded-heap + window machinery.
    */
  def filteredTopK(
      emb: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("query_label"))
      .withColumn("qn", l2norm(col("qv")))
    val cand = TextDedup.spread(emb, "vec_id")
      .select(col("vec_id"), col("embedding").as("cv"),
        col("label").as("cand_label"), l2norm(col("embedding")).as("cn"))
    val scored = cand
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val pre = topK(
      scored.filter(col("cand_label") === col("query_label")), k)
      .withColumn("mode", lit("pre"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val post = topK(scored, k)
      .join(emb.select(col("vec_id"), col("label").as("cand_label")),
        Seq("vec_id"))
      // reuse the q projection (see hardNegatives) — no second scan
      .join(broadcast(q.select(col("query_id"), col("query_label"))),
        Seq("query_id"))
      .filter(col("cand_label") === col("query_label"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rnk"), col("vec_id"), col("sim"))
      .withColumn("mode", lit("post"))
    pre.select(col("query_id"), col("mode"), col("rnk"), col("vec_id"),
        col("sim"))
      .unionByName(post.select(col("query_id"), col("mode"), col("rnk"),
        col("vec_id"), col("sim")))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985
    * farthest-point traversal, a 2-approximation of the optimal
    * k-center cover): pick `k` vectors so every corpus vector is
    * close to SOME selection — coverage-driven data selection, the
    * complement of dedup (dedup removes what's over-represented;
    * this keeps what spans the space). Deterministic: the seed is
    * the smallest `vec_id`, each step selects the vector with the
    * MAXIMUM min-squared-distance to the already-selected set, ties
    * by `vec_id`. Output `(rnk, vec_id, dist2)` in selection order,
    * `dist2` = the winning min-distance² at selection time (0.0 for
    * the seed); the sequence of `dist2` values is non-increasing and
    * `dist2(k+1)` would lower-bound the optimal k-center radius² —
    * the standard stopping diagnostic.
    *
    * Scale shape: k bounded corpus passes — each step is one
    * `TakeOrdered(1)` over the running-min frame (never a global
    * sort) plus a map fusing `least(md, dist2(v, center))`, the
    * center riding as a dims-sized plan literal (64 doubles — the
    * 12 KB regime, nothing like the MB plan-literal trap the probe
    * handles exist for). Running-min state is ONE double per row,
    * fenced per step and released, so lineage stays flat;
    * the k one-row collects ARE the selections — bounded by
    * construction. Cross-engine parity: the distance kernel
    * ([[graft.functions.FloatVecDist2]]) is a fixed-order IEEE fold
    * the oracle mirrors term-by-term, `least` is order-free, ties
    * break by id — q152 hash-compares the greedy outright.
    */
  def kcenterCoreset(emb: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val pool = TextDedup.spread(emb, "vec_id")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    def centerOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
    val seed = pool.orderBy(col("vec_id")).limit(1).collect()
    require(seed.nonEmpty, "no non-null embeddings to select from")
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, seed(0).getLong(0), 0.0))
    // LAZY per-step fences (r21): each step's TakeOrdered(1) selection
    // job computes every partition of the current state, so it doubles
    // as the materialization job. The scope holds each superseded state
    // until its successor has materialized.
    Checkpoints.scoped { s =>
      var state = s.lazyFence(pool
        .filter(col("vec_id") =!= seed(0).getLong(0))
        .withColumn("md", dist2(col("embedding"), typedLit(centerOf(seed(0))))))
      for (t <- 2 to k) {
        val top = state.orderBy(col("md").desc, col("vec_id")).limit(1)
          .collect()
        if (top.nonEmpty) {
          picks += ((t.toLong, top(0).getLong(0),
            top(0).getAs[Double]("md")))
          state = s.advance(state)(prev => s.lazyFence(prev
            .filter(col("vec_id") =!= top(0).getLong(0))
            .withColumn("md", least(col("md"),
              dist2(col("embedding"), typedLit(centerOf(top(0))))))))
        }
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("rnk", "vec_id", "dist2")
  }

  /** Retrieval-based classification: label each query vector by the
    * majority label of its k nearest corpus neighbors (tie → smaller
    * label wins), scored against the query's own `label` — the
    * labeling-by-retrieval pattern behind quality classifiers and
    * weak supervision at corpus scale. Votes ride [[bruteForceTopK]]'s
    * bounded-heap output; the label lookup is an equi-join against the
    * corpus projection; the vote argmax is a per-query window over at
    * most |labels| rows.
    */
  def knnLabelVote(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = bruteForceTopK(emb, nQueries, k)
      .join(emb.select(col("vec_id"), col("label").as("neighbor_label")),
        "vec_id")
      .groupBy(col("query_id"), col("neighbor_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("neighbor_label"))
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .select(col("query_id"),
        col("neighbor_label").as("predicted_label"),
        col("n_votes"), col("true_label"),
        (col("neighbor_label") === col("true_label")).as("correct"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the lexical and
    * vector rankings ([[TextAnalysis.bm25Rank]] × [[bruteForceTopK]]):
    * `rrf = 1/(k₀+r_lex) + 1/(k₀+r_vec)`, a doc absent from one list
    * contributing 0 for it. RRF (Cormack et al., SIGIR'09) is the
    * standard score-free fusion — BM25 and cosine live on
    * incommensurable scales, but their RANKS don't, and k₀ (=60
    * classically) damps the head so one list can't dominate.
    *
    * Cross-engine parity: both input rankings are already bit-gated
    * (q85's BM25 doubles, q39's cosine doubles), ranks are integers
    * under the shared (score DESC, id ASC) total order, and the fused
    * score is two IEEE divisions added in fixed lex-then-vec order —
    * hash-comparable outright.
    *
    * Scale: the corpus-sized work is exactly the two underlying
    * retrieval ops (each already bounded — BM25's one broadcast stats
    * row + TakeOrdered, ANN's bounded `graft_topk` heap); fusion
    * itself joins two ≤`topN`-row lists — driver-trivial at any corpus
    * size, and the join key space is the candidate union, never the
    * corpus. The doc↔vector correspondence is positional
    * (`doc_id ≡ vec_id`), the embeddings-table convention.
    */
  def hybridRrf(
      docs: DataFrame,
      emb: DataFrame,
      terms: Seq[String],
      queryVecId: Long,
      topN: Int = 50,
      rrfK: Int = 60,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25Rank(docs, terms, topK = topN)
    // the global window is bounded by construction: bm25Rank already
    // limit(topN)'d its output — this never sorts the corpus
    val wl = Window.orderBy(col("score").desc, col("doc_id"))
    val lexRanks = lex.select(col("doc_id"),
      row_number().over(wl).cast("long").as("r_lex"))
    val qf = emb.filter(col("vec_id") === queryVecId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val vecRanks = bruteForceTopK(
      emb.filter(col("vec_id") =!= queryVecId), qf, topN)
      .select(col("vec_id").as("doc_id"), col("rnk").as("r_vec"))
    val fused =
      coalesce(lit(1.0) / (lit(rrfK) + col("r_lex")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("r_vec")), lit(0.0))
    lexRanks.join(vecRanks, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_lex"), col("r_vec"),
        fused.as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** Bucketed (sign-LSH) cosine top-k — the scale path: queries only
    * meet candidates in their own sketch bucket via an equi-join, so
    * the per-query candidate set shrinks ~2^bits-fold. Approximate:
    * neighbors hashing to another bucket are missed (the LSH recall
    * trade) and thin buckets return < k rows.
    */
  private def signLsh(
      emb: DataFrame, queries: DataFrame, bits: Int, k: Int,
      excludeSelf: Boolean): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val sketched = TextDedup.spread(emb, "vec_id").select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), bits).as("bucket"),
      l2norm(col("embedding")).as("nrm"))
    val q = queries.select(col("query_id"), col("qv"),
      signBucket(col("qv"), bits).as("qbucket"), l2norm(col("qv")).as("qn"))
    val selfCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    topK(
      sketched
        .join(broadcast(q), col("bucket") === col("qbucket") && selfCond)
        .withColumn("sim",
          dot(col("qv"), col("embedding")) / (col("qn") * col("nrm"))),
      k)
  }

  /** Bucketed top-k against an EXPLICIT `queries(query_id, qv)` frame
    * (the production entry point — see [[bruteForceTopK]] for why no
    * self-exclusion applies to external query ids); the query sketch
    * is computed with the same `bits` as the corpus side.
    */
  def signLshTopK(
      emb: DataFrame, queries: DataFrame, bits: Int, k: Int): DataFrame =
    signLsh(emb, queries, bits, k, excludeSelf = false)

  /** Convenience/test form: vectors with vec_id < nQueries are the
    * query set (the harness convention on the embeddings table); each
    * query's own corpus row is excluded from its results. `bits`
    * defaults to [[DeriveBits]]: sized to the corpus via
    * [[derivedBits]] unless the caller pins a width.
    */
  def signLshTopK(
      emb: DataFrame, bits: Int = DeriveBits, nQueries: Int = 5,
      k: Int = 5): DataFrame =
    signLsh(emb,
      emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      resolveBits(emb, bits), k, excludeSelf = true)

  /** Σᵢ (xᵢ - cᵢ)² between a float vector and a double centroid —
    * the native codegen [[graft.functions.FloatVecDist2]] kernel
    * (numerically identical to the HOF `aggregate(zip_with(...))`
    * fold it replaced and to the oracle's `list_sum`; evaluated
    * O(vectors × centroids) in the IVF assignment step).
    */
  private def dist2(v: Column, c: Column): Column =
    call_function(graft.functions.GraftFunctions.VecDist2Name, v, c)

  /** IVF (inverted-file) approximate top-k — the classic ANN scale
    * structure, built declaratively:
    *
    *  1. "train": centroids = per-cell means, seeded from the `label`
    *     column, then every vector re-assigns to its NEAREST centroid
    *     (one k-means Lloyd step) — that assignment IS the inverted
    *     file, a plain `(cell, vec_id)` relation;
    *  2. query: rank centroids by distance, probe the nearest `nProbe`
    *     cells only, exact-cosine rerank inside the probed cells.
    *
    * Work per query drops from O(N) to O(N·nProbe/nCells) at the
    * standard IVF recall trade. Centroid elements are rounded to 3
    * decimals so both engines (and repeated Spark runs, whose partial
    * double sums merge in partition order) agree exactly.
    *
    * At 100 TB: centroids are a broadcast-sized side table by
    * construction; the inverted file is a shuffle-keyed relation; the
    * probe is an equi-join on cell id — no cartesian anywhere.
    */
  def ivfTopK(
      emb: DataFrame,
      dims: Int = 64,
      nProbe: Int = 2,
      nQueries: Int = 5,
      k: Int = 3): DataFrame = {
    val (cent, cells) = ivfTrain(emb, dims)
    ivfProbe(cent, cells,
      localizeQueries(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
      nProbe, k)
  }

  /** Collect a CALLER-BOUNDED query frame (nQueries rows by the
    * caller's own parameter — the Hnsw.scala probe convention) into a
    * LocalRelation: the probe side's broadcast then builds from local
    * rows with no scan job, removing one corpus scan per probe call.
    */
  def localizeQueries(queries: DataFrame): DataFrame = {
    val rows = queries.collect()
    queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), queries.schema)
  }

  /** Product quantization (PQ, Jégou et al., TPAMI'11) — the ANN
    * memory-compression standard next to [[quantizeInt8]]'s affine
    * codes: the vector splits into `m` subvectors, each quantized to
    * its nearest entry of a per-subspace codebook, so a 64-dim float
    * vector becomes `m` small code ids (8 bytes at m=8 — 32× smaller)
    * and distances are computed against RECONSTRUCTED centroids
    * without ever decoding the corpus (ADC — asymmetric distance).
    *
    * Codebooks are label-seeded per-subspace means (the L15/ivfTrain
    * convention — 3-decimal rounding makes partial-sum merge order
    * and both engines agree exactly; a production build would refine
    * them with [[kmeansStep]] Lloyd rounds, the already-certified op).
    *
    * Scale shape: the codebook is `m × nCodes` rows BY CONSTRUCTION
    * (collected driver-side and inlined as literals — the bounded
    * structural collect of the IVF convention); encoding is a map-only
    * projection (per-sub `array_min` over literal (d2, code) structs —
    * no explosion, no window, whole-stage codegen); ADC is one
    * broadcast of the query set against the CODES relation — the
    * corpus's float vectors are never read again after encode.
    */
  def pqTrain(emb: DataFrame, dims: Int = 64, m: Int = 8): DataFrame = {
    require(m > 0 && dims % m == 0, "dims must split evenly into m subvectors")
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val sw = dims / m
    val full = emb.groupBy(col("label"))
      .agg(array((1 to dims).map(i =>
        round(avg(element_at(col("embedding"), i).cast("double")), 3)): _*)
        .as("fullcv"))
    val cbPlan = full.select(col("label").cast("int").as("code"),
        posexplode(array((0 until m).map(s =>
          slice(col("fullcv"), s * sw + 1, sw)): _*)))
      .select(col("pos").cast("int").as("sub"), col("code"),
        col("col").as("cv"))
    // m × nCodes rows — bounded by construction; memoized like every
    // index-artifact collect (codebooks train once, encode many)
    val rows = memoCollect(cbPlan)
    cbPlan.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), cbPlan.schema)
  }

  /** Per-sub code-id lookup tables from a (collected) [[pqTrain]]
    * frame: `sub → MAP(code → cv)` literals, code-ordered.
    */
  private def pqMaps(cb: DataFrame, m: Int): IndexedSeq[(Column, Column)] =
    pqMapsFromTriples(cb.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))), m)

  /** [[pqMaps]] straight from collected FULL centroid rows
    * `(code, fullcv)` sliced driver-side — the PQ codebooks ARE the
    * per-label means [[ivfTrain]] already landed (same rounded
    * aggregate by construction), so a composed consumer must not pay
    * the corpus-wide estimation twice.
    */
  private def pqMapsFromCentroids(
      centRows: Array[org.apache.spark.sql.Row],
      dims: Int, m: Int): IndexedSeq[(Column, Column)] = {
    val sw = dims / m
    pqMapsFromTriples(centRows.flatMap { r =>
      val code = r.getInt(0)
      val cv = r.getSeq[Double](1)
      (0 until m).map(s => (s, code, cv.slice(s * sw, (s + 1) * sw)))
    }, m)
  }

  private def pqMapsFromTriples(
      rows: Array[(Int, Int, Seq[Double])],
      m: Int): IndexedSeq[(Column, Column)] = {
    (0 until m).map { s =>
      val entries = rows.filter(_._1 == s).sortBy(_._2)
      require(entries.nonEmpty, s"codebook has no entries for sub $s")
      val codes = array(entries.map(e => lit(e._2)).toIndexedSeq: _*)
      val cvs = array(entries.map(e =>
        array(e._3.map(lit): _*)).toIndexedSeq: _*)
      (map_from_arrays(codes, cvs),
        array(entries.map { e =>
          struct(lit(e._2).as("code"), array(e._3.map(lit): _*).as("cv"))
        }.toIndexedSeq: _*))
    }
  }

  /** Encode the corpus: `(vec_id, codes ARRAY<INT>)`, codes[s] = the
    * nearest sub-`s` codebook entry (ties → smaller code, the
    * lexicographic struct-min order shared with SQL's row_number).
    */
  def pqEncode(emb: DataFrame, cb: DataFrame,
      dims: Int = 64, m: Int = 8): DataFrame = {
    val sw = dims / m
    val maps = pqMaps(cb, m)
    val codeCols = (0 until m).map { s =>
      array_min(transform(maps(s)._2, e =>
        struct(dist2(slice(col("embedding"), s * sw + 1, sw),
          e.getField("cv")).as("d2"), e.getField("code").as("code"))))
        .getField("code")
    }
    emb.select(col("vec_id"), array(codeCols: _*).as("codes"))
  }

  /** End-to-end PQ retrieval: train → encode → ADC top-k for the
    * harness query set (vec_id < nQueries, self excluded). The
    * asymmetric distance folds over the full `dims`-wide RECONSTRUCTED
    * centroid (codebook entries concatenated by code id) in one
    * [[dist2]] call, so the IEEE summation order is the plain
    * j=1..dims fold both engines share — bit-comparable, no band.
    * Ranking rides the bounded `graft_topk` heap on the negated
    * distance (exact IEEE negation; ties by vec_id ASC).
    */
  def pqTopK(emb: DataFrame, dims: Int = 64, m: Int = 8,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    val cb = pqTrain(emb, dims, m)
    val enc = pqEncode(emb, cb, dims, m)
    val maps = pqMaps(cb, m)
    val recon = concat((0 until m).map(s =>
      element_at(maps(s)._1, element_at(col("codes"), s + 1))): _*)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    enc.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("__nad", -dist2(col("qv"), recon))
      .groupBy(col("query_id"))
      .agg(call_function(graft.functions.GraftFunctions.TopKName,
        col("__nad"), col("vec_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("vec_id"), (-col("col.score")).as("adist"))
  }

  /** IVF-PQ — the composed large-corpus ANN serving shape (the FAISS
    * `IVFxx,PQyy` standard): IVF cell pruning restricts each query to
    * its `nProbe` nearest cells, and WITHIN those cells ranking is
    * PQ asymmetric distance against the codes relation — after the
    * one-time encode the corpus floats are never read again, so the
    * per-query work is `nProbe/nCells` of the corpus in `m`-byte
    * codes, the memory/IO regime that actually serves 10⁹-vector
    * indexes.
    *
    * Composition of two already-certified parts: [[ivfTrain]]'s
    * assignment (cells are disjoint, so the cell equi-join yields each
    * candidate at most once per query — no dedup stage) and
    * [[pqTopK]]'s ADC (codes computed straight off the inverted file:
    * a map-only projection carrying `cell`, no join back). The
    * asymmetric distance folds over the full reconstructed centroid in
    * one [[dist2]] call — the j=1..dims IEEE order both engines
    * share — and ranking rides the bounded `graft_topk` heap, so
    * results hash-compare with no tolerance band (q135).
    *
    * Scale: queries broadcast (bounded by the caller), the corpus side
    * is one codegen'd encode projection + an equi-join on `cell`; at
    * index-build-once/serve-many scale the encode persists via the
    * [[writeIvfIndex]] convention with `codes` in place of
    * `embedding`.
    */
  def ivfPqTopK(emb: DataFrame, dims: Int = 64, m: Int = 8,
      nProbe: Int = 2, nQueries: Int = 5, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val (cent, cells) = ivfTrain(emb, dims)
    // PQ codebooks = the SAME label-seeded rounded means ivfTrain just
    // landed, sliced driver-side — not a second corpus-wide aggregate
    // (r15: the duplicate estimation was ~30% of q135's wall)
    val centRows = collectCentroids(cent) // LocalRelation — no job
    val maps = pqMapsFromCentroids(centRows, dims, m)
    val sw = dims / m
    val codeCols = (0 until m).map { s =>
      array_min(transform(maps(s)._2, e =>
        struct(dist2(slice(col("embedding"), s * sw + 1, sw),
          e.getField("cv")).as("d2"), e.getField("code").as("code"))))
        .getField("code")
    }
    val enc = cells.select(col("vec_id"), col("cell"),
      array(codeCols: _*).as("codes"))
    val recon = concat((0 until m).map(s =>
      element_at(maps(s)._1, element_at(col("codes"), s + 1))): _*)
    val cents = centArrayLiteral(centRows)
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .select(col("query_id"), col("qv"),
        explode(slice(sort_array(transform(cents,
          c => struct(dist2(col("qv"), c.getField("cv")).as("d2"),
            c.getField("ccell").as("cell")))), 1, nProbe)).as("__pc"))
      .select(col("query_id"), col("qv"),
        col("__pc").getField("cell").as("cell"))
    enc.join(broadcast(probes),
        enc("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
      .withColumn("__nad", -dist2(col("qv"), recon))
      .groupBy(col("query_id"))
      .agg(call_function(graft.functions.GraftFunctions.TopKName,
        col("__nad"), col("vec_id"), lit(k)).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("vec_id"), (-col("col.score")).as("adist"))
  }

  /** The IVF "train" step alone: `(centroids(ccell, cv), inverted
    * file(vec_id, cell, embedding, nrm))` — the index [[ivfProbe]]
    * serves queries from, and the pair [[writeIvfIndex]] persists.
    */
  def ivfTrain(emb: DataFrame, dims: Int = 64): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    // No spread()/repartition here (r11): the centroid aggregate is
    // map-side partial anyway, and nearest-centroid assignment is a
    // map-only projection that inherits the scan's split parallelism —
    // forcing an exchange cost a full-corpus shuffle per index build
    // and bought nothing at any scale. (Persisting the inverted file
    // re-clusters explicitly: writeIvfIndex buckets on `cell`.)
    val e = emb.select(col("vec_id"), col("embedding"), col("label"))

    // The centroid table is tiny BY CONSTRUCTION (one row per cell) but
    // its derivation is a corpus-wide 64-avg aggregate. Run that one
    // pass and land the result driver-side: downstream consumers then
    // read a LocalRelation (collect on it is free, no job) and the
    // assignment/probe plans inline the centroids as a literal array —
    // no localCheckpoint write, no broadcast-build job per consumer.
    // This is the IntervalJoin-median convention: a bounded, structural
    // collect, not a data-sized one. memoCollect (r15): a rebuild
    // against UNCHANGED sources reuses the landed rows — indexes are
    // built once and served many times, and the fingerprint re-runs
    // the job the moment the source file set changes.
    val centPlan = e.groupBy(col("label"))
      .agg(array((1 to dims).map(i =>
        round(avg(element_at(col("embedding"), i).cast("double")), 3)): _*)
        .as("cv"))
      .select(col("label").as("ccell"), col("cv")) // avoid `label` clash
    val centRows = memoCollect(centPlan)
    val cent = centPlan.sparkSession.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centPlan.schema)

    (cent, assignCells(e, centArrayLiteral(centRows)))
  }

  /** Driver-side memo of collected centroid rows, keyed by the
    * CANONICALIZED logical plan of `cent.select(ccell, cv)` plus the
    * max mtime of its file-backed sources ([[sourceVersion]]): two
    * probes against the same unchanged index hit the same entry, so
    * only the first pays the (tiny, one-row-per-cell) collect job,
    * while an index overwritten in place changes the mtime component
    * and re-collects (r12 — closes the stale-read trade-off the first
    * cut documented). A [[graft.operators.LruMemo]] — centroid tables
    * are report-sized by construction, and 8 live indexes per driver
    * is generous.
    */
  private val centCollectCache = new graft.operators.LruMemo[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long),
    Array[org.apache.spark.sql.Row]]

  /** Fingerprint of the file-backed leaves of `plan` (0 for purely
    * local/in-memory plans): folded into the memo key so an index
    * overwritten IN PLACE at the same path misses the cache on the
    * next probe instead of serving stale centroids (r12 ADVICE).
    * Resolved through the HADOOP FileSystem of each root path — NOT
    * `java.io.File`, which silently reports lastModified=0 for any
    * non-local URI (hdfs://, s3a://), i.e. a constant key exactly in
    * the distributed-storage regime this memo targets (r13, closes
    * the r12 ADVICE medium). The fingerprint folds every child's
    * (name, mtime, length) so coarse-mtime filesystems (1–2 s
    * granularity on object stores) still change the key when a
    * same-second rewrite alters the file set or sizes. One driver-side
    * FS listing per root path — centroid tables are one tiny file set
    * by construction.
    */
  private[graft] def sourceVersion(plan: DataFrame): Long =
    plan.queryExecution.analyzed.collectLeaves().flatMap {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val conf = plan.sparkSession.sessionState.newHadoopConf()
            h.location.rootPaths.flatMap { p =>
              scala.util.Try {
                val fs = p.getFileSystem(conf)
                val root = fs.getFileStatus(p)
                val statuses =
                  if (root.isDirectory) root +: fs.listStatus(p).toSeq
                  else Seq(root)
                statuses.foldLeft(1125899906842597L) { (acc, s) =>
                  31L * (31L * (31L * acc + s.getPath.getName.hashCode)
                    + s.getModificationTime) + s.getLen
                }
              }.toOption
            }
          case _ => Nil
        }
      case _ => Nil
    }.foldLeft(0L)((acc, v) => 31L * acc + v)

  private def collectCentroids(cent: DataFrame): Array[org.apache.spark.sql.Row] =
    memoCollect(cent.select(col("ccell"), col("cv")))

  /** The memo lookup itself, shared by every bounded-by-construction
    * index-artifact collect (probe centroid reads, [[ivfTrain]] /
    * [[kmeansStep]] centroid estimation, [[pqTrain]] codebooks): an
    * index is built once and served many times, so the repeated-call
    * cost that matters is the steady state — a re-probe or re-compose
    * against UNCHANGED sources must not re-run the corpus-wide
    * estimation job. Keyed by canonicalized analyzed plan + the
    * file-source fingerprint (same staleness guard as before: an index
    * overwritten in place changes the fingerprint and re-collects;
    * purely local plans carry their data inside the canonical form).
    */
  private def memoCollect(plan: DataFrame): Array[org.apache.spark.sql.Row] =
    centCollectCache.getOrBuild(
      (plan.queryExecution.analyzed.canonicalized, sourceVersion(plan)))(
      plan.collect())

  /** Collected centroid rows `(ccell, cv)` as ONE literal
    * `array<struct<ccell, cv>>` column, sorted by cell id — the same
    * value [[assignCells]]' old `sort_array(collect_list(...))`
    * broadcast produced, now evaluated entirely inside whole-stage
    * codegen with no broadcast exchange. Empty centroids (degenerate
    * empty corpus) become a typed NULL array: `transform`/`array_min`
    * propagate it to a NULL cell, matching the old empty-list behavior.
    */
  private def centArrayLiteral(rows: Array[org.apache.spark.sql.Row]): Column = {
    val structs = rows
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
      .map { case (cell, cv) =>
        struct(lit(cell).as("ccell"), array(cv.map(lit): _*).as("cv"))
      }
    if (structs.isEmpty)
      lit(null).cast("array<struct<ccell:int,cv:array<double>>>")
    else array(structs.toIndexedSeq: _*)
  }

  /** Nearest-centroid assignment without row explosion (r8): the old
    * form crossJoined the corpus against the centroid table and ranked
    * per `vec_id` with a window — ×nCells rows through an exchange and
    * a per-vector sort. This form takes `array_min` over the per-cell
    * `(d2, cell)` structs of the LITERAL sorted centroid array (r11 —
    * previously a one-row broadcast): lexicographic struct ordering IS
    * the `(d2 ASC, ccell ASC)` tie-break, evaluated per row inside
    * whole-stage codegen — no exchange, no window, no extra rows, and
    * now no broadcast-build job either.
    */
  private def assignCells(e: DataFrame, cents: Column): DataFrame =
    e.withColumn("__best", array_min(transform(cents,
        c => struct(dist2(col("embedding"), c.getField("cv")).as("d2"),
          c.getField("ccell").as("cell")))))
      .select(col("vec_id"), col("__best.cell").as("cell"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))

  /** Probe a (possibly persisted) IVF index with an explicit query set
    * `queries(query_id, qv)`: rank centroids per query, search the
    * nearest `nProbe` cells only, exact-cosine rerank inside them.
    */
  def ivfProbe(
      cent: DataFrame,
      cells: DataFrame,
      queries: DataFrame,
      nProbe: Int = 2,
      k: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(cells.sparkSession)
    import org.apache.spark.sql.expressions.Window
    // Centroids land driver-side and rank as a literal-array expression
    // per query row (r11): `sort_array` over `(d2, ccell)` structs is
    // the old window's `ORDER BY d2, ccell` tie-break, and the explode
    // of its first nProbe entries replaces crossJoin+row_number — the
    // probe side becomes one codegen'd projection with no broadcast of
    // cent and no window exchange. cent is one row per cell by
    // construction: from [[ivfTrain]] it is already a LocalRelation
    // (collect is free); from [[readIvfIndex]] it is one tiny scan,
    // memoized below so repeated probes against the same index plan
    // don't re-run it (r11 ADVICE).
    val cents = centArrayLiteral(collectCentroids(cent))
    val probes = queries
      .select(col("query_id"), col("qv"), l2norm(col("qv")).as("qn"),
        explode(slice(sort_array(transform(cents,
          c => struct(dist2(col("qv"), c.getField("cv")).as("d2"),
            c.getField("ccell").as("cell")))), 1, nProbe)).as("__pc"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("__pc").getField("cell").as("cell"))

    // window rank (not TopKAgg) because the output carries the probed
    // cell alongside the rank, and the candidate set is already
    // cell-bounded to ~N·nProbe/nCells per query — the scale hazard
    // TopKAgg removes from the unbounded brute-force path isn't here
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cells
      .join(broadcast(probes),
        cells("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("embedding")) / (col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        cells("cell").as("cell"), col("sim"))
  }

  /** Retrieval-quality evaluation — recall@k of the IVF probe against
    * the exact brute-force ground truth on the same query set: the
    * acceptance gate every ANN index deploy runs before serving
    * traffic (raise `nProbe` until measured recall clears the bar).
    *
    * Emits one row per query: `(query_id, n_hit, recall)` where
    * `n_hit = |ivf top-k ∩ exact top-k|` and `recall = n_hit / k`.
    * Zero-overlap queries still report (left join back to the query
    * set), and both retrievals exclude the query's own corpus row —
    * the shared harness convention, so neither side gets a free hit.
    *
    * Scale shape: the heavy lifting is exactly the two
    * already-certified retrieval ops (one corpus pass each, bounded
    * heaps); the eval itself joins two nQueries×k result lists —
    * report-sized by construction. `recall` is one exactly-rounded
    * IEEE division of an integer pair, so it hash-compares (q136).
    */
  def ivfRecallEval(emb: DataFrame, dims: Int = 64, nProbe: Int = 2,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val truth = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val (cent, cells) = ivfTrain(emb, dims)
    val approx = ivfProbe(cent, cells,
        localizeQueries(emb.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        nProbe = nProbe, k = k)
      .select(col("query_id"), col("vec_id"))
    val hits = truth.join(approx, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"))
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  /** One full Lloyd (k-means) iteration beyond [[ivfTrain]]'s seed:
    * re-estimate centroids from the current assignment, re-assign
    * every vector, and report the resulting cell census
    * `(cell, n_members, centroid_mass)`. Centroid elements round to 3
    * decimals after each estimate — partial double sums merge in
    * partition order, and the rounding absorbs that (the q43
    * technique) so engines and reruns agree exactly.
    *
    * This is the training loop's body: at 100 TB each iteration is
    * one broadcast (centroids) + one keyed aggregation — clustering
    * cost stays linear per pass and the loop is driver-side trivial.
    */
  def kmeansStep(emb: DataFrame, dims: Int = 64): DataFrame = {
    val (_, cells1) = ivfTrain(emb, dims)
    // re-estimated centroids: tiny (one row per cell) but derived by a
    // corpus-wide pass — run it once and land the rows driver-side so
    // the assignment literal AND the mass report read one computed copy
    // (the same r11 convention as ivfTrain; replaces a localCheckpoint)
    val cent2Plan = cells1.groupBy(col("cell"))
      .agg(array((1 to dims).map(i =>
        round(avg(element_at(col("embedding"), i).cast("double")), 3)): _*)
        .as("cv"))
      .select(col("cell").as("ccell"), col("cv"))
    val cent2Rows = memoCollect(cent2Plan)
    val cent2 = cent2Plan.sparkSession.createDataFrame(
      java.util.Arrays.asList(cent2Rows: _*), cent2Plan.schema)
    // re-assignment rides the same no-explosion array_min as
    // [[ivfTrain]]'s assignCells; the census then joins the (tiny,
    // broadcast) per-centroid mass back on the cell key
    val census = cells1.select(col("vec_id"), col("embedding"))
      .withColumn("__best", array_min(transform(centArrayLiteral(cent2Rows),
        c => struct(dist2(col("embedding"), c.getField("cv")).as("d2"),
          c.getField("ccell").as("cell")))))
      .groupBy(col("__best.cell").as("cell"))
      .agg(count(lit(1)).as("n_members"))
    val mass = cent2.select(col("ccell").as("cell"),
      aggregate(col("cv"), lit(0.0), _ + _).as("centroid_mass"))
    census.join(broadcast(mass), "cell")
      .select(col("cell"), col("n_members"), col("centroid_mass"))
  }

  /** Persist a trained IVF index: centroids as a plain (tiny) table,
    * the inverted file bucketed on `cell` so a later [[ivfProbe]]'s
    * cell equi-join reads pre-clustered buckets with no exchange on
    * the corpus side — the ANN twin of the persisted MinHash dedup
    * index ([[TextDedup.writeMinhashIndex]]).
    */
  def writeIvfIndex(
      cent: DataFrame,
      cells: DataFrame,
      centTable: String,
      cellsTable: String,
      numBuckets: Int = 16): Unit = {
    cent.write.mode("overwrite").saveAsTable(centTable)
    cells.write.bucketBy(numBuckets, "cell")
      .mode("overwrite").saveAsTable(cellsTable)
  }

  /** The persisted index back as `(cent, cells)` — pass straight to
    * [[ivfProbe]].
    */
  def readIvfIndex(
      spark: org.apache.spark.sql.SparkSession,
      centTable: String,
      cellsTable: String): (DataFrame, DataFrame) =
    (spark.table(centTable), spark.table(cellsTable))

  /** Embedding-cosine near-dup pairs: sign-sketch bucket self-join for
    * candidates (equi-keyed, never all-pairs), exact cosine ≥ threshold
    * to confirm. Emits (va, vb, sim). `maxBucketWidth` applies the
    * same production bucket cap as the text LSH paths (a degenerate
    * sketch bucket — e.g. all-positive embeddings from an untrained
    * encoder — would square inside its key); `bits` defaults to
    * [[DeriveBits]]: sized to the corpus via [[derivedBits]] so the
    * expected bucket width stays bounded at any n — pass it explicitly
    * to pin a width (and skip the plan-time count).
    */
  def nearDupPairs(
      emb: DataFrame, bits: Int = DeriveBits, threshold: Double = 0.4,
      maxBucketWidth: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val b = resolveBits(emb, bits)
    val sketchedAll = TextDedup.spread(emb, "vec_id").select(col("vec_id"), col("embedding"),
      signBucket(col("embedding"), b).as("bucket"),
      l2norm(col("embedding")).as("nrm"))
    val sketched = maxBucketWidth
      .fold(sketchedAll)(TextDedup.capBucketWidth(sketchedAll, Seq("bucket"), _))
    sketched.as("a")
      .join(sketched.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("sim"))
  }

  /** SemDeDup-lite: full semantic deduplication over an embedding
    * column — [[nearDupPairs]] closed transitively into duplicate
    * components ([[TextDedup.duplicateComponents]]), then every
    * vector labeled with a keep/drop decision: the MINIMUM vec_id of
    * each component survives, singletons (no near-dup) keep
    * trivially. This is the decision layer q41's pair list stops
    * short of — the operator a curation pipeline actually calls.
    * Scale posture inherits from the parts: sign-LSH bucketed pair
    * generation (never all-pairs) + bounded min-label propagation.
    */
  def semanticDedup(
      emb: DataFrame, bits: Int = DeriveBits, threshold: Double = 0.4,
      maxBucketWidth: Option[Int] = None, maxIter: Int = 20): DataFrame = {
    val pairs = nearDupPairs(emb, bits, threshold, maxBucketWidth)
      .select(col("va").as("da"), col("vb").as("db"))
    // maxIter is the CC loud-failure rail (propagation rounds =
    // component diameter + 1): a corpus whose near-dup graph chains
    // deeply — e.g. dense perturbation clusters at a low threshold —
    // needs it raised explicitly; silent unmerged labels are never ok
    val comp = TextDedup.duplicateComponents(pairs, maxIter)
      .select(col("doc_id").as("vec_id"), col("component"))
    emb.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .withColumn("keep",
        col("component").isNull || col("component") === col("vec_id"))
  }

  /** Per-vector int8 scalar quantization — the 4× memory compression
    * that makes a 100 TB float corpus ANN-searchable in a quarter of
    * the executor footprint. Affine-maps each vector to codes
    * 0..255 against its own [min, max] (`floor(x + 0.5)` rounding —
    * `round()` half-even/half-up semantics differ across engines;
    * floor doesn't), and reports the code checksum plus the exact
    * L2² reconstruction error of the dequantized vector.
    *
    * Pure per-row array HOFs — no shuffle at all except the output
    * sort; arithmetic is double-exact in a fixed order, so codes AND
    * the error doubles are oracle-bit-identical. Degenerate constant
    * vectors (max = min) quantize to code 0 with zero error.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val mn = col("mn")
    val mx = col("mx")
    val span = mx - mn
    def codeOf(v: Column): Column =
      when(span === 0d, lit(0L)).otherwise(
        floor((v.cast("double") - mn) * lit(255.0) / span + lit(0.5))
          .cast("long"))
    val codes = transform(col("embedding"), codeOf(_))
    def dequant(c: Column): Column = mn + c.cast("double") * span / lit(255.0)
    val sqErrs = zip_with(col("embedding"), col("codes"),
      (v, c) => { val d = v.cast("double") - dequant(c); d * d })
    emb
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      .withColumn("codes", codes)
      .select(col("vec_id"), mn, mx,
        aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
        aggregate(sqErrs, lit(0.0), _ + _).as("recon_err"))
  }

  /** Per-group centroid cosine + outlier flag — the SemDeDup-class
    * prune signal: vectors far from their group's mean embedding are
    * mislabeled/garbled candidates a curation pipeline drops or
    * reroutes. Emits `(vec_id, <groupCol>, sim, is_outlier)` where
    * `sim` is the cosine to the group centroid and `is_outlier` marks
    * sims below the group's exact `outlierFraction` quantile.
    *
    * Scale shape, stage by stage:
    *  - centroids: `posexplode` + groupBy(group, pos) AVG. The explode
    *    is a codegen pipeline (never materialized) and the aggregate
    *    partial-combines map-side, so the shuffle carries at most
    *    |groups|·dim rows PER INPUT PARTITION — metadata-sized however
    *    big the corpus. Each mean is rounded to 3 decimals to absorb
    *    summation-order ulps (the established avg-oracle contract), so
    *    the centroid is a deterministic constant across engines.
    *  - scoring: centroids broadcast (|groups|·dim doubles); one
    *    corpus pass, cosine per row via the double-cast left-to-right
    *    fold the oracle mirrors.
    *  - threshold: [[graft.operators.Percentiles.groupedExact]] on the
    *    rounded sims — the scale-aware exact-quantile operator (value-
    *    histogram form, two-phase past its row probe), matched by SQL
    *    `quantile_cont`. Thresholds broadcast back; the flag compares
    *    at 6 decimals on both engines. Rounded-to-9 sims keep the
    *    histogram far below corpus size but its domain is not a priori
    *    bounded; a corpus whose distinct-sim count rivals its row
    *    count should route the threshold through
    *    [[graft.operators.Percentiles.grouped]] (the L93 exact-vs-
    *    sketch switch) and accept a rank-error band on the flag.
    * Nothing in the plan shuffles the corpus except the gram-sized
    * partial-agg outputs; NULL embeddings/groups are excluded.
    */
  def centroidOutliers(
      emb: DataFrame,
      groupCol: String = "label",
      outlierFraction: Double = 0.05): DataFrame = {
    require(outlierFraction > 0.0 && outlierFraction < 1.0,
      "outlierFraction must be in (0, 1)")
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), _ + _)
    val e = emb.filter(col("embedding").isNotNull && col(groupCol).isNotNull)
    val cent = e
      .select(col(groupCol), posexplode(col("embedding")))
      .groupBy(col(groupCol), col("pos"))
      .agg(round(avg(col("col").cast("double")), 3).as("cv"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("__centroid"))
    // fence (r22, guide §2.4): the quantile threshold's histogram agg
    // and the final outlier projection both consume the cosine pass —
    // without the fence each re-runs the centroid build + broadcast
    // join + per-row interpreted dot folds. One narrow row per vector
    // pins; released by the harness broom.
    val scored = Checkpoints.lazyFence(e.join(broadcast(cent), Seq(groupCol))
      .select(col("vec_id"), col(groupCol),
        round(dotD(col("embedding"), col("__centroid")) /
          (l2norm(col("embedding")) * sqrt(dotD(col("__centroid"),
            col("__centroid")))), 9).as("sim")))
    // route the percentile form by probing the SCAN, not the scored
    // subplan — |scored| == |e| (the centroid join is inner on a
    // complete key set), so the cosine pipeline never re-executes
    val thr = graft.operators.Percentiles
      .groupedExact(scored, groupCol, "sim",
        Seq(outlierFraction),
        twoPhaseThreshold = graft.operators.Percentiles.formSentinel(e))
      .select(col(groupCol),
        round(col("p" + math.round(outlierFraction * 100)), 6).as("__thr"))
    scored.join(broadcast(thr), Seq(groupCol))
      .select(col("vec_id"), col(groupCol), col("sim"),
        (round(col("sim"), 6) < col("__thr")).as("is_outlier"))
  }
}
