package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** DSIR-style importance-weighted data selection (Data Selection via
  * Importance Resampling, Xie et al. 2023 — hashed n-gram importance
  * weights): score every raw document by how much its token
  * distribution looks like a TARGET corpus, then keep the top
  * `keepFraction` by score. The standard "make the crawl look like
  * the reference domain" curation op next to quality filtering.
  *
  * Engine form, kept oracle-mirrorable:
  *  - features are hashed token buckets — `graft_hash60(token) mod
  *    buckets` (the engine's native hash kernel; the oracle mirrors it
  *    via md5, like every gram query);
  *  - per-bucket counts over target and raw are two `buckets`-bounded
  *    aggregates (broadcast-sized BY CONSTRUCTION at any corpus
  *    scale — the whole point of hashing into a fixed feature space);
  *  - a doc's score is the aggregate likelihood ratio
  *    `(Σ t_cnt + n) / (Σ r_cnt + n)` over its tokens' buckets
  *    (add-one smoothing; the q79 integer-exact technique — two
  *    order-free INTEGER sums and ONE division, so the double is
  *    bit-identical across engines; a mean of per-bucket double
  *    ratios would sum in engine order and wobble the last bits);
  *  - the keep threshold is the exact (1−keepFraction) quantile of
  *    the rounded scores via [[graft.operators.Percentiles]]'s
  *    histogram interpolation (≡ `quantile_cont`), broadcast back as
  *    one row.
  *
  * Shuffles: token explode → one keyed count agg per side (bounded
  * output), one broadcast join back, one per-doc agg. Nothing
  * corpus-global except the bounded score histogram.
  */
object Dsir {

  /** (doc_id, n_toks, score, keep) for every raw doc with ≥1 token.
    * `target` and `raw` both carry (doc_id, text).
    */
  def importanceSelect(
      raw: DataFrame,
      target: DataFrame,
      buckets: Int = 4096,
      keepFraction: Double = 0.25): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(keepFraction > 0 && keepFraction <= 1,
      "keepFraction must be in (0, 1]")
    graft.functions.GraftFunctions.ensureRegistered(raw.sparkSession)

    def bucketed(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(TextFns.hash60(col("tok")), lit(buckets.toLong)).as("b"))

    val tCounts = bucketed(target).groupBy(col("b"))
      .agg(count(lit(1)).as("t_cnt"))
    val rTokens = bucketed(raw)
    val rCounts = rTokens.groupBy(col("b")).agg(count(lit(1)).as("r_cnt"))
    // every raw bucket exists in rCounts (it came from raw), so a left
    // join + coalesce covers buckets the target never hit
    val ratios = rCounts.join(tCounts, Seq("b"), "left")
      .select(col("b"),
        coalesce(col("t_cnt"), lit(0L)).as("t_cnt"), col("r_cnt"))

    // lazy fence (r22, guide §2.4): BOTH consumers — the quantile
    // threshold's histogram agg and the final keep projection — would
    // otherwise re-execute the whole token-bucket scoring pass
    // (tokenize raw ×2 per execution: the rTokens explode AND the
    // rCounts side of `ratios`). One narrow row per scored doc pins;
    // released by the harness broom between queries.
    val scored = Checkpoints.lazyFence(rTokens
      .join(broadcast(ratios), Seq("b")) // bounded by `buckets`
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("t_cnt")).as("st"), sum(col("r_cnt")).as("sr"))
      .select(col("doc_id"), col("n_toks"),
        round((col("st") + col("n_toks")).cast("double") /
          (col("sr") + col("n_toks")).cast("double"), 9).as("score")))

    // exact quantile threshold over the (rounded) score distribution —
    // histogram interpolation, never a buffered group
    // form routing probes the RAW scan (doc count upper-bounds the
    // scored count), so the token-bucket scoring pass never
    // re-executes just to pick the histogram form
    val thr = graft.operators.Percentiles
      .groupedExact(scored.withColumn("g", lit(1)), "g", "score",
        Seq(1.0 - keepFraction),
        twoPhaseThreshold = graft.operators.Percentiles.formSentinel(raw))
      .select(col("p" + math.round((1.0 - keepFraction) * 100))
        .as("threshold"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_toks"), col("score"),
        (col("score") >= col("threshold")).as("keep"))
  }
}
