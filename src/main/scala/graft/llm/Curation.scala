package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Checkpoints

/** The end-to-end training-data curation flagship: the single operator
  * a corpus owner actually runs, chaining the curation pillars in the
  * canonical order —
  *
  *   seeded sample → benchmark decontamination → 3-stage dedup
  *   (exact / prefix / MinHash-LSH) → quality filter → sequence
  *   packing
  *
  * — and returning the packed-block summary of the surviving corpus.
  *
  * Stage order IS the scale design: stages strictly shrink the corpus
  * before the next, and the cheap ones run first. Sampling is a
  * shuffle-free codegen'd filter that fuses into the scan
  * ([[Sampling.sampleCorpus]]); decontamination's eval-gram side is
  * broadcast-sized ([[Decontaminate]]); dedup's only pair generation
  * is the banded LSH join ([[TextDedup.dedupPipeline]],
  * `maxBucketWidth`-cappable); the quality filter is explode +
  * keyed aggregation ([[TextAnalysis.qualityFilter]]); and packing's
  * only unpartitioned window runs over n/groupWidth group rows
  * ([[Packing.packBlocks]]). Each stage hands the next only a
  * `doc_id` keep-list, joined back to the (already-filtered) corpus —
  * wide document rows are never carried through a stage's own
  * shuffles.
  *
  * Oracled end-to-end as q72 (the strongest regression net over the
  * whole llm/ layer: a value drift in ANY pillar shifts the packed
  * blocks and fails the hash compare).
  */
object Curation {

  /** Curate `docs` against `evalDocs` and pack the survivors into
    * `blockSize`-token training blocks. Parameter defaults match the
    * individually-oracled stage queries (q54/q59/q60/q62/q70), so the
    * composition is exactly the audited pillars chained.
    */
  def curate(
      docs: DataFrame,
      evalDocs: DataFrame,
      sampleFraction: Double = 0.9,
      sampleSeed: String = "curate",
      decontamShingleK: Int = 3,
      maxOverlap: Double = 0.2,
      dedupShingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5,
      prefixK: Int = 5,
      maxBucketWidth: Option[Int] = None,
      minTokens: Long = 5,
      minTtr: Double = 0.3,
      maxStopwordRatio: Double = 0.5,
      minMeanTokLen: Double = 2.0,
      maxMeanTokLen: Double = 12.0,
      blockSize: Long = 512,
      groupWidth: Long = 4096,
      inlineKeepListMax: Int = InlineKeepListMax): DataFrame = {
    val sampled = Sampling.sampleCorpus(docs, sampleFraction, sampleSeed)
    // Each stage's keep-list is a BARRIER: downstream stages consume
    // their input corpus several times (dedup alone joins it 4×), and
    // without the barrier every consumer would re-run the upstream
    // stage's full gram pipeline (isolated best-of-2 A/B at sf0.1:
    // 18.6 s without → 6.9 s with — the composition costs ≈ the sum
    // of its stages). The barrier itself is dual-regime
    // ([[keepFilter]]): the id list always fences once (so
    // the stage pipeline runs exactly once), then a bounded probe
    // either inlines it as an InSet codegen filter (checkpoint
    // released, no broadcast-build job per consumer) or keeps it for
    // the broadcast join — only doc_id lists ever pin, never wide
    // corpus rows, which re-derive from the (columnar, pruned) scan
    // at 100 TB.
    val clean = keepFilter(sampled, Decontaminate
      .decontaminate(sampled, evalDocs, decontamShingleK, maxOverlap)
      .select(col("doc_id")), inlineKeepListMax)
    val unique = keepFilter(clean,
      TextDedup.dedupPipeline(clean, dedupShingleK, nHashes,
        bands, threshold, prefixK, maxBucketWidth), inlineKeepListMax)
    val good = keepFilter(unique,
      TextAnalysis.qualityFilter(unique, minTokens, minTtr,
        maxStopwordRatio, minMeanTokLen, maxMeanTokLen)
        .select(col("doc_id")), inlineKeepListMax)
    Packing.packBlocks(good, blockSize, groupWidth)
  }

  /** Above this keep-list size the stage barrier broadcast-joins; at
    * or below (and under [[InlineKeepListMaxBytes]]), the ids inline
    * as one InSet filter. [[graft.Regimes.forceDistributed]] pins the
    * barrier to the broadcast-join form so the oracle gate can certify
    * the 100 TB plan.
    */
  private def InlineKeepListMax: Int =
    if (graft.Regimes.forceDistributed) 0 else 100000

  /** Byte cap on the inlined id list (r13, the ENA broadcast-regime
    * octet-probe convention): [[InlineKeepListMax]] alone is a ROW
    * cap, and 100k WIDE STRING doc_ids would bloat every task's
    * serialized plan — the same wide-row trap the J1 byte probe
    * already closes. 4 MiB of estimated id payload keeps the inlined
    * filter comfortably under task-binary budgets.
    */
  private val InlineKeepListMaxBytes = 4L << 20

  /** Dual-regime stage barrier (r12, the resolveIds/J1 probe pattern;
    * r13 materialize-once). `keepIds` is fenced FIRST, so
    * the upstream stage's pipeline executes exactly once — the bounded
    * probe and whichever consumer wins both read the checkpoint (the
    * r12 cut probed the live plan, which ran the stage pipeline for
    * the probe and AGAIN for the overflow checkpoint — a bounded 2×
    * exactly in the 100 TB regime; the fix costs the small regime only
    * a tiny id-list checkpoint write). If the probe fits (`≤
    * maxInline` ids AND ≤ [[InlineKeepListMaxBytes]] estimated bytes),
    * the collected ids ARE the barrier: every corpus consumer
    * evaluates one codegen InSet filter fused into its scan, the
    * checkpoint is released immediately, and no broadcast-build job
    * runs per consumer. A keep-list that overflows either bound — the
    * 100 TB regime — broadcast-joins the checkpoint exactly as before.
    */
  private def keepFilter(
      corpus: DataFrame, keepIds: DataFrame, maxInline: Int): DataFrame = {
    // enforced here as well as in the default, so explicit caller
    // values cannot re-enable the inline cut in forced oracle runs
    val effMax = if (graft.Regimes.forceDistributed) 0 else maxInline
    // lazy fence + ONE probe job: the inline regime pays one driver
    // round trip per barrier, the overflow regime none (the join's
    // first consumer materializes); the stage pipeline still executes
    // exactly once
    Checkpoints.scoped { s =>
      val ck = s.lazyFence(keepIds)
      val inline =
        if (effMax <= 0) None
        else Checkpoints.probe(ck, effMax).filter { ids =>
          ids.foldLeft(0L)((acc, r) => acc + (r.get(0) match {
            case id: String => 40L + 2L * id.length // object header + char payload
            case _          => 16L                  // boxed numeric
          })) <= InlineKeepListMaxBytes
        }
      inline match {
        case Some(ids) =>
          corpus.filter(col("doc_id").isInCollection(ids.toSeq.map(_.get(0))))
        case None => corpus.join(ck, Seq("doc_id"))
      }
    }
  }

  /** Order-independent corpus digest per `by` group: `bit_xor` over
    * the 60-bit md5 hash of each `(doc_id, text)` pair, plus doc and
    * token counts. XOR is commutative, associative, and overflow-free,
    * so the digest is identical under ANY partitioning, row order,
    * engine, or cluster size — the cheap integrity check for a 100 TB
    * replication or migration: compute on both copies, compare one
    * tiny row per group. (Equality is necessary, not sufficient — a
    * 60-bit xor can collide — so it is a drift ALARM, not a proof;
    * for forensics on a mismatched group, diff that group with
    * [[corpusDiff]].)
    */
  def corpusDigest(docs: DataFrame, by: String = "source"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .withColumn("h",
        TextFns.hash60(concat_ws("|", col("doc_id"), col("text"))))
      .groupBy(col(by))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("n_tokens"),
        expr("bit_xor(h)").as("digest"))
  }

  /** Snapshot diff keyed on doc_id: counts (and id ranges, for
    * forensics) of added / removed / changed / unchanged docs between
    * two corpus versions. One full-outer equi-join on doc_id carrying
    * only 128-bit content hashes — the release-engineering op behind
    * "what moved between v1 and v2".
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    oldDocs.select(col("doc_id"), md5(col("text")).as("old_hash"))
      .join(
        newDocs.select(col("doc_id"), md5(col("text")).as("new_hash")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") =!= col("new_hash"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))

  /** Split-leakage audit: near-duplicate pairs that CROSS the
    * train/val boundary — the classic silent eval-inflation bug
    * (random splits ignore duplicate structure, so a val doc with a
    * near-dup twin in train is effectively memorized, and held-out
    * loss lies). One row per leaking pair, canonicalized so `val_doc`
    * is always the contaminated evaluation doc. An empty result is
    * the release condition; fixing a non-empty one means splitting by
    * DUP CLUSTER ([[TextDedup.duplicateComponents]] labels) instead
    * of by doc.
    *
    * Scale: the pair list is dedup-output-sized, so the two split
    * joins broadcast; membership reuses [[Sampling.trainValSplit]]'s
    * seeded-hash bucket — deterministic, engine-portable, no
    * materialized split table needed.
    */
  def splitLeakage(
      docs: DataFrame,
      valFraction: Double = 0.1,
      seed: String = "42",
      shingleK: Int = 3,
      nHashes: Int = 12,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val split = Sampling.trainValSplit(docs, valFraction, seed)
      .select(col("doc_id"), col("split"))
    TextDedup
      .minhashLshPairs(docs, shingleK, nHashes, bands, threshold)
      .join(split.select(col("doc_id").as("da"), col("split").as("sa")),
        Seq("da"))
      .join(split.select(col("doc_id").as("db"), col("split").as("sb")),
        Seq("db"))
      .filter(col("sa") =!= col("sb"))
      .select(
        when(col("sa") === "val", col("da")).otherwise(col("db"))
          .as("val_doc"),
        when(col("sa") === "val", col("db")).otherwise(col("da"))
          .as("train_doc"),
        col("jaccard"))
  }

  /** The release gate: the one-row go/no-go report a corpus release
    * runs last — exact-dup fraction, PII-bearing-doc fraction, and
    * benchmark-contamination fraction, each thresholded into a pass
    * boolean, all-pass rolled into `release_ok`.
    *
    * ONE corpus scan for EVERYTHING in the probe regime (r18, was
    * two plus three `rlike` passes — r17 VERDICT #3): PII detection is
    * a single fused-alternation regex ([[Pii.AnyRe]]), and the
    * contamination verdict is a per-row projection over the in-row
    * distinct gram array probed against the memoized exact eval-gram
    * count map ([[Decontaminate.buildGramSetProbe]] — the gate re-runs
    * per release against the same eval suite, so the build amortizes
    * to zero; values identical to the join form, the probe is exact).
    * Per distinct content: copies, token sum, pii hits, clean copies;
    * then one global fold. n_dups = total copies − distinct contents
    * falls out of the same frame, with no countDistinct (whose
    * mixed-aggregate form Expands the input) and map-side partials
    * throughout. An oversized eval set or `forceDistributed` keeps
    * the certified two-scan form whose contamination count crossJoins
    * in from [[Decontaminate.decontaminate]]'s join regime.
    */
  def releaseGate(
      docs: DataFrame,
      evalDocs: DataFrame,
      maxDupFrac: Double = 0.05,
      maxPiiFrac: Double = 0.25,
      maxContamFrac: Double = 0.1,
      shingleK: Int = 3,
      maxOverlap: Double = 0.2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val piiHit = when(col("text").rlike(Pii.AnyRe), 1L).otherwise(0L)
    val probeName =
      if (graft.Regimes.forceDistributed) Decontaminate.ProbeMemo.Negative
      else Decontaminate.buildGramSetProbe(evalDocs, shingleK)
    val stats =
      if (probeName != Decontaminate.ProbeMemo.Negative) {
        val hit = (g: Column) => call_function(probeName, g) > 0
        val perRow = docs
          .select(col("text"), TextFns.tokenHashes(col("text")).as("hs"))
          .select(col("text"), size(col("hs")).as("__nt"),
            array_distinct(TextFns.gramHashArray(col("hs"), shingleK))
              .as("dg"))
          .select(md5(col("text")).as("__ch"),
            col("__nt"), piiHit.as("__p"),
            // gram-less docs (< k tokens, null text) have overlap 0.0
            // and always keep — the join form's left-join restore
            when(size(col("dg")) === 0, 1L)
              .otherwise(when(
                size(filter(col("dg"), g => hit(g))).cast("double") /
                  size(col("dg")) <= maxOverlap, 1L).otherwise(0L))
              .as("__k"))
        val perContent = perRow
          .groupBy(col("__ch"))
          .agg(
            count(lit(1)).as("__cnt"),
            sum(col("__nt").cast("long")).as("__toks"),
            sum(col("__p")).as("__pii"),
            sum(col("__k")).as("__clean"))
        // n_dups subtracts the count of NON-NULL distinct contents:
        // SQL's count(DISTINCT md5(text)) excludes NULL, so every
        // null-text doc is a dup copy — counting the null-hash group
        // as one distinct content would undercount n_dups by one on
        // corpora with null text
        perContent.agg(
          coalesce(sum(col("__cnt")), lit(0L)).as("n_docs"),
          sum(col("__toks")).as("n_tokens"),
          (coalesce(sum(col("__cnt")), lit(0L)) -
            count(when(col("__ch").isNotNull, 1))).as("n_dups"),
          coalesce(sum(col("__pii")), lit(0L)).as("n_pii_docs"),
          coalesce(sum(col("__clean")), lit(0L)).as("n_clean"))
      } else {
        val perContent = docs
          .groupBy(md5(col("text")).as("__ch"))
          .agg(
            count(lit(1)).as("__cnt"),
            sum(size(TextFns.tokens(col("text"))).cast("long"))
              .as("__toks"),
            sum(piiHit).as("__pii"))
        val base = perContent.agg(
          coalesce(sum(col("__cnt")), lit(0L)).as("n_docs"),
          sum(col("__toks")).as("n_tokens"),
          (coalesce(sum(col("__cnt")), lit(0L)) -
            count(when(col("__ch").isNotNull, 1))).as("n_dups"),
          coalesce(sum(col("__pii")), lit(0L)).as("n_pii_docs"))
        val clean = Decontaminate
          .decontaminate(docs, evalDocs, shingleK, maxOverlap)
          .agg(count(lit(1)).as("n_clean"))
        base.crossJoin(broadcast(clean))
      }
    stats
      .select(col("n_docs"), col("n_tokens"),
        (col("n_dups").cast("double") / col("n_docs")).as("dup_frac"),
        (col("n_pii_docs").cast("double") / col("n_docs"))
          .as("pii_doc_frac"),
        ((col("n_docs") - col("n_clean")).cast("double") / col("n_docs"))
          .as("contamination_frac"))
      .withColumn("pass_dup", col("dup_frac") <= maxDupFrac)
      .withColumn("pass_pii", col("pii_doc_frac") <= maxPiiFrac)
      .withColumn("pass_contamination",
        col("contamination_frac") <= maxContamFrac)
      .withColumn("release_ok",
        col("pass_dup") && col("pass_pii") && col("pass_contamination"))
  }

  /** The INCREMENT flagship — the serve-many counterpart of the
    * build-once [[curationPipeline]]: a NEW batch of documents gated
    * against an existing corpus's artifacts, the shape every
    * continuously-crawling pipeline runs per arrival. One row per
    * increment doc carrying every verdict and the evidence behind it:
    *
    *  - `is_dup` — near-dup of HISTORY ([[TextDedup.probeMinhashIndex]]
    *    against the history index: the increment is signed once and
    *    meets pre-bucketed posting lists — history is never
    *    re-signed);
    *  - `n_grams`/`overlap` — benchmark contamination
    *    ([[Decontaminate.decontaminateAudit]] against the eval slice);
    *  - `n_tokens`/`quality_ok` — the length gate;
    *  - `mean_seen` — document-frequency familiarity: the mean, over
    *    the doc's distinct k-grams, of how many HISTORY docs contain
    *    each gram (integer sum, one final IEEE division — the exact
    *    control of q142's sketch form);
    *  - `keep` = ¬dup ∧ overlap ≤ maxOverlap ∧ quality;
    *  - `rnk` — the kept docs' deterministic training order
    *    ([[Sampling.trainingOrder]], seeded), NULL for dropped docs.
    *
    * Scale shape: every stage is equi-keyed (banded probe join, gram
    * joins, keyed aggregations); the only pair generation is the
    * capped banded probe; order assignment rides the two-phase prefix
    * sum. All arithmetic is integer until the two final divisions, so
    * the whole composition hash-compares (q146).
    */
  def incrementGate(
      history: DataFrame,
      evalDocs: DataFrame,
      increment: DataFrame,
      shingleK: Int = 3,
      maxOverlap: Double = 0.2,
      minTokens: Int = 5,
      seed: String = "inc1"): DataFrame = {
    // ALL THREE slices pay ONE gram front end (r22; the r21 shape ran
    // two minhashIndexImpl builds plus a third eval-side gram pipeline
    // — three spread exchanges, three tokenize+gram passes, two set
    // checkpoints): history, increment and eval rows are tagged and
    // shingled in a single spread → tokenize → gram → collect_set
    // pipeline whose ONE lazy checkpoint every downstream consumer
    // filters by tag. Per-(tag, doc_id) sets are value-identical to
    // per-slice builds — grams are a pure per-row function of text —
    // so every verdict below is unchanged. Each side's single-consumer
    // signature frame still derives separately from the (cheap,
    // block-backed) filtered sets and never checkpoints
    // (bucketsFromSets); the set checkpoint is released by the
    // harness's Checkpoints.releaseLeaked between queries, the
    // minhashIndex convention.
    val tagged = history.select(lit(0).as("__slice"), col("doc_id"), col("text"))
      .unionByName(
        increment.select(lit(1).as("__slice"), col("doc_id"), col("text")))
      .unionByName(
        evalDocs.select(lit(2).as("__slice"), col("doc_id"), col("text")))
    val allSets = Checkpoints.lazyFence(
      TextDedup.shingleSetsTagged(tagged, shingleK, "__slice"))
    def slice(n: Int): DataFrame =
      allSets.filter(col("__slice") === n).drop("__slice")
    val sets = slice(0) // history posting arrays
    // the increment slice is read THREE times (signatures, rerank,
    // shared gram frame) but is a small fraction of the shared blocks
    // (a 0.1% daily batch at production shape): its own lazy fence
    // means the second and third reads touch increment-sized blocks
    // instead of re-filtering the full union (r22; measured the
    // remaining task-time cost of the shared frame)
    val incS = Checkpoints.lazyFence(slice(1))
    val buckets = TextDedup.bucketsFromSets(sets, nHashes = 12, bands = 4,
      maxBucketWidth = None, checkpointSignatures = false)
    val incB = TextDedup.bucketsFromSets(incS, nHashes = 12, bands = 4,
      maxBucketWidth = None, checkpointSignatures = false)
    val dupIds = TextDedup
      .probePrebuilt(incB, incS, buckets, sets, threshold = 0.5)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    // the shared distinct gram frame IS the increment's posting arrays
    val incG = incS.select(col("doc_id"), explode(col("sh")).as("gh"))
    // per-doc sets exploded + global distinct ≡ the old
    // gramHashes(evalDocs).distinct — both are the union of the eval
    // docs' distinct gram sets
    val evalG = slice(2).select(explode(col("sh")).as("gh")).distinct()
    val histDf = sets.select(explode(col("sh")).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("__df"))
    // contamination AND familiarity = the ONE audit kernel in ONE pass
    // over the shared gram frame (r16 VERDICT #1: the separate decon /
    // fam frames each re-joined and re-aggregated incG, and `flags`
    // paid a left-join per verdict — pure serial stage floors)
    val verdicts = Decontaminate.overlapFromGrams(
      increment.select(col("doc_id")), incG, evalG, gramDf = Some(histDf))
      .select(col("doc_id"), col("n_grams"), col("overlap"),
        col("mean_seen"))
    // `flags` is fenced: BOTH consumers below (the keep-list
    // fed to trainingOrder, and the final verdict join) would otherwise
    // re-execute the whole probe + verdict stack — exchange reuse does
    // not survive the differing filters. One row per increment doc,
    // nine scalars; released by the harness broom (keepFilter's
    // materialize-once convention).
    val flags = Checkpoints.lazyFence(increment
      .select(col("doc_id"),
        greatest(size(TextFns.tokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
      .join(dupIds, Seq("doc_id"), "left")
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__dup"), lit(false)).as("is_dup"),
        col("n_grams"), col("overlap"), col("n_tokens"),
        (col("n_tokens") >= minTokens).as("quality_ok"),
        coalesce(col("mean_seen"), lit(0.0)).as("mean_seen"))
      .withColumn("keep",
        !col("is_dup") && col("overlap") <= maxOverlap && col("quality_ok")))
    val order = Sampling.trainingOrder(flags.filter(col("keep")), seed)
    flags.join(order, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_dup"), col("n_grams"),
        col("overlap"), col("n_tokens"), col("quality_ok"),
        col("mean_seen"), col("keep"), col("rnk"))
  }
}
