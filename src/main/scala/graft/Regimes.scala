package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of regime choice. Many operators keep two
  * value-identical forms: a small one (driver, inline or broadcast)
  * and the large one that runs at 100 TB. Every choice between them
  * is made here, from three parts:
  *
  *  - the PIN: [[forceDistributed]] sends every pinned decision to its
  *    large form, so the full DuckDB oracle gate certifies the 100 TB
  *    plans and not just the small-input fast paths. Call sites ask
  *    through [[small]], [[unlessPinned]] or [[cap]]; under the pin
  *    the small form's probe is never evaluated, so it runs no job;
  *  - the ROW PROBE [[rowsFit]]: `limit(n+1).count() <= n`, one
  *    bounded job that never scans past n+1 rows. A bound the probe
  *    cannot check (≤ 0, or ≥ `Int.MaxValue`, which would overflow
  *    `limit`) answers "does not fit" without a job;
  *  - the BYTES PROBE [[smallTable]]: one driver-side file-system stat,
  *    no job. A path that cannot be read picks the large form.
  *
  * Pinned decisions (value-identical pairs, small vs large form):
  *  - [[graft.EnaMain.chooseBroadcastRegime]] and
  *    [[graft.embl.EnaPipeline.resolveIds]]: driver-map resolve vs
  *    shuffle join (same J1 semantics);
  *  - [[graft.llm.TextDedup.duplicateComponents]]: driver union-find
  *    vs distributed min-label/star loop;
  *  - [[graft.llm.TextDedup.pairGraphCentrality]]: driver Long rounds
  *    vs distributed rounds;
  *  - [[graft.llm.Curation]]'s stage barrier: inlined InSet filter vs
  *    fence + broadcast join;
  *  - [[graft.llm.Decontaminate]]'s gram-set probe (decontaminate,
  *    decontaminateAudit, the Bloom calibration, Curation.releaseGate):
  *    exact count-map probe vs eval-gram join;
  *  - [[graft.llm.LangModel]]'s model probe: count-map probe vs
  *    shuffle join;
  *  - [[graft.llm.Bpe.bpeTrain]]: driver merge loop vs batched
  *    distributed rounds;
  *  - [[graft.operators.Percentiles]]: single-window vs two-phase
  *    rank, literal when-chain vs broadcast-lookup bounds;
  *  - [[graft.operators.EventAnalytics.quantileDrift]]: native
  *    buffering median + global lag vs histogram median + distributed
  *    lag;
  *  - q49 (branched vs fused), q50 (native aggregate vs histogram) and
  *    q58 (pair join vs rank form − 1), on table bytes.
  *
  * `Percentiles.grouped` and `TextAnalysis.familiarityBucketsAuto` ask
  * [[rowsFit]] but are NOT pinned: their large forms are APPROXIMATE,
  * and forcing them would change values, which is exactly what an
  * oracle run must not do. Their specs gate the scale forms instead.
  */
object Regimes {

  /** True when every pinned decision takes its large form. Set by
    * `SPARK_GRAFT_FORCE_DISTRIBUTED=1` (env, what the gate sets) or
    * `-Dspark.graft.forceDistributed=true` (system property, what
    * in-JVM tests toggle). Read per call, so one JVM can run both
    * regimes back to back.
    */
  def forceDistributed: Boolean =
    flag(sys.env.get("SPARK_GRAFT_FORCE_DISTRIBUTED")) ||
      flag(sys.props.get("spark.graft.forceDistributed"))

  private def flag(v: Option[String]): Boolean =
    v.exists(s => s == "1" || s.equalsIgnoreCase("true"))

  /** The small form iff `fits`; false under the pin without evaluating
    * it. */
  def small(fits: => Boolean): Boolean = unlessPinned(fits).contains(true)

  /** The small form's probe, or None under the pin without running
    * it. */
  def unlessPinned[A](probe: => A): Option[A] =
    if (forceDistributed) None else Some(probe)

  /** A small-form size bound, or 0 (nothing fits) under the pin. */
  def cap(bound: Int): Int = if (forceDistributed) 0 else bound

  /** `df` limited to `n + 1` rows, or None when `n` is not a bound the
    * probe can check: ≤ 0, or ≥ `Int.MaxValue` (`n + 1` would overflow
    * `limit`). */
  def firstRows(df: DataFrame, n: Long): Option[DataFrame] =
    if (n <= 0L || n >= Int.MaxValue) None else Some(df.limit(n.toInt + 1))

  /** True iff `df` holds at most `n` rows, by one job that reads at
    * most n+1 of them; false without a job when `n` cannot be checked
    * (see [[firstRows]]). Not pinned: the caller decides. */
  def rowsFit(df: DataFrame, n: Long): Boolean =
    firstRows(df, n).exists(_.count() <= n)

  /** The small form iff the files under `path` total at most
    * `maxBytes`, by one driver-side file-system stat; the large form
    * when the path cannot be read, and under the pin. */
  def smallTable(spark: SparkSession, path: String, maxBytes: Long): Boolean =
    small {
      val p = new org.apache.hadoop.fs.Path(path)
      scala.util.Try(p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength).toOption.exists(_ <= maxBytes)
    }
}
