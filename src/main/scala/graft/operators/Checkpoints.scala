package graft.operators

import org.apache.spark.rdd.RDD
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of materialization: every fence (a frame whose plan
  * is cut to materialized rows) is made, probed and released here.
  *
  * FENCES. [[fence]] materializes now, in its own job. [[lazyFence]]
  * only cuts the plan: the first job that reads the fence in full
  * (any full-partition action — a count, an aggregate, a join side,
  * a [[probe]]) materializes every partition, so a fence whose first
  * consumer is such a job costs no job of its own. Either way the
  * upstream pipeline runs once and later consumers read blocks.
  * Storage is `localCheckpoint`: the blocks live on the executors and
  * lineage is truncated, so [[materialize]] is the single place a
  * lineage-keeping policy would go.
  *
  * RELEASE. A fence pins its blocks for the life of the SparkContext
  * (`Dataset.unpersist` never sees them), so an operator that fences
  * per round must release superseded rounds. [[scoped]] owns that: a
  * [[Scope]] releases every fence it made when its body exits —
  * returning or throwing — except the fences the returned frame still
  * reads, which pass to the caller. A fence is never released while a
  * live, not yet materialized lazy fence still depends on it (its
  * first job would recompute from dropped blocks); such a release
  * waits until the dependant has materialized or the scope exits.
  * [[release]] drops one fence outright; [[releaseLeaked]] is the
  * harness broom between independent queries.
  *
  * PROBE. [[probe]] drains a fence in one job and returns its rows iff
  * it holds at most `cap` rows. The driver receives about `2·cap + P`
  * rows at most (P = partitions), whatever the fence's size.
  */
object Checkpoints {

  /** Materialize `df` now; later consumers read its blocks. */
  def fence(df: DataFrame): DataFrame = materialize(df, eager = true)

  /** Cut `df`'s plan; its first full-partition consumer materializes
    * it. */
  def lazyFence(df: DataFrame): DataFrame = materialize(df, eager = false)

  private def materialize(df: DataFrame, eager: Boolean): DataFrame =
    df.localCheckpoint(eager)

  /** Rows of `fence` iff it holds at most `cap` rows, in one job that
    * also completes a lazy fence. Each partition ships its rows only
    * while it holds at most `ceil(cap / P)`; when the total fits but
    * some partition was over that share, a second job reads just those
    * partitions back from the (now materialized) blocks. So an
    * oversized fence ships at most `cap + P` rows and a fitting one at
    * most `2·cap + P`; a balanced fitting fence takes one job. `None`
    * leaves the fence materialized and readable.
    */
  def probe(fence: DataFrame, cap: Long): Option[Array[Row]] = {
    val rdd = fence.queryExecution.toRdd
    val p = rdd.getNumPartitions
    val share = (cap + p - 1) / math.max(p, 1)
    val parts = rdd.mapPartitions { it =>
      val buf = mutable.ArrayBuffer.empty[InternalRow]
      var n = 0L
      // rows are buffer-backed and reused: copy
      it.foreach { r => if (n < share) buf += r.copy(); n += 1L }
      Iterator.single((n, if (n <= share) buf.toArray else Array.empty[InternalRow]))
    }.collect()
    if (parts.iterator.map(_._1).sum > cap) None
    else {
      val over = parts.indices.filter(i => parts(i)._1 > share)
      // an empty partition list would still post a (no-task) job
      val reread = if (over.isEmpty) Array.empty[Array[InternalRow]]
        else rdd.sparkContext.runJob(rdd,
          (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, over)
      val conv = CatalystTypeConverters.createToScalaConverter(fence.schema)
      Some((parts.iterator.flatMap(_._2) ++ reread.iterator.flatten)
        .map(r => conv(r).asInstanceOf[Row]).toArray)
    }
  }

  /** Unpersist the blocks behind a fence. No-op for frames that aren't
    * fences. Non-blocking: the caller never waits on block eviction.
    */
  def release(df: DataFrame): Unit =
    fenceRdds(df).foreach(_.unpersist(blocking = false))

  /** Drop every persistent RDD and cached plan in the session — the
    * between-queries broom for benchmark/verify harnesses. Without it,
    * fences from q61/q72 stay pinned for the rest of the suite and
    * every later query runs under their GC pressure.
    */
  def releaseLeaked(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Run `body` with a [[Scope]] that owns the fences it makes: on exit
    * it releases them all, keeping only those a returned DataFrame
    * still reads. A throw releases every one. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    val out = try body(s) catch { case t: Throwable => s.close(None); throw t }
    s.close(Some(out).collect { case ds: Dataset[_] => ds.toDF() })
    out
  }

  /** Fences of one operator call; see [[scoped]]. */
  final class Scope private[Checkpoints] {
    private val live = mutable.ArrayBuffer.empty[DataFrame]
    private val retired = mutable.ArrayBuffer.empty[DataFrame]

    def fence(df: DataFrame): DataFrame = own(Checkpoints.fence(df))
    def lazyFence(df: DataFrame): DataFrame = own(Checkpoints.lazyFence(df))
    private def own(f: DataFrame): DataFrame = { live += f; f }

    /** One round of an iterative operator: `step` builds the next
      * round's fence from `prev` (and may read both), then `prev` is
      * released. */
    def advance(prev: DataFrame)(step: DataFrame => DataFrame): DataFrame = {
      val next = step(prev)
      release(prev)
      next
    }

    /** Release `f` now, or once no live lazy fence depends on it. */
    def release(f: DataFrame): Unit = { live -= f; retired += f; sweep(live.toSeq) }

    private[Checkpoints] def close(result: Option[DataFrame]): Unit = {
      retired ++= live; live.clear(); sweep(result.toSeq)
    }

    /** Release every retired fence that no root's lineage reaches. */
    private def sweep(roots: Seq[DataFrame]): Unit = {
      val needed = lineage(roots.flatMap(fenceRdds))
      retired.filterInPlace { f =>
        val keep = fenceRdds(f).exists(r => needed(r.id))
        if (!keep) Checkpoints.release(f)
        keep
      }
    }
  }

  private def fenceRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Ids of `roots` and every RDD their lineage still reaches: a
    * materialized fence's lineage stops at its own blocks. */
  private def lineage(roots: Seq[RDD[_]],
      seen: mutable.Set[Int] = mutable.Set.empty): mutable.Set[Int] = {
    roots.foreach(r => if (seen.add(r.id)) lineage(r.dependencies.map(_.rdd), seen))
    seen
  }
}
