package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.llm.TextDedup

class CheckpointsSpec extends AnyFunSuite with SparkSpec {

  /** Jobs (their stage names) and summed task result bytes of `body`.
    * A marker job fences the async listener bus: its start event
    * arrives after every event of the jobs `body` ran. */
  private def observe[A](body: => A): (A, Seq[String], Long) = {
    val sc = spark.sparkContext
    val marker = s"checkpoints-spec-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[String]()
    val bytes = new AtomicLong
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (marker == j.properties.getProperty("spark.job.description"))
          seen.countDown()
        else if (seen.getCount > 0)
          jobs.add(j.stageInfos.map(_.name).mkString(";"))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (seen.getCount > 0 && t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.resultSize)
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.asScala.toSeq, bytes.get)
    } finally sc.removeSparkListener(l)
  }

  /** Persistent RDDs created after the call that returned `floor`.
    * The registry holds its RDDs weakly, so a plain count also drops
    * whenever earlier garbage is collected. */
  private def floor: Int = spark.sparkContext.emptyRDD[Int].id
  private def pinnedSince(floor: Int): Int =
    spark.sparkContext.getPersistentRDDs.keys.count(_ > floor)

  private def forced[A](body: => A): A = {
    sys.props("spark.graft.forceDistributed") = "true"
    try body finally sys.props.remove("spark.graft.forceDistributed")
  }

  private val probeJob = "(^|;)(collect|runJob) at Checkpoints\\.scala".r

  test("probe: a fitting balanced fence returns its exact rows in one job") {
    val f = Checkpoints.lazyFence(spark.range(0, 400, 1, 4).toDF("id"))
    val (rows, jobs, _) = observe(Checkpoints.probe(f, 400))
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) === Some(0L until 400L))
    assert(jobs.size === 1, jobs)
    Checkpoints.release(f)
  }

  test("probe: an overflow ships about cap rows at most, returns none, and leaves the fence readable") {
    val cap = 5000L
    // one partition holding exactly cap rows: the bytes of shipping cap rows
    val one = Checkpoints.lazyFence(spark.range(0, cap, 1, 1).toDF("id"))
    val (fit, _, capBytes) = observe(Checkpoints.probe(one, cap))
    assert(fit.map(_.length) === Some(cap.toInt))
    // 16 partitions × cap rows: an overflow must not ship P × cap rows
    val wide = Checkpoints.lazyFence(spark.range(0, 16 * cap, 1, 16).toDF("id"))
    val (over, jobs, wideBytes) = observe(Checkpoints.probe(wide, cap))
    assert(over.isEmpty && jobs.size === 1, jobs)
    assert(wideBytes <= 2 * capBytes,
      s"overflow probe shipped $wideBytes result bytes; cap rows are $capBytes")
    assert(wide.count() === 16 * cap) // the fence stays readable
    Checkpoints.release(one)
    Checkpoints.release(wide)
  }

  test("probe: every row in one of 16 partitions still returns the exact rows") {
    val n = 1000L
    val f = Checkpoints.lazyFence(spark.range(n).repartition(16, lit(0)).toDF("id"))
    assert(f.rdd.getNumPartitions === 16)
    val (rows, jobs, _) = observe(Checkpoints.probe(f, n))
    assert(rows.map(_.map(_.getLong(0)).sorted.toSeq) === Some(0L until n))
    assert(jobs.size === 2, jobs) // the drain, then the one over-share partition
    Checkpoints.release(f)
  }

  test("probe callers release the fence when they take the rows") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("da", "db")
    val before = floor
    val comps = TextDedup.duplicateComponents(pairs)
    assert(comps.collect().length === 5)
    val cent = TextDedup.pairGraphCentrality(pairs)
    assert(cent.collect().length === 5)
    assert(pinnedSince(before) === 0)
  }

  test("under forceDistributed the probe callers skip the probe") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("da", "db")
    def probeJobs(body: => Any): Int =
      observe(body)._2.count(j => probeJob.findFirstIn(j).isDefined)
    assert(probeJobs(TextDedup.duplicateComponents(pairs).collect()) === 1)
    assert(probeJobs(TextDedup.pairGraphCentrality(pairs).collect()) === 1)
    val docs = Seq((1L, "a b c d e f"), (2L, "g h i j k l")).toDF("doc_id", "text")
    forced {
      assert(probeJobs(TextDedup.duplicateComponents(pairs).collect()) === 0)
      assert(probeJobs(TextDedup.pairGraphCentrality(pairs).collect()) === 0)
      assert(probeJobs(graft.llm.Decontaminate
        .decontaminateAudit(docs, docs.filter(col("doc_id") === 1L))
        .collect()) === 0)
      assert(probeJobs(graft.llm.LangModel
        .rareTransitionScore(docs, docs).collect()) === 0)
    }
    Checkpoints.releaseLeaked(s)
  }

  test("fences are released when an iterative operator throws") {
    val s = spark
    import s.implicits._
    // propagation spends 8 rounds, the one star round cannot contract
    // a 100-edge chain: starComponents throws at its round budget
    val chain = (0L until 100L).map(i => (i, i + 1)).toDF("da", "db")
    val before = floor
    val ex = intercept[IllegalStateException] {
      TextDedup.duplicateComponents(chain, maxIter = 9, escalateAfter = 8,
        smallGraphMaxEdges = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
    assert(pinnedSince(before) === 0)
    // three nodes at this mass overflow the per-edge multiply rail
    val tri = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    forced {
      val rail = intercept[IllegalArgumentException] {
        TextDedup.pairGraphCentrality(tri, initMass = Long.MaxValue / 17 / 2)
      }
      assert(rail.getMessage.contains("overflow"))
    }
    assert(pinnedSince(before) === 0)
  }

  test("scope: a release waits for the lazy fence that still depends on it") {
    val s = spark
    val before = floor
    val out = Checkpoints.scoped { sc =>
      val parent = sc.fence(s.range(0, 100, 1, 4).toDF("id"))
      val child = sc.lazyFence(parent.filter(col("id") % 2 === 0))
      sc.release(parent) // child is unmaterialized: parent must stay
      assert(pinnedSince(before) === 2)
      val grandchild = sc.advance(child)(c => sc.fence(c.filter(col("id") < 10)))
      assert(pinnedSince(before) === 1) // both released once grandchild materialized
      grandchild
    }
    assert(out.collect().length === 5) // the returned fence passed to the caller
    Checkpoints.release(out)
    assert(pinnedSince(before) === 0)
  }

  test("only Checkpoints materializes: no localCheckpoint/checkpoint call elsewhere in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val owner = java.nio.file.Paths.get("graft", "operators", "Checkpoints.scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = for {
      f <- files if !root.relativize(f).equals(owner)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
