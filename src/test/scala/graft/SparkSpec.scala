package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", // keep saveAsTable out of the repo
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark

  /** Run `body` with [[graft.Regimes]]' forced-distributed pin up. */
  def forced[A](body: => A): A = {
    sys.props("spark.graft.forceDistributed") = "true"
    try body finally sys.props.remove("spark.graft.forceDistributed")
  }

  /** `body`'s result, the start events of the jobs it ran and the
    * metrics of their tasks. A marker job fences the async listener
    * bus: its start event arrives after every event of those jobs. */
  def sparkEvents[A](body: => A): (A, Seq[SparkListenerJobStart], Seq[TaskMetrics]) = {
    val sc = spark.sparkContext
    val marker = s"spark-spec-marker-${System.nanoTime()}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val tasks = new ConcurrentLinkedQueue[TaskMetrics]()
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (marker == j.properties.getProperty("spark.job.description"))
          seen.countDown()
        else if (seen.getCount > 0)
          jobs.add(j)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (seen.getCount > 0 && t.taskMetrics != null)
          tasks.add(t.taskMetrics)
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.asScala.toSeq, tasks.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
