package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one query or one build share
  * `group`; `parent` is the id of the enclosing span, or -1.
  */
final case class Span(
    id: Int, name: String, group: String, parent: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, group: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, group, parent, t0, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfNs: Map[Int, Long] = {
    val children = done.groupBy(_.parent)
    done.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - Intervals.unionLength(kids, s.startNs, s.endNs))
    }.toMap
  }
}

object Intervals {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionLength(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s
          curE = e
        } else if (e > curE) curE = e
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Engine totals for the jobs of one job description. */
final class JobTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var inputBytes = 0L
  /** (start, end) of each finished job, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: JobTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    inputBytes += o.inputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Attributes jobs, stages, tasks, CPU, GC, shuffle, spill and result
  * bytes to the job description set on the submitting thread.
  */
final class LayerListener extends SparkListener {
  private val totals = mutable.Map.empty[String, JobTotals]
  private val stageKey = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def of(key: String) = totals.getOrElseUpdate(key, new JobTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    e.stageIds.foreach(stageKey(_) = key)
    jobStart(e.jobId) = (key, e.time)
    of(key).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (key, t0) =>
      of(key).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageKey.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = of(stageKey.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.resultBytes += m.resultSize
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def snapshot(sc: SparkContext): Map[String, JobTotals] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(totals.toMap)
  }

  /** Totals for every description accepted by `keep`, after the bus
    * has delivered every event posted so far.
    */
  def totalsFor(sc: SparkContext)(keep: String => Boolean): JobTotals = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val sum = new JobTotals
      totals.foreach { case (k, t) => if (keep(k)) sum.add(t) }
      sum
    }
  }
}

object Trace {
  /** Spans with a self time that the metrics report, one per workload
    * kind: an ENA build and a query.
    */
  val ParentSpans = Seq("build", "query")

  def selfTimes(tr: Tracer, m: ObjectNode): Unit = {
    val self = tr.selfNs
    ParentSpans.foreach { name =>
      val xs = tr.spans.filter(_.name == name).map(s => self(s.id) / 1e9)
      m.put(s"trace.self_${name}_s", EnaRun.median(xs))
    }
  }

  /** Writes every span, with its self time, and the engine totals of
    * every job description.
    */
  def write(path: String, tr: Tracer, l: LayerListener, sc: SparkContext): Unit = {
    val root = Json.obj()
    val t0 = tr.spans.map(_.startNs).minOption.getOrElse(0L)
    val self = tr.selfNs
    val spans = root.putArray("spans")
    tr.spans.sortBy(_.id).foreach { s =>
      val o = spans.addObject()
      o.put("id", s.id)
      o.put("name", s.name)
      o.put("group", s.group)
      o.put("parent", s.parent)
      o.put("start_ms", (s.startNs - t0) / 1e6)
      o.put("dur_ms", s.durNs / 1e6)
      o.put("self_ms", self(s.id) / 1e6)
    }
    val jobs = root.putObject("jobs_by_description")
    l.snapshot(sc).toSeq.sortBy(_._1).foreach { case (k, t) =>
      val o = jobs.putObject(k)
      o.put("jobs", t.jobs)
      o.put("stages", t.stages)
      o.put("tasks", t.tasks)
      o.put("task_s", t.taskMs / 1e3)
      o.put("cpu_s", t.cpuNs / 1e9)
      o.put("gc_s", t.gcMs / 1e3)
      o.put("shuffle_write_bytes", t.shuffleWriteBytes)
      o.put("shuffle_read_bytes", t.shuffleReadBytes)
      o.put("spill_bytes", t.spillBytes)
      o.put("result_bytes", t.resultBytes)
      o.put("input_bytes", t.inputBytes)
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).toAbsolutePath.getParent)
    Json.write(path, root)
  }
}
