package graftbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.embl.FlagshipFixture
import graft.operators.Checkpoints

/** One query of a timed pass: wall and the calls inside it. */
final case class QueryTime(
    name: String, wallS: Double, startMs: Long, endMs: Long)

object SuiteRun {
  val Families = Seq("queries", "llm", "functions", "operators", "streaming")

  def inputBytes(sfDir: String): Long = {
    def sizeOf(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
      else f.length
    Option(new File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(sizeOf).sum
  }

  /** `graft.Bench`'s layout normalization: each table rewritten into
    * `parts` files under `dir`.
    */
  def normalizeLayout(spark: SparkSession, sfDir: String, dir: String,
      parts: Int): Unit =
    Option(new File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        spark.read.parquet(f.getAbsolutePath).repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/${f.getName}")
      }

  def run(a: Args): Unit = {
    val work = a("work")
    val sfDir = a("sf")
    val seconds = a.double("seconds")
    val traced = a.flag("trace")
    val cpus = a.int("cpus")
    val bytes = inputBytes(sfDir)
    val parts = Sessions.suiteParts(cpus, bytes)
    val spark = Sessions.suite(cpus, parts, work)
    val sc = spark.sparkContext
    val expected = Json.fields(Json.read(a("digests")).get("digests")).map { case (k, v) => k -> v.asText() }.toMap
    val family = Json.fields(Json.read(a("families")).get("families")).map { case (k, v) => k -> v.asText() }.toMap
    val names = a("queries").split(",").toSeq.sorted
    val fns = SparkEntry.queries
    val res = Json.obj()
    val errors = res.putArray("errors")
    val failedQ = mutable.Set.empty[String]
    def fail(name: String, why: String): Unit = {
      failedQ += name
      errors.add(s"$name: $why")
    }

    // the normalized layout is an input, cached like the generated ENA
    // corpora: keyed by the tables and the partition count
    val dataDir = s"${a("layout_cache")}-p${parts.layout}"
    val t0 = System.nanoTime()
    val done = new File(dataDir, "_NORMALIZED")
    if (!done.exists()) {
      normalizeLayout(spark, sfDir, dataDir, parts.layout)
      done.createNewFile()
    }
    res.put("normalize_s", (System.nanoTime() - t0) / 1e9)

    // warm pass, untimed: each query runs once and its collected result
    // is checked against the digest recorded from an oracle-green run
    val got = res.putObject("digests")
    val warm = res.putObject("warm_s")
    names.foreach { name =>
      sc.setJobDescription(s"warm:$name")
      val t0 = System.nanoTime()
      try {
        val df = fns(name)(spark, dataDir)
        val d = Digest.of(df.schema.fieldNames.toSeq, df.collect().iterator)
        got.put(name, d)
        if (!expected.get(name).contains(d))
          fail(name, s"digest $d, expected ${expected.getOrElse(name, "none")}")
      } catch { case e: Exception => fail(name, s"warm pass threw: $e") }
      Checkpoints.releaseLeaked(spark)
      warm.put(name, (System.nanoTime() - t0) / 1e9)
    }

    def pass(tr: Tracer): Seq[QueryTime] = names.map { name =>
      sc.setJobDescription(name)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      tr.span("query", name) {
        try {
          val df = tr.span("construct", name)(fns(name)(spark, dataDir))
          tr.span("execute", name)(EnaRun.noop(df))
        } catch { case e: Exception => fail(name, s"timed pass threw: $e") }
        finally tr.span("release", name)(Checkpoints.releaseLeaked(spark))
      }
      QueryTime(name, (System.nanoTime() - t0) / 1e9, startMs,
        System.currentTimeMillis())
    }

    res.put("first_timed_ms", System.currentTimeMillis())
    val passes = mutable.ArrayBuffer.empty[Seq[QueryTime]]
    val start = System.nanoTime()
    val off = new Tracer(false)
    val minPasses = if (traced) 1 else a.int("min_passes")
    while (passes.length < minPasses ||
           (!traced && (System.nanoTime() - start) / 1e9 < seconds))
      passes += pass(off)
    if (traced) {
      val listener = new LayerListener
      sc.addSparkListener(listener)
      val tr = new Tracer(true)
      val qs = pass(tr)
      sc.removeSparkListener(listener)
      // untraced passes before and after the traced one: the JIT is
      // still settling, so the traced pass is set against their mean
      passes += pass(off)
      sc.addSparkListener(listener)
      val m = res.putObject("layers")
      familyMetrics(sc, qs, tr, listener, family, m)
      val plainS = passes.map(_.map(_.wallS).sum).sum / passes.length
      m.put("trace.overhead_ratio", qs.map(_.wallS).sum / plainS - 1)
      // ENA layers on the flagship fixture q29 reads: the embl.* metrics
      // this workload should leave flat
      val root = FlagshipFixture.ensureFixture().toString
      val out = s"$work/ena_out"
      val rungs = (0 until 3).map(i => EnaRun.ladder(spark, Seq(root),
        FlagshipFixture.idmapping(spark), out, tr, i))
      val pass0 = listener.totalsFor(sc)(names.toSet)
      EnaRun.layerMetrics(spark, rungs, listener,
        FlagshipFixture.idmapping(spark), out, m)
      m.put("embl.resolve_hit_ratio", 0.0) // not known for the fixture
      // the engine metrics of this workload are those of its timed pass
      m.put("spark.jobs", pass0.jobs)
      m.put("spark.stages", pass0.stages)
      m.put("spark.tasks", pass0.tasks)
      m.put("spark.executor_cpu_s", pass0.cpuNs / 1e9)
      m.put("spark.gc_s", pass0.gcMs / 1e3)
      m.put("spark.shuffle_write_bytes", pass0.shuffleWriteBytes)
      m.put("spark.result_bytes", pass0.resultBytes)
      Trace.write(a("trace_file"), tr, listener, sc)
      Trace.selfTimes(tr, m)
    }
    sc.setJobDescription(null)
    val ps = res.putArray("passes")
    passes.foreach { p =>
      val o = ps.addObject()
      p.foreach(q => o.put(q.name, q.wallS))
    }
    res.put("attempted", names.length)
    res.put("failed", failedQ.size)
    res.put("input_bytes", bytes)
    res.put("shuffle_partitions", parts.shuffle)
    res.put("layout_partitions", parts.layout)
    res.put("anchor_s", Box.anchorS(spark))
    res.put("peak_rss_mb", Box.peakRssMb())
    res.set[ObjectNode]("versions", Box.versions(spark))
    Json.write(a("result"), res)
    spark.stop()
  }

  /** Per-family totals over one traced pass. */
  def familyMetrics(sc: org.apache.spark.SparkContext, qs: Seq[QueryTime],
      tr: Tracer, l: LayerListener, family: Map[String, String],
      m: ObjectNode): Unit = {
    val byName = l.snapshot(sc)
    val spans = tr.spans.groupBy(s => (s.group, s.name))
    def spanS(q: String, n: String) =
      spans.getOrElse((q, n), Nil).map(_.durNs).sum / 1e9
    Families.foreach { f =>
      val mine = qs.filter(q => family.getOrElse(q.name, "queries") == f)
      val t = new JobTotals
      var gapMs = 0L
      mine.foreach { q =>
        val jt = byName.getOrElse(q.name, new JobTotals)
        t.add(jt)
        gapMs += (q.endMs - q.startMs) -
          Intervals.unionLength(jt.jobIntervals, q.startMs, q.endMs)
      }
      m.put(s"$f.wall_s", mine.map(_.wallS).sum)
      m.put(s"$f.construct_s", mine.map(q => spanS(q.name, "construct")).sum)
      m.put(s"$f.execute_s", mine.map(q => spanS(q.name, "execute")).sum)
      m.put(s"$f.jobs", t.jobs)
      m.put(s"$f.task_s", t.taskMs / 1e3)
      m.put(s"$f.shuffle_bytes", t.shuffleWriteBytes)
      m.put(s"$f.spill_bytes", t.spillBytes)
      m.put(s"$f.driver_gap_s", gapMs / 1e3)
    }
  }
}
