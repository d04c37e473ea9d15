package graftbench

import java.io.File
import java.net.URI
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.EnaMain
import graft.embl.{Coords, EmblLines, EmblSegmenter, EnaPipeline, SegMetrics}

/** Output of `EnaPipeline.writeTsv` read back: row count, digest of
  * `division \t row` lines, and bytes written.
  */
final case class TsvReadBack(rows: Long, digest: String, bytes: Long)

object EnaRun {
  val maxRows: Long =
    sys.env.getOrElse("ENA_BROADCAST_MAX_ROWS", "1000000").toLong
  val maxBytes: Long =
    sys.env.getOrElse("ENA_BROADCAST_MAX_BYTES", (256L << 20).toString).toLong

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `EnaMain.main`'s sequence: idmapping read, regime probe, `enaTab`,
    * TSV write. Returns the regime and the segmentation counters.
    */
  def build(spark: SparkSession, roots: Seq[String], idmapping: => DataFrame,
      out: String, tr: Tracer, group: String): (Boolean, SegMetrics) =
    tr.span("build", group) {
      val idmap = tr.span("read_idmapping", group)(idmapping)
      val broadcast = tr.span("probe", group)(
        EnaMain.chooseBroadcastRegime(idmap, maxRows, maxBytes))
      val metrics = SegMetrics(spark.sparkContext)
      val tab = tr.span("ena_tab", group)(EnaPipeline.enaTab(spark, roots,
        idmap, broadcastIdMap = broadcast, metrics = Some(metrics)))
      tr.span("write_tsv", group)(EnaPipeline.writeTsv(tab, out))
      (broadcast, metrics)
    }

  def readBack(out: String): TsvReadBack = {
    var rows = 0L
    var sum = 0L
    var bytes = 0L
    val dirs = Option(new File(out).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("division="))
    for (d <- dirs; f <- Option(d.listFiles()).toSeq.flatten
         if f.getName.startsWith("part-")) {
      val division = d.getName.stripPrefix("division=")
      bytes += f.length
      Files.lines(f.toPath).iterator().asScala.foreach { line =>
        sum += Digest.rowHash(division + "\t" + line)
        rows += 1
      }
    }
    TsvReadBack(rows, Digest.render(rows, sum), bytes)
  }

  /** The probe's own inputs, recomputed outside the timed region with
    * the same bounded query: rows seen (at most maxRows + 1) and the
    * estimated driver-map bytes.
    */
  def probeValues(idmap: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = idmap.limit((maxRows min (Int.MaxValue - 1).toLong).toInt + 1)
      .agg(count(lit(1)), coalesce(sum(
        octet_length(col("foreign_id")).cast("long") +
          octet_length(col("uniprot_id")).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1) * 2 + r.getLong(0) * 48)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Files the sequence-tree division prune keeps, by the same rule as
    * `EnaPipeline.readLoci`.
    */
  def keptByPrune(path: String): Boolean =
    "sequence.*/".r.findFirstIn(path).isEmpty ||
      EnaPipeline.DivisionTokenRegex.r.findFirstIn(path).isDefined

  def fileOf(uri: String): File = new File(new URI(uri))

  /** Single-thread segmentation and normalization cost over one file
    * held in memory: (ns per line, ns per locus).
    */
  def kernels(uri: String): (Double, Double) = {
    val path = fileOf(uri).toPath
    val lines = {
      val in = new java.util.zip.GZIPInputStream(Files.newInputStream(path))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
      finally in.close()
    }
    val rows = lines.map(l => (uri, l))
    // location inputs for normalizeLocation, gathered as the segmenter
    // would: one scrubbed CDS block per `FT   CDS` key and its
    // continuation lines
    val cds = mutable.ArrayBuffer.empty[(Seq[(Long, Long)], Int, Long)]
    var id = EmblLines.Tombstone
    var block = mutable.ArrayBuffer.empty[String]
    def flush(): Unit = if (block.nonEmpty) {
      val r = EmblLines.locRanges(EmblLines.scrubLocationText(block.mkString))
      if (r.nonEmpty) cds += ((r, id.chrStruct, id.chrLen))
      block = mutable.ArrayBuffer.empty[String]
    }
    lines.foreach { l =>
      if (l.startsWith("ID   ")) { flush(); id = EmblLines.parseIdLine(l) }
      else if (l.startsWith("FT   CDS ")) { flush(); block += l }
      else if (block.nonEmpty && l.startsWith("FT    ")) block += l
      else flush()
    }
    flush()
    def nsPer(units: Int)(body: => Unit): Double = {
      val samples = (1 to 7).map { _ =>
        var reps = 0
        val t0 = System.nanoTime()
        while (reps == 0 || System.nanoTime() - t0 < 50000000L) {
          body
          reps += 1
        }
        (System.nanoTime() - t0).toDouble / reps / math.max(units, 1)
      }
      median(samples.drop(2)) // the first tries warm the JIT
    }
    var sink = 0L
    val seg = nsPer(rows.length) {
      EmblSegmenter.segment(rows.iterator).foreach(l => sink += l.start)
    }
    val norm = nsPer(cds.length) {
      cds.foreach { case (r, s, n) => sink += Coords.normalizeLocation(r, s, n)._1 }
    }
    require(sink != 42)
    (seg, norm)
  }

  /** The prefix ladder of one traced iteration. Each prefix is forced
    * with a noop sink; the last is the full build. Layer times are the
    * differences between consecutive prefixes.
    */
  final case class Rung(
      listS: Double, scanS: Double, readLociS: Double, enaTabS: Double,
      buildS: Double, readIdmapS: Double, probeS: Double,
      files: Seq[String], seg: SegMetrics, broadcast: Boolean)

  def ladder(spark: SparkSession, roots: Seq[String], idmapping: => DataFrame,
      out: String, tr: Tracer, i: Int): Rung = {
    val sc = spark.sparkContext
    val g = s"ladder#$i"
    def timed[T](name: String)(body: => T): (T, Double) = {
      sc.setJobDescription(s"ena:$name")
      val t0 = System.nanoTime()
      val r = tr.span(name, g)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (loci, listS) = timed("list")(EnaPipeline.readLoci(spark, roots))
    val files = loci.inputFiles.toSeq
    // the same listing as readLoci, then a plain text scan
    val (_, scanS) = timed("gunzip_scan")(noop(spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.dat.gz")
      .text(roots: _*)))
    val seg = SegMetrics(sc)
    val (_, readLociS) = timed("read_loci")(
      noop(EnaPipeline.readLoci(spark, roots, metrics = Some(seg)).toDF()))
    val idmap = idmapping
    sc.setJobDescription("ena:probe")
    val bc = EnaMain.chooseBroadcastRegime(idmap, maxRows, maxBytes)
    val (_, enaTabS) = timed("ena_tab_noop")(noop(
      EnaPipeline.enaTab(spark, roots, idmap, broadcastIdMap = bc)))
    sc.setJobDescription("ena:build")
    val before = tr.spans.length
    val t0 = System.nanoTime()
    val (broadcast, _) = build(spark, roots, idmapping, out, tr, s"build#$i")
    val buildS = (System.nanoTime() - t0) / 1e9
    val inner = tr.spans.drop(before)
    def dur(n: String) = inner.filter(_.name == n).map(_.durNs).sum / 1e9
    Rung(listS, scanS, readLociS, enaTabS, buildS, dur("read_idmapping"),
      dur("probe"), files, seg, broadcast)
  }

  /** Per-layer `embl.*` and `spark.*` metrics from traced rungs. */
  def layerMetrics(spark: SparkSession, rungs: Seq[Rung],
      listener: LayerListener, idmapping: DataFrame, out: String,
      m: ObjectNode): Unit = {
    val sc = spark.sparkContext
    val last = rungs.last
    def med(f: Rung => Double) = median(rungs.map(f))
    m.put("embl.list_s", med(_.listS))
    m.put("embl.files_listed", last.files.length)
    m.put("embl.gunzip_scan_s", med(_.scanS))
    m.put("embl.read_loci_s", med(_.readLociS))
    m.put("embl.segment_s", med(r => r.readLociS - r.scanS))
    val n = rungs.length.toDouble
    val scan = listener.totalsFor(sc)(_ == "ena:gunzip_scan")
    val scanBytes = scan.inputBytes / n
    val keptBytes = last.files.filter(keptByPrune).map(fileOf(_).length).sum
    m.put("embl.scan_gz_bytes", scanBytes)
    m.put("embl.prune_kept_ratio",
      if (scanBytes > 0) keptBytes / scanBytes else 0.0)
    val biggest = last.files.filter(keptByPrune).maxBy(fileOf(_).length)
    val (segNs, normNs) = kernels(biggest)
    m.put("embl.segment_ns_per_line", segNs)
    m.put("embl.normalize_ns_per_locus", normNs)
    m.put("embl.records", last.files.filter(keptByPrune).map { f =>
      val in = new java.util.zip.GZIPInputStream(
        Files.newInputStream(fileOf(f).toPath))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .count(_.startsWith("ID   "))
      finally in.close()
    }.sum)
    m.put("embl.tombstoned_records", last.seg.tombstonedRecords.value)
    m.put("embl.taxonomy_dropped", last.seg.taxonomyDropped.value)
    m.put("embl.dropped_cds_blocks", last.seg.droppedCdsBlocks.value)
    m.put("embl.emitted_loci", last.seg.emittedLoci.value)
    m.put("embl.loci", last.seg.emittedLoci.value)
    m.put("embl.probe_s", med(_.probeS))
    m.put("embl.regime_broadcast", if (last.broadcast) 1 else 0)
    val (probeRows, probeBytes) = probeValues(idmapping)
    m.put("embl.probe_rows", probeRows)
    m.put("embl.probe_est_bytes", probeBytes)
    m.put("embl.resolve_s", med(r => r.enaTabS - r.readLociS))
    m.put("embl.write_s",
      med(r => r.buildS - r.readIdmapS - r.probeS - r.enaTabS))
    val back = readBack(out)
    m.put("embl.rows_out", back.rows)
    m.put("embl.bytes_out", back.bytes)
    val b = listener.totalsFor(sc)(_ == "ena:build")
    m.put("spark.result_bytes", b.resultBytes / n)
    m.put("spark.shuffle_write_bytes", b.shuffleWriteBytes / n)
    m.put("spark.jobs", b.jobs / n)
    m.put("spark.stages", b.stages / n)
    m.put("spark.tasks", b.tasks / n)
    m.put("spark.executor_cpu_s", b.cpuNs / 1e9 / n)
    m.put("spark.gc_s", b.gcMs / 1e3 / n)
  }

  def run(a: Args): Unit = {
    val work = a("work")
    val manifest = Json.read(a("manifest"))
    val roots = Seq(manifest.get("root").asText())
    val expectedDigest = manifest.get("expected_digest").asText()
    val out = s"$work/ena_out"
    val seconds = a.double("seconds")
    val traced = a.flag("trace")
    val spark = Sessions.ena(a.int("cpus"), work)
    val sc = spark.sparkContext
    def idmapping =
      EnaMain.readIdmapping(spark, manifest.get("idmapping").asText())
    val res = Json.obj()
    val builds = res.putArray("builds")
    val errors = res.putArray("errors")
    var attempted = 0
    var failed = 0
    val regimes = mutable.ArrayBuffer.empty[Boolean]
    var lastBack = TsvReadBack(0, "", 0)

    /** Untraced builds for `budget` seconds (at least `min`). */
    def measure(budget: Double, min: Int, tr: Tracer): Seq[Double] = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      while (walls.length < min || (System.nanoTime() - start) / 1e9 < budget) {
        attempted += 1
        sc.setJobDescription("ena:build")
        val t0 = System.nanoTime()
        try {
          val (bc, _) = build(spark, roots, idmapping, out, tr, s"b${walls.length}")
          val wall = (System.nanoTime() - t0) / 1e9
          regimes += bc
          walls += wall
          lastBack = readBack(out)
          if (lastBack.digest != expectedDigest) {
            failed += 1
            errors.add(s"build output ${lastBack.digest}, expected $expectedDigest")
          }
        } catch {
          case e: Exception =>
            failed += 1
            walls += (System.nanoTime() - t0) / 1e9
            errors.add(s"build threw: $e")
        }
      }
      walls.toSeq
    }

    val off = new Tracer(false)
    // warm-up builds, checked but untimed: the first is cold and the JIT
    // settles over the next ones. Like the query suite's warm pass they
    // count as set-up.
    measure(0, a.int("warmup_builds"), off)
    res.put("first_timed_ms", System.currentTimeMillis())
    if (!traced) {
      measure(seconds, a.int("min_builds"), off).foreach(builds.add(_))
    } else {
      // traced ladders, each followed by an untraced build; the two
      // build medians give the tracing overhead
      val plain = mutable.ArrayBuffer.empty[Double]
      val listener = new LayerListener
      val tr = new Tracer(true)
      val rungs = mutable.ArrayBuffer.empty[Rung]
      val start = System.nanoTime()
      while (rungs.length < 3 || (System.nanoTime() - start) / 1e9 < seconds) {
        attempted += 1
        sc.addSparkListener(listener)
        val rung = ladder(spark, roots, idmapping, out, tr, rungs.length)
        sc.removeSparkListener(listener)
        rungs += rung
        regimes += rung.broadcast
        lastBack = readBack(out)
        if (lastBack.digest != expectedDigest) {
          failed += 1
          errors.add(s"traced build output ${lastBack.digest}")
        }
        plain ++= measure(0, 1, off)
      }
      val m = res.putObject("layers")
      layerMetrics(spark, rungs.toSeq, listener, idmapping, out, m)
      // the generator's count: the output digest matched, so these are
      // the loci the program resolved through the idmapping
      m.put("embl.resolve_hit_ratio",
        manifest.get("resolved_loci").asDouble() /
          math.max(1.0, manifest.get("loci").asDouble()))
      m.put("trace.overhead_ratio",
        median(rungs.map(_.buildS).toSeq) / median(plain.toSeq) - 1)
      plain.foreach(builds.add(_))
      Trace.write(a("trace_file"), tr, listener, sc)
      Trace.selfTimes(tr, m)
    }
    sc.setJobDescription(null)
    val (probeRows, probeBytes) = probeValues(idmapping)
    val regime = res.putObject("regime")
    regime.put("broadcast_builds", regimes.count(identity))
    regime.put("shuffle_builds", regimes.count(!_))
    regime.put("probe_rows", probeRows)
    regime.put("probe_est_bytes", probeBytes)
    regime.put("max_rows", maxRows)
    regime.put("max_bytes", maxBytes)
    res.put("rows_out", lastBack.rows)
    res.put("bytes_out", lastBack.bytes)
    res.put("attempted", attempted)
    res.put("failed", failed)
    res.put("anchor_s", Box.anchorS(spark))
    res.put("peak_rss_mb", Box.peakRssMb())
    res.set[ObjectNode]("versions", Box.versions(spark))
    Json.write(a("result"), res)
    spark.stop()
  }
}
