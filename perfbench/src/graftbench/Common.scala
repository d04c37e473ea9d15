package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

/** `key=value` command-line arguments. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def flag(k: String): Boolean = kv.get(k).contains("1")
}

object Args {
  def parse(a: Array[String]): Args = Args(a.map { s =>
    val i = s.indexOf('=')
    s.take(i) -> s.drop(i + 1)
  }.toMap)
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(path: String, node: JsonNode): Unit =
    Files.write(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq
}

object Sessions {
  private def base(name: String, cpus: Int, work: String) =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(name)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")

  /** `EnaMain.main`'s session settings. */
  def ena(cpus: Int, work: String): SparkSession = {
    val spark = base("ena-build", cpus, work)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Partition counts `graft.Bench` derives from the input size. */
  final case class SuiteParts(shuffle: Int, layout: Int)

  def suiteParts(cpus: Int, inputBytes: Long): SuiteParts = {
    def derived(target: Long, min: Int) =
      math.max(min, math.min(cpus, (inputBytes / target).toInt))
    SuiteParts(derived(4L << 20, 2), derived(2L << 20, 4))
  }

  /** `graft.Bench`'s session settings, with its default knobs. */
  def suite(cpus: Int, parts: SuiteParts, work: String): SparkSession = {
    val spark = base("graft-bench", cpus, work)
      .config("spark.sql.shuffle.partitions", parts.shuffle.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.graft.harness.fanOutSmallScans", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.eventLog.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark
  }
}

object Box {
  /** Fixed CPU work plus one tiny fixed shuffle, independent of the
    * workload's inputs; the median of three tries, in seconds.
    */
  def anchorS(spark: SparkSession): Double = {
    spark.sparkContext.setJobDescription("box:anchor")
    val tries = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 150000000) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        i += 1
      }
      val groups = spark.range(0, 100000, 1, 4)
        .groupBy((col("id") % 16).as("k")).count().collect().length
      require(groups == 16 && h != 0)
      (System.nanoTime() - t0) / 1e9
    }
    tries.sorted.apply(1)
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def versions(spark: SparkSession): ObjectNode = {
    val o = Json.obj()
    o.put("java", System.getProperty("java.version"))
    o.put("jvm", System.getProperty("java.vm.name"))
    o.put("spark", spark.version)
    o.put("scala", scala.util.Properties.versionNumberString)
    o.put("max_heap_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    o
  }
}

/** Order-insensitive digest of a row multiset: the row count and the
  * sum, mod 2^64, of each row's hash. A row is hashed from its values
  * in column-name order; doubles are rounded to 12 significant digits
  * so summation-order noise in the last bits does not read as a change.
  */
object Digest {
  def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h
  }

  def render(n: Long, sum: Long): String = f"$n:$sum%016x"

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null                    => "\\N"
    case d: Double               => canonDouble(d)
    case f: Float                => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal           => b.bigDecimal.stripTrailingZeros.toPlainString
    case a: Array[Byte]          => a.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp   => t.toInstant.toString
    case r: Row                  => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                   => other.toString
  }

  /** Digest of collected rows, reading columns in name order. */
  def of(fieldNames: Seq[String], rows: Iterator[Row]): String = {
    val order = fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      sum += rowHash(order.map(i => canon(r.get(i))).mkString("\u0001"))
      n += 1
    }
    render(n, sum)
  }
}
