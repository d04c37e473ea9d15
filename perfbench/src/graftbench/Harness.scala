package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `perfbench/run.py` launches it.
  *
  *   mode=ena    one ENA workload run over a generated corpus
  *   mode=suite  one query-suite run
  *   mode=digest result digests of a `graft.Verify` output directory,
  *               as recorded in perfbench/query_digests.json
  *
  * Every mode writes its record as JSON to `result=`.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    a("mode") match {
      case "ena"    => EnaRun.run(a)
      case "suite"  => SuiteRun.run(a)
      case "digest" => digest(a)
      case m        => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Digest of every query result `graft.Verify` wrote under `dir=`. */
  def digest(a: Args): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val res = Json.obj()
    Option(new File(a("dir")).listFiles()).toSeq.flatten
      .filter(_.isDirectory).sortBy(_.getName).foreach { d =>
        val df = spark.read.parquet(d.getAbsolutePath)
        res.put(d.getName, Digest.of(df.schema.fieldNames.toSeq, df.collect().iterator))
      }
    Json.write(a("result"), res)
    spark.stop()
  }
}
