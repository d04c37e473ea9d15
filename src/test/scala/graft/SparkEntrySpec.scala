package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness helpers the Bench and Verify mains share: the
  * SPARK_GRAFT_ONLY query selection and the JSON string escaper.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val Seq(a, b) = SparkEntry.queries.keys.toSeq.sorted.take(2)

  test("select: no list selects every query") {
    val (selected, unknown) = SparkEntry.select(None)
    assert(selected.keySet === SparkEntry.queries.keySet)
    assert(unknown.isEmpty)
  }

  test("select: names in a spaced list are trimmed") {
    val (selected, unknown) = SparkEntry.select(Some(s" $a , $b "))
    assert(selected.keySet === Set(a, b))
    assert(unknown.isEmpty)
  }

  test("select: an unknown name is reported, the known ones still run") {
    val (selected, unknown) = SparkEntry.select(Some(s"$a, q00_nope"))
    assert(selected.keySet === Set(a))
    assert(unknown === Seq("q00_nope"))
  }

  test("select: an all-unknown list selects nothing and names every miss") {
    val (selected, unknown) = SparkEntry.select(Some("q00_nope, q00_typo"))
    assert(selected.isEmpty)
    assert(unknown === Seq("q00_nope", "q00_typo"))
  }

  /** Runs `main` in a child JVM with SPARK_GRAFT_ONLY set; exit status
    * and stderr. Selection happens before any Spark session starts, so
    * the child stays small.
    */
  private def runMain(main: String, only: String, args: String*)
      : (Int, String) = {
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx256m", "-cp", sys.props("java.class.path"),
      main) ++ args
    val errFile = File.createTempFile("graft_select", ".err")
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(errFile)
    pb.environment().put("SPARK_GRAFT_ONLY", only)
    val p = pb.start()
    if (!p.waitFor(120, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      fail(s"$main did not exit")
    }
    try (p.exitValue(), new String(
      Files.readAllBytes(errFile.toPath), "UTF-8"))
    finally errFile.delete()
  }

  test("Bench and Verify exit 2 when SPARK_GRAFT_ONLY matches nothing") {
    val out = Files.createTempDirectory("graft_select")
    for ((main, args) <- Seq("graft.Bench" -> Nil,
        "graft.Verify" -> Seq("/nonexistent", out.resolve("v").toString))) {
      val (code, err) = runMain(main, "q00_nope, q00_typo", args: _*)
      assert(code === 2, s"$main:\n$err")
      assert(err.contains("'q00_nope'") && err.contains("'q00_typo'"), err)
    }
    assert(!out.resolve("v").toFile.exists(), "Verify wrote before failing")
  }

  test("jsonString round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    val samples = Seq(
      "plain",
      "",
      "quote \" and backslash \\",
      "line\nbreak\rreturn\ttab",
      "control \u0001 \u001f",
      "non-ASCII: é 日本 😀")
    samples.foreach { s =>
      val lit = SparkEntry.jsonString(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readTree(lit).asText() === s)
    }
    val obj = samples.zipWithIndex.map { case (s, i) =>
      s"${SparkEntry.jsonString(s"k$i\t")}: ${SparkEntry.jsonString(s)}"
    }.mkString("{", ",", "}")
    val tree = mapper.readTree(obj)
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(tree.get(s"k$i\t").asText() === s)
    }
  }
}
