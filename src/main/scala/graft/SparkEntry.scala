package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the full ENA pipeline (SURVEY.md §7.3 slice — scan,
    * segmentation, taxonomy/division prunes, coordinate normalization,
    * idmapping broadcast join, fallback coalesce, explode, 7-column
    * projection) over a self-contained gzipped EMBL fixture. The driver
    * smoke-checks rows > 0; q29_ena_flagship hash-checks the same
    * relation against its 7 expected rows.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.embl.FlagshipFixture.enaTab(spark)

  /** One entry per implemented operator family from SURVEY.md §2
    * (QueryPack q01-q26) plus the LLM-data-pipeline layer — exact /
    * MinHash-LSH / SimHash / fingerprint dedup, ANN similarity search,
    * text analysis, multimodal metadata — and the flagship oracle
    * (QueryPackExt q27-q43).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QueryPack.queries ++ graft.queries.QueryPackExt.queries

  /** DuckDB-equivalent ANSI SQL per query (same column names/aliases —
    * the driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] =
    graft.queries.QueryPack.oracleSql ++ graft.queries.QueryPackExt.oracleSql

  /** The queries named in `only` (a comma-separated list, as in
    * SPARK_GRAFT_ONLY, surrounding spaces allowed), or every query when
    * `only` is None; second, the names that match no query.
    */
  def select(only: Option[String])
      : (Map[String, (SparkSession, String) => DataFrame], Seq[String]) =
    only match {
      case None => (queries, Nil)
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).distinct
        val (known, unknown) = names.partition(queries.contains)
        (known.map(n => n -> queries(n)).toMap, unknown.toSeq)
    }

  /** [[select]] for the Bench and Verify mains: warns on each unknown
    * name, and exits with status 2 when nothing matches, since a silent
    * empty run reads as a near-zero suite time or an empty dump.
    */
  def selectOrExit(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] = {
    val (selected, unknown) = select(only)
    unknown.foreach(n => System.err.println(
      s"WARNING: SPARK_GRAFT_ONLY name '$n' matches no registered query"))
    if (selected.isEmpty) {
      System.err.println("ERROR: SPARK_GRAFT_ONLY matched zero queries")
      sys.exit(2)
    }
    selected
  }

  /** `s` as a JSON string literal. Every control character is escaped:
    * a raw tab or CR in query SQL or an error message would otherwise
    * make the reader's JSON parse fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
