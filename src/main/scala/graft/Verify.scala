package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The subset rule of `SPARK_GRAFT_ONLY=a,b` (triage runs): the named
    * queries, blanks and surrounding spaces ignored; unset keeps every
    * query. */
  private[graft] def only(spec: Option[String]): String => Boolean = {
    val names = spec.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    name => names.forall(_.contains(name))
  }

  /** JSON string literal of `s`: backslash, quote, and ALL control
    * chars (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail and silently zero the
    * correctness check. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val keep = only(sys.env.get("SPARK_GRAFT_ONLY"))
    SparkEntry.queries
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // the IVF/PQ oracles embed the DATA-FITTED quantizer constants as
    // literals — give the renderer the (session, dir) the queries ran
    // against so the memoized fits are available (or freshly fit, if a
    // SPARK_GRAFT_ONLY triage skipped the ANN family)
    SparkEntry.setOracleContext(spark, sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Explicit failure manifest: a query that errors must surface as a
    // failing artifact, not silently drop out of the correctness gate.
    val errJson = failed
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
