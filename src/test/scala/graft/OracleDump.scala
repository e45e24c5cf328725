package graft

/** Dev tool: print every `SparkEntry.oracleSql` entry, in name order, with
  * the fit context set (so the data-fitted oracles render too). Two source
  * trees' outputs compare token by token, which pins a refactor of the
  * oracle SQL builders to unchanged SQL:
  *
  *   sbt "Test/runMain graft.OracleDump <data dir>" > oracles.txt
  *
  * Tokens split at whitespace and around `(`, `)` and `,`, so `(SELECT`
  * and `( SELECT`, or `f(a,b)` and `f(a, b)`, print alike.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val dir = args(0)
    SparkEntry.setOracleContext(spark, dir)
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (q, sql) =>
      println(s"=== $q")
      println(sql.split("\\s+|(?<=[(),])|(?=[(),])").filter(_.nonEmpty).mkString("\n"))
    }
    spark.stop()
  }
}
