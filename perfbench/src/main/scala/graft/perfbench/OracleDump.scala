package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes the DuckDB oracle SQL of the given ops as one JSON object,
  * rendered against `dataDir` (the data-fitted oracles need the
  * session and data the queries run on).
  *
  * Usage: OracleDump <dataDir> <outFile> <op>... */
object OracleDump {
  def main(argv: Array[String]): Unit = {
    val dataDir +: outFile +: ops = argv.toSeq
    val spark = GraftSession.create("2")
    SparkEntry.setOracleContext(spark, dataDir)
    val sql = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.writeString(Paths.get(outFile), Json.value(sql))
    spark.stop()
  }
}
