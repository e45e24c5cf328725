package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: print the executed plan of `SparkEntry.queries` entries
  * (exchange count + formatted plan) for shuffle/pushdown audits. With no
  * query names it audits every registry entry, in name order.
  *
  *   sbt "Test/runMain graft.PlanAudit ts_interp_linear pii_scrub"
  *   sbt "Test/runMain graft.PlanAudit" > plans.txt
  *
  * Tokens that differ from run to run without the plan differing are
  * stripped, so two source trees' outputs compare with `diff`: expression
  * ids (`#123`), exchange plan ids, JVM identity hashes and lambda class
  * names of plan literals, and the source line of a checkpoint's call
  * site (`at localCheckpoint at Climate.scala`).
  */
object PlanAudit {
  private val runTokens =
    """#\d+|(?<=plan_id=)\d+|(?<=\$Lambda)\$\d+/0x\p{XDigit}+|(?<=@)\p{XDigit}+|(?<=\.scala):\d+""".r

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { q =>
      val qe = SparkEntry.queries(q)(spark, dir).queryExecution
      val nEx = "Exchange".r.findAllIn(qe.executedPlan.toString).size
      println(s"=== $q: exchanges=$nEx")
      println(runTokens.replaceAllIn(qe.explainString(FormattedMode), ""))
    }
    spark.stop()
  }
}
