package graft.tools
import org.apache.spark.sql.SparkSession

/** Dev-only: print the plan of named queries. `SPARK_GRAFT_SF_DIR`
  * picks the corpus (default sf0.001); `SPARK_GRAFT_PLAN_MODE=formatted`
  * switches from the executed-plan tree to `explain("formatted")`
  * (the representation the optimization-round plan artifacts use).
  *
  * Printing a plan builds the query's DataFrame, so a store-backed query
  * builds its session stores first, as a side effect: the persisted
  * index, the term statistics, and for the ft gate (`q_quality_ft*`)
  * the 48-round fit.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val formatted = sys.env.get("SPARK_GRAFT_PLAN_MODE").contains("formatted")
    val spark = graft.util.EngineSession.builder("local[4]", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { q =>
      println(s"===== $q =====")
      val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
      if (formatted)
        println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      else println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}
