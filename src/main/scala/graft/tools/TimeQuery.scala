package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual registered queries in isolation, e.g.
  * `sbt "runMain graft.tools.TimeQuery q_lang_id q_tfidf"`.
  * Each named query runs `SPARK_GRAFT_RUNS` times (default 3); the
  * FIRST run absorbs cold file-listing/codegen costs — read the later
  * runs as steady state (or list a cheap same-table query first as an
  * explicit warm-up). Session flags mirror `graft.Bench`, CPUS
  * included (`SPARK_GRAFT_CPUS`, default 4 like Bench and Verify) — set
  * it explicitly when comparing against an artifact taken at another
  * core count.
  * Not part of the engine or the bench protocol.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.util.EngineSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def mat(n: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- args) {
      for (i <- 1 to runs) println(f"$name run$i: ${mat(name)}%.3f s")
    }
    spark.stop()
  }
}
