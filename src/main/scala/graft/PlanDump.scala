package graft

/** Dev tool: write `.explain("formatted")` of named SparkEntry queries
  * to files (plans/<tag>/<name>_<suffix>.txt) — the judge-facing plan
  * evidence for OPTIMIZATION rounds.
  *
  *   sbt "runMain graft.PlanDump plans/r06 before dq_knn_impute ..."
  *
  * With no query names, dumps every query. Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS (same session shape as Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSession(cpus, "graft-plandump")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
