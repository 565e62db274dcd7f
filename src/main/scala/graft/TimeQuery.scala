package graft

/** Dev tool: time named SparkEntry queries in isolation (median of reps)
  * without paying for the whole Bench board.
  *
  *   sbt "runMain graft.TimeQuery dq_substr_dup dq_decontam"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32),
  * SPARK_GRAFT_BENCH_REPS (3).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(cpus, "graft-timequery")
    // session warmup so the first named query doesn't absorb one-time cost
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      val sec = Bench.medianTime(reps)(
        fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      println(f"[timequery] $name%-28s $sec%8.3f s  (median of $reps)")
    }
    spark.stop()
  }
}
