package graft

import org.apache.spark.sql.functions._

/** Production-shape throughput: N day partitions through
  * [[graft.pipeline.Checkpointer.run]] (the spark-submit entry a real
  * job uses — per-partition atomic commits + lineage), not the single
  * `QualityPipeline.run` slice the scaling matrix times. Measures one
  * concurrency level per JVM (same fresh-JVM discipline as ScalingBench):
  *
  *   sbt "runMain graft.CheckpointBench <concurrency> [docs] [cpus] [days]"
  *
  * The generated corpus spreads over ~30 crawl days; the bench folds
  * them onto `days` partitions (docs/day = n/days) so the per-day
  * pipeline runs at a realistic slice size and the concurrency knob has
  * real overlap to exploit: each day's run has serial barrier points
  * (stat aggregates, checkpoint materialization, driver union-find)
  * where a concurrent sibling day can fill the idle cores.
  */
object CheckpointBench {
  def main(args: Array[String]): Unit = {
    val conc = if (args.nonEmpty) args(0).toInt else 2
    val n = if (args.length > 1) args(1).toLong else 4000000L
    val cpus = if (args.length > 2) args(2).toInt else 32
    val days = if (args.length > 3) args(3).toInt else 4
    val spark = LocalSession(cpus, s"graft-ckpt-bench-$conc")
    try {
      val (pages, release) = Bench.pipelineInput(spark, n)
      val epoch = java.sql.Date.valueOf("2024-01-01")
      val pagesFolded = pages.withColumn("warc_ts",
        date_add(lit(epoch),
          pmod(datediff(to_date(col("warc_ts")), lit(epoch)), lit(days))
            .cast("int")).cast("timestamp"))
      // warmup: JIT + codegen + parquet footers (small, untimed)
      Bench.pipelineDocsPerSec(spark, math.max(2000, n / 50))
      val outRoot = java.nio.file.Files.createTempDirectory("ckpt_bench").toString
      val t0 = System.nanoTime()
      val reports = graft.pipeline.Checkpointer.run(spark, pagesFolded, outRoot,
        concurrency = conc)
      val sec = (System.nanoTime() - t0) / 1e9
      val wallList = reports.map(r => s"""{"day":"${r.partition}","wall_ms":${r.wallMs}}""")
        .mkString("[", ",", "]")
      println(f"""{"metric":"checkpoint_bench","concurrency":$conc,"docs":$n,""" +
        f""""days":${reports.size},"cpus":$cpus,"sec":$sec%.2f,""" +
        f""""docs_per_sec":${n / sec}%.1f,"per_day":$wallList}""")
      // scrub the committed output (bench artifact, not a deliverable)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(outRoot))
      release()
    } finally spark.stop()
  }
}
