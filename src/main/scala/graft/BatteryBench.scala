package graft

import graft.pipeline.QualityPipeline.{defaultConfig, Config}

/** Dev tool: per-battery pipeline cost — default config, each opt-in
  * battery alone, and the full stack, same generated input.
  *
  *   SPARK_GRAFT_BENCH_DOCS=100000 sbt "runMain graft.BatteryBench"
  */
object BatteryBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "100000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = LocalSession(cpus, "graft-battery-bench")
    val full = Bench.fullBatteryConfig
    val variants: Seq[(String, Config)] = Seq(
      "default" -> defaultConfig,
      "gopher_repetition" -> defaultConfig.copy(gopherRepetition = true),
      "c4_lines" -> defaultConfig.copy(c4Rules = true),
      "ccnet_boilerplate" -> defaultConfig.copy(ccnetBoilerplate = true),
      "exact_substr" -> defaultConfig.copy(exactSubstrTokens = 8),
      // L-tuning row for the ExactSubstr battery (BENCH.md round-6
      // table): the paper's production L is 50; L=8 is the oracle's
      // multi-window-span setting. Window count is ~constant in L
      // (every token starts one window), so the cost axis is the
      // distinct-gram count and the shared-gram join selectivity.
      "exact_substr_L16" -> defaultConfig.copy(exactSubstrTokens = 16),
      "exact_substr_L32" -> defaultConfig.copy(exactSubstrTokens = 32),
      "exact_substr_L50" -> defaultConfig.copy(exactSubstrTokens = 50),
      "model_quality" -> defaultConfig.copy(modelQualityMin = Some(0.45)),
      "simhash_wide" -> defaultConfig.copy(simHashNearDupBits = Some(128)),
      "url_host_cap" -> defaultConfig.copy(urlRules = true, hostDocCap = 5000),
      "decontam" -> defaultConfig.copy(decontamPassages = full.decontamPassages),
      "full_battery" -> full)
    val selected =
      if (args.isEmpty) variants
      else variants.filter { case (name, _) => args.contains(name) }
    // warmup (codegen, input table write, model class-load training)
    Bench.pipelineDocsPerSec(spark, n, full)
    selected.foreach { case (name, cfg) =>
      val runs = Array.fill(reps)(Bench.pipelineDocsPerSec(spark, n, cfg))
        .sortBy(_._2)
      val (dps, sec) = runs(reps / 2)
      // recall axis for the L-tuning table: how many docs the substr
      // rule actually drops at this L (deterministic per config)
      val drops =
        if (cfg.exactSubstrTokens <= 0) -1L
        else {
          val (pages, release) = Bench.pipelineInput(spark, n)
          val res = graft.pipeline.QualityPipeline.run(pages, cfg)
          val c = res.verdicts.filter(
            org.apache.spark.sql.functions.col("rule") === "exact_substr_dup")
            .count()
          res.unpersist(); release()
          c
        }
      println(f"""{"battery":"$name","sec":$sec%.2f,""" +
        f""""docs_per_sec":${dps.toInt},"substr_drops":$drops}""")
    }
    spark.stop()
  }
}
