package graft

import org.apache.spark.sql.functions._

/** Dev tool: per-error-class feature distributions + rule hit matrix on
  * the generated fixture — used to calibrate Config thresholds so the
  * planted classes separate cleanly. Not part of the driver contract.
  */
object Calibrate {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 3000L
    val spark = LocalSession(8, "graft-calibrate")

    val cls = udf((url: String) =>
      graft.sources.PagesGen.errorClass(url.split("/p/")(1).toLong))
    val pages = graft.sources.PagesGen.generate(spark, n, 8).toDF().cache()
    val feat = graft.pipeline.QualityPipeline.features(pages).cache()
    val withCls = feat.withColumn("cls", cls(col("url")))

    println("=== feature distributions per planted class ===")
    withCls.groupBy("cls").agg(
      count(lit(1)).as("n"),
      round(min("perplexity"), 1).as("ppl_min"),
      round(avg("perplexity"), 1).as("ppl_avg"),
      round(max("perplexity"), 1).as("ppl_max"),
      round(avg("symbol_ratio"), 3).as("sym_avg"),
      round(avg("stopword_ratio"), 3).as("stop_avg"),
      round(avg("mean_word_len"), 2).as("mwl_avg"),
      round(avg("dup_line_ratio"), 3).as("dlr_avg"),
      min("n_words").as("w_min"), max("n_words").as("w_max"),
      round(avg("lang_id.score"), 3).as("lid_margin_avg")
    ).orderBy("cls").show(30, false)

    val res = graft.pipeline.QualityPipeline.run(pages)
    println("=== rule × class hit matrix ===")
    res.verdicts.withColumn("cls", cls(col("url")))
      .groupBy("rule").pivot("cls").count()
      .orderBy("rule").show(40, false)

    println("=== missed drops per class (shouldDrop classes only) ===")
    val droppedUrls = res.verdicts.select("url").distinct()
    pages.join(droppedUrls, Seq("url"), "left_anti")
      .withColumn("cls", cls(col("url")))
      .groupBy("cls").count().orderBy("cls").show(30, false)

    println("=== detected lang distribution for clean docs ===")
    withCls.filter(col("cls") === "clean")
      .groupBy(col("lang"), col("lang_id.lang").as("detected"))
      .count().orderBy(desc("count")).show(30, false)
    spark.stop()
  }
}
