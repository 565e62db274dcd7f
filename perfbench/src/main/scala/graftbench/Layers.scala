package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.pipeline.QualityPipeline
import graft.rules.Rules
import graft.sources.PagesGen

/** The traced run's calls into each layer's public functions. Every
  * probe takes spans only here, around the calls it makes.
  */
object Layers {

  /** Single-thread µs/doc of each fused kernel over fixed seeded pages,
    * median of `reps` passes. Results fold into `sink` so the JIT cannot
    * drop the work.
    */
  def kernels(in: Input, nDocs: Int, reps: Int): (Seq[(String, Double)], Long) = {
    val pages = in.ids.take(nDocs).map(PagesGen.genRow).toArray
    val texts = pages.map(p => Option(p.text).getOrElse(""))
    val utf = texts.map(UTF8String.fromString)
    val htmls = pages.map(p => new String(p.html, UTF_8))
    val norms = texts.map(t => UTF8String.fromString(QualityModel.normalizeJvm(t)))
    val scrub = ScrubText(Literal.create("", StringType))
    val model = QualityModel.Default
    var sink = 0L
    val kernels: Seq[(String, Int => Long)] = Seq(
      "docstats" -> (i => DocStats.evalRow(utf(i), 32, 8, 4, false).getLong(12)),
      "scrub" -> (i => scrub.nullSafeEval(utf(i)).asInstanceOf[UTF8String].numBytes()),
      "repetition" -> (i => java.lang.Double.doubleToLongBits(Repetition.evalRow(utf(i)).getDouble(2))),
      "c4stats" -> (i => C4Stats.evalRow(utf(i)).getInt(1).toLong),
      "quality_model" -> (i => java.lang.Double.doubleToLongBits(QualityModel.scoreEval(norms(i), model.w, model.b))),
      "langid" -> (i => LangIdModel.classify(texts(i))._1.hashCode.toLong),
      "html_extract" -> (i => HtmlExtractKernel.extract(htmls(i)).length.toLong))
    val out = kernels.map { case (name, f) =>
      val times = (0 to reps).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < pages.length) { sink += f(i); i += 1 }
        (System.nanoTime() - t0) / 1e3 / pages.length
      }.drop(1) // first pass warms the JIT
      name -> Stats.median(times)
    }
    (out, sink)
  }

  /** QualityPipeline phases called one by one, each materialized inside
    * its span, then `run()` with its kept and verdicts writes. Returns
    * near-dup verdicts ÷ candidate pairs.
    */
  def phases(spans: Spans, pages: DataFrame, cfg: QualityPipeline.Config): Double = {
    val par = pages.sparkSession.sparkContext.defaultParallelism
    val feat = spans("pipeline.features") {
      val f = QualityPipeline.features(pages, cfg).cache(); f.count(); f
    }
    val cand = spans("pipeline.neardup_candidates")(QualityPipeline.nearDupCandidates(feat, cfg))
    val nd = spans("pipeline.neardup_resolve")(
      QualityPipeline.nearDupResolve(cand, cfg).localCheckpoint(true))
    val v1a = spans("pipeline.pass1")(
      QualityPipeline.simHashVerdicts(feat, cfg).foldLeft(
        QualityPipeline.heuristicVerdicts(feat, cfg)
          .unionByName(QualityPipeline.exactDupVerdicts(feat, cfg)))(_ unionByName _)
        .coalesce(par).localCheckpoint(true))
    val survivors = feat.join(v1a.unionByName(nd).select("url").distinct(), Seq("url"), "left_anti")
    spans("pipeline.pass2")(QualityPipeline.pass2(survivors, cfg))
    val ratio = spans("pipeline.neardup_counts") {
      val pairs = cand.pairs.count()
      if (pairs == 0) 0.0 else nd.count().toDouble / pairs
    }
    feat.unpersist()
    val res = spans("pipeline.run")(QualityPipeline.run(pages, cfg))
    spans("pipeline.kept_write")(Inputs.noop(res.kept))
    spans("pipeline.verdicts_write")(Inputs.noop(res.verdicts))
    res.unpersist()
    ratio
  }

  /** Each opt-in battery from its public `Rules.*` call, materialized
    * alone into a noop sink, with the battery thresholds of `cfg`.
    */
  def rules(spans: Spans, pages: DataFrame, cfg: QualityPipeline.Config): Unit = {
    val spark = pages.sparkSession
    import spark.implicits._
    val url = col("url"); val text = col("text")
    val featWide = spans("rules.prep") {
      val f = QualityPipeline.features(pages, cfg.copy(simHashNearDupBits = Some(128))).cache()
      f.count(); f
    }
    val eval = Decontam.evalGrams(cfg.decontamPassages.toDF("p"), col("p"), cfg.decontamN)
    val batteries: Seq[(String, () => DataFrame)] = Seq(
      "boilerplate" -> (() => Rules.boilerplateParagraphs(pages, url, text,
        cfg.boilerplateMinDocs, cfg.maxBoilerplateFrac)),
      "exact_substr" -> (() => Rules.exactSubstrDup(pages, url, text,
        cfg.exactSubstrTokens, maxFrac = cfg.maxSubstrDupFrac)),
      "decontam" -> (() => Rules.contaminationRule(pages, url, text, eval,
        cfg.decontamN, cfg.decontamMinHits)),
      "model_quality" -> (() => Rules.modelQualityRule(pages, url, text,
        cfg.modelQualityMin.getOrElse(0.45))),
      "url_battery" -> (() => Rules.urlBattery(pages, url, url,
        cfg.urlBlockedHosts, cfg.urlAdultKeywords, cfg.maxUrlLen)),
      "host_cap" -> (() => Rules.hostCap(pages, url, url, cfg.hostDocCap)),
      "simhash128" -> (() => Rules.simHashNearDupWide(featWide, url,
        col("simhash_hi"), col("simhash_lo"), maxHamming = 6)))
    batteries.foreach { case (name, df) => spans(s"rules.$name")(Inputs.noop(df())) }
    featWide.unpersist()
  }

  /** Commit and listing cost of the lake tables a checkpoint run left in
    * `root`: list every table's committed partitions, then re-commit one
    * day of kept rows into a scratch table.
    */
  def io(spans: Spans, spark: SparkSession, root: File, scratch: File): Unit = {
    val tables = Seq("kept", "verdicts", "lineage").map(t =>
      new graft.io.ParquetLakeTable(spark, s"${root.getPath}/$t", "pdate"))
    val days = spans("io.list")(tables.map(_.committedPartitions).reduce(_ intersect _))
    val day = days.toSeq.sorted.head
    val oneDay = spark.read.parquet(s"${root.getPath}/kept/pdate=$day")
    spans("io.commit")(new graft.io.ParquetLakeTable(spark, scratch.getPath, "pdate")
      .overwritePartition(oneDay, day))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Highest of p90/p99/p99.9 with at least ten of `n` samples beyond it. */
  def tailQuantile(n: Int): Option[Double] =
    Seq(0.999, 0.99, 0.9).find(q => n * (1 - q) >= 10)
}

object Proc {
  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally src.close()
  }
  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  /** Resets VmHWM to the current resident size, so a later [[rssPeakMb]]
    * reads the peak since this call. Returns false where the kernel does
    * not allow it.
    */
  def resetRssPeak(): Boolean =
    try { java.nio.file.Files.writeString(java.nio.file.Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: java.io.IOException | _: SecurityException => false }

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def loadavg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").take(3).mkString(" ") finally src.close()
  }
}
