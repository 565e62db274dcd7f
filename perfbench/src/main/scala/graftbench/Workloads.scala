package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Checkpointer, QualityPipeline}
import graft.sources.PagesGen

/** Seeded inputs: the seed picks the PagesGen id range, so every byte of
  * the input differs per seed while the class mix (which depends on
  * `id mod` small primes) stays fixed. The engine sees only the staged
  * parquet pages.
  */
final case class Input(seed: Long, docs: Long) {
  val firstId: Long = math.floorMod(seed, 1L << 30) << 32
  def ids: Iterator[Long] = Iterator.range(0, docs.toInt).map(firstId + _)
}

object Inputs {
  val Epoch = "2024-01-01"

  /** Generate the pages for `in` and write them to `dir`. `foldDays`
    * folds the ~30 generated crawl days onto that many day partitions,
    * the same folding CheckpointBench applies.
    */
  def stage(spark: SparkSession, in: Input, dir: File, foldDays: Option[Int]): DataFrame = {
    import spark.implicits._
    val gen = spark.range(in.firstId, in.firstId + in.docs, 1,
      spark.sparkContext.defaultParallelism).map(id => PagesGen.genRow(id)).toDF()
    val pages = foldDays.fold(gen) { d =>
      val epoch = lit(java.sql.Date.valueOf(Epoch))
      gen.withColumn("warc_ts", date_add(epoch,
        pmod(datediff(to_date(col("warc_ts")), epoch), lit(d)).cast("int"))
        .cast("timestamp"))
    }
    pages.write.mode("overwrite").parquet(dir.getPath)
    val staged = spark.read.parquet(dir.getPath)
    require(staged.count() == in.docs, s"staged ${dir.getName} is short")
    staged
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** url → the first (by name) rule that dropped it. */
  def ruleOf(verdicts: DataFrame): Map[String, String] =
    verdicts.groupBy("url").agg(min("rule")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()
}

/** One benchmark workload: staged input, a closed-loop iteration body
  * and the output gates. Iterations take spans around their layer calls;
  * untraced runs pass [[NoSpans]].
  */
sealed trait Workload {
  def name: String
  def input: Input
  /** Write the seeded input (set-up work, timed as `setup_s`). */
  def stage(dir: File): Unit
  /** One timed iteration; returns None on success, or why it failed. */
  def iterate(spans: Spans, iter: Int): Option[String]
  /** Untimed clean-up of the previous iteration's output. */
  def cleanup(): Unit = ()
  /** The untimed warm-up iteration. */
  def warmUp(): Unit
  /** What the last iteration did, for its report line. */
  def lastNote: String = ""
  /** Output checks, after the timed loop. */
  def gates(): Seq[Gate]
}

/** `pipeline-default` and `pipeline-battery`: one `QualityPipeline.run`
  * over the whole staged input, kept and verdicts written to noop sinks.
  */
final class PipelineWorkload(spark: SparkSession, val name: String, val input: Input,
                             val cfg: QualityPipeline.Config,
                             minKeptShare: Option[Double]) extends Workload {
  var pages: DataFrame = _

  def stage(dir: File): Unit = pages = Inputs.stage(spark, input, dir, None)

  def iterate(spans: Spans, iter: Int): Option[String] = {
    val res = spans("pipeline.run")(QualityPipeline.run(pages, cfg))
    spans("pipeline.kept_write")(Inputs.noop(res.kept))
    spans("pipeline.verdicts_write")(Inputs.noop(res.verdicts))
    spans("pipeline.release")(res.unpersist())
    None
  }

  private var dropped: Map[String, String] = _
  private var kept: Seq[(String, String)] = _

  /** Runs the pipeline once and keeps its outputs for [[gates]]. */
  def warmUp(): Unit = {
    val res = QualityPipeline.run(pages, cfg)
    dropped = Inputs.ruleOf(res.verdicts)
    kept = res.kept.select("url", "scrubbed_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    res.unpersist()
  }

  def gates(): Seq[Gate] = {
    val texts = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val golden = Golden.dropSet(texts.toSeq)
    val common = Golden.outputGates(texts, kept, dropped.keySet)
    minKeptShare match {
      case None =>
        val (f1, detail) = Golden.dropF1(texts.keys, golden, dropped)
        Gate("drop_f1", f1 >= 0.99, detail) +: common
      case Some(minShare) =>
        val missed = golden.filterNot(dropped.contains)
        val share = kept.size.toDouble / texts.size
        Seq(Gate("golden_subset_dropped", missed.isEmpty,
            s"${golden.size - missed.size}/${golden.size} golden drops dropped" +
              missed.headOption.map(u => s"; first missed $u").getOrElse("")),
          Gate("min_kept_share", share >= minShare,
            f"kept ${kept.size}/${texts.size} = $share%.3f (min $minShare)")) ++ common
    }
  }
}

/** `checkpoint-resume`: pages folded onto day partitions; a first
  * `Checkpointer.run` into a fresh lake root fails at a middle day, a
  * second one on the same root skips the committed days and finishes.
  */
final class CheckpointWorkload(spark: SparkSession, val input: Input, val days: Int,
                               work: File) extends Workload {
  val name = "checkpoint-resume"
  val cfg: QualityPipeline.Config = QualityPipeline.defaultConfig
  var pages: DataFrame = _
  var dayNames: Seq[String] = Nil
  def failDay: String = dayNames(dayNames.size / 2)

  /** Figures of the last iteration, for the traced run. */
  var lastResumeMs = 0.0
  var lastSkipRatio = 0.0
  var lastRoot: File = _
  /** Days the failing pass committed besides the ones before the failing day. */
  var lastInFlightCommits = 0
  val InFlightLimitS = 60
  private var note = ""
  override def lastNote: String = note

  def stage(dir: File): Unit = {
    pages = Inputs.stage(spark, input, dir, Some(days))
    // PagesGen puts id on crawl day id % 30 (plus under five hours)
    val epoch = java.time.LocalDate.parse(Inputs.Epoch)
    dayNames = input.ids.map(id => id % 30 % days).toSeq.distinct.sorted
      .map(d => epoch.plusDays(d).toString)
    require(dayNames.size >= 3, s"need >= 3 day partitions, got ${dayNames.size}")
  }

  private def committed(root: File): Set[String] =
    Seq("kept", "verdicts", "lineage").map(t =>
      new graft.io.ParquetLakeTable(spark, s"${root.getPath}/$t", "pdate").committedPartitions)
      .reduce(_ intersect _)

  /** Checkpointer day-pool threads still running a day. */
  private def daysInFlight: Int = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.asScala.count { case (th, frames) =>
      th != Thread.currentThread() && th.isAlive &&
        frames.exists(_.getClassName.startsWith("graft.pipeline.Checkpointer"))
    }
  }

  /** Fail-then-resume into `root`; None on success. The failing pass
    * gets every day. When it throws, the day pool may still be running a
    * later day that it had already started; the resume begins once that
    * day has ended, as a restart begins after the crashed run is gone.
    * Per Checkpointer's contract the resume must then skip exactly the
    * committed days: the ones before the failing day, plus any in-flight
    * day that committed.
    */
  def failAndResume(spans: Spans, root: File): Option[String] = {
    val injected = spans("ckpt.fail_pass") {
      try {
        Checkpointer.run(spark, pages, root.getPath, cfg, failAtPartition = Some(failDay))
        None
      } catch {
        case e: RuntimeException if e.getMessage != null &&
          e.getMessage.contains(s"injected failure at partition $failDay") => Some(e)
      }
    }
    if (injected.isEmpty) return Some(s"first pass did not fail at $failDay")
    val settled = spans("ckpt.in_flight_wait") {
      val deadline = System.nanoTime() + InFlightLimitS * 1000000000L
      while (daysInFlight > 0 && System.nanoTime() < deadline) Thread.sleep(20)
      daysInFlight == 0
    }
    if (!settled) return Some(s"a failed pass's day still ran after $InFlightLimitS s")
    val before = spans("io.list")(committed(root))
    val t0 = System.nanoTime()
    val reports = spans("ckpt.resume_pass")(Checkpointer.run(spark, pages, root.getPath, cfg))
    lastResumeMs = (System.nanoTime() - t0) / 1e6
    val skipped = reports.filter(_.skipped).map(_.partition).toSet
    lastSkipRatio = if (before.isEmpty) 0.0 else skipped.size.toDouble / before.size
    val prefix = dayNames.takeWhile(_ != failDay).toSet
    lastInFlightCommits = (before -- prefix).size
    note = f"; resume ${lastResumeMs / 1e3}%.3f s, skipped ${skipped.toSeq.sorted.mkString(" ")}"
    if (!prefix.subsetOf(before) || before.contains(failDay))
      Some(s"committed before resume: $before; must hold $prefix and not $failDay")
    else if (skipped != before) Some(s"resume skipped $skipped, committed were $before")
    else if (reports.size != dayNames.size) Some(s"resume reported ${reports.size} days")
    else None
  }

  def iterate(spans: Spans, iter: Int): Option[String] = {
    lastRoot = new File(work, s"lake-$iter")
    lastError = failAndResume(spans, lastRoot)
    lastError
  }

  override def cleanup(): Unit = if (lastRoot != null) Inputs.rm(lastRoot)

  private lazy val straight = new File(work, "lake-straight")
  private var lastError: Option[String] = Some("no iteration ran")

  /** An uninterrupted run: the reference the resumed tables must equal. */
  def warmUp(): Unit = Checkpointer.run(spark, pages, straight.getPath, cfg)

  /** Checks the tables the last timed iteration left behind. */
  def gates(): Seq[Gate] = {
    val resumed = lastRoot
    val runGate = lastError
    // whole tables, sorted rows: a resumed run must equal a straight one
    def table(read: (SparkSession, String) => DataFrame, root: File): Seq[Row] = {
      val df = read(spark, root.getPath)
      df.select(df.columns.sorted.map(col).toSeq: _*).collect().toSeq.sortBy(_.mkString("\u0001"))
    }
    val keptR = table(Checkpointer.readKept, resumed)
    val verR = table(Checkpointer.readVerdicts, resumed)
    val equal = keptR == table(Checkpointer.readKept, straight) &&
      verR == table(Checkpointer.readVerdicts, straight)
    val lineageDocs = Checkpointer.readLineage(spark, resumed.getPath)
      .agg(sum("n_docs")).head().getLong(0)

    import spark.implicits._
    val rows = pages.select(col("url"), coalesce(col("text"), lit("")),
      to_date(col("warc_ts")).cast("string")).as[(String, String, String)].collect()
    val texts = rows.map(r => r._1 -> r._2).toMap
    val golden = rows.groupBy(_._3).values
      .flatMap(day => Golden.dropSet(day.map(r => r._1 -> r._2).toSeq)).toSet
    val dropped = verR.groupBy(_.getAs[String]("url"))
      .map { case (u, vs) => u -> vs.map(_.getAs[String]("rule")).min }
    val kept = keptR.map(r => r.getAs[String]("url") -> r.getAs[String]("scrubbed_text"))
    val (f1, detail) = Golden.dropF1(texts.keys, golden, dropped)
    Seq(Gate("fail_and_resume", runGate.isEmpty, runGate.getOrElse(
        f"skip ratio $lastSkipRatio%.3f over ${dayNames.size} days, " +
          s"$lastInFlightCommits in-flight day(s) committed by the failed pass")),
      Gate("resumed_equals_straight", equal, "kept and verdict tables compared row for row"),
      Gate("lineage_docs", lineageDocs == input.docs, s"lineage n_docs $lineageDocs, input ${input.docs}"),
      Gate("drop_f1", f1 >= 0.99, detail + " (per-day golden)")) ++
      Golden.outputGates(texts, kept, dropped.keySet)
  }
}
