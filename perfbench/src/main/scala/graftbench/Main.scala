package graftbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline.QualityPipeline

/** Seeded closed-loop benchmark of the keep/drop engine.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * One driver thread runs the workload's iterations back to back on
  * `local[4]` for `--seconds`, after set-up and one untimed warm-up
  * iteration; output gates run after the timed loop. `--trace 1` adds a
  * traced iteration and the per-layer probes and prints the per-layer
  * metrics instead of the end-to-end ones. The last stdout line is the
  * JSON result; the exit code is non-zero when an op or a gate failed.
  */
object Main {

  val Workloads = Seq("pipeline-default", "pipeline-battery", "checkpoint-resume")
  val Cores = 4
  /** Timed iterations a run makes at least: two, so `cpu_s` is a median
    * over more than one sample. Iterations still fall in cost while C2
    * compiles, so the window is set short enough that it never adds a third
    * and the count stays the same from run to run.
    */
  val MinIters = 2

  /** Battery config with the C4 sentence rule disarmed: the generated
    * corpus is punctuation-free, so `minSentences = 3` drops every page.
    */
  def batteryConfig(asIs: Boolean): QualityPipeline.Config =
    if (asIs) graft.Bench.fullBatteryConfig
    else graft.Bench.fullBatteryConfig.copy(minSentences = 0)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, batteryAsIs: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = m.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(workload, m("seed").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", new File(m("work")),
      m.getOrElse("battery-config", "") == "as-is")
  }

  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def docs(workload: String): Long = workload match {
    case "pipeline-default" => 20000L
    case "pipeline-battery" => 8000L
    // about 2,000 pages a day: the per-day rare (lang, tld) rule fires on
    // legitimately rare combinations at 1,000 (see README)
    case "checkpoint-resume" => 8000L
  }
  /** Four days, failing at the third: the day the pool starts after the
    * failure then begins only when the first of days one and two ends, so
    * it is still in flight, and early, when the failure propagates. With
    * three days it raced day one, and whether it committed was a coin flip
    * that split `cpu_s` in two (see README).
    */
  val Days = 4
  /** Pages of the slice that probes layers a workload does not exercise. */
  val ProbeDocs = 1500L

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    a.work.mkdirs()
    val input = Input(a.seed, docs(a.workload))
    def say(s: String): Unit = println(s)

    val bw0 = graft.MemBandwidth.runLevel(1, seconds = 0.5)
    val load0 = Proc.loadavg
    val jiffies0 = Proc.cpuJiffies
    val spark = session(a.work)
    val listener = new BenchListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)

    val w: Workload = a.workload match {
      case "checkpoint-resume" => new CheckpointWorkload(spark, input, Days, a.work)
      case name =>
        val battery = name == "pipeline-battery"
        new PipelineWorkload(spark, name, input,
          if (battery) batteryConfig(a.batteryAsIs) else QualityPipeline.defaultConfig,
          if (battery) Some(0.5) else None)
    }
    say(s"# graftbench workload=${w.name} seed=${a.seed} docs=${input.docs} " +
      s"ids=[${input.firstId}, ${input.firstId + input.docs}) local[$Cores] closed loop, " +
      s"1 driver thread, ${a.seconds}s")

    // ---- set-up, timed as setup_s from JVM start: session, staging of the
    // seeded input and the warm-up iteration, so it carries the engine's
    // cold cost (first jobs, codegen, JIT)
    w.stage(new File(a.work, "stage"))
    val stagedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var attempted = 0L
    var failed = 0L
    def runOp(what: String)(f: => Option[String]): Boolean = {
      attempted += 1
      val err = try f catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      err.foreach { msg => failed += 1; say(s"FAILED $what: $msg") }
      err.isEmpty
    }
    runOp("warm-up iteration") { w.warmUp(); None }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    say(f"staged at $stagedS%.2f s, warmed up at $setupS%.2f s after JVM start")
    // rss_peak_mb is the peak over the timed loop, not over set-up or the
    // gates, which hold whole inputs on the driver
    val rssReset = Proc.resetRssPeak()

    // ---- timed closed loop
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val resumes = mutable.ArrayBuffer[Double]()
    val loop0 = System.nanoTime()
    var iter = 1
    // at least MinIters iterations, then until the window has elapsed;
    // the iteration in flight at the deadline runs to its end
    while (iter <= MinIters || secs(loop0) < a.seconds) {
      w.cleanup()
      val c0 = Proc.cpuNs; val t0 = System.nanoTime()
      val ok = runOp(s"iteration $iter")(w.iterate(NoSpans, iter))
      val wall = secs(t0); val cpu = (Proc.cpuNs - c0) / 1e9
      say(f"iteration $iter: wall $wall%.3f s, cpu $cpu%.3f s${if (ok) w.lastNote else " FAILED"}")
      if (ok) {
        walls += wall; cpus += cpu
        w match { case c: CheckpointWorkload => resumes += c.lastResumeMs / 1e3; case _ => }
      }
      iter += 1
    }
    val rssMb = Proc.rssPeakMb

    // ---- output gates (untimed)
    val gates0 = System.nanoTime()
    val gates = try w.gates() catch {
      case NonFatal(e) => Seq(Gate("gates", passed = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    say(f"gates checked in ${secs(gates0)}%.2f s")

    // ---- traced run: one traced iteration plus the per-layer probes
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    val traceGates = mutable.ArrayBuffer[Gate]()
    if (a.trace && walls.nonEmpty) {
      val t = new Tracer(spark.sparkContext, s"${w.name}/${a.seed}")
      try {
        val traced = new TracedRun(spark, t, listener, w, a, input)
        layer ++= traced.metrics(Stats.median(walls.toSeq))
        traceGates ++= traced.gates
      } catch {
        case NonFatal(e) => traceGates += Gate("traced_run", passed = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dir = new File(a.work.getParentFile, "traces"); dir.mkdirs()
      val f = new File(dir, s"trace-${w.name}-${a.seed}.json")
      java.nio.file.Files.writeString(f.toPath, Profiles.artifact(t, listener, Seq(
        "workload" -> Json.str(w.name), "seed" -> a.seed.toString,
        "docs" -> input.docs.toString, "layers" -> Json.metrics(layer))))
      say(s"trace artifact: ${f.getPath}")
    }

    val jiffies1 = Proc.cpuJiffies
    val bw1 = graft.MemBandwidth.runLevel(1, seconds = 0.5)
    val load1 = Proc.loadavg
    spark.stop()

    // ---- report
    val allGates = gates ++ traceGates
    allGates.foreach { g =>
      attempted += 1
      if (!g.passed) failed += 1
      say(s"gate ${g.name}: ${if (g.passed) "PASS" else "FAIL"} (${g.detail})")
    }
    val n = walls.size
    // docs_per_s is wall-clock and follows the host's CPU steal, so it is
    // printed here and reported as a per-layer metric, not gated
    val docsPerS = if (n > 0) input.docs / Stats.median(walls.toSeq) else 0.0
    if (a.trace) layer("run.docs_per_s") = (docsPerS, "docs/s")
    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    if (n > 0) {
      e2e("setup_s") = (setupS, "s")
      e2e("cpu_s") = (Stats.median(cpus.toSeq), "s")
      e2e("rss_peak_mb") = (rssMb, "MB")
    }
    say(f"setup_s = $setupS%.3f s (JVM start to first timed iteration, n=1)")
    if (n > 0) {
      val tail = Stats.tailQuantile(n).map(q => f"p${q * 100}%.1f wall ${Stats.quantile(walls.toSeq, q)}%.3f s")
        .getOrElse("no tail percentile: fewer than 10 samples beyond p90")
      say(f"docs_per_s = ${docsPerS}%.1f docs/s (median iteration wall " +
        f"${Stats.median(walls.toSeq)}%.3f s, n=$n; $tail)")
      say(f"cpu_s = ${e2e("cpu_s")._1}%.3f s per iteration (median, n=$n)")
      if (resumes.nonEmpty) say(f"resume_s = ${Stats.median(resumes.toSeq)}%.3f s (median, n=${resumes.size})")
    }
    say(f"rss_peak_mb = $rssMb%.1f MB (VmHWM over the timed loop" +
      (if (rssReset) ")" else "; reset refused, so since JVM start)"))
    say(f"failed_frac = ${failed.toDouble / math.max(1, attempted)}%.4f ratio ($failed/$attempted ops)")
    val stealPct = 100.0 * (jiffies1._1 - jiffies0._1) / math.max(1L, jiffies1._2 - jiffies0._2)
    say(f"noise: mem_gbps_1t $bw0%.2f -> $bw1%.2f, loadavg [$load0] -> [$load1], " +
      f"cpu steal $stealPct%.1f%% over the run")
    layer.foreach { case (k, (v, u)) => say(f"$k = $v%.4f $u") }

    val correct = failed == 0 && n > 0
    val metrics = Json.metrics(if (a.trace) layer else e2e)
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The traced run: one traced iteration of the workload, the phase, rule
  * and checkpoint probes and the kernel timings. Layers a workload does
  * not itself exercise are probed on a small slice of the same seed.
  */
final class TracedRun(spark: SparkSession, t: Tracer, listener: BenchListener,
                      w: Workload, a: Main.Args, input: Input) {
  val gates = mutable.ArrayBuffer[Gate]()
  private val gc0 = Proc.gcMs
  w.cleanup()
  t("iteration")(w.iterate(t, 1000000)).foreach(e => gates += Gate("traced_iteration", false, e))
  private val iterSpan: Span = t.spans.find(_.name == "iteration").get
  private val iterGcMs = Proc.gcMs - gc0

  private lazy val probeInput = Input(input.seed, Main.ProbeDocs)
  private lazy val probePages = Inputs.stage(spark, probeInput, new File(a.work, "probe-stage"), None)

  private val verifyRatio: Double = t("layer.phases") {
    w match {
      case p: PipelineWorkload => Layers.phases(t, p.pages, p.cfg)
      case c: CheckpointWorkload =>
        Layers.phases(t, c.pages.filter(to_date(col("warc_ts")).cast("string") === c.dayNames.head), c.cfg)
    }
  }
  t("layer.rules") {
    w match {
      case p: PipelineWorkload if p.name == "pipeline-battery" => Layers.rules(t, p.pages, p.cfg)
      case _ => Layers.rules(t, probePages, Main.batteryConfig(asIs = false))
    }
  }
  private val ckpt: CheckpointWorkload = w match {
    case c: CheckpointWorkload => c
    case _ =>
      val c = new CheckpointWorkload(spark, probeInput, Main.Days, a.work)
      c.stage(new File(a.work, "probe-ckpt-stage"))
      t("layer.ckpt")(c.iterate(t, 2000000)).foreach(e => gates += Gate("ckpt_probe", false, e))
      c
  }
  t("layer.io")(Layers.io(t, spark, ckpt.lastRoot, new File(a.work, "io-probe")))
  private val bytesWritten = Inputs.du(ckpt.lastRoot).toDouble
  private val dayWallMs = Stats.median(graft.pipeline.Checkpointer.readLineage(spark, ckpt.lastRoot.getPath)
    .select("wall_ms").collect().map(_.getLong(0).toDouble).toSeq)
  ckpt.cleanup()
  private val (kernelUs, sink) = t("layer.kernels")(Layers.kernels(input, 1000, 3))

  listener.drain()

  def metrics(untracedMedianS: Double): Seq[(String, (Double, String))] = {
    val m = mutable.ArrayBuffer[(String, (Double, String))]()
    kernelUs.foreach { case (k, us) => m += s"kernel.$k.us_per_doc" -> (us, "us") }
    def under(root: String): Set[Int] =
      t.spans.filter(_.name == root).flatMap(s => t.descendantsOrSelf(s)).toSet
    def profile(name: String, scope: String): SpanProfile = {
      val ids = under(scope)
      val s = t.spans.filter(x => x.name == name && ids(x.id)).head
      Profiles.of(t, listener, s)
    }
    Seq("features", "neardup_candidates", "neardup_resolve", "pass1", "pass2", "kept_write",
      "verdicts_write").foreach { ph =>
      val p = profile(s"pipeline.$ph", "layer.phases")
      m += s"pipeline.$ph.wall_ms" -> (p.wallMs, "ms")
      m += s"pipeline.$ph.cpu_ms" -> (p.cpuMs, "ms")
      m += s"pipeline.$ph.idle_ms" -> (p.idleMs, "ms")
      m += s"pipeline.$ph.shuffle_bytes" -> (p.shuffleBytes.toDouble, "bytes")
      m += s"pipeline.$ph.gc_ms" -> (p.gcMs.toDouble, "ms")
      m += s"pipeline.$ph.jobs" -> (p.jobs.toDouble, "count")
    }
    m += "pipeline.neardup.verify_ratio" -> (verifyRatio, "ratio")
    Seq("boilerplate", "exact_substr", "decontam", "model_quality", "url_battery", "host_cap",
      "simhash128").foreach { r =>
      val p = profile(s"rules.$r", "layer.rules")
      m += s"rules.$r.wall_ms" -> (p.wallMs, "ms")
      m += s"rules.$r.cpu_ms" -> (p.cpuMs, "ms")
      m += s"rules.$r.shuffle_bytes" -> (p.shuffleBytes.toDouble, "bytes")
    }
    m += "ckpt.day_wall_ms" -> (dayWallMs, "ms")
    m += "ckpt.skip_ratio" -> (ckpt.lastSkipRatio, "ratio")
    m += "ckpt.resume_ms" -> (ckpt.lastResumeMs, "ms")
    m += "io.commit_ms" -> (t.spans.find(_.name == "io.commit").get.wallMs, "ms")
    m += "io.list_ms" -> (Stats.median(t.spans.filter(_.name == "io.list").map(_.wallMs).toSeq), "ms")
    m += "io.bytes_written" -> (bytesWritten, "bytes")
    val stages = listener.synchronized(listener.stages.toList)
    m += "jvm.gc_ms" -> (iterGcMs.toDouble, "ms")
    m += "spark.spill_bytes" -> (stages.map(_.spillBytes).sum.toDouble, "bytes")
    m += "spark.task_failures" -> (listener.taskFailures.toDouble, "count")
    m += "trace.overhead_frac" -> (iterSpan.wallMs / 1e3 / untracedMedianS - 1, "ratio")
    val covered = t.spans.filter(_.parent == iterSpan.id).map(_.wallMs).sum / iterSpan.wallMs
    m += "trace.span_coverage" -> (covered, "ratio")
    gates += Gate("span_coverage", covered >= 0.95 && covered <= 1.0001,
      f"child spans cover $covered%.4f of the traced iteration's wall")
    gates += Gate("kernel_sink", sink != 0L, s"kernel checksum $sink")
    m.toSeq
  }
}
