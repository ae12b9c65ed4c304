package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

import graft.core.{Blank, DocProcessor, HtmlText, PiiDetector, StageTimers}

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work-dir <dir> --out <result.json> [--trace-file <f>]
  * }}}
  *
  * Set-up (timed as setup_s): session start, input generation, the
  * workload's references, then `WarmupPasses` untimed passes. Then passes
  * run one after another until the next would end past `--seconds`, at
  * least one (four when traced). Each timed pass is checked outside its
  * timing. With `--trace 1` passes alternate untraced and traced; traced
  * passes record spans and Spark jobs, and the per-layer metrics come from
  * them. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10.0, trace: Boolean = false,
                        workDir: Path = Paths.get("."),
                        out: Path = Paths.get("result.json"),
                        traceFile: Option[Path] = None)

  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--work-dir", v)) => a.copy(workDir = Paths.get(v))
      case (a, Array("--out", v)) => a.copy(out = Paths.get(v))
      case (a, Array("--trace-file", v)) => a.copy(traceFile = Some(Paths.get(v)))
      case (_, other) =>
        throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  final case class PassRec(wall: Double, cpu: Double, rssMb: Double,
                           traced: Boolean, checked: Checked,
                           layers: Map[String, Double]) {
    def threw: Boolean = checked.thrown.nonEmpty
  }

  /** One: more would put the timed pass nearer the JIT's plateau, but a
    * run could no longer afford it (README.md, Load shape). */
  final val WarmupPasses = 1
  final val KernelSampleReps = 3

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secs(t0))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Resets the kernel's peak-RSS mark, so VmHWM covers one pass. */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(UTF_8))
    catch { case _: java.io.IOException => }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024)
      .getOrElse(0.0)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val w = Workloads(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(a.trace)
    Files.createDirectories(a.workDir)

    val (spark, sessionStart) = time {
      tracer.span("session.start") {
        SparkSession.builder()
          .master(s"local[$cores]")
          .appName(s"perfbench-${a.workload}")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString)
          .getOrCreate()
      }
    }
    try {
      val result = measure(spark, w, a, cores, tracer, sessionStart)
      Files.write(a.out, result.getBytes(UTF_8))
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, w: Workload, a: Args, cores: Int,
                      tracer: Tracer, sessionStart: Double): String = {
    val ctx = Ctx(spark, a.seed, a.workDir.resolve("data"), cores, tracer)
    Files.createDirectories(ctx.dir)
    val (_, generateS) = time(tracer.span("generate")(w.generate(ctx)))
    val (setupFailures, prepareS) = time(tracer.span("prepare")(w.prepare(ctx)))

    val listener = new JobListener
    val jobLog = ArrayBuffer.empty[(String, JobRec)]
    val inputBytes = w.inputBytes(ctx).toDouble
    var i = 0
    /** One pass; a warm-up pass is not checked, only its failure to run
      * counts. */
    def pass(traced: Boolean, warm: Boolean = false): PassRec = {
      tracer.enabled = traced
      w.beforePass(ctx, i)
      if (traced) spark.sparkContext.addSparkListener(listener)
      Shim.awaitListenerBus(spark)
      listener.take()
      resetPeakRss()
      val st0 = StageTimers.snapshot()
      val cpu0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      var thrown: Option[String] = None
      val r =
        try Some(tracer.span("pass")(w.run(ctx, i)))
        catch {
          case e: Exception =>
            thrown = Some(e.getClass.getName)
            System.err.println(s"[perfbench] pass $i threw: $e")
            None
        }
      val wall = secs(t0)
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val rss = peakRssMb()
      val stages = StageTimers.delta(st0, StageTimers.snapshot())
      var jobs = Seq.empty[JobRec]
      if (traced) {
        Shim.awaitListenerBus(spark)
        jobs = listener.take()
        spark.sparkContext.removeSparkListener(listener)
      }
      val (c0, checkS) = time(
        if (warm && r.nonEmpty) Checked(0, 0, Nil, Nil) else w.check(ctx, i, r))
      w.afterPass(ctx, i)
      val checked = c0.copy(thrown = c0.thrown ++ thrown)
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val (m, labelled) = LayerMetrics(tracer.spans.toSeq, jobs, w, cores,
            inputBytes, stages, checked.extras)
          jobLog ++= labelled
          m
        }
      val failures = passFailures(checked)
      System.err.println(f"[perfbench] pass $i${if (traced) " (traced)" else ""}: " +
        f"$wall%.3f s, cpu $cpu%.2f s, rss $rss%.0f MB, check $checkS%.2f s" +
        (if (failures.nonEmpty) s", CHECK FAILED: ${failures.mkString("; ")}" else ""))
      i += 1
      PassRec(wall, cpu, rss, traced, checked, layers)
    }

    val warmup = ArrayBuffer.empty[PassRec]
    val (_, warmupS) = time(tracer.span("warmup") {
      while (warmup.size < WarmupPasses) warmup += pass(traced = false, warm = true)
    })
    val setupS = sessionStart + generateS + prepareS + warmupS
    System.err.println(f"[perfbench] ${w.name} seed ${a.seed}: set-up $setupS%.2f s " +
      f"(session $sessionStart%.2f, generate $generateS%.2f, prepare $prepareS%.2f, " +
      f"warm-up $warmupS%.2f over ${warmup.size} passes)")

    val passes = ArrayBuffer.empty[PassRec]
    val window = System.nanoTime()
    def enough: Boolean = passes.size >= (if (a.trace) 4 else 1)
    def nextFits: Boolean =
      secs(window) + Stats.median(passes.map(p => p.wall).toSeq) <= a.seconds
    while (!enough || nextFits)
      // untraced, traced, traced, untraced, ...: warm-up drift cancels
      // out of the tracing overhead
      passes += pass(traced = a.trace && (passes.size % 4 == 1 || passes.size % 4 == 2))
    tracer.enabled = a.trace

    val untraced = timedSamples(passes.filterNot(_.traced).toSeq)
    val checks = (warmup ++ passes).map(_.checked).toSeq
    val (attempted, failed, failedFrac) = account(checks, w.units)
    val failures = runFailures(setupFailures, checks)
    val wallS = Stats.summarize(untraced.map(_.wall))

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("docs_per_s", w.docs / wallS.median, "docs/s"),
      ("wall_s", wallS.median, "s"),
      ("setup_s", setupS, "s"),
      ("cpu_us_per_doc", Stats.median(untraced.map(_.cpu)) * 1e6 / w.docs, "us/doc"),
      ("peak_rss_mb", Stats.median(untraced.map(_.rssMb)), "MB"))

    val perLayer: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val traced = timedSamples(passes.filter(_.traced).toSeq)
        val kernel = tracer.span("core.single_thread")(kernelBaseline(w.kernelDocs(ctx)))
        LayerMetrics.names.map { case (n, unit) =>
          val v = n match {
            case "session.start_s" => sessionStart
            case "trace.overhead_s" =>
              Stats.median(traced.map(_.wall)) - wallS.median
            case k if kernel.contains(k) => kernel(k)
            case "expr.overhead_us_per_doc" =>
              val pipe = Stats.median(traced.map(_.layers.getOrElse(
                "expr.pipeline_cpu_us_per_doc", 0.0)))
              if (pipe == 0.0) 0.0
              else pipe - kernel("core.process.us_per_doc") -
                kernel("core.html_extract.us_per_doc")
            case k => Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))
          }
          (n, v, unit)
        }
      }

    a.traceFile.foreach(f => Files.write(f, LayerMetrics.traceJson(
      tracer.spans.toSeq, jobLog.toSeq).getBytes(UTF_8)))

    val metrics = if (a.trace) perLayer else endToEnd
    Json.obj(Seq(
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "passes" -> passes.size.toString,
      "traced_passes" -> passes.count(_.traced).toString,
      "wall_samples" -> passes.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "warmup_samples" -> warmup.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
      "wall_tail" -> wallS.tail.map { case (q, v) =>
        Json.obj(Seq("q" -> Json.num(q), "value" -> Json.num(v))) }.getOrElse("null"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_frac" -> Json.num(failedFrac),
      "thrown" -> passes.flatMap(_.checked.thrown).map(Json.str).mkString("[", ",", "]"),
      "check_failures" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "oracle_dir" -> (if (w.name == "doc_queries")
        Json.str(ctx.dir.resolve("results").toAbsolutePath.toString) else "null"),
      "oracle_tables" -> (if (w.name == "doc_queries")
        Json.str(ctx.dir.resolve("tables").toAbsolutePath.toString) else "null"),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
  }

  /** The passes whose timings count. A pass that threw did not do the
    * work: it counts as failed, never as a fast sample (unless every pass
    * threw; the run is failed then). */
  def timedSamples(ps: Seq[PassRec]): Seq[PassRec] = {
    val clean = ps.filterNot(_.threw)
    if (clean.nonEmpty) clean else ps
  }

  /** A pass's failed checks. A pass, or a query of it, that threw has no
    * output to check, so it fails: the thrown exception is a failure. */
  def passFailures(c: Checked): Seq[String] =
    c.failures ++ c.thrown.map(t => s"threw $t")

  /** Every failed check of a run: set-up's and each pass's. The run is
    * correct only when this is empty. */
  def runFailures(setup: Seq[String], checks: Seq[Checked]): Seq[String] =
    setup ++ checks.flatMap(passFailures)

  /** (attempted, failed, failed share) over all passes: error rows plus
    * every unit of a pass that threw. A thrown pass is never retried. */
  def account(checks: Seq[Checked], unitsPerPass: Long): (Long, Long, Double) = {
    val attempted = checks.size * unitsPerPass
    val errors = checks.map(_.errorUnits).sum
    val thrown = checks.map(_.failedUnits).sum
    (attempted, errors + thrown, Stats.failedFrac(errors, thrown, attempted))
  }

  /** Single-threaded driver calls into graft.core over the workload's own
    * documents: µs per document, median of three passes over the sample. */
  def kernelBaseline(sample: Seq[(Option[String], Option[String])]): Map[String, Double] = {
    val needsHtml = sample.collect {
      case (t, Some(h)) if t.forall(Blank.isBlankString) => h
    }
    val texts = sample.map {
      case (t, Some(h)) if t.forall(Blank.isBlankString) => HtmlText.extract(h)
      case (t, _) => t.getOrElse("")
    }
    val n = math.max(1, sample.size).toDouble
    def usPerDoc(body: => Unit): Double =
      Stats.median((1 to KernelSampleReps).map(_ => time(body)._2 * 1e6 / n))
    Map(
      "core.html_extract.us_per_doc" ->
        (if (needsHtml.isEmpty) 0.0 else usPerDoc(needsHtml.foreach(HtmlText.extract))),
      "core.process.us_per_doc" -> usPerDoc(texts.foreach(DocProcessor.process)),
      "core.pii_extract.us_per_doc" ->
        usPerDoc(texts.foreach(t => PiiDetector.extract(t))))
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
