package perfbench

/** Per-layer numbers of one traced pass, from its spans, its Spark jobs,
  * the workload's artifacts and the StageTimers delta across the pass. */
object LayerMetrics {

  final val IoLayers: Seq[String] = Seq("io.staging",
    "io.partition.transform_write", "io.partition.metrics_readback",
    "io.commit", "io.compact", "io.read")

  final val StageNames: Seq[String] =
    Seq("tokenize", "pii_scrub", "langid", "perplexity", "heuristics")

  /** Every per-layer metric with its unit, in report order. */
  val names: Seq[(String, String)] = Seq(
    "session.start_s" -> "s",
    "io.staging.s" -> "s", "io.staging.bytes_written" -> "bytes",
    "io.partition.fresh" -> "count", "io.partition.sum_s" -> "s",
    "io.partition.p50_s" -> "s", "io.partition.max_s" -> "s",
    "io.partition.skew" -> "ratio",
    "io.partition.transform_write_s" -> "s",
    "io.partition.metrics_readback_s" -> "s",
    "io.partition.slot_util" -> "ratio",
    "io.resume.skipped_frac" -> "ratio", "io.resume.recomputed" -> "count",
    "io.commit.s" -> "s", "io.commit.bytes_written" -> "bytes",
    "io.commit.files" -> "count",
    "io.compact.s" -> "s", "io.compact.bytes_written" -> "bytes",
    "io.compact.files_after" -> "count",
    "io.read.s" -> "s", "io.read.files" -> "count", "io.read.bytes" -> "bytes",
    "driver.gap_s" -> "s", "spark.other_job_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_failures" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.jvm_gc_s" -> "s") ++
    StageNames.map(s => s"core.$s.us_per_doc" -> "us/doc") ++ Seq(
    "core.html_extract.us_per_doc" -> "us/doc",
    "core.process.us_per_doc" -> "us/doc",
    "core.pii_extract.us_per_doc" -> "us/doc",
    "expr.overhead_us_per_doc" -> "us/doc") ++
    DocQueries.Queries.flatMap(q =>
      Seq(s"ops.$q.s" -> "s", s"ops.$q.jobs" -> "count")) ++ Seq(
    "ops.shuffle_write_bytes" -> "bytes",
    "write_amp" -> "ratio", "retained_amp" -> "ratio",
    "trace.overhead_s" -> "s", "trace.unaccounted_s" -> "s")

  /** A job's layer: the I/O layer its call site names, else the innermost
    * benchmark span open when it started (1 ms slack: job times are
    * millisecond-grained). */
  def layerOf(job: JobRec, spans: Seq[Span]): String =
    Layers.classify(job.callSite).getOrElse(
      spans.filter(s => s.start - 1000000L <= job.start && job.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.name).getOrElse("other"))

  /** (metrics of the pass, its jobs with their layers). The pass is the
    * last span named "pass". */
  def apply(allSpans: Seq[Span], jobs: Seq[JobRec], w: Workload, cores: Int,
            inputBytes: Double, stages: (Map[String, Long], Long),
            extras: Map[String, Double]): (Map[String, Double], Seq[(String, JobRec)]) = {
    val pass = allSpans.filter(_.name == "pass").maxBy(_.end)
    val inner = allSpans.filter(s => s.start >= pass.start && s.end <= pass.end &&
      s.id != pass.id)
    val labelled = jobs.map(j => (layerOf(j, inner), j))
    def of(layer: String => Boolean) = labelled.collect { case (l, j) if layer(l) => j }
    def clip(js: Seq[JobRec]) = js.map(j =>
      (math.max(j.start, pass.start), math.min(j.end, pass.end)))
    def secs(js: Seq[JobRec]) = Stats.unionLength(clip(js)) / 1e9
    def sumOf(js: Seq[JobRec])(f: JobRec => Long) = js.map(f).sum.toDouble
    def layer(name: String) = of(_ == name)

    val wall = (pass.end - pass.start) / 1e9
    val gap = Stats.selfTime((pass.start, pass.end), clip(jobs)) / 1e9
    val ioSecs = IoLayers.map(l => secs(layer(l))).sum
    val other = of(l => !IoLayers.contains(l))
    val partitionJobs = of(_.startsWith("io.partition."))
    val partitionSum = extras.getOrElse("io.partition.sum_s", 0.0)
    val (stageNanos, stageDocs) = stages
    val pipelineJobs = w.pipelineLayer.map(layer).getOrElse(Nil)

    val m = extras ++ Map(
      "io.staging.s" -> secs(layer("io.staging")),
      "io.staging.bytes_written" -> sumOf(layer("io.staging"))(_.outputBytes),
      "io.partition.transform_write_s" ->
        secs(layer("io.partition.transform_write")),
      "io.partition.metrics_readback_s" ->
        secs(layer("io.partition.metrics_readback")),
      "io.partition.slot_util" ->
        (if (partitionSum > 0)
          sumOf(partitionJobs)(_.runNs) / 1e9 / (partitionSum * cores)
        else 0.0),
      "io.commit.s" -> secs(layer("io.commit")),
      "io.commit.bytes_written" -> sumOf(layer("io.commit"))(_.outputBytes),
      "io.compact.s" -> secs(layer("io.compact")),
      "io.compact.bytes_written" -> sumOf(layer("io.compact"))(_.outputBytes),
      "io.read.s" -> secs(layer("io.read")),
      "io.read.bytes" -> sumOf(layer("io.read"))(_.inputBytes),
      "driver.gap_s" -> gap,
      "spark.other_job_s" -> secs(other),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> sumOf(jobs)(_.stages.toLong),
      "spark.tasks" -> sumOf(jobs)(_.tasks.toLong),
      "spark.task_failures" -> sumOf(jobs)(_.taskFailures.toLong),
      "spark.shuffle_write_bytes" -> sumOf(jobs)(_.shuffleWriteBytes),
      "spark.output_bytes" -> sumOf(jobs)(_.outputBytes),
      "spark.executor_run_s" -> sumOf(jobs)(_.runNs) / 1e9,
      "spark.executor_cpu_s" -> sumOf(jobs)(_.cpuNs) / 1e9,
      "spark.jvm_gc_s" -> sumOf(jobs)(_.gcNs) / 1e9,
      "expr.pipeline_cpu_us_per_doc" ->
        (if (stageDocs > 0) sumOf(pipelineJobs)(_.cpuNs) / 1e3 / stageDocs else 0.0),
      "ops.shuffle_write_bytes" ->
        sumOf(of(_.startsWith("ops.")))(_.shuffleWriteBytes),
      "write_amp" ->
        (if (inputBytes > 0) sumOf(jobs)(_.outputBytes) / inputBytes else 0.0),
      "trace.unaccounted_s" -> (wall - ioSecs - secs(other) - gap)) ++
      StageNames.map(s => s"core.$s.us_per_doc" ->
        (if (stageDocs > 0) stageNanos.getOrElse(s, 0L) / 1e3 / stageDocs else 0.0)) ++
      DocQueries.Queries.flatMap { q =>
        val spans = inner.filter(_.name == s"ops.$q")
        Seq(s"ops.$q.s" -> spans.map(s => (s.end - s.start) / 1e9).sum,
          s"ops.$q.jobs" -> layer(s"ops.$q").size.toDouble)
      }
    (m, labelled)
  }

  /** Spans and labelled jobs of the whole run, written once at its end. */
  def traceJson(spans: Seq[Span], jobs: Seq[(String, JobRec)]): String = {
    val ss = spans.map(s => Json.obj(Seq("id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    val js = jobs.map { case (l, j) => Json.obj(Seq("job" -> j.id.toString,
      "layer" -> Json.str(l), "start_ns" -> j.start.toString,
      "end_ns" -> j.end.toString, "tasks" -> j.tasks.toString,
      "executor_cpu_ns" -> j.cpuNs.toString,
      "output_bytes" -> j.outputBytes.toString,
      "call_site" -> Json.str(j.callSite.linesIterator.take(6).mkString(" | "))))
    }
    Json.obj(Seq("spans" -> ss.mkString("[", ",", "]"),
      "jobs" -> js.mkString("[", ",", "]")))
  }
}
