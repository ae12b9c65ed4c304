package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunJob
import graft.io.IcebergStyleTable
import graft.pipeline.QualityPipeline

final case class Ctx(spark: SparkSession, seed: Long, dir: Path, cores: Int,
                     tracer: Tracer)

/** Result of a pass's output checks (taken outside the timed pass).
  * `failedUnits` counts units of the pass that threw; `extras` are layer
  * numbers read from the run's own artifacts. */
final case class Checked(errorUnits: Long, failedUnits: Long,
                         thrown: Seq[String], failures: Seq[String],
                         extras: Map[String, Double] = Map.empty)

/** One workload: its seeded inputs, its timed pass and its output checks. */
abstract class Workload {
  type Result
  def name: String
  /** Documents one pass processes (the throughput denominator). */
  def docs: Long
  /** Units one pass attempts: documents, or queries for doc_queries. */
  def units: Long = docs
  /** Layer whose jobs run the quality pipeline, for the expr overhead. */
  def pipelineLayer: Option[String]
  /** Writes the inputs (once, during set-up). */
  def generate(ctx: Ctx): Unit
  /** The rest of set-up (the references for the output checks); failures
    * of its one-time checks. Warm-up passes follow it, run by Main. */
  def prepare(ctx: Ctx): Seq[String]
  def beforePass(ctx: Ctx, i: Int): Unit = ()
  def run(ctx: Ctx, i: Int): Result
  /** Removes what pass `i` left behind, once it is checked. */
  def afterPass(ctx: Ctx, i: Int): Unit = ()
  def check(ctx: Ctx, i: Int, r: Option[Result]): Checked
  def inputBytes(ctx: Ctx): Long
  /** (text, html) of the workload's own documents, for the single-threaded
    * kernel baseline. */
  def kernelDocs(ctx: Ctx): Seq[(Option[String], Option[String])]
}

object Workloads {
  val names: Seq[String] =
    Seq("crawl_runjob", "html_pii_pipeline", "resume_readback", "doc_queries")

  def apply(name: String): Workload = name match {
    case "crawl_runjob" => new CrawlRunJob
    case "html_pii_pipeline" => new HtmlPiiPipeline
    case "resume_readback" => new ResumeReadback
    case "doc_queries" => new DocQueries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- shared helpers ----

  /** Order-independent digest: row count and the exact sum of a 64-bit
    * hash of the given columns. Duplicate rows change it, row order does
    * not. */
  def digestColumns(cols: Seq[Column]): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  def digest(df: DataFrame, cols: Seq[Column]): String = {
    val cs = digestColumns(cols)
    val r = df.agg(cs.head, cs.tail: _*).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def observed(o: Observation): String = {
    val m = o.get
    s"${m("n")}:${m("h")}"
  }

  val pipelineDigestCols: Seq[Column] =
    Seq(col("url"), col("keep"), col("scrubbed_text"), col("n_redacted"))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def treeBytes(p: Path, suffix: String = ""): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.toString.endsWith(suffix)).map(Files.size).sum
      finally s.close()
    }

  def sampleDocs(df: DataFrame, n: Int): Seq[(Option[String], Option[String])] =
    df.select(col("text"), col("html").cast("string")).limit(n).collect()
      .toSeq.map(r => (Option(r.getString(0)), Option(r.getString(1))))
}

import Workloads._

/** RunJob's arguments and the per-pass checks shared by the two workloads
  * that run the whole production job. The commit keeps RunJob's default
  * salting (16 buckets); the url-hash and shuffle partitions are 4, one
  * per core, instead of the default 32, because at 32 a run does not fit
  * the benchmark's time budget (README.md, Job shape). */
abstract class RunJobWorkload extends Workload {
  type Result = RunJob.JobResult
  final val RunId = "bench"
  final val Partitions = 4
  final val ShufflePartitions = 4
  val docs: Long = 2000L
  def pipelineLayer: Option[String] = Some("io.partition.transform_write")

  def args(input: Path, output: Path, compact: Boolean): RunJob.JobArgs =
    RunJob.JobArgs(input = input.toString, output = output.toString,
      runId = RunId, partitions = Partitions,
      shufflePartitions = ShufflePartitions, compact = compact)

  def out(ctx: Ctx, i: Int): Path = ctx.dir.resolve(s"out$i")

  override def afterPass(ctx: Ctx, i: Int): Unit = deleteTree(out(ctx, i))

  /** count, distinct urls, digest, error rows of a committed table. */
  def tableFacts(ctx: Ctx, root: Path): (Long, Long, String, Long) = {
    val cs = digestColumns(pipelineDigestCols)
    val r = IcebergStyleTable.read(ctx.spark, root.toString)
      .agg(cs.head, cs(1), countDistinct(col("url")),
        sum(when(col("error").isNotNull, 1L).otherwise(0L))).head()
    (r.getLong(0), r.getLong(2), s"${r.getLong(0)}:${r.get(1)}",
      Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Layer numbers from the run's own artifacts: partition manifests,
    * snapshot manifests and the bytes left under the output root. */
  def artifacts(root: Path, res: RunJob.JobResult,
                doneBefore: Set[Int]): Map[String, Double] = {
    val progress = root.resolve("work").resolve("_progress")
      .resolve(s"run=$RunId")
    val walls = res.partitions.filterNot(_.skipped).map { p =>
      val m = new String(Files.readAllBytes(
        progress.resolve(s"partition=${p.partition}.json")), UTF_8)
      "\"wall_sec\":([0-9.eE+-]+)".r.findFirstMatchIn(m).get.group(1).toDouble
    }
    val table = root.resolve("table").toString
    val appended = IcebergStyleTable.findSnapshotWithMeta(table, "run_id", RunId)
    val current = IcebergStyleTable.currentVersion(table)
    val live = IcebergStyleTable.manifest(table, current)
    val dataBytes = live.map(f =>
      Files.size(Paths.get(table, "data", f))).sum.toDouble
    val p50 = if (walls.isEmpty) 0.0 else Stats.median(walls)
    Map(
      "io.partition.fresh" -> walls.size.toDouble,
      "io.partition.sum_s" -> walls.sum,
      "io.partition.p50_s" -> p50,
      "io.partition.max_s" -> (if (walls.isEmpty) 0.0 else walls.max),
      "io.partition.skew" -> (if (p50 > 0) walls.max / p50 else 0.0),
      "io.resume.skipped_frac" ->
        res.partitions.count(_.skipped).toDouble / res.partitions.size,
      "io.resume.recomputed" -> res.partitions.count(p =>
        !p.skipped && doneBefore(p.partition)).toDouble,
      "io.commit.files" ->
        appended.map(IcebergStyleTable.manifest(table, _).size).getOrElse(0)
          .toDouble,
      "io.compact.files_after" ->
        (if (appended.exists(_ < current)) live.size else 0).toDouble,
      "retained_amp" -> (if (dataBytes > 0) treeBytes(root) / dataBytes else 0.0))
  }

  def completed(root: Path): Set[Int] = {
    val d = root.resolve("work").resolve("_progress").resolve(s"run=$RunId")
    if (!Files.exists(d)) Set.empty
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.startsWith("partition=") && n.endsWith(".json") =>
        n.stripPrefix("partition=").stripSuffix(".json").toInt }.toSet
  }
}

/** A fresh RunJob over a plain-parquet crawl: staging, the serial
  * per-partition loop with its metrics read-back, and the salted commit. */
final class CrawlRunJob extends RunJobWorkload {
  val name = "crawl_runjob"
  private var refDigest = ""

  def input(ctx: Ctx): Path = ctx.dir.resolve("pages")

  def generate(ctx: Ctx): Unit =
    Inputs.crawl(ctx.spark, ctx.seed, docs, ctx.cores)
      .write.mode("overwrite").parquet(input(ctx).toString)

  def prepare(ctx: Ctx): Seq[String] = {
    refDigest = digest(QualityPipeline(ctx.spark.read.parquet(input(ctx).toString)),
      pipelineDigestCols)
    if (refDigest.startsWith(s"$docs:")) Nil
    else Seq(s"pipeline reference holds ${refDigest.takeWhile(_ != ':')} rows, expected $docs")
  }

  def run(ctx: Ctx, i: Int): Result = ctx.tracer.span("runjob") {
    RunJob.execute(ctx.spark, args(input(ctx), out(ctx, i), compact = false))
  }

  def check(ctx: Ctx, i: Int, r: Option[Result]): Checked = {
    r match {
      case None => Checked(0, docs, Nil, Nil)
      case Some(res) =>
        val root = out(ctx, i)
        val (n, distinct, dig, errors) = tableFacts(ctx, root.resolve("table"))
        val failures =
          (if (!res.committedThisRun) Seq("pass did not commit") else Nil) ++
          (if (n != docs || distinct != n)
            Seq(s"table holds $n rows for $distinct urls, expected $docs once each")
          else Nil) ++
          (if (dig != refDigest)
            Seq(s"table digest $dig != pipeline digest $refDigest") else Nil)
        Checked(errors, 0, Nil, failures, artifacts(root, res, Set.empty))
    }
  }

  def inputBytes(ctx: Ctx): Long = treeBytes(input(ctx), ".parquet")

  def kernelDocs(ctx: Ctx): Seq[(Option[String], Option[String])] =
    sampleDocs(ctx.spark.read.parquet(input(ctx).toString), 2000)
}

/** The resume path: set-up kills a RunJob after most partitions; each pass
  * resumes a copy of that state with compaction and reads the committed
  * table back. */
final class ResumeReadback extends RunJobWorkload {
  val name = "resume_readback"
  final val KillAfter = Partitions - 1
  private var refDigest = ""
  private var refKept = 0L
  private var lastRead = Array.empty[org.apache.spark.sql.Row]

  def plain(ctx: Ctx): Path = ctx.dir.resolve("pages")
  def table(ctx: Ctx): Path = ctx.dir.resolve("pages_table")
  def killed(ctx: Ctx): Path = ctx.dir.resolve("killed")

  def generate(ctx: Ctx): Unit =
    Inputs.crawl(ctx.spark, ctx.seed, docs, ctx.cores)
      .write.mode("overwrite").parquet(plain(ctx).toString)

  def prepare(ctx: Ctx): Seq[String] = {
    IcebergStyleTable.append(ctx.spark.read.parquet(plain(ctx).toString),
      table(ctx).toString, partitionCols = Seq("lang"), saltCol = "url",
      saltBuckets = RunJob.JobArgs().saltBuckets,
      shufflePartitions = ShufflePartitions)
    // the reference is the pipeline over the same pages, which
    // crawl_runjob checks equal to a fresh RunJob of the same seed
    val cs = digestColumns(pipelineDigestCols) :+
      sum(when(col("keep"), 1L).otherwise(0L)).as("kept")
    val ref = QualityPipeline(IcebergStyleTable.read(ctx.spark, table(ctx).toString))
      .agg(cs.head, cs.tail: _*).head()
    refDigest = s"${ref.getLong(0)}:${ref.get(1)}"
    refKept = ref.getLong(2)
    val killedRun =
      try {
        RunJob.execute(ctx.spark, args(table(ctx), killed(ctx), compact = true),
          failAfter = KillAfter)
        false
      } catch { case _: RuntimeException => true }
    val done = completed(killed(ctx)).size
    (if (killedRun && done == KillAfter) Nil
    else Seq(s"kill injection left $done completed partitions, expected $KillAfter")) ++
      (if (refDigest.startsWith(s"$docs:")) Nil
      else Seq(s"pipeline reference holds ${refDigest.takeWhile(_ != ':')} rows, expected $docs"))
  }

  override def beforePass(ctx: Ctx, i: Int): Unit =
    copyTree(killed(ctx), out(ctx, i))

  def run(ctx: Ctx, i: Int): Result = {
    val res = ctx.tracer.span("runjob") {
      RunJob.execute(ctx.spark, args(table(ctx), out(ctx, i), compact = true))
    }
    lastRead = ctx.tracer.span("io.read") {
      IcebergStyleTable.read(ctx.spark, out(ctx, i).resolve("table").toString)
        .filter(col("keep"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n"), sum(col("n_redacted")).as("redacted"))
        .collect()
    }
    res
  }

  def check(ctx: Ctx, i: Int, r: Option[Result]): Checked = {
    r match {
      case None => Checked(0, docs, Nil, Nil)
      case Some(res) =>
        val root = out(ctx, i)
        val tableRoot = root.resolve("table")
        val (n, distinct, dig, errors) = tableFacts(ctx, tableRoot)
        val stamped = IcebergStyleTable.snapshots(tableRoot.toString).count { v =>
          new String(Files.readAllBytes(tableRoot.resolve("metadata")
            .resolve(s"snap-$v.json")), UTF_8).contains(s"\"run_id\":\"$RunId\"")
        }
        val skipped = res.partitions.count(_.skipped)
        val kept = lastRead.map(_.getLong(1)).sum
        val failures =
          (if (!res.committedThisRun || stamped != 1)
            Seq(s"resume committed $stamped run snapshots, expected exactly 1") else Nil) ++
          (if (skipped != KillAfter)
            Seq(s"resume skipped $skipped partitions, expected $KillAfter") else Nil) ++
          (if (n != docs || distinct != n)
            Seq(s"table holds $n rows for $distinct urls, expected $docs once each")
          else Nil) ++
          (if (dig != refDigest)
            Seq(s"resumed digest $dig != pipeline digest $refDigest") else Nil) ++
          (if (kept != refKept) Seq(s"read-back kept $kept rows, expected $refKept")
          else Nil)
        val files = IcebergStyleTable.manifest(tableRoot.toString,
          IcebergStyleTable.currentVersion(tableRoot.toString)).size
        Checked(errors, 0, Nil, failures,
          artifacts(root, res, completed(killed(ctx))) +
            ("io.read.files" -> files.toDouble))
    }
  }

  def inputBytes(ctx: Ctx): Long = treeBytes(table(ctx), ".parquet")

  def kernelDocs(ctx: Ctx): Seq[(Option[String], Option[String])] =
    sampleDocs(ctx.spark.read.parquet(plain(ctx).toString), 2000)
}

/** QualityPipeline to the noop sink over html-only and blank-text pages
  * with planted PII: html extraction, the blank route and the PII scan,
  * span join and scrub, with no I/O. */
final class HtmlPiiPipeline extends Workload {
  type Result = Observation
  val name = "html_pii_pipeline"
  val docs: Long = 8000L
  def pipelineLayer: Option[String] = Some("pipeline")
  private var refDigest = ""

  def input(ctx: Ctx): Path = ctx.dir.resolve("pages")
  def truth(ctx: Ctx): Path = ctx.dir.resolve("planted")

  def generate(ctx: Ctx): Unit = {
    val all = Inputs.planted(ctx.spark, ctx.seed, docs, ctx.cores).cache()
    all.drop("planted").write.mode("overwrite").parquet(input(ctx).toString)
    all.select("url", "planted").write.mode("overwrite")
      .parquet(truth(ctx).toString)
    all.unpersist()
  }

  private def pages(ctx: Ctx) = ctx.spark.read.parquet(input(ctx).toString)

  def prepare(ctx: Ctx): Seq[String] = {
    val out = QualityPipeline(pages(ctx))
    refDigest = digest(out, pipelineDigestCols)
    // every planted value must be gone, replaced by at least as many
    // markers: a check on what was planted, not on what was detected
    val r = out.select(col("url"), col("scrubbed_text"))
      .join(ctx.spark.read.parquet(truth(ctx).toString), "url")
      .agg(count(lit(1)),
        sum(when(expr("exists(planted, v -> instr(scrubbed_text, v) > 0)"),
          1L).otherwise(0L)),
        sum(when(size(split(col("scrubbed_text"), "\\[PII:")) - 1 <
          size(col("planted")), 1L).otherwise(0L)))
      .head()
    val (rows, leaked, short) = (r.getLong(0), r.getLong(1), r.getLong(2))
    (if (rows != docs) Seq(s"pipeline returned $rows planted rows, expected $docs")
    else Nil) ++
      (if (leaked > 0) Seq(s"$leaked rows still show a planted PII value") else Nil) ++
      (if (short > 0) Seq(s"$short rows carry fewer [PII: markers than planted values")
      else Nil)
  }

  def run(ctx: Ctx, i: Int): Result = ctx.tracer.span("pipeline") {
    val o = Observation(s"pass$i")
    val cs = digestColumns(pipelineDigestCols) :+
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("errors")
    QualityPipeline(pages(ctx)).observe(o, cs.head, cs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    o
  }

  def check(ctx: Ctx, i: Int, r: Option[Result]): Checked = r match {
    case None => Checked(0, docs, Nil, Nil)
    case Some(o) =>
      val dig = observed(o)
      val errors = Option(o.get("errors")).map(_.asInstanceOf[Long]).getOrElse(0L)
      Checked(errors, 0, Nil,
        if (dig == refDigest) Nil else Seq(s"pass digest $dig != reference $refDigest"))
  }

  def inputBytes(ctx: Ctx): Long = treeBytes(input(ctx), ".parquet")

  def kernelDocs(ctx: Ctx): Seq[(Option[String], Option[String])] =
    sampleDocs(pages(ctx), 2000)
}

/** Five SparkEntry document queries to the noop sink: the LSH and
  * connected-components shuffles in graft.ops and the PII-count lambdas. */
final class DocQueries extends Workload {
  type Result = Map[String, Either[String, String]]
  val name = "doc_queries"
  val docs: Long = 5100L
  final val Vectors = 2400L
  val queries: Seq[String] = DocQueries.Queries
  override def units: Long = queries.size.toLong
  def pipelineLayer: Option[String] = None
  private var refDigests = Map.empty[String, String]

  def tables(ctx: Ctx): Path = ctx.dir.resolve("tables")
  def results(ctx: Ctx): Path = ctx.dir.resolve("results")

  def generate(ctx: Ctx): Unit = {
    Files.createDirectories(tables(ctx))
    Inputs.docTables(ctx.spark, ctx.seed, docs, Vectors, tables(ctx))
  }

  private def query(ctx: Ctx, q: String): DataFrame =
    graft.SparkEntry.queries(q)(ctx.spark, tables(ctx).toString)

  /** Writes each result once for the DuckDB oracle (checked after the
    * JVM exits) with the oracle SQL and the result digests beside it; the
    * digest is the one every later pass must reproduce. */
  def prepare(ctx: Ctx): Seq[String] = {
    refDigests = queries.map { q =>
      val o = Observation(s"ref_$q")
      val df = query(ctx, q)
      val cs = digestColumns(df.columns.toSeq.map(col))
      df.observe(o, cs.head, cs.tail: _*).coalesce(1).write.mode("overwrite")
        .parquet(results(ctx).resolve(q).toString)
      q -> observed(o)
    }.toMap
    val nVar = graft.SparkEntry.nearDupVariants(
      graft.SparkEntry.numDocs(ctx.spark, tables(ctx).toString)).toString
    val json = queries.map { q =>
      Json.str(q) + ":" + Json.str(graft.SparkEntry.oracleSql(q)
        .replace(graft.SparkEntry.NVarToken, nVar))
    }.mkString("{", ",", "}")
    Files.write(results(ctx).resolve("oracle_sql.json"), json.getBytes(UTF_8))
    Files.write(results(ctx).resolve("digests.json"), Json.obj(queries.map(q =>
      q -> Json.str(refDigests(q)))).getBytes(UTF_8))
    Nil
  }

  def run(ctx: Ctx, i: Int): Result = queries.map { q =>
    q -> ctx.tracer.span(s"ops.$q") {
      try {
        val o = Observation(s"pass${i}_$q")
        val df = query(ctx, q)
        val cs = digestColumns(df.columns.toSeq.map(col))
        df.observe(o, cs.head, cs.tail: _*).write.format("noop")
          .mode("overwrite").save()
        Right(observed(o))
      } catch { case e: Exception => Left(s"${e.getClass.getName} in $q") }
    }
  }.toMap

  def check(ctx: Ctx, i: Int, r: Option[Result]): Checked = r match {
    case None => Checked(0, units, Nil, Nil)
    case Some(m) =>
      val thrown = m.values.collect { case Left(c) => c }.toSeq
      val failures = m.toSeq.sortBy(_._1).collect {
        case (q, Right(d)) if d != refDigests(q) =>
          s"$q digest $d != oracle-checked digest ${refDigests(q)}"
      }
      Checked(0, thrown.size, thrown, failures)
  }

  def inputBytes(ctx: Ctx): Long = treeBytes(tables(ctx), ".parquet")

  def kernelDocs(ctx: Ctx): Seq[(Option[String], Option[String])] =
    ctx.spark.read.parquet(tables(ctx).resolve("documents.parquet").toString)
      .select("text").limit(2000).collect().toSeq
      .map(r => (Option(r.getString(0)), None))
}

object DocQueries {
  val Queries: Seq[String] = Seq("dedup_minhash_pairs", "dedup_clusters",
    "dedup_embedding_pairs", "d1_pii_counts", "d3_pii_financial")
}
