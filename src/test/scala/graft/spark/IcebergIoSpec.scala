package graft.spark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CheckpointedRun, IcebergStyleTable}
import graft.model.PagesSynth
import graft.pipeline.QualityPipeline

/** IO layer gates: Iceberg-style layout + snapshot commit, salted
  * partitioned write, partition pruning, checkpoint/resume with zero
  * recomputation (SURVEY §5.4.6, §7.4, §7.6).
  */
class IcebergIoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("iceberg-style append: layout, snapshot json, version hint, read-back") {
    val root = tmpDir("iceberg")
    val df = QualityPipeline(PagesSynth.pages(spark, 300, 4))
    val snap = IcebergStyleTable.append(df, root,
      Seq("part_date", "host_bucket"), saltCol = "url", saltBuckets = 8,
      shufflePartitions = 4)
    assert(snap.version == 1)
    assert(snap.rowCount == 300)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.contains("part_date=")))
    assert(IcebergStyleTable.currentVersion(root) == 1)
    assert(Files.exists(Paths.get(root, "metadata", "snap-1.json")))
    assert(Files.exists(Paths.get(root, "metadata", "v1.metadata.json")))

    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == 300)
    // partition columns recovered from the hive layout
    assert(back.columns.contains("part_date") &&
      back.columns.contains("host_bucket"))

    // second snapshot appends, version advances, both snapshots listed
    IcebergStyleTable.append(QualityPipeline(PagesSynth.pages(spark, 100, 2))
      .filter(col("url").endsWith("7")), root,
      Seq("part_date", "host_bucket"), "url", 8, 4)
    assert(IcebergStyleTable.currentVersion(root) == 2)
    assert(IcebergStyleTable.snapshots(root) == Seq(1, 2))
    assert(IcebergStyleTable.read(spark, root).count() > 300)
  }

  test("partition pruning reaches the scan (PushedFilters/partition dirs)") {
    val root = tmpDir("prune")
    val df = QualityPipeline(PagesSynth.pages(spark, 300, 4))
    IcebergStyleTable.append(df, root, Seq("part_date", "host_bucket"),
      "url", 8, 4)
    val pruned = IcebergStyleTable.read(spark, root)
      .filter(col("host_bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    // partition filters appear as PartitionFilters on the FileScan
    assert(plan.contains("PartitionFilters") &&
      plan.contains("host_bucket"), plan.take(2000))
    assert(pruned.count() ==
      IcebergStyleTable.read(spark, root)
        .collect().count(_.getAs[Int]("host_bucket") == 3))
  }

  test("checkpointed run: kill after k partitions, resume recomputes only the rest") {
    val root = tmpDir("resume")
    val runId = "r1"
    val input = PagesSynth.pages(spark, 400, 4)
    val transform = (df: org.apache.spark.sql.DataFrame) => QualityPipeline(df)

    // killed run: fails after 3 fresh partitions
    intercept[RuntimeException] {
      CheckpointedRun.run(spark, input, "url", transform, root, runId,
        numPartitions = 8, failAfter = 3)
    }
    val done1 = CheckpointedRun.completedPartitions(root, runId)
    assert(done1.size == 3, s"expected 3 completed, got $done1")

    // scan discipline (checked MID-RUN — the staged copy is reclaimed on
    // completion): the source was bucketed ONCE into a staged hive copy;
    // per-partition reads prune to a single _bucket directory
    val staged = Paths.get(root, "_staged", s"run=$runId")
    assert(Files.exists(staged.resolve("_SUCCESS")))
    assert(Files.exists(staged.resolve("_bucket=0")))
    val prunedPlan = spark.read.parquet(staged.toString)
      .filter(col("_bucket") === 3).queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") &&
      prunedPlan.contains("_bucket"), prunedPlan.take(1500))

    // resume: completed partitions are skipped (zero recomputation)
    val results = CheckpointedRun.run(spark, input, "url", transform, root,
      runId, numPartitions = 8)
    assert(results.count(_.skipped) == 3)
    assert(results.count(!_.skipped) == 5)
    assert(CheckpointedRun.completedPartitions(root, runId).size == 8)

    // resumed output equals an uninterrupted run, byte-for-byte
    val rootB = tmpDir("resumeB")
    CheckpointedRun.run(spark, input, "url", transform, rootB, "r2",
      numPartitions = 8)
    val a = CheckpointedRun.output(spark, root, runId)
      .select("url", "scrubbed_text", "keep", "perplexity")
    val b = CheckpointedRun.output(spark, rootB, "r2")
      .select("url", "scrubbed_text", "keep", "perplexity")
    assert(a.count() == 400)
    assert(a.exceptAll(b).count() == 0L)
    assert(b.exceptAll(a).count() == 0L)

    // metrics table: one manifest row per partition with stage counters
    val metrics = CheckpointedRun.metricsTable(spark, root, runId)
    assert(metrics.count() == 8)
    assert(metrics.columns.contains("stages"))
    assert(metrics.agg(sum("rows")).head().getLong(0) == 400L)

    // storage discipline: the staged input copy is reclaimed once every
    // partition completed (it would otherwise double storage per finished
    // run), and a rerun after cleanup is an all-skip no-op that never
    // re-reads (or rebuilds) the staged path
    assert(!Files.exists(staged),
      "staged copy must be reclaimed after the run completes")
    val rerun = CheckpointedRun.run(spark, input, "url", transform, root,
      runId, numPartitions = 8)
    assert(rerun.forall(_.skipped))
    assert(!Files.exists(staged))
  }

  test("concurrent committers: the second writer of the same version fails " +
      "loudly instead of silently discarding the first") {
    val root = tmpDir("cas")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    // another committer has read currentVersion=1 and claimed version 2
    // but not yet flipped the hint — this committer must NOT also write v2
    Files.createFile(Paths.get(root, "metadata", "claim-2"))
    intercept[java.util.ConcurrentModificationException] {
      IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    }
    // table is unchanged and still readable at version 1
    assert(IcebergStyleTable.currentVersion(root) == 1)
    assert(IcebergStyleTable.read(spark, root).count() == 100)
  }

  test("findSnapshotWithMeta ignores orphaned snapshots (snap json written " +
      "but hint never flipped) — a killed append must not read as " +
      "committed, or the caller would skip its retry and lose the data") {
    val root = tmpDir("orphan")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2,
      extraMeta = Map("run_id" -> "rX"))
    assert(IcebergStyleTable.findSnapshotWithMeta(root, "run_id", "rX")
      == Some(1))
    // simulate an append killed between snap-2.json write and hint flip
    Files.write(Paths.get(root, "metadata", "snap-2.json"),
      """{"version":2,"run_id":"rY","added_rows":100}""".getBytes("UTF-8"))
    assert(IcebergStyleTable.findSnapshotWithMeta(root, "run_id", "rY")
      .isEmpty, "orphaned snapshot counted as committed")
    assert(IcebergStyleTable.currentVersion(root) == 1)
  }

  test("a claim abandoned by a DEAD committer (no snapshot, older than the " +
      "lease) is reclaimed — a SIGKILL between claim and hint flip cannot " +
      "wedge the table forever") {
    val root = tmpDir("caslease")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    // a committer claimed version 2 then died without a JVM catch: the
    // claim file exists, no snap-2.json, and the lease has long lapsed
    val stale = Paths.get(root, "metadata", "claim-2")
    Files.createFile(stale)
    Files.setLastModifiedTime(stale, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60L * 60L * 1000L))
    // the next committer expires the stale claim and commits v2
    val snap = IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    assert(snap.version == 2)
    assert(IcebergStyleTable.currentVersion(root) == 2)
    assert(IcebergStyleTable.read(spark, root).count() == 200)
    // the expired claim was tombstoned (audit trail), not silently deleted
    import scala.jdk.CollectionConverters._
    val tombs = Files.list(Paths.get(root, "metadata")).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("claim-2.stale-")).toSeq
    assert(tombs.nonEmpty)

    // but a LIVE claim (fresh mtime, uncommitted) is still protected: the
    // lease guards only abandoned claims
    Files.createFile(Paths.get(root, "metadata", "claim-3"))
    intercept[java.util.ConcurrentModificationException] {
      IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    }
    assert(IcebergStyleTable.currentVersion(root) == 2)
  }

  test("a FAILED commit releases its version claim — the table is not " +
      "wedged for later committers") {
    val root = tmpDir("casfail")
    val df = QualityPipeline(PagesSynth.pages(spark, 100, 2))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    // a commit whose Spark write blows up mid-flight (runtime error)
    val poisoned = df.withColumn("boom",
      expr("assert_true(part_date IS NULL)"))
    intercept[Exception] {
      IcebergStyleTable.append(poisoned, root, Seq("part_date"), "url", 8, 2)
    }
    // the failed committer's claim must be gone, so the SAME version is
    // claimable again and the next commit succeeds
    assert(!Files.exists(Paths.get(root, "metadata", "claim-2")))
    val snap = IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 2)
    assert(snap.version == 2)
    assert(IcebergStyleTable.read(spark, root).count() == 200)
  }

  test("zero-copy resume mode: prebucketed input skips the staging " +
      "rewrite and matches the staged-mode output byte-for-byte") {
    val input = PagesSynth.pages(spark, 200, 4)
    val transform = (df: org.apache.spark.sql.DataFrame) => QualityPipeline(df)
    // pre-bucket exactly as a previous pipeline stage would have
    val pre = tmpDir("prebucketed")
    input.withColumn("_bucket", pmod(xxhash64(col("url")), lit(8)))
      .write.mode("overwrite").partitionBy("_bucket").parquet(pre)

    val root = tmpDir("zerocopy")
    val res = CheckpointedRun.run(spark, input, "url", transform, root, "z1",
      numPartitions = 8, prebucketed = Some(pre))
    assert(res.count(!_.skipped) == 8)
    // the whole point: NO staging rewrite happened
    assert(!Files.exists(Paths.get(root, "_staged")))

    val rootB = tmpDir("zerocopyB")
    CheckpointedRun.run(spark, input, "url", transform, rootB, "z2",
      numPartitions = 8)
    val a = CheckpointedRun.output(spark, root, "z1")
      .select("url", "scrubbed_text", "keep", "perplexity")
    val b = CheckpointedRun.output(spark, rootB, "z2")
      .select("url", "scrubbed_text", "keep", "perplexity")
    assert(a.count() == 200)
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)

    // a bucket-scheme mismatch must fail loudly, not misroute rows
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(spark, input, "url", transform, tmpDir("zc_bad"),
        "z3", numPartitions = 4, prebucketed = Some(pre))
    }

    // a layout where only SOME bucket directories are mis-keyed must also
    // fail: the membership sample draws from EVERY _bucket directory (a
    // global limit() could satisfy itself entirely from healthy buckets)
    val pre2 = tmpDir("prebucketed_partial")
    input.withColumn("_bucket", pmod(xxhash64(col("url")), lit(8)))
      .write.mode("overwrite").partitionBy("_bucket").parquet(pre2)
    input.filter(pmod(xxhash64(col("url")), lit(8)) === 0)
      .write.mode("overwrite").parquet(s"$pre2/_bucket=5")
    intercept[IllegalArgumentException] {
      CheckpointedRun.run(spark, input, "url", transform,
        tmpDir("zc_partial"), "z4", numPartitions = 8,
        prebucketed = Some(pre2))
    }
  }

  /** A prebucketed copy of `n` synthetic pages over `p` buckets, ONE file
    * per bucket (each partition job is then a single task). */
  private def prebucketedPages(n: Long, p: Int): String = {
    val pre = tmpDir("prebucketed_single")
    PagesSynth.pages(spark, n, 4)
      .withColumn("_bucket", pmod(xxhash64(col("url")), lit(p)))
      .repartition(p, col("_bucket"))
      .write.mode("overwrite").partitionBy("_bucket").parquet(pre)
    pre
  }

  private def stageCpuSec(metrics: org.apache.spark.sql.DataFrame,
                          stage: String): Seq[Double] =
    metrics.select(col(s"stages.$stage.cpu_sec")).collect()
      .map(_.getDouble(0)).toSeq

  test("concurrent partitions: per-partition stage nanos are disjoint and " +
      "sum to the JVM-wide StageTimers delta") {
    val pre = prebucketedPages(240, 4)
    val input = spark.read.parquet(pre).drop("_bucket")
    val gated = (df: org.apache.spark.sql.DataFrame) =>
      QualityPipeline(df).withColumn("_gate",
        TwoPartitionsAtOnce.udf(pmod(xxhash64(col("url")), lit(4))))
    TwoPartitionsAtOnce.reset()
    val root = tmpDir("concurrent_timers")
    val before = graft.core.StageTimers.snapshot()
    val res = CheckpointedRun.run(spark, input, "url", gated, root, "c1",
      numPartitions = 4, prebucketed = Some(pre))
    val (globalNanos, globalDocs) =
      graft.core.StageTimers.delta(before, graft.core.StageTimers.snapshot())
    assert(res.count(!_.skipped) == 4)
    // the tasks of two different partitions were running at the same time
    assert(TwoPartitionsAtOnce.met, "partition jobs never overlapped")

    val metrics = CheckpointedRun.metricsTable(spark, root, "c1")
    assert(globalDocs == metrics.agg(sum("rows")).head().getLong(0))
    val manifestStage = Map("tokenize" -> "tokenize",
      "pii_scrub" -> "scrub", "langid" -> "langid",
      "perplexity" -> "perplexity", "heuristics" -> "heuristics")
    graft.core.StageTimers.stages.foreach { st =>
      val perPartition = stageCpuSec(metrics, manifestStage(st))
      assert(perPartition.size == 4)
      // each partition's time is its own: the per-partition parts add up
      // to the JVM total exactly (a snapshot delta per partition would
      // count every overlapping partition's time twice)
      assert(math.abs(perPartition.sum - globalNanos(st) / 1e9) < 1e-6,
        s"$st: ${perPartition.sum} vs ${globalNanos(st) / 1e9}")
      assert(perPartition.forall(_ > 0.0), s"$st: $perPartition")
    }
  }

  test("a partition whose transform throws: the others commit, the " +
      "original exception surfaces, and resume recomputes only it") {
    val pre = prebucketedPages(200, 4)
    val input = spark.read.parquet(pre).drop("_bucket")
    val poisoned = (df: org.apache.spark.sql.DataFrame) =>
      QualityPipeline(df).withColumn("_poison",
        PoisonLastPartition.udf(pmod(xxhash64(col("url")), lit(4))))
    val root = tmpDir("poisoned")
    val e = intercept[Exception] {
      CheckpointedRun.run(spark, input, "url", poisoned, root, "p1",
        numPartitions = 4, prebucketed = Some(pre))
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains(PoisonLastPartition.Message)), e)
    assert(CheckpointedRun.completedPartitions(root, "p1") == Set(0, 1, 2))

    // resume with a healthy transform that marks some rows as errors
    val withErrors = (df: org.apache.spark.sql.DataFrame) =>
      QualityPipeline(df).withColumn("error",
        when(pmod(xxhash64(col("url"), lit(7L)), lit(5)) === 0,
          lit("InjectedError: test")).otherwise(col("error")))
    val res = CheckpointedRun.run(spark, input, "url", withErrors, root,
      "p1", numPartitions = 4, prebucketed = Some(pre))
    assert(res.filter(!_.skipped).map(_.partition) == Seq(3))
    val out = CheckpointedRun.output(spark, root, "p1")
    assert(out.count() == 200L &&
      out.select(countDistinct("url")).head().getLong(0) == 200L)
    // n_error counts the partition's non-null error rows
    val m = CheckpointedRun.metricsTable(spark, root, "p1")
      .filter(col("partition") === 3)
      .select("rows", "n_error").head()
    val part3 = out.filter(pmod(xxhash64(col("url")), lit(4)) === 3)
    assert(m.getLong(0) == part3.count())
    assert(m.getLong(1) == part3.filter(col("error").isNotNull).count())
    assert(m.getLong(1) > 0L)
  }

  test("failAfter = N: exactly the first N pending partitions run, none " +
      "beyond them starts") {
    val pre = prebucketedPages(120, 4)
    val input = spark.read.parquet(pre).drop("_bucket")
    val transform = (df: org.apache.spark.sql.DataFrame) => QualityPipeline(df)
    val root = tmpDir("fail_after")
    intercept[RuntimeException] {
      CheckpointedRun.run(spark, input, "url", transform, root, "f1",
        numPartitions = 4, failAfter = 2)
    }
    assert(CheckpointedRun.completedPartitions(root, "f1") == Set(0, 1))
    assert(!Files.exists(Paths.get(root, "run=f1", "partition=2")))
    assert(!Files.exists(Paths.get(root, "run=f1", "partition=3")))
    // the next kill counts from the partitions still pending
    intercept[RuntimeException] {
      CheckpointedRun.run(spark, input, "url", transform, root, "f1",
        numPartitions = 4, failAfter = 1)
    }
    assert(CheckpointedRun.completedPartitions(root, "f1") == Set(0, 1, 2))
  }

  test("compaction: fewer files, same rows, atomic snapshot flip") {
    val root = tmpDir("compact")
    val df = QualityPipeline(PagesSynth.pages(spark, 400, 4))
    val snap1 = IcebergStyleTable.append(df, root, Seq("part_date"), "url", 8, 4)
    val before = snap1.files.size
    val snap2 = IcebergStyleTable.compact(spark, root, Seq("part_date"))
    assert(snap2.version == snap1.version + 1)
    assert(snap2.rowCount == 400)
    assert(snap2.files.size < before,
      s"compaction ${before} -> ${snap2.files.size}")
    val back = IcebergStyleTable.read(spark, root)
    assert(back.count() == 400)
    assert(back.select(countDistinct("url")).head().getLong(0) == 400)
  }

  test("salted write bounds skew: no output partition dominated by one host") {
    val root = tmpDir("salt")
    val df = QualityPipeline(PagesSynth.pages(spark, 2000, 8))
    IcebergStyleTable.append(df, root, Seq("part_date"), "url",
      saltBuckets = 16, shufflePartitions = 8)
    // hottest Zipf host spreads across >= 2 files within its hottest date
    val back = IcebergStyleTable.read(spark, root)
      .withColumn("host", regexp_extract(col("url"), "^https://([^/]+)", 1))
      .withColumn("file", input_file_name())
    val hot = back.groupBy("host").count().orderBy(desc("count"))
      .head().getString(0)
    val files = back.filter(col("host") === hot)
      .select(countDistinct("file")).head().getLong(0)
    assert(files >= 2, s"hot host $hot landed in $files file(s)")
  }
}

/** Executor-side gate (local mode: the test JVM): the first rows wait
  * until rows of a second partition have arrived too, so the test passes
  * only if two partition jobs ran their tasks at the same time. The wait
  * is bounded once for the whole run: a serial loop gives up after it
  * and fails the test instead of hanging it. */
object TwoPartitionsAtOnce {
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  @volatile private var gaveUp = false
  def met: Boolean = seen.size >= 2 && !gaveUp
  def reset(): Unit = { seen.clear(); gaveUp = false }
  val udf = org.apache.spark.sql.functions.udf { (k: Long) =>
    seen.add(k)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (seen.size < 2 && !gaveUp && System.nanoTime() < deadline)
      Thread.sleep(5)
    if (seen.size < 2) gaveUp = true
    k
  }.asNondeterministic()
}

/** Fails every task of logical partition 3 (of 4). */
object PoisonLastPartition {
  final val Message = "poisoned partition 3"
  val udf = org.apache.spark.sql.functions.udf { (k: Long) =>
    if (k == 3L) throw new IllegalStateException(Message)
    k
  }.asNondeterministic()
}
