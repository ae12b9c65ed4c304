package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and interpolated percentiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile(Seq(10.0, 20.0, 30.0, 40.0, 50.0), 90.0) == 46.0)
    assert(Stats.percentile(Seq(7.0), 99.0) == 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("a tail percentile is reported only with ten samples beyond it") {
    assert(Stats.tailPercentile(2).isEmpty)
    assert(Stats.tailPercentile(99).isEmpty)
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("a summary states its sample count") {
    val s = Stats.summarize((1 to 200).map(_.toDouble))
    assert(s.n == 200 && s.median == 100.5)
    assert(s.tail.map(_._1).contains(95.0))
    assert(Stats.summarize(Seq(1.0, 2.0)) == Stats.Summary(1.5, None, 2))
  }

  test("union of intervals counts overlaps once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100L)
    assert(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
  }

  test("self time is the span minus the union of its clipped children") {
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L))) == 70L)
    // children reaching outside the span only count inside it
    assert(Stats.selfTime((0L, 100L), Seq((-50L, 10L), (90L, 200L))) == 80L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (5L, 6L))) == 0L)
  }

  test("a thrown pass counts all its units as failed") {
    val thrown = new DocQueries().check(null, 1, None)
    assert(thrown.failedUnits == DocQueries.Queries.size)
    val ok = Checked(errorUnits = 0, failedUnits = 0, thrown = Nil, failures = Nil)
    assert(Main.account(Seq(ok, thrown), DocQueries.Queries.size.toLong) ==
      ((10L, 5L, 0.5)))
    val rows = new HtmlPiiPipeline
    val errorRows = Checked(errorUnits = 4, failedUnits = 0, thrown = Nil, failures = Nil)
    val (attempted, failed, frac) =
      Main.account(Seq(errorRows, rows.check(null, 1, None)), rows.docs)
    assert(attempted == 2 * rows.docs && failed == rows.docs + 4)
    assert(frac == (rows.docs + 4).toDouble / (2 * rows.docs))
    assertThrows[IllegalArgumentException](Stats.failedFrac(0, 0, 0))
  }

  test("a thrown pass or query is a failed check, so the run is not correct") {
    val ok = Checked(errorUnits = 0, failedUnits = 0, thrown = Nil, failures = Nil)
    assert(Main.runFailures(Nil, Seq(ok, ok)).isEmpty)
    val thrown = new CrawlRunJob().check(null, 1, None)
      .copy(thrown = Seq("java.lang.IllegalStateException"))
    assert(Main.runFailures(Nil, Seq(ok, thrown)) ==
      Seq("threw java.lang.IllegalStateException"))
    val q = new DocQueries
    val oneQuery = q.check(null, 1, Some(
      q.queries.map(n => n -> Left(s"java.lang.RuntimeException in $n")).take(1).toMap))
    assert(oneQuery.failedUnits == 1)
    assert(Main.runFailures(Nil, Seq(oneQuery)) ==
      Seq(s"threw java.lang.RuntimeException in ${q.queries.head}"))
    assert(Main.runFailures(Seq("set-up"), Nil) == Seq("set-up"))
    // and its wall is no timing sample
    def rec(wall: Double, c: Checked) = Main.PassRec(wall, 1.0, 1.0, false, c, Map.empty)
    assert(Main.timedSamples(Seq(rec(0.5, thrown), rec(9.0, ok))).map(_.wall) == Seq(9.0))
  }

  private def site(frames: String*) = frames.mkString("\n")

  test("jobs are filed by call-site class and method, not line") {
    val write = "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)"
    val read = "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)"
    val collect = "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)"
    val run = "graft.io.CheckpointedRun$.run(CheckpointedRun.scala:225)"
    val loop = "graft.io.CheckpointedRun$.$anonfun$run$14(CheckpointedRun.scala:243)"
    val job = "graft.RunJob$.execute(RunJob.scala:120)"
    assert(Layers.classify(site(write, run, job)).contains("io.staging"))
    assert(Layers.classify(site(write, loop, run, job))
      .contains("io.partition.transform_write"))
    assert(Layers.classify(site(collect, "graft.io.CheckpointedRun$.$anonfun$run$9(CheckpointedRun.scala:1)", run))
      .contains("io.partition.metrics_readback"))
    assert(Layers.classify(site(read,
      "graft.io.CheckpointedRun$.output(CheckpointedRun.scala:324)", job)).contains("io.commit"))
    assert(Layers.classify(site(write,
      "graft.io.IcebergStyleTable$.writeCounted(IcebergStyleTable.scala:203)",
      "graft.io.IcebergStyleTable$.$anonfun$append$1(IcebergStyleTable.scala:256)",
      "graft.io.IcebergStyleTable$.append(IcebergStyleTable.scala:250)")).contains("io.commit"))
    // the read inside a compaction belongs to the compaction
    assert(Layers.classify(site(read,
      "graft.io.IcebergStyleTable$.$anonfun$read$2(IcebergStyleTable.scala:282)",
      "graft.io.IcebergStyleTable$.read(IcebergStyleTable.scala:280)",
      "graft.io.IcebergStyleTable$.compact(IcebergStyleTable.scala:307)", job))
      .contains("io.compact"))
    assert(Layers.classify(site(read,
      "graft.io.IcebergStyleTable$.read(IcebergStyleTable.scala:280)",
      "perfbench.ResumeReadback.run(Workloads.scala:1)")).contains("io.read"))
    assert(Layers.classify(site(collect, "graft.ops.ConnectedComponents$.labels(X.scala:1)"))
      .isEmpty)
    assert(Layers.classify("").isEmpty)
  }

  test("a job outside graft.io belongs to the innermost span open at its start") {
    val spans = Seq(Span(1, 0, "pass", 0L, 100000000L),
      Span(2, 1, "ops.d1_pii_counts", 10000000L, 20000000L))
    val j = new JobRec(7, 15000000L, "")
    assert(LayerMetrics.layerOf(j, spans) == "ops.d1_pii_counts")
    assert(LayerMetrics.layerOf(new JobRec(8, 50000000L, ""), spans) == "pass")
    assert(LayerMetrics.layerOf(new JobRec(9, 500000000L, ""), spans) == "other")
  }
}
