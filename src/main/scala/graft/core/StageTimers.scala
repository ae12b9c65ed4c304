package graft.core

import java.util.concurrent.atomic.LongAdder

/** Receives one document's stage nanos, in [[StageTimers.stages]] order. */
trait StageSink {
  def record(tokenize: Long, piiScrub: Long, langid: Long,
             perplexity: Long, heuristics: Long): Unit
}

/** Per-stage wall-time accounting for the fused pipeline (BASELINE.json:
  * "per-stage metrics (langid, perplexity, heuristics, scrub) logged per
  * partition").
  *
  * The fused pass cannot be timed from the plan (one expression), so
  * [[DocProcessor]] adds ~5 `nanoTime` reads per document (&lt;0.1% of
  * per-doc cost) into JVM-wide [[LongAdder]]s. These totals are
  * process-local: they answer "how much kernel time did THIS JVM spend"
  * (Bench, BenchExtra), and they mix every job that ran in the JVM.
  *
  * Per-partition numbers do not come from here. A caller that needs the
  * stage times of one job hands the kernel a [[StageSink]] scoped to
  * that job — `graft.expr.StageAccumulator`, a Spark `AccumulatorV2`
  * whose task copies are merged into the driver on task completion — so
  * the times are right on a multi-executor cluster and under concurrent
  * jobs.
  */
object StageTimers extends StageSink {

  /** The sink of a kernel call that no job scope asked to time. */
  object Unscoped extends StageSink {
    override def record(tokenize: Long, piiScrub: Long, langid: Long,
                        perplexity: Long, heuristics: Long): Unit = ()
  }

  val stages: IndexedSeq[String] =
    IndexedSeq("tokenize", "pii_scrub", "langid", "perplexity", "heuristics")

  private val nanos: Array[LongAdder] = Array.fill(stages.size)(new LongAdder)
  private val docs = new LongAdder

  override def record(tokenize: Long, piiScrub: Long, langid: Long,
                      perplexity: Long, heuristics: Long): Unit = {
    nanos(0).add(tokenize)
    nanos(1).add(piiScrub)
    nanos(2).add(langid)
    nanos(3).add(perplexity)
    nanos(4).add(heuristics)
    docs.increment()
  }

  /** Current totals in nanos, plus processed doc count. */
  def snapshot(): (Map[String, Long], Long) =
    (stages.indices.map(i => stages(i) -> nanos(i).sum()).toMap, docs.sum())

  /** Delta between two snapshots. */
  def delta(before: (Map[String, Long], Long),
            after: (Map[String, Long], Long)): (Map[String, Long], Long) =
    (stages.map(s => s -> (after._1(s) - before._1(s))).toMap,
      after._2 - before._2)
}
