package graft.expr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.util.AccumulatorV2

import graft.core.{StageSink, StageTimers}

/** Fused-kernel stage nanos and doc count of ONE job, as a Spark
  * accumulator: each task fills its own deserialized copy, and the driver
  * merges the copies of successful tasks when they complete — the same
  * mechanism as Spark's own `SQLMetric`s. Unlike the JVM-wide
  * [[StageTimers]] totals, the value is right on a multi-executor cluster
  * and is not mixed with jobs running concurrently in the same JVM.
  *
  * Value: (nanos per stage name, docs), the shape of
  * [[StageTimers.snapshot]]. Attach it to a query with
  * [[StageAccumulator.scope]].
  */
final class StageAccumulator
    extends AccumulatorV2[(Map[String, Long], Long), (Map[String, Long], Long)]
    with StageSink {

  import StageAccumulator.DocSlot

  // stage nanos in StageTimers.stages order, then the doc count
  private val totals = new Array[Long](DocSlot + 1)

  override def record(tokenize: Long, piiScrub: Long, langid: Long,
                      perplexity: Long, heuristics: Long): Unit = {
    totals(0) += tokenize
    totals(1) += piiScrub
    totals(2) += langid
    totals(3) += perplexity
    totals(4) += heuristics
    totals(DocSlot) += 1
  }

  override def isZero: Boolean = totals.forall(_ == 0L)
  override def copy(): StageAccumulator = {
    val c = new StageAccumulator
    c.merge(this)
    c
  }
  override def reset(): Unit = java.util.Arrays.fill(totals, 0L)
  override def add(v: (Map[String, Long], Long)): Unit = {
    StageTimers.stages.indices.foreach { i =>
      totals(i) += v._1.getOrElse(StageTimers.stages(i), 0L)
    }
    totals(DocSlot) += v._2
  }
  override def merge(
      other: AccumulatorV2[(Map[String, Long], Long), (Map[String, Long], Long)])
      : Unit = other match {
    case o: StageAccumulator =>
      totals.indices.foreach(i => totals(i) += o.totals(i))
    case _ => throw new UnsupportedOperationException(
      s"Cannot merge ${getClass.getName} with ${other.getClass.getName}")
  }
  override def value: (Map[String, Long], Long) =
    (StageTimers.stages.indices.map(i => StageTimers.stages(i) -> totals(i))
      .toMap, totals(DocSlot))
}

object StageAccumulator {

  private final val DocSlot = 5 // == StageTimers.stages.size

  /** `df` with every fused [[PageProcess]] kernel in its plan reporting
    * into `acc` (registered with the SparkContext by the caller). */
  def scope(df: DataFrame, acc: StageAccumulator): DataFrame =
    Shim.mapPlan(df)(_.transformAllExpressions {
      case p: PageProcess => p.copy(timers = Some(acc))
    })
}
