package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One benchmark span: a call the benchmark made into a layer. Times are
  * epoch nanoseconds, so spans and Spark job events share one clock. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
                      end: Long)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(var enabled: Boolean) {
  private val offset =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var stack: List[Int] = Nil
  private var nextId = 1
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def now(): Long = System.nanoTime() + offset

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, now())
      }
    }
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val start: Long, val callSite: String) {
  var end: Long = start
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runNs = 0L
  var cpuNs = 0L
  var gcNs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var inputBytes = 0L
}

/** Records every Spark job with the long-form call site of the code that
  * started it. A job run on an adaptive-execution thread carries no user
  * frames of its own, so the call site of its SQL execution is used. */
final class JobListener extends SparkListener {
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val byId = new ConcurrentHashMap[Int, JobRec]()
  private val finished = new ConcurrentLinkedQueue[JobRec]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execSites.put(e.executionId, e.details)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val execSite = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong)))
    val stageSite =
      if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).details
    val site =
      if (Layers.userFrames(stageSite).nonEmpty) stageSite
      else execSite.getOrElse(stageSite)
    val rec = new JobRec(j.jobId, j.time * 1000000L, site)
    j.stageIds.foreach(stageJob.put(_, rec))
    byId.put(j.jobId, rec)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(s.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).foreach { r =>
      r.tasks += 1
      if (t.reason != org.apache.spark.Success) r.taskFailures += 1
      val m = t.taskMetrics
      if (m != null) {
        r.runNs += m.executorRunTime * 1000000L
        r.cpuNs += m.executorCpuTime
        r.gcNs += m.jvmGCTime * 1000000L
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.outputBytes += m.outputMetrics.bytesWritten
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(byId.remove(j.jobId)).foreach { r =>
      r.end = j.time * 1000000L
      finished.add(r)
    }

  /** Finished jobs since the last call; drain the listener bus first. */
  def take(): Seq[JobRec] = {
    val out = ArrayBuffer.empty[JobRec]
    var r = finished.poll()
    while (r != null) { out += r; r = finished.poll() }
    stageJob.values().removeIf(rec => out.exists(_ eq rec))
    out.toSeq.sortBy(_.start)
  }

}

/** Files a job under the layer whose code started it, from the class and
  * method names of the call site's program frames (never line numbers). */
object Layers {

  final case class Frame(cls: String, method: String, anon: Boolean)

  private val Checkpointed = "graft.io.CheckpointedRun"
  private val Table = "graft.io.IcebergStyleTable"

  /** Frames of a long-form call site outside Spark, Scala and the JDK,
    * innermost first. */
  def userFrames(site: String): Seq[Frame] =
    site.linesIterator.map(_.trim).flatMap { line =>
      val sig = line.takeWhile(_ != '(')
      val dot = sig.lastIndexOf('.')
      if (dot <= 0 || !(sig.startsWith("graft.") ||
          sig.startsWith("perfbench."))) None
      else {
        val cls = sig.substring(0, dot).takeWhile(_ != '$')
        val raw = sig.substring(dot + 1)
        val anon = raw.startsWith("$anonfun$")
        val method = raw.stripPrefix("$anonfun$").takeWhile(_ != '$')
        Some(Frame(cls, method, anon))
      }
    }.toSeq

  /** The I/O layer a job belongs to, or None when the job was started by
    * code outside `graft.io` (it then belongs to the benchmark span that
    * was open when it started). */
  def classify(site: String): Option[String] = {
    val fs = userFrames(site)
    def has(cls: String, method: String) =
      fs.exists(f => f.cls == cls && f.method == method)
    if (has(Table, "compact")) Some("io.compact")
    else if (has(Table, "append") || has(Checkpointed, "output"))
      Some("io.commit")
    else if (has(Checkpointed, "run")) {
      val inLoop = fs.exists(f => f.cls == Checkpointed && f.anon &&
        f.method == "run")
      val writes = site.linesIterator.nextOption()
        .exists(_.contains("DataFrameWriter"))
      if (!inLoop) Some("io.staging")
      else if (writes) Some("io.partition.transform_write")
      else Some("io.partition.metrics_readback")
    } else if (has(Table, "read")) Some("io.read")
    else None
  }
}
