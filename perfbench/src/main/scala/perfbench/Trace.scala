package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished span: a named stretch of the client thread. `parent` is
  * empty for the run's root span. Times are wall-clock milliseconds, the
  * clock Spark stamps its job events with. */
final case class Span(id: String, name: String, parent: String,
                      startMs: Long, endMs: Long, wallMs: Double)

/** What Spark did on behalf of one span. */
final case class SpanCost(wallMs: Double, jobs: Long, taskMs: Long,
                          planMs: Double, driverMs: Double,
                          shuffleBytes: Long, spillBytes: Long,
                          inputRows: Long, outputBytes: Long)

/** Per-span accumulation of Spark's own events. Jobs are attributed by the
  * job group the tracer sets on the client thread (Spark copies it onto
  * every job and stage the call launches); planning phases, which carry
  * no job group, by the span whose time window holds them. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private final class Acc {
    val jobs = mutable.ArrayBuffer.empty[Int]
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputRows = 0L
    var outputBytes = 0L
  }
  private val bySpan = mutable.HashMap.empty[String, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var peakBlockBytes = 0L

  private def acc(span: String) = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      acc(g).jobs += e.jobId
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobStart.contains(e.jobId)) jobEnd(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageSpan.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.taskMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.inputRows += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    blockBytes -= blocks.getOrElse(key, 0L)
    if (info.storageLevel.isValid && info.memSize > 0) {
      blocks(key) = info.memSize
      blockBytes += info.memSize
    } else blocks.remove(key)
    peakBlockBytes = math.max(peakBlockBytes, blockBytes)
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.view
      .filterKeys(Set("analysis", "optimization", "planning")).values.toSeq
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min,
        phases.map(_.durationMs).sum.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = planned(qe)

  def peakStorageBytes: Long = synchronized(peakBlockBytes)

  /** Spark's cost of `span`; `planMs` counts the planning phases that began
    * inside it and inside none of `inner` (its descendants). */
  def cost(span: Span, inner: Seq[Span]): SpanCost = synchronized {
    val a = bySpan.getOrElse(span.id, new Acc)
    val intervals = a.jobs.toSeq.flatMap(j =>
      jobStart.get(j).map(s => (s, jobEnd.getOrElse(j, span.endMs))))
    val busy = Stats.unionLength(intervals, span.startMs, span.endMs)
    val plan = plans.collect {
      case (t, ms) if t >= span.startMs && t <= span.endMs &&
        !inner.exists(c => t >= c.startMs && t <= c.endMs) => ms
    }.sum
    SpanCost(span.wallMs, a.jobs.size.toLong, a.taskMs, plan,
      math.max(0.0, span.wallMs - busy), a.shuffleBytes, a.spillBytes,
      a.inputRows, a.outputBytes)
  }
}

/** Spans on the single client thread. A disabled tracer runs bodies bare;
  * an enabled one gives each span its own job group, so every job, task,
  * shuffle and spill Spark reports lands on the span that caused it. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  val listener = new LayerListener
  private val sc = spark.sparkContext
  private val open = mutable.Stack.empty[(String, String, Long, Long)]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var seq = 0
  private var attached = false

  /** Whether spans are currently recorded (a traced run pauses recording
    * for the ops it times bare, to measure the tracing overhead). */
  def recording: Boolean = enabled && attached

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
    attached = false
  }

  def span[A](name: String)(body: => A): A =
    if (!recording) body
    else {
      seq += 1
      val id = s"$runId-$seq"
      val parent = if (open.isEmpty) "" else open.top._1
      open.push((id, name, System.currentTimeMillis(), System.nanoTime()))
      sc.setJobGroup(id, name)
      try body
      finally {
        val (_, _, startMs, startNs) = open.pop()
        done += Span(id, name, parent, startMs, System.currentTimeMillis(),
          (System.nanoTime() - startNs) / 1e6)
        if (open.isEmpty) sc.clearJobGroup() else sc.setJobGroup(open.top._1, open.top._2)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Every span's cost, after all queued listener events are delivered. */
  def costs(): Seq[(Span, SpanCost)] = {
    if (attached) PerfbenchBus.drain(sc)
    val children = done.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).toSeq.flatMap(c => c +: descendants(c))
    done.toSeq.map(s => s -> listener.cost(s, descendants(s)))
  }
}
