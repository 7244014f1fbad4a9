package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around a call the benchmark makes into a layer. Times are
  * epoch milliseconds with sub-millisecond digits, the clock Spark's
  * listener events use.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Double, var endMs: Double = Double.NaN)

/** What the Spark listeners saw while one span was the innermost open one. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L; var taskGcMs = 0L; var taskDeserMs = 0L
  var schedDelayMs = 0L; var planMs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; taskGcMs += o.taskGcMs
    taskDeserMs += o.taskDeserMs; schedDelayMs += o.schedDelayMs; planMs += o.planMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    jobIntervals ++= o.jobIntervals
  }
}

/** Spans are always recorded (they are the benchmark's own timers and
  * cost a few objects per run). Spark listeners are attached only by
  * [[attach]], in the traced run, and attribute each job (and its stages
  * and tasks) and each query's planning time to the innermost span open
  * when it started.
  */
final class Tracer(val runId: String) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val counts = mutable.Map.empty[Int, Counts]
  private var attached: Option[(SparkContext, SparkSession, Listener, PlanListener)] = None

  /** Run `body` inside a span. Spans nest; they are opened from one thread. */
  def span[T](name: String)(body: => T): T = {
    val s = spans.synchronized {
      val s = Span(spans.length, name, stack.headOption.getOrElse(-1), runId, nowMs)
      spans += s
      s
    }
    stack = s.id :: stack
    try body
    finally { spans.synchronized(s.endMs = nowMs); stack = stack.tail }
  }

  /** Wall seconds of the most recent span with this name. */
  def seconds(name: String): Double = {
    val s = spans.findLast(_.name == name).get
    (s.endMs - s.startMs) / 1000.0
  }

  def all(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def innermostAt(tMs: Double): Int = spans.synchronized {
    var best = -1
    spans.foreach { s =>
      val end = if (s.endMs.isNaN) Double.MaxValue else s.endMs
      if (s.startMs <= tMs && tMs <= end && (best < 0 || s.startMs >= spans(best).startMs)) best = s.id
    }
    best
  }

  private def countsFor(spanId: Int): Counts = counts.synchronized(counts.getOrElseUpdate(spanId, new Counts))

  def attach(spark: SparkSession): Unit = {
    detach()
    val l = new Listener
    val p = new PlanListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(p)
    attached = Some((spark.sparkContext, spark, l, p))
  }

  def detach(): Unit = {
    attached.foreach { case (sc, spark, l, p) =>
      org.apache.spark.GraftBenchBus.drain(sc)
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(p)
    }
    attached = None
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = attached.foreach { case (sc, _, _, _) => org.apache.spark.GraftBenchBus.drain(sc) }

  private def subtree(id: Int): Seq[Int] = id +: spans.filter(_.parent == id).flatMap(c => subtree(c.id)).toSeq

  /** Listener totals over the latest span named `name` and its descendants. */
  def totals(name: String): Counts = {
    drain()
    val out = new Counts
    spans.findLast(_.name == name).foreach { s =>
      counts.synchronized(subtree(s.id).foreach(i => counts.get(i).foreach(out.add)))
    }
    out
  }

  /** Span wall time minus the union of `intervals` clipped to the span. */
  def uncoveredMs(s: Span, intervals: Seq[(Double, Double)]): Double =
    (s.endMs - s.startMs) - Tracer.unionMs(intervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) })

  /** Self time: span wall minus the part its child spans cover. */
  def selfMs(s: Span): Double =
    uncoveredMs(s, spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq)

  /** All spans as JSON lines, with self time and listener totals. */
  def dump(): Seq[String] = {
    drain()
    spans.toSeq.map { s =>
      val c = counts.synchronized(counts.getOrElse(s.id, new Counts))
      f"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs - anchorMs}%.3f,"end_ms":${s.endMs - anchorMs}%.3f,""" +
        f""""self_ms":${selfMs(s)}%.3f,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""task_run_ms":${c.taskRunMs},"plan_ms":${c.planMs}}"""
    }
  }

  private final class Listener extends SparkListener {
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Double)]()
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = innermostAt(e.time.toDouble)
      jobSpan.put(e.jobId, (id, e.time.toDouble))
      e.stageIds.foreach(st => stageSpan.put(st, id))
      val c = countsFor(id)
      c.synchronized(c.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, start) =>
        val c = countsFor(id)
        c.synchronized(c.jobIntervals += ((start, e.time.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsFor(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsFor(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.taskGcMs += m.jvmGCTime
          c.taskDeserMs += m.executorDeserializeTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val c = countsFor(innermostAt(phases.map(_.startTimeMs).min.toDouble))
        c.synchronized(c.planMs += phases.map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
