package graftbench

import graft.analyzers.StateStore
import graft.repository.{MetricRecord, MetricsQuery, MetricsRepository, ResultKey}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. `parent` is -1 for an op's root span; times are nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** In-memory span recorder. Spans nest on the calling thread; every op is a root span
  * and the calls the benchmark makes into a layer are its children. Counters are kept
  * per op next to the spans. A disabled tracer runs the body and records nothing.
  *
  * While a span is open in a traced op, the thread's Spark job group names the op and
  * the span (`gb:<op>:<span>`), so the listener can hand every job, stage and task to
  * the op and layer that caused it. Threads started inside the span (the suite's job
  * pool) inherit the group.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  private var stack = List.empty[(Int, String, Long)] // (span id, name, start)
  private var op = -1
  private var sc: Option[SparkContext] = None

  def bind(context: SparkContext): Unit = sc = Some(context)

  private def setGroup(group: String): Unit =
    sc.foreach(_.setLocalProperty(Tracer.JobGroup, group))

  /** Run `body` as op `opId`'s root span. */
  def rootSpan[T](opId: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      require(stack.isEmpty, "ops do not nest")
      op = opId
      try span(name)(body)
      finally { op = -1; setGroup(null) }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val token = nextId()
      val t0 = System.nanoTime()
      stack = (token, name, t0) :: stack
      setGroup(s"gb:$op:$token")
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(token, parent, op, name, t0, t1)
        setGroup(stack.headOption.map(s => s"gb:$op:${s._1}").orNull)
      }
    }

  /** Record a span whose interval was measured elsewhere, under the open span. */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled && op >= 0) {
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      spans += Span(nextId(), parent, op, name, start, end)
    }

  def count(name: String, n: Double = 1.0): Unit =
    if (enabled && op >= 0) counts((op, name)) += n

  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  /** Self time of every span of `opId`, by span name, summed. */
  def selfTimes(opId: Int): Map[String, Long] = {
    val mine = spans.filter(_.op == opId)
    val kids = mine.groupBy(_.parent)
    mine.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)).sum
    }
  }

  /** Wall time of every span of `opId`, by span name, summed. */
  def durations(opId: Int): Map[String, Long] =
    spans.filter(_.op == opId).groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.end - s.start).sum }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(s => (s.op, s.start)).foreach { s =>
      w.println(s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

object Tracer {
  val JobGroup = "spark.jobGroup.id"
}

/** Task, stage and job totals of one op, from Spark's public listener events. */
final class SparkTotals {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects per-op Spark totals from job groups `gb:<op>:<span>`; records read are
  * also kept per span, for the layers whose work is a Spark read. Also sums the
  * planning phases of every query execution (QueryExecution.tracker).
  */
final class BenchListener extends SparkListener with QueryExecutionListener {
  private val byOp = mutable.Map.empty[Int, SparkTotals]
  val recordsBySpan = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val stageOwner = mutable.Map.empty[Int, (Int, Int)] // stage -> (op, span)
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  var planningMs = 0L

  private def parse(group: String): Option[(Int, Int)] =
    Option(group).filter(_.startsWith("gb:")).map { g =>
      val Array(_, op, span) = g.split(":")
      (op.toInt, span.toInt)
    }

  def totals(op: Int): SparkTotals = synchronized(byOp.getOrElseUpdate(op, new SparkTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    parse(Option(e.properties).map(_.getProperty(Tracer.JobGroup)).orNull)
      .foreach { case (op, span) =>
        totals(op).jobs += 1
        jobStart(e.jobId) = (op, e.time)
        e.stageIds.foreach(s => stageOwner(s) = (op, span))
      }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) => totals(op).jobIntervalsMs += ((t0, e.time)) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (op, _) =>
      totals(op).stages += 1
      stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (op, span) =>
      val t = totals(op)
      t.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) t.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach(s => t.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        recordsBySpan(span) += m.inputMetrics.recordsRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
}

/** StateStore that times and counts every call into the wrapped store as an
  * `analyzers.state_*` span and returns its results unchanged.
  */
final class TimedStateStore(inner: StateStore, tracer: Tracer) extends StateStore {
  private def timed[T](what: String)(body: => T): T = {
    tracer.count(s"analyzers.state_${what}s")
    tracer.span(s"analyzers.state_$what")(body)
  }
  def save(a: String, p: String, fields: Map[String, String]): Unit = timed("save")(inner.save(a, p, fields))
  def load(a: String, p: String): Option[Map[String, String]] = timed("load")(inner.load(a, p))
  def listPartitions(a: String): Seq[String] = timed("list")(inner.listPartitions(a))
  def delete(a: String, p: String): Unit = timed("delete")(inner.delete(a, p))
}

/** MetricsRepository that times `save` and the history reads of the wrapped
  * repository as `repository.*` spans. Every read delegates to the wrapped
  * repository's own implementation, so its results are unchanged.
  */
final class TimedMetricsRepository(inner: MetricsRepository, tracer: Tracer)
    extends MetricsRepository {
  def save(key: ResultKey, metrics: Map[String, Double]): Unit =
    tracer.span("repository.save")(inner.save(key, metrics))
  def loadAll(): Seq[MetricRecord] = tracer.span("repository.history")(inner.loadAll())
  override def query(q: MetricsQuery): Seq[MetricRecord] =
    tracer.span("repository.history")(inner.query(q))
  override def history(metricKey: String, q: MetricsQuery): Seq[(Long, Double)] = {
    val points = tracer.span("repository.history")(inner.history(metricKey, q))
    tracer.count("repository.points_used", points.size.toDouble)
    points
  }
  override def pointsFor(metricKey: String, newestN: Option[Int]): Seq[(Long, Double)] =
    tracer.span("repository.history")(inner.pointsFor(metricKey, newestN))
  override def pointAt(metricKey: String, timestamp: Long): Option[Double] =
    tracer.span("repository.history")(inner.pointAt(metricKey, timestamp))
  override def toDataFrame(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    inner.toDataFrame(spark)
}
