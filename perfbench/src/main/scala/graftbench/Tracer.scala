package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** One recorded span: a timed call into a graft module. `parent` is 0
  * for a top-level span; `run` identifies the benchmark process. */
final case class Span(id: Long, name: String, parent: Long, startNs: Long,
    endNs: Long, run: String)

/** Task-level totals a span's Spark jobs accumulated. */
final class TaskTotals {
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
}

/** Spans around the benchmark's calls into graft, with Spark task
  * metrics attributed per span.
  *
  * Each span sets a Spark job group named after its id; the listener
  * maps every job of that group, and through it every stage and task,
  * back to the span. Nested spans set their own group, so a task is
  * charged to the innermost span that submitted it. Spans are kept in
  * memory and written out once, when the run ends.
  *
  * A disabled tracer runs the body and records nothing, so the same
  * workload code serves the traced and the untraced run. */
final class Tracer(sc: SparkContext, val runId: String) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 0L

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val totals = new ConcurrentHashMap[Long, TaskTotals]()
  @volatile private var drained: CountDownLatch = null
  @volatile private var drainJob = -1

  private val GroupProp = "spark.jobGroup.id"
  private val DrainGroup = s"$runId:drain"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupProp)))
        .foreach { g =>
          if (g == DrainGroup) drainJob = e.jobId
          else if (g.startsWith(runId + ":span-")) {
            val id = g.substring(g.lastIndexOf('-') + 1).toLong
            e.stageIds.foreach(s => stageSpan.put(s, id))
          }
        }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != 0L && m != null) {
        val t = totals.computeIfAbsent(id, _ => new TaskTotals)
        t.synchronized {
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.recordsRead += m.inputMetrics.recordsRead
          t.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val l = drained
      if (l != null && e.jobId == drainJob) l.countDown()
    }
  })

  /** Run `body` as span `name`. Self time, task time and the other
    * per-span figures are derived from the recorded spans later. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(s"$runId:span-$id", name, interruptOnCancel = false)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"$runId:span-$p", name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, start, end, runId)
      }
    }

  /** Run `body` with tracing switched to `on`, then restore it. For
    * calls made outside the timed op on behalf of a traced op. */
  def tracing[T](on: Boolean)(body: => T): T = {
    val was = enabled
    enabled = on
    try body finally enabled = was
  }

  /** Wait until the listener has seen every task event posted so far:
    * events reach a listener in posting order, so once the end of a
    * sentinel job arrives, all earlier task ends have too. */
  def drain(): Unit = {
    drained = new CountDownLatch(1)
    sc.setJobGroup(DrainGroup, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    drained.await(30, TimeUnit.SECONDS)
    drained = null
  }

  private val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Add `v` to the named tally. Workloads note, for traced ops, what
    * only they know, such as the rows a query returned. */
  def note(key: String, v: Double): Unit = notes(key) += v

  def noted(key: String): Double = notes(key)

  def recorded: Seq[Span] = spans.toSeq

  def totalsOf(id: Long): Option[TaskTotals] = Option(totals.get(id))

  /** Self time of each span: its duration minus what its children cover. */
  def selfNs: Map[Long, Long] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L))).toMap
  }

  /** Span dump, one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"run":"${s.run}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}
