package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into the engine, with
  * Spark's own counts attached to the span that ran each job.
  *
  * A span sets the SparkContext job group to its id, so every job it
  * (and no child span) triggers carries that id; [[Counts]] collects the
  * listener's job and task figures per group. Nothing is written until
  * [[records]] is called at the end of the run. When tracing is off
  * (`on` false) no listener is registered; while `active` is false,
  * [[span]] only runs its body and sets no job group. */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Int, name: String, parent: Int,
      startMs: Long, var endMs: Long, startNs: Long, var endNs: Long,
      attrs: mutable.LinkedHashMap[String, Any])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counts = new Counts
  if (on) spark.sparkContext.addSparkListener(counts)
  var active = false

  /** Run `body` inside a span named `name`; `attrs` of the current span
    * can be set from inside via [[attr]]. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), 0L, System.nanoTime(), 0L,
        mutable.LinkedHashMap.empty)
      spans += s
      stack ::= s
      setGroup(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        setGroup(stack.headOption)
      }
    }

  def attr(key: String, value: Any): Unit =
    if (active) stack.headOption.foreach(_.attrs(key) = value)

  /** Set an attribute on the latest closed span named `name`. */
  def attrOnLast(name: String, key: String, value: Any): Unit =
    if (active) spans.findLast(_.name == name).foreach(_.attrs(key) = value)

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(sp) => spark.sparkContext.setJobGroup(s"span-${sp.id}",
      sp.name, interruptOnCancel = false)
    case None => spark.sparkContext.clearJobGroup()
  }

  /** Span records with their Spark counts, once the listener bus has
    * delivered every event of the jobs run so far. */
  def records(): Seq[Map[String, Any]] = {
    if (!on) return Nil
    counts.drain()
    spans.toSeq.map { s =>
      val c = counts.byGroup.getOrElse(s"span-${s.id}", new GroupCounts)
      Map[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "s" -> (s.endNs - s.startNs) / 1e9,
        "attrs" -> s.attrs.toMap,
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "executor_cpu_s" -> c.cpuNs / 1e9,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "gc_s" -> c.gcMs / 1e3,
        "job_intervals_ms" -> c.intervals.toSeq.map(i => Seq(i._1, i._2)))
    }
  }
}

final class GroupCounts {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener that books jobs and task metrics under the job group of the
  * job that ran them. */
final class Counts extends SparkListener {
  val byGroup = mutable.Map.empty[String, GroupCounts]
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var started = 0
  @volatile private var ended = 0
  @volatile private var lastEvent = System.nanoTime()

  private def group(job: Int): Option[GroupCounts] =
    groupOfJob.get(job).map(g => byGroup.getOrElseUpdate(g, new GroupCounts))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    lastEvent = System.nanoTime()
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      groupOfJob(e.jobId) = id
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
      jobStart(e.jobId) = e.time
      byGroup.getOrElseUpdate(id, new GroupCounts).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    lastEvent = System.nanoTime()
    for (g <- group(e.jobId); s <- jobStart.get(e.jobId))
      g.intervals += ((s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    for (job <- jobOfStage.get(e.stageId); g <- group(job)) {
      g.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        g.cpuNs += m.executorCpuTime
        g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        g.gcMs += m.jvmGCTime
      }
    }
  }

  /** Wait (at most 10 s) until every started job has ended and the bus
    * has been quiet for 300 ms, so late task-end events are counted. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (started != ended || System.nanoTime() - lastEvent < 300000000L))
      Thread.sleep(50)
  }
}
