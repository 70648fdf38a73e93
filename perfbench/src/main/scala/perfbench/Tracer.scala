package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer, plus the
  * Spark counters a listener attributes to them.
  *
  * A span names the layer call, its start and end, and its parent. Every
  * span also becomes the Spark job group of its thread while it is open,
  * so a job carries the id of the innermost span that launched it. Jobs
  * from threads that do not carry an open span's group (the program's own
  * futures run on pooled threads) are attributed to the innermost span
  * open when they were submitted.
  *
  * When disabled, [[span]] only runs its body: the untimed path pays one
  * branch per layer call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val listener = new Counters
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setJobGroup(groupOf(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spans recorded so far, with the jobs attributed to each one. Waits
    * (bounded) until the listener has seen every started job end, so
    * the task counters of those jobs are complete. */
  def finish(): Seq[SpanView] = {
    if (!enabled) return Nil
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!listener.allEnded && System.nanoTime() < deadline) Thread.sleep(20)
    require(listener.allEnded, "spark listener did not observe every job end within 30 s")
    // a pool thread keeps the job group it inherited when it was created,
    // so a group only counts while its span is open
    val bySpan = listener.snapshot().groupBy { j =>
      j.group.flatMap(parseGroup)
        .filter(id => spans.lift(id).exists(sp =>
          sp.startMs <= j.submitMs && j.submitMs <= sp.endMs))
        .getOrElse(innermostAt(j.submitMs))
    }
    spans.toSeq.map { s =>
      val children = spans.filter(_.parent == s.id).toSeq
      val own = bySpan.getOrElse(s.id, Nil)
      SpanView(s.id, s.name, s.parent, s.startMs, s.durMs,
        selfMs = s.durMs - coveredMs(children.map(c => (c.startNs, c.endNs)), s),
        jobs = own)
    }
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  private def innermostAt(ms: Long): Int =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs && s.endMs > 0)
      .sortBy(s => -s.startNs).headOption.fold(-1)(_.id)

  private def coveredMs(intervals: Seq[(Long, Long)], s: Span): Double =
    unionLength(intervals.map { case (a, b) =>
      (math.max(a, s.startNs), math.min(b, s.endNs)) }) / 1e6
}

object Tracer {
  private val Prefix = "perfbench-span-"
  /** The local property `SparkContext.setJobGroup` sets. */
  private val JobGroupProperty = "spark.jobGroup.id"
  private def groupOf(id: Int) = s"$Prefix$id"
  private def parseGroup(g: String): Option[Int] =
    if (g.startsWith(Prefix)) g.stripPrefix(Prefix).toIntOption else None

  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long, val startMs: Long) {
    @volatile var endNs: Long = 0L
    @volatile var endMs: Long = 0L
    def durMs: Double = (endNs - startNs) / 1e6
  }

  /** One Spark job as the listener saw it. */
  final case class Job(id: Int, group: Option[String], submitMs: Long,
      endMs: Long, stages: Int, tasks: Int, deserializeMs: Long,
      runMs: Long, shuffleWriteBytes: Long, shuffleRecords: Long)

  final case class SpanView(id: Int, name: String, parent: Int,
      startMs: Long, durMs: Double, selfMs: Double, jobs: Seq[Job])

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  private final class Counters extends SparkListener {
    private final class Acc(val id: Int, val group: Option[String],
        val submitMs: Long) {
      var endMs = -1L; var stages = 0; var tasks = 0; var deser = 0L; var run = 0L
      var shBytes = 0L; var shRecords = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
    private val stageJob = mutable.HashMap.empty[Int, Acc]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobGroupProperty)))
      val a = new Acc(e.jobId, g, e.time)
      jobs(e.jobId) = a
      e.stageIds.foreach(stageJob(_) = a)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.deser += m.executorDeserializeTime
        a.run += m.executorRunTime
        a.shBytes += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
      }
    }
    def allEnded: Boolean = synchronized(jobs.values.forall(_.endMs >= 0))
    def snapshot(): Seq[Job] = synchronized {
      jobs.values.toSeq.map(a => Job(a.id, a.group, a.submitMs, a.endMs,
        a.stages, a.tasks, a.deser, a.run, a.shBytes, a.shRecords))
    }
  }
}
