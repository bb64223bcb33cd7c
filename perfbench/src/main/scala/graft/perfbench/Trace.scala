package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into each module, plus the records
  * of Spark's public listener callbacks. Everything stays in memory until
  * the run ends. With tracing off, [[span]] is the bare body and only the
  * [[ProgressRecorder]] (one event per streaming epoch) is registered.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get().headOption.getOrElse(-1)
      val id = synchronized { nextId += 1; nextId }
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Per span name: (count, total ms, self ms). Self time is a span's
    * duration minus the union of its children's intervals.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      if (curB > curA) total += curB - curA
      total
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, g) =>
      (n, g.size, g.map(s => s.endNs - s.startNs).sum / 1e6,
        g.map(s => s.endNs - s.startNs - covered(s)).sum / 1e6)
    }
  }

  def toJson: String = {
    val sp = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"run":"$runId"}""")
    val st = selfTimes.map { case (n, c, tot, self) =>
      s""""$n":{"count":$c,"total_ms":$tot,"self_ms":$self}""" }
    s"""{"run":"$runId","spans":${sp.mkString("[", ",", "]")},"self_time":${st.mkString("{", ",", "}")}}"""
  }
}

/** Engine records from a [[SparkListener]] and a [[QueryExecutionListener]]. */
final class EngineRecorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, cpuNs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, submitMs: Long)
  final case class Plan(startMs: Long, planMs: Double)

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val plans = ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(i.stageId, i.numTasks, m.executorCpuTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      i.submissionTime.getOrElse(0L))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += Plan(ph.map(_.startTimeMs).min, ph.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs (and their stages) and plans whose start falls in [fromMs, toMs). */
  def window(fromMs: Long, toMs: Long): (Seq[Job], Seq[Stage], Seq[Plan]) = synchronized {
    val js = jobs.filter(j => j.startMs >= fromMs && j.startMs < toMs).toList
    val ids = js.flatMap(_.stages).toSet
    (js, stages.filter(s => ids(s.id)).toList,
      plans.filter(p => p.startMs >= fromMs && p.startMs < toMs).toList)
  }
}

/** Streaming progress and termination records. */
final class ProgressRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Progress(name: String, batchId: Long, rows: Long,
      startMs: Long, endMs: Long, durations: Map[String, Long])
  final case class Terminated(name: String, atMs: Long, failed: Boolean)

  val progress = ArrayBuffer.empty[Progress]
  val terminated = ArrayBuffer.empty[Terminated]
  private val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    names.put(e.id, Option(e.name).getOrElse(e.id.toString))
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized {
      progress += Progress(Option(p.name).getOrElse(p.id.toString), p.batchId,
        p.numInputRows, start, start + d.getOrElse("triggerExecution", 0L), d)
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    terminated += Terminated(Option(names.get(e.id)).getOrElse(e.id.toString),
      System.currentTimeMillis(), e.exception.isDefined)
  }
  def all: (Seq[Progress], Seq[Terminated]) = synchronized((progress.toList, terminated.toList))
}
