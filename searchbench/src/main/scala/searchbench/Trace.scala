package searchbench

import org.apache.spark.scheduler._
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Epoch-nanosecond clock shared by benchmark spans, Spark listener
  * events (epoch ms) and index marker-file mtimes. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
  def ms(epochMs: Long): Long = epochMs * 1000000L
}

/** One timed interval at a layer boundary. `req` groups the spans of one
  * request (0 = none); `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store, written out once at the end of a run. All spans
  * are recorded from the benchmark's own calls into the program's public
  * functions and from a [[JobLog]] listener; nothing inside the program
  * is instrumented. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  /** Time `f` as a span; `f` receives the span's id (to parent children). */
  def span[T](name: String, parent: Long, req: Long = 0L)(f: Long => T): T = {
    val id = newId()
    val t0 = Clock.now()
    try f(id) finally add(Span(id, parent, name, req, t0, Clock.now()))
  }
}

object Tracer {

  /** Self time per span: its duration minus the union of its children's
    * intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- iv) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Layers reported by self time. */
  val Layers: Seq[String] =
    Seq("workload", "build", "engine.open", "query", "index.stage", "spark.job", "spark.stage")

  /** Layer of a span name: `index.stage.tf` → `index.stage`; a delta
    * build is a build. */
  def layer(name: String): String =
    if (name.startsWith("index.stage.")) "index.stage"
    else if (name == "delta.build") "build"
    else name
}

/** Spark job/stage/task log keyed by the job-group property the calling
  * benchmark thread sets (`SparkContext.setJobGroup`), so jobs are
  * attributed to the query, build or engine open that launched them. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
                  val stageIds: Seq[Int]) { @volatile var end: Long = start }
  final class Stage(val id: Int) {
    @volatile var start: Long = 0L
    @volatile var end: Long = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]
  val stages = new ConcurrentHashMap[Int, Stage]
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, new Job(e.jobId, g, Clock.ms(e.time), e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.ms(e.time))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).start = Clock.ms(t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => s.start = Clock.ms(t))
    e.stageInfo.completionTime.foreach(t => s.end = Clock.ms(t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def jobsOf(group: String): Seq[Job] =
    jobs.values.asScala.filter(_.group == group).toSeq.sortBy(_.id)

  /** Summed task metrics over the stages of `js`. */
  def totals(js: Seq[Job]): Totals = {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))
    Totals(js.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.gcMs).sum / 1e3, ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
      js.map(j => j.end - j.start).sum / 1e9)
  }

  /** `spark.job` spans (children of `parent`) and their `spark.stage`
    * spans for `js`. */
  def spans(t: Tracer, js: Seq[Job], parent: Long, req: Long): Unit =
    js.foreach { j =>
      val jid = t.newId()
      t.add(Span(jid, parent, "spark.job", req, j.start, j.end))
      j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.end > 0).foreach { s =>
        t.add(Span(t.newId(), jid, "spark.stage", req, s.start, s.end))
      }
    }
}

final case class Totals(jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
                        shuffleWrite: Long, spill: Long, jobS: Double)
