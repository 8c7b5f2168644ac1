package searchbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** One request as the load generator saw it (epoch ns). `due` is the
  * scheduled send time (open loop) or the send time (closed loop). */
final case class Sample(i: Int, due: Long, start: Long, end: Long, ok: Boolean) {
  def latencyMs: Double = (end - due) / 1e6
  def serviceMs: Double = (end - start) / 1e6
  def lateMs: Double = (start - due) / 1e6
}

object Load {

  /** Open loop: a seeded Poisson schedule at `rate`/s for `seconds`, sent
    * by `threads` dispatcher threads. Each request is timed from its due
    * time, so a stall also charges the wait it imposes on later requests.
    * `call(i)` serves request `i` (numbered from `first`) and returns
    * whether its answer was accepted. */
  def open(first: Int, seed: Long, rate: Double, seconds: Double, threads: Int)
          (call: Int => Boolean): Seq[Sample] = {
    val rnd = new SplittableRandom(seed)
    val gaps = ArrayBuffer.empty[Long]
    var t = 0.0
    while ({ t += -math.log(1.0 - rnd.nextDouble()) / rate; t < seconds })
      gaps += (t * 1e9).toLong
    val t0 = Clock.now()
    val due = gaps.map(_ + t0).toArray
    val next = new AtomicInteger(0)
    run(threads) { out =>
      var i = next.getAndIncrement()
      while (i < due.length) {
        val wait = due(i) - Clock.now()
        if (wait > 0) LockSupport.parkNanos(wait)
        val s = Clock.now()
        val ok = safe(call(first + i))
        out += Sample(first + i, due(i), s, Clock.now(), ok)
        i = next.getAndIncrement()
      }
    }
  }

  /** Closed loop: `clients` threads each send their next request as soon
    * as the previous one completes, for `seconds`; request indices
    * continue from `first`. */
  def closed(first: Int, clients: Int, seconds: Double)
            (call: Int => Boolean): Seq[Sample] = {
    val stop = Clock.now() + (seconds * 1e9).toLong
    val next = new AtomicInteger(first)
    run(clients) { out =>
      while (Clock.now() < stop) {
        val i = next.getAndIncrement()
        val s = Clock.now()
        val ok = safe(call(i))
        out += Sample(i, s, s, Clock.now(), ok)
      }
    }
  }

  private def safe(f: => Boolean): Boolean =
    try f catch { case scala.util.control.NonFatal(_) => false }

  private def run(n: Int)(body: ArrayBuffer[Sample] => Unit): Seq[Sample] = {
    val outs = Array.fill(n)(ArrayBuffer.empty[Sample])
    val ts = outs.map(o => new Thread(() => body(o)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    outs.flatten.sortBy(_.i).toSeq
  }

  /** Nearest-rank percentile (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Percentile `q` of open-loop latency, as the median over `Chunks`
    * consecutive equal runs of requests: a transient stall (a GC pause, a
    * noisy neighbour) moves one chunk, not the reported value. */
  def latencyPct(xs: Seq[Sample], q: Double): Double = {
    val byDue = xs.sortBy(_.due).map(s => if (s.ok) s.latencyMs else Main.DeadlineMs)
    median(byDue.grouped(math.max(1, byDue.size / Chunks)).take(Chunks).map(pct(_, q)).toSeq)
  }

  /** Closed-loop throughput: the median over the whole seconds of the
    * window of the answers accepted in each. */
  def qps(xs: Seq[Sample], seconds: Double): Double = {
    val t0 = xs.map(_.start).min
    val perSecond = xs.filter(_.ok).groupBy(s => (s.end - t0) / 1000000000L).view.mapValues(_.size).toMap
    median((0L until seconds.toLong).map(b => perSecond.getOrElse(b, 0).toDouble))
  }

  val Chunks = 4
}

/** Contention gauges over one phase: CPU used by other processes on the
  * host, steal, this JVM's GC time and the cores this process used; and,
  * read at the phase's end, the host's single-thread speed
  * ([[Gauges.cpuProbeMs]]), which catches slowdowns neither busy time
  * nor steal shows (a neighbour on a shared cache or memory bus). */
final class Gauges {
  private def stat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
  private def own(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val f = src.mkString
      val r = f.substring(f.lastIndexOf(')') + 2).split(" ")
      r(11).toLong + r(12).toLong // utime + stime (fields 14, 15)
    } finally src.close()
  }
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  private val hz = 100.0 // USER_HZ
  private val s0 = stat()
  private val o0 = own()
  private val g0 = gcMs()
  private val w0 = System.nanoTime()

  /** (ext_busy_frac, steal_frac, gc_s, own_cores) since construction,
    * and cpu_probe_ms now. */
  def read(): Map[String, Double] = {
    val s1 = stat()
    val d = s1.zip(s0).map { case (a, b) => a - b }
    val total = d.take(8).sum.toDouble.max(1)
    val idle = (d(3) + d(4)).toDouble
    val ownTicks = (own() - o0).toDouble
    val wall = (System.nanoTime() - w0) / 1e9
    Map(
      "host.ext_busy_frac" -> math.max(0.0, (total - idle - d(7) - ownTicks) / total),
      "host.steal_frac" -> d(7) / total,
      "jvm.gc_s" -> (gcMs() - g0) / 1e3,
      "proc.own_cores" -> ownTicks / hz / wall,
      "host.cpu_probe_ms" -> Gauges.cpuProbeMs())
  }
}

object Gauges {
  /** Fixed single-thread work: the median ms of 5 sorts of the same
    * 200k seeded longs. */
  def cpuProbeMs(): Double = Load.median((1 to 5).map { _ =>
    val r = new SplittableRandom(7)
    val a = Array.fill(200000)(r.nextLong())
    val t = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t) / 1e6
  })
}
