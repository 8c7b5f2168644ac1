package searchbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.{Index, QueryEngine}
import graft.streaming.IncrementalIndex
import org.apache.spark.graftshim.ListenerShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A workload and the reason it exists. Both workloads build their index
  * in set-up, open an engine, serve a closed-loop query phase for a third
  * of the window and an open-loop one at [[Main.OpenRate]] for the rest
  * (on ingest_mixed, after the deltas), and check their answers. */
final case class Workload(name: String, why: String, docs: Int, ingest: Boolean)

object Workloads {
  val all: Seq[Workload] = Seq(
    Workload("query_hot",
      "torso terms whose postings fit the engine's resident segment cache: after warm-up no Spark job runs, so analysis, dictionary, WAND kernel and result plumbing set latency",
      docs = 5000, ingest = false),
    Workload("ingest_mixed",
      "two deltas appended, each followed by an engine reopen and re-warm, then reads over base + deltas: per-build fixed cost, engine open and re-warming set visible_s",
      docs = 5000, ingest = true))
}

object Main {
  val K = 10
  val DeltaDocs = 600
  val Deltas = 2
  val JitWarmS = 5.0
  val DeadlineMs = 10000.0
  /** Open-loop rate (q/s), about half of both workloads' measured
    * `query_qps_sat`. */
  val OpenRate = 100.0
  val Stages = Seq("tf", "docstats", "dictionary", "postings")

  /** Prints the report line, then the result line; exits 0, or 1 on any
    * failure without printing a result. */
  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
        val w = Workloads.all.find(_.name == a.getOrElse("workload", ""))
          .getOrElse(sys.error(s"--workload must be one of ${Workloads.all.map(_.name).mkString(", ")}"))
        val run = new Run(w, a("seed").toLong, a("seconds").toDouble, a.get("trace").contains("1"),
          Paths.get(a("work")), Paths.get(a("traces")))
        val (report, last) = run.execute()
        val json = new ObjectMapper()
        println(json.writeValueAsString(report))
        println(json.writeValueAsString(last))
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.exit(code)
  }
}

final class Run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
                work: Path, traceDir: Path) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val tracer = new Tracer
  private val root = tracer.newId()
  private val runStart = Clock.now()
  private val report = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val problems = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  // ------------------------------------------------- data (not set-up)
  private val vocab = Gen.vocabulary(seed, 200000)
  private val base = Gen.corpus(seed, 0, 0L, w.docs, vocab, 120)
  private def marker(i: Int) = s"zzdelta${i}s${java.lang.Long.toHexString(seed)}"
  private val deltas: Seq[Corpus] =
    if (!w.ingest) Nil
    else (0 until Deltas).map { i =>
      val c = Gen.corpus(seed, i + 1, w.docs + i.toLong * DeltaDocs, DeltaDocs, vocab, 120)
      new Corpus(c.texts.map(_ + marker(i) + "\n"), c.lens.map(_ + 1), c.langs, c.sources, c.firstDoc, c.df)
    }
  private def lenOf(d: Long): Long =
    if (d < w.docs) base.lens(d.toInt)
    else { val i = ((d - w.docs) / DeltaDocs).toInt; deltas(i).lens((d - deltas(i).firstDoc).toInt) }
  private def limit(version: Int): Long = w.docs + version.toLong * DeltaDocs

  /** The engine's local-path cap (`localWandUpTo`), scaled to the corpus as at the
    * engine's 4M-document reference corpus (500k of 4M docs): every
    * stop word then exceeds the pooled cap, torso terms stay local. */
  private val localUpTo = w.docs / 8L
  private val cacheBudget = 16L * localUpTo // 4 × (cap × 4 local threads)
  // half the cache: the pool still fits once the deltas add their postings
  private val pool = Gen.hotPool(base, vocab, 24, cacheBudget / 2)
  private val stream: Array[Query] =
    Gen.hotStream(seed, 1, vocab, pool, 40000)
  /** Warm-up: the hot pool four terms at a time (one segment collect
    * each) makes the pool resident; then a closed loop of the stream's own
    * shape for `JitWarmS` lets the JIT (C1 only, see run.py) settle before
    * the window. */
  private val poolWarm: Seq[Query] =
    pool.grouped(4).map(rs => Query(rs.map(vocab.surf(_)).mkString(" "), or = true)).toSeq
  private val jitWarm: Array[Query] = Gen.hotStream(seed, 2, vocab, pool, 40000)

  private val baseDir = work.resolve("index").toString
  private val deltaRoot = work.resolve("deltas").toString
  private def corpusDir(i: Int) = work.resolve(s"corpus/$i").toString // 0 = base

  // ------------------------------------------------------ Spark + trace
  private val setupGauges = new Gauges
  private val t0Session = Clock.now()
  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"searchbench-${w.name}")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.sql.files.openCostInBytes", "1m")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  private val sessionS = (Clock.now() - t0Session) / 1e9
  private val sc = spark.sparkContext
  private val jobLog = if (traced) { val l = new JobLog; sc.addSparkListener(l); Some(l) } else None
  private val params = Index.BuildParams(partitions = cores)

  private def grouped[T](group: String, on: Boolean = traced)(f: => T): T =
    if (!on) f
    else {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

  /** The closed loop's share of the window: whole seconds, about a third;
    * the open loop's percentiles need the larger sample. */
  private val closedS = math.max(1L, math.round(seconds / 3)).toDouble

  private def secs(f: => Unit): Double = { val t = Clock.now(); f; (Clock.now() - t) / 1e9 }

  // ------------------------------------------------------ engine holder
  private final class Served(val engine: QueryEngine, val version: Int)
  /** Replaced only outside the read phases, so no query is in flight on
    * the engine that closes. */
  @volatile private var current: Served = _

  private def swap(next: Served): Unit = {
    val old = current
    current = next
    if (old != null) old.engine.close()
  }

  /** The constituents `IncrementalIndex.engine(spark, deltaRoot,
    * Some(baseDir))` opens (base + every complete delta), with the scaled
    * local-path cap. */
  private def openEngine(): QueryEngine =
    new QueryEngine(spark, baseDir +: IncrementalIndex.deltaDirs(deltaRoot), localWandUpTo = localUpTo)

  private def ask(e: QueryEngine, version: Int, q: Query): Answer = {
    val rows = (if (q.or) e.topKOr(q.text, K, rounded = true)
                else e.topK(q.text, K, rounded = true)).collect()
    Answer(q, version, rows.map(_.getAs[Long]("docID")), rows.map(_.getAs[Double]("score")))
  }

  private def serve(q: Query): Answer = {
    val s = current
    ask(s.engine, s.version, q)
  }

  // --------------------------------------------------- build + checks
  private def writeDocs(c: Corpus, dir: String): Unit = {
    import spark.implicits._
    c.texts.indices.map(i => (c.firstDoc + i, c.texts(i), c.langs(i), c.sources(i), c.texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
  }

  /** Build check: docstats rows = corpus docs, tf lineage tokens =
    * generated tokens. */
  private def checkBuild(dir: String, c: Corpus): Unit = {
    val n = Index.readDocStats(spark, dir).count()
    val tokens = Index.readLineage(spark, dir).filter(col("stage") === "tf")
      .agg(sum(col("tokenCount"))).head().getLong(0)
    if (n != c.size || tokens != c.tokens) {
      failed += 1
      problems += s"build $dir: docstats $n vs ${c.size} docs, tf tokens $tokens vs ${c.tokens}"
    }
  }

  /** Traced build metrics from the job log: per-stage bounds are the
    * `_done_<stage>` marker mtimes; jobs are attributed by start time. */
  private def buildLayers(group: String, dir: String, start: Long, span: Long,
                          docs: Long): Map[String, Double] = {
    val log = jobLog.get
    ListenerShim.drain(sc)
    val js = log.jobsOf(group)
    val out = mutable.LinkedHashMap.empty[String, Double]
    var lo = start
    for (s <- Stages) {
      val hi = Files.getLastModifiedTime(Paths.get(dir, s"_done_$s")).to(TimeUnit.NANOSECONDS)
      val sj = js.filter(j => j.start >= lo && j.start < hi)
      val t = log.totals(sj)
      out ++= Seq(s"index.$s.wall_s" -> (hi - lo) / 1e9, s"index.$s.cpu_s" -> t.cpuS,
        s"index.$s.gc_s" -> t.gcS, s"index.$s.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
        s"index.$s.spill_bytes" -> t.spill.toDouble, s"index.$s.tasks" -> t.tasks.toDouble)
      val sid = tracer.newId()
      tracer.add(Span(sid, span, s"index.stage.$s", 0L, lo, hi))
      log.spans(tracer, sj, sid, 0L)
      lo = hi
    }
    val t = log.totals(js)
    val m = Index.lastBuildMetrics.get
    out ++= Seq("index.jobs" -> js.size.toDouble, "index.tasks" -> t.tasks.toDouble,
      "index.cpu_s_per_mdoc" -> t.cpuS / docs * 1e6, "index.postings" -> m.postings.toDouble,
      "index.segments" -> m.segments.toDouble, "index.encoded_bytes" -> m.encodedBytes.toDouble)
    out.toMap
  }

  private def indexBytes(dir: String): Long =
    Seq("postings", "dictionary", "docstats").map { sub =>
      val s = Files.walk(Paths.get(dir, sub))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }.sum

  // ----------------------------------------------------------- phases
  def execute(): (java.util.Map[String, Any], java.util.Map[String, Any]) =
    try run() finally {
      if (current != null) current.engine.close()
      spark.stop()
    }

  private def run() = {
    val writeS = secs {
      writeDocs(base, corpusDir(0))
      deltas.zipWithIndex.foreach { case (c, i) => writeDocs(c, corpusDir(i + 1)) }
    }

    // set-up: build, open (median of 3), warm-up
    var buildSpan = 0L
    val tBuild = Clock.now()
    val buildS = grouped("b") {
      tracer.span("build", root) { id => buildSpan = id; secs(Index.build(spark, corpusDir(0), baseDir, params)) }
    }
    attempted += 1
    val baseLayers = jobLog.map(_ => buildLayers("b", baseDir, tBuild, buildSpan, w.docs))
    val openS = (0 until 3).map { i =>
      var e: QueryEngine = null
      val s = grouped(s"o$i")(tracer.span("engine.open", root) { _ => secs { e = openEngine() } })
      if (i < 2) e.close() else swap(new Served(e, 0))
      s
    }
    var firstQueryS = 0.0
    var warmQueries = poolWarm.size
    val warmS = grouped("warm") {
      secs {
        firstQueryS = secs(serve(poolWarm.head))
        poolWarm.tail.foreach(serve)
        warmQueries += Load.closed(0, 4, JitWarmS) { i => serve(jitWarm(i)); true }.size
      }
    }
    val heapMb = residentHeapMb()
    val setupS = sessionS + buildS + Load.median(openS) + warmS
    val setupGauge = setupGauges.read()

    // timed window: on ingest the deltas first; then closed loop, then
    // open loop
    val answers = new Array[Answer](stream.length)
    val spans = new Array[(Long, Long, Long)](stream.length)
    def measured(i: Int): Boolean = {
      val tr = traced && i % 2 == 0
      val sid = if (tr) tracer.newId() else 0L
      val t0 = Clock.now()
      answers(i) = grouped(s"q$i", tr)(serve(stream(i)))
      val t1 = Clock.now()
      spans(i) = (sid, t0, t1)
      (t1 - t0) / 1e6 <= DeadlineMs
    }
    val measureGauges = new Gauges
    val ingest = new Ingest
    if (w.ingest) (0 until Deltas).foreach(ingest.append)
    val closed = Load.closed(0, 4, closedS)(measured)
    val open = Load.open(closed.map(_.i).max + 1, seed ^ 0x10adL, OpenRate, seconds - closedS, 4)(measured)
    val measureGauge = measureGauges.read()
    val served = closed ++ open
    attempted += served.size + ingest.results.size
    failed += served.count(!_.ok)

    // answers check (outside the timed window)
    val tCheck = Clock.now()
    val checked = check(served.map(s => answers(s.i)).filter(_ != null) ++ ingest.results.flatMap(_.marker))

    // end-to-end metrics
    val lat = open.map(s => if (s.ok) s.latencyMs else DeadlineMs)
    val indexBytesTotal = (baseDir +: ingest.results.map(_.dir)).map(indexBytes).sum
    val inputBytes = base.contentBytes + ingest.results.map(r => deltas(r.i).contentBytes).sum
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "index_docs_per_s" -> (if (w.ingest) ingest.docsPerS else w.docs / buildS),
      "index_bytes_per_input_byte" -> indexBytesTotal.toDouble / inputBytes,
      "resident_heap_mb" -> heapMb,
      "query_p50_ms" -> Load.latencyPct(open, 0.5),
      "query_qps_sat" -> Load.qps(closed, closedS),
      "visible_s" -> (if (w.ingest) ingest.visibleS else buildS + openS.last + firstQueryS))

    report ++= Seq("build_docs_per_s" -> w.docs / buildS, "build_s" -> buildS,
      "session_s" -> sessionS, "engine_open_s" -> Load.median(openS), "warmup_s" -> warmS,
      "open_loop_queries" -> open.size.toDouble, "closed_loop_queries" -> closed.size.toDouble,
      "open_loop_rate" -> OpenRate, "query_p90_ms" -> Load.latencyPct(open, 0.9),
      "query_p99_ms" -> Load.pct(lat, 0.99),
      "checked_answers" -> checked.toDouble, "write_docs_s" -> writeS,
      "check_s" -> (Clock.now() - tCheck) / 1e9)
    report("max_df") = base.df.max.toDouble // > saltThreshold (1000): salted lists
    if (w.ingest) report ++= Seq("ingest_docs_per_s" -> ingest.docsPerS,
      "deltas" -> ingest.results.size.toDouble) // one engine reopen each
    setupGauge.foreach { case (k, v) => report(s"$k.setup") = v }
    measureGauge.foreach { case (k, v) => report(s"$k.measure") = v }

    if (traced) {
      setupGauge.foreach { case (k, v) => layers(s"$k.setup") = v }
      measureGauge.foreach { case (k, v) => layers(s"$k.measure") = v }
      traceLayers(open, closed, spans, answers, baseLayers.get, ingest, openS, warmQueries)
    }
    tracer.add(Span(root, 0L, "workload", 0L, runStart, Clock.now()))
    if (traced) writeSpans()
    report("run_s") = (Clock.now() - runStart) / 1e9

    val ok = failed == 0 && problems.isEmpty
    problems.take(5).foreach(p => System.err.println(s"searchbench: $p"))
    val full = new java.util.LinkedHashMap[String, Any]()
    full.put("workload", w.name)
    full.put("seed", seed)
    full.put("error_frac", failed.toDouble / attempted)
    (e2e ++ report).foreach { case (k, v) => full.put(k, finite(k, v)) }
    if (traced) layers.foreach { case (k, v) => full.put(k, finite(k, v)) }
    val metrics = new java.util.LinkedHashMap[String, Any]()
    val values = if (traced) layers else e2e
    (if (traced) Metrics.perLayer else Metrics.endToEnd).foreach { case (k, unit) =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("value", finite(k, values(k))); m.put("unit", unit); metrics.put(k, m)
    }
    val last = new java.util.LinkedHashMap[String, Any]()
    last.put("correct", ok)
    last.put("attempted", attempted)
    last.put("failed", failed)
    last.put("metrics", metrics)
    (full, last)
  }

  private def finite(k: String, v: Double): Double = {
    require(!v.isNaN && !v.isInfinite, s"metric $k is not a number")
    v
  }

  /** Live heap: the least of three readings, each after a forced GC and
    * a pause for Spark's asynchronous cleaner. */
  private def residentHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  // ------------------------------------------------------------ ingest
  private final case class Delta(i: Int, dir: String, start: Long, openS: Double,
                                 visible: Long, marker: Option[Answer],
                                 layers: Map[String, Double])

  /** Appends delta `i`, then opens a new engine over base + deltas, makes
    * its hot pool resident and swaps it in; visibility is timed until a
    * query on the new engine returns that delta's docs. */
  private final class Ingest {
    val results = ArrayBuffer.empty[Delta]
    def append(i: Int): Unit = {
      val dir = IncrementalIndex.deltaDir(deltaRoot, i)
      var span = 0L
      val t0 = Clock.now()
      grouped(s"d$i")(tracer.span("delta.build", root) { id =>
        span = id
        Index.buildFrom(spark, graft.Corpus.docs(spark, corpusDir(i + 1)), dir, params)
      })
      val lay = jobLog.map(_ => buildLayers(s"d$i", dir, t0, span, DeltaDocs)).getOrElse(Map.empty)
      var e: QueryEngine = null
      val openS = grouped(s"r$i")(tracer.span("engine.open", root)(_ => secs { e = openEngine() }))
      grouped(s"r$i")(poolWarm.foreach(ask(e, i + 1, _))) // warm before serving
      swap(new Served(e, i + 1))
      val q = Query(marker(i), or = false, marker = true)
      var a = grouped(s"m$i")(serve(q))
      val lo = deltas(i).firstDoc
      while (a.ids.isEmpty && Clock.now() - t0 < DeadlineMs * 1e6) a = serve(q)
      val visibleAt = Clock.now()
      if (!(a.ids.nonEmpty && a.ids.forall(d => d >= lo && d < lo + DeltaDocs))) {
        failed += 1
        problems += s"delta $i not visible through its marker"
      }
      checkBuild(dir, deltas(i))
      results += Delta(i, dir, t0, openS, visibleAt, Some(a), lay)
    }
    private def spans = results.map(r => (r.visible - r.start) / 1e9).toSeq
    def docsPerS: Double = results.size.toDouble * DeltaDocs / spans.sum
    def visibleS: Double = Load.median(spans)
  }
  // ------------------------------------------------------------- check
  /** Re-score a seeded sample of answers by brute force; also prove the
    * check rejects a perturbed answer. Returns the number checked. */
  private def check(all: Seq[Answer]): Int = {
    checkBuild(baseDir, base)
    val rnd = new java.util.SplittableRandom(seed ^ 0xc4ecL)
    val sample = all.filter(_.q.marker) ++
      all.filter(!_.q.marker).map(a => (rnd.nextLong(), a)).sortBy(_._1).take(96).map(_._2)
    val docs: DataFrame = (0 to deltas.size).filter(i => i == 0 || sample.exists(_.version >= i))
      .map(i => graft.Corpus.docs(spark, corpusDir(i))).reduce(_ union _)
    val oracle = new Oracle(docs, lenOf, K)
    oracle.prepare(sample)
    val bad = sample.flatMap(a => oracle.mismatch(a, limit(a.version)))
    failed += bad.size
    problems ++= bad
    val probe = sample.find(_.ids.nonEmpty).getOrElse(sample.head)
    val perturbed =
      if (probe.ids.isEmpty) probe.copy(ids = Array(0L), scores = Array(1.0))
      else probe.copy(scores = probe.scores.updated(0, probe.scores(0) + 0.001))
    if (oracle.mismatch(perturbed, limit(perturbed.version)).isEmpty)
      problems += "the answer check accepted a perturbed answer"
    sample.size
  }

  // ------------------------------------------------------------- trace
  private def traceLayers(open: Seq[Sample], closed: Seq[Sample],
                          spans: Array[(Long, Long, Long)], answers: Array[Answer],
                          baseLayers: Map[String, Double], ingest: Ingest,
                          openS: Seq[Double], warmQueries: Int): Unit = {
    val log = jobLog.get
    ListenerShim.drain(sc)
    // build layers: the set-up build, or the mean over delta builds
    val builds = if (w.ingest) ingest.results.map(_.layers).toSeq else Seq(baseLayers)
    builds.head.keys.foreach(k => layers(k) = builds.map(_(k)).sum / builds.size)

    // queries: spans + job attribution (traced = even-indexed requests)
    val tracedIdx = (open ++ closed).map(_.i).filter(_ % 2 == 0)
    tracedIdx.foreach { i =>
      val (sid, t0, t1) = spans(i)
      tracer.add(Span(sid, root, "query", i + 1L, t0, t1))
      log.spans(tracer, log.jobsOf(s"q$i"), sid, i + 1L)
    }
    val perQuery = tracedIdx.map(i => log.totals(log.jobsOf(s"q$i")))
    val warm = log.totals(log.jobsOf("warm"))
    val nq = (tracedIdx.size + warmQueries).toDouble
    layers ++= Seq(
      "query.remote_frac" -> perQuery.count(_.jobs > 0) / tracedIdx.size.toDouble,
      "query.jobs_per_query" -> (perQuery.map(_.jobs).sum + warm.jobs) / nq,
      "query.tasks_per_query" -> (perQuery.map(_.tasks).sum + warm.tasks) / nq,
      "query.job_ms_per_query" -> (perQuery.map(_.jobS).sum + warm.jobS) * 1e3 / nq,
      "query.executor_cpu_ms_per_query" -> (perQuery.map(_.cpuS).sum + warm.cpuS) * 1e3 / nq,
      "engine.open_s" -> Load.median(if (w.ingest) ingest.results.map(_.openS).toSeq else openS),
      "loadgen.late_ms_p99" -> Load.pct(open.map(_.lateMs), 0.99))
    for (g <- Seq("o0", "o1", "o2", "warm") ++ ingest.results.map(r => s"r${r.i}"))
      log.spans(tracer, log.jobsOf(g), root, 0L)

    // tracing overhead: traced (even) vs untraced (odd) requests
    def half(xs: Seq[Sample], even: Boolean) = xs.filter(s => (s.i % 2 == 0) == even)
    def lat(xs: Seq[Sample]) = xs.map(_.latencyMs)
    def meanSvc(xs: Seq[Sample]) = xs.map(_.serviceMs).sum / xs.size
    layers ++= Seq(
      "trace.overhead_frac.query_p50_ms" ->
        (Load.pct(lat(half(open, true)), 0.5) / Load.pct(lat(half(open, false)), 0.5) - 1),
      "trace.overhead_frac.query_qps_sat" ->
        (meanSvc(half(closed, true)) / meanSvc(half(closed, false)) - 1))

    // public-kernel probes on this workload's own data
    val probeQs = tracedIdx.take(200).map(answers(_)).filter(_ != null)
    val dirs = if (w.ingest) baseDir +: ingest.results.map(_.dir).toSeq else Seq(baseDir)
    val resolved = new Probes.Resolved(spark, dirs,
      probeQs.flatMap(a => graft.functions.Analyzer.queryTerms(a.q.text)).distinct)
    val (dec, enc, bpp) = Probes.codec(resolved)
    val kernel = tracedIdx.take(200).flatMap { i =>
      Option(answers(i)).flatMap(a => Probes.kernelUs(resolved, a.q, K)).map(i -> _)
    }
    layers ++= Seq(
      "native.tokencounts_mb_per_s" -> Probes.tokenCounts(base.texts.take(2000).toSeq),
      "analyzer.query_terms_us" -> Probes.queryTerms(stream.take(2000).map(_.text).toSeq),
      "codec.encode_postings_per_s" -> enc,
      "codec.decode_postings_per_s" -> dec,
      "codec.bytes_per_posting" -> bpp,
      "query.kernel_us" -> Load.median(kernel.map(_._2)),
      "query.plumbing_ms" -> Load.median(kernel.map { case (i, us) =>
        (spans(i)._3 - spans(i)._2) / 1e6 - us / 1e3 }))

    // self time per layer
    val all = tracer.all :+ Span(root, 0L, "workload", 0L, runStart, Clock.now())
    val self = Tracer.selfTimes(all)
    val byLayer = all.groupBy(s => Tracer.layer(s.name)).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    for (l <- Tracer.Layers) layers(s"trace.self_s.$l") = byLayer.getOrElse(l, 0.0)
  }

  private def writeSpans(): Unit = {
    val json = new ObjectMapper()
    val arr = json.createArrayNode()
    tracer.all.sortBy(_.start).foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("req", s.req).put("start_ns", s.start - runStart).put("end_ns", s.end - runStart)
    }
    Files.createDirectories(traceDir)
    json.writeValue(traceDir.resolve(s"${w.name}.json").toFile, arr)
  }
}

/** Every metric the benchmark prints, with its unit: `--trace 0` prints
  * [[endToEnd]], `--trace 1` prints [[perLayer]]. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "index_docs_per_s" -> "docs/s", "index_bytes_per_input_byte" -> "ratio",
    "resident_heap_mb" -> "MB", "query_p50_ms" -> "ms", "query_qps_sat" -> "queries/s",
    "visible_s" -> "s")

  val perLayer: Seq[(String, String)] =
    Main.Stages.flatMap(s => Seq(s"index.$s.wall_s" -> "s", s"index.$s.cpu_s" -> "s",
      s"index.$s.gc_s" -> "s", s"index.$s.shuffle_write_bytes" -> "bytes",
      s"index.$s.spill_bytes" -> "bytes", s"index.$s.tasks" -> "count")) ++
    Seq("index.jobs" -> "count", "index.tasks" -> "count", "index.cpu_s_per_mdoc" -> "s/Mdoc",
      "index.postings" -> "count", "index.segments" -> "count", "index.encoded_bytes" -> "bytes",
      "native.tokencounts_mb_per_s" -> "MB/s", "analyzer.query_terms_us" -> "us",
      "codec.encode_postings_per_s" -> "postings/s", "codec.decode_postings_per_s" -> "postings/s",
      "codec.bytes_per_posting" -> "bytes",
      "query.kernel_us" -> "us", "query.plumbing_ms" -> "ms", "query.remote_frac" -> "frac",
      "query.jobs_per_query" -> "count", "query.tasks_per_query" -> "count",
      "query.job_ms_per_query" -> "ms", "query.executor_cpu_ms_per_query" -> "ms",
      "engine.open_s" -> "s", "loadgen.late_ms_p99" -> "ms") ++
    Seq("setup", "measure").flatMap(ph => Seq(s"host.ext_busy_frac.$ph" -> "frac",
      s"host.steal_frac.$ph" -> "frac", s"host.cpu_probe_ms.$ph" -> "ms", s"jvm.gc_s.$ph" -> "s",
      s"proc.own_cores.$ph" -> "cores")) ++
    Tracer.Layers.map(l => s"trace.self_s.$l" -> "s") ++
    Seq("query_p50_ms", "query_qps_sat").map(m => s"trace.overhead_frac.$m" -> "frac")
}
