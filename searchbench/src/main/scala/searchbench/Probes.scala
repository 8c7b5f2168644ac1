package searchbench

import graft.functions.{Analyzer, Codec, TokenCountsKernel}
import graft.operators.{Bm25, Index, QueryEngine}
import graft.operators.Index.PostingSegment
import graft.operators.QueryEngine.{NormsTable, TermCtx}
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Public-kernel probes on a workload's own data, run after its timed
  * window in the traced run: each times one public function of one layer
  * in a tight loop, outside Spark. */
object Probes {

  /** Median over 3 repetitions of (units per second) for `body`, each
    * repetition looping until `minS` seconds have passed. */
  private def rate(units: Double, minS: Double = 0.2)(body: => Unit): Double =
    Load.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var n = 0
      while ({ body; n += 1; System.nanoTime() - t0 < minS * 1e9 }) ()
      units * n / ((System.nanoTime() - t0) / 1e9)
    })

  /** `TokenCountsKernel.counts` (the tf stage's fused tokenizer) in MB/s. */
  def tokenCounts(texts: Seq[String]): Double = {
    val us = texts.map(UTF8String.fromString).toArray
    val mb = us.map(_.numBytes().toLong).sum / 1e6
    rate(mb)(us.foreach(TokenCountsKernel.counts(_, false)))
  }

  /** `Analyzer.queryTerms` cost in µs per query. */
  def queryTerms(qs: Seq[String]): Double =
    1e6 / rate(qs.size.toDouble)(qs.foreach(Analyzer.queryTerms))

  /** The resolved index of a set of constituent index dirs: segments per
    * term (minDoc order), combined df, stats and norms. */
  final class Resolved(spark: SparkSession, dirs: Seq[String], terms: Seq[String]) {
    import spark.implicits._
    private val dict = dirs.map(d => Index.readDictionary(spark, d)
      .filter($"term".isin(terms: _*)).collect().toSeq)
    val df: Map[String, Long] = dict.flatten.groupBy(_.term).map { case (t, es) => t -> es.map(_.df).sum }
    val segs: Map[String, Array[PostingSegment]] =
      dirs.zip(dict).filter(_._2.nonEmpty).flatMap { case (d, es) =>
        Index.readSegments(spark, d, es.map(_.term), es.map(_.bucket).distinct).collect().toSeq
      }.groupBy(_.term).map { case (t, ss) => t -> ss.sortBy(_.minDoc).toArray }
    private val stats = dirs.map(d => Index.readStats(spark, d))
    val n: Double = stats.map(_.n).sum
    val avgdl: Double = stats.map(_.sumLen).sum.toDouble / n
    val norms: NormsTable = {
      val ds = dirs.flatMap(d => Index.readDocStats(spark, d).collect()).sortBy(_.docID)
      new NormsTable(ds.map(_.docID).toArray, ds.map(_.len).toArray)
    }
  }

  /** Decode and re-encode every block of `r`'s segments:
    * (decode postings/s, encode postings/s, encoded bytes per posting). */
  def codec(r: Resolved): (Double, Double, Double) = {
    val ss = r.segs.values.flatten.toArray
    val postings = ss.map(_.count.toLong).sum.toDouble
    def decode(s: PostingSegment): (Array[Long], Array[Long]) = {
      val parts = s.blockDocOff.indices.map(b => Codec.decodeBlock(s.docBlob, s.tfBlob,
        s.blockDocOff(b), s.blockTfOff(b), Codec.blockCount(s.count, b)))
      (parts.flatMap(_._1).toArray, parts.flatMap(_._2).toArray)
    }
    val dec = rate(postings)(ss.foreach { s =>
      var b = 0
      while (b < s.blockDocOff.length) {
        Codec.decodeBlock(s.docBlob, s.tfBlob, s.blockDocOff(b), s.blockTfOff(b), Codec.blockCount(s.count, b))
        b += 1
      }
    })
    val lists = ss.map { s => val (ids, tfs) = decode(s); (ids, tfs, ids.map(r.norms(_))) }
    val enc = rate(postings)(lists.foreach { case (ids, tfs, lens) => Codec.encodeBlocks(ids, tfs, lens) })
    val bytes = ss.map(s => s.docBlob.length + s.tfBlob.length).sum.toDouble
    (dec, enc, bytes / postings)
  }

  /** Per query: the public `QueryEngine.kernel` over pre-resolved
    * segments and norms, median µs of 3 calls; None for an AND query with
    * a term the index lacks (the engine answers those without a kernel). */
  def kernelUs(r: Resolved, q: Query, k: Int): Option[Double] = {
    val terms = Analyzer.queryTerms(q.text)
    val present = terms.filter(r.df.contains)
    if (present.isEmpty || (!q.or && present.size < terms.size)) None
    else {
      val ctx = present.map(t => TermCtx(t, r.df(t), Bm25.idf(r.n, r.df(t)))).toArray
      val segs = present.map(t => t -> r.segs(t)).toMap
      val fn = QueryEngine.kernel(null, 0, q.or, null, Double.NaN, 0L, 1)
      Some(Load.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(segs, ctx, r.norms.cursor(), r.avgdl, 0L, Long.MaxValue, k, true)
        (System.nanoTime() - t0) / 1e3
      }))
    }
  }
}
