package searchbench

import graft.functions.Analyzer
import graft.operators.{Bm25, QueryEngine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** An engine answer as served: docIDs and (4-decimal) scores in rank
  * order, and the corpus version it was served from (ingest: number of
  * delta indexes visible to the engine). */
final case class Answer(q: Query, version: Int, ids: Array[Long], scores: Array[Double])

/** Brute-force BM25 re-scoring, outside the timed window: term
  * frequencies come from the program's reference `Bm25.termFreq` over
  * the generated documents, idf from `Bm25.idf`, scores from
  * `Bm25.contrib` summed in ascending term order; document lengths come
  * from the generator (docIDs are dense from 0, so the docs below
  * `limit` are the corpus an engine version serves). A rank or 4-decimal
  * score mismatch against the engine's answer is a failed operation. */
final class Oracle(docs: DataFrame, lens: Long => Long, k: Int) {

  private var postings: Map[String, Array[(Long, Long)]] = Map.empty
  private val sumLens = scala.collection.mutable.Map.empty[Long, Long]

  /** Load the (docID, tf) postings of every term of `answers`. */
  def prepare(answers: Seq[Answer]): Unit = {
    val terms = answers.flatMap(a => Analyzer.queryTerms(a.q.text)).distinct
    if (terms.nonEmpty)
      postings = Bm25.termFreq(docs).filter(col("term").isin(terms: _*))
        .select(col("term"), col("docID").cast("long"), col("tf").cast("long"))
        .collect().toSeq
        .groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toArray }
  }

  /** Expected top-k over the docs below `limit`. */
  def expected(q: Query, limit: Long): (Array[Long], Array[Double]) = {
    val terms = Analyzer.queryTerms(q.text)
    val n = limit.toDouble
    val avgdl = sumLens.getOrElseUpdate(limit, (0L until limit).map(lens).sum).toDouble / n
    val lists = terms.map(t => t -> postings.getOrElse(t, Array.empty[(Long, Long)]).filter(_._1 < limit))
    val present = lists.filter(_._2.nonEmpty)
    if (present.isEmpty || (!q.or && present.size < terms.size)) return (Array.empty, Array.empty)
    val tfOf = present.map { case (t, ps) => t -> ps.toMap }
    val idf = present.map { case (t, ps) => t -> Bm25.idf(n, ps.length.toLong) }.toMap
    val cands =
      if (q.or) present.flatMap(_._2.map(_._1)).distinct
      else present.map(_._2.map(_._1).toSet).reduce(_ intersect _).toSeq
    val scored = cands.map { doc =>
      var s = 0.0
      for ((t, m) <- tfOf; tf <- m.get(doc)) s += Bm25.contrib(idf(t), tf, lens(doc), avgdl)
      (doc, QueryEngine.r4(s))
    }.sortBy { case (doc, s) => (-s, doc) }.take(k)
    (scored.map(_._1).toArray, scored.map(_._2).toArray)
  }

  /** None if the answer matches, else a one-line reason. */
  def mismatch(a: Answer, limit: Long): Option[String] = {
    val (ids, scores) = expected(a.q, limit)
    if (!ids.sameElements(a.ids)) Some(s"ranks differ for '${a.q.text}': ${ids.mkString(",")} vs ${a.ids.mkString(",")}")
    else if (!scores.sameElements(a.scores)) Some(s"scores differ for '${a.q.text}': ${scores.mkString(",")} vs ${a.scores.mkString(",")}")
    else None
  }
}
