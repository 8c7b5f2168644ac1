package graft

import graft.operators.{Index, QueryEngine}
import graft.operators.Index.{BuildParams, TermPosting}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property gates for the query kernels, against brute-force set/window
  * semantics on generated inputs encoded through the REAL segment codec
  * (multi-segment, salted-chunk layouts forced by tiny segmentSize). */
class KernelPropertySpec extends AnyFunSuite {
  import KernelPropertySpec.TopKCase

  private def forAllGen[A](gen: Gen[A], n: Int = 100)(f: A => Unit): Unit = {
    var seed = Seed(1337L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 10) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > 0, "generator produced no values")
  }

  // ---------------------------------------------------------- windowMatch

  private val windowCase: Gen[(Map[String, Array[Long]], Int)] =
    for {
      nTerms <- Gen.chooseNum(1, 4)
      w <- Gen.chooseNum(1, 12)
      lists <- Gen.listOfN(nTerms,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 60L)).map(_.distinct.sorted.toArray))
    } yield (lists.zipWithIndex.map { case (l, i) => s"t$i" -> l }.toMap, w)

  test("windowMatch == brute 'exists start covering all terms' (property)") {
    forAllGen(windowCase, n = 300) { case (byTerm, w) =>
      val terms = byTerm.keys.toArray.sorted
      val maxPos = byTerm.values.map(_.max).max
      val brute = (0L to maxPos).exists(i =>
        terms.forall(t => byTerm(t).exists(p => p >= i && p <= i + w - 1)))
      assert(QueryEngine.windowMatch(byTerm, terms, w) == brute,
        s"byTerm=${byTerm.view.mapValues(_.mkString(",")).toMap} w=$w")
    }
  }

  // ----------------------------------------------------------- countRange

  private val params = BuildParams(segmentSize = 16, saltThreshold = 20,
    saltChunk = 32)

  private def segsOf(term: String, ids: Array[Long]) = {
    val df = ids.length.toLong
    Index.encodePartition(
      ids.iterator.map(d =>
        TermPosting(term, d, (d % 5) + 1, (d % 9) + 3, df, 0,
          Array.emptyByteArray)),
      params).toArray
  }

  private val countCase: Gen[(Map[String, Array[Long]], Long, Long, Boolean)] =
    for {
      nTerms <- Gen.chooseNum(1, 3)
      lists <- Gen.listOfN(nTerms,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 200L)).map(_.distinct.sorted.toArray))
      lo <- Gen.chooseNum(0L, 100L)
      span <- Gen.chooseNum(0L, 150L)
      orMode <- Gen.oneOf(true, false)
    } yield (lists.zipWithIndex.map { case (l, i) => s"t$i" -> l }.toMap,
      lo, lo + span, orMode)

  test("countRange == brute set intersection/union size in [lo, hi) (property)") {
    forAllGen(countCase, n = 300) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      val inRange = byIds.view.mapValues(_.filter(d => d >= lo && d < hi).toSet)
      val brute =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _).size.toLong
        else inRange.values.reduce(_ & _).size.toLong
      assert(QueryEngine.countRange(segs, terms, 10.0, lo, hi, orMode) == brute,
        s"terms=${byIds.view.mapValues(_.mkString(",")).toMap} lo=$lo hi=$hi or=$orMode")
    }
  }

  test("countRange with a monotone gate == brute gated count (property)") {
    forAllGen(countCase, n = 200) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      val allowedIds = (0L to 200L by 3).toArray // every third id allowed
      val inRange = byIds.view.mapValues(
        _.filter(d => d >= lo && d < hi && d % 3 == 0).toSet)
      val brute =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _).size.toLong
        else inRange.values.reduce(_ & _).size.toLong
      val gate = QueryEngine.monotoneGate(allowedIds, negate = false)
      assert(QueryEngine.countRange(segs, terms, 10.0, lo, hi, orMode, gate)
        == brute)
    }
  }

  // ----------------------------------------------- countGroupsRange

  test("countGroupsRange == brute per-group counts; unmapped docs skipped (property)") {
    forAllGen(countCase, n = 200) { case (byIds, lo, hi, orMode) =>
      val segs = byIds.map { case (t, ids) => t -> segsOf(t, ids) }
      val terms = byIds.keys.toArray.sorted
      // group map: docs ≡ 0 (mod 4) are UNMAPPED (cursor −1); the rest
      // group by d mod 3 — exercises the range-agg exclusion semantics
      val mapped = (0L to 200L).filter(_ % 4 != 0).toArray
      val groups = mapped.map(d => (d % 3).toInt)
      val inRange = byIds.view.mapValues(_.filter(d => d >= lo && d < hi).toSet)
      val matches =
        if (orMode) inRange.values.foldLeft(Set.empty[Long])(_ | _)
        else inRange.values.reduce(_ & _)
      val brute = Array.tabulate(3)(g =>
        matches.count(d => d % 4 != 0 && (d % 3).toInt == g).toLong)
      val got = QueryEngine.countGroupsRange(segs, terms, 10.0, lo, hi,
        orMode, QueryEngine.monotoneGroupCursor(mapped, groups), 3)
      assert(got.toSeq == brute.toSeq,
        s"terms=${byIds.view.mapValues(_.mkString(",")).toMap} lo=$lo hi=$hi or=$orMode")
    }
  }

  // --------------------------------------------- mergeGroupSegments

  private val mergeCase: Gen[(List[Array[Long]], Long, Long)] =
    for {
      nMembers <- Gen.chooseNum(1, 4)
      lists <- Gen.listOfN(nMembers,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 120L)).map(_.distinct.sorted.toArray))
      lo <- Gen.chooseNum(0L, 60L)
      span <- Gen.chooseNum(0L, 100L)
    } yield (lists, lo, lo + span)

  test("mergeGroupSegments == brute tf-sum merge inside [lo, hi) (property)") {
    forAllGen(mergeCase, n = 200) { case (lists, lo, hi) =>
      val memberSegs =
        lists.zipWithIndex.map { case (ids, i) => segsOf(s"m$i", ids) }.toArray
      val lenOf: Long => Long = d => (d % 9) + 3 // segsOf's len recipe
      val dfG = lists.map(_.length.toLong).max
      val merged = QueryEngine.mergeGroupSegments("g", dfG, memberSegs,
        lenOf, 10.0, lo, hi)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      if (merged.nonEmpty) {
        val it = new QueryEngine.PostingListIterator(merged, 10.0)
        it.advance(0L)
        while (!it.exhausted) {
          got += ((it.docID, it.tf)); it.advance(it.docID + 1)
        }
      }
      // member tf = (d % 5) + 1 (segsOf's recipe); the group tf SUMS
      // across members present at d — the SynonymQuery contract
      val brute = lists
        .flatMap(_.filter(d => d >= lo && d < hi).map(d => d -> ((d % 5) + 1L)))
        .groupBy(_._1).toSeq
        .map { case (d, xs) => (d, xs.map(_._2).sum) }.sortBy(_._1)
      assert(got.toSeq == brute,
        s"lists=${lists.map(_.mkString(",")).mkString(";")} lo=$lo hi=$hi")
      // strictly increasing docIDs (posting-order invariant O4)
      assert(got.map(_._1).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
    }
  }

  // ------------------------------------------------- kernel + top-k collector

  // per-term tf and per-doc len recipes with few distinct (tf, len)
  // combos, so many docs share an exact score (docID tie-breaks)
  private val avgdlK = 4.0
  private def lenK(d: Long): Long = (d % 4) + 3
  private def tfK(d: Long, i: Int): Long = ((d + i) % 3) + 1

  private def scoredSegs(i: Int, ids: Array[Long]) =
    Index.encodePartition(
      ids.iterator.map(d => TermPosting(s"t$i", d, tfK(d, i), lenK(d),
        ids.length.toLong, 0, Array.emptyByteArray)),
      params).toArray

  /** An idf putting the (tf = 1, len = 3) contribution within `ulps` of
    * the 4-decimal half point (m + 0.5)/10^4 — a score on the r4 band
    * edge, where the rounded key flips with the last bits. */
  private def edgeIdf(m: Int, ulps: Int): Double = {
    val norm = 1.2 * (0.25 + 0.75 * 3.0 / avgdlK)
    var idf = (m + 0.5) / 10000.0 * (1.0 + norm) / 2.2
    (0 until math.abs(ulps)).foreach { _ =>
      idf = if (ulps > 0) Math.nextUp(idf) else Math.nextDown(idf)
    }
    idf
  }

  private val topKCase: Gen[TopKCase] =
    for {
      nTerms <- Gen.chooseNum(1, 3)
      lists <- Gen.listOfN(nTerms,
        Gen.nonEmptyListOf(Gen.chooseNum(0L, 120L)).map(_.distinct.sorted.toArray))
      // idfs: a few fixed values (exact score ties), half-point edges, and
      // tiny ones whose scores differ by less than the 0.0001 rounding
      // quantum — candidates landing inside the root's rounding band
      idfs <- Gen.listOfN(nTerms, Gen.oneOf(
        Gen.oneOf(0.5, 1.0, 1.7),
        for (m <- Gen.chooseNum(2000, 20000); u <- Gen.chooseNum(-2, 2))
          yield edgeIdf(m, u),
        Gen.chooseNum(0.0001, 0.002)))
      boosts <- Gen.listOfN(nTerms, Gen.oneOf(1.0, 1.5))
      orMode <- Gen.oneOf(true, false)
      rounded <- Gen.oneOf(true, false)
      k <- Gen.chooseNum(1, 8)
      msm <- if (orMode) Gen.chooseNum(1, 3) else Gen.const(1)
      lo <- Gen.chooseNum(0L, 40L)
      hi <- Gen.oneOf(Gen.const(Long.MaxValue), Gen.chooseNum(lo, lo + 120L))
      cursorAt <- Gen.option(Gen.chooseNum(0, 10))
    } yield TopKCase(lists, idfs, boosts, orMode, rounded, k, msm, lo, hi, cursorAt)

  test("kernel top-k == brute score-all, sort, cursor-skip, take k (property)") {
    var cursorFull, msmHits, edgeTies, bandEdge = 0
    forAllGen(topKCase, n = 400) { c =>
      val n = c.lists.length
      val segs = c.lists.zipWithIndex.map { case (ids, i) =>
        s"t$i" -> scoredSegs(i, ids) }.toMap
      val ctx = Array.tabulate(n)(i => QueryEngine.TermCtx(s"t$i",
        c.lists(i).length.toLong, c.idfs(i), c.boosts(i)))
      def keyOf(s: Double) = if (c.rounded) QueryEngine.r4(s) else s
      // brute: every matching doc in [lo, hi), scored in ascending-term
      // order (absent terms +0.0), ranked (key desc, docID asc)
      val ranked = c.lists.flatten.distinct.filter(d => d >= c.lo && d < c.hi)
        .flatMap { d =>
          val has = c.lists.map(_.contains(d))
          val norm = 1.2 * (0.25 + 0.75 * lenK(d).toDouble / avgdlK)
          var score = 0.0
          for (i <- 0 until n if has(i)) {
            val tf = tfK(d, i).toDouble
            score += ctx(i).boost * (ctx(i).idf * (tf * 2.2) / (tf + norm))
          }
          val ok = if (c.orMode) has.count(identity) >= c.msm else has.forall(identity)
          if (ok) Some((d, score)) else None
        }
        .sortBy { case (d, s) => (-keyOf(s), d) }
      val (afterKey, afterDoc) = c.cursorAt.filter(_ < ranked.length)
        .map(j => (keyOf(ranked(j)._2), ranked(j)._1)).getOrElse((Double.NaN, 0L))
      val brute = ranked.filterNot { case (d, s) =>
        keyOf(s) > afterKey || (keyOf(s) == afterKey && d <= afterDoc)
      }.take(c.k)
      val got = QueryEngine.kernel(null, 0, c.orMode, null, afterKey, afterDoc, c.msm)(
          segs, ctx, lenK, avgdlK, c.lo, c.hi, c.k, c.rounded)
        .map(h => (h.docID, h.score)).sortBy { case (d, s) => (-keyOf(s), d) }
      assert(got == brute, s"case=$c lists=${c.lists.map(_.mkString(","))}")
      if (!afterKey.isNaN && got.length == c.k) cursorFull += 1
      if (c.msm >= 2 && got.nonEmpty) msmHits += 1
      if (c.rounded && got.length == c.k && ranked.length > c.k &&
          ranked.count(h => keyOf(h._2) == keyOf(got.last._2)) > 1) edgeTies += 1
      if (c.rounded && got.exists { case (_, s) =>
            math.abs(s * 10000 - math.floor(s * 10000) - 0.5) < 1e-9 }) bandEdge += 1
    }
    // the generator reaches a full heap under a cursor, a live msm floor,
    // rounded-key ties at the heap boundary and scores on the r4 band edge
    assert(cursorFull > 0 && msmHits > 0 && edgeTies > 0 && bandEdge > 0,
      s"coverage: cursorFull=$cursorFull msmHits=$msmHits edgeTies=$edgeTies " +
        s"bandEdge=$bandEdge")
  }
}

object KernelPropertySpec {
  final case class TopKCase(lists: List[Array[Long]], idfs: List[Double],
                            boosts: List[Double], orMode: Boolean,
                            rounded: Boolean, k: Int, msm: Int,
                            lo: Long, hi: Long, cursorAt: Option[Int])
}
