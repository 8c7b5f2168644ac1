package searchbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded, source-code-shaped corpus and hot query stream.
  *
  * Vocabulary (ranked, Zipf s = 1.1 over the whole list):
  *   - a stop-word head of code keywords, every one in most documents;
  *   - the 30 terms of the engine's reference corpus (`sf*`
  *     `documents.parquet`), so the reference query vocabulary exists;
  *   - ~200k identifier-like terms (`parseHttpHeader2` → `parsehttpheader2`
  *     after analysis), ranked in a seed-dependent order.
  * Every emitted vocabulary token is exactly one analyzer token (the
  * separators hold no `[a-z0-9]`), so the generator knows each document's
  * exact length and every term's exact document frequency: the hot pool
  * is chosen by df, and the build check compares the index's token total
  * against the generated one.
  *
  * Document lengths are lognormal; `lang` and `source` are skewed. */
final class Vocab(val surf: Array[String], val terms: Array[String],
                  val cum: Array[Double])

final class Corpus(
    val texts: Array[String],
    val lens: Array[Int],
    val langs: Array[String],
    val sources: Array[String],
    val firstDoc: Long,
    /** df per vocabulary rank over THIS corpus */
    val df: Array[Int]) {
  def size: Int = texts.length
  def tokens: Long = lens.iterator.map(_.toLong).sum
  def contentBytes: Long = texts.iterator.map(_.length.toLong).sum
}

object Gen {

  val StopWords: Array[String] = Array(
    "the", "if", "return", "int", "for", "public", "void", "new", "this",
    "self", "def", "import", "const", "let", "var", "else", "true", "false",
    "null", "static", "class", "function", "in", "is", "of", "to", "and",
    "or", "not", "while", "try", "catch", "string", "from", "with", "as",
    "private", "final", "package", "struct")

  /** The reference corpus's term set (`dup` is its rarity marker). */
  val BenchTerms: Array[String] = Array(
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "dup")

  private val Parts: Array[String] = Array(
    "get", "set", "user", "name", "buffer", "size", "parse", "http", "node",
    "tree", "index", "count", "list", "map", "init", "config", "handler",
    "request", "response", "error", "file", "path", "read", "write", "open",
    "close", "item", "cache", "token", "event", "id", "max", "min", "len",
    "str", "num", "tmp", "ctx", "db", "sql", "json", "xml", "url", "api",
    "client", "server", "session", "auth", "load", "save", "update", "delete",
    "create", "find", "match", "field", "type", "object", "array", "float",
    "bool", "byte", "char", "time", "date", "log", "debug", "info", "warn",
    "test", "mock", "spec", "util", "helper", "manager", "factory", "builder",
    "service", "model", "view", "layout", "render", "draw", "color", "image",
    "font", "text", "point", "rect", "width", "height", "offset", "limit",
    "page", "cursor", "reader", "writer", "input", "output", "source",
    "target", "result", "state", "status", "flag", "mode", "level", "depth",
    "parent", "child", "next", "prev", "first", "last", "head", "tail",
    "queue", "pool", "thread", "task", "job", "worker", "lock", "mutex",
    "signal", "timer", "clock", "retry", "fetch", "send", "recv", "socket",
    "port", "host", "addr", "proto", "packet", "frame", "block", "chunk",
    "segment", "entry", "record", "schema", "plan", "expr", "op", "arg",
    "param", "env", "var", "const", "module", "plugin", "hook", "callback",
    "future", "promise", "async", "sync", "stream", "channel", "pipe",
    "shard", "replica", "leader", "vote", "term", "epoch", "version", "hash",
    "digest", "crypt", "key", "cert", "sign", "verify", "encode", "decode",
    "compress", "zip", "format", "convert", "cast", "wrap", "unwrap",
    "clone", "copy", "move", "swap", "sort", "merge", "split", "join",
    "filter", "reduce", "fold", "scan", "walk", "visit", "emit", "flush")

  private val Langs = Array("python", "java", "javascript", "go", "c", "rust", "ruby")
  private val LangCum = cumulative(Array(0.35, 0.2, 0.15, 0.1, 0.08, 0.07, 0.05))
  private val Seps = Array(" ", " ", " ", "(", ") ", ".", ", ", " = ", ";\n", " {\n", "}\n", "\t")

  def cumulative(w: Array[Double]): Array[Double] = {
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def zipfCumulative(n: Int, s: Double): Array[Double] =
    cumulative(Array.tabulate(n)(i => math.pow(i + 1.0, -s)))

  /** Index of the first cumulative weight ≥ u. */
  def draw(cum: Array[Double], u: Double): Int = {
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Ranked vocabulary with its Zipf(s = 1.1) sampling table. */
  def vocabulary(seed: Long, identifiers: Int): Vocab = {
    val rnd = new SplittableRandom(seed ^ 0x5eed0001L)
    val seen = new java.util.HashSet[String]()
    val surf = ArrayBuffer.empty[String]
    val term = ArrayBuffer.empty[String]
    for (w <- StopWords ++ BenchTerms if seen.add(w)) { surf += w; term += w }
    val ids = ArrayBuffer.empty[String]
    while (ids.size < identifiers) {
      val k = 2 + rnd.nextInt(2)
      val sb = new StringBuilder
      var i = 0
      while (i < k) {
        val p = Parts(rnd.nextInt(Parts.length))
        sb.append(if (i == 0) p else p.capitalize)
        i += 1
      }
      if (rnd.nextInt(5) == 0) sb.append(rnd.nextInt(10))
      val s = sb.toString
      if (seen.add(s.toLowerCase(java.util.Locale.ROOT))) ids += s
    }
    for (s <- ids) { surf += s; term += s.toLowerCase(java.util.Locale.ROOT) }
    new Vocab(surf.toArray, term.toArray, zipfCumulative(surf.size, 1.1))
  }

  /** `n` documents starting at docID `firstDoc`; `stream` separates
    * independent draws under one seed (base corpus, ingest deltas). */
  def corpus(seed: Long, stream: Long, firstDoc: Long, n: Int, v: Vocab,
             medianLen: Double): Corpus = {
    import v.{cum, surf, terms}
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
    val srcCum = zipfCumulative(400, 1.0)
    val df = new Array[Int](terms.length)
    val stamp = Array.fill(terms.length)(-1)
    val texts = new Array[String](n)
    val lens = new Array[Int](n)
    val langs = new Array[String](n)
    val sources = new Array[String](n)
    val mu = math.log(medianLen)
    var d = 0
    val sb = new java.lang.StringBuilder(4096)
    while (d < n) {
      val g = gaussian(rnd)
      val len = math.max(8, math.min(4000, math.round(math.exp(mu + 0.7 * g)).toInt))
      sb.setLength(0)
      var t = 0
      while (t < len) {
        val r = draw(cum, rnd.nextDouble())
        if (stamp(r) != d) { stamp(r) = d; df(r) += 1 }
        sb.append(surf(r)).append(Seps(rnd.nextInt(Seps.length)))
        t += 1
      }
      texts(d) = sb.toString
      lens(d) = len
      langs(d) = Langs(draw(LangCum, rnd.nextDouble()))
      sources(d) = f"repo${draw(srcCum, rnd.nextDouble())}%04d"
      d += 1
    }
    new Corpus(texts, lens, langs, sources, firstDoc, df)
  }

  // ------------------------------------------------------ query streams

  /** Hot pool: the `size` identifiers (after the stop-word/reference
    * head) whose df is closest to n/30, so every seed gets a pool of the
    * same shape. Their postings must fit `budget` — the engine's resident
    * segment cache — so after one warm-up pass no query misses. */
  def hotPool(c: Corpus, v: Vocab, size: Int, budget: Long): Array[Int] = {
    val head = StopWords.length + BenchTerms.length
    val pool = (head until v.terms.length).sortBy(r => (math.abs(c.df(r) - c.size / 30), r))
      .take(size).toArray
    require(pool.map(c.df(_).toLong).sum <= budget, "hot pool exceeds the segment cache budget")
    pool
  }

  /** `n` queries of 1–4 hot-pool terms. One term: AND (`topK`); two:
    * AND or OR at even odds; three or four: OR (`topKOr`) — conjunctions
    * of 3+ torso terms are mostly empty. */
  def hotStream(seed: Long, stream: Long, v: Vocab, pool: Array[Int], n: Int): Array[Query] = {
    val rnd = new SplittableRandom(seed * 31 + stream)
    Array.fill(n) {
      val k = 1 + rnd.nextInt(4)
      val rs = pick(rnd, pool, k)
      Query(rs.map(v.surf(_)).mkString(" "), or = k > 2 || (k == 2 && rnd.nextBoolean()))
    }
  }

  private def pick(rnd: SplittableRandom, from: Array[Int], k: Int): Array[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, from.length)) out += from(rnd.nextInt(from.length))
    out.toArray
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** A query as sent; `marker` = an ingest delta's visibility probe. */
final case class Query(text: String, or: Boolean, marker: Boolean = false)
