package perfbench

import java.util.concurrent.atomic.AtomicLong

/** Operations attempted and failed. An operation fails when it throws or
  * when a check of its output fails; a failed check also clears `correct`. */
final class Ledger {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val badChecks = new AtomicLong()
  private val shown = new AtomicLong()

  def attempt(n: Long = 1L): Unit = { attempted.addAndGet(n); () }

  private def log(msg: String): Unit =
    if (shown.incrementAndGet() <= 50) System.err.println(s"[perfbench] $msg")

  /** Count a check: `problem` None passes; Some fails the operation. */
  def check(label: String)(problem: => Option[String]): Unit = {
    val p = try problem catch {
      case scala.util.control.NonFatal(e) => Some(s"check threw ${e}")
    }
    p.foreach { why =>
      failed.incrementAndGet(); badChecks.incrementAndGet()
      log(s"check failed: $label: $why")
    }
  }

  def error(label: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    log(s"operation failed: $label: $e")
  }
}

/** Checks of graft's answers against [[LocalIndex]], computed apart from
  * the program. */
object Checks {
  final val RelTol = 1e-9

  /** Optimal-string-alignment distance (adjacent transpositions count 1). */
  def osa(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      var v = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
      if (i > 1 && j > 1 && a(i - 1) == b(j - 2) && a(i - 2) == b(j - 1))
        v = math.min(v, d(i - 2)(j - 2) + 1)
      d(i)(j) = v
    }
    d(a.length)(b.length)
  }

  /** milli's default typo budget: 1 typo from 5 chars, 2 from 9. */
  def budget(len: Int): Int = if (len >= 9) 2 else if (len >= 5) 1 else 0

  /** Does a document with `words` match query word `q` exactly, within the
    * typo budget, or (for a trailing prefix word) as a prefix? */
  def wordMatches(q: String, prefix: Boolean, words: collection.Set[String]): Boolean = {
    val t = budget(q.length)
    words.contains(q) || words.exists { w =>
      (t > 0 && math.abs(w.length - q.length) <= t && osa(q, w) <= t) ||
      (prefix && (w.startsWith(q) || (t > 0 &&
        (math.max(0, q.length - t) to math.min(w.length, q.length + t))
          .exists(l => osa(q, w.substring(0, l)) <= t))))
    }
  }

  private def langOf(f: String): String = f.split("=").last.trim

  /** Ranked hits: distinct, at most `limit`, live, inside the filter; and
    * when at least `limit` live docs hold every query word exactly, every
    * hit holds every query word (exactly, within the typo budget, or as
    * the trailing prefix). */
  def ranked(op: Ranked, hits: Seq[Int], live: LocalIndex, limit: Int): Option[String] = {
    val words = op.words
    if (hits.distinct.length != hits.length) return Some(s"duplicate hits $hits")
    if (hits.length > limit) return Some(s"${hits.length} hits > limit $limit")
    hits.find(h => !live.contains(h)).foreach(h => return Some(s"hit $h is not a live doc"))
    val inFilter: Int => Boolean = op.filter match {
      case Some(f) => d => live.byId(d).lang == langOf(f)
      case None => _ => true
    }
    hits.find(h => !inFilter(h)).foreach(h => return Some(s"hit $h outside filter ${op.filter.get}"))
    val strict = live.containingAll(words).count(inFilter)
    if (strict >= limit) {
      hits.foreach { h =>
        val ws = live.words(h)
        words.zipWithIndex.foreach { case (q, i) =>
          val prefix = op.prefixLast && i == words.length - 1
          if (!wordMatches(q, prefix, ws))
            return Some(s"hit $h lacks query word '$q' ($strict docs hold all words)")
        }
      }
    }
    if (hits.isEmpty && strict > 0) return Some(s"no hits, $strict docs hold all words")
    None
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= RelTol * math.max(math.abs(a), math.abs(b))

  /** BM25 top-k equals the brute force up to ties: same length and scores,
    * every hit's own score matches, and every doc scoring above the k-th
    * score is present. `stats` holds every stored doc (df, N, avgdl count
    * soft-deleted docs too); `excluded` docs may not be returned. */
  def bm25(op: Bm25Q, hits: Array[(Int, Double)], stats: LocalIndex,
      excluded: Int => Boolean, k: Int): Option[String] = {
    val all = stats.bm25(op.terms).filterNot(e => excluded(e._1))
    val want = all.take(k)
    if (hits.length != want.length)
      return Some(s"${hits.length} hits, brute force has ${want.length}")
    val byDoc = all.toMap
    hits.zip(want).zipWithIndex.foreach { case (((d, s), (_, ws)), i) =>
      if (!close(s, ws)) return Some(f"rank $i score $s%.12f != brute force $ws%.12f")
      if (!byDoc.get(d).exists(close(_, s))) return Some(s"doc $d score $s is not its brute-force score")
    }
    if (want.nonEmpty) {
      val kth = want.last._2
      val got = hits.map(_._1).toSet
      all.takeWhile(e => e._2 > kth && !close(e._2, kth)).find(e => !got(e._1))
        .foreach(e => return Some(s"doc ${e._1} (score ${e._2}) missing above the k-th score"))
    }
    None
  }
}
