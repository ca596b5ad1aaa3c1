package perfbench

import scala.collection.mutable

/** One benchmark operation. `Ranked` goes through `Search.execute`, `Bm25Q`
  * through `Bm25.topK`. A ranked query ending without a space makes its
  * last word a prefix, as in milli. */
sealed trait Op extends Product with Serializable { def label: String }
final case class Ranked(q: String, filter: Option[String]) extends Op {
  def label: String = q + filter.map(f => s" [$f]").getOrElse("")
  def words: Seq[String] = q.split(' ').filter(_.nonEmpty).toSeq
  def prefixLast: Boolean = !q.endsWith(" ")
}
final case class Bm25Q(terms: Seq[String]) extends Op {
  def label: String = "bm25:" + terms.mkString(",")
}

/** Query generation from the seed and the corpus' own df ranking. Shapes
  * are assigned by position, not drawn, so every seed gets the same mix
  * and only the words change.
  *
  *  - the hot set draws head words (df rank < 200) at Zipf quantiles; of
  *    its ranked queries a third each have 1, 2 and 3 words, a quarter end
  *    in a prefix, a sixth carry a typo-prone word of 5+ chars (half with
  *    one digit changed) and a quarter are filtered on `lang`;
  *  - cold queries take words beyond the 4096-word head that
  *    `GraftIndex.warmServing` prefetches, each used by no other query of
  *    the run, so every cold query is a first touch. */
final class QueryGen(seed: Long, local: LocalIndex) {
  private val wWords: Array[String] = local.byDf.filter(_.startsWith("w"))
  private val head: Array[String] = wWords.take(200)
  private val typoProne: Array[String] =
    wWords.slice(200, 2000).filter(w => w.length >= 5 && local.df(w) >= 3)
  private val used = mutable.HashSet.empty[String]

  private def typo(r: java.util.SplittableRandom, w: String): String = {
    // substitute one digit after the leading "w"; still one typo away
    val i = 1 + r.nextInt(w.length - 1)
    val c = ((w.charAt(i) - '0' + 1 + r.nextInt(9)) % 10 + '0').toChar
    w.substring(0, i) + c + w.substring(i + 1)
  }

  private def filterFor(j: Int, r: java.util.SplittableRandom): Option[String] =
    if (j % 4 != 3) None
    else if (j % 8 == 3) Some("lang = en")
    else Some("lang = " + Corpus.OtherLangs(r.nextInt(Corpus.OtherLangs.length)))

  /** The fixed hot set: `nRanked` ranked and `nBm25` BM25 queries. Each
    * word slot takes a Zipf quantile of the head's ranks, jittered by the
    * seed within a quarter of the rank, so every seed's hot set costs about
    * the same while its words differ. */
  def hotSet(nRanked: Int, nBm25: Int): Array[Op] = {
    val r = Corpus.rng(seed, 10, 0)
    val slots = 3 * (nRanked + nBm25)
    // one fixed pairing of slots to queries, the same for every seed
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(0x51075L))
      .shuffle((0 until slots).toVector)
    def headAt(slot: Int): String = {
      val u = (order(slot) + 0.5) / slots
      val k = (math.exp(u * math.log(head.length + 1.0)) - 1).toInt
      head(math.min(head.length - 1, k + r.nextInt(k / 4 + 1)))
    }
    val ranked = (0 until nRanked).map { j =>
      val nWords = j % 3 + 1
      val ws = mutable.ArrayBuffer.tabulate(nWords)(i => headAt(3 * j + i))
      if (nWords == 3 && j % 2 == 0)
        ws(0) = Corpus.StopWords(r.nextInt(Corpus.StopWords.length))
      if (j % 6 == 2 && typoProne.nonEmpty) {
        val w = typoProne(r.nextInt(typoProne.length))
        ws(nWords - 1) = if (j % 12 == 2) typo(r, w) else w
      }
      val q =
        if (j % 4 == 1 && ws.last.length >= 3) (ws.init :+ ws.last.dropRight(1)).mkString(" ")
        else ws.mkString(" ") + " "
      Ranked(q, filterFor(j, r))
    }
    val bm25 = (0 until nBm25).map { j =>
      Bm25Q((0 to j % 3).map(i => headAt(3 * (nRanked + j) + i)).distinct)
    }
    val all: Array[Op] = (ranked ++ bm25).toArray[Op]
    all.foreach {
      case q: Ranked => used ++= q.words
      case q: Bm25Q => used ++= q.terms
    }
    all
  }

  /** The hot client's cyclic order over a hot set of `hotSize` queries:
    * one seeded permutation, so every query runs equally often. */
  def order(hotSize: Int): Array[Int] =
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5eedL))
      .shuffle((0 until hotSize).toVector).toArray

  private lazy val coldPool: Vector[String] = {
    val r = scala.util.Random.javaRandomToRandom(new java.util.Random(seed * 31 + 7))
    r.shuffle(wWords.drop(QueryGen.ColdFromRank).toVector)
  }
  private var coldPos = 0

  /** The next `k` cold words no query has used, or None when they run out. */
  private def take(k: Int): Option[Seq[String]] = {
    val ws = Seq.newBuilder[String]
    var got = 0
    while (got < k && coldPos < coldPool.length) {
      val w = coldPool(coldPos)
      coldPos += 1
      if (used.add(w)) { ws += w; got += 1 }
    }
    if (got == k) Some(ws.result()) else None
  }

  /** Cold queries alternating ranked and BM25. Ranked ones cycle through
    * 1 word, 2 words, 1 word filtered on `lang = en`, 2 words; BM25 ones
    * through 1 and 2 terms. Ends when the words run out. */
  def cold(): Iterator[Op] =
    Iterator.from(0).map { i =>
      if (i % 2 == 0) {
        val shape = (i / 2) % 4
        take(shape % 2 + 1).map(ws =>
          Ranked(ws.mkString(" ") + " ", if (shape == 2) Some("lang = en") else None): Op)
      } else take((i / 2) % 2 + 1).map(ws => Bm25Q(ws): Op)
    }.takeWhile(_.isDefined).map(_.get)
}

object QueryGen {
  /** `GraftIndex.warmServing`'s default dictionary head. */
  final val ColdFromRank = 4096
}
