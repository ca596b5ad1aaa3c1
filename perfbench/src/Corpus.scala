package perfbench

import scala.collection.mutable

/** One generated document: `docid` is graft's internal id, `id` the
  * external primary key that replace-on-add matches on. */
final case class Doc(docid: Int, id: String, text: String, lang: String)

/** The generated corpus, following the recipe of `graft.webgen.WebPages`:
  * a Zipf(1.07) vocabulary of 50,000 `w<rank>` words, a stop-word layer
  * drawn 35% of the time, lognormal lengths, a short title, and 90% `en`
  * pages. Every document is a pure function of (seed, stream, i), so the
  * same seed gives the same corpus, update batch and queries. */
object Corpus {
  final val VocabSize = 50000
  final val ZipfS = 1.07
  final val StopWords: Array[String] = Array("the", "of", "and", "to", "in",
    "a", "is", "that", "for", "it", "as", "was", "with", "be", "by")
  final val OtherLangs: Array[String] = Array("fr", "de", "es", "zh")

  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(k => 1.0 / math.pow(k + 1, ZipfS))
    val sum = w.sum
    var acc = 0.0
    val c = w.map { x => acc += x / sum; acc }
    c(VocabSize - 1) = 1.0
    c
  }

  def rng(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9e3779b97f4a7c15L ^ (stream << 48) ^ (i * 0xbf58476d1ce4e5b9L))

  /** Zipf rank (0-based) for a uniform draw. */
  def zipfRank(u: Double): Int = {
    var lo = 0
    var hi = VocabSize - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def word(r: java.util.SplittableRandom): String =
    if (r.nextDouble() < 0.35) StopWords(r.nextInt(StopWords.length))
    else "w" + zipfRank(r.nextDouble())

  /** Title words then body words, single-space separated — the text that
    * `WebPages.extractText` recovers from its generated html. */
  def doc(seed: Long, stream: Long, i: Long, docid: Int, id: String): Doc = {
    val r = rng(seed, stream, i)
    val len = math.max(8, math.exp(5.6 + 0.6 * r.nextGaussian()) / 5.6).toInt.min(2000)
    val titleLen = 3 + r.nextInt(6)
    val sb = new StringBuilder
    var k = 0
    while (k < titleLen + len) {
      if (k > 0) sb.append(' ')
      sb.append(word(r))
      k += 1
    }
    val lang = if (r.nextDouble() < 0.9) "en" else OtherLangs(r.nextInt(OtherLangs.length))
    Doc(docid, id, sb.toString, lang)
  }

  def base(seed: Long, n: Int): Array[Doc] =
    Array.tabulate(n)(i => doc(seed, 1, i, i, s"doc-$i"))
}

/** The update batch of the `ingest` workload: `added` new documents,
  * `replaced` new versions of existing ids (fresh docids, same `id`), and
  * `deleted` docids soft-deleted afterwards. */
final case class UpdateBatch(added: Array[Doc], replaced: Array[Doc], deleted: Array[Int]) {
  def docs: Array[Doc] = added ++ replaced
}

object UpdateBatch {
  def apply(seed: Long, base: Array[Doc], nAdd: Int, nReplace: Int, nDelete: Int): UpdateBatch = {
    val n = base.length
    val added = Array.tabulate(nAdd)(j => Corpus.doc(seed, 2, j, n + j, s"doc-${n + j}"))
    val r = Corpus.rng(seed, 3, 0)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < nReplace + nDelete) picked += r.nextInt(n)
    val (rep, del) = picked.toArray.splitAt(nReplace)
    val replaced = rep.zipWithIndex.map { case (old, j) =>
      Corpus.doc(seed, 4, j, n + nAdd + j, base(old).id)
    }
    UpdateBatch(added, replaced, del.sorted)
  }
}

/** In-memory inverted index over the live documents, built apart from
  * graft from the generated text: whitespace tokens, exactly as generated.
  * It is the brute-force side of every correctness check. */
final class LocalIndex(val docs: Array[Doc]) {
  val byId: Map[Int, Doc] = docs.iterator.map(d => d.docid -> d).toMap
  private val tfs = new mutable.HashMap[Int, mutable.HashMap[String, Int]]()
  private val lens = new mutable.HashMap[Int, Int]()
  private val post = new mutable.HashMap[String, mutable.ArrayBuffer[Int]]()

  docs.sortBy(_.docid).foreach { d =>
    val toks = d.text.split(' ')
    val tf = new mutable.HashMap[String, Int]()
    toks.foreach(t => tf.update(t, tf.getOrElse(t, 0) + 1))
    tfs(d.docid) = tf
    lens(d.docid) = toks.length
    tf.keysIterator.foreach(w => post.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += d.docid)
  }

  val n: Int = docs.length
  val avgdl: Double = lens.valuesIterator.map(_.toDouble).sum / math.max(1, n)

  def df(w: String): Int = post.get(w).map(_.length).getOrElse(0)
  def postings(w: String): Seq[Int] = post.get(w).map(_.toSeq).getOrElse(Nil)
  def words(docid: Int): collection.Set[String] = tfs(docid).keySet
  def contains(docid: Int): Boolean = tfs.contains(docid)

  /** Words by descending document frequency (ties by word). */
  lazy val byDf: Array[String] =
    post.iterator.map { case (w, ds) => (w, ds.length) }.toArray
      .sortBy { case (w, c) => (-c, w) }.map(_._1)

  /** Docs containing every word exactly. */
  def containingAll(ws: Seq[String]): Seq[Int] =
    if (ws.isEmpty) Nil
    else {
      val lists = ws.distinct.map(postings).sortBy(_.length)
      lists.tail.foldLeft(lists.head.toSet)((acc, l) => acc.intersect(l.toSet)).toSeq
    }

  /** Full BM25 over the live documents: k1 = 1.2, b = 0.75, Robertson idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)); sorted by score desc, docid asc. */
  def bm25(terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): Array[(Int, Double)] = {
    val acc = new mutable.HashMap[Int, Double]()
    terms.distinct.foreach { t =>
      val ds = postings(t)
      if (ds.nonEmpty) {
        val idf = math.log(1.0 + (n - ds.length + 0.5) / (ds.length + 0.5))
        ds.foreach { d =>
          val tf = tfs(d)(t).toDouble
          val s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * lens(d) / avgdl))
          acc.update(d, acc.getOrElse(d, 0.0) + s)
        }
      }
    }
    acc.toArray.sortBy { case (d, s) => (-s, d) }
  }
}
