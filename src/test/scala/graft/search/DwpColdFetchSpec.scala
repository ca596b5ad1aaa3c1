package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}
import graft.webgen.WebPages

/** The rank drain's cold forward-index fetch (`DwpCache.getForDocs`) pages
  * in only the CHOSEN docs' rows for heavy words instead of each word's
  * whole forward range, then back-fills the complete entry asynchronously.
  * Pins: (a) the restricted fetch returns exactly the full fetch filtered
  * to the requested docids, (b) the background fill converges to the same
  * complete cache entry a blocking fill produces, (c) end-to-end ranked
  * results through the drain are unchanged, (d) a background fill that
  * fails caches nothing and leaves the next call free to schedule one. */
class DwpColdFetchSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private lazy val stg = IndexSettings(searchableFields = Seq("text"))
  private lazy val dir: String = {
    val d = graft.TestSpark.tempDir("graft-dwpcold")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, 1500), d, resume = false)
    d
  }

  private def freshIndex: GraftIndex = GraftIndex(spark, dir, stg)

  test("docid-restricted fetch = full fetch filtered to the docids; async fill converges") {
    val idx = freshIndex
    idx.warm()
    val full = freshIndex // independent handle: ground truth via blocking get
    full.warm()
    val words = Seq("the", "w3")
    val (fullW, _) = full.dwpCache.get(words, Nil)
    val docids = fullW("the").map(_._1).distinct.sorted.take(25)

    // force the restricted path regardless of corpus size
    val (gotW, _) = idx.dwpCache.getForDocs(words, Nil, docids, asyncFillMinBytes = 0L)
    words.foreach { w =>
      val expect = fullW(w).filter(r => docids.contains(r._1))
        .map(r => (r._1, r._2, r._3.toSeq)).toSeq
      gotW(w).map(r => (r._1, r._2, r._3.toSeq)).toSeq shouldBe expect
    }

    // the background complete fill must land and equal the blocking fill
    val deadline = System.nanoTime() + 30L * 1000000000L
    var filled: Option[Seq[(Int, String, Array[Int])]] = None
    while (filled.isEmpty && System.nanoTime() < deadline) {
      val (w, _) = idx.dwpCache.getForDocs(words, Nil, docids, asyncFillMinBytes = 0L)
      // once the fill landed, the entry is a cache HIT and carries ALL rows
      if (w("the").length == fullW("the").length) filled = Some(w("the").toSeq)
      else Thread.sleep(50)
    }
    withClue("async fill never landed") { filled.isDefined shouldBe true }
    filled.get.map(r => (r._1, r._2, r._3.toSeq)) shouldBe
      fullW("the").toSeq.map(r => (r._1, r._2, r._3.toSeq))
  }

  test("a failed background fill is dropped: rows stay right and a later call refills") {
    // every Spark scan of the forward index throws; the restricted fetch
    // reads directly, while the background fill always takes the scan
    val scans = new java.util.concurrent.atomic.AtomicInteger()
    val idx = new GraftIndex(spark, dir, stg) {
      override lazy val docWordPositions: org.apache.spark.sql.DataFrame = {
        scans.incrementAndGet()
        throw new IllegalStateException("doc_word_positions scan fails")
      }
    }
    val words = Seq("the", "w3")
    val (fullW, _) = freshIndex.dwpCache.get(words, Nil)
    val theDocs = fullW("the").map(_._1).distinct.sorted
    def check(docids: Array[Int]): Unit = {
      val (gotW, _) = idx.dwpCache.getForDocs(words, Nil, docids, asyncFillMinBytes = 0L)
      words.foreach { w =>
        withClue(s"rows of '$w': ") {
          gotW(w).map(r => (r._1, r._2, r._3.toSeq)).toSeq shouldBe
            fullW(w).filter(r => docids.contains(r._1))
              .map(r => (r._1, r._2, r._3.toSeq)).toSeq
        }
      }
    }
    val escaped = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prevHandler = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler((_, e) => escaped.add(e))
    try {
      check(theDocs.take(25))
      idx.dwpCache.awaitFills()
      withClue("the background fill never ran: ")(scans.get() shouldBe 1)
      // not cached: another slice is fetched restricted again, not served
      // whole, and its fill is scheduled anew (the failed fill cleared
      // its `filling` keys)
      check(theDocs.slice(25, 50))
      idx.dwpCache.awaitFills()
      withClue("no new fill was scheduled after the failed one: ")(scans.get() shouldBe 2)
    } finally Thread.setDefaultUncaughtExceptionHandler(prevHandler)
    escaped shouldBe empty
  }

  test("direct page-pruned dwp fetch ≡ Spark scan (words, prefixes, docFilter)") {
    val d = graft.TestSpark.tempDir("graft-dwpdirect")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, 1200), d, resume = false)
    val words = Seq("the", "w3", "w100", "zzz-novel-word")
    val pfxs = Seq("w1")
    def canon(m: Map[String, Array[(Int, String, Array[Int])]]) =
      m.map { case (k, a) => k -> a.map(r => (r._1, r._2, r._3.toSeq)).toSeq }

    val before = DirectParquet.reads.get()
    val (wA, pA) = GraftIndex(spark, d, stg).dwpCache.get(words, pfxs)
    withClue("direct path did not engage: ")(
      DirectParquet.reads.get() should be > before)

    // a zero volume gate refuses the direct read: a fresh handle takes the
    // Spark scan
    val (wB, pB) = GraftIndex.withDwpMaxRows(0L) {
      GraftIndex(spark, d, stg).dwpCache.get(words, pfxs)
    }
    canon(wA) shouldBe canon(wB)
    canon(pA) shouldBe canon(pB)

    // restricted parity on fresh handles (cold caches both sides)
    val docids = wB("the").map(_._1).distinct.sorted.take(30)
    val (rwA, rpA) = GraftIndex(spark, d, stg).dwpCache
      .getForDocs(words, pfxs, docids, asyncFillMinBytes = 0L)
    rwA.keySet shouldBe wB.keySet
    rwA.foreach { case (w, a) =>
      a.map(r => (r._1, r._2, r._3.toSeq)).toSeq shouldBe
        wB(w).filter(r => docids.contains(r._1)).map(r => (r._1, r._2, r._3.toSeq)).toSeq
    }
    (rpA.keySet, pB.keySet) match { case (x, y) => x shouldBe y }
  }

  test("ranked results identical whether the drain fetch is restricted or blocking") {
    val a = freshIndex
    val b = freshIndex
    a.warm(); b.warm()
    val search = new Search(a)
    val queries = Seq("w3 w17 ", "the w100 ", "w200 ")
    // b: pre-fill the word cache (blocking complete fetches) so its drain
    // always HITS; a: cold handle whose drain takes the restricted path
    queries.foreach { q =>
      val words = q.trim.split(' ').toSeq
      b.dwpCache.get(words, Nil)
    }
    val searchB = new Search(b)
    queries.foreach { q =>
      val ra = search.execute(SearchRequest(query = Some(q), limit = 20))
      val rb = searchB.execute(SearchRequest(query = Some(q), limit = 20))
      withClue(s"query '$q'") {
        ra.documentsIds shouldBe rb.documentsIds
        ra.candidates shouldBe rb.candidates
      }
    }
  }
}
