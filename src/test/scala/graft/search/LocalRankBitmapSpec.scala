package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.roaringbitmap.RoaringBitmap

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}
import graft.webgen.WebPages

/** The small-query RANKED local path resolves its words-bucket membership
  * (pass 1) with per-branch bitmap algebra off the cached word/prefix
  * docids tables — this spec pins it rank-identical to the forced
  * distributed path across criteria, typos, prefixes, filters and phrase
  * fallback, and pins the BitmapCache's presence-aware fetch-once
  * semantics. */
class LocalRankBitmapSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private lazy val stg = IndexSettings(
    searchableFields = Seq("text"), filterableFields = Set("lang"))
  private lazy val dir: String = {
    val d = graft.TestSpark.tempDir("graft-localrank")
    val docs = WebPages.generate(spark, 2000)
    new IndexBuilder(spark, stg).build(docs, d, resume = false)
    d
  }
  private lazy val index = GraftIndex(spark, dir, stg)

  private def compare(q: String, filter: Option[String] = None,
      typos: Boolean = true, limit: Int = 30, offset: Int = 0): Unit = {
    val req = SearchRequest(query = Some(q), filter = filter, limit = limit,
      offset = offset, authorizeTypos = typos)
    val local = new Search(index).execute(req)
    val dist = new Search(index, maxLocalPostings = 0).execute(req)
    withClue(s"query=$q filter=$filter typos=$typos: ") {
      local.documentsIds shouldBe dist.documentsIds
      local.candidates shouldBe dist.candidates
      local.candidates should be > 0L
    }
  }

  test("common-word ranked query (lazy bucket drain over bitmap buckets)") {
    compare("the w100 ")
  }

  test("prefix + typo ranked query") {
    compare("w25") // trailing prefix with derivations
  }

  test("multi-word with rare term") {
    compare("w3 w17 ")
  }

  test("ranked query with filter (semi-join against the bucket union)") {
    compare("w1 ", filter = Some("lang = en"))
    compare("the w100 ", filter = Some("lang != en"))
  }

  test("phrase query falls back to per-doc matching and still agrees") {
    compare("\"the w100\" ")
  }

  test("pagination within and beyond the first bucket") {
    compare("the w100 ", offset = 10, limit = 15)
  }

  test("warm ranked + bm25 queries launch ZERO Spark jobs") {
    val search = new Search(index)
    val bm25 = new Bm25(index)
    val reqs = Seq(
      SearchRequest(query = Some("the w100 "), limit = 20),
      SearchRequest(query = Some("w3 w17 "), limit = 20))
    // warm every cache path once, then drain the warmup's own background
    // complete fills — they now DEFER while queries are in flight
    // (PostingCache), so without the quiesce their Spark scan lands
    // inside the measurement window below
    reqs.foreach(search.execute)
    bm25.topK(Seq("w3", "w17"), 20)
    index.quiesce()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      reqs.foreach(search.execute)
      bm25.topK(Seq("w3", "w17"), 20)
      Thread.sleep(2000) // listener bus is async
      jobs.get() shouldBe 0
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bitmap cache is presence-aware and fetches each key once") {
    val cache = new BitmapCache()
    var calls = 0
    def fetch(keys: Seq[String]): Map[String, RoaringBitmap] = {
      calls += 1
      keys.filter(_.startsWith("hit")).map(k => k -> RoaringBitmap.bitmapOf(1, 2)).toMap
    }
    val r1 = cache.get("w", Seq("hit1", "miss1"))(fetch)
    r1("hit1").map(_.getCardinality) shouldBe Some(2)
    r1("miss1") shouldBe None
    calls shouldBe 1
    // second lookup: both keys (present AND absent) served from cache
    val r2 = cache.get("w", Seq("hit1", "miss1"))(fetch)
    r2("hit1").isDefined shouldBe true
    r2("miss1") shouldBe None
    calls shouldBe 1
    // different namespace refetches
    cache.get("p", Seq("hit1"))(fetch)
    calls shouldBe 2
  }

  test("byte gate prices position-heavy words above their row count") {
    // every page repeats its words across the text, so ttf > df for common
    // words; the byte estimate must reflect stored positions, not rows
    val words = Seq("the")
    val rows = index.estimatePostings(words, Nil).get
    val bytes = index.estimatePostingBytes(words, Nil).get
    rows should be > 0L
    // strictly more than row scaffolding alone → the ttf term is real
    bytes should be > 48L * rows
    // and consistent with the pinned dictionary's own sums: a made-up word
    // prices to zero (absent from the dictionary)
    index.estimatePostingBytes(Seq("zz_not_a_word"), Nil).get shouldBe 0L
    // prefix pricing goes through the same prefix sums
    val pBytes = index.estimatePostingBytes(Nil, Seq("w1")).get
    pBytes should be > 0L
  }

  test("pair frequencies of a full cache: an install that evicts a hit still answers it") {
    // 65,536 non-dictionary pairs fill the pair-frequency cache (each
    // cached as 0 without a scan); the next call hits the eldest of them
    // and installs one new pair. A hit lookup that does not refresh
    // recency lets that install evict the hit before it is read back.
    val idx = GraftIndex(spark, dir, stg)
    val fill = (0 until 65536).map(i => (s"zq$i", s"zr$i"))
    idx.pairFrequencies(fill).values.toSet shouldBe Set(0L)
    idx.pairFrequencies(Seq(fill.head, ("zqnew", "zrnew"))) shouldBe
      Map(fill.head -> 0L, ("zqnew", "zrnew") -> 0L)
  }
}
