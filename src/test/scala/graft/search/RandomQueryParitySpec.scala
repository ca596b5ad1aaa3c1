package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}
import graft.webgen.WebPages

/** Randomized (seeded) parity harness: for a broad sample of query shapes
  * — word counts, rare/common mix, trailing prefixes, typos on/off, quoted
  * phrases, filters, pagination — the driver-side local path must return
  * EXACTLY the distributed path's ids and counts, and the BM25 fast path
  * must equal forced full scoring. This is the breadth net behind the
  * fixture matrix: any future drain/cache optimization that diverges on an
  * untested shape trips here first. */
class RandomQueryParitySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private lazy val stg = IndexSettings(
    searchableFields = Seq("text"), filterableFields = Set("lang"),
    sortableFields = Set("lang", "url"))
  // corpus size knob: bigger corpora engage the volume/byte gates, bound
  // cells, and strata refinement WITHOUT forcing them (the forced-gate
  // test below stays the small-corpus net) — e.g.
  // SPARK_GRAFT_PARITY_DOCS=10000 SPARK_GRAFT_PARITY_CASES=200
  private val nDocs =
    sys.env.get("SPARK_GRAFT_PARITY_DOCS").map(_.toLong).getOrElse(2500L)
  private lazy val dir: String = {
    val d = graft.TestSpark.tempDir("graft-randparity")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, nDocs), d, resume = false)
    d
  }
  private lazy val index = GraftIndex(spark, dir, stg)
  private lazy val local = new Search(index)
  private lazy val dist = new Search(index, maxLocalPostings = 0)

  // deeper sweeps on demand: SPARK_GRAFT_PARITY_CASES=200
  // SPARK_GRAFT_PARITY_SEED=<n> sbt "testOnly *RandomQueryParitySpec"
  private val nCases =
    sys.env.get("SPARK_GRAFT_PARITY_CASES").map(_.toInt).getOrElse(40)
  private val rng = new scala.util.Random(
    sys.env.get("SPARK_GRAFT_PARITY_SEED").map(_.toLong).getOrElse(20260817L))

  private def randomWord(): String = {
    val r = rng.nextDouble()
    if (r < 0.25) Seq("the", "and", "for")(rng.nextInt(3))          // stop layer
    else if (r < 0.70) s"w${rng.nextInt(120)}"                       // common zipf head
    else if (r < 0.90) s"w${200 + rng.nextInt(2000)}"                // mid
    else s"w${5000 + rng.nextInt(40000)}"                            // rare/absent
  }

  private def randomQuery(): String = {
    val n = 1 + rng.nextInt(3)
    val words = Seq.fill(n)(randomWord())
    val base =
      if (n >= 2 && rng.nextDouble() < 0.20)
        s""""${words.take(2).mkString(" ")}" ${words.drop(2).mkString(" ")}""".trim
      else words.mkString(" ")
    if (rng.nextDouble() < 0.5) base + " " else base // trailing space = no prefix
  }

  test(s"$nCases random queries: local path ≡ distributed path (ids + counts)") {
    (1 to nCases).foreach { i =>
      val q = randomQuery()
      val typos = rng.nextBoolean()
      val filter =
        if (rng.nextDouble() < 0.3)
          Some(Seq("lang = en", "lang != en", "lang IN [fr, de]")(rng.nextInt(3)))
        else None
      val offset = if (rng.nextDouble() < 0.3) rng.nextInt(15) else 0
      val req = SearchRequest(query = Some(q), filter = filter,
        authorizeTypos = typos, offset = offset, limit = 20)
      val a = local.execute(req)
      val b = dist.execute(req)
      withClue(s"#$i query=[$q] typos=$typos filter=$filter offset=$offset: ") {
        a.documentsIds shouldBe b.documentsIds
        a.candidates shouldBe b.candidates
        ForcedRoutes.check(local, req, b)
      }
    }
  }

  // deep-sweep regressions (seeds 424242 #210 / 77001122 #29): the local
  // drain's rank fetch skipped exactness part words that reach the tree
  // only as PREFIX keys (last query word), collapsing exactness into a
  // docid tie; and execute() used to TRIM the query, silently turning a
  // trailing-space (finished, non-prefix) last word back into a prefix
  test("pinned: exactness discriminates within a one-word words bucket") {
    for ((q, offset) <- Seq(("w0 w1951 w96 ", 10), ("the w1636 w29", 0))) {
      val req = SearchRequest(query = Some(q), authorizeTypos = false,
        offset = offset, limit = 20)
      val a = local.execute(req)
      val b = dist.execute(req)
      withClue(s"query=[$q] offset=$offset: ") {
        a.documentsIds shouldBe b.documentsIds
        a.candidates shouldBe b.candidates
        ForcedRoutes.check(local, req, b)
      }
    }
  }

  test("pinned: trailing space disables prefix expansion of the last word") {
    // "w29" has extensions in the corpus (w290..): the prefixed query must
    // see strictly more candidates than the trailing-space one, and both
    // paths must agree on each
    val pfx = local.execute(SearchRequest(query = Some("w29"), limit = 5))
    val exact = local.execute(SearchRequest(query = Some("w29 "), limit = 5))
    val distPfx = dist.execute(SearchRequest(query = Some("w29"), limit = 5))
    val distExact = dist.execute(SearchRequest(query = Some("w29 "), limit = 5))
    pfx.candidates shouldBe distPfx.candidates
    exact.candidates shouldBe distExact.candidates
    pfx.documentsIds shouldBe distPfx.documentsIds
    exact.documentsIds shouldBe distExact.documentsIds
    assert(pfx.candidates > exact.candidates,
      s"prefix ${pfx.candidates} should exceed exact ${exact.candidates}")
  }

  // the plain sweep never exercises bound prox cells or strata refinement
  // at this corpus size (buckets < BoundCellMinBucket / RefineMinDocs =
  // 4096) — the offset-40 bound-floor bug lived there. Force the gates low
  // and hammer 3-word shapes so the cell subdivision + verification loop
  // get randomized coverage too.
  test("random 3-word queries with cells forced: local ≡ distributed") {
    val prevB = RankCells.BoundCellMinBucket
    val prevR = RankCells.RefineMinDocs
    RankCells.BoundCellMinBucket = 1L
    RankCells.RefineMinDocs = 64L
    try {
      // pinned: repeated query words collapse the plane sweep's emissions
      // (equal-position configs are suppressed; all-suppressed docs default
      // to prox 7) — the chain bound must saturate at 7 on side overlap
      // (RankCells capRepeat) or these docs sink below their true rank
      val pinned = Seq("for for w74 ", "w3 w3 w17", "the the the ")
      (pinned.map((_, 0)) ++ (1 to math.max(20, nCases / 2)).map { _ =>
        val q = Seq.fill(3)(randomWord()).mkString(" ") +
          (if (rng.nextBoolean()) " " else "")
        (q, 1)
      }).zipWithIndex.foreach { case ((q, _), i) =>
        val offset = if (rng.nextDouble() < 0.4) rng.nextInt(40) else 0
        val req = SearchRequest(query = Some(q), offset = offset, limit = 20,
          authorizeTypos = rng.nextBoolean())
        val a = local.execute(req)
        val b = dist.execute(req)
        withClue(s"#$i query=[$q] typos=${req.authorizeTypos} offset=$offset: ") {
          a.documentsIds shouldBe b.documentsIds
          a.candidates shouldBe b.candidates
          ForcedRoutes.check(local, req, b)
        }
      }
    } finally {
      RankCells.BoundCellMinBucket = prevB
      RankCells.RefineMinDocs = prevR
    }
  }

  // the query sweeps above never touch sortCriteria/distinctOverride —
  // the pinned-map sort, facet-level tree walk (sort-only AND sort-led
  // cascades), and distinct keep-first paths had only hand-built parity
  // specs. `lang` is low-cardinality multi-doc (group walks, distinct),
  // `url` is unique-per-doc (deep string level trees, docid-dense pages).
  test("random sort/distinct queries: local ≡ distributed") {
    import Criterion._
    val sortLed = Seq(Sort, Words, Typo, Proximity, Attribute, Exactness)
    (1 to math.max(25, nCases / 2)).foreach { i =>
      val q = if (rng.nextDouble() < 0.15) None else Some(randomQuery())
      val sorts =
        if (q.isEmpty || rng.nextDouble() < 0.8)
          Seq(SortSpec(Seq("lang", "url")(rng.nextInt(2)),
            ascending = rng.nextBoolean()))
        else Nil
      val criteria =
        if (sorts.nonEmpty && rng.nextBoolean()) Some(sortLed) else None
      val distinct =
        if (rng.nextDouble() < 0.35) Some(Some("lang")) else None
      val offset = if (rng.nextDouble() < 0.3) rng.nextInt(30) else 0
      val req = SearchRequest(query = q, sortCriteria = sorts,
        criteriaOverride = criteria, distinctOverride = distinct,
        offset = offset, limit = 20, authorizeTypos = rng.nextBoolean())
      val a = local.execute(req)
      val b = dist.execute(req)
      withClue(s"#$i query=$q sorts=$sorts sortLed=${criteria.isDefined} " +
          s"distinct=$distinct offset=$offset: ") {
        a.documentsIds shouldBe b.documentsIds
        a.candidates shouldBe b.candidates
        ForcedRoutes.check(local, req, b)
      }
    }
  }

  test("15 random BM25 term sets: fast path ≡ full scoring") {
    val bm25 = new Bm25(index)
    (1 to 15).foreach { i =>
      val terms = Seq.fill(1 + rng.nextInt(3))(randomWord()).distinct
      val fast = bm25.topK(terms, 20)
      val full = bm25.topK(terms, 20, prune = false)
      withClue(s"#$i terms=$terms: ") {
        fast.map(_._1).toSeq shouldBe full.map(_._1).toSeq
        fast.zip(full).foreach { case ((_, sa), (_, sb)) =>
          sa shouldBe (sb +- 1e-9)
        }
      }
    }
  }
}
