package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}
import graft.webgen.WebPages

/** Attribute / exactness CELL REFINEMENT (tables #10/#12 +
  * fid_word_count_docids) must be invisible in results: with the
  * refinement forced on (engagement floor 1), every query's page and
  * candidate count must equal BOTH the unrefined local drain's and the
  * distributed oracle's. The labels feed the final rank order directly
  * (`knownAttr` / `knownExact` become vector components), so any
  * strata-vs-linear-rank divergence breaks these parities. Also pins that
  * the refinement ENGAGES and that the proven docs skip the forward fetch
  * (the strata are exactly milli's attribute.rs / exactness.rs reads —
  * word_position_docids, word_prefix_position_docids,
  * fid_word_count_docids — re-expressed against the linear rank). */
class AttrExactCellSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  // two searchable fields → positions spread over two fid bands, so the
  // attribute rank genuinely varies across docs and fields
  private lazy val stg = IndexSettings(
    searchableFields = Seq("url", "text"), filterableFields = Set("lang"))
  private lazy val index: GraftIndex = {
    val dir = graft.TestSpark.tempDir("graft-attrcell")
    new IndexBuilder(spark, stg).build(WebPages.generate(spark, 3000), dir,
      resume = false)
    GraftIndex(spark, dir, stg)
  }

  private def withRefine[A](f: => A): A = {
    val prev = RankCells.RefineMinDocs
    RankCells.RefineMinDocs = 1L // engage on this small corpus
    try f finally RankCells.RefineMinDocs = prev
  }

  private def withoutRefine[A](f: => A): A = {
    val prev = RankCells.RefineMinDocs
    RankCells.RefineMinDocs = Long.MaxValue
    try f finally RankCells.RefineMinDocs = prev
  }

  private val queries = Seq(
    "the w100 ",      // 2-word common: big (typo 0, prox p) tie cells
    "the of ",        // two stop words: giant tie cell
    "w3 w17 ",
    "the w1",         // trailing prefix (dict prefix → #12 rows)
    "w3 w170",        // trailing prefix, longer
    "w1234 w123 ",    // typo'd long word: stratified typo cells first
    "w200 ",          // single word: attr strata order the whole bucket
    "the w100 w2500 " // 3 words: bound prox cells → attr refinement skipped
  )

  private def run(s: Search, q: String, criteria: Option[Seq[Criterion]] = None,
      offset: Int = 0, limit: Int = 20): SearchResult =
    s.execute(SearchRequest(query = Some(q), limit = limit, offset = offset,
      criteriaOverride = criteria))

  test("refined drain is rank-identical to unrefined local and distributed") {
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    val a0 = RankCells.attrDrains.get()
    queries.foreach { q =>
      val refined = withRefine(run(local, q))
      val plain = withoutRefine(run(local, q))
      val oracle = run(dist, q)
      withClue(s"query '$q': ") {
        refined.documentsIds shouldBe plain.documentsIds
        refined.documentsIds shouldBe oracle.documentsIds
        refined.candidates shouldBe oracle.candidates
      }
    }
    withClue("attr strata never engaged: ")(
      RankCells.attrDrains.get() should be > a0)
  }

  test("exactness strata engage when attribute is absent from the criteria") {
    import Criterion._
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    val e0 = RankCells.exactDrains.get()
    val crits = Some(Seq(Words, Typo, Proximity, Exactness))
    Seq("the w100 ", "the of ", "w3 w17 ").foreach { q =>
      val refined = withRefine(run(local, q, criteria = crits))
      val oracle = run(dist, q, criteria = crits)
      withClue(s"query '$q': ") {
        refined.documentsIds shouldBe oracle.documentsIds
        refined.candidates shouldBe oracle.candidates
      }
    }
    withClue("exactness strata never engaged: ")(
      RankCells.exactDrains.get() should be > e0)
  }

  test("attr strata chain into exactness strata under the default criteria") {
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    val e0 = RankCells.exactDrains.get()
    withRefine {
      // tie-heavy generated text: many docs share (typo, prox, attr), so
      // the attr cell itself exceeds the floor and subdivides by exactness
      Seq("the of ", "the w0 ").foreach { q =>
        val refined = run(local, q)
        val oracle = run(dist, q)
        withClue(s"query '$q': ") {
          refined.documentsIds shouldBe oracle.documentsIds
          refined.candidates shouldBe oracle.candidates
        }
      }
    }
    withClue("exactness strata never chained after attr cells: ")(
      RankCells.exactDrains.get() should be > e0)
  }

  test("criteria permutations stay identical under refinement") {
    import Criterion._
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    val shapes = Seq(
      Some(Seq(Words, Attribute)),                    // attr right after words
      Some(Seq(Words, Attribute, Exactness)),
      Some(Seq(Words, Typo, Attribute)),
      Some(Seq(Words, Exactness)),
      Some(Seq(Words, Proximity, Attribute, Typo)),   // typo AFTER attr: no refine past it
      None)                                           // default five
    for (q <- Seq("the w100 ", "w3 w17 ", "the w1"); c <- shapes) {
      val refined = withRefine(run(local, q, criteria = c))
      val oracle = run(dist, q, criteria = c)
      withClue(s"query '$q' criteria $c: ") {
        refined.documentsIds shouldBe oracle.documentsIds
        refined.candidates shouldBe oracle.candidates
      }
    }
  }

  test("pagination across refined cells stays identical") {
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    for (off <- Seq(0, 30, 100); q <- Seq("the w100 ", "the of ")) {
      val refined = withRefine(run(local, q, offset = off, limit = 25))
      val oracle = run(dist, q, offset = off, limit = 25)
      withClue(s"query '$q' offset $off: ") {
        refined.documentsIds shouldBe oracle.documentsIds
      }
    }
  }

  test("fully-proven docs skip the forward fetch (zero dwp reads)") {
    val local = new Search(index)
    withRefine {
      run(local, "the w100 ") // prime caches / strata
      val r0 = index.positionRowCache.misses
      val res = run(local, "the w100 ")
      res.documentsIds should not be empty
      // warm repeat: strata cached on the handle, labels prove the whole
      // page → no position-row fetches either
      index.positionRowCache.misses shouldBe r0
    }
  }

  test("wide-material cells refuse refinement and stay rank-identical") {
    // the strata sweep's cost scales with the material word count, so the
    // gate (AttrCheapMaterialWords) routes wide-material cells to the
    // per-doc path unless the cell would abort the drain — results must be
    // untouched either way, and attrDrains must NOT move under cap 0
    val local = new Search(index)
    val dist = new Search(index, maxLocalPostings = 0)
    val prev = RankCells.AttrCheapMaterialWords
    RankCells.AttrCheapMaterialWords = 0 // every material is "too wide"
    index.attrStrataMemo.clear() // a memo HIT bypasses the gate by design
    try withRefine {
      val a0 = RankCells.attrDrains.get()
      Seq("the w100 ", "w3 w17 ", "the w1").foreach { q =>
        val gated = run(local, q)
        val oracle = run(dist, q)
        withClue(s"query '$q': ") {
          gated.documentsIds shouldBe oracle.documentsIds
          gated.candidates shouldBe oracle.candidates
        }
      }
      withClue("attr strata engaged despite the material gate: ")(
        RankCells.attrDrains.get() shouldBe a0)
    } finally RankCells.AttrCheapMaterialWords = prev
  }

  test("forced refinement overrides the material gate when the cell would abort the drain") {
    // a tiny drain cap makes every big cell exceed the remaining budget →
    // forced=true bypasses AttrCheapMaterialWords (refinement beats the
    // distributed abort); results stay oracle-identical whether the drain
    // then finishes locally or still falls back
    // maxLocalPostings = 1 defeats the volume gate (whose drainCap is
    // unbounded — it can never force) and routes through the Words-led
    // cell-drain admission, where drainCap = maxLocalDrain
    val tight = new Search(index, maxLocalPostings = 1, maxLocalDrain = 256)
    val dist = new Search(index, maxLocalPostings = 0)
    val prev = RankCells.AttrCheapMaterialWords
    RankCells.AttrCheapMaterialWords = 0 // refuse everything except forced
    try withRefine {
      val a0 = RankCells.attrDrains.get()
      Seq("the of ", "the w0 ").foreach { q =>
        val forcedRes = run(tight, q, limit = 5)
        val oracle = run(dist, q, limit = 5)
        withClue(s"query '$q': ") {
          forcedRes.documentsIds shouldBe oracle.documentsIds
          forcedRes.candidates shouldBe oracle.candidates
        }
      }
      withClue("forced refinement never engaged under the tight drain cap: ")(
        RankCells.attrDrains.get() should be > a0)
    } finally RankCells.AttrCheapMaterialWords = prev
  }

  test("attr strata replay from the handle memo on repeat queries") {
    // the strata depend only on (branch group material, cell docs) — a
    // repeat query must hit the memo (zero sweep) and stay rank-identical
    val local = new Search(index)
    withRefine {
      val q = "the w100 "
      val first = run(local, q)
      val h0 = index.attrStrataMemo.hits
      val second = run(local, q)
      second.documentsIds shouldBe first.documentsIds
      second.candidates shouldBe first.candidates
      withClue("repeat query never hit the strata memo: ")(
        index.attrStrataMemo.hits should be > h0)
    }
  }

  test("position tables are actually read (#10/#12 consumers)") {
    // a fresh handle (empty caches) must fetch position rows to refine
    val fresh = GraftIndex(spark, index.dir, stg)
    val r0 = fresh.positionRowCache.misses
    withRefine {
      val res = new Search(fresh).execute(
        SearchRequest(query = Some("the w1"), limit = 20))
      res.documentsIds should not be empty
    }
    withClue("expected #10/#12 position-row point reads: ")(
      fresh.positionRowCache.misses should be > r0)
  }
}
