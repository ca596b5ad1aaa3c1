package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import QueryTree.MatchingStrategy

/** Words-led phrase-free queries bypass the postings-volume gate and rank
  * through the bitmap cell drain (their cost is O(offset+limit + cells),
  * not O(postings)); a drain cap aborts oversized tie cells to the
  * distributed path. Both routes must be rank-identical to the distributed
  * oracle on every fixture query shape. */
class CellDrainAdmissionSpec extends AnyFunSuite with Matchers {

  private lazy val index = Fixture.buildIndex(TestSpark.spark)
  // maxLocalPostings = 1: EVERY query fails the volume gate, so any local
  // result comes from the widened cell-drain admission
  private lazy val bypass = new Search(index, maxLocalPostings = 1)
  // additionally cap the drain at 1 doc: every multi-doc drain must abort
  // and fall through to the distributed path (still correct)
  private lazy val capped = new Search(index, maxLocalPostings = 1, maxLocalDrain = 1)
  private lazy val oracle = new Search(index, maxLocalPostings = 0)

  private def check(name: String, req: SearchRequest): Unit = test(name) {
    val b = bypass.execute(req)
    val c = capped.execute(req)
    val d = oracle.execute(req)
    withClue("bypass vs distributed: ") {
      b.documentsIds shouldBe d.documentsIds
      b.candidates shouldBe d.candidates
    }
    withClue("capped (abort) vs distributed: ") {
      c.documentsIds shouldBe d.documentsIds
      c.candidates shouldBe d.candidates
    }
  }

  check("multi-word fixture query",
    SearchRequest(query = Some(Fixture.TestQuery), limit = 17,
      strategy = MatchingStrategy.Last, exhaustive = true))

  check("two common words",
    SearchRequest(query = Some("the quick "), limit = 10, exhaustive = true))

  check("typo'd word",
    SearchRequest(query = Some("brwon "), limit = 10, exhaustive = true))

  check("trailing prefix",
    SearchRequest(query = Some("qui"), limit = 10, exhaustive = true))

  check("single stop-ish word",
    SearchRequest(query = Some("the "), limit = 5, exhaustive = true))

  test("phrase queries never take the widened admission (and stay correct)") {
    // two words adjacent in several fixture titles and descriptions
    val req = SearchRequest(query = Some("\"hello world\""), limit = 10,
      exhaustive = true)
    bypass.routes(bypass.prepare(req).get)
      .collect { case l: Planner.Local => l.drainCap } should not contain Search.MaxLocalDrain
    val b = bypass.execute(req)
    val d = oracle.execute(req)
    d.candidates should be > 0L
    b.documentsIds shouldBe d.documentsIds
    b.candidates shouldBe d.candidates
  }

  test("filtered query with a streaming (non-bitmap) filter stays correct") {
    val req = SearchRequest(query = Some(Fixture.TestQuery), limit = 17,
      strategy = MatchingStrategy.Last, exhaustive = true,
      filter = Some("tag = blue"))
    // the bitmap-filter answer; the shared handle caches `tag = blue`
    val want = oracle.execute(req)
    GraftIndex.withFilterCacheCap(0) {
      // a fresh handle, so the filter streams
      val fresh = GraftIndex(TestSpark.spark, index.dir, index.settings)
      Seq(new Search(fresh, maxLocalPostings = 1), new Search(fresh, maxLocalPostings = 0))
        .foreach { s =>
          s.prepare(req).get.filter.exists(_.isRight) shouldBe true
          val got = s.execute(req)
          got.documentsIds shouldBe want.documentsIds
          got.candidates shouldBe want.candidates
        }
    }
  }
}
