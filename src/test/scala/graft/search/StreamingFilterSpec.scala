package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Filters whose result exceeds the filter-bitmap cap stream as a docid
  * plan instead of a cached bitmap. With the cap at 0 every non-empty
  * filter streams, so the routes' streaming branches (the no-rank page,
  * the local drain's survivor semi-join) run on the fixture and must
  * answer like the bitmap filter, on ids and counts. */
class StreamingFilterSpec extends AnyFunSuite with Matchers {

  private lazy val index = Fixture.buildIndex(TestSpark.spark)

  /** Each route of `pick` the planner lists for `req` on a streaming-filter
    * handle, forced, against the bitmap-filter answer; the number of routes
    * that answered. */
  private def streamed(req: SearchRequest)(pick: Planner.Route => Boolean): Int = {
    val want = new Search(index).execute(req)
    GraftIndex.withFilterCacheCap(0) {
      // a fresh handle: the shared one keeps the bitmaps it cached
      val search = new Search(GraftIndex(TestSpark.spark, index.dir, index.settings))
      val p = search.prepare(req).get
      p.filter.exists(_.isRight) shouldBe true
      val answered = search.routes(p).filter(pick).flatMap(r => search.run(p, r))
      answered.foreach { got =>
        got.documentsIds shouldBe want.documentsIds
        got.candidates shouldBe want.candidates
      }
      answered.size
    }
  }

  test("a filtered no-rank page streams the filter and matches the bitmap filter") {
    Seq(true, false).foreach { exhaustive =>
      // no synonym phrase: the no-rank route needs a phrase-free tree
      val req = SearchRequest(query = Some("the quick "), filter = Some("tag = blue"),
        offset = 1, limit = 4, criteriaOverride = Some(Nil), exhaustive = exhaustive)
      withClue(s"exhaustive = $exhaustive: ") {
        streamed(req) { case _: Planner.NoRank => true; case _ => false } shouldBe 1
      }
    }
  }

  test("a filtered local route streams the filter and matches the bitmap filter") {
    Seq("tag = blue", "asc_desc_rank > 2 AND NOT tag = red").foreach { f =>
      val req = SearchRequest(query = Some(Fixture.TestQuery), filter = Some(f), limit = 10)
      withClue(s"filter $f: ") {
        streamed(req) { case _: Planner.Local => true; case _ => false } should be > 0
      }
    }
  }
}
