package graft.search

import org.scalatest.Assertions.withClue
import org.scalatest.matchers.should.Matchers._

/** Runs every local route the planner admits for a request, each one
  * forced, against the distributed answer: a route may refuse, but when it
  * answers, its ids and count must equal the distributed route's. */
object ForcedRoutes {
  def check(search: Search, req: SearchRequest, distributed: SearchResult): Unit =
    search.prepare(req).foreach { p =>
      search.routes(p).filter(_ != Planner.Distributed).foreach { route =>
        search.run(p, route).foreach { got =>
          withClue(s"forced ${name(route)}: ") {
            got.documentsIds shouldBe distributed.documentsIds
            got.candidates shouldBe distributed.candidates
          }
        }
      }
    }

  private def name(r: Planner.Route): String = r match {
    case l: Planner.Local => s"Local(drainCap = ${l.drainCap})"
    case other            => other.toString
  }
}
