package graft.search

import org.roaringbitmap.RoaringBitmap

/** A ranked query prepared once for every route: the request with its
  * criteria, distinct field, filter and tombstones, and the query tree with
  * what the routes derive from it. */
private[search] final case class Prepared(
    req: SearchRequest,
    criteria: Seq[Criterion],
    distinctField: Option[String],
    filter: Search.Filt,
    deleted: RoaringBitmap,
    parts: Seq[QueryTree.Part],
    tree: QueryTree.Op,
    branches: Vector[QueryTree.Op],
    derivations: Ranker.Derivations,
    relevantWords: Seq[String],
    prefixWords: Seq[String],
    exactParts: Seq[Ranker.ExactPart],
    searchableFids: Seq[Int])

/** Chooses the routes of a ranked query, in the order they are tried:
  * local structures first, the distributed rank vector last (the
  * local-then-global top-k split of REPOSE, ICDE 2021). A route may refuse
  * when it runs (a drain cap, a level walk past its fetch budget) and the
  * next one answers; [[Distributed]] never refuses. The list is lazy: the
  * probes behind a later route (posting estimates, the facet pinning
  * collects) run only once every earlier route has refused. */
private[search] object Planner {

  sealed trait Route
  /** Criteria empty, no sort: the bitmap-resolved tree in docid order. */
  final case class NoRank(distinct: Option[java.util.HashMap[Integer, String]])
      extends Route
  /** A leading sort on a field too large to pin, then non-sort `rest`:
    * milli's facet sort walk (facet_sort_ascending.rs:32-110). */
  final case class SortLed(field: String, asc: Boolean, rest: Seq[Criterion])
      extends Route
  /** The in-process rank drain, comparing sort-ish criteria by pinned
    * facet values (`sortCmps`). */
  final case class Local(
      sortCmps: Map[Criterion, (Int, Int) => Int],
      distinct: Option[java.util.HashMap[Integer, String]],
      drainCap: Long) extends Route
  /** The per-candidate rank vector job. */
  case object Distributed extends Route

  /** What the planner reads off the index: field pins (Spark collects on
    * first use; None = too large to pin) and the posting rows / driver bytes
    * of the query's scan (None = the term dictionary is not pinned). */
  trait Probes {
    def distinctPin(field: String): Option[java.util.HashMap[Integer, String]]
    def postings: Option[Long]
    def postingBytes: Option[Long]
    def sortComparators: Option[Map[Criterion, (Int, Int) => Int]]
  }

  def routes(p: Prepared, maxLocalPostings: Long, maxLocalDrain: Long,
      probes: Probes): LazyList[Route] = {
    if (maxLocalPostings <= 0) return LazyList(Distributed)
    val sorts = p.req.sortCriteria
    val phraseFree = p.branches.forall(b => !QueryTree.hasPhrase(b))
    val streamingFilter = p.filter.exists(_.isRight)
    // candidates and any filter intersect as bitmaps
    val bitmapShape = phraseFree && !streamingFilter
    // Some(None) = no distinct field; None = the field does not pin
    lazy val distinctPin: Option[Option[java.util.HashMap[Integer, String]]] =
      p.distinctField match {
        case None    => Some(None)
        case Some(f) => probes.distinctPin(f).map(Some(_))
      }

    // distinct walks every candidate (≤ 4M, checked when the route runs)
    // and needs the filter in-process
    val noRank: LazyList[Route] =
      if (p.criteria.isEmpty && sorts.isEmpty && phraseFree &&
          (p.distinctField.isEmpty || (!streamingFilter && distinctPin.isDefined)))
        LazyList(NoRank(distinctPin.get))
      else LazyList.empty

    lazy val ranked: LazyList[Route] = {
      // sort-ish = facet values needed: Asc/Desc always; the Sort criterion
      // only when the request carries query-time sort entries (milli's
      // default list includes `sort`, and those queries still rank locally)
      val sortish = p.criteria.exists {
        case Criterion.Asc(_) | Criterion.Desc(_) => true
        case Criterion.Sort => sorts.nonEmpty
        case _ => false
      }
      val smallEnough = probes.postings.exists(_ <= maxLocalPostings) &&
        probes.postingBytes.exists(_ <= Search.MaxLocalBytes)
      // pinned only for queries the small gate admits, so a
      // distributed-routed query never pins
      val sortCmps: Option[Map[Criterion, (Int, Int) => Int]] =
        if (!sortish) Some(Map.empty)
        else if (smallEnough) probes.sortComparators
        else None
      val distinct =
        if (p.distinctField.isEmpty || smallEnough) distinctPin else None
      val sortLed =
        if (sortCmps.isEmpty && p.distinctField.isEmpty && bitmapShape)
          sortLedShape(p.criteria, sorts)
        else None
      // Words-led phrase-free queries stay local past the volume gate:
      // their drain is O(offset+limit + drained cells), not O(postings) —
      // the shape milli serves in-process at any corpus size. A giant tie
      // cell (a bare stop word's bucket) refuses at maxLocalDrain.
      val local =
        if (smallEnough && sortCmps.isDefined && distinct.isDefined)
          Some(Local(sortCmps.get, distinct.get, Long.MaxValue))
        else if (!sortish && p.distinctField.isEmpty && bitmapShape &&
            p.criteria.headOption.contains(Criterion.Words))
          Some(Local(Map.empty, None, maxLocalDrain))
        else None
      LazyList.from(sortLed ++ local) :+ Distributed
    }
    noRank #::: ranked
  }

  /** A leading Sort/Asc/Desc followed by non-sort criteria only (a second
    * sort level would need comparators an unpinnable field lacks). */
  private def sortLedShape(criteria: Seq[Criterion], sorts: Seq[SortSpec])
      : Option[SortLed] = {
    val led = criteria match {
      case Criterion.Sort +: rest => sorts match {
        case Seq(s) if s.geoPoint.isEmpty => Some(SortLed(s.field, s.ascending, rest))
        case _ => None
      }
      case Criterion.Asc(f) +: rest  => Some(SortLed(f, asc = true, rest))
      case Criterion.Desc(f) +: rest => Some(SortLed(f, asc = false, rest))
      case _ => None
    }
    led.filter(_.rest.forall {
      case Criterion.Sort | Criterion.Asc(_) | Criterion.Desc(_) => false
      case _ => true
    })
  }
}
