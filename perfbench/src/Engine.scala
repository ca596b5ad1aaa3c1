package perfbench

import graft.search.{Bm25, FilterEvaluator, FilterParser, GraftIndex, QueryTree, Ranker,
  Search, SearchRequest}

sealed trait Answer
final case class RankedAnswer(ids: Seq[Int]) extends Answer
final case class Bm25Answer(hits: Array[(Int, Double)]) extends Answer {
  def ids: Seq[Int] = hits.toSeq.map(_._1)
}

/** Runs operations against one `GraftIndex` handle. With tracing on, the
  * benchmark first calls each layer's public function itself, inside a
  * span, then the full `execute` / `topK`, whose span is the time left
  * once those layers have been called. */
final class Engine(val index: GraftIndex, tracer: Tracer, val limit: Int = 20) {
  val search = new Search(index)
  val bm25 = new Bm25(index)
  private val settings = index.settings

  def request(op: Ranked): SearchRequest =
    SearchRequest(query = Some(op.q), filter = op.filter, limit = limit, exhaustive = false)

  def run(op: Op, phase: String): Answer = {
    val qid = tracer.nextId()
    op match {
      case r: Ranked =>
        tracer.span(phase, "ranked", qid, id = qid) {
          if (tracer.enabled) rankedLayers(r, phase, qid)
          RankedAnswer(tracer.span(phase, "execute", qid, qid)(search.execute(request(r))).documentsIds)
        }
      case b: Bm25Q =>
        tracer.span(phase, "bm25", qid, id = qid) {
          if (tracer.enabled)
            tracer.spanV(phase, "postings_get", qid, qid, 0L)(index.postingCache.get(b.terms))(
              _.valuesIterator.map(_.length.toLong).sum)
          Bm25Answer(tracer.span(phase, "topk", qid, qid)(bm25.topK(b.terms, limit)))
        }
    }
  }

  private def rankedLayers(r: Ranked, phase: String, qid: Long): Unit = {
    val req = request(r)
    val tree = tracer.span(phase, "querytree", qid, qid) {
      val parts = QueryTree.primitiveQuery(r.q, settings.stopWords, req.wordsLimit)
      val words = parts.collect { case QueryTree.PWord(w, _) => w }
      QueryTree.build(index.primedQueryContext(words), req.strategy, req.authorizeTypos, parts)
    }
    tracer.span(phase, "derivations", qid, qid) {
      tree.foreach(t => index.derivations(QueryTree.wordsBranches(t).flatMap(Ranker.derivationKeys).toSet))
    }
    // FilterEvaluator always runs a Spark job, so it is timed only where
    // every query is a first touch (the cold phases)
    if (phase != "hot") r.filter.foreach { f =>
      tracer.spanV(phase, "filter", qid, qid, 0L)(
        FilterEvaluator.evaluate(index, FilterParser.parse(f)))(_.getLongCardinality)
    }
    val exact = if (r.prefixLast) r.words.init else r.words
    tracer.spanV(phase, "dwp_get", qid, qid, 0L)(index.dwpCache.get(exact, Nil))(
      got => got._1.valuesIterator.map(_.length.toLong).sum)
  }

  /** The distributed reference route: no driver-side fast path. */
  lazy val reference = new Search(index, maxLocalPostings = 0)
}
