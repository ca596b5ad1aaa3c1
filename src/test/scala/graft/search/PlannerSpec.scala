package graft.search

import org.roaringbitmap.RoaringBitmap
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The route table of the ranked-query planner, checked without Spark: a
  * fake probes object answers the index probes and records each call, so
  * every row pins both the routes a request shape gets and which probes
  * choosing them ran. */
class PlannerSpec extends AnyFunSuite with Matchers {
  import Criterion._
  import Planner._

  private val Default = Seq(Words, Typo, Proximity, Attribute, Sort, Exactness)
  private val MaxPostings = Search.DefaultMaxLocalPostings
  private val Drain = Search.MaxLocalDrain
  private val word = QueryTree.Query(prefix = false, QueryTree.Exact("w"))
  private val phrase = QueryTree.And(Seq(word, QueryTree.Phrase(Seq(Some("a"), Some("b")))))
  private val bitmapFilter: Search.Filt = Some(Left(new RoaringBitmap()))
  // the planner reads only the filter's kind; a streaming plan's DataFrame
  // is never touched
  private val streamingFilter: Search.Filt = Some(Right(null))

  private def prepared(criteria: Seq[Criterion], sorts: Seq[SortSpec] = Nil,
      distinct: Option[String] = None, filter: Search.Filt = None,
      tree: QueryTree.Op = word): Prepared =
    Prepared(SearchRequest(query = Some("q"), sortCriteria = sorts), criteria,
      distinct, filter, new RoaringBitmap(), Nil, tree, Vector(tree),
      Ranker.Derivations(Map.empty), Nil, Nil, Nil, Seq(0))

  /** Fixed probe answers; `calls` lists the probes in the order they ran. */
  private final class FakeProbes(rows: Long, pins: Boolean) extends Probes {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    def distinctPin(field: String) = {
      calls += s"distinctPin($field)"
      if (pins) Some(new java.util.HashMap[Integer, String]()) else None
    }
    def postings = { calls += "postings"; Some(rows) }
    def postingBytes = { calls += "postingBytes"; Some(rows * 52) }
    def sortComparators = {
      calls += "sortComparators"
      if (pins) Some(Map.empty[Criterion, (Int, Int) => Int]) else None
    }
  }

  private val pin = Some(new java.util.HashMap[Integer, String]())
  private val small = 1000L
  private val large = 1L << 30
  private val uncapped = Local(Map.empty, None, Long.MaxValue)
  private val capped = Local(Map.empty, None, Drain)
  private val byUrl = Seq(SortSpec("url", ascending = true))
  private val sortLed = Seq(Sort, Words, Typo, Proximity, Attribute, Exactness)

  // (name, shape, estimated posting rows, fields pin, maxLocalPostings,
  //  planned routes, probes run while planning them all)
  private val table: Seq[(String, Prepared, Long, Boolean, Long, Seq[Route], Seq[String])] = Seq(
    ("criteria empty: no-rank first", prepared(Nil), small, true, MaxPostings,
      Seq(NoRank(None), uncapped, Distributed), Seq("postings", "postingBytes")),
    ("criteria empty + distinct: pinned no-rank", prepared(Nil, distinct = Some("lang")),
      small, true, MaxPostings,
      Seq(NoRank(pin), Local(Map.empty, pin, Long.MaxValue), Distributed),
      Seq("distinctPin(lang)", "postings", "postingBytes")),
    ("criteria empty + distinct + streaming filter: no no-rank",
      prepared(Nil, distinct = Some("lang"), filter = streamingFilter), small, true,
      MaxPostings, Seq(Local(Map.empty, pin, Long.MaxValue), Distributed),
      Seq("postings", "postingBytes", "distinctPin(lang)")),
    ("criteria empty + phrase: no no-rank", prepared(Nil, tree = phrase), small, true,
      MaxPostings, Seq(uncapped, Distributed), Seq("postings", "postingBytes")),
    ("small words-led: uncapped local", prepared(Default), small, true, MaxPostings,
      Seq(uncapped, Distributed), Seq("postings", "postingBytes")),
    ("large words-led: capped cell drain", prepared(Default), large, true, MaxPostings,
      Seq(capped, Distributed), Seq("postings")),
    ("large words-led + bitmap filter: capped cell drain",
      prepared(Default, filter = bitmapFilter), large, true, MaxPostings,
      Seq(capped, Distributed), Seq("postings")),
    ("large + phrase: no cell drain", prepared(Default, tree = phrase), large, true,
      MaxPostings, Seq(Distributed), Seq("postings")),
    ("large + streaming filter: no cell drain",
      prepared(Default, filter = streamingFilter), large, true, MaxPostings,
      Seq(Distributed), Seq("postings")),
    ("large + distinct: no cell drain", prepared(Default, distinct = Some("lang")),
      large, true, MaxPostings, Seq(Distributed), Seq("postings")),
    ("large typo-led: no cell drain", prepared(Seq(Typo, Words)), large, true,
      MaxPostings, Seq(Distributed), Seq("postings")),
    ("small + streaming filter: uncapped local",
      prepared(Default, filter = streamingFilter), small, true, MaxPostings,
      Seq(uncapped, Distributed), Seq("postings", "postingBytes")),
    ("small sorted + pinnable: local with comparators",
      prepared(Default, sorts = byUrl), small, true, MaxPostings,
      Seq(uncapped, Distributed), Seq("postings", "postingBytes", "sortComparators")),
    ("small sort-led + unpinnable: level walk",
      prepared(sortLed, sorts = byUrl), small, false, MaxPostings,
      Seq(SortLed("url", asc = true, sortLed.tail), Distributed),
      Seq("postings", "postingBytes", "sortComparators")),
    ("large sort-led: level walk without pinning",
      prepared(sortLed, sorts = byUrl), large, true, MaxPostings,
      Seq(SortLed("url", asc = true, sortLed.tail), Distributed), Seq("postings")),
    ("large desc-led: level walk", prepared(Seq(Desc("n"), Words)), large, true,
      MaxPostings, Seq(SortLed("n", asc = false, Seq(Words)), Distributed),
      Seq("postings")),
    ("large sort-led + second sort: distributed",
      prepared(Seq(Asc("n"), Desc("m"))), large, true, MaxPostings,
      Seq(Distributed), Seq("postings")),
    ("large geo sort: distributed",
      prepared(sortLed, sorts = Seq(SortSpec("_geo", ascending = true, Some((1.0, 2.0))))),
      large, true, MaxPostings, Seq(Distributed), Seq("postings")),
    ("large sort-led + phrase: distributed", prepared(sortLed, sorts = byUrl, tree = phrase),
      large, true, MaxPostings, Seq(Distributed), Seq("postings")),
    ("large sort-led + distinct: distributed, no pinning probe",
      prepared(sortLed, sorts = byUrl, distinct = Some("lang")), large, true,
      MaxPostings, Seq(Distributed), Seq("postings")),
    ("small sorted + distinct, unpinnable: distributed",
      prepared(Default, sorts = byUrl, distinct = Some("lang")), small, false,
      MaxPostings, Seq(Distributed),
      Seq("postings", "postingBytes", "sortComparators", "distinctPin(lang)")),
    ("maxLocalPostings = 0, words-led: distributed only", prepared(Default), small,
      true, 0L, Seq(Distributed), Nil),
    ("maxLocalPostings = 0, criteria empty + distinct: distributed only",
      prepared(Nil, distinct = Some("lang")), small, true, 0L, Seq(Distributed), Nil),
    ("maxLocalPostings = 0, sorted: distributed only", prepared(sortLed, sorts = byUrl),
      small, false, 0L, Seq(Distributed), Nil))

  table.foreach { case (name, p, rows, pins, mlp, want, probed) =>
    test(s"route table: $name") {
      val probes = new FakeProbes(rows, pins)
      Planner.routes(p, mlp, Drain, probes).toList shouldBe want
      probes.calls.toList shouldBe probed
    }
  }

  test("no pinning probe on a distributed-routed shape") {
    for {
      (_, p, rows, pins, mlp, want, _) <- table
      if want == Seq(Distributed) && (rows == large || mlp == 0L)
    } {
      val probes = new FakeProbes(rows, pins)
      Planner.routes(p, mlp, Drain, probes).toList
      probes.calls.filter(c => c.startsWith("distinctPin") || c == "sortComparators") shouldBe empty
    }
  }

  test("the probes behind later routes wait until earlier routes refuse") {
    val probes = new FakeProbes(small, pins = true)
    val routes = Planner.routes(prepared(Nil), MaxPostings, Drain, probes)
    routes.head shouldBe NoRank(None)
    probes.calls shouldBe empty
    routes.drop(1).head shouldBe uncapped
    probes.calls.toList shouldBe Seq("postings", "postingBytes")
  }
}
