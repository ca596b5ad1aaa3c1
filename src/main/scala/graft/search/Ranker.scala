package graft.search

import scala.collection.mutable

import graft.core.Typo
import QueryTree._

/** Per-document rank-vector computation — the ground-truth (iterative)
  * formulations of milli's ranking criteria, evaluated independently per
  * candidate so the whole cascade becomes one embarrassingly-parallel Spark
  * map + a lexicographic `orderBy`:
  *
  *  - words bucket: index of the first matching-strategy branch that
  *    matches (`criteria/words.rs:31-106`)
  *  - typo bucket: minimal total typos over tree assignments — the
  *    per-doc equivalent of the typo criterion's mana-mdfs
  *    (`criteria/typo.rs:240-325`)
  *  - proximity bucket: direct port of the candidate plane sweep
  *    (`criteria/proximity.rs:349-590`)
  *  - attribute rank: direct port of the linear algorithm
  *    (`criteria/attribute.rs:472-540` + `flatten_query_tree` :569-610)
  *  - exactness rank: per-doc statement of the 3-state machine
  *    (`criteria/exactness.rs:160-290`)
  *
  * Within-bucket order is ascending docid (roaring iteration order), so the
  * total order is the lexicographic rank vector + docid — see
  * SURVEY.md §2.7 "Key invariant".
  */
object Ranker extends Serializable {

  /** Everything the evaluator knows about one candidate document.
    * Fields are `collection.Map` so the hot local rank path can pass its
    * per-doc builder maps without an immutable copy per candidate. */
  final case class DocData(
      /** matched word → sorted absolute positions */
      positions: scala.collection.Map[String, Array[Int]],
      /** fid → word count (last relative position + 1) */
      fidWordCounts: scala.collection.Map[Int, Int])

  /** Dictionary-side derivation oracle, precomputed on the driver for every
    * (word, isPrefix, maxTypo) key appearing in the query tree and
    * broadcast. `derive(key)` = dict words matching with their typo count.
    * `exactFids` = attribute ids with typos disabled: a derivation with
    * typo > 0 only matches occurrences OUTSIDE those fields (query_docids,
    * criteria/mod.rs:590-637 — typo'd lookups skip exact_word_docids). */
  final case class Derivations(
      map: Map[(String, Boolean, Int), Seq[(String, Int)]],
      exactFids: Set[Int] = Set.empty,
      /** true when prefix keys in `map` are ALREADY resolved against one
        * document's positions (see [[resolveFor]]) — `matching` then skips
        * the per-call extension scan. */
      prefixResolved: Boolean = false) {
    def apply(word: String, prefix: Boolean, maxTypo: Int): Seq[(String, Int)] =
      map.getOrElse((word, prefix, maxTypo), Nil)

    /** Per-document view with every given prefix key's matching list
      * computed ONCE — the rank vector consults each leaf from ~5 criteria,
      * and the prefix path is the allocating one (hot local drain). */
    def resolveFor(doc: DocData, prefixKeys: Seq[(String, Boolean, Int)]): Derivations =
      if (prefixKeys.isEmpty || prefixResolved) this
      else copy(
        map = map ++ prefixKeys.iterator.map { case k @ (w, p, t) =>
          k -> matching(doc, w, p, t)
        },
        prefixResolved = true)

    /** The doc's words matching a derivation key, with typo counts.
      * PREFIX extensions (0 typos) are resolved per-document — `startsWith`
      * against the doc's own (few) matched words — with NO dictionary
      * enumeration: the scan predicate already restricted `doc.positions`
      * to the query's word ranges, so this is the Spark-side stand-in for
      * milli's `word_prefix_docids` lookup (`criteria/mod.rs:590-637`): the
      * word-sorted posting table serves the prefix range directly, instead
      * of expanding a web-scale dictionary into an IN-list. For prefix keys
      * with a typo budget, only the genuinely typo'd derivations are
      * enumerated (GraftIndex.derivations excludes plain extensions). */
    def matching(doc: DocData, word: String, prefix: Boolean, maxTypo: Int): Seq[(String, Int)] = {
      val enumerated = map.getOrElse((word, prefix, maxTypo), Nil)
      if (!prefix || prefixResolved) enumerated
      // NOT sorted: every consumer reduces with min/exists or re-sorts
      // positions itself
      else doc.positions.keysIterator.filter(_.startsWith(word))
        .map((_, 0)).toVector ++ enumerated
    }

    /** do the doc's positions of `w` satisfy the typo/exact-field rule? */
    def positionsOk(positions: Array[Int], typo: Int): Boolean =
      typo == 0 || exactFids.isEmpty ||
        positions.exists(p => !exactFids.contains(p >>> 16))
  }

  /** Collect every derivation key a tree can ask for. */
  def derivationKeys(op: Op): Set[(String, Boolean, Int)] = op match {
    case And(cs)   => cs.flatMap(derivationKeys).toSet
    case Or(_, cs) => cs.flatMap(derivationKeys).toSet
    case Phrase(ws) => ws.flatten.map(w => (w, false, 0)).toSet
    case Query(prefix, kind) => kind match {
      case Exact(w, _)      => Set((w, prefix, 0))
      case Tolerant(w, t)   => Set((w, prefix, t))
    }
  }

  /** The full per-candidate rank vector (words bucket, typos, proximity,
    * attribute, exactness) — shared by the distributed rank job and the
    * driver-side small-query path. None = no branch matches. */
  def rankVector(
      doc: DocData,
      branches: IndexedSeq[Op],
      der: Derivations,
      exactParts: Seq[ExactPart],
      searchableFids: Seq[Int],
      /** pre-flattened trees per branch — pass them to avoid re-flattening
        * per candidate (hot path); None recomputes */
      flats: Option[IndexedSeq[Flat]] = None): Option[(Int, Int, Int, Long, Int)] = {
    val wordsBucket = branches.indexWhere(b => matches(b, doc, der))
    if (wordsBucket < 0) None
    else {
      val branch = branches(wordsBucket)
      val flat = flats.map(_(wordsBucket)).getOrElse(flattenQueryTree(branch))
      Some(rankVectorAt(doc, branch, wordsBucket, der, exactParts, searchableFids, flat))
    }
  }

  /** Rank vector when the words bucket is already known (the bitmap-bucketed
    * local drain) — skips the per-doc branch matching entirely.
    * `knownTypo` / `knownProx` ≥ 0 short-circuit the per-doc minTypos /
    * plane sweep with the value a (typo, prox) drain CELL already proved
    * for this doc (RankCells — the cells are exact, so the component is
    * identical; this removes the dominant per-doc cost on big cells). */
  def rankVectorAt(
      doc: DocData,
      branch: Op,
      wordsBucket: Int,
      der: Derivations,
      exactParts: Seq[ExactPart],
      searchableFids: Seq[Int],
      flat: Flat,
      /** the branch's prefix derivation keys (precomputed per branch) —
        * resolved against this doc ONCE instead of once per criterion */
      prefixKeys: Seq[(String, Boolean, Int)] = Nil,
      knownTypo: Int = -1,
      knownProx: Int = -1,
      /** attribute / exactness values proven by a refinement cell
        * (RankCells.attrCells / exactCells) — [[RankCells.AttrUnknown]] /
        * −1 compute per-doc. */
      knownAttr: Long = RankCells.AttrUnknown,
      knownExact: Int = -1): (Int, Int, Int, Long, Int) = {
    val d = der.resolveFor(doc, prefixKeys)
    (wordsBucket,
      if (knownTypo >= 0) knownTypo
      else minTypos(branch, doc, d).getOrElse(Int.MaxValue),
      if (knownProx >= 0) knownProx
      else proximityBucket(branch, doc, d),
      if (knownAttr != RankCells.AttrUnknown) knownAttr
      else attributeRank(flat, doc, d),
      if (knownExact >= 0) knownExact
      else exactnessRank(exactParts, doc, searchableFids))
  }

  // ---------------------------------------------------------------- match

  /** Does the doc match the op? (bool eval of resolve_query_tree,
    * `criteria/mod.rs:458-505`, with per-doc phrase check). */
  def matches(op: Op, doc: DocData, derivations: Derivations): Boolean = op match {
    case And(cs)   => cs.forall(matches(_, doc, derivations))
    case Or(_, cs) => cs.exists(matches(_, doc, derivations))
    case Phrase(ws) => phraseMatches(ws, doc)
    case Query(prefix, kind) =>
      derivations.matching(doc, kind.word, prefix, kind.typo).exists { case (w, typo) =>
        doc.positions.get(w).exists(derivations.positionsOk(_, typo))
      }
  }

  /** Per-doc phrase check: every non-hole word present with an occurrence
    * chain at consecutive positions (stop-word holes split subgroups —
    * proximity.rs:494-520 Phrase handling, consecutive=prox 0 sweep). */
  def phraseMatches(ws: Seq[Option[String]], doc: DocData): Boolean = {
    // all defined words must exist
    val defined = ws.flatten
    if (!defined.forall(doc.positions.contains)) return false
    phraseIntervals(ws, doc).nonEmpty
  }

  // ------------------------------------------------------------------ typo

  /** Min total typos over assignments (mana-mdfs per-doc equivalent).
    * None = no match. Phrases cost 0 (typo.rs resolve_operation). */
  def minTypos(op: Op, doc: DocData, derivations: Derivations): Option[Int] = op match {
    case And(cs) =>
      cs.foldLeft(Option(0)) { (acc, c) =>
        for (a <- acc; v <- minTypos(c, doc, derivations)) yield a + v
      }
    case Or(_, cs) =>
      val vs = cs.flatMap(minTypos(_, doc, derivations))
      if (vs.isEmpty) None else Some(vs.min)
    case Phrase(ws) => if (phraseMatches(ws, doc)) Some(0) else None
    case Query(prefix, kind) =>
      val matched = derivations.matching(doc, kind.word, prefix, kind.typo)
        .filter { case (w, typo) =>
          doc.positions.get(w).exists(derivations.positionsOk(_, typo))
        }
      if (matched.isEmpty) None
      else kind match {
        case Exact(_, ot) => Some(ot)
        case Tolerant(_, _) => Some(matched.map(_._2).min)
      }
  }

  // ------------------------------------------------------------- proximity

  /** Interval = (leftmost position, accumulated proximity, rightmost
    * position), ordered lexicographically like the reference tuples. */
  type Interval = (Int, Int, Int)

  private implicit val intervalOrd: Ordering[Interval] =
    Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Int)

  /** Direct port of `plane_sweep` (proximity.rs:356-472). `groups` are the
    * sorted interval lists of each sub-operation; returns minimal covering
    * intervals with their accumulated proximity. */
  def planeSweep(groupsPositions: Seq[Seq[Interval]], consecutive: Boolean): Seq[Interval] = {
    def computeGroupsProximity(groups: Seq[(Int, Interval)]): Option[Interval] = {
      if (groups.isEmpty) return None
      var proximity = groups.head._2._2
      val leftMostPos = groups.head._2._1
      val rightMostPos = groups.maxBy(_._2._3)._2._3
      var k = 0
      while (k + 1 < groups.length) {
        val (i1, (lpos1, _, rpos1)) = groups(k)
        val (i2, (lpos2, prox2, rpos2)) = groups(k + 1)
        if (rpos1 == rpos2 || lpos1 == lpos2 || rpos1 == lpos2 || lpos1 == rpos2)
          return None
        val pairProximity =
          if (lpos2 > rpos1) lpos2 - rpos1
          else if (rpos2 < rpos1) math.min(lpos2 - lpos1, rpos1 - rpos2)
          else math.min(lpos2 - lpos1, rpos2 - rpos1)
        val adjusted =
          if (i1 < i2) math.min(pairProximity - 1, 7) else math.min(pairProximity, 7)
        proximity += adjusted + prox2
        k += 1
      }
      if (!consecutive || proximity == 0) Some((leftMostPos, proximity, rightMostPos))
      else None
    }

    val its: Array[Iterator[Interval]] = groupsPositions.map(_.iterator).toArray
    val current = mutable.ArrayBuffer.empty[(Int, Interval)]
    var gi = 0
    while (gi < its.length) {
      if (!its(gi).hasNext) return Nil // a group with no positions → no match
      current += ((gi, its(gi).next()))
      gi += 1
    }
    current.sortInPlaceBy(_._2)
    var leftmost = current.head
    var rightmost = current.last
    val output = mutable.ArrayBuffer.empty[Interval]
    var break = false
    while (!break) {
      val p: Option[(Int, Interval)] =
        if (its(leftmost._1).hasNext) Some((leftmost._1, its(leftmost._1).next())) else None
      val q = current(1)
      if (p.forall(pp => intervalOrd.gt(pp._2, rightmost._2))) {
        computeGroupsProximity(current.toSeq).foreach(output += _)
      }
      p match {
        case None => break = true
        case Some(pp) =>
          current(0) = pp
          if (intervalOrd.gt(pp._2, rightmost._2)) { rightmost = pp; leftmost = q }
          else leftmost = if (intervalOrd.lt(pp._2, q._2)) pp else q
          current.sortInPlaceBy(_._2)
      }
    }
    output.sortInPlace()
    output.toSeq
  }

  /** Phrase → interval list (proximity.rs:494-521): stop-word holes split
    * the phrase into consecutive subgroups swept with prox 0, then the
    * subgroups are swept non-consecutively. */
  def phraseIntervals(ws: Seq[Option[String]], doc: DocData): Seq[Interval] = {
    val groupsPositions = mutable.ArrayBuffer.empty[Seq[Interval]]
    // linear_group_by_key(Option::is_none)
    val runs = mutable.ArrayBuffer.empty[Seq[Option[String]]]
    var cur = mutable.ArrayBuffer.empty[Option[String]]
    ws.foreach { w =>
      if (cur.nonEmpty && cur.head.isEmpty != w.isEmpty) {
        runs += cur.toSeq; cur = mutable.ArrayBuffer.empty
      }
      cur += w
    }
    if (cur.nonEmpty) runs += cur.toSeq
    runs.foreach { run =>
      if (run.headOption.flatten.isDefined) {
        val subgroup = mutable.ArrayBuffer.empty[Seq[Interval]]
        var missing = false
        run.foreach { w =>
          doc.positions.get(w.get) match {
            case Some(ps) => subgroup += ps.toSeq.map(p => (p, 0, p))
            case None     => missing = true
          }
        }
        if (missing) return Nil
        subgroup.length match {
          case 0 =>
          case 1 => groupsPositions += subgroup.head
          case _ => groupsPositions += planeSweep(subgroup.toSeq, consecutive = true)
        }
      }
    }
    groupsPositions.length match {
      case 0 => Nil
      case 1 => groupsPositions.head
      case _ => planeSweep(groupsPositions.toSeq, consecutive = false)
    }
  }

  /** resolve_operation of the plane-sweep proximity (proximity.rs:476-560). */
  def proximityIntervals(op: Op, doc: DocData, derivations: Derivations): Seq[Interval] =
    op match {
      case And(cs) =>
        val groups = cs.map(proximityIntervals(_, doc, derivations))
        planeSweep(groups, consecutive = false)
      case Phrase(ws) => phraseIntervals(ws, doc)
      case Or(_, cs) =>
        cs.flatMap(proximityIntervals(_, doc, derivations)).sorted
      case Query(prefix, kind) =>
        val words = derivations.matching(doc, kind.word, prefix, kind.typo).map(_._1)
        // positions arrays are sorted; the single-matched-word case (the
        // common one — stop words match only themselves) skips the boxed
        // tuple sort entirely, the dominant per-doc sweep cost on docs
        // with ~100 occurrences of a frequent word
        val present = words.filter(doc.positions.contains)
        if (present.lengthCompare(1) == 0)
          doc.positions(present.head).toSeq.map(p => (p, 0, p))
        else
          present.flatMap(w => doc.positions(w))
            .map(p => (p, 0, p)).sorted
    }

  /** Best (minimal) proximity of the doc for the tree; 7 when unmatched
    * (proximity.rs:585-590). */
  def proximityBucket(op: Op, doc: DocData, derivations: Derivations): Int = {
    val intervals = proximityIntervals(op, doc, derivations)
    if (intervals.isEmpty) 7 else intervals.map(_._2).min
  }

  // ------------------------------------------------------------- attribute

  /** FlattenedQueryTree: branches → conjunct groups → query alternatives
    * (`flatten_query_tree`, attribute.rs:569-610). */
  type Flat = Seq[Seq[Seq[Query]]]

  def flattenQueryTree(op: Op): Flat = {
    def andRecurse(head: Op, tail: Seq[Op]): Flat = tail match {
      case th +: tt =>
        val tailFlat = andRecurse(th, tt)
        for { arr <- recurse(head); tailArr <- tailFlat } yield arr ++ tailArr
      case _ => recurse(head)
    }
    def recurse(o: Op): Flat = o match {
      case And(ops) =>
        ops match {
          case h +: t => andRecurse(h, t)
          case _      => Nil
        }
      case Or(_, ops) =>
        val queries = ops.collect { case q: Query => q }
        if (queries.length == ops.length && ops.nonEmpty)
          Seq(Seq(queries))
        else ops.flatMap(recurse)
      case Phrase(ws) =>
        Seq(ws.flatten.map(w => Seq(Query(prefix = false, Exact(w)))))
      case q: Query => Seq(Seq(Seq(q)))
    }
    recurse(op)
  }

  final val Lcm10 = 2520L // attribute.rs:20

  /** Linear attribute rank (`compute_candidate_rank`, attribute.rs:477-540). */
  def attributeRank(flat: Flat, doc: DocData, derivations: Derivations): Long = {
    var minRank = Long.MaxValue
    flat.foreach { branch =>
      val branchLen = branch.length
      val branchRank = mutable.ArrayBuffer.empty[Long]
      var broken = false
      branch.foreach { derivates =>
        if (!broken) {
          var position: Option[Int] = None
          derivates.foreach { case Query(prefix, kind) =>
            val cur: Option[Int] = kind match {
              case Exact(w, _) if !prefix =>
                doc.positions.get(w).flatMap(_.headOption)
              case _ =>
                val words = derivations.matching(doc, kind.word, prefix, kind.typo).map(_._1)
                val firsts = words.flatMap(w => doc.positions.get(w).flatMap(_.headOption))
                if (firsts.isEmpty) None else Some(firsts.min)
            }
            (position, cur) match {
              case (Some(p), Some(c)) => position = Some(math.min(p, c))
              case (None, Some(c))    => position = Some(c)
              case _                  =>
            }
          }
          position match {
            case Some(p) => branchRank += (p.toLong & 0xffffffffL)
            case None    => branchRank.clear(); broken = true
          }
        }
      }
      if (branchRank.nonEmpty) {
        branchRank.sortInPlace()
        val sum = branchRank.iterator.zipWithIndex.map { case (r, i) => r - i }.sum
        minRank = math.min(minRank, sum * Lcm10 / branchLen)
      }
    }
    minRank
  }

  // ------------------------------------------------------------- exactness

  /** ExactQueryPart (exactness.rs:293-330): word → 1-word synonyms + self;
    * phrase stays a phrase. */
  sealed trait ExactPart
  final case class ESynonyms(words: Seq[String]) extends ExactPart
  final case class EPhrase(words: Seq[Option[String]]) extends ExactPart

  def exactParts(parts: Seq[Part], synonyms: Seq[String] => Seq[Seq[String]]): Seq[ExactPart] =
    parts.map {
      case PWord(w, _) =>
        val oneWord = synonyms(Seq(w)).collect { case Seq(s) => s }
        ESynonyms(oneWord :+ w)
      case PPhrase(ws) => EPhrase(ws)
    }

  /** Per-doc exactness rank: 0 = an attribute IS the query, 1 = an
    * attribute starts with the query, 2+(n−k) = k exact parts contained
    * (exactness.rs resolve_state:173-251). */
  def exactnessRank(parts: Seq[ExactPart], doc: DocData, searchableFids: Seq[Int]): Int = {
    val n = parts.length
    if (n == 0) return 0

    def startsWithAt(fid: Int): Boolean = {
      var pos = fid << 16
      parts.forall {
        case ESynonyms(words) =>
          val ok = words.exists(w =>
            doc.positions.get(w).exists(ps => java.util.Arrays.binarySearch(ps, pos) >= 0))
          pos += 1
          ok
        case EPhrase(ws) =>
          ws.forall { w =>
            val ok = w.forall(word =>
              doc.positions.get(word).exists(ps => java.util.Arrays.binarySearch(ps, pos) >= 0))
            pos += 1
            ok
          }
      }
    }

    val exactAttr = n <= 10 && searchableFids.exists(fid =>
      doc.fidWordCounts.get(fid).contains(n) && startsWithAt(fid))
    if (exactAttr) return 0
    if (searchableFids.exists(startsWithAt)) return 1

    val contained = parts.count {
      case ESynonyms(words) => words.exists(doc.positions.contains)
      case EPhrase(ws)      => phraseMatches(ws, doc)
    }
    2 + (n - contained)
  }
}
