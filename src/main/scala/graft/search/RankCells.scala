package graft.search

import org.roaringbitmap.RoaringBitmap

import QueryTree._

/** Bitmap (typo, proximity) CELL resolution for the serving rank drain —
  * milli's criterion cascade re-expressed as set algebra so a large words
  * bucket is subdivided BEFORE any per-document work:
  *
  *  - typo cells: the per-branch equivalent of the typo criterion's
  *    mana-mdfs (`milli/src/search/criteria/typo.rs:240-325`) — docs whose
  *    minimal total typo count is exactly t, built from word / exact-word /
  *    prefix docids point reads stratified by derivation typo (And = DP
  *    convolution over children, Or = min ⇒ cum union);
  *  - proximity cells: the set-based proximity resolution
  *    (`criteria/proximity.rs:185-347`): query bucket p unions pair rows
  *    (left, right, prox ≤ p+1) ∪ (right, left, prox ≤ p) over every
  *    derivation-word pair (`word_pair_overall_proximity_docids`,
  *    `criteria/mod.rs:203-220`). Prefix sides point-read the precomputed
  *    prefix-pair tables (#8/#9) when the prefix is in their key set
  *    (len ≤ 2 dict prefixes — `criteria/mod.rs:656-707`), batched across
  *    the whole cell build; longer prefixes fall back to one exact ranged
  *    aggregation per (word, prefix, side) over the pair table, where the
  *    reference simply degrades beyond its caps.
  *
  * EXACTNESS BAND: the index-time pair extractor sweeps a 7-entry window
  * (`extract_word_pair_proximity_docids.rs:85-152`), so a stored proximity
  * of 7 can under-report a true distance-7 pair when ≥ 6 distinct words sit
  * between the occurrences; stored proximities ≤ 6 are always the true
  * pair minimum (≤ 5 distinct words fit between). Query-side proximity
  * p = stored − 1 (left-right) / stored (right-left), so cells are emitted
  * for p = 0..5 ONLY and everything else lands in the remainder cell —
  * which the caller ranks per-document (plane sweep), keeping the drain
  * rank-identical to the per-doc ground truth while still bounding it.
  *
  * The caller ranks ONLY the docs of the drained cells with the full
  * per-doc rank vector, so cell labels never enter the final order — cells
  * just have to be sound (lexicographically monotone), which the p ≤ 5
  * band + exact typo algebra guarantee.
  */
object RankCells {

  /** Emitted-drain counter (observability for specs + tracing). */
  val drains = new java.util.concurrent.atomic.AtomicLong()

  /** Bound-cell builds (≥3-word prox convolution) — specs pin engagement. */
  val boundDrains = new java.util.concurrent.atomic.AtomicLong()

  /** max proximity with an exact cell; 6..7 fall into the remainder. */
  private val MaxExactProx = 5

  /** Derivation-pair fetch cap: beyond this many (left, right) word pairs
    * the proximity dimension is dropped (typo cells still apply). */
  private val MaxPairFetch = 1024

  /** Bound cells (≥3-word / nested shapes) only pay past this bucket size:
    * below it, ranking the bucket per-doc beats the convolution algebra +
    * verification rounds (measured: a 487-doc bucket ranks in ~15 ms
    * per-doc vs ~40 ms through bound cells). Var for specs. */
  private[search] var BoundCellMinBucket: Long = 4096L

  /** One drain cell: its docs plus the criterion values the cell PROVES —
    * `typo` / `prox` are the exact per-doc rank components for every member
    * (−1 = unknown, i.e. a remainder cell: the caller computes that
    * component per-doc). Labeled docs skip the per-doc minTypos + plane
    * sweep entirely — the dominant rank-stage cost on big cells.
    *
    * `proxBound` = the prox label is a LOWER BOUND, not the exact value
    * (the ≥3-word permutation-convolution cells): members' true proximity
    * is ≥ prox but must be computed per-doc, and the caller must VERIFY
    * the page against the next cell's bound before stopping the drain
    * (see executeQueryLocal's verification loop). */
  final case class Cell(docs: RoaringBitmap, typo: Int, prox: Int,
      proxBound: Boolean = false,
      /** exact linear attribute rank proven for every member —
        * [[AttrUnknown]] = not proven (per-doc). `Long.MaxValue` is a REAL
        * label (no flat branch fully matches — `Ranker.attributeRank`'s
        * minRank floor). */
      attr: Long = AttrUnknown,
      /** exact exactness rank proven for every member; −1 = not proven. */
      exact: Int = -1,
      /** refinement already ran on this cell and folded it back (budget /
        * partition remainder) — re-refining would redo the identical
        * strata sweep, and on a zero-progress remainder (budget exhausted
        * with nothing emitted) it would LOOP: the drain must take this
        * cell per-doc as-is. */
      noRefine: Boolean = false)

  /** Attr-label sentinel: real attribute ranks can be negative (the linear
    * sum subtracts the group index before scaling), so −1 can't serve. */
  final val AttrUnknown: Long = Long.MinValue

  /** Disjoint drain cells of `bucket` for the given criterion dims (⊆
    * {Typo, Proximity}, in criteria order), lexicographically rank-ordered,
    * covering the whole bucket (remainder cells included), empties skipped.
    * None when the branch shape doesn't support the FIRST dim (caller
    * drains the whole bucket as before). */
  def cellIterator(index: GraftIndex, branch: Op, der: Ranker.Derivations,
      dims: Seq[Criterion], bucket: RoaringBitmap): Option[Iterator[Cell]] = {
    if (dims.isEmpty || bucket.isEmpty) return None
    val leaves = index.treeLeaves(branch)
    if (leaves.isEmpty || hasPhrase(branch)) return None
    val lt = index.leafTables(leaves, der)

    // cells of one dim, paired with the component value each proves (the
    // remainder appended by withRemainder gets −1 = unknown); `bound` =
    // the labels are lower bounds (≥3-word prox convolution)
    final case class DimCells(cells: IndexedSeq[RoaringBitmap], bound: Boolean)
    def dimCells(c: Criterion): Option[DimCells] = c match {
      case Criterion.Typo =>
        Some(DimCells(cellsOf(typoCums(lt, der, branch)), bound = false))
      case Criterion.Proximity =>
        proxCums(index, der, lt, branch)
          .map(cs => DimCells(cellsOf(cs), bound = false))
          .orElse {
            if (bucket.getLongCardinality < BoundCellMinBucket) None
            else proxBoundCums(index, der, lt, branch)
              .map { cs => boundDrains.incrementAndGet()
                DimCells(cellsOf(cs), bound = true) }
          }
      case _ => None
    }
    def labeled(c: Criterion, value: Int, bound: Boolean,
        inner: RoaringBitmap): Cell = c match {
      case Criterion.Typo => Cell(inner, value, -1)
      case _              => Cell(inner, -1, value, proxBound = bound)
    }

    val first = dimCells(dims.head) match {
      case Some(cs) => cs
      case None     => return None
    }
    val secondDim = dims.drop(1).headOption
    val second = secondDim.flatMap(dimCells)
    drains.incrementAndGet()
    val outer = withRemainder(first.cells, bucket) // index == label; last = unknown
    def lbl(cells: IndexedSeq[RoaringBitmap], i: Int): Int =
      if (i == cells.length - 1) -1 else i
    Some(second match {
      case None =>
        outer.iterator.zipWithIndex
          .map { case (o, i) => labeled(dims.head, lbl(outer, i), first.bound, o) }
          .filterNot(_.docs.isEmpty)
      case Some(innerCells) =>
        outer.iterator.zipWithIndex.flatMap { case (o, i) =>
          val oLbl = lbl(outer, i)
          val inner = withRemainder(innerCells.cells, o)
          inner.iterator.zipWithIndex.map { case (c, j) =>
            val base = labeled(dims.head, oLbl, first.bound, c)
            val jLbl = lbl(inner, j)
            secondDim.get match {
              case Criterion.Typo => base.copy(typo = jLbl)
              case _ => base.copy(prox = jLbl, proxBound = innerCells.bound)
            }
          }
        }.filterNot(_.docs.isEmpty)
    })
  }

  private def hasPhrase(op: Op): Boolean = op match {
    case And(cs)   => cs.exists(hasPhrase)
    case Or(_, cs) => cs.exists(hasPhrase)
    case _: Phrase => true
    case _: Query  => false
  }

  /** cells + a final remainder, all intersected with `universe` (the drain
    * invariant: emitted cells partition the universe). */
  private def withRemainder(cells: IndexedSeq[RoaringBitmap],
      universe: RoaringBitmap): IndexedSeq[RoaringBitmap] = {
    val out = IndexedSeq.newBuilder[RoaringBitmap]
    val covered = new RoaringBitmap()
    cells.foreach { c =>
      val x = RoaringBitmap.andNot(RoaringBitmap.and(c, universe), covered)
      covered.or(x)
      out += x
    }
    out += RoaringBitmap.andNot(universe, covered)
    out.result()
  }

  /** cums (≤ t) → disjoint cells (= t). */
  private def cellsOf(cums: IndexedSeq[RoaringBitmap]): IndexedSeq[RoaringBitmap] =
    cums.zipWithIndex.map { case (c, i) =>
      if (i == 0) c else RoaringBitmap.andNot(c, cums(i - 1))
    }

  // ------------------------------------------------------------- typo cells

  private def maxTypo(op: Op): Int = op match {
    case And(cs)                    => cs.map(maxTypo).sum
    case Or(_, cs)                  => cs.map(maxTypo).max
    case Query(_, Exact(_, ot))     => ot
    case Query(_, Tolerant(_, b))   => b
    case _: Phrase                  => 0 // unreachable (hasPhrase gate)
  }

  /** cum bitmaps (docs matching `op` with minimal total typos ≤ t) for
    * t = 0..maxTypo(op) — minTypos semantics: And sums (DP convolution),
    * Or takes the min (cum union), leaves stratify their derivations. */
  private def typoCums(lt: GraftIndex#LeafTables, der: Ranker.Derivations,
      op: Op): IndexedSeq[RoaringBitmap] = op match {
    case q: Query =>
      (0 to maxTypo(q)).map(t => lt.leafTypoCum(q, t))
    case Or(_, cs) =>
      val ccs = cs.map(typoCums(lt, der, _))
      (0 to cs.map(maxTypo).max).map { t =>
        val acc = new RoaringBitmap()
        ccs.foreach(cc => acc.or(cc(math.min(t, cc.length - 1))))
        acc
      }
    case And(cs) =>
      cs.map(typoCums(lt, der, _)).reduce { (a, b) =>
        val aCells = cellsOf(a)
        val top = (a.length - 1) + (b.length - 1)
        (0 to top).map { t =>
          val acc = new RoaringBitmap()
          var i = 0
          while (i < a.length && i <= t) {
            acc.or(RoaringBitmap.and(aCells(i), b(math.min(t - i, b.length - 1))))
            i += 1
          }
          acc
        }
      }
    case _: Phrase => IndexedSeq(new RoaringBitmap()) // unreachable
  }

  // -------------------------------------------------------- proximity cells

  /** The flattened word material of one pair SIDE: enumerated derivation
    * words + prefix ranges. An Or of leaves merges (per-doc sweep semantics:
    * the group's positions are the union of the matched words' positions).
    * None for And/Phrase children (not a flat side). */
  private def sideWords(der: Ranker.Derivations,
      op: Op): Option[(Seq[String], Seq[String])] = op match {
    case Query(prefix, kind) =>
      val en = der.map.getOrElse((kind.word, prefix, kind.typo), Nil)
        .map(_._1).distinct
      Some((en, if (prefix) Seq(kind.word) else Nil))
    case Or(_, cs) =>
      cs.foldLeft(Option((Seq.empty[String], Seq.empty[String]))) { (acc, c) =>
        for ((ew, pw) <- acc; (cew, cpw) <- sideWords(der, c))
          yield ((ew ++ cew).distinct, (pw ++ cpw).distinct)
      }
    case _ => None
  }

  /** cum bitmaps (query proximity ≤ p) for p = 0..MaxExactProx, or None
    * when the branch shape isn't a flat 2-side And / leaf / Or-of-those. */
  private def proxCums(index: GraftIndex, der: Ranker.Derivations,
      lt: GraftIndex#LeafTables, op: Op): Option[IndexedSeq[RoaringBitmap]] =
    op match {
      case q: Query =>
        // single group: every matching doc sweeps to proximity 0
        val full = lt.leafFull(q)
        Some(IndexedSeq.fill(MaxExactProx + 1)(full))
      case Or(_, cs) =>
        // min over matching children ⇒ cum union
        val ccs = cs.map(proxCums(index, der, lt, _))
        if (ccs.exists(_.isEmpty)) None
        else Some((0 to MaxExactProx).map { p =>
          val acc = new RoaringBitmap()
          ccs.foreach(cc => acc.or(cc.get(p)))
          acc
        })
      case And(Seq(l, r)) =>
        // pinned-dictionary prefix → extension conversion: a prefix side
        // whose dictionary extensions are few becomes plain enumerated
        // words, so the whole cell build is ONE batched pair point read
        // (LRU-shared with the prewarmed head pairs) instead of per-side
        // ranged aggregation jobs — semantically identical (a prefix range
        // IS the union of its extensions).
        def expand(side: (Seq[String], Seq[String])): (Seq[String], Seq[String]) = {
          val (ws, ps) = side
          // prefixes covered by the precomputed prefix-pair tables (#8/#9)
          // stay prefixes: one batched point read later beats enumerating
          // extensions into pair fetches
          val (tbl, other) = ps.partition(index.prefixPairServable)
          val exts = other.map(p => index.prefixExtensions(p, cap = 256))
          if (other.isEmpty || exts.exists(_.isEmpty)) side
          else ((ws ++ exts.flatMap(_.get)).distinct, tbl)
        }
        for {
          (lw, lp) <- sideWords(der, l).map(expand)
          (rw, rp) <- sideWords(der, r).map(expand)
          // two prefix sides would need a prefix×prefix range fetch — punt
          if lp.isEmpty || rp.isEmpty
          if lw.length.toLong * rw.length <= MaxPairFetch
          // OVERLAPPING sides (a word matched by both, e.g. w123 both an
          // exact right word and a 1-typo derivation of the left) make the
          // reference plane sweep SHADOW cross pairs at shared positions
          // (plane_sweep emits a config only when the leftmost group's next
          // element passes the rightmost; an equal position suppresses the
          // pair and then fails computeGroupsProximity) — the sweep then
          // reports a WORSE proximity than the pair bitmaps. Our ground
          // truth is the sweep (fixture-pinned), so cells must not claim
          // these docs: drop the prox dim when the word material overlaps.
          // Disjoint sides are provably shadow-free (a skipped pair always
          // has a strictly tighter valid successor).
          if !lw.exists(rw.contains)
          if !lp.exists(p => rw.exists(_.startsWith(p)))
          if !rp.exists(p => lw.exists(_.startsWith(p)))
        } yield {
          val pairs = (for (a <- lw; b <- rw) yield Seq((a, b), (b, a))).flatten
          val rows = index.pairProxBitmaps(pairs)
          // prefix-side rows: ONE batched fetch for every (word, prefix,
          // side) — table-servable items point-read #8/#9 together
          val pfxRows = index.pairProxPrefixBitmapsBatch(
            (for (pfx <- rp; a <- lw; r <- Seq(true, false)) yield (a, pfx, r)) ++
            (for (pfx <- lp; b <- rw; r <- Seq(true, false)) yield (b, pfx, r)))
          val fwdRanged = for (pfx <- rp; a <- lw) yield pfxRows((a, pfx, true))
          val revRanged = for (pfx <- rp; a <- lw) yield pfxRows((a, pfx, false))
          val fwdRangedL = for (pfx <- lp; b <- rw) yield pfxRows((b, pfx, false))
          val revRangedL = for (pfx <- lp; b <- rw) yield pfxRows((b, pfx, true))
          (0 to MaxExactProx).map { p =>
            val acc = new RoaringBitmap()
            // left-before-right: query p = stored − 1; right-before-left:
            // query p = stored (word_pair_overall_proximity_docids,
            // criteria/mod.rs:203-220 at prox = p + 1)
            for (a <- lw; b <- rw) {
              var q = 1
              while (q <= p + 1) {
                rows.get((a, b, q)).flatten.foreach(acc.or); q += 1
              }
              q = 1
              while (q <= p) {
                rows.get((b, a, q)).flatten.foreach(acc.or); q += 1
              }
            }
            fwdRanged.foreach(m => (1 to p + 1).foreach(q => m.get(q).foreach(acc.or)))
            revRanged.foreach(m => (1 to p).foreach(q => m.get(q).foreach(acc.or)))
            fwdRangedL.foreach(m => (1 to p + 1).foreach(q => m.get(q).foreach(acc.or)))
            revRangedL.foreach(m => (1 to p).foreach(q => m.get(q).foreach(acc.or)))
            acc
          }
        }
      case _ => None
    }

  /** LOWER-BOUND proximity cums for flat And trees of 3 sides — the
    * ≥3-word case where exact cells are impossible from pair bitmaps
    * (pair minima lack position consistency: the true plane-sweep value
    * can exceed any sum of independent pair minima, and query-order
    * chaining misses position-order configurations — NOTES_ROUND5 #8).
    *
    * Soundness: every sweep configuration visits the groups in SOME
    * position order σ and sums adjusted adjacent terms, each of which is
    * ≥ the stored pair minimum for that ordered group pair (the stored
    * prox is the min over occurrences within the extraction window; a
    * pair beyond the window contributes the cap 7, ≥ any bound ≤ 7). So
    *   true(d) ≥ min over permutations σ of Σ lbTerm(σ-adjacent pairs)
    * and the cums C(p) = ∪_σ conv_σ(p) label every doc with a true LOWER
    * bound. The drain VERIFIES pages against the next cell's bound
    * (executeQueryLocal), so rank identity is preserved exactly — cells
    * only bound how many docs rank per-doc.
    *
    * Cums span p = 0..14 (two hops × cap 7); C(14) = the full universe
    * (missing pairs floor at 6 or 7 per hop, see directedCums), so the
    * remainder is empty. */
  private def proxBoundCums(index: GraftIndex, der: Ranker.Derivations,
      lt: GraftIndex#LeafTables, op: Op): Option[IndexedSeq[RoaringBitmap]] = {
    // all word material of a subtree, prefixes expanded through the pinned
    // dictionary (None = unexpandable prefix → no bound cells)
    def subtreeWords(o: Op): Option[Seq[String]] = o match {
      case q: Query =>
        val (ws, ps) = sideWords(der, q).get
        val exts = ps.map(p => index.prefixExtensions(p, cap = 256))
        if (exts.exists(_.isEmpty)) None
        else Some((ws ++ exts.flatMap(_.get)).distinct)
      case Or(_, cs)  => traverse(cs.map(subtreeWords)).map(_.flatten.distinct)
      case And(cs)    => traverse(cs.map(subtreeWords)).map(_.flatten.distinct)
      case _: Phrase  => None
    }
    def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
      if (xs.exists(_.isEmpty)) None else Some(xs.map(_.get))

    // conv of two cum vectors capped at `cap` total (standard cum algebra:
    // cell(a, t) ∩ cum(b, p − t), unioned)
    def conv(a: IndexedSeq[RoaringBitmap], b: IndexedSeq[RoaringBitmap],
        cap: Int): IndexedSeq[RoaringBitmap] = {
      val ac = cellsOf(a)
      val top = math.min(cap, (a.length - 1) + (b.length - 1))
      (0 to top).map { p =>
        val acc = new RoaringBitmap()
        var t = 0
        while (t < a.length && t <= p) {
          // bounds concentrate: most cells are empty, and the partner
          // entry can be universe-sized — skip the AND outright
          val cell = ac(t)
          val other = b(math.min(p - t, b.length - 1))
          if (!cell.isEmpty && !other.isEmpty)
            acc.or(RoaringBitmap.and(cell, other))
          t += 1
        }
        acc
      }
    }

    val Cap = 21 // 3 hops × 7; deeper trees saturate into the last cum

    // REPEATED-WORD COLLAPSE: when two And sides share word material (a
    // repeated query word, or a typo derivation matched by both sides),
    // the plane sweep SUPPRESSES every config with an equal position pair
    // (computeGroupsProximity returns None) — and when every emission is
    // suppressed the doc's true proximity is the unmatched default 7
    // (proximity.rs:585-590), BELOW an honest chain bound (e.g. `for for
    // w74`, fors at {7,11}, w74 at 27: chain 10, truth 7 — found by the
    // forced-cell random sweep). Truth is therefore either a real config
    // sum (≥ the chain bound, per-config argument below) or exactly 7, so
    // capping the final cums at 7 (index ≥ 7 → universe) keeps them true
    // lower bounds. Disjoint sides never share a token position (one
    // token = one word), so the cap only engages on overlap.
    var sawOverlap = false

    // one And node's ordered-pair material, behind the fetch budget —
    // SHARED by lbCums's real fetch and the prefetch grouping below so the
    // two can never silently diverge (the prefetch is invisible to tests:
    // a drifted mirror would either re-introduce the cold double-decode or
    // warm the wrong keys, with nothing failing)
    def ownPairs(sides: Seq[Seq[String]], arity: Int)
        : Option[Seq[(String, String)]] = {
      val budget = sides.map(_.length.toLong)
      if (budget.max * budget.sorted.apply(budget.length - 2) *
          (if (arity == 2) 2 else 6) > MaxPairFetch) None
      else Some((for {
        i <- sides.indices; j <- sides.indices if i != j
        u <- sides(i); v <- sides(j)
      } yield (u, v)).distinct)
    }

    /** cums of docs whose LOWER-BOUND internal proximity of `o` is ≤ p.
      * Query → length-1 (internal 0); Or → min over children (pointwise
      * union); And → permutation-chain pair bounds convolved with every
      * child's internal cums (the sweep's prox2 accumulation). */
    def lbCums(o: Op): Option[IndexedSeq[RoaringBitmap]] = o match {
      case q: Query => Some(IndexedSeq(lt.leafFull(q)))
      case Or(_, cs) =>
        traverse(cs.map(lbCums)).map { ccs =>
          val len = ccs.map(_.length).max
          (0 until len).map { p =>
            val acc = new RoaringBitmap()
            ccs.foreach(cc => acc.or(cc(math.min(p, cc.length - 1))))
            acc
          }
        }
      case And(cs) if cs.length >= 2 && cs.length <= 3 =>
        for {
          childCums <- traverse(cs.map(lbCums))
          sides <- traverse(cs.map(subtreeWords))
          allPairs <- ownPairs(sides, cs.length)
        } yield {
          if (!sawOverlap)
            sawOverlap = sides.indices.exists(i => sides.indices.exists { j =>
              j > i && { val sj = sides(j).toSet; sides(i).exists(sj) }
            })
          val rows = index.pairProxBitmaps(allPairs)
          val universe = {
            val u = new RoaringBitmap()
            childCums.foreach(cc => u.or(cc.last))
            u // superset of the And's docs (cells intersect with the bucket)
          }
          // directed per-ordered-pair lb cums: docs whose lbTerm(i→j) ≤ t.
          // ABSENT-PAIR FLOOR: the index-time 7-ENTRY window only
          // guarantees position-ordered pairs at distance ≤ 6 (distance 7
          // with 6 distinct words between falls outside the window —
          // IndexBuilder.pairProximitiesPacked). The sweep's in-query-order
          // hop is distance − 1 (plane_sweep's `pairProximity - 1`), so a
          // MISSING in-order pair only proves hop ≥ 6, not ≥ 7: adj = 1
          // saturates to the universe at t = 6 (found by ProxBoundCellSpec
          // offset pagination — doc at true prox 7 was bounded at 8 and
          // dropped from the page). Anti-order hops (adj = 0, hop =
          // distance) keep the 7 floor: distance ≤ 6 is always stored.
          def directedCums(i: Int, j: Int): IndexedSeq[RoaringBitmap] = {
            val adj = if (i < j) 1 else 0 // left-right stores prox − 1
            (0 to 7).map { t =>
              if (t >= 7 - adj) universe
              else {
                val acc = new RoaringBitmap()
                for (u <- sides(i); v <- sides(j); x <- 1 to math.min(t + adj, 7))
                  rows.get((u, v, x)).flatten.foreach(acc.or)
                acc
              }
            }
          }
          val dcums = (for (i <- sides.indices; j <- sides.indices if i != j)
            yield (i, j) -> directedCums(i, j)).toMap
          // chain bound: min over child permutations of the adjacent-hop sum
          val chain: IndexedSeq[RoaringBitmap] = {
            val perms = sides.indices.permutations.toSeq
            val per = perms.map { perm =>
              perm.sliding(2).map { case Seq(i, j) => dcums((i, j)) }
                .reduce((a, b) => conv(a, b, Cap))
            }
            val len = per.map(_.length).max
            (0 until len).map { p =>
              val acc = new RoaringBitmap()
              per.foreach(cc => acc.or(cc(math.min(p, cc.length - 1))))
              acc
            }
          }
          // total = chain + every child's internal proximity
          childCums.foldLeft(chain)((acc, cc) => conv(acc, cc, Cap))
        }
      case _ => None
    }

    // repeated-word collapse cap (see sawOverlap above): truth is either a
    // real config sum (≥ the chain bound) or the suppressed default 7, so on
    // overlap every bound saturates at 7 — indices > 7 merge into the
    // universe entry at index 7. cums.last IS the op's universe (conv's top
    // entry unions every cell of both operands).
    def capRepeat(cums: IndexedSeq[RoaringBitmap]): IndexedSeq[RoaringBitmap] =
      if (!sawOverlap || cums.length <= 8) cums
      else cums.take(7) :+ cums.last

    // PREFETCH: batched pair fetches issued before the recursion, so the
    // per-And fetches inside lbCums hit the bitmap cache (the ngram-variant
    // Ands of a 3-word tree otherwise re-decode the shared stop-word bands —
    // measured 84 + 130 ms of the 1M-doc cold floor). The groups mirror
    // lbCums exactly through the shared `ownPairs`: a node fetches iff
    // every child subtree is lb-viable AND its own budget passes (children
    // of a 2..3-ary And are always EVALUATED by lbCums, so their own
    // fetches happen even when a sibling is unviable; a 4-ary And's
    // children are never evaluated — no recursion there). Groups merge
    // ONLY when their word material overlaps: batching disjoint-vocabulary
    // Ands would widen each left band's w2 span page-band (defeating the
    // narrow-span pruning) and could push the combined bands past the
    // direct reader's group cap, regressing individually-direct fetches
    // to a full Spark scan.
    def lbViable(o: Op): Boolean = o match {
      case _: Query  => true
      case Or(_, cs) => cs.forall(lbViable)
      case And(cs)   => cs.length >= 2 && cs.length <= 3 &&
        cs.forall(lbViable) &&
        traverse(cs.map(subtreeWords)).flatMap(ownPairs(_, cs.length)).isDefined
      case _ => false
    }
    def pairGroups(o: Op): Seq[Seq[(String, String)]] = o match {
      case And(cs) if cs.length >= 2 && cs.length <= 3 =>
        cs.flatMap(pairGroups) ++
          (if (cs.forall(lbViable))
             traverse(cs.map(subtreeWords)).flatMap(ownPairs(_, cs.length))
           else None)
      case Or(_, cs) => cs.flatMap(pairGroups)
      case _         => Nil // Query / Phrase / arity > 3 (children unevaluated)
    }
    def prefetchPairs(o: Op): Unit = {
      val groups = pairGroups(o).filter(_.nonEmpty)
      if (groups.isEmpty) return
      val words = groups.map(g =>
        g.iterator.flatMap(p => Iterator(p._1, p._2)).toSet)
      val parent = Array.tabulate(groups.length)(identity)
      def find(i: Int): Int =
        if (parent(i) == i) i
        else { parent(i) = find(parent(i)); parent(i) }
      for { i <- groups.indices; j <- (i + 1) until groups.length
            if words(i).exists(words(j)) }
        parent(find(j)) = find(i)
      groups.indices.groupBy(find).values.foreach { idxs =>
        index.pairProxBitmaps(idxs.flatMap(groups).distinct)
      }
    }

    op match {
      // flat 2-side Ands keep the EXACT cells (proxCums) — bound cells are
      // only for the shapes exact algebra can't cover
      case And(cs) if cs.length >= 2 =>
        prefetchPairs(op)
        lbCums(op).map(capRepeat)
      case Or(_, cs) if cs.nonEmpty =>
        prefetchPairs(op)
        lbCums(op).map(capRepeat)
      case _ => None
    }
  }

  // ------------------------------------------------------ attribute strata

  /** Attribute-strata drains (specs pin engagement). */
  val attrDrains = new java.util.concurrent.atomic.AtomicLong()

  /** Exactness-strata drains (specs pin engagement). */
  val exactDrains = new java.util.concurrent.atomic.AtomicLong()

  /** Cell-refinement engagement floor: a (typo, prox)-labeled cell below
    * 4096 docs ranks per-doc, which measured cheaper than strata algebra
    * at that size. A var so specs can force either route. */
  private[search] var RefineMinDocs: Long = 4096L

  /** Strata-per-group cap: a group whose material spreads over more
    * distinct first positions than this refuses refinement (bounded
    * algebra; giant position spreads are per-doc territory). */
  private val AttrMaxStrataPerGroup = 512

  /** Material-width gate: the strata sweep ANDs every material word's
    * position rows against the cell, so its cost scales with the word
    * count, not the doc count — a typo-fanned 2-word query carries ~200
    * derivation words and pays 65–90 ms of algebra WARM on a 9k-doc cell
    * the per-doc path ranks in ~14 ms, while a stop-word query's ≤ 3-word
    * material refines a 63k-doc cell in ~9 ms (both measured, 300k docs).
    * Wide-material cells refuse refinement UNLESS the cell exceeds the
    * remaining drain budget (`forced`), where refinement is the only
    * alternative to a distributed abort. 64 words sits between those two
    * measured shapes (≤ 3 and ~200 words). A var so specs can force
    * either route. */
  private[search] var AttrCheapMaterialWords: Int = 64

  /** Enumerated-extension cap for non-dict prefixes in a group. */
  private val AttrMaxMaterialWords = 256

  /** Frontier-pop budget across all branches of one refinement. */
  private val AttrTupleBudget = 4096

  /** EXACT attribute cells of `cell`, ascending by the LINEAR attribute
    * rank (`Ranker.attributeRank` — our fixture-pinned ground truth): each
    * emitted cell's docs provably share that exact rank, so the drain's
    * per-doc stage skips the forward-index positions entirely for them.
    *
    * Built from tables #10 (`word_position_docids`) / #12
    * (`word_prefix_position_docids`) — the reads behind milli's SET
    * attribute algorithm (`criteria/attribute.rs:17-470`). DIVERGENCE
    * (documented): milli's set algorithm is approximate (cumulative
    * position unions emit a doc at the Σ of the CURRENT iterator
    * positions, which can exceed the doc's own first-position sum; its
    * linear twin is the exact one, attribute.rs:472-540). We stay exact:
    * per-group FIRST-position strata (ascending sweep, covered-subtract)
    * make each doc a member of exactly one stratum tuple per branch, and a
    * best-first frontier over tuple index vectors emits tuples in
    * ascending rank order — Σ sorted(rᵢ − i) = Σ rᵢ − Σ i, so the rank is
    * monotone in every group position and the frontier order is the rank
    * order. Min-over-branches = first emission wins (covered subtraction)
    * with all branches merged in one heap.
    *
    * Emission: ascending exact cells; on frontier exhaustion the leftover
    * docs get the exact `Long.MaxValue` label (no flat branch fully
    * matches — attributeRank's floor); on budget exhaustion they get
    * [[AttrUnknown]] (per-doc remainder, sound: every unemitted doc's rank
    * exceeds the last emitted value). None = unsupported material (stop
    * word position spread, unexpandable prefix, direct tables missing) —
    * the caller keeps the per-doc path. */
  def attrCells(index: GraftIndex, der: Ranker.Derivations,
      flat: Ranker.Flat, cell: Cell, forced: Boolean = false)
      : Option[Iterator[Cell]] = {
    // word / prefix material per query — EXACTLY attributeRank's reads:
    // Exact non-prefix → the word itself; everything else → the enumerated
    // derivations plus (prefix) the full extension range (#12 for dict
    // prefixes = union over every extending index word; per-doc `matching`
    // resolves the same range against the doc's own words)
    def queryMaterial(q: Query): Option[(Seq[String], Seq[String])] =
      q.kind match {
        case Exact(w, _) if !q.prefix => Some((Seq(w), Nil))
        case k =>
          val en = der.map.getOrElse((k.word, q.prefix, k.typo), Nil).map(_._1)
          if (!q.prefix) Some((en, Nil))
          else if (index.prefixDictSet.contains(k.word)) Some((en, Seq(k.word)))
          else index.prefixExtensions(k.word, cap = AttrMaxMaterialWords)
            .map(exts => ((en ++ exts).distinct, Nil))
      }
    // group material = union over its queries (group position = min over
    // queries ⇒ min over the united material's first positions)
    def groupMaterial(g: Seq[Query]): Option[(Seq[String], Seq[String])] =
      g.foldLeft(Option((Seq.empty[String], Seq.empty[String]))) { (acc, q) =>
        for ((ws, ps) <- acc; (qw, qp) <- queryMaterial(q))
          yield ((ws ++ qw).distinct, (ps ++ qp).distinct)
      }
    val branchMats: Seq[Seq[(Seq[String], Seq[String])]] =
      flat.map { branch =>
        val mats = branch.map(groupMaterial)
        if (mats.exists(_.isEmpty)) return None // any branch unsupported →
        mats.map(_.get)                         // min-over-branches breaks
      }
    // replay memo FIRST (before the width gate: a hit is cheap no matter
    // how wide the material) — labels re-copy from THIS cell, since the
    // memoized entry may have been built under different (typo, prox)
    val memoKey: AnyRef = (branchMats, cell.docs)
    index.attrStrataMemo.get(memoKey) match {
      case Some(hit) =>
        attrDrains.incrementAndGet()
        return Some(hit.iterator.map { case (a, d, nr) =>
          cell.copy(docs = d, attr = a, noRefine = nr)
        })
      case None => ()
    }
    val allWords = branchMats.flatMap(_.flatMap(_._1)).distinct
    val allPfx = branchMats.flatMap(_.flatMap(_._2)).distinct
    if (!forced && allWords.length + allPfx.length > AttrCheapMaterialWords)
      return None // wide material: per-doc is cheaper (see gate scaladoc)
    val (wRows, pRows) = index.positionRows(allWords, allPfx)
    if (wRows.valuesIterator.exists(_.isEmpty) ||
        pRows.valuesIterator.exists(_.isEmpty)) return None // TooBig key

    /** ascending disjoint first-position strata of one group ∩ cell.docs;
      * None = strata cap exceeded. */
    def groupStrata(ws: Seq[String], ps: Seq[String])
        : Option[IndexedSeq[(Int, RoaringBitmap)]] = {
      val byPos = new java.util.TreeMap[Integer, RoaringBitmap]()
      (ws.iterator.map(wRows(_).get) ++ ps.iterator.map(pRows(_).get))
        .foreach(_.foreach { case (p, bm) =>
          val x = RoaringBitmap.and(bm, cell.docs)
          if (!x.isEmpty) {
            val prev = byPos.get(p: Integer)
            if (prev == null) byPos.put(p, x) else prev.or(x)
          }
        })
      val out = IndexedSeq.newBuilder[(Int, RoaringBitmap)]
      val seen = new RoaringBitmap()
      val total = cell.docs.getLongCardinality
      var count = 0
      val it = byPos.entrySet().iterator()
      while (it.hasNext && seen.getLongCardinality < total) {
        val e = it.next()
        val s = RoaringBitmap.andNot(e.getValue, seen)
        if (!s.isEmpty) {
          count += 1
          if (count > AttrMaxStrataPerGroup) return None
          out += ((e.getKey.intValue(), s))
          seen.or(s)
        }
      }
      Some(out.result())
    }

    // per-branch strata; a group with NO intersecting strata breaks every
    // doc in this branch (contributes nothing) — drop the branch
    val branchStrata: Seq[IndexedSeq[IndexedSeq[(Int, RoaringBitmap)]]] =
      branchMats.flatMap { mats =>
        val ss = mats.map { case (ws, ps) => groupStrata(ws, ps) }
        if (ss.exists(_.isEmpty)) return None // strata cap → per-doc
        val got = ss.map(_.get).toIndexedSeq
        if (got.exists(_.isEmpty)) None else Some(got)
      }
    attrDrains.incrementAndGet()

    final case class Tup(value: Long, b: Int, idxs: Array[Int])
    def valueOf(b: Int, idxs: Array[Int]): Long = {
      val sb = branchStrata(b)
      val len = sb.length
      var sum = 0L
      var g = 0
      while (g < len) {
        sum += sb(g)(idxs(g))._1.toLong & 0xffffffffL
        g += 1
      }
      // Σ sorted(rᵢ − i) = Σ rᵢ − len(len−1)/2, then attributeRank's scale
      (sum - len.toLong * (len - 1) / 2) * Ranker.Lcm10 / len
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[Tup](
      Ordering.by[Tup, Long](_.value).reverse)
    val visited = scala.collection.mutable.HashSet.empty[(Int, Seq[Int])]
    branchStrata.indices.foreach { b =>
      val z = new Array[Int](branchStrata(b).length)
      if (visited.add((b, z.toSeq))) heap.enqueue(Tup(valueOf(b, z), b, z))
    }
    val covered = new RoaringBitmap()
    val total = cell.docs.getLongCardinality
    val cells = scala.collection.mutable.ArrayBuffer.empty[Cell]
    var pops = 0
    var budgetHit = false
    def processOne(): Unit = { // dequeue one tuple: emit its docs + push successors
      val t = heap.dequeue()
      val sb = branchStrata(t.b)
      var docs: RoaringBitmap = null
      var g = 0
      while (g < sb.length && (docs == null || !docs.isEmpty)) {
        val s = sb(g)(t.idxs(g))._2
        docs = if (docs == null) s.clone() else { docs.and(s); docs }
        g += 1
      }
      if (docs != null && !docs.isEmpty) {
        docs.andNot(covered)
        if (!docs.isEmpty) {
          covered.or(docs)
          if (cells.nonEmpty && cells.last.attr == t.value) {
            // EQUAL-value tuples (cross-branch ties, integer-division
            // plateaus) MUST merge into one cell: two cells with identical
            // labels would break the drain's strict-order stop rule (a
            // later cell's doc could win the docid/later-dim tie-break)
            val merged = cells.last.docs.clone()
            merged.or(docs)
            cells(cells.length - 1) = cells.last.copy(docs = merged)
          } else cells += cell.copy(docs = docs, attr = t.value)
        }
      }
      g = 0
      while (g < sb.length) { // successors: one index bump per group
        if (t.idxs(g) + 1 < sb(g).length) {
          val nx = t.idxs.clone()
          nx(g) += 1
          if (visited.add((t.b, nx.toSeq)))
            heap.enqueue(Tup(valueOf(t.b, nx), t.b, nx))
        }
        g += 1
      }
    }
    while (heap.nonEmpty && !budgetHit && covered.getLongCardinality < total) {
      pops += 1
      if (pops > AttrTupleBudget) budgetHit = true
      else processOne()
    }
    if (budgetHit && cells.nonEmpty && heap.nonEmpty &&
        heap.head.value == cells.last.attr) {
      // the last emitted value's tuple group was cut mid-merge: unpopped
      // equal-value tuples could still add docs with that exact label —
      // fold the partial cell back into the per-doc remainder so emitted
      // labels stay strictly ascending and complete
      val dropped = cells.remove(cells.length - 1)
      covered.andNot(dropped.docs)
    }
    val rest = RoaringBitmap.andNot(cell.docs, covered)
    if (!rest.isEmpty)
      // heap exhausted → no flat branch matches the leftovers: their rank
      // is EXACTLY attributeRank's Long.MaxValue floor. Budget hit → the
      // leftovers rank per-doc (sound: their rank is STRICTLY above every
      // emitted value after the partial-group fold-back, so the drain's
      // stop rule stays lexicographically valid)
      cells += cell.copy(docs = rest,
        attr = if (budgetHit) AttrUnknown else Long.MaxValue,
        noRefine = budgetHit)
    index.attrStrataMemo.put(memoKey,
      cells.iterator.map(c => (c.attr, c.docs, c.noRefine)).toIndexedSeq)
    Some(cells.iterator)
  }

  // ------------------------------------------------------ exactness strata

  /** EXACT exactness cells of `cell`, ascending by `Ranker.exactnessRank` —
    * the set re-expression of milli's exactness criterion
    * (`criteria/exactness.rs:173-251`): rank-0 (attribute IS the query) =
    * `fid_word_count_docids(fid, n)` ∩ the position-anchored startsWith
    * intersection; rank-1 (attribute STARTS WITH the query) = the
    * startsWith union alone; rank 2+(n−k) = a count convolution over the
    * parts' presence bitmaps. Position anchors read table #10 at
    * `(fid << 16) + i`. None = unsupported (phrase part, stop-word
    * position spread) — per-doc path. */
  def exactCells(index: GraftIndex, parts: Seq[Ranker.ExactPart],
      searchableFids: Seq[Int], cell: Cell): Option[Iterator[Cell]] = {
    val n = parts.length
    if (n == 0) return Some(Iterator.single(cell.copy(exact = 0)))
    val words: Seq[Seq[String]] = parts.map {
      case Ranker.ESynonyms(ws) => ws
      case _: Ranker.EPhrase    => return None // per-doc (position chains)
    }
    val all = words.flatten.distinct
    val (wRows, _) = index.positionRows(all, Nil)
    if (wRows.valuesIterator.exists(_.isEmpty)) return None
    exactDrains.incrementAndGet()
    def bmAt(w: String, pos: Int): Option[RoaringBitmap] = {
      val rows = wRows(w).get
      var lo = 0
      var hi = rows.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (rows(m)._1 < pos) lo = m + 1 else hi = m
      }
      if (lo < rows.length && rows(lo)._1 == pos) Some(rows(lo)._2) else None
    }
    // startsWith(fid): part i anchored at (fid << 16) + i, all parts ∩
    def startsWith(fid: Int): RoaringBitmap = {
      var acc: RoaringBitmap = null
      var i = 0
      while (i < n && (acc == null || !acc.isEmpty)) {
        val pos = (fid << 16) + i
        val u = new RoaringBitmap()
        words(i).foreach(w => bmAt(w, pos).foreach(u.or))
        acc =
          if (acc == null) RoaringBitmap.and(u, cell.docs)
          else { acc.and(u); acc }
        i += 1
      }
      if (acc == null) new RoaringBitmap() else acc
    }
    val sw = searchableFids.map(f => f -> startsWith(f))
    val r1 = { val u = new RoaringBitmap(); sw.foreach(s => u.or(s._2)); u }
    val r0 =
      if (n > 10) new RoaringBitmap()
      else {
        val fwc = index.fidWordCountBitmaps(searchableFids, n)
        val u = new RoaringBitmap()
        sw.foreach { case (f, s) =>
          fwc.getOrElse(f, None).foreach(b => u.or(RoaringBitmap.and(s, b)))
        }
        u
      }
    // contained-count convolution (count of parts present in the doc)
    val pres = index.wordPresenceBitmaps(all)
    val partBms = words.map { ws =>
      val u = new RoaringBitmap()
      ws.foreach(w => u.or(pres(w)))
      RoaringBitmap.and(u, cell.docs)
    }
    var dp = Array(cell.docs.clone()) // dp(k) = docs containing k parts
    partBms.foreach { c =>
      val nd = new Array[RoaringBitmap](dp.length + 1)
      var k = 0
      while (k < nd.length) {
        val acc = new RoaringBitmap()
        if (k < dp.length) acc.or(RoaringBitmap.andNot(dp(k), c))
        if (k > 0) acc.or(RoaringBitmap.and(dp(k - 1), c))
        nd(k) = acc
        k += 1
      }
      dp = nd
    }
    val out = IndexedSeq.newBuilder[Cell]
    val covered = new RoaringBitmap()
    def emit(label: Int, bm: RoaringBitmap): Unit = {
      val x = RoaringBitmap.andNot(bm, covered)
      if (!x.isEmpty) {
        covered.or(x)
        out += cell.copy(docs = x, exact = label)
      }
    }
    emit(0, r0)
    emit(1, r1)
    var k = n
    while (k >= 0) { emit(2 + (n - k), dp(k)); k -= 1 }
    // counts partition the docs; belt-and-braces per-doc remainder
    val rest = RoaringBitmap.andNot(cell.docs, covered)
    if (!rest.isEmpty) out += cell.copy(docs = rest, exact = -1, noRefine = true)
    Some(out.result().iterator)
  }
}
