package graft.search

import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import graft.core.Bitmaps
import graft.index.IndexSettings.T

/** Facet level-tree readers — the Spark re-expression of the reference's
  * tree algorithms over `facet_id_{f64,string}_docids`:
  *
  *  - RANGE descent (`milli/src/search/facet/facet_range_search.rs:13-290`):
  *    a range [lo, hi] takes whole PRE-UNIONED group bitmaps from the
  *    highest level whose group lies fully inside the range and descends
  *    only the two boundary groups, so a wide range on a high-cardinality
  *    field touches O(levels + interior/4^L) rows instead of every matching
  *    level-0 value row.
  *  - SORTED walk (`facet_sort_ascending.rs:32-110` /
  *    `facet_sort_descending.rs`): iterate value groups in (reverse) value
  *    order, descending only into groups that still intersect the remaining
  *    candidates, emitting keep-first buckets until the page is covered —
  *    the serving path for sort on fields too big to pin driver-side.
  *
  * Serving shape: levels ≥ 1 of a field are pinned driver-side on first
  * touch when small enough (≤ [[MaxPinnedRows]] rows ≈ fields up to ~200k
  * distinct values — one pruned job, LRU'd per handle), making the upper
  * descent zero-job; only level-0 BOUNDARY groups are fetched per query.
  * Fields too big to pin descend with one small ranged fetch per level
  * (the faithful distributed path — at that scale the saved level-0 IO
  * dwarfs the extra fetch launches).
  */
object FacetLevels {

  /** Pin cap for a field's levels ≥ 1 (rows ≈ distinct values / 3). */
  private[search] var MaxPinnedRows: Int = 65536

  /** Result: docids bitmap + the highest level whose pre-unioned groups
    * were applied wholesale (observability: > 0 proves the tree was used). */
  final case class RangeResult(docids: RoaringBitmap, interiorLevelMax: Int)

  private type Row = (Any, Array[Byte]) // (bound, serialized bitmap)

  private def levelTable(index: GraftIndex, numeric: Boolean) =
    index.table(if (numeric) T.FacetNumberLevels else T.FacetStringLevels)

  /** Observability: sorted walks that ran off the level tree vs gave up
    * (budget / no tree) — specs pin that unpinnable sorts walk the tree. */
  val sortedWalks = new java.util.concurrent.atomic.AtomicLong()
  val sortedWalkBudgetBails = new java.util.concurrent.atomic.AtomicLong()

  /** One field's level tree: comparator, pinned upper levels, band fetch.
    * Shared by the range reader and the sorted walk. */
  private final class FieldTree(index: GraftIndex, numeric: Boolean,
      field: String) {
    private val spark = index.spark
    import spark.implicits._
    private val key = (numeric, field)

    lazy val maxLevel: Int =
      index.facetLevelMax.getOrElseUpdate(key, {
        val row = levelTable(index, numeric).where($"field" === field)
          .agg(max($"level")).collect()(0)
        if (row.isNullAt(0)) 0 else row.getInt(0)
      })

    // string bounds compare in CODE POINT order (= the UTF-8 binary order
    // the builder's range-partition sort used; Java compareTo's UTF-16
    // unit order diverges for supplementary characters)
    private def cmpStr(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }
    @inline def cmp(a: Any, b: Any): Int =
      if (numeric) java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      else cmpStr(a.asInstanceOf[String], b.asInstanceOf[String])

    val upper: Option[Map[Int, Array[Row]]] =
      index.facetLevelPins.getOrElseUpdate(key, {
        val rows = levelTable(index, numeric).where($"field" === field && $"level" >= 1)
        if (rows.count() > MaxPinnedRows) None
        else {
          val all =
            if (numeric)
              rows.select($"level", $"bound".cast("double"), $"docids")
                .as[(Int, Double, Array[Byte])].collect()
                .map { case (l, b, d) => (l, (b: Any, d)) }
            else
              rows.select($"level", $"bound".cast("string"), $"docids")
                .as[(Int, String, Array[Byte])].collect()
                .map { case (l, b, d) => (l, (b: Any, d)) }
          Some(all.groupBy(_._1).map { case (l, rs) =>
            l -> rs.map(_._2).sortWith((x, y) => cmp(x._1, y._1) < 0)
          })
        }
      })

    /** rows of `level` with bound ∈ each [from, toExcl) band, sorted;
      * `_2` = true when the rows came from a FETCH (not the pin). */
    def fetchBands(level: Int,
        bands: Seq[(Any, Option[Any])]): (Array[Row], Boolean) = {
      if (bands.isEmpty) return (Array.empty, false)
      upper.flatMap(_.get(level)) match {
        case Some(rows) if level >= 1 =>
          // pinned: binary-search-free filter (bands are tiny)
          (rows.filter { case (b, _) =>
            bands.exists { case (from, toEx) =>
              cmp(b, from) >= 0 && toEx.forall(t => cmp(b, t) < 0)
            }
          }, false)
        case _ =>
          val pred = bands.map { case (from, toEx) =>
            val fromC = ($"bound" >= lit(from))
            toEx.fold(fromC)(t => fromC && $"bound" < lit(t))
          }.reduce(_ || _)
          val df = levelTable(index, numeric)
            .where($"field" === field && $"level" === level && pred)
          val got =
            if (numeric)
              df.select($"bound".cast("double"), $"docids")
                .as[(Double, Array[Byte])].collect().map { case (b, d) => (b: Any, d) }
            else
              df.select($"bound".cast("string"), $"docids")
                .as[(String, Array[Byte])].collect().map { case (b, d) => (b: Any, d) }
          (got.sortWith((x, y) => cmp(x._1, y._1) < 0), true)
      }
    }

    def minSentinel: Any =
      if (numeric) Double.NegativeInfinity else ""
  }

  /** Evaluate `field ∈ [lo, hi]` (open bounds = None) through the level
    * tree. None when the field has no levels above 0 (or no level table). */
  def rangeDocids(index: GraftIndex, numeric: Boolean, field: String,
      lo: Option[Any], hi: Option[Any],
      loIncl: Boolean, hiIncl: Boolean): Option[RangeResult] = {
    val tree = new FieldTree(index, numeric, field)
    val maxLevel = tree.maxLevel
    if (maxLevel <= 0) return None
    import tree.cmp

    // a level-0 value v is in range?
    def valueIn(v: Any): Boolean =
      lo.forall(l => { val c = cmp(v, l); c > 0 || (loIncl && c == 0) }) &&
        hi.forall(h => { val c = cmp(v, h); c < 0 || (hiIncl && c == 0) })
    // subtree covering values in [b, nextB) — fully inside the range?
    def inside(b: Any, nextB: Option[Any]): Boolean =
      lo.forall(l => { val c = cmp(b, l); c > 0 || (loIncl && c == 0) }) &&
        (hi.isEmpty || nextB.exists(nb => cmp(nb, hi.get) <= 0))
    // any overlap with the range at all?
    def overlaps(b: Any, nextB: Option[Any]): Boolean = {
      val leftOk = hi.forall(h => { val c = cmp(b, h); c < 0 || (hiIncl && c == 0) })
      val rightOk = lo.forall(l => nextB.forall(nb => cmp(nb, l) > 0))
      leftOk && rightOk
    }

    val acc = new RoaringBitmap()
    var interiorMax = 0

    /** rows = one level's rows covering [rows.head.bound, rightEdge);
      * returns the boundary bands that must descend one level further. */
    def step(level: Int, rows: Array[Row],
        rightEdge: Option[Any]): Seq[(Any, Option[Any])] = {
      val out = Seq.newBuilder[(Any, Option[Any])]
      var i = 0
      while (i < rows.length) {
        val (b, bytes) = rows(i)
        val nextB = if (i + 1 < rows.length) Some(rows(i + 1)._1) else rightEdge
        if (level == 0) {
          if (valueIn(b)) acc.or(Bitmaps.cboDeserialize(bytes))
        } else if (overlaps(b, nextB)) {
          if (inside(b, nextB)) {
            acc.or(Bitmaps.cboDeserialize(bytes))
            if (level > interiorMax) interiorMax = level
          } else out += ((b, nextB))
        }
        i += 1
      }
      out.result()
    }

    // top level: all rows of the field (bounded: < GroupSize · MinLevelSize)
    var level = maxLevel
    var bands: Seq[(Any, Option[Any])] = {
      val (top, _) = tree.fetchBands(maxLevel, Seq((tree.minSentinel, None)))
      step(maxLevel, top, None)
    }
    while (level > 0 && bands.nonEmpty) {
      level -= 1
      // ONE fetch for all boundary bands of this level, then each band
      // keeps its own right edge (bands are disjoint group intervals —
      // conflating them would bridge the gap between the lo- and hi-side
      // boundary groups)
      val (allRows, _) = tree.fetchBands(level, bands)
      val next = Seq.newBuilder[(Any, Option[Any])]
      bands.foreach { case (from, toEx) =>
        val rows = allRows.filter { case (b, _) =>
          cmp(b, from) >= 0 && toEx.forall(t => cmp(b, t) < 0)
        }
        next ++= step(level, rows, toEx)
      }
      bands = next.result()
    }
    Some(RangeResult(acc, interiorMax))
  }

  /** Sort `candidates` by `field` through the level trees — milli's
    * `ascending/descending_facet_sort` keep-first walk — as ORDERED VALUE
    * GROUPS: disjoint keep-first bitmaps of `candidates` in sort order
    * (numbers first, then strings, both directions; milli's criterion
    * yields (value, docids) buckets the same way,
    * facet_sort_ascending.rs:14-31), the final group being the docs without
    * the field (rank last, both directions). Ascending ranks a doc at its
    * MIN value, descending at its MAX; within a group, ascending-docid
    * order is the comparator paths' final tie-break, and sort-LED criteria
    * cascades order WITHIN each group via the remaining criteria — milli's
    * criterion nesting.
    *
    * Walks ONLY until `take` docs are covered, descending only into groups
    * that still intersect the remaining candidates — O(take · levels)
    * level-0 band fetches, independent of field cardinality; the trailing
    * groups never enumerate. None when the fetch budget runs out (caller
    * keeps the distributed sort) or neither level table has the field.
    * Mutates nothing; `candidates` is cloned. */
  def sortedGroups(index: GraftIndex, field: String, asc: Boolean,
      candidates: RoaringBitmap, take: Int,
      fetchBudget: Int = 64): Option[Seq[RoaringBitmap]] = {
    val remaining = candidates.clone()
    val out = Seq.newBuilder[RoaringBitmap]
    var emitted = 0L
    var budget = fetchBudget
    var bailed = false

    def walkTree(numeric: Boolean): Unit = {
      if (bailed || emitted >= take || remaining.isEmpty) return
      val tree = new FieldTree(index, numeric, field)
      import tree.cmp

      def emit(bm: RoaringBitmap): Unit = {
        val inter = RoaringBitmap.and(bm, remaining)
        if (!inter.isEmpty) {
          out += inter
          emitted += inter.getLongCardinality
          remaining.andNot(inter)
        }
      }

      /** rows of one level in walk order with their right edges. */
      def walkBand(level: Int, rows: Array[Row], rightEdge: Option[Any]): Unit = {
        val order = if (asc) rows.indices else rows.indices.reverse
        order.foreach { i =>
          if (!bailed && emitted < take && !remaining.isEmpty) {
            val (b, bytes) = rows(i)
            if (level == 0) emit(Bitmaps.cboDeserialize(bytes))
            else {
              val group = Bitmaps.cboDeserialize(bytes)
              if (RoaringBitmap.intersects(group, remaining)) {
                val nextB = if (i + 1 < rows.length) Some(rows(i + 1)._1) else rightEdge
                val (child, fetched) = tree.fetchBands(level - 1, Seq((b, nextB)))
                if (fetched) { budget -= 1; if (budget < 0) { bailed = true } }
                if (!bailed) walkBand(level - 1, child, nextB)
              }
            }
          }
        }
      }

      val (top, fetched) =
        tree.fetchBands(math.max(tree.maxLevel, 0), Seq((tree.minSentinel, None)))
      if (fetched) { budget -= 1; if (budget < 0) { bailed = true; return } }
      walkBand(math.max(tree.maxLevel, 0), top, None)
    }

    walkTree(numeric = true)
    walkTree(numeric = false)
    if (bailed) {
      sortedWalkBudgetBails.incrementAndGet()
      return None
    }
    // docs without any value of the field rank LAST in both directions
    // (milli drains allowed_candidates after the iterator, asc_desc.rs:
    // 110-118; the distributed twin's nulls_last)
    if (emitted < take && !remaining.isEmpty) out += remaining
    sortedWalks.incrementAndGet()
    Some(out.result())
  }
}
