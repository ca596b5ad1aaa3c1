package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import graft.core.Bitmaps
import QueryTree._

import scala.jdk.CollectionConverters._

/** Ranking rule (criterion) list entries — `milli/src/criterion.rs`. */
sealed trait Criterion
object Criterion {
  case object Words extends Criterion
  case object Typo extends Criterion
  case object Proximity extends Criterion
  case object Attribute extends Criterion
  case object Sort extends Criterion
  case object Exactness extends Criterion
  final case class Asc(field: String) extends Criterion
  final case class Desc(field: String) extends Criterion

  def parse(s: String): Criterion = s.trim.toLowerCase match {
    case "words"     => Words
    case "typo"      => Typo
    case "proximity" => Proximity
    case "attribute" => Attribute
    case "sort"      => Sort
    case "exactness" => Exactness
    case other if other.startsWith("asc(")  => Asc(other.stripPrefix("asc(").stripSuffix(")"))
    case other if other.startsWith("desc(") => Desc(other.stripPrefix("desc(").stripSuffix(")"))
    case other => throw new IllegalArgumentException(s"unknown criterion: $other")
  }
}

/** sort-at-query-time entry (`AscDesc` in milli); `geoPoint` = sort by
  * haversine distance to a point (the Geo criterion, criteria/geo.rs). */
final case class SortSpec(field: String, ascending: Boolean,
    geoPoint: Option[(Double, Double)] = None)

final case class SearchRequest(
    query: Option[String] = None,
    filter: Option[String] = None,
    offset: Int = 0,
    limit: Int = 20,
    strategy: MatchingStrategy = MatchingStrategy.Last,
    authorizeTypos: Boolean = true,
    /** max primitive query parts (`Search::words_limit`, mod.rs:68) */
    wordsLimit: Int = 10,
    sortCriteria: Seq[SortSpec] = Nil,
    criteriaOverride: Option[Seq[Criterion]] = None,
    distinctOverride: Option[Option[String]] = None,
    /** compute the exact candidate count (`exhaustive_number_hits`);
      * false skips one counting job and reports -1 */
    exhaustive: Boolean = true)

final case class SearchResult(
    documentsIds: Seq[Int],
    candidates: Long)

/** `Search::execute` re-expressed Spark-first
  * (`/root/reference/milli/src/search/mod.rs:136-288`):
  *
  *   1. driver: tokenize query, build query tree (probing the index),
  *      resolve typo derivations against term_dict (one distributed scan);
  *   2. driver: evaluate the filter DSL to a candidate bitmap (pushdown
  *      reads on the facet tables);
  *   3. executors: one job over `doc_word_positions` restricted to the
  *      derived words (parquet IN-pushdown on the word-major table —
  *      footer pruning skips every non-query-word row group) computes the
  *      full per-candidate rank vector (words/typo/proximity/attribute/
  *      exactness) — the bucket cascade becomes a lexicographic sort key;
  *   4. `orderBy(rankVector, docid).limit(offset+limit)` →
  *      TakeOrderedAndProject, then distinct + pagination.
  *
  * The reference drains criteria lazily and stops at `limit`; ranking here
  * is computed for every candidate but each candidate is O(matched words)
  * and the final top-k never materializes more than offset+limit rows per
  * partition (TakeOrdered). At 10^12 docs the scan is pruned by the word
  * IN-filter; candidates without any query word never leave the scan.
  */
object Search {
  /** A resolved filter: Left = handle-cached docids bitmap (zero-job
    * application), Right = streaming one-column docid plan (web-scale
    * results), None = no filter. */
  type Filt = Option[Either[org.roaringbitmap.RoaringBitmap,
    org.apache.spark.sql.DataFrame]]

  /** default bound for the small-query driver path (raised round 4:
    * 2-word stop/common queries at 100k docs estimate ~180k posting rows
    * once the last-word prefix range counts in — 2^17 bounced them to the
    * distributed path; 2^18 ≈ 2 MB of packed postings, still driver-safe,
    * and the byte-budgeted caches evict under pressure anyway). */
  val DefaultMaxLocalPostings: Long = 1L << 18

  /** byte companion to the row gate: the local path also requires the
    * estimated driver materialization (48 B/row + 4 B/position, from the
    * pinned df/ttf sums) to fit this budget. A typical 2^18-row query is
    * ~14 MB and passes untouched; a position-heavy stop word whose rows
    * average hundreds of positions is priced by its BYTES, not its row
    * count — the cleaner long-term shape of the serve gate (round-4
    * notes). */
  val MaxLocalBytes: Long = 64L << 20

  /** Drain cap for the cell-path admission that BYPASSES the volume gate
    * (Words-led phrase-free queries): at most this many docs may rank
    * in-process before the query aborts to the distributed path. Sized to
    * what the parallel per-doc ranker clears in tens of ms (the 63.7k-doc
    * worst rung ranks in ~15 ms); the docid-restricted forward fetch
    * collects ≤ words × cap rows — bounded at any corpus size. */
  val MaxLocalDrain: Long = 1L << 17

  /** Shared CPU pool for the local rank drain (daemon threads; the pool is
    * bounded so concurrent serving clients share the cores fairly). */
  private lazy val rankPool: java.util.concurrent.ExecutorService = {
    val n = math.max(2, Runtime.getRuntime.availableProcessors() - 1)
    java.util.concurrent.Executors.newFixedThreadPool(n,
      (r: Runnable) => { val t = new Thread(r, "graft-rank"); t.setDaemon(true); t })
  }

  /** Parallel indexed map: small inputs run inline; large ones fan out in
    * contiguous slices over [[rankPool]] (each worker fills its own slice —
    * no shared mutable state beyond the result array). */
  private[search] def parMap[A: scala.reflect.ClassTag](n: Int)(f: Int => A): Array[A] = {
    val out = new Array[A](n)
    // inline threshold 256: a mid-size drain cell (a few hundred docs at
    // ~100 µs/doc of sweep+attribute work) gains 10× from the fan-out,
    // while the pool round-trip (~50 µs) still never dominates tiny cells
    if (n < 256) {
      var i = 0
      while (i < n) { out(i) = f(i); i += 1 }
    } else {
      val slices = math.max(2, Runtime.getRuntime.availableProcessors() - 1)
      val step = (n + slices - 1) / slices
      val futs = (0 until slices).map { s =>
        rankPool.submit(new Runnable {
          override def run(): Unit = {
            var i = s * step
            val end = math.min(n, i + step)
            while (i < end) { out(i) = f(i); i += 1 }
          }
        })
      }
      futs.foreach(_.get())
    }
    out
  }

  /** Per-criterion doc comparators for the LOCAL sort path, built from the
    * driver-pinned facet/geo value maps. None when any referenced field
    * (or the geo table) can't pin — callers keep the distributed
    * facet-join path. Semantics mirror `criterionColumns` exactly:
    * numbers order before strings, absent values last (for asc AND desc —
    * Spark's `*_nulls_last`), strings compare in CODE POINT order (the
    * UTF8String binary order the distributed sort uses). */
  private[search] def localSortComparators(index: GraftIndex,
      criteria: Seq[Criterion], sorts: Seq[SortSpec])
      : Option[Map[Criterion, (Int, Int) => Int]] = {

    def fieldCmp(field: String, asc: Boolean): Option[(Int, Int) => Int] =
      index.sortValuesLocal(field).map { pins =>
        // keep-first facet-sort semantics: asc compares a doc's MIN value,
        // desc its MAX (matches the distributed per-direction aggregates)
        val nm = if (asc) pins.numMin else pins.numMax
        val sm = if (asc) pins.strMin else pins.strMax
        (a: Int, b: Int) => {
          val na = nm.get(a); val nb = nm.get(b)
          val c1 =
            if (na != null && nb != null) {
              val c = java.lang.Double.compare(na.doubleValue(), nb.doubleValue())
              if (asc) c else -c
            } else if (na != null) -1
            else if (nb != null) 1
            else 0
          if (c1 != 0) c1
          else {
            val sa = sm.get(a); val sb = sm.get(b)
            if (sa != null && sb != null) {
              val c = cmpCodePoints(sa, sb); if (asc) c else -c
            } else if (sa != null) -1
            else if (sb != null) 1
            else 0
          }
        }
      }

    def geoCmp(qlat: Double, qlng: Double, asc: Boolean): Option[(Int, Int) => Int] =
      index.geoLocal.map { gm =>
        // per-query memo: each doc's haversine computes once across the
        // whole top-k comparison pass (NaN = missing geo → last)
        val memo = new java.util.HashMap[Integer, java.lang.Double]()
        def dist(d: Int): Double = {
          val cached = memo.get(d)
          if (cached != null) cached.doubleValue()
          else {
            val g = gm.get(d)
            val v =
              if (g == null) Double.NaN
              else graft.functions.GeoMath.haversine(g._1, g._2, qlat, qlng)
            memo.put(d, v)
            v
          }
        }
        (a: Int, b: Int) => {
          val da = dist(a); val db = dist(b)
          val aMiss = java.lang.Double.isNaN(da)
          val bMiss = java.lang.Double.isNaN(db)
          if (!aMiss && !bMiss) {
            val c = java.lang.Double.compare(da, db); if (asc) c else -c
          } else if (!aMiss) -1
          else if (bMiss) 0
          else 1
        }
      }

    def compose(cs: Seq[(Int, Int) => Int]): (Int, Int) => Int = (a, b) => {
      var i = 0; var r = 0
      while (i < cs.length && r == 0) { r = cs(i)(a, b); i += 1 }
      r
    }

    val needed: Seq[(Criterion, Option[(Int, Int) => Int])] = criteria.collect {
      case c @ Criterion.Asc(f)  => c -> fieldCmp(f, asc = true)
      case c @ Criterion.Desc(f) => c -> fieldCmp(f, asc = false)
      case c @ Criterion.Sort if sorts.nonEmpty =>
        val entries = sorts.map { s =>
          s.geoPoint match {
            case Some((la, ln)) => geoCmp(la, ln, s.ascending)
            case None           => fieldCmp(s.field, s.ascending)
          }
        }
        c -> (if (entries.exists(_.isEmpty)) None
              else Some(compose(entries.map(_.get))))
    }
    if (needed.exists(_._2.isEmpty)) None
    else Some(needed.map { case (c, f) => c -> f.get }.toMap)
  }

  /** code-point string order = the UTF-8 binary order Spark sorts by
    * (Java compareTo's UTF-16 unit order diverges for supplementary
    * characters). */
  private def cmpCodePoints(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }
}

class Search(index: GraftIndex,
    /** queries whose scan provably touches ≤ this many posting rows rank
      * driver-side (small-query path); 0 forces the distributed path. */
    maxLocalPostings: Long = Search.DefaultMaxLocalPostings,
    /** cell-drain admission cap: Words-led phrase-free queries past the
      * volume gate still rank driver-side unless more than this many docs
      * must drain (then: distributed). */
    maxLocalDrain: Long = Search.MaxLocalDrain) extends Serializable {
  import index.spark
  import spark.implicits._

  private val settings = index.settings

  def execute(req: SearchRequest): SearchResult =
    // in-flight marker: background complete fills defer (bounded) while any
    // query runs — their 32-thread Spark scan otherwise competes with the
    // scheduling query's own driver-side ranking tail (PostingCache)
    index.markQuery(executeImpl(req))

  private def executeImpl(req: SearchRequest): SearchResult = {
    index.checkFresh() // stale-handle guard: caches pin the opened version
    prepare(req) match {
      case Some(p) => routes(p).iterator.flatMap(run(p, _)).next()
      case None    => executeNoQuery(req)
    }
  }

  /** Criteria, distinct field, resolved filter and tombstones of `req`. */
  private def context(req: SearchRequest)
      : (Seq[Criterion], Option[String], Search.Filt, RoaringBitmap) = {
    val criteria: Seq[Criterion] =
      req.criteriaOverride.getOrElse(settings.criteria.map(Criterion.parse))
    val distinctField = req.distinctOverride.getOrElse(settings.distinctField)

    // `SortRankingRuleMissing` (search/mod.rs:177-204): sorting at query
    // time requires the `sort` ranking rule in the criteria list.
    if (req.sortCriteria.nonEmpty && !criteria.contains(Criterion.Sort))
      throw new IllegalArgumentException(
        "sort ranking rule missing: query-time sort requires the `sort` criterion")

    // ---- filter → distributed candidate plan (None = all); soft-deleted
    // docs are always subtracted (`excluded_candidates`, search/mod.rs:252).
    // The filter is a one-column docid DataFrame applied as a semi-join —
    // the driver never materializes the candidate set (the tombstone bitmap
    // IS driver-side, but it's bounded by deletes-since-last-compact).
    // bounded filter results cache as a handle-scoped BITMAP (milli's
    // in-process filter algebra): warm repeated filters run zero jobs on
    // the local paths and a foldable-literal predicate on the distributed
    // ones. Oversized results keep the streaming semi-join plan (Right).
    val filterDf: Search.Filt =
      req.filter.map { f =>
        index.filterBitmap(f) match {
          case Some(bm) => Left(bm)
          case None =>
            Right(FilterEvaluator.candidates(index, FilterParser.parse(f)))
        }
      }
    (criteria, distinctField, filterDf, index.deletedDocids)
  }

  /** A request with query words, prepared for its routes: primitive query,
    * tree and derivations (driver); None when the query has no words. */
  private[search] def prepare(req: SearchRequest): Option[Prepared] = {
    // emptiness test only — the query string itself must keep its trailing
    // whitespace: primitiveQuery marks the last word as a prefix only when
    // the query ends MID-WORD (reference query_tree.rs — "w96 " means the
    // word is finished, no prefix expansion), and a trim here would silently
    // re-prefix it
    val parts = req.query.filter(_.trim.nonEmpty)
      .map(QueryTree.primitiveQuery(_, settings.stopWords, req.wordsLimit))
      .getOrElse(Nil)
    if (parts.isEmpty) return None
    val (criteria, distinctField, filterDf, deleted) = context(req)
    val queryWords = parts.collect { case PWord(w, _) => w }
    val ctx = index.primedQueryContext(queryWords)
    val tree = QueryTree.build(ctx, req.strategy, req.authorizeTypos, parts).get
    val branches = QueryTree.wordsBranches(tree).toVector

    // derivations for every key of every branch (one term_dict scan);
    // 0-typo prefix keys stay un-enumerated and become scan range
    // predicates
    val allKeys = branches.flatMap(Ranker.derivationKeys).toSet
    val derivations = index.derivations(allKeys)
    val relevantWords: Seq[String] =
      (derivations.map.values.flatten.map(_._1) ++
        allKeys.collect { case (w, false, 0) => w }).toSeq.distinct
    val prefixWords: Seq[String] =
      allKeys.collect { case (w, true, _) => w }.toSeq
        // drop prefixes already covered by a shorter one
        .sortBy(_.length)
        .foldLeft(Vector.empty[String]) { (acc, p) =>
          if (acc.exists(p.startsWith)) acc else acc :+ p
        }
    Some(Prepared(req, criteria, distinctField, filterDf, deleted, parts, tree,
      branches, derivations, relevantWords, prefixWords,
      Ranker.exactParts(parts, ctx.synonyms), settings.searchableFields.indices))
  }

  /** The planned routes of a prepared query; the probes read this index. */
  private[search] def routes(p: Prepared): LazyList[Planner.Route] =
    Planner.routes(p, maxLocalPostings, maxLocalDrain, new Planner.Probes {
      def distinctPin(field: String) = index.sortValuesLocal(field).map(_.strMin)
      def postings = index.estimatePostings(p.relevantWords, p.prefixWords)
      def postingBytes = index.estimatePostingBytes(p.relevantWords, p.prefixWords)
      def sortComparators =
        Search.localSortComparators(index, p.criteria, p.req.sortCriteria)
    })

  /** Run one route; None = refused, the next route answers. */
  private[search] def run(p: Prepared, route: Planner.Route): Option[SearchResult] =
    route match {
      case Planner.NoRank(distinct) => executeNoRank(p, distinct)
      case r: Planner.SortLed => executeSortLed(p, r)
      case r: Planner.Local   => executeQueryLocal(p, r)
      case Planner.Distributed => Some(executeDistributed(p))
    }

  /** Apply the filter (bitmap predicate or semi-join) + tombstone predicate
    * to any docid-keyed plan. Bitmap operands are foldable literals —
    * deserialized once per task, not per row. */
  private def applyFilter(
      df: DataFrame,
      filterDf: Search.Filt,
      deleted: RoaringBitmap): DataFrame = {
    val semi = filterDf match {
      case None => df
      case Some(Left(bm)) =>
        df.where(graft.functions.GraftFunctions.bitmap_contains(
          lit(Bitmaps.cboSerialize(bm)), $"docid"))
      case Some(Right(fd)) => df.join(fd, Seq("docid"), "left_semi")
    }
    if (deleted.isEmpty) semi
    else semi.where(!graft.functions.GraftFunctions.bitmap_contains(
      lit(Bitmaps.cboSerialize(deleted)), $"docid"))
  }

  // ------------------------------------------------------------- no query

  private def executeNoQuery(req: SearchRequest): SearchResult = {
    val (criteria, distinctField, filterDf, deleted) = context(req)
    val docids0 = applyFilter(index.documents.select($"docid"), filterDf, deleted)
    // exhaustive counting + top-k are two actions over the same filter
    // plan: persist so it runs once
    val persisted =
      if (req.exhaustive && filterDf.nonEmpty)
        Some(docids0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    val docids = persisted.getOrElse(docids0)
    try {
      val ranked = attachSortColumns(docids, criteria, req.sortCriteria)
      val sortCols = sortColumns(criteria, req.sortCriteria) :+ $"docid".asc
      val total =
        if (req.exhaustive) docids.count()
        else if (filterDf.isEmpty && deleted.isEmpty) index.numberOfDocuments
        else -1L
      finish(ranked, sortCols, distinctField, req, total)
    } finally persisted.foreach(_.unpersist(false))
  }

  // ---------------------------------------------------------------- query

  /** [[Planner.SortLed]]: the facet level-tree walk's value groups in
    * order. Groups fully before the page window only count; groups
    * overlapping it contribute their docid-ordered docs, or with `rest`
    * criteria rank through the capped local drain. None when the walk
    * exceeds its fetch budget or a group's drain hits the cap. */
  private def executeSortLed(p: Prepared, r: Planner.SortLed): Option[SearchResult] = {
    val req = p.req
    index.resolveTreeBitmap(p.tree, p.derivations).flatMap { cand =>
      cand.andNot(p.deleted)
      p.filter.foreach(_.left.foreach(fbm => cand.and(fbm)))
      FacetLevels.sortedGroups(index, r.field, r.asc, cand, req.offset + req.limit)
        .flatMap { groups =>
          val out = Seq.newBuilder[Int]
          var before = 0L
          var got = 0
          val complete = groups.iterator.takeWhile(_ => got < req.limit).forall { g =>
            val skip = math.max(0L, req.offset - before).toInt
            before += g.getLongCardinality
            before <= req.offset || {
              val page =
                if (r.rest.isEmpty) Some(docids(g).slice(skip, skip + req.limit - got).toSeq)
                else executeQueryLocal(
                  p.copy(filter = Some(Left(g)), criteria = r.rest,
                    req = req.copy(offset = skip, limit = req.limit - got)),
                  Planner.Local(Map.empty, None, maxLocalDrain)).map(_.documentsIds)
              page.foreach { ids => out ++= ids; got += ids.length }
              page.isDefined
            }
          }
          if (complete) Some(SearchResult(out.result(), cand.getLongCardinality)) else None
        }
    }
  }

  private def executeDistributed(p: Prepared): SearchResult = {
    val bBranches = spark.sparkContext.broadcast(p.branches)
    val bDerivations = spark.sparkContext.broadcast(p.derivations)
    val bExactParts = spark.sparkContext.broadcast(p.exactParts.toVector)
    val bFids = spark.sparkContext.broadcast(p.searchableFids.toVector)
    val bFlats = spark.sparkContext.broadcast(
      p.branches.map(Ranker.flattenQueryTree))

    // per-candidate rank vector job. doc_word_positions is written
    // WORD-major (IndexBuilder: range-partitioned + sorted on
    // (word, docid)), so the word IN-filter and prefix StartsWith ranges
    // prune at the parquet footer — at 10^12 docs the scan touches only
    // the query words' row groups, the physical twin of milli's
    // word_docids key ranges. The surviving rows (≈ candidates × query
    // words) are then hash-repartitioned by docid for the consecutive-run
    // per-doc grouping: a candidate-sized shuffle, orders of magnitude
    // smaller than the un-pruned scan it replaces.
    val dwp = applyFilter(
      index.docWordPositions.where(wordPredicate(p.relevantWords, p.prefixWords)),
      p.filter, p.deleted)
    val docData0 = dwp.select($"docid", $"word", $"positions")
      .repartition($"docid")
      .sortWithinPartitions($"docid")
      .as[(Int, String, Array[Int])]
      .mapPartitions { it =>
        val src = it.buffered
        new Iterator[(Int, Map[String, Array[Int]])] {
          override def hasNext: Boolean = src.hasNext
          override def next(): (Int, Map[String, Array[Int]]) = {
            val docid = src.head._1
            val m = Map.newBuilder[String, Array[Int]]
            while (src.hasNext && src.head._1 == docid) {
              val r = src.next(); m += (r._2 -> r._3)
            }
            (docid, m.result())
          }
        }
      }
      .toDF("docid", "positions")
    // fid→word_count maps are ONLY an Exactness input: when the criteria
    // don't rank by exactness the join is skipped outright (the local
    // path's needFwc gate). When they do, doc_fid_word_counts is
    // semi-joined against the candidates' docids BEFORE the per-doc map
    // aggregation — without the bound, at 10^12 docs every ranked query
    // would shuffle the whole (docid, fid, wc) table to build maps for a
    // candidate set many orders of magnitude smaller (fetchFwc is the
    // driver-path twin of this same bound).
    val docData =
      if (!p.criteria.contains(Criterion.Exactness))
        docData0.withColumn("fwc", lit(null).cast("map<int,int>"))
      else
        docData0.join(
          index.docFidWordCounts
            .join(dwp.select($"docid").distinct(), Seq("docid"), "left_semi")
            .groupBy($"docid")
            .agg(map_from_arrays(collect_list($"fid"), collect_list($"word_count")).as("fwc")),
          Seq("docid"), "left")

    val rankedRows = docData
      .select($"docid", $"positions", $"fwc")
      .as[(Int, Map[String, Array[Int]], Map[Int, Int])]
      .flatMap { case (docid, positions, fwcOrNull) =>
        val fwc = Option(fwcOrNull).getOrElse(Map.empty[Int, Int])
        val doc = Ranker.DocData(positions, fwc)
        Ranker.rankVector(doc, bBranches.value, bDerivations.value,
            bExactParts.value, bFids.value, Some(bFlats.value))
          .map { case (w, t, p, a, e) => (docid, w, t, p, a, e) }
          .iterator
      }
      .toDF("docid", "r_words", "r_typo", "r_proximity", "r_attribute", "r_exactness")

    val withSorts = attachSortColumns(rankedRows, p.criteria, p.req.sortCriteria)
    val sortCols = p.criteria.flatMap(criterionColumns(_, p.req.sortCriteria)) :+ $"docid".asc
    // exhaustive counting + top-k are two actions: persist the (small,
    // candidates × rank-ints) rank rows so the scan/rank job runs once
    val persisted =
      if (p.req.exhaustive)
        Some(withSorts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    try {
      val total = persisted.map(_.count()).getOrElse(-1L)
      finish(persisted.getOrElse(withSorts), sortCols, p.distinctField, p.req, total)
    } finally persisted.foreach(_.unpersist(false))
  }

  /** Word scan predicate: IN over the enumerated derivations + StartsWith
    * ranges for prefix keys (both push down to the parquet footers). */
  private def wordPredicate(relevantWords: Seq[String], prefixWords: Seq[String]) = {
    val in = if (relevantWords.nonEmpty) Seq($"word".isin(relevantWords: _*)) else Nil
    val pref = prefixWords.map(p => $"word".startsWith(p))
    (in ++ pref).reduceOption(_ || _).getOrElse(lit(false))
  }

  /** [[Planner.Local]]: pruned posting rows through the forward-index LRU
    * cache (zero jobs when warm), then the SAME rank vector + ordering
    * in-process. None when more than the route's drain cap must drain. The
    * filter NEVER collects its full candidate set: it is semi-joined
    * against the query candidates, so the driver materializes at most that
    * many filter survivors. Word counts come from the pinned
    * (docid,fid)→wc map when the index is small enough, else a
    * candidate-bounded semi-join. */
  private def executeQueryLocal(p: Prepared, route: Planner.Local)
      : Option[SearchResult] = {
    val Prepared(req, criteria, _, filterDf, deleted, _, _, branches, derivations,
      relevantWords, prefixWords, exactParts, searchableFids) = p
    val Planner.Local(sortCmps, distinctVals, drainCap) = route
    // Lazy words-bucket drain (milli's criterion iterator stops at `limit`,
    // criteria/words.rs:31-106): pass 1 computes only BUCKET MEMBERSHIP per
    // candidate; when the FIRST active criterion is Words, only docs in the
    // leading buckets covering offset+limit get the full rank vector
    // (typo/proximity/attribute/exactness) — a common-word query over 10^5
    // local candidates ranks a few hundred docs, not all.
    //
    // Pass 1 itself is BITMAP ALGEBRA whenever the branches are phrase-free:
    // per-branch candidate bitmaps off the cached word/prefix docids tables
    // (zero jobs warm — the same resolver the no-rank fast path uses), so
    // DocData maps are built ONLY for the docs actually ranked. Branches
    // with phrases need positions and fall back to per-doc matching.
    val take = req.offset + req.limit
    // distinct must rank EVERY candidate: a dedup in a leading bucket pulls
    // later buckets into the page, and the distinct-adjusted candidate
    // count spans all buckets (facet_distinct.rs semantics)
    val wordsFirst =
      criteria.headOption.contains(Criterion.Words) && distinctVals.isEmpty
    val flats: Vector[Ranker.Flat] = branches.map(Ranker.flattenQueryTree)
    val branchPrefixKeys: Vector[Seq[(String, Boolean, Int)]] =
      branches.map(b => Ranker.derivationKeys(b).filter(_._2).toSeq)
    val needFwc = criteria.contains(Criterion.Exactness)
    val branchBms: Option[Vector[RoaringBitmap]] = {
      val bms = branches.map(b => index.resolveTreeBitmap(b, derivations))
      if (bms.contains(None)) None else Some(bms.map(_.get))
    }

    /** fid → word_count map for one doc (exactness input). */
    def fwcFor(fetched: Map[Int, Map[Int, Int]])(d: Int): Map[Int, Int] =
      if (!needFwc) Map.empty
      else index.fidWordCountsLocal match {
        case Some(lm) =>
          searchableFids.flatMap(f =>
            lm.get((d.toLong << 16) | f.toLong).map(f -> _)).toMap
        case None => fetched.getOrElse(d, Map.empty)
      }
    /** candidate-bounded semi-join fetch when the wc map isn't pinned. */
    def fetchFwc(ids: Seq[Int]): Map[Int, Map[Int, Int]] =
      if (!needFwc || ids.isEmpty || index.fidWordCountsLocal.isDefined) Map.empty
      else {
        val candDf = spark.createDataset(ids).toDF("docid")
        index.docFidWordCounts
          .join(broadcast(candDf), Seq("docid"), "left_semi")
          .select($"docid", $"fid", $"word_count")
          .as[(Int, Int, Int)].collect()
          .groupBy(_._1).map { case (d, rs) => d -> rs.map(r => r._2 -> r._3).toMap }
      }

    // lexicographic order over the criteria that are active, then docid —
    // identical to the distributed sortCols. Engine criteria compare
    // rank-vector components; sort-ish criteria compare driver-pinned
    // facet/geo values (localSortComparators). Hoisted above the drain:
    // the bound-cell verification loop needs the full order to find the
    // page's take-th doc.
    type R = (Int, (Int, Int, Int, Long, Int))
    val comps: Array[(R, R) => Int] = criteria.flatMap {
      case Criterion.Words =>
        Seq((a: R, b: R) => Integer.compare(a._2._1, b._2._1))
      case Criterion.Typo =>
        Seq((a: R, b: R) => Integer.compare(a._2._2, b._2._2))
      case Criterion.Proximity =>
        Seq((a: R, b: R) => Integer.compare(a._2._3, b._2._3))
      case Criterion.Attribute =>
        Seq((a: R, b: R) => java.lang.Long.compare(a._2._4, b._2._4))
      case Criterion.Exactness =>
        Seq((a: R, b: R) => Integer.compare(a._2._5, b._2._5))
      case c =>
        sortCmps.get(c).map(f => (a: R, b: R) => f(a._1, b._1)).toSeq
    }.toArray
    val ord = new Ordering[R] {
      override def compare(a: R, b: R): Int = {
        var i = 0
        while (i < comps.length) {
          val c = comps(i)(a, b)
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a._1, b._1)
      }
    }

    val (totalCandidates, ranked) = branchBms match {
      case Some(bms) =>
        // disjoint buckets: bucket i = docs whose FIRST matching branch is i
        // (indexWhere semantics), tombstones out
        val seen = new RoaringBitmap()
        val buckets = bms.map { bm =>
          val b = RoaringBitmap.andNot(bm, seen)
          b.andNot(deleted)
          seen.or(bm)
          b
        }
        // filter application: a handle-cached bitmap intersects in-process
        // (zero jobs warm); a streaming plan semi-joins against the
        // candidate union
        filterDf.foreach { f =>
          val keep = filterSurvivors(f, buckets.reduce((a, b) => RoaringBitmap.or(a, b)).toArray)
          buckets.foreach(_.and(keep))
        }
        val total = buckets.iterator.map(_.getLongCardinality).sum
        // lazy drain: whole leading buckets until offset+limit is covered.
        // When the criteria continue with typo/proximity, a LARGE leading
        // bucket is first SUBDIVIDED into (typo, prox) cells resolved with
        // word/pair bitmap algebra (RankCells — milli's criterion cascade
        // as set operations, criteria/typo.rs + proximity.rs:185-347) and
        // only the leading cells covering offset+limit drain: a 35k-doc
        // stop-word bucket ranks tens of docs per-doc, not all of them.
        // Cell labels never enter the final order (chosen docs still get
        // the full per-doc rank vector below); cells only pick WHICH docs
        // to rank, so the drain is rank-identical by construction as long
        // as the cells are lexicographically sound.
        val cellDims: Seq[Criterion] =
          if (!wordsFirst) Nil
          else criteria.drop(1)
            .takeWhile(c => c == Criterion.Typo || c == Criterion.Proximity)
            .take(2)
        val chosenIds = scala.collection.mutable.ArrayBuffer.empty[Int]
        val chosenBuckets = scala.collection.mutable.ArrayBuffer.empty[Int]
        // per-chosen-doc criterion values PROVEN by the drain cell (−1 =
        // unknown → computed per-doc); packed (typo << 8 | prox+1)-free as
        // two parallel buffers for the hot loop
        val chosenTypo = scala.collection.mutable.ArrayBuffer.empty[Int]
        val chosenProx = scala.collection.mutable.ArrayBuffer.empty[Int]
        val chosenAttr = scala.collection.mutable.ArrayBuffer.empty[Long]
        val chosenExact = scala.collection.mutable.ArrayBuffer.empty[Int]
        var drained = 0L
        var capHit = false
        var anyBoundCell = false
        // ---- cell REFINEMENT (tables #10/#12 + fid_word_count_docids):
        // a large cell whose labels prove every criterion up to the next
        // Attribute / Exactness subdivides by that criterion's EXACT
        // strata (RankCells.attrCells / exactCells — the set re-expression
        // of milli's attribute.rs / exactness.rs algorithms), so a giant
        // tie cell (stop-word queries) drains tens of docs per-doc instead
        // of thousands — or aborting to the distributed path at the drain
        // cap. Refinement only applies when every criterion BEFORE the
        // refined one is exactly labeled (else the subdivided emission
        // order wouldn't be lexicographically sound).
        val critTail = criteria.drop(1)
        def nextUnprovenRefinable(c: RankCells.Cell): Option[Criterion] = {
          var i = 0
          while (i < critTail.length) {
            critTail(i) match {
              case Criterion.Typo =>
                if (c.typo < 0) return None
              case Criterion.Proximity =>
                if (c.prox < 0 || c.proxBound) return None
              case Criterion.Attribute =>
                if (c.attr == RankCells.AttrUnknown)
                  return Some(Criterion.Attribute)
              case Criterion.Exactness =>
                if (c.exact < 0) return Some(Criterion.Exactness)
              case other =>
                // sort-ish criteria compare pinned per-doc values — but an
                // INACTIVE one (no comparator: the default rules' `sort`
                // placeholder without a query-time sort) contributes
                // nothing to the order and is skippable
                if (sortCmps.contains(other)) return None
            }
            i += 1
          }
          None
        }
        def refineCell(c: RankCells.Cell, bi: Int): Iterator[RankCells.Cell] =
          if (!wordsFirst || c.noRefine ||
              c.docs.getLongCardinality < RankCells.RefineMinDocs)
            Iterator.single(c)
          else nextUnprovenRefinable(c) match {
            case Some(Criterion.Attribute) =>
              // forced: unrefined, this cell alone overflows the remaining
              // drain budget and aborts the query to the distributed path —
              // wide-material algebra (normally refused) still beats that
              val forced = c.docs.getLongCardinality > drainCap - drained
              RankCells.attrCells(index, derivations, flats(bi), c, forced) match {
                case Some(cs) => cs.flatMap(refineCell(_, bi))
                case None     => Iterator.single(c)
              }
            case Some(Criterion.Exactness) =>
              RankCells.exactCells(index, exactParts, searchableFids, c)
                .getOrElse(Iterator.single(c))
            case _ => Iterator.single(c)
          }
        // resumable flattened cell stream across buckets (lazy: a bucket's
        // cells build only when the drain reaches it, with the CURRENT
        // drained count sizing the pays-off check exactly like the old loop)
        val cellStream: BufferedIterator[(RankCells.Cell, Int)] =
          buckets.iterator.zipWithIndex.flatMap { case (b, bi) =>
            val cellIt: Iterator[RankCells.Cell] =
              if (cellDims.isEmpty || b.getLongCardinality <= math.max(64L, take - drained))
                Iterator.single(RankCells.Cell(b, -1, -1))
              else RankCells.cellIterator(index, branches(bi), derivations, cellDims, b)
                .getOrElse(Iterator.single(RankCells.Cell(b, -1, -1)))
            cellIt.flatMap(refineCell(_, bi)).map(c => (c, bi))
          }.buffered
        def drainOne(): Unit = {
          val (cell, bi) = cellStream.next()
          drained += cell.docs.getLongCardinality
          // drain cap: a tie cell too large to rank in-process sends the
          // whole query to the distributed rank path (a volume-gated Local
          // route's cap is Long.MaxValue)
          if (drained > drainCap) { capHit = true; return }
          if (cell.proxBound) anyBoundCell = true
          val it = cell.docs.getIntIterator
          while (it.hasNext) {
            chosenIds += it.next(); chosenBuckets += bi
            chosenTypo += cell.typo
            // a bound label is NOT the rank component — force the per-doc
            // plane sweep for these docs
            chosenProx += (if (cell.proxBound) -1 else cell.prox)
            chosenAttr += cell.attr
            chosenExact += cell.exact
          }
        }
        // take-check BEFORE hasNext: the buffered flatMap materializes the
        // next head on hasNext, which would run one refinement (possibly a
        // forced strata sweep) for a cell the satisfied drain never takes
        while (!capHit && (!wordsFirst || drained < take) && cellStream.hasNext)
          drainOne()
        if (capHit) return None
        // incremental fetch+rank over chosen index ranges: the verification
        // loop below may resume the drain, so ranking happens in slices
        // FULLY-PROVEN docs — every ACTIVE engine criterion's component
        // carried by their drain cell — skip the forward fetch and the
        // DocData build entirely (the rank tuple assembles from labels;
        // inactive components are never compared by `ord`). A giant tie
        // cell refined by attr/exact strata ranks with ZERO forward rows.
        val needTypoC = criteria.contains(Criterion.Typo)
        val needProxC = criteria.contains(Criterion.Proximity)
        val needAttrC = criteria.contains(Criterion.Attribute)
        val needExactC = criteria.contains(Criterion.Exactness)
        def provenAt(i: Int): Boolean =
          (!needTypoC || chosenTypo(i) >= 0) &&
            (!needProxC || chosenProx(i) >= 0) &&
            (!needAttrC || chosenAttr(i) != RankCells.AttrUnknown) &&
            (!needExactC || chosenExact(i) >= 0)
        def rankRange(from: Int, until: Int): Array[R] = {
          if (from >= until) return Array.empty
          val needIdx = (from until until).filterNot(provenAt)
          val sliceIds = needIdx.map(chosenIds(_))
          // positions are needed only for the DRAINED buckets' branches
          // (plus the query-level exactness part words): a Last-strategy
          // query carries every reduced branch's derivations in
          // relevantWords, but the page usually drains from branch 0 alone
          val usedKeys: Set[(String, Boolean, Int)] =
            needIdx.map(chosenBuckets(_)).distinct
              .flatMap(bi => Ranker.derivationKeys(branches(bi))).toSet
          // exactness part words are fetched LITERALLY and unconditionally:
          // a part word that reaches the tree only as a PREFIX key (last
          // query word) is absent from relevantWords, but exactnessRank
          // needs its literal positions — the distributed path sees them
          // through the prefix range scan, so without this the drained
          // docs' exactness collapses into a tie (seed-424242 #210 /
          // seed-77001122 #29 parity failures)
          val exactWords: Seq[String] = exactParts.flatMap {
            case Ranker.ESynonyms(ws) => ws
            case Ranker.EPhrase(ws)   => ws.flatten
          }
          val neededWordSet: Set[String] =
            usedKeys.flatMap { case (w, pfx, t) =>
              derivations.map.getOrElse((w, pfx, t), Nil).map(_._1) ++
                (if (!pfx) Seq(w) else Nil)
            } ++ exactWords
          // presence filter: of the (possibly hundreds of) derivation
          // words, fetch positions only for those whose candidate bitmap
          // intersects this slice's docs — zero jobs warm, and the scan
          // predicate shrinks to the words that can contribute rows
          val arrays: Array[Array[(Int, String, Array[Int])]] =
            if (needIdx.isEmpty) Array.empty
            else {
              val sliceBm = graft.core.Bitmaps.fromInts(sliceIds.toArray)
              val fetchP = prefixWords.filter(p =>
                usedKeys.exists { case (w, pfx, _) => pfx && w.startsWith(p) })
              // exact-part words already covered by a fetched prefix range
              // arrive with its rows — only the uncovered ones fetch as
              // literal words
              val fetchW = index.presentWords(
                (relevantWords.filter(neededWordSet) ++
                  exactWords.filterNot(w => fetchP.exists(w.startsWith)))
                  .distinct, sliceBm)
              // docid-restricted cold fetch for heavy words (async
              // complete fill warms the cache behind this query) — the
              // drain only needs positions for the CHOSEN docs
              val (wRows, pRows) =
                index.dwpCache.getForDocs(fetchW, fetchP, sliceIds.toArray)
              (wRows.valuesIterator ++ pRows.valuesIterator).toArray
            }
          val fetched = fetchFwc(sliceIds.toSeq)
          val fwcOf = fwcFor(fetched) _
          // positions ONLY for the ranked docs: each cached row array is
          // docid-sorted (DwpCache sorts at fill), so per chosen doc we
          // binary-search each array — O(|chosen| · arrays · log rows),
          // independent of the total cached row count — build its DocData
          // inline and rank it with the KNOWN bucket; the drain is
          // embarrassingly parallel and fans out over the driver's cores
          Search.parMap(until - from) { k =>
            val i = from + k
            val d = chosenIds(i)
            if (provenAt(i))
              // label-only assembly: inactive components carry their
              // sentinel (−1 / AttrUnknown) — `ord` never reads them
              d -> ((chosenBuckets(i), chosenTypo(i), chosenProx(i),
                chosenAttr(i), chosenExact(i)))
            else {
              val pos = scala.collection.mutable.HashMap.empty[String, Array[Int]]
              arrays.foreach { a =>
                var lo = 0
                var hi = a.length
                while (lo < hi) { // first row with docid >= d
                  val mid = (lo + hi) >>> 1
                  if (a(mid)._1 < d) lo = mid + 1 else hi = mid
                }
                while (lo < a.length && a(lo)._1 == d) {
                  pos.update(a(lo)._2, a(lo)._3)
                  lo += 1
                }
              }
              val bi = chosenBuckets(i)
              val doc = Ranker.DocData(pos, fwcOf(d))
              d -> Ranker.rankVectorAt(doc, branches(bi), bi, derivations,
                exactParts, searchableFids, flats(bi), branchPrefixKeys(bi),
                knownTypo = chosenTypo(i), knownProx = chosenProx(i),
                knownAttr = chosenAttr(i), knownExact = chosenExact(i))
            }
          }
        }
        val rankedBuf = scala.collection.mutable.ArrayBuffer.empty[R]
        var rankedUpTo = 0
        def rankMore(): Unit = {
          val u = chosenIds.length
          rankedBuf ++= rankRange(rankedUpTo, u)
          rankedUpTo = u
        }
        rankMore()
        // BOUND-CELL VERIFICATION: lower-bound prox cells (≥3-word
        // branches) may have drained docs whose TRUE proximity exceeds the
        // next cell's bound — keep draining while the next cell could
        // still place a doc at or above the page's take-th position. The
        // comparison walks (words bucket, then the cell dims in criteria
        // order); equality drains too (later dims break the tie). Exact
        // cell streams never set anyBoundCell and keep the r4 stop rule.
        if (wordsFirst && anyBoundCell) {
          def cellCouldBeat(c: RankCells.Cell, bi: Int, kth: R): Boolean = {
            if (bi != kth._2._1) return bi < kth._2._1
            var i = 0
            while (i < cellDims.length) {
              val (cv, kv) = cellDims(i) match {
                case Criterion.Typo => (c.typo, kth._2._2)
                case _              => (c.prox, kth._2._3)
              }
              if (cv == -1) return true // unknown label → conservative drain
              if (cv != kv) return cv < kv
              i += 1
            }
            true // full tie on the proven prefix → later dims could beat
          }
          var stop = false
          while (!stop && !capHit && cellStream.hasNext) {
            val (nc, nbi) = cellStream.head
            val mustDrain =
              rankedBuf.length < take || {
                val kth = rankedBuf.sorted(ord).apply(take - 1)
                cellCouldBeat(nc, nbi, kth)
              }
            if (mustDrain) { drainOne(); if (!capHit) rankMore() }
            else stop = true
          }
          if (capHit) return None
        }
        (total, rankedBuf.toArray)

      case None =>
        // phrase fallback: per-doc boolean matching over every candidate row
        val (wRows, pRows) = index.dwpCache.get(relevantWords, prefixWords)
        val m = scala.collection.mutable.LinkedHashMap
          .empty[Int, scala.collection.mutable.HashMap[String, Array[Int]]]
        (wRows.valuesIterator ++ pRows.valuesIterator).flatten.foreach { case (d, w, ps) =>
          if (!deleted.contains(d))
            m.getOrElseUpdate(d,
              scala.collection.mutable.HashMap.empty[String, Array[Int]]).update(w, ps)
        }
        // filter: cached bitmap in-process; otherwise a semi-join against
        // the candidate set
        filterDf.foreach { f =>
          val keep = filterSurvivors(f, m.keys.toArray)
          m.filterInPlace((d, _) => keep.contains(d))
        }
        val bucketed: Array[scala.collection.mutable.ArrayBuffer[Int]] =
          Array.fill(branches.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
        m.foreach { case (docid, pos) =>
          val doc = Ranker.DocData(pos, Map.empty) // matching needs no fwc
          val bi = branches.indexWhere(b => Ranker.matches(b, doc, derivations))
          if (bi >= 0) bucketed(bi) += docid
        }
        val total = bucketed.iterator.map(_.length.toLong).sum
        val chosenIds: Seq[Int] =
          if (!wordsFirst) bucketed.iterator.flatten.toSeq
          else {
            val acc = Vector.newBuilder[Int]
            var n = 0
            bucketed.iterator.takeWhile(_ => n < take).foreach { b =>
              acc ++= b; n += b.length
            }
            acc.result()
          }
        val fetched = fetchFwc(chosenIds)
        val fwcOf = fwcFor(fetched) _
        val out = chosenIds.iterator.flatMap { docid =>
          val doc = Ranker.DocData(m(docid), fwcOf(docid))
          Ranker.rankVector(doc, branches, derivations, exactParts,
              searchableFids, Some(flats))
            .map(v => (docid, v))
        }.toArray
        (total, out)
    }
    distinctVals match {
      case Some(sm) =>
        // distinct drain over the full rank order; the distinct-adjusted
        // candidate count is the kept count over ALL candidates (wordsFirst
        // was disabled, so `ranked` covers every bucket)
        val (ids, kept) = keepFirst(ranked.sorted(ord).iterator.map(_._1), sm, take)
        Some(SearchResult(ids.drop(req.offset), kept))
      case None =>
        // bounded top-k selection instead of a full sort: a size-
        // (offset+limit) max-heap over the rank order — O(n) peek
        // comparisons for the common case (most candidates never displace
        // the heap head)
        val k = take
        val page =
          if (k == 0) Array.empty[(Int, (Int, Int, Int, Long, Int))]
          else if (ranked.length <= math.max(k * 4, 64)) ranked.sorted(ord)
          else {
            val heap = new java.util.PriorityQueue[(Int, (Int, Int, Int, Long, Int))](
              k + 1, ord.reverse)
            ranked.foreach { r =>
              if (heap.size < k) heap.offer(r)
              else if (ord.lt(r, heap.peek())) { heap.poll(); heap.offer(r) }
            }
            val arr = heap.toArray(Array.empty[(Int, (Int, Int, Int, Long, Int))])
            arr.sorted(ord)
          }
        Some(SearchResult(
          page.iterator.map(_._1).slice(req.offset, req.offset + req.limit).toSeq,
          totalCandidates))
    }
  }

  /** [[Planner.NoRank]]: ascending-docid page + count of the bitmap-
    * resolved tree. Without a filter this is zero jobs (roaring iteration);
    * with a streaming one, the candidate bitmap rides along as a foldable
    * `bitmap_contains` literal (deserialized once per task) and only the
    * ≤ offset+limit page plus one count come back — the driver never
    * materializes the filter set. With a distinct pin, docid order IS the
    * rank order, so the keep-first walk equals the distributed window's
    * row_number==1 + count (which always counts exactly); None when that
    * walk would cover more than 4M candidates. */
  private def executeNoRank(p: Prepared,
      distinctPin: Option[java.util.HashMap[Integer, String]]): Option[SearchResult] = {
    val req = p.req
    val take = req.offset + req.limit
    index.resolveTreeBitmap(p.tree, p.derivations)
      .filter(c => distinctPin.isEmpty || c.getLongCardinality <= (1L << 22))
      .map { cand =>
        cand.andNot(p.deleted)
        p.filter match {
          case Some(Right(fd)) =>
            val filtered = fd.where(graft.functions.GraftFunctions.bitmap_contains(
              lit(Bitmaps.cboSerialize(cand)), $"docid"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val total = if (req.exhaustive) filtered.count() else -1L
              val page = filtered.orderBy($"docid").limit(take)
                .select($"docid").as[Int].collect()
              SearchResult(page.toSeq.drop(req.offset), total)
            } finally filtered.unpersist(false)
          case f =>
            // a cached filter bitmap intersects in-process (zero jobs); its
            // count honors `exhaustive` like the streaming branch (parity
            // with the distributed path's -1)
            f.foreach(_.left.foreach(fbm => cand.and(fbm)))
            distinctPin match {
              case Some(sm) =>
                val (ids, kept) = keepFirst(docids(cand), sm, take)
                SearchResult(ids.drop(req.offset), kept)
              case None =>
                SearchResult(docids(cand).slice(req.offset, take).toSeq,
                  if (f.isEmpty || req.exhaustive) cand.getLongCardinality else -1L)
            }
        }
      }
  }

  // -------------------------------------------------------------- helpers

  /** A bitmap holding every docid of `ids` the filter keeps: a cached
    * filter bitmap as is (zero jobs), or the survivors of a streaming plan
    * semi-joined against `ids` — one job whose collect is bounded by |ids|,
    * so a broad filter's own set never reaches the driver. */
  private def filterSurvivors(f: Either[RoaringBitmap, DataFrame],
      ids: => Array[Int]): RoaringBitmap = f match {
    case Left(fbm) => fbm
    case Right(fd) =>
      val cand = ids
      if (cand.isEmpty) new RoaringBitmap()
      else Bitmaps.fromInts(
        fd.join(broadcast(spark.createDataset(cand.toSeq).toDF("docid")),
          Seq("docid"), "left_semi").select($"docid").as[Int].collect())
  }

  private def docids(bm: RoaringBitmap): Iterator[Int] =
    bm.iterator().asScala.map(_.intValue())

  /** Keep-first distinct over docids in rank order (`FacetDistinct`,
    * facet_distinct.rs): the first `take` kept ids and the kept count over
    * all of them. Docs without a value never dedup — the distributed window
    * partitions them by docid. */
  private def keepFirst(docids: Iterator[Int],
      pin: java.util.HashMap[Integer, String], take: Int): (Vector[Int], Long) = {
    val seen = new java.util.HashSet[String]()
    val ids = Vector.newBuilder[Int]
    var kept = 0L
    docids.foreach { d =>
      val v = pin.get(d)
      if (v == null || seen.add(v)) {
        if (kept < take) ids += d
        kept += 1
      }
    }
    (ids.result(), kept)
  }

  /** join numeric+string facet values for every sort-ish criterion.
    * Multi-valued fields aggregate PER DIRECTION — milli's facet sort is
    * keep-first over value groups ("once a document id is returned by the
    * iterator, it is never returned again", facet_sort_ascending.rs:14-31),
    * so ascending ranks a doc at its MINIMUM value and descending at its
    * MAXIMUM. The former un-aggregated numeric join could even emit the
    * same docid twice in one page; the aggregation also makes the join
    * side one row per doc. */
  private def attachSortColumns(
      df: DataFrame,
      criteria: Seq[Criterion],
      sorts: Seq[SortSpec]): DataFrame = {
    val fieldDirs: Seq[(String, Boolean)] = criteria.flatMap {
      case Criterion.Asc(f)  => Seq((f, true))
      case Criterion.Desc(f) => Seq((f, false))
      case Criterion.Sort    =>
        sorts.filter(_.geoPoint.isEmpty).map(s => (s.field, s.ascending))
      case _                 => Nil
    }.distinct
    val withFacets = fieldDirs.foldLeft(df) { case (acc, (f, asc)) =>
      val dir = if (asc) "asc" else "desc"
      val nAgg = if (asc) min($"value") else max($"value")
      val sAgg = if (asc) min($"norm") else max($"norm")
      val nums = index.facetNumbers.where($"field" === f)
        .groupBy($"docid").agg(nAgg.as(s"num_${dir}__$f"))
      val strs = index.facetStrings.where($"field" === f)
        .groupBy($"docid").agg(sAgg.as(s"str_${dir}__$f"))
      acc.join(nums, Seq("docid"), "left").join(strs, Seq("docid"), "left")
    }
    // geo sort: join the point coordinates once
    val needsGeo = criteria.contains(Criterion.Sort) && sorts.exists(_.geoPoint.isDefined)
    if (!needsGeo) withFacets
    else
      // one narrow table carries both coordinates — a single left join
      // instead of two facet-band scans + a docid join
      withFacets.join(index.geoCells
        .select($"docid", $"lat".as("geo__lat"), $"lng".as("geo__lng")),
        Seq("docid"), "left")
  }

  /** sort columns for one criterion (missing values last, milli
    * `asc_desc.rs` semantics: numbers first, then strings, then absent). */
  private def criterionColumns(c: Criterion, sorts: Seq[SortSpec]) = c match {
    case Criterion.Words     => Seq($"r_words".asc)
    case Criterion.Typo      => Seq($"r_typo".asc)
    case Criterion.Proximity => Seq($"r_proximity".asc)
    case Criterion.Attribute => Seq($"r_attribute".asc)
    case Criterion.Exactness => Seq($"r_exactness".asc)
    case Criterion.Asc(f)    =>
      Seq(col(s"num_asc__$f").asc_nulls_last, col(s"str_asc__$f").asc_nulls_last)
    case Criterion.Desc(f)   =>
      Seq(col(s"num_desc__$f").desc_nulls_last, col(s"str_desc__$f").desc_nulls_last)
    case Criterion.Sort      =>
      sorts.flatMap { s =>
        s.geoPoint match {
          case Some((qlat, qlng)) =>
            val dist = graft.functions.GraftFunctions.haversine(
              col("geo__lat"), col("geo__lng"), lit(qlat), lit(qlng))
            Seq(if (s.ascending) dist.asc_nulls_last else dist.desc_nulls_last)
          case None =>
            if (s.ascending)
              Seq(col(s"num_asc__${s.field}").asc_nulls_last,
                col(s"str_asc__${s.field}").asc_nulls_last)
            else
              Seq(col(s"num_desc__${s.field}").desc_nulls_last,
                col(s"str_desc__${s.field}").desc_nulls_last)
        }
      }
  }

  private def sortColumns(criteria: Seq[Criterion], sorts: Seq[SortSpec]) =
    criteria.flatMap {
      case c @ (Criterion.Asc(_) | Criterion.Desc(_) | Criterion.Sort) =>
        criterionColumns(c, sorts)
      case _ => Nil
    }

  /** distinct → top-k → offset/limit drain (`search/mod.rs:244-288`).
    * Distinct = keep the first doc per facet value in rank order —
    * `FacetDistinct` (search/distinct/facet_distinct.rs:32-190) as a
    * window `row_number() == 1`, fully distributed. */
  private def finish(
      ranked: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column],
      distinctField: Option[String],
      req: SearchRequest,
      candidates: Long): SearchResult = {
    val take = req.offset + req.limit
    val (deduped, candidatesN, persisted) = distinctField match {
      case None => (ranked, candidates, None)
      case Some(f) =>
        val strs = index.facetStrings.where($"field" === f)
          .groupBy($"docid").agg(min($"norm").as("distinct__v"))
        val withV = ranked.join(strs, Seq("docid"), "left")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(coalesce($"distinct__v", concat(lit("\u0000nodist\u0000"), $"docid")))
          .orderBy(sortCols: _*)
        // count + top-k are two actions over the same windowed plan: persist
        // so the dedup window runs once
        val d = withV.withColumn("rn__", row_number().over(w)).where($"rn__" === 1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // candidate count after distinct-dedup (facet_distinct.rs semantics:
        // excluded duplicates leave the candidate set)
        (d, d.count(), Some(d))
    }
    try {
      // TakeOrderedAndProject: orderBy + limit never materializes a full sort
      val rows = deduped.orderBy(sortCols: _*).select($"docid").limit(take).collect()
      SearchResult(
        rows.toSeq.drop(req.offset).map(_.getInt(0)),
        candidatesN)
    } finally persisted.foreach(_.unpersist(false))
  }
}
