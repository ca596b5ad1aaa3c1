package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import graft.core.{Bitmaps, Typo}
import graft.index.{IndexFormat, IndexSettings, TableIO}
import graft.index.IndexSettings.T

/** Read-side handle on a built index directory: lazy table access plus the
  * small driver-side probes the query planner needs (the Spark equivalents
  * of milli's LMDB point reads under a read txn,
  * `/root/reference/milli/src/search/mod.rs:136-242`).
  *
  * Every probe is a pushdown `filter` on a key-sorted parquet table —
  * parquet footer min/max pruning gives point-lookup behavior; nothing here
  * scans more than the posting rows the query touches (except typo
  * derivation, which is a predicate scan of the term dictionary — the
  * FST-free candidate expansion of the north rule).
  *
  * The directory must hold the current format stamp ([[IndexFormat]]):
  * every table then exists in the one layout the readers below assume.
  */
class GraftIndex(val spark: SparkSession, val dir: String, val settings: IndexSettings) {
  import spark.implicits._

  IndexFormat.check(dir)

  graft.functions.GraftFunctions.registerAll(spark)

  // Spark pushes In-filters to parquet only up to this many values
  // (default 10); the read path pushes surviving block-id / word lists far
  // larger than that, and footer min/max checks are O(values · row-groups)
  // — cheap. Raised once per session here, where every read-path scan runs.
  spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "1024")

  // ---- staleness guard: a read handle pins the index VERSION it opened.
  // The serving caches (postings, bitmaps, forward rows, pinned dicts) are
  // all keyed on this handle; after Updates.addDocuments / hardDelete they
  // would silently serve stale results. The manifest file is rewritten by
  // every committed update, so its (mtime, length) is the version stamp —
  // query entry points re-stat it (throttled to one stat per 100 ms) and
  // fail loudly on mismatch; callers then reopen the handle (`Main serve`
  // rotates automatically on the same signal).
  private def manifestStamp(): Long = {
    val f = new java.io.File(s"$dir/_graft_manifest.jsonl")
    if (!f.exists()) -1L else f.lastModified() ^ (f.length() << 20)
  }
  private val openedStamp: Long = manifestStamp()
  @volatile private var lastFreshCheckNs: Long = 0L
  @volatile private var staleDetected: Boolean = false

  /** Throws when the index directory was updated after this handle opened
    * (stale serving caches). The stat is throttled to one per 100 ms; a
    * detected staleness POISONS the handle permanently (every subsequent
    * query throws until the caller reopens). */
  def checkFresh(): Unit = {
    if (staleDetected) throw staleError()
    val now = System.nanoTime()
    if (now - lastFreshCheckNs < 100000000L) return
    lastFreshCheckNs = now
    if (manifestStamp() != openedStamp) {
      staleDetected = true
      throw staleError()
    }
  }

  private def staleError() = new IllegalStateException(
    s"index at $dir was updated after this handle opened; " +
      "reopen GraftIndex (stale serving caches)")

  def table(name: String): DataFrame = TableIO.read(spark, s"$dir/$name")

  lazy val documents: DataFrame = table(T.Documents)
  lazy val docWordPositions: DataFrame = table(T.DocWordPositions)
  lazy val wordDocids: DataFrame = table(T.WordDocids)
  lazy val exactWordDocids: DataFrame = table(T.ExactWordDocids)
  lazy val wordPrefixDocids: DataFrame = table(T.WordPrefixDocids)
  lazy val exactWordPrefixDocids: DataFrame = table(T.ExactWordPrefixDocids)
  lazy val termDict: DataFrame = table(T.TermDict).cache()
  lazy val pairProx: DataFrame = table(T.WordPairProximityDocids)
  lazy val facetNumbers: DataFrame = table(T.DocFacetNumbers)
  lazy val facetStrings: DataFrame = table(T.DocFacetStrings)
  lazy val facetExists: DataFrame = table(T.FacetExistsDocids)
  lazy val docStats: DataFrame = table(T.DocStats)
  lazy val geoCells: DataFrame = table(T.GeoCells)
  lazy val docFidWordCounts: DataFrame = table(T.DocFidWordCounts)
  lazy val postingBlocks: DataFrame = table(T.PostingBlocks)

  lazy val numberOfDocuments: Long = documents.count()

  /** Pin the hot read-path tables in executor memory (a serving deployment
    * would keep these on fast storage / cache; local bench calls this once).
    * Cheap to skip — everything works uncached, just with parquet reads. */
  def warm(): Unit = {
    Seq(docWordPositions, docFidWordCounts, docStats, postingBlocks, termDict,
      facetStrings, facetNumbers, pairProx, wordDocids, exactWordDocids,
      wordPrefixDocids, exactWordPrefixDocids)
      .foreach { df => df.cache(); df.count() }
  }

  /** Pre-populate the driver-side serving caches from the df-sorted
    * dictionary head (the Zipf head carries most query traffic): postings,
    * forward rows, and candidate bitmaps. The head size is BUDGET-DRIVEN —
    * words are taken while their estimated footprint fits half of each
    * cache's byte budget (postings ≈ 8 B/entry, forward rows ≈ 40 B/entry),
    * capped at `maxWords` — so the caches start full instead of holding
    * only a token 256 words (round-3 cold first-touch was 53–210 ms per
    * head-word miss). Fetches batch in chunks to bound single-job collects.
    * Zero effect on correctness; an over-large head simply evicts. */
  def warmServing(maxWords: Int = 4096): Unit = {
    val byDf: Seq[(String, Long)] = termDictLocalFull match {
      case Some(dict) => dict.sortBy(-_._3).take(maxWords).map(d => (d._1, d._3)).toSeq
      case None =>
        termDict.orderBy(col("df").desc).limit(maxWords)
          .select(col("word"), col("df").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    if (byDf.isEmpty) return
    // prime the direct point readers' footer indexes (one-time ~100–300 ms
    // of footer reads per table on first touch otherwise — the measured
    // first-cold-query tax) — overlapped on the fetch pool
    import scala.concurrent.Future
    implicit val ec: scala.concurrent.ExecutionContext = GraftIndex.fetchEc
    val tables = Seq(
      T.WordDocids -> "word", T.ExactWordDocids -> "word",
      T.WordPrefixDocids -> "prefix", T.ExactWordPrefixDocids -> "prefix",
      T.DocWordPositions -> "word", T.WordPairProximityDocids -> "w1",
      T.WordPrefixPairProximityDocids -> "prefix",
      T.PrefixWordPairProximityDocids -> "prefix",
      T.WordPositionDocids -> "word", T.WordPrefixPositionDocids -> "prefix")
    val fs = tables.map { case (t, k) => Future(footersFor(t, k)) }
    fs.foreach(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    // (searchable fid, word count) bitmaps — the exactness strata's rank-0
    // reads; the whole serving key space in one pruned scan
    prewarmFidWordCounts()
    def takeWithin(perEntry: Long, budget: Long): Seq[String] = {
      var used = 0L
      byDf.takeWhile { case (_, df) =>
        used += df * perEntry + 64; used <= budget
      }.map(_._1)
    }
    val pHead = takeWithin(8L, postingCache.budgetBytes / 2)
    // forward-row prewarm is CAPPED at 256 words on top of the byte budget:
    // each miss batch is a full forward-index scan + driver decode (the
    // In predicate doesn't footer-prune at this width), so a long low-df
    // tail costs ~tens of seconds of startup for rows the docid-restricted
    // cold fetch + async back-fill now serve in ~100 ms on first touch.
    // The Zipf head (which the drain hits constantly) still prewarms.
    val dHead = takeWithin(40L, dwpCache.budgetBytes / 2).take(256)
    pHead.grouped(512).foreach(postingCache.get)
    // the fill cost is driver-side collect DESERIALIZATION (positions
    // arrays), which is single-threaded per job — overlap several
    // smaller fills on the fetch pool instead of one giant collect
    val fills = dHead.grouped(math.max(32, dHead.length / 8 + 1)).toSeq
      .map(b => Future(dwpCache.get(b, Nil)))
    fills.foreach(f =>
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    byDf.map(_._1).grouped(1024).foreach { b =>
      bitmapCache.get("w", b)(ks => bitmapRowsT(T.WordDocids, wordDocids, ks))
      bitmapCache.get("e", b)(ks =>
        bitmapRowsT(T.ExactWordDocids, exactWordDocids, ks))
    }
    // prefix structures: milli treats the LAST query word as a prefix, so
    // keystroke-style serving traffic hits the prefix tables on almost
    // every query. Prewarm the prefix-dict head (by word count): candidate
    // bitmaps (ns p/q) and the rank path's forward rows per prefix range —
    // the latter sized via dictionary prefix sums against a quarter of the
    // dwp budget so the word-head prewarm above survives.
    val pd: Seq[(String, Long)] = table(T.PrefixDict)
      .orderBy(col("n_words").desc).limit(maxWords)
      .select(col("prefix"), col("n_words").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val headPfxs = pd.map(_._1)
    headPfxs.grouped(1024).foreach { b =>
      bitmapCache.get("p", b)(ks =>
        bitmapRowsT(T.WordPrefixDocids, wordPrefixDocids, ks, "prefix"))
      bitmapCache.get("q", b)(ks =>
        bitmapRowsT(T.ExactWordPrefixDocids, exactWordPrefixDocids, ks, "prefix"))
    }
    dictIndex.foreach { case (ws, cum, _) =>
      var used = 0L
      val keep = Seq.newBuilder[String]
      pd.foreach { case (p, _) =>
        val est = (cum(lowerBound(ws, p + Character.MAX_VALUE)) -
          cum(lowerBound(ws, p))) * 40L + 64L
        // skip single prefixes that would flood the cache (a 1-char
        // prefix covers most of the corpus) but keep scanning smaller
        // ones; stop at a quarter of the budget overall
        if (est <= dwpCache.budgetBytes / 16 &&
            used + est <= dwpCache.budgetBytes / 4) {
          used += est
          keep += p
        }
      }
      val ks = keep.result()
      ks.grouped(64).foreach(b => dwpCache.get(Nil, b))
    }
    // pair-proximity bitmaps for head × head word pairs — the proximity
    // cell drain's point reads (one pruned scan; absent combinations cache
    // as None, so cold multi-word head queries skip their first-touch
    // pair fetch entirely)
    val pairHead = byDf.map(_._1).take(32)
    pairProxBitmaps(
      for (a <- pairHead; b <- pairHead if a != b) yield (a, b))
    // precomputed prefix-pair heads (#8/#9): trailing-prefix queries drain
    // prox cells against (query word, prefix) rows — prewarm head-word ×
    // head-prefix combinations on both sides so those cells assemble with
    // zero jobs cold (absent combinations cache as None)
    val ppPfx = headPfxs.filter(prefixPairDict.contains).take(16)
    if (ppPfx.nonEmpty) {
      val items = for (w <- pairHead; p <- ppPfx; r <- Seq(true, false))
        yield (w, p, r)
      items.grouped(256).foreach { batch =>
        val batchKeys = batch.flatMap { case (w, p, r) =>
          (1 to 7).map(x => yKey(w, p, if (r) "r" else "l", x))
        }
        bitmapCache.get("y", batchKeys)(_ => prefixPairPointRead(batch))
      }
    }
    // JIT/code-path warmup: drive representative multi-word RANKED queries
    // through the full drain (cells, plane sweep, attribute/exactness
    // rankers) so the first real query on a fresh JVM doesn't pay C2
    // compilation — measured at several hundred ms on the first 3-word
    // query otherwise. Uses the dictionary head, so it doubles as cache
    // warmup for the hottest query shapes.
    // head word + two MID-dictionary words: big enough intersection to
    // exercise the sweep and rankers, small enough that the warmup drain
    // ranks hundreds of docs, not a stop-word-pair cell's tens of
    // thousands (the very first version used the top-3 head words and
    // spent ~2-3 s draining a 55k-doc cell)
    val ws = byDf.map(_._1)
    // shapes matter: the 2-word query uses MID words (a stop-word pair's
    // exact prox cell holds tens of thousands of docs and the warmup
    // would rank them all), while the 3-word query NEEDS the head word
    // so its reduced-branch drain ranks a few hundred docs THROUGH THE
    // PLANE SWEEP (3-word cells drop the prox dim, so these docs sweep
    // per-doc — the code path a first real 3-word query would otherwise
    // JIT at ~200 ms wall)
    val mid1 = ws.lift(ws.length.min(40) - 1)
    val mid2 = ws.lift(ws.length.min(80) - 1)
    val s = new Search(this)
    // a few repetitions: one pass leaves the rankers at C1 — the first
    // REAL multi-word query then pays the C2 compile of the attribute/
    // exactness per-doc loops (measured ~900 ms of summed thread CPU in
    // the drain's parMap). QUERY-MAJOR loops, not round-robin: reps of
    // the same query hit the restricted-fetch memo / landed back-fills
    // (the memo holds ONE entry, so interleaving two queries re-paid
    // the fetch every rep — measured ~1.5 s × reps on the 3-word shape).
    try {
      (mid1, mid2) match {
        case (Some(a), Some(b)) if a != b =>
          (0 until 5).foreach { _ =>
            s.execute(SearchRequest(query = Some(s"$a $b "),
              limit = 20, exhaustive = false))
          }
        case _ => ()
      }
      (ws.headOption, mid1, mid2) match {
        case (Some(h), Some(a), Some(b)) if h != a && a != b =>
          (0 until 5).foreach { _ =>
            s.execute(SearchRequest(query = Some(s"$h $a $b "),
              limit = 20, exhaustive = false))
          }
        case _ => ()
      }
      // trailing-PREFIX shape: a last word with no trailing space takes
      // the ngram-tolerant + prefix-extension branches (wide derivation
      // material → per-doc attribute/exactness rank, prefix-pair point
      // reads, the restricted direct dwp fetch) — none of which the two
      // space-terminated shapes above touch; a first real trailing-
      // prefix query otherwise pays their C2 at several hundred ms
      (mid1, mid2) match {
        case (Some(a), Some(b)) if a != b && b.length >= 2 =>
          (0 until 5).foreach { _ =>
            s.execute(SearchRequest(query = Some(s"$a ${b.dropRight(1)}"),
              limit = 20, exhaustive = false))
          }
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    // quiesce: the warmup's async complete fills must not contend with the
    // first real queries (or a benchmark's cold samples)
    dwpCache.awaitFills()
    ()
  }

  /** Block until background cache back-fills drain — measurement harnesses
    * call this between first-touch samples so one query's async complete
    * fill doesn't contaminate the next query's cold latency. */
  def quiesce(): Unit = dwpCache.awaitFills()

  /** Release executor-cached tables — call when rotating a serving handle
    * to a fresh index version, or the old version's cache blocks leak. */
  def close(): Unit = {
    Seq(docWordPositions, docFidWordCounts, docStats, postingBlocks, termDict,
      facetStrings, facetNumbers, pairProx, wordDocids, exactWordDocids,
      wordPrefixDocids, exactWordPrefixDocids)
      .foreach(df => df.unpersist(false))
  }

  /** All docids as a bitmap (milli `documents_ids`, index.rs:259-266).
    * Driver-side full materialization — tests/tools only; the read path
    * uses distributed anti-joins against `documents` instead. */
  lazy val allDocids: RoaringBitmap = {
    val ids = documents.select($"docid").as[Int].collect()
    Bitmaps.fromInts(ids)
  }

  /** Soft-deleted tombstones, subtracted from every query
    * (`search/mod.rs:252`). */
  lazy val deletedDocids: RoaringBitmap = TableIO.deletedDocids(spark, dir)

  // ------------------------------------------------------- serving caches

  /** Driver-side LRU of decoded postings for the BM25 small-query path —
    * warm queries launch zero jobs (see [[PostingCache]]). */
  lazy val postingCache: PostingCache = new PostingCache(this)

  /** Driver-side LRU of forward-index rows for the small-query rank path. */
  lazy val dwpCache: DwpCache = new DwpCache(this)

  /** Driver-side presence-aware LRU of candidate bitmaps (word / prefix
    * docids point reads + dict-miss prefix range unions) — warm bitmap
    * candidate resolution runs zero Spark jobs. */
  lazy val bitmapCache: BitmapCache = new BitmapCache()

  /** Facet level-tree serving caches (FacetLevels): pinned upper levels +
    * max-level probes, keyed (numeric, field) — living on the handle so
    * they rotate with it. */
  private[search] val facetLevelPins =
    scala.collection.concurrent.TrieMap.empty[(Boolean, String),
      Option[Map[Int, Array[(Any, Array[Byte])]]]]
  private[search] val facetLevelMax =
    scala.collection.concurrent.TrieMap.empty[(Boolean, String), Int]

  /** (docid, fid) → word_count pinned driver-side for the small-query
    * exactness rank — gated by row count (LongMap of ≤ 8M entries ≈ 200 MB);
    * web-scale indexes keep the distributed semi-join instead. */
  lazy val fidWordCountsLocal: Option[scala.collection.mutable.LongMap[Int]] =
    if (docFidWordCounts.count() > 8000000L) None
    else {
      val m = scala.collection.mutable.LongMap.empty[Int]
      docFidWordCounts.select($"docid", $"fid", $"word_count")
        .as[(Int, Int, Int)].collect()
        .foreach { case (d, f, wc) => m.update((d.toLong << 16) | f.toLong, wc) }
      Some(m)
    }

  // ------------------------------------------- pinned sort-value maps

  /** Row cap for driver-pinned per-field sort values (≈ 50 MB worst). */
  private def MaxSortPinRows = GraftIndex.MaxSortPinRows

  private val sortValsCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[GraftIndex.SortPins]]

  /** Per-field sort values pinned driver-side for the local sort path:
    * docid → min/max numeric value and docid → min/max string norm. milli's
    * facet sort is keep-first over value groups (facet_sort_ascending.rs:
    * 14-31), so ascending ranks a doc at its MINIMUM value and descending
    * at its MAXIMUM — multi-valued fields pin BOTH aggregates and the
    * comparator picks per direction. None — callers rank distributed —
    * when the field is too big to pin. */
  private[search] def sortValuesLocal(field: String)
      : Option[GraftIndex.SortPins] =
    sortValsCache.getOrElseUpdate(field, {
      val nums = facetNumbers.where($"field" === field)
        .select($"docid", $"value".cast("double"))
        .limit(MaxSortPinRows + 1).as[(Int, Double)].collect()
      if (nums.length > MaxSortPinRows) None
      else {
        val nMin = new java.util.HashMap[Integer, java.lang.Double](nums.length * 2)
        val nMax = new java.util.HashMap[Integer, java.lang.Double](nums.length * 2)
        nums.foreach { case (d, v) =>
          val pMin = nMin.get(d)
          if (pMin == null || v < pMin.doubleValue()) nMin.put(d, v)
          val pMax = nMax.get(d)
          if (pMax == null || v > pMax.doubleValue()) nMax.put(d, v)
        }
        val strs = facetStrings.where($"field" === field)
          .groupBy($"docid").agg(min($"norm").as("mn"), max($"norm").as("mx"))
          .select($"docid", $"mn", $"mx")
          .limit(MaxSortPinRows + 1).as[(Int, String, String)].collect()
        if (strs.length > MaxSortPinRows) None
        else {
          val sMin = new java.util.HashMap[Integer, String](strs.length * 2)
          val sMax = new java.util.HashMap[Integer, String](strs.length * 2)
          strs.foreach { case (d, mn, mx) => sMin.put(d, mn); sMax.put(d, mx) }
          Some(GraftIndex.SortPins(nMin, nMax, sMin, sMax))
        }
      }
    })

  /** docid → (lat, lng) pinned from the geo cell table (None: too big,
    * or duplicate points — rank distributed). */
  private[search] lazy val geoLocal
      : Option[java.util.HashMap[Integer, (Double, Double)]] = {
    val rows = geoCells.select($"docid", $"lat", $"lng")
      .limit(MaxSortPinRows + 1).as[(Int, Double, Double)].collect()
    if (rows.length > MaxSortPinRows) None
    else {
      val m = new java.util.HashMap[Integer, (Double, Double)](rows.length * 2)
      var dup = false
      rows.foreach { case (d, la, ln) => if (m.put(d, (la, ln)) != null) dup = true }
      if (dup) None else Some(m)
    }
  }

  // ------------------------------------------- pinned facet string rows

  private val facetRowsCache = scala.collection.concurrent.TrieMap
    .empty[String, Option[Array[(Int, String, String)]]]

  /** Per-field (docid, norm, orig) rows pinned driver-side, norm-sorted —
    * the facet-distribution serving path iterates them in-process. None
    * when the field exceeds the pin cap (web-scale facets keep the
    * distributed aggregation). */
  private[search] def facetRowsLocal(field: String)
      : Option[Array[(Int, String, String)]] =
    facetRowsCache.getOrElseUpdate(field, {
      val rows = facetStrings.where($"field" === field)
        .select($"docid", $"norm", $"orig")
        .limit(2000001).as[(Int, String, String)].collect()
      if (rows.length > 2000000) None
      else Some(rows.sortBy(r => (r._2, r._1)))
    })

  // ------------------------------------------------- filter bitmap cache

  private val filterBmCache = new Lru[String, Option[RoaringBitmap]](64, _ => 1L)

  /** (branch group material, cell doc set) → attribute strata
    * [(attr label, member docs, noRefine)] — the strata depend only on the
    * position tables (immutable for this handle's pinned version), the
    * branch GROUP structure, and the cell's doc set, so a repeat query's
    * refinement replays from here instead of re-running the sweep
    * (measured 44 ms per query on a 42.9k-doc prefix cell at 1M docs —
    * milli's LMDB page cache plays this role for zipf-repeat workloads).
    * Values partition their cell (≈ cell bitmap bytes each, ≤ ~20 KB at
    * 42k docs); LRU 64 ≈ ~1–2 MB; rotates with the handle. Entries are
    * read-only downstream (the drain and exactness strata never mutate
    * cell bitmaps — static RoaringBitmap ops + clones only). */
  private[search] val attrStrataMemo =
    new Lru[AnyRef, IndexedSeq[(Long, RoaringBitmap, Boolean)]](64, _ => 1L)

  /** Filter DSL string → candidate docids bitmap, LRU-cached on the handle
    * (rotates with it, so updates can't serve stale sets) — the Spark twin
    * of milli's in-process filter algebra (`filter.rs:300-320`): repeated
    * filters on a warm handle run ZERO jobs. None when the result exceeds
    * [[GraftIndex.FilterCacheCap]] — callers keep the distributed
    * semi-join plan.
    * The evaluation runs outside the lock (concurrent serving clients). */
  private[search] def filterBitmap(f: String): Option[RoaringBitmap] =
    filterBmCache.get(f).getOrElse {
      val cap = GraftIndex.FilterCacheCap
      val ids = FilterEvaluator
        .candidates(this, FilterParser.parse(f))
        .limit(cap + 1)
        .select($"docid").as[Int].collect()
      val res: Option[RoaringBitmap] =
        if (ids.length > cap) None else Some(Bitmaps.fromInts(ids.toSeq))
      filterBmCache.put(f, res)
      res
    }

  // -------------------------------------------------------- planner probes

  /** docids bitmap of one word (word_docids point read). */
  def wordDocidsBitmap(word: String): Option[RoaringBitmap] =
    wordDocids.where($"word" === word).select($"docids").as[Array[Byte]]
      .collect().headOption.map(Bitmaps.cboDeserialize)

  /** df lookup: zero jobs when the dictionary is pinned driver-side. */
  private lazy val dfLocal: Option[java.util.HashMap[String, java.lang.Long]] =
    termDictLocalFull.map { dict =>
      val m = new java.util.HashMap[String, java.lang.Long](dict.length * 2)
      dict.foreach { case (w, _, df, _) => m.put(w, df) }
      m
    }

  /** word → ttf (total positions), pinned alongside [[dfLocal]]. */
  private lazy val ttfLocal: Option[java.util.HashMap[String, java.lang.Long]] =
    termDictLocalFull.map { dict =>
      val m = new java.util.HashMap[String, java.lang.Long](dict.length * 2)
      dict.foreach { case (w, _, _, ttf) => m.put(w, ttf) }
      m
    }

  def wordDocumentsCount(word: String): Long = dfLocal match {
    case Some(m) => Option(m.get(word)).map(_.longValue()).getOrElse(0L)
    case None =>
      wordDocids.where($"word" === word).select($"df").as[Long]
        .collect().headOption.getOrElse(0L)
  }

  /** Batched df probe (term_dict df = posting entries per word): ZERO jobs
    * when the dictionary is pinned driver-side; one pruned scan otherwise.
    * Absent words are absent from the result. */
  def dfsFor(words: Seq[String]): Map[String, Long] = dfLocal match {
    case Some(m) =>
      words.flatMap(w => Option(m.get(w)).map(v => w -> v.longValue())).toMap
    case None =>
      if (words.isEmpty) Map.empty
      else termDict.where($"word".isin(words: _*)).select($"word", $"df".cast("long"))
        .as[(String, Long)].collect().toMap
  }

  /** LRU of (w1, w2) → prox-1 pair frequency: warm/repeated queries probe
    * word splits without launching a job (the reference's equivalent read
    * hits LMDB in-process, search/mod.rs:136-242). */
  private val pairFreqCache = new Lru[(String, String), Long](65536, _ => 1L)

  /** Batched pair frequency probe for `split_best_frequency`, LRU-cached:
    * one filter for all UNCACHED splits instead of per-pair reads. */
  def pairFrequencies(pairs: Seq[(String, String)]): Map[(String, String), Long] =
    pairFreqCache.getAll(pairs) { misses0 =>
      // pinned-dictionary short-circuit: a pair with a non-corpus-word side
      // cannot appear in the pair table — frequency 0 with no fetch.
      // split_best_frequency probes EVERY split point of every query word
      // and nearly all halves are non-words, so this turns the per-novel-
      // query pair-frequency job into a driver-side hash probe.
      val misses = dfLocal match {
        case Some(m) => misses0.filter { case (l, r) => m.containsKey(l) && m.containsKey(r) }
        case None => misses0
      }
      val fetched = if (misses.isEmpty) Map.empty[(String, String), Long]
        else fetchPairFrequencies(misses)
      misses0.map(p => p -> fetched.getOrElse(p, 0L)).toMap
    }

  private def fetchPairFrequencies(
      pairs: Seq[(String, String)]): Map[(String, String), Long] = {
    val keys = pairs.map { case (l, r) => s"$l\u0000$r" }
    pairProx.where($"prox" === 1 &&
        concat_ws("\u0000", $"w1", $"w2").isin(keys: _*))
      .select($"w1", $"w2", expr("bitmap_cardinality(docids)").as("n"))
      .as[(String, String, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
  }

  /** FST-free typo derivation: one distributed predicate scan of term_dict
    * answering every (word, prefix, maxTypo) key of the query at once.
    * A coarse SQL-pushdown prefilter (length band ∪ prefix range) keeps the
    * scan cheap; the exact DP check (`Typo.derive`) runs on the survivors.
    * Replaces `word_derivations`' Levenshtein-automaton ∩ FST
    * (`/root/reference/milli/src/search/mod.rs:362-442`). */
  /** Small dictionaries collect to the driver once per index handle —
    * derivation then costs zero Spark jobs per query (the FST lived
    * in-process in the reference too). Big dictionaries (> ~2M words) keep
    * the distributed predicate-scan path. */
  private val TermDictLocalMax = 2000000L
  /** (word, exactOnly, df, ttf) rows pinned driver-side for small
    * dictionaries — derivations AND posting-size estimation cost zero
    * Spark jobs. ttf is the word's total position count. */
  private lazy val termDictLocalFull: Option[Array[(String, Boolean, Long, Long)]] =
    if (termDict.count() > TermDictLocalMax) None
    else Some(termDict.select($"word", $"exact_only", $"df".cast("long"),
      $"ttf".cast("long")).as[(String, Boolean, Long, Long)].collect())
  private lazy val termDictLocal: Option[Array[(String, Boolean)]] =
    termDictLocalFull.map(_.map { case (w, eo, _, _) => (w, eo) })

  /** Sorted pinned dictionary + df/ttf prefix sums: prefix ranges answer
    * in O(log n) instead of an O(n) scan per query (2M-word dictionaries
    * would otherwise pay ~tens of ms of driver CPU per serving query). */
  private lazy val dictIndex: Option[(Array[String], Array[Long], Array[Long])] =
    termDictLocalFull.map { dict =>
      val sorted = dict.sortBy(_._1)
      val words = sorted.map(_._1)
      val cum = new Array[Long](words.length + 1)
      val cumT = new Array[Long](words.length + 1)
      var i = 0
      while (i < words.length) {
        cum(i + 1) = cum(i) + sorted(i)._3
        cumT(i + 1) = cumT(i) + sorted(i)._4
        i += 1
      }
      (words, cum, cumT)
    }

  /** Pinned-dictionary fetch guards: when the dictionary is driver-resident
    * a word/prefix with no dictionary presence cannot have a row in any
    * posting table, so its lookup skips the distributed fetch entirely and
    * caches as absent/empty. Novel ngram words (`w3w17`) and typo'd query
    * words otherwise cost one cold Spark job each on first touch. */
  private[search] def dictWords(ks: Seq[String]): Seq[String] = dfLocal match {
    case Some(m) => ks.filter(m.containsKey)
    case None    => ks
  }

  /** prefixes with ≥ 1 dictionary word extending them (pass-through when
    * the dictionary is too big to pin). */
  private[search] def livePrefixes(ks: Seq[String]): Seq[String] = dictIndex match {
    case Some((ws, cum, _)) =>
      ks.filter { p =>
        cum(lowerBound(ws, p + Character.MAX_VALUE)) - cum(lowerBound(ws, p)) > 0
      }
    case None => ks
  }

  /** The dictionary words extending `p`, when the dictionary is pinned and
    * there are at most `cap` of them — the FST prefix enumeration of the
    * reference (`word_derivations`, `search/mod.rs:362-442`) as a binary
    * search over the sorted pinned dictionary. Lets the serving path turn
    * ranged prefix scans (one distributed job each) into batched point
    * reads over the word-keyed caches. None → caller keeps the exact
    * ranged-scan path (big dictionaries / popular prefixes). */
  private[search] def prefixExtensions(p: String, cap: Int = 64): Option[Seq[String]] =
    dictIndex.flatMap { case (ws, _, _) =>
      val lo = lowerBound(ws, p)
      val hi = lowerBound(ws, p + Character.MAX_VALUE)
      if (hi - lo > cap) None
      else Some(ws.slice(lo, hi).toSeq)
    }

  /** insertion point of `key` in the sorted array (first index ≥ key). */
  private def lowerBound(ws: Array[String], key: String): Int = {
    var lo = 0
    var hi = ws.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ws(mid).compareTo(key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Estimated posting rows a query scan will touch: Σ df over the exact /
    * derived words + Σ df over every dictionary word extending a prefix
    * (binary search + prefix sums; a word matched both ways may count
    * twice — the estimate is a conservative UPPER bound for the gate).
    * None when the dictionary is too big to pin (web scale) — callers then
    * always take the distributed path. */
  def estimatePostings(words: Seq[String], prefixes: Seq[String]): Option[Long] =
    dictIndex.map { case (ws, cum, _) =>
      val m = dfLocal.get
      val wordSum = words.iterator
        .map(w => Option(m.get(w)).map(_.longValue()).getOrElse(0L)).sum
      val prefSum = prefixes.iterator.map { p =>
        cum(lowerBound(ws, p + Character.MAX_VALUE)) - cum(lowerBound(ws, p))
      }.sum
      wordSum + prefSum
    }

  /** Estimated BYTES the same scan materializes driver-side: ~48 B of row
    * scaffolding per posting row plus 4 B per stored position (ttf). The
    * row-count gate alone under-prices position-heavy words — a word with
    * df 2^18 but 100 positions/doc is a ~100 MB collect, not ~13 MB — so
    * the serving gate bounds both dimensions. Conservative upper bound,
    * same double-count caveat as [[estimatePostings]]. */
  def estimatePostingBytes(words: Seq[String], prefixes: Seq[String]): Option[Long] =
    dictIndex.map { case (ws, cum, cumT) =>
      val mDf = dfLocal.get
      val mTtf = ttfLocal.get
      def of(m: java.util.HashMap[String, java.lang.Long], w: String): Long =
        Option(m.get(w)).map(_.longValue()).getOrElse(0L)
      var rows = 0L
      var positions = 0L
      words.foreach { w => rows += of(mDf, w); positions += of(mTtf, w) }
      prefixes.foreach { p =>
        val lo = lowerBound(ws, p)
        val hi = lowerBound(ws, p + Character.MAX_VALUE)
        rows += cum(hi) - cum(lo)
        positions += cumT(hi) - cumT(lo)
      }
      48L * rows + 4L * positions
    }

  /** LRU of (word, prefix, maxTypo) → derivation list. The dictionary is
    * immutable per handle, so derivation lists are too; warm queries skip
    * the band scan + OSA DP entirely (the reference keeps its FST in
    * memory for the same reason — mod.rs:362-442). */
  private val derivationCache =
    new Lru[(String, Boolean, Int), Seq[(String, Int)]](65536, _ => 1L)

  /** searchable fids of the exact attributes */
  private lazy val exactFids: Set[Int] = settings.exactAttributes
    .flatMap(f => settings.searchableFields.zipWithIndex.toMap.get(f))

  def derivations(keys: Set[(String, Boolean, Int)]): Ranker.Derivations =
    Ranker.Derivations(derivationCache.getAll(keys) { missing =>
      val computed = derivationsUncached(missing)
      missing.map(k => k -> computed.getOrElse(k, Nil)).toMap
    }, exactFids)

  private def derivationsUncached(keys: Seq[(String, Boolean, Int)])
      : Map[(String, Boolean, Int), Seq[(String, Int)]] = {
    // Plain prefix EXTENSIONS are NEVER enumerated against the dictionary:
    // the read path resolves them with a parquet StartsWith predicate on
    // the word-sorted posting tables + per-doc startsWith
    // (Ranker.Derivations.matching) — at web scale a prefix can cover 10^5
    // dictionary words, which is exactly the expansion milli's
    // word_prefix_docids db exists to avoid (criteria/mod.rs:590-637).
    // Prefix keys with a typo budget enumerate ONLY their typo'd
    // derivations (extensions excluded below).
    val keySeq = keys.filterNot { case (_, prefix, t) => prefix && t == 0 }
    if (keySeq.isEmpty) return Map.empty
    // coarse prefilter: any key may match words within its length band
    def bandOk(len: Int): Boolean = keySeq.exists { case (w, prefix, t) =>
      if (prefix) len >= w.length - t
      else len >= w.length - t && len <= w.length + t
    }
    val words: Array[(String, Boolean)] = termDictLocal match {
      case Some(local) => local.filter(e => bandOk(e._1.length))
      case None =>
        val coarse = keySeq.map { case (w, prefix, t) =>
          if (prefix) length($"word") >= w.length - t
          else length($"word").between(w.length - t, w.length + t)
        }.reduce(_ || _)
        termDict.where(coarse).select($"word", $"exact_only")
          .as[(String, Boolean)].collect()
    }
    keySeq.map { case key @ (w, prefix, t) =>
      val ds = words.iterator.flatMap { case (cand, exactOnly) =>
        // plain extensions of a prefix key are served by the per-doc
        // startsWith path (Derivations.matching) — skip them here
        if (prefix && cand.startsWith(w)) Iterator.empty
        else Typo.derive(w, cand, prefix, t).collect {
          // exact-only words (occurring solely in exact_attributes fields)
          // are never typo-derivable (extract_word_docids exact split)
          case typo if typo == 0 || !exactOnly => (cand, typo)
        }
      }.toVector.sortBy(_._1)
      key -> (ds: Seq[(String, Int)])
    }.toMap
  }

  // --------------------------------------------- bitmap candidate resolver

  // ------------------------------------------------- direct parquet reads

  /** Per-table footer index for the driver-side point reader (version-
    * pinned like every serving cache; the staleness guard poisons stale
    * handles before a swapped table could be read). */
  private val footerCache = scala.collection.concurrent.TrieMap
    .empty[String, DirectParquet.TableFooters]
  private def footersFor(tableName: String, keyCol: String)
      : DirectParquet.TableFooters =
    footerCache.getOrElseUpdate(tableName,
      new DirectParquet.TableFooters(s"$dir/$tableName", keyCol))

  /** Direct (key → docids bitmap) point read off a key-sorted bitmap table
    * — zero Spark jobs. None → caller runs the Spark scan (fallback AND
    * source of truth). */
  private def bitmapRowsDirect(tableName: String, keys: Seq[String],
      keyCol: String): Option[Map[String, RoaringBitmap]] = {
    val fts = footersFor(tableName, keyCol)
    val want = keys.toSet
    val out = Map.newBuilder[String, RoaringBitmap]
    val ok = DirectParquet.scanBands(fts, DirectParquet.keyBands(keys)) { g =>
      val k = g.getString(keyCol, 0)
      if (want(k))
        out += k -> Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes)
    }
    if (ok) Some(out.result()) else None
  }

  /** One (key → bitmap) batch read off a bitmap-valued posting table:
    * direct footer-pruned row-group read first, Spark scan on fallback. */
  private def bitmapRowsT(tableName: String, df: => DataFrame, keys: Seq[String],
      keyCol: String = "word"): Map[String, RoaringBitmap] =
    if (keys.isEmpty) Map.empty
    else bitmapRowsDirect(tableName, keys, keyCol)
      .getOrElse(bitmapRows(df, keys, keyCol))

  /** One (key → bitmap) batch read off a bitmap-valued posting table. */
  private def bitmapRows(df: DataFrame, keys: Seq[String],
      keyCol: String = "word"): Map[String, RoaringBitmap] =
    if (keys.isEmpty) Map.empty
    else df.where(col(keyCol).isin(keys: _*)).select(col(keyCol), col("docids"))
      .as[(String, Array[Byte])].collect()
      .map { case (k, b) => k -> Bitmaps.cboDeserialize(b) }.toMap

  /** Queries currently in flight on this handle (ranked search, BM25,
    * facet distribution) — background complete fills defer (bounded)
    * while nonzero, so their distributed scan lands after the cold query
    * that scheduled them instead of competing with its driver-side
    * ranking tail. Every query entry point wraps itself in [[markQuery]];
    * a leaked increment would silently delay every future fill by the
    * full defer bound (balance pinned in ServingConcurrencySpec). */
  private[search] val activeQueries = new java.util.concurrent.atomic.AtomicInteger(0)

  private[search] def markQuery[A](f: => A): A = {
    activeQueries.incrementAndGet()
    try f finally activeQueries.decrementAndGet()
  }

  /** Direct page-pruned forward-index point read: rows whose word is in
    * `words` (or extends a prefix in `prefixes`), optionally restricted to
    * `docs` — zero Spark jobs, zero Catalyst. The table is (word, docid)
    * range-partitioned, so each word's rows live in ~1 file's ~1–2 pages
    * (1k rows each): a 200-word derivation fetch decodes ~0.2M rows
    * instead of scanning the full table (a wide In predicate never
    * footer-prunes — the measured 250–400 ms cold rank-fetch floor).
    * None → caller runs the Spark scan (fallback AND source of truth). */
  private[search] def directDwpRows(words: Seq[String], prefixes: Seq[String],
      docs: Option[Array[Int]]): Option[Array[(Int, String, Array[Int])]] = {
    // docid POINT pruning for restricted fetches: within one word's run
    // the rows are docid-sorted, so an In over the chosen docids keeps
    // ~1 page per (word, docid) — a 200k-row stop-word run restricted to
    // 30 drained docs decodes ~30k rows, not the run. Only for small
    // chosen sets: the column index evaluates the point set per page.
    val docPoints: Option[Array[Int]] =
      docs.filter(_.length <= GraftIndex.DwpDocPointsMax)
    // volume gate: the driver-side Group decode runs ~1.5M rows/s on the
    // 4-thread pool, the 32-way vectorized Spark scan ~50M — past ~256k
    // estimated postings (≳ 170 ms decode) the full scan's ~250–400 ms
    // floor is the better deal AND doesn't occupy the serving pool.
    // (Estimate = Σ df + prefix ranges off the pinned dict; no pinned
    // dict → no price → stay on Spark for safety.) With docid points the
    // per-WORD decode is page-bounded — min(df, (|docs|+2)·pageRows) —
    // so frequent-word restricted fetches stay direct at any corpus size;
    // prefix RANGES keep the unrestricted price (a range interleaves many
    // short word runs whose pages a point set may not prune).
    val estimate: Option[Long] = docPoints match {
      case Some(ds) =>
        dictIndex.map { _ =>
          val perWordCap = (ds.length.toLong + 2) * TableIO.DwpPageRows
          val m = dfLocal.get
          words.iterator.map { w =>
            math.min(Option(m.get(w)).map(_.longValue()).getOrElse(0L), perWordCap)
          }.sum + estimatePostings(Nil, prefixes).getOrElse(0L)
        }
      case None => estimatePostings(words, prefixes)
    }
    if (!estimate.exists(_ <= GraftIndex.DwpDirectMaxRows)) return None
    val bands = DirectParquet.keyBands(words) ++
      prefixes.map(DirectParquet.prefixBand)
    if (bands.isEmpty) return Some(Array.empty)
    val fts = footersFor(T.DocWordPositions, "word")
    // ≤ ~2 groups per band on the range-partitioned sort; a band set
    // overlapping far more means very broad prefixes — keep Spark's
    // fully-parallel scan
    if (DirectParquet.bandGroupCount(fts, bands) > 1024) return None
    val wordSet = words.toSet
    val docSet = docs.map { ds =>
      val b = new RoaringBitmap(); ds.foreach(b.add); b
    }
    val out = Array.newBuilder[(Int, String, Array[Int])]
    val ok = DirectParquet.scanBands(fts, bands,
        intPoints = docPoints.map(("docid", _))) { g =>
      val w = g.getString("word", 0)
      if (wordSet(w) || prefixes.exists(w.startsWith)) {
        val d = g.getInteger("docid", 0)
        if (docSet.forall(_.contains(d))) {
          val pos =
            if (g.getFieldRepetitionCount("positions") == 0) Array.empty[Int]
            else {
              val lg = g.getGroup("positions", 0) // 3-level parquet list
              val n = lg.getFieldRepetitionCount(0)
              val a = new Array[Int](n)
              var i = 0
              while (i < n) { a(i) = lg.getGroup(0, i).getInteger(0, 0); i += 1 }
              a
            }
          out += ((d, w, pos))
        }
      }
    }
    if (ok) Some(out.result()) else None
  }

  /** Direct footer-pruned (w1, w2, prox) pair point read — zero Spark
    * jobs; the pair table is (w1, w2, prox)-sorted, so the lefts' point
    * bands prune to the few row groups holding their pair rows. None →
    * caller runs the Spark scan. Keys in the returned map use the pair
    * cache's NUL-separated format. */
  private def directPairRows(lefts: Seq[String], rights: Seq[String],
      missSet: Set[String]): Option[Map[String, RoaringBitmap]] = {
    val nul = 0.toChar
    val rightSet = rights.toSet
    val fts = footersFor(T.WordPairProximityDocids, "w1")
    // a FREQUENT left word's pair rows can span many row groups — the
    // direct reader decodes row-group chunks in parallel (own reader per
    // chunk), so the crossover vs the fully parallel Spark scan sits far
    // beyond the old per-file-serial ~24 (measured: 60 groups direct in
    // ~250 ms vs a ~650 ms Spark pair-scan job at 300k docs). The pair
    // table's 1k-row pages prune inside each group, so the per-group
    // decode is band-bounded and the cap sits much higher.
    val bands = DirectParquet.keyBands(lefts)
    if (DirectParquet.bandGroupCount(fts, bands) > GraftIndex.PairMaxGroups) return None
    // conjunctive page band over the rights' span: every wanted row has
    // w2 ∈ rightSet ⊆ [min, max], and w2 is sorted inside each w1 run —
    // a narrow span (one prefix's extensions) prunes a stop word's run to
    // its own pages; a wide span degrades to a no-op, never to a miss.
    // The span MUST be byte-ordered (DirectParquet.spanBand) — String
    // order diverges on supplementary-plane words
    val second = {
      val (lo, hi) = DirectParquet.spanBand(rights)
      ("w2", lo, hi)
    }
    val out = Map.newBuilder[String, RoaringBitmap]
    val ok = DirectParquet.scanBands(fts, bands, Some(second)) { g =>
      val b = g.getString("w2", 0)
      if (rightSet(b)) {
        val k = s"${g.getString("w1", 0)}$nul$b$nul${g.getInteger("prox", 0)}"
        if (missSet(k))
          out += k -> Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes)
      }
    }
    if (ok) Some(out.result()) else None
  }

  /** Words whose candidate bitmap (tolerant ∪ exact splits) intersects
    * `docs` — the rank drain fetches positions ONLY for words actually
    * present in the chosen docs (a Last-strategy derivation set carries
    * hundreds of words; a 20-doc verification round needs a handful).
    * Bitmaps come from the presence-aware LRU (warm: zero jobs; cold: one
    * direct point read per namespace). */
  private[search] def presentWords(words: Seq[String],
      docs: RoaringBitmap): Seq[String] = {
    if (words.isEmpty || docs.isEmpty) return Nil
    val wd = bitmapCache.get("w", words)(ks =>
      bitmapRowsT(T.WordDocids, wordDocids, dictWords(ks)))
    val ed = bitmapCache.get("e", words)(ks =>
      bitmapRowsT(T.ExactWordDocids, exactWordDocids, dictWords(ks)))
    words.filter { w =>
      wd.get(w).flatten.exists(RoaringBitmap.intersects(_, docs)) ||
        ed.get(w).flatten.exists(RoaringBitmap.intersects(_, docs))
    }
  }

  /** Direct union of a dictionary-miss prefix's word/exact rows — the
    * ranged twin of the Spark bitmap_union_agg fallback. None when the
    * band spans too many row groups (a very broad prefix: keep the
    * distributed aggregation) or the direct read fails. */
  private def directPrefixUnion(p: String,
      maxGroups: Int = 8): Option[RoaringBitmap] = {
    val band = Seq(DirectParquet.prefixBand(p))
    val acc = new RoaringBitmap()
    val ok = Seq(T.WordDocids, T.ExactWordDocids).forall { t =>
      val fts = footersFor(t, "word")
      DirectParquet.bandGroupCount(fts, band) <= maxGroups &&
        DirectParquet.scanBands(fts, band) { g =>
          if (g.getString("word", 0).startsWith(p))
            acc.or(Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes))
        }
    }
    if (ok) Some(acc) else None
  }

  /** One batch of leaf-level bitmap point reads for a query tree: the
    * word / exact / prefix docids rows every leaf can touch, fetched once
    * through the presence-aware LRU. Shared by [[resolveTreeBitmap]] and the
    * (typo, proximity) cell drain ([[RankCells]]). */
  private[search] final class LeafTables(
      leaves: Seq[QueryTree.Query], der: Ranker.Derivations) {
    private val enumerated: Seq[(String, Int)] = leaves.flatMap { q =>
      der.map.getOrElse((q.kind.word, q.prefix, q.kind.typo), Nil)
    }
    private val allWords = enumerated.map(_._1).distinct
    private val zeroWords = enumerated.collect { case (w, 0) => w }.distinct
    private val prefixes = leaves.collect { case QueryTree.Query(true, k) => k.word }.distinct

    // the four namespace fetches are independent and each costs one Spark
    // job on a cold miss — overlap them (the caches fetch OUTSIDE their
    // locks, and concurrent job submission is exactly what the serving
    // tier's client threads do anyway): cold pays ~one job floor, not four
    private val (fWd, fEwd, fPfx, fEpfx) = {
      import scala.concurrent.Future
      implicit val ec: scala.concurrent.ExecutionContext = GraftIndex.fetchEc
      (Future(bitmapCache.get("w", allWords)(ks =>
         bitmapRowsT(T.WordDocids, wordDocids, dictWords(ks)))),
       Future(bitmapCache.get("e", zeroWords)(ks =>
         bitmapRowsT(T.ExactWordDocids, exactWordDocids, dictWords(ks)))),
       Future(bitmapCache.get("p", prefixes)(ks =>
         bitmapRowsT(T.WordPrefixDocids, wordPrefixDocids, livePrefixes(ks), "prefix"))),
       Future(bitmapCache.get("q", prefixes)(ks =>
         bitmapRowsT(T.ExactWordPrefixDocids, exactWordPrefixDocids,
           livePrefixes(ks), "prefix"))))
    }
    private def await[A](f: scala.concurrent.Future[A]): A =
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

    val wd: Map[String, Option[RoaringBitmap]] = await(fWd)
    val ewd: Map[String, Option[RoaringBitmap]] = await(fEwd)
    val pfx: Map[String, Option[RoaringBitmap]] = await(fPfx)
    val epfx: Map[String, Option[RoaringBitmap]] = await(fEpfx)
    // dictionary-miss prefixes: one distributed range-union each (bounded
    // result: a single bitmap row reaches the driver), LRU-cached too
    val missingPfx: Map[String, Option[RoaringBitmap]] =
      bitmapCache.get("r", prefixes.filter(p => pfx(p).isEmpty)) { ks0 =>
        livePrefixes(ks0).map { p =>
          prefixExtensions(p) match {
            case Some(exts) =>
              // pinned-dictionary path: the range is ≤ 64 known words —
              // union their (cached, batch-fetched) point bitmaps instead
              // of launching a ranged aggregation job
              val acc = new RoaringBitmap()
              bitmapCache.get("w", exts)(ks =>
                bitmapRowsT(T.WordDocids, wordDocids, ks))
                .valuesIterator.flatten.foreach(acc.or)
              bitmapCache.get("e", exts)(ks =>
                bitmapRowsT(T.ExactWordDocids, exactWordDocids, ks))
                .valuesIterator.flatten.foreach(acc.or)
              p -> acc
            case None =>
              p -> directPrefixUnion(p).getOrElse {
                val merged = wordDocids.where($"word".startsWith(p)).select($"docids")
                  .unionAll(exactWordDocids.where($"word".startsWith(p)).select($"docids"))
                  .agg(graft.functions.GraftFunctions.bitmap_union_agg($"docids").as("d"))
                  .select($"d").as[Array[Byte]].collect()
                merged.headOption.flatMap(Option(_)).map(Bitmaps.cboDeserialize)
                  .getOrElse(new RoaringBitmap())
              }
          }
        }.toMap
      }

    /** Full candidate bitmap of one leaf (any typo count). */
    def leafFull(q: QueryTree.Query): RoaringBitmap = leafTypoCum(q, Int.MaxValue)

    /** Candidates of one leaf matching with ≤ `t` typos — prefix extensions
      * are 0-typo, typo'd derivations read only the tolerant split, Exact
      * kinds cost their original typo as a constant (minTypos semantics). */
    def leafTypoCum(q: QueryTree.Query, t: Int): RoaringBitmap = {
      val acc = new RoaringBitmap()
      val constTypo = q.kind match {
        case QueryTree.Exact(_, ot) => Some(ot)
        case _                      => None
      }
      if (constTypo.exists(_ > t)) return acc
      if (q.prefix) {
        pfx.get(q.kind.word).flatten.foreach(acc.or)
        epfx.get(q.kind.word).flatten.foreach(acc.or)
        missingPfx.get(q.kind.word).flatten.foreach(acc.or)
      }
      der.map.getOrElse((q.kind.word, q.prefix, q.kind.typo), Nil).foreach {
        case (w, typo) =>
          // Exact kinds cost constTypo regardless of the derivation's typo
          if (constTypo.isDefined || typo <= t) {
            wd.get(w).flatten.foreach(acc.or)
            if (typo == 0) ewd.get(w).flatten.foreach(acc.or)
          }
      }
      acc
    }
  }

  private[search] def leafTables(leaves: Seq[QueryTree.Query],
      der: Ranker.Derivations): LeafTables = new LeafTables(leaves, der)

  /** All Query leaves of a phrase-free subtree. */
  private[search] def treeLeaves(op: QueryTree.Op): Seq[QueryTree.Query] = {
    import QueryTree._
    op match {
      case And(cs)    => cs.flatMap(treeLeaves)
      case Or(_, cs)  => cs.flatMap(treeLeaves)
      case q: Query   => Seq(q)
      case _: Phrase  => Nil
    }
  }

  /** Resolve a (phrase-free) query tree to its candidate bitmap with posting
    * point reads ONLY — `resolve_query_tree` over `word_docids` /
    * `word_prefix_docids` (`milli/src/search/criteria/mod.rs:458-505,
    * 590-637`). A prefix in the prefix dictionary costs ONE pre-unioned
    * bitmap row (+ its exact split) instead of scanning every extension's
    * posting rows; prefixes outside the dictionary (< threshold extensions,
    * or longer than the dict's max length) fall back to one footer-pruned
    * range aggregation on the word-sorted tables. Zero-typo words union the
    * exact-attribute split; typo'd derivations read only the tolerant split
    * (query_docids semantics). Returns None when the tree contains a Phrase
    * (positions needed — caller takes the scan path). */
  def resolveTreeBitmap(tree: QueryTree.Op, der: Ranker.Derivations): Option[RoaringBitmap] = {
    import QueryTree._
    if (QueryTree.hasPhrase(tree)) return None
    val lt = leafTables(treeLeaves(tree), der)

    def eval(op: Op): RoaringBitmap = op match {
      case And(cs)   => cs.map(eval).reduce(RoaringBitmap.and)
      case Or(_, cs) => cs.map(eval).reduce(RoaringBitmap.or)
      case q: Query  => lt.leafFull(q)
      case _: Phrase => new RoaringBitmap() // unreachable (hasPhrase gate)
    }
    Some(eval(tree))
  }

  // ------------------------------------------- pair-proximity point reads

  /** Batched (w1, w2, prox) → docids point reads off the pair-proximity
    * table — the Spark twin of milli's `word_pair_proximity_docids` LMDB
    * gets (`criteria/mod.rs:203-220`). One pruned scan per miss batch
    * (w1/w2 In-filters push to the (w1,w2,prox)-sorted footers); every
    * (pair, prox) combination caches individually (absent ones as None), so
    * warm proximity cell drains run zero Spark jobs. */
  private[search] def pairProxBitmaps(pairs: Seq[(String, String)])
      : Map[(String, String, Int), Option[RoaringBitmap]] = {
    if (pairs.isEmpty) return Map.empty
    val keys = pairs.distinct.flatMap { case (a, b) =>
      (1 to 7).map(p => s"$a\u0000$b\u0000$p")
    }
    val got = bitmapCache.get("x", keys) { misses =>
      val parts = misses.map(_.split('\u0000'))
      // pinned-dictionary guard: a pair with a non-dictionary side has no
      // rows (ngram words like "w3w17" otherwise cost a cold scan)
      val lefts = dictWords(parts.map(_(0)).distinct)
      val rights = dictWords(parts.map(_(1)).distinct)
      val missSet = misses.toSet
      if (lefts.isEmpty || rights.isEmpty) Map.empty[String, RoaringBitmap]
      else directPairRows(lefts, rights, missSet).getOrElse {
        pairProx.where($"w1".isin(lefts: _*) && $"w2".isin(rights: _*))
        .select($"w1", $"w2", $"prox", $"docids")
        .as[(String, String, Int, Array[Byte])].collect()
        .iterator
        .map { case (a, b, p, bytes) => (s"$a\u0000$b\u0000$p", bytes) }
        .filter(kv => missSet.contains(kv._1))
        .map { case (k, bytes) => k -> Bitmaps.cboDeserialize(bytes) }
        .toMap
      }
    }
    got.map { case (k, v) =>
      val Array(a, b, p) = k.split('\u0000')
      (a, b, p.toInt) -> v
    }
  }

  /** Pinned prefix membership of the precomputed prefix-pair tables
    * (#8/#9): the len ≤ 2 slice of the prefix dictionary — their exact key
    * set (the builder derives both from `prefixSet(maxLen = 2)`). The
    * prefix dict is df-thresholded and length-capped like the reference's
    * prefix FST, so this is thousands of entries even at web scale. A
    * prefix outside it keeps the extension/ranged paths. */
  private lazy val prefixPairDict: Set[String] =
    table(T.PrefixDict).where(length($"prefix") <= 2)
      .select($"prefix").as[String].collect().toSet

  private lazy val wordPrefixPairProx: DataFrame =
    table(T.WordPrefixPairProximityDocids)
  private lazy val prefixWordPairProx: DataFrame =
    table(T.PrefixWordPairProximityDocids)

  /** Batched point reads of the precomputed prefix-pair tables — milli's
    * `word_prefix_pair_proximity_docids` / `prefix_word_pair_proximity_docids`
    * LMDB gets (`criteria/mod.rs:656-707`). One footer-pruned scan per side
    * per batch (the tables are (prefix, word, prox)-sorted, so the In
    * predicates prune to a handful of row groups). Items: (word, prefix,
    * prefixIsRight). Returns yKey → bitmap for every stored prox row of
    * the requested items. */
  /** Observability: fetches served from the precomputed tables vs from the
    * per-query ranged aggregation (specs pin that dict prefixes never
    * aggregate). */
  val prefixPairPointReads = new java.util.concurrent.atomic.AtomicLong()
  val prefixPairRangedReads = new java.util.concurrent.atomic.AtomicLong()
  val prefixPairDirectRangedReads = new java.util.concurrent.atomic.AtomicLong()

  private[search] def prefixPairPointRead(items: Seq[(String, String, Boolean)])
      : Map[String, RoaringBitmap] = {
    prefixPairPointReads.incrementAndGet()
    def fetch(side: Seq[(String, String, Boolean)], tblName: String,
        tbl: DataFrame, wordCol: String, sideTag: String)
        : Iterator[(String, RoaringBitmap)] = {
      // pinned-dictionary guard: a non-dictionary word has no rows
      val live = side.filter(it => dictWords(Seq(it._1)).nonEmpty)
      if (live.isEmpty) Iterator.empty
      else {
        val words = live.map(_._1).distinct
        val pfxs = live.map(_._2).distinct
        val want = live.map(it => (it._1, it._2)).toSet
        // direct footer-pruned read (tables are prefix-sorted) first
        val direct: Option[Seq[(String, RoaringBitmap)]] = {
          val wordSet = words.toSet
          val fts = footersFor(tblName, "prefix")
          val out = Seq.newBuilder[(String, RoaringBitmap)]
          // conjunctive page band over the words' span (same argument as
          // directPairRows: wanted rows have wordCol ∈ wordSet ⊆ span;
          // byte-ordered — see DirectParquet.spanBand)
          val second = {
            val (lo, hi) = DirectParquet.spanBand(words)
            (wordCol, lo, hi)
          }
          val ok = DirectParquet.scanBands(fts,
            DirectParquet.keyBands(pfxs), Some(second)) { g =>
            val w = g.getString(wordCol, 0)
            if (wordSet(w)) {
              val p = g.getString("prefix", 0)
              if (want((w, p)))
                out += yKey(w, p, sideTag, g.getInteger("prox", 0)) ->
                  Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes)
            }
          }
          if (ok) Some(out.result()) else None
        }
        direct.map(_.iterator).getOrElse {
          tbl.where(col(wordCol).isin(words: _*) && col("prefix").isin(pfxs: _*))
            .select(col(wordCol), col("prefix"), col("prox"), col("docids"))
            .as[(String, String, Int, Array[Byte])].collect().iterator
            .filter { case (w, p, _, _) => want((w, p)) }
            .map { case (w, p, x, b) =>
              yKey(w, p, sideTag, x) -> Bitmaps.cboDeserialize(b)
            }
        }
      }
    }
    (fetch(items.filter(_._3), T.WordPrefixPairProximityDocids,
        wordPrefixPairProx, "w1", "r") ++
      fetch(items.filterNot(_._3), T.PrefixWordPairProximityDocids,
        prefixWordPairProx, "w2", "l")).toMap
  }

  /** True when (word, prefix) prox rows can be POINT-READ from the
    * precomputed prefix-pair tables (#8/#9). */
  private[search] def prefixPairServable(prefix: String): Boolean =
    prefixPairDict.contains(prefix)

  /** Batched [[pairProxPrefixBitmaps]]: all table-servable items resolve
    * through ONE miss fetch (one pruned scan per side) instead of a job per
    * (word, prefix, side); the rest fall through to the per-item path. */
  private[search] def pairProxPrefixBitmapsBatch(
      items: Seq[(String, String, Boolean)])
      : Map[(String, String, Boolean), Map[Int, RoaringBitmap]] = {
    val (servable, rest) = items.distinct.partition(it => prefixPairServable(it._2))
    val batched: Map[(String, String, Boolean), Map[Int, RoaringBitmap]] =
      if (servable.isEmpty) Map.empty
      else {
        val keys = servable.flatMap { case (w, p, r) =>
          (1 to 7).map(x => yKey(w, p, if (r) "r" else "l", x))
        }
        val got = bitmapCache.get("y", keys)(_ => prefixPairPointRead(servable))
        servable.map { case it @ (w, p, r) =>
          val side = if (r) "r" else "l"
          it -> (1 to 7).flatMap(x =>
            got.getOrElse(yKey(w, p, side, x), None).map(x -> _)).toMap
        }.toMap
      }
    batched ++ rest.map(it => it -> pairProxPrefixBitmaps(it._1, it._2, it._3))
  }

  /** Prefix-side pair rows, grouped by prox. Resolution order:
    *
    *  1. prefix in the precomputed prefix-pair tables (#8/#9, len ≤ 2,
    *     full stored prox 1..7 — IndexBuilder.prefixPairPartialsBoth): batched
    *     POINT READS, the reference's own read path
    *     (`criteria/mod.rs:656-707`) — no query-time aggregation even cold;
    *  2. pinned dictionary with ≤ 64 extensions: per-prox unions assembled
    *     from (cached, batch-fetched) pair point reads — zero extra jobs
    *     when the pairs are warm;
    *  3. otherwise ONE ranged aggregation per (word, prefix, side) over
    *     the pair table — EXACT for any prefix length, where the reference
    *     simply degrades beyond its caps (`criteria/mod.rs:656-707`).
    *
    * `prefixIsRight`: rows (word, ext*) else (ext*, word). Cached per prox. */
  private[search] def pairProxPrefixBitmaps(word: String, prefix: String,
      prefixIsRight: Boolean): Map[Int, RoaringBitmap] = {
    val side = if (prefixIsRight) "r" else "l"
    val keys = (1 to 7).map(p => s"$word\u0000$prefix\u0000$side\u0000$p")
    val got = bitmapCache.get("y", keys) { _ =>
      if (prefixPairDict.contains(prefix))
        prefixPairPointRead(Seq((word, prefix, prefixIsRight)))
      else prefixExtensions(prefix) match {
        case Some(exts) =>
          // pinned-dictionary path: ≤ 64 known extension words — assemble
          // the per-prox unions from (cached, batch-fetched) pair point
          // reads instead of a ranged aggregation job
          val pairs =
            if (prefixIsRight) exts.map(e => (word, e)) else exts.map(e => (e, word))
          val byProx = scala.collection.mutable.HashMap.empty[Int, RoaringBitmap]
          pairProxBitmaps(pairs).foreach { case ((_, _, p), bm) =>
            bm.foreach(b => byProx.getOrElseUpdate(p, new RoaringBitmap()).or(b))
          }
          byProx.iterator.map { case (p, bm) => yKey(word, prefix, side, p) -> bm }.toMap
        case None =>
          // broad prefix (> 64 extensions): driver-side ranged read over
          // the (w1, w2, prox)-sorted pair table — zero Spark jobs; the
          // aggregation job below stays the fallback / source of truth
          directPrefixPairRanged(word, prefix, prefixIsRight, side)
            .getOrElse(pairProxPrefixRanged(word, prefix, prefixIsRight, side))
      }
    }
    got.collect { case (k, Some(bm)) => k.split('\u0000')(3).toInt -> bm }
  }

  private def yKey(word: String, prefix: String, side: String, prox: Int): String =
    s"$word\u0000$prefix\u0000$side\u0000$prox"

  /** Driver-side twin of [[pairProxPrefixRanged]]: the pair table is
    * (w1, w2, prox)-sorted, so the wanted rows form ONE contiguous band —
    * `prefixIsRight`: w1 = word with w2 ∈ [prefix, prefix·0xFF…];
    * else w1 ∈ [prefix, prefix·0xFF…] with w2 = word. The second-column
    * page band keeps a frequent word's run from decoding wholesale (w2 is
    * sorted inside one w1 run, so the column index prunes to the prefix's
    * own pages). None → caller runs the Spark aggregation. */
  private def directPrefixPairRanged(word: String, prefix: String,
      prefixIsRight: Boolean, side: String): Option[Map[String, RoaringBitmap]] = {
    val fts = footersFor(T.WordPairProximityDocids, "w1")
    val (bands, second) =
      if (prefixIsRight) {
        val (lo, hi) = DirectParquet.prefixBand(prefix)
        (DirectParquet.keyBands(Seq(word)), ("w2", lo, hi))
      } else {
        val (lo, hi) = DirectParquet.keyBands(Seq(word)).head
        (Seq(DirectParquet.prefixBand(prefix)), ("w2", lo, hi))
      }
    if (DirectParquet.bandGroupCount(fts, bands) > GraftIndex.PairMaxGroups) return None
    val byProx = scala.collection.mutable.HashMap.empty[Int, RoaringBitmap]
    val ok = DirectParquet.scanBands(fts, bands, Some(second)) { g =>
      // surviving pages carry neighbouring rows — re-check both sides
      val w1 = g.getString("w1", 0)
      val w2 = g.getString("w2", 0)
      val hit =
        if (prefixIsRight) w1 == word && w2.startsWith(prefix)
        else w1.startsWith(prefix) && w2 == word
      if (hit)
        byProx.getOrElseUpdate(g.getInteger("prox", 0), new RoaringBitmap())
          .or(Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes))
    }
    if (!ok) None
    else {
      prefixPairDirectRangedReads.incrementAndGet()
      Some(byProx.iterator.map { case (p, bm) =>
        yKey(word, prefix, side, p) -> bm
      }.toMap)
    }
  }

  /** Exact ranged fallback (dictionary not pinned / popular prefix): one
    * aggregation job per (word, prefix, side), grouped by prox. */
  private def pairProxPrefixRanged(word: String, prefix: String,
      prefixIsRight: Boolean, side: String): Map[String, RoaringBitmap] = {
    prefixPairRangedReads.incrementAndGet()
    val base =
      if (prefixIsRight) pairProx.where($"w1" === word && $"w2".startsWith(prefix))
      else pairProx.where($"w1".startsWith(prefix) && $"w2" === word)
    base.groupBy($"prox")
      .agg(graft.functions.GraftFunctions.bitmap_union_agg($"docids").as("d"))
      .select($"prox", $"d").as[(Int, Array[Byte])].collect()
      .iterator.map { case (p, bytes) =>
        yKey(word, prefix, side, p) -> Bitmaps.cboDeserialize(bytes)
      }.toMap
  }

  // --------------------------------------- position tables (#10 / #12)

  private lazy val wordPositionDocids: DataFrame = table(T.WordPositionDocids)
  private lazy val wordPrefixPositionDocids: DataFrame =
    table(T.WordPrefixPositionDocids)

  /** `w:<word>` / `p:<prefix>` → ascending (position → docids) rows:
    * `None` = too big to point-read, `Some(empty)` = absent. Its misses
    * show that the attribute / exactness refinements read #10/#12. */
  private[search] val positionRowCache =
    new Lru[String, Option[IndexedSeq[(Int, RoaringBitmap)]]](4096, _ => 1L)

  /** Ascending `(position, docids)` rows of words (#10
    * `word_position_docids`) and prefixes (#12 `word_prefix_position_docids`)
    * — the milli reads behind the set-based attribute / exactness
    * algorithms (`criteria/attribute.rs:197-279` word_position_iterator,
    * `criteria/exactness.rs:173-251`). Footer-pruned direct point reads on
    * the (key, position)-sorted tables, Spark scan fallback, LRU'd on the
    * handle. Per key: `None` = the key's rows span too many row groups to
    * point-read (a bare stop word) — callers skip the set-based refinement
    * for that group (the per-doc path is the ground truth); absent keys
    * (pinned-dict guard) map to `Some(empty)`. */
  private[search] def positionRows(words: Seq[String], prefixes: Seq[String])
      : (Map[String, Option[IndexedSeq[(Int, RoaringBitmap)]]],
         Map[String, Option[IndexedSeq[(Int, RoaringBitmap)]]]) = {
    type Rows = IndexedSeq[(Int, RoaringBitmap)]
    // untagged missed keys of one table → their cache entries, tagged
    def fetch(misses: Seq[String], tableName: String, df: => DataFrame,
        keyCol: String, live: Seq[String] => Seq[String],
        tag: String): Map[String, Option[Rows]] = {
      if (misses.isEmpty) return Map.empty
      val alive = live(misses).toSet
      val out = scala.collection.mutable.HashMap.empty[String,
        scala.collection.mutable.ArrayBuffer[(Int, RoaringBitmap)]]
      // per-key row-group gate: a key spanning many groups (a bare stop
      // word's dense position rows) is refused BEFORE any decode
      val fts = footersFor(tableName, keyCol)
      val (ok, big) = alive.toSeq.partition(k =>
        DirectParquet.bandGroupCount(fts,
          DirectParquet.keyBands(Seq(k))) <= GraftIndex.PosMaxGroupsPerKey)
      val okSet = ok.toSet
      val direct = ok.isEmpty ||
        DirectParquet.scanBands(fts, DirectParquet.keyBands(ok)) { g =>
          val k = g.getString(keyCol, 0)
          if (okSet(k))
            out.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer.empty) +=
              ((g.getInteger("position", 0),
                Bitmaps.cboDeserialize(g.getBinary("docids", 0).getBytes)))
        }
      if (!direct) {
        // Spark fallback (direct read failed): same rows, one scan
        out.clear()
        df.where(col(keyCol).isin(ok: _*))
          .select(col(keyCol), col("position"), col("docids"))
          .as[(String, Int, Array[Byte])].collect()
          .foreach { case (k, p, b) =>
            out.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer.empty) +=
              ((p, Bitmaps.cboDeserialize(b)))
          }
      }
      misses.iterator.map { k =>
        val v: Option[Rows] =
          if (!alive.contains(k)) Some(IndexedSeq.empty)
          else if (big.contains(k)) None
          else out.get(k) match {
            case Some(rows) if rows.length > GraftIndex.PosMaxRowsPerKey => None
            case Some(rows) => Some(rows.sortBy(_._1).toIndexedSeq)
            case None => Some(IndexedSeq.empty)
          }
        (tag + k) -> v
      }.toMap
    }
    val got = positionRowCache.getAll(
        words.distinct.map("w:" + _) ++ prefixes.distinct.map("p:" + _)) { missing =>
      val (mw, mp) = missing.partition(_.startsWith("w:"))
      fetch(mw.map(_.drop(2)), T.WordPositionDocids, wordPositionDocids,
        "word", dictWords, "w:") ++
        fetch(mp.map(_.drop(2)), T.WordPrefixPositionDocids,
          wordPrefixPositionDocids, "prefix", livePrefixes, "p:")
    }
    (words.distinct.map(w => w -> got("w:" + w)).toMap,
      prefixes.distinct.map(p => p -> got("p:" + p)).toMap)
  }

  /** word → (tolerant ∪ exact) candidate bitmap (empty when absent) — a
    * word's forward-index presence set (the exactness strata's containment
    * reads; same LRU namespaces as [[presentWords]]). */
  private[search] def wordPresenceBitmaps(words: Seq[String])
      : Map[String, RoaringBitmap] = {
    if (words.isEmpty) return Map.empty
    val wd = bitmapCache.get("w", words)(ks =>
      bitmapRowsT(T.WordDocids, wordDocids, dictWords(ks)))
    val ed = bitmapCache.get("e", words)(ks =>
      bitmapRowsT(T.ExactWordDocids, exactWordDocids, dictWords(ks)))
    words.distinct.map { w =>
      val acc = new RoaringBitmap()
      wd.get(w).flatten.foreach(acc.or)
      ed.get(w).flatten.foreach(acc.or)
      w -> acc
    }.toMap
  }

  /** Pinned full prefix-dict key set — membership decides whether a prefix
    * group's positions can be served by #12 (the table's keys are exactly
    * the dict's prefixes). Thousands of entries even at web scale (the dict
    * is df-thresholded + length-capped like the reference FST). */
  private[search] lazy val prefixDictSet: Set[String] =
    table(T.PrefixDict).select($"prefix").as[String].collect().toSet

  // --------------------------------- fid_word_count_docids point reads

  private lazy val fidWordCountDocids: DataFrame = table(T.FidWordCountDocids)

  /** One-scan prewarm of every (searchable fid, n ≤ 10) word-count bitmap
    * — the exactness strata's rank-0 reads (the table only stores counts
    * ≤ 10, so this is the WHOLE serving-relevant key space; absent
    * combinations cache as None). Called from warmServing. */
  private[search] def prewarmFidWordCounts(): Unit = {
    val fids = settings.searchableFields.indices.toSeq
    if (fids.isEmpty) return
    val keys = for (f <- fids; n <- 1 to 10) yield s"$f $n"
    bitmapCache.get("f", keys) { misses =>
      val missSet = misses.toSet
      fidWordCountDocids.where($"fid".isin(fids: _*))
        .select($"fid", $"word_count", $"docids").as[(Int, Int, Array[Byte])]
        .collect().iterator
        .map { case (f, n, b) => (s"$f $n", b) }
        .filter(kv => missSet.contains(kv._1))
        .map { case (k, b) => k -> Bitmaps.cboDeserialize(b) }.toMap
    }
    ()
  }

  /** `(fid, word_count) → docids` point reads (milli's
    * `field_id_word_count_docids` gets — `criteria/exactness.rs:199-207`
    * ExactAttribute resolution). Cached in the bitmap LRU under `f:`. */
  private[search] def fidWordCountBitmaps(fids: Seq[Int], n: Int)
      : Map[Int, Option[RoaringBitmap]] = {
    if (fids.isEmpty) return Map.empty
    val keys = fids.distinct.map(f => s"$f $n")
    val got = bitmapCache.get("f", keys) { misses =>
      val missFids = misses.map(_.split(' ')(0).toInt)
      fidWordCountDocids
        .where($"fid".isin(missFids: _*) && $"word_count" === n)
        .select($"fid", $"docids").as[(Int, Array[Byte])].collect()
        .iterator.map { case (f, b) =>
          s"$f $n" -> Bitmaps.cboDeserialize(b)
        }.toMap
    }
    fids.distinct.map(f => f -> got.getOrElse(s"$f $n", None)).toMap
  }

  /** Query context for the tree builder. */
  def queryContext: QueryTree.QueryContext = new QueryTree.QueryContext {
    private lazy val pairCache = scala.collection.mutable.HashMap.empty[(String, String), Long]
    override def synonyms(words: Seq[String]): Seq[Seq[String]] =
      settings.synonyms.get(words.mkString(" ")).toSeq.flatten
        .map(_.split(' ').toSeq.map(graft.core.Tokenizer.normalize))
    override def wordPairFrequency(left: String, right: String): Long =
      pairCache.getOrElseUpdate((left, right),
        pairFrequencies(Seq((left, right))).getOrElse((left, right), 0L))
    override def wordDocumentsCount(word: String): Long =
      GraftIndex.this.wordDocumentsCount(word)
    override def exactWords: Set[String] = settings.exactWords
    override def minWordLenOneTypo: Int = settings.minWordLenOneTypo
    override def minWordLenTwoTypos: Int = settings.minWordLenTwoTypos
  }

  /** Batch-prime the pair-frequency cache with every split of every word. */
  def primedQueryContext(queryWords: Seq[String]): QueryTree.QueryContext = {
    val allSplits = queryWords.flatMap { w =>
      (1 until w.length).map(i => (w.substring(0, i), w.substring(i)))
    }.distinct
    val freqs = pairFrequencies(allSplits)
    val base = queryContext
    new QueryTree.QueryContext {
      override def synonyms(words: Seq[String]): Seq[Seq[String]] = base.synonyms(words)
      override def wordPairFrequency(left: String, right: String): Long =
        freqs.getOrElse((left, right), 0L)
      override def wordDocumentsCount(word: String): Long = base.wordDocumentsCount(word)
      override def exactWords: Set[String] = settings.exactWords
      override def minWordLenOneTypo: Int = settings.minWordLenOneTypo
      override def minWordLenTwoTypos: Int = settings.minWordLenTwoTypos
    }
  }
}

object GraftIndex {
  /** Row cap for driver-pinned per-field sort values (≈ 50 MB worst);
    * a var so specs can force the unpinnable (level-tree walk) path. */
  private[search] var MaxSortPinRows: Int = 2000000

  /** Position-row (#10/#12) point-read caps: a key whose rows span more
    * row groups (or decode to more rows) than these is refused — callers
    * skip set-based refinement for that group and keep the per-doc path.
    * Caps bound one fetch to a few MB of decode. */
  private[search] var PosMaxGroupsPerKey: Int = 4
  private[search] var PosMaxRowsPerKey: Int = 32768

  /** Estimated-posting cap for the direct (page-pruned) forward-index
    * point read; larger fetches keep the distributed scan. Measured
    * crossover: the pool decodes ~1.5M rows/s (412k-row fetch ≈ 285 ms
    * vs the same Spark scan's 646 ms), so up to ~1M rows the direct read
    * wins; beyond it the fully-parallel scan does. */
  private[search] var DwpDirectMaxRows: Long = 1L << 20 // var: specs clamp the gate

  /** Test hook: run `f` with the direct-read volume gate clamped, restore
    * guaranteed — specs must use this instead of assigning the var (a
    * missed restore would silently flip every later query in the JVM to
    * the Spark scan path). */
  private[search] def withDwpMaxRows[A](rows: Long)(f: => A): A = {
    val saved = DwpDirectMaxRows
    DwpDirectMaxRows = rows
    try f finally DwpDirectMaxRows = saved
  }

  /** Result-size cap for handle-cached filter bitmaps (≈ 4M ids, ~0.5 MB
    * roaring worst case); broader filters keep the streaming plan. */
  @volatile private[search] var FilterCacheCap: Int = 1 << 22 // var: specs force streaming

  /** Test hook: run `f` with the filter-bitmap cap at `n` (0 = every
    * non-empty filter streams), restore guaranteed — see [[withDwpMaxRows]].
    * A handle keeps the filters it cached, so `f` needs a fresh handle. */
  private[search] def withFilterCacheCap[A](n: Int)(f: => A): A = {
    val saved = FilterCacheCap
    FilterCacheCap = n
    try f finally FilterCacheCap = saved
  }

  /** Chosen-docid cap for docid-point page pruning on restricted direct
    * forward-index reads; larger chosen sets skip the point predicate
    * (the column-index In evaluation is O(pages × log points) per touched
    * group — cheap for a drain page's ~20–60 docs, not for a 8k-doc
    * verification slice). */
  private[search] val DwpDocPointsMax: Int = 256

  /** Row-group cap of a direct pair-table read (pair rows and the ranged
    * prefix-pair fallback); a band set over more groups keeps the Spark
    * scan. */
  private val PairMaxGroups: Int = 512

  /** Driver-pinned per-field sort values: min/max numeric value and min/max
    * string norm per docid (keep-first facet-sort semantics: asc reads the
    * min maps, desc the max maps). */
  final case class SortPins(
      numMin: java.util.HashMap[Integer, java.lang.Double],
      numMax: java.util.HashMap[Integer, java.lang.Double],
      strMin: java.util.HashMap[Integer, String],
      strMax: java.util.HashMap[Integer, String])

  /** Shared pool for overlapping independent cold-miss fetch jobs (leaf
    * bitmap namespaces). Small and daemon: warm paths never touch it. */
  private[search] val fetchEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-leaf-fetch"); t.setDaemon(true); t
        }))

  /** Open a self-describing index directory (settings.json written by the
    * builder). */
  def open(spark: SparkSession, dir: String): GraftIndex = {
    val settings = graft.index.SettingsIO.load(dir).getOrElse(
      throw new IllegalArgumentException(s"no settings.json under $dir"))
    new GraftIndex(spark, dir, settings)
  }

  /** Load index settings are the caller's responsibility for now (the
    * manifest stores build metrics; settings round-trip comes with the
    * settings-update operator). */
  def apply(spark: SparkSession, dir: String, settings: IndexSettings): GraftIndex =
    new GraftIndex(spark, dir, settings)
}
