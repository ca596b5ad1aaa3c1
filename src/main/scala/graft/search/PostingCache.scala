package graft.search

import org.apache.spark.sql.functions._

/** Driver-side LRU cache of decoded posting lists, keyed by word — the
  * serving-tier twin of milli's LMDB point reads (one `word_docids` /
  * posting fetch hits the OS page cache in-process,
  * `/root/reference/milli/src/search/mod.rs:136-242`). A long-lived Spark
  * serving wrapper pays ONE pruned parquet fetch per cold word and then
  * answers warm queries without launching any job.
  *
  * Scale story: the cache is byte-budgeted (default 256 MiB) and
  * fetch-through — at 10^12 docs it simply holds the hot head of the
  * dictionary (Zipf makes that most of the traffic) and evicts the tail;
  * correctness never depends on it (a miss is a pruned distributed scan).
  */
final class PostingCache(index: GraftIndex, maxBytes: Long = 256L << 20) {
  import index.spark
  import spark.implicits._

  /** byte budget (prewarm sizes its head against it). */
  def budgetBytes: Long = maxBytes

  /** word → postings sorted by docid: (docid, tf). */
  private val lru = new Lru[String, Array[Long]](maxBytes, a => 64L + 8L * a.length)

  /** Fetch-through: postings of every word, as (docid, tf) pairs packed in a
    * long (docid high, tf low) so the hot array is primitive. Misses are
    * fetched in ONE pruned posting-block scan; absent words cache empty. */
  def get(words: Seq[String]): Map[String, Array[Long]] = lru.getAll(words) { missing =>
    // pinned-dictionary guard: non-dictionary terms have no blocks — cache
    // them empty without a scan
    val live = index.dictWords(missing)
    val rows: Array[(String, Int, Array[Byte])] =
      if (live.isEmpty) Array.empty
      else index.postingBlocks
        .where(col("word").isin(live: _*))
        .select(col("word"), col("block_id"), col("bytes"))
        .as[(String, Int, Array[Byte])].collect()
    val byWord = rows.groupBy(_._1)
    missing.iterator.map { w =>
      val ps: Array[Long] = byWord.get(w) match {
        case None => Array.empty[Long]
        case Some(blocks) =>
          blocks.sortBy(_._2).iterator.flatMap { case (_, _, bs) =>
            graft.core.PostingBlocks.decode(bs).iterator
          }.map { case (docid, tf) => (docid.toLong << 32) | (tf & 0xffffffffL) }.toArray
      }
      w -> ps
    }.toMap
  }

  @inline def docidOf(packed: Long): Int = (packed >>> 32).toInt
  @inline def tfOf(packed: Long): Int = packed.toInt
}

/** Driver-side LRU cache of candidate bitmaps keyed by `<ns>:<key>` —
  * `word_docids` / `exact_word_docids` / `word_prefix_docids` /
  * `exact_word_prefix_docids` point reads (ns `w`/`e`/`p`/`q`) plus
  * dictionary-miss prefix range unions (ns `r`). PRESENCE-AWARE: a key
  * absent from its table caches as None so `resolveTreeBitmap` can still
  * distinguish "prefix not in the prefix dict" (→ range-union fallback)
  * from "not fetched yet". Warm no-rank/count queries and the bitmap-
  * bucketed rank pass run zero Spark jobs (the reference's equivalent reads
  * hit LMDB in-process, `milli/src/search/mod.rs:136-242`). */
final class BitmapCache(maxBytes: Long = 128L << 20) {
  import org.roaringbitmap.RoaringBitmap

  private val lru = new Lru[String, Option[RoaringBitmap]](maxBytes,
    v => 64L + v.fold(0L)(_.getSizeInBytes.toLong))

  /** Fetch-through lookup: `fetch` is called ONCE with the uncached keys and
    * returns bitmaps for those present in the table; the rest cache as
    * absent. Result maps every requested key to Some(bitmap) | None(absent).
    * Returned bitmaps are SHARED — callers must not mutate them. */
  def get(ns: String, keys: Seq[String])(
      fetch: Seq[String] => Map[String, RoaringBitmap]): Map[String, Option[RoaringBitmap]] = {
    val p = ns.length + 1
    lru.getAll(keys.map(ns + ":" + _)) { missing =>
      val got = fetch(missing.map(_.substring(p)))
      missing.iterator.map(k => k -> got.get(k.substring(p))).toMap
    }.map { case (k, v) => k.substring(p) -> v }
  }
}

/** Driver-side LRU cache of forward-index rows (docid, word, positions) for
  * the small-query rank path, keyed by exact word (`w:foo`) or prefix range
  * (`p:fo`) — the serving twin of the pruned `doc_word_positions` scans.
  * Byte-budgeted like [[PostingCache]]; misses cost one pruned scan for the
  * whole miss batch. */
final class DwpCache(index: GraftIndex, maxBytes: Long = 256L << 20) {
  import index.spark
  import spark.implicits._

  type Rows = Array[(Int, String, Array[Int])]

  /** byte budget (prewarm sizes its head against it). */
  def budgetBytes: Long = maxBytes

  /** `w:<word>` / `p:<prefix>` → that key's complete rows. */
  private val lru = new Lru[String, Rows](maxBytes,
    a => 64L + a.iterator.map(r => 48L + 2L * r._2.length + 4L * r._3.length).sum)

  /** The cached rows of each word and prefix, plus the keys that missed. */
  private def splitHits(dw: Seq[String], dp: Seq[String])
      : (Map[String, Rows], Map[String, Rows], Seq[String], Seq[String]) = {
    val hw = dw.flatMap(w => lru.get("w:" + w).map(w -> _)).toMap
    val hp = dp.flatMap(p => lru.get("p:" + p).map(p -> _)).toMap
    (hw, hp, dw.filterNot(hw.contains), dp.filterNot(hp.contains))
  }

  /** One pruned scan for a miss batch. Pinned-dictionary guard: novel
    * ngram/typo'd words and dead prefixes have no forward rows — they
    * contribute nothing to the predicate (and cache empty). Small prefix
    * ranges expand to their dictionary extensions so the whole predicate is
    * word In-lists (pruned point reads), not ranges. `docFilter`: restrict
    * to these docids (the rank-drain cold path) instead of the words'
    * whole forward ranges. */
  private def scanRows(missW: Seq[String], missP: Seq[String],
      docFilter: Option[Array[Int]], allowDirect: Boolean = true): Rows = {
    val liveW = index.dictWords(missW)
    val liveP = index.livePrefixes(missP)
    val expanded: Map[String, Seq[String]] =
      liveP.flatMap(p => index.prefixExtensions(p).map(p -> _)).toMap
    val rangedP = liveP.filterNot(expanded.contains)
    val inWords = (liveW ++ expanded.valuesIterator.flatten).distinct
    if (inWords.isEmpty && rangedP.isEmpty) return Array.empty
    // page-pruned direct point read first (fine-paged dirs): the wide In
    // predicate below never footer-prunes, so the Spark path pays a full
    // forward-index scan per cold miss batch — the measured cold-rank
    // floor. Rows must come back docid-sorted per word; callers sort.
    (if (allowDirect) index.directDwpRows(inWords, rangedP, docFilter)
     else None) match {
      case Some(rows) => return rows
      case None => ()
    }
    val in = if (inWords.nonEmpty) Seq(col("word").isin(inWords: _*)) else Nil
    val pref = rangedP.map(p => col("word").startsWith(p))
    val wordPred = (in ++ pref).reduce(_ || _)
    val base = index.docWordPositions.where(wordPred)
    val restricted = docFilter match {
      case None => base
      case Some(ds) if ds.length <= 8192 =>
        // chosen sets up to 8k push as an In predicate — Catalyst converts
        // it to an InSet hash probe executor-side (cheap per row), and the
        // plan stays a single scan (a broadcast semi-join costs ~400 ms of
        // join planning + AQE for the same filter, measured)
        base.where(col("docid").isin(ds.map(Int.box).toSeq: _*))
      case Some(ds) =>
        // very large drains: a broadcast semi-join restricts the scan
        // without a giant literal list — collect volume stays
        // O(|chosen| × words) at any corpus size
        val candDf = spark.createDataset(ds.toSeq).toDF("docid")
        base.join(broadcast(candDf), Seq("docid"), "left_semi")
    }
    restricted.select(col("docid"), col("word"), col("positions"))
      .as[(Int, String, Array[Int])].collect()
  }

  /** Fetched rows → per-word / per-prefix docid-sorted arrays (the rank
    * path binary-searches each array by docid; collect() order is
    * per-partition only). One grouping pass — not a filter per key, which
    * was O(keys × rows) on wide miss batches (measured ~2× the fetch
    * itself at 200+ words over a 30k-row restricted slice). */
  private def groupFetched(rows: Rows, words: Seq[String],
      prefixes: Seq[String]): (Map[String, Rows], Map[String, Rows]) = {
    val byWord: Map[String, Rows] = rows.groupBy(_._2)
    val fetchedW: Map[String, Rows] =
      words.iterator.map(w =>
        w -> byWord.getOrElse(w, Array.empty[(Int, String, Array[Int])])
          .sortBy(_._1)).toMap
    val fetchedP: Map[String, Rows] =
      prefixes.iterator.map { p =>
        val ws = byWord.keysIterator.filter(_.startsWith(p)).toSeq
        p -> ws.iterator.flatMap(byWord(_)).toArray.sortBy(_._1)
      }.toMap
    (fetchedW, fetchedP)
  }

  /** Rows for every exact word and every prefix, fetched through one pruned
    * scan per miss batch. Values are docid-sorted (binary-searchable). */
  def get(words: Seq[String], prefixes: Seq[String],
      allowDirect: Boolean = true)
      : (Map[String, Rows], Map[String, Rows]) = {
    val (hitW, hitP, missW, missP) = splitHits(words.distinct, prefixes.distinct)
    if (missW.isEmpty && missP.isEmpty) (hitW, hitP)
    else {
      val (w, p) = fill(missW, missP, allowDirect)
      (hitW ++ w, hitP ++ p)
    }
  }

  /** Blocking complete fetch of missed keys, installed in the LRU. */
  private def fill(missW: Seq[String], missP: Seq[String],
      allowDirect: Boolean = true): (Map[String, Rows], Map[String, Rows]) = {
    val (fetchedW, fetchedP) =
      groupFetched(scanRows(missW, missP, None, allowDirect), missW, missP)
    fetchedW.foreach { case (w, a) => lru.put("w:" + w, a) }
    fetchedP.foreach { case (p, a) => lru.put("p:" + p, a) }
    // complete entries just landed: drop the restricted-fetch memo so the
    // next getForDocs sees the (fuller) LRU instead of the stale slice
    rMemo = null
    (fetchedW, fetchedP)
  }

  /** Keys whose complete fill is in flight on the background filler. */
  private val filling = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val filler = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => { val t = new Thread(r, "graft-dwp-fill"); t.setDaemon(true); t })

  /** Block until every queued async fill has drained (bounded) — prewarm
    * calls this so measurement or serving traffic never contends with its
    * own warmup's back-fills. */
  def awaitFills(timeoutMs: Long = 30000): Unit =
    try filler.submit(new Runnable { override def run(): Unit = () })
      .get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Rank-drain fetch: rows for `words`/`prefixes` restricted to the chosen
    * docids. Cached (complete) entries hit as usual. Missing HEAVY words —
    * estimated fetch above `asyncFillMinBytes` via the pinned-dict df/ttf
    * prices — are fetched DOCID-RESTRICTED (O(|chosen|) rows collected
    * instead of the word's whole forward range: a stop word pages in ~df
    * rows to rank 50 docs otherwise) and their complete fill is scheduled
    * on a background thread so the NEXT query on the same words is a
    * cache hit — serve this query from the rows it needs, warm the rest
    * behind it. Restricted results are never installed in the LRU (they
    * are incomplete by construction). Missing LIGHT words take the normal
    * blocking fill — one scan instead of two. */
  def getForDocs(words: Seq[String], prefixes: Seq[String], docids: Array[Int],
      asyncFillMinBytes: Long = 4L << 20)
      : (Map[String, Rows], Map[String, Rows]) = {
    // repeat-call memo: the drain's verification loop can resume and
    // re-request the SAME (words, docs) slice before the async complete
    // fill lands — restricted results are not LRU-cacheable (incomplete),
    // so without this the second round pays the whole restricted fetch
    // again (measured: a duplicate ~300 ms scan per cold 2-word query)
    val memo = rMemo
    if (memo != null && memo.words == words && memo.prefixes == prefixes &&
        java.util.Arrays.equals(memo.docids, docids))
      return memo.result
    val (hitW, hitP, missW, missP) = splitHits(words.distinct, prefixes.distinct)
    if (missW.isEmpty && missP.isEmpty) return (hitW, hitP)
    if (docids.isEmpty) // nothing to rank: misses contribute no rows
      return (hitW ++ missW.map(_ -> Array.empty[(Int, String, Array[Int])]),
        hitP ++ missP.map(_ -> Array.empty[(Int, String, Array[Int])]))
    // Price each miss INDIVIDUALLY (pinned-dict lookups, no IO) so one
    // heavy word doesn't drag the batch's light misses into the uncached
    // restricted path: light misses take the normal blocking complete
    // fill (cached for the next query), only heavy ones go restricted.
    // No pinned dict → no prices → everything is "light" → blocking fill.
    // VOLUME OVERRIDE: when the whole miss batch's estimated rows dwarf
    // the drain (> 4× chosen docs — e.g. a 140-word derivation set over a
    // 3k-doc drain collects ~100× the rows it needs), everything goes
    // restricted and the complete fill runs behind: same total work, off
    // the query's latency path.
    val batchRows = index.estimatePostings(missW, missP)
    val volumeHeavy = batchRows.exists(_ > 4L * docids.length)
    val heavyW = missW.filter(w => volumeHeavy ||
      index.estimatePostingBytes(Seq(w), Nil).exists(_ > asyncFillMinBytes))
    val heavyP = missP.filter(p => volumeHeavy ||
      index.estimatePostingBytes(Nil, Seq(p)).exists(_ > asyncFillMinBytes))
    // no heavy miss: one blocking complete fill caches everything (large
    // drains stay restricted — the semi-join path keeps the collect
    // O(|chosen| × words) where a complete fill would be O(df))
    if (heavyW.isEmpty && heavyP.isEmpty) {
      val (w, p) = fill(missW, missP)
      return (hitW ++ w, hitP ++ p)
    }
    val lightW = missW.filterNot(heavyW.contains)
    val lightP = missP.filterNot(heavyP.contains)
    val (lightFedW, lightFedP) =
      if (lightW.nonEmpty || lightP.nonEmpty) fill(lightW, lightP)
      else (Map.empty[String, Rows], Map.empty[String, Rows])
    val rows = scanRows(heavyW, heavyP, Some(docids))
    val (fetchedW, fetchedP) = groupFetched(rows, heavyW, heavyP)
    val fillW = heavyW.filter(w => filling.add("w:" + w))
    val fillP = heavyP.filter(p => filling.add("p:" + p))
    // memo BEFORE scheduling the fill: the fill's completion clears it,
    // and that clear must never race an assignment that would outlive it
    rMemo = RestrictedMemo(words, prefixes, docids,
      (hitW ++ lightFedW ++ fetchedW, hitP ++ lightFedP ++ fetchedP))
    if (fillW.nonEmpty || fillP.nonEmpty) {
      // defer while any query is in flight (bounded): the fill's 32-thread
      // Spark scan otherwise runs DURING the cold query that scheduled it,
      // competing with its driver-side ranking tail (a 1M-doc cold probe
      // captured a 519 ms fill job inside the query's own window). Under
      // sustained load the bound expires and the fill proceeds — warm
      // queries never need it, so the contention is gone either way.
      // The deadline is stamped at SCHEDULE time, not task start: the
      // filler is single-threaded, and per-task deadlines would let a
      // backlog of K fills serialize at up to K × the bound under
      // sustained load (and silently outlive awaitFills' timeout).
      val deadline = System.nanoTime() + PostingCache.FillDeferMaxNs
      filler.execute { () =>
      // background fills take the DISTRIBUTED scan: a multi-hundred-ms
      // Group decode on the 4-thread direct pool starves the foreground
      // queries' point reads (measured: a 229 ms back-fill inflated the
      // next query's leaf fetches to ~230 ms). The defer sleep sits
      // INSIDE the try: an interrupt there (shutdown) must still clear
      // the `filling` keys, or survivors would pin those words on the
      // restricted path for the handle's lifetime.
      try {
        while (index.activeQueries.get() > 0 &&
            System.nanoTime() < deadline)
          Thread.sleep(20)
        get(fillW, fillP, allowDirect = false)
      }
      catch {
        // rotated/poisoned handle is expected churn; anything else is
        // surfaced (repeated silent fill failures would pin every query
        // on the restricted path forever). Fatal errors propagate.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"graft: async dwp fill dropped: $e")
      }
      finally {
        fillW.foreach(w => filling.remove("w:" + w))
        fillP.foreach(p => filling.remove("p:" + p))
      }
      }
    }
    (hitW ++ lightFedW ++ fetchedW, hitP ++ lightFedP ++ fetchedP)
  }

  /** Last restricted fetch, for the drain's resume rounds (see
    * [[getForDocs]]). One entry — bounded by one slice's rows. */
  private final case class RestrictedMemo(words: Seq[String],
      prefixes: Seq[String], docids: Array[Int],
      result: (Map[String, Rows], Map[String, Rows]))
  @volatile private var rMemo: RestrictedMemo = null
}

object PostingCache {
  /** Max time a background complete fill waits for in-flight queries to
    * drain before running anyway (see the filler task in
    * [[DwpCache.getForDocs]]): 2 s, well past a cold query's ranking tail,
    * yet short enough that a busy handle's fills still land. */
  val FillDeferMaxNs: Long = 2000L * 1000000L
}
