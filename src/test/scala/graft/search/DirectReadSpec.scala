package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.IndexSettings.T
import QueryTree.MatchingStrategy

/** The driver-side parquet point reader (DirectParquet) must be a PURE
  * optimization: rank results identical to the Spark-scan path on every
  * fixture query shape, and it must actually engage (reads counter moves)
  * rather than silently falling back. */
class DirectReadSpec extends AnyFunSuite with Matchers {

  private lazy val index = Fixture.buildIndex(TestSpark.spark)

  test("direct point reads engage and fall back zero times on fixture queries") {
    val before = DirectParquet.reads.get()
    val fbBefore = DirectParquet.fallbacks.get()
    val search = new Search(index)
    Seq(Fixture.TestQuery, "hello ", "worl", "\"hello world\"", "brwon ")
      .foreach { q =>
        search.execute(SearchRequest(query = Some(q), limit = 17,
          strategy = MatchingStrategy.Last, exhaustive = true))
      }
    withClue("direct reads never engaged: ")(
      DirectParquet.reads.get() should be > before)
    withClue("direct reads fell back: ")(
      DirectParquet.fallbacks.get() shouldBe fbBefore)
  }

  test("point reads hit groups beyond a pruned leading row group") {
    // A key-sorted file with MANY row groups, point-read on keys whose
    // groups sit in the middle/end of the file: parquet-mr filters the
    // reader's block list at open (stats/dictionary row-group filtering),
    // so any group addressing by ORIGINAL footer index silently misses
    // rows once a preceding group is pruned — readFilteredRowGroup
    // returns null past the filtered list's end instead of throwing.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = graft.TestSpark.tempDir("direct-multigroup")
    val n = 4000
    spark.range(n).map(i => (f"k$i%06d", i)).toDF("key", "v")
      .coalesce(1).sortWithinPartitions("key")
      .write.mode("overwrite")
      .option("parquet.block.size", "4096")
      .option("parquet.page.size", "1024")
      .parquet(dir)
    val fts = new DirectParquet.TableFooters(dir, "key")
    val fullRange = Seq((Array[Byte](0x00), Array.fill(8)(0xff.toByte)))
    withClue("fixture must span several row groups: ")(
      DirectParquet.bandGroupCount(fts, fullRange) should be > 3)
    // last key, a middle key, and the first key — all must come back
    val probes = Seq(f"k${n - 1}%06d", f"k${n / 2}%06d", "k000000")
    probes.foreach { k =>
      var found = 0
      val ok = DirectParquet.scanBands(fts, DirectParquet.keyBands(Seq(k))) {
        g => if (g.getString("key", 0) == k) found += 1
      }
      withClue(s"direct read of '$k' fell back: ")(ok shouldBe true)
      withClue(s"rows for '$k' lost by the point read: ")(found shouldBe 1)
    }
    // a fat band spanning the file's TAIL (every group but the first) —
    // the shape where index misalignment silently drops whole groups
    val lo = f"k${n / 4}%06d".getBytes("UTF-8")
    val hi = f"k${n - 1}%06d".getBytes("UTF-8")
    var got = 0
    val ok = DirectParquet.scanBands(fts, Seq((lo, hi))) { g =>
      val k = g.getString("key", 0)
      if (k >= new String(lo, "UTF-8") && k <= new String(hi, "UTF-8")) got += 1
    }
    ok shouldBe true
    withClue("tail-band rows lost by the point read: ")(
      got shouldBe (n - n / 4))
  }

  test("rank results identical with direct reads vs a fresh Spark-only handle") {
    // fresh handles so both sides fetch cold through their own route:
    // `direct` uses the point reader, `sparkOnly` has it disabled via a
    // poisoned footer dir (nonexistent table names can't be faked, so we
    // compare against the DISTRIBUTED path instead — maxLocalPostings = 0
    // routes every fetch through Spark scans end to end)
    val direct = new Search(GraftIndex(TestSpark.spark, index.dir, index.settings))
    val sparkOnly = new Search(
      GraftIndex(TestSpark.spark, index.dir, index.settings), maxLocalPostings = 0)
    Seq(Fixture.TestQuery, "hello ", "worl", "brwon ", "the quick ")
      .foreach { q =>
        val req = SearchRequest(query = Some(q), limit = 17,
          strategy = MatchingStrategy.Last, exhaustive = true)
        val a = direct.execute(req)
        val b = sparkOnly.execute(req)
        withClue(s"query '$q': ") {
          a.documentsIds shouldBe b.documentsIds
          a.candidates shouldBe b.candidates
        }
      }
  }

  test("a failing direct read falls back to the Spark scan with the same answers") {
    // a fresh, unwarmed handle: its first query reads candidate bitmaps and
    // forward rows cold, so the injected fault lands on a live direct read
    val spark = TestSpark.spark
    def fresh() = GraftIndex(spark, index.dir, index.settings)
    val live = fresh()
    val search = new Search(live)
    val dist = new Search(fresh(), maxLocalPostings = 0)
    val terms = Seq("hello", "world")
    val bm25Want = new Bm25(fresh()).topK(terms, 5)
    withClue("fixture BM25 query must score: ")(bm25Want should not be empty)
    val fb0 = DirectParquet.fallbacks.get()
    Seq(Fixture.TestQuery, "hello ", "worl", "brwon ").zipWithIndex.foreach {
      case (q, i) =>
        val req = SearchRequest(query = Some(q), limit = 17,
          strategy = MatchingStrategy.Last, exhaustive = true)
        val a = DirectParquet.withFailingRead(T.DocWordPositions)(search.execute(req))
        if (i == 0)
          withClue("the injected fault never reached a direct read: ")(
            DirectParquet.fallbacks.get() should be > fb0)
        val b = dist.execute(req)
        withClue(s"query '$q': ") {
          a.documentsIds shouldBe b.documentsIds
          a.candidates shouldBe b.candidates
        }
    }
    val bm25Got = DirectParquet.withFailingRead(T.PostingBlocks)(new Bm25(live).topK(terms, 5))
    bm25Got.map(_._1).toSeq shouldBe bm25Want.map(_._1).toSeq
    bm25Got.zip(bm25Want).foreach { case ((_, x), (_, y)) => x shouldBe y +- 1e-9 }
  }

  // one case per direct read site: on a fresh handle the named table's
  // first direct read fails, and a forced route whose answer depends on
  // that read must still equal the distributed answer. Every doc holds
  // "alphas" and "bravos" (docs 5–199 1–7 apart, docs 0–4 8 apart); docs
  // 0–4 also hold "bravox" right after "alphas". prefixThreshold 2 puts
  // "bra" in the prefix dictionary.
  private lazy val sites: GraftIndex = {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = graft.TestSpark.tempDir("direct-readsites")
    val filler = Seq("fa", "fb", "fc", "fd", "fe", "ff")
    val docs = (0 until 200).map { i =>
      val text =
        if (i < 5) s"alphas bravox ${filler.mkString(" ")} bravos"
        else s"alphas ${filler.take(i % 7).mkString(" ")} bravos"
      (i, text)
    }.toDF("docid", "text")
    val stg = graft.index.IndexSettings(searchableFields = Seq("text"),
      primaryKey = "docid", prefixThreshold = 2)
    new graft.index.IndexBuilder(spark, stg).build(docs, dir, resume = false)
    GraftIndex(spark, dir, stg)
  }

  private def faultedRoute(table: String, route: Planner.Route, req: SearchRequest,
      warmUp: Seq[SearchRequest] = Nil): GraftIndex = {
    def fresh() = GraftIndex(TestSpark.spark, sites.dir, sites.settings)
    val idx = fresh()
    val search = new Search(idx)
    warmUp.foreach(search.execute)
    val fb0 = DirectParquet.fallbacks.get()
    val got = DirectParquet.withFailingRead(table)(
      search.prepare(req).flatMap(search.run(_, route)))
    withClue(s"no direct read of $table failed: ")(
      DirectParquet.fallbacks.get() should be > fb0)
    val want = new Search(fresh(), maxLocalPostings = 0).execute(req)
    withClue(s"$route with a failed $table read: ") {
      got.map(_.documentsIds) shouldBe Some(want.documentsIds)
      got.map(_.candidates) shouldBe Some(want.candidates)
    }
    idx
  }

  test("word and prefix bitmaps: a failed direct read falls back (no-rank route)") {
    val req = SearchRequest(query = Some("alphas bra"), criteriaOverride = Some(Nil),
      limit = 300)
    faultedRoute(T.WordDocids, Planner.NoRank(None), req)
    // a lost prefix row would not change the answer (the dictionary-miss
    // path rebuilds the range union from word rows), so check that the
    // handle caches the row the fallback read: every doc holds "bravos"
    val idx = faultedRoute(T.WordPrefixDocids, Planner.NoRank(None), req)
    idx.bitmapCache.get("p", Seq("bra"))(_ => Map.empty)("bra")
      .map(_.getLongCardinality) shouldBe Some(200L)
  }

  test("pair rows: a failed direct read falls back (local route, proximity cells)") {
    // the warm-up caches the (alphas, bravos) pairs, so the faulted read
    // carries only the (alphas, bravox) pairs: without them docs 0–4 leave
    // the proximity-1 cell, which alone covers the page
    faultedRoute(T.WordPairProximityDocids,
      Planner.Local(Map.empty, None, Long.MaxValue),
      SearchRequest(query = Some("alphas bravoz "), limit = 20),
      warmUp = Seq(SearchRequest(query = Some("alphas bravos "), limit = 20,
        authorizeTypos = false)))
  }

  test("forward index: a failed direct read falls back (local route)") {
    faultedRoute(T.DocWordPositions, Planner.Local(Map.empty, None, Long.MaxValue),
      SearchRequest(query = Some("alphas bravos "), limit = 20, offset = 3))
  }

  test("spanBand orders by UTF-8 bytes, not UTF-16 strings") {
    // the tokenizer emits BOTH supplementary-plane Han unigrams (surrogate
    // pairs, which sort LOW in UTF-16) and BMP words ≥ U+E000 (compat
    // ideographs, fullwidth forms — which sort HIGH in UTF-16 but LOW in
    // UTF-8): a String-ordered span is INVERTED for this mix, i.e. an
    // empty page band that silently drops every pair row
    val bmp = "豈" // CJK compat ideograph, UTF-8 EF A4 80
    val supp = new String(Character.toChars(0x20000)) // UTF-8 F0 A0 80 80
    withClue("fixture must expose the divergence: ")(
      bmp.compareTo(supp) should be > 0) // String order: supp < bmp
    val (lo, hi) = DirectParquet.spanBand(Seq(bmp, supp))
    new String(lo, "UTF-8") shouldBe bmp // byte order: bmp < supp
    new String(hi, "UTF-8") shouldBe supp
  }

  test("broad-prefix prox rows resolve via the direct ranged read, zero Spark aggregations") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a length-3 prefix with 80 dictionary extensions: too long for the
    // precomputed prefix-pair tables (len ≤ 2) and too broad for the
    // pinned-extension assembly (> 64) — before the direct ranged read,
    // this shape cost one Spark aggregation job per (word, prefix, side)
    // on every cold query (the measured 90–130 ms floor of the cell drain)
    val dir = graft.TestSpark.tempDir("direct-prefixpair")
    val docs = (0 until 320).map { i =>
      val ext = f"pre${i % 80}%03d"
      val text =
        if (i % 2 == 0) s"zulu $ext alpha beta" else s"$ext zulu gamma delta"
      (i, text)
    }.toDF("docid", "text")
    val stg = graft.index.IndexSettings(
      searchableFields = Seq("text"), primaryKey = "docid")
    new graft.index.IndexBuilder(spark, stg).build(docs, dir, resume = false)
    val idx = GraftIndex(spark, dir, stg)
    withClue("fixture prefix must exceed the pinned-extension cap: ")(
      idx.prefixExtensions("pre") shouldBe None)
    val pairTable = spark.read.parquet(s"$dir/word_pair_proximity_docids")
    def expected(prefixIsRight: Boolean): Map[Int, org.roaringbitmap.RoaringBitmap] = {
      val rows =
        if (prefixIsRight)
          pairTable.where($"w1" === "zulu" && $"w2".startsWith("pre"))
        else pairTable.where($"w1".startsWith("pre") && $"w2" === "zulu")
      rows.select($"prox", $"docids").as[(Int, Array[Byte])].collect()
        .groupBy(_._1).map { case (p, rs) =>
          val bm = new org.roaringbitmap.RoaringBitmap()
          rs.foreach(r => bm.or(graft.core.Bitmaps.cboDeserialize(r._2)))
          p -> bm
        }
    }
    val ranged0 = idx.prefixPairRangedReads.get()
    val direct0 = idx.prefixPairDirectRangedReads.get()
    val right = idx.pairProxPrefixBitmaps("zulu", "pre", prefixIsRight = true)
    val left = idx.pairProxPrefixBitmaps("zulu", "pre", prefixIsRight = false)
    withClue("(word, prefix) side: ")(right shouldBe expected(true))
    withClue("(prefix, word) side: ")(left shouldBe expected(false))
    withClue("fell back to the Spark aggregation: ")(
      idx.prefixPairRangedReads.get() shouldBe ranged0)
    withClue("direct ranged read never engaged: ")(
      idx.prefixPairDirectRangedReads.get() - direct0 shouldBe 2L)
    // end-to-end: trailing-prefix query over the broad prefix — local drain
    // (direct ranged reads) ≡ distributed path
    val local = new Search(GraftIndex(spark, dir, stg))
    val dist = new Search(GraftIndex(spark, dir, stg), maxLocalPostings = 0)
    Seq("zulu pre", "zulu pre0").foreach { q =>
      val req = SearchRequest(query = Some(q), limit = 17, exhaustive = true)
      val a = local.execute(req)
      val b = dist.execute(req)
      withClue(s"query '$q': ") {
        a.documentsIds shouldBe b.documentsIds
        a.candidates shouldBe b.candidates
      }
    }
  }

  test("docid point set prunes a fat word run to the wanted pages") {
    // dwp-shaped table: ONE word whose run spans ~20 fine pages; a
    // restricted read of 2 scattered docids must decode ~2 pages, not the
    // run. intPoints is page-prune-only: the callback re-checks docids.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = graft.TestSpark.tempDir("direct-docpoints")
    val n = 20000
    spark.range(n).map(i => ("common", i.toInt)).toDF("word", "docid")
      .coalesce(1).sortWithinPartitions("word", "docid")
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit",
        graft.index.TableIO.DwpPageRows.toString)
      .parquet(dir)
    val fts = new DirectParquet.TableFooters(dir, "word")
    val bands = DirectParquet.keyBands(Seq("common"))
    val wanted = Array(137, n - 201)
    val before = DirectParquet.rowsDecoded.get()
    var got = Vector.empty[Int]
    val ok = DirectParquet.scanBands(fts, bands,
        intPoints = Some(("docid", wanted))) { g =>
      val d = g.getInteger("docid", 0)
      if (g.getString("word", 0) == "common" && wanted.contains(d)) got :+= d
    }
    ok shouldBe true
    got.sorted shouldBe wanted.sorted.toVector
    val decoded = DirectParquet.rowsDecoded.get() - before
    withClue(s"decoded $decoded of $n rows — docid pages not pruned: ")(
      decoded should be <= (4L * graft.index.TableIO.DwpPageRows))
  }

  test("docid points keep frequent-word restricted fetches direct past the volume gate") {
    val spark = TestSpark.spark
    val stg = graft.index.IndexSettings(searchableFields = Seq("text"))
    val dir = graft.TestSpark.tempDir("direct-docpoints-idx")
    new graft.index.IndexBuilder(spark, stg)
      .build(graft.webgen.WebPages.generate(spark, 20000), dir, resume = false)
    val idx = GraftIndex(spark, dir, stg)
    idx.warm()
    val df = idx.wordDocumentsCount("the")
    withClue("fixture must have a fat run: ")(
      df should be > (8L * graft.index.TableIO.DwpPageRows))
    // ground truth through the Spark scan (restricted In predicate)
    val truth = GraftIndex(spark, dir, stg)
    truth.warm()
    val (fullW, _) = truth.dwpCache.get(Seq("the"), Nil, allowDirect = false)
    val all = fullW("the").map(_._1).distinct.sorted
    val docids = Array(all.head, all(all.length / 2), all.last)
    // clamp the gate BELOW df: the unrestricted direct read must refuse,
    // the docid-point read (page-bounded decode) must still engage
    GraftIndex.withDwpMaxRows(df - 1) {
      idx.directDwpRows(Seq("the"), Nil, None) shouldBe None
      val before = DirectParquet.rowsDecoded.get()
      val got = idx.directDwpRows(Seq("the"), Nil, Some(docids))
      withClue("restricted direct read refused under the clamped gate: ")(
        got.isDefined shouldBe true)
      val decoded = DirectParquet.rowsDecoded.get() - before
      // pin the PAGE-BOUNDED property the volume gate prices with
      // ((|docs|+2)·pageRows per word) — `decoded < df` alone would pass
      // a regression that keeps nearly every page of the run
      withClue(s"decoded $decoded rows for 3 docids of a $df-row run: ")(
        decoded should be <= ((docids.length + 2L) *
          graft.index.TableIO.DwpPageRows))
      val expect = fullW("the").filter(r => docids.contains(r._1))
        .map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq
      got.get.map(r => (r._1, r._2, r._3.toSeq)).sortBy(_._1).toSeq shouldBe expect
    }
  }
}
