package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.search.{GraftIndex, Search, SearchRequest}
import graft.webgen.WebPages

/** Delete / incremental-add semantics: soft-deleted docs disappear from
  * results; hard delete purges tables; an incremental batch-merged index
  * answers like a from-scratch index over the union corpus. */
class UpdatesSpec extends AnyFunSuite with Matchers {
  import UpdatesSpec._

  private def freshDir() = graft.TestSpark.tempDir("graft-upd")

  test("soft delete removes docs from search; hard delete purges tables") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"))
    val dir = freshDir()
    val docs = WebPages.generate(spark, 300)
    new IndexBuilder(spark, settings).build(docs, dir, resume = false)
    val updates = new Updates(spark, settings)

    val index0 = GraftIndex(spark, dir, settings)
    val before = new Search(index0)
      .execute(SearchRequest(query = Some("w3 "), limit = 300))
    before.documentsIds should not be empty

    val victim = before.documentsIds.head
    updates.softDelete(dir, Seq(victim))
    val afterSoft = new Search(GraftIndex(spark, dir, settings))
      .execute(SearchRequest(query = Some("w3 "), limit = 300))
    afterSoft.documentsIds should not contain victim
    afterSoft.documentsIds.size shouldBe before.documentsIds.size - 1

    updates.hardDelete(dir)
    updates.deletedBitmap(dir).isEmpty shouldBe true
    val wd = spark.read.parquet(s"$dir/${IndexSettings.T.DocWordPositions}")
      .where($"docid" === victim).count()
    wd shouldBe 0
    val afterHard = new Search(GraftIndex(spark, dir, settings))
      .execute(SearchRequest(query = Some("w3 "), limit = 300))
    afterHard.documentsIds shouldBe afterSoft.documentsIds

    // word-level metadata is RECOUNTED, not left stale: term_dict df/ttf
    // match a from-scratch dictionary over the remaining docs, and the
    // word_docids df column matches its own bitmap cardinality
    val scratchDir = freshDir()
    new IndexBuilder(spark, settings)
      .build(docs.where($"docid" =!= victim), scratchDir, resume = false)
    def dict(d: String): Map[String, (Long, Long)] =
      spark.read.parquet(s"$d/${IndexSettings.T.TermDict}")
        .select($"word", $"df".cast("long"), $"ttf".cast("long"))
        .as[(String, Long, Long)].collect()
        .map { case (w, df, ttf) => w -> (df, ttf) }.toMap
    val recounted = dict(dir); val scratch = dict(scratchDir)
    val diffs = (recounted.keySet ++ scratch.keySet).toSeq
      .filter(k => recounted.get(k) != scratch.get(k)).sorted
    withClue(s"${diffs.size} differing words, first 10: " +
        diffs.take(10).map(k =>
          s"$k recounted=${recounted.get(k)} scratch=${scratch.get(k)}").mkString("; ")) {
      diffs shouldBe empty
    }
    graft.functions.GraftFunctions.registerAll(spark)
    spark.read.parquet(s"$dir/${IndexSettings.T.WordDocids}")
      .where($"df" =!= org.apache.spark.sql.functions.expr(
        "bitmap_cardinality(docids)"))
      .count() shouldBe 0
  }

  /** Build `all`'s docs below docid `split`, add the rest with
    * `addDocuments`, and compare a ranked query, BM25 and EVERY table with
    * a from-scratch build of `all` — including the derived prefix tables
    * and facet level trees refreshed after the merge (stale derived data is the
    * incremental-index time bomb). A batch document whose primary key is
    * already indexed replaces it: the scratch build keeps both versions,
    * and the docids the batch tombstoned (`replaced`) are tombstoned in
    * it too. Also checks the batch's step timeline in the manifest: the
    * prefix tables' delta steps wait for no merge, and term_dict merges
    * after the new prefix dictionary read it. Returns the batch's prefix
    * dictionary diff and the incrementally built index's directory. */
  private def assertIncrementalParity(settings: IndexSettings,
      all: org.apache.spark.sql.DataFrame,
      replaced: Set[Int] = Set.empty,
      split: Int = 200): (IndexBuilder.PrefixDiff, String) = {
    val spark = TestSpark.spark
    val first = all.where(org.apache.spark.sql.functions.col("docid") < split)
    val second = all.where(org.apache.spark.sql.functions.col("docid") >= split)

    val incDir = freshDir()
    new IndexBuilder(spark, settings).build(first, incDir, resume = false)
    val updates = new Updates(spark, settings)
    val diff = updates.addBatch(incDir, second)
    updates.deletedBitmap(incDir).toArray.toSet shouldBe replaced
    assertUpdateSteps(incDir)

    val fullDir = freshDir()
    new IndexBuilder(spark, settings).build(all, fullDir, resume = false)
    if (replaced.nonEmpty) updates.softDelete(fullDir, replaced.toSeq)

    assertSameTables(settings, incDir, fullDir)
    (diff, incDir)
  }

  /** The last `addDocuments` step timeline in `dir`'s manifest: every step
    * of the prefix refresh is there, the prefix tables' delta steps depend
    * on the delta and the old dictionary, never on a merge, and term_dict
    * merges after the new dictionary was computed from it. */
  private def assertUpdateSteps(dir: String): Unit = {
    val src = scala.io.Source.fromFile(s"$dir/_graft_manifest.jsonl")
    val lines = try src.getLines().filter(_.contains("\"__update_step__\"")).toSeq
      finally src.close()
    val deps = lines.map { l =>
      val name = """"name":"([^"]*)"""".r.findFirstMatchIn(l).get.group(1)
      val ds = """"deps":\[([^\]]*)\]""".r.findFirstMatchIn(l).get.group(1)
        .split(',').map(_.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
      name -> ds
    }.toMap
    val T = IndexSettings.T
    val deltaSteps = Seq(T.WordPrefixDocids, T.WordPrefixPositionDocids)
      .map("refresh:" + _) :+ "refresh:prefix_pairs"
    (deltaSteps ++ Seq("refresh:prefix_dict", s"merge:${T.TermDict}",
      "rebuild:prefix_pairs")).foreach(n => deps.keySet should contain(n))
    deltaSteps.foreach { n =>
      withClue(s"step $n: ") {
        deps(n) should contain("delta:built")
        deps(n).filter(_.startsWith("merge:")) shouldBe empty
      }
    }
    deps(s"merge:${T.TermDict}") should contain("refresh:prefix_dict")
  }

  test("incremental add-documents merge equals from-scratch build") {
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    assertIncrementalParity(settings, WebPages.generate(TestSpark.spark, 400).cache())
  }

  test("incremental add-documents merge equals from-scratch build " +
      "with facets, a sort field and an exact attribute") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.substring_index
    val settings = IndexSettings(searchableFields = Seq("text", "title"),
      filterableFields = Set("lang"), sortableFields = Set("n_chars"),
      exactAttributes = Set("title"), primaryKey = "url")
    val all = WebPages.generate(spark, 400)
      .withColumn("title", substring_index($"text", " ", 4))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .cache()
    // every table the merge and the concurrent refresh write is non-empty
    val dir = freshDir()
    new IndexBuilder(spark, settings).build(all, dir, resume = false)
    Seq(IndexSettings.T.ExactWordDocids, IndexSettings.T.ExactWordPrefixDocids,
        IndexSettings.T.FacetNumberLevels, IndexSettings.T.FacetStringLevels,
        IndexSettings.T.FacetExistsDocids, IndexSettings.T.WordPrefixDocids,
        IndexSettings.T.WordPrefixPositionDocids,
        IndexSettings.T.WordPrefixPairProximityDocids,
        IndexSettings.T.PrefixWordPairProximityDocids).foreach { t =>
      withClue(s"table $t: ") { spark.read.parquet(s"$dir/$t").count() should be > 0L }
    }
    assertIncrementalParity(settings, all)
  }

  test("incremental add-documents merge equals from-scratch build when the " +
      "batch touches few of many files") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, when}
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    // pinned partitions: each word-keyed table spans several word-ranged
    // files, and the batch's words sit at the start, middle and end of the
    // word order, so most files carry over and a file whose batch word the
    // merge missed would keep a stale row next to the merged one
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val all = WebPages.generate(spark, 260)
        .withColumn("text", when($"docid" >= 200, lit("a w4 with")).otherwise($"text"))
        .cache()
      assertIncrementalParity(settings, all)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", oldCoalesce)
    }
  }

  test("a batch that adds dictionary prefixes equals a from-scratch build") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit, when}
    // a low threshold: the batch's three `qx…` words make `q` and `qx`
    // dictionary prefixes, and `qx` reaches the prefix-pair tables too
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url",
      prefixThreshold = 3)
    val all = WebPages.generate(spark, 260)
      .withColumn("text", when($"docid" >= 200,
        concat($"text", lit(" qxa w3 qxb the qxc"))).otherwise($"text"))
      .cache()
    val (diff, _) = assertIncrementalParity(settings, all)
    diff.old should not contain "qx"
    diff.now should contain("qx")
    diff.changed should contain allOf("q", "qx")
  }

  test("a 20-doc batch onto a 3,000-value facet equals a scratch build") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 3,000 distinct values and a 20-doc batch, a batch milli's db/50
    // rule would insert value by value: every level table row, group
    // sizes and bounds included, must match the scratch build's tree
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("n"), primaryKey = "id")
    val all = ((0 until 3000).map(i => (i, i, s"doc w$i", i.toDouble)) ++
      (3000 until 3020).map(i => (i, i, s"doc w$i", i + 0.5)))
      .toDF("docid", "id", "text", "n").cache()
    val (_, dir) = assertIncrementalParity(settings, all, split = 3000)
    val idx = GraftIndex(spark, dir, settings)
    graft.search.FilterEvaluator
      .candidates(idx, graft.search.FilterParser.parse("n 2995 TO 3015.5"))
      .select($"docid").as[Int].collect().toSet shouldBe
      ((2995 to 2999) ++ (3000 to 3015)).toSet
  }

  test("a batch with replacements equals a from-scratch build of both " +
      "versions with the old ones tombstoned") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val pages = WebPages.generate(spark, 400)
    // docs 0..19 come back as 400..419 under the same url, with new text
    val replacements = pages.where($"docid" < 20)
      .withColumn("docid", $"docid" + 400)
      .withColumn("text", concat(lit("w2 revised w7 "), $"text"))
    val all = pages.unionByName(replacements).cache()
    assertIncrementalParity(settings, all, replaced = (0 until 20).toSet)
  }

  test("a failed addDocuments leaves every live table unchanged, no " +
      "delta directory and no side directories in the index") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val dir = freshDir()
    val all = WebPages.generate(spark, 240).cache()
    new IndexBuilder(spark, settings).build(all.where($"docid" < 200), dir, resume = false)
    // one document's text throws, late: by then the delta's facet tables
    // (which never read the text) have committed, and they must not merge
    // into the live index while the text tables fail
    val poison = org.apache.spark.sql.functions.udf((docid: Int, text: String) =>
      if (docid != 230) text
      else { Thread.sleep(4000); throw new IllegalStateException("unreadable document") })
    val batch = all.where($"docid" >= 200).withColumn("text", poison($"docid", $"text"))
    def deltaDirs(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("graft-delta"))
        .map(_.getName).toSet
    def snapshot(): Map[String, String] = digests(dir)
    val before = deltaDirs()
    val liveBefore = snapshot()
    an[Exception] should be thrownBy new Updates(spark, settings).addDocuments(dir, batch)
    (deltaDirs() -- before) shouldBe empty
    snapshot() shouldBe liveBefore
    def sideDirs(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap { d =>
        (if (d.getName.endsWith("__tmp") || d.getName.endsWith("__old"))
           Seq(d.getPath) else Nil) ++ sideDirs(d)
      }
    sideDirs(new java.io.File(dir)) shouldBe empty
  }

  test("a tombstone write that fails leaves the earlier tombstones readable") {
    val spark = TestSpark.spark
    val settings = IndexSettings(searchableFields = Seq("text"))
    val dir = freshDir()
    new IndexBuilder(spark, settings).build(WebPages.generate(spark, 60), dir,
      resume = false)
    val updates = new Updates(spark, settings)
    updates.softDelete(dir, Seq(4, 9))
    def tombstones(): Seq[Int] = {
      GraftIndex(spark, dir, settings).deletedDocids.toArray.toSeq shouldBe
        updates.deletedBitmap(dir).toArray.toSeq
      updates.deletedBitmap(dir).toArray.toSeq
    }
    val key = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingTombstoneCommit].getName)
    try {
      an[Exception] should be thrownBy updates.softDelete(dir, Seq(17))
      tombstones() shouldBe Seq(4, 9)
      an[Exception] should be thrownBy updates.hardDelete(dir)
      tombstones() shouldBe Seq(4, 9)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the side dir a failed write leaves does not block the next write
    updates.softDelete(dir, Seq(17))
    tombstones() shouldBe Seq(4, 9, 17)
  }

  test("on text-only settings addDocuments leaves the tables the settings " +
      "keep empty byte-identical") {
    val spark = TestSpark.spark
    import spark.implicits._
    val T = IndexSettings.T
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val dir = freshDir()
    val all = WebPages.generate(spark, 260).cache()
    new IndexBuilder(spark, settings).build(all.where($"docid" < 200), dir, resume = false)
    val kept = Seq(T.ExactWordDocids, T.ExactWordPrefixDocids, T.GeoCells)
    def snapshot() = kept.map(t => t -> digests(s"$dir/$t")).toMap
    val before = snapshot()
    kept.foreach { t =>
      withClue(s"table $t: ") {
        before(t) should not be empty
        Manifest.parquetRowCount(spark, s"$dir/$t") shouldBe 0L
      }
    }
    val updates = new Updates(spark, settings)
    updates.addDocuments(dir, all.where($"docid" >= 200))
    Manifest.parquetRowCount(spark, s"$dir/${T.Documents}") shouldBe 260L
    snapshot() shouldBe before
    // purging and compacting skip a zero-row table
    updates.softDelete(dir, Seq(3, 210))
    updates.hardDelete(dir)
    Manifest.parquetRowCount(spark, s"$dir/${T.Documents}") shouldBe 258L
    updates.compact(dir, maxFiles = 0).map(_._1) should contain(T.Documents)
    snapshot() shouldBe before
  }

  test("a delta table with no rows leaves its live table byte-identical") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val T = IndexSettings.T
    val dir = freshDir()
    val all = WebPages.generate(spark, 230).cache()
    new IndexBuilder(spark, settings).build(all.where($"docid" < 200), dir, resume = false)
    // no field of these pages has few enough words for a word count, and
    // no facet is numeric: the batch's delta rows are empty as well
    val empty = Seq(T.FidWordCountDocids, T.DocFidWordCounts, T.DocFacetNumbers)
    def snapshot() = empty.map(t => t -> digests(s"$dir/$t")).toMap
    val before = snapshot()
    empty.foreach(t => withClue(s"table $t: ") {
      Manifest.parquetRowCount(spark, s"$dir/$t") shouldBe 0L
    })
    new Updates(spark, settings).addDocuments(dir, all.where($"docid" >= 200))
    Manifest.parquetRowCount(spark, s"$dir/${T.Documents}") shouldBe 230L
    snapshot() shouldBe before
  }

  test("incremental merge is O(touched): out-of-range files carry over " +
      "by name; doc tables append files instead of rewriting") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = freshDir()
    // pin partitions so word_docids spans several word-ranged files
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      new IndexBuilder(spark, settings)
        .build(WebPages.generate(spark, 500), dir, resume = false)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", oldCoalesce)
    }
    def parts(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(_.getName).toSet
    val wdBefore = parts(IndexSettings.T.WordDocids)
    val docsBefore = parts(IndexSettings.T.Documents)
    wdBefore.size should be > 2
    // batch whose vocabulary sorts AFTER the whole corpus ('zz…'): only
    // the last word-range file may be touched
    val batch = WebPages.generate(spark, 510)
      .where($"docid" >= 500)
      .withColumn("text", org.apache.spark.sql.functions.lit("zzunique zzword"))
    new Updates(spark, settings).addDocuments(dir, batch)
    val wdAfter = parts(IndexSettings.T.WordDocids)
    val docsAfter = parts(IndexSettings.T.Documents)
    // word_docids: all but at most one original file survive UNTOUCHED
    (wdBefore -- wdAfter).size should be <= 1
    // documents: strictly appended — every original file still present,
    // new rows arrived as inc- files
    (docsBefore -- docsAfter) shouldBe empty
    (docsAfter -- docsBefore).foreach(_ should startWith("inc-"))
    (docsAfter -- docsBefore) should not be empty
    // and the merged index answers over both corpora
    val idx = GraftIndex(spark, dir, settings)
    val res = new Search(idx).execute(
      SearchRequest(query = Some("zzunique "), limit = 20))
    res.candidates shouldBe 10
    val old = new Search(idx).execute(
      SearchRequest(query = Some("w3 "), limit = 20))
    old.candidates should be > 0L
  }

  test("facet level refresh is O(touched fields): untouched fields' files " +
      "carry over by name; reader parity holds after the merge") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("price", "score"), primaryKey = "url")
    val dir = freshDir()
    def docs(from: Int, n: Int, withScore: Boolean) =
      spark.range(from, from + n).select(
        $"id".cast("int").as("docid"),
        concat(lit("https://x/p"), $"id").as("url"),
        concat(lit("w"), $"id" % 37).as("text"),
        ($"id" * 1.0).as("price"),
        (if (withScore) ($"id" * 2.0).cast("double")
         else lit(null).cast("double")).as("score"))
    def parts(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    val oldParts = spark.conf.get("spark.sql.shuffle.partitions")
    val oldCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // level-table partitioning is data-derived (one file for a tree this
      // small); shrink the per-file row target so the carry-over fixture
      // still gets the multi-file layout it exercises
      IndexBuilder.withFacetLevelRowsPerFile(64) {
        new IndexBuilder(spark, settings)
          .build(docs(0, 200, withScore = true), dir, resume = false)
        val before = parts(IndexSettings.T.FacetNumberLevels)
        before.size should be > 2
        // the batch facets only `price` (score all-null): level files whose
        // field interval is entirely `score` must carry over BY NAME
        new Updates(spark, settings).addDocuments(dir, docs(1000, 20, withScore = false))
        val after = parts(IndexSettings.T.FacetNumberLevels)
        (before intersect after).size should be > 0
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", oldParts)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", oldCoalesce)
    }
    val idx = GraftIndex(spark, dir, settings)
    def brute(field: String, lo: Double, hi: Double): Set[Int] =
      spark.read.parquet(s"$dir/${IndexSettings.T.DocFacetNumbers}")
        .where($"field" === field && $"value" >= lo && $"value" <= hi)
        .select($"docid").as[Int].collect().toSet
    def via(field: String, lo: Double, hi: Double): Set[Int] =
      graft.search.FacetLevels.rangeDocids(idx, numeric = true, field,
        Some(lo), Some(hi), loIncl = true, hiIncl = true)
        .map(_.docids.toArray.toSet)
        .getOrElse(fail(s"no level tree for $field"))
    via("score", 100.0, 250.0) shouldBe brute("score", 100.0, 250.0)
    via("price", 150.0, 5000.0) shouldBe brute("price", 150.0, 5000.0)
  }

  test("compact restores canonical layout without changing content") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = freshDir()
    val all = WebPages.generate(spark, 360).cache()
    new IndexBuilder(spark, settings)
      .build(all.where($"docid" < 300), dir, resume = false)
    val updates = new Updates(spark, settings)
    updates.addDocuments(dir, all.where($"docid" >= 300 && $"docid" < 330))
    updates.addDocuments(dir, all.where($"docid" >= 330))

    def snapshot(t: String): Seq[String] = {
      val df = spark.read.parquet(s"$dir/$t")
      if (t == IndexSettings.T.PostingBlocks)
        df.select($"word", $"bytes").as[(String, Array[Byte])]
          .flatMap { case (w, b) =>
            graft.core.PostingBlocks.decode(b).iterator.map(p => s"$w|${p._1}|${p._2}") }
          .collect().sorted.toSeq
      else {
        graft.functions.GraftFunctions.registerAll(spark)
        val cols = df.schema.fields.sortBy(_.name).map { f =>
          if (f.name == "docids")
            org.apache.spark.sql.functions.expr("cast(bitmap_to_array(docids) as string)")
          else col(f.name).cast("string")
        }
        df.select(org.apache.spark.sql.functions.concat_ws("|", cols.toSeq: _*))
          .as[String].collect().sorted.toSeq
      }
    }
    val watched = Seq(IndexSettings.T.Documents, IndexSettings.T.WordDocids,
      IndexSettings.T.TermDict, IndexSettings.T.PostingBlocks,
      IndexSettings.T.DocWordPositions)
    val before = watched.map(t => t -> snapshot(t)).toMap
    def files(t: String): Int =
      new java.io.File(s"$dir/$t").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val docFilesBefore = files(IndexSettings.T.Documents)
    docFilesBefore should be > 2 // two appended batches left inc- files

    val compacted = updates.compact(dir, maxFiles = 0)
    compacted.map(_._1) should contain(IndexSettings.T.Documents)
    watched.foreach { t =>
      withClue(s"table $t after compact: ") { snapshot(t) shouldBe before(t) }
    }
    files(IndexSettings.T.Documents) should be <= docFilesBefore
    // and the index still answers
    val res = new Search(GraftIndex(spark, dir, settings))
      .execute(SearchRequest(query = Some("w3 "), limit = 20))
    res.candidates should be > 0L
  }

  test("addDocuments auto-compacts tables past the file threshold") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = freshDir()
    val all = WebPages.generate(spark, 340).cache()
    new IndexBuilder(spark, settings)
      .build(all.where($"docid" < 300), dir, resume = false)
    val updates = new Updates(spark, settings)
    def files(t: String): Int =
      new java.io.File(s"$dir/$t").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // grow the documents table past a tiny threshold with appended batches
    updates.addDocuments(dir, all.where($"docid" >= 300 && $"docid" < 310),
      autoCompactFiles = 0)
    updates.addDocuments(dir, all.where($"docid" >= 310 && $"docid" < 320),
      autoCompactFiles = 0)
    val fragmented = files(IndexSettings.T.Documents)
    fragmented should be > 2
    // next batch with a threshold below the current count triggers compact
    updates.addDocuments(dir, all.where($"docid" >= 320),
      autoCompactFiles = 2)
    files(IndexSettings.T.Documents) should be <= 2
    val manifest = scala.io.Source.fromFile(s"$dir/_graft_manifest.jsonl")
    val lines = try manifest.getLines().toSeq finally manifest.close()
    lines.exists(l => l.contains("__update__") && l.contains("compact")) shouldBe true
    // the compacted index still answers with all docs present
    val res = new Search(GraftIndex(spark, dir, settings))
      .execute(SearchRequest(query = Some("w3 "), limit = 400))
    res.candidates should be > 0L
  }

  test("lifecycle soak: interleaved adds, deletes, and compaction equal a " +
      "from-scratch build over the surviving corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = freshDir()
    val all = WebPages.generate(spark, 300).cache()
    val updates = new Updates(spark, settings)
    new IndexBuilder(spark, settings)
      .build(all.where($"docid" < 180), dir, resume = false)
    updates.addDocuments(dir, all.where($"docid" >= 180 && $"docid" < 240))
    // delete a scattering of docs from both tranches, purge, keep adding
    val victims = (0 until 240).filter(_ % 17 == 3)
    updates.softDelete(dir, victims)
    updates.hardDelete(dir)
    updates.addDocuments(dir, all.where($"docid" >= 240))
    updates.compact(dir, maxFiles = 0)

    val scratchDir = freshDir()
    new IndexBuilder(spark, settings).build(
      all.where(!$"docid".isin(victims: _*)), scratchDir, resume = false)

    // word-level metadata and decoded postings must be content-identical
    graft.functions.GraftFunctions.registerAll(spark)
    def content(d: String, t: String): Seq[String] = {
      val df = spark.read.parquet(s"$d/$t")
      if (t == IndexSettings.T.PostingBlocks)
        df.select($"word", $"bytes").as[(String, Array[Byte])]
          .flatMap { case (w, b) =>
            graft.core.PostingBlocks.decode(b).iterator.map(p => s"$w|${p._1}|${p._2}") }
          .collect().sorted.toSeq
      else {
        val cols = df.schema.fields.sortBy(_.name).map { f =>
          if (f.name == "docids")
            org.apache.spark.sql.functions.expr("cast(bitmap_to_array(docids) as string)")
          else org.apache.spark.sql.functions.col(f.name).cast("string")
        }
        df.select(org.apache.spark.sql.functions.concat_ws("|", cols.toSeq: _*))
          .as[String].collect().sorted.toSeq
      }
    }
    Seq(IndexSettings.T.TermDict, IndexSettings.T.WordDocids,
        IndexSettings.T.PostingBlocks, IndexSettings.T.DocStats).foreach { t =>
      withClue(s"table $t lifecycle vs scratch: ") {
        content(dir, t) shouldBe content(scratchDir, t)
      }
    }
    // and ranked search agrees query-for-query
    val lifeIdx = GraftIndex(spark, dir, settings)
    val scratchIdx = GraftIndex(spark, scratchDir, settings)
    Seq("w3 ", "the w10 ", "w1 w2 ", "w100 ").foreach { q =>
      val a = new Search(lifeIdx).execute(SearchRequest(query = Some(q), limit = 50))
      val b = new Search(scratchIdx).execute(SearchRequest(query = Some(q), limit = 50))
      withClue(s"query '$q': ") {
        a.candidates shouldBe b.candidates
        a.documentsIds shouldBe b.documentsIds
      }
    }
  }

  test("docid assignment is identical across partition counts (two-pass, no global window)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"))
    val builder = new IndexBuilder(spark, settings)
    val docs = WebPages.generate(spark, 1000).drop("docid")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def assign(inputParts: Int, shuffleParts: Int): Map[String, Int] = {
      spark.conf.set("spark.sql.shuffle.partitions", shuffleParts)
      try builder.assignDocids(docs.repartition(inputParts), "url")
        .select($"url", $"docid").as[(String, Int)].collect().toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = assign(3, 5)
    val b = assign(17, 32)
    a shouldBe b
    // dense 0..n-1 and rank-ordered by the key
    a.values.toSeq.sorted shouldBe (0 until 1000)
    a.toSeq.sortBy(_._2).map(_._1) shouldBe a.keys.toSeq.sorted
  }

  test("replace semantics tombstone old versions of re-added primary keys") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = freshDir()
    val docs = WebPages.generate(spark, 100)
    new IndexBuilder(spark, settings).build(docs, dir, resume = false)
    // re-add docid 5's url with new docid 100 and distinctive text
    val newDoc = docs.where($"docid" === 5)
      .withColumn("docid", org.apache.spark.sql.functions.lit(100))
      .withColumn("text", org.apache.spark.sql.functions.lit("zzzunique phrase here"))
    val updates = new Updates(spark, settings)
    updates.addDocuments(dir, newDoc, replace = true)
    updates.deletedBitmap(dir).contains(5) shouldBe true
    val r = new Search(GraftIndex(spark, dir, settings))
      .execute(SearchRequest(query = Some("zzzunique "), limit = 10))
    r.documentsIds shouldBe Seq(100)
  }
}

object UpdatesSpec extends Matchers {

  /** Every file under `root`, by path relative to it → its bytes' SHA-256. */
  def digests(root: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    val files = java.nio.file.Files.walk(r)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map { f =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        r.relativize(f).toString ->
          md.digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
      }.toMap
    finally files.close()
  }

  /** The indexes at `dirA` and `dirB` answer a ranked and a BM25 query
    * alike, and every build table of `dirB` holds the same rows in
    * `dirA`. */
  def assertSameTables(settings: IndexSettings, dirA: String, dirB: String): Unit = {
    val spark = TestSpark.spark
    val qA = new Search(GraftIndex(spark, dirA, settings))
      .execute(SearchRequest(query = Some("w2 w7"), limit = 50))
    val qB = new Search(GraftIndex(spark, dirB, settings))
      .execute(SearchRequest(query = Some("w2 w7"), limit = 50))
    qA.documentsIds shouldBe qB.documentsIds
    qA.candidates shouldBe qB.candidates

    // BM25 agrees too (term_dict dfs + posting blocks merged correctly)
    val bmA = new graft.search.Bm25(GraftIndex(spark, dirA, settings))
      .topK(Seq("w2", "w7"), 10)
    val bmB = new graft.search.Bm25(GraftIndex(spark, dirB, settings))
      .topK(Seq("w2", "w7"), 10)
    bmA.map(_._1).toSeq shouldBe bmB.map(_._1).toSeq
    bmA.zip(bmB).foreach { case ((_, a), (_, b)) => a shouldBe b +- 1e-9 }

    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws}
    val tables = new java.io.File(dirB).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_")).sorted.toSeq
    tables should contain allElementsOf IndexSettings.T.buildStages
    def canon(dir: String, t: String): Seq[String] = {
      val df = spark.read.parquet(s"$dir/$t")
      // posting_blocks: physical block fragmentation depends on the salted
      // (word, docid) range boundaries — partitioning-dependent by design
      // (hot-word skew split) — so compare the DECODED logical postings
      if (t == IndexSettings.T.PostingBlocks)
        return df.select($"word", $"bytes").as[(String, Array[Byte])]
          .flatMap { case (w, b) =>
            graft.core.PostingBlocks.decode(b).iterator.map(p => s"$w|${p._1}|${p._2}") }
          .collect().sorted.toSeq
      val cols = df.schema.fields.sortBy(_.name).map { f =>
        val c = col(f.name)
        f.name match {
          case "docids" => graft.functions.GraftFunctions.bitmap_to_array(c).cast("string")
          case _ if f.dataType == org.apache.spark.sql.types.BinaryType =>
            org.apache.spark.sql.functions.hex(c)
          case _ => c.cast("string")
        }
      }
      df.select(concat_ws("|", cols.toSeq: _*)).as[String].collect().sorted.toSeq
    }
    tables.foreach { t =>
      withClue(s"table $t: ") { canon(dirA, t) shouldBe canon(dirB, t) }
    }
  }
}

/** A commit protocol whose job setup fails for the tombstone table: Spark
  * sets a write up after an overwrite has deleted the target dir. */
class FailingTombstoneCommit(jobId: String, path: String, dynamicOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicOverwrite) {
  override def setupJob(job: org.apache.hadoop.mapreduce.JobContext): Unit = {
    if (path.contains(IndexSettings.T.DeletedDocids))
      throw new java.io.IOException("injected tombstone write fault")
    super.setupJob(job)
  }
}
