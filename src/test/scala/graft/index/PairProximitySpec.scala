package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The flat-walk pair-proximity sweep must be observationally identical to
  * the line-faithful heap port of the reference's
  * `document_word_positions_into_sorter`
  * (`extract_word_pair_proximity_docids.rs:85-152`) — the fixture suites
  * pin the heap port against milli; this pins the fast path against the
  * heap port on adversarial random documents. */
class PairProximitySpec extends AnyFunSuite with Matchers {

  private def randomDoc(rng: scala.util.Random): Seq[DwpRow] = {
    val nFields = 1 + rng.nextInt(3)
    val vocab = 1 + rng.nextInt(30)
    // tokens per field: dense runs so windows overflow the 7-entry cap
    val occ = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    (0 until nFields).foreach { fid =>
      val len = rng.nextInt(60)
      var idx = 0
      (0 until len).foreach { _ =>
        // occasional gaps so some pairs fall beyond MaxDistance
        idx += 1 + (if (rng.nextInt(10) == 0) rng.nextInt(20) else 0)
        val w = s"w${rng.nextInt(vocab)}"
        occ.getOrElseUpdate(w, scala.collection.mutable.ArrayBuffer.empty) +=
          ((fid << 16) | idx)
      }
    }
    occ.toSeq.sortBy(_._1).map { case (w, ps) => DwpRow(0, w, ps.sorted.toArray) }
  }

  test("flat-walk sweep ≡ heap port on 500 random documents") {
    val rng = new scala.util.Random(20260817L)
    (0 until 500).foreach { i =>
      val doc = randomDoc(rng)
      val fast = IndexBuilder.pairProximities(doc)
      val heap = IndexBuilder.pairProximitiesHeap(doc)
      withClue(s"doc #$i (${doc.size} words): ") { fast shouldBe heap }
    }
  }

  test("hand cases: cap overflow, same-word runs, cross-attribute") {
    def doc(rows: (String, Seq[Int])*): Seq[DwpRow] =
      rows.map { case (w, ps) => DwpRow(0, w, ps.toArray) }
    // 8 distinct words all within distance 7 of the head: only the first
    // 6 others may pair with it
    val crowded = doc(
      "a" -> Seq(1), "b" -> Seq(2), "c" -> Seq(3), "d" -> Seq(4),
      "e" -> Seq(5), "f" -> Seq(6), "g" -> Seq(7), "h" -> Seq(8))
    IndexBuilder.pairProximities(crowded) shouldBe
      IndexBuilder.pairProximitiesHeap(crowded)
    IndexBuilder.pairProximities(crowded) should not contain key(("a", "h"))
    // same word twice with 6 distinct words in between: self pair must
    // still be emitted even though the walk's other-cap fills first
    val selfBeyondCap = doc(
      "x" -> Seq(1, 8), "b" -> Seq(2), "c" -> Seq(3), "d" -> Seq(4),
      "e" -> Seq(5), "f" -> Seq(6), "g" -> Seq(7))
    val fast = IndexBuilder.pairProximities(selfBeyondCap)
    fast shouldBe IndexBuilder.pairProximitiesHeap(selfBeyondCap)
    fast(("x", "x")) shouldBe 7
    // cross-attribute: maximally distant, never a pair
    val cross = doc("a" -> Seq(1), "b" -> Seq((1 << 16) | 2))
    IndexBuilder.pairProximities(cross) shouldBe empty
    IndexBuilder.pairProximitiesHeap(cross) shouldBe empty
  }

  test("distributed stage parity: local-combine partials + run merge ≡ groupBy bitmap agg") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val F = graft.functions.GraftFunctions
    val rng = new scala.util.Random(7L)
    val rows = (0 until 400).flatMap { docid =>
      randomDoc(rng).map(r => r.copy(docid = docid))
    }
    // doc-contiguous, several partitions, plus a tiny flush cap so the
    // multi-flush (duplicate partial keys per partition) path is exercised
    val dwp = spark.createDataset(rows).repartitionByRange(4, $"docid")
      .sortWithinPartitions("docid").as[DwpRow]
    val reference = dwp.mapPartitions { it =>
      IndexBuilder.groupConsecutive(it).flatMap { case (docid, drows) =>
        IndexBuilder.pairProximities(drows).iterator.map {
          case ((w1, w2), prox) => (prox, w1, w2, docid)
        }
      }
    }.toDF("prox", "w1", "w2", "docid")
      .groupBy($"prox", $"w1", $"w2")
      .agg(F.bitmap_or_agg($"docid").as("docids"))
    val fast = dwp.mapPartitions(it => IndexBuilder.pairProximityPartials(it, flushKeys = 64))
      .toDF("w1", "w2", "prox", "partial")
      .repartitionByRange(4, $"w1", $"w2", $"prox")
      .sortWithinPartitions("w1", "w2", "prox")
      .mapPartitions(it => IndexBuilder.mergePairPartialRuns(it))
      .toDF("prox", "w1", "w2", "docids")
    def decode(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        ((r.getInt(0), r.getString(1), r.getString(2)),
          graft.core.Bitmaps.cboDeserialize(r.getAs[Array[Byte]](3)).toArray.toSeq)
      }.toMap
    val a = decode(reference)
    val b = decode(fast)
    b.size shouldBe a.size
    b shouldBe a
    // and the serialized bytes must be codec-identical per key
    val bytesA = reference.collect().map(r =>
      ((r.getInt(0), r.getString(1), r.getString(2)), r.getAs[Array[Byte]](3).toSeq)).toMap
    val bytesB = fast.collect().map(r =>
      ((r.getInt(0), r.getString(1), r.getString(2)), r.getAs[Array[Byte]](3).toSeq)).toMap
    bytesB shouldBe bytesA
  }

  test("word-position stage parity: partials + run merge ≡ explode + groupBy bitmap agg") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val F = graft.functions.GraftFunctions
    val rng = new scala.util.Random(11L)
    val rows = (0 until 400).flatMap { docid =>
      randomDoc(rng).map(r => r.copy(docid = docid))
    }
    val dwp = spark.createDataset(rows).repartitionByRange(4, $"docid")
      .sortWithinPartitions("docid").as[DwpRow]
    val reference = dwp.toDF().select($"word", explode($"positions").as("position"), $"docid")
      .groupBy($"word", $"position")
      .agg(F.bitmap_or_agg($"docid").as("docids"))
    val fast = dwp.mapPartitions(it => IndexBuilder.wordPositionPartials(it, flushKeys = 64))
      .toDF("word", "position", "partial")
      .repartitionByRange(4, $"word", $"position")
      .sortWithinPartitions("word", "position")
      .mapPartitions(it => IndexBuilder.mergeWordPositionRuns(it))
      .toDF("word", "position", "docids")
    def decode(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        ((r.getString(0), r.getInt(1)), r.getAs[Array[Byte]](2).toSeq)
      }.toMap
    val a = decode(reference)
    val b = decode(fast)
    b.size shouldBe a.size
    b shouldBe a
  }

  // driver-side oracle for the prefix-pair tables: for prox ≤ 7 and every
  // dictionary prefix p (length ≤ 2, within `only` when given), OR the pair
  // table's bitmaps into (prox, w1, p) for prefixes of w2 (#8) and into
  // (prox, p, w2) for prefixes of w1 (#9)
  private def brutePrefixPairs(spark: org.apache.spark.sql.SparkSession,
      dir: String, only: Option[Set[String]])
      : (Map[(Int, String, String), Set[Int]], Map[(Int, String, String), Set[Int]]) = {
    val T = IndexSettings.T
    val dict = spark.read.parquet(s"$dir/${T.PrefixDict}").collect()
      .map(_.getAs[String]("prefix")).filter(_.length <= 2).toSet
      .filter(p => only.forall(_(p)))
    val w8 = scala.collection.mutable.Map.empty[(Int, String, String), Set[Int]]
    val w9 = scala.collection.mutable.Map.empty[(Int, String, String), Set[Int]]
    spark.read.parquet(s"$dir/${T.WordPairProximityDocids}").collect().foreach { r =>
      val prox = r.getAs[Int]("prox")
      val w1 = r.getAs[String]("w1"); val w2 = r.getAs[String]("w2")
      val ids = graft.core.Bitmaps.cboDeserialize(r.getAs[Array[Byte]]("docids")).toArray.toSet
      if (prox <= 7) {
        (1 to math.min(2, w2.length)).map(w2.take).filter(dict).foreach { p =>
          w8((prox, w1, p)) = w8.getOrElse((prox, w1, p), Set.empty[Int]) ++ ids }
        (1 to math.min(2, w1.length)).map(w1.take).filter(dict).foreach { p =>
          w9((prox, p, w2)) = w9.getOrElse((prox, p, w2), Set.empty[Int]) ++ ids }
      }
    }
    (w8.toMap, w9.toMap)
  }

  /** (prox, left, right) → docids of a prefix-pair frame. */
  private def decoded(df: org.apache.spark.sql.DataFrame): Map[(Int, String, String), Set[Int]] =
    df.collect().map { r =>
      ((r.getInt(0), r.getString(1), r.getString(2)),
        graft.core.Bitmaps.cboDeserialize(r.getAs[Array[Byte]](3)).toArray.toSet)
    }.toMap

  private lazy val ppDir = {
    val spark = graft.TestSpark.spark
    val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
    val dir = graft.TestSpark.tempDir("graft-ppboth")
    new IndexBuilder(spark, settings)
      .build(graft.webgen.WebPages.generate(spark, 300), dir, resume = false)
    (dir, new IndexBuilder(spark, settings))
  }

  test("single-pass prefix-pair build ≡ brute force over the pair table") {
    val spark = graft.TestSpark.spark
    val (dir, builder) = ppDir
    val (w8, w9) = brutePrefixPairs(spark, dir, only = None)
    w8 should not be empty
    w9 should not be empty
    val (bothW, bothP) = builder.buildPrefixPairTablesBoth(dir)
    withClue("word_prefix_pair (#8): ") { decoded(bothW) shouldBe w8 }
    withClue("prefix_word_pair (#9): ") { decoded(bothP) shouldBe w9 }
    // and the committed tables (written through the shared __ppBoth stage)
    val T = IndexSettings.T
    withClue("committed #8: ") {
      decoded(spark.read.parquet(s"$dir/${T.WordPrefixPairProximityDocids}")
        .select("prox", "w1", "prefix", "docids")) shouldBe w8
    }
    withClue("committed #9: ") {
      decoded(spark.read.parquet(s"$dir/${T.PrefixWordPairProximityDocids}")
        .select("prox", "prefix", "w2", "docids")) shouldBe w9
    }
    builder.releaseTransients()
  }

  test("single-pass prefix-pair build restricted by `only` ≡ brute force") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val (dir, builder) = ppDir
    // up to two dictionary prefixes of each length, and one outside it
    val dict = spark.read.parquet(s"$dir/${IndexSettings.T.PrefixDict}")
      .select($"prefix").as[String].collect().toSeq.sorted
    val only = (dict.filter(_.length == 1).take(2) ++ dict.filter(_.length == 2).take(2) :+
      "zz").toSet
    (1 to 2).foreach(n => only.count(_.length == n) should be > 0)
    val (w8, w9) = brutePrefixPairs(spark, dir, Some(only))
    w8 should not be empty
    val (bothW, bothP) =
      builder.buildPrefixPairTablesBoth(dir, Some(only.toSeq.toDF("prefix")))
    withClue("word_prefix_pair (#8): ") { decoded(bothW) shouldBe w8 }
    withClue("prefix_word_pair (#9): ") { decoded(bothP) shouldBe w9 }
    builder.releaseTransients()
  }
}
