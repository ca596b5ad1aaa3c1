package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.{IndexBuilder, IndexSettings}

/** Randomized parity net over a GENERATED mixed-script corpus — the CJK
  * twin of RandomQueryParitySpec. The hand-built CjkSearchSpec goldens pin
  * the tokenizer contract (Han unigrams, kana/hangul whole segments,
  * script-boundary splits — `core/Tokenizer.segmentRun`); THIS spec hammers
  * the serving machinery over those token shapes: unigram And trees (a
  * 3-ideograph query is And(3) of single-char words), bound prox cells,
  * strata refinement, prefix expansion over kana terms, and the UTF-8
  * byte-ordered direct-read bands (supplementary-plane Han mixes with BMP
  * words ≥ U+E000 in exactly the order that inverted the span-band bug,
  * NOTES_ROUND5 #38). Local drain ≡ distributed path on ids + counts.
  *
  * Deeper sweeps: SPARK_GRAFT_CJK_PARITY_CASES / _DOCS / _SEED.
  */
class CjkRandomParitySpec extends AnyFunSuite with Matchers {

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.Row

  private lazy val spark = TestSpark.spark
  private lazy val stg =
    IndexSettings(searchableFields = Seq("text"), primaryKey = "docid")

  private val nDocs =
    sys.env.get("SPARK_GRAFT_CJK_PARITY_DOCS").map(_.toInt).getOrElse(800)
  private val nCases =
    sys.env.get("SPARK_GRAFT_CJK_PARITY_CASES").map(_.toInt).getOrElse(60)
  private val rng = new scala.util.Random(
    sys.env.get("SPARK_GRAFT_CJK_PARITY_SEED").map(_.toLong)
      .getOrElse(20260820L))

  // ~100 BMP Han ideographs, zipf-ish draw (head chars act like stop words
  // at unigram granularity — exactly the fat-posting shape the cells exist
  // for). A few supplementary-plane ideographs (U+20000 block, surrogate
  // pairs) keep the UTF-16/UTF-8 order divergence in every sweep.
  private val hanBmp: Array[Char] =
    ("的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年得就那要下" +
     "以生会自着去之过家学对可她里后小么心多天而能好都然没日于起还发成事只作" +
     "当想看文无开手十用主行方又如前所本见经头").toCharArray
  private val hanSupp: Array[String] =
    Array("𠀀", "𠀋", "𠔥") // 𠀀 𠀋 𠔥-ish
  private val kana = Array("データベース", "エンジン", "システム",
    "インデックス", "クエリ", "ランキング")
  private val hira = Array("これは", "について", "けんさく", "ですます")
  private val hangul = Array("검색", "엔진", "데이터", "시스템", "한국어")

  private def hanChar(): String = {
    if (rng.nextDouble() < 0.05) hanSupp(rng.nextInt(hanSupp.length))
    else {
      val i = (math.pow(rng.nextDouble(), 2.2) * hanBmp.length).toInt
      hanBmp(math.min(hanBmp.length - 1, i)).toString
    }
  }
  private def hanRun(maxLen: Int): String =
    Seq.fill(1 + rng.nextInt(maxLen))(hanChar()).mkString

  private def segment(): String = rng.nextInt(8) match {
    case 0 | 1 | 2 => hanRun(4)
    case 3         => kana(rng.nextInt(kana.length))
    case 4         => hira(rng.nextInt(hira.length))
    case 5         => hangul(rng.nextInt(hangul.length))
    case _         => s"w${rng.nextInt(60)}" // Latin mixes into every doc
  }

  private def docText(): String = {
    val segs = Seq.fill(3 + rng.nextInt(8))(segment())
    // 30% of joints drop the space: script-class boundaries must split the
    // run identically at index and query time (kana↔han↔latin junctions)
    segs.tail.foldLeft(new StringBuilder(segs.head)) { (sb, s) =>
      sb.append(if (rng.nextDouble() < 0.3) "" else " ").append(s)
    }.toString
  }

  private lazy val index: GraftIndex = {
    val dir = graft.TestSpark.tempDir("graft-cjk-randparity")
    val rows = (0 until nDocs).map(i => Row(i, docText()))
    val docs = spark.createDataFrame(rows.asJava,
      StructType(Seq(StructField("docid", IntegerType),
        StructField("text", StringType))))
    new IndexBuilder(spark, stg).build(docs, dir, resume = false)
    GraftIndex(spark, dir, stg)
  }
  private lazy val local = new Search(index)
  private lazy val dist = new Search(index, maxLocalPostings = 0)

  private def randomQuery(): String = {
    val base = rng.nextInt(10) match {
      case 0 | 1 | 2 | 3 => hanRun(3)                       // pure ideographs
      case 4             => s"${hanRun(2)} ${hanRun(2)}"    // two han groups
      case 5             => kana(rng.nextInt(kana.length))
      case 6             => // kana/hangul PREFIX (truncated term)
        val w = if (rng.nextBoolean()) kana(rng.nextInt(kana.length))
                else hangul(rng.nextInt(hangul.length))
        w.substring(0, 1 + rng.nextInt(w.length - 1))
      case 7             => s"${hanRun(2)} w${rng.nextInt(60)}" // mixed han+latin
      case 8             => s""""${hanChar()} ${hanChar()}"""" // quoted unigram phrase
      case _             => s"${hangul(rng.nextInt(hangul.length))} ${hanRun(2)}"
    }
    if (rng.nextDouble() < 0.5) base + " " else base
  }

  test(s"$nCases random CJK/mixed queries: local path ≡ distributed path") {
    (1 to nCases).foreach { i =>
      val q = randomQuery()
      val offset = if (rng.nextDouble() < 0.3) rng.nextInt(15) else 0
      val req = SearchRequest(query = Some(q), offset = offset, limit = 20,
        authorizeTypos = rng.nextBoolean())
      val a = local.execute(req)
      val b = dist.execute(req)
      withClue(s"#$i query=[$q] typos=${req.authorizeTypos} offset=$offset: ") {
        a.documentsIds shouldBe b.documentsIds
        a.candidates shouldBe b.candidates
        ForcedRoutes.check(local, req, b)
      }
    }
  }

  // unigram And(3) trees through the bound-cell + strata machinery: Han
  // head chars are fat unigram postings, so forced gates reproduce at 800
  // docs what a web corpus does at 100M (cell subdivision, verification
  // drain, repeated-word saturation when the same ideograph appears twice)
  test("random 3-ideograph queries with cells forced: local ≡ distributed") {
    val prevB = RankCells.BoundCellMinBucket
    val prevR = RankCells.RefineMinDocs
    RankCells.BoundCellMinBucket = 1L
    RankCells.RefineMinDocs = 64L
    try {
      val pinned = Seq(
        s"${hanBmp(0)}${hanBmp(0)}${hanBmp(1)} ", // repeated ideograph
        s"${hanSupp(0)}${hanBmp(0)} ")            // supplementary + BMP
      (pinned ++ Seq.fill(math.max(15, nCases / 3))(hanRun(3) + " "))
        .zipWithIndex.foreach { case (q, i) =>
          val offset = if (rng.nextDouble() < 0.4) rng.nextInt(40) else 0
          val req = SearchRequest(query = Some(q), offset = offset,
            limit = 20, authorizeTypos = false)
          val a = local.execute(req)
          val b = dist.execute(req)
          withClue(s"#$i query=[$q] offset=$offset: ") {
            a.documentsIds shouldBe b.documentsIds
            a.candidates shouldBe b.candidates
            ForcedRoutes.check(local, req, b)
          }
        }
    } finally {
      RankCells.BoundCellMinBucket = prevB
      RankCells.RefineMinDocs = prevR
    }
  }
}
