package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

/** Page-marker content semantics (the serving volume gate prices direct
  * decodes off these): markers record the page-row cap their dir's files
  * were WRITTEN under; legacy empty markers mean the then-only 1024; a
  * pre-marker (coarse-paged) dir must never GAIN a marker while its
  * coarse files carry over; mixed-cap dirs keep the MAX so the gate
  * never under-prices. */
class PageMarkerSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  import java.nio.file.{Files, Paths}

  private def dwpPath(root: String) =
    s"$root/${IndexSettings.T.DocWordPositions}"

  private def writeDwp(root: String, words: Seq[String]): String = {
    import spark.implicits._
    val p = dwpPath(root)
    val df = words.zipWithIndex
      .map { case (w, i) => (w, i, Array(i)) }
      .toDF("word", "docid", "positions")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("word"))
      .sortWithinPartitions("word", "docid")
    TableIO.writeParquet(df, p)
    p
  }

  test("readPageMarker: absent → None, legacy empty → 1024, content wins") {
    val root = TestSpark.tempDir("marker-read")
    val p = writeDwp(root, Seq("a", "b", "y", "z"))
    TableIO.readPageMarker(p, TableIO.DwpPageMarker) shouldBe
      Some(TableIO.DwpPageRows.toLong)
    Files.write(Paths.get(p, TableIO.DwpPageMarker), Array.empty[Byte])
    TableIO.readPageMarker(p, TableIO.DwpPageMarker) shouldBe
      Some(TableIO.LegacyPageRows)
    Files.write(Paths.get(p, TableIO.DwpPageMarker), "4096".getBytes("UTF-8"))
    TableIO.readPageMarker(p, TableIO.DwpPageMarker) shouldBe Some(4096L)
    TableIO.readPageMarker(p, "no_such_marker") shouldBe None
  }

  test("appendFiles keeps the max page cap, incl. over a legacy empty marker") {
    val rootOld = TestSpark.tempDir("marker-app-old")
    val rootNew = TestSpark.tempDir("marker-app-new")
    val po = writeDwp(rootOld, Seq("a", "b"))
    val pn = writeDwp(rootNew, Seq("c", "d"))
    Files.write(Paths.get(pn, TableIO.DwpPageMarker), "8192".getBytes("UTF-8"))
    // legacy EMPTY live marker must still lose to the delta's 8192
    Files.write(Paths.get(po, TableIO.DwpPageMarker), Array.empty[Byte])
    TableIO.appendFiles(spark, po, pn) shouldBe true
    TableIO.readPageMarker(po, TableIO.DwpPageMarker) shouldBe Some(8192L)
    // and a SMALLER delta cap must not lower the live marker
    val rootNew2 = TestSpark.tempDir("marker-app-new2")
    val pn2 = writeDwp(rootNew2, Seq("e", "f"))
    Files.write(Paths.get(pn2, TableIO.DwpPageMarker), "512".getBytes("UTF-8"))
    TableIO.appendFiles(spark, po, pn2) shouldBe true
    TableIO.readPageMarker(po, TableIO.DwpPageMarker) shouldBe Some(8192L)
  }

  test("mergeTouchedFiles: a pre-marker dir with carried-over files stays unmarked") {
    import spark.implicits._
    val root = TestSpark.tempDir("marker-merge")
    // two files with disjoint word ranges; delta touches only the a-range,
    // so the z-range file carries over byte-for-byte
    val p = writeDwp(root, Seq("aa", "ab", "za", "zb"))
    Files.delete(Paths.get(p, TableIO.DwpPageMarker)) // simulate pre-marker build
    val delta = Seq(("ac", 9, Array(9))).toDF("word", "docid", "positions")
    TableIO.mergeTouchedFiles(spark, p, delta, "word", Seq("ac"))(_ unionByName _)
    TableIO.readPageMarker(p, TableIO.DwpPageMarker) shouldBe None
    spark.read.parquet(p).count() shouldBe 5
  }

  test("mergeTouchedFiles: carried-over larger-cap files keep the max marker") {
    import spark.implicits._
    val root = TestSpark.tempDir("marker-merge2")
    val p = writeDwp(root, Seq("aa", "ab", "za", "zb"))
    Files.write(Paths.get(p, TableIO.DwpPageMarker), "16384".getBytes("UTF-8"))
    val delta = Seq(("ac", 9, Array(9))).toDF("word", "docid", "positions")
    TableIO.mergeTouchedFiles(spark, p, delta, "word", Seq("ac"))(_ unionByName _)
    TableIO.readPageMarker(p, TableIO.DwpPageMarker) shouldBe Some(16384L)
  }
}
