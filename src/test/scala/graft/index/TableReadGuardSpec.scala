package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source walk shared by the guard specs: the `.scala` files of some
  * `src/main/scala/graft/<pkg>` directories, and the places a pattern
  * matches in them. */
object SourceGuard extends Matchers {

  def sources(pkgs: String*): Seq[java.io.File] = {
    val files = pkgs.flatMap { pkg =>
      val d = new java.io.File(s"src/main/scala/graft/$pkg")
      withClue(s"${d.getAbsolutePath} must exist: ") { d.isDirectory shouldBe true }
      d.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    }
    files.size should be > 10
    files
  }

  /** `file:line: text` of every match of `pattern` (which may span lines)
    * in `files`, except in the files named in `allowed`. */
  def offenders(files: Seq[java.io.File], pattern: scala.util.matching.Regex,
      allowed: Set[String]): Seq[String] =
    for {
      f <- files if !allowed(f.getName)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- pattern.findAllMatchIn(text).toSeq
    } yield {
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"${f.getName}:$line: ${m.matched.linesIterator.next().trim}"
    }
}

/** Index tables are read through `TableIO.read`: a raw `.read.parquet(`
  * in the index or search code would start a schema-inference Spark job
  * per read, and its plan would not match a cached read of the same table. */
class TableReadGuardSpec extends AnyFunSuite with Matchers {

  test("graft/index and graft/search read parquet only through TableIO") {
    SourceGuard.offenders(SourceGuard.sources("index", "search"),
      """\.read\s*\.parquet\(""".r, Set("TableIO.scala")) shouldBe empty
  }
}

/** Every serving cache uses `graft.search.Lru`: another access-ordered
  * `java.util.LinkedHashMap` or `removeEldestEntry` in the search code is a
  * second hand-rolled LRU, with its own locking, counting and eviction. */
class LruGuardSpec extends AnyFunSuite with Matchers {

  /** `removeEldestEntry`, or `LinkedHashMap[…](capacity, loadFactor, true)`
    * over line breaks */
  private val accessOrdered =
    """(?s)removeEldestEntry|LinkedHashMap\s*(\[[^{};=]*?\])?\s*\(\s*[^(),]+,\s*[^(),]+,\s*true\s*\)""".r

  test("graft/search holds an LRU map only in Lru.scala") {
    val found = SourceGuard.offenders(SourceGuard.sources("search"), accessOrdered,
      allowed = Set.empty)
    found.filterNot(_.startsWith("Lru.scala:")) shouldBe empty
    withClue("the pattern no longer finds Lru's own map: ")(found should have size 1)
  }

  test("the LRU pattern finds the shapes it guards against") {
    Seq(
      "new java.util.LinkedHashMap[String, AnyRef](256, 0.75f, true)",
      "new java.util.LinkedHashMap[AnyRef, IndexedSeq[(Long, Int)]](\n    16, 0.75f, true) {",
      "override def removeEldestEntry(e: E): Boolean = size() > 64"
    ).foreach(src => accessOrdered.findFirstIn(src) should not be empty)
    Seq(
      "scala.collection.mutable.LinkedHashMap.empty[String, Int]",
      "new java.util.LinkedHashMap[String, Int](16, 0.75f, false)"
    ).foreach(src => accessOrdered.findFirstIn(src) shouldBe empty)
  }
}

/** Index tables are written through `TableIO.writeParquet`, the one place
  * that sets their codec, row-group cap and page markers. A raw
  * `.write … .parquet(` in the index or search code writes Spark's default
  * snappy, and an overwrite in place deletes the table before the new rows
  * are written. */
class TableWriteGuardSpec extends AnyFunSuite with Matchers {

  /** `.write` then any chain of calls (arguments nested one level deep),
    * then `.parquet(`, over line breaks */
  private val rawWrite =
    """\.write(\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""".r

  test("graft/index and graft/search write parquet only in TableIO") {
    val files = SourceGuard.sources("index", "search")
    SourceGuard.offenders(files, rawWrite, Set("TableIO.scala")) shouldBe empty
    withClue("the pattern no longer finds TableIO's own write: ")(
      SourceGuard.offenders(files.filter(_.getName == "TableIO.scala"), rawWrite,
        Set.empty) should have size 1)
  }

  test("the write pattern finds the shapes it guards against") {
    Seq(
      // the tombstone writes this guard replaced
      """Seq(bytes).toDF("docids").coalesce(1)
        |      .write.mode("overwrite").parquet(deletedPath(dir))""".stripMargin,
      """Seq(Bitmaps.cboSerialize(new RoaringBitmap())).toDF("docids").coalesce(1)
        |      .write.mode("overwrite").parquet(deletedPath(dir))""".stripMargin,
      "df.write\n  .option(\"parquet.block.size\", (4 << 20).toString)\n  .parquet(p)",
      "df.write.parquet(p)"
    ).foreach(src => rawWrite.findFirstIn(src) should not be empty)
    Seq(
      "java.nio.file.Files.write(path, bytes)\n  spark.read.parquet(p)",
      "TableIO.writeParquet(df, p)",
      "spark.read.parquet(p)"
    ).foreach(src => rawWrite.findFirstIn(src) shouldBe empty)
  }
}

/** The on-disk format is known in one place, its stamp: a `"_graft_…"`
  * file-name literal in the index or search code other than the manifest
  * and the stamp is a second format marker that a reader would branch
  * on. */
class FormatGuardSpec extends AnyFunSuite with Matchers {

  /** a string literal naming a `_graft_` file other than the manifest and
    * the stamp */
  private val marker =
    """"[^"\n]*_graft_(?!(?:manifest\.jsonl|format)")[^"\n]*"""".r

  test("graft/index and graft/search name no _graft_ file but the manifest and the stamp") {
    val files = SourceGuard.sources("index", "search")
    SourceGuard.offenders(files, marker, allowed = Set.empty) shouldBe empty
    withClue("the stamp is named in IndexFormat: ")(
      SourceGuard.offenders(files.filter(_.getName == "IndexFormat.scala"),
        """"_graft_format"""".r, Set.empty) should have size 1)
  }

  test("the format pattern finds the removed markers") {
    Seq(
      """val DwpPageMarker = "_graft_dwp_paged"""",
      """val PairPageMarker = "_graft_pair_paged"""",
      """val PrefixPairsProx7Marker = "_graft_prefix_pairs_prox7"""",
      """new java.io.File(s"$dir/_graft_prefix_pairs_prox7").exists()"""
    ).foreach(src => marker.findFirstIn(src) should not be empty)
    Seq(
      """val StampFile = "_graft_format"""",
      """Paths.get(s"$dir/_graft_manifest.jsonl")""",
      """new java.io.File(s"$dir/_graft_manifest.jsonl")""",
      "// `_graft_manifest.json` → a re-run resumes"
    ).foreach(src => marker.findFirstIn(src) shouldBe empty)
  }
}
