package graft.index

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.search.{GraftIndex, Search, SearchRequest}
import graft.webgen.WebPages

/** The on-disk format stamp ([[IndexFormat]]): a directory that holds
  * tables without the current stamp is refused by the serving handle and
  * by every update, and a build over it rewrites every table; an
  * `addDocuments` onto a directory with no index builds the batch. */
class FormatStampSpec extends AnyFunSuite with Matchers {
  import UpdatesSpec.{assertSameTables, digests}

  private lazy val spark = TestSpark.spark
  private val settings = IndexSettings(searchableFields = Seq("text"), primaryKey = "url")
  private lazy val docs = WebPages.generate(spark, 160).cache()

  /** One stamped index, built once; each case works on a copy. */
  private lazy val built: String = {
    val d = TestSpark.tempDir("graft-fmt-src")
    new IndexBuilder(spark, settings).build(docs, d, resume = false)
    IndexFormat.isCurrent(d) shouldBe true
    d
  }

  private def copyOfBuilt(): String = {
    val dst = TestSpark.tempDir("graft-fmt")
    val src = Paths.get(built)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = Paths.get(dst).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    dst
  }

  private def stamp(dir: String) = Paths.get(dir, IndexFormat.StampFile)

  /** A copy of the built index with no stamp, and one with an older one. */
  private def staleCopies(): Seq[(String, String)] = {
    val unstamped = copyOfBuilt()
    Files.delete(stamp(unstamped))
    val older = copyOfBuilt()
    Files.write(stamp(older), (IndexFormat.Version - 1).toString.getBytes("UTF-8"))
    Seq("no stamp" -> unstamped, "an older stamp" -> older)
  }

  /** The part files of each build table of `dir`. */
  private def partFiles(dir: String): Map[String, Set[String]] =
    IndexSettings.T.buildStages.map { t =>
      t -> new java.io.File(dir, t).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    }.toMap

  test("an index with no stamp or an older one is refused by GraftIndex and open") {
    GraftIndex(spark, built, settings) // the stamped original opens
    staleCopies().foreach { case (what, d) =>
      withClue(s"$what: ") {
        val e = intercept[IllegalStateException](GraftIndex(spark, d, settings))
        e.getMessage should include("rebuild")
        intercept[IllegalStateException](GraftIndex.open(spark, d))
      }
    }
  }

  test("updates onto an index with no stamp or an older one throw and change no file") {
    val updates = new Updates(spark, settings)
    val batch = WebPages.generate(spark, 20)
    staleCopies().foreach { case (what, d) =>
      withClue(s"$what: ") {
        val before = digests(d)
        intercept[IllegalStateException](updates.addDocuments(d, batch))
        intercept[IllegalStateException](updates.softDelete(d, Seq(1, 2)))
        intercept[IllegalStateException](updates.hardDelete(d))
        intercept[IllegalStateException](updates.compact(d, maxFiles = 0))
        digests(d) shouldBe before
      }
    }
  }

  test("build(resume = true) over an unstamped index rewrites every table") {
    val d = copyOfBuilt()
    Files.delete(stamp(d))
    val listed = Manifest.load(d)
    IndexSettings.T.buildStages.foreach(t => listed.isDone(t, d) shouldBe true)
    val before = partFiles(d)

    new IndexBuilder(spark, settings).build(docs, d, resume = true)
    IndexFormat.isCurrent(d) shouldBe true
    val after = partFiles(d)
    IndexSettings.T.buildStages.foreach { t =>
      withClue(s"table $t kept a file of the unstamped build: ") {
        (after(t) intersect before(t)) shouldBe empty
      }
    }
    assertSameTables(settings, d, built)

    // now stamped: a resume trusts the manifest and rewrites nothing
    new IndexBuilder(spark, settings).build(docs, d, resume = true)
    partFiles(d) shouldBe after
  }

  test("addDocuments onto an empty directory equals a build of the batch") {
    val d = TestSpark.tempDir("graft-fmt-empty")
    new Updates(spark, settings).addDocuments(d, docs)
    IndexFormat.isCurrent(d) shouldBe true
    assertSameTables(settings, d, built)
    new Search(GraftIndex(spark, d, settings))
      .execute(SearchRequest(query = Some("w2 "), limit = 5)).candidates should be > 0L
  }
}
