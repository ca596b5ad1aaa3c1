package graft.search

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.core.Facets.normalizeFacet
import graft.index.{IndexBuilder, IndexSettings}
import FilterParser.{FCond, FIn}

/** The index and the filter normalize a facet string the same way: a value
  * with a tab or other control character around it, or in upper case,
  * matches its trimmed lower-case form through `=` and `IN`. */
class FacetNormalizeSpec extends AnyFunSuite with Matchers {

  test("a facet value with a trailing tab matches through = and IN") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val docs = Seq(
      (0, "u0", "alpha", "EN\t"),
      (1, "u1", "beta", "en"),
      (2, "u2", "gamma", " Fr "),
      (3, "u3", "delta", "\u000bde\n")).toDF("docid", "url", "text", "lang")
    val dir = TestSpark.tempDir("graft-facet-norm")
    new IndexBuilder(spark, settings).build(docs, dir, resume = false)
    val index = graft.search.GraftIndex(spark, dir, settings)
    def ids(ast: FilterParser.Ast): Set[Int] =
      FilterEvaluator.evaluate(index, ast).toArray.toSet
    ids(FCond("lang", "=", "en")) shouldBe Set(0, 1)
    ids(FCond("lang", "=", "EN\t")) shouldBe Set(0, 1)
    ids(FIn("lang", Seq("en"))) shouldBe Set(0, 1)
    ids(FIn("lang", Seq("fr", "de"))) shouldBe Set(2, 3)
    ids(FCond("lang", "!=", "en")) shouldBe Set(2, 3)
  }

  test("normalizeFacet lower-cases under the root locale, not the default") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
      "I".toLowerCase shouldBe "ı" // the default locale's dotless i
      normalizeFacet("I") shouldBe "i"
      normalizeFacet("\t TITLE\u0000") shouldBe "title"
    } finally java.util.Locale.setDefault(saved)
  }
}
