package graft.search

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.{IndexBuilder, IndexSettings}

/** The milli rank-identity corpus + executable oracle — Scala port of
  * `/root/reference/milli/tests/search/mod.rs:23-292` over the verbatim
  * `test_set.ndjson` (17 docs, external ids "A".."Q").
  */
object Fixture {

  val TestQuery = "hello world america"

  final case class TestDoc(
      docid: Int,
      id: String,
      wordRank: Int,
      typoRank: Int,
      proximityRank: Int,
      attributeRank: Int,
      exactRank: Int,
      ascDescRank: Int,
      sortByRank: Int,
      geoRank: Int,
      title: String,
      description: String,
      tag: String,
      geo: Option[(Double, Double)],
      opt1: Option[JsonNode],
      tagIn: Option[JsonNode])

  lazy val docs: Vector[TestDoc] = {
    val mapper = new ObjectMapper()
    val in = getClass.getResourceAsStream("/test_set.ndjson")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    lines.zipWithIndex.map { case (line, i) =>
      val n = mapper.readTree(line)
      TestDoc(
        docid = i,
        id = n.get("id").asText(),
        wordRank = n.get("word_rank").asInt(),
        typoRank = n.get("typo_rank").asInt(),
        proximityRank = n.get("proximity_rank").asInt(),
        attributeRank = n.get("attribute_rank").asInt(),
        exactRank = n.get("exact_rank").asInt(),
        ascDescRank = n.get("asc_desc_rank").asInt(),
        sortByRank = n.get("sort_by_rank").asInt(),
        geoRank = n.get("geo_rank").asInt(),
        title = n.get("title").asText(),
        description = n.get("description").asText(),
        tag = n.get("tag").asText(),
        geo = Option(n.get("_geo")).map(g =>
          (g.get("lat").asDouble(), g.get("lng").asDouble())),
        opt1 = Option(n.get("opt1")),
        tagIn = Option(n.get("tag_in")))
    }
  }

  /** settings of `setup_search_index_with_criteria` (mod.rs:30-88) */
  def settings(criteria: Seq[String]): IndexSettings = IndexSettings(
    searchableFields = Seq("title", "description"),
    filterableFields = Set("tag", "asc_desc_rank", "_geo", "opt1", "opt1.opt2", "tag_in"),
    sortableFields = Set("tag", "asc_desc_rank"),
    synonyms = Map(
      "hello" -> Seq("good morning"),
      "world" -> Seq("earth"),
      "america" -> Seq("the united states")),
    criteria = criteria,
    primaryKey = "id")

  def containsKeyRec(v: JsonNode, key: String): Boolean = {
    if (v == null) false
    else if (v.isArray) v.elements().asScala.exists(containsKeyRec(_, key))
    else if (v.isObject)
      v.fields().asScala.exists(e => e.getKey == key || containsKeyRec(e.getValue, key))
    else false
  }

  /** Build the index once into a temp dir; facet rows constructed with full
    * JSON awareness (the "opt1": null — key present — EXISTS edge case that
    * a flat DataFrame cannot represent). Variants (stop words) are cached
    * separately. */
  def buildIndex(
      spark: SparkSession,
      stopWords: Set[String] = Set.empty,
      exactAttributes: Set[String] = Set.empty): GraftIndex =
    synchronized {
      cache.getOrElseUpdate((stopWords, exactAttributes),
        buildIndexUncached(spark, stopWords, exactAttributes))
    }
  private val cache =
    scala.collection.mutable.HashMap.empty[(Set[String], Set[String]), GraftIndex]

  private def buildIndexUncached(
      spark: SparkSession,
      stopWords: Set[String],
      exactAttributes: Set[String]): GraftIndex = {
    locally {
      val dir = graft.TestSpark.tempDir("graft-fixture")
      val st = settings(Seq("words", "typo", "proximity", "attribute", "sort", "exactness"))
        .copy(stopWords = stopWords, exactAttributes = exactAttributes)
      val docsDf = {
        val rows = docs.map(d => Row(d.docid, d.id, d.title, d.description))
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("docid", IntegerType, nullable = false),
          StructField("id", StringType, nullable = false),
          StructField("title", StringType, nullable = false),
          StructField("description", StringType, nullable = false))))
      }
      def facetValues(d: TestDoc): Seq[(String, JsonNode)] = {
        val mapper = new ObjectMapper()
        Seq(
          Some("tag" -> mapper.readTree("\"" + d.tag + "\"")),
          Some("asc_desc_rank" -> mapper.readTree(d.ascDescRank.toString)),
          d.tagIn.map("tag_in" -> _),
          d.opt1.map("opt1" -> _)).flatten
      }
      // flatten a facet value like the reference: arrays recurse, objects
      // become dotted fields (flatten-serde-json/src/lib.rs:5-69)
      def flat(field: String, v: JsonNode): Seq[(String, JsonNode)] =
        if (v == null) Nil
        else if (v.isArray) v.elements().asScala.toSeq.flatMap(flat(field, _)) :+ (field -> v)
        else if (v.isObject)
          v.fields().asScala.toSeq.flatMap(e => flat(s"$field.${e.getKey}", e.getValue)) :+ (field -> v)
        else Seq(field -> v)

      val numRows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val strRows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val exRows = scala.collection.mutable.ArrayBuffer.empty[Row]
      docs.foreach { d =>
        val exFields = scala.collection.mutable.LinkedHashSet.empty[String]
        facetValues(d).foreach { case (field, v) =>
          exFields += field
          flat(field, v).foreach { case (f, leaf) =>
            if (f != field) exFields += f
            if (leaf.isNumber) {
              numRows += Row(f, d.docid, leaf.asDouble())
              strRows += Row(f, d.docid, graft.core.Facets.normalizeFacet(leaf.asText()), leaf.asText())
            } else if (leaf.isTextual) {
              val s = leaf.asText()
              s.toDoubleOption.foreach(x => numRows += Row(f, d.docid, x))
              strRows += Row(f, d.docid, graft.core.Facets.normalizeFacet(s), s)
            } else if (leaf.isBoolean) {
              strRows += Row(f, d.docid, leaf.asText(), leaf.asText())
            }
          }
        }
        d.geo.foreach { case (lat, lng) =>
          exFields += "_geo"
          numRows += Row("_geo.lat", d.docid, lat)
          numRows += Row("_geo.lng", d.docid, lng)
        }
        // opt1.opt2 existence probes recursively (mod.rs contains_key_rec)
        if (d.opt1.exists(containsKeyRec(_, "opt2"))) exFields += "opt1.opt2"
        exFields.foreach(f => exRows += Row(f, d.docid))
      }
      val fNum = spark.createDataFrame(numRows.asJava, StructType(Seq(
        StructField("field", StringType), StructField("docid", IntegerType),
        StructField("value", DoubleType))))
      val fStr = spark.createDataFrame(strRows.asJava, StructType(Seq(
        StructField("field", StringType), StructField("docid", IntegerType),
        StructField("norm", StringType), StructField("orig", StringType))))
      val fEx = spark.createDataFrame(exRows.asJava, StructType(Seq(
        StructField("field", StringType), StructField("docid", IntegerType))))

      new IndexBuilder(spark, st).build(docsDf, dir, resume = false,
        facetOverride = Some((fNum, fStr, fEx)))
      GraftIndex(spark, dir, st)
    }
  }

  // ------------------------------------------------------ filter oracle

  /** Port of `execute_filter` (mod.rs:170-243): per-filter expected ids. */
  def executeFilter(filter: String, d: TestDoc): Option[String] = {
    def some = Some(d.id)
    if (filter.contains("!=")) {
      val Array(field, v) = filter.split("!=", 2)
      if (field == "tag" && d.tag != v) some
      else if (field == "asc_desc_rank" && v.toIntOption.exists(_ != d.ascDescRank)) some
      else if (field == "asc_desc_rank" && v.toIntOption.isEmpty) some
      else None
    } else if (filter.contains("=") && !filter.startsWith("_geo") && !filter.startsWith("NOT")) {
      val Array(field, v) = filter.split("=", 2)
      if (field == "tag" && d.tag == v) some
      else if (field == "asc_desc_rank" && v.toIntOption.contains(d.ascDescRank)) some
      else None
    } else if (filter.startsWith("asc_desc_rank<")) {
      if (d.ascDescRank < filter.stripPrefix("asc_desc_rank<").toInt) some else None
    } else if (filter.startsWith("asc_desc_rank>")) {
      if (d.ascDescRank > filter.stripPrefix("asc_desc_rank>").toInt) some else None
    } else if (filter.startsWith("NOT _geoRadius")) {
      if (d.geoRank > 1000000) some else None
    } else if (filter.startsWith("_geoRadius")) {
      if (d.geoRank < 100000) some else None
    } else if (filter == "opt1 EXISTS" || filter == "NOT opt1 NOT EXISTS") {
      if (d.opt1.isDefined) some else None
    } else if (filter == "NOT opt1 EXISTS" || filter == "opt1 NOT EXISTS") {
      if (d.opt1.isEmpty) some else None
    } else if (filter == "opt1.opt2 EXISTS") {
      if (d.opt1.exists(containsKeyRec(_, "opt2"))) some else None
    } else if (filter == "tag_in IN[1, 2, 3, four, five]" ||
        filter == "NOT tag_in NOT IN[1, 2, 3, four, five]") {
      if (Set("A", "B", "C", "D", "E").contains(d.id)) some else None
    } else if (filter == "tag_in NOT IN[1, 2, 3, four, five]") {
      if (!Set("A", "B", "C", "D", "E").contains(d.id)) some else None
    } else None
  }

  /** Port of `expected_filtered_ids` (mod.rs:245-272): AND of groups,
    * OR within a group. */
  def expectedFilteredIds(groups: Seq[Seq[String]]): Set[String] = {
    var ids: Set[String] = docs.map(_.id).toSet
    groups.foreach { group =>
      val union = group.flatMap(f => docs.flatMap(d => executeFilter(f, d))).toSet
      ids = ids.intersect(union)
    }
    ids
  }

  // ------------------------------------------------------------- oracle

  /** Port of `expected_order` (mod.rs:97-168): stable multi-key group sort
    * by per-criterion rank, then matching-strategy/typo filtering. */
  def expectedOrder(
      criteria: Seq[Criterion],
      authorizeTypo: Boolean,
      optionalWordsLast: Boolean,
      sortBy: Seq[SortSpec]): Vector[TestDoc] = {
    var groups: Vector[Vector[TestDoc]] = Vector(docs)
    criteria.foreach { criterion =>
      val keyOf: Option[TestDoc => Int] = criterion match {
        case Criterion.Attribute => Some(_.attributeRank)
        case Criterion.Exactness => Some(_.exactRank)
        case Criterion.Proximity => Some(_.proximityRank)
        case Criterion.Sort if sortBy == Seq(SortSpec("tag", true)) =>
          Some(_.sortByRank)
        case Criterion.Sort if sortBy == Seq(SortSpec("tag", false)) =>
          Some(d => -d.sortByRank)
        case Criterion.Typo  => Some(_.typoRank)
        case Criterion.Words => Some(_.wordRank)
        case Criterion.Asc("asc_desc_rank")  => Some(_.ascDescRank)
        case Criterion.Desc("asc_desc_rank") => Some(d => -d.ascDescRank)
        case _ => None // Asc/Desc of unknown field, empty Sort: no regroup
      }
      keyOf match {
        case None => // groups unchanged
        case Some(k) =>
          groups = groups.flatMap { g =>
            g.sortBy(k).foldLeft(Vector.empty[Vector[TestDoc]]) { (acc, d) =>
              acc.lastOption match {
                case Some(last) if k(last.last) == k(d) => acc.init :+ (last :+ d)
                case _                                  => acc :+ Vector(d)
              }
            }
          }
      }
    }
    val flat = groups.flatten
    (authorizeTypo, optionalWordsLast) match {
      case (true, true)   => flat
      case (false, true)  => flat.filter(_.typoRank == 0)
      case (true, false)  => flat.filter(_.wordRank == 0)
      case (false, false) => flat.filter(d => d.wordRank == 0 && d.typoRank == 0)
    }
  }
}
