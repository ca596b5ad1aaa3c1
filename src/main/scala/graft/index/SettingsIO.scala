package graft.index

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Persist/load [[IndexSettings]] as `settings.json` inside the index dir —
  * the Spark stand-in for milli's settings keys in the `main` poly-database
  * (`/root/reference/milli/src/index.rs:32-65`). Makes an index directory
  * self-describing: `GraftIndex.open(spark, dir)` needs no caller-side
  * settings. */
object SettingsIO {
  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  def path(dir: String) = Paths.get(s"$dir/settings.json")

  def save(dir: String, settings: IndexSettings): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(path(dir), mapper.writeValueAsString(settings))
  }

  def load(dir: String): Option[IndexSettings] = {
    val p = path(dir)
    if (!Files.exists(p)) None
    else Some(mapper.readValue(Files.readString(p), classOf[IndexSettings]))
  }
}

/** Diff-based settings update (`/root/reference/milli/src/update/settings.rs:103-1554`):
  * compare old vs new settings and rebuild ONLY the affected tables.
  *
  *  - searchable fields / exact attributes / stop words changed → the text
  *    extraction inputs changed: full posting-table rebuild;
  *  - filterable/sortable changed → facet tables only;
  *  - synonyms / typo limits / criteria / distinct changed → query-time
  *    only, nothing rebuilt (just persist).
  */
class SettingsUpdater(spark: org.apache.spark.sql.SparkSession) {
  import IndexSettings.T

  final case class Plan(fullReindex: Boolean, facetsOnly: Boolean)

  def plan(oldS: IndexSettings, newS: IndexSettings): Plan = {
    val textChanged =
      oldS.searchableFields != newS.searchableFields ||
        oldS.exactAttributes != newS.exactAttributes ||
        oldS.stopWords != newS.stopWords ||
        oldS.prefixThreshold != newS.prefixThreshold ||
        oldS.maxPrefixLength != newS.maxPrefixLength
    val facetsChanged =
      oldS.filterableFields != newS.filterableFields ||
        oldS.sortableFields != newS.sortableFields
    Plan(textChanged, !textChanged && facetsChanged)
  }

  /** Apply new settings to an existing index dir. Returns the plan taken. */
  def update(dir: String, newSettings: IndexSettings): Plan = {
    val oldSettings = SettingsIO.load(dir).getOrElse(newSettings)
    val p = plan(oldSettings, newSettings)
    val docs = TableIO.read(spark, s"$dir/${T.Documents}")
    if (p.fullReindex) {
      // drop every derived table's manifest entry by clearing the manifest,
      // keep documents, rebuild the rest
      val mf = Paths.get(s"$dir/_graft_manifest.jsonl")
      if (Files.exists(mf)) Files.delete(mf)
      val keep = Set(T.Documents, "settings.json")
      new java.io.File(dir).listFiles().foreach { f =>
        if (!keep.contains(f.getName) && f.getName != "_graft_manifest.jsonl") {
          def rec(x: java.io.File): Unit = {
            if (x.isDirectory) x.listFiles().foreach(rec); x.delete()
          }
          rec(f)
        }
      }
      new IndexBuilder(spark, newSettings).build(docs, dir, resume = true)
    } else if (p.facetsOnly) {
      val builder = new IndexBuilder(spark, newSettings)
      val (fNum, fStr, fEx) = builder.extractFacets(docs)
      import org.apache.spark.sql.functions._
      val F = graft.functions.GraftFunctions
      TableIO.writeParquet(
        fNum.repartitionByRange(col("field"), col("value"))
          .sortWithinPartitions("field", "value"),
        s"$dir/${T.DocFacetNumbers}")
      TableIO.writeParquet(
        fStr.repartitionByRange(col("field"), col("norm"))
          .sortWithinPartitions("field", "norm"),
        s"$dir/${T.DocFacetStrings}")
      TableIO.writeParquet(
        fEx.groupBy(col("field")).agg(F.bitmap_or_agg(col("docid")).as("docids")),
        s"$dir/${T.FacetExistsDocids}")
    }
    SettingsIO.save(dir, newSettings)
    p
  }
}
