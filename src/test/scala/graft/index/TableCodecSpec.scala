package graft.index

import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.index.IndexSettings.T
import graft.search.DirectParquet
import graft.webgen.WebPages

/** Every index table is written zstd by `TableIO.writeParquet`, through the
  * build and every maintenance path, and readers take a table that mixes
  * an older snappy file with zstd ones. */
class TableCodecSpec extends AnyFunSuite with Matchers {

  /** (file, column, codec) of every column chunk of every `.parquet` file
    * under `root`. */
  private def columnCodecs(root: String): Seq[(String, String, CompressionCodecName)] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    val files = try walk.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally walk.close()
    files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          TestSpark.spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getBlocks.asScala.toList.flatMap(_.getColumns.asScala.map(c =>
        (f.toString, c.getPath.toDotString, c.getCodec)))
      finally reader.close()
    }
  }

  test("every column chunk of the index is ZSTD after build, addDocuments, " +
      "softDelete, hardDelete and compact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"),
      filterableFields = Set("lang"), primaryKey = "url")
    val dir = TestSpark.tempDir("graft-codec")
    val all = WebPages.generate(spark, 240).cache()
    new IndexBuilder(spark, settings).build(all.where($"docid" < 200), dir, resume = false)
    val updates = new Updates(spark, settings)
    // docs 0..9 come back under their url as 240..249: a replacing batch
    val replacements = all.where($"docid" < 10).withColumn("docid", $"docid" + 240)
    updates.addDocuments(dir, all.where($"docid" >= 200).unionByName(replacements),
      autoCompactFiles = 0)
    updates.softDelete(dir, Seq(3, 210))
    updates.hardDelete(dir)
    updates.compact(dir, maxFiles = 0) should not be empty
    val chunks = columnCodecs(dir)
    chunks.map(_._1.split('/').dropRight(1).last).toSet should contain allOf (
      T.WordDocids, T.WordPairProximityDocids, T.DocWordPositions,
      T.PostingBlocks, T.DeletedDocids)
    chunks.filter(_._3 != CompressionCodecName.ZSTD) shouldBe empty
  }

  test("a table with one snappy file next to zstd files reads the same rows " +
      "direct and through Spark") {
    val spark = TestSpark.spark
    import spark.implicits._
    val settings = IndexSettings(searchableFields = Seq("text"))
    val dir = TestSpark.tempDir("graft-codec-mixed")
    new IndexBuilder(spark, settings).build(WebPages.generate(spark, 200), dir,
      resume = false)
    val table = s"$dir/${T.WordDocids}"
    val words = TableIO.read(spark, table).select($"word").as[String].collect().sorted
    words.length should be > 20
    // a file of new words ('-' never occurs in a token), written with
    // Spark's default codec and copied into the table dir the way an
    // append adds a file
    import org.apache.spark.sql.functions.{concat, lit}
    val extra = TableIO.read(spark, table).where($"word".isin(words.take(10): _*))
      .withColumn("word", concat(lit("snappy-"), $"word"))
    val side = TestSpark.tempDir("graft-codec-snappy")
    extra.coalesce(1).write.mode("overwrite").parquet(side)
    val snappy = new java.io.File(side).listFiles().filter(_.getName.endsWith(".parquet"))
    snappy should have length 1
    java.nio.file.Files.copy(snappy.head.toPath,
      java.nio.file.Paths.get(table, "inc-snappy-" + snappy.head.getName))
    spark.catalog.refreshByPath(table)
    val codecs = columnCodecs(table).map(_._3).toSet
    codecs shouldBe Set(CompressionCodecName.ZSTD, CompressionCodecName.SNAPPY)

    // keys from the zstd files and from the snappy file, in one read
    val keys = (words.take(5) ++ words.takeRight(5) ++
      words.take(10).map("snappy-" + _)).toSeq
    val fts = new DirectParquet.TableFooters(table, "word")
    val direct = Seq.newBuilder[(String, Seq[Byte])]
    val fallbacks = DirectParquet.fallbacks.get()
    DirectParquet.scanBands(fts, DirectParquet.keyBands(keys)) { g =>
      val w = g.getString("word", 0)
      if (keys.contains(w))
        direct += ((w, g.getBinary("docids", 0).getBytes.toSeq))
    } shouldBe true
    DirectParquet.fallbacks.get() shouldBe fallbacks
    val viaSpark = TableIO.read(spark, table).where($"word".isin(keys: _*))
      .select($"word", $"docids").as[(String, Array[Byte])].collect()
      .map { case (w, d) => (w, d.toSeq) }
    viaSpark should have length keys.length.toLong
    direct.result().sortBy(_._1) shouldBe viaSpark.toSeq.sortBy(_._1)
  }
}
