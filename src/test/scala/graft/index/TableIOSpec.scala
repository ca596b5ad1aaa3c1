package graft.index

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, substring_index}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.webgen.WebPages

/** `TableIO.read` reads an index table with the Spark schema stored in its
  * parquet footer: the same schema and rows as an inferring
  * `spark.read.parquet`, and no Spark job to create the DataFrame. */
class TableIOSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  private val T = IndexSettings.T

  private lazy val textOnly: String = {
    val dir = TestSpark.tempDir("graft-tableio-text")
    new IndexBuilder(spark, IndexSettings(searchableFields = Seq("text"), primaryKey = "url"))
      .build(WebPages.generate(spark, 150), dir, resume = false)
    dir
  }

  /** An exact attribute, a numeric facet and `_geo`: every table of the
    * build holds rows. */
  private lazy val faceted: String = {
    val dir = TestSpark.tempDir("graft-tableio-faceted")
    val settings = IndexSettings(searchableFields = Seq("text", "title"),
      filterableFields = Set("n_chars", "_geo.lat", "_geo.lng"),
      exactAttributes = Set("title"), primaryKey = "url")
    val docs = WebPages.generate(spark, 150)
      .withColumn("title", substring_index(col("text"), " ", 3))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .withColumn("_geo.lat", (col("docid") % 90).cast("double") - 45.0)
      .withColumn("_geo.lng", (col("docid") % 180).cast("double") - 90.0)
    new IndexBuilder(spark, settings).build(docs, dir, resume = false)
    Seq(T.ExactWordDocids, T.ExactWordPrefixDocids, T.DocFacetNumbers,
        T.FacetNumberLevels, T.GeoCells).foreach { t =>
      withClue(s"table $t: ") { Manifest.parquetRowCount(spark, s"$dir/$t") should be > 0L }
    }
    dir
  }

  private def tableDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().filter(f => f.isDirectory && !f.getName.startsWith("_"))
      .map(_.getPath).sorted.toSeq

  /** Rows as sorted strings; binary cells in hex. */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** Spark jobs `f` starts on this thread. A sentinel job in another group
    * follows `f`; the listener bus delivers in order, so once the sentinel
    * is seen every job of `f` has been counted. */
  private def jobsOf(f: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tableio-read", "TableIOSpec reads")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("tableio-sentinel", "TableIOSpec sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("tableio-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      groups.contains("tableio-sentinel") shouldBe true
      groups.asScala.count(_ == "tableio-read")
    } finally sc.removeSparkListener(listener)
  }

  test("every table of both settings shapes reads with its footer schema " +
      "and the rows of an inferring read") {
    for (dir <- Seq(textOnly, faceted); p <- tableDirs(dir)) withClue(s"$p: ") {
      val inferred = spark.read.parquet(p)
      val footer = TableIO.read(spark, p)
      footer.schema shouldBe inferred.schema
      canon(footer) shouldBe canon(inferred)
    }
  }

  test("creating the DataFrames of every table starts no Spark job") {
    val dirs = Seq(textOnly, faceted).flatMap(tableDirs)
    dirs.size should be > 40
    jobsOf(dirs.foreach(p => TableIO.read(spark, p).schema)) shouldBe 0
    // the count sees the inference job a plain read starts
    jobsOf(spark.read.parquet(dirs.head).schema) should be > 0
  }

  test("a footer without a Spark schema falls back to inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = TestSpark.tempDir("graft-tableio-plain")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary word (UTF8); required int32 docid; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq("alpha" -> 1, "beta" -> 2).foreach { case (w, d) =>
      writer.write(groups.newGroup().append("word", w).append("docid", d))
    } finally writer.close()
    val got = TableIO.read(spark, dir)
    got.schema shouldBe spark.read.parquet(dir).schema
    canon(got) shouldBe Seq("alpha|1", "beta|2")
  }
}
