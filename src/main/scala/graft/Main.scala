package graft

import org.apache.spark.sql.SparkSession

import graft.index.{IndexBuilder, IndexSettings}
import graft.search.{GraftIndex, Search, SearchRequest}

/** Thin CLI driver (the Spark stand-in for `/root/reference/cli/src/main.rs`):
  *
  *   graft.Main index  <docsParquet> <indexDir> <searchableCols,comma>
  *   graft.Main search <indexDir> <searchableCols> <query> [filter]
  *
  * Run via `sbt "runMain graft.Main …"` or spark-submit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "index" :: docs :: dir :: searchable :: rest =>
      val settings = IndexSettings(
        searchableFields = searchable.split(',').toSeq,
        filterableFields = rest.headOption.map(_.split(',').toSet).getOrElse(Set.empty),
        sortableFields = rest.headOption.map(_.split(',').toSet).getOrElse(Set.empty))
      // ingestion formats mirror documents/builder.rs: parquet (columnar),
      // NDJSON / JSON lines, CSV with header. Nested JSON flattens to
      // dotted columns (flatten-serde-json semantics) before indexing.
      val raw =
        if (docs.endsWith(".csv"))
          spark.read.option("header", "true").option("inferSchema", "true").csv(docs)
        else if (docs.endsWith(".json") || docs.endsWith(".ndjson") || docs.endsWith(".jsonl"))
          spark.read.json(docs)
        else spark.read.parquet(docs)
      val df0 = graft.index.JsonFlatten.flattenColumns(raw)
      val builder = new IndexBuilder(spark, settings)
      // enrich: primary-key discovery + id/geo validation before indexing
      // (enrich.rs semantics; one distributed aggregation)
      val df =
        if (df0.columns.contains("docid")) df0
        else if (df0.columns.contains("doc_id")) {
          graft.index.Enrich.validate(df0, Some("doc_id"))
          df0.withColumn("docid", org.apache.spark.sql.functions.col("doc_id").cast("int"))
        } else {
          // "id" is the unconfigured default: fall back to discovery when
          // absent. Any OTHER configured key is explicit — Enrich throws if
          // it's missing (MissingDocumentId) instead of silently re-keying.
          val configured = Option(settings.primaryKey) match {
            case Some("id") => Some("id").filter(df0.columns.contains)
            case other      => other
          }
          val pk = graft.index.Enrich.validate(df0, configured)
          builder.assignDocids(df0, pk)
        }
      val manifest = builder.build(df, dir)
      manifest.tables.foreach { t =>
        val e = manifest(t).get
        println(f"[graft] $t%-28s rows=${e.rows}%-10d ${e.seconds}%8.2fs ${e.bytes}%10d bytes")
      }
    case "search" :: dir :: searchable :: query :: rest =>
      // prefer the index's persisted settings.json; the searchable arg is a
      // fallback for pre-settings indexes ("-" = use persisted)
      val settings = graft.index.SettingsIO.load(dir).getOrElse(
        IndexSettings(searchableFields = searchable.split(',').toSeq))
      val index = GraftIndex(spark, dir, settings)
      val filter = Option(rest.mkString(" ").trim).filter(_.nonEmpty)
        .map(_.stripPrefix("'").stripSuffix("'"))
      val req = SearchRequest(
        query = Some(query),
        filter = filter)
      val t0 = System.nanoTime()
      val result = new Search(index).execute(req)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[graft] candidates=${result.candidates} took=$ms%.0f ms")
      println(s"[graft] top-${result.documentsIds.size}: ${result.documentsIds.mkString(", ")}")
      // highlighted + cropped snippets for the first few hits
      val mw = graft.search.Matcher.matchingWordsFor(index, query)
      val textCol = settings.searchableFields.head
      val top = result.documentsIds.take(3)
      if (top.nonEmpty && index.documents.columns.contains(textCol)) {
        import org.apache.spark.sql.functions.col
        index.documents
          .where(col("docid").isin(top.map(Integer.valueOf): _*))
          .select(col("docid"), col(textCol).cast("string"))
          .collect().sortBy(r => top.indexOf(r.getInt(0)))
          .foreach { r =>
            val snippet = graft.search.Matcher.highlightCrop(r.getString(1), mw, 12)
            println(s"[graft]   #${r.getInt(0)}: $snippet")
          }
      }
    case "dedup" :: docsParquet :: idCol :: textCol :: rest =>
      val docs = spark.read.parquet(docsParquet)
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.8)
      val exact = graft.pipeline.Dedup.exactDuplicates(docs, idCol, textCol)
      println(s"[graft] exact duplicate groups: ${exact.count()}")
      val near = graft.pipeline.Dedup.nearDuplicates(docs, idCol, textCol,
        threshold = threshold)
      val pairs = near.orderBy("da", "db").collect()
      println(s"[graft] near-dup pairs (jaccard >= $threshold): ${pairs.length}")
      pairs.take(10).foreach { r =>
        println(f"[graft]   ${r.getLong(0)}%-8d ~ ${r.getLong(1)}%-8d jaccard=${r.getDouble(2)}%.3f")
      }
    case "ann" :: embParquet :: vecId :: k :: Nil =>
      val emb = spark.read.parquet(embParquet)
      val dims = emb.selectExpr("size(embedding)").first().getInt(0)
      val sim = new graft.pipeline.Similarity(spark, numPlanes = 12, dims = dims)
      val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === vecId.toLong)
        .selectExpr("transform(embedding, x -> cast(x as double)) as v")
        .first().getSeq[Double](0).toArray
      val rest2 = emb.where(org.apache.spark.sql.functions.col("vec_id") =!= vecId.toLong)
      val exact = sim.bruteForceTopK(rest2, "vec_id", "embedding", q, k.toInt).collect()
      val bucketized = sim.bucketize(rest2, "vec_id", "embedding").cache()
      val approx = sim.annTopK(bucketized, "vec_id", "embedding", q, k.toInt, maxHamming = 4)
        .collect()
      println(s"[graft] exact : " + exact.map(r => s"${r.getLong(0)}@${"%.4f".format(r.getDouble(1))}").mkString(", "))
      println(s"[graft] approx: " + approx.map(r => s"${r.getLong(0)}@${"%.4f".format(r.getDouble(1))}").mkString(", "))
      val recall = approx.map(_.getLong(0)).toSet
        .intersect(exact.map(_.getLong(0)).toSet).size.toDouble / exact.length
      println(f"[graft] recall@$k=$recall%.2f (ring hamming<=4 of 12 planes)")
      val centroids = sim.trainIvf(rest2, "vec_id", "embedding", nLists = 8)
      val assigned = sim.ivfAssign(rest2, "vec_id", "embedding", centroids).cache()
      val ivf = sim.ivfTopK(assigned, "vec_id", "embedding", centroids, q, k.toInt, nprobe = 3)
        .collect()
      val ivfRecall = ivf.map(_.getLong(0)).toSet
        .intersect(exact.map(_.getLong(0)).toSet).size.toDouble / exact.length
      println(s"[graft] ivf   : " + ivf.map(r => s"${r.getLong(0)}@${"%.4f".format(r.getDouble(1))}").mkString(", "))
      println(f"[graft] ivf recall@$k=$ivfRecall%.2f (nprobe=3 of 8 lists)")
    case "sessionize" :: eventsParquet :: Nil =>
      // streaming sessionization end-to-end: file source → stateful
      // flatMapGroupsWithState → memory sink
      val batch = spark.read.parquet(eventsParquet)
      val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
      batch.write.mode("overwrite").parquet(dir)
      val stream = spark.readStream.schema(batch.schema).parquet(dir)
      val sessions = new graft.streaming.StreamingIndexer(spark,
          IndexSettings(searchableFields = Seq("text")))
        .sessionStream(stream)
      val q = sessions.writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val out = spark.sql(
        "select user_id, count(*) n_closed, sum(n_events) ev from sessions group by user_id order by n_closed desc limit 5")
        .collect()
      println(s"[graft] closed sessions for top users:")
      out.foreach(r => println(s"[graft]   user=${r.get(0)} closed=${r.get(1)} events=${r.get(2)}"))
    case "serve" :: dir :: rest =>
      // long-lived serving loop: ONE warmed index handle whose driver-side
      // caches (postings, forward rows, candidate bitmaps, dicts, doclens)
      // answer warm small queries without launching Spark jobs — the
      // serving-tier twin of milli's LMDB-resident reads. Lines from stdin:
      //   <query text>            milli-rank search (top 20)
      //   bm25:<t1,t2,...>        BM25 top 20
      //   filter:<dsl>|<query>    filtered milli-rank search
      //   :quit                   exit
      val settings = graft.index.SettingsIO.load(dir).getOrElse(
        IndexSettings(searchableFields =
          rest.headOption.map(_.split(',').toSeq).getOrElse(Seq("text"))))
      // handle rotation: the driver-side caches are pinned to one index
      // version, so a new manifest (concurrent addDocuments / delete)
      // rotates in a fresh warmed handle — the Spark twin of LMDB read-txn
      // renewal across write commits
      val manifestFile = new java.io.File(s"$dir/_graft_manifest.jsonl")
      // same stamp formula as GraftIndex.checkFresh so serve-mode rotation
      // and the handle's stale-guard can never disagree
      def mStamp() = manifestFile.lastModified() ^ (manifestFile.length() << 20)
      var manifestStamp = mStamp()
      var index = GraftIndex(spark, dir, settings)
      index.warm()
      // pre-populate the serving caches for the dictionary head (Zipf:
      // most traffic)
      index.warmServing()
      var search = new Search(index)
      var bm25 = new graft.search.Bm25(index)
      println("[graft] serving (warm); '<query>' | 'bm25:t1,t2' | 'filter:<dsl>|<q>' " +
        "| 'sort:<f>:<asc|desc>|<q>' | 'geo:<lat>,<lng>|<q>' | ':quit'")
      Iterator.continually(scala.io.StdIn.readLine())
        .takeWhile(l => l != null && l.trim != ":quit")
        .map(_.trim).filter(_.nonEmpty)
        .foreach { line =>
          val stamp = mStamp()
          if (stamp != manifestStamp) {
            manifestStamp = stamp
            index.close()
            index = GraftIndex(spark, dir,
              graft.index.SettingsIO.load(dir).getOrElse(settings))
            index.warm()
            index.warmServing()
            search = new Search(index)
            bm25 = new graft.search.Bm25(index)
            println("[graft] index updated — rotated to a fresh warmed handle")
          }
          val t0 = System.nanoTime()
          try {
            if (line.startsWith("bm25:")) {
              val top = bm25.topK(line.stripPrefix("bm25:").split(',').toSeq
                .map(_.trim).filter(_.nonEmpty), 20)
              val ms = (System.nanoTime() - t0) / 1e6
              println(f"[graft] $ms%.1f ms  top=${top.map(_._1).mkString(",")}")
            } else {
              // sort:<field>:<asc|desc>|<q>  |  geo:<lat>,<lng>|<q>
              val (sorts, criteriaOv, rest) =
                if (line.startsWith("sort:")) {
                  val body = line.stripPrefix("sort:")
                  val i = body.indexOf('|')
                  val Array(f, dir0) = body.take(i).split(':')
                  (Seq(graft.search.SortSpec(f.trim, dir0.trim == "asc")),
                    Some(Seq(graft.search.Criterion.Sort)), body.drop(i + 1).trim)
                } else if (line.startsWith("geo:")) {
                  val body = line.stripPrefix("geo:")
                  val i = body.indexOf('|')
                  val Array(la, ln) = body.take(i).split(',').map(_.trim.toDouble)
                  (Seq(graft.search.SortSpec("_geo", ascending = true,
                    geoPoint = Some((la, ln)))),
                    Some(Seq(graft.search.Criterion.Sort)), body.drop(i + 1).trim)
                } else (Nil, None, line)
              val (filter, q) =
                if (rest.startsWith("filter:")) {
                  val body = rest.stripPrefix("filter:")
                  val i = body.indexOf('|')
                  (Some(body.take(i).trim), body.drop(i + 1).trim)
                } else (None, rest)
              val r = search.execute(SearchRequest(query = Some(q).filter(_.nonEmpty),
                filter = filter, limit = 20, exhaustive = false,
                sortCriteria = sorts, criteriaOverride = criteriaOv))
              val ms = (System.nanoTime() - t0) / 1e6
              println(f"[graft] $ms%.1f ms  candidates=${r.candidates} " +
                s"ids=${r.documentsIds.mkString(",")}")
            }
          } catch {
            case e: Exception => println(s"[graft] error: ${e.getMessage}")
          }
        }
    case "gen" :: dir :: n :: Nil =>
      graft.webgen.WebPages.generate(spark, n.toLong)
        .write.mode("overwrite").parquet(dir)
      println(s"[graft] generated $n web pages at $dir")
    case "compact" :: dir :: rest =>
      val settings = graft.index.SettingsIO.load(dir).getOrElse(
        IndexSettings(searchableFields = Seq("text")))
      val maxFiles = rest.headOption.map(_.toInt).getOrElse(32)
      val compacted = new graft.index.Updates(spark, settings).compact(dir, maxFiles)
      if (compacted.isEmpty)
        println(s"[graft] nothing over $maxFiles files; no compaction needed")
      else compacted.foreach { case (t, n) =>
        println(f"[graft] compacted $t%-28s $n%4d files -> canonical layout")
      }
    case "bm25" :: dir :: searchable :: terms :: k :: Nil =>
      val settings = graft.index.SettingsIO.load(dir).getOrElse(
        IndexSettings(searchableFields = searchable.split(',').toSeq))
      val index = GraftIndex(spark, dir, settings)
      val bm25 = new graft.search.Bm25(index)
      val t0 = System.nanoTime()
      val top = bm25.topK(terms.split(',').toSeq, k.toInt)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[graft] bm25 took=$ms%.0f ms")
      top.foreach { case (d, s) => println(f"[graft]   doc=$d%-8d score=$s%.6f") }
    case "debug-tree" :: dir :: query :: rest =>
      // query-tree introspection on an existing index: the primitive
      // query, the built tree's Words branches, and each branch's
      // resolved candidate count — milli's `--print-query-graph` twin
      val settings = graft.index.SettingsIO.load(dir).getOrElse(
        IndexSettings(searchableFields =
          rest.headOption.map(_.split(',').toSeq).getOrElse(Seq("text"))))
      val index = GraftIndex(spark, dir, settings)
      val parts = graft.search.QueryTree.primitiveQuery(
        query.replace('_', ' '), settings.stopWords)
      println(s"[graft] parts=$parts")
      graft.search.QueryTree.build(index.queryContext,
        graft.search.QueryTree.MatchingStrategy.Last,
        authorizeTypos = true, parts) match {
        case None => println("[graft] empty query tree")
        case Some(tree) =>
          val branches = graft.search.QueryTree.wordsBranches(tree)
          branches.zipWithIndex.foreach { case (op, i) =>
            println(s"[graft] branch $i: $op")
          }
      }
    case _ =>
      System.err.println(
        """usage:
          |  graft.Main index  <docsParquet> <indexDir> <searchableCols> [filterableCols]
          |  graft.Main search <indexDir> <searchableCols> <query> [filter]
          |  graft.Main bm25   <indexDir> <searchableCols> <terms,comma> <k>
          |  graft.Main serve  <indexDir> [searchableCols]   (stdin query loop)
          |  graft.Main compact <indexDir> [maxFiles]   (post-update file maintenance)
          |  graft.Main gen    <outParquetDir> <nDocs>
          |  graft.Main debug-tree <indexDir> <query> [searchableCols]""".stripMargin)
      sys.exit(2)
  }
}
