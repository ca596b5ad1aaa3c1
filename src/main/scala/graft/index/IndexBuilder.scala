package graft.index

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import org.roaringbitmap.RoaringBitmap

import graft.core.{Bitmaps, Proximity, Tokenizer}
import graft.functions.{GraftFunctions => F}

/** One forward-index row: a doc's sorted absolute positions of one word —
  * the value shape of reference db #6 (`milli/src/index.rs:108-109`).
  * Emitted doc-contiguously by [[IndexBuilder.extractDwp]], so downstream
  * per-doc operators never shuffle. */
final case class DwpRow(docid: Int, word: String, positions: Array[Int])

/** Distributed index build — the Spark re-expression of
  * `IndexDocuments::execute`
  * (`/root/reference/milli/src/update/index_documents/mod.rs:204-429`).
  *
  * The reference fans 4MiB document chunks over a rayon pool, re-sorts each
  * extractor's output with grenad external sorters, and funnels everything
  * into a single LMDB writer. Here each extractor is one DataFrame lineage
  * off a shared tokenized Dataset; the grenad sort-merge IS the Spark
  * shuffle (`repartition` + hash aggregation with partial/map-side combine),
  * and the single-writer disappears into independent parquet table commits.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - the tokenized Dataset is the only wide fan-out; everything downstream
  *    is `groupBy` with `TypedImperativeAggregate` bitmaps, so hot terms
  *    (stop-word df ≈ ndocs) arrive at reducers as ≤ #map-partitions
  *    pre-merged roaring partials, not raw postings;
  *  - all posting tables are written range-partitioned + sorted by their
  *    lookup key so parquet min/max footer pruning serves point lookups;
  *  - docids must be assigned deterministically *before* this job
  *    (independent of partition count) — see [[IndexBuilder.assignDocids]];
  *  - each table is an independent, atomic parquet commit recorded in
  *    `_graft_manifest.json` → a re-run resumes by skipping completed
  *    tables (the per-partition checkpoint unit of the north rule).
  */
class IndexBuilder(spark: SparkSession, settings: IndexSettings) extends Serializable {
  import spark.implicits._
  import IndexSettings.T

  registerOnce()
  private def registerOnce(): Unit = graft.functions.GraftFunctions.registerAll(spark)

  private val fieldIds: Map[String, Int] =
    settings.searchableFields.zipWithIndex.toMap
  private val exactFids: Set[Int] =
    settings.exactAttributes.flatMap(fieldIds.get)

  /** Reference a user field by its LITERAL name — flattened nested docs
    * produce dotted column names (`meta.lang`) that bare `col()` would
    * parse as a struct path. */
  @inline private def fcol(name: String) =
    col(s"`${name.replace("`", "")}`")

  /** Deterministic dense docid assignment: global rank of the primary key,
    * computed in two distributed passes — range-partition + sort on the key,
    * then per-partition counts → prefix-sum offsets (`zipWithIndex`) — so no
    * single task ever sorts the whole corpus (a global `row_number()` window
    * would). The result is the same for ANY partition count: docid is the
    * total-order rank of the (unique) key, and the offsets only re-slice it
    * (north-rule determinism: local[8] and local[32] yield identical ids).
    * Equivalent role: `AvailableDocumentsIds`
    * (`/root/reference/milli/src/update/available_documents_ids.rs`). */
  def assignDocids(docs: DataFrame, orderCol: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(docs.schema.fields :+
      org.apache.spark.sql.types.StructField("docid",
        org.apache.spark.sql.types.IntegerType, nullable = false))
    val sortedRdd = docs
      .repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
      .rdd // single lineage: zipWithIndex's count job reuses the shuffle
    val rows = sortedRdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i.toInt)
    }
    docs.sparkSession.createDataFrame(rows, schema)
  }

  /** Map-side forward-index extraction: tokenize all searchable fields of a
    * doc and group positions per word BEFORE any shuffle (the per-chunk
    * grenad sorter of `extract_docid_word_positions.rs` becomes a per-row
    * TreeMap). Words are emitted sorted; positions accumulate in field
    * order and are therefore already sorted. */
  def extractDwp(docs: DataFrame): Dataset[DwpRow] = {
    val fields = settings.searchableFields
    val fidOf = fieldIds
    val stop = settings.stopWords
    val cols = col("docid") +: fields.map(f => fcol(f).cast("string"))
    docs.select(cols: _*).flatMap { row =>
      val docid = row.getInt(0)
      val byWord = new java.util.TreeMap[String, mutable.ArrayBuffer[Int]]()
      var i = 0
      while (i < fields.length) {
        if (!row.isNullAt(i + 1)) {
          val fid = fidOf(fields(i))
          val toks = Tokenizer.tokenize(row.getString(i + 1))
          toks.foreach { t =>
            if (!stop.contains(t.word)) {
              var buf = byWord.get(t.word)
              if (buf == null) { buf = mutable.ArrayBuffer.empty[Int]; byWord.put(t.word, buf) }
              buf += Tokenizer.absoluteFromRelative(fid, t.position)
            }
          }
        }
        i += 1
      }
      import scala.jdk.CollectionConverters._
      byWord.entrySet().iterator().asScala.map { e =>
        DwpRow(docid, e.getKey, e.getValue.toArray)
      }
    }
  }

  /** Facet value rows derived from document columns: every value is stored
    * both as f64 (when parseable) and as a normalized string, exactly like
    * `extract_fid_docid_facet_values`
    * (`/root/reference/milli/src/update/index_documents/extract/extract_fid_docid_facet_values.rs:122-157`).
    */
  def extractFacets(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val facetFields =
      (settings.filterableFields ++ settings.sortableFields).toSeq.sorted
        .filter(docs.columns.contains)
    // array-valued fields (flattened JSON arrays) facet per ELEMENT, like
    // the reference's per-value facet extraction over flattened docs
    def rawValues(f: String): DataFrame =
      docs.schema(f).dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) =>
          docs.select(col("docid"), explode(fcol(f)).as("__raw"))
        case _ =>
          docs.select(col("docid"), fcol(f).as("__raw"))
      }
    val numbers = facetFields.map { f =>
      // try_cast: non-numeric values simply have no number form
      // (ANSI cast would throw), matching the reference's "store as f64
      // only when parseable" rule.
      rawValues(f).select(lit(f).as("field"), col("docid"),
          expr("try_cast(__raw as double)").as("value"))
        .where(col("value").isNotNull)
    }.reduceOption(_ unionAll _).getOrElse(emptyFrame("field string, docid int, value double"))
    val strings = facetFields.map { f =>
      rawValues(f).select(lit(f).as("field"), col("docid"),
          IndexBuilder.normalizeFacetUdf(col("__raw").cast("string")).as("norm"),
          col("__raw").cast("string").as("orig"))
        .where(col("orig").isNotNull)
    }.reduceOption(_ unionAll _).getOrElse(
      emptyFrame("field string, docid int, norm string, orig string"))
    val exists = facetFields.map { f =>
      docs.select(lit(f).as("field"), col("docid"))
        .where(fcol(f).isNotNull)
    }.reduceOption(_ unionAll _).getOrElse(emptyFrame("field string, docid int"))
    (numbers, strings, exists)
  }

  private def emptyFrame(ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def read(path: String): DataFrame = TableIO.read(spark, path)

  /** Tables these settings keep empty, each with the schema it is written
    * with: the exact word tables when no searchable field is an exact
    * attribute, and `geo_cells` when `_geo.lat` is neither filterable nor
    * sortable and no `facetOverride` supplies the facet rows. */
  private[index] def staysEmpty(facetOverride: Boolean): Map[String, String] = {
    val exact =
      if (exactFids.nonEmpty) Map.empty[String, String]
      else Map(T.ExactWordDocids -> "word string, docids binary",
        T.ExactWordPrefixDocids -> "prefix string, docids binary not null")
    val geo =
      if (facetOverride || (settings.filterableFields ++ settings.sortableFields)("_geo.lat"))
        Map.empty[String, String]
      else Map(T.GeoCells -> IndexBuilder.GeoCellsDdl)
    exact ++ geo
  }

  /** Build every index table under `dir`. `docs` must already carry an
    * `docid` int column (see [[assignDocids]]). Completed tables recorded
    * in the manifest are skipped when `resume` is true and `dir` holds the
    * current format stamp ([[IndexFormat]]); without it every table is
    * rebuilt.
    *
    * Facet inputs can be overridden (the milli-fixture corpus needs
    * JSON-aware extraction); by default they derive from the doc columns.
    */
  def build(
      docs: DataFrame,
      dir: String,
      resume: Boolean = true,
      facetOverride: Option[(DataFrame, DataFrame, DataFrame)] = None): Manifest = {
    val dag = new DagRunner
    val run = buildOn(dag, docs, dir, resume, facetOverride, T.buildStages.toSet)
    try dag.run() finally run.release()
    run.finish()
  }

  /** Register the build's table stages on `dag`, one step per table named
    * after it, restricted to `tables` (a subset of [[IndexSettings.T.buildStages]];
    * an `addDocuments` delta builds only the base tables it merges). Steps
    * of other callers may depend on a table's step: it finishes when the
    * table is committed. The caller runs `dag`, then calls
    * [[IndexBuilder.BuildRun.release]], then (full builds) `finish`. */
  private[index] def buildOn(
      dag: DagRunner,
      docs: DataFrame,
      dir: String,
      resume: Boolean,
      facetOverride: Option[(DataFrame, DataFrame, DataFrame)],
      tables: Set[String]): IndexBuilder.BuildRun = {
    // a dir without the current stamp keeps no table: its manifest goes,
    // so every table rebuilds, and the stamp is written before the first
    // stage, so a resume after a crash trusts only this build's records
    if (!IndexFormat.isCurrent(dir)) Manifest.drop(dir)
    IndexFormat.stamp(dir)
    val manifest = Manifest.load(dir)
    val t0 = System.nanoTime()
    def pending(name: String): Boolean =
      tables(name) && !(resume && manifest.isDone(name, dir))

    // Every bitmap table aggregates millions of (key → roaring bitmap)
    // groups through ObjectHashAggregate; Spark's default sort-based
    // fallback threshold (128 in-memory keys) would external-sort every
    // map partition's full row set. Memory per task stays bounded by the
    // partition's distinct-key count: keys are interned words/pairs and
    // values pre-unioned cbo partials, so 4M keys ≈ a few hundred MB per
    // task — under the executor share at our partition sizing. Saved and
    // restored after the build so the shared session's serving queries
    // keep Spark's spill-capable default.
    val aggFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val aggFallbackPrev = spark.conf.getOption(aggFallbackKey)
    // let AQE coalesce the partitions of CACHED plans too (the build's
    // partial→range-shuffle→persist pattern everywhere): without this,
    // every persisted exchange keeps the full spark.sql.shuffle.partitions
    // fan-out regardless of data size — scale-adaptive in both directions,
    // a 10^9-row table still gets the configured width. Saved/restored
    // like the agg threshold.
    val cachedPartKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val cachedPartPrev = spark.conf.getOption(cachedPartKey)

    // per-task lineage + metrics (north rule): aggregate task metrics per
    // stage while the build runs; flushed into the manifest at the end.
    val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    // stageId → build-stage name (via the thread-local job group each
    // table stage sets): executor time per TABLE, immune to the job-queue
    // wait that pollutes wall-clock stage durations when stages share the
    // cluster.
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g.nonEmpty) js.stageIds.foreach(sid => stageGroup.put(sid, g))
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val a = taskAgg.computeIfAbsent(te.stageId, _ => new Array[Long](6))
          a.synchronized {
            a(0) += 1 // tasks
            a(1) += m.inputMetrics.recordsRead
            a(2) += m.outputMetrics.recordsWritten
            a(3) += m.outputMetrics.bytesWritten + m.shuffleWriteMetrics.bytesWritten
            a(4) += m.executorRunTime
            a(5) += m.jvmGCTime
          }
        }
      }
    }

    // Stages are independent DataFrame lineages off the shared token
    // Dataset: each table's write runs as a step of `dag` (Spark's
    // scheduler interleaves the jobs across executor slots — same shape as
    // a multi-tenant cluster). Row counts come from parquet footers, not a
    // second scan.
    def stage(name: String)(df: => DataFrame): Unit =
      if (pending(name)) {
        val s0 = System.nanoTime()
        spark.sparkContext.setJobGroup(name, s"graft build: $name")
        try {
          TableIO.writeParquet(df, s"$dir/$name")
        } finally spark.sparkContext.clearJobGroup()
        val rows = Manifest.parquetRowCount(spark, s"$dir/$name")
        manifest.synchronized {
          manifest.record(name, rows, (System.nanoTime() - s0) / 1e9, dir,
            startOffsetSec = (s0 - t0) / 1e9)
        }
      }

    // Dependency-DAG scheduling: each table stage launches the moment its
    // dependencies commit (no wave barriers), so build wall time ≈ the
    // critical path (documents → forward index → pair-proximity →
    // prefix-pair tables) while independent stages fill the remaining
    // executor slots — the Spark twin of the reference's rayon fan-out.
    // a table the settings keep empty is written from an empty frame at
    // once, without its plan or its inputs
    val empty = staysEmpty(facetOverride.isDefined)
    def stageF(name: String, deps: Seq[String])(df: => DataFrame): Unit =
      empty.get(name) match {
        case Some(ddl) => dag.step(name)(stage(name)(emptyFrame(ddl)))
        case None      => dag.step(name, deps)(stage(name)(df))
      }

    stageF(T.Documents, Nil) {
      docs.repartitionByRange(col("docid")).sortWithinPartitions("docid")
    }

    // The forward index (doc → word → positions) is built MAP-SIDE: the
    // flatMap groups tokens per document before anything is shuffled, the
    // Spark mirror of milli's per-chunk extraction
    // (extract_docid_word_positions.rs). Rows stay doc-contiguous,
    // so per-doc operators (pair sweep, doclen, word counts) run with NO
    // shuffle via consecutive-run grouping; only word-keyed aggregations
    // shuffle, and those move (word, docid) pairs, not raw tokens.
    var dwpRef: Dataset[DwpRow] = null
    var pairPartialRef: DataFrame = null
    var wordPosPartialRef: DataFrame = null
    // tokenize from the INPUT frame, not the committed documents table:
    // the extraction only needs (docid, searchable columns), so it runs
    // concurrently with the documents write instead of serializing the
    // build head behind it (the input lineage is recomputed once here —
    // cheaper than a wall-clock barrier on the busiest stage of the DAG).
    // EXCEPTION: a settings reindex passes `docs` read from this index's
    // own documents table, which the documents stage overwrites — there
    // the concurrent read races the overwrite's file deletion, so wait
    // for the commit and tokenize the committed table instead.
    val docsDirPath = java.nio.file.Paths.get(s"$dir/${T.Documents}")
      .toAbsolutePath.normalize.toString
    // The concurrent tokenize evaluates the input lineage a second time,
    // so the committed documents table and the posting tables MUST agree
    // on what that lineage produces. A non-deterministic expression
    // anywhere in the plan (monotonically_increasing_id docids, rand
    // sampling) could hand the two consumers different docid↔document
    // mappings — those inputs are routed through the committed table.
    val inputNondeterministic =
      try docs.queryExecution.analyzed
        .exists(_.expressions.exists(_.exists(!_.deterministic)))
      catch { case scala.util.control.NonFatal(_) => true }
    val readsOwnOutput =
      (try docs.inputFiles.exists(_.contains(docsDirPath))
       catch { case scala.util.control.NonFatal(_) => true }) ||
      inputNondeterministic
    def tokenizeInto(src: DataFrame): Unit = {
      spark.sparkContext.setJobGroup("__dwp", "graft build: tokenize forward index")
      try {
        dwpRef = extractDwp(src).persist(StorageLevel.MEMORY_AND_DISK)
        dwpRef.count()
      } finally spark.sparkContext.clearJobGroup()
    }
    // full-resume fast path: when every build table is already committed,
    // no stage thunk will ever evaluate — skip the tokenize and word-agg
    // pseudo-stages too (a resumed `Main index` replays timings without
    // re-running the forward-index extraction)
    val fullResume = !tables.exists(pending)
    dag.step("__dwp", if (readsOwnOutput) Seq(T.Documents) else Nil) {
      if (!fullResume) tokenizeInto(
        if (readsOwnOutput) read(s"$dir/${T.Documents}") else docs)
    }
    def dwp = dwpRef

    // everything derived from the forward index (launches when __dwp lands)
    stageF(T.DocWordPositions, Seq("__dwp")) {
      // WORD-MAJOR on disk (the physical twin of milli's LMDB key order,
      // word_docids/word_position_docids ranges): footer min/max pruning
      // then serves every word-predicate reader — the distributed rank
      // scan, DwpCache point reads, prefix StartsWith ranges — instead of
      // a full-table scan per query. Range-partitioned on (word, docid)
      // so a hot word splits across files while each footer stays a tight
      // word interval. Per-doc grouping happens query-side over the
      // pruned candidate rows (a ~10^5-row shuffle, not a 10^12-row scan).
      dwp.toDF().repartitionByRange($"word", $"docid")
        .sortWithinPartitions("word", "docid")
    }
    // one dwp scan + one tiny shuffle feeds word_docids,
    // exact_word_docids AND term_dict (occurrences in exact_attributes
    // fields live ONLY in exact_word_docids, extract_word_docids.rs:25-88)
    var wordAggRef: DataFrame = null
    def aggregateWords(): Unit = {
      spark.sparkContext.setJobGroup("__wordAgg", "graft build: word-table partials")
      try {
        // partials persist only until the MERGED frame materializes (the
        // range sampler would otherwise re-run the dwp scan); the merged
        // result is what every consumer reads — word_docids /
        // exact_word_docids / term_dict / prefix_dict become cheap
        // filter+selects instead of four repeat shuffles of the partials
        val partials = dwp.mapPartitions(it =>
            IndexBuilder.wordAggPartials(it, exactFids))
          .toDF("word", "tol", "exact", "df", "tol_df", "ttf")
          .persist(StorageLevel.MEMORY_AND_DISK)
        wordAggRef = partials
          .repartitionByRange($"word").sortWithinPartitions("word")
          .mapPartitions(it => IndexBuilder.mergeWordAggRuns(it))
          .toDF("word", "docids", "tol_df", "exact_docids", "df", "exact_only", "ttf")
          .persist(StorageLevel.MEMORY_AND_DISK)
        wordAggRef.count()
        partials.unpersist()
      } finally spark.sparkContext.clearJobGroup()
    }
    dag.step("__wordAgg", Seq("__dwp"))(if (!fullResume) aggregateWords())
    def mergedWordAgg = wordAggRef
    stageF(T.WordDocids, Seq("__wordAgg")) {
      mergedWordAgg.where(length($"docids") > 0)
        .select($"word", $"docids", $"tol_df".as("df"))
    }
    stageF(T.ExactWordDocids, Seq("__wordAgg")) {
      mergedWordAgg.where(length($"exact_docids") > 0)
        .select($"word", $"exact_docids".as("docids"))
    }
    stageF(T.WordPositionDocids, Seq("__dwp")) {
      // partition-local combine (see pairProximityPartials): one shuffle
      // of pre-merged (word, position, partial-bitmap) rows, then a
      // streaming sorted-run merge — no position explode ever crosses an
      // encoder. Persisted across the range sampler's extra pass.
      wordPosPartialRef = dwp.mapPartitions(it => IndexBuilder.wordPositionPartials(it))
        .toDF("word", "position", "partial")
        .persist(StorageLevel.MEMORY_AND_DISK)
      wordPosPartialRef
        .repartitionByRange($"word", $"position")
        .sortWithinPartitions("word", "position")
        .mapPartitions(it => IndexBuilder.mergeWordPositionRuns(it))
        .toDF("word", "position", "docids")
    }
    dag.step("__wordPosRelease", Seq(T.WordPositionDocids)) {
      if (wordPosPartialRef != null) wordPosPartialRef.unpersist()
    }
    stageF(T.DocFidWordCounts, Seq("__dwp")) {
      // word count = last relative position + 1, kept only when ≤ 10
      // (extract_fid_word_count_docids.rs:56-96); per-doc, no shuffle
      IndexBuilder.perDocFidWordCounts(spark, dwp)
    }
    stageF(T.WordPairProximityDocids, Seq("__dwp")) {
      // per-doc plane sweep on doc-contiguous rows (no docid shuffle) with
      // partition-local combine: ~16 raw pair emissions per output group
      // collapse into interned-key partial bitmaps before the (single)
      // range shuffle; sorted equal-key runs then merge streaming. One
      // shuffle of partials replaces the old hash-agg shuffle + second
      // range shuffle, and no per-emission row ever crosses an encoder.
      // persisted because repartitionByRange SAMPLES its child: the range
      // boundary pass materializes the cache, the shuffle then reads it —
      // without the persist the whole extraction would run twice.
      pairPartialRef = dwp.mapPartitions(it => IndexBuilder.pairProximityPartials(it))
        .toDF("w1", "w2", "prox", "partial")
        .persist(StorageLevel.MEMORY_AND_DISK)
      pairPartialRef
        .repartitionByRange($"w1", $"w2", $"prox")
        .sortWithinPartitions("w1", "w2", "prox")
        .mapPartitions(it => IndexBuilder.mergePairPartialRuns(it))
        .toDF("prox", "w1", "w2", "docids")
    }
    dag.step("__pairRelease", Seq(T.WordPairProximityDocids)) {
      if (pairPartialRef != null) pairPartialRef.unpersist()
    }
    stageF(T.TermDict, Seq("__wordAgg")) {
      mergedWordAgg.select($"word", $"df", $"exact_only", $"ttf")
    }
    // wordAggRef's unpersist barrier is registered AFTER the PrefixDict
    // stage below (it consumes the partials too)
    stageF(T.DocStats, Seq("__dwp")) { IndexBuilder.perDocStats(spark, dwp) }
    stageF(T.PostingBlocks, Seq(T.DocWordPositions)) {
      // derive from the COMMITTED word-major table: rows are already
      // (word, docid)-sorted per file, so encoding is a shuffle-free
      // consecutive-run scan (the block-id-from-first-docid scheme absorbs
      // file-boundary fragments) — the tf rows never pay a second range
      // shuffle of the forward index
      IndexBuilder.buildPostingBlocksFromSorted(spark,
        read(s"$dir/${T.DocWordPositions}"))
    }

    stageF(T.FidWordCountDocids, Seq(T.DocFidWordCounts)) {
      read(s"$dir/${T.DocFidWordCounts}")
        .groupBy($"fid", $"word_count")
        .agg(F.bitmap_or_agg($"docid").as("docids"))
    }

    // prefix dictionary (words_prefixes_fst) + prefix posting tables.
    // The dict derives from the word-agg PARTIALS (distinct word set =
    // term_dict's word set) so it lands ~when the word tables start
    // committing rather than after term_dict's own shuffle+commit — the
    // prefix stages' gate moves off the term_dict tail.
    stageF(T.PrefixDict, Seq("__wordAgg")) {
      buildPrefixDictFrom(mergedWordAgg.select($"word"))
    }
    dag.step("__wordAggRelease",
        Seq(T.WordDocids, T.ExactWordDocids, T.TermDict, T.PrefixDict)) {
      if (wordAggRef != null) wordAggRef.unpersist()
    }
    // the committed dictionary's prefixes, read once for every prefix table
    val prefixTables = Seq(T.WordPrefixDocids, T.ExactWordPrefixDocids,
      T.WordPrefixPositionDocids, T.WordPrefixPairProximityDocids,
      T.PrefixWordPairProximityDocids)
    val prefixes = dag.value("__prefixes", Seq(T.PrefixDict)) {
      if (prefixTables.exists(pending)) dictPrefixes(dir) else Set.empty[String]
    }
    stageF(T.WordPrefixDocids, Seq(T.WordDocids, prefixes.step)) {
      buildWordPrefixDocids(dir, prefixes.get)
    }
    stageF(T.ExactWordPrefixDocids, Seq(T.ExactWordDocids, prefixes.step)) {
      buildExactWordPrefixDocids(dir, prefixes.get)
    }
    stageF(T.WordPrefixPositionDocids, Seq(T.WordPositionDocids, prefixes.step)) {
      buildWordPrefixPositionDocids(dir, prefixes.get)
    }
    // prefix-pair proximity tables (#8, #9) — prefix len ≤ 2, full stored
    // prox 1..7 (divergence from prefix_word_pairs/mod.rs:17-18 documented
    // at prefixPairPartialsBoth). Built in ONE shared pass: the committed pair
    // table is the build's biggest derived input, and reading it once per
    // side cost ~25% of the whole build (NOTES_ROUND5). The shared pass
    // reads the COMMITTED table (consuming the pair stage's pre-merge
    // partials was measured ~50% more stage CPU — the partials cache holds
    // ~1.6× the rows and decompresses twice). A resume with only ONE side
    // missing still pays the shared pass once (both sides' partials are
    // computed, the done side's write is skipped by `stage`).
    var ppTables: (DataFrame, DataFrame) = null
    dag.step("__ppBoth", Seq(T.WordPairProximityDocids, prefixes.step)) {
      if (Seq(T.WordPrefixPairProximityDocids, T.PrefixWordPairProximityDocids)
          .exists(pending)) {
        spark.sparkContext.setJobGroup("__ppBoth",
          "graft build: prefix-pair shared pass")
        try ppTables = buildPrefixPairTablesBoth(dir, prefixes.get)
        finally spark.sparkContext.clearJobGroup()
      }
    }
    stageF(T.WordPrefixPairProximityDocids, Seq("__ppBoth")) { ppTables._1 }
    stageF(T.PrefixWordPairProximityDocids, Seq("__ppBoth")) { ppTables._2 }

    // facet extraction — from the INPUT frame when its lineage is
    // deterministic (same rule and flag as the concurrent tokenize above),
    // so the facet tables don't serialize behind the documents commit; a
    // settings reindex or non-deterministic input still reads the
    // committed table
    var facets: (DataFrame, DataFrame, DataFrame) = null
    val facetsFromTable = facetOverride.isEmpty && readsOwnOutput
    dag.step("__facets", if (facetsFromTable) Seq(T.Documents) else Nil) {
      facets = facetOverride.getOrElse(extractFacets(
        if (facetsFromTable) read(s"$dir/${T.Documents}") else docs))
    }
    stageF(T.DocFacetNumbers, Seq("__facets")) {
      facets._1.repartitionByRange($"field", $"value")
        .sortWithinPartitions("field", "value")
    }
    stageF(T.DocFacetStrings, Seq("__facets")) {
      facets._2.repartitionByRange($"field", $"norm")
        .sortWithinPartitions("field", "norm")
    }
    stageF(T.FacetExistsDocids, Seq("__facets")) {
      facets._3.groupBy($"field").agg(F.bitmap_or_agg($"docid").as("docids"))
    }

    // facet level trees (bulk rebuild — group 4, min level size 5,
    // update/facet/mod.rs:75-77). Level 0 = per-value bitmaps; level n
    // groups 4 consecutive level n−1 entries, keyed by their left bound.
    stageF(T.FacetNumberLevels, Seq(T.DocFacetNumbers)) { buildFacetNumberLevels(dir) }
    stageF(T.FacetStringLevels, Seq(T.DocFacetStrings)) { buildFacetStringLevels(dir) }

    // geo cell table: the R-tree stand-in (core.GeoCell) — one Morton cell
    // row per geo point, sorted by cell so radius covers prune at the
    // parquet footer. Derived from the committed facet numbers so it serves
    // both fixture-override and column-extracted geo.
    stageF(T.GeoCells, Seq(T.DocFacetNumbers)) { buildGeoCells(dir) }

    // set after registration, which may throw: no step runs before `dag.run()`
    spark.conf.set(aggFallbackKey, (4 << 20).toString)
    spark.conf.set(cachedPartKey, "true")
    spark.sparkContext.addSparkListener(listener)
    IndexBuilder.BuildRun(
      release = () => {
        Seq(dwpRef, wordAggRef, wordPosPartialRef, pairPartialRef)
          .foreach(r => if (r != null) r.unpersist())
        releaseTransients()
        aggFallbackPrev match {
          case Some(v) => spark.conf.set(aggFallbackKey, v)
          case None    => spark.conf.unset(aggFallbackKey)
        }
        cachedPartPrev match {
          case Some(v) => spark.conf.set(cachedPartKey, v)
          case None    => spark.conf.unset(cachedPartKey)
        }
        spark.sparkContext.removeSparkListener(listener)
      },
      finish = () => {
        finishBuild(manifest, taskAgg, stageGroup, dir, t0)
        manifest
      })
  }

  // ------------------------------------------------- derived-table builders
  // Each reads ONE base table under `base` and restricts its rows to the
  // prefix set its caller passes, never to a prefix_dict table: the build
  // passes its whole dictionary over its own base tables; an
  // `addDocuments` refresh passes the prefixes it updates, over the batch's
  // delta tables or, for prefixes the dictionary gained, the merged live
  // ones (the Spark twin of word_prefix_docids.rs / prefix_word_pairs/mod.rs
  // / words_prefix_position_docids.rs).

  /** prefixes of length 1..=4 shared by ≥ threshold words
    * (words_prefixes_fst.rs:43-96). `words`: one row per distinct word. */
  def buildPrefixDictFrom(words: DataFrame): DataFrame =
    // one explode + ONE count shuffle for all lengths 1..maxPrefixLength
    // (was one groupBy shuffle per length unioned — 4× the jobs for the
    // same rows; prefix n of word w exists iff length(w) > n, preserved
    // by the sequence bound below)
    words.where(length($"word") > 1)
      .select(explode(transform(
        sequence(lit(1), least(length($"word") - 1, lit(settings.maxPrefixLength))),
        n => $"word".substr(lit(1), n))).as("prefix"))
      .groupBy($"prefix").agg(count(lit(1)).as("n_words"))
      .where($"n_words" >= settings.prefixThreshold)
      .repartitionByRange($"prefix").sortWithinPartitions("prefix")

  def buildPrefixDict(dir: String): DataFrame =
    buildPrefixDictFrom(read(s"$dir/${T.TermDict}").select($"word"))

  /** The prefixes of the dictionary at `dir`, on the driver. The prefix
    * dictionary is df-thresholded and length-capped exactly like the
    * reference's prefix FST (words_prefixes_fst.rs:43-96), so its size is
    * bounded by the alphabet's short-prefix space — thousands of entries
    * even at web scale, safe to pin. */
  private[index] def dictPrefixes(dir: String): Set[String] =
    read(s"$dir/${T.PrefixDict}").select($"prefix").as[String].collect().toSet

  /** equality join on generated prefixes (no startsWith range join —
    * shuffles hash-partition on prefix, skew-safe under AQE). */
  def buildWordPrefixDocids(base: String, prefixes: Set[String]): DataFrame =
    prefixDocids(s"$base/${T.WordDocids}", prefixes)

  /** reference db #5: prefix unions over the exact-attribute split
    * (`index.rs:105-106`). */
  def buildExactWordPrefixDocids(base: String, prefixes: Set[String]): DataFrame =
    prefixDocids(s"$base/${T.ExactWordDocids}", prefixes)

  private def prefixDocids(wordTable: String, prefixes: Set[String]): DataFrame = {
    val wd = read(wordTable)
    val exploded = wd.select($"word", $"docids",
        explode(sequence(lit(1), least(length($"word"), lit(settings.maxPrefixLength)))).as("n"))
      .select($"word".substr(lit(1), $"n").as("prefix"), $"docids")
    exploded.join(broadcast(prefixes.toSeq.toDF("prefix")), Seq("prefix"))
      .groupBy($"prefix").agg(F.bitmap_union_agg($"docids").as("docids"))
      .repartitionByRange($"prefix").sortWithinPartitions("prefix")
  }

  /** Transient persists made for a repartitionByRange child (the range
    * sampler executes its child once BEFORE the shuffle — unpersisted,
    * the partial-combine extraction would run twice). Released by
    * finishBuild / the refresh drivers once the consuming tables commit. */
  private val transients = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private def transient(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    transients.add(p)
    p
  }
  def releaseTransients(): Unit = {
    var d = transients.poll()
    while (d != null) { d.unpersist(); d = transients.poll() }
  }

  def buildWordPrefixPositionDocids(base: String, prefixes: Set[String]): DataFrame = {
    // partition-local combine over the word-sorted source (a prefix's
    // word rows are contiguous, so per-partition key sets barely overlap)
    // + ONE range shuffle of pre-unioned partials + sorted-run merge —
    // see prefixPositionPartials
    val wp = read(s"$base/${T.WordPositionDocids}")
    val maxLen = settings.maxPrefixLength
    val partials = transient(
      wp.select($"word", $"position", $"docids")
        .mapPartitions(it =>
          IndexBuilder.prefixPositionPartials(it, prefixes, maxLen))
        .toDF("prefix", "position", "partial"))
    partials.repartitionByRange($"prefix", $"position")
      .sortWithinPartitions("prefix", "position")
      .mapPartitions(it => IndexBuilder.mergeWordPositionRuns(it))
      .toDF("prefix", "position", "docids")
  }

  /** Both prefix-pair tables of the index at `dir` over its own prefix
    * dictionary, or over the dictionary's intersection with `only`. */
  def buildPrefixPairTablesBoth(dir: String,
      only: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val dict = dictPrefixes(dir)
    buildPrefixPairTablesBoth(dir, only.fold(dict)(o =>
      dict intersect o.select($"prefix").as[String].collect().toSet))
  }

  /** Single-pass build of BOTH prefix-pair tables (#8 and #9) for the
    * `prefixes` of ≤ 2 characters: one scan + partition-local combine over
    * the pair table under `base` emits the two sides' partials together
    * ([[IndexBuilder.prefixPairPartialsBoth]]), one range shuffle merges
    * them (side encoded in `sprox`, so a run is never cross-side), and the
    * persisted merged frame is split into the two tables by a cheap cached
    * filter. Replaces two full pair-table scans (~25% of the whole build
    * since the prox range extension to 1..7, NOTES_ROUND5 round-6
    * candidate 1) with one. Filtering the range-partitioned frame
    * preserves per-file sort and bounds, so footer pruning on (prefix,
    * word, prox) is unchanged. The merged cache is registered as a
    * transient — released by the caller's `releaseTransients()` /
    * build-end. */
  def buildPrefixPairTablesBoth(base: String,
      prefixes: Set[String]): (DataFrame, DataFrame) = {
    val pairPrefixes = IndexBuilder.pairPrefixes(prefixes)
    val partials = read(s"$base/${T.WordPairProximityDocids}")
      .select($"prox", $"w1", $"w2", $"docids")
      .mapPartitions(it => IndexBuilder.prefixPairPartialsBoth(it, pairPrefixes))
      .toDF("k1", "k2", "sprox", "partial")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merged = transient(
      partials.repartitionByRange($"k1", $"k2", $"sprox")
        .sortWithinPartitions("k1", "k2", "sprox")
        .mapPartitions(it => IndexBuilder.mergePairPartialRuns(it))
        .toDF("sprox", "k1", "k2", "docids"))
    merged.count() // materialize ONCE before the two table writes consume it
    partials.unpersist()
    val wordPrefix = merged.where($"sprox" < 8)
      .select($"sprox".as("prox"), $"k2".as("w1"), $"k1".as("prefix"), $"docids")
    val prefixWord = merged.where($"sprox" >= 8)
      .select(($"sprox" - 8).cast("int").as("prox"), $"k1".as("prefix"),
        $"k2".as("w2"), $"docids")
    (wordPrefix, prefixWord)
  }

  /** Geo cell table: (cell, docid, lat, lng), one row per geo point,
    * range-partitioned + sorted by the 52-bit Morton cell (core.GeoCell) so
    * a radius query's covering cell ranges prune at the parquet footer —
    * the reference R-tree's pruning (`filter.rs:349-387`,
    * `criteria/geo.rs:67-154`) as a sorted columnar table. Exact lat/lng
    * ride along so candidate verification never re-joins the facet table. */
  def buildGeoCells(dir: String): DataFrame = {
    val base = read(s"$dir/${T.DocFacetNumbers}")
    // one footer-pruned existence probe: most indexes have no geo — skip
    // the join/shuffle and commit an empty (but schema-correct) table
    if (base.where($"field" === "_geo.lat").limit(1).isEmpty)
      return emptyFrame(IndexBuilder.GeoCellsDdl)
    val lats = base.where($"field" === "_geo.lat")
      .select($"docid", $"value".cast("double").as("lat"))
    val lngs = base.where($"field" === "_geo.lng")
      .select($"docid", $"value".cast("double").as("lng"))
    lats.join(lngs, Seq("docid"))
      .select(F.geo_cell($"lat", $"lng").as("cell"), $"docid", $"lat", $"lng")
      .repartitionByRange($"cell")
      .sortWithinPartitions($"cell")
  }

  def buildFacetNumberLevels(dir: String, onlyFields: Option[Seq[String]] = None): DataFrame = {
    val base = read(s"$dir/${T.DocFacetNumbers}")
      .select($"field", $"value".cast("double").as("bound"), $"docid")
    IndexBuilder.buildFacetLevels(spark,
      onlyFields.fold(base)(fs => base.where($"field".isin(fs: _*))), transient)
  }

  def buildFacetStringLevels(dir: String, onlyFields: Option[Seq[String]] = None): DataFrame = {
    val base = read(s"$dir/${T.DocFacetStrings}")
      .select($"field", $"norm".as("bound"), $"docid")
    IndexBuilder.buildFacetLevels(spark,
      onlyFields.fold(base)(fs => base.where($"field".isin(fs: _*))), transient)
  }

  /** Register the prefix dictionary's side of an `addDocuments` batch on
    * `dag`, the Spark twin of the reference's prefix-FST diff into common,
    * new and deleted prefixes (`update/words_prefixes_fst.rs:43-96`,
    * `index_documents/mod.rs:431-602`):
    *  - `refresh:old_prefixes`, at once: the current dictionary;
    *  - `refresh:batch_prefixes`, once `batchWords` (the delta's vocabulary
    *    on the driver) is in: the batch's prefixes in the current
    *    dictionary, on the driver;
    *  - `refresh:prefix_dict`, once `deltaBuilt` has finished: the new
    *    dictionary over the live term_dict's words ∪ the delta's, written
    *    over the live one, and the prefixes it gained or lost.
    * The dictionary step reads the live term_dict, so the caller registers
    * the term_dict merge after it. */
  private[index] def refreshPrefixDict(dag: DagRunner, dir: String,
      deltaDir: String, deltaBuilt: String,
      batchWords: DagRunner.Value[Array[String]]): IndexBuilder.PrefixRefresh = {
    val dictPath = s"$dir/${T.PrefixDict}"
    val old = dag.value("refresh:old_prefixes")(dictPrefixes(dir))
    val batch = dag.value("refresh:batch_prefixes", Seq(old.step, batchWords.step)) {
      batchWords.get.iterator
        .flatMap(IndexBuilder.prefixesOf(_, settings.maxPrefixLength)).filter(old.get).toSet
    }
    val diff = dag.value("refresh:" + T.PrefixDict, Seq(deltaBuilt, batch.step)) {
      val words = Seq(dir, deltaDir).map(d => read(s"$d/${T.TermDict}").select($"word"))
        .reduce(_ unionByName _).distinct()
      TableIO.writeOver(spark)(buildPrefixDictFrom(words), dictPath)
      IndexBuilder.PrefixDiff(old.get, dictPrefixes(dir))
    }
    IndexBuilder.PrefixRefresh(batch, diff)
  }

  /** Refresh every derived table of an `addDocuments` batch on `dag`: the
    * prefix posting tables (#4, #5, the prefix-position table and both
    * prefix-pair tables) and the two facet level trees. `deltaBuilt` names
    * the step after which every delta table under `deltaDir` has
    * committed, `merged(t)` the step after which live base table `t` holds
    * the batch, and `prefixes` the dictionary steps of [[refreshPrefixDict]].
    *
    * A prefix row aggregates word rows, the base merges are unions and a
    * batch always brings fresh docids, so a prefix in both the old and the
    * new dictionary ends as its old row ∪ its row over the batch alone
    * (milli's `execute_prefix_databases`, `word_prefix_docids.rs:40-136`):
    *  - `refresh:<table>` ORs the delta-derived rows of the batch's
    *    prefixes in the OLD dictionary into the touched files of the live
    *    table. It reads the delta, not a live base table, and waits for
    *    neither the merges nor the new dictionary.
    *  - `rebuild:<table>` then replaces the rows of the prefixes the
    *    dictionary gained or lost with rows from the merged base: a lost
    *    prefix's rows vanish, its OR included. With an unchanged
    *    dictionary it launches no job.
    * Both prefix-pair tables come from one pair-table pass per step. A
    * facet level tree rebuilds the batch's fields in bulk. A table the
    * settings keep empty ([[staysEmpty]]) is not refreshed. */
  private[index] def refreshDerivedTables(dag: DagRunner, dir: String,
      deltaDir: String, deltaBuilt: String, merged: String => String,
      prefixes: IndexBuilder.PrefixRefresh): Unit = {
    def path(name: String) = s"$dir/$name"
    val IndexBuilder.PrefixRefresh(batch, diff) = prefixes

    // O(touched files): only files whose footer prefix interval meets
    // `keys` are opened, every other FILE carries over byte-for-byte. The
    // prefix tables are written prefix-sorted precisely so this (and
    // serving point reads) can footer-prune.
    def mergeInto(name: String, sortCols: Seq[String], keys: Set[String],
        rows: DataFrame)(merge: DataFrame => DataFrame): Unit =
      TableIO.mergeTouchedFiles(spark, path(name), rows, "prefix", keys) { (touched, _) =>
        merge(touched).repartitionByRange(sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
      }
    // the keys' rows OR the delta's in, in the live column order
    def orInto(name: String, sortCols: Seq[String], keys: Set[String],
        rows: DataFrame): Unit =
      mergeInto(name, sortCols, keys, rows) { touched =>
        val cols = touched.columns.toSeq
        touched.unionByName(rows)
          .groupBy(cols.filter(_ != "docids").map(col): _*)
          .agg(F.bitmap_union_agg($"docids").as("docids"))
          .select(cols.map(col): _*)
      }
    // the keys' rows give way to `rows`
    def replaceIn(name: String, sortCols: Seq[String], keys: Set[String],
        rows: DataFrame): Unit =
      mergeInto(name, sortCols, keys, rows) { touched =>
        touched.join(broadcast(keys.toSeq.toDF("prefix")), Seq("prefix"), "left_anti")
          .unionByName(rows)
      }

    def prefixTable(name: String, base: String, sortCols: Seq[String],
        build: (String, Set[String]) => DataFrame): Unit =
      if (!staysEmpty(facetOverride = false).contains(name)) {
        dag.step("refresh:" + name, Seq(deltaBuilt, batch.step)) {
          val keys = batch.get
          if (keys.nonEmpty) orInto(name, sortCols, keys, build(deltaDir, keys))
        }
        dag.step("rebuild:" + name, Seq("refresh:" + name, merged(base), diff.step)) {
          val d = diff.get
          if (d.changed.nonEmpty)
            replaceIn(name, sortCols, d.changed, build(dir, d.changed intersect d.now))
        }
      }
    prefixTable(T.WordPrefixDocids, T.WordDocids, Seq("prefix"),
      buildWordPrefixDocids)
    prefixTable(T.ExactWordPrefixDocids, T.ExactWordDocids, Seq("prefix"),
      buildExactWordPrefixDocids)
    prefixTable(T.WordPrefixPositionDocids, T.WordPositionDocids,
      Seq("prefix", "position"), buildWordPrefixPositionDocids)

    // both prefix-pair tables (prefixes of ≤ 2 characters) from one pass
    // per step
    val pairTables = Seq(T.WordPrefixPairProximityDocids -> Seq("prefix", "w1", "prox"),
      T.PrefixWordPairProximityDocids -> Seq("prefix", "w2", "prox"))
    def pairs(base: String, keys: Set[String]): Seq[DataFrame] = {
      val (wordPrefix, prefixWord) = buildPrefixPairTablesBoth(base, keys)
      Seq(wordPrefix, prefixWord)
    }
    val fromDelta = dag.value("refresh:prefix_pairs", Seq(deltaBuilt, batch.step)) {
      val keys = IndexBuilder.pairPrefixes(batch.get)
      if (keys.isEmpty) Map.empty[String, DataFrame]
      else pairTables.map(_._1).zip(pairs(deltaDir, keys)).toMap
    }
    pairTables.foreach { case (name, sortCols) =>
      dag.step("refresh:" + name, Seq(fromDelta.step)) {
        fromDelta.get.get(name).foreach(
          orInto(name, sortCols, IndexBuilder.pairPrefixes(batch.get), _))
      }
    }
    dag.step("rebuild:prefix_pairs", pairTables.map("refresh:" + _._1) ++
        Seq(merged(T.WordPairProximityDocids), diff.step)) {
      val d = diff.get
      val keys = IndexBuilder.pairPrefixes(d.changed)
      if (keys.nonEmpty) pairTables.zip(pairs(dir, keys intersect d.now))
        .foreach { case ((name, sortCols), rows) => replaceIn(name, sortCols, keys, rows) }
    }

    // facet levels: each field in the batch rebuilds whole with the bulk
    // builder over the merged doc_facet table, so a refreshed tree has the
    // shape a from-scratch build gives it. milli's value-incremental insert
    // (incremental.rs) saves work only where single keys can be written; a
    // parquet table must read every level of a touched field anyway, so
    // the bulk rebuild is both the simpler and the cheaper path here. The
    // level tables are field-major sorted: only files whose footer field
    // interval meets the batch's fields are opened, and the files of every
    // other field carry over byte-for-byte. A batch with no value for the
    // table (its delta footers count no row) launches no job.
    def refreshLevels(name: String, deltaBase: String,
        build: Option[Seq[String]] => DataFrame): Unit =
      dag.step("refresh:" + name, Seq(merged(deltaBase))) {
        val deltaPath = s"$deltaDir/$deltaBase"
        if (Manifest.parquetRowCount(spark, deltaPath) > 0) {
          val delta = read(deltaPath).select($"field")
          val fields = delta.distinct().as[String].collect().toSeq
          TableIO.mergeTouchedFiles(spark, path(name), delta, "field", fields) { (touched, _) =>
            touched.where(!$"field".isin(fields: _*)).unionByName(build(Some(fields)))
              .repartitionByRange(col("field"), col("level"), col("bound"))
              .sortWithinPartitions("field", "level", "bound")
          }
        }
      }
    refreshLevels(T.FacetNumberLevels, T.DocFacetNumbers, buildFacetNumberLevels(dir, _))
    refreshLevels(T.FacetStringLevels, T.DocFacetStrings, buildFacetStringLevels(dir, _))
  }

  private def finishBuild(
      manifest: Manifest,
      taskAgg: java.util.concurrent.ConcurrentHashMap[Int, Array[Long]],
      stageGroup: java.util.concurrent.ConcurrentHashMap[Int, String],
      dir: String,
      t0: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val stages = taskAgg.asScala
    val totals = Array(0L, 0L, 0L, 0L, 0L)
    stages.values.foreach(a => (0 until 5).foreach(i => totals(i) += a(i)))
    manifest.recordTaskMetrics(dir, stages.size, totals(0), totals(1),
      totals(2), totals(3), totals(4))
    // per-BUILD-STAGE executor time (job-group attribution): the compute
    // cost of each table independent of job-queue wait — the number to
    // read when diagnosing scaling efficiency
    stages.toSeq
      .groupBy { case (sid, _) => stageGroup.getOrDefault(sid, "?") }
      .toSeq.sortBy(-_._2.map(_._2(4)).sum)
      .foreach { case (group, ss) =>
        val t = new Array[Long](6)
        ss.foreach { case (_, a) => a.indices.foreach(i => t(i) += a(i)) }
        Manifest.appendLine(dir,
          s"""{"table":"__stage__","name":"$group","tasks":${t(0)},""" +
            s""""records_read":${t(1)},"records_written":${t(2)},""" +
            s""""bytes_written":${t(3)},"executor_ms":${t(4)},"gc_ms":${t(5)}}""")
      }
    SettingsIO.save(dir, settings) // self-describing index dir
    manifest.finish((System.nanoTime() - t0) / 1e9, settings, dir)
  }
}

object IndexBuilder extends Serializable {

  /** A build registered by `buildOn`: after the run, `release` drops its caches
    * and restores the session; `finish` writes a full build's manifest. */
  private[index] final case class BuildRun(release: () => Unit, finish: () => Manifest)

  /** The prefix dictionary before a batch and after it. */
  private[index] final case class PrefixDiff(old: Set[String], now: Set[String]) {
    /** The prefixes the dictionary gained or lost. */
    def changed: Set[String] = (now -- old) ++ (old -- now)
  }

  /** The dictionary steps of an `addDocuments` refresh, by their results:
    * the batch's prefixes in the old dictionary, and the dictionary diff. */
  private[index] final case class PrefixRefresh(
      batch: DagRunner.Value[Set[String]], diff: DagRunner.Value[PrefixDiff])

  /** The prefixes the prefix-pair tables keep: those of at most 2 code
    * points (prefix_word_pairs/mod.rs:17-18). */
  private[index] def pairPrefixes(prefixes: Set[String]): Set[String] =
    prefixes.filter(p => p.codePointCount(0, p.length) <= 2)

  /** The prefixes of `word` of 1 to `maxLen` characters, counted in code
    * points as Spark's `length` and `substr` count them. */
  private[index] def prefixesOf(word: String, maxLen: Int): Iterator[String] = {
    val n = math.min(word.codePointCount(0, word.length), maxLen)
    Iterator.range(1, n + 1).map(i => word.substring(0, word.offsetByCodePoints(0, i)))
  }

  /** [[graft.core.Facets.normalizeFacet]] over a string column, null kept:
    * the `norm` of `doc_facet_strings` is the filter's own normalization. */
  private val normalizeFacetUdf = udf((s: String) =>
    if (s == null) null else graft.core.Facets.normalizeFacet(s))

  /** Target rows per file of a facet level table: a tree of up to 65,536
    * rows writes one file, a larger one fans out up to the shuffle
    * parallelism. */
  @volatile private[index] var FacetLevelRowsPerFile: Long = 65536 // var: specs shrink it

  /** Test hook: run `f` with [[FacetLevelRowsPerFile]] at `n`, restored after. */
  private[index] def withFacetLevelRowsPerFile[A](n: Long)(f: => A): A = {
    val saved = FacetLevelRowsPerFile
    FacetLevelRowsPerFile = n
    try f finally FacetLevelRowsPerFile = saved
  }

  /** The schema of `geo_cells`. */
  private val GeoCellsDdl = "cell bigint, docid int, lat double, lng double"

  /** Distinct-key cap at which [[pairProximityPartials]] and
    * [[wordPositionPartials]] flush their per-partition map: 4M packed-long
    * keys stay within a task's executor memory share while keeping the
    * flushed partial runs few. */
  val PartialFlushKeys: Int = 4 << 20

  /** Group doc-contiguous DwpRow iterators by docid without shuffling. */
  def groupConsecutive(it: Iterator[DwpRow]): Iterator[(Int, Seq[DwpRow])] =
    new Iterator[(Int, Seq[DwpRow])] {
      private val src = it.buffered
      override def hasNext: Boolean = src.hasNext
      override def next(): (Int, Seq[DwpRow]) = {
        val docid = src.head.docid
        val buf = mutable.ArrayBuffer.empty[DwpRow]
        while (src.hasNext && src.head.docid == docid) buf += src.next()
        (docid, buf.toSeq)
      }
    }

  /** (docid, fid, word_count ≤ 10) rows, computed per doc with no shuffle. */
  def perDocFidWordCounts(spark: SparkSession, dwp: Dataset[DwpRow]): DataFrame = {
    import spark.implicits._
    dwp.mapPartitions { it =>
      groupConsecutive(it).flatMap { case (docid, rows) =>
        val byFid = mutable.HashMap.empty[Int, Int]
        rows.foreach(_.positions.foreach { p =>
          val fid = p >>> 16
          val wc = (p & 0xffff) + 1
          if (wc > byFid.getOrElse(fid, 0)) byFid(fid) = wc
        })
        byFid.iterator.collect { case (fid, wc) if wc <= 10 => (docid, fid, wc) }
      }
    }.toDF("docid", "fid", "word_count")
  }

  /** (docid, doclen) rows, per doc, no shuffle. */
  def perDocStats(spark: SparkSession, dwp: Dataset[DwpRow]): DataFrame = {
    import spark.implicits._
    dwp.mapPartitions { it =>
      groupConsecutive(it).map { case (docid, rows) =>
        (docid, rows.iterator.map(_.positions.length.toLong).sum)
      }
    }.toDF("docid", "doclen")
  }

  /** Full vocabulary with df (posting rows), exact_only (words occurring
    * solely in exact_attributes fields — not typo-derivable), and ttf
    * (total position count — the serving gate's BYTE estimate: a stop
    * word's forward rows are ~ttf ints, not ~df rows, so a row-count gate
    * alone under-prices it). Shared by the build stage and hardDelete's
    * recount over the purged forward index. */
  def termDictFromDwp(spark: SparkSession, dwp: DataFrame,
      exactFids: Set[Int]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val efSeq = exactFids.toSeq.map(Integer.valueOf)
    val hasTolerant = if (exactFids.isEmpty) lit(true)
      else exists($"positions", p => !(shiftright(p, 16).isin(efSeq: _*)))
    dwp.select($"word", $"docid", hasTolerant.as("tolerant_occ"),
        size($"positions").cast("long").as("occ"))
      .groupBy($"word")
      .agg(count(lit(1)).as("df"),
        (sum(when(col("tolerant_occ"), 1).otherwise(0)) === 0).as("exact_only"),
        sum($"occ").as("ttf"))
      .repartitionByRange(col("word")).sortWithinPartitions("word")
  }

  /** Posting blocks from an ALREADY (word, docid)-sorted source (the
    * committed word-major `doc_word_positions`): encode each partition's
    * consecutive word runs directly — zero shuffle. A scan partition can
    * concatenate several files in any order, so a word may appear as more
    * than one sorted run, adjacent or not (disjoint docid ranges from the
    * range write); each run encodes as its own fragment and the
    * first-docid block ids keep the per-word global order, exactly as
    * with the salted shuffle. */
  def buildPostingBlocksFromSorted(spark: SparkSession, sortedDwp: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    sortedDwp
      .select(col("word"), col("docid"), size(col("positions")).as("tf").cast("int"))
      .as[(String, Int, Int)]
      .mapPartitions(encodeRuns)
      .toDF("word", "block_id", "bytes", "max_docid", "max_tf", "count")
      .sortWithinPartitions("word", "block_id")
  }

  /** Per-document plane sweep producing min proximity (1..7) per ordered
    * word pair — a direct re-expression of
    * `document_word_positions_into_sorter`
    * (`extract_word_pair_proximity_docids.rs:85-152`): a min-heap of
    * per-word position iterators, window of 7 entries, head paired with the
    * tail, plus same-word consecutive-occurrence pairs.
    */
  def pairProximities(rows: Seq[DwpRow]): Map[(String, String), Int] = {
    val nWords = rows.length
    if (nWords == 0) return Map.empty
    if (nWords >= (1 << 20)) return pairProximitiesHeap(rows) // can't pack
    val out = pairProximitiesPacked(rows)
    val b = Map.newBuilder[(String, String), Int]
    out.foreachEntry { (key, prox) =>
      b += (((rows((key >>> 20).toInt).word, rows((key & 0xFFFFF).toInt).word), prox))
    }
    b.result()
  }

  /** [[pairProximities]] core over LOCAL word indices: returns a map keyed
    * `(w1Idx << 20 | w2Idx)` (indices into `rows`) → min proximity. Callers
    * that already intern words (the partial-combine extraction) translate
    * indices without touching strings per pair. Requires
    * `rows.length < 2^20` (callers fall back to [[pairProximitiesHeap]]).
    */
  def pairProximitiesPacked(rows: Seq[DwpRow]): scala.collection.mutable.LongMap[Int] = {
    // Fast path: the heap algorithm's observable output re-derived from a
    // flat position-sorted array (see [[pairProximitiesHeap]] for the
    // line-faithful port and the equivalence argument):
    //  - every stream's "current position" when position p is head equals
    //    that word's first occurrence after p (positions are unique, heads
    //    are consumed in global position order);
    //  - the 7-entry window = head + the first 6 DISTINCT other words in
    //    flat order after p; entries at cross-attribute or distance ≥ 8
    //    never emit, and since distance is monotone along the sorted array
    //    the walk can stop there outright;
    //  - same-word consecutive pairs are emitted on head advance
    //    regardless of the window, i.e. exactly the consecutive pairs of
    //    each row's own sorted positions array.
    // This turns ~12 O(log k) heap operations + tuple allocations per
    // token into a ≤ 8-entry primitive forward scan (the stage was 53% of
    // total build executor time as the heap port).
    val nWords = rows.length
    var total = 0
    rows.foreach { r => total += r.positions.length }
    var k = 0
    val out = new scala.collection.mutable.LongMap[Int](math.max(16, total))
    @inline def putMin(w1: Int, w2: Int, prox: Int): Unit = {
      val key = (w1.toLong << 20) | w2
      if (out.getOrElse(key, Int.MaxValue) > prox) out(key) = prox
    }
    // same-word consecutive-occurrence pairs: directly from each row
    k = 0
    rows.foreach { r =>
      val ps = r.positions
      var i = 1
      while (i < ps.length) {
        val prox = Proximity.positionsProximity(ps(i - 1), ps(i))
        if (prox > 0 && prox < Proximity.MaxDistance) putMin(k, k, prox)
        i += 1
      }
      k += 1
    }
    // flat (position, wordIdx) packed into longs, globally position-sorted
    val flat = new Array[Long](total)
    var n = 0
    k = 0
    rows.foreach { r =>
      val ps = r.positions
      var i = 0
      while (i < ps.length) { flat(n) = (ps(i).toLong << 20) | k; n += 1; i += 1 }
      k += 1
    }
    java.util.Arrays.sort(flat)
    val seenEpoch = new Array[Int](nWords)
    var epoch = 0
    var i = 0
    while (i < n) {
      epoch += 1
      val pi = (flat(i) >>> 20).toInt
      val wi = (flat(i) & 0xFFFFF).toInt
      val attrI = pi >>> 16
      val idxI = pi & 0xFFFF
      var others = 0
      var j = i + 1
      while (j < n && others < 6) {
        val pj = (flat(j) >>> 20).toInt
        if ((pj >>> 16) != attrI || (pj & 0xFFFF) - idxI >= Proximity.MaxDistance) {
          j = n // monotone along the sorted array: nothing later can emit
        } else {
          val wj = (flat(j) & 0xFFFFF).toInt
          if (wj != wi && seenEpoch(wj) != epoch) {
            seenEpoch(wj) = epoch
            others += 1
            val d = (pj & 0xFFFF) - idxI
            if (d > 0) putMin(wi, wj, d)
          }
          j += 1
        }
      }
      i += 1
    }
    out
  }

  /** Growable primitive int buffer for map-side partial posting sets —
    * appended in ascending docid order so the filled prefix is a sorted
    * distinct set ready for [[Bitmaps.cboSerializeInts]]. */
  final class IntBuf(var arr: Array[Int], var n: Int) {
    def add(v: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length << 1)
      arr(n) = v
      n += 1
    }
  }
  object IntBuf {
    def of(v: Int): IntBuf = {
      val b = new IntBuf(new Array[Int](2), 0)
      b.add(v)
      b
    }
  }

  /** Per-partition pair-proximity extraction WITH local combine — the
    * grenad-sorter twin for this table: the sweep's raw per-doc pair
    * emissions (~16× the distinct (w1,w2,prox) group count) collapse into
    * a partition-local map of roaring bitmaps BEFORE anything reaches an
    * encoder or the shuffle. Words intern once per partition; pair keys
    * pack as `(w1 << 33 | w2 << 3 | prox)` longs, so the hot loop does no
    * string hashing and no tuple allocation. The map flushes to partial
    * (w1, w2, prox, cbo-bitmap) rows at `flushKeys` entries (memory bound,
    * like grenad's max-memory sorter dumps); downstream one range shuffle
    * + [[mergePairPartialRuns]] produces the final table.
    */
  def pairProximityPartials(
      it: Iterator[DwpRow],
      flushKeys: Int = PartialFlushKeys): Iterator[(String, String, Int, Array[Byte])] = {
    val intern = new mutable.AnyRefMap[String, Int]()
    val internWords = new mutable.ArrayBuffer[String]()
    // per-key docid buffer: docids arrive strictly ascending (doc-contiguous
    // input over docid-sorted partitions), so a growable int array IS the
    // sorted set — no per-key RoaringBitmap until a key outgrows the raw-u32
    // cbo form. ~5 fewer allocations per key on the dominant ≤7-id path.
    val agg = new mutable.LongMap[IndexBuilder.IntBuf]()
    def internOf(w: String): Int =
      intern.getOrElseUpdate(w, { internWords += w; internWords.length - 1 })
    def add(w1: Int, w2: Int, prox: Int, docid: Int): Unit = {
      val key = (w1.toLong << 33) | (w2.toLong << 3) | prox
      val buf = agg.getOrNull(key)
      if (buf == null) agg(key) = IndexBuilder.IntBuf.of(docid)
      else buf.add(docid)
    }
    def addDoc(docid: Int, rows: Seq[DwpRow]): Unit = {
      val nWords = rows.length
      if (nWords == 0) return
      if (nWords < (1 << 20)) {
        val localToIntern = new Array[Int](nWords)
        var k = 0
        rows.foreach { r => localToIntern(k) = internOf(r.word); k += 1 }
        pairProximitiesPacked(rows).foreachEntry { (key, prox) =>
          add(localToIntern((key >>> 20).toInt),
            localToIntern((key & 0xFFFFF).toInt), prox, docid)
        }
      } else {
        pairProximitiesHeap(rows).foreach { case ((w1, w2), prox) =>
          add(internOf(w1), internOf(w2), prox, docid)
        }
      }
    }
    def drain(): Iterator[(String, String, Int, Array[Byte])] = {
      if (agg.isEmpty) return Iterator.empty
      val buf = new mutable.ArrayBuffer[(String, String, Int, Array[Byte])](agg.size)
      agg.foreachEntry { (key, ids) =>
        buf += ((internWords((key >>> 33).toInt),
          internWords(((key >>> 3) & ((1L << 30) - 1)).toInt),
          (key & 7).toInt, Bitmaps.cboSerializeInts(ids.arr, ids.n)))
      }
      agg.clear()
      buf.iterator
    }
    val docs = groupConsecutive(it)
    new Iterator[(String, String, Int, Array[Byte])] {
      private var batch: Iterator[(String, String, Int, Array[Byte])] = Iterator.empty
      private def pump(): Unit =
        while (!batch.hasNext && (docs.hasNext || agg.nonEmpty)) {
          while (docs.hasNext && agg.size < flushKeys) {
            val (docid, rows) = docs.next()
            addDoc(docid, rows)
          }
          batch = drain()
        }
      override def hasNext: Boolean = { pump(); batch.hasNext }
      override def next(): (String, String, Int, Array[Byte]) = { pump(); batch.next() }
    }
  }

  /** Per-partition (word, position) → docids partial combine — the same
    * grenad-sorter shape as [[pairProximityPartials]] for the
    * word-position table: packed `wordIdx << 32 | position` keys, docids
    * appended ascending, flush-capped. Replaces a 10^8-position explode
    * through the encoder + hash agg + second range shuffle with one
    * shuffle of pre-merged partials. */
  def wordPositionPartials(
      it: Iterator[DwpRow],
      flushKeys: Int = PartialFlushKeys): Iterator[(String, Int, Array[Byte])] = {
    val intern = new mutable.AnyRefMap[String, Int]()
    val internWords = new mutable.ArrayBuffer[String]()
    val agg = new mutable.LongMap[IntBuf]()
    def drain(): Iterator[(String, Int, Array[Byte])] = {
      if (agg.isEmpty) return Iterator.empty
      val buf = new mutable.ArrayBuffer[(String, Int, Array[Byte])](agg.size)
      agg.foreachEntry { (key, ids) =>
        buf += ((internWords((key >>> 32).toInt), key.toInt,
          Bitmaps.cboSerializeInts(ids.arr, ids.n)))
      }
      agg.clear()
      buf.iterator
    }
    new Iterator[(String, Int, Array[Byte])] {
      private var batch: Iterator[(String, Int, Array[Byte])] = Iterator.empty
      private def pump(): Unit =
        while (!batch.hasNext && (it.hasNext || agg.nonEmpty)) {
          while (it.hasNext && agg.size < flushKeys) {
            val r = it.next()
            val w = intern.getOrElseUpdate(r.word,
              { internWords += r.word; internWords.length - 1 })
            val ps = r.positions
            var i = 0
            while (i < ps.length) {
              val key = (w.toLong << 32) | (ps(i).toLong & 0xFFFFFFFFL)
              val buf = agg.getOrNull(key)
              if (buf == null) agg(key) = IntBuf.of(r.docid)
              else buf.add(r.docid)
              i += 1
            }
          }
          batch = drain()
        }
      override def hasNext: Boolean = { pump(); batch.hasNext }
      override def next(): (String, Int, Array[Byte]) = { pump(); batch.next() }
    }
  }

  /** Reduce side of [[wordPositionPartials]]: range-partitioned rows sorted
    * on (word, position); equal-key runs OR together streaming. */
  def mergeWordPositionRuns(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[(String, Int, Array[Byte])] =
    new Iterator[(String, Int, Array[Byte])] {
      private val src = it.buffered
      override def hasNext: Boolean = src.hasNext
      override def next(): (String, Int, Array[Byte]) = {
        val h = src.next()
        val w = h.getString(0); val pos = h.getInt(1)
        var single = h.getAs[Array[Byte]](2)
        var bm: RoaringBitmap = null
        while (src.hasNext && src.head.getString(0) == w && src.head.getInt(1) == pos) {
          val bytes = src.next().getAs[Array[Byte]](2)
          if (bm == null) { bm = Bitmaps.cboDeserialize(single); single = null }
          bm.or(Bitmaps.cboDeserialize(bytes))
        }
        (w, pos, if (bm == null) single else Bitmaps.cboSerialize(bm))
      }
    }

  /** Per-partition per-WORD combine feeding three tables from ONE dwp scan
    * and ONE shuffle: word_docids (tolerant-occurrence bitmap + df),
    * exact_word_docids (exact-occurrence bitmap), term_dict (df,
    * exact_only, ttf). Emits (word, tolerantBytes, exactBytes, df,
    * tolerantDf, ttf) partials; docids append ascending per key. */
  def wordAggPartials(
      it: Iterator[DwpRow],
      exactFids: Set[Int]): Iterator[(String, Array[Byte], Array[Byte], Long, Long, Long)] = {
    final class Acc {
      var tol: IntBuf = null
      var exa: IntBuf = null
      var df = 0L
      var tolDf = 0L
      var ttf = 0L
    }
    val agg = new mutable.AnyRefMap[String, Acc]()
    val noExact = exactFids.isEmpty
    it.foreach { r =>
      val a = agg.getOrElseUpdate(r.word, new Acc)
      val ps = r.positions
      var tolerant = noExact
      var exact = false
      if (!noExact) {
        var i = 0
        while (i < ps.length && !(tolerant && exact)) {
          if (exactFids(ps(i) >>> 16)) exact = true else tolerant = true
          i += 1
        }
      }
      if (tolerant) {
        if (a.tol == null) a.tol = IntBuf.of(r.docid) else a.tol.add(r.docid)
        a.tolDf += 1
      }
      if (exact) {
        if (a.exa == null) a.exa = IntBuf.of(r.docid) else a.exa.add(r.docid)
      }
      a.df += 1
      a.ttf += ps.length
    }
    val empty = Array.emptyByteArray
    val buf = new mutable.ArrayBuffer[(String, Array[Byte], Array[Byte], Long, Long, Long)](agg.size)
    agg.foreachEntry { (w, a) =>
      buf += ((w,
        if (a.tol == null) empty else Bitmaps.cboSerializeInts(a.tol.arr, a.tol.n),
        if (a.exa == null) empty else Bitmaps.cboSerializeInts(a.exa.arr, a.exa.n),
        a.df, a.tolDf, a.ttf))
    }
    buf.iterator
  }

  /** Reduce side of [[wordAggPartials]]: word-sorted runs fold into
    * (word, tolerant docids, tolerant cardinality, exact docids, df,
    * exact_only, ttf) — one row per word, in word order. */
  def mergeWordAggRuns(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[(String, Array[Byte], Long, Array[Byte], Long, Boolean, Long)] =
    new Iterator[(String, Array[Byte], Long, Array[Byte], Long, Boolean, Long)] {
      private val src = it.buffered
      override def hasNext: Boolean = src.hasNext
      override def next(): (String, Array[Byte], Long, Array[Byte], Long, Boolean, Long) = {
        val w = src.head.getString(0)
        var tol: RoaringBitmap = null
        var tolSingle: Array[Byte] = null
        var exa: RoaringBitmap = null
        var exaSingle: Array[Byte] = null
        var df = 0L
        var tolDf = 0L
        var ttf = 0L
        while (src.hasNext && src.head.getString(0) == w) {
          val r = src.next()
          val tb = r.getAs[Array[Byte]](1)
          if (tb.nonEmpty) {
            if (tolSingle == null && tol == null) tolSingle = tb
            else {
              if (tol == null) { tol = Bitmaps.cboDeserialize(tolSingle); tolSingle = null }
              tol.or(Bitmaps.cboDeserialize(tb))
            }
          }
          val eb = r.getAs[Array[Byte]](2)
          if (eb.nonEmpty) {
            if (exaSingle == null && exa == null) exaSingle = eb
            else {
              if (exa == null) { exa = Bitmaps.cboDeserialize(exaSingle); exaSingle = null }
              exa.or(Bitmaps.cboDeserialize(eb))
            }
          }
          df += r.getLong(3)
          tolDf += r.getLong(4)
          ttf += r.getLong(5)
        }
        val tolBytes = if (tol != null) Bitmaps.cboSerialize(tol)
          else if (tolSingle != null) tolSingle else Array.emptyByteArray
        val exaBytes = if (exa != null) Bitmaps.cboSerialize(exa)
          else if (exaSingle != null) exaSingle else Array.emptyByteArray
        // one dwp row per (word, docid) → the tolerant bitmap's
        // cardinality IS the tolerant row count
        (w, tolBytes, tolDf, exaBytes, df, tolDf == 0L, ttf)
      }
    }

  /** Lazy bitmap-union accumulator for partial combines whose inputs are
    * already-serialized cbo bitmaps: a single contribution passes its bytes
    * through untouched (byte-identical, zero decode), a second deserializes
    * and ORs. */
  final class BmAcc {
    private var single: Array[Byte] = null
    private var bm: RoaringBitmap = null
    def add(bytes: Array[Byte]): Unit =
      if (bm != null) bm.or(Bitmaps.cboDeserialize(bytes))
      else if (single == null) single = bytes
      else {
        bm = Bitmaps.cboDeserialize(single)
        single = null
        bm.or(Bitmaps.cboDeserialize(bytes))
      }
    def bytes: Array[Byte] =
      if (bm != null) Bitmaps.cboSerialize(bm) else single
  }

  /** Partition-local combine for the prefix-pair tables (#8/#9): input is
    * the committed pair table's (prox, w1, w2, docids) rows — already
    * (w1, w2)-sorted, so each partition's key set is nearly disjoint from
    * its neighbours' — and ONE pass emits partials for #8 (prefix of w2)
    * AND #9 (prefix of w1) together, so the pair table — the build's
    * biggest derived input — is scanned and cbo-decoded once instead of
    * once per table. Prefix len ≤ 2 (prefix_word_pairs/mod.rs:17-18).
    * DIVERGENCE: the reference also caps prox ≤ 4 and degrades prefix
    * proximity beyond it (`criteria/mod.rs:656-707`); we keep the full
    * stored prox range 1..7 so the serving prefix-pair path
    * (`GraftIndex.pairProxPrefixBitmaps`) is pure point reads — no
    * query-time ranged aggregation over the pair table, ever. Long-range
    * pairs are the rarest rows, so the extra storage is small. The side
    * rides in the prox int (`sprox = prox | side<<3`, side 0 =
    * word_prefix_pair, side 1 = prefix_word_pair; prox ≤ 7 so the ranges
    * 1..7 / 9..15 never collide), which keeps the downstream shuffle +
    * [[mergePairPartialRuns]] run-walk shared verbatim. Output tuples are
    * (prefix, word, sprox, partial) — prefix-major, matching both tables'
    * on-disk sort (prefix, word, prox). */
  def prefixPairPartialsBoth(
      rows: Iterator[org.apache.spark.sql.Row],
      prefixes: Set[String],
      flushKeys: Int = 1 << 20): Iterator[(String, String, Int, Array[Byte])] = {
    val intern = new mutable.AnyRefMap[String, Int]()
    val internWords = new mutable.ArrayBuffer[String]()
    val agg = new mutable.LongMap[BmAcc]()
    def internOf(w: String): Int =
      intern.getOrElseUpdate(w, { internWords += w; internWords.length - 1 })
    def drain(): Iterator[(String, String, Int, Array[Byte])] = {
      if (agg.isEmpty) return Iterator.empty
      val buf = new mutable.ArrayBuffer[(String, String, Int, Array[Byte])](agg.size)
      agg.foreachEntry { (key, acc) =>
        buf += ((internWords((key >>> 34).toInt),
          internWords(((key >>> 4) & ((1L << 30) - 1)).toInt),
          (key & 15).toInt, acc.bytes))
      }
      agg.clear()
      buf.iterator
    }
    new Iterator[(String, String, Int, Array[Byte])] {
      private var batch: Iterator[(String, String, Int, Array[Byte])] = Iterator.empty
      private def pump(): Unit =
        while (!batch.hasNext && (rows.hasNext || agg.nonEmpty)) {
          while (rows.hasNext && agg.size < flushKeys) {
            val r = rows.next()
            val prox = r.getInt(0)
            if (prox <= 7) {
              val w1 = r.getString(1)
              val w2 = r.getString(2)
              var side = 0
              while (side <= 1) {
                val base = if (side == 0) w2 else w1
                val word = if (side == 0) w1 else w2
                val lim = math.min(base.length, 2)
                var n = 1
                while (n <= lim) {
                  val p = base.substring(0, n)
                  if (prefixes(p)) {
                    val a = internOf(p)
                    val b = internOf(word)
                    val key = (a.toLong << 34) | (b.toLong << 4) |
                      ((side << 3) | prox)
                    val acc = agg.getOrNull(key)
                    val bytes = r.getAs[Array[Byte]](3)
                    if (acc == null) { val x = new BmAcc; x.add(bytes); agg(key) = x }
                    else acc.add(bytes)
                  }
                  n += 1
                }
                side += 1
              }
            }
          }
          batch = drain()
        }
      override def hasNext: Boolean = { pump(); batch.hasNext }
      override def next(): (String, String, Int, Array[Byte]) = { pump(); batch.next() }
    }
  }

  /** Partition-local combine for word_prefix_position_docids: input is the
    * committed (word, position, docids) table — word-sorted — and output is
    * (prefix, position, partial-bitmap) for every dictionary prefix of the
    * word up to `maxPrefixLength`. */
  def prefixPositionPartials(
      rows: Iterator[org.apache.spark.sql.Row],
      prefixes: Set[String],
      maxPrefixLength: Int,
      flushKeys: Int = 1 << 20): Iterator[(String, Int, Array[Byte])] = {
    val intern = new mutable.AnyRefMap[String, Int]()
    val internWords = new mutable.ArrayBuffer[String]()
    val agg = new mutable.LongMap[BmAcc]()
    def drain(): Iterator[(String, Int, Array[Byte])] = {
      if (agg.isEmpty) return Iterator.empty
      val buf = new mutable.ArrayBuffer[(String, Int, Array[Byte])](agg.size)
      agg.foreachEntry { (key, acc) =>
        buf += ((internWords((key >>> 32).toInt), key.toInt, acc.bytes))
      }
      agg.clear()
      buf.iterator
    }
    new Iterator[(String, Int, Array[Byte])] {
      private var batch: Iterator[(String, Int, Array[Byte])] = Iterator.empty
      private def pump(): Unit =
        while (!batch.hasNext && (rows.hasNext || agg.nonEmpty)) {
          while (rows.hasNext && agg.size < flushKeys) {
            val r = rows.next()
            val w = r.getString(0)
            val lim = math.min(w.length, maxPrefixLength)
            var n = 1
            while (n <= lim) {
              val p = w.substring(0, n)
              if (prefixes(p)) {
                val pi = intern.getOrElseUpdate(p,
                  { internWords += p; internWords.length - 1 })
                val key = (pi.toLong << 32) | (r.getInt(1).toLong & 0xFFFFFFFFL)
                val acc = agg.getOrNull(key)
                val bytes = r.getAs[Array[Byte]](2)
                if (acc == null) { val x = new BmAcc; x.add(bytes); agg(key) = x }
                else acc.add(bytes)
              }
              n += 1
            }
          }
          batch = drain()
        }
      override def hasNext: Boolean = { pump(); batch.hasNext }
      override def next(): (String, Int, Array[Byte]) = { pump(); batch.next() }
    }
  }

  /** Reduce side of the pair-proximity build: rows arrive range-partitioned
    * and sorted on (w1, w2, prox); equal-key runs OR together in one
    * streaming pass (single-partial runs — the overwhelming majority —
    * pass their cbo bytes through untouched). The k-way grenad merge,
    * re-expressed as a sorted-run walk.
    */
  def mergePairPartialRuns(
      it: Iterator[org.apache.spark.sql.Row]): Iterator[(Int, String, String, Array[Byte])] =
    new Iterator[(Int, String, String, Array[Byte])] {
      private val src = it.buffered
      override def hasNext: Boolean = src.hasNext
      override def next(): (Int, String, String, Array[Byte]) = {
        val h = src.next()
        val w1 = h.getString(0); val w2 = h.getString(1); val prox = h.getInt(2)
        var single = h.getAs[Array[Byte]](3)
        var bm: RoaringBitmap = null
        while (src.hasNext && src.head.getString(0) == w1 &&
            src.head.getString(1) == w2 && src.head.getInt(2) == prox) {
          val bytes = src.next().getAs[Array[Byte]](3)
          if (bm == null) { bm = Bitmaps.cboDeserialize(single); single = null }
          bm.or(Bitmaps.cboDeserialize(bytes))
        }
        (prox, w1, w2, if (bm == null) single else Bitmaps.cboSerialize(bm))
      }
    }

  /** Line-faithful heap port of `document_word_positions_into_sorter`
    * (`extract_word_pair_proximity_docids.rs:85-152`) — the oracle for
    * [[pairProximities]]' flat-walk reformulation, and its fallback for
    * pathological documents with ≥ 2^20 distinct words. */
  def pairProximitiesHeap(rows: Seq[DwpRow]): Map[(String, String), Int] = {
    final case class Peeked(word: String, var position: Int, it: Iterator[Int])
    implicit val ord: Ordering[Peeked] = Ordering.by[Peeked, Int](_.position).reverse
    val heap = mutable.PriorityQueue.empty[Peeked]
    rows.foreach { r =>
      val it = r.positions.iterator // already sorted
      if (it.hasNext) heap.enqueue(Peeked(r.word, it.next(), it))
    }
    val out = mutable.HashMap.empty[(String, String), Int]
    @inline def put(k: (String, String), prox: Int): Unit =
      out.get(k) match {
        case Some(p) if p <= prox => ()
        case _                    => out(k) = prox
      }
    val window = mutable.ArrayBuffer.empty[Peeked]
    while (heap.nonEmpty) {
      window.clear()
      while (heap.nonEmpty && window.length < 7) window += heap.dequeue()
      val head = window.head
      var i = 1
      while (i < window.length) {
        val other = window(i)
        val prox = Proximity.positionsProximity(head.position, other.position)
        if (prox > 0 && prox < Proximity.MaxDistance) put((head.word, other.word), prox)
        i += 1
      }
      // push the tail back
      i = 1
      while (i < window.length) { heap.enqueue(window(i)); i += 1 }
      // advance the head within its own word stream
      if (head.it.hasNext) {
        val next = head.it.next()
        val prox = Proximity.positionsProximity(head.position, next)
        if (prox > 0 && prox < Proximity.MaxDistance) put((head.word, head.word), prox)
        head.position = next
        heap.enqueue(head)
      }
    }
    out.toMap
  }

  /** Facet level tree, bulk path (`update/facet/bulk.rs:26-160`): level 0 =
    * one bitmap per (field, value); level n groups `FACET_GROUP_SIZE` = 4
    * consecutive level n−1 entries keyed by their left bound; a field stops
    * growing levels when the next level would hold fewer than
    * `FACET_MIN_LEVEL_SIZE` = 5 groups. Input: (field, bound, docid) with
    * `bound` orderable (double or string). */
  def buildFacetLevels(spark: SparkSession, input: DataFrame,
      register: DataFrame => DataFrame = identity): DataFrame = {
    val F = graft.functions.GraftFunctions
    val GroupSize = 4
    val MinLevelSize = 5
    // Per-field value rank WITHOUT a per-field window (which lands every
    // value of one field on a single task — a high-cardinality facet at
    // 10^9 docs would single-thread the build): range-partition + sort by
    // (field, bound) gives a total order; per-(partition, field) entry
    // counts (one tiny projection-only job) turn into driver-side prefix
    // offsets, so every partition knows each row's rank within its field.
    //
    // ALL upper levels then build in ONE partition-local combine pass +
    // ONE merge aggregation (the same partial-bitmap pattern as the pair
    // tables): a level-ℓ group covers L0 ranks [g·4^ℓ, (g+1)·4^ℓ), so a
    // partition emits per-level partials for the groups it overlaps (≤ 2
    // boundary fragments per level) and `bitmap_union_agg` merges them.
    // Replaces the former per-level loop (groupBy + persist + driver
    // collect PER LEVEL — ~25 jobs/789 tasks per table at bench scale, the
    // whole build's critical path) with 4 jobs total, and drops no
    // parallelism: the partial pass is as wide as the data.
    // L0 in ONE exchange: partition-local (field, bound) → bitmap combine,
    // range shuffle of the pre-merged partials, streaming sorted-run merge
    // (the wordPositionPartials pattern) — replaces hash-agg exchange +
    // range exchange with a single range exchange of combined rows.
    val boundType = input.schema("bound").dataType
    val isDouble =
      boundType == org.apache.spark.sql.types.DoubleType
    val partialSchema0 = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("field",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("bound", boundType),
      org.apache.spark.sql.types.StructField("partial",
        org.apache.spark.sql.types.BinaryType)))
    val l0Partials = spark.createDataFrame(
      input.rdd.mapPartitions { it =>
        val m = mutable.HashMap.empty[(String, Any), RoaringBitmap]
        it.foreach { r =>
          // Spark's groupBy normalizes -0.0 to 0.0 for float keys
          // (NormalizeFloatingNumbers) — match it so boxed-key equality
          // can't split a value group the old hash aggregation merged
          val b0 = r.get(1)
          val b = if (isDouble && b0 != null &&
              b0.asInstanceOf[Double] == 0.0) java.lang.Double.valueOf(0.0)
            else b0
          m.getOrElseUpdate((r.getString(0), b), new RoaringBitmap())
            .add(r.getInt(2))
        }
        m.iterator.map { case ((f, b), bm) =>
          org.apache.spark.sql.Row(f, b, Bitmaps.cboSerialize(bm)) }
      }, partialSchema0)
    val sortedRows = l0Partials
      .repartitionByRange(col("field"), col("bound"))
      .sortWithinPartitions("field", "bound")
      .rdd.mapPartitions { it =>
        new Iterator[org.apache.spark.sql.Row] {
          private val src = it.buffered
          override def hasNext: Boolean = src.hasNext
          override def next(): org.apache.spark.sql.Row = {
            val first = src.next()
            val f = first.getString(0)
            val b = first.get(1)
            var bm: RoaringBitmap = null
            while (src.hasNext && src.head.getString(0) == f &&
                src.head.get(1) == b) {
              if (bm == null)
                bm = Bitmaps.cboDeserialize(first.getAs[Array[Byte]](2))
              bm.or(Bitmaps.cboDeserialize(src.next().getAs[Array[Byte]](2)))
            }
            val bytes =
              if (bm == null) first.getAs[Array[Byte]](2)
              else Bitmaps.cboSerialize(bm)
            org.apache.spark.sql.Row(f, b, bytes)
          }
        }
      }
    val sorted = register(spark.createDataFrame(sortedRows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("field",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("bound", boundType),
          org.apache.spark.sql.types.StructField("docids",
            org.apache.spark.sql.types.BinaryType))))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // pass 1: per-(partition, field) counts — projection only, reads the
    // cache, partition indices align with the full-row pass below (narrow)
    val partCounts: Array[(Int, Seq[(String, Long)])] =
      sorted.select("field").rdd.mapPartitionsWithIndex { (pid, it) =>
        val buf = mutable.ArrayBuffer[(String, Long)]()
        var curF: String = null
        var n = 0L
        it.foreach { r =>
          val f = r.getString(0)
          if (f != curF) { if (curF != null) buf += ((curF, n)); curF = f; n = 0L }
          n += 1
        }
        if (curF != null) buf += ((curF, n))
        Iterator((pid, buf.toSeq))
      }.collect()
    // prefix offsets: rank of each partition's first row per field
    val startRank = mutable.Map.empty[(Int, String), Long]
    val n0 = mutable.Map.empty[String, Long]
    partCounts.sortBy(_._1).foreach { case (pid, fields) =>
      fields.foreach { case (f, n) =>
        val so = n0.getOrElse(f, 0L)
        startRank((pid, f)) = so
        n0(f) = so + n
      }
    }
    // levels to build per field: level ℓ exists while the level ℓ−1 entry
    // count ceil(n0 / 4^(ℓ−1)) is ≥ GroupSize·MinLevelSize (same rule as
    // the reference's bulk facet build, update/facet/mod.rs:75-77)
    def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
    val maxLevel: Map[String, Int] = n0.toMap.map { case (f, n) =>
      var lv = 0
      while (ceilDiv(n, 1L << (2 * lv)) >= GroupSize * MinLevelSize) lv += 1
      f -> lv
    }
    val l0 = sorted.select(col("field"), col("bound"), col("docids"))
      .withColumn("level", lit(0))
      .withColumn("group_size", lit(1))
    val all =
      if (!maxLevel.values.exists(_ >= 1)) l0
      else {
        val partialSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("field",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("bound", boundType),
          org.apache.spark.sql.types.StructField("level",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("grp",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("partial",
            org.apache.spark.sql.types.BinaryType)))
        val bStart = spark.sparkContext.broadcast(startRank.toMap)
        val bMax = spark.sparkContext.broadcast(maxLevel)
        // pass 2: streaming partial emission — completed groups flush as
        // soon as their L0 rank range is exhausted, so task memory holds
        // one open accumulator per level, never the partition's output
        val partialsRdd = sorted.rdd.mapPartitionsWithIndex { (pid, rows) =>
          new Iterator[org.apache.spark.sql.Row] {
            private val pending =
              mutable.Queue.empty[org.apache.spark.sql.Row]
            private var curF: String = null
            private var rank = 0L
            private var maxL = 0
            private var accG: Array[Long] = null
            private var accBound: Array[Any] = null
            private var accBm: Array[RoaringBitmap] = null
            private def flush(lv: Int): Unit = if (accBm(lv) != null) {
              pending += org.apache.spark.sql.Row(curF, accBound(lv), lv,
                accG(lv), Bitmaps.cboSerialize(accBm(lv)))
              accBm(lv) = null
            }
            private def flushAll(): Unit =
              if (curF != null) (1 to maxL).foreach(flush)
            private def pump(): Unit =
              while (pending.isEmpty && rows.hasNext) {
                val r = rows.next()
                val f = r.getString(0)
                if (f != curF) {
                  flushAll()
                  curF = f
                  rank = bStart.value((pid, f))
                  maxL = bMax.value.getOrElse(f, 0)
                  accG = new Array[Long](maxL + 1)
                  accBound = new Array[Any](maxL + 1)
                  accBm = new Array[RoaringBitmap](maxL + 1)
                }
                if (maxL >= 1) {
                  val bm = Bitmaps.cboDeserialize(r.getAs[Array[Byte]](2))
                  var lv = 1
                  var g = rank >> 2
                  while (lv <= maxL) {
                    if (accBm(lv) != null && accG(lv) != g) flush(lv)
                    if (accBm(lv) == null) {
                      accG(lv) = g; accBound(lv) = r.get(1)
                      accBm(lv) = new RoaringBitmap()
                    }
                    accBm(lv).or(bm)
                    lv += 1
                    g >>= 2
                  }
                }
                rank += 1
                if (!rows.hasNext) flushAll()
              }
            override def hasNext: Boolean = { pump(); pending.nonEmpty }
            override def next(): org.apache.spark.sql.Row = {
              pump(); pending.dequeue()
            }
          }
        }
        import scala.jdk.CollectionConverters._
        val countsDf = spark.createDataFrame(
          n0.toSeq.map { case (f, n) => org.apache.spark.sql.Row(f, n) }
            .asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("field",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n0__",
              org.apache.spark.sql.types.LongType, nullable = false))))
        // group_size (= child count at level ℓ−1, ≤ 4) is deterministic
        // from the field's L0 entry count — no partial count aggregation:
        // children(ℓ−1) = ceil(n0 / 4^(ℓ−1)); this group holds the child
        // indices [4g, min(4g+4, children))
        val upper = spark.createDataFrame(partialsRdd, partialSchema)
          .groupBy(col("field"), col("level"), col("grp"))
          .agg(min(col("bound")).as("bound"),
            F.bitmap_union_agg(col("partial")).as("docids"))
          .join(broadcast(countsDf), Seq("field"))
          .withColumn("children__", expr(
            "(n0__ + shiftleft(1L, 2*(level-1)) - 1) div shiftleft(1L, 2*(level-1))"))
          .withColumn("group_size",
            least(lit(4L), col("children__") - col("grp") * 4).cast("int"))
          .select(col("field"), col("bound"), col("docids"), col("level"),
            col("group_size"))
        l0.unionByName(upper)
      }
    // field-major range sort: per-file footer field intervals let the
    // incremental refresh carry untouched fields' FILES over byte-for-byte
    // (TableIO.mergeTouchedFiles) and let the FacetLevels reader's ranged
    // per-level fetches footer-prune to one field's band. Partition count
    // derives from the (known) L0 entry count instead of inheriting
    // spark.sql.shuffle.partitions — a 20k-row tree writes one file, a
    // 10^8-row tree still fans out up to the configured parallelism.
    val totalL0 = n0.values.sum
    val outParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      ceilDiv(totalL0 * 4 / 3 + 1, FacetLevelRowsPerFile))).toInt
    all.repartitionByRange(outParts, col("field"), col("level"), col("bound"))
      .sortWithinPartitions("field", "level", "bound")
  }

  /** Encode (word, docid, tf) rows into FOR blocks: one shuffle on word,
    * blocks built inside `mapPartitions` over word-sorted runs. */
  def buildPostingBlocksFromTf(spark: SparkSession, tf: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // SALTED repartition-and-sort-within-partitions (north rule): RANGE
    // partitioning on (word, docid) splits a hot term's postings across
    // partitions by docid span — at 10^12 docs no single reducer ever
    // holds a stop word's full 10^11-entry posting list (a plain
    // repartition(word) would hang the build on exactly those words) —
    // while every partition still holds word-grouped docid-sorted runs,
    // so encoding stays a consecutive-run scan. The block id is the
    // block's FIRST docid: ids stay globally docid-ordered per word across
    // partition fragments without a second labeling pass (consumers sort
    // by id and push id In-lists; none assume dense 0-based ids).
    val sorted = tf.repartitionByRange(col("word"), col("docid"))
      .sortWithinPartitions("word", "docid")
    sorted.select($"word", $"docid", $"tf".cast("int"))
      .as[(String, Int, Int)]
      .mapPartitions(encodeRuns)
      .toDF("word", "block_id", "bytes", "max_docid", "max_tf", "count")
      .sortWithinPartitions("word", "block_id")
  }

  /** Encode one partition's consecutive (word, docid, tf) runs into FOR
    * blocks; block id = the block's first docid. A run ends where the word
    * changes or the docid stops rising: a scan partition packs files in no
    * docid order, so a word split over several files continues as a new
    * run (its own fragment) rather than one unsorted posting list. */
  private def encodeRuns(it: Iterator[(String, Int, Int)])
      : Iterator[(String, Int, Array[Byte], Int, Int, Int)] =
    new Iterator[(String, Int, Array[Byte], Int, Int, Int)] {
      private val src = it.buffered
      private val pending =
        mutable.Queue.empty[(String, Int, Array[Byte], Int, Int, Int)]
      private def refill(): Unit = {
        if (pending.isEmpty && src.hasNext) {
          val word = src.head._1
          val postings = mutable.ArrayBuffer.empty[(Int, Int)]
          while (src.hasNext && src.head._1 == word &&
              (postings.isEmpty || src.head._2 > postings.last._1))
            postings += { val r = src.next(); (r._2, r._3) }
          val arr = postings.toArray
          graft.core.PostingBlocks.encode(arr).zipWithIndex.foreach {
            case (b, i) =>
              val blockId = arr(i * graft.core.PostingBlocks.BlockSize)._1
              pending.enqueue((word, blockId, b.bytes, b.maxDocid, b.maxTf, b.count))
          }
        }
      }
      override def hasNext: Boolean = { refill(); pending.nonEmpty }
      override def next(): (String, Int, Array[Byte], Int, Int, Int) = {
        refill(); pending.dequeue()
      }
    }
}
