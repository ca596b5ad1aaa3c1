package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import graft.core.Bitmaps
import graft.functions.{GraftFunctions => F}
import graft.index.IndexSettings.T

/** Index maintenance: deletes + incremental document batches.
  *
  *  - soft delete = a tombstone bitmap table subtracted at query time,
  *    exactly milli's soft-deleted documents ids
  *    (`/root/reference/milli/src/update/delete_documents.rs:22-120`,
  *    consumed at `search/mod.rs:252`);
  *  - hard delete = rewrite every posting table subtracting the bitmap and
  *    dropping empty rows (the purge loop of delete_documents.rs:121-1167);
  *  - addDocuments = build the batch's BASE tables into a delta directory,
  *    then merge each into its live table on its own (`bitmap_union_agg`
  *    or a file append) — the distributed TypedChunk merge
  *    (`milli/src/update/index_documents/typed_chunk.rs:45-216`)
  *    — and refresh the derived tables, the prefix tables from the
  *    delta's own rows, all as one [[DagRunner]] DAG. Replace semantics:
  *    docids of replaced external ids are tombstoned first
  *    (`transform.rs:141-294`).
  */
class Updates(spark: SparkSession, settings: IndexSettings) {
  import spark.implicits._

  graft.functions.GraftFunctions.registerAll(spark)

  private def deletedPath(dir: String) = s"$dir/${T.DeletedDocids}"

  def deletedBitmap(dir: String): RoaringBitmap = TableIO.deletedDocids(spark, dir)

  /** Tombstone the given docids (idempotent, unioned with prior deletes). */
  def softDelete(dir: String, docids: Seq[Int]): RoaringBitmap = {
    IndexFormat.check(dir)
    val merged = Bitmaps.or(deletedBitmap(dir), Bitmaps.fromInts(docids))
    writeTombstone(dir, merged)
    Manifest.recordUpdate(dir, "soft_delete", s"n=${docids.length}")
    merged
  }

  /** Replace the tombstone table with `docids`. The write goes to a side
    * dir that is swapped in, so a write that fails keeps the earlier
    * tombstones: an in-place overwrite deletes them before it writes. */
  private def writeTombstone(dir: String, docids: RoaringBitmap): Unit =
    writeOver(Seq(Bitmaps.cboSerialize(docids)).toDF("docids").coalesce(1),
      deletedPath(dir))

  /** Purge soft-deleted docids from every posting table (bitmap tables get
    * `bitmap_and_not`; forward tables get an anti-filter), then clear the
    * tombstone. Each table rewrite is an independent atomic commit. */
  def hardDelete(dir: String): Unit = {
    IndexFormat.check(dir)
    val deleted = deletedBitmap(dir)
    if (deleted.isEmpty) return
    // foldable-literal operands: the tombstone set is deserialized once per
    // task by the bitmap expressions, never per row
    val delLit = lit(Bitmaps.cboSerialize(deleted))

    // a zero-row table has nothing to purge
    def rewriteBitmapTable(name: String): Unit = {
      val path = s"$dir/$name"
      if (!hasRows(path)) return
      val df = read(path)
      val out0 = df.withColumn("docids", F.bitmap_and_not($"docids", delLit))
        .where(F.bitmap_cardinality($"docids") > 0)
      // word_docids carries a materialized df column — recount it or BM25
      // idf / the gate estimates read pre-delete cardinalities
      val out = if (df.columns.contains("df"))
        out0.withColumn("df", F.bitmap_cardinality($"docids"))
      else out0
      writeOver(out, path)
    }
    def rewriteDocidTable(name: String): Unit = {
      val path = s"$dir/$name"
      if (!hasRows(path)) return
      writeOver(read(path)
        .where(!F.bitmap_contains(delLit, $"docid")), path)
    }

    // every table rewrite is an independent step; the dictionaries follow
    // the purged forward index, and the tombstone clears only after all
    // of them committed
    val dag = new DagRunner
    Seq(T.WordDocids, T.ExactWordDocids, T.WordPrefixDocids,
      T.ExactWordPrefixDocids, T.WordPositionDocids,
      T.WordPrefixPositionDocids, T.FidWordCountDocids, T.WordPairProximityDocids,
      T.WordPrefixPairProximityDocids, T.PrefixWordPairProximityDocids,
      T.FacetExistsDocids, T.FacetNumberLevels, T.FacetStringLevels)
      .foreach(t => dag.step(t)(rewriteBitmapTable(t)))
    Seq(T.Documents, T.DocWordPositions, T.DocFidWordCounts, T.DocFacetNumbers,
      T.DocFacetStrings, T.DocStats, T.GeoCells)
      .foreach(t => dag.step(t)(rewriteDocidTable(t)))
    // posting blocks: decode, filter, re-encode per word
    dag.step(T.PostingBlocks) {
      val pb = s"$dir/${T.PostingBlocks}"
      if (hasRows(pb))
        writeOver(IndexBuilder.buildPostingBlocksFromTf(spark,
          decodeTf(read(pb)).where(!F.bitmap_contains(delLit, $"docid"))), pb)
    }
    // term_dict df/ttf/exact_only recounted from the PURGED forward index
    // (delete_documents.rs purges word-level metadata the same way): a
    // stale df skews BM25 idf and the serving-gate estimates. prefix_dict
    // n_words follows from the recounted dictionary.
    val exactFids = settings.exactAttributes.flatMap(
      settings.searchableFields.zipWithIndex.toMap.get).toSet
    dag.step(T.TermDict, Seq(T.DocWordPositions)) {
      writeOver(IndexBuilder.termDictFromDwp(
        spark, read(s"$dir/${T.DocWordPositions}"), exactFids), s"$dir/${T.TermDict}")
    }
    dag.step(T.PrefixDict, Seq(T.TermDict)) {
      writeOver(new IndexBuilder(spark, settings).buildPrefixDict(dir),
        s"$dir/${T.PrefixDict}")
    }
    dag.run()
    writeTombstone(dir, new RoaringBitmap())
    Manifest.recordUpdate(dir, "hard_delete", s"n=${deleted.getLongCardinality}")
  }

  /** Truncate the whole index (ClearDocuments, update/clear_documents.rs). */
  def clear(dir: String): Unit = {
    val d = new java.io.File(dir)
    if (d.exists()) {
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rec)
        f.delete()
      }
      d.listFiles().foreach(rec)
    }
  }

  /** Incremental batch: index `newDocs` (docid already assigned, disjoint
    * from or replacing existing ids) into the index at `dir`, in place.
    * `replace`: existing docs with the same primary key are tombstoned
    * first, ahead of the DAG (the lookup reads `documents` before the
    * append). In the DAG, a delta build writes only the base tables
    * ([[deltaStages]]) into a scratch dir; once all have committed, each
    * merges into its live table on its own ([[mergeSteps]]); the prefix
    * dictionary is rebuilt and each derived table refreshes, the prefix
    * tables from the delta ([[IndexBuilder.refreshPrefixDict]],
    * [[IndexBuilder.refreshDerivedTables]]). Each step's ready, start and
    * end times go to the manifest as `__update_step__` lines. On a
    * failure the call waits for the running steps, deletes the delta and
    * rethrows: a batch that fails to build leaves the live tables as they
    * were. A directory with no index gets a build of the batch.
    *
    * After the commit, tables whose parquet file count crossed
    * `autoCompactFiles` are compacted in the same call (the Iceberg
    * auto-`rewrite_data_files` role) so `inc-` appends and touched-file
    * merge fragments can't grow file counts without bound across many
    * small batches. 0 disables (explicit `compact` / CLI only); the
    * default is [[Updates.DefaultAutoCompactFiles]] (64 files). Amortized: a
    * batch only pays for tables it itself fragmented past the threshold,
    * and a compacted table restarts the count near 1. */
  def addDocuments(dir: String, newDocs: DataFrame, replace: Boolean = true,
      autoCompactFiles: Int = Updates.DefaultAutoCompactFiles): Unit = {
    addBatch(dir, newDocs, replace, autoCompactFiles); ()
  }

  /** [[addDocuments]], returning the batch's prefix dictionary diff. */
  private[index] def addBatch(dir: String, newDocs: DataFrame, replace: Boolean = true,
      autoCompactFiles: Int = Updates.DefaultAutoCompactFiles): IndexBuilder.PrefixDiff = {
    IndexFormat.check(dir)
    val builder = new IndexBuilder(spark, settings)
    if (!IndexFormat.holdsIndex(dir)) {
      builder.build(newDocs, dir, resume = false)
      Manifest.recordUpdate(dir, "add_documents", s"replace=$replace")
      return IndexBuilder.PrefixDiff(Set.empty, builder.dictPrefixes(dir))
    }
    val pk = settings.primaryKey
    // replaced ids: same primary key in the existing documents table
    if (replace && newDocs.columns.contains(pk)) {
      val existing = read(s"$dir/${T.Documents}")
      if (existing.columns.contains(pk)) {
        val replaced = existing.join(newDocs.select(col(pk)), Seq(pk), "left_semi")
          .select($"docid").as[Int].collect()
        if (replaced.nonEmpty) softDelete(dir, replaced.toSeq)
      }
    }
    val delta = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val dag = new DagRunner
    val diff = try {
      val deltaBuild = builder.buildOn(dag, newDocs, delta, resume = false,
        facetOverride = None, tables = deltaStages(builder))
      try {
        // the batch vocabulary, collected once on the driver: every word of
        // the delta's term_dict, a superset of the keys of every word-keyed
        // delta table (w1 of the pair table included)
        val batchWords = dag.value(Updates.BatchWords, Seq(T.TermDict)) {
          read(s"$delta/${T.TermDict}").select($"word").as[String].collect()
        }
        // no live table changes before the whole delta has committed: a
        // batch that fails to build leaves the index as it was
        dag.barrier(Updates.DeltaBuilt)
        val prefixes = builder.refreshPrefixDict(dag, dir, delta, Updates.DeltaBuilt,
          batchWords)
        // the new prefix dictionary reads the live term_dict before it merges
        mergeSteps(dag, dir, delta, batchWords, termDictAfter = prefixes.diff.step)
        builder.refreshDerivedTables(dag, dir, delta, Updates.DeltaBuilt, Updates.merged,
          prefixes)
        dag.run()
        dag.timeline.foreach(t => Manifest.appendLine(dir, Updates.stepJson(t)))
        prefixes.diff.get
      } finally deltaBuild.release()
    } finally {
      // the delta index is per-batch scratch (appendFiles copies its doc-
      // keyed files into the live dir; everything else merges by value) —
      // leaving it leaked one delta index per incremental batch
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
        f.delete(); ()
      }
      rec(new java.io.File(delta))
      spark.catalog.refreshByPath(delta) // drop cached plans over dead files
    }
    Manifest.recordUpdate(dir, "add_documents", s"replace=$replace")
    if (autoCompactFiles > 0) compact(dir, maxFiles = autoCompactFiles)
    diff
  }

  /** The build stages an `addDocuments` delta writes: the base tables
    * [[mergeSteps]] merges, not the derived ones refreshed from them, and
    * not the tables the settings keep empty ([[IndexBuilder.staysEmpty]]). */
  private def deltaStages(builder: IndexBuilder): Set[String] =
    T.buildStages.toSet -- Updates.DerivedTables --
      builder.staysEmpty(facetOverride = false).keys

  /** One step per base table, named [[Updates.merged]]: it merges the delta
    * table into the live one once the whole delta build has committed
    * (term_dict also once step `termDictAfter`, which reads it, ends). A
    * table the delta lacks, or whose delta footers count no row, stays as
    * it is (no job). Word-keyed tables touch the files that hold a word of
    * `batchWords`. */
  private def mergeSteps(dag: DagRunner, dir: String, delta: String,
      batchWords: DagRunner.Value[Array[String]], termDictAfter: String): Unit = {
    def step(name: String)(merge: (String, String) => Unit): Unit =
      dag.step(Updates.merged(name), Updates.DeltaBuilt +:
          (if (name == T.TermDict) Seq(termDictAfter) else Nil)) {
        val oldPath = s"$dir/$name"; val newPath = s"$delta/$name"
        if (hasRows(newPath)) merge(oldPath, newPath)
      }
    def mergeWordKeyed(oldPath: String, newPath: String, keyCol: String)(
        merge: (DataFrame, DataFrame) => DataFrame): Unit =
      TableIO.mergeTouchedFiles(spark, oldPath, read(newPath), keyCol,
        batchWords.get)(merge)

    // word-keyed bitmap tables merge O(touched files), not O(table):
    // untouched parquet files (key ranges disjoint from the batch
    // vocabulary) carry over byte-for-byte, only overlapping files
    // re-aggregate with the delta — the Spark-file-level analogue of
    // milli writing only the touched LMDB keys (typed_chunk.rs merge).
    // `sortCols` restores each table's physical key order so footer
    // pruning keeps working on the merged output.
    def mergeBitmapTable(name: String, keys: Seq[String],
        touchKey: Option[String] = None, sortCols: Seq[String] = Nil): Unit =
      step(name) { (oldPath, newPath) =>
        def agg(a: DataFrame, b: DataFrame): DataFrame = {
          val u = a.select((keys :+ "docids").map(col): _*)
            .unionByName(b.select((keys :+ "docids").map(col): _*))
            .groupBy(keys.map(col): _*)
            .agg(F.bitmap_union_agg($"docids").as("docids"))
          val u2 = if (name == T.WordDocids)
            u.withColumn("df", F.bitmap_cardinality($"docids"))
          else u
          val sc = if (sortCols.nonEmpty) sortCols else keys
          u2.repartitionByRange(sc.map(col): _*)
            .sortWithinPartitions(sc.head, sc.tail: _*)
        }
        touchKey match {
          case Some(k) => mergeWordKeyed(oldPath, newPath, k)(agg)
          case None => writeOver(agg(read(oldPath), read(newPath)), oldPath)
        }
      }
    mergeBitmapTable(T.WordDocids, Seq("word"), touchKey = Some("word"))
    mergeBitmapTable(T.ExactWordDocids, Seq("word"), touchKey = Some("word"))
    mergeBitmapTable(T.WordPositionDocids, Seq("word", "position"),
      touchKey = Some("word"))
    // small-key tables (≤ ~10 fids × 10 counts / a handful of fields):
    // full re-aggregation is already O(small)
    mergeBitmapTable(T.FidWordCountDocids, Seq("fid", "word_count"))
    mergeBitmapTable(T.WordPairProximityDocids, Seq("prox", "w1", "w2"),
      touchKey = Some("w1"), sortCols = Seq("w1", "w2", "prox"))
    mergeBitmapTable(T.FacetExistsDocids, Seq("field"))
    // doc-keyed tables only ever GAIN rows: copy the delta's parquet files
    // into the live dir (O(batch), zero Spark jobs) instead of rewriting
    // the whole table per batch — at web scale the union-rewrite was
    // O(index) freight per update. Schema drift (documents may carry new
    // columns per batch) falls back to the reconciling union rewrite.
    Seq(T.Documents, T.DocWordPositions, T.DocFidWordCounts,
      T.DocFacetNumbers, T.DocFacetStrings, T.DocStats, T.GeoCells)
      .foreach(name => step(name) { (oldPath, newPath) =>
        if (!appendFiles(oldPath, newPath))
          writeOver(read(oldPath)
            .unionByName(read(newPath), allowMissingColumns = true), oldPath)
      })
    // term_dict: recompute df by summing per-shard dfs (words disjoint by
    // doc); ttf sums the same way. Touched-file merge: every existing row
    // for a batch word lives in a file whose [min,max] word interval
    // contains it, so summing over (touched ∪ delta) is exact; files for
    // out-of-batch words carry over.
    step(T.TermDict) { (oldPath, newPath) =>
      mergeWordKeyed(oldPath, newPath, "word") { (a, b) =>
        a.unionByName(b)
          .groupBy($"word")
          .agg(sum($"df").as("df"), min(when($"exact_only", 1).otherwise(0)).as("eo"),
            sum($"ttf").as("ttf"))
          .withColumn("exact_only", $"eo" === 1).drop("eo")
          .repartitionByRange(col("word")).sortWithinPartitions("word")
      }
    }
    // posting blocks: decode + re-encode ONLY the files containing batch
    // words; the rest of the compressed index is never read (the bytes
    // column of untouched files stays on disk — at web scale the old
    // full-decode was an O(index) rewrite per batch)
    step(T.PostingBlocks) { (oldPath, newPath) =>
      mergeWordKeyed(oldPath, newPath, "word") { (a, b) =>
        IndexBuilder.buildPostingBlocksFromTf(spark, decodeTf(a).unionByName(decodeTf(b)))
      }
    }
  }

  /** table → canonical (leading-key-first) sort columns, as written by the
    * scratch build. Incremental appends and touched-file merges accumulate
    * files whose key ranges overlap; compaction restores one range-sorted
    * file set per table. */
  private val canonicalSort: Seq[(String, Seq[String])] = Seq(
    T.Documents -> Seq("docid"),
    T.DocWordPositions -> Seq("word", "docid"),
    T.DocFidWordCounts -> Seq("docid"),
    T.DocFacetNumbers -> Seq("field", "value"),
    T.DocFacetStrings -> Seq("field", "norm"),
    T.DocStats -> Seq("docid"),
    T.GeoCells -> Seq("cell"),
    T.WordDocids -> Seq("word"),
    T.ExactWordDocids -> Seq("word"),
    T.WordPositionDocids -> Seq("word", "position"),
    T.WordPairProximityDocids -> Seq("w1", "w2", "prox"),
    T.TermDict -> Seq("word"),
    T.PrefixDict -> Seq("prefix"),
    T.WordPrefixDocids -> Seq("prefix"),
    T.ExactWordPrefixDocids -> Seq("prefix"),
    T.WordPrefixPositionDocids -> Seq("prefix", "position"),
    T.WordPrefixPairProximityDocids -> Seq("prefix", "w1", "prox"),
    T.PrefixWordPairProximityDocids -> Seq("prefix", "w2", "prox"),
    T.FacetNumberLevels -> Seq("field", "level", "bound"),
    T.FacetStringLevels -> Seq("field", "level", "bound"))

  /** Compact tables whose parquet file count exceeds `maxFiles` back to
    * their canonical range-sorted layout (and merge posting-block
    * fragments back to full 128-entry blocks). The maintenance pass that
    * bounds file-count growth from `inc-` appends and touched-file merges
    * — the Iceberg `rewrite_data_files` role. A zero-row table is left as
    * it is ([[TableIO.appendFiles]] adds no empty file to it). Content-
    * neutral; returns (table, file count before) for each compacted
    * table. */
  def compact(dir: String, maxFiles: Int = 32): Seq[(String, Int)] = {
    IndexFormat.check(dir)
    def fileCount(path: String): Int =
      Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val done = Seq.newBuilder[(String, Int)]
    canonicalSort.foreach { case (name, sortCols) =>
      val path = s"$dir/$name"
      val n = fileCount(path)
      if (n > maxFiles && hasRows(path)) {
        writeOver(read(path)
          .repartitionByRange(sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.head, sortCols.tail: _*), path)
        done += (name -> n)
      }
    }
    val pb = s"$dir/${T.PostingBlocks}"
    val n = fileCount(pb)
    if (n > maxFiles && hasRows(pb)) {
      writeOver(IndexBuilder.buildPostingBlocksFromTf(spark,
        decodeTf(read(pb))), pb)
      done += (T.PostingBlocks -> n)
    }
    val res = done.result()
    if (res.nonEmpty)
      Manifest.recordUpdate(dir, "compact", res.map(t => s"${t._1}:${t._2}").mkString(","))
    res
  }

  /** Posting-block rows decoded to one (word, docid, tf) row per posting. */
  private def decodeTf(blocks: DataFrame): DataFrame =
    blocks.select($"word", $"bytes").as[(String, Array[Byte])]
      .flatMap { case (w, bytes) =>
        graft.core.PostingBlocks.decode(bytes).iterator.map(p => (w, p._1, p._2)) }
      .toDF("word", "docid", "tf")

  // file-granular maintenance (atomic swap, footer-stats touched-file
  // merge, zero-job append) lives in [[TableIO]], shared with the derived
  // prefix-table refresh
  private def writeOver(df: DataFrame, path: String): Unit =
    TableIO.writeOver(spark)(df, path)
  private def read(path: String): DataFrame = TableIO.read(spark, path)
  /** The table at `path` exists and its footers count a row (no job). */
  private def hasRows(path: String): Boolean = Manifest.parquetRowCount(spark, path) > 0
  private def appendFiles(oldPath: String, newPath: String): Boolean =
    TableIO.appendFiles(spark, oldPath, newPath)
}

object Updates {
  /** File-count threshold above which [[Updates.addDocuments]] compacts a
    * table in the same batch. 64 files: an open reads one footer per file,
    * so this bounds that cost while a compaction stays rare across small
    * batches. Callers pass `autoCompactFiles = 0` to turn the pass off. */
  val DefaultAutoCompactFiles: Int = 64

  /** Tables derived from the base tables: `addDocuments` refreshes them
    * rather than building them into its delta. */
  private val DerivedTables: Seq[String] = Seq(T.PrefixDict, T.WordPrefixDocids,
    T.ExactWordPrefixDocids, T.WordPrefixPositionDocids,
    T.WordPrefixPairProximityDocids, T.PrefixWordPairProximityDocids,
    T.FacetNumberLevels, T.FacetStringLevels)

  /** The `addDocuments` step that collects the delta's vocabulary. */
  private val BatchWords = "delta:words"

  /** The `addDocuments` step after which every delta table has committed. */
  private val DeltaBuilt = "delta:built"

  /** The `addDocuments` step after which live table `table` holds the batch. */
  private def merged(table: String): String = s"merge:$table"

  /** One `addDocuments` step's timing as a manifest line. Its `__` table
    * name keeps the readers that list the manifest's tables off it. */
  private def stepJson(t: DagRunner.StepTime): String = {
    def s(x: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    s"""{"table":"__update_step__","name":"${t.name}",""" +
      s""""deps":${t.deps.map(d => s""""$d"""").mkString("[", ",", "]")},""" +
      s""""ready_s":${s(t.readyS)},"start_s":${s(t.startS)},"end_s":${s(t.endS)}}"""
  }
}
