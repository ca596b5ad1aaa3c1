package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.roaringbitmap.RoaringBitmap

import graft.core.Bitmaps

/** File-granular parquet table maintenance shared by [[Updates]] and the
  * derived-table refresh: atomic swap-in replaces, footer-stats touched-file
  * merges, and zero-job file appends. This is the Spark-file-level analogue
  * of milli writing only the touched LMDB keys per update
  * (`/root/reference/milli/src/update/index_documents/typed_chunk.rs:45-216`)
  * — a batch pays IO proportional to the keys it touches, never to the
  * table it lands in. */
object TableIO {

  /** Row-group byte cap for index-table writes. Parquet's 128 MB default
    * puts a whole output file in ONE row group, so footer min/max stats
    * can't prune INSIDE a file: a point read of one hot word (or a
    * docid-restricted rank fetch within a word's span) decodes the file's
    * every row. 4 MB groups keep each footer interval tight on the tables'
    * (key, docid) sort order — serving point reads and the cells' pair
    * bitmap fetches decode only the groups whose interval matches. */
  val RowGroupBytes: Int = 4 << 20

  /** Page-row cap for the forward index (doc_word_positions) and the
    * pair-proximity table. Their key column (word, w1) is sorted + RLE'd
    * so tiny that at the default page sizing one PAGE spans a whole row
    * group — parquet's column index then can't prune inside a group and a
    * direct point read of a few words decodes every row. Capping pages at
    * 1k rows makes the column index's per-page key [min,max] the effective
    * pruning unit: a word band decodes ~1–2 pages (~1–2k rows) instead of
    * ~400k, and the cells' cold pair-bitmap read of a frequent left word
    * decodes its own pages, not whole 4 MB groups. Costs ~0.4% file size
    * in page headers; full-scan throughput unchanged (measured). */
  val DwpPageRows: Int = 1024

  /** Read index-table parquet `paths` (table dirs or files of one table)
    * with the Spark row schema stored in the first file's footer: no
    * schema-inference job, and every read of a table resolves to the same
    * plan, so a cached plan keeps matching later reads. A footer without a
    * Spark schema falls back to inference. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    paths.headOption.flatMap(p => footerSchema(spark, p)) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** The soft-deleted docids of the index at `dir`, the one reader of its
    * tombstone table. An index nobody deleted from has no such table and
    * reads as none. */
  def deletedDocids(spark: SparkSession, dir: String): RoaringBitmap = {
    val path = s"$dir/${IndexSettings.T.DeletedDocids}"
    if (!new java.io.File(path).exists()) new RoaringBitmap()
    else read(spark, path).select("docids").collect().headOption
      .map(r => Bitmaps.cboDeserialize(r.getAs[Array[Byte]](0)))
      .getOrElse(new RoaringBitmap())
  }

  /** Column-chunk codec of every index-table write, at parquet's default
    * level. Most of the index's bytes are the pair family's cbo bitmaps,
    * and the index is about 23% smaller than under Spark's default snappy.
    * Readers need no setting: parquet records the codec per column
    * chunk. */
  private val Compression = "zstd"

  /** The one writer of index tables: zstd ([[Compression]]), the serving
    * row-group cap, and fine-grained pages for the forward index and the
    * pair table (see [[DwpPageRows]]). */
  def writeParquet(df: DataFrame, path: String): Unit = {
    // tmp side dirs ("<table>__tmp") from writeOver/merge/compact must
    // keep their table's options — the dir is renamed in wholesale
    val base = path.stripSuffix("/").stripSuffix("__tmp")
    val paged = Seq(IndexSettings.T.DocWordPositions, IndexSettings.T.WordPairProximityDocids)
      .exists(t => base.endsWith("/" + t))
    val pageRows =
      if (paged) Map("parquet.page.row.count.limit" -> DwpPageRows.toString)
      else Map.empty[String, String]
    df.write.mode("overwrite")
      .option("compression", Compression)
      .option("parquet.block.size", RowGroupBytes.toString)
      .options(pageRows)
      .parquet(path)
  }

  /** Table replace: write to a side dir, then swap it in. A write that
    * fails leaves the live table as it was. */
  def writeOver(spark: SparkSession)(df: DataFrame, path: String): Unit = {
    val tmp = path + "__tmp"
    writeParquet(df, tmp)
    swapIn(tmp, path)
    invalidate(spark, path)
  }

  /** Drop any cached plan over `path` — an open handle's `.cache()` (e.g.
    * GraftIndex pins term_dict) would otherwise silently serve the
    * PRE-mutation data to every later read of the same path in this
    * session, including maintenance steps that chain table rewrites
    * (hardDelete recounts prefix_dict FROM the just-rewritten term_dict). */
  private def invalidate(spark: SparkSession, path: String): Unit =
    spark.catalog.refreshByPath(path)

  /** Table replace that can never leave the table missing: the live dir is
    * first renamed ASIDE (atomic, same filesystem), the tmp dir renamed in,
    * and only then is the old copy deleted. If the rename-in fails the old
    * dir is restored; every rename's result is checked, so a cross-device
    * tmp or an open-handle failure raises instead of silently dropping the
    * table. */
  def swapIn(tmp: String, path: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      if (!f.delete() && f.exists())
        throw new java.io.IOException(s"swapIn: failed to delete ${f.getPath}")
    }
    val target = Paths.get(path)
    val old = Paths.get(path + "__old")
    if (Files.exists(old)) rec(old.toFile) // leftover from a crashed swap
    val hadLive = Files.exists(target)
    if (hadLive) Files.move(target, old, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(Paths.get(tmp), target, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: Throwable =>
        if (hadLive) Files.move(old, target, StandardCopyOption.ATOMIC_MOVE)
        throw e
    }
    if (hadLive) rec(old.toFile)
  }

  /** UTF-8 byte comparison — the order parquet binary stats and Spark's
    * UTF8String use (code-point order), so interval tests agree exactly
    * with the per-file footer stats. */
  def utf8Cmp(x: Array[Byte], y: Array[Byte]): Int = {
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Per-file `[min, max]` byte intervals of `keyCol` read from the
    * parquet FOOTERS — zero data IO, no Spark plan (a plan-based read can
    * be silently substituted by a cached InMemoryRelation whose
    * `input_file_name` is empty, and the stats must reflect the files on
    * DISK, not a handle's cache). None = no usable stats: treated as
    * touched (conservative). Truncated footer stats only widen intervals,
    * also conservative. Iceberg manifests carry the same intervals on a
    * lakehouse deployment. */
  def fileKeyIntervals(spark: SparkSession, path: String, keyCol: String)
      : Array[(String, Option[(Array[Byte], Array[Byte])])] = {
    import scala.jdk.CollectionConverters._
    parquetFiles(path).map { f =>
      withFooter(spark, f) { footer =>
        var lo: Array[Byte] = null
        var hi: Array[Byte] = null
        var ok = true
        footer.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue) ok = false
              else {
                val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                if (lo == null || utf8Cmp(mn, lo) < 0) lo = mn
                if (hi == null || utf8Cmp(mx, hi) > 0) hi = mx
              }
            case None => ok = false
          }
        }
        (f.getAbsolutePath,
          if (ok && lo != null) Some((lo, hi)) else None)
      }
    }
  }

  /** Merge `deltaDf` into the key-sorted parquet table at `oldPath`
    * touching only the files whose `[min, max]` interval of `keyCol`
    * intersects `keys` — O(touched + delta) instead of O(table) per batch.
    * `keys` is the caller's driver-side key set: every `keyCol` value of
    * the delta, or a superset (a spare key only rewrites a file as it
    * was). Untouched files carry over byte-for-byte into the swapped-in
    * directory. No-op when `keys` is empty. */
  def mergeTouchedFiles(spark: SparkSession,
      oldPath: String, deltaDf: DataFrame, keyCol: String, keys: Iterable[String])(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val keyB: Array[Array[Byte]] =
      keys.iterator.map(_.getBytes(UTF_8)).toArray.sortWith(utf8Cmp(_, _) < 0)
    if (keyB.isEmpty) return
    val stats = fileKeyIntervals(spark, oldPath, keyCol)
    def touched(iv: Option[(Array[Byte], Array[Byte])]): Boolean = iv match {
      case None => true // no stats: must assume the file holds delta keys
      case Some((loB, hiB)) =>
        // first delta key ≥ lo, then ≤ hi ⇒ the intervals intersect
        var a = 0; var b = keyB.length
        while (a < b) {
          val m = (a + b) >>> 1
          if (utf8Cmp(keyB(m), loB) < 0) a = m + 1 else b = m
        }
        a < keyB.length && utf8Cmp(keyB(a), hiB) <= 0
    }
    val (touchedF, keepF) = stats.partition(s => touched(s._2))
    val tmp = oldPath + "__tmp"
    val touchedDf =
      if (touchedF.isEmpty) read(spark, oldPath).limit(0)
      else read(spark, touchedF.map(_._1): _*)
    writeParquet(merge(touchedDf, deltaDf), tmp)
    keepF.foreach { case (f, _) =>
      val src = java.nio.file.Paths.get(f)
      java.nio.file.Files.copy(src,
        java.nio.file.Paths.get(tmp, src.getFileName.toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    swapIn(tmp, oldPath)
    invalidate(spark, oldPath)
  }

  /** The Spark row schema stored in the footer of the first parquet file of
    * `path` (a table dir or one file). None when there is no parquet file
    * or the footer carries no Spark schema. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    parquetFiles(path).headOption.flatMap(f => withFooter(spark, f) { footer =>
      Option(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(json => DataType.fromJson(json).asInstanceOf[StructType])
    })

  /** (name, type) of each column of `path`'s footer schema. Column
    * nullability is left out, as a parquet read makes every column
    * nullable; a nested difference only costs the caller's rewrite
    * fallback. */
  private def footerColumns(spark: SparkSession, path: String)
      : Option[Seq[(String, DataType)]] =
    footerSchema(spark, path).map(_.map(c => c.name -> c.dataType))

  private def withFooter[A](spark: SparkSession, f: java.io.File)(
      read: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try read(reader.getFooter) finally reader.close()
  }

  private def parquetFiles(path: String): Array[java.io.File] = {
    val p = new java.io.File(path)
    (if (p.isFile) Array(p) else Option(p.listFiles()).getOrElse(Array.empty[java.io.File]))
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
  }

  /** File-level append for tables that only gain rows: copy the delta's
    * parquet files that hold rows into the live dir under unique names —
    * zero Spark jobs (the schemas compare from one footer per dir), O(batch)
    * IO. Returns false (caller falls back to a reconciling union rewrite)
    * when the schemas differ or either dir has no footer schema to
    * compare. */
  def appendFiles(spark: SparkSession, oldPath: String, newPath: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val oldColumns = footerColumns(spark, oldPath)
    if (oldColumns.isEmpty || oldColumns != footerColumns(spark, newPath)) return false
    val files = parquetFiles(newPath).filter(f =>
      withFooter(spark, f)(_.getBlocks.asScala.exists(_.getRowCount > 0)))
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    files.foreach { f =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(oldPath, s"inc-$stamp-${f.getName}"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    invalidate(spark, oldPath)
    true
  }
}
