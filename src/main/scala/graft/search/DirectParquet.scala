package graft.search

import com.github.luben.zstd.ZstdDecompressCtx
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.compression.CompressionCodecFactory.{BytesInputCompressor, BytesInputDecompressor}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopCodecs, HadoopInputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary

/** Driver-side parquet POINT READER for the serving tier — the Spark twin
  * of milli's LMDB gets taken one level deeper: a cold bitmap / posting
  * point read opens the footer-pruned row groups of the (key-sorted) index
  * table directly instead of scheduling a Spark job, eliminating the
  * per-fetch job floor + Catalyst planning (~50–150 ms per cold fetch,
  * measured — the dominant cold first-touch cost). This is exactly what a
  * serving node does in a real deployment: the index lives on shared
  * storage, point reads are file reads, and the DISTRIBUTED scan remains
  * the path for everything that isn't a point read (and the fallback if
  * any direct read fails — callers must treat this reader as an
  * optimization, never a semantic dependency).
  *
  * Scale: tables are written key-sorted with ≤ 4 MB row groups
  * (`TableIO.writeParquet`), so a point read touches O(log files) footers
  * (cached per handle) + the 1–2 row groups whose [min, max] key range
  * overlaps the requested keys, independent of total corpus size.
  *
  * The footer cache is per-handle and version-pinned like every other
  * serving cache: updates commit new table directories and the staleness
  * guard poisons stale handles, so cached footers can never silently serve
  * a newer table's files.
  */
object DirectParquet {

  /** Observability: completed direct reads / failed-and-fell-back reads
    * (specs pin that point reads actually run direct, not silently on the
    * Spark fallback). */
  val reads = new java.util.concurrent.atomic.AtomicLong()
  val fallbacks = new java.util.concurrent.atomic.AtomicLong()

  /** Rows actually decoded (post page-pruning) — specs assert that a
    * docid-restricted point read of a fat word run decodes its wanted
    * PAGES, not the run. */
  val rowsDecoded = new java.util.concurrent.atomic.AtomicLong()

  /** Fault seam: the next [[scanBands]] over this table throws inside its
    * guard (and clears the seam), so specs can drive one read site's
    * Spark-scan fallback on a live handle. Set only via [[withFailingRead]]. */
  private val failNextRead = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Test hook: run `f` with the next direct read of `table` (a directory
    * name) forced to fail; cleared in `finally` even when no read ran. */
  private[search] def withFailingRead[A](table: String)(f: => A): A = {
    failNextRead.set(table)
    try f finally failNextRead.set(null)
  }

  private val conf = new Configuration(false) // local FS only — no cluster conf

  /** Page decompression of the direct reads. parquet-mr decodes a zstd
    * page through a new decompression stream, which creates and frees a
    * native zstd context for every page, and the forward index and the
    * pair table are written in 1k-row pages of a few KB. Here a zstd page
    * decodes in one call on a pooled zstd-jni context, one per concurrent
    * decode. Other codecs go to parquet-mr's factory, made per reader. */
  private final class PageCodecs extends CompressionCodecFactory {
    private var parquetMr: CompressionCodecFactory = null
    def getDecompressor(codec: CompressionCodecName): BytesInputDecompressor =
      if (codec == CompressionCodecName.ZSTD) ZstdPages
      else {
        if (parquetMr == null) parquetMr = HadoopCodecs.newFactory(0)
        parquetMr.getDecompressor(codec)
      }
    def getCompressor(codec: CompressionCodecName): BytesInputCompressor =
      throw new UnsupportedOperationException("direct reads never compress")
    def release(): Unit = if (parquetMr != null) parquetMr.release()
  }

  private object ZstdPages extends BytesInputDecompressor {
    private val contexts = new java.util.concurrent.ConcurrentLinkedQueue[ZstdDecompressCtx]()

    private def decode(src: Array[Byte], size: Int): Array[Byte] = {
      val ctx = Option(contexts.poll()).getOrElse(new ZstdDecompressCtx())
      val dst = new Array[Byte](size)
      val n = try ctx.decompressByteArray(dst, 0, size, src, 0, src.length)
        finally contexts.offer(ctx)
      if (n != size)
        throw new java.io.IOException(s"zstd page decoded to $n bytes, expected $size")
      dst
    }

    def decompress(bytes: BytesInput, size: Int): BytesInput =
      BytesInput.from(decode(bytes.toByteArray, size))

    def decompress(in: java.nio.ByteBuffer, inSize: Int,
        out: java.nio.ByteBuffer, outSize: Int): Unit = {
      val src = new Array[Byte](inSize)
      in.get(src)
      out.put(decode(src, outSize))
    }

    def release(): Unit = ()
  }

  /** One row group: its file, parsed block metadata, and the key column's
    * [min, max]. The `BlockMetaData` ref is kept so point reads can hand
    * the reader a RESTRICTED pre-parsed footer — re-reading the footer per
    * open costs 10–90 ms (measured), and addressing groups by original
    * footer index is outright WRONG: the reader filters its block list at
    * open (stats/dictionary row-group filtering), so original indexes
    * shift and `readFilteredRowGroup(i)` silently returns null past the
    * filtered list's end — dropped rows, not an exception. */
  private final case class RowGroup(file: String, block: BlockMetaData,
      min: Array[Byte], max: Array[Byte], rows: Long)

  /** Unsigned byte-order comparison (parquet BINARY/UTF8 stats order —
    * identical to UTF-8 code point order, the order the builder sorted by). */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Per-table-dir footer index, built once per (handle, table). Caches
    * the parsed `FileMetaData` + `BlockMetaData` per file so point reads
    * never re-read a footer. */
  final class TableFooters(dir: String, keyCol: String) {
    private[DirectParquet] def keyColName: String = keyCol
    private[DirectParquet] val table: String = new java.io.File(dir).getName
    private[DirectParquet] val fileMeta =
      scala.collection.mutable.HashMap.empty[String, FileMetaData]
    private[DirectParquet] val groups: Array[RowGroup] = {
      val d = new java.io.File(dir)
      val files = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
      val out = Array.newBuilder[RowGroup]
      files.foreach { f =>
        val in = HadoopInputFile.fromPath(new Path(f), conf)
        val r = ParquetFileReader.open(in)
        try {
          fileMeta.put(f, r.getFooter.getFileMetaData)
          val blocks = r.getFooter.getBlocks
          var i = 0
          while (i < blocks.size()) {
            val b = blocks.get(i)
            var ci = 0
            var done = false
            while (ci < b.getColumns.size() && !done) {
              val c = b.getColumns.get(ci)
              if (c.getPath.toDotString == keyCol) {
                val st = c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  out += RowGroup(f, b,
                    st.getMinBytes, st.getMaxBytes, b.getRowCount)
                } else {
                  // no stats → never prunable; read it for every fetch
                  out += RowGroup(f, b, Array.empty, null, b.getRowCount)
                }
                done = true
              }
              ci += 1
            }
            i += 1
          }
        } finally r.close()
      }
      out.result()
    }

    /** Row groups whose [min, max] overlaps any [lo, hi] band. */
    private[DirectParquet] def overlapping(
        bands: Seq[(Array[Byte], Array[Byte])]): Seq[RowGroup] =
      groups.filter { g =>
        g.max == null || bands.exists { case (lo, hi) =>
          cmpBytes(g.min, hi) <= 0 && cmpBytes(g.max, lo) >= 0
        }
      }.toSeq
  }

  /** Number of row groups a band set would read (callers cap ranged
    * direct reads and keep the distributed aggregation beyond it). */
  def bandGroupCount(footers: TableFooters,
      bands: Seq[(Array[Byte], Array[Byte])]): Int =
    footers.overlapping(bands).length

  /** Decode pool: row-group decode is CPU-bound (page decompression +
    * Group assembly), so multi-file reads fan out here instead of running
    * single-threaded.
    * Sized cores/2, at least 4 and at most 16 threads: at 300k docs with
    * 8 concurrent cold clients the 8-client p50 fell 243 / 173 / 150 ms at
    * 8 / 12 / 16 threads with single-client latency flat, and 32 threads
    * gained nothing more — the pool, not IO, was queueing one client's
    * read behind another's (background fills run OFF this pool —
    * NOTES_ROUND5 #13b, #43). */
  private val decodeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(4, Runtime.getRuntime.availableProcessors() / 2)),
        (r: Runnable) => {
          val t = new Thread(r, "graft-direct-decode"); t.setDaemon(true); t
        }))

  /** Read every row of the row groups overlapping `bands`, handing each
    * decoded Group to `each`. Returns false when the direct read could not
    * run (caller falls back to the Spark scan). Exceptions propagate as
    * false too — the Spark path is the source of truth. */
  def scanBands(footers: TableFooters, bands: Seq[(Array[Byte], Array[Byte])],
      secondBand: Option[(String, Array[Byte], Array[Byte])] = None,
      intPoints: Option[(String, Array[Int])] = None)
      (each: Group => Unit): Boolean = {
    try {
      val failing = failNextRead.get()
      if (failing == footers.table && failNextRead.compareAndSet(failing, null))
        throw new java.io.IOException("injected direct-read fault")
      val byFile = footers.overlapping(bands).groupBy(_.file).toSeq.sortBy(_._1)
      // band predicate pushed into parquet-mr's filtered reads: column
      // indexes prune PAGES inside a row group and the record reader skips
      // filtered rows before Group assembly — a point read of a fat band
      // (a stop word's pair rows) decodes the matching pages only, not the
      // whole 4 MB group
      val keyColumn = FilterApi.binaryColumn(footers.keyColName)
      val bandPred = bands.map { case (lo, hi) =>
        FilterApi.and(
          FilterApi.gtEq(keyColumn, Binary.fromConstantByteArray(lo)),
          FilterApi.ltEq(keyColumn, Binary.fromConstantByteArray(hi)))
      }.reduce(FilterApi.or(_, _))
      // optional second-column band: on a (key, second, …)-sorted table a
      // fat key band's pages are SECOND-sorted inside the key's run, so a
      // conjunctive band on the second column lets the column index prune
      // to the matching pages instead of decoding the key's whole run
      // (e.g. pair rows (w1 = stop word, w2 startsWith prefix)). Row-group
      // SELECTION above stays keyCol-only — this only tightens page reads.
      val pred0 = secondBand.fold(bandPred) { case (c, lo, hi) =>
        val col2 = FilterApi.binaryColumn(c)
        FilterApi.and(bandPred, FilterApi.and(
          FilterApi.gtEq(col2, Binary.fromConstantByteArray(lo)),
          FilterApi.ltEq(col2, Binary.fromConstantByteArray(hi))))
      }
      // optional int-column POINT set (docid-restricted rank fetches): on
      // the (word, docid)-sorted forward index a word run's pages are
      // docid-sorted, so point predicates over the ~30 chosen docids keep
      // ~1 page per (word, docid) instead of the word's whole run. This
      // must be an OR of Eq's, NOT FilterApi.in — parquet-mr's column
      // index evaluates In by the set's [min, max] SPAN only (MinMax +
      // ltEq/gtEq, ColumnIndexBuilder.visit(In)), which a scattered docid
      // set always covers; Eq binary-searches the ascending page
      // boundaries per value. Page-prune-only like the rest of the
      // predicate: surviving pages carry neighbouring rows, callers
      // re-check keys AND docids.
      // an EMPTY point set would throw from the balanced-or below and demote
      // the read to a Spark fallback; treat it as "no restriction" instead —
      // callers re-check docids at assembly, so this is prune-only anyway.
      // The OR tree must be BALANCED (depth log n): parquet-mr evaluates
      // predicates recursively, and a left-deep fold over a large point
      // set (callers cap it at GraftIndex.DwpDocPointsMax = 256, but the
      // reader takes any size) would throw StackOverflowError — which
      // NonFatal does NOT catch, killing the decode-pool thread under an
      // Await with no timeout.
      def balancedOr(ps: IndexedSeq[FilterPredicate], lo: Int, hi: Int): FilterPredicate =
        if (hi - lo == 1) ps(lo)
        else { val mid = (lo + hi) >>> 1
               FilterApi.or(balancedOr(ps, lo, mid), balancedOr(ps, mid, hi)) }
      val pred = intPoints.filter(_._2.nonEmpty).fold(pred0) { case (c, vs) =>
        val col = FilterApi.intColumn(c)
        val eqs: IndexedSeq[FilterPredicate] =
          vs.toIndexedSeq.map(v => FilterApi.eq(col, Int.box(v)): FilterPredicate)
        FilterApi.and(pred0, balancedOr(eqs, 0, eqs.length))
      }
      val filter = FilterCompat.get(pred)
      // one task = one private reader over a CHUNK of a file's row groups —
      // a fat band inside a single file (a stop word's pair rows spanning
      // 24+ groups) decodes across the pool instead of serially behind one
      // reader. The reader gets a RESTRICTED pre-parsed footer holding
      // exactly this task's blocks: no footer IO per open (10–90 ms
      // measured), and group addressing is by CONTENT, not index — the
      // reader's own open-time row-group filtering (stats/dictionary) can
      // only drop blocks it proves empty, and readNextFilteredRowGroup()
      // walks whatever survives, so a pruned leading group can never shift
      // later groups out from under the read (the old per-index addressing
      // silently dropped them — see DirectReadSpec "pruned leading").
      def readGroups(file: String, blocks: Seq[BlockMetaData]): Unit = {
        val in = HadoopInputFile.fromPath(new Path(file), conf)
        import scala.jdk.CollectionConverters._
        val restricted = new ParquetMetadata(footers.fileMeta(file), blocks.asJava)
        // row-GROUP selection already happened against the cached footer
        // stats (this task's blocks are exactly the wanted groups), so the
        // reader's own open-time group filters are pure overhead: the
        // dictionary filter in particular READS each group's dictionary
        // pages at open to re-prove what the stats already proved — 50–105
        // ms per open on a wide OR band over the position tables
        // (measured). Keep only the column-index filter: page-level
        // pruning inside each kept group is the part we can't precompute.
        val r = new ParquetFileReader(in, restricted,
          ParquetReadOptions.builder().withRecordFilter(filter)
            .useStatsFilter(false).useDictionaryFilter(false)
            .useBloomFilter(false).withCodecFactory(new PageCodecs).build(),
          in.newStream())
        try {
          val schema = restricted.getFileMetaData.getSchema
          val colIO = new ColumnIOFactory().getColumnIO(schema)
          var pages = r.readNextFilteredRowGroup()
          while (pages != null) {
            // page pruning only: the band predicate computed the row
            // ranges above (column index), but it is NOT re-evaluated
            // per record — an OR of hundreds of point bands costs
            // O(bands) per row at assembly (measured 224k rows/s vs
            // 1.5M without). CALLERS MUST RE-CHECK KEYS in `each`:
            // surviving pages carry neighbouring rows too.
            val rec = colIO.getRecordReader(pages,
              new GroupRecordConverter(schema))
            var n = 0L
            val total = pages.getRowCount
            while (n < total) {
              val g = rec.read() // decode OUTSIDE the lock (the CPU cost)
              if (g != null)
                // `each` runs under this lock across tasks — callers
                // hand in plain map builders, not thread-safe sinks
                each.synchronized(each(g))
              n += 1
            }
            rowsDecoded.addAndGet(total)
            pages = r.readNextFilteredRowGroup()
          }
        } finally r.close()
      }
      val totalGroups = byFile.iterator.map(_._2.length).sum
      // target ~2 chunks per pool thread for balance; tiny reads stay inline
      val chunk = math.max(1, (totalGroups + 7) / 8)
      val tasks: Seq[(String, Seq[BlockMetaData])] = byFile.flatMap {
        case (f, gs) =>
          gs.map(_.block).grouped(chunk).map(c => (f, c.toSeq)).toSeq
      }
      if (tasks.length <= 1)
        tasks.foreach { case (f, is) => readGroups(f, is) }
      else {
        import scala.concurrent.Future
        implicit val ec: scala.concurrent.ExecutionContext = decodeEc
        val futs = tasks.map { case (f, is) => Future(readGroups(f, is)) }
        futs.foreach(f =>
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      }
      reads.incrementAndGet()
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        fallbacks.incrementAndGet()
        System.err.println(s"graft: direct parquet read failed, " +
          s"falling back to Spark scan: $e")
        false
    }
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Point bands for a key set: one [k, k] band per key (merged pruning
    * happens in [[TableFooters.overlapping]]). */
  def keyBands(keys: Seq[String]): Seq[(Array[Byte], Array[Byte])] =
    keys.map(k => { val b = utf8(k); (b, b) })

  /** Prefix band: [p, p·0xFF…] covers every UTF-8 key starting with p
    * (0xFF never appears in valid UTF-8, so the upper bound dominates all
    * continuations). */
  def prefixBand(p: String): (Array[Byte], Array[Byte]) = {
    val lo = utf8(p)
    (lo, lo ++ Array.fill(8)(0xff.toByte))
  }

  /** Span band [min, max] of `keys` in UTF-8 BYTE order — the order the
    * column index prunes with. java.lang.String order diverges for
    * supplementary-plane words (surrogate pairs sort below U+E000..U+FFFF
    * in UTF-16 but above them in UTF-8), and the tokenizer emits both
    * (Han unigrams incl. extensions, fullwidth/compat BMP forms) — a
    * String-ordered span can be empty or exclude a wanted key, silently
    * dropping rows with no fallback. */
  def spanBand(keys: Seq[String]): (Array[Byte], Array[Byte]) = {
    require(keys.nonEmpty, "spanBand of no keys")
    var lo: Array[Byte] = null
    var hi: Array[Byte] = null
    keys.foreach { k =>
      val b = utf8(k)
      if (lo == null || cmpBytes(b, lo) < 0) lo = b
      if (hi == null || cmpBytes(b, hi) > 0) hi = b
    }
    (lo, hi)
  }
}
