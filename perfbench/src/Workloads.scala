package perfbench

import scala.util.control.NonFatal

import graft.index.{IndexBuilder, Updates}
import graft.search.{GraftIndex, SearchRequest}

/** Steps shared by both workloads. */
object Common {
  final val Limit = 20

  /** The index tables whose manifest entries become per-layer metrics. */
  final val Tables: Seq[String] = Seq("documents", "doc_word_positions", "word_docids",
    "exact_word_docids", "word_prefix_docids", "exact_word_prefix_docids",
    "word_position_docids", "word_prefix_position_docids", "fid_word_count_docids",
    "doc_fid_word_counts", "word_pair_proximity_docids", "word_prefix_pair_proximity_docids",
    "prefix_word_pair_proximity_docids", "facet_string_levels", "facet_number_levels",
    "doc_facet_numbers", "doc_facet_strings", "facet_exists_docids", "doc_stats",
    "geo_cells", "term_dict", "posting_blocks", "prefix_dict")

  def files(dir: String): Seq[java.io.File] = {
    def rec(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(rec) else Seq(f)
    rec(new java.io.File(dir))
  }
  def parquetFiles(dir: String): Int = files(dir).count(_.getName.endsWith(".parquet"))
  def dirBytes(dir: String): Long = files(dir).map(_.length).sum
  def inputBytes(docs: Seq[Doc]): Long =
    docs.iterator.map(d => (d.id + d.text + d.lang).getBytes("UTF-8").length.toLong).sum

  /** Flat JSON object → field map (the manifest writes one per line). */
  def fields(line: String): Map[String, String] =
    """"(\w+)":("([^"]*)"|[^,}\]]+)""".r.findAllMatchIn(line)
      .map(m => m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))).toMap

  /** A full `IndexBuilder.build`; returns its wall seconds. */
  def build(run: Run, docs: Seq[Doc]): Double = {
    val df = run.frame(docs)
    val before = run.counters()
    run.ledger.attempt()
    val t = System.nanoTime()
    run.tracer.span("build", "IndexBuilder.build", 0L) {
      new IndexBuilder(run.spark, run.settings).build(df, run.dir, resume = false)
    }
    val wall = (System.nanoTime() - t) / 1e9
    val now = run.counters()
    val s = now.spark - before.spark
    run.layerMetric("build.wall_s", wall, "s")
    run.layerMetric("build.executor_ms", s.executorMs, "ms")
    run.layerMetric("build.tasks", s.tasks, "count")
    run.layerMetric("build.stages", s.stages, "count")
    run.layerMetric("build.gc_ms", (now.jvm - before.jvm).gcMs, "ms")
    manifestLayers(run)
    wall
  }

  /** Per-table wall time, start offset and bytes from the build manifest,
    * plus what the build spends on tables it writes with zero rows. */
  private def manifestLayers(run: Run): Unit = {
    val src = scala.io.Source.fromFile(s"${run.dir}/_graft_manifest.jsonl")
    val lines = try src.getLines().map(fields).toVector finally src.close()
    val tables = lines.filter(f => f.contains("seconds") && !f("table").startsWith("__"))
      .map(f => f("table") -> f).toMap
    val stageMs = lines.filter(_.get("table").contains("__stage__"))
      .groupMapReduce(_("name"))(_("executor_ms").toDouble)(_ + _)
    def d(f: Map[String, String], k: String): Double = f.get(k).map(_.toDouble).getOrElse(0.0)
    Tables.foreach { t =>
      val f = tables.getOrElse(t, Map.empty[String, String])
      run.layerMetric(s"build.s.$t", d(f, "seconds"), "s")
      run.layerMetric(s"build.start_s.$t", d(f, "start"), "s")
      run.layerMetric(s"build.bytes.$t", d(f, "bytes"), "bytes")
    }
    val empty = tables.values.filter(f => d(f, "rows") == 0).map(_("table")).toSeq
    run.layerMetric("build.zero_row_tables", empty.length, "count")
    run.layerMetric("build.zero_row_wall_s", empty.map(t => d(tables(t), "seconds")).sum, "s")
    run.layerMetric("build.zero_row_executor_ms", empty.map(stageMs.getOrElse(_, 0.0)).sum, "ms")
  }

  def updateLayers(run: Run, wall: Double, deleteS: Double, s: SparkSnap,
      before: Int, after: Int): Unit = {
    run.layerMetric("update.wall_s", wall, "s")
    run.layerMetric("update.delete_s", deleteS, "s")
    run.layerMetric("update.jobs", s.jobs, "count")
    run.layerMetric("update.tasks", s.tasks, "count")
    run.layerMetric("update.executor_ms", s.executorMs, "ms")
    run.layerMetric("index.files_before", before, "count")
    run.layerMetric("index.files_after", after, "count")
  }

  def openLayers(run: Run, warmS: Double, warmServingS: Double, servingHeapMb: Double): Unit = {
    val cached = run.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    run.layerMetric("open.warm_s", warmS, "s")
    run.layerMetric("open.warm_serving_s", warmServingS, "s")
    run.layerMetric("open.cached_mb", cached / 1048576.0, "MiB")
    run.layerMetric("open.serving_heap_mb", servingHeapMb, "MiB")
  }

  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** Latency metrics of the two timed phases, per-layer: the median,
    * over the phase's distinct queries of one kind, of each query's
    * fastest time; throughput; and the tail over every ranked sample. */
  def phaseMetrics(run: Run, cold: PhaseOut, hot: PhaseOut): Unit = {
    run.layerMetric("cold.rank_p50_ms", Stats.ms(Stats.p50(cold.rankedBest)), "ms")
    run.layerMetric("cold.bm25_p50_ms", Stats.ms(Stats.p50(cold.bm25Best)), "ms")
    run.layerMetric("hot.rank_p50_ms", Stats.ms(Stats.p50(hot.rankedBest)), "ms")
    run.layerMetric("hot.bm25_p50_ms", Stats.ms(Stats.p50(hot.bm25Best)), "ms")
    run.layerMetric("hot.qps", hot.qps, "1/s")
    run.layerMetric("hot.rank_tail_ms", Stats.ms(Stats.tail(hot.ranked)), "ms")
    System.err.println(f"[perfbench] samples: cold ranked ${cold.ranked.length} bm25 " +
      f"${cold.bm25.length} in ${cold.busyS}%.2f s; hot ranked ${hot.ranked.length} bm25 " +
      f"${hot.bm25.length} over ${hot.rankedBest.length} + ${hot.bm25Best.length} queries " +
      f"in ${hot.busyS}%.2f s")
  }

  /** Top-k of one ranked query equals the distributed route's: the first
    * multi-word one ending in a prefix (the widest derivations), else the
    * first multi-word one. */
  def parity(run: Run, eng: Engine, answered: Seq[(Op, Answer)]): Unit = {
    val ranked = answered.collect { case (r: Ranked, a: RankedAnswer) => (r, a) }
    val chosen = ranked.find(x => x._1.words.length > 1 && x._1.prefixLast)
      .orElse(ranked.find(_._1.words.length > 1))
    chosen.foreach { case (op, ref) =>
      run.ledger.attempt()
      try {
        val got = eng.reference.execute(eng.request(op)).documentsIds
        val want = ref.ids
        run.ledger.check(s"parity ${op.label}")(
          if (got == want) None else Some(s"distributed route $got != $want"))
      } catch { case NonFatal(e) => run.ledger.error(s"parity ${op.label}", e) }
    }
  }

  def checker(run: Run, live: LocalIndex, stats: LocalIndex, excluded: Int => Boolean): Phases.Check = {
    case (op: Ranked, RankedAnswer(ids)) =>
      run.ledger.check(op.label)(Checks.ranked(op, ids, live, Limit))
    case (op: Bm25Q, a: Bm25Answer) =>
      run.ledger.check(op.label)(Checks.bm25(op, a.hits, stats, excluded, Limit))
    case (op, a) => run.ledger.check(op.label)(Some(s"unexpected answer $a"))
  }

  /** Untimed first-touch queries on words of their own before the timed
    * phases, so that the JIT has compiled the fetch paths they time. */
  final val WarmupQueries = 8
  /** Untimed hot-set load before the hot phase. */
  final val HotWarmSeconds = 2.0
  /** `serve`'s hot set: ranked and BM25 queries on head words. */
  final val HotRanked = 40
  final val HotBm25 = 24
  /** `ingest`'s hot set, drawn the same way. */
  final val IngestHotRanked = 24
  final val IngestHotBm25 = 8
}

/** `serve`: build in set-up and warm one handle; then a cold phase of
  * first touches and a hot phase over a fixed set of head-word queries. */
object Serve {
  def run(r: Run): Unit = {
    import Common._
    val docs = r.args.docs
    val base = Corpus.base(r.args.seed, docs)
    val local = new LocalIndex(base)
    r.mark("corpus generated")
    val buildS = build(r, base)
    r.mark("built")
    val index = GraftIndex(r.spark, r.dir, r.settings)
    val (_, warmS) = timed(r.tracer.span("open", "warm", 0L)(index.warm()))
    val heap0 = if (r.tracer.enabled) Jvm.liveHeapMb() else 0.0
    val (_, warmServingS) = timed(r.tracer.span("open", "warmServing", 0L)(index.warmServing()))
    openLayers(r, warmS, warmServingS, if (r.tracer.enabled) Jvm.liveHeapMb() - heap0 else 0.0)
    val files = parquetFiles(r.dir)
    updateLayers(r, 0, 0, SparkSnap(0, 0, 0, 0), files, files)

    val eng = new Engine(index, r.tracer, Limit)
    val gen = new QueryGen(r.args.seed, local)
    val hotSet = gen.hotSet(HotRanked, HotBm25).toIndexedSeq
    val check = checker(r, local, local, _ => false)
    Phases.untimed(r, eng, gen.cold().take(WarmupQueries).toSeq, check)
    // checked reference pass: the hot set's first touches
    val refs = Phases.untimed(r, eng, hotSet, check).toArray
    r.metric("setup_s", r.sinceStart, "s")
    r.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
    r.mark("set up")

    // untimed hot load first, then the cold phase, then the timed hot
    // phase: the ranking path has run for a while before it is timed
    val order = gen.order(hotSet.length)
    Phases.warmHot(r, eng, hotSet, order, HotWarmSeconds)
    val (cold, _) = Phases.cold(r, eng, gen.cold(), r.args.seconds / 2.0, check)
    r.mark("cold phase done")
    val hot = Phases.hot(r, eng, hotSet, refs, order, r.args.seconds / 2.0)
    r.mark("hot phase done")
    phaseMetrics(r, cold, hot)
    parity(r, eng, hotSet.zip(refs).collect { case (op, Some(a)) => (op, a) })
    r.mark("parity checked")

    r.metric("build_docs_per_s", docs / buildS, "1/s")
    r.metric("write_docs_per_s", docs / buildS, "1/s")
    r.metric("index_bytes_per_input_byte", dirBytes(r.dir).toDouble / inputBytes(base), "ratio")
  }
}

/** `ingest`: set-up generates the corpus only. Timed: a full build, one
  * `addDocuments` batch (new docs plus replacements) and a `softDelete`,
  * then first-touch queries on a fresh handle over the updated, fragmented
  * index, and a hot phase over head-word queries on that handle. */
object Ingest {
  def run(r: Run): Unit = {
    import Common._
    val seed = r.args.seed
    val docs = r.args.docs
    val base = Corpus.base(seed, docs)
    val batch = UpdateBatch(seed, base, nAdd = docs / 20, nReplace = docs / 40, nDelete = docs / 100)
    val replacedIds = batch.replaced.map(_.id).toSet
    val excluded: Set[Int] = base.filter(d => replacedIds(d.id)).map(_.docid).toSet ++ batch.deleted
    val stored = base ++ batch.docs
    val statsIndex = new LocalIndex(stored)
    val live = new LocalIndex(stored.filterNot(d => excluded(d.docid)))
    r.metric("setup_s", r.sinceStart, "s")
    r.mark("set up")

    val buildS = build(r, base)
    r.mark("built")
    val filesBefore = parquetFiles(r.dir)
    val updates = new Updates(r.spark, r.settings)
    val before = r.counters()
    r.ledger.attempt(2)
    val (_, addS) = timed(r.tracer.span("update", "Updates.addDocuments", 0L)(
      updates.addDocuments(r.dir, r.frame(batch.docs), replace = true)))
    val (_, delS) = timed(r.tracer.span("update", "Updates.softDelete", 0L)(
      updates.softDelete(r.dir, batch.deleted.toSeq)))
    updateLayers(r, addS, delS, r.counters().spark - before.spark, filesBefore, parquetFiles(r.dir))
    openLayers(r, 0, 0, 0)
    r.mark("updated")

    val index = GraftIndex(r.spark, r.dir, r.settings)
    val eng = new Engine(index, r.tracer, Limit)
    val gen = new QueryGen(seed, live)
    val check = checker(r, live, statsIndex, excluded)
    // untimed warm-up on the fresh handle: its lazy state and the JIT; the
    // timed cold queries still touch words no query has touched
    Phases.untimed(r, eng, gen.cold().take(WarmupQueries).toSeq, check)
    r.metric("heap_live_mb", Jvm.liveHeapMb(), "MB")
    r.mark("fresh handle opened")
    val (cold, _) = Phases.cold(r, eng, gen.cold(), r.args.seconds * 2.0 / 3, check)
    r.mark("cold phase done")
    // hot: a smaller head-word set than serve's, since every reference
    // answer is a first touch on this unwarmed handle
    val hotSet = gen.hotSet(IngestHotRanked, IngestHotBm25).toIndexedSeq
    val refs = Phases.untimed(r, eng, hotSet, check).toArray
    val order = gen.order(hotSet.length)
    Phases.warmHot(r, eng, hotSet, order, HotWarmSeconds)
    val hot = Phases.hot(r, eng, hotSet, refs, order, r.args.seconds / 3.0)
    r.mark("hot phase done")
    phaseMetrics(r, cold, hot)
    parity(r, eng, hotSet.zip(refs).collect { case (op, Some(a)) => (op, a) })
    afterUpdate(r, eng, live, batch, base.length)
    r.mark("checked")

    r.metric("build_docs_per_s", docs / buildS, "1/s")
    val written = docs + batch.docs.length + batch.deleted.length
    r.metric("write_docs_per_s", written / (buildS + addS + delS), "1/s")
    r.metric("index_bytes_per_input_byte", dirBytes(r.dir).toDouble / inputBytes(stored), "ratio")
  }

  /** Exhaustive typo-free counts of sampled words equal brute-force live
    * document frequencies, their hits are live, and the live doc count is
    * built + added − deleted. */
  private def afterUpdate(r: Run, eng: Engine, live: LocalIndex, batch: UpdateBatch, built: Int): Unit = {
    val ws = live.byDf.filter(_.startsWith("w"))
    val fromBatch = batch.added.iterator.flatMap(_.text.split(' ')).filter(_.startsWith("w"))
      .filter(w => live.df(w) <= 3).toSeq.distinct.take(2)
    val sample = (Seq(0, 300).flatMap(ws.lift) ++ fromBatch).distinct
    sample.foreach { w =>
      r.ledger.attempt()
      try {
        val res = eng.search.execute(SearchRequest(query = Some(w + " "), limit = Common.Limit,
          authorizeTypos = false, exhaustive = true))
        r.ledger.check(s"count '$w'") {
          if (res.candidates != live.df(w)) Some(s"candidates ${res.candidates} != live df ${live.df(w)}")
          else res.documentsIds.find(d => !live.contains(d) || !live.words(d).contains(w))
            .map(d => s"hit $d is deleted or lacks '$w'")
        }
      } catch { case NonFatal(e) => r.ledger.error(s"count '$w'", e) }
    }
    r.ledger.attempt()
    try {
      val all = eng.search.execute(SearchRequest(query = None, limit = Common.Limit, exhaustive = true))
      val want = built + batch.added.length - batch.deleted.length
      r.ledger.check("live doc count")(
        if (all.candidates == want) None else Some(s"${all.candidates} live docs, expected $want"))
    } catch { case NonFatal(e) => r.ledger.error("live doc count", e) }
  }
}
