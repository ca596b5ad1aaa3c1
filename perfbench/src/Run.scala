package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.IndexSettings

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: String,
    docs: Int)

final case class Counters(spark: SparkSnap, jvm: JvmSnap) {
  def -(o: Counters): Counters = Counters(spark - o.spark, jvm - o.jvm)
  def +(o: Counters): Counters = Counters(spark + o.spark, jvm + o.jvm)
}

object Counters {
  val zero: Counters = Counters(SparkSnap(0, 0, 0, 0), JvmSnap(0, 0, 0, 0))
}

/** State of one benchmark run: the session, the ledger, the tracer, and
  * the metrics to print. */
final class Run(val spark: SparkSession, val args: Args, val t0: Long) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(args.trace)
  val ledger = new Ledger
  /** Registered in traced runs only: the untraced run carries no listener. */
  private val listener: Option[SparkCounters] =
    if (!args.trace) None
    else {
      val l = new SparkCounters
      spark.sparkContext.addSparkListener(l)
      Some(l)
    }

  val settings = IndexSettings(searchableFields = Seq("text"),
    filterableFields = Set("lang"), primaryKey = "id")
  val dir: String = s"${args.workDir}/index"

  private val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String): Unit = e2e(name) = (value, unit)
  def layerMetric(name: String, value: Double, unit: String): Unit = layer(name) = (value, unit)

  def frame(docs: Seq[Doc]): DataFrame = spark.createDataFrame(docs)

  def counters(): Counters =
    Counters(listener.map(_.snap()).getOrElse(SparkSnap(0, 0, 0, 0)), Jvm.snap())

  def sinceStart: Double = (System.nanoTime() - t0) / 1e9

  /** Step timeline on stderr, for reading a run's log. */
  def mark(step: String): Unit = System.err.println(f"[perfbench] t=$sinceStart%.1f s: $step")

  /** Spark and JVM counters `spent` in one timed phase, as per-layer metrics. */
  def phaseCounters(phase: String, spent: Counters, allocBytes: Long, ops: Long): Unit = {
    val s = spent.spark
    val j = spent.jvm
    layerMetric(s"$phase.spark_jobs", s.jobs, "count")
    layerMetric(s"$phase.spark_tasks", s.tasks, "count")
    layerMetric(s"$phase.spark_executor_ms", s.executorMs, "ms")
    layerMetric(s"$phase.gc_ms", j.gcMs, "ms")
    layerMetric(s"$phase.gc_count", j.gcCount, "count")
    layerMetric(s"$phase.jit_ms", j.jitMs, "ms")
    layerMetric(s"$phase.alloc_kb_per_query", allocBytes / 1024.0 / math.max(1L, ops), "KiB")
    layerMetric(s"$phase.rchar_mb", j.rchar / 1048576.0, "MiB")
  }

  /** Mean time per operation of each layer span, from the recorded spans. */
  def spanLayers(): Unit = {
    val spans = tracer.all
    for (phase <- Seq("cold", "hot")) {
      val in = spans.filter(_.phase == phase)
      val nRanked = math.max(1, in.count(_.name == "ranked"))
      val nBm25 = math.max(1, in.count(_.name == "bm25"))
      def total(name: String): Seq[Span] = in.filter(_.name == name)
      def meanMs(name: String, n: Int): Double = total(name).map(_.ms).sum / n
      def meanValue(name: String, n: Int): Double = total(name).map(_.value.toDouble).sum / n
      layerMetric(s"$phase.querytree_ms", meanMs("querytree", nRanked), "ms")
      layerMetric(s"$phase.derivations_ms", meanMs("derivations", nRanked), "ms")
      if (phase == "cold") {
        val nf = math.max(1, total("filter").length)
        layerMetric(s"$phase.filter_ms", meanMs("filter", nf), "ms")
      }
      layerMetric(s"$phase.dwp_get_ms", meanMs("dwp_get", nRanked), "ms")
      layerMetric(s"$phase.dwp_rows", meanValue("dwp_get", nRanked), "count")
      layerMetric(s"$phase.search_self_ms", meanMs("execute", nRanked), "ms")
      layerMetric(s"$phase.postings_get_ms", meanMs("postings_get", nBm25), "ms")
      layerMetric(s"$phase.postings_entries", meanValue("postings_get", nBm25), "count")
      layerMetric(s"$phase.bm25_self_ms", meanMs("topk", nBm25), "ms")
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def obj(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** The result line: e2e metrics untraced, per-layer metrics traced. The
    * other set goes to stderr (its e2e figures give the tracing overhead). */
  def resultJson: String = {
    val (shown, other) = if (args.trace) (layer, e2e) else (e2e, layer)
    System.err.println("[perfbench] other metrics: " + obj(other))
    s"""{"correct":${ledger.badChecks.get == 0},"attempted":${ledger.attempted.get},""" +
      s""""failed":${ledger.failed.get},"metrics":${obj(shown)}}"""
  }
}
