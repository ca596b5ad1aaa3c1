package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point: one workload in one JVM, `local[nproc]`.
  *
  * {{{
  * PerfMain --workload serve|ingest --seed N --seconds S --trace 0|1 --work-dir DIR [--docs N]
  * }}}
  * The last stdout line is `PERFBENCH_RESULT {json}`. */
object PerfMain {
  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): Either[String, String] = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Set("serve", "ingest"), "workload must be serve or ingest")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight("bad --seed"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight("bad --seconds"))
      trace <- need("trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      dir <- need("work-dir")
      docs <- kv.get("docs").fold[Either[String, Int]](Right(500))(
        d => d.toIntOption.filter(_ >= 100).toRight("bad --docs"))
    } yield Args(w, seed, secs, trace == "1", dir, docs)
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        val run = new Run(spark, args, t0)
        if (args.workload == "serve") Serve.run(run) else Ingest.run(run)
        if (args.trace) {
          run.spanLayers()
          run.tracer.write(java.nio.file.Paths.get(args.workDir, "spans.jsonl"))
        }
        println("PERFBENCH_RESULT " + run.resultJson)
        0
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          1
      }
    spark.stop()
    sys.exit(code)
  }
}
