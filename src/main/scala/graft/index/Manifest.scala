package graft.index

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Build checkpoint manifest + lineage/metrics log (north rule:
  * "resumable from per-partition checkpoints with lineage and metrics").
  *
  * Each completed table commit appends one JSON line to
  * `_graft_manifest.jsonl` under the index dir: table name, row count,
  * build seconds, bytes on disk, rows/sec. A resumed build skips tables
  * whose entry exists AND whose parquet `_SUCCESS` marker is present.
  * The table is the checkpoint unit: parquet commits are atomic, so a
  * crashed build never records a half-written table.
  */
final class Manifest private (entries: mutable.LinkedHashMap[String, Manifest.Entry]) {
  import Manifest._

  def isDone(table: String, dir: String): Boolean =
    entries.contains(table) && Files.exists(Paths.get(s"$dir/$table/_SUCCESS"))

  def record(table: String, rows: Long, seconds: Double, dir: String,
      startOffsetSec: Double = -1.0): Unit = {
    val bytes = dirSize(Paths.get(s"$dir/$table"))
    val e = Entry(table, rows, seconds, bytes, startOffsetSec)
    entries(table) = e
    append(dir, e.toJson)
  }

  def finish(totalSeconds: Double, settings: IndexSettings, dir: String): Unit = {
    val total = entries.values.map(_.bytes).sum
    append(dir,
      s"""{"table":"__build__","rows":${entries.values.map(_.rows).sum},""" +
        s""""seconds":$totalSeconds,"bytes":$total,""" +
        s""""searchable":${settings.searchableFields.mkString("[\"", "\",\"", "\"]")}}""")
  }

  def apply(table: String): Option[Entry] = entries.get(table)
  def tables: Seq[String] = entries.keys.toSeq

  /** Aggregated per-task lineage metrics of one build run (north rule:
    * docs/sec, postings/sec, bytes — recorded per task, reported per run). */
  def recordTaskMetrics(dir: String, stages: Int, tasks: Long, recordsRead: Long,
      recordsWritten: Long, bytesWritten: Long, executorMs: Long): Unit =
    Manifest.append(dir,
      s"""{"table":"__tasks__","stages":$stages,"tasks":$tasks,""" +
        s""""records_read":$recordsRead,"records_written":$recordsWritten,""" +
        s""""bytes_written":$bytesWritten,"executor_ms":$executorMs}""")
}

object Manifest {
  final case class Entry(table: String, rows: Long, seconds: Double, bytes: Long,
      startOffsetSec: Double = -1.0) {
    def toJson: String = {
      val rate = if (seconds > 0) rows / seconds else 0.0
      val start = if (startOffsetSec >= 0) s""","start":$startOffsetSec""" else ""
      s"""{"table":"$table","rows":$rows,"seconds":$seconds,"bytes":$bytes,"rows_per_sec":$rate$start}"""
    }
  }

  private def path(dir: String) = Paths.get(s"$dir/_graft_manifest.jsonl")

  /** Delete the manifest of `dir`: a later load lists no table. */
  private[index] def drop(dir: String): Unit = Files.deleteIfExists(path(dir))

  def load(dir: String): Manifest = {
    val m = mutable.LinkedHashMap.empty[String, Entry]
    val p = path(dir)
    if (Files.exists(p)) {
      Files.readAllLines(p).asScala.foreach { line =>
        // minimal parse: we wrote these lines, keys are fixed
        def field(k: String): Option[String] = {
          val i = line.indexOf(s""""$k":""")
          if (i < 0) None
          else {
            val start = i + k.length + 3
            val rest = line.substring(start).dropWhile(c => c == '"')
            Some(rest.takeWhile(c => c != ',' && c != '}' && c != '"'))
          }
        }
        for {
          t <- field("table") if t != "__build__"
          r <- field("rows")
          s <- field("seconds")
          b <- field("bytes")
        } m(t) = Entry(t, r.toLong, s.toDouble, b.toLong)
      }
    }
    new Manifest(m)
  }

  /** Update lineage + VERSION BUMP: every committed update appends one line,
    * so the manifest's (mtime, length) is a reliable index-version stamp —
    * serving handles pin it at open (GraftIndex.checkFresh) and `Main serve`
    * rotates on it. Also the audit trail of what changed the index when. */
  def recordUpdate(dir: String, kind: String, detail: String): Unit =
    append(dir, s"""{"table":"__update__","kind":"$kind","detail":"$detail"}""")

  /** Append one raw JSON line (per-stage task metrics). */
  def appendLine(dir: String, line: String): Unit = append(dir, line)

  private def append(dir: String, line: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(path(dir), (line + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Row count from parquet footers only — no data scan. */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    val it = fs.listStatus(p).iterator
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try total += reader.getRecordCount
        finally reader.close()
      }
    }
    total
  }

  private def dirSize(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
