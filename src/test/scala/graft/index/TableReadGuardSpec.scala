package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Index tables are read through `TableIO.read`: a raw `.read.parquet(`
  * in the index or search code would start a schema-inference Spark job
  * per read, and its plan would not match a cached read of the same table. */
class TableReadGuardSpec extends AnyFunSuite with Matchers {

  test("graft/index and graft/search read parquet only through TableIO") {
    val raw = """\.read\s*\.parquet\(""".r
    val sources = Seq("index", "search").flatMap { pkg =>
      val d = new java.io.File(s"src/main/scala/graft/$pkg")
      withClue(s"${d.getAbsolutePath} must exist: ") { d.isDirectory shouldBe true }
      d.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    }
    sources.size should be > 10
    def lines(f: java.io.File): Seq[String] =
      java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
    val offenders = for {
      f <- sources if f.getName != "TableIO.scala"
      (line, i) <- lines(f).zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    offenders shouldBe empty
  }
}
