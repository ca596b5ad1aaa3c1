package graft.index

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The on-disk format stamp. [[IndexBuilder]] writes the format version
  * into `_graft_format` before it writes a table; the serving handle and
  * every [[Updates]] entry check it before they read one. So no reader
  * branches on what an older builder left: every table of a stamped index
  * exists, its files are zstd, the forward index and the pair table have
  * [[TableIO.DwpPageRows]]-row pages, the prefix-pair tables hold prox 1
  * to 7, and term_dict has its `ttf` and `exact_only` columns. A
  * directory that holds tables but not the current stamp is refused; a
  * build over it rewrites every table. */
object IndexFormat {

  /** The format the builder writes. */
  val Version: Int = 1

  val StampFile = "_graft_format"

  private def stampPath(dir: String) = Paths.get(dir, StampFile)

  /** Stamp `dir` with [[Version]]. */
  private[index] def stamp(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(stampPath(dir), Version.toString.getBytes(UTF_8))
  }

  /** The stamp's content, None when `dir` has none. */
  private def found(dir: String): Option[String] = {
    val p = stampPath(dir)
    if (!Files.isRegularFile(p)) None
    else Some(new String(Files.readAllBytes(p), UTF_8).trim)
  }

  /** `dir` is stamped with [[Version]]. */
  private[index] def isCurrent(dir: String): Boolean = found(dir).contains(Version.toString)

  /** `dir` holds a table the build writes. */
  private[index] def holdsIndex(dir: String): Boolean =
    IndexSettings.T.buildStages.exists(t => new java.io.File(dir, t).exists())

  /** Refuse `dir` when it holds tables without the current stamp. */
  def check(dir: String): Unit =
    if (holdsIndex(dir) && !isCurrent(dir))
      throw new IllegalStateException(
        s"index at $dir has ${found(dir).fold("no format stamp")(v => s"format '$v'")}, " +
          s"not format $Version: rebuild it with IndexBuilder.build")
}
