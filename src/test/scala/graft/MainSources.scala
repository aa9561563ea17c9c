package graft

import java.io.File
import scala.util.matching.Regex

/** The Scala sources under `src/main`, for the guard specs that keep a
  * fold from growing back.
  */
object MainSources {

  lazy val files: Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"expected source tree at ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root)
  }

  /** The sources outside `graft/tools`. */
  lazy val outsideTools: Seq[File] = files.filterNot(_.getPath.contains("/graft/tools/"))

  def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** The text of the source at `path` under `src/main/scala`. */
  def source(path: String): String = {
    val f = new File(s"src/main/scala/$path")
    assert(f.isFile, s"expected source file at ${f.getAbsolutePath}")
    text(f)
  }

  /** Each file of `in` with its matches of `pattern`, if it has any. */
  def sites(pattern: Regex, in: Seq[File] = outsideTools): Seq[(File, Int)] =
    in.map(f => f -> pattern.findAllMatchIn(text(f)).size).filter(_._2 > 0)

  /** `sites` as `Name.scala x3` labels. */
  def labels(sites: Seq[(File, Int)], name: File => String = _.getName): Seq[String] =
    sites.map { case (f, k) => s"${name(f)} x$k" }
}
