package graft

/** The Scala sources under `src/main`, for the guard specs that keep a
  * fold from growing back.
  */
object MainSources {

  lazy val files: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected source tree at ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root)
  }

  def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
}
