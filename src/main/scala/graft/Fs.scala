package graft

/** Local-filesystem helpers shared by the streaming sinks and the scale
  * soak (r9 review: three private copies of the same recursive delete had
  * accumulated — a fix applied to one would silently miss the others). */
object Fs {
  /** Delete `f` and everything under it. Symlinks are deleted, never
    * followed (`listFiles` on a dangling link returns null, and deleting
    * the link itself is the right behavior for scratch trees). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** The subdirectories of `root` whose names start with `prefix`, sorted
    * by name — what the glob `root/prefix*` matches, listed here so a
    * reader gets explicit paths: Spark probes a single read path for a
    * streaming-sink log, and on a glob that probe logs a
    * FileNotFoundException stack trace for the literal pattern. */
  def subdirs(root: String, prefix: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.getPath).sorted
}
