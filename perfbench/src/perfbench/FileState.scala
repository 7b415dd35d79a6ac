package perfbench

import java.io.File
import java.nio.file.Files

/** File-tree helpers for the untimed state reset between ops. */
object FileState {

  def wipe(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(wipe)
    f.delete(); ()
  }

  /** Make `target` an exact copy of `pristine` (or an empty directory
    * when `pristine` does not exist). Data files are hard-linked:
    * Spark's committers write every part file once and never rewrite
    * it, so sharing the inode is safe and the reset costs only
    * metadata. Marker and metadata files (`_`/`.`-prefixed), which a
    * writer may rewrite in place, are byte-copied so no write through
    * `target` can reach the pristine copy. */
  def restore(pristine: File, target: File): Unit = {
    wipe(target)
    def rec(from: File, to: File): Unit =
      if (from.isDirectory) {
        to.mkdirs()
        from.listFiles().foreach(f => rec(f, new File(to, f.getName)))
      } else if (from.getName.startsWith("_") || from.getName.startsWith(".")) {
        Files.copy(from.toPath, to.toPath); ()
      } else {
        try { Files.createLink(to.toPath, from.toPath); () }
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(from.toPath, to.toPath); ()
        }
      }
    if (pristine.exists()) rec(pristine, target) else target.mkdirs()
    ()
  }

  /** Regular files under `f` with their paths relative to `f`. */
  def files(f: File): Seq[(String, File)] = {
    def rec(x: File, rel: String): Seq[(String, File)] = {
      val kids = x.listFiles()
      if (kids == null) { if (x.isFile) Seq(rel -> x) else Nil }
      else kids.toSeq.flatMap(k => rec(k, if (rel.isEmpty) k.getName else s"$rel/${k.getName}"))
    }
    rec(f, "")
  }

  /** (file count, total bytes) under `f`. */
  def usage(f: File): (Long, Long) = {
    val fs = files(f)
    (fs.size.toLong, fs.map(_._2.length()).sum)
  }

  /** (files, bytes) under `f` that are absent from, or differ in size
    * from, the same path under `pristine`: what an op added. */
  def addedSince(pristine: File, f: File): (Long, Long) = {
    val before = files(pristine).map { case (p, x) => p -> x.length() }.toMap
    val added = files(f).filter { case (p, x) => !before.get(p).contains(x.length()) }
    (added.size.toLong, added.map(_._2.length()).sum)
  }

  /** Digest of a tree: relative paths and file contents, in path order. */
  def treeDigest(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(f).sortBy(_._1).foreach { case (p, x) =>
      md.update(p.getBytes("UTF-8")); md.update(0.toByte)
      md.update(Files.readAllBytes(x.toPath)); md.update(1.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
