package graft.operators

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

/** The one commit primitive of every on-disk writer
  * ([[CutReportMaintenance]], [[graft.sink.ParquetMergeTarget]],
  * [[graft.sink.AggViewTarget]]): a writer holding `_lock` lands version
  * n+1 under `v<n+1>/`, then atomically moves the `_version` pointer onto
  * it. Readers read `v<current>/` only, so they see a whole pre- or
  * post-commit state; a crash before the move leaves an orphan `v<n+1>`
  * that no reader sees and the next writer purges. */
final class VersionedDir(root: File) {
  private def pointer = new File(root, "_version")

  /** The committed version, −1 before the first commit. */
  def current: Long =
    if (pointer.exists()) new String(Files.readAllBytes(pointer.toPath), "UTF-8").trim.toLong
    else -1L

  def dir(v: Long): File = new File(root, s"v$v")

  /** The trimmed text of file `name` in version `v` — a marker written
    * into `v<n>` before the commit flips with the pointer. */
  def textIn(v: Long, name: String): Option[String] = {
    val f = new File(dir(v), name)
    if (v >= 0 && f.isFile) Some(new String(Files.readAllBytes(f.toPath), "UTF-8").trim)
    else None
  }

  /** [[textIn]] the committed version. */
  def committedText(name: String): Option[String] = textIn(current, name)

  private def versions: Seq[Long] =
    Option(root.list()).toSeq.flatten.collect {
      case n if n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit) => n.drop(1).toLong
    }

  /** Move the pointer onto `v` atomically, then delete every `v<k>` with
    * k < v − 1 — one version late, so a lazy DataFrame handed out under
    * v − 1 stays readable across this commit. */
  def commit(v: Long): Unit = {
    root.mkdirs()
    VersionedDir.writeAtomically(pointer.toPath, v.toString)
    versions.filter(_ < v - 1).foreach(k => VersionedDir.deleteTree(dir(k)))
  }

  /** Delete every top-level entry but the versions, pointer and lock —
    * what a pre-versioned layout leaves behind. */
  def dropUnversioned(): Unit = {
    val kept = versions.map(v => s"v$v").toSet + "_version" + "_lock"
    Option(root.listFiles()).toSeq.flatten.filterNot(f => kept(f.getName))
      .foreach(VersionedDir.deleteTree)
  }

  /** Run `body` holding an exclusive OS lock on `_lock`. `tryLock`, never
    * a blocking wait, so a second writer FAILS FAST; the OS releases the
    * lock on process death, so a crash never wedges the directory (unlike
    * an O_EXCL-created lock file, which would survive the crash and block
    * the redelivered batch that crash-safety depends on). */
  def withWriterLock[T](body: => T): T = {
    root.mkdirs()
    val ch = java.nio.channels.FileChannel.open(new File(root, "_lock").toPath,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock =
        try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => null }
      require(lock != null,
        s"another writer holds $root/_lock — versioned directories are " +
          "single-writer (one write at a time)")
      try body finally lock.release()
    } finally ch.close()
  }
}

object VersionedDir {
  def apply(root: String): VersionedDir = new VersionedDir(new File(root))

  /** Replace `path` with `text` atomically (write `<path>.tmp`, then
    * rename): a crash mid-write never leaves a truncated file. */
  def writeAtomically(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete `f` and everything under it; a missing or unlistable entry
    * is skipped, never an NPE. */
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
