package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, StandardOpenOption}
import java.util.UUID

import scala.util.DynamicVariable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}

/** A durable record: a few lines of state that survive a crash whole or
  * not at all. Every record closes with a [[Terminator]] line; a record is
  * complete iff its last line is the terminator, so a reader never takes
  * a prefix for the whole (Delta Lake's log-record discipline).
  *
  *  - [[claim]] creates the record EXCLUSIVELY at its name: a commit point
  *    one writer wins. Its bytes land in place, and where create and write
  *    are separately visible (local FS, HDFS) a reader can open it
  *    mid-write, so [[read]] re-reads a claimed record for up to
  *    [[TornReadBoundMs]] — enough to outlast a live writer's GC pause.
  *  - [[publish]] replaces the record: written whole to a hidden tmp unique
  *    to the attempt, then renamed onto the name with one
  *    `FileSystem.rename` (one rename(2) on the local FS, which replaces
  *    the old file atomically). The old record is never deleted first, so
  *    a reader sees the old value or the new one, never neither; a rename
  *    that reports false fails loudly instead of falling back to
  *    delete-then-rename.
  *  - [[read]] is `None` only when no record was ever written. A published
  *    record is never visible half-written, so one without its terminator
  *    is refused at once; a refusal names the file and the repair, and a
  *    default is never substituted.
  */
object DurableRecord {

  val Terminator = "#end"
  val TornReadBoundMs = 10000L

  /** The bound [[read]] applies to claimed records; specs shorten it with
    * `withValue` so torn cases do not each wait it out.
    */
  private[graft] val tornReadBound = new DynamicVariable[Long](TornReadBoundMs)

  /** The local FS's checksum layer renames a `.crc` sibling after its file,
    * so a reader in between checks new bytes against old sums: bypass it.
    */
  private def fsOf(conf: Configuration, path: Path): FileSystem =
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** `lines` and the terminator to a new file, removed if the write fails. */
  private def write(fs: FileSystem, path: Path, lines: Seq[String]): Unit = {
    lines.foreach(l => require(!l.startsWith(Terminator) && !l.exists("\r\n".contains(_)),
      s"a line of $path starts with $Terminator or breaks: '$l'"))
    val out = fs match {
      // the local FS's create(path, false) checks, then opens: two racing
      // claimers both win. An O_EXCL open lets exactly one through.
      case local: RawLocalFileSystem =>
        val f = Files.createDirectories(local.pathToFile(path).toPath.getParent).resolve(path.getName)
        Files.newOutputStream(f, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      case _ => fs.create(path, false) // creates missing parents
    }
    try {
      try out.write((lines :+ Terminator).mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    } catch { case e: Throwable => fs.delete(path, false); throw e }
  }

  /** Creates the record at `path`; an IOException if one is there. */
  def claim(conf: Configuration, path: Path, lines: Seq[String]): Unit =
    write(fsOf(conf, path), path, lines)

  /** Replaces (or creates) the record at `path` atomically. */
  def publish(conf: Configuration, path: Path, lines: Seq[String]): Unit = {
    val fs = fsOf(conf, path)
    val tmp = new Path(path.getParent, s".${path.getName}.${UUID.randomUUID()}.tmp")
    write(fs, tmp, lines)
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      throw new IOException(s"publish: rename of $tmp onto $path failed")
    }
  }

  /** The record's lines before its terminator, `None` if there is none;
    * an unterminated record is refused with `repair`.
    */
  def read(conf: Configuration, path: Path, repair: String,
      claimed: Boolean = false): Option[Vector[String]] = {
    val fs = fsOf(conf, path)
    val bound = if (claimed) tornReadBound.value else 0L
    val deadline = System.currentTimeMillis() + bound
    while (true) {
      val all =
        try {
          val in = fs.open(path)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        } catch { case _: FileNotFoundException => return None }
      if (all.lastOption.contains(Terminator)) return Some(all.dropRight(1))
      require(System.currentTimeMillis() < deadline, s"$path has no $Terminator " +
        (if (claimed) s"terminator after ${bound}ms of re-reads: its writer died " +
          s"mid-write. Repair: if no writer is alive, $repair"
        else "terminator, and a published record is whole or absent: it is in " +
          s"an older format or damaged. Repair: $repair"))
      Thread.sleep(25)
    }
    None // unreachable
  }
}
