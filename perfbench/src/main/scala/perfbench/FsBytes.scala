package perfbench

import java.nio.file.{Files, LinkOption, Path}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Bytes a write left on disk, measured from outside the engine: two
  * listings of the table directories, before and after, compared by file
  * identity. A file counts as written when its identity is new; a rename
  * (COW trash moves, staged directory swaps) keeps the inode and so is not
  * counted again.
  */
object FsBytes {

  /** Regular files under `roots`: identity → size. */
  type Listing = Map[Any, Long]

  /** The file's identity: its inode where the filesystem exposes one (its
    * path otherwise), with its modification time and size, so an inode
    * freed and reused within one write still reads as a new file. */
  private def identity(p: Path, a: BasicFileAttributes): Any =
    (Option(a.fileKey()).getOrElse(p.toString), a.lastModifiedTime().toMillis, a.size())

  def list(roots: Seq[Path]): Listing =
    roots.filter(Files.exists(_)).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.flatMap { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS)
        if (a.isRegularFile) Some(identity(p, a) -> a.size()) else None
      }.toList
      finally s.close()
    }.toMap

  final case class Written(files: Int, bytes: Long)

  /** Files present in `after` whose identity `before` did not have. */
  def written(before: Listing, after: Listing): Written = {
    val fresh = after.filter { case (id, _) => !before.contains(id) }
    Written(fresh.size, fresh.values.sum)
  }
}

object DataFiles {
  /** Parquet data files a table root serves: those not under a directory
    * whose name starts with `_` or `.` (manifest, trash, staging). */
  def live(root: Path): Int = {
    if (!Files.exists(root)) return 0
    val s = Files.walk(root)
    try s.iterator().asScala.count { p =>
      val rel = root.relativize(p).iterator().asScala.map(_.toString).toSeq
      rel.nonEmpty && rel.last.endsWith(".parquet") &&
        !rel.exists(seg => seg.startsWith("_") || seg.startsWith(".")) && Files.isRegularFile(p)
    } finally s.close()
  }
}
