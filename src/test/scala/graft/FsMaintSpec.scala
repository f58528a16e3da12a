package graft

import graft.ops.FsMaint
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** `FsMaint.walkFiles` over a listing-only stub `FileSystem`: a stub can
  * report a directory chain deeper than any local path may be, which is
  * what a recursive walk would overflow the thread stack on.
  */
class FsMaintSpec extends AnyFunSuite {

  /** Directories `tree(path)` lists; a path missing from the map is gone
    * (`FileNotFoundException`, as after a concurrent delete). */
  private final class ListingFs(tree: Path => Option[Seq[FileStatus]]) extends FileSystem {
    val listed = scala.collection.mutable.ArrayBuffer.empty[Path]
    override def listStatus(p: Path): Array[FileStatus] = {
      listed += p
      tree(p).getOrElse(throw new java.io.FileNotFoundException(p.toString)).toArray
    }
    override def getUri: java.net.URI = java.net.URI.create("stub:///")
    override def getWorkingDirectory: Path = new Path("/")
    override def setWorkingDirectory(p: Path): Unit = ()
    override def open(p: Path, n: Int): FSDataInputStream = ???
    override def create(p: Path, perm: FsPermission, overwrite: Boolean, n: Int,
                        repl: Short, block: Long, prog: Progressable): FSDataOutputStream = ???
    override def append(p: Path, n: Int, prog: Progressable): FSDataOutputStream = ???
    override def rename(a: Path, b: Path): Boolean = ???
    override def delete(p: Path, recursive: Boolean): Boolean = ???
    override def mkdirs(p: Path, perm: FsPermission): Boolean = ???
    override def getFileStatus(p: Path): FileStatus = ???
  }

  private def dir(p: String) = new FileStatus(0L, true, 1, 0L, 0L, new Path(p))
  private def file(p: String) = new FileStatus(1L, false, 1, 1L, 0L, new Path(p))

  test("walkFiles: depth-first in listing order; abort returns false; vanished dirs are empty") {
    val fs = new ListingFs(p => Map(
      "/r" -> Seq(file("/r/a"), dir("/r/d1"), file("/r/b"), dir("/r/gone"), dir("/r/d2")),
      "/r/d1" -> Seq(dir("/r/d1/x"), file("/r/d1/c")),
      "/r/d1/x" -> Seq(file("/r/d1/x/e")),
      "/r/d2" -> Seq(file("/r/d2/f"))).get(p.toString))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    assert(FsMaint.walkFiles(fs, new Path("/r")) { f => seen += f.getPath.toString; true })
    assert(seen.toSeq == Seq("/r/a", "/r/d1/x/e", "/r/d1/c", "/r/b", "/r/d2/f"))

    seen.clear(); fs.listed.clear()
    assert(!FsMaint.walkFiles(fs, new Path("/r")) { f =>
      seen += f.getPath.toString; f.getPath.getName != "e" })
    assert(seen.toSeq == Seq("/r/a", "/r/d1/x/e"))
    // Stopped at the hit: nothing after it was listed.
    assert(fs.listed.map(_.toString).toSeq == Seq("/r", "/r/d1", "/r/d1/x"))
  }

  test("walkFiles: a 200k-deep directory chain walks without recursion") {
    // Flat names keep the stub's paths short; only the nesting is deep.
    val depth = 200000
    val fs = new ListingFs(p => p.getName.toIntOption.map { i =>
      if (i < depth) Seq(dir(s"/c/${i + 1}")) else Seq(file("/c/leaf"))
    })
    var visited = 0
    assert(FsMaint.walkFiles(fs, new Path("/c/0")) { _ => visited += 1; true })
    assert(visited == 1 && fs.listed.size == depth + 1)
    assert(!FsMaint.walkFiles(fs, new Path("/c/0"))(_ => false))
  }
}
