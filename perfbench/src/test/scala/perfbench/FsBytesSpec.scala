package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class FsBytesSpec extends AnyFunSuite {

  private def write(p: Path, n: Int): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, Array.fill[Byte](n)(1))
  }

  test("written counts the bytes of files that are new under the roots") {
    val root = Files.createTempDirectory("fsbytes")
    val t = root.resolve("t")
    write(t.resolve("a.parquet"), 100)
    write(t.resolve("b.parquet"), 50)
    val before = FsBytes.list(Seq(t))
    write(t.resolve("c.parquet"), 70)
    write(t.resolve("sub/d.parquet"), 30)
    Files.delete(t.resolve("b.parquet"))
    assert(FsBytes.written(before, FsBytes.list(Seq(t))) == FsBytes.Written(2, 100))
  }

  test("a renamed file is not new; a rewritten one is") {
    val root = Files.createTempDirectory("fsbytes")
    val t = root.resolve("t")
    write(t.resolve("a.parquet"), 100)
    write(t.resolve("b.parquet"), 40)
    val before = FsBytes.list(Seq(t))
    Files.createDirectories(t.resolve("_graft_trash"))
    Files.move(t.resolve("a.parquet"), t.resolve("_graft_trash/a.parquet"))
    Files.delete(t.resolve("b.parquet"))
    write(t.resolve("b.parquet"), 45)
    assert(FsBytes.written(before, FsBytes.list(Seq(t))) == FsBytes.Written(1, 45))
  }

  test("an unchanged tree writes nothing; missing roots list as empty") {
    val root = Files.createTempDirectory("fsbytes")
    write(root.resolve("x/a"), 10)
    val l = FsBytes.list(Seq(root, root.resolve("absent")))
    assert(FsBytes.written(l, FsBytes.list(Seq(root))) == FsBytes.Written(0, 0))
  }

  test("live data files skip underscore and dot directories") {
    val t = Files.createTempDirectory("fsbytes").resolve("t")
    write(t.resolve("part-0.parquet"), 1)
    write(t.resolve("k=1/part-1.parquet"), 1)
    write(t.resolve("_graft_trash/part-2.parquet"), 1)
    write(t.resolve("_graft_manifest/v1.parquet"), 1)
    write(t.resolve(".staging/part-3.parquet"), 1)
    write(t.resolve("_SUCCESS"), 0)
    assert(DataFiles.live(t) == 2)
  }
}
