package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import graft.streaming.LocalCheckpointFs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException,
  CreateFlag, FileContext, FsConstants, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFs]] against the stock `LocalFs`: every test runs
  * the same operations on both, each in its own sibling temp dir, and
  * compares what lands on disk. No SparkSession. */
class LocalCheckpointFsSpec extends AnyFunSuite {

  private def context(impl: Option[String]): (AbstractFileSystem, FileContext) = {
    val conf = new Configuration()
    impl.foreach(conf.set(LocalCheckpointFs.ImplKey, _))
    val afs = AbstractFileSystem.get(FsConstants.LOCAL_FS_URI, conf)
    (afs, FileContext.getFileContext(afs, conf))
  }
  private val (stockFs, stock) = context(None)
  private val (forkFreeFs, forkFree) =
    context(Some(classOf[LocalCheckpointFs].getName))

  /** `body` on the stock and on the fork-free context, each given a
    * fresh dir; returns (stock result, fork-free result). */
  private def both[T](body: (FileContext, JPath) => T): (T, T) = {
    val root = Files.createTempDirectory("graft_ckptfs")
    def run(fc: FileContext, name: String): T =
      body(fc, Files.createDirectory(root.resolve(name)))
    try (run(stock, "stock"), run(forkFree, "forkfree"))
    finally {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[JPath]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def hp(d: JPath, rel: String) = new Path(d.resolve(rel).toString)

  private def write(fc: FileContext, p: Path, s: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** `open(p, bufferSize)` reaches `ChecksumFs.open`, which verifies
    * the `.crc` sidecar; the one-argument `open(p)` goes through
    * `FilterFs.open(Path)` straight to the raw fs on both classes. */
  private def read(fc: FileContext, p: Path, verified: Boolean = true): String = {
    val in = if (verified) fc.open(p, 4096) else fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: JPath): Set[String] = {
    val s = Files.list(d)
    try s.map[String](_.getFileName.toString).toArray.map(_.toString).toSet
    finally s.close()
  }

  test("the conf key selects LocalCheckpointFs; the default is the stock LocalFs") {
    assert(stockFs.getClass === classOf[LocalFs])
    assert(forkFreeFs.getClass === classOf[LocalCheckpointFs])
  }

  test("new files, .crc sidecars and dirs get the stock POSIX modes") {
    val (a, b) = both { (fc, d) =>
      fc.mkdir(hp(d, "a/b"), FsPermission.getDirDefault, true)
      write(fc, hp(d, "a/b/f"), "x")
      write(fc, hp(d, "g"), "y")
      fc.setPermission(hp(d, "g"), new FsPermission(Integer.parseInt("640", 8).toShort))
      // the sticky bit takes the stock chmod path
      fc.mkdir(hp(d, "s"), FsPermission.getDirDefault, false)
      fc.setPermission(hp(d, "s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "g", ".g.crc", "s")
        .map(r => r -> Files.getAttribute(d.resolve(r), "unix:mode"))
    }
    assert(a === b)
    val mode = b.toMap.view.mapValues(m => Integer.toOctalString(m.asInstanceOf[Int] & 0xfff))
    assert(mode("g") === "640")
    assert(mode("s") === "1777")
  }

  test("a symlink still reports isSymlink with its target; a plain file does not") {
    val (a, b) = both { (fc, d) =>
      write(fc, hp(d, "t"), "z")
      Files.createSymbolicLink(d.resolve("l"), d.resolve("t"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      val l = fc.getFileLinkStatus(hp(d, "l"))
      val dangling = fc.getFileLinkStatus(hp(d, "dangling"))
      val t = fc.getFileLinkStatus(hp(d, "t"))
      (l.isSymlink, l.getSymlink.toUri.getPath == d.resolve("t").toString,
        dangling.isSymlink, t.isSymlink, t.isFile, t.getLen)
    }
    assert(a === b)
    assert(b === ((true, true, true, false, true, 1L)))
  }

  test("a missing path throws FileNotFoundException") {
    val (a, b) = both { (fc, d) =>
      val missing = hp(d, "missing")
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fc.getFileStatus(missing))
      intercept[FileNotFoundException](fc.open(missing))
      fc.util.exists(missing)
    }
    assert(a === b)
    assert(!b)
  }

  test("rename with overwrite moves the .crc sidecar with its file") {
    val (a, b) = both { (fc, d) =>
      write(fc, hp(d, "src"), "new")
      write(fc, hp(d, "dst"), "old and longer")
      fc.rename(hp(d, "src"), hp(d, "dst"), Options.Rename.OVERWRITE)
      (names(d), read(fc, hp(d, "dst")))
    }
    assert(a === b)
    assert(b === ((Set("dst", ".dst.crc"), "new")))
  }

  test("a byte flipped in a written file still raises ChecksumException on read") {
    val (a, b) = both { (fc, d) =>
      write(fc, hp(d, "f"), "0123456789" * 100)
      val raf = new RandomAccessFile(d.resolve("f").toFile, "rw")
      try { raf.seek(500); raf.write('x') } finally raf.close()
      (intercept[ChecksumException](read(fc, hp(d, "f"))).getPos,
        read(fc, hp(d, "f"), verified = false).charAt(500))
    }
    assert(a === b)
    assert(b._2 === 'x')
  }
}
