package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.LocalFs

/** [[LocalFs]] must be stock `LocalFileSystem` minus the `chmod` forks:
  * same permissions, same checksums. Every file system here is a private
  * instance, never the JVM-wide `FileSystem.get` cache. */
class LocalFsSpec extends AnyFunSuite {

  private def open(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new URI("file:///"), conf)
    fs
  }

  /** Permission bits incl. sticky, as the kernel reports them. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** relative path -> mode for every entry under `root`. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.toArray.map(_.asInstanceOf[JPath])
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  /** Default-permission and explicit-permission creates, nested. */
  private def writeTree(fs: FileSystem, root: JPath): Unit = {
    val r = new Path(root.toUri)
    fs.mkdirs(new Path(r, "a/b/c"))
    fs.mkdirs(new Path(r, "ticker=X"), new FsPermission("750"))
    for (f <- Seq("a/f0", "a/b/f1", "a/b/c/f2", "ticker=X/part-0.parquet")) {
      val out = fs.create(new Path(r, f))
      out.write(Array.tabulate[Byte](100)(_.toByte))
      out.close()
    }
    fs.create(new Path(r, "a/g"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.setPermission(new Path(r, "a/b/f1"), new FsPermission("604"))
    fs.setPermission(new Path(r, "a/b/c"), new FsPermission("711"))
  }

  test("a tree written through LocalFs has the stock LocalFileSystem's " +
    "permissions path for path, under several umasks") {
    for (umask <- Seq("022", "077", "002")) {
      val (mine, stock) = (Files.createTempDirectory("localfs"),
        Files.createTempDirectory("stockfs"))
      val (fs, ref) = (open(new LocalFs, umask), open(new LocalFileSystem, umask))
      try {
        writeTree(fs, mine)
        writeTree(ref, stock)
        val (a, b) = (modes(mine), modes(stock))
        assert(a.keySet == b.keySet)
        assert(a.keys.exists(_.endsWith(".part-0.parquet.crc")))
        for (k <- b.keys) assert(a(k) == b(k),
          f"umask $umask, $k: LocalFs ${a(k)}%o vs stock ${b(k)}%o")
      } finally { fs.close(); ref.close() }
    }
  }

  test("LocalFs keeps the checksum layer: .crc is written and a flipped " +
    "data byte fails the read with ChecksumException") {
    val dir = Files.createTempDirectory("localfs_crc")
    val fs = open(new LocalFs, "022")
    try {
      val p = new Path(dir.resolve("data.bin").toUri)
      val out = fs.create(p)
      out.write(Array.tabulate[Byte](4096)(i => (i * 31).toByte))
      out.close()
      assert(Files.exists(dir.resolve(".data.bin.crc")))
      val raf = new RandomAccessFile(dir.resolve("data.bin").toFile, "rw")
      try { raf.seek(1000); val b = raf.read(); raf.seek(1000); raf.write(b ^ 0xff) }
      finally raf.close()
      val in = fs.open(p)
      try intercept[ChecksumException] { in.readFully(new Array[Byte](4096)) }
      finally in.close()
    } finally fs.close()
  }

  test("a permission NIO cannot express (sticky bit) falls back to the " +
    "stock path and matches stock") {
    val (mine, stock) = (Files.createTempDirectory("localfs_sticky"),
      Files.createTempDirectory("stockfs_sticky"))
    val (fs, ref) = (open(new LocalFs, "022"), open(new LocalFileSystem, "022"))
    try {
      val sticky = new FsPermission("1777")
      fs.setPermission(new Path(mine.toUri), sticky)
      ref.setPermission(new Path(stock.toUri), sticky)
      // NIO sets rwx bits only: the sticky bit shows the stock path ran
      assert(mode(mine) == Integer.parseInt("1777", 8))
      assert(mode(mine) == mode(stock))
    } finally { fs.close(); ref.close() }
  }

  test("makeSession's fs.file.impl names LocalFs and Hadoop resolves it") {
    val impl = Verify.localStoreConf("spark.hadoop.fs.file.impl")
    assert(impl == classOf[LocalFs].getName)
    val conf = new Configuration()
    conf.set("fs.file.impl", impl)
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try assert(fs.isInstanceOf[LocalFs]) finally fs.close()
  }
}
