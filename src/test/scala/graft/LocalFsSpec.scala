package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, ChecksumFs, CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free `file:` layer must be Hadoop's local filesystem with only
  * the `chmod` process taken out: same permission bits, same checksums,
  * same rename semantics — and it must be what the sessions resolve.
  */
class LocalFsSpec extends AnyFunSuite {

  private val modes = Seq("600", "644", "700", "755", "777")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def raw(fs: RawLocalFileSystem, c: Configuration): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  private def bits(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri)))

  private def unixMode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int]

  private def tmpDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  test("create, mkdirs and setPermission leave the same POSIX bits as stock RawLocalFileSystem") {
    for (umask <- Seq("022", "027")) {
      val c = conf(umask)
      val stock = raw(new RawLocalFileSystem, c)
      val nio = raw(new NioRawLocalFileSystem, c)
      val root = tmpDir("localfs_bits")
      for (m <- modes) {
        val perm = new FsPermission(m)
        def run(fs: RawLocalFileSystem, tag: String): Seq[String] = {
          val f = new Path(root, s"$tag-$m-$umask.bin")
          fs.create(f, perm, true, 4096, 1.toShort, 1L << 20, null).close()
          val d = new Path(root, s"$tag-$m-$umask.dir")
          assert(fs.mkdirs(d, perm))
          val g = new Path(root, s"$tag-$m-$umask.set")
          Files.createFile(Paths.get(g.toUri))
          fs.setPermission(g, perm)
          Seq(bits(f), bits(d), bits(g))
        }
        assert(run(nio, "nio") == run(stock, "stock"), s"mode $m, umask $umask")
      }
    }
  }

  test("a sticky-bit mode (01777) takes the stock path and is still applied") {
    val nio = raw(new NioRawLocalFileSystem, conf("022"))
    val d = new Path(tmpDir("localfs_sticky"), "shared")
    assert(nio.mkdirs(d))
    nio.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
    // java.nio cannot express the sticky bit: seeing it set proves the
    // call fell through to Hadoop's own chmod
    assert((unixMode(d) & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8))
    assert(nio.getFileStatus(d).getPermission.getStickyBit)
  }

  private def flipFirstByte(p: Path): Unit = {
    val f = new java.io.RandomAccessFile(p.toUri.getPath, "rw")
    try { val b = f.read(); f.seek(0); f.write(b ^ 0x01) } finally f.close()
  }

  test("FileSystem API: .crc sidecar is written and a flipped data byte fails the read") {
    val fs = new NioLocalFileSystem
    fs.initialize(URI.create("file:///"), conf("022"))
    val f = new Path(tmpDir("localfs_crc"), "part-00000")
    val out = fs.create(f)
    try out.write(Array.fill[Byte](3000)(7)) finally out.close()
    assert(Files.exists(Paths.get(fs.getChecksumFile(f).toUri)))
    val ok = fs.open(f)
    try assert(ok.readAllBytes().length == 3000) finally ok.close()
    flipFirstByte(f)
    val in = fs.open(f)
    try intercept[ChecksumException](in.readAllBytes()) finally in.close()
  }

  // run on Hadoop's own LocalFs too: the twin must behave exactly like it
  for (impl <- Seq(classOf[org.apache.hadoop.fs.local.LocalFs], classOf[NioLocalFs]))
    test(s"FileContext API (${impl.getSimpleName}): valid .crc sidecar, rename(OVERWRITE) replaces the target") {
      val c = conf("022")
      c.set("fs.AbstractFileSystem.file.impl", impl.getName)
      val fc = FileContext.getFileContext(URI.create("file:///"), c)
      val afs = fc.getDefaultFileSystem.asInstanceOf[ChecksumFs]
      assert(afs.getClass == impl)
      def crcExists(p: Path) = Files.exists(Paths.get(afs.getChecksumFile(p).toUri))
      def write(p: Path, b: Byte): Unit = {
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(Array.fill[Byte](2000)(b)) finally out.close()
      }
      val dir = tmpDir("localfs_fc")
      val target = new Path(dir, "offsets/7")
      val tmp = new Path(dir, "offsets/.7.tmp")
      write(target, 1)
      write(tmp, 2)
      assert(crcExists(tmp))
      fc.rename(tmp, target, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(tmp) && !crcExists(tmp) && crcExists(target))
      val in = fc.open(target)
      try assert(in.readAllBytes().toSeq == Seq.fill[Byte](2000)(2)) finally in.close()
      // the sidecar moved with the data and still matches it; the flip is
      // caught through FileSystem (a FileContext read here returns the
      // bytes unverified on both classes alike)
      val fs = new NioLocalFileSystem
      fs.initialize(URI.create("file:///"), c)
      val ok = fs.open(target)
      try assert(ok.readAllBytes().length == 2000) finally ok.close()
      flipFirstByte(target)
      val bad = fs.open(target)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }

  test("the session's hadoopConfiguration resolves FileSystem and FileContext to the fork-free classes") {
    val hc = TestSpark.spark.sparkContext.hadoopConfiguration
    val root = URI.create("file:///")
    assert(FileSystem.get(root, hc).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, hc).asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(AbstractFileSystem.get(root, hc).isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // FileSystem's cache ignores the conf: a bare Configuration gets the
    // cached instance, so this holds only if the session's registration
    // came before the first `file:` FileSystem built in this JVM
    assert(FileSystem.getLocal(new Configuration()).isInstanceOf[NioLocalFileSystem])
  }
}
