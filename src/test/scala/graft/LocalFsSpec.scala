package graft

import java.io.{File, RandomAccessFile}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The on-disk contract of the engine's `file:` filesystems
  * ([[NioLocalFileSystem]], [[NioLocalFs]]): resolved through the session's
  * Hadoop conf, they write what the stock local filesystem writes — the
  * same bytes, mode bits and `.crc` sidecars — and read what it wrote. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private val Local = new URI("file:///")
  private def sessionConf = spark.sessionState.newHadoopConf()
  private def engineFs = FileSystem.get(Local, sessionConf)
  private def engineFc = FileContext.getFileContext(Local, sessionConf)
  // Stock LocalFileSystem, except that a checksum failure does not move the
  // file into a `bad_files` directory at the top of its device.
  private def stockFs = {
    val fs = new LocalFileSystem(new RawLocalFileSystem) {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    fs.initialize(Local, new Configuration())
    fs
  }
  // core-default.xml's `file` FileContext: Hadoop's LocalFs
  private def stockFc = FileContext.getFileContext(Local, new Configuration())

  private def tmpDir(name: String) = Files.createTempDirectory(name).toFile
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Integer].intValue & 0xFFF
  private def octal(m: Int) = Integer.toOctalString(m)
  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def writeFc(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def writeFs(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def readFs(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def readFc(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session's Hadoop conf resolves file: to the engine filesystems") {
    for (conf <- Seq(sessionConf, spark.sparkContext.hadoopConfiguration)) {
      val fs = FileSystem.get(Local, conf)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
      val afs = FileContext.getFileContext(Local, conf).getDefaultFileSystem
      assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
    }
    // a checkpoint path as Spark hands it over, with a path and no authority
    val dir = new Path(tmpDir("graft_fs_resolve").toURI)
    assert(dir.getFileSystem(sessionConf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(dir.toUri, sessionConf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("files and directories get the stock filesystem's mode bits") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    def twin(fs: RawLocalFileSystem) = { fs.initialize(Local, conf); fs }
    val ours = twin(new NioRawLocalFileSystem)
    val stock = twin(new RawLocalFileSystem)
    val root = tmpDir("graft_fs_modes")
    // a setgid parent: GNU chmod keeps a directory's setgid bit, so must we
    val shared = new File(root, "shared")
    assert(shared.mkdir())
    Files.setAttribute(shared.toPath, "unix:mode", Integer.valueOf(Integer.parseInt("2775", 8)))
    for ((fs, name) <- Seq(ours -> "ours", stock -> "stock")) {
      val base = new Path(new File(root, name).toURI)
      assert(fs.mkdirs(new Path(base, "d/e"), FsPermission.getDirDefault))
      fs.create(new Path(base, "d/f")).close()
      fs.create(new Path(base, "g"), perm("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.create(new Path(base, "h")).close()
      fs.setPermission(new Path(base, "h"), perm("1751"))
      assert(fs.mkdirs(new Path(new Path(shared.toURI), name + "/sub"),
        FsPermission.getDirDefault))
    }
    for (rel <- Seq("d", "d/e", "d/f", "g", "h")) {
      val (o, s) = (mode(new File(root, s"ours/$rel")), mode(new File(root, s"stock/$rel")))
      assert(o === s, s"$rel: ${octal(o)} vs stock ${octal(s)}")
    }
    assert(octal(mode(new File(root, "ours/d/f"))) === "640") // 0666 & ~027
    assert(octal(mode(new File(root, "ours/h"))) === "1751")  // sticky kept
    assert(octal(mode(new File(shared, "ours/sub"))) === "2750")
    for (rel <- Seq("", "/sub")) {
      val (o, s) = (mode(new File(shared, "ours" + rel)), mode(new File(shared, "stock" + rel)))
      assert(o === s, s"shared$rel: ${octal(o)} vs stock ${octal(s)}")
    }
  }

  test("engine writes carry .crc sidecars that stock LocalFileSystem verifies") {
    val dir = tmpDir("graft_fs_crc")
    val viaFs = new Path(new File(dir, "via_fs").toURI)
    val viaFc = new Path(new File(dir, "via_fc").toURI)
    writeFs(engineFs, viaFs, "checkpoint bytes through FileSystem")
    writeFc(engineFc, viaFc, "checkpoint bytes through FileContext")
    for (p <- Seq(viaFs, viaFc)) {
      assert(new File(dir, s".${p.getName}.crc").isFile, s"no sidecar for $p")
      assert(readFs(stockFs, p).startsWith("checkpoint bytes"))
      val raf = new RandomAccessFile(new File(p.toUri), "rw")
      try { val b = raf.read(); raf.seek(0); raf.write(b ^ 0x01) } finally raf.close()
      intercept[ChecksumException](readFs(stockFs, p))
      // Hadoop's LocalFs reads past a bad chunk without complaint; the
      // engine's FileContext twin does exactly what it does
      assert(Try(readFc(engineFc, p)).toString === Try(readFc(stockFc, p)).toString)
    }
  }

  test("files the stock filesystem wrote read back through the engine") {
    val p = new Path(new File(tmpDir("graft_fs_stock"), "stock").toURI)
    writeFs(stockFs, p, "written by stock LocalFileSystem")
    assert(readFs(engineFs, p) === "written by stock LocalFileSystem")
    assert(readFc(engineFc, p) === "written by stock LocalFileSystem")
  }

  test("rename with OVERWRITE replaces an existing file; without it, refuses") {
    val dir = tmpDir("graft_fs_rename")
    val (src, dst) = (new Path(new File(dir, "src").toURI), new Path(new File(dir, "dst").toURI))
    writeFc(engineFc, dst, "old")
    writeFc(engineFc, src, "new")
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](engineFc.rename(src, dst))
    engineFc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!new File(dir, "src").exists && !new File(dir, ".src.crc").exists)
    assert(readFc(engineFc, dst) === "new")
    assert(readFs(stockFs, dst) === "new") // the sidecar moved with the file
  }

  test("a symlinked path still resolves") {
    val dir = tmpDir("graft_fs_link")
    val target = new Path(new File(dir, "target").toURI)
    writeFc(engineFc, target, "behind a link")
    val link = Files.createSymbolicLink(Paths.get(dir.getPath, "link"),
      Paths.get(dir.getPath, "target"))
    def shape(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.getLen, s.getPermission,
       if (s.isSymlink) Some(s.getSymlink) else None)
    // qualified (file:/...) and plain (/...) forms, as callers pass both
    for (p <- Seq(new Path(link.toUri), new Path(link.toString), target)) {
      assert(shape(engineFc.getFileLinkStatus(p)) === shape(stockFc.getFileLinkStatus(p)), p)
      assert(shape(engineFs.getFileLinkStatus(p)) === shape(stockFs.getFileLinkStatus(p)), p)
      assert(engineFc.getFileStatus(p).getLen === "behind a link".length)
      assert(readFc(engineFc, p) === "behind a link")
      assert(readFs(engineFs, p) === "behind a link")
    }
    assert(engineFc.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}
