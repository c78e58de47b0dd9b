package graft

import java.io.{ByteArrayOutputStream, DataOutputStream, FileNotFoundException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, FsServerDefaults, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}
import graft.queries.Shared

/** The session binds `file:` to [[graft.io.ForkFreeLocalFileSystem]] and
  * [[graft.io.ForkFreeLocalFs]]. Each must leave the same permission bits,
  * link statuses and rename outcomes as Hadoop's stock local filesystem:
  * every case runs once through the session's classes and once through
  * the stock ones, each in its own temp dir, and compares the results.
  */
class LocalFsSpec extends SparkSpec {

  private val fileRoot = URI.create("file:///")
  private def engineConf: Configuration = spark.sessionState.newHadoopConf()
  private def engineFs: FileSystem = FileSystem.get(fileRoot, engineConf)
  private def engineFc: FileContext =
    FileContext.getLocalFSFileContext(engineConf)
  // built directly, so the JVM-wide FileSystem cache stays the session's
  private def stockFs: LocalFileSystem = {
    val fs = new LocalFileSystem
    fs.initialize(fileRoot, new Configuration)
    fs
  }
  private def stockFc: FileContext =
    FileContext.getLocalFSFileContext(new Configuration)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def hp(p: JPath): Path = new Path(p.toString)
  /** Permission bits as the OS holds them, sticky bit included. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Runs `body` through the engine's filesystem, then through stock
    * Hadoop's, each in a fresh directory; returns (engine, stock).
    */
  private def sides[T](body: (FileSystem, FileContext, JPath) => T): (T, T) = {
    val tmp = Files.createTempDirectory("graft-localfs")
    try {
      def run(name: String, fs: FileSystem, fc: FileContext): T =
        body(fs, fc, Files.createDirectory(tmp.resolve(name)))
      (run("engine", engineFs, engineFc), run("stock", stockFs, stockFc))
    } finally Shared.deleteTree(tmp)
  }

  test("the session binds file: to the fork-free classes") {
    val fs = engineFs
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(engineConf).isInstanceOf[ForkFreeLocalFileSystem])
    assert(engineFc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    // the stock side really is stock
    assert(stockFs.getRaw.getClass.getName ===
      "org.apache.hadoop.fs.RawLocalFileSystem")
    assert(stockFc.getDefaultFileSystem.getClass.getName ===
      "org.apache.hadoop.fs.local.LocalFs")
  }

  test("a created file, its .crc and mkdirs(0700) get stock's bits") {
    val (engine, stock) = sides { (fs, _, d) =>
      val f = d.resolve("part-0")
      fs.create(hp(f)).close()
      val sub = d.resolve("sub")
      assert(fs.mkdirs(hp(sub), new FsPermission(octal("700").toShort)))
      Seq(mode(f), mode(d.resolve(".part-0.crc")), mode(sub))
    }
    assert(engine === stock)
    assert(engine === Seq("644", "644", "700").map(octal))
  }

  test("setPermission sets stock's bits; the sticky bit takes the fallback") {
    val modes = Seq("600", "640", "755", "1777").map(octal)
    val (engine, stock) = sides { (fs, _, d) =>
      modes.map { m =>
        val p = d.resolve(s"m$m")
        // java.nio has no sticky bit: the 1777 directory goes to super
        if (m > octal("777")) Files.createDirectory(p) else Files.createFile(p)
        fs.setPermission(hp(p), new FsPermission(m.toShort))
        mode(p)
      }
    }
    assert(engine === stock)
    assert(engine === modes)
  }

  test("getFileLinkStatus: plain file, missing path and symlink as stock") {
    val (engine, stock) = sides { (fs, _, d) =>
      val raw = fs.asInstanceOf[LocalFileSystem].getRaw
      val f = Files.writeString(d.resolve("data"), "x")
      val linkSt = raw.getFileLinkStatus(hp(f))
      val st = raw.getFileStatus(hp(f))
      assert(!linkSt.isSymlink)
      assert((linkSt.getPath, linkSt.getLen, linkSt.isDirectory,
          linkSt.getModificationTime, linkSt.getPermission) ===
        ((st.getPath, st.getLen, st.isDirectory, st.getModificationTime,
          st.getPermission)))
      intercept[FileNotFoundException] {
        raw.getFileLinkStatus(hp(d.resolve("missing")))
      }
      val link = Files.createSymbolicLink(d.resolve("link"), f)
      val sym = raw.getFileLinkStatus(hp(link))
      assert(sym.getSymlink === raw.makeQualified(hp(f)))
      (sym.isSymlink, sym.getSymlink.toString.replace(d.toString, "<dir>"))
    }
    assert(engine === stock)
    assert(engine === ((true, "file:<dir>/data")))
  }

  test("FileContext.rename: NONE refuses an existing target, OVERWRITE " +
      "replaces it, as stock") {
    val (engine, stock) = sides { (_, fc, d) =>
      def write(name: String, text: String): Path = {
        val p = hp(d.resolve(name))
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val src = write("src", "new")
      val dst = write("dst", "old")
      intercept[FileAlreadyExistsException] {
        fc.rename(src, dst, Options.Rename.NONE)
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (Files.exists(d.resolve("src")), Files.exists(d.resolve(".src.crc")),
        Files.readString(d.resolve("dst")), Files.exists(d.resolve(".dst.crc")),
        mode(d.resolve("dst")))
    }
    assert(engine === stock)
    assert(engine === ((false, false, "new", true, octal("644"))))
  }

  test("FileContext server defaults equal stock LocalFs's") {
    def bytes(d: FsServerDefaults): Array[Byte] = {
      val b = new ByteArrayOutputStream
      d.write(new DataOutputStream(b))
      b.toByteArray
    }
    val root = new Path("/")
    assert(bytes(engineFc.getDefaultFileSystem.getServerDefaults(root)) ===
      bytes(stockFc.getDefaultFileSystem.getServerDefaults(root)))
  }
}
