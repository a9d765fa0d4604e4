package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ShellFreeLocalFileSystem, ShellFreeLocalFs, ShellFreeRawLocalFileSystem}

/** The shell-free local file system: `core-site.xml` wires it for scheme
  * `file` in this JVM, and each answer it gives equals the stock
  * `RawLocalFileSystem`'s (which forks `chmod` and `readlink` here). */
class LocalFsSuite extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val s = TestSpark.spark
  private val root = new URI("file:///")

  private val dirs = scala.collection.mutable.Buffer[java.nio.file.Path]()
  private def tempDir(tag: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(s"graft_localfs_$tag")
    dirs += d
    d
  }
  override def afterAll(): Unit = dirs.foreach { d =>
    Files.walk(d).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  private def raw(fs: RawLocalFileSystem, conf: Configuration): RawLocalFileSystem = {
    fs.initialize(root, conf); fs
  }
  private def stockRaw(conf: Configuration) = raw(new RawLocalFileSystem, conf)
  private def ourRaw(conf: Configuration) = raw(new ShellFreeRawLocalFileSystem, conf)

  /** FileContext over the stock checksummed `LocalFs` (package-private:
    * built by name through Hadoop's reflective factory). */
  private def stockContext(conf: Configuration): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, c)
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("scheme file: resolves to the graft.io classes for FileSystem and FileContext") {
    for (conf <- Seq(s.sparkContext.hadoopConfiguration, s.sessionState.newHadoopConf(),
        new Configuration())) {
      val fs = FileSystem.get(root, conf)
      assert(fs.isInstanceOf[ShellFreeLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[ShellFreeLocalFileSystem].getRaw.isInstanceOf[ShellFreeRawLocalFileSystem])
      assert(FileSystem.getLocal(conf).isInstanceOf[ShellFreeLocalFileSystem])
      val fc = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
      assert(fc.isInstanceOf[ShellFreeLocalFs], fc.getClass.getName)
    }
  }

  test("create and mkdirs set the stock permissions under the umask") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      def modes(fs: RawLocalFileSystem): Seq[String] = {
        val d = tempDir("perm")
        fs.create(new Path(d.resolve("f").toString)).close()
        fs.create(new Path(d.resolve("g").toString), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(d.resolve("a/b").toString))
        fs.mkdirs(new Path(d.resolve("c").toString), new FsPermission("777"))
        fs.setPermission(new Path(d.resolve("f").toString), new FsPermission("604"))
        Seq("f", "g", "a", "a/b", "c").map(n => s"$n ${mode(d.resolve(n))}")
      }
      assert(modes(ourRaw(conf)) == modes(stockRaw(conf)), s"umask $umask")
    }
  }

  test("rename over an existing file matches stock through FileSystem and FileContext") {
    val conf = new Configuration()
    def viaFs(fs: FileSystem): (Boolean, String, Boolean) = {
      val d = tempDir("mv")
      Files.write(d.resolve("src"), "new".getBytes); Files.write(d.resolve("dst"), "old".getBytes)
      val ok = fs.rename(new Path(d.resolve("src").toString), new Path(d.resolve("dst").toString))
      (ok, new String(Files.readAllBytes(d.resolve("dst"))), Files.exists(d.resolve("src")))
    }
    assert(viaFs(ourRaw(conf)) == viaFs(stockRaw(conf)))
    def viaContext(fc: FileContext): (String, String) = {
      val d = tempDir("fcmv")
      Files.write(d.resolve("src"), "new".getBytes); Files.write(d.resolve("dst"), "old".getBytes)
      val (src, dst) = (new Path(d.resolve("src").toUri), new Path(d.resolve("dst").toUri))
      val refused = try { fc.rename(src, dst); "renamed" } catch {
        case e: FileAlreadyExistsException => e.getClass.getSimpleName
      }
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      (refused, new String(Files.readAllBytes(d.resolve("dst"))) + Files.exists(d.resolve("src")))
    }
    val ours = viaContext(FileContext.getLocalFSFileContext(conf))
    assert(ours == viaContext(stockContext(conf)))
    assert(ours == ("FileAlreadyExistsException", "newfalse"))
  }

  test("getFileLinkStatus of a file, a directory, a symlink and a dangling symlink matches stock") {
    val conf = new Configuration()
    val d = tempDir("links")
    Files.write(d.resolve("file"), "x".getBytes)
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
    def view(st: FileStatus): Seq[Any] =
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else null, st.getLen, st.getPermission,
        st.getOwner, st.getGroup)
    def answer(get: Path => FileStatus, p: Path): Either[String, Seq[Any]] =
      try Right(view(get(p))) catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val (ours, stock) = (ourRaw(conf), stockRaw(conf))
    val (fcOurs, fcStock) = (FileContext.getLocalFSFileContext(conf), stockContext(conf))
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(d.resolve(n).toString), new Path(d.resolve(n).toUri))) {
      assert(answer(ours.getFileLinkStatus, p) == answer(stock.getFileLinkStatus, p), s"FileSystem $p")
      assert(answer(fcOurs.getFileLinkStatus, p) == answer(fcStock.getFileLinkStatus, p), s"FileContext $p")
    }
    // the unqualified symlink is reported as one, with its target
    val link = ours.getFileLinkStatus(new Path(d.resolve("link").toString))
    assert(link.isSymlink && link.getSymlink.toUri.getPath == d.resolve("file").toString)
  }
}
