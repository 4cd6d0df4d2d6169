package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.core.{GraftSession, LocalFs}

class LocalFsSpec extends SparkSpecBase {

  private def conf(umask: String, extra: (String, String)*): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    extra.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** st_mode of a local file: permission, setuid/setgid and sticky bits. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("the session routes file: through LocalFs for both Hadoop APIs") {
    val hconf = spark.sessionState.newHadoopConf()
    // newInstance: the JVM-wide FileSystem cache cannot hide the class
    val fs = FileSystem.newInstance(new URI("file:///"), hconf)
    try {
      assert(fs.getClass == classOf[LocalFs.Checksummed])
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFs])
    } finally fs.close()
    assert(FileContext.getFileContext(new URI("file:///"), hconf)
      .getDefaultFileSystem.getClass == classOf[LocalFs.Context])
    // only the file scheme is registered
    assert(GraftSession.localFsConf.keys.forall(k =>
      k.startsWith("spark.hadoop.fs.") && k.endsWith(".file.impl")))
  }

  /** Create a file and a directory through the FileSystem API and through
    * FileContext; return their modes. */
  private def created(root: String, fs: FileSystem, fc: FileContext): Seq[Int] = {
    val file = new Path(s"file:$root/f.bin")
    val out = fs.create(file)
    try out.write(1) finally out.close()
    assert(fs.mkdirs(new Path(s"file:$root/d/e")))
    val ctxFile = new Path(s"file:$root/cf.bin")
    val cout = fc.create(ctxFile, java.util.EnumSet.of(CreateFlag.CREATE))
    try cout.write(1) finally cout.close()
    fc.mkdir(new Path(s"file:$root/cd/ce"), FsPermission.getDirDefault, true)
    Seq("f.bin", ".f.bin.crc", "d", "d/e", "cf.bin", ".cf.bin.crc", "cd", "cd/ce")
      .map(n => mode(s"$root/$n"))
  }

  test("permission bits match Hadoop's stock local filesystem, both APIs") {
    for (umask <- Seq("022", "027", "077")) {
      val stock = conf(umask,
        "fs.file.impl" -> classOf[LocalFileSystem].getName,
        "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")
      val graftConf = conf(umask, GraftSession.localFsConf.toSeq
        .map { case (k, v) => k.stripPrefix("spark.hadoop.") -> v }: _*)
      def modes(c: Configuration): Seq[Int] = {
        val fs = FileSystem.newInstance(new URI("file:///"), c)
        try created(tmpDir("graft-localfs"), fs,
          FileContext.getFileContext(new URI("file:///"), c))
        finally fs.close()
      }
      val want = modes(stock)
      assert(modes(graftConf) == want, s"umask $umask")
      assert(want.head == (0x1b6 & ~Integer.parseInt(umask, 8)), s"umask $umask")
    }
  }

  test("setPermission: sticky and setgid directories keep Hadoop's semantics") {
    def run(fs: RawLocalFileSystem): Seq[Int] = {
      fs.initialize(new URI("file:///"), conf("022"))
      val root = tmpDir("graft-localfs-setid")
      val parent = s"$root/shared"
      Files.createDirectory(Paths.get(parent))
      new ProcessBuilder("chmod", "2775", parent).start().waitFor()
      assert(fs.mkdirs(new Path(s"$parent/child"))) // inherits setgid
      fs.setPermission(new Path(parent), new FsPermission(Integer.parseInt("750", 8).toShort))
      val sticky = new Path(s"$root/sticky")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
      val file = new Path(s"$root/plain")
      fs.create(file).close()
      fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
      Seq(parent, s"$parent/child", s"$root/sticky", s"$root/plain").map(mode)
    }
    val want = run(new RawLocalFileSystem)
    assert(want.head == Integer.parseInt("2750", 8))
    assert(run(new LocalFs) == want)
  }

  test("getFileLinkStatus: plain files as stock; a symlink takes Hadoop's path") {
    val root = tmpDir("graft-localfs-link")
    val target = Paths.get(s"$root/target.txt")
    Files.write(target, "abc".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(s"$root/link.txt"), target)
    val stock = new RawLocalFileSystem
    val mine = new LocalFs
    Seq(stock, mine).foreach(_.initialize(new URI("file:///"), conf("022")))
    def view(st: FileStatus) = (st.getPath, st.isSymlink,
      if (st.isSymlink) st.getSymlink else null, st.getLen, st.isDirectory,
      st.getModificationTime)
    for (p <- Seq(s"$root/target.txt", s"file:$root/target.txt",
        s"$root/link.txt", s"file:$root/link.txt", root)) {
      assert(view(mine.getFileLinkStatus(new Path(p))) ==
        view(stock.getFileLinkStatus(new Path(p))), p)
    }
    assert(mine.getFileLinkStatus(new Path(s"$root/link.txt")).isSymlink)
    intercept[java.io.FileNotFoundException](
      mine.getFileLinkStatus(new Path(s"$root/missing")))
  }
}
