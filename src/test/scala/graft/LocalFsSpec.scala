package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** graft's `file:` filesystem against Hadoop's stock local filesystem,
  * side by side in one JVM: the session installs it for both Hadoop APIs,
  * and it sets the same modes, reports the same link status and keeps the
  * same checksums as the stock classes it replaces.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = URI.create("file:///")

  private def withDir(body: JPath => Unit): Unit =
    graft.queries.Scratch.using("localfs-spec")(d => body(Paths.get(d)))

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = { fs.initialize(root, new Configuration()); fs }
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  test("the session's file: filesystem is graft's, for both the FileSystem and the FileContext API") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.getClass == classOf[LocalFs.Fs])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass == classOf[LocalFs.Raw])
    assert(FileSystem.getLocal(conf) eq fs)
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass == classOf[LocalFs.Afs])
  }

  test("files and directories get the same unix mode as under stock Hadoop, sticky bit included") {
    withDir { d =>
      val fss = Seq("graft" -> raw(new LocalFs.Raw), "stock" -> raw(new RawLocalFileSystem))
      for (perm <- Seq(0x1a4 /* 0644 */, 0x1ed /* 0755 */, 0x1c0 /* 0700 */, 0x3ff /* 1777 */)) {
        val fp = new FsPermission(perm.toShort)
        val modes = fss.map { case (name, fs) =>
          // create and mkdirs apply the umask; setPermission sets the bits as given
          val Seq(dir, file, setDir, setFile) =
            Seq("dir", "file", "set-dir", "set-file").map(k => new Path(d.toUri.toString, s"$name-$k-$perm"))
          assert(fs.mkdirs(dir, fp) && fs.mkdirs(setDir))
          fs.create(file, fp, false, 4096, 1.toShort, 1L << 20, null).close()
          fs.create(setFile).close()
          Seq(setDir, setFile).foreach(fs.setPermission(_, fp))
          Seq(dir, file, setDir, setFile).map(p => mode(d.resolve(p.getName)))
        }
        assert(modes.distinct.size == 1, s"perm ${perm.toOctalString}: $modes")
        assert(modes.head.drop(2) == Seq(perm, perm), s"perm ${perm.toOctalString}: ${modes.head}")
      }
    }
  }

  test("getFileLinkStatus matches stock Hadoop for files, directories, symlinks and missing paths") {
    withDir { d =>
      Files.write(d.resolve("file"), "abc".getBytes)
      Files.createDirectory(d.resolve("dir"))
      Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
      def view(s: => FileStatus) = scala.util.Try(s).map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)).toEither.left.map(_.getClass)
      val graftFs = raw(new LocalFs.Raw)
      val stockFs = raw(new RawLocalFileSystem)
      val graftFc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
      val stockFc = FileContext.getFileContext(root, new Configuration())
      assert(stockFc.getDefaultFileSystem.getClass != classOf[LocalFs.Afs])
      // both path forms: stock Hadoop finds a symlink only under a bare
      // path (it runs `readlink` on the path's string, `file:` prefix and all)
      def paths(name: String) = Seq(new Path(d.resolve(name).toString), new Path(d.toUri.toString, name))
      for (name <- Seq("file", "dir", "link", "dangling", "missing"); p <- paths(name)) {
        assert(view(graftFs.getFileLinkStatus(p)) == view(stockFs.getFileLinkStatus(p)), p)
        assert(view(graftFc.getFileLinkStatus(p)) == view(stockFc.getFileLinkStatus(p)), p)
      }
      val Seq(link, dangling, missing) = Seq("link", "dangling", "missing").map(n => paths(n).head)
      val viaFs = graftFs.getFileLinkStatus(link)
      val viaFc = graftFc.getFileLinkStatus(link)
      assert(viaFs.isSymlink && viaFs.getSymlink.toUri.getPath == d.resolve("file").toString)
      assert(viaFc.isSymlink && viaFc.getSymlink.toUri.getPath == d.resolve("file").toString)
      assert(graftFs.getFileLinkStatus(dangling).isSymlink && graftFc.getFileLinkStatus(dangling).isSymlink)
      intercept[FileNotFoundException](graftFs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](graftFc.getFileLinkStatus(missing))
    }
  }

  test("checksums are kept: a .crc is written beside the data, and a flipped byte fails the read") {
    withDir { d =>
      val conf = spark.sessionState.newHadoopConf()
      val fs = FileSystem.get(root, conf)
      val viaFs = new Path(d.toUri.toString, "via-fs")
      val out = fs.create(viaFs)
      out.write("hello, checksums".getBytes)
      out.close()
      assert(Files.exists(d.resolve(".via-fs.crc")))

      for ((name, fc) <- Seq("graft" -> FileContext.getFileContext(root, conf),
          "stock" -> FileContext.getFileContext(root, new Configuration()))) {
        val p = new Path(d.toUri.toString, name)
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write("hello, checksums".getBytes)
        out.close()
        assert(Files.exists(d.resolve(s".$name.crc")))
        val f = new RandomAccessFile(d.resolve(name).toFile, "rw")
        try f.write('H') finally f.close()
        // FileContext.open(path) skips the checksum (FilterFs forwards it to
        // the raw filesystem); open(path, bufferSize) verifies. The flip is
        // read through FileContext only: the FileSystem API would also move
        // the corrupt file to a `bad_files` dir at its mount's root.
        intercept[ChecksumException] {
          val in = fc.open(p, 4096)
          try in.readAllBytes() finally in.close()
        }
      }
    }
  }
}
