package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** Pins the engine's `file:` filesystem (graft.io.LocalFs): the session
  * resolves both Hadoop APIs to it, and it leaves on disk what Hadoop's
  * own `RawLocalFileSystem` and `LocalFs` leave, the modes included. */
class LocalFsSpec extends SparkSpec {

  private def conf: Configuration = spark.sessionState.newHadoopConf()

  /** An initialized raw filesystem of each kind: Hadoop's, then ours. */
  private def raws: (RawLocalFileSystem, RawLocalFileSystem) = {
    val fss = (new RawLocalFileSystem, new ForkFreeRawLocalFileSystem)
    fss._1.initialize(FileSystem.getDefaultUri(conf), conf)
    fss._2.initialize(FileSystem.getDefaultUri(conf), conf)
    fss
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  test("the session resolves file: to the fork-free filesystem") {
    // Hadoop caches one `file:` FileSystem per JVM: one made from a
    // plain Configuration before the session would win here
    val fs = new Path("file:///tmp").getFileSystem(conf)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fs.asInstanceOf[ForkFreeLocalFileSystem].getRaw.getClass ==
      classOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getFileContext(new java.net.URI("file:///tmp"), conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }

  test("create, mkdirs and setPermission leave Hadoop's modes") {
    val (hadoop, ours) = raws
    val umask = FsPermission.getUMask(conf)
    Seq("644", "755", "700", "600", "444").foreach { m =>
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val modes = Seq(hadoop, ours).map { fs =>
        val d = tmpDir("localfs_mode")
        val f = new Path(s"$d/f")
        fs.create(f, perm.applyUMask(umask), false, 4096, 1.toShort,
          1L << 25, null).close()
        fs.mkdirs(new Path(s"$d/dir"), perm.applyUMask(umask))
        val g = new Path(s"$d/g")
        fs.create(g).close()
        fs.setPermission(g, perm)
        Seq(mode(s"$d/f"), mode(s"$d/dir"), mode(s"$d/g"))
      }
      assert(modes(1) == modes(0), s"mode $m under umask $umask")
      assert(modes(1)(2) == PosixFilePermissions.toString(
        PosixFilePermissions.fromString(perm.toString)))
    }
  }

  test("getFileLinkStatus matches Hadoop's on files, dirs, links and misses") {
    val (hadoop, ours) = raws
    val d = tmpDir("localfs_link")
    Files.write(Paths.get(s"$d/file"), "x".getBytes)
    Files.createDirectory(Paths.get(s"$d/dir"))
    Files.createSymbolicLink(Paths.get(s"$d/link"), Paths.get(s"$d/file"))
    def shape(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
      st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen)
    Seq("file", "dir", "link").foreach { n =>
      val p = new Path(s"$d/$n")
      assert(shape(ours.getFileLinkStatus(p)) ==
        shape(hadoop.getFileLinkStatus(p)), n)
    }
    assert(ours.getFileLinkStatus(new Path(s"$d/link")).isSymlink)
    val missing = new Path(s"$d/missing")
    intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
  }

  test("a FileContext create and overwriting rename leave Hadoop's files") {
    val plain = new Configuration()
    plain.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    val uri = new java.net.URI("file:///")
    val written = Seq(plain, conf).map { c =>
      val fc = FileContext.getFileContext(uri, c)
      val d = tmpDir("localfs_rename")
      def put(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$d/$name"),
          EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(body.getBytes); out.close()
      }
      put("1.delta", "old")
      put(".1.delta.tmp", "epoch one bytes" * 100)
      fc.rename(new Path(s"$d/.1.delta.tmp"), new Path(s"$d/1.delta"),
        Options.Rename.OVERWRITE)
      val dir = new java.io.File(d)
      dir.list.sorted.toSeq.map { n =>
        (n, Files.readAllBytes(Paths.get(s"$d/$n")).toSeq, mode(s"$d/$n"))
      } :+ (".", Seq.empty, mode(d))
    }
    assert(written(0).map(_._1) == Seq(".1.delta.crc", "1.delta", "."))
    assert(written(1) == written(0))
  }
}
