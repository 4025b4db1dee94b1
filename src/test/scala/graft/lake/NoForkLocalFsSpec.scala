package graft.lake

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[NoForkRawLocalFileSystem]] answers exactly as Hadoop's stock
  * `RawLocalFileSystem` for the two calls it takes in-process, the
  * session routes every `file:` path through it on both Hadoop APIs,
  * and a stateful drain starts no `chmod`/`readlink` process. */
class NoForkLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A stock and a fork-free raw FS, both on the session's Hadoop conf
    * (so under the same umask). */
  private def pair(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = spark.sessionState.newHadoopConf()
    val stock = new RawLocalFileSystem
    val noFork = new NoForkRawLocalFileSystem
    Seq(stock, noFork).foreach(_.initialize(FileSystem.getDefaultUri(conf), conf))
    (stock, noFork)
  }

  private def modeOf(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def hpath(p: JPath): Path = new Path(p.toUri)

  test("mkdirs, create and setPermission give stock RawLocalFileSystem's modes") {
    val (stock, noFork) = pair()
    val root = TempDirs.create("graft-nofork-modes")
    for (octal <- Seq("600", "644", "700", "755")) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      def both(op: (RawLocalFileSystem, JPath) => Unit, what: String): Unit = {
        val a = root.resolve(s"stock-$what-$octal")
        val b = root.resolve(s"nofork-$what-$octal")
        op(stock, a); op(noFork, b)
        assert(modeOf(b) == modeOf(a), s"$what $octal")
      }
      both((fs, p) => assert(fs.mkdirs(hpath(p), perm)), "mkdirs")
      both((fs, p) => fs.create(hpath(p), perm, false, 4096, 1.toShort, 1L << 25, null)
        .close(), "create")
      both({ (fs, p) =>
        Files.write(p, Array[Byte](1, 2, 3))
        fs.setPermission(hpath(p), perm)
      }, "setPermission")
      assert(modeOf(root.resolve(s"nofork-setPermission-$octal")) == perm.toString)
    }
  }

  test("getFileLinkStatus matches stock on a file, a dir, a symlink, a dangling symlink and a missing path") {
    val (stock, noFork) = pair()
    val root = TempDirs.create("graft-nofork-links")
    val file = Files.write(root.resolve("file"), Array.fill[Byte](7)(1))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")

    def status(fs: RawLocalFileSystem, p: Path): Either[Class[_], FileStatus] =
      try Right(fs.getFileLinkStatus(p))
      catch { case e: FileNotFoundException => Left(e.getClass) }
    def shape(s: Either[Class[_], FileStatus]) = s.map(st =>
      (st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) Some(st.getSymlink) else None))

    for (p <- Seq(file, dir, link, dangling, missing);
         hp <- Seq(hpath(p), new Path(p.toString))) {
      assert(shape(status(noFork, hp)) == shape(status(stock, hp)), s"$hp")
    }
    assert(shape(status(noFork, new Path(file.toString))) == Right((true, false, false, 7L, None)))
    assert(status(noFork, new Path(link.toString)).exists(_.isSymlink))
    assert(status(noFork, hpath(missing)).isLeft)
  }

  test("the session resolves file: paths to the fork-free classes on both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val uri = TempDirs.create("graft-nofork-resolve").toUri
    assert(new Path(uri).getFileSystem(conf).isInstanceOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(uri, conf).getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
  }

  test("stateful drains start no chmod/readlink process (q158 join on HDFS state, q404 replay on RocksDB, sf0.001)") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val dump = TempDirs.create("graft-nofork-jfr").resolve("drains.jfr")
    rec.start()
    try {
      assert(graft.queries.StreamingQ.queries("q158_stream_outer_join")(spark, sf).count() > 0)
      assert(graft.queries.R18Q.queries("q404_stream_asof_ooo")(spark, sf).count() > 0)
    } finally {
      rec.stop()
      rec.dump(dump)
      rec.close()
    }
    val forked = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(c => Seq("chmod", "readlink").contains(c.trim.split("\\s+").head.split('/').last))
    assert(forked.isEmpty, s"${forked.size} forks, e.g. ${forked.take(3).mkString("; ")}")
  }
}
