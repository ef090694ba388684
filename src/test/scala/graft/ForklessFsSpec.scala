package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.GraftExtensions

/** The engine's file:// paths start no Hadoop shell process: without
  * libhadoop, Hadoop's local file system forks a `chmod` per permission
  * set, a `readlink` per link-status read and an `ls -ld` per owner or
  * permission read. `GraftExtensions` installs [[ForklessLocalFileSystem]]
  * and [[ForklessLocalFs]], and each case below runs a writer or reader
  * that forked before, under a JFR recording of every process the JVM
  * starts.
  */
class ForklessFsSpec extends SparkSpec {

  private val shell = "org.apache.hadoop.util.Shell"

  /** Every process the JVM starts while `body` runs, on any thread. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    spark // the session's own start-up forks fall outside the window
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Files.createTempFile("graft_forks_", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  /** The command lines of the recorded processes Hadoop's shell started. */
  private def shellForks(events: Seq[RecordedEvent]): Seq[String] =
    events.filter(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith(shell))))
      .map(_.getString("command"))

  private def noop(q: String): Unit =
    SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()

  private def withTempDir[T](prefix: String)(body: JPath => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally Fs.rmTree(dir.toFile)
  }

  private def assertForkless(body: => Unit): Unit = {
    val forks = shellForks(processStarts(body))
    assert(forks.isEmpty, s"${forks.size} Hadoop shell processes: ${forks.distinct.take(5)}")
  }

  test("src_partitioned's partitioned parquet write starts no shell process") {
    assertForkless(noop("src_partitioned"))
  }

  test("stream_corpus_gate's checkpoint commits start no shell process") {
    assertForkless {
      noop("stream_corpus_gate")
      spark.streams.resetTerminated()
    }
  }

  test("a directory-layout table is written and read without a shell process") {
    withTempDir("graft_forks_tbl_") { out =>
      assertForkless {
        ScaleUp.run(spark, sfDir, out.toString, factor = 1, filesPerTable = 4,
          tables = Some(Set("documents")))
        assert(Tables.table(spark, out.toString, "documents").count() > 0)
      }
    }
  }

  test("graph_pagerank's reliable checkpoint files start no shell process") {
    withTempDir("graft_forks_ckpt_") { dir =>
      assertForkless {
        withConfs(Materialize.CheckpointDirKey -> dir.toString) {
          assert(SparkEntry.queries("graph_pagerank")(spark, sfDir).collect().nonEmpty)
        }
      }
      assert(Files.walk(dir).iterator().asScala
        .exists(_.getFileName.toString.startsWith("rdd-")),
        "no reliable checkpoint was written")
    }
  }

  test("the session's local file systems are the engine's") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.getLocal(conf).getClass == classOf[ForklessLocalFileSystem])
    assert(FileSystem.getLocal(conf).getRaw.getClass ==
      classOf[ForklessRawLocalFileSystem])
    assert(org.apache.hadoop.fs.AbstractFileSystem
      .get(java.net.URI.create("file:///"), conf)
      .getClass == classOf[ForklessLocalFs])
  }

  test("an explicit file system setting wins over the engine's default") {
    val key = "spark.hadoop.fs.file.impl"
    val old = Option(System.getProperty(key))
    try {
      System.setProperty(key, classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(System.getProperty(key) == classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    } finally old match {
      case Some(v) => System.setProperty(key, v)
      case None    => System.clearProperty(key)
    }
  }

  /** Hadoop's stock raw local file system, next to the engine's. */
  private def both[T](body: (RawLocalFileSystem, RawLocalFileSystem) => T): T = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    val stock = new RawLocalFileSystem
    val forkless = new ForklessRawLocalFileSystem
    Seq(stock, forkless).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    try body(stock, forkless) finally { stock.close(); forkless.close() }
  }

  test("setPermission leaves the mode Hadoop's chmod leaves, without the chmod") {
    assume(!NativeIO.isAvailable, "libhadoop present: Hadoop's path forks nothing")
    withTempDir("graft_forks_perm_") { dir =>
      both { (stock, forkless) =>
        for (mode <- Seq("644", "600", "755", "700", "640", "421", "000", "777")) {
          val a = new Path(dir.resolve(s"stock_$mode").toUri)
          val b = new Path(dir.resolve(s"forkless_$mode").toUri)
          Seq(a, b).foreach(p => Files.createFile(java.nio.file.Paths.get(p.toUri)))
          val perm = new FsPermission(mode)
          // the recorder sees Hadoop's fork, so an empty record means none
          val stockForks = shellForks(processStarts(stock.setPermission(a, perm)))
          assert(stockForks.exists(_.contains("chmod")), stockForks)
          assertForkless(forkless.setPermission(b, perm))
          def posix(p: Path) = Files.getPosixFilePermissions(
            java.nio.file.Paths.get(p.toUri))
          assert(posix(b) == posix(a), s"mode $mode")
        }
      }
    }
  }

  test("getFileLinkStatus equals Hadoop's for a symlink, a file and a directory") {
    withTempDir("graft_forks_link_") { dir =>
      val target = Files.write(dir.resolve("target"), Array[Byte](1, 2, 3))
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val sub = Files.createDirectory(dir.resolve("sub"))
      both { (stock, forkless) =>
        for (f <- Seq(link, target, sub)) {
          val p = new Path(f.toUri)
          val (s, g) = (stock.getFileLinkStatus(p), forkless.getFileLinkStatus(p))
          def fields(st: org.apache.hadoop.fs.FileStatus) =
            (st.getPath, st.isSymlink, st.isDirectory, st.getLen,
              st.getModificationTime, st.getPermission, st.getOwner,
              if (st.isSymlink) Some(st.getSymlink) else None)
          assert(fields(g) == fields(s), f)
        }
        val gone = new Path(dir.resolve("missing").toUri)
        intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(gone))
        intercept[java.io.FileNotFoundException](forkless.getFileLinkStatus(gone))
      }
      assertForkless(both((_, forkless) =>
        forkless.getFileLinkStatus(new Path(target.toUri))))
    }
  }
}
