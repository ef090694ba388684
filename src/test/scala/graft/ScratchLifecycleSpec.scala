package graft

import java.io.File
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every scratch file a run writes has one owner, [[Fs]]: a Verify run
  * over the four queries that write scratch (a round-trip sink, an
  * append stream, the stored tokenizer and the bucketed warehouse)
  * leaves no `graft_*` entry in either root once it exits. A child JVM,
  * because the roots resolve once per JVM and only a whole run, exit
  * included, shows what it leaves behind.
  */
class ScratchLifecycleSpec extends AnyFunSuite {

  private val queries = Seq("src_csv_roundtrip", "stream_tumbling_append",
    "text_bpe_doc_tokens_stored", "rel_bucketed_join")

  test("a Verify run leaves no graft_* entry in either scratch root") {
    val base = TestScratch.dir("graft_lifecycle_").toFile
    val Seq(disk, stream, out) = Seq("disk", "stream", "out").map(new File(base, _))
    Seq(disk, stream).foreach(d => assert(d.mkdirs(), s"fresh root $d"))
    // this JVM's flags (module opens, system properties) minus heap and
    // tmpdir, which the child sets for itself
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a =>
        Seq("-Xmx", "-Xms", "-Djava.io.tmpdir=").exists(a.startsWith))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ inherited ++
      Seq("-Xmx1536m", s"-Djava.io.tmpdir=$disk",
        "-cp", System.getProperty("java.class.path"), "graft.Verify",
        "/root/testdata/sf0.001", out.getPath) ++ queries
    val log = new File(base, "verify.log")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_STREAM_SCRATCH", stream.getPath)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val child = pb.start()
    try {
      assert(child.waitFor(10, TimeUnit.MINUTES), "Verify child timed out")
      def tail = scala.io.Source.fromFile(log).getLines().toSeq.takeRight(40)
        .mkString("\n")
      assert(child.exitValue == 0, s"Verify child failed:\n$tail")
      queries.foreach(q => assert(new File(out, q).isDirectory, s"$q not written:\n$tail"))
      Seq(disk, stream).foreach { root =>
        val left = Option(root.list).toSeq.flatten.filter(_.startsWith("graft_"))
        assert(left.isEmpty, s"scratch left in $root: ${left.sorted.mkString(", ")}")
      }
    } finally {
      child.destroyForcibly()
      Fs.rmTree(base)
    }
  }
}
