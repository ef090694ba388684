package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: operator modules must stay distributed. A `.collect()`
  * or `.coalesce(1)` in an operator is a driver-side bottleneck that a
  * fixture-scale test will never catch — at 100 TB it is an OOM or a
  * single-task stage. The harness mains are exempt where noted
  * (Verify's coalesce(1) exists because the driver hash-compares one
  * file per query).
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources(sub: String,
      root: java.nio.file.Path = mainRoot): Seq[(String, String)] = {
    val dir = root.resolve(sub)
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => (p.toString, new String(Files.readAllBytes(p))))
      .toSeq
  }

  private def offenders(pattern: String, sub: String,
      exempt: Set[String] = Set.empty,
      root: java.nio.file.Path = mainRoot): Seq[String] =
    sources(sub, root).collect {
      case (path, text)
          if text.contains(pattern) && !exempt.exists(path.endsWith) =>
        path
    }

  /** (file name, enclosing def) of every occurrence of `needle` under
    * `graft/`: the last `def` that opens before the occurrence.
    */
  private def sitesOf(needle: String): Set[(String, String)] = {
    val defName = """\bdef\s+(\w+)""".r
    sources("graft").flatMap { case (path, text) =>
      Iterator.iterate(text.indexOf(needle))(i => text.indexOf(needle, i + 1))
        .takeWhile(_ >= 0)
        .map(i => Paths.get(path).getFileName.toString ->
          defName.findAllMatchIn(text.substring(0, i)).toSeq.lastOption
            .fold("")(_.group(1)))
    }.toSet
  }

  test("stream sinks start only in the two sink runners") {
    // Sources.memorySink and Sources.appendSink own the trigger, the
    // query name, the checkpoint and the read-back; the copies they
    // replaced had each repeated all four.
    val allowed = Set("Sources.scala" -> "memorySink",
      "Sources.scala" -> "appendSink")
    val sites = sitesOf(".writeStream")
    assert(sites.subsetOf(allowed),
      s"writeStream outside the runners: ${sites -- allowed}")
  }

  test("event-time windows are defined only in the shared window operators") {
    // ScalarFns.tumbling, sliding and sessions serve the batch event_*
    // queries and their stream_* twins alike; four drifted copies of
    // each shape (one with a double sum, one with a timestamp start)
    // stood before
    val allowed =
      Set("tumbling", "sliding", "sessions").map("ScalarFns.scala" -> _)
    val sites =
      Seq("window(col(\"ts\")", "session_window(").flatMap(sitesOf).toSet
    assert(sites.subsetOf(allowed),
      s"event window outside the shared operators: ${sites -- allowed}")
  }

  test("operator and streaming modules never collect() to the driver") {
    // TextAnalysis: the BPE trainer's per-round `limit(1).collect()` is
    // a 1-row argmax — the same iterative-loop driver touchpoint class
    // as the CC fixpoint aggregate (exempted in the head() test below).
    // Sinking the winner eagerly is what lets every round's checkpoint
    // blocks be released (BPE_LADDER.json: flat 0.075 s/round at round
    // 1000 vs 0.84 and growing when the rounds stayed lazy); O(rounds)
    // single-row fetches, never O(data).
    val hits = offenders(".collect()", "graft/operators",
      exempt = Set("graft/operators/TextAnalysis.scala")) ++
      offenders(".toLocalIterator", "graft")
    assert(hits.isEmpty, s"driver-side materialization in: $hits")
    // the exemption must never widen silently: TextAnalysis carries
    // exactly two collect call sites — the BPE 1-row argmax, and
    // readTokenizer's merge-list load (a stored tokenizer IS a
    // driver-local artifact by design: KB-scale at any real vocab,
    // consumed as an expression constructor argument — the same class
    // as the argmax's O(rounds)-rows-never-O(data) contract)
    val taText = new String(java.nio.file.Files.readAllBytes(
      mainRoot.resolve("graft/operators/TextAnalysis.scala")))
    assert(taText.sliding(".collect()".length).count(_ == ".collect()") == 2,
      "TextAnalysis gained a collect() beyond the BPE argmax + tokenizer load")
  }

  test("coalesce(1) appears only in the fixture harness mains") {
    // Verify: the driver hash-compares one file per query. ScaleUp:
    // mirrors the driver fixture's one-file-per-table layout (and its
    // filesPerTable>1 mode is the distributed path). Neither is an
    // operator. TextAnalysis: writeTokenizer's single-file merge-list
    // artifact — KB-scale at any real vocab, deliberately one file
    // (the stamp + table travel as one auditable unit); the count
    // assert below keeps the exemption from widening past it.
    val hits = offenders(".coalesce(1)", "graft",
      exempt = Set("graft/Verify.scala", "graft/ScaleUp.scala",
        "graft/operators/TextAnalysis.scala"))
    assert(hits.isEmpty, s"single-partition funnel in: $hits")
    val taText = new String(java.nio.file.Files.readAllBytes(
      mainRoot.resolve("graft/operators/TextAnalysis.scala")))
    assert(taText.sliding(".coalesce(1)".length).count(_ == ".coalesce(1)") == 1,
      "TextAnalysis gained a coalesce(1) beyond the tokenizer artifact write")
  }

  test("operator modules keep no memo map or persist registry of their own") {
    // memo and release are decided in one module, the session store
    // (graft.Materialize). The Tables schema catalog lives in graft/,
    // outside this scope, on purpose: it is keyed by file state, never
    // by session, and outlives the store's release.
    val hits = Seq("ConcurrentHashMap", "PersistRegistry")
      .flatMap(offenders(_, "graft/operators"))
    assert(hits.isEmpty, s"module-level memo or registry in: $hits")
  }

  test("the planted corpus is built only in ScriptRouting") {
    // every planted (doc_id, text) union, Spark or oracle, goes through
    // ScriptRouting.corpus / corpusSql: an inlined copy is how the
    // routed front-end drifted into seventeen spellings before
    val hits = Seq("unionByName(planted)", "UNION ALL SELECT * FROM (VALUES")
      .flatMap(offenders(_, "graft/operators",
        exempt = Set("graft/operators/ScriptRouting.scala")))
    assert(hits.isEmpty, s"planted union outside ScriptRouting in: $hits")
  }

  test("only the blocked-pairs core joins on band codes") {
    // every near-dup pair join goes through graft.operators.Blocking,
    // which fixes the shape for all callers: the verify in the join
    // condition, a dropDuplicates on the pair key after it, no aggregate
    // below it, one join strategy. An inlined join on a qualified band
    // column ("a.band" === "b.band") is how eight copies drifted apart
    // on that shape before. annLsh's lookup of the broadcast query codes
    // is a top-k candidate probe, not a pair join, and joins by name.
    val bandJoin = """\.band"\)\s*===""".r
    val hits = sources("graft/operators").collect {
      case (path, text) if bandJoin.findFirstIn(text).nonEmpty => path
    }
    assert(hits.isEmpty, s"band-code join outside Blocking in: $hits")
  }

  test("only graft.Session builds a SparkSession") {
    // one factory, so no entry point or suite runs a session the others
    // don't: nine hand-copied builder blocks had drifted apart (missing
    // extensions, warehouse dir, ICU and timestamp confs; two core-count
    // defaults). The needle is split so this file does not match itself.
    val needle = "SparkSession.builder" + "("
    val hits = offenders(needle, "", exempt = Set("graft/Session.scala")) ++
      offenders(needle, "", root = Paths.get("src/test/scala"))
    assert(hits.isEmpty, s"SparkSession built outside graft.Session in: $hits")
  }

  test("only the session store cuts lineage") {
    // every checkpoint goes through graft.Materialize's one cut, which
    // owns the local-vs-reliable choice and frees a round whose job
    // fails; a loop that checkpoints on its own strands those blocks
    val hits = Seq("localCheckpoint(", ".checkpoint(")
      .flatMap(offenders(_, "", exempt = Set("graft/Materialize.scala")))
    assert(hits.isEmpty, s"lineage cut outside graft.Materialize in: $hits")
  }

  test("no Hadoop located-status listing in main sources") {
    // Hadoop's listFiles(path, recursive) and listLocatedStatus build a
    // LocatedFileStatus per file, which reads the file's owner and
    // permission: one `ls -ld` process per file on a local file system
    // without libhadoop. listStatus reads path, length and time without
    // one (Tables.stamp). java.io.File's listFiles() and
    // listFiles(filter) take at most one argument and stay allowed.
    val located = """\.listFiles\([^(),]+,|\.listLocatedStatus\(""".r
    val hits = sources("graft").collect {
      case (path, text) if located.findFirstIn(text).nonEmpty => path
    }
    assert(hits.isEmpty, s"located-status listing in: $hits")
  }

  test("no sleeps or processing-time hacks in main sources") {
    // a harness that waits for listener events drains the bus
    // (org.apache.spark.graft.Listeners.drain) instead of sleeping
    val hits = offenders("Thread.sleep", "")
    assert(hits.isEmpty, s"wall-clock sleep in: $hits")
  }

  test("only graft.Fs reads the tmpdir or the process id") {
    // every scratch path is a name inside Fs's per-process directory,
    // which one release frees and one reaper prefix matches; a path
    // built elsewhere escapes both, as the stored tokenizer's and the
    // warehouse's once did
    val hits = Seq("java.io.tmpdir", "ProcessHandle")
      .flatMap(offenders(_, "", exempt = Set("graft/Fs.scala")))
    assert(hits.isEmpty, s"tmpdir or pid read outside graft.Fs in: $hits")
  }

  test("stream sink views are dropped only in Sources") {
    // Sources names every replay and releases its memory sinks
    // (releaseStreams); a harness that drops views on its own must
    // know the naming, and two such copies drifted before. The needle
    // has no paren so that `.foreach(catalog.dropTempView)` counts too.
    val hits = offenders("dropTempView", "",
      exempt = Set("graft/operators/Sources.scala"))
    assert(hits.isEmpty, s"dropTempView outside Sources in: $hits")
  }

  test("driver-side head() only on the CC fixpoint aggregate") {
    // .head() on a 1-row aggregate is the legitimate driver touchpoint
    // of an iterative loop; anywhere else it is probably a mistake.
    // ScaleUp's 1-row max-key probe guards the stride shift — a fixture
    // tool, not an operator (same class as its coalesce(1) exemption).
    val hits = offenders(".head()", "graft",
      exempt = Set("graft/operators/ConnectedComponents.scala",
        "graft/ScaleUp.scala"))
    assert(hits.isEmpty, s"unexpected driver-side head() in: $hits")
  }

  test("the only mains are Bench, Verify, Explain and ScaleUp") {
    // one measurement harness: timing is a Bench run, the driver
    // contract a Verify run, a plan audit an Explain run, and ScaleUp
    // writes the fixtures perfbench reads. A rehearsal main grows its
    // own loop, stderr tags and JSON beside Bench's; its numbers stay
    // in the committed records (SCALE.md, BPE_LADDER.json) instead.
    val allowed = Set("Bench.scala", "Verify.scala", "Explain.scala",
      "ScaleUp.scala").map("graft/" + _)
    val mains = Seq("def main(", "extends App")
      .flatMap(offenders(_, "", exempt = allowed))
    assert(mains.isEmpty, s"a main outside the four harness mains in: $mains")
  }
}
