package graft.plans

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}

/** Stable, host-independent digests of the physical plans behind every
  * batch query — the regression net for silent plan flips (a Spark
  * upgrade, a stats drift, an accidental hint change) that PLANS.md
  * documents by hand. The digest is the PREPARED plan (codegen
  * collapsed, exchanges reused, AQE off so the tree is static): one
  * indented line per node carrying exactly the strategy-relevant facts
  * — node name, join type and build side, shuffle partitioning
  * expressions, aggregation modes, sort keys, scan pushdown metadata —
  * with everything host- or run-varying (expression ids, codegen stage
  * ids, paths, 12-hex dataset tags) normalized away, so the SAME file
  * is byte-stable across JVMs, hosts, and repeated runs.
  *
  * `PlanDigestSpec` diffs [[all]] against the committed
  * `PLAN_DIGEST.json` and regenerates it (same code path) when
  * `SPARK_GRAFT_UPDATE_PLAN_DIGEST=1`.
  */
object PlanDigest {

  /** stream_* replays execute fully on construction just to read a
    * memory sink back (their stateful plan never appears in the frame
    * they return — see Explain's identical skip), so their digest would
    * be an empty-signal LocalTableScan bought at full replay cost.
    */
  def digestableQueries: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filterNot(_.startsWith("stream_")).sorted

  /** name → digest lines for every digestable query, computed with AQE
    * disabled for the plan materialization so the prepared tree is the
    * planner's static answer (AQE's runtime re-plan is driven by live
    * shuffle stats and has no stable static form to snapshot).
    *
    * The AQE-off scope covers the WHOLE pass — construction included —
    * not just each `executedPlan` forcing. Construction eagerly
    * materializes the modules' persisted intermediates (the CC loop,
    * the signature tables), and `InMemoryRelation` compiles its
    * physical plan lazily at FIRST access: whichever conf is live at
    * that moment decides whether the cached plan is AQE-wrapped, which
    * decides its advertised output partitioning, which decides whether
    * downstream exchanges elide. Scoping the pass end to end (plus the
    * caller resetting module memos first — see `PlanDigestSpec`) makes
    * that first-force moment the same in every context, so the digest
    * is a function of code + data alone, not of suite history.
    */
  def all(s: SparkSession, sfDir: String): SortedMap[String, Seq[String]] = withAqeOff(s) {
    val entries = digestableQueries.map { name =>
      name -> digest(s, graft.SparkEntry.queries(name)(s, sfDir))
    }
    SortedMap(entries: _*)
  }

  private def withAqeOff[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val old = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** The frame's prepared plan with AQE off: codegen stages collapsed,
    * the tree the digest walks and `PlanDigestSpec` compiles.
    */
  def prepared(s: SparkSession, df: DataFrame): SparkPlan =
    // executedPlan is lazy and reads the conf of the frame's OWN session
    // when first forced — which is not always `s`: rel_bloom_join builds
    // on a child session (its injection thresholds must not leak into
    // the caller), so scope AQE-off on df.sparkSession too or its plan
    // collapses to a single opaque AdaptiveSparkPlan node (nesting under
    // all()'s scope is idempotent when the sessions coincide)
    withAqeOff(s)(withAqeOff(df.sparkSession)(df.queryExecution.executedPlan))

  def digest(s: SparkSession, df: DataFrame): Seq[String] = {
    val plan = prepared(s, df)
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = {
      out += ("  " * depth) + clean(summary(p))
      p.children.foreach(walk(_, depth + 1))
    }
    walk(plan, 0)
    out.result()
  }

  /** One line of strategy-relevant facts; everything else (metrics,
    * output lists, statistics) deliberately omitted.
    */
  private def summary(p: SparkPlan): String = p match {
    case f: FileSourceScanExec =>
      // Location is a path (host-varying); Batched flips with memory
      // mode; the rest IS the pushdown story the digest exists to pin
      val keep = Seq("Format", "ReadSchema", "PushedFilters",
        "PartitionFilters", "DataFilters")
      val meta = keep.flatMap(k => f.metadata.get(k).map(v => s"$k: $v"))
      (s"Scan" +: meta).mkString(" | ")
    case j: BroadcastHashJoinExec =>
      s"${j.nodeName} ${j.joinType} build=${j.buildSide}"
    case j: ShuffledHashJoinExec =>
      s"${j.nodeName} ${j.joinType} build=${j.buildSide}"
    case j: BaseJoinExec =>
      s"${j.nodeName} ${j.joinType}"
    case e: ShuffleExchangeExec =>
      val part = e.outputPartitioning match {
        // the expression SET is the strategy fact; the planner's ordering
        // of count-distinct Expand keys follows JVM-global expression-id
        // state and reorders when other suites ran first in the session
        case h: HashPartitioning =>
          s"hash(${h.expressions.map(x => clean(x.toString)).sorted.mkString(", ")})"
        case r: RangePartitioning => s"range(${r.ordering.mkString(", ")})"
        case SinglePartition      => "single"
        case other                => other.getClass.getSimpleName
      }
      s"Exchange $part"
    case e: BroadcastExchangeExec =>
      s"BroadcastExchange ${e.mode.getClass.getSimpleName}"
    case a: BaseAggregateExec =>
      val modes = a.aggregateExpressions.map(_.mode.toString).distinct.sorted
      val kind = a match {
        case _: HashAggregateExec       => "HashAggregate"
        case _: ObjectHashAggregateExec => "ObjectHashAggregate"
        case _: SortAggregateExec       => "SortAggregate"
        case _                          => a.nodeName
      }
      s"$kind keys=${a.groupingExpressions.size} modes=${modes.mkString(",")}"
    case so: SortExec =>
      s"Sort ${so.sortOrder.mkString(", ")} global=${so.global}"
    case other => other.nodeName
  }

  /** Strip run- and host-varying tokens: expression ids (`ref#123`),
    * codegen stage ids (`WholeStageCodegen (3)` — renumbered when
    * unrelated parts of a shared plan shift), per-dataset 12-hex path
    * tags in bucketed-table names, and any absolute /tmp or /dev/shm
    * path that survives into a node string.
    */
  private[plans] def clean(s: String): String = s
    .replaceAll("#\\d+[L]?", "")
    .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen")
    .replaceAll("\\b[0-9a-f]{12}\\b", "<tag>")
    .replaceAll("(/tmp|/dev/shm)\\S*", "<path>")

  // ---- snapshot file I/O (Jackson, shipped with Spark) ---------------

  def write(path: java.nio.file.Path, digests: SortedMap[String, Seq[String]]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    digests.foreach { case (name, lines) =>
      val arr = root.putArray(name)
      lines.foreach(arr.add)
    }
    val bytes = m.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    java.nio.file.Files.write(path, bytes)
  }

  def read(path: java.nio.file.Path): SortedMap[String, Seq[String]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.readTree(java.nio.file.Files.readAllBytes(path))
    val entries = Seq.newBuilder[(String, Seq[String])]
    root.properties().forEach { e =>
      val lines = Seq.newBuilder[String]
      e.getValue.forEach(n => lines += n.asText())
      entries += e.getKey -> lines.result()
    }
    SortedMap(entries.result(): _*)
  }
}
