package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Materialize-once helper for contract queries whose pre-sort
  * projection is measured-expensive (r17 optimization, guide §1.2:
  * "don't compute things you throw away").
  *
  * A terminal global `orderBy` plans a range exchange whose
  * partition-bound SAMPLING job executes the whole child plan once
  * before the real pass does — so an expensive row-local projection
  * (the BigDecimal rounds of fn_math, the JSON parses of
  * fn_map/fn_json, the multi-regex scrub of text_pii_scrub) runs
  * TWICE per query for one output. Materializing the projection pays
  * it exactly once; the sampling job and the shuffle both read the
  * materialized rows. Measured at sf0.1/local[32]:
  * fn_math 2.41 → 1.68 s min, fn_map 1.66 → 0.85 s min
  * (OPTIMIZATION_r17.md §2).
  *
  * Materialization primitive (r18, the round-17 verdict's top item):
  * gated on the master. Under `local[*]` it is the local branch of the
  * store's one lineage [[cut]] — executor loss IS driver loss there, so
  * the unrecoverable-lineage caveat is vacuous and the raw row blocks
  * are the cheapest re-readable form (persist's columnar cache build
  * measured 0.5 s SLOWER on fn_math's 600k-row double projection). On a
  * real cluster master it is `persist(MEMORY_AND_DISK)` instead —
  * lineage kept, so an executor loss (or dynamic-allocation
  * decommission) after materialization recomputes the lost blocks
  * instead of failing the job; the double-eval saving is identical
  * because the sampling pass populates the cache the output pass reads.
  *
  * Scale stance: the materialized bytes equal the sort's own shuffle
  * footprint (the projection IS the output), so this trades one local
  * write+read for re-running a projection measured at ≥2× the scan
  * cost — the classic cache-vs-recompute call, made per query from
  * measurements, not globally. Blocks live on executors
  * (MEMORY_AND_DISK, spills under pressure).
  *
  * The AQE rule `SmallTerminalSort`, which sorts a small input in its
  * one task with no sampling job, replaces none of the six call sites.
  * Their sort's input is this checkpoint (or its cache), not a
  * materialized shuffle stage, so the rule never rewrites their range
  * exchange and the sampling job still reads the materialized rows.
  * Dropping a site would not help either: at sf0.1 the inputs of
  * rel_window_range and rel_asof_join exceed the rule's one-partition
  * bound anyway, and the others would compute their projection twice
  * again.
  *
  * `once` is keyed by (query, dataset); re-invoking the same query
  * frees the PREVIOUS invocation's blocks first (sweep N's consumers
  * are done before sweep N+1 constructs — the Bench/Verify/spec
  * lifecycle), so steady state holds one block set per query instead
  * of one per invocation (the retained-sink lesson in Bench.once).
  * The free runs BEFORE the new materialization is registered: the
  * persist path registers with the CacheManager, which keys on the
  * logical plan — freeing the (plan-identical) previous frame after
  * registering the new one would evict the fresh cache entry too.
  * Like the loop rounds, a freed local checkpoint cannot be recomputed:
  * a caller that holds a stale frame across a re-invocation of the
  * same query must materialize it first.
  *
  * The session store. This object also owns everything else a query
  * memoizes or persists beyond its own plan, so there is one lifecycle
  * and one release:
  *  - [[memo]]: one value per (session, sfDir, name) — a persisted
  *    signature table, the event spine, a BPE train, the bucketed
  *    table names;
  *  - [[track]]: a per-call persist, kept until release;
  *  - [[once]]: the slots above, in the same map under a key with no
  *    session (the query's own key string names the dataset);
  *  - [[forget]] frees one entry, [[clear]] frees them all;
  *  - [[rounds]]: an iterative loop's checkpointed rounds, held while
  *    the loop runs and handed to [[track]] when its result reads them.
  * All release through the one [[free]], which also frees a value's
  * checkpoint blocks (the CC labels' final round, the BPE vocab's last
  * round) and the DataFrames inside a tuple value. Cleanup.releaseAll
  * calls [[clear]] and then still sweeps `getPersistentRDDs`, the
  * backstop for blocks no entry reaches. Not held here: the schema
  * catalog ([[Tables]]), which is keyed by file state, never by
  * session, and stays valid across sessions.
  */
object Materialize {

  /** One memo entry. Its build runs at most once, under the entry's own
    * lock rather than the map's bin lock, so a build may memoize other
    * keys (the CC labels build both signature tables) and a long build
    * blocks only callers of its own key. A build that throws rethrows
    * to every waiter; its caller then drops the entry, so the next call
    * builds afresh.
    */
  private final class Slot(private var build: () => Any) {
    @volatile private var result: scala.util.Try[Any] = _
    def get: Any = synchronized {
      if (result == null) {
        result = scala.util.Try(build())
        build = null // the inputs it captured are not kept alive
      }
      result.get
    }
    /** The built value, without waiting for a build in progress. */
    def built: Option[Any] = Option(result).flatMap(_.toOption)
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Slot]
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]

  /** Scale-adaptive scan fan-out for heavy row-local compute over an
    * effectively unsplittable input (guide §2.5: "one huge unsplittable
    * file … repartition immediately after the read"). The driver
    * fixtures are single-row-group parquet files, so EVERY scan stage —
    * and any expensive projection fused into it — runs as ONE task
    * regardless of core count; a corpus-scale table scans with
    * thousands of partitions and must NOT pay an extra exchange. The
    * gate is therefore the measured layout, not a constant: fan out to
    * the session's parallelism only when the scan yields fewer than
    * half that many partitions. Round-robin repartition is
    * deterministic (sort-before-repartition is on by default,
    * SPARK-23207); precondition on the CALLER: every downstream
    * consumer must be row-local/order-independent or end in a total
    * order (fn_math, the one call site, sorts on all 11 columns), so
    * results are unchanged at any fan-out.
    */
  def fanOutSmallScan(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  /** The value memoized under (s, sfDir, name), built by `build` on the
    * first call.
    */
  def memo[T](s: SparkSession, sfDir: String, name: String)(build: => T): T = {
    val key = (s, sfDir, name)
    val slot = entries.computeIfAbsent(key, _ => new Slot(() => build))
    try slot.get.asInstanceOf[T]
    catch { case e: Throwable => entries.remove(key, slot); throw e }
  }

  /** Keep a per-call persist until [[clear]]; returns it unchanged. */
  def track(df: DataFrame): DataFrame = { tracked.add(df); df }

  def once(key: String, df: DataFrame): DataFrame = synchronized {
    forget(null, "", key)
    memo(null, "", key) {
      if (df.sparkSession.sparkContext.isLocal) cut(df, None)
      else df.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Session config key selecting how a round scope materializes its
    * rounds: unset (default) uses `localCheckpoint` — blocks in executor
    * storage, fastest, correct whenever the job can simply be rerun on
    * executor loss; set to a directory path it uses reliable
    * `checkpoint()` into that path, which survives executor loss
    * mid-loop — the shape a long pagerank, CC or BPE run on a real
    * cluster wants, since a truncated lineage cannot recompute lost local
    * blocks. Config, not an API parameter, so deployments flip it without
    * touching call sites. Pair with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (or periodic
    * dir cleanup) on long-lived sessions: each round writes a new rdd-N
    * subdir. [[once]] keeps its own master-gated choice.
    */
  val CheckpointDirKey = "spark.graft.cc.checkpointDir"

  /** True when `current` (the SparkContext's checkpoint dir, which
    * setCheckpointDir stored as `<root>/<uuid>` in SCHEME-QUALIFIED form,
    * e.g. `file:/tmp/x/<uuid>`) already lives DIRECTLY under the
    * configured `root`. Both sides are qualified through Hadoop Path
    * resolution before comparing — a raw string compare never matches
    * the scheme-qualified stored form (so every round would re-point and
    * re-UUID), and a bare `startsWith` has no separator boundary (root
    * `/a/ckpt` would wrongly claim `/a/ckpt-old/<uuid>`). Parent
    * EQUALITY, not prefix: setCheckpointDir appends exactly one UUID
    * level, so the current dir's parent must BE the root.
    */
  private[graft] def underConfiguredRoot(current: String, root: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Boolean =
    try {
      val rootPath = new Path(root)
      val fs = rootPath.getFileSystem(hadoopConf)
      fs.makeQualified(new Path(current)).getParent == fs.makeQualified(rootPath)
    } catch {
      // unresolvable path/filesystem: claim no match so the caller
      // re-points — setCheckpointDir then surfaces the real error
      case scala.util.control.NonFatal(_) => false
    }

  /** Test seam: runs on the builder thread after each [[cut]] has
    * materialized and once as each [[rounds]] scope exits. A throw fails
    * the build there, and the scope frees what it holds. A no-op outside
    * tests.
    */
  @volatile private[graft] var onStep: () => Unit = () => ()

  /** Materialize `df` and CUT its lineage: a reliable checkpoint under
    * `dir`, else a local one. It is marked lazily, then materialized by
    * the job an eager checkpoint runs, with the frame in hand: a failed
    * job (cancelled group, lost executor) must not strand the round's
    * partly stored blocks, which nothing else could reach to release.
    * The SparkContext checkpoint dir is process-global (setCheckpointDir
    * appends a UUID subdir), so it is re-pointed only when it does not
    * already live under `dir` (via [[underConfiguredRoot]]'s qualified
    * compare) — honoring a mid-session config change to a new root
    * without resetting (and re-UUID-ing) on every round.
    */
  private def cut(df: DataFrame, dir: Option[String]): DataFrame = {
    val round = dir match {
      case Some(root) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.exists(
            underConfiguredRoot(_, root, sc.hadoopConfiguration)))
          sc.setCheckpointDir(root)
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }
    try { org.apache.spark.sql.graft.Checkpoints.materialize(round); onStep(); round }
    catch { case e: Throwable => free(round); throw e }
  }

  /** What one [[rounds]] scope holds: its rounds, and the persists
    * handed to it.
    */
  final class Rounds private[Materialize] () {
    private val held = mutable.LinkedHashMap.empty[Int, DataFrame]
    private val persists = mutable.ArrayBuffer.empty[DataFrame]

    /** Materialize a round and cut its lineage, per [[CheckpointDirKey]].
      * The cut is eager: a loop frees the previous round right after,
      * which is only sound once the new one is fully materialized.
      */
    def hold(df: DataFrame): DataFrame = {
      val round = cut(df,
        df.sparkSession.conf.getOption(CheckpointDirKey).filter(_.nonEmpty))
      rdds(round).foreach(rdd => held(rdd.id) = round)
      round
    }

    /** Persist `df` (MEMORY_AND_DISK) until the scope exits. */
    def persist(df: DataFrame): DataFrame = {
      persists += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** Free the held rounds `df` reads: call it once every consumer of
      * them has materialized.
      */
    def release(df: Dataset[_]): Unit =
      rdds(df).flatMap(rdd => held.remove(rdd.id)).foreach(free)

    private[Materialize] def close(read: Set[Int]): Unit = {
      persists.foreach(_.unpersist(false))
      held.foreach { case (id, round) => if (read(id)) track(round) else free(round) }
    }
  }

  /** Run one iterative loop's rounds (or a build's cached inputs). On any
    * throw it frees every frame the scope holds, then rethrows: nothing
    * outside the loop can reach them. On exit it frees the held rounds the result does not read (a
    * tuple's DataFrames included) and hands those it reads to [[track]],
    * so [[clear]] frees them once the result is consumed.
    */
  def rounds[T](body: Rounds => T): T = {
    val r = new Rounds
    val out =
      try { val v = body(r); onStep(); v }
      catch { case e: Throwable => r.close(Set.empty); throw e }
    r.close(frames(out).flatMap(rdds).map(_.id).toSet)
    out
  }

  /** Drop the entry (s, sfDir, name) and free what it holds. */
  def forget(s: SparkSession, sfDir: String, name: String): Unit =
    Option(entries.remove((s, sfDir, name))).foreach(release)

  /** Free every memo value, tracked frame and [[once]] slot. */
  def clear(): Unit = synchronized {
    entries.forEach((key, slot) => if (entries.remove(key, slot)) release(slot))
    Iterator.continually(tracked.poll()).takeWhile(_ != null).foreach(free)
  }

  private def release(slot: Slot): Unit = slot.built.foreach(frames(_).foreach(free))

  /** The frame a value is, or the frames inside a tuple value. */
  private def frames(v: Any): Iterator[Dataset[_]] = v match {
    case ds: Dataset[_] => Iterator(ds)
    case p: Product => p.productIterator.collect { case ds: Dataset[_] => ds }
    case _ => Iterator.empty
  }

  /** The RDDs of the checkpoints a frame's plan reads. */
  private def rdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Release a persisted or checkpointed frame: the persist path
    * unregisters through the Dataset (CacheManager) route; a checkpoint
    * needs its LogicalRDD's RDD unpersisted directly —
    * `Dataset.unpersist` is a no-op on checkpoint blocks (RDD-level
    * persists the CacheManager never registered). Only call once every
    * consumer of the frame has been materialized: a truncated-lineage
    * RDD cannot be recomputed after unpersisting. Under reliable
    * checkpointing the LogicalRDD's RDD holds no persisted blocks (the
    * round lives in checkpoint FILES), so that unpersist is a no-op.
    */
  private def free(df: Dataset[_]): Unit = {
    df.unpersist(false)
    rdds(df).foreach(_.unpersist(false))
  }
}
