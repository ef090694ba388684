package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic connected components over an undirected edge list —
  * min-label propagation accelerated with pointer jumping, as a driver
  * loop of join + min-aggregate rounds.
  *
  * Scale shape: each round shuffles only (id, label) pairs, never
  * payloads; the iteration runs over edge PARTICIPANTS only (isolated
  * nodes re-enter at the end as their own component), so cost tracks the
  * edge set, not the node set. Plain neighbor propagation converges in
  * O(component diameter) rounds; the pointer-jumping step
  * (lbl ← lbl(lbl), i.e. path halving over the label forest) drops that
  * to O(log diameter) — the same asymptotics as the
  * large-star/small-star recurrence (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") with one fewer shuffle per
  * round. Convergence is a monotone label-sum fixpoint check — one small
  * aggregate per round, no self-join diff.
  */
object ConnectedComponents {

  /** Non-convergence within maxIters is an ERROR, never a silent partial
    * result: labels that stopped short of the fixpoint look exactly like
    * converged ones downstream (round-3 advice flagged the silent
    * truncation).
    */
  final class NotConverged(iters: Int)
    extends IllegalStateException(
      s"connected components did not converge after $iters rounds " +
        "(pointer jumping makes this ~2^iters of diameter — raise maxIters)")

  /** One row per node of `nodes(id)`: (id, component) where component is
    * the smallest node id reachable via `edges(src, dst)` (undirected;
    * symmetrized internally).
    */
  def labels(nodes: DataFrame, edges: DataFrame, maxIters: Int = 25): DataFrame =
    labelsWithRounds(nodes, edges, maxIters)._1

  /** [[labels]] plus the number of propagation rounds the fixpoint took —
    * the observable behind the O(log diameter) pointer-jumping claim.
    * CcDepthSpec pins it on deep path graphs (the worst diameter per
    * node), replacing "shallow clusters converge in 2-3 rounds" with a
    * measured depth curve; the count includes the fixpoint-confirming
    * round(s), so it can read up to 2 above the last label change (the
    * gap-2 sum check).
    */
  def labelsWithRounds(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 25): (DataFrame, Int) = {
    // The fixpoint check sums labels as DECIMAL(38,0); a non-numeric id
    // type would cast to NULL, coalesce to 0, and declare convergence
    // after one round — wrong labels with no signal. Enforce the numeric
    // contract instead of silently mis-converging.
    val idType = nodes.schema("id").dataType
    require(Seq("byte", "short", "integer", "long", "decimal")
        .exists(idType.typeName.startsWith),
      s"ConnectedComponents.labels needs integral node ids, got $idType " +
        "(hash or dictionary-encode other key types first)")
    // Constraint propagation OFF for the whole loop: each round is
    // checkpointed so inferred constraints buy nothing, and the
    // pointer-jump projection (coalesce over both join sides) would
    // otherwise record constraints on non-output attributes in the
    // checkpoint's LogicalRDD — the next round's union crashes rewriting
    // them (NoSuchElementException in UnionBase.rewriteConstraints).
    graft.Tuning.withoutConstraintPropagation(nodes.sparkSession) {
    // A failed round (a cancelled job group, a lost executor) or
    // NotConverged leaves the builder through the scope, which frees
    // every round it holds with `sym`.
    graft.Materialize.rounds { rounds =>
      val sym = rounds.persist(edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
      // Each round references the previous labels multiple times (join +
      // union + self-join), so without lineage truncation the logical plan
      // grows geometrically — exponential analysis/planning cost long
      // before any data is big (observed: minutes of Catalyst time by
      // round ~10 on a 30-node graph). hold materializes the round and
      // CUTS the plan — localCheckpoint by default, reliable checkpoint()
      // when Materialize.CheckpointDirKey is set (cluster deployments).
      var lbls = rounds.hold(sym.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
      // coalesce(…, 0): with an empty edge set the sum aggregates zero rows
      // and returns null — the fixpoint compare would NPE on graphs where
      // no pair survived upstream filtering (legitimate at other corpora).
      def lblSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
            lit(0).cast("decimal(38,0)")))
          .head().getDecimal(0)
      var prevSum = lblSum(lbls)
      var converged = false
      var iters = 0
      while (!converged && iters < maxIters) {
        val prop = sym.join(lbls, sym("src") === lbls("id"))
          .select(col("dst").as("id"), col("lbl"))
        // checkpointed so the pointer-jump self-join reads materialized
        // blocks instead of executing the aggregation subtree twice
        val mins = rounds.hold(
          lbls.union(prop).groupBy("id").agg(min("lbl").as("lbl")))
        // pointer jumping: follow the label's own label. Every label value
        // IS a participant id (labels start as ids and only min-combine),
        // so the lookup is a self-join on the same (id, lbl) table; the
        // left+coalesce guards the invariant rather than assuming it.
        val next = rounds.hold(mins.as("m")
          .join(mins.select(col("id").as("p_id"), col("lbl").as("p_lbl")),
            col("m.lbl") === col("p_id"), "left")
          .select(col("m.id").as("id"),
            coalesce(col("p_lbl"), col("m.lbl")).as("lbl")))
        iters += 1
        // Fixpoint check every 2nd round: per-node labels are monotone
        // non-increasing, so sum(r) == sum(r-2) forces sum(r-1) — and
        // every individual label — unchanged through both rounds: the
        // same fixpoint, half the driver round-trips (each lblSum is a
        // blocking 1-row action serialized between rounds; the eager
        // checkpoint above is the only other per-round action). Near the
        // budget edge check EVERY round (>= maxIters - 1, not just the
        // last): a lone gap-2 check at an even maxIters compares r to r-2
        // and reads "converged exactly at round maxIters-1" as a sum
        // change — a false NotConverged on a graph that did converge.
        if (iters % 2 == 0 || iters >= maxIters - 1) {
          val nextSum = lblSum(next)
          converged = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
        }
        // next is checkpointed EAGERLY above, so the previous round's and
        // the intermediate min table's blocks are no longer reachable
        rounds.release(lbls)
        rounds.release(mins)
        lbls = next
      }
      if (!converged) throw new NotConverged(maxIters)
      val out = nodes.select("id")
        .join(lbls, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
      (out, iters)
    }
    }
  }
}
