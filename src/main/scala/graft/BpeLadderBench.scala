package graft

import org.apache.spark.sql.functions._

/** Merge-ladder scaling of the BPE trainer — the ROUND-COUNT dimension
  * (SCALE.md): corpus-size scaling was already handled (the corpus is
  * scanned once to build word frequencies; every round iterates over
  * the VOCABULARY only), but a real tokenizer runs 32k merges, not the
  * contract query's 10, and each merge round is one checkpointed
  * vocab rewrite plus a 1-row argmax — a fixed per-round driver/job
  * cost that no data-parallelism amortizes. This main measures that
  * cost directly: run [[operators.TextAnalysis.bpeRounds]] — the ONE
  * train path, which since round 13 sinks each round's argmax winner
  * eagerly and releases every round's checkpoint blocks — at each
  * ladder point, force the FINAL vocabulary, and report wall per round
  * so SCALE.md can state what a 32k-merge training run would pay.
  *
  * The r12 artifact carried a second "retain" arm (the then-train-path
  * shape that kept every round's checkpoint blocks alive) and measured
  * its per-round constant growing 3× by round 1000; that shape no
  * longer exists in the code — the eager sink made the train path
  * release-mode by construction — so the ladder now has one arm and
  * its job is to witness the per-round constant staying FLAT.
  *
  * Usage: runMain graft.BpeLadderBench [sfDir] [m1,m2,...]
  * Prints one JSON line: per-point merges, wall, sec/round, vocab
  * rows, and total symbols of the final vocab (a fixed-point witness:
  * once the vocab is fully merged, extra rounds pass through
  * unchanged and the measurement isolates pure round overhead —
  * exactly the constant that binds at 32k merges).
  */
object BpeLadderBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ladder: Seq[Int] =
      if (args.length > 1) args(1).split(",").toSeq.map(_.trim.toInt)
      else Seq(10, 100, 1000)
    Session.run(Session.cpus) { spark =>
      // locale-safe JSON numbers: the f interpolator is locale-sensitive
      // (a comma decimal separator under e.g. de_DE voids the artifact
      // line); stderr progress keeps f-interp, the JSON goes through this
      def rn(v: Double, scale: Int): String =
        BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
      val points = ladder.map { m =>
        val t0 = System.nanoTime()
        val vocab = operators.TextAnalysis.bpeRounds(spark, sfDir, m)._2
        val Array(row) = vocab
          .agg(count(lit(1)).as("n_words"),
            sum(size(split(col("seq"), " ")).cast("long")).as("n_symbols"))
          .collect()
        val secs = (System.nanoTime() - t0) / 1e9
        // the O(1)-retention witness at THIS merge count (Round13Spec pins
        // it at 5/25 merges; the ladder re-proves it wherever it runs,
        // incl. the 32k production point): after m rounds only the final
        // round's checkpoint survives — a census that grew with m would
        // be the r12 defect back
        val census = spark.sparkContext.getPersistentRDDs.size
        // release this ladder point's checkpoint blocks before the next
        // (the train path frees all but the final round itself; the
        // store frees the final round with the memoized triple, so a
        // triple whose checkpoint is gone is never handed out for
        // recompute). `release`, not `releaseAll`: the session stays up
        // for the next point.
        Cleanup.release(spark)
        System.err.println(f"[bpe-ladder] merges=$m wall=$secs%.1fs " +
          f"per-round=${secs / m}%.3fs vocab=${row.getLong(0)} " +
          f"symbols=${row.getLong(1)} census=$census")
        (m, secs, row.getLong(0), row.getLong(1), census)
      }
      val json = points.map { case (m, secs, nw, ns, census) =>
        s"""{"merges":$m,"wall_sec":${rn(secs, 2)},""" +
          s""""sec_per_round":${rn(secs / m, 4)},""" +
          s""""vocab_rows":$nw,"final_symbols":$ns,""" +
          s""""persisted_rdds_after":$census}"""
      }.mkString("[", ",", "]")
      s"""{"metric":"bpe_merge_ladder","sf_dir":"$sfDir","points":$json}"""
    }
  }
}
