package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked pairs: the one near-dup pair join of the engine — the
  * reference's map → shuffle → reduce dataflow with band codes as the
  * key. Every pair-producing operator (the minhash, char-gram and
  * simhash pairs, the incremental dedup arms, the embedding near-dup
  * pairs) builds a band-code frame — one row per (id, band, code),
  * carrying the columns its verify reads — and hands it here.
  *
  * The shape, for every caller:
  *  - ONE equi-join on the blocking keys, the verify predicate in the
  *    join condition: each candidate is verified inside the join
  *    operator as it streams, so only survivors ever leave it. The
  *    candidate set — bands·occupancy² per bucket — is never shuffled,
  *    sorted or spilled; its cost is verify CPU, which scales out with
  *    cores. The distinct-candidates-first alternative shuffles
  *    O(candidates) rows: it filled 80 GB of spill at the 200k-vector
  *    rehearsal decade.
  *  - Project the output, then `dropDuplicates` on the pair key ALONE:
  *    a pair sharing several bands survives once per shared band, and
  *    keying on the pair (not the full row) makes one row per pair hold
  *    by construction. The carried score is well-defined because the
  *    same expression on the same operands yields the same value on
  *    every surviving copy.
  *  - No aggregate below the join.
  *  - One join strategy: the right side is hinted `shuffle_hash`. The
  *    band table is corpus-sized, so fixture-scale stats would broadcast
  *    one side — measured 3× slower for the embedding pairs even at
  *    sf0.1 (the per-probe build-list walk beats nothing), and the wrong
  *    shape at any real corpus; the hash join also skips the sort a
  *    sort-merge join would pay.
  *
  * The carry rule: the band rows carry only FIXED-WIDTH verify operands
  * — the minhash `sig` (16 × 8 chars), the simhash chunks (4 longs), an
  * embedding and its norm — because every carried byte is replicated
  * once per band and shuffled. Doc-sized operands stay out: exact
  * shingle Jaccard carried its shingle arrays inline and ran about 2×
  * slower at sf0.1 (SCALE.md), so it calls the core with no verify and
  * refines the distinct candidates by joining the arrays back.
  *
  * In the join condition and the output columns, `a.` names the left
  * (or, self form, the smaller-id) side and `b.` the right side.
  */
private[graft] object Blocking {

  /** Self form: every pair of rows of `codes` that agree on all `keys`,
    * with `a.id < b.id`, passing `verify`. Output: the pair key
    * (`pair._1` = a's id, `pair._2` = b's id), then `out`.
    */
  def pairs(codes: DataFrame, keys: Seq[String], id: String,
      pair: (String, String), verify: Column = lit(true),
      out: Seq[Column] = Nil): DataFrame =
    join(codes, codes, keys, id, pair,
      col(s"a.$id") < col(s"b.$id") && verify, out)

  /** Two-sided form: every (left, right) row pair that agrees on all
    * `keys` and passes `verify`, with no order between the ids. The
    * right side is the hash-join build side.
    */
  def across(left: DataFrame, right: DataFrame, keys: Seq[String],
      id: String, pair: (String, String), verify: Column,
      out: Seq[Column] = Nil): DataFrame =
    join(left, right, keys, id, pair, verify, out)

  private def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      id: String, pair: (String, String), cond: Column,
      out: Seq[Column]): DataFrame =
    left.as("a").join(right.as("b").hint("shuffle_hash"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && cond)
      .select(col(s"a.$id").as(pair._1) +: col(s"b.$id").as(pair._2) +: out: _*)
      .dropDuplicates(pair._1, pair._2)
}
