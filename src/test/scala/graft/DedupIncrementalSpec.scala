package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-corpus soundness + composition laws for the incremental
  * entry point `Dedup.dedupAgainst` — the spec its scaladoc promises.
  *
  * Fate of each planted NEW doc is hand-derived from the dominance
  * rule (dropped iff an LSH-candidate match at est-Jaccard >= 0.5
  * exists in the corpus or among smaller-id new docs), and the two
  * composition laws are checked against `dominance-dedup` expressed
  * through the SAME production code: dedupAgainst with an EMPTY
  * corpus is, by definition of the rule, the within-corpus dominance
  * dedup — so both sides of each law run the shipped operator, never
  * a spec re-implementation. All texts are fixed strings; assertions
  * are deterministic run to run.
  */
class DedupIncrementalSpec extends SparkSpec {

  // 40 distinct lowercase words per seed; tokenizers split on [^a-z]+,
  // so distinct seeds give disjoint shingle sets (Jaccard 0).
  private def words(seed: String): Seq[String] =
    (0 until 40).map(i => s"$seed${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  private def docs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).cast("long").as("n_chars"))
  }

  // corpus A: five mutually unrelated docs (internally dup-free)
  private lazy val corpusA = docs(Seq(
    1L -> words("aa").mkString(" "),
    2L -> words("bb").mkString(" "),
    3L -> words("cc").mkString(" "),
    4L -> words("dd").mkString(" "),
    5L -> words("ee").mkString(" ")))

  // new batch B: every dominance case planted once
  private lazy val batchB = docs(Seq(
    11L -> words("aa").mkString(" "),                       // exact copy of corpus 1  -> drop
    12L -> words("cc").updated(20, "changed").mkString(" "), // near-dup of corpus 3    -> drop
    13L -> words("ff").mkString(" "),                       // genuinely new           -> keep
    14L -> words("gg").mkString(" "),                       // genuinely new           -> keep
    15L -> words("gg").mkString(" "),                       // copy of EARLIER new 14  -> drop
    // word 13 replaced: perturbs 5 of the 16 minhashes (probed, then
    // pinned — a substitution that leaves all 16 minima untouched, like
    // index 7, would make this an exact SIGNATURE match and break the
    // threshold=1.0 case below)
    16L -> words("ff").updated(13, "tweaked").mkString(" ")) // near-dup of earlier 13  -> drop
  )

  private def keptIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** dominance-dedup(X) via the production operator: an empty corpus
    * leaves only the among-smaller-id-new-docs clause active, which IS
    * the dominance rule over X alone.
    */
  private def dominanceDedup(x: DataFrame): DataFrame =
    operators.Dedup.dedupAgainst(
      operators.Dedup.signatures(x.limit(0)).select("doc_id", "sig"), x)

  test("planted batch: corpus dups and within-batch dominated docs drop, " +
      "genuinely new docs survive, all columns intact") {
    val corpusSigs = operators.Dedup.signatures(corpusA).select("doc_id", "sig")
    val kept = operators.Dedup.dedupAgainst(corpusSigs, batchB)
    assert(keptIds(kept) == Set(13L, 14L),
      s"hand-derived fate: 11 exact-dup of 1, 12 near-dup of 3, 15 copy of 14, " +
        s"16 near-dup of 13 must drop; got ${keptIds(kept)}")
    // kept rows are the ORIGINAL newDocs rows, not a projection
    assert(kept.columns.toSeq == batchB.columns.toSeq)
    val row13 = kept.filter(col("doc_id") === 13L).collect().head
    assert(row13.getAs[String]("text") == words("ff").mkString(" "))
    assert(row13.getAs[Long]("n_chars") == words("ff").mkString(" ").length.toLong)
  }

  test("empty corpus degenerates to within-batch dominance dedup") {
    // 11 has no corpus to collide with anymore -> kept; 12 likewise;
    // 15 and 16 still dominated by earlier new docs 14 and 13
    assert(keptIds(dominanceDedup(batchB)) == Set(11L, 12L, 13L, 14L))
  }

  test("law: dedupAgainst(signatures(A), B) == dominance-dedup(A ∪ B) ∩ B") {
    val corpusSigs = operators.Dedup.signatures(corpusA).select("doc_id", "sig")
    val incremental = keptIds(operators.Dedup.dedupAgainst(corpusSigs, batchB))
    val fromScratch = keptIds(dominanceDedup(corpusA.unionByName(batchB)))
    val newIds = keptIds(batchB.select("doc_id"))
    assert(incremental == (fromScratch intersect newIds),
      s"incremental $incremental vs from-scratch-∩-B ${fromScratch intersect newIds}")
  }

  test("law: with A internally dup-free, incremental ∪ A equals the " +
      "full-corpus dominance dedup") {
    // A is dup-free by construction (five disjoint word sets), so the
    // from-scratch run keeps all of A and the two laws compose exactly
    val corpusSigs = operators.Dedup.signatures(corpusA).select("doc_id", "sig")
    assert(keptIds(dominanceDedup(corpusA)) == Set(1L, 2L, 3L, 4L, 5L),
      "precondition: A must be internally dup-free")
    val incremental = keptIds(operators.Dedup.dedupAgainst(corpusSigs, batchB))
    val fromScratch = keptIds(dominanceDedup(corpusA.unionByName(batchB)))
    assert((incremental union Set(1L, 2L, 3L, 4L, 5L)) == fromScratch)
  }

  test("registry query dedup_incremental == dedupAgainst on the parity " +
      "split, i.e. slicing the shared signature table is semantics-" +
      "preserving") {
    val d = "/root/testdata/sf0.001"
    val viaRegistry = SparkEntry.queries("dedup_incremental")(spark, d)
    val docs = Tables.documents(spark, d)
    val direct = operators.Dedup.dedupAgainst(
        operators.Dedup.signatures(docs.filter(col("doc_id") % 2 === 0))
          .select("doc_id", "sig"),
        docs.filter(col("doc_id") % 2 === 1))
      .select("doc_id", "lang", "n_chars")
    assert(viaRegistry.count() > 0, "parity split must keep some odd docs")
    assert(viaRegistry.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaRegistry).isEmpty,
      "registry query and direct dedupAgainst must agree row-for-row")
  }

  test("word-base incremental is BLIND to CJK near-dups; the routed " +
      "char base catches exactly the planted dominance fates") {
    import spark.implicits._
    val cjk = operators.Dedup.CJK_INCR_DOCS.toDF("doc_id", "text")
    val corpus = cjk.filter(col("doc_id") % 2 === 0)
    val batch = cjk.filter(col("doc_id") % 2 =!= 0)
    // blindness: each CJK doc is ONE \p{L} run, so the word-shingle
    // base sees a near-dup differing in one character as sharing
    // nothing — the word-base dominance pass keeps EVERY batch doc
    val keptWord = keptIds(operators.Dedup.dedupAgainst(
      operators.Dedup.signatures(corpus).select("doc_id", "sig"), batch))
    assert(keptWord == Set(-61L, -59L, -57L, -55L),
      s"word base must keep all (blindness pin); got $keptWord")
    // catch: the routed char base (the dedup_incremental_chars contract
    // query over the same plants) drops -61 (near-dup of corpus -62)
    // and -57 (near-dup of earlier batch doc -59), keeps the originals
    val keptChar = keptIds(SparkEntry.queries("dedup_incremental_chars")(
      spark, sfDir).filter(col("doc_id") < 0))
    assert(keptChar == Set(-59L, -55L),
      s"char base must drop -61 (corpus arm) and -57 (earlier arm); " +
        s"got $keptChar")
  }

  test("threshold is honored: at threshold 1.0 only exact signature " +
      "matches drop") {
    val corpusSigs = operators.Dedup.signatures(corpusA).select("doc_id", "sig")
    val kept = keptIds(
      operators.Dedup.dedupAgainst(corpusSigs, batchB, threshold = 1.0))
    // near-dups 12 and 16 share < K minhashes with their partners, so
    // only the exact copies (11 of corpus 1, 15 of earlier 14) drop
    assert(kept == Set(12L, 13L, 14L, 16L))
  }
}
