package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structural invariants of the ScaleUp derivation — what the sf1
  * rehearsal's conclusions rest on. If any of these silently broke,
  * the rehearsal would still "pass" (both engines read the same wrong
  * data) while measuring a different workload than claimed:
  *  - FK integrity per copy: join cardinalities scale exactly ×factor;
  *  - dimension tables stay fixed; every fact table scales ×factor;
  *  - documents: zero cross-copy text overlap, but the WITHIN-copy
  *    duplicate structure (the thing dedup operators measure) is
  *    byte-preserved per copy, and n_chars stays consistent;
  *  - embeddings: the per-copy sign flip is an isometry — every
  *    within-copy cosine is BIT-identical to the original corpus —
  *    while cross-copy twins decorrelate.
  */
class ScaleUpSpec extends SparkSpec {

  private val in = "/root/testdata/sf0.001"
  private val S = 10000000L

  test("2x derivation preserves per-copy structure and scales joins exactly") {
    val root = TestScratch.dir("graft_scaleup_").toFile
    val out = root.toString
    try {
      ScaleUp.run(spark, in, out, factor = 2)
      def t(d: String, n: String): DataFrame = spark.read.parquet(s"$d/$n.parquet")

      // dimensions fixed, facts doubled
      assert(t(out, "region").count() == t(in, "region").count())
      assert(t(out, "nation").count() == t(in, "nation").count())
      for (n <- Seq("customer", "orders", "lineitem", "events", "documents", "embeddings"))
        assert(t(out, n).count() == 2 * t(in, n).count(), n)

      // FK joins land within a copy: cardinality scales exactly 2x
      val joinIn = t(in, "orders").join(t(in, "customer"),
        col("o_custkey") === col("c_custkey")).count()
      val joinOut = t(out, "orders").join(t(out, "customer"),
        col("o_custkey") === col("c_custkey")).count()
      assert(joinOut == 2 * joinIn, "orders~customer join must scale exactly")

      // documents: disjoint vocabularies across copies, identical
      // within-copy duplicate multiset, n_chars == length(text)
      val docs = t(out, "documents")
      assert(docs.filter(col("n_chars") =!= length(col("text"))).count() == 0)
      val dupMultiset = (d: DataFrame) => d.groupBy("text").count()
        .groupBy("count").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val base = dupMultiset(t(in, "documents"))
      assert(dupMultiset(docs.filter(col("doc_id") < S)) == base,
        "copy 0 must keep the original duplicate structure")
      assert(dupMultiset(docs.filter(col("doc_id") >= S)) == base,
        "copy 1 must replicate the duplicate structure on its own vocabulary")
      assert(docs.select(countDistinct("text")).head().getLong(0) ==
        2 * t(in, "documents").select(countDistinct("text")).head().getLong(0),
        "copies must share no text")

      // embeddings: within-copy cosine is bit-identical under the flip
      import org.apache.spark.sql.graft.VectorColumns.vecDot
      def pairSims(d: DataFrame, shift: Long): Map[(Long, Long), Double] = {
        val e = d.filter(col("vec_id") >= shift && col("vec_id") < shift + 20)
          .select((col("vec_id") - shift).as("id"), col("embedding"))
        e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id"), col("b.id"),
            vecDot(col("a.embedding"), col("b.embedding")).as("dot"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }
      val orig = pairSims(t(in, "embeddings"), 0L)
      assert(pairSims(t(out, "embeddings"), 0L) == orig, "copy 0 verbatim")
      assert(pairSims(t(out, "embeddings"), S) == orig,
        "sign flip must be a within-copy isometry (s_j^2 = 1)")
      // cross-copy twins decorrelate: |cos| well below the 0.3 pair floor
      val e0 = t(out, "embeddings").filter(col("vec_id") < 20)
        .select(col("vec_id").as("id"), col("embedding").as("ea"))
      val e1 = t(out, "embeddings")
        .filter(col("vec_id") >= S && col("vec_id") < S + 20)
        .select((col("vec_id") - S).as("id"), col("embedding").as("eb"))
      val stats = e0.join(e1, "id")
        .select(abs(vecDot(col("ea"), col("eb"))
          / sqrt(vecDot(col("ea"), col("ea")))
          / sqrt(vecDot(col("eb"), col("eb")))).as("c"))
        .agg(max("c").as("mx"), avg("c").as("mean")).head()
      // a twin's cosine is (unflipped - flipped) mass / total — a
      // near-zero-mean residual, NOT the ~1.0 that would square pair
      // counts; individual twins can graze the 0.3 pair floor (observed
      // max 0.31 on this fixture), which adds O(n) borderline pairs,
      // not O(n^2)
      assert(stats.getDouble(0) < 0.5 && stats.getDouble(1) < 0.15,
        f"cross-copy twins must decorrelate: max=${stats.getDouble(0)}%.3f " +
          f"mean=${stats.getDouble(1)}%.3f")
    } finally Fs.rmTree(root)
  }

  test("factor past 676 switches to uniform three-letter tags and the " +
      "tables filter derives only the asked-for tables") {
    val root = TestScratch.dir("graft_scaleup3_").toFile
    val out = root.toString
    try {
      // 677 copies forces the 3-letter regime; documents only — the
      // third-decade probe's exact shape (it never reads lineitem)
      ScaleUp.run(spark, in, out, factor = 677,
        tables = Some(Set("documents")))
      assert(Option(root.listFiles).toSeq.flatten.map(_.getName).sorted ==
        Seq("documents.parquet"), "only the filtered table is written")
      val docs = spark.read.parquet(s"$out/documents.parquet")
      val base = spark.read.parquet(s"$in/documents.parquet")
      assert(docs.count() == 677 * base.count())
      // uniform 3-letter tag: every copy-c>0 word gains exactly 3 chars,
      // so n_chars grows by 3 x word count of the base doc — and copies
      // at both ends of the range get DISTINCT tags (copy 1 -> aaa,
      // copy 676 -> azz, i.e. no wraparound collision)
      val words = base.select(col("doc_id"),
        size(split(col("text"), " ")).as("w"), col("n_chars").as("nc0"))
      val copy1 = docs.filter(col("doc_id") >= S && col("doc_id") < 2 * S)
        .select((col("doc_id") - S).as("doc_id"), col("n_chars").as("nc1"))
      val off = copy1.join(words, "doc_id")
        .filter(col("nc1") =!= col("nc0") + lit(3) * col("w")).count()
      assert(off == 0, "copy 1 must append exactly 3 letters per word")
      val c676 = docs.filter(col("doc_id") >= 676 * S)
        .select("text").limit(1).collect().head.getString(0)
      val c1 = docs.filter(col("doc_id") >= S && col("doc_id") < 2 * S)
        .select("text").limit(1).collect().head.getString(0)
      assert(c1.split(" ").head.endsWith("aaa"), s"copy 1 tag: $c1")
      assert(c676.split(" ").head.endsWith("azz"), s"copy 676 tag: $c676")
    } finally Fs.rmTree(root)
  }
}
